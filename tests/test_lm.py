"""NgramPerplexityScorer vs an exact DuckDB mirror of the add-k bigram
model (fit + score on the real documents corpus), plus behavioral checks.
Registry sits at the driver's 50-row cap, so the differential bar lives
here (same compare as the driver)."""

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_ORACLE, assert_df_matches_sql

NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


def _oracle(add_k: float, min_count: int) -> str:
    return f"""
WITH w AS (SELECT doc_id, string_split({NORM}, ' ') AS ws FROM documents),
grams AS (
  SELECT doc_id, ws[i.i] AS w1, ws[i.i + 1] AS w2
  FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) i
),
big AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM grams GROUP BY 1, 2 HAVING COUNT(*) >= {min_count}
),
ctx AS (SELECT w1, COUNT(*) AS c1 FROM grams GROUP BY 1),
vocab AS (
  SELECT COUNT(DISTINCT wrd) + 1 AS v
  FROM (SELECT unnest(ws) AS wrd FROM w) u WHERE wrd != ''
),
lp AS (
  SELECT g.doc_id,
         ln((COALESCE(b.c12, 0) + {add_k}) / (COALESCE(c.c1, 0) + {add_k} * vocab.v)) AS l
  FROM grams g
  LEFT JOIN big b ON g.w1 = b.w1 AND g.w2 = b.w2
  LEFT JOIN ctx c ON g.w1 = c.w1
  CROSS JOIN vocab
),
per_doc AS (
  SELECT doc_id, ROUND(AVG(l), 6) AS doc_logprob, ROUND(EXP(-AVG(l)), 6) AS perplexity
  FROM lp GROUP BY doc_id
)
SELECT d.doc_id, p.doc_logprob, p.perplexity
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
ORDER BY d.doc_id
"""


@pytest.mark.parametrize("add_k,min_count", [(0.1, 1), (0.5, 2)])
def test_perplexity_matches_oracle(spark, add_k, min_count):
    """Self-fit on the 500-doc corpus, score the same corpus: every
    doc_logprob/perplexity matches the DuckDB formulation (incl. the
    min_count-pruned model, whose context counts stay uncut)."""
    from mega_data_factory_spark.operators.lm import NgramPerplexityScorer
    from mega_data_factory_spark.session import load_tables

    docs = load_tables(spark, SF_DIR_ORACLE, ("documents",))["documents"]
    s = NgramPerplexityScorer(add_k=add_k, min_count=min_count).fit(docs)
    out = s.apply(docs).select("doc_id", "doc_logprob", "perplexity").orderBy("doc_id")
    assert_df_matches_sql(out, _oracle(add_k, min_count), name="ngram_perplexity")


def test_in_domain_scores_better_than_gibberish(spark):
    """The point of the filter: text resembling the training corpus must
    get lower perplexity than shuffled-vocabulary gibberish."""
    from mega_data_factory_spark.operators.lm import NgramPerplexityScorer
    from mega_data_factory_spark.session import load_tables

    docs = load_tables(spark, SF_DIR_ORACLE, ("documents",))["documents"]
    s = NgramPerplexityScorer().fit(docs)
    sample = docs.select("text").first()["text"]
    words = sample.split()
    gibberish = " ".join(reversed(words))
    probe = spark.createDataFrame(
        [(1, sample), (2, gibberish), (3, "one-token"), (4, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.perplexity for r in s.apply(probe).collect()}
    assert got[1] < got[2], got
    assert got[3] is None and got[4] is None  # <2 tokens -> no score


def test_unfitted_and_bad_params_raise(spark):
    from mega_data_factory_spark.operators.lm import NgramPerplexityScorer

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="fit"):
        NgramPerplexityScorer().apply(df)
    with pytest.raises(ValueError, match="add_k"):
        NgramPerplexityScorer(add_k=0.0)
    with pytest.raises(ValueError, match="min_count"):
        NgramPerplexityScorer(min_count=0)


def test_perplexity_buckets_match_oracle(spark):
    """Per-group head/middle/tail thresholds mirrored value-for-value by
    DuckDB quantile_cont (same p*(n-1) linear interpolation on identical
    doubles) over the real documents corpus, grouped by language."""
    from tests.conftest import assert_df_matches_sql
    from mega_data_factory_spark.operators.lm import PerplexityBucketRefiner
    from mega_data_factory_spark.session import load_tables

    docs = load_tables(spark, SF_DIR_ORACLE, ("documents",))["documents"].select(
        "doc_id", "lang", "n_chars"
    )
    # planted NULL-group rows: NULL lang forms its OWN group and gets real
    # buckets (the documented sentinel rule), mirrored via COALESCE grouping
    planted = spark.createDataFrame(
        [(90001, None, 10), (90002, None, 20), (90003, None, 30)],
        "doc_id long, lang string, n_chars long",
    )
    r = PerplexityBucketRefiner(score_col="n_chars", group_col="lang")
    out = r.apply(docs.unionByName(planted)).select("doc_id", "ppl_bucket").orderBy("doc_id")
    sql = """
WITH t AS (
  SELECT doc_id, COALESCE(lang, chr(0)) AS g, CAST(n_chars AS DOUBLE) AS s FROM documents
  UNION ALL SELECT * FROM (VALUES (90001, chr(0), 10.0), (90002, chr(0), 20.0), (90003, chr(0), 30.0))
),
q AS (SELECT g, quantile_cont(s, 1.0/3.0) AS c1, quantile_cont(s, 2.0/3.0) AS c2
      FROM t WHERE s IS NOT NULL GROUP BY g)
SELECT doc_id,
  CASE WHEN s IS NULL THEN NULL
       WHEN s <= c1 THEN 'head' WHEN s <= c2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
FROM t LEFT JOIN q USING (g) ORDER BY doc_id
"""
    assert_df_matches_sql(out, sql, name="perplexity_buckets")


def test_perplexity_buckets_behavior(spark):
    """Ungrouped thirds split ~N/3; NULL scores get NULL buckets; custom
    cuts/labels; all-NULL corpus keeps every row with NULL bucket; bad
    params raise; approx mode agrees on a well-separated corpus."""
    from mega_data_factory_spark.operators.lm import PerplexityBucketRefiner

    rows = [(i, float(i)) for i in range(90)] + [(900, None), (901, None)]
    df = spark.createDataFrame(rows, "doc_id long, perplexity double")
    out = PerplexityBucketRefiner().apply(df)
    counts = {r["ppl_bucket"]: r["n"] for r in out.groupBy("ppl_bucket").count().withColumnRenamed("count", "n").collect()}
    assert counts["head"] == 30 and counts["middle"] == 30 and counts["tail"] == 30
    assert counts.get(None) == 2
    # well-separated scores: the sketch picks the same thresholds
    approx = PerplexityBucketRefiner(approx=True).apply(df)
    diff = out.withColumnRenamed("ppl_bucket", "a").join(
        approx.withColumnRenamed("ppl_bucket", "b"), on="doc_id"
    ).filter("a IS DISTINCT FROM b").count()
    assert diff == 0

    empty = spark.createDataFrame([(1, None), (2, None)], "doc_id long, perplexity double")
    kept = PerplexityBucketRefiner().apply(empty).collect()
    assert len(kept) == 2 and all(r.ppl_bucket is None for r in kept)

    two = PerplexityBucketRefiner(cuts=(0.5,), labels=("keep", "drop"), out_col="cut")
    got = {r.doc_id: r.cut for r in two.apply(spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)], "doc_id long, perplexity double")).collect()}
    assert got == {1: "keep", 2: "keep", 3: "drop", 4: "drop"}

    with pytest.raises(ValueError, match="labels"):
        PerplexityBucketRefiner(cuts=(0.5,), labels=("a", "b", "c"))
    with pytest.raises(ValueError, match="cuts"):
        PerplexityBucketRefiner(cuts=(0.9, 0.1))


def test_perplexity_buckets_pipeline_voting(spark):
    """Pipeline semantics: dead rows neither vote on thresholds nor get a
    bucket. Planted: 6 alive scores 1..6 (median cut at 3.5) plus two dead
    outliers that would drag the cut to 35 if they voted."""
    from mega_data_factory_spark.operators.base import REJECTION_DETAILS_COL, rejection_details_sql
    from mega_data_factory_spark.operators.lm import PerplexityBucketRefiner

    alive = [(i, float(i)) for i in range(1, 7)]
    df = spark.createDataFrame(alive + [(98, 100.0), (99, 101.0)], "doc_id long, perplexity double")
    tagged = df.withColumn(
        REJECTION_DETAILS_COL,
        F.when(F.col("doc_id") >= 98, F.expr(rejection_details_sql("filtered", "SomeCut"))).otherwise(
            F.lit(None).cast("struct<reason:string,operator:string,dedup_key:string,representative_id:string>")
        ),
    )
    r = PerplexityBucketRefiner(cuts=(0.5,), labels=("good", "bad"), out_col="cut")
    got = {x.doc_id: x.cut for x in r.apply(tagged).collect()}
    assert got == {1: "good", 2: "good", 3: "good", 4: "bad", 5: "bad", 6: "bad", 98: None, 99: None}


def test_perplexity_scorer_persistence_roundtrip(spark, tmp_path):
    """fit -> save -> load-by-model_path yields IDENTICAL scores (the
    train-once/apply-later contract); stored add_k/min_count are adopted
    on load; unfitted + pathless apply still raises; the registry builds
    the scorer from params (the YAML path)."""
    from mega_data_factory_spark.operators.lm import NgramPerplexityScorer
    from mega_data_factory_spark.registry import OPERATORS
    from mega_data_factory_spark.session import load_tables

    docs = load_tables(spark, SF_DIR_ORACLE, ("documents",))["documents"]
    probe = docs.limit(50)
    fitted = NgramPerplexityScorer(add_k=0.5, min_count=2).fit(docs)
    want = {r.doc_id: (r.doc_logprob, r.perplexity) for r in fitted.apply(probe).collect()}
    path = str(tmp_path / "ppl_model")
    fitted.save(path)

    loaded = OPERATORS.create("NgramPerplexityScorer", {"model_path": path})
    got = {r.doc_id: (r.doc_logprob, r.perplexity) for r in loaded.apply(probe).collect()}
    assert got == want
    assert loaded.add_k == 0.5 and loaded.min_count == 2  # adopted from meta

    with pytest.raises(ValueError, match="fit"):
        NgramPerplexityScorer().apply(probe)
    with pytest.raises(ValueError, match="before save"):
        NgramPerplexityScorer().save(str(tmp_path / "nope"))


def test_scorer_release_paths(spark, tmp_path):
    """Loaded model frames are evictable: the context manager / close()
    release the persisted bigrams/contexts (long-lived sessions construct
    scorers repeatedly — each load pins a vocabulary-sized pair), a later
    apply transparently re-loads, and Pipeline.close() releases any
    operator exposing unpersist()."""
    from mega_data_factory_spark.operators.lm import NgramPerplexityScorer
    from mega_data_factory_spark.plans.pipeline import Pipeline
    from mega_data_factory_spark.session import load_tables

    docs = load_tables(spark, SF_DIR_ORACLE, ("documents",))["documents"]
    path = str(tmp_path / "ppl_model")
    NgramPerplexityScorer(min_count=2).fit(docs).save(path)

    probe = docs.limit(5)
    with NgramPerplexityScorer(model_path=path) as s:
        s.apply(probe).collect()
        assert s._bigrams is not None and s._bigrams.storageLevel.useMemory
        cached = s._bigrams
    assert s._bigrams is None and not cached.storageLevel.useMemory  # released on exit
    # close() alias + transparent re-load after eviction
    s.apply(probe).collect()
    assert s._bigrams is not None
    s.close()
    assert s._bigrams is None

    # Pipeline.close() reaches operator-held model caches
    cfg_scorer = NgramPerplexityScorer(model_path=path)
    pipe = Pipeline.__new__(Pipeline)
    pipe._mid_cached = []
    pipe._ops = [("score", cfg_scorer)]
    cfg_scorer.apply(probe).collect()
    assert cfg_scorer._bigrams is not None
    pipe.close()
    assert cfg_scorer._bigrams is None


def test_ccnet_recipe_composes_through_pipeline(spark, tmp_path):
    """The full CCNet shape from CONFIG: persisted scorer (model_path) ->
    head/middle/tail buckets -> perplexity cut, one tagged plan; funnel
    balances and survivors carry score + bucket columns."""
    from mega_data_factory_spark.config import PipelineConfig, SinkConfig
    from mega_data_factory_spark.operators.lm import NgramPerplexityScorer
    from mega_data_factory_spark.plans.pipeline import Pipeline
    from mega_data_factory_spark.session import load_tables
    from tests.conftest import SF_DIR_ORACLE as _SF

    docs = load_tables(spark, _SF, ("documents",))["documents"]
    mpath = str(tmp_path / "ppl_model")
    NgramPerplexityScorer().fit(docs).save(mpath)

    cfg = PipelineConfig.from_dict(
        {
            "pipeline": {
                "name": "ccnet_style",
                "id_col": "doc_id",
                "source": {"format": "parquet", "path": f"{_SF}/documents.parquet"},
                "stages": [
                    {
                        "name": "lm_quality",
                        "operators": [
                            {"name": "NgramPerplexityScorer", "params": {"model_path": mpath}},
                            {"name": "PerplexityBucketRefiner"},
                            # CCNet trains on head+middle; the tail cut here
                            # is the numeric form (bucket thresholds are the
                            # 2/3 quantile by construction)
                            {"name": "NumericRangeFilter",
                             "params": {"column": "doc_logprob", "lo": -9.0, "name": "PerplexityTailCut"}},
                        ],
                    }
                ],
            }
        }
    )
    cfg.sink = SinkConfig(path=str(tmp_path / "out"), mode="overwrite")
    result = Pipeline(cfg).run(spark)
    rejected = sum(m.input_records - m.output_records for m in result.operators)
    assert result.output_records + rejected == result.input_records == 500
    passed = spark.read.parquet(str(tmp_path / "out"))
    assert {"perplexity", "doc_logprob", "ppl_bucket"} <= set(passed.columns)
    buckets = {r.ppl_bucket for r in passed.select("ppl_bucket").distinct().collect()}
    assert buckets <= {"head", "middle", "tail"} and "head" in buckets
    assert passed.filter("doc_logprob < -9.0").count() == 0

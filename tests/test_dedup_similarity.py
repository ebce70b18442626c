"""Oracle-differential tests for near-dedup + similarity queries, plus
structural checks on the planted-duplicate detection."""

import pytest

from tests.conftest import SF_DIR_ORACLE, assert_query_matches_oracle

NAMES = [
    "minhash_lsh_dedup",
    "ngram_jaccard_dedup",
    "shared_span_dedup",
    "decontamination",
    "semantic_decontamination",
    "simhash_near_dedup",
    "embedding_cosine_dedup",
    "topk_cosine",
]


def test_simhash_dedup_keeps_oracle_bar(spark):
    """simhash_dedup is consolidated out of the driver window (the
    signature arithmetic stays driver-anchored via simhash_near_dedup)
    but keeps its full value-for-value differential bar here."""
    from tests.conftest import SF_DIR_ORACLE, assert_df_matches_sql
    from mega_data_factory_spark.plans.dedup_queries import SIMHASH_ORACLE, simhash_dedup

    assert_df_matches_sql(simhash_dedup(spark, SF_DIR_ORACLE), SIMHASH_ORACLE, name="simhash_dedup")


def test_embedding_norms_keeps_oracle_bar(spark):
    """embedding_norms is consolidated out of the driver window (its
    vector folds are hash-verified via topk_cosine / embedding_cosine
    dedup) but keeps the differential bar here."""
    from tests.conftest import SF_DIR_ORACLE, assert_df_matches_sql
    from mega_data_factory_spark.plans.similarity_queries import NORMS_ORACLE, embedding_norms

    assert_df_matches_sql(embedding_norms(spark, SF_DIR_ORACLE), NORMS_ORACLE, name="embedding_norms")


@pytest.mark.parametrize("name", NAMES)
def test_matches_oracle(spark, name):
    assert_query_matches_oracle(spark, name)


def test_planted_duplicates_are_detected(spark):
    """The exact-in-disguise variants (+20000) must all be caught by
    minhash (identical shingle sets) and simhash (identical signature);
    the scaled vectors (+10000) must all be caught by cosine dedup."""
    from mega_data_factory_spark.plans.dedup_queries import (
        embedding_cosine_dedup,
        minhash_lsh_dedup,
        simhash_dedup,
    )

    mh = {r.doc_id for r in minhash_lsh_dedup(spark, SF_DIR_ORACLE).collect() if r.side == "kept"}
    assert not any(i >= 20000 for i in mh), "exact variants must be deduped by minhash"

    sh = {r.doc_id for r in simhash_dedup(spark, SF_DIR_ORACLE).collect()}
    assert not any(i >= 20000 for i in sh), "exact variants must be deduped by simhash"

    cos = {r.vec_id for r in embedding_cosine_dedup(spark, SF_DIR_ORACLE).collect()}
    assert not any(i >= 10000 for i in cos), "scaled vectors must be deduped by cosine"


def test_near_duplicates_mostly_detected(spark):
    """Truncated near-dups (+10000, Jaccard ~0.8) should be largely caught
    by the Jaccard dedup at threshold 0.6 (short docs legitimately escape)."""
    from mega_data_factory_spark.plans.dedup_queries import ngram_jaccard_dedup

    surv = {r.doc_id for r in ngram_jaccard_dedup(spark, SF_DIR_ORACLE).collect() if r.side == "kept"}
    planted = [i for i in surv if 10000 <= i < 20000]
    assert len(planted) < 25, f"most of the 50 planted near-dups should be caught, {len(planted)} escaped"


def test_multiprobe_lsh_improves_recall(spark):
    """Multi-probe LSH: probing 1-bit-flipped buckets recovers neighbors a
    single bucket misses; recall vs brute-force is monotone in nprobe."""
    from pyspark.sql import functions as F

    from mega_data_factory_spark.operators.similarity import BruteForceKNN, RandomProjectionLSH
    from mega_data_factory_spark.session import load_tables

    t = load_tables(spark, SF_DIR_ORACLE, ("embeddings",))
    emb = t["embeddings"]
    query = emb.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("qv"))
    corpus = emb.filter(F.col("vec_id") != 7)

    truth = {r.vec_id for r in BruteForceKNN(k=10).topk(corpus, query).collect()}
    lsh = RandomProjectionLSH(k=10)
    recalls = []
    for nprobe in (1, 4, 8):
        got = {r.vec_id for r in lsh.topk(corpus, query, nprobe=nprobe).collect()}
        recalls.append(len(got & truth) / len(truth))
    assert recalls == sorted(recalls), recalls  # monotone non-decreasing
    assert recalls[-1] >= recalls[0]
    # probing more buckets must return at least as many candidates
    n1 = lsh.topk(corpus, query, nprobe=1).count()
    n8 = lsh.topk(corpus, query, nprobe=8).count()
    assert n8 >= n1


def test_simhash_near_banding_matches_allpairs(spark):
    """Banded candidate generation (pigeonhole: k+1 segments) + exact
    verification must equal brute-force all-pairs hamming<=k dedup."""
    from pyspark.sql import functions as F

    from mega_data_factory_spark.operators.dedup import SimHashNearDeduplicator, simhash64_sql
    from mega_data_factory_spark.session import load_tables

    t = load_tables(spark, SF_DIR_ORACLE, ("documents",))
    docs = t["documents"].select("doc_id", "text").limit(200)
    k = 8
    d = SimHashNearDeduplicator(k, id_col="doc_id")
    got = {r.doc_id for r in d.apply(docs).select("doc_id").collect()}

    sims = {r.doc_id: r.s for r in docs.selectExpr("doc_id", f"{simhash64_sql('`text`')} AS s").collect()}
    expect = set()
    for i, si in sims.items():
        if not any(j < i and bin(si ^ sj).count("1") <= k for j, sj in sims.items()):
            expect.add(i)
    assert got == expect
    # rejected side: every rejected doc's representative is an earlier doc within distance k
    rej = d.rejected(docs).select(
        "doc_id", F.col("_rejection_details.representative_id").cast("long").alias("rep")
    ).collect()
    assert {r.doc_id for r in rej} == set(sims) - expect
    for r in rej:
        assert r.rep < r.doc_id and bin(sims[r.doc_id] ^ sims[r.rep]).count("1") <= k


def test_simhash_near_zero_hamming_equals_exact(spark):
    """max_hamming=0 must reproduce the exact SimHashDeduplicator survivor set."""
    from mega_data_factory_spark.operators.dedup import SimHashDeduplicator, SimHashNearDeduplicator
    from mega_data_factory_spark.plans.dedup_queries import _doc_corpus

    corpus = _doc_corpus(spark, SF_DIR_ORACLE)
    exact = {r.doc_id for r in SimHashDeduplicator(id_col="doc_id").apply(corpus).select("doc_id").collect()}
    banded = {r.doc_id for r in SimHashNearDeduplicator(0, id_col="doc_id").apply(corpus).select("doc_id").collect()}
    assert banded == exact


def test_ngram_df_cap_drops_universal_shingle(spark):
    """A shingle present in EVERY doc must not create quadratic candidates
    when the DF cap is set; true near-dups (sharing rare shingles) still
    caught, docs overlapping only on the boilerplate shingle survive."""
    from mega_data_factory_spark.operators.dedup import NgramJaccardDeduplicator

    boiler = "all rights reserved by the site"  # 2x 3-shingles shared by all
    rows = []
    for i in range(60):
        body = f"unique text number {i} with words alpha{i} beta{i} gamma{i} delta{i}"
        rows.append((i, f"{body} {boiler}"))
    # one true near-dup pair: doc 100 copies doc 0's body
    rows.append((100, f"unique text number 0 with words alpha0 beta0 gamma0 delta0 {boiler}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # threshold 0.45: five shingles are universal (DF 61) and capped, so the
    # true pair's Jaccard ESTIMATE is 9/19 ~ 0.474 (full Jaccard 1.0)
    capped = NgramJaccardDeduplicator(0.45, id_col="doc_id", max_doc_freq=10)
    surv = {r.doc_id for r in capped.apply(df).select("doc_id").collect()}
    assert 100 not in surv, "true near-dup must still be rejected (rare shingles shared)"
    assert surv == set(range(60)), "docs sharing only the boilerplate shingle must survive"

    # and the candidate join is provably pruned: the capped plan generates
    # candidates only for the one real pair, not the 61*60/2 boilerplate pairs
    pairs = capped._dup_pairs(df).collect()
    assert len(pairs) == 1 and pairs[0]["__rep"] == 0


def _cosine_corpus(spark, n_base=40, copies=8, dim=64, seed=7):
    """n_base well-separated random unit vectors (pairwise cosine far below
    threshold), each repeated `copies` times under increasing ids — exact
    copies share sign-LSH buckets by construction, so the bucketed path
    must reproduce the exact survivor set."""
    import numpy as np

    rng = np.random.RandomState(seed)
    base = rng.randn(n_base, dim)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    cos = base @ base.T
    np.fill_diagonal(cos, 0)
    assert np.abs(cos).max() < 0.7, "corpus precondition: distinct bases must be well below threshold"
    rows = [
        (int(c * n_base + b), [float(x) for x in base[b]])
        for c in range(copies)
        for b in range(n_base)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), n_base


def test_embedding_cosine_auto_buckets_past_cap(spark):
    """Past max_broadcast_rows the operator must route through the sign-LSH
    bucketed applyInPandas path (not raise) and, on a corpus where near-dups
    are exact copies, produce the identical survivor set and representative
    mapping as the exact broadcast path."""
    from pyspark.sql import functions as F

    from mega_data_factory_spark.operators.dedup import EmbeddingCosineDeduplicator

    df, n_base = _cosine_corpus(spark)

    exact = EmbeddingCosineDeduplicator(0.95, max_broadcast_rows=1_000_000)
    bucketed = EmbeddingCosineDeduplicator(0.95, max_broadcast_rows=50, bucket_bits=4)

    exact_surv = {r.vec_id for r in exact.apply(df).select("vec_id").collect()}
    buck_surv = {r.vec_id for r in bucketed.apply(df).select("vec_id").collect()}
    assert exact_surv == set(range(n_base)), "first copy of each base vector survives"
    assert buck_surv == exact_surv

    # representative mapping identical too: every rejected row points at the
    # earliest copy of its own base vector
    rej = bucketed.rejected(df).select(
        "vec_id", F.col("_rejection_details.representative_id").cast("long").alias("rep")
    ).collect()
    assert {r.vec_id for r in rej} == {r for r in range(n_base, n_base * 8)}
    for r in rej:
        assert r.rep == r.vec_id % n_base


def test_embedding_cosine_auto_bucket_short_vectors(spark):
    """Vectors shorter than bits+stride must not hit INVALID_ARRAY_INDEX
    (ANSI) or silently collapse into one bucket (non-ANSI) when the
    auto-bucket fallback engages: bits/stride are clamped to the actual
    dim (ADVICE r5 medium). Exact copies still share a bucket, so the
    survivor set must match the exact path's."""
    import warnings as _warnings

    from mega_data_factory_spark.operators.dedup import EmbeddingCosineDeduplicator

    # dim=8 << default bits(8) + stride(32) = 40
    df, n_base = _cosine_corpus(spark, n_base=12, copies=6, dim=8, seed=17)
    d = EmbeddingCosineDeduplicator(0.95, max_broadcast_rows=20)
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        surv = {r.vec_id for r in d.apply(df).select("vec_id").collect()}
    assert surv == set(range(n_base))
    msgs = [str(x.message) for x in w]
    assert any("auto-routing" in m for m in msgs), "routing warning must fire"
    assert any("clamped sign-LSH" in m for m in msgs), "dim clamp warning must fire"

    # 1-dim vectors cannot be sign-bucketed at all -> clear error, not a
    # silent single bucket
    import pytest as _pytest

    one = spark.createDataFrame([(i, [float(i % 3 + 1)]) for i in range(30)], "vec_id long, embedding array<float>")
    d1 = EmbeddingCosineDeduplicator(0.95, max_broadcast_rows=10)
    with _pytest.raises(ValueError, match="sign-bucket"):
        d1.apply(one).collect()


def test_embedding_cosine_cap_raises_when_auto_bucket_off(spark):
    import pytest as _pytest

    from mega_data_factory_spark.operators.dedup import EmbeddingCosineDeduplicator

    df, _ = _cosine_corpus(spark, n_base=10, copies=3)
    d = EmbeddingCosineDeduplicator(0.95, max_broadcast_rows=5, auto_bucket=False)
    with _pytest.raises(ValueError, match="max_broadcast_rows"):
        d.apply(df).collect()


def test_shared_span_dedup_behavior(spark):
    """Exact substring (k-token span) dedup: a doc embedding a verbatim
    20-token span from an earlier doc is rejected with that doc as
    representative; a 19-token overlap survives."""
    from mega_data_factory_spark.operators.dedup import SharedSpanDeduplicator
    from pyspark.sql import functions as F

    span20 = " ".join(f"w{i}" for i in range(20))
    span19 = " ".join(f"w{i}" for i in range(19))
    rows = [
        (1, f"intro text before the span {span20} and some trailing words here"),
        (2, f"completely different framing yet contains {span20} inside other words"),
        (3, f"only nineteen shared tokens {span19} then diverges entirely afterwards xyz"),
        (4, "an unrelated document with enough words to clear the twenty token span threshold easily one two three four five six"),
        (5, "short doc"),  # under the span length: never a candidate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = SharedSpanDeduplicator(span_tokens=20, id_col="doc_id")
    surv = {r.doc_id for r in d.apply(df).select("doc_id").collect()}
    assert surv == {1, 3, 4, 5}
    rej = d.rejected(df).select(
        "doc_id", F.col("_rejection_details.representative_id").alias("rep")
    ).collect()
    assert len(rej) == 1 and rej[0].doc_id == 2 and rej[0].rep == "1"


def _assert_shared_span_matches_oracle(spark, k, max_df):
    """Rejected docs AND their representatives over the real documents
    corpus vs an exact DuckDB mirror of the pairwise rule: a doc sharing a
    span with an earlier doc is rejected in favour of the smallest such id;
    ``max_df`` is the oracle's _span_ctes DF cut."""
    from pyspark.sql import functions as F

    from tests.conftest import assert_df_matches_sql
    from mega_data_factory_spark.operators.dedup import SharedSpanDeduplicator
    from mega_data_factory_spark.plans.dedup_queries import _span_ctes
    from mega_data_factory_spark.session import load_tables

    docs = load_tables(spark, SF_DIR_ORACLE, ("documents",))["documents"]
    d = SharedSpanDeduplicator(span_tokens=k, max_doc_freq=max_df, id_col="doc_id")
    rej = d.rejected(docs).select(
        "doc_id", F.col("_rejection_details.representative_id").alias("representative_id")
    )
    sql = f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
{_span_ctes(k, max_df).strip()},
pairs AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb
  FROM inv a JOIN inv b ON a.span = b.span AND a.doc_id < b.doc_id
)
SELECT idb AS doc_id, CAST(min(ida) AS VARCHAR) AS representative_id FROM pairs GROUP BY idb
"""
    assert_df_matches_sql(rej, sql, name=f"shared_span_dedup_k{k}")
    assert d.apply(docs).count() + rej.count() == docs.count()


def test_shared_span_dedup_matches_oracle(spark):
    """k=12 so natural overlaps exist; no DF cap."""
    _assert_shared_span_matches_oracle(spark, 12, None)


def test_shared_span_dedup_df_cap_matches_oracle(spark):
    """k=4 under a DF cap of 2: the cap drops 100 common spans and moves
    12 representatives, so the window's per-span count must match the
    oracle's span_df cut."""
    _assert_shared_span_matches_oracle(spark, 4, 2)


def test_span_index_built_once_per_side(spark):
    """Every document's shingle tree is evaluated once per side of a pair
    plan: explode/inline wrap the span expression itself, so Catalyst
    infers no non-empty filter over a projected array attribute and cannot
    push copies of the tree into one. Counted in the optimized plan as
    regexp_replace sites (each tree normalizes its text once); the
    first-wins window reads the span index once, the self-join and
    cross-corpus forms once per side."""
    from pyspark.sql import functions as F

    from mega_data_factory_spark.operators.dedup import (
        DecontaminationFilter,
        NgramJaccardDeduplicator,
        SharedSpanDeduplicator,
    )

    docs = spark.read.parquet(f"{SF_DIR_ORACLE}/documents.parquet").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") < 5).select("text")
    cases = {
        "span min_shared=1": (SharedSpanDeduplicator(span_tokens=12), 1),
        "span min_shared=1 df-cap": (SharedSpanDeduplicator(span_tokens=12, max_doc_freq=5), 1),
        "span min_shared=2": (SharedSpanDeduplicator(span_tokens=12, min_shared=2), 2),
        "decontamination": (DecontaminationFilter(bench, span_tokens=13), 2),
        "ngram jaccard": (NgramJaccardDeduplicator(0.6), 2),
    }
    for name, (d, sites) in cases.items():
        plan = d._dup_pairs(docs)._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("regexp_replace") == sites, name


def test_decontamination_matches_oracle(spark):
    """Cross-corpus 13-gram decontamination: training docs sharing a span
    with the benchmark corpus are dropped; the survivor set matches the SQL
    mirror exactly. Benchmark = truncations of 5 real docs (guaranteed
    verbatim span overlap); docs under span_tokens words are immune."""
    from tests.conftest import SF_DIR_ORACLE, assert_df_matches_sql
    from mega_data_factory_spark.operators.dedup import DecontaminationFilter

    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR_ORACLE}/documents.parquet").select("doc_id", "text")
    # benchmark: first 30 words of docs 0..4 — verbatim spans of the originals
    w = F.split(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " ")
    bench = docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(w, 1, 30), " ").alias("text"),
    )
    d = DecontaminationFilter(bench, span_tokens=13, id_col="doc_id")
    out = d.apply(docs).select("doc_id").orderBy("doc_id")

    norm = "lower(trim(regexp_replace({c}, '\\s+', ' ', 'g')))"
    n = 13

    def spans(src: str) -> str:
        return f"""
(SELECT doc_id, unnest(list_distinct(
   list_transform(range(1, len(ws) - {n - 2}), i -> array_to_string(ws[i:i+{n - 1}], ' ')))) AS s
 FROM (SELECT doc_id, string_split({norm.format(c='text')}, ' ') AS ws FROM {src})
 WHERE len(ws) >= {n})"""

    sql = f"""
WITH bench AS (
  SELECT doc_id, array_to_string((string_split({norm.format(c='text')}, ' '))[1:30], ' ') AS text
  FROM documents WHERE doc_id < 5
),
bspans AS (SELECT DISTINCT s FROM {spans('bench')} b),
tspans AS (SELECT doc_id, s FROM {spans('documents')} t),
hit AS (SELECT DISTINCT t.doc_id FROM tspans t JOIN bspans b ON t.s = b.s)
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM hit) ORDER BY doc_id
"""
    assert_df_matches_sql(out, sql, name="decontamination")
    surv = {r.doc_id for r in out.collect()}
    # the 5 source docs themselves contain the benchmark spans -> dropped
    # (unless shorter than 13 words, in which case they are span-free)
    dropped = set(range(5)) - surv
    assert dropped, "at least some benchmark-source docs must be flagged"
    # rejected side carries the shared-span count and 'contaminated' reason
    rej = {r.doc_id: (r["_rejection_details"]["reason"], int(r["_rejection_details"]["representative_id"]))
           for r in d.rejected(docs).collect()}
    for i in dropped:
        assert rej[i][0] == "contaminated" and rej[i][1] >= 1


def test_decontamination_in_pipeline(spark, tmp_path):
    """DecontaminationFilter as a YAML stage, benchmark passed by table
    name: contaminated rows land in the rejected sink tagged
    'contaminated'; clean rows pass."""
    from mega_data_factory_spark.config import PipelineConfig
    from mega_data_factory_spark.plans.pipeline import Pipeline

    span = "one two three four five six seven eight nine ten eleven twelve thirteen"
    rows = [
        (1, f"prefix words then the leaked span {span} and a suffix tail here"),
        (2, "a completely clean document with enough distinct words to stay afloat easily today"),
        (3, "short doc"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView("train_in")
    spark.createDataFrame([(100, span)], "bench_id long, text string").createOrReplaceTempView("bench_tbl")
    cfg = PipelineConfig.from_dict(
        {
            "pipeline": {
                "name": "decon",
                "id_col": "doc_id",
                "source": {"table": "train_in"},
                "stages": [
                    {"name": "scrub", "operators": [
                        {"name": "DecontaminationFilter",
                         "params": {"benchmark": "bench_tbl", "span_tokens": 13, "id_col": "doc_id"}}]},
                ],
                "sink": {"format": "parquet", "path": str(tmp_path / "out"), "mode": "overwrite"},
                "rejected_sink": {"format": "parquet", "path": str(tmp_path / "rej"), "mode": "overwrite"},
            }
        }
    )
    result = Pipeline(cfg).run(spark)
    assert result.input_records == 3
    kept = {r.doc_id for r in spark.read.parquet(f"{tmp_path}/out").collect()}
    assert kept == {2, 3}
    rej = spark.read.parquet(f"{tmp_path}/rej").collect()
    assert len(rej) == 1 and rej[0].doc_id == 1
    assert rej[0]["_rejection_details"]["reason"] == "contaminated"


def test_semantic_decontamination_matches_oracle(spark):
    """Embedding-space cross-corpus decontamination: every training vector
    whose best rounded cosine against the benchmark reaches the threshold
    is rejected with that benchmark item's id as representative (ties to
    the smallest id) — matched row-for-row against the DuckDB all-pairs
    formulation. Benchmark = every 10th embedding, so self-matches at
    cosine 1.0 are guaranteed and near-matches exercise the threshold."""
    from tests.conftest import SF_DIR_ORACLE, assert_df_matches_sql
    from mega_data_factory_spark.operators.dedup import SemanticDecontaminationFilter
    from mega_data_factory_spark.plans.dedup_queries import _cos_sql

    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR_ORACLE}/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("bench_id"), "embedding"
    )
    t = 0.45
    d = SemanticDecontaminationFilter(
        bench, threshold=t, vec_col="embedding", benchmark_id_col="bench_id", id_col="vec_id"
    )
    rejected = (
        d.rejected(emb)
        .select("vec_id", F.col("_rejection_details.representative_id").alias("representative_id"))
        .orderBy("vec_id")
    )
    cos = _cos_sql("e.embedding", "b.bv")
    sql = f"""
WITH bench AS (
  SELECT vec_id AS bid, embedding AS bv FROM embeddings WHERE vec_id % 10 = 0
),
pairs AS (
  SELECT e.vec_id, b.bid, round({cos}, 6) AS c
  FROM embeddings e CROSS JOIN bench b
  WHERE {cos} IS NOT NULL
),
best AS (
  SELECT vec_id, bid, c,
         row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, bid) AS rn
  FROM pairs
)
SELECT vec_id, CAST(bid AS VARCHAR) AS representative_id
FROM best WHERE rn = 1 AND c >= {t} ORDER BY vec_id
"""
    assert_df_matches_sql(rejected, sql, name="semantic_decontamination")
    # survivors are exactly the complement (apply/rejected partition the input)
    survivors = {r.vec_id for r in d.apply(emb).collect()}
    dropped = {r.vec_id for r in rejected.collect()}
    all_ids = {r.vec_id for r in emb.collect()}
    assert survivors | dropped == all_ids and not (survivors & dropped)


def test_semantic_decontamination_behavior(spark):
    """Paraphrase-shaped contract: exact and direction-preserving near
    copies of a benchmark vector are cut, orthogonal vectors survive;
    NULL/zero-norm training vectors always survive; no benchmark id col
    -> representative is the best cosine; empty benchmark -> no-op;
    oversized benchmark and bad thresholds fail loud."""
    import pytest as _pytest

    from mega_data_factory_spark.operators.dedup import SemanticDecontaminationFilter

    bench = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])], "bench_id long, embedding array<double>"
    )
    train = spark.createDataFrame(
        [
            (10, [0.9, 0.1, 0.0]),   # near benchmark 1
            (11, [0.0, 0.0, 1.0]),   # orthogonal to both
            (12, [0.0, 2.0, 0.0]),   # scaled copy of benchmark 2 (cos 1.0)
            (13, None),              # no embedding -> survives
            (14, [0.0, 0.0, 0.0]),   # zero norm -> survives
        ],
        "doc_id long, embedding array<double>",
    )
    d = SemanticDecontaminationFilter(bench, threshold=0.9, benchmark_id_col="bench_id")
    assert {r.doc_id for r in d.apply(train).collect()} == {11, 13, 14}
    reps = {
        r.doc_id: r["_rejection_details"]["representative_id"]
        for r in d.rejected(train).collect()
    }
    assert reps == {10: "1", 12: "2"}
    # no id column: representative carries the best cosine instead
    d2 = SemanticDecontaminationFilter(bench.select("embedding"), threshold=0.9)
    reps2 = {
        r.doc_id: r["_rejection_details"]["representative_id"]
        for r in d2.rejected(train).collect()
    }
    assert reps2 == {10: "0.993884", 12: "1.000000"}
    # empty benchmark -> nothing cut
    empty = bench.filter("bench_id < 0")
    assert SemanticDecontaminationFilter(empty, benchmark_id_col="bench_id").apply(train).count() == 5
    with _pytest.raises(ValueError, match="threshold"):
        SemanticDecontaminationFilter(bench, threshold=1.5)
    with _pytest.raises(ValueError, match="max_benchmark_rows"):
        SemanticDecontaminationFilter(bench, max_benchmark_rows=1).apply(train).count()


def test_semantic_decontamination_ignores_bad_benchmark_rows(spark):
    """A NaN benchmark embedding must not poison the argmax (Spark orders
    NaN above every number, so the norm filter alone passes it; numpy's
    argmax then prefers the NaN column for EVERY training row, silently
    disabling the filter). NULL benchmark ids likewise must not reach
    np.argsort. Both are dropped; clean benchmark rows still cut."""
    from mega_data_factory_spark.operators.dedup import SemanticDecontaminationFilter

    bench = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [float("nan"), 1.0, 0.0]),   # NaN row: dropped, not poisonous
            (3, [float("inf"), 0.0, 0.0]),   # inf row: dropped
            (None, [0.0, 1.0, 0.0]),         # NULL id: dropped (np.argsort)
        ],
        "bench_id long, embedding array<double>",
    )
    train = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0]),            # exact copy of benchmark 1 -> cut
            (11, [0.0, 1.0, 0.0]),            # matches only the NULL-id row -> survives
            (12, [0.0, 0.0, 1.0]),            # orthogonal -> survives
            (13, [float("nan"), 0.0, 0.0]),   # NaN training vector -> survives
        ],
        "doc_id long, embedding array<double>",
    )
    d = SemanticDecontaminationFilter(bench, threshold=0.9, benchmark_id_col="bench_id")
    assert {r.doc_id for r in d.apply(train).collect()} == {11, 12, 13}


def test_semantic_decontamination_in_pipeline(spark, tmp_path):
    """YAML stage with the benchmark passed by table name: contaminated
    rows land in the rejected sink tagged 'contaminated'."""
    from mega_data_factory_spark.config import PipelineConfig
    from mega_data_factory_spark.plans.pipeline import Pipeline

    spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None)],
        "doc_id long, embedding array<double>",
    ).createOrReplaceTempView("sem_train")
    spark.createDataFrame(
        [(100, [1.0, 0.05])], "bench_id long, embedding array<double>"
    ).createOrReplaceTempView("sem_bench")
    cfg = PipelineConfig.from_dict(
        {
            "pipeline": {
                "name": "sem_decon",
                "id_col": "doc_id",
                "source": {"table": "sem_train"},
                "stages": [
                    {"name": "scrub", "operators": [
                        {"name": "SemanticDecontaminationFilter",
                         "params": {"benchmark": "sem_bench", "threshold": 0.95,
                                    "benchmark_id_col": "bench_id", "id_col": "doc_id"}}]},
                ],
                "sink": {"format": "parquet", "path": str(tmp_path / "out"), "mode": "overwrite"},
                "rejected_sink": {"format": "parquet", "path": str(tmp_path / "rej"), "mode": "overwrite"},
            }
        }
    )
    Pipeline(cfg).run(spark)
    kept = {r.doc_id for r in spark.read.parquet(f"{tmp_path}/out").collect()}
    assert kept == {2, 3}
    rej = spark.read.parquet(f"{tmp_path}/rej").collect()
    assert len(rej) == 1 and rej[0].doc_id == 1
    assert rej[0]["_rejection_details"]["reason"] == "contaminated"

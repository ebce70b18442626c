"""Near-dedup family queries with DuckDB oracles.

The synthetic corpus has no natural near-duplicates (all 500 texts unique,
max pairwise embedding cosine ~0.51), so each query *plants* deterministic
duplicates in-query — built with the identical expressions on both engines:

  * ``+10000`` ids: first 50 docs with the last 7 words dropped (word-level
    Jaccard ~0.8 vs the original — a true near-duplicate);
  * ``+20000`` ids: first 30 docs upper-cased with doubled spaces (identical
    after normalization — an exact duplicate in disguise);
  * ``+10000`` vec ids: first 40 vectors scaled 2x (cosine exactly 1.0).

This makes every operator's detection behavior observable and
oracle-checkable rather than vacuously "no duplicates found".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mega_data_factory_spark.functions.text import normalize_text
from mega_data_factory_spark.operators.dedup import (
    EmbeddingCosineDeduplicator,
    MinHashLSHDeduplicator,
    NgramJaccardDeduplicator,
    SharedSpanDeduplicator,
    SimHashDeduplicator,
    SimHashNearDeduplicator,
)
from mega_data_factory_spark.session import load_tables

# ------------------------------------------------------------ corpus (Spark)


def _doc_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    base = docs.select("doc_id", "text")
    w = F.split(normalize_text("text"), " ")
    trunc = F.array_join(F.slice(w, 1, F.greatest(F.size(w) - F.lit(7), F.lit(3))), " ")
    near = docs.filter(F.col("doc_id") < 50).select((F.col("doc_id") + 10000).alias("doc_id"), trunc.alias("text"))
    exact = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.upper(F.replace(F.col("text"), F.lit(" "), F.lit("  "))).alias("text"),
    )
    corpus = base.unionByName(near).unionByName(exact)
    # The test file is a single parquet block -> 3 input splits, which
    # starves the CPU-heavy shingle/hash expressions. On a cluster, input
    # splits provide this parallelism; locally we spread explicitly.
    # HASH repartitioning (not round-robin): deterministic output, so when
    # a self-join references the corpus twice Spark can reuse the exchange
    # instead of recomputing the scan+union per branch.
    return corpus.repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))


def _vec_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"]
    base = emb.select("vec_id", "embedding")
    scaled = emb.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: (x.cast("double") * F.lit(2.0)).cast("float")).alias("embedding"),
    )
    # Same rationale as _doc_corpus: the embeddings file is 1-4 input
    # splits, which serializes the CPU-heavy interpreted vector expressions
    # (l2_normalize folds, ml-vector conversion) downstream consumers run —
    # measured 16.5s -> 5.9s on the k-means dedup at the 10x scale dir.
    # Hash partitioning keeps the exchange reusable across self-references.
    return base.unionByName(scaled).repartition(
        spark.sparkContext.defaultParallelism, F.col("vec_id")
    )


# -------------------------------------------------------------- SQL mirrors

NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

DOC_CORPUS_CTE = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000,
         array_to_string(
           (string_split({NORM_SQL}, ' '))[1:greatest(len(string_split({NORM_SQL}, ' ')) - 7, 3)], ' ')
  FROM documents WHERE doc_id < 50
  UNION ALL
  SELECT doc_id + 20000, upper(replace(text, ' ', '  ')) FROM documents WHERE doc_id < 30
)
"""

VEC_CORPUS_CTE = """
corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 2.0 AS FLOAT))
  FROM embeddings WHERE vec_id < 40
)
"""


def _h64(expr: str, seed: int | None = None) -> str:
    """SQL mirror of functions.hashing.hash64_from_md5."""
    s = expr if seed is None else f"{expr} || '#{seed}'"
    return f"('0x' || substr(md5({s}), 1, 15))::BIGINT"


def _shingle_ctes(n: int) -> str:
    """CTEs norm/w/sh: distinct word n-gram shingles per corpus doc —
    the SQL mirror of functions.text.word_shingles + array_distinct."""
    return f"""
norm AS (SELECT doc_id, {NORM_SQL} AS t FROM corpus),
w AS (SELECT doc_id, t, string_split(t, ' ') AS ws FROM norm),
sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(ws) >= {n}
      THEN list_transform(range(1, len(ws) - {n - 2}), i -> array_to_string(ws[i:i+{n - 1}], ' '))
      ELSE [t] END) AS s
  FROM w
)
"""


NUM_HASHES, BANDS, ROWS_PER_BAND = 16, 4, 4


def _minhash_ctes() -> str:
    from mega_data_factory_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    sig_elems = ", ".join(
        f"list_min(list_transform(hs, h -> ({MINHASH_A[i]} * (h % {MINHASH_P}) + {MINHASH_B[i]}) % {MINHASH_P}))"
        for i in range(NUM_HASHES)
    )
    # band key = the 'b_m1,m2,..' signature string folded to a 60-bit long
    # via the shared md5 fold (round 11 — identical bucketing, ~4.5x
    # narrower shuffle on the Spark side; the mirror folds the same string)
    band_keys = ", ".join(
        _h64(
            f"('{b}_' || array_to_string(sig[{b * ROWS_PER_BAND + 1}:{(b + 1) * ROWS_PER_BAND}], ','))"
        )
        for b in range(BANDS)
    )
    return f"""
hashed AS (SELECT doc_id, list_transform(s, x -> {_h64('x')}) AS hs FROM sh),
sig AS (SELECT doc_id, [{sig_elems}] AS sig FROM hashed),
bands AS (SELECT doc_id, unnest([{band_keys}]) AS band_key FROM sig),
buckets AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY band_key) AS bmin FROM bands),
dups AS (SELECT doc_id, min(bmin) AS rep FROM buckets WHERE bmin < doc_id GROUP BY doc_id)
"""


# -------------------------------------------------------------------- queries


def _tag_sides(corpus: DataFrame, dup_pairs: DataFrame, id_col: str) -> DataFrame:
    """Kept + rejected sides in ONE plan: left-join the (id, __rep) dup
    pairs and tag — the dup-pairs subplan (scan/explode/self-join) executes
    once instead of once per side (the anti_join_once rationale)."""
    return corpus.join(dup_pairs, on=id_col, how="left").select(
        id_col,
        F.when(F.col("__rep").isNull(), F.lit("kept")).otherwise(F.lit("rejected")).alias("side"),
        F.col("__rep").cast("string").alias("representative_id"),
    )


def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dedup over the planted corpus: every doc tagged
    kept/rejected, duplicates carrying their representative (earliest
    colliding doc across any band bucket) — both pipeline sides in one
    plan/one driver row."""
    d = MinHashLSHDeduplicator(num_hashes=NUM_HASHES, bands=BANDS, id_col="doc_id")
    corpus = _doc_corpus(spark, sf_dir)
    return _tag_sides(corpus, d._band_pairs(corpus), "doc_id").orderBy("doc_id")


MINHASH_ORACLE = f"""
WITH {DOC_CORPUS_CTE.strip()},
{_shingle_ctes(3).strip()},
{_minhash_ctes().strip()}
SELECT c.doc_id,
       CASE WHEN d.doc_id IS NULL THEN 'kept' ELSE 'rejected' END AS side,
       CAST(d.rep AS VARCHAR) AS representative_id
FROM corpus c LEFT JOIN dups d ON c.doc_id = d.doc_id
ORDER BY c.doc_id
"""


def simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash dedup survivors with their simhash value (cross-engine
    validation of the 60-bit signature itself, not just the survivor set)."""
    d = SimHashDeduplicator(id_col="doc_id")
    corpus = _doc_corpus(spark, sf_dir)
    keyed = corpus.withColumn("simhash", F.expr(d.key_sql(corpus)))
    return d.apply(keyed).select("doc_id", "simhash").orderBy("doc_id")


SIMHASH_ORACLE = f"""
WITH {DOC_CORPUS_CTE.strip()},
{_shingle_ctes(2).strip()},
hashed AS (SELECT doc_id, list_transform(s, x -> {_h64('x')}) AS hs FROM sh),
counted AS (
  SELECT doc_id,
    list_transform(range(0, 60), i ->
      list_sum(list_transform(hs, h -> ((h >> i) & 1) * 2 - 1))) AS counts
  FROM hashed
),
sim AS (
  SELECT doc_id,
    CAST(CAST(list_sum(list_transform(range(0, 60),
      i -> CASE WHEN counts[i + 1] > 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS VARCHAR) AS simhash
  FROM counted
),
ranked AS (
  SELECT doc_id, simhash, row_number() OVER (PARTITION BY simhash ORDER BY doc_id) AS rn FROM sim
)
SELECT doc_id, simhash FROM ranked WHERE rn = 1 ORDER BY doc_id
"""

MAX_HAMMING = 6


def simhash_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dedup (hamming distance <= 6): candidates from
    7-band pigeonhole buckets, verified with exact bit_count(xor). The
    oracle computes the same survivor set all-pairs — banding is provably
    lossless for distance <= k, so the two formulations must agree."""
    d = SimHashNearDeduplicator(MAX_HAMMING, id_col="doc_id")
    corpus = _doc_corpus(spark, sf_dir)
    return _tag_sides(corpus, d._dup_pairs(corpus), "doc_id").orderBy("doc_id")


SIMHASH_NEAR_ORACLE = f"""
WITH {DOC_CORPUS_CTE.strip()},
{_shingle_ctes(2).strip()},
hashed AS (SELECT doc_id, list_transform(s, x -> {_h64('x')}) AS hs FROM sh),
counted AS (
  SELECT doc_id,
    list_transform(range(0, 60), i ->
      list_sum(list_transform(hs, h -> ((h >> i) & 1) * 2 - 1))) AS counts
  FROM hashed
),
sim AS (
  SELECT doc_id,
    CAST(list_sum(list_transform(range(0, 60),
      i -> CASE WHEN counts[i + 1] > 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS h
  FROM counted
),
dups AS (
  SELECT b.doc_id, min(a.doc_id) AS rep
  FROM sim a JOIN sim b ON a.doc_id < b.doc_id AND bit_count(xor(a.h, b.h)) <= {MAX_HAMMING}
  GROUP BY b.doc_id
)
SELECT c.doc_id,
       CASE WHEN d.doc_id IS NULL THEN 'kept' ELSE 'rejected' END AS side,
       CAST(d.rep AS VARCHAR) AS representative_id
FROM corpus c LEFT JOIN dups d ON c.doc_id = d.doc_id
ORDER BY c.doc_id
"""

JACCARD_THRESHOLD = 0.6
# The driver row runs the SCALE configuration: shingles whose document
# frequency exceeds this cap are cut before the inverted-index self-join
# (the 100 TB boilerplate defense, NgramJaccardDeduplicator.max_doc_freq) —
# and the DuckDB oracle mirrors the cut exactly, so the documented scale
# path is hash-verified, not trusted. At sf0.01 the cap drops the ~213
# shingles with DF 6-10 (max observed DF 10); |A|/|B| stay full-set sizes
# and the intersection over surviving shingles is the same lower bound on
# both engines. Exact (uncapped) mode stays covered by
# tests/test_dedup_similarity.py.
NGRAM_MAX_DF = 5


def ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified n-gram-Jaccard near-dedup (inverted-index set-similarity
    join, threshold 0.6, DF-capped shingles — the scale configuration):
    every doc tagged kept/rejected with its representative — both pipeline
    sides in one plan/one driver row."""
    d = NgramJaccardDeduplicator(JACCARD_THRESHOLD, id_col="doc_id", max_doc_freq=NGRAM_MAX_DF)
    corpus = _doc_corpus(spark, sf_dir)
    return _tag_sides(corpus, d._dup_pairs(corpus), "doc_id").orderBy("doc_id")


def _jaccard_ctes() -> str:
    return f"""
sized AS (SELECT doc_id, s, len(s) AS n FROM sh),
inv0 AS (SELECT doc_id, n, unnest(s) AS shingle FROM sized),
shingle_df AS (SELECT shingle, count(*) AS dfreq FROM inv0 GROUP BY 1),
inv AS (
  SELECT i.doc_id, i.n, i.shingle FROM inv0 i
  JOIN shingle_df d ON i.shingle = d.shingle
  WHERE d.dfreq <= {NGRAM_MAX_DF}
),
pairs AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, a.n AS na, b.n AS nb, count(*) AS inter
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
dups AS (
  SELECT idb AS doc_id, min(ida) AS rep FROM pairs
  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_THRESHOLD}
  GROUP BY idb
)
"""


JACCARD_ORACLE = f"""
WITH {DOC_CORPUS_CTE.strip()},
{_shingle_ctes(3).strip()},
{_jaccard_ctes().strip()}
SELECT c.doc_id,
       CASE WHEN d.doc_id IS NULL THEN 'kept' ELSE 'rejected' END AS side,
       CAST(d.rep AS VARCHAR) AS representative_id
FROM corpus c LEFT JOIN dups d ON c.doc_id = d.doc_id
ORDER BY c.doc_id
"""

SPAN_TOKENS, SPAN_MIN_SHARED, SPAN_MAX_DF = 20, 2, 5


def shared_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring/span dedup (Lee et al. 2022) over the planted corpus
    in its SCALE configuration (span-DF boilerplate cap, mirrored in the
    oracle): docs sharing >= 2 exact 20-word spans collapse to the earliest.

    The corpus plants both observable cases: ``+20000`` docs are exact
    normalized duplicates (share EVERY span of their original), and
    ``+10000`` docs (last 7 words dropped) are the PARTIAL-overlap case —
    every span of the truncated doc is verbatim in the original, but the
    docs are not equal. Docs under 20 words have no spans and must be kept.
    Both pipeline sides in one plan/one driver row."""
    d = SharedSpanDeduplicator(
        span_tokens=SPAN_TOKENS, min_shared=SPAN_MIN_SHARED, max_doc_freq=SPAN_MAX_DF, id_col="doc_id"
    )
    corpus = _doc_corpus(spark, sf_dir)
    return _tag_sides(corpus, d._dup_pairs(corpus), "doc_id").orderBy("doc_id")


def _span_ctes(n: int, max_df: int | None = SPAN_MAX_DF) -> str:
    """CTEs norm/w/sp/inv: distinct word n-gram SPANS per corpus doc — like
    _shingle_ctes but docs with fewer than n words are DROPPED (they have no
    n-token span; the whole-text fallback is a Jaccard-only convention) —
    plus the span-DF cut (``max_df``; None = no cut) before the self-join.
    The Spark side joins on xxhash64(span) (~1e-9 collision odds, accepted as in the Jaccard
    oracle); the oracle joins the strings."""
    return f"""
norm AS (SELECT doc_id, {NORM_SQL} AS t FROM corpus),
w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM norm),
sp AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(ws) - {n - 2}), i -> array_to_string(ws[i:i+{n - 1}], ' '))) AS s
  FROM w WHERE len(ws) >= {n}
),
inv0 AS (SELECT doc_id, unnest(s) AS span FROM sp),
span_df AS (SELECT span, count(*) AS dfreq FROM inv0 GROUP BY 1),
inv AS (
  SELECT i.doc_id, i.span FROM inv0 i
  JOIN span_df d ON i.span = d.span
  {"" if max_df is None else f"WHERE d.dfreq <= {max_df}"}
)
"""


SHARED_SPAN_ORACLE = f"""
WITH {DOC_CORPUS_CTE.strip()},
{_span_ctes(SPAN_TOKENS).strip()},
pairs AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS shared
  FROM inv a JOIN inv b ON a.span = b.span AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
dups AS (
  SELECT idb AS doc_id, min(ida) AS rep FROM pairs
  WHERE shared >= {SPAN_MIN_SHARED}
  GROUP BY idb
)
SELECT c.doc_id,
       CASE WHEN d.doc_id IS NULL THEN 'kept' ELSE 'rejected' END AS side,
       CAST(d.rep AS VARCHAR) AS representative_id
FROM corpus c LEFT JOIN dups d ON c.doc_id = d.doc_id
ORDER BY c.doc_id
"""

DECON_SPAN_TOKENS, DECON_MIN_SHARED, DECON_BENCH_MAX_ID = 13, 1, 40


def decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus eval-decontamination (GPT-3 appendix C: exact 13-gram
    overlap removal) over the planted corpus: the "benchmark" is the raw
    text of docs 0..39, the "training set" is the full planted corpus, so
    every observable case is exercised — originals 0..39 (share every
    span), their ``+10000`` truncations and ``+20000`` normalization
    variants (share spans without being byte-equal) are contaminated;
    docs 40+ and short docs (< 13 words, no spans) are kept.
    ``representative_id`` carries the shared-span COUNT, so the row
    validates the overlap counting, not just the verdict."""
    from mega_data_factory_spark.operators.dedup import DecontaminationFilter

    corpus = _doc_corpus(spark, sf_dir)
    t = load_tables(spark, sf_dir, ("documents",))
    bench = t["documents"].filter(F.col("doc_id") < DECON_BENCH_MAX_ID).select("text")
    d = DecontaminationFilter(
        bench, span_tokens=DECON_SPAN_TOKENS, min_shared=DECON_MIN_SHARED, id_col="doc_id"
    )
    return _tag_sides(corpus, d._dup_pairs(corpus), "doc_id").orderBy("doc_id")


def _decon_span_list(n: int) -> str:
    """Distinct word n-gram spans of one normalized text (DuckDB list)."""
    return f"list_distinct(list_transform(range(1, len(ws) - {n - 2}), i -> array_to_string(ws[i:i+{n - 1}], ' ')))"


DECONTAMINATION_ORACLE = f"""
WITH {DOC_CORPUS_CTE.strip()},
bnorm AS (SELECT {NORM_SQL} AS t FROM documents WHERE doc_id < {DECON_BENCH_MAX_ID}),
bw AS (SELECT string_split(t, ' ') AS ws FROM bnorm),
bspans AS (
  SELECT DISTINCT unnest({_decon_span_list(DECON_SPAN_TOKENS)}) AS span
  FROM bw WHERE len(ws) >= {DECON_SPAN_TOKENS}
),
norm AS (SELECT doc_id, {NORM_SQL} AS t FROM corpus),
w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM norm),
sp AS (
  SELECT doc_id, {_decon_span_list(DECON_SPAN_TOKENS)} AS s
  FROM w WHERE len(ws) >= {DECON_SPAN_TOKENS}
),
inv AS (SELECT doc_id, unnest(s) AS span FROM sp),
hits AS (
  SELECT doc_id, count(*) AS shared FROM inv JOIN bspans USING (span)
  GROUP BY doc_id HAVING count(*) >= {DECON_MIN_SHARED}
)
SELECT c.doc_id,
       CASE WHEN h.doc_id IS NULL THEN 'kept' ELSE 'rejected' END AS side,
       CAST(h.shared AS VARCHAR) AS representative_id
FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
ORDER BY c.doc_id
"""


COSINE_THRESHOLD = 0.45

DOT_SQL = "list_reduce(list_transform(range(1, len({a}) + 1), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (acc, x) -> acc + x)"


def _cos_sql(a: str, b: str) -> str:
    dot = DOT_SQL.format(a=a, b=b)
    na = f"sqrt({DOT_SQL.format(a=a, b=a)})"
    nb = f"sqrt({DOT_SQL.format(a=b, b=b)})"
    return f"(CASE WHEN {na} * {nb} > 0 THEN {dot} / ({na} * {nb}) END)"


def embedding_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dedup survivors (threshold 0.45 catches the
    planted exact-direction duplicates at cosine 1.0 plus the few natural
    pairs above 0.45)."""
    d = EmbeddingCosineDeduplicator(COSINE_THRESHOLD, id_col="vec_id")
    return d.apply(_vec_corpus(spark, sf_dir)).select("vec_id").orderBy("vec_id")


COSINE_DEDUP_ORACLE = f"""
WITH {VEC_CORPUS_CTE.strip()},
pairs AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb,
         round({_cos_sql('a.embedding', 'b.embedding')}, 6) AS cos
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
),
dups AS (SELECT idb AS vec_id FROM pairs WHERE cos >= {COSINE_THRESHOLD} GROUP BY idb)
SELECT c.vec_id FROM corpus c WHERE c.vec_id NOT IN (SELECT vec_id FROM dups) ORDER BY vec_id
"""


def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SemanticDecontaminationFilter`` (operators/dedup.py) — EMBEDDING-
    SPACE eval-set decontamination (the vector-similarity complement of the
    13-gram ``decontamination`` row): every training vector whose best
    cosine against the benchmark reaches the threshold is rejected with
    that benchmark item's id as representative (best-cosine ties break to
    the smallest benchmark id). Scale shape: the benchmark side is a
    BROADCAST normalized matrix and scoring is a streamed Arrow-batch
    block matmul — training vectors never shuffle, there is no all-pairs
    join anywhere in the Spark plan (the all-pairs form lives only in the
    DuckDB mirror below, which is quadratic by construction and therefore
    listed in scripts/oracle_gate.py QUADRATIC_ORACLES for the scaled
    gates). Benchmark = every 10th embedding, so self-matches at rounded
    cosine 1.0 are guaranteed and natural near-pairs exercise the 0.45
    threshold. Promoted from the tests/test_dedup_similarity.py bar,
    rotation wave 7. Reference parity: decontamination scrubbing per
    reference docs/DATA_QUALITY.md; embedding-space variant beyond the
    reference's n-gram surface."""
    from mega_data_factory_spark.operators.dedup import SemanticDecontaminationFilter

    t = load_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"]
    bench = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("bench_id"), "embedding"
    )
    d = SemanticDecontaminationFilter(
        bench,
        threshold=SEMDECON_THRESHOLD,
        vec_col="embedding",
        benchmark_id_col="bench_id",
        id_col="vec_id",
    )
    return (
        d.rejected(emb)
        .select("vec_id", F.col("_rejection_details.representative_id").alias("representative_id"))
        .orderBy("vec_id")
    )


SEMDECON_THRESHOLD = 0.45

SEMDECON_ORACLE = f"""
WITH bench AS (
  SELECT vec_id AS bid, embedding AS bv FROM embeddings WHERE vec_id % 10 = 0
),
pairs AS (
  SELECT e.vec_id, b.bid, round({_cos_sql('e.embedding', 'b.bv')}, 6) AS c
  FROM embeddings e CROSS JOIN bench b
  WHERE {_cos_sql('e.embedding', 'b.bv')} IS NOT NULL
),
best AS (
  SELECT vec_id, bid, c,
         row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, bid) AS rn
  FROM pairs
)
SELECT vec_id, CAST(bid AS VARCHAR) AS representative_id
FROM best WHERE rn = 1 AND c >= {SEMDECON_THRESHOLD} ORDER BY vec_id
"""


QUERIES = {
    "minhash_lsh_dedup": minhash_lsh_dedup,
    "decontamination": decontamination,
    # Round 9 (wave 7): rides the slot freed by retiring q3_segment_revenue
    # (plans/relational.py — the join+agg+ordered-limit family stays
    # driver-held by q5_region_nation_revenue and topk_orders)
    "semantic_decontamination": semantic_decontamination,
    # Rotation wave 11 (round 13, r12 verdict Next #7): simhash_near_dedup
    # and shared_span_dedup RE-promoted — with topk_cosine
    # (plans/similarity_queries.py) the three longest-retired rows (all
    # round 8) cycle back under the driver's eye; their slots come from
    # ngram_jaccard_dedup (below), curation_rejection_summary
    # (plans/curation.py) and grouping_sets_orders
    # (plans/window_queries.py) moving to the pytest bar.
    "simhash_near_dedup": simhash_near_dedup,
    "shared_span_dedup": shared_span_dedup,
}

ORACLE = {
    "minhash_lsh_dedup": MINHASH_ORACLE,
    "decontamination": DECONTAMINATION_ORACLE,
    "semantic_decontamination": SEMDECON_ORACLE,
    "simhash_near_dedup": SIMHASH_NEAR_ORACLE,
    "shared_span_dedup": SHARED_SPAN_ORACLE,
}

# Rotated out of the driver window in round 8 (the near-dedup family held
# 5 of 50 slots; the freed slots carry plans/curation.py's gopher_quality
# and doc_chunks rows): simhash's 60-bit signature arithmetic, pigeonhole
# banding, and bit_count(xor) verify, and shared_span's inverted-index
# exact-span machinery (the same shape ngram_jaccard keeps driver-anchored)
# keep their full oracle bars at pytest level via plans.retired_queries
# (tests/test_dedup_similarity.py), exactly like the exact-form
# simhash_dedup before them (rotated r6).
RETIRED_QUERIES = {
    # Round 9 (wave 5): embedding-space near-dedup family coverage is held
    # in the window by minhash_lsh_dedup + decontamination (banded/bucketed
    # shapes) while the cosine dedup keeps its exact all-pairs DuckDB bar
    # here; its slot carries plans/curation.py's intra_doc_dedup row.
    "embedding_cosine_dedup": embedding_cosine_dedup,
    # Rotation wave 11 (round 13): ngram_jaccard_dedup retires after twelve
    # straight hash-green rounds — the verified-near-dup family stays
    # driver-covered by minhash_lsh_dedup plus the two wave-11 re-promoted
    # rows (simhash_near_dedup's banding+verify, shared_span_dedup's exact
    # spans); the full Jaccard oracle bar stays here
    # (tests/test_dedup_similarity.py) and the bench line keeps running.
    "ngram_jaccard_dedup": ngram_jaccard_dedup,
}
RETIRED_ORACLE = {
    "embedding_cosine_dedup": COSINE_DEDUP_ORACLE,
    "ngram_jaccard_dedup": JACCARD_ORACLE,
}

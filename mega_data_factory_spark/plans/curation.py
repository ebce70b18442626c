"""Curation-pipeline queries: the reference's text-operator surface
(filters, refiners, exact dedup, rejection accounting) expressed on the
``documents``/``part``/``orders`` test tables, each with a DuckDB oracle.

The oracle SQL for anything arithmetic is *generated from the same word
lists / weights* as the Spark expression, so both engines evaluate the same
operation tree (identical IEEE results — no tolerance needed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mega_data_factory_spark.operators.dedup import KeyDeduplicator, TextExactDeduplicator
from mega_data_factory_spark.operators.filters import (
    DomainBlocklistFilter,
    TextLengthFilter,
    WordScoreFilter,
    word_score_sql,
)
from mega_data_factory_spark.operators.refiners import (
    DEFAULT_STOPWORDS,
    LANG_MARKERS,
    PII_EMAIL,
    PII_IPV4,
    PII_PHONE,
    FingerprintRefiner,
    LanguageIdRefiner,
    PiiRedactRefiner,
    QualityScoreRefiner,
    RepetitionStatsRefiner,
    TextStatsRefiner,
)
from mega_data_factory_spark.session import load_tables

# ---------------------------------------------------------------- SQL helpers
# These mirror functions/text.py exactly; keep the two in lockstep.

NORM_NOLOWER = "trim(regexp_replace({c}, '\\s+', ' ', 'g'))"
NORM = "lower(" + NORM_NOLOWER + ")"


def _content_key_sql(text: str = "text", id_col: str = "doc_id") -> str:
    """SQL mirror of functions.hashing.content_key_sql INCLUDING the NULL-text
    id-fallback ('id:<id>', never collides). A bare md5 partition key would
    group every NULL-text row into ONE SQL window partition and keep a
    single survivor — diverging from the engine the moment testdata ships
    a NULL text."""
    return (
        f"coalesce(md5({NORM.format(c=text)}), 'id:' || CAST({id_col} AS VARCHAR))"
    )


def _wc(col: str, word: str) -> str:
    """SQL mirror of functions.text.word_occurrences_sql — incl. its
    re.escape (RE2-compatible) so metacharacter words count identically
    on both engines."""
    import re as _re

    return f"coalesce(len(regexp_extract_all(lower({col}), '\\b{_re.escape(word.lower())}\\b')), 0)"


def _token_count(col: str) -> str:
    norm = NORM_NOLOWER.format(c=col)
    return (
        f"(CASE WHEN {norm} IS NULL OR length({norm}) = 0 THEN 0 "
        f"ELSE length({norm}) - length(replace({norm}, ' ', '')) + 1 END)"
    )


def _text_length(text_col: str, length_col: str | None) -> str:
    if length_col:
        return f"coalesce(CAST({length_col} AS BIGINT), CAST(length({text_col}) AS BIGINT), 0)"
    return f"coalesce(CAST(length({text_col}) AS BIGINT), 0)"


def _word_score(col: str, weights: dict[str, float]) -> str:
    """SQL mirror of operators.filters.word_score_sql (same evaluation tree)."""
    matched = [f"(CASE WHEN {_wc(col, w)} > 0 THEN {float(wt)!r} ELSE 0.0 END)" for w, wt in weights.items()]
    max_w = matched[0] if len(matched) == 1 else "greatest(" + ", ".join(matched) + ")"
    sum_w = " + ".join(matched)
    return f"(CASE WHEN {max_w} > 0 THEN 0.8 * {max_w} + least(({sum_w}) / 3.0, 0.2) ELSE 0.0 END)"


# ------------------------------------------------------------------- queries

LEN_LO, LEN_HI = 100, 400


def text_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference TextLengthFilter (text_length_filter.py:15-70) on documents;
    trusts the precomputed n_chars column, falls back to length(text)."""
    t = load_tables(spark, sf_dir, ("documents",))
    f = TextLengthFilter(LEN_LO, LEN_HI, length_col="n_chars")
    return f.apply(t["documents"]).select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")


TEXT_LENGTH_ORACLE = f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE {_text_length('text', 'n_chars')} BETWEEN {LEN_LO} AND {LEN_HI}
ORDER BY doc_id
"""


def text_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference TextExactDeduplicator: normalize -> md5 -> first-wins by
    min(doc_id). Returns survivors with their content key."""
    t = load_tables(spark, sf_dir, ("documents",))
    # NOT repartitioned before keying: an explicit spread would push the
    # full text column through an exchange (measured 2x at sf0.1) to fix
    # what is purely a test-file artifact — the single-row-group parquet
    # caps scan parallelism at 2 tasks locally, whereas any real corpus
    # scan has thousands of splits. A partial WindowGroupLimit below the
    # dedup exchange keeps that shuffle at one compact (doc_id, key) row
    # per key per scan partition; the text itself never crosses it.
    d = TextExactDeduplicator(id_col="doc_id")
    out = d.apply(t["documents"].withColumn("content_key", F.expr(d.key_sql(t["documents"]))))
    return out.select("doc_id", "content_key").orderBy("doc_id")


TEXT_DEDUP_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, {_content_key_sql()} AS content_key,
         row_number() OVER (PARTITION BY {_content_key_sql()} ORDER BY doc_id) AS rn
  FROM documents
)
SELECT doc_id, content_key FROM keyed WHERE rn = 1 ORDER BY doc_id
"""


def orders_first_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic first-wins key dedup (reference Deduplicator semantics,
    operator.py:271-382) on a table with real key collisions: one surviving
    order per customer, earliest orderkey wins."""
    t = load_tables(spark, sf_dir, ("orders",))
    d = KeyDeduplicator(["o_custkey"], order_col="o_orderkey")
    return d.apply(t["orders"]).select("o_orderkey", "o_custkey", "o_totalprice").orderBy("o_orderkey")


ORDERS_DEDUP_ORACLE = """
WITH ranked AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
  FROM orders
)
SELECT o_orderkey, o_custkey, o_totalprice FROM ranked WHERE rn = 1 ORDER BY o_orderkey
"""


def orders_dedup_rejected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rejected side output of the same dedup: duplicates carrying
    dedup_key + representative_id (reference operator.py:343-353),
    flattened for comparison."""
    t = load_tables(spark, sf_dir, ("orders",))
    d = KeyDeduplicator(["o_custkey"], order_col="o_orderkey", name="KeyDeduplicator")
    rej = d.rejected(t["orders"])
    return rej.select(
        "o_orderkey",
        F.col("_rejection_details.reason").alias("reason"),
        F.col("_rejection_details.operator").alias("operator"),
        F.col("_rejection_details.dedup_key").alias("dedup_key"),
        F.col("_rejection_details.representative_id").alias("representative_id"),
    ).orderBy("o_orderkey")


ORDERS_DEDUP_REJECTED_ORACLE = """
WITH ranked AS (
  SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS dedup_key,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn,
         CAST(min(o_orderkey) OVER (PARTITION BY o_custkey) AS VARCHAR) AS representative_id
  FROM orders
)
SELECT o_orderkey, 'duplicate' AS reason, 'KeyDeduplicator' AS operator, dedup_key, representative_id
FROM ranked WHERE rn > 1 ORDER BY o_orderkey
"""


def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextStatsRefiner + subword token budgeting in one per-doc view:
    effective length, whitespace token count, mean token length, BPE-ish
    subword tokens and the tokens-per-word ratio (the training-token
    budgeting columns)."""
    from mega_data_factory_spark.functions.text import subword_token_count

    t = load_tables(spark, sf_dir, ("documents",))
    r = TextStatsRefiner(length_col="n_chars")
    out = r.apply(t["documents"])
    ws = F.col("token_count")
    sw = subword_token_count("text")
    return (
        out.withColumn("subword_tokens", sw)
        .withColumn(
            "tokens_per_word",
            F.when(ws > 0, F.round(sw.cast("double") / ws, 6)).otherwise(F.lit(0.0)),
        )
        .select("doc_id", "text_length", "token_count", "avg_token_len", "subword_tokens", "tokens_per_word")
        .orderBy("doc_id")
    )


_norm = NORM_NOLOWER.format(c="text")


def _token_stats_oracle() -> str:
    from mega_data_factory_spark.functions.text import SUBWORD_PATTERN

    pat = SUBWORD_PATTERN.replace("'", "''")
    sw = f"len(regexp_extract_all({_norm}, '{pat}'))"
    tc = _token_count("text")
    return f"""
SELECT doc_id,
  {_text_length('text', 'n_chars')} AS text_length,
  CAST({tc} AS BIGINT) AS token_count,
  CASE WHEN {tc} > 0
       THEN round(CAST(length({_norm}) - ({tc} - 1) AS DOUBLE) / {tc}, 6)
       ELSE 0.0 END AS avg_token_len,
  CAST({sw} AS BIGINT) AS subword_tokens,
  CASE WHEN {tc} > 0 THEN round(CAST({sw} AS DOUBLE) / {tc}, 6) ELSE 0.0 END AS tokens_per_word
FROM documents ORDER BY doc_id
"""


def text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full text-analysis refiner chain in one per-doc view: token
    stats + subword budgeting (consolidated from the r5 docs_token_stats
    row — same table, same row-per-doc shape, half the registry slots),
    language ID (marker-word argmax), structural quality scoring, and the
    md5 content fingerprint + bucket prefix. Four Refiners, one narrow
    plan — refiner chains compose as column extensions, no extra scans."""
    from mega_data_factory_spark.functions.text import subword_token_count

    t = load_tables(spark, sf_dir, ("documents",))
    df = t["documents"]
    for r in (TextStatsRefiner(length_col="n_chars"), LanguageIdRefiner(), QualityScoreRefiner(), FingerprintRefiner()):
        df = r.apply(df)
    ws = F.col("token_count")
    sw = subword_token_count("text")
    return (
        df.withColumn("subword_tokens", sw)
        .withColumn(
            "tokens_per_word",
            F.when(ws > 0, F.round(sw.cast("double") / ws, 6)).otherwise(F.lit(0.0)),
        )
        .select(
            "doc_id",
            "text_length",
            "token_count",
            "avg_token_len",
            "subword_tokens",
            "tokens_per_word",
            "lang_pred",
            "lang_score",
            "stopword_ratio",
            "quality_score",
            "fingerprint",
            "fingerprint_prefix",
        )
        .orderBy("doc_id")
    )


def _text_analysis_oracle() -> str:
    scores = {
        lang: "(" + " + ".join(_wc("text", w) for w in words) + ")"
        for lang, words in LANG_MARKERS.items()
    }
    sel = ", ".join(f"{s} AS s_{lang}" for lang, s in scores.items())
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in scores) + ")"
    case = "CASE " + " ".join(f"WHEN s_{lang} = best THEN '{lang}'" for lang in scores) + " ELSE 'und' END"
    tokens = _token_count("text")
    hits = " + ".join(_wc("text", w) for w in DEFAULT_STOPWORDS)
    ratio = f"(CASE WHEN {tokens} > 0 THEN CAST(({hits}) AS DOUBLE) / {tokens} ELSE 0.0 END)"
    avg_len = f"(CASE WHEN {tokens} > 0 THEN CAST(length({_norm}) - ({tokens} - 1) AS DOUBLE) / {tokens} ELSE 0.0 END)"
    score = (
        f"0.4 * least(CAST({tokens} AS DOUBLE) / 200.0, 1.0) "
        f"+ 0.3 * least({ratio} * 5.0, 1.0) "
        f"+ 0.3 * (CASE WHEN {avg_len} >= 3.0 AND {avg_len} <= 10.0 THEN 1.0 ELSE 0.0 END)"
    )
    from mega_data_factory_spark.functions.text import SUBWORD_PATTERN

    pat = SUBWORD_PATTERN.replace("'", "''")
    sw = f"len(regexp_extract_all({_norm}, '{pat}'))"
    tc = _token_count("text")
    return f"""
WITH scored AS (SELECT doc_id, {sel} FROM documents),
ranked AS (SELECT doc_id, {best} AS best, {', '.join(f's_{lang}' for lang in scores)} FROM scored)
SELECT d.doc_id,
  {_text_length('text', 'n_chars')} AS text_length,
  CAST({tc} AS BIGINT) AS token_count,
  CASE WHEN {tc} > 0
       THEN round(CAST(length({_norm}) - ({tc} - 1) AS DOUBLE) / {tc}, 6)
       ELSE 0.0 END AS avg_token_len,
  CAST({sw} AS BIGINT) AS subword_tokens,
  CASE WHEN {tc} > 0 THEN round(CAST({sw} AS DOUBLE) / {tc}, 6) ELSE 0.0 END AS tokens_per_word,
  CASE WHEN r.best > 0 THEN ({case.replace('s_', 'r.s_')}) ELSE 'und' END AS lang_pred,
  CAST(r.best AS BIGINT) AS lang_score,
  round({ratio}, 6) AS stopword_ratio,
  round({score}, 6) AS quality_score,
  md5({NORM.format(c='text')}) AS fingerprint,
  substr(md5({NORM.format(c='text')}), 1, 8) AS fingerprint_prefix
FROM documents d JOIN ranked r ON d.doc_id = r.doc_id
ORDER BY d.doc_id
"""


# Planted rows for the cleanup refiners: the synthetic corpus has neither
# PII nor heavy repetition, so observable cases are added IN-QUERY with the
# identical literals on both engines (the dedup_queries planted-corpus
# pattern). No apostrophes — the strings embed verbatim in the SQL mirror.
CLEANUP_PLANTED: list[tuple[int, str]] = [
    (10000900001, "Contact john.doe@example.com or jane99@mail.co for details. "
             "Call 555-123-4567 or 555 987 6543 now. Server 10.0.0.1 logs requests."),
    (10000900002, "buy now buy now buy now buy now limited offer spam spam spam spam"),
    (10000900003, "A clean sentence with no repeated content and no contact details at all."),
]


def text_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-training cleanup refiners in one per-doc view:
    RepetitionStatsRefiner (Gopher repetition rules: dup-word ratio,
    top-bigram share) + PiiRedactRefiner (email/phone/IPv4 counts and the
    redacted text), over documents plus three planted repetition/PII rows.
    Pure codegen'd Column/regex expressions — zero shuffle at any scale —
    and every column has an exact DuckDB mirror (array HOFs; RE2-compatible
    anchored patterns), so this row is hash-checked, not rows-only."""
    t = load_tables(spark, sf_dir, ("documents",))
    base = t["documents"].select("doc_id", "text")
    planted = spark.createDataFrame(CLEANUP_PLANTED, "doc_id long, text string")
    df = base.unionByName(planted)
    for r in (RepetitionStatsRefiner(), PiiRedactRefiner()):
        df = r.apply(df)
    return df.select(
        "doc_id",
        "dup_word_ratio",
        "top_bigram_ratio",
        "pii_email_count",
        "pii_phone_count",
        "pii_ip_count",
        "text_redacted",
    ).orderBy("doc_id")


def _text_cleanup_oracle() -> str:
    planted = " UNION ALL ".join(
        f"SELECT {i} AS doc_id, '{s}' AS text" for i, s in CLEANUP_PLANTED
    )
    # RE2 (DuckDB) and Java (Spark) agree on these anchored, backtracking-
    # free patterns by construction (operators/refiners.py PII_*).
    email, phone, ip = PII_EMAIL, PII_PHONE, PII_IPV4
    redacted = (
        f"regexp_replace(regexp_replace(regexp_replace(text, '{email}', '<EMAIL>', 'g'),"
        f" '{phone}', '<PHONE>', 'g'), '{ip}', '<IP>', 'g')"
    )
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  {planted}
),
arr AS (
  SELECT doc_id, text,
    string_split({NORM.format(c='text')}, ' ') AS ws
  FROM corpus
),
bi AS (
  SELECT doc_id, text, ws,
    list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1]) AS bg
  FROM arr
),
-- linear top-bigram: explode -> per-(doc,bigram) counts -> max per doc
-- (mirrors the engine's single-pass sorted-run scan; the earlier nested
-- list_filter-per-distinct-bigram form was quadratic on both engines)
top AS (
  SELECT doc_id, max(c) AS top_c FROM (
    SELECT doc_id, bge, count(*) AS c
    FROM bi, UNNEST(bg) AS u(bge)
    GROUP BY doc_id, bge
  ) GROUP BY doc_id
)
SELECT bi.doc_id,
  CASE WHEN len(ws) > 0
       THEN round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6)
       ELSE 0.0 END AS dup_word_ratio,
  CASE WHEN len(bg) > 0
       THEN round(CAST(top.top_c AS DOUBLE) / len(bg), 6)
       ELSE 0.0 END AS top_bigram_ratio,
  CAST(len(regexp_extract_all(text, '{email}')) AS INTEGER) AS pii_email_count,
  CAST(len(regexp_extract_all(text, '{phone}')) AS INTEGER) AS pii_phone_count,
  CAST(len(regexp_extract_all(text, '{ip}')) AS INTEGER) AS pii_ip_count,
  {redacted} AS text_redacted
FROM bi LEFT JOIN top ON bi.doc_id = top.doc_id
ORDER BY bi.doc_id
"""


PART_WEIGHTS = {"widget": 0.5, "bolt": 0.3, "gear": 0.4, "cold": 0.2}
PART_THRESHOLD = 0.5
BLOCKED_SOURCES = ["src3", "src7", "src11", "src19"]


def url_rule_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference URLFilter's two standalone sub-rules, each on its own
    table, unioned into one tagged result (the composite blocklist+score
    filter over real URLs is ``url_filter_full``):

      * ``word_score`` (url_filter.py:255-282): keep parts whose weighted
        word score on p_name stays below the block threshold;
      * ``source_blocklist`` (url_filter.py:217-234): suffix-chain
        membership of the documents' source against a broadcast blocklist.
    """
    t = load_tables(spark, sf_dir, ("part", "documents"))
    ws = WordScoreFilter(PART_WEIGHTS, PART_THRESHOLD, text_col="p_name")
    word_side = ws.apply(t["part"]).selectExpr(
        "'word_score' AS rule",
        "p_partkey AS entity_id",
        "p_name AS attr",
        f"round({word_score_sql('`p_name`', PART_WEIGHTS)}, 6) AS score",
    )
    bl = DomainBlocklistFilter(BLOCKED_SOURCES, domain_col="source")
    block_side = bl.apply(t["documents"]).select(
        F.lit("source_blocklist").alias("rule"),
        F.col("doc_id").alias("entity_id"),
        F.col("source").alias("attr"),
        F.lit(None).cast("double").alias("score"),
    )
    return word_side.unionByName(block_side).orderBy("rule", "entity_id")


URL_RULES_ORACLE = f"""
SELECT * FROM (
  SELECT 'word_score' AS rule, p_partkey AS entity_id, p_name AS attr,
         round({_word_score('p_name', PART_WEIGHTS)}, 6) AS score
  FROM part
  WHERE {_word_score('p_name', PART_WEIGHTS)} < {PART_THRESHOLD}
  UNION ALL
  SELECT 'source_blocklist', doc_id, source, CAST(NULL AS DOUBLE)
  FROM documents
  WHERE source IS NULL OR lower(source) NOT IN ({', '.join(f"'{s}'" for s in BLOCKED_SOURCES)})
)
ORDER BY rule, entity_id
"""


# Chosen so single hits stay below the 0.5 threshold but the conjunction
# slow+big+spark crosses it (score 0.503) — the filter genuinely partitions
# the synthetic corpus (~55% rejected) instead of being a no-op.
PIPE_WEIGHTS = {"slow": 0.4, "big": 0.1, "spark": 0.05}


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's canonical text pipeline shape (BASELINE.md: CommonCrawl
    -> URLFilter -> TextLengthFilter [-> dedup]) as one composed plan:
    length filter -> word-score filter -> exact dedup, returning survivors
    with their quality stats. One Catalyst plan end-to-end; the only
    shuffle is the dedup window."""
    t = load_tables(spark, sf_dir, ("documents",))
    df = t["documents"]
    df = TextLengthFilter(LEN_LO, LEN_HI, length_col="n_chars").apply(df)
    ws = WordScoreFilter(PIPE_WEIGHTS, 0.5, text_col="text")
    df = ws.apply(df)
    df = TextExactDeduplicator(id_col="doc_id").apply(df)
    df = TextStatsRefiner(length_col="n_chars").apply(df)
    return df.select("doc_id", "lang", "token_count").orderBy("doc_id")


CURATION_PIPELINE_ORACLE = f"""
WITH len_kept AS (
  SELECT * FROM documents WHERE {_text_length('text', 'n_chars')} BETWEEN {LEN_LO} AND {LEN_HI}
),
score_kept AS (
  SELECT * FROM len_kept WHERE {_word_score('text', PIPE_WEIGHTS)} < 0.5
),
deduped AS (
  SELECT *, row_number() OVER (PARTITION BY {_content_key_sql()} ORDER BY doc_id) AS rn
  FROM score_kept
)
SELECT doc_id, lang, CAST({_token_count('text')} AS BIGINT) AS token_count
FROM deduped WHERE rn = 1 ORDER BY doc_id
"""


def curation_rejection_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-operator rejection accounting for the pipeline above — the
    engine's metrics surface (reference pass-rate metrics,
    framework/operator.py:119-184): rows rejected by each stage, in stage
    order, plus final survivor count."""
    t = load_tables(spark, sf_dir, ("documents",))
    df = t["documents"]
    lenf = TextLengthFilter(LEN_LO, LEN_HI, length_col="n_chars", name="TextLengthFilter")
    ws = WordScoreFilter(PIPE_WEIGHTS, 0.5, text_col="text", name="WordScoreFilter")
    dd = TextExactDeduplicator(id_col="doc_id", name="TextExactDeduplicator")

    stage1 = lenf.apply(df)
    stage2 = ws.apply(stage1)
    stage3 = dd.apply(stage2)
    rej = (
        lenf.rejected(df)
        .select(F.col("_rejection_details.operator").alias("operator"))
        .unionByName(ws.rejected(stage1).select(F.col("_rejection_details.operator").alias("operator")))
        .unionByName(dd.rejected(stage2).select(F.col("_rejection_details.operator").alias("operator")))
        .groupBy("operator")
        .agg(F.count(F.lit(1)).alias("n_rejected"))
    )
    out = rej.unionByName(
        # global agg, NOT groupBy: a groupBy over an empty survivor frame
        # yields no rows, while the oracle emits ('__passed__', 0)
        # unconditionally — an everything-rejected corpus would row-count
        # mismatch. agg on empty input returns exactly one 0-count row.
        stage3.agg(F.count(F.lit(1)).alias("n_rejected")).select(
            F.lit("__passed__").alias("operator"), "n_rejected"
        )
    )
    return out.orderBy("operator")


REJECTION_SUMMARY_ORACLE = f"""
WITH len_kept AS (
  SELECT * FROM documents WHERE {_text_length('text', 'n_chars')} BETWEEN {LEN_LO} AND {LEN_HI}
),
score_kept AS (
  SELECT * FROM len_kept WHERE {_word_score('text', PIPE_WEIGHTS)} < 0.5
),
deduped AS (
  SELECT *, row_number() OVER (PARTITION BY {_content_key_sql()} ORDER BY doc_id) AS rn
  FROM score_kept
),
counts AS (
  SELECT 'TextLengthFilter' AS operator,
         (SELECT count(*) FROM documents) - (SELECT count(*) FROM len_kept) AS n_rejected
  UNION ALL
  SELECT 'WordScoreFilter', (SELECT count(*) FROM len_kept) - (SELECT count(*) FROM score_kept)
  UNION ALL
  SELECT 'TextExactDeduplicator', (SELECT count(*) FROM deduped WHERE rn > 1)
  UNION ALL
  SELECT '__passed__', (SELECT count(*) FROM deduped WHERE rn = 1)
)
SELECT operator, n_rejected FROM counts WHERE n_rejected > 0 OR operator = '__passed__' ORDER BY operator
"""


def curation_funnel_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source pass-through funnel for the three-stage pipeline: input
    count, survivors of each stage, and final pass rate — the per-dimension
    metrics view a curation run reports (reference pass-rate metrics
    grouped by provenance)."""
    t = load_tables(spark, sf_dir, ("documents",))
    df = t["documents"]
    lenf = TextLengthFilter(LEN_LO, LEN_HI, length_col="n_chars")
    ws = WordScoreFilter(PIPE_WEIGHTS, 0.5, text_col="text")
    keep_len = F.expr(lenf.keep_sql(df))
    keep_ws = F.expr(ws.keep_sql(df))
    return (
        df.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_input"),
            F.sum(keep_len.cast("long")).alias("n_after_length"),
            F.sum((keep_len & keep_ws).cast("long")).alias("n_after_score"),
        )
        .withColumn(
            "pass_rate",
            F.round(F.col("n_after_score").cast("double") / F.col("n_input") * 100, 4),
        )
        .orderBy("source")
    )


FUNNEL_ORACLE = f"""
SELECT source,
  COUNT(*) AS n_input,
  CAST(SUM(CASE WHEN {_text_length('text', 'n_chars')} BETWEEN {LEN_LO} AND {LEN_HI} THEN 1 ELSE 0 END) AS BIGINT) AS n_after_length,
  CAST(SUM(CASE WHEN {_text_length('text', 'n_chars')} BETWEEN {LEN_LO} AND {LEN_HI}
            AND {_word_score('text', PIPE_WEIGHTS)} < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_score,
  ROUND(CAST(SUM(CASE WHEN {_text_length('text', 'n_chars')} BETWEEN {LEN_LO} AND {LEN_HI}
            AND {_word_score('text', PIPE_WEIGHTS)} < 0.5 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) * 100, 4) AS pass_rate
FROM documents
GROUP BY source
ORDER BY source
"""


N_WARC_FILES = 12


def warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC parse -> HTML text extract -> length filter over deterministic
    in-plan WARC fixture bytes (the image_queries pattern: the test tables
    carry no WARC files, so the source synthesizes them as a pure function
    of id — including gzipped files, skipped non-response/non-HTML records,
    and under-length extracts the parser must drop). Exercises the full
    sources/warc.py record parser + tag-strip extractor; the oracle mirrors
    every kept record's title/text/url/length with string arithmetic.
    Reference contract: loaders/commoncrawl_loader.py:66-145."""
    from mega_data_factory_spark.fixtures import warc_files_df
    from mega_data_factory_spark.sources.warc import parse_warc_files

    files = warc_files_df(spark, N_WARC_FILES)
    recs = parse_warc_files(files, crawl_id="fixture-crawl")
    lenf = TextLengthFilter(60, 500, length_col="text_length")
    return recs.filter(lenf.keep_sql(recs)).orderBy("url")


def _warc_extract_oracle() -> str:
    from mega_data_factory_spark.fixtures import RECS_PER_FILE, WARC_DATE, warc_text_sql

    title, text, url = warc_text_sql("fid", "rid")
    return f"""
SELECT 'fixture-crawl' AS crawl_id,
  'mem://warc/' || fid || CASE WHEN fid % 2 = 1 THEN '.warc.gz' ELSE '.warc' END AS warc_path,
  {url} AS url,
  '{WARC_DATE}' AS warc_date,
  {title} AS title,
  {text} AS text,
  CAST(length({text}) AS INTEGER) AS text_length
FROM (SELECT f.range AS fid, r.range AS rid
      FROM range(0, {N_WARC_FILES}) f, range(0, {RECS_PER_FILE}) r)
WHERE length({text}) BETWEEN 60 AND 500
ORDER BY url
"""


LM_ADD_K, LM_MIN_COUNT = 0.1, 1


def ngram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal (operators/lm.py) as a driver row:
    fit add-k bigram counts on the documents corpus, score the same
    corpus — every per-doc mean log-prob and perplexity cross-checked
    against the closed-form count arithmetic in ANSI SQL. The fit's two
    gram aggregates and the vocab count run in-plan; nothing about the
    model is driver-side."""
    from mega_data_factory_spark.operators.lm import NgramPerplexityScorer

    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    s = NgramPerplexityScorer(add_k=LM_ADD_K, min_count=LM_MIN_COUNT).fit(docs)
    return s.apply(docs).select("doc_id", "doc_logprob", "perplexity").orderBy("doc_id")


def _ngram_perplexity_oracle() -> str:
    norm_lower = NORM.format(c="text")
    return f"""
WITH w AS (SELECT doc_id, string_split({norm_lower}, ' ') AS ws FROM documents),
grams AS (
  SELECT doc_id, ws[i.i] AS w1, ws[i.i + 1] AS w2
  FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) i
),
big AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM grams GROUP BY 1, 2 HAVING COUNT(*) >= {LM_MIN_COUNT}
),
ctx AS (SELECT w1, COUNT(*) AS c1 FROM grams GROUP BY 1),
vocab AS (
  SELECT COUNT(DISTINCT wrd) + 1 AS v
  FROM (SELECT unnest(ws) AS wrd FROM w) u WHERE wrd != ''
),
lp AS (
  SELECT g.doc_id,
         ln((COALESCE(b.c12, 0) + {LM_ADD_K}) / (COALESCE(c.c1, 0) + {LM_ADD_K} * vocab.v)) AS l
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


PACK_SEQ_LEN, PACK_BUCKETS = 128, 8


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-sequence packing coordinates
    (operators/packing.py) as a driver row: bucketed concat-then-chunk
    assignment over the documents corpus, every (bucket, seq, offset)
    triple cross-checked against the windowed-SQL formulation."""
    from mega_data_factory_spark.operators.packing import SequencePacker

    t = load_tables(spark, sf_dir, ("documents",))
    p = SequencePacker(PACK_SEQ_LEN, buckets=PACK_BUCKETS)
    return (
        p.apply(t["documents"])
        .select("doc_id", "pack_bucket", "seq_id", "seq_offset")
        .orderBy("doc_id")
    )


def _sequence_packing_oracle() -> str:
    from mega_data_factory_spark.plans.dedup_queries import _h64

    b = _h64("CAST(doc_id AS VARCHAR)") + f" % {PACK_BUCKETS}"
    tc = _token_count("text")
    return f"""
WITH toks AS (
  SELECT doc_id, CAST({b} AS INT) AS pack_bucket, CAST({tc} AS BIGINT) AS tok
  FROM documents
),
packed AS (
  SELECT doc_id, pack_bucket,
         SUM(tok) OVER (PARTITION BY pack_bucket ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS strt
  FROM toks WHERE tok > 0
)
SELECT doc_id, pack_bucket,
       CAST(FLOOR(strt / {PACK_SEQ_LEN}) AS BIGINT) AS seq_id,
       CAST(strt % {PACK_SEQ_LEN} AS BIGINT) AS seq_offset
FROM packed ORDER BY doc_id
"""


MIX_WEIGHTS = {"src0": 0.0, "src1": 0.25, "src2": 0.5, "src3": 0.75}
SPLIT_RATIOS = {"train": 0.8, "val": 0.1, "test": 0.1}
SPLIT_SALT = "epoch1"
# md5->60-bit SQL mirror lives in ONE place: plans.dedup_queries._h64
# (the minhash/simhash family's helper) — a second copy here had to be
# kept in lockstep by hand and would silently drift the packing/split
# oracles from the dedup ones if the hash ever changed.


def dataset_split_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset MIXING + train/val/test SPLIT — the two reproducible-selection
    operators every training-data pipeline runs (operators/sampling.py),
    composed and hash-verified in one driver row: per-source deterministic
    downsampling (src0 removed, src1/2/3 kept at 25/50/75%, the rest in
    full) followed by salted hash-bucket split assignment. The output is
    per (source, split) counts plus min/max/sum of surviving doc ids, so
    the row pins the exact survivor SET and assignment, not just ratios.
    Both operators are pure codegen'd Column arithmetic over the engine's
    md5-derived 60-bit hash — zero shuffle before the final aggregate, and
    the selection is reproducible in ANSI SQL (the oracle mirrors it
    value-for-value)."""
    from mega_data_factory_spark.operators.sampling import DatasetSplitRefiner, WeightedSourceSampler

    t = load_tables(spark, sf_dir, ("documents",))
    sampled = WeightedSourceSampler(MIX_WEIGHTS, default_weight=1.0, id_col="doc_id").apply(
        t["documents"]
    )
    labeled = DatasetSplitRefiner(SPLIT_RATIOS, id_col="doc_id", salt=SPLIT_SALT).apply(sampled)
    return (
        labeled.groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sum("doc_id").alias("sum_doc"),
        )
        .orderBy("source", "split")
    )


def _dataset_split_mix_oracle() -> str:
    from mega_data_factory_spark.operators.sampling import BUCKETS, DatasetSplitRefiner, WeightedSourceSampler

    sampler = WeightedSourceSampler(MIX_WEIGHTS, default_weight=1.0, id_col="doc_id")
    splitter = DatasetSplitRefiner(SPLIT_RATIOS, id_col="doc_id", salt=SPLIT_SALT)

    from mega_data_factory_spark.plans.dedup_queries import _h64

    def _bucket_sql(salt: str | None) -> str:
        # derive from the INSTANCE salts so the SQL can never drift from
        # the operators' defaults (the sampler now defaults to salt="mix")
        return _h64("CAST(doc_id AS VARCHAR)", salt) + f" % {BUCKETS}"

    b_mix = _bucket_sql(sampler.salt)
    b_split = _bucket_sql(splitter.salt)
    weight_cases = " ".join(
        f"WHEN '{s}' THEN {int(round(w * BUCKETS))}" for s, w in sampler.weights.items()
    )
    ths = splitter.thresholds()
    split_cases = " ".join(f"WHEN {b_split} < {hi} THEN '{s}'" for s, hi in ths[:-1])
    return f"""
WITH sampled AS (
  SELECT doc_id, source FROM documents
  WHERE ({b_mix}) < (CASE source {weight_cases} ELSE {int(round(sampler.default_weight * BUCKETS))} END)
),
labeled AS (
  SELECT source, doc_id, CASE {split_cases} ELSE '{ths[-1][0]}' END AS split FROM sampled
)
SELECT source, split, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc
FROM labeled GROUP BY source, split ORDER BY source, split
"""


EPOCH_WEIGHTS = {"src0": 0.0, "src1": 2.45, "src2": 0.3}


def epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted mixing WITH upsampling (operators/sampling.py
    EpochWeightedMixer — the Llama-style training mix the downsampling-only
    sampler cannot express): src1 runs at 2.45 epochs (every doc twice plus
    a deterministic 45% partial epoch), src2 at 0.3, src0 removed, the rest
    at 1.0. The FULL (doc_id, source, epoch) fan-out is the driver row, so
    the hash pins the exact repeat assignment, not just counts. Pure
    codegen'd when-chain + one explode(sequence(...)) — no shuffle, no
    weights-table join; the oracle mirrors it with a lateral range(n)."""
    from mega_data_factory_spark.operators.sampling import EpochWeightedMixer

    t = load_tables(spark, sf_dir, ("documents",))
    m = EpochWeightedMixer(EPOCH_WEIGHTS, default_weight=1.0, id_col="doc_id")
    return m.apply(t["documents"]).select("doc_id", "source", "epoch").orderBy("doc_id", "epoch")


def _epoch_mix_oracle() -> str:
    from mega_data_factory_spark.operators.sampling import BUCKETS, EpochWeightedMixer
    from mega_data_factory_spark.plans.dedup_queries import _h64

    m = EpochWeightedMixer(EPOCH_WEIGHTS, default_weight=1.0, id_col="doc_id")
    b = _h64("CAST(doc_id AS VARCHAR)", m.salt) + f" % {BUCKETS}"

    def _n_sql(w: float) -> str:
        base, thr = m._split_weight(w)
        return f"{base} + (CASE WHEN ({b}) < {thr} THEN 1 ELSE 0 END)"

    cases = " ".join(f"WHEN '{s}' THEN {_n_sql(w)}" for s, w in m.weights.items())
    return f"""
WITH r AS (
  SELECT doc_id, source, (CASE source {cases} ELSE {_n_sql(m.default_weight)} END) AS n
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT doc_id, source, CAST(unnest(range(n)) AS INT) AS epoch
FROM r ORDER BY doc_id, epoch
"""


# ----------------------------------------------------------------- DSIR
DSIR_B, DSIR_K, DSIR_N = 512, 1.0, 60
DSIR_TARGET_SOURCES = ("src0", "src1", "src2")


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling end to end (operators/dsir.py — Xie et
    al. 2023): fit hashed unigram+bigram bucket distributions with target
    = three sources and raw = the whole documents corpus, score every
    document's importance log-ratio, then keep the Gumbel-top-N — the
    published data-selection recipe as one driver row. Every step
    (md5-bucket hashing, Laplace-smoothed log-ratios, per-doc sums,
    stable-hash Gumbel noise, exact global top-N) is deterministic and
    mirrored in the oracle; the top-N cut itself runs through the
    bucketed-histogram TokenBudgetSelector (no global sort at scale)."""
    from mega_data_factory_spark.operators.dsir import DsirImportanceScorer, DsirResampler

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    target = docs.filter(F.col("source").isin(*DSIR_TARGET_SOURCES))
    scorer = DsirImportanceScorer(n_buckets=DSIR_B, add_k=DSIR_K).fit(target, docs)
    kept = DsirResampler(DSIR_N).apply(scorer.apply(docs))
    return kept.select("doc_id", "source", "dsir_logweight").orderBy("doc_id")


def dsir_feats_ctes(target_pred: str, *, b: int = DSIR_B, k: float = DSIR_K) -> str:
    """CTEs mirroring DsirImportanceScorer (features -> bucket counts ->
    smoothed log-ratios -> per-doc logweight) over ``documents``. Shared
    with tests/test_dsir.py so the mirror cannot drift."""
    return f"""
w AS (SELECT doc_id, source,
             list_filter(string_split({NORM.format(c='text')}, ' '), x -> x != '') AS ws
      FROM documents),
grams AS (
  SELECT doc_id, source, g FROM (
    SELECT doc_id, source, unnest(ws) AS g FROM w
    UNION ALL
    SELECT doc_id, source, ws[i.i] || ' ' || ws[i.i + 1] AS g
    FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) i
  )
),
feats AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(g || '#dsir'), 1, 15))::BIGINT % {b} AS b
  FROM grams
),
p AS (SELECT b, COUNT(*) AS c FROM feats WHERE {target_pred} GROUP BY 1),
q AS (SELECT b, COUNT(*) AS c FROM feats GROUP BY 1),
tot AS (SELECT (SELECT COALESCE(SUM(c), 0) FROM p) AS np,
               (SELECT COALESCE(SUM(c), 0) FROM q) AS nq),
lrs AS (
  SELECT f.doc_id,
         ln((COALESCE(p.c, 0) + {k}) / (tot.np + {k} * {b}))
         - ln((COALESCE(q.c, 0) + {k}) / (tot.nq + {k} * {b})) AS lr
  FROM feats f
  LEFT JOIN p ON f.b = p.b
  LEFT JOIN q ON f.b = q.b
  CROSS JOIN tot
),
per_doc AS (
  SELECT doc_id, ROUND(SUM(lr), 6) AS dsir_logweight FROM lrs GROUP BY doc_id
)
"""


def _dsir_select_oracle() -> str:
    pred = "source IN " + str(tuple(DSIR_TARGET_SOURCES))
    return f"""
WITH {dsir_feats_ctes(pred).strip()},
adj AS (
  SELECT d.doc_id, d.source, per_doc.dsir_logweight,
         per_doc.dsir_logweight + (-ln(-ln(
           (((('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#dsir-gumbel'), 1, 15))::BIGINT >> 8)
             + 0.5) / 4503599627370496.0)))) AS a
  FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
),
ranked AS (
  SELECT doc_id, source, dsir_logweight,
         row_number() OVER (ORDER BY a DESC NULLS LAST, doc_id) AS rn
  FROM adj
)
SELECT doc_id, source, dsir_logweight
FROM ranked WHERE rn <= {DSIR_N} ORDER BY doc_id
"""


def _planted_values_sql(rows: list[tuple[int, str | None]]) -> str:
    """Render planted (id, text) rows as a SQL VALUES list — identical
    literals on both engines. Apostrophes are doubled; newline / \\x1e
    control chars embed as chr() concatenations (a raw control char inside
    a SQL literal is parser-dependent).

    Planted doc_ids live at >= 10^10: the base corpus ids are dense small
    ints and scripts/make_scaled_sf.py offsets replica keys by 10M per
    replica, so even a 100-replica scale dir tops out near 1.01e9 — a
    planted id can never collide with a real row (a collision would merge
    lines across docs in the groupBy rebuilds with nondeterministic
    string_agg tie order; round-10 advice)."""
    out = []
    for i, t in rows:
        if t is None:
            lit = "NULL"
        else:
            lit = (
                "'"
                + t.replace("'", "''").replace("\n", "' || chr(10) || '").replace("\x1e", "' || chr(30) || '")
                + "'"
            )
        out.append(f"({i}, {lit})")
    return ", ".join(out)


# Planted C4-shaped rows (the synthetic corpus is single-line and largely
# unpunctuated, so each published §2.2 rule gets a row that trips it —
# the tests/test_pipeline.py funnel fixture pattern). 100001: line rules
# (javascript / <3 words / no terminal punct); 100002: brace flag;
# 100003: lorem flag; 100004/100005: NULL/empty; 100006: blocklist word;
# 100007: punctuation RUNS count once ('...' is one boundary, not three).
C4_PLANTED: list[tuple[int, str | None]] = [
    (100001, 'Opening sentence stands alone.\nEnable JavaScript now please.\ntiny.\nA second good sentence follows!\nbare words without ending'),
    (100002, 'Code sample { x = 1; }\nReadable prose sentence here.'),
    (100003, 'Lorem ipsum placeholder page.\nReal content sentence too.'),
    (100004, None),
    (100005, ''),
    (100006, 'This page mentions badword openly.\nClean second line here.'),
    (100007, 'A trailing thought goes on...\nIs that really so?!\nOne more plain sentence.'),
]
C4_BAD_WORDS = ("badword",)
C4_MIN_SENTENCES = 3


def c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published C4 cleaning recipe (Raffel et al. 2020, §2.2) as one
    per-page view: C4HeuristicRefiner's line rules + page flags
    (operators/refiners.py) and C4PageFilter's verdict as a ``c4_page_pass``
    column (operators/filters.py:237), over documents plus the planted
    C4-shaped rows. Pure codegen'd Column HOFs — narrow map, fuses into the
    scan, zero shuffle at any scale — with an exact DuckDB mirror
    (list_filter + regexp over the chr(10)-split array)."""
    from mega_data_factory_spark.operators.filters import C4PageFilter
    from mega_data_factory_spark.operators.refiners import C4HeuristicRefiner

    t = load_tables(spark, sf_dir, ("documents",))
    base = t["documents"].select("doc_id", "text")
    planted = spark.createDataFrame(C4_PLANTED, "doc_id long, text string")
    df = C4HeuristicRefiner(bad_words=C4_BAD_WORDS).apply(base.unionByName(planted))
    df = df.withColumn("c4_page_pass", F.expr(C4PageFilter(min_sentences=C4_MIN_SENTENCES).predicate_sql(df)))
    return df.select(
        "doc_id",
        "c4_text",
        "c4_lines_removed",
        "c4_sentences",
        "c4_flag_brace",
        "c4_flag_lorem",
        "c4_flag_badword",
        "c4_page_pass",
    ).orderBy("doc_id")


def _c4_clean_oracle() -> str:
    import re as _re

    # ONE alternation with consuming (^|\W)...(\W|$) boundaries — the
    # refiner's exact pattern (RE2/Java common subset)
    words = "|".join(_re.escape(w.lower()) for w in C4_BAD_WORDS)
    badword_pat = r"(?:^|[^0-9A-Za-z_])(?:" + words + r")(?:[^0-9A-Za-z_]|$)"
    ws = r"[ \t\x0B\f\r]+"
    return f"""
WITH corpus(doc_id, text) AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES {_planted_values_sql(C4_PLANTED)})
),
kept AS (
  SELECT doc_id, text,
    CASE WHEN text IS NULL THEN NULL ELSE
      list_filter(string_split(text, chr(10)), u ->
        regexp_matches(trim(u), '[.!?"]$')
        AND len(list_filter(regexp_split_to_array(trim(u), '{ws}'), w -> w <> '')) >= 3
        AND NOT contains(lower(u), 'javascript'))
    END AS ks
  FROM corpus
),
flagged AS (
  SELECT doc_id,
    CASE WHEN text IS NULL THEN NULL ELSE COALESCE(array_to_string(ks, chr(10)), '') END AS c4_text,
    CAST(CASE WHEN text IS NULL THEN 0
         ELSE len(string_split(text, chr(10))) - len(ks) END AS INT) AS c4_lines_removed,
    CAST(COALESCE(len(regexp_extract_all(array_to_string(ks, chr(10)), '[.!?]+')), 0) AS INT) AS c4_sentences,
    COALESCE(contains(text, '{{'), FALSE) AS c4_flag_brace,
    COALESCE(contains(lower(text), 'lorem ipsum'), FALSE) AS c4_flag_lorem,
    COALESCE(regexp_matches(lower(text), '{badword_pat}'), FALSE) AS c4_flag_badword
  FROM kept
)
SELECT *,
  (NOT c4_flag_brace AND NOT c4_flag_lorem AND NOT c4_flag_badword
   AND c4_sentences >= {C4_MIN_SENTENCES}) AS c4_page_pass
FROM flagged ORDER BY doc_id
"""


# Planted multi-sentence rows for the chunker (the corpus is single-line
# and unpunctuated): budget-straddling sentences, punctuation-free text,
# NULL/blank docs, multi-mark runs, an over-budget single sentence (raw
# floor() ids jump — the DENSE index must not gap), embedded \\x1e chars.
CHUNK_PLANTED: list[tuple[int, str | None]] = [
    (200001, "One two three four. Five six seven! Eight nine ten eleven twelve? Tail."),
    (200002, "Single sentence no punct at all"),
    (200003, None),
    (200004, "   "),
    (200005, "A!? Multi mark run.  Double  spaced words here."),
    (200006, " ".join(f"w{k}" for k in range(20)) + ". Next one here."),
    (200007, "embedded \x1e sentinel chars. stripped before marking."),
]
CHUNK_TOKENS = 8


def sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentenceChunker (operators/packing.py): sentence-boundary-aware
    chunk assignment via the closed form floor(words_before / budget) —
    posexplode + ONE doc-keyed window + one (doc, chunk) rebuild groupBy,
    two compact shuffles, no Python — over documents plus planted
    multi-sentence rows. The closed form (unlike greedy filling) is
    exactly mirrorable in ANSI window SQL, so this row is hash-checked."""
    from mega_data_factory_spark.operators.packing import SentenceChunker

    t = load_tables(spark, sf_dir, ("documents",))
    base = t["documents"].select("doc_id", "text")
    planted = spark.createDataFrame(CHUNK_PLANTED, "doc_id long, text string")
    return (
        SentenceChunker(CHUNK_TOKENS)
        .apply(base.unionByName(planted))
        .select("doc_id", "chunk_index", "chunk_id", "chunk_text", "chunk_n_sentences", "chunk_n_tokens")
        .orderBy("doc_id", "chunk_index")
    )


def _sentence_chunks_oracle() -> str:
    ws = r"[ \t\x0B\f\r\n]+"
    b = float(CHUNK_TOKENS)
    return f"""
WITH corpus(doc_id, text) AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES {_planted_values_sql(CHUNK_PLANTED)})
),
cleaned AS (
  SELECT doc_id, replace(COALESCE(text, ''), chr(30), ' ') AS t FROM corpus
),
sents AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(t, '([.!?]+){ws}', '\\1' || chr(30), 'g'), chr(30))) AS sent,
         generate_subscripts(string_split(regexp_replace(t, '([.!?]+){ws}', '\\1' || chr(30), 'g'), chr(30)), 1) AS pos
  FROM cleaned
),
wd AS (
  SELECT doc_id, sent, pos,
         len(list_filter(regexp_split_to_array(sent, '{ws}'), w -> w <> '')) AS w
  FROM sents
),
assigned AS (
  SELECT doc_id, sent, pos, w,
         CAST(floor(CAST(COALESCE(sum(w) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) / {b}) AS INT) AS chunk
  FROM wd WHERE w > 0
),
chunks AS (
  SELECT doc_id, chunk,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY chunk) - 1 AS INT) AS dense,
         string_agg(sent, ' ' ORDER BY pos) AS chunk_text,
         CAST(count(*) AS INT) AS chunk_n_sentences,
         CAST(sum(w) AS BIGINT) AS chunk_n_tokens
  FROM assigned GROUP BY doc_id, chunk
)
SELECT c.doc_id,
       CAST(COALESCE(k.dense, 0) AS INT) AS chunk_index,
       c.doc_id || '#' || CAST(COALESCE(k.dense, 0) AS VARCHAR) AS chunk_id,
       COALESCE(k.chunk_text, '') AS chunk_text,
       COALESCE(k.chunk_n_sentences, 0) AS chunk_n_sentences,
       COALESCE(k.chunk_n_tokens, 0) AS chunk_n_tokens
FROM corpus c LEFT JOIN chunks k ON c.doc_id = k.doc_id
ORDER BY c.doc_id, chunk_index
"""


# Planted Gopher-rule rows: the signal-edge rows (bullet lists, ellipsis
# runs, hash noise, NULL/blank, 5-dot run) plus one row per FILTER rule
# (the funnel fixture shape from tests/test_curation.py): a surviving
# prose page and pages tripping word count / mean word length / hash
# ratio / bullet fraction / ellipsis-line fraction / stopword floor.
_GOPHER_PROSE = ("the quick brown fox jumps over that lazy dog with style and grace " * 8).strip()
GOPHER_PLANTED: list[tuple[int, str | None]] = [
    (10000910001, "• first bullet line\n• second bullet line\n- third dashed\nplain closing line."),
    (10000910002, "this sentence trails off...\nand this one too…\nbut not this one."),
    (10000910003, "numbers 123 456 ## 789 # zz42"),
    (10000910004, "the quick brown fox jumps over that lazy dog with style and more of it to be sure"),
    (10000910005, None),
    (10000910006, "   "),
    (10000910007, "wait..... five dots is one ellipsis run"),
    (10000920001, _GOPHER_PROSE),  # passes every rule
    (10000920002, "too few words to have any chance here"),  # word count < 50
    (10000920003, ("a " * 120).strip()),  # mean word len < 3 (and stopword-poor)
    (10000920004, _GOPHER_PROSE + " " + ("#tag " * 40).strip()),  # hash ratio > 0.1
    (10000920005, "\n".join(f"• {_GOPHER_PROSE[:40]}" for _ in range(10))),  # bullets > 90%
    (10000920006, "\n".join([_GOPHER_PROSE] + [f"{_GOPHER_PROSE[:30]}..." for _ in range(9)])),  # ellipsis lines > 30%
    (10000920007, ("zz9 " * 30 + _GOPHER_PROSE.replace("the", "zz1").replace("that", "zz2").replace("with", "zz3"))),  # stopwords < 2
]


def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher quality rules (Rae et al. 2021 §A1.1) as one
    per-page view: GopherQualityRefiner's eight structure signals
    (operators/refiners.py) and GopherQualityFilter's all-rules verdict as
    a ``gopher_pass`` column (operators/filters.py), over documents plus
    the planted rule-tripping rows. Pure codegen'd Column HOFs in the
    Java/RE2 common subset — narrow map, fuses into the scan, zero shuffle
    at any scale — with a token-for-token DuckDB mirror."""
    from mega_data_factory_spark.operators.filters import GopherQualityFilter
    from mega_data_factory_spark.operators.refiners import GopherQualityRefiner

    t = load_tables(spark, sf_dir, ("documents",))
    base = t["documents"].select("doc_id", "text")
    planted = spark.createDataFrame(GOPHER_PLANTED, "doc_id long, text string")
    df = GopherQualityRefiner().apply(base.unionByName(planted))
    df = df.withColumn("gopher_pass", F.expr(GopherQualityFilter().predicate_sql(df)))
    return df.select(
        "doc_id",
        "gopher_word_count",
        "gopher_mean_word_len",
        "gopher_hash_ratio",
        "gopher_ellipsis_ratio",
        "gopher_bullet_line_frac",
        "gopher_ellipsis_line_frac",
        "gopher_alpha_word_frac",
        "gopher_stopword_count",
        "gopher_pass",
    ).orderBy("doc_id")


def _gopher_quality_oracle() -> str:
    from mega_data_factory_spark.operators.refiners import GOPHER_BULLETS, GOPHER_STOPWORDS

    ws = r"[ \t\x0B\f\r\n]+"
    stop_sql = " + ".join(
        f"(CASE WHEN regexp_matches(lower(text), '(^|[^0-9A-Za-z_]){w}([^0-9A-Za-z_]|$)') THEN 1 ELSE 0 END)"
        for w in GOPHER_STOPWORDS
    )
    bullets_sql = " OR ".join(f"starts_with(trim(u), '{g}')" for g in GOPHER_BULLETS)
    # the filter's NULL-fails coalescing, mirrored term by term
    # (operators/filters.py GopherQualityFilter.predicate_sql)
    pass_sql = """
  COALESCE(gopher_word_count, -1) BETWEEN 50 AND 100000
  AND COALESCE(gopher_mean_word_len, -1.0) BETWEEN 3.0 AND 10.0
  AND COALESCE(gopher_hash_ratio, 1.0) <= 0.1
  AND COALESCE(gopher_ellipsis_ratio, 1.0) <= 0.1
  AND COALESCE(gopher_bullet_line_frac, 1.0) <= 0.9
  AND COALESCE(gopher_ellipsis_line_frac, 1.0) <= 0.3
  AND COALESCE(gopher_alpha_word_frac, 0.0) >= 0.8
  AND COALESCE(gopher_stopword_count, 0) >= 2
"""
    return f"""
WITH corpus(doc_id, text) AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES {_planted_values_sql(GOPHER_PLANTED)})
),
w AS (
  SELECT doc_id, text,
    list_filter(regexp_split_to_array(text, '{ws}'), x -> x <> '') AS words,
    string_split(text, chr(10)) AS lines
  FROM corpus
),
sig AS (
SELECT doc_id,
  CAST(CASE WHEN text IS NULL THEN NULL ELSE len(words) END AS INT) AS gopher_word_count,
  CASE WHEN len(words) > 0
       THEN round(CAST(list_aggregate(list_transform(words, x -> length(x)), 'sum') AS DOUBLE) / len(words), 6)
       END AS gopher_mean_word_len,
  CASE WHEN len(words) > 0
       THEN round(CAST(len(regexp_extract_all(text, '#')) AS DOUBLE) / len(words), 6) END AS gopher_hash_ratio,
  CASE WHEN len(words) > 0
       THEN round(CAST(len(regexp_extract_all(text, '\\.{{3,}}|…')) AS DOUBLE) / len(words), 6) END AS gopher_ellipsis_ratio,
  CASE WHEN len(lines) > 0
       THEN round(CAST(len(list_filter(lines, u -> {bullets_sql})) AS DOUBLE) / len(lines), 6) END AS gopher_bullet_line_frac,
  CASE WHEN len(lines) > 0
       THEN round(CAST(len(list_filter(lines, u -> ends_with(rtrim(u), '...') OR ends_with(rtrim(u), '…'))) AS DOUBLE) / len(lines), 6) END AS gopher_ellipsis_line_frac,
  CASE WHEN len(words) > 0
       THEN round(CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(words), 6) END AS gopher_alpha_word_frac,
  CAST(CASE WHEN text IS NULL THEN NULL ELSE ({stop_sql}) END AS INT) AS gopher_stopword_count
FROM w
)
SELECT *, ({pass_sql}) AS gopher_pass
FROM sig ORDER BY doc_id
"""


# Planted URL rows covering every canonicalization step: scheme case,
# www/port/userinfo/trailing-dot host cleanup, trailing-slash path cut,
# tracking-param removal + query sort, fragment cut, protocol-relative
# authorities, mailto/bare-email non-authorities, NULL/blank/host-less.
URLCANON_PLANTED: list[tuple[int, str | None]] = [
    (10000930001, "HTTPS://WWW.Example.COM:8080/Path/?utm_source=x&b=2&a=1#frag"),
    (10000930002, "http://example.com/Path?a=1&b=2"),
    (10000930003, "example.com/Path/?b=2&a=1&fbclid=zzz"),
    (10000930004, "ftp://user:pw@Host.NET./dir//"),
    (10000930005, "https://site.org/x?utm_campaign=c&gclid=g&ref"),
    (10000930006, "http://site.org?download&z=9"),
    (10000930007, "blog.example.co.uk/a/b/c?_ga=1.2&mc_cid=x&keep=yes"),
    (10000930008, "http://www.w.org:"),
    (10000930009, "site.io/page#section?notquery"),
    (10000930010, "mailto:info@example.com"),
    (10000930011, "Contact@Example.COM"),
    (10000930012, "//user:pw@Host.NET:8080/x/?b=2&utm_medium=m&a=1"),
    (10000930013, None),
    (10000930014, "   "),
    (10000930015, "/relative/only"),
]


def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``UrlCanonicalizeRefiner`` (operators/refiners.py) — the C4/
    RefinedWeb dedup-by-URL preparation — over the synthesized document
    URLs (the url_filter_full corpus) plus planted rows covering every
    canonicalization step. Pure codegen'd regex/HOF Columns in the
    Java/RE2 common subset, zero shuffle; the oracle mirrors each step
    token-for-token (promoted from the tests/test_curation.py bar)."""
    from mega_data_factory_spark.operators.refiners import UrlCanonicalizeRefiner
    from mega_data_factory_spark.plans.join_queries import _doc_urls

    base = _doc_urls(spark, sf_dir)
    planted = spark.createDataFrame(URLCANON_PLANTED, "doc_id long, url string")
    out = UrlCanonicalizeRefiner().apply(base.unionByName(planted))
    return out.select("doc_id", "url", "url_canonical").orderBy("doc_id")


def _url_canonicalize_oracle() -> str:
    from mega_data_factory_spark.functions.urls import TRACKING_PARAM_RE
    from mega_data_factory_spark.plans.join_queries import URL_CORPUS_SQL

    return f"""
WITH corpus(doc_id, url) AS (
  {URL_CORPUS_SQL.strip()}
  UNION ALL SELECT * FROM (VALUES {_planted_values_sql(URLCANON_PLANTED)})
),
s AS (
  SELECT doc_id, url,
         regexp_replace(regexp_replace(trim(url), '^([a-zA-Z][a-zA-Z0-9+.-]*:)?//', ''),
                        '#.*$', '') AS bare,
         trim(url) AS u
  FROM corpus
),
parts AS (
  SELECT doc_id, url, u, bare,
         regexp_matches(u, '^([a-zA-Z][a-zA-Z0-9+.-]*:)?//') AS had_authority,
         regexp_extract(bare, '^([^/?]+)', 1) AS authority,
         regexp_extract(bare, '^[^/?]+([^?]*)', 1) AS rawpath,
         CASE WHEN contains(bare, '?') THEN regexp_extract(bare, '\\?(.*)$', 1) ELSE '' END AS q
  FROM s
),
hp AS (
  SELECT doc_id, url, u, q,
         regexp_replace(regexp_replace(
             regexp_replace(lower(CASE WHEN had_authority
                                       THEN regexp_replace(authority, '^[^@]*@', '')
                                       ELSE authority END),
                            ':[0-9]*$', ''),
             '^www\\.', ''), '\\.$', '') AS host,
         regexp_replace(rawpath, '/+$', '') AS path
  FROM parts
),
qf AS (
  SELECT doc_id, url, u, host, path,
         list_sort(list_filter(string_split(q, '&'),
                   p -> length(p) > 0 AND NOT regexp_matches(p, '{TRACKING_PARAM_RE}'))) AS params
  FROM hp
)
SELECT doc_id, url,
       CASE WHEN u IS NULL OR length(u) = 0 OR length(host) = 0 THEN NULL
            ELSE host || path ||
                 CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END
       END AS url_canonical
FROM qf ORDER BY doc_id
"""


# Planted chunker rows: exact-stride doc, shorter-than-one-chunk, empty,
# NULL, NBSP (a WORD character under the engine-wide ASCII-whitespace
# tokenization), and mixed tab/newline/multi-space whitespace.
DOCCHUNK_PLANTED: list[tuple[int, str | None]] = [
    (10000940001, " ".join(f"w{i}" for i in range(80))),
    (10000940002, "one two"),
    (10000940003, ""),
    (10000940004, None),
    (10000940005, "foo bar baz qux quux corge"),
    (10000940006, "  leading and   multiple   spaces\ttabs\nnewlines here end."),
]
DOC_CHUNK_TOKENS, DOC_CHUNK_OVERLAP = 32, 8


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DocumentChunker`` (operators/packing.py) — overlapping
    fixed-token context windows, the long-doc training / retrieval-corpus
    preparation — over documents plus planted edge rows. One output row
    per chunk; split + sequence + transform + posexplode, zero Python,
    zero shuffle. The closed-form start positions (multiples of
    ``chunk - overlap`` while they add unseen words) are mirrored exactly
    in DuckDB list SQL."""
    from mega_data_factory_spark.operators.packing import DocumentChunker

    t = load_tables(spark, sf_dir, ("documents",))
    base = t["documents"].select("doc_id", "text")
    planted = spark.createDataFrame(DOCCHUNK_PLANTED, "doc_id long, text string")
    out = DocumentChunker(DOC_CHUNK_TOKENS, overlap_tokens=DOC_CHUNK_OVERLAP).apply(
        base.unionByName(planted)
    )
    return out.select(
        "doc_id", "chunk_index", "chunk_id", "chunk_text", "chunk_n_tokens"
    ).orderBy("doc_id", "chunk_index")


def _doc_chunks_oracle() -> str:
    chunk, overlap = DOC_CHUNK_TOKENS, DOC_CHUNK_OVERLAP
    stride = chunk - overlap
    # explicit class, not \s: Java's \s includes \x0B, RE2's does not
    ws = r"[ \t\x0B\f\r\n]+"
    return f"""
WITH corpus(doc_id, text) AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES {_planted_values_sql(DOCCHUNK_PLANTED)})
),
w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '{ws}'), x -> x <> '') AS words
  FROM corpus
),
st AS (
  SELECT doc_id, words,
         CAST(greatest(floor((len(words) - {overlap + 1}) / {stride}.0) * {stride}, 0) AS BIGINT) AS last_start
  FROM w
),
ex AS (
  SELECT doc_id, words, unnest(range(0, last_start + 1, {stride})) AS s
  FROM st
),
chunks AS (
  SELECT doc_id,
         CAST(s // {stride} AS INT) AS chunk_index,
         -- COALESCE: the empty-doc slice stringifies to NULL in DuckDB,
         -- where Spark's array_join gives '' (the one-empty-chunk row)
         COALESCE(array_to_string(list_slice(words, s + 1, s + {chunk}), ' '), '') AS chunk_text
  FROM ex
)
SELECT doc_id, chunk_index,
       CAST(doc_id AS VARCHAR) || '#' || CAST(chunk_index AS VARCHAR) AS chunk_id,
       chunk_text,
       CAST(CASE WHEN chunk_text = '' THEN 0
                 ELSE len(string_split(chunk_text, ' ')) END AS INT) AS chunk_n_tokens
FROM chunks ORDER BY doc_id, chunk_index
"""


# Planted intra-doc rows covering the refiner's edges: verbatim repeated
# paragraph (2 drops), short units (bullets/blanks) never deduped, no-dup
# doc, NULL text (stays NULL, 0 removed), empty text, and a mixed
# short-repeat + long-repeat doc.
INTRADOC_QUOTE = "the same quoted paragraph repeated verbatim"
INTRADOC_PLANTED: list[tuple[int, str | None]] = [
    (10000950001, f"opening prose line one\n{INTRADOC_QUOTE}\nmiddle prose\n{INTRADOC_QUOTE}\n{INTRADOC_QUOTE}\nclosing"),
    (10000950002, "-\nlong unique line alpha\n-\nlong unique line beta\n-"),
    (10000950003, "no duplicates here at all\nsecond distinct line"),
    (10000950004, None),
    (10000950005, ""),
    (10000950006, "   short   \n   short   \nlong enough repeated unit\nlong enough repeated unit"),
]


def _intradoc_corpus_lines():
    """The synthetic documents are single-line; build a deterministic
    multi-line corpus from each doc's own text so the line dedup has real
    work: three 60-char slices as lines, with doc_id%3 docs repeating
    line 1 and doc_id%5 docs repeating line 2 (so ~half the corpus has
    1-2 in-doc duplicates and the rest none)."""
    t = F.coalesce(F.col("text"), F.lit(""))
    l1, l2, l3 = (F.substring(t, 1 + 60 * i, 60) for i in range(3))
    synth = F.concat(
        F.concat_ws("\n", l1, l2, l3),
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("\n"), l1)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("\n"), l2)).otherwise(F.lit("")),
    )
    return synth


def intra_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``IntraDocDedupRefiner`` (operators/refiners.py) — the RefinedWeb
    intra-document repeated-line removal (first occurrence survives,
    later exact repeats drop, short units are never treated as
    duplicates) — over a deterministic multi-line rebuild of the
    documents corpus plus planted edge rows. Pure Column HOFs (one
    sorted-run pass over the split array): narrow map, fuses into the
    scan, zero shuffle at any scale. Mirror: DuckDB unnest WITH
    ORDINALITY + row_number per (doc, unit) + ordered string_agg rebuild
    (promoted from the tests/test_curation.py bar, rotation wave 5)."""
    from mega_data_factory_spark.operators.refiners import IntraDocDedupRefiner

    t = load_tables(spark, sf_dir, ("documents",))
    base = t["documents"].select("doc_id", _intradoc_corpus_lines().alias("text"))
    planted = spark.createDataFrame(INTRADOC_PLANTED, "doc_id long, text string")
    out = IntraDocDedupRefiner().apply(base.unionByName(planted))
    return out.select("doc_id", "text_deduped", "dup_units_removed").orderBy("doc_id")


def _intra_doc_dedup_oracle() -> str:
    return f"""
WITH corpus(doc_id, text) AS (
  SELECT doc_id,
         concat_ws(chr(10), substr(coalesce(text, ''), 1, 60),
                            substr(coalesce(text, ''), 61, 60),
                            substr(coalesce(text, ''), 121, 60))
         || CASE WHEN doc_id % 3 = 0 THEN chr(10) || substr(coalesce(text, ''), 1, 60) ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN chr(10) || substr(coalesce(text, ''), 61, 60) ELSE '' END
  FROM documents
  UNION ALL SELECT * FROM (VALUES {_planted_values_sql(INTRADOC_PLANTED)})
),
units AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS u,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos
  FROM corpus
),
marked AS (
  SELECT doc_id, u, pos,
         CASE WHEN length(trim(u)) >= 10
              THEN row_number() OVER (PARTITION BY doc_id, u ORDER BY pos)
              ELSE 1 END AS rn
  FROM units
),
rebuilt AS (
  SELECT doc_id,
         string_agg(CASE WHEN rn = 1 THEN u END, chr(10) ORDER BY pos) AS text_deduped,
         CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS INT) AS dup_units_removed
  FROM marked GROUP BY doc_id
)
SELECT c.doc_id,
       CASE WHEN c.text IS NULL THEN NULL ELSE COALESCE(r.text_deduped, '') END AS text_deduped,
       CAST(CASE WHEN c.text IS NULL THEN 0 ELSE COALESCE(r.dup_units_removed, 0) END AS INT) AS dup_units_removed
FROM corpus c LEFT JOIN rebuilt r ON c.doc_id = r.doc_id
ORDER BY c.doc_id
"""


# Planted NULL-group rows: NULL lang forms its OWN group and gets real
# buckets (the NUL-sentinel rule) — mirrored via COALESCE grouping.
PPLBUCKET_PLANTED: list[tuple[int, str | None, int]] = [
    (10000960001, None, 10),
    (10000960002, None, 20),
    (10000960003, None, 30),
]


def perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``PerplexityBucketRefiner`` (operators/lm.py) — the CCNet
    head/middle/tail corpus cut (Wenzek et al. 2020 §4.3): per-language
    exact tercile thresholds over a score column, one small aggregate
    joined back on the group key (no per-group total sort), codegen'd
    comparison for the bucket label. Scored here on ``n_chars`` grouped
    by ``lang`` over documents plus planted NULL-group rows. Mirror:
    DuckDB quantile_cont — the same p*(n-1) linear interpolation on
    identical doubles (promoted from the tests/test_lm.py bar, rotation
    wave 5)."""
    from mega_data_factory_spark.operators.lm import PerplexityBucketRefiner

    t = load_tables(spark, sf_dir, ("documents",))
    base = t["documents"].select("doc_id", "lang", "n_chars")
    planted = spark.createDataFrame(PPLBUCKET_PLANTED, "doc_id long, lang string, n_chars long")
    r = PerplexityBucketRefiner(score_col="n_chars", group_col="lang")
    out = r.apply(base.unionByName(planted))
    return out.select("doc_id", "ppl_bucket").orderBy("doc_id")


def _perplexity_bucket_oracle() -> str:
    planted = ", ".join(f"({i}, chr(0), {s}.0)" for i, _, s in PPLBUCKET_PLANTED)
    return f"""
WITH t AS (
  SELECT doc_id, COALESCE(lang, chr(0)) AS g, CAST(n_chars AS DOUBLE) AS s FROM documents
  UNION ALL SELECT * FROM (VALUES {planted})
),
q AS (SELECT g, quantile_cont(s, 1.0/3.0) AS c1, quantile_cont(s, 2.0/3.0) AS c2
      FROM t WHERE s IS NOT NULL GROUP BY g)
SELECT doc_id,
  CASE WHEN s IS NULL THEN NULL
       WHEN s <= c1 THEN 'head' WHEN s <= c2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
FROM t LEFT JOIN q USING (g) ORDER BY doc_id
"""


# Cross-document boilerplate rebuild: the synthetic documents are
# single-line, so the line corpus is manufactured deterministically — two
# 60-char prose slices (doc-unique) plus injected chrome lines whose
# doc-frequency brackets the 20% threshold at EVERY sf: CHROME1 on the
# even half, CHROME2 on every 4th doc (both >= the cut), RARE on ~1%
# (always below it), SHORT (8 chars < min_line_chars=10) on the odd half
# — counted never, removed never. Planted edges: NULL text (stays NULL),
# empty text (stays ''), an all-boilerplate doc (cleans to '').
BOILER_CHROME1 = "Accept cookies to continue browsing this site"
BOILER_CHROME2 = "All rights reserved footer boilerplate"
BOILER_RARE = "limited time promotional banner offer"
BOILER_SHORT = "hi again"
BOILER_PLANTED: list[tuple[int, str | None]] = [
    (10000960011, None),
    (10000960012, ""),
    (10000960013, BOILER_CHROME1),
]


def _boiler_corpus_text() -> Column:
    t = F.coalesce(F.col("text"), F.lit(""))
    l1, l2 = F.substring(t, 1, 60), F.substring(t, 61, 60)
    return F.concat(
        F.concat_ws("\n", l1, l2),
        F.when(F.col("doc_id") % 2 == 0, F.lit("\n" + BOILER_CHROME1)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 2 == 1, F.lit("\n" + BOILER_SHORT)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit("\n" + BOILER_CHROME2)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 97 == 0, F.lit("\n" + BOILER_RARE)).otherwise(F.lit("")),
    )


def boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``BoilerplateLineRefiner`` (operators/refiners.py) — CROSS-document
    boilerplate line removal (RefinedWeb/CCNet: a line occurring in >=
    max(min_docs, min_doc_frac x corpus) DISTINCT docs is chrome; strip it
    per-document, keep the prose) over a deterministic multi-line rebuild
    of the documents corpus plus planted edge rows. Scale shape: the
    shuffle key is the md5-derived 60-bit line HASH, never line text (the
    minhash compact-key discipline); distinct (doc, hash) pairs -> count
    -> threshold cut -> order-preserving per-doc rebuild. Mirror: DuckDB
    unnest + distinct doc-frequency + ordered string_agg (promoted from
    the tests/test_curation.py bar, rotation wave 6)."""
    from mega_data_factory_spark.operators.refiners import BoilerplateLineRefiner

    t = load_tables(spark, sf_dir, ("documents",))
    base = t["documents"].select("doc_id", _boiler_corpus_text().alias("text"))
    planted = spark.createDataFrame(BOILER_PLANTED, "doc_id long, text string")
    out = BoilerplateLineRefiner(min_doc_frac=0.2, min_docs=3).apply(
        base.unionByName(planted)
    )
    return out.select("doc_id", "text_cleaned", "boilerplate_lines_removed").orderBy("doc_id")


def _boilerplate_lines_oracle() -> str:
    def _inj(mod: int, rem: int, line: str) -> str:
        return f"|| CASE WHEN doc_id % {mod} = {rem} THEN chr(10) || '{line}' ELSE '' END"

    return f"""
WITH corpus(doc_id, text) AS (
  SELECT doc_id,
         concat_ws(chr(10), substr(coalesce(text, ''), 1, 60),
                            substr(coalesce(text, ''), 61, 60))
         {_inj(2, 0, BOILER_CHROME1)}
         {_inj(2, 1, BOILER_SHORT)}
         {_inj(4, 0, BOILER_CHROME2)}
         {_inj(97, 0, BOILER_RARE)}
  FROM documents
  UNION ALL SELECT * FROM (VALUES {_planted_values_sql(BOILER_PLANTED)})
),
lines AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos
  FROM corpus
),
nd AS (SELECT COUNT(*) AS ndocs FROM corpus),
counted AS (
  SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines
  WHERE length(trim(line)) >= 10 GROUP BY line
),
boiler AS (
  SELECT line FROM counted, nd
  WHERE df >= GREATEST(3, CAST(CEIL(0.2 * ndocs) AS BIGINT))
),
kept AS (
  SELECT l.doc_id, l.line, l.pos, b.line IS NULL AS keep
  FROM lines l LEFT JOIN boiler b
    ON (length(trim(l.line)) >= 10 AND l.line = b.line)
),
rebuilt AS (
  SELECT doc_id,
         COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '') AS text_cleaned,
         CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS INT) AS boilerplate_lines_removed
  FROM kept GROUP BY doc_id
)
SELECT c.doc_id,
       CASE WHEN c.text IS NULL THEN NULL ELSE COALESCE(r.text_cleaned, '') END AS text_cleaned,
       CAST(CASE WHEN c.text IS NULL THEN 0 ELSE COALESCE(r.boilerplate_lines_removed, 0) END AS INT) AS boilerplate_lines_removed
FROM corpus c LEFT JOIN rebuilt r ON c.doc_id = r.doc_id
ORDER BY c.doc_id
"""


# Quotas bracket the edges at every sf: src1/src5 cut below stratum size
# (25 docs/source at sf0.01), src3's zero-quota empties its stratum,
# src7's oversize quota keeps its stratum whole, and the 16 unquoted
# sources pass untouched.
STRATA_QUOTAS: dict[str, int] = {"src1": 17, "src3": 0, "src5": 4, "src7": 100000}


def stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``StratifiedQuotaSampler`` (operators/sampling.py) — keep EXACTLY
    min(quota, stratum size) rows per stratum, selected as the quota rows
    with the smallest (stable md5-derived hash, id). Computed with the
    histogram-boundary discipline (range-bucket the hash, count per
    (stratum, bucket) — one compact groupBy — keep/drop buckets wholesale
    and window ONLY the boundary bucket), not a full per-stratum sort: the
    100 TB shape. Mirror: the cut provably equals the global rank, so the
    oracle is row_number() OVER (PARTITION BY source ORDER BY h, id) <= q
    with the engine's hash reproduced bit-for-bit (promoted from the
    tests/test_curation.py bar, rotation wave 6)."""
    from mega_data_factory_spark.operators.sampling import StratifiedQuotaSampler

    t = load_tables(spark, sf_dir, ("documents",))
    out = StratifiedQuotaSampler(STRATA_QUOTAS, id_col="doc_id", stratum_col="source").apply(
        t["documents"]
    )
    return out.select("doc_id", "source").orderBy("doc_id")


def _stratified_quota_oracle() -> str:
    qcase = " ".join(f"WHEN source = '{s}' THEN {q}" for s, q in STRATA_QUOTAS.items())
    return f"""
WITH h AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#quota'), 1, 15))::BIGINT AS hh,
         CASE {qcase} ELSE NULL END AS q
  FROM documents
),
ranked AS (
  SELECT doc_id, source, q,
         row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn
  FROM h
)
SELECT doc_id, source FROM ranked
WHERE q IS NULL OR (doc_id IS NOT NULL AND rn <= q)
ORDER BY doc_id
"""


# text_length_filter and docs_token_stats are consolidated OUT of the
# driver window (TextLengthFilter stays driver-covered through
# curation_pipeline/curation_funnel_by_source/text_cleanup; the token
# stats now ride inside text_analysis) but keep their oracle-differential
# bar in tests/test_curation.py. The freed slots carry the round-6
# ngram_perplexity and sequence_packing rows; simhash_dedup's slot
# (signature validation subsumed by simhash_near_dedup's hash-anchored
# banding, with the exact form keeping its bar in
# tests/test_dedup_similarity.py) carries the epoch_mix row. Round 8:
# gopher_quality rides the slot freed by retiring simhash_near_dedup
# (plans/dedup_queries.py). Round 9 (rotation wave 5): intra_doc_dedup and
# perplexity_bucket ride the slots freed by retiring embedding_cosine_dedup
# (plans/dedup_queries.py) and events_json_props (plans/events.py); wave 6:
# boilerplate_lines and stratified_quota ride the slots freed by retiring
# cube_status_priority (plans/relational.py) and orders_daily_moving_avg
# (plans/window_queries.py).
QUERIES = {
    "intra_doc_dedup": intra_doc_dedup,
    "perplexity_bucket": perplexity_bucket,
    "boilerplate_lines": boilerplate_lines,
    "stratified_quota": stratified_quota,
    "epoch_mix": epoch_mix,
    "dataset_split_mix": dataset_split_mix,
    "warc_extract": warc_extract,
    "curation_funnel_by_source": curation_funnel_by_source,
    "orders_dedup_rejected": orders_dedup_rejected,
    "text_analysis": text_analysis,
    "ngram_perplexity": ngram_perplexity,
    "sequence_packing": sequence_packing,
    "text_cleanup": text_cleanup,
    "url_rule_filters": url_rule_filters,
    "dsir_select": dsir_select,
    "c4_clean": c4_clean,
    "gopher_quality": gopher_quality,
    "url_canonicalize": url_canonicalize,
    "curation_pipeline": curation_pipeline,
}

ORACLE = {
    "intra_doc_dedup": _intra_doc_dedup_oracle(),
    "perplexity_bucket": _perplexity_bucket_oracle(),
    "boilerplate_lines": _boilerplate_lines_oracle(),
    "stratified_quota": _stratified_quota_oracle(),
    "epoch_mix": _epoch_mix_oracle(),
    "dataset_split_mix": _dataset_split_mix_oracle(),
    "warc_extract": _warc_extract_oracle(),
    "curation_funnel_by_source": FUNNEL_ORACLE,
    "orders_dedup_rejected": ORDERS_DEDUP_REJECTED_ORACLE,
    "text_analysis": _text_analysis_oracle(),
    "ngram_perplexity": _ngram_perplexity_oracle(),
    "sequence_packing": _sequence_packing_oracle(),
    "text_cleanup": _text_cleanup_oracle(),
    "url_rule_filters": URL_RULES_ORACLE,
    "dsir_select": _dsir_select_oracle(),
    "c4_clean": _c4_clean_oracle(),
    "gopher_quality": _gopher_quality_oracle(),
    "url_canonicalize": _url_canonicalize_oracle(),
    "curation_pipeline": CURATION_PIPELINE_ORACLE,
}

# Rotation wave 8 (round 10): text_exact_dedup retires after eight
# straight hash-green rounds — normalize->md5 exact dedup stays
# driver-covered end-to-end inside curation_pipeline and the minhash/
# jaccard rows key on the same normalize core; the full oracle bar stays
# here via plans.retired_queries (tests/test_dedup_similarity.py). Its
# window slot carries the re-promoted parts_price_range_join row
# (plans/join_queries.py).
RETIRED_QUERIES = {
    "text_exact_dedup": text_exact_dedup,
    # Rotation wave 9 (round 11): sentence_chunks retires after eight
    # straight hash-green rounds — sentence-boundary chunking keeps its
    # exact oracle bar here while the chunking family stays
    # driver-covered by doc_chunks (same closed-form offset machinery);
    # its slot carries the re-promoted q3_segment_revenue row
    # (plans/relational.py).
    "sentence_chunks": sentence_chunks,
    # Rotation wave 10 (round 12): orders_first_per_customer retires after
    # eleven straight hash-green rounds — first-wins window dedup stays
    # driver-covered by orders_dedup_rejected (the same operator's
    # rejected side, identical window machinery) while the exact oracle
    # bar stays here; its slot carries the re-promoted topk_orders row
    # (plans/relational.py).
    "orders_first_per_customer": orders_first_per_customer,
    # Rotation wave 10 (round 12): doc_chunks retires after eleven
    # straight hash-green rounds — closed-form chunking stays
    # driver-covered by sequence_packing (the same offset machinery)
    # while the exact oracle bar stays here; its slot carries the
    # re-promoted events_hourly_agg row (plans/events.py).
    "doc_chunks": doc_chunks,
    # Rotation wave 11 (round 13): curation_rejection_summary retires after
    # twelve straight hash-green rounds — the rejection-funnel family stays
    # driver-covered by curation_pipeline (same funnel, the summary's
    # input) and curation_funnel_by_source (the per-source cut of the same
    # rejection structs); its slot carries the re-promoted
    # shared_span_dedup row (plans/dedup_queries.py).
    "curation_rejection_summary": curation_rejection_summary,
}
RETIRED_ORACLE = {
    "text_exact_dedup": TEXT_DEDUP_ORACLE,
    "sentence_chunks": _sentence_chunks_oracle(),
    "orders_first_per_customer": ORDERS_DEDUP_ORACLE,
    "doc_chunks": _doc_chunks_oracle(),
    "curation_rejection_summary": REJECTION_SUMMARY_ORACLE,
}

"""Pinned values for the SQL-text operator expressions.

Every hot operator expression is authored once, as SQL text, and its
Column form is that text through ``F.expr``. The expected outputs below
were generated with the earlier two-rendering code, on the inputs its
parity tests used, where the composed-Column and SQL-text forms were
proven equal. These tests pin the single rendering to those values:
quotes, backslashes, regex metacharacters, repeated lines, unicode, empty
and NULL text, a precomputed ``length_col``, the ``sep`` variant of
``IntraDocDedupRefiner``, wide-integer / infinite / boolean literals and
backtick-carrying column names. The URL, domain, word-score, image and
sampling filters and the simhash key were pinned the same way on their
composed-Column code before it was rewritten as SQL text. Wide outputs
are pinned by a digest of their stringified rows (``_digest``); short
ones are spelled out.
"""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

import mega_data_factory_spark.operators.dedup as D
import mega_data_factory_spark.operators.filters as Fi
import mega_data_factory_spark.operators.refiners as R
import mega_data_factory_spark.operators.sampling as S
from mega_data_factory_spark.functions.hashing import hash64_from_md5
from mega_data_factory_spark.functions.text import sql_ident, word_shingles
from mega_data_factory_spark.operators.base import REJECTION_STRUCT_DDL, rejection_details_sql
from mega_data_factory_spark.plans.pipeline import Pipeline

ROWS = [
    (0, "the cat and the hat el la de que der die und das le les et des"),
    (1, "repeat line\nrepeat line\nrepeat line\nunique tail line here"),
    (2, "it's a 'quoted' back\\slash c++ a.b [set] (paren) #tag ..."),
    (3, "• bullet one\n- bullet two\nends with ellipsis...\nplain line."),
    (4, "Tür tür TÜR déjà vu … naïve"),
    (5, "word " * 50 + "word"),
    (6, ""),
    (7, None),
]
# the dedup fixture adds a case/whitespace variant, an exact copy, and a
# second NULL and empty text, so the content keys have duplicates to find
DUP_ROWS = ROWS + [
    (8, "  THE cat and the HAT el la de que der die und das le les et des "),
    (9, "it's a 'quoted' back\\slash c++ a.b [set] (paren) #tag ..."),
    (10, None),
    (11, ""),
]

REFINERS = [
    pytest.param(lambda: R.TextStatsRefiner(), id="TextStatsRefiner"),
    pytest.param(lambda: R.TextStatsRefiner(length_col="n_chars"), id="TextStatsRefiner-lencol"),
    pytest.param(lambda: R.LanguageIdRefiner(), id="LanguageIdRefiner"),
    pytest.param(lambda: R.QualityScoreRefiner(), id="QualityScoreRefiner"),
    pytest.param(lambda: R.GopherQualityRefiner(), id="GopherQualityRefiner"),
    pytest.param(lambda: R.RepetitionStatsRefiner(), id="RepetitionStatsRefiner"),
    pytest.param(lambda: R.IntraDocDedupRefiner(), id="IntraDocDedupRefiner"),
    pytest.param(
        lambda: R.IntraDocDedupRefiner(sep=". ", min_unit_chars=4, out_col="td"),
        id="IntraDocDedupRefiner-sep",
    ),
]

WORD_WEIGHTS = {"the": 0.4, "line": 0.3, "c++": 0.2, "a.b": 0.1, "tür": 0.5}
BLOCKED = ["spam-casino.biz", "Bad.Example.net"]
URL_WEIGHTS = {"casino": 0.8, "poker": 0.6, "wiki": 0.3}
# the filter fixture's url / domain / source / image columns, per doc_id:
# NULL, empty and malformed URLs, a NULL and an empty domain, parent-suffix
# and case-variant blocklist hits, and NULL image measurements
URLS = [
    "http://spam-casino.biz/win", "https://sub.BAD.example.net/a?q=poker", None, "", "not a url ::: %%",
    "en.wikipedia.org/wiki/Cat", "http://[bad/casino", "https://GitHub.com/x/casino-poker",
]
DOMAINS = ["spam-casino.biz", "a.Bad.example.net", None, "", "good.org", "wikipedia.org", "x.spam-casino.biz", "ok"]
SOURCES = ["books", "cc", "cc", "wiki", None, "books", "cc", "other"]
IMAGES = [
    (300, 300, 0.1, 4.0), (None, 300, 0.1, 4.0), (256, 256, 0.8, 3.0), (300, 300, None, 4.0),
    (300, 300, 0.1, None), (255, 300, 0.1, 4.0), (None, None, None, None), (1000, 900, 0.81, 7.5),
]

FILTERS = [
    pytest.param(
        lambda: Fi.NumericRangeFilter(column="score", lo=1, hi=0.6, name="RangeCut"), id="NumericRangeFilter"
    ),
    pytest.param(lambda: Fi.NumericRangeFilter(column="score", lo=0.3, name="LoOnly"), id="NumericRangeFilter-lo"),
    pytest.param(lambda: Fi.TextLengthFilter(min_length=5, max_length=1000), id="TextLengthFilter"),
    pytest.param(
        lambda: Fi.TextLengthFilter(min_length=5, max_length=1000, length_col="n_chars"),
        id="TextLengthFilter-lencol",
    ),
    pytest.param(lambda: Fi.GopherQualityFilter(), id="GopherQualityFilter"),
    pytest.param(lambda: Fi.C4PageFilter(), id="C4PageFilter"),
    pytest.param(lambda: Fi.WordScoreFilter(WORD_WEIGHTS, 0.45), id="WordScoreFilter"),
    pytest.param(lambda: Fi.DomainBlocklistFilter(BLOCKED), id="DomainBlocklistFilter"),
    pytest.param(lambda: Fi.UrlFilter(blocked_domains=BLOCKED), id="UrlFilter-blocklist"),
    pytest.param(lambda: Fi.UrlFilter(word_weights=URL_WEIGHTS, threshold=0.5), id="UrlFilter-weights"),
    pytest.param(lambda: Fi.UrlFilter(exclude_quality_sources=True), id="UrlFilter-quality"),
    pytest.param(lambda: Fi.ImageQualityFilter(), id="ImageQualityFilter"),
    pytest.param(
        lambda: S.WeightedSourceSampler({"books": 1.0, "cc": 0.3, "wiki": 0.0}, default_weight=0.5),
        id="WeightedSourceSampler",
    ),
]

DEDUPS = [
    pytest.param(lambda: D.TextExactDeduplicator(), id="TextExact"),
    pytest.param(lambda: D.TextExactDeduplicator(url_col="url", lowercase=False), id="TextExact-url"),
    pytest.param(lambda: D.TextExactDeduplicator(collapse_whitespace=False, name="Exact2"), id="TextExact-nocollapse"),
    pytest.param(lambda: D.KeyDeduplicator(["url"], order_col="doc_id"), id="KeyDedup-single"),
    pytest.param(lambda: D.KeyDeduplicator(["url", "n_chars"], order_col="doc_id"), id="KeyDedup-multi"),
    pytest.param(lambda: D.KeyDeduplicator(["url"], order_col="doc_id", null_keys="distinct"), id="KeyDedup-distinct"),
    pytest.param(
        lambda: D.KeyDeduplicator(["url", "n_chars"], order_col="doc_id", null_keys="distinct"),
        id="KeyDedup-multi-distinct",
    ),
    pytest.param(lambda: D.SimHashDeduplicator(), id="SimHash"),
]

# ---------------------------------------------------------------- pinned

# output columns, then per-doc_id rows (or a digest of them)
REFINER_VALUES = {
    "GopherQualityRefiner": (
        (
            "gopher_word_count", "gopher_mean_word_len", "gopher_hash_ratio", "gopher_ellipsis_ratio",
            "gopher_bullet_line_frac", "gopher_ellipsis_line_frac", "gopher_alpha_word_frac",
            "gopher_stopword_count",
        ),
        [
            ("17", "2.705882", "0.0", "0.0", "0.0", "0.0", "1.0", "2"),
            ("10", "4.8", "0.0", "0.0", "0.0", "0.0", "1.0", "0"),
            ("10", "4.8", "0.1", "0.1", "0.0", "1.0", "0.9", "0"),
            ("11", "4.454545", "0.0", "0.090909", "0.5", "0.25", "0.818182", "1"),
            ("7", "3.0", "0.0", "0.142857", "0.0", "0.0", "0.857143", "0"),
            ("51", "4.0", "0.0", "0.0", "0.0", "0.0", "1.0", "0"),
            ("0", "None", "None", "None", "0.0", "0.0", "None", "0"),
            ("None", "None", "None", "None", "None", "None", "None", "None"),
        ],
    ),
    "IntraDocDedupRefiner": (
        ("text_deduped", "dup_units_removed"),
        "7015e03f9c781f29",
    ),
    "IntraDocDedupRefiner-sep": (
        ("td", "dup_units_removed"),
        "fc840d92b454b4f3",
    ),
    "LanguageIdRefiner": (
        ("lang_pred", "lang_score"),
        [
            ("es", "4"), ("und", "0"), ("en", "2"), ("und", "0"), ("und", "0"), ("und", "0"),
            ("und", "0"), ("und", "0"),
        ],
    ),
    "QualityScoreRefiner": (
        ("stopword_ratio", "quality_score"),
        [
            ("0.176471", "0.298706"), ("0.0", "0.32"), ("0.2", "0.62"), ("0.090909", "0.458364"),
            ("0.0", "0.314"), ("0.0", "0.402"), ("0.0", "0.0"), ("0.0", "0.0"),
        ],
    ),
    "RepetitionStatsRefiner": (
        ("dup_word_ratio", "top_bigram_ratio"),
        [
            ("0.058824", "0.0625"), ("0.5", "0.333333"), ("0.0", "0.111111"), ("0.090909", "0.1"),
            ("0.285714", "0.333333"), ("0.980392", "1.0"), ("0.0", "0.0"), ("0.0", "0.0"),
        ],
    ),
    "TextStatsRefiner": (
        ("text_length", "token_count", "avg_token_len"),
        [
            ("62", "17", "2.705882"), ("57", "10", "4.8"), ("57", "10", "4.8"),
            ("59", "11", "4.454545"), ("27", "7", "3.0"), ("254", "51", "4.0"), ("0", "0", "0.0"),
            ("0", "0", "0.0"),
        ],
    ),
    "TextStatsRefiner-lencol": (
        ("text_length", "token_count", "avg_token_len"),
        [
            ("62", "17", "2.705882"), ("57", "10", "4.8"), ("57", "10", "4.8"),
            ("59", "11", "4.454545"), ("27", "7", "3.0"), ("254", "51", "4.0"), ("0", "0", "0.0"),
            ("0", "0", "0.0"),
        ],
    ),
}
SHINGLE_DIGESTS = {1: "e01a01a78bcab50e", 2: "eab2ee23b069fc1a", 3: "268536ccf25b462e", 4: "088fc483c399f2b0"}
HASH64_VALUES = {
    "a'b\\c": [
        6693868686953206, 745063320733447559, 604011744762932156, 949563868019388666,
        667489273257699504, 873698094772337695, 440733046328359732, None,
    ],
    "wds": [
        422479339523683900, 874749748505842215, 780561666691431165, 752648430322637717,
        45666413000324319, 401667895037123714, 1093123634929896587, None,
    ],
    0: [
        857008399020163243, 990730419064407122, 1122539966698494073, 758191114014412069,
        296012544581474862, 206907513558021784, 635800711565145161, None,
    ],
    7: [
        731055146240677273, 61963173173411831, 827830337093679286, 551075714614295735,
        326333222002252689, 665078909663050555, 67608196039695984, None,
    ],
    None: [
        204105304346243653, 525550377177666144, 18721393713730023, 411853922149811988,
        748964470201536578, 532526309055441580, 955282973525019424, None,
    ],
}
MINHASH_BANDS = (168, "c682e44974a93cff")
# keep() per doc_id
KEEP_VALUES = {
    "C4PageFilter": [False, False, False, False, False, False, False, False],
    "DomainBlocklistFilter": [False, False, True, True, True, True, False, True],
    "GopherQualityFilter": [False, False, False, False, False, False, False, False],
    "GopherQualityFilter-wide": [False, True, False, True, False, True, False, False],
    "ImageQualityFilter": [True, False, True, False, False, False, False, False],
    "NumericRangeFilter": [False, False, False, False, False, False, False, False],
    "NumericRangeFilter-backtick": [False, True, False, True, False, True, True, True],
    "NumericRangeFilter-inf": [False, True, False, True, False, True, True, True],
    "NumericRangeFilter-lo": [False, True, False, True, False, True, True, True],
    "NumericRangeFilter-wide": [True, True, True, True, True, True, True, True],
    "TextLengthFilter": [True, True, True, True, True, True, False, False],
    "TextLengthFilter-lencol": [True, True, True, True, True, True, False, False],
    "TextLengthFilter-wide": [True, True, True, True, True, True, False, False],
    "UrlFilter-blocklist": [False, False, True, True, True, True, True, True],
    "UrlFilter-quality": [True, True, True, True, True, False, True, False],
    "UrlFilter-weights": [False, False, True, True, True, True, False, False],
    "WeightedSourceSampler": [True, False, False, False, True, True, False, False],
    "WordScoreFilter": [False, True, True, True, False, True, True, True],
}
# (pipeline tag digest, standalone survivors, standalone rejections digest)
DEDUP_VALUES = {
    "KeyDedup-backtick": ("4de71b7ca7b7012b", [0, 1, 3], "5c48f87fe2f5e095"),
    "KeyDedup-distinct": ("ee02562c1320c91b", [0, 1, 2, 3, 4, 5, 7, 8, 10, 11], "c67d5b3e091454f3"),
    "KeyDedup-multi": ("5e3fb3ceed9d4fef", [0, 1, 2, 3, 4, 6, 8], "467807eb79b8c19a"),
    "KeyDedup-multi-distinct": (
        "b315f15dc7d81574", [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11], "4f53cda18c2baa0c"
    ),
    "KeyDedup-single": ("4de71b7ca7b7012b", [0, 1, 3], "5c48f87fe2f5e095"),
    "SimHash": ("09f5cc3aaf9cad6e", [0, 1, 2, 3, 4, 5, 6, 7, 10], "a475c4490faba194"),
    "TextExact": ("c48ac2778b8e411d", [0, 1, 2, 3, 4, 5, 6, 7, 10], "2b8a187a999d8a27"),
    "TextExact-backtick": ("c48ac2778b8e411d", [0, 1, 2, 3, 4, 5, 6, 7, 10], "2b8a187a999d8a27"),
    "TextExact-nocollapse": (
        "9119257a9b9abdde", [0, 1, 2, 3, 4, 5, 6, 7, 8, 10], "3990a44bd651b454"
    ),
    "TextExact-url": (
        "b315f15dc7d81574", [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11], "4f53cda18c2baa0c"
    ),
}
# IncrementalKeyDeduplicator keys on the dedup fixture, per null_keys mode and key width
INCREMENTAL_KEYS = {
    "distinct-1": [
        "http://ex.com/0", "\x00N\x1f1", "\x00N\x1f2", "http://ex.com/1", "\x00N\x1f4",
        "\x00N\x1f5", "http://ex.com/0", "\x00N\x1f7", "\x00N\x1f8", "http://ex.com/1",
        "\x00N\x1f10", "\x00N\x1f11",
    ],
    "distinct-2": [
        "http://ex.com/0\x1f62", "\x00N\x1f1", "\x00N\x1f2", "\x00N\x1f3", "\x00N\x1f4",
        "\x00N\x1f5", "http://ex.com/0\x1f0", "\x00N\x1f7", "\x00N\x1f8", "\x00N\x1f9",
        "\x00N\x1f10", "\x00N\x1f11",
    ],
    "group-1": [
        "http://ex.com/0", "\x00", "\x00", "http://ex.com/1", "\x00", "\x00", "http://ex.com/0",
        "\x00", "\x00", "http://ex.com/1", "\x00", "\x00",
    ],
    "group-2": [
        "http://ex.com/0\x1f62", "\x00\x1f\x00", "\x00\x1f57", "http://ex.com/1\x1f\x00",
        "\x00\x1f27", "\x00\x1f\x00", "http://ex.com/0\x1f0", "\x00\x1f\x00", "\x00\x1f65",
        "http://ex.com/1\x1f\x00", "\x00\x1f\x00", "\x00\x1f\x00",
    ],
}
SIMHASH_VALUES = [
    23362502065276022, 291911740260876648, 655581812052119459, 358778491737064154,
    213035601231147633, 60093474051096336, 955282973525019424, None, 23362502065276022,
    655581812052119459, None, 955282973525019424,
]

# --------------------------------------------------------------- helpers


def _digest(rows) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def _check(rows, expected) -> None:
    assert (_digest(rows) if isinstance(expected, str) else rows) == expected


def _str_rows(df, cols, order="doc_id"):
    return [tuple(str(r[c]) for c in cols) for r in df.orderBy(order).collect()]


def _fixture_df(spark, rows=ROWS):
    return spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "n_chars", F.when(F.col("doc_id") % 2 == 0, F.length("text"))
    )


def _with_tags(df, dead_id: int | None = None):
    """Add the tag column; ``dead_id``'s row arrives already rejected."""
    tag = F.lit(None).cast(REJECTION_STRUCT_DDL)
    if dead_id is not None:
        tag = F.when(F.col("doc_id") == dead_id, F.expr(rejection_details_sql("filtered", "Pre"))).otherwise(tag)
    return df.withColumn("_rejection_details", tag)


def _pipe() -> Pipeline:
    pipe = Pipeline.__new__(Pipeline)
    pipe._mid_cached = []
    return pipe


def _norm(plan: str) -> str:
    return re.sub(r"#\d+", "#N", plan)


def _analyzed(df) -> str:
    return _norm(df._jdf.queryExecution().analyzed().toString())


# -------------------------------------------------------------- refiners


@pytest.mark.parametrize("make_refiner", REFINERS)
def test_fast_path_tree_identical(spark, make_refiner):
    """The Column form IS the parsed SQL text: withColumns over
    ``columns()`` analyzes to the same tree as a selectExpr of
    ``columns_sql_text()`` — there is no second rendering to drift."""
    df = _fixture_df(spark)
    op = make_refiner()
    texts = op.columns_sql_text(df)
    via_columns = df.withColumns(op.columns(df))
    via_text = df.selectExpr("*", *[f"{s} AS {sql_ident(k, literal=True)}" for k, s in texts.items()])
    assert _analyzed(via_columns) == _analyzed(via_text)


@pytest.mark.parametrize("make_refiner", REFINERS)
def test_fast_path_values_identical(spark, make_refiner, request):
    cols, expected = REFINER_VALUES[request.node.callspec.id]
    out = make_refiner().apply(_fixture_df(spark))
    _check(_str_rows(out, cols), expected)


@pytest.mark.parametrize("make_refiner", REFINERS)
def test_pipeline_refiner_projection_twin(spark, make_refiner, request):
    """The pipeline's one-selectExpr projection (alive gate folded into
    each CASE): the pinned values on alive rows, NULL on the dead row."""
    cols, expected = REFINER_VALUES[request.node.callspec.id]
    df = _fixture_df(spark)
    alive = _str_rows(make_refiner().apply(df), cols)
    _check(alive, expected)
    out = _pipe()._apply(_with_tags(df, dead_id=1), make_refiner())
    dead = tuple("None" for _ in cols)
    assert _str_rows(out, cols) == [dead if i == 1 else row for i, row in enumerate(alive)]


def test_pipeline_refiner_projection_collision_falls_back(spark):
    """An output name that already exists is replaced IN PLACE inside the
    one selectExpr — matched case-insensitively, keeping its position, as
    withColumns would; new names append after."""
    df = _with_tags(_fixture_df(spark)).withColumn("TOKEN_COUNT", F.lit(-1))
    out = _pipe()._apply(df, R.TextStatsRefiner())
    assert out.columns == [
        "doc_id", "text", "n_chars", "_rejection_details", "token_count", "text_length", "avg_token_len"
    ]
    cols, expected = REFINER_VALUES["TextStatsRefiner"]
    _check(_str_rows(out, cols), expected)


def test_fast_path_actually_dispatches(spark):
    """Every operator of the lists above authors SQL text for every
    parameterization, and identifiers render the way F.col reads them."""
    df = _with_tags(_fixture_df(spark)).withColumn("url", F.lit("u")).withColumn("score", F.lit(0.5))
    for p in REFINERS:
        assert p.values[0]().columns_sql_text(df) is not None, p.id
    for p in FILTERS:
        assert p.values[0]().predicate_sql(df) is not None, p.id
    for p in DEDUPS:
        assert p.values[0]().key_sql(df) is not None, p.id
    assert sql_ident("text") == "`text`"
    assert sql_ident("meta.text") == "`meta`.`text`"
    assert sql_ident("`a.b`.c") == "`a.b`.`c`"
    assert sql_ident("`te``xt`") == "`te``xt`"
    assert sql_ident("te`xt") == "`te``xt`"  # F.col rejects it: one literal name
    assert sql_ident("a.b", literal=True) == "`a.b`"
    with pytest.raises(TypeError):
        sql_ident(F.col("text"))


# ------------------------------------------------------- shared builders


@pytest.mark.parametrize("n", [1, 2, 3, 4])
def test_word_shingles_twin(spark, n):
    df = _fixture_df(spark)
    rows = [str(r[0]) for r in df.orderBy("doc_id").select(word_shingles("text", n)).collect()]
    assert _digest(rows) == SHINGLE_DIGESTS[n]


def _words(k: int) -> str:
    return "  ".join((f"W{i}" if i % 2 else f"w{i}") for i in range(1, k + 1))


@pytest.mark.parametrize("n", [15, 1])
def test_word_shingles_length_edges(spark, n):
    """Exactly n words, n-1 words, empty, whitespace-only and NULL text,
    pinned to the zip_with-chain builder's outputs; n+2 words give the 3
    sliding windows."""
    rows = [(1, _words(n) + " \t"), (2, "\n" + _words(n - 1)), (3, ""), (4, " \t\n "), (5, None),
            (6, _words(n + 2))]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {r.id: r.s for r in df.select("id", word_shingles("text", n).alias("s")).collect()}
    ws = [f"w{i}" for i in range(1, n + 3)]
    assert got == {
        1: [" ".join(ws[:n])],
        2: [" ".join(ws[: n - 1])],  # n=1: the empty text's one empty shingle
        3: [""],
        4: [""],
        5: None,
        6: [" ".join(ws[i : i + n]) for i in range(3)],
    }


@pytest.mark.parametrize("seed", [None, 0, 7, "wds", "a'b\\c"])
def test_hash64_twin(spark, seed):
    df = _fixture_df(spark)
    got = [r[0] for r in df.orderBy("doc_id").select(hash64_from_md5("text", seed=seed)).collect()]
    assert got == HASH64_VALUES[seed]


def test_minhash_band_ids_twin(spark):
    """The MinHash band fold reuses hash64_from_md5's SQL text; the band
    ids are the bit-for-bit key contract with the DuckDB mirror."""
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(9)) + f" tail{i % 5}")
        for i in range(40)
    ] + [(100, None), (101, ""), (102, "short")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bands = sorted(map(tuple, D.MinHashLSHDeduplicator(num_hashes=8, bands=4)._band_ids(df).collect()))
    assert (len(bands), hashlib.sha256(repr(bands).encode()).hexdigest()[:16]) == MINHASH_BANDS


# --------------------------------------------------------------- filters


def _filter_fixture(spark):
    extra = spark.createDataFrame(
        [(i, URLS[i], DOMAINS[i], SOURCES[i], *IMAGES[i]) for i in range(len(ROWS))],
        "doc_id long, url string, domain string, source string, image_width int, image_height int, "
        "image_compression_artifacts double, image_information_entropy double",
    )
    df = _with_tags(_fixture_df(spark).join(extra, "doc_id"))
    df = df.withColumn("score", (F.col("doc_id") * 7 % 13).cast("double") / 10)
    df = R.GopherQualityRefiner().apply(df)
    return R.C4HeuristicRefiner().apply(df)


def _keep(df, op):
    return [r[0] for r in df.orderBy("doc_id").selectExpr(op.keep_sql(df)).collect()]


@pytest.mark.parametrize("make_filter", FILTERS)
def test_filter_keep_twin(spark, make_filter, request):
    assert _keep(_filter_fixture(spark), make_filter()) == KEEP_VALUES[request.node.callspec.id]


@pytest.mark.parametrize("make_filter", FILTERS)
def test_filter_tag_twin(spark, make_filter, request):
    """The pipeline's filter tag rejects exactly the rows the pinned keep
    flags reject, with the 'filtered' struct naming the operator."""
    op = make_filter()
    out = _pipe()._apply(_filter_fixture(spark), op)
    tags = [r[0] for r in out.orderBy("doc_id").select("_rejection_details").collect()]
    for keep, tag in zip(KEEP_VALUES[request.node.callspec.id], tags):
        assert (tag is None) == keep
        assert keep or (tag["reason"], tag["operator"]) == ("filtered", op.name)


def test_filter_twin_refuses_unspellable(spark):
    """Parameterizations the two-rendering code could only build as
    Columns — ints wider than 32 bits, an infinite bound, a
    backtick-carrying column name — are spelled in SQL and keep their
    values; the pipeline tag agrees with keep() for each."""
    df = _filter_fixture(spark)
    cases = {
        "NumericRangeFilter-wide": Fi.NumericRangeFilter(column="score", lo=-(2**40), hi=2**40),
        "NumericRangeFilter-inf": Fi.NumericRangeFilter(column="score", lo=0.3, hi=float("inf")),
        "TextLengthFilter-wide": Fi.TextLengthFilter(min_length=5, max_length=2**40),
        "GopherQualityFilter-wide": Fi.GopherQualityFilter(min_words=1, max_words=2**40, min_stopwords=0),
    }
    for key, op in cases.items():
        assert _keep(df, op) == KEEP_VALUES[key], key
        tags = [r[0] for r in _pipe()._apply(df, op).orderBy("doc_id").select("_rejection_details").collect()]
        assert [t is None for t in tags] == KEEP_VALUES[key], key
    bdf = df.withColumnRenamed("score", "sc`ore")
    op = Fi.NumericRangeFilter(column="`sc``ore`", lo=0.3)
    assert _keep(bdf, op) == KEEP_VALUES["NumericRangeFilter-backtick"]


# ---------------------------------------------------------------- dedups


def _dedup_fixture(spark):
    df = _fixture_df(spark, DUP_ROWS).withColumn(
        "url",
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("http://ex.com/"), (F.col("doc_id") % 2).cast("string"))),
    )
    return _with_tags(df, dead_id=5)


def _dedup_values(make, df):
    tag = [str(r[0]) for r in _pipe()._apply(df, make()).orderBy("doc_id").select("_rejection_details").collect()]
    surv = [r[0] for r in make().apply(df).orderBy("doc_id").select("doc_id").collect()]
    rej = [
        (r[0], str(r[1]))
        for r in make().rejected(df).orderBy("doc_id").select("doc_id", "_rejection_details").collect()
    ]
    return _digest(tag), surv, _digest(rej)


@pytest.mark.parametrize("make_dedup", DEDUPS)
def test_key_dedup_tag_twin(spark, make_dedup, request):
    """Pipeline tag (dead-row sentinel, effective key, window ranking,
    rejection struct), standalone survivors and standalone rejections."""
    assert _dedup_values(make_dedup, _dedup_fixture(spark)) == DEDUP_VALUES[request.node.callspec.id]


def _udf_key(make):
    """The same operator with its key composed from a ``udf_columns``
    binding: an identity pandas UDF over the SQL key, bound as
    ``__udf_key``, which ``key_sql`` then reads by name — the one path a
    dedup key binds Python through."""

    def build():
        op = make()
        key_sql = op.key_sql
        udf = F.pandas_udf(lambda s: s, "string").asNondeterministic()  # by value: workers cannot import tests
        op.udf_columns = lambda df: {"__udf_key": udf(F.expr(key_sql(df)))}
        op.key_sql = lambda df: "`__udf_key`"
        return op

    return build


STANDALONE = [
    *[pytest.param(p.values[0], False, id=f"twin-key-{p.id}") for p in DEDUPS],
    # Spark leaves a Python UDF unextracted (and unevaluable) when its
    # argument holds a nested lambda that reads an outer lambda variable,
    # as the simhash key's shingle builder does, so that key has no UDF leg
    *[pytest.param(p.values[0], True, id=f"composed-key-{p.id}") for p in DEDUPS if p.id != "SimHash"],
]


@pytest.mark.parametrize("make_dedup, force_composed_key", STANDALONE)
def test_standalone_dedup_twin(spark, make_dedup, force_composed_key, request):
    """Standalone apply()/rejected(), for the SQL key and for the same key
    composed from a UDF bound through ``udf_columns`` — both give the
    pinned values."""
    make = _udf_key(make_dedup) if force_composed_key else make_dedup
    _, surv, rej = _dedup_values(make, _dedup_fixture(spark))
    key = request.node.callspec.id.split("-", 2)[-1]
    assert (surv, rej) == DEDUP_VALUES[key][1:]


def test_key_dedup_twin_refuses_unspellable(spark):
    """Backtick-carrying column names (F.col-quoted) are spelled in SQL and
    keep their values; the store-safe incremental key keeps its NULL
    sentinels in both null_keys modes; the simhash key its bits."""
    df = _dedup_fixture(spark)
    bdf = df.withColumnRenamed("text", "te`xt").withColumnRenamed("url", "u`rl")
    got = _dedup_values(lambda: D.TextExactDeduplicator(text_col="`te``xt`"), bdf)
    assert got == DEDUP_VALUES["TextExact-backtick"]
    got = _dedup_values(lambda: D.KeyDeduplicator(["`u``rl`"], order_col="doc_id"), bdf)
    assert got == DEDUP_VALUES["KeyDedup-backtick"]
    for key, expected in INCREMENTAL_KEYS.items():
        mode, n = key.split("-")
        cols = ["url", "n_chars"][: int(n)]
        op = D.IncrementalKeyDeduplicator("/nonexistent", cols, id_col="doc_id", null_keys=mode)
        assert [r[0] for r in df.orderBy("doc_id").selectExpr(op.key_sql(df)).collect()] == expected, key
    simhash = D.simhash64_sql(sql_ident("text"))
    assert [r[0] for r in df.orderBy("doc_id").selectExpr(simhash).collect()] == SIMHASH_VALUES


# ------------------------------------------------------------ py4j budget

PY4J_BUDGET = 30
CONVERTED = {
    "WordScoreFilter", "DomainBlocklistFilter", "UrlFilter-blocklist", "UrlFilter-weights",
    "UrlFilter-quality", "ImageQualityFilter", "WeightedSourceSampler",
}


def _py4j_calls(build) -> int:
    """Non-release py4j commands ``build()`` sends. Object-release
    commands (``m\\nd\\n``) are py4j's finalizer reacting to garbage
    collection, not plan building, so they are excluded and a collection
    runs first."""
    import gc

    from py4j.clientserver import ClientServerConnection

    gc.collect()
    send, calls = ClientServerConnection.send_command, []

    def counted(conn, command):
        if not command.startswith("m\nd\n"):
            calls.append(command)
        return send(conn, command)

    ClientServerConnection.send_command = counted
    try:
        build()
    finally:
        ClientServerConnection.send_command = send
    return len(calls)


def test_sql_authored_tag_py4j_budget(spark):
    """A fresh SimHashDeduplicator's and each converted filter's ``tag``
    over sf0.01 documents builds in a bounded number of py4j calls: SQL
    text parses in one round trip, where the composed Column forms took
    100-2,300 calls."""
    from mega_data_factory_spark.session import load_tables
    from tests.conftest import SF_DIR_ORACLE

    docs = load_tables(spark, SF_DIR_ORACLE, ("documents",))["documents"].selectExpr(
        "*",
        "concat('http://', source, '.example.com/', doc_id) AS url",
        "concat(source, '.example.com') AS domain",
        "cast(NULL as int) AS image_width",
        "cast(NULL as int) AS image_height",
        "cast(NULL as double) AS image_compression_artifacts",
        "cast(NULL as double) AS image_information_entropy",
        f"cast(NULL as {REJECTION_STRUCT_DDL}) AS _rejection_details",
    )
    makers = {p.id: p.values[0] for p in FILTERS if p.id in CONVERTED}
    makers["SimHashDeduplicator"] = D.SimHashDeduplicator
    assert len(makers) == len(CONVERTED) + 1
    calls = {name: _py4j_calls(lambda: make().tag(docs)) for name, make in makers.items()}
    assert all(n <= PY4J_BUDGET for n in calls.values()), calls

"""Pinned values for the SQL-text ColumnProfiler.

``ColumnProfiler.profile`` is authored once, as SQL text parsed in three
``selectExpr`` round trips. The expected profiles below were generated
with the earlier two-rendering code, on the mixed-type fixture its parity
tests used (numeric, string with quotes/backslashes/unicode/empty/NULL,
decimal, timestamp, boolean), where the composed-Column and SQL-text
constructions were proven equal — in exact mode, sketch mode, and every
parameterization below. The fixture is one partition so the sketch
mode's row-id sample is layout-stable. Wide profiles are pinned by a
digest of their sorted stringified rows; the exact profile is spelled out.
"""

from __future__ import annotations

import datetime
import hashlib
from decimal import Decimal

import pytest

from mega_data_factory_spark.operators.profiling import SAMPLE_COL, ColumnProfiler

PROFILERS = [
    pytest.param(lambda: ColumnProfiler(), id="default-sketch"),
    pytest.param(lambda: ColumnProfiler(approx=False), id="exact"),
    pytest.param(lambda: ColumnProfiler(percentile_sample_mod=1), id="sketch-unsampled"),
    pytest.param(lambda: ColumnProfiler(percentiles=(0.999,)), id="p99.9"),
    pytest.param(lambda: ColumnProfiler(percentiles=()), id="no-percentiles"),
    pytest.param(lambda: ColumnProfiler(["x", "s"]), id="column-subset"),
    pytest.param(
        lambda: ColumnProfiler(distinct_rsd=0.1, approx_percentile_accuracy=500),
        id="custom-sketch-params",
    ),
]

PROFILE_DIGESTS = {
    "column-subset": "172eb31476af814b",
    "custom-sketch-params": "89f6fd61bf231b89",
    "default-sketch": "89f6fd61bf231b89",
    "exact": "3439766daa7f5623",
    "no-percentiles": "8e83bdcaf76c7d93",
    "p99.9": "06718c0f0caaa24a",
    "sample-col-collision": "436aa2e7c8586b88",
    "sketch-unsampled": "f1a80400e7f4dfba",
    "wide-sample-mod": "89f6fd61bf231b89",
}
PROFILE_EXACT = [
    ("b", "count", "4.0", "None"), ("b", "distinct", "2.0", "None"), ("b", "max", "None", "true"),
    ("b", "min", "None", "false"), ("b", "nulls", "1.0", "None"), ("d", "count", "4.0", "None"),
    ("d", "distinct", "3.0", "None"), ("d", "max", "9.99", "None"),
    ("d", "mean", "4.5675", "None"), ("d", "min", "2.0", "None"), ("d", "nulls", "1.0", "None"),
    ("d", "p25", "2.855", "None"), ("d", "p50", "3.14", "None"), ("d", "p75", "4.8525", "None"),
    ("k", "count", "5.0", "None"), ("k", "distinct", "5.0", "None"), ("k", "max", "5.0", "None"),
    ("k", "mean", "3.0", "None"), ("k", "min", "1.0", "None"), ("k", "nulls", "0.0", "None"),
    ("k", "p25", "2.0", "None"), ("k", "p50", "3.0", "None"), ("k", "p75", "4.0", "None"),
    ("s", "avg_len", "10.25", "None"), ("s", "count", "4.0", "None"),
    ("s", "distinct", "4.0", "None"), ("s", "max", "None", "it's a 'quoted' back\\slash"),
    ("s", "max_len", "26.0", "None"), ("s", "min", "None", ""), ("s", "min_len", "0.0", "None"),
    ("s", "nulls", "1.0", "None"), ("ts", "count", "4.0", "None"),
    ("ts", "distinct", "3.0", "None"), ("ts", "max", "None", "2024-06-01 09:30:00"),
    ("ts", "min", "None", "2023-12-31 23:59:00"), ("ts", "nulls", "1.0", "None"),
    ("x", "count", "4.0", "None"), ("x", "distinct", "3.0", "None"), ("x", "max", "10.5", "None"),
    ("x", "mean", "6.0625", "None"), ("x", "min", "-0.25", "None"), ("x", "nulls", "1.0", "None"),
    ("x", "p25", "5.1875", "None"), ("x", "p50", "7.0", "None"), ("x", "p75", "7.875", "None"),
]


@pytest.fixture(scope="module")
def fixture_df(spark):
    rows = [
        (1, 10.5, Decimal("3.14"), "alpha", datetime.datetime(2024, 1, 1, 8, 0), True),
        (2, -0.25, Decimal("2.00"), "it's a 'quoted' back\\slash", datetime.datetime(2024, 6, 1, 9, 30), False),
        (3, None, Decimal("9.99"), None, None, None),
        (4, 7.0, None, "Tür déjà …", datetime.datetime(2023, 12, 31, 23, 59), True),
        (5, 7.0, Decimal("3.14"), "", datetime.datetime(2024, 1, 1, 8, 0), False),
    ]
    schema = "k long, x double, d decimal(10,2), s string, ts timestamp, b boolean"
    return spark.createDataFrame(rows, schema).coalesce(1)


def _rows(profile_df):
    return sorted(tuple(str(v) for v in r) for r in profile_df.collect())


def _digest(rows) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


@pytest.mark.parametrize("make", PROFILERS)
def test_profile_twin_analyzed_plan_parity(spark, fixture_df, make):
    """One aggregate job: the optimized plan holds ONE aggregate for
    every column and stat (exact mode's DISTINCT counts add the
    Expand-based second stage Spark rewrites them into) and one Generate
    (the in-plan unpivot)."""
    prof = make()
    plan = prof.profile(fixture_df)._jdf.queryExecution().optimizedPlan().toString()
    lines = [ln.lstrip("+-: ") for ln in plan.splitlines()]
    assert sum(ln.startswith("Aggregate ") for ln in lines) == (1 if prof.approx else 2)
    assert sum(ln.startswith("Expand ") for ln in lines) == (0 if prof.approx else 1)
    assert sum(ln.startswith("Generate ") for ln in lines) == 1


@pytest.mark.parametrize("make", PROFILERS)
def test_profile_twin_value_parity(spark, fixture_df, make, request):
    out = make().profile(fixture_df)
    assert out.columns == ["column", "stat", "value", "text"]
    rows = _rows(out)
    assert _digest(rows) == PROFILE_DIGESTS[request.node.callspec.id]
    if request.node.callspec.id == "exact":
        assert rows == PROFILE_EXACT


def test_profile_twin_refuses_backtick_names(spark):
    """A column whose NAME carries a backtick (or a dot) is profiled under
    that literal name — schema field names are never struct paths."""
    plain = ColumnProfiler().profile(spark.range(3).selectExpr("id AS ab", "id * 2 AS cd"))
    odd = ColumnProfiler().profile(spark.range(3).selectExpr("id AS `a``b`", "id * 2 AS `c.d`"))
    rename = {"ab": "a`b", "cd": "c.d"}
    assert _rows(odd) == sorted((rename[c], *rest) for c, *rest in _rows(plain))


def test_profile_twin_refuses_sample_col_collision(spark, fixture_df):
    """A pre-existing sample-flag column is replaced in place by the
    profiler's own flag."""
    df = fixture_df.selectExpr("*", f"(k % 2 = 0) AS `{SAMPLE_COL}`")
    rows = _rows(ColumnProfiler(["k", "x"]).profile(df))
    assert _digest(rows) == PROFILE_DIGESTS["sample-col-collision"]


def test_profile_replaces_sample_col_case_insensitively(spark, fixture_df):
    """Column resolution is case-insensitive, so a differently-cased
    ``__PROFILE_SAMPLE`` column is the same column: replaced in its
    position, not duplicated into an ambiguous reference."""
    df = fixture_df.selectExpr("*", f"(k % 2 = 0) AS `{SAMPLE_COL.upper()}`")
    rows = _rows(ColumnProfiler(["k", "x"]).profile(df))
    assert _digest(rows) == PROFILE_DIGESTS["sample-col-collision"]


def test_profile_twin_refuses_wide_sample_mod(spark, fixture_df):
    """A sample modulus wider than 32 bits is spelled as a long literal."""
    rows = _rows(ColumnProfiler(percentile_sample_mod=2**40).profile(fixture_df))
    assert _digest(rows) == PROFILE_DIGESTS["wide-sample-mod"]

"""A recipe made only of Catalyst expressions starts no Python worker: its
plan holds no Python evaluation node, and the driver-small frames around
it (metrics rows, trigger telemetry, empty seen-key stores) plan as local
relations instead of pickled RDDs."""

from __future__ import annotations

import re

import pytest

from mega_data_factory_spark.config import PipelineConfig
from mega_data_factory_spark.plans.pipeline import Pipeline

# physical nodes that ship rows to a Python worker: UDF evaluation
# (ArrowEvalPython / BatchEvalPython), the pandas/arrow map and group
# operators, and a scan over an RDD built from Python objects
PYTHON_NODES = re.compile(r"EvalPython|InPandas|InArrow|ExistingRDD")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("recipe", ["fineweb_style_recipe", "c4_style_recipe"])
def test_jvm_only_recipe_plans_no_python(spark, recipe):
    with open(f"configs/{recipe}.yaml") as f:
        cfg = PipelineConfig.from_yaml(f.read())
    text = Pipeline(cfg).explain(spark)
    assert not PYTHON_NODES.findall(text), PYTHON_NODES.findall(text)


def test_driver_small_frames_plan_local(spark, tmp_path, monkeypatch):
    """Every parquet append of the metrics, store-metrics and listener
    writers, and both empty seen-key stores, plan over a LocalTableScan
    with no Python node."""
    from pyspark.sql.readwriter import DataFrameWriter

    from mega_data_factory_spark.metrics import write_metrics, write_store_metrics
    from mega_data_factory_spark.operators.dedup import (
        IncrementalExactDeduplicator,
        IncrementalMinHashDeduplicator,
    )
    from mega_data_factory_spark.plans.pipeline import OperatorMetrics, PipelineResult
    from mega_data_factory_spark.streaming.listener import StreamingMetricsListener

    plans: dict[str, str] = {}
    parquet = DataFrameWriter.parquet

    def recording(writer, path, *args, **kwargs):
        plans[path.rsplit("/", 1)[-1]] = _plan(writer._df)
        return parquet(writer, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    base = str(tmp_path / "metrics")
    ops = [OperatorMetrics("s1", f"op{i}", 10 - i, 9 - i) for i in range(6)]
    write_metrics(spark, PipelineResult("r", "p", 1.5, 10, 4, ops), base)
    write_store_metrics(
        spark, base, run_id="r", pipeline="p", operator_name="dedup", store_path=str(tmp_path / "store")
    )
    lst = StreamingMetricsListener(spark, base, pipeline="p", run_id="r")
    lst._pending.append(("r", "p", "q", 0, 1, 1.0, 1.0, 1, 1, 1))
    lst._flush()
    lst.write_health()
    assert lst.rows_written == 1 and lst.flush_failures == 0
    plans["content_keys"] = _plan(
        IncrementalExactDeduplicator(str(tmp_path / "none1"), text_col="text").store.keys(spark)
    )
    plans["band_keys"] = _plan(IncrementalMinHashDeduplicator(str(tmp_path / "none2")).store.keys(spark))

    assert set(plans) == {"operators", "stages", "runs", "stores", "triggers", "telemetry", "content_keys", "band_keys"}
    for name, plan in plans.items():
        assert "LocalTableScan" in plan, (name, plan)
        assert not PYTHON_NODES.search(plan), (name, plan)
    # one task, one file per metrics append
    assert len(list((tmp_path / "metrics" / "operators").glob("*.parquet"))) == 1
    got = spark.read.parquet(f"{base}/operators").orderBy("position").collect()
    assert [(r.operator_name, r.input_records, r.output_records) for r in got] == [
        (m.operator, m.input_records, m.output_records) for m in ops
    ]


def test_local_frame_values(spark):
    """Values round-trip exactly — quotes, backslashes, controls, ``$``
    references the SQL parser would otherwise substitute, NULLs, wide ints
    and non-finite doubles — in one partition; no rows keeps the schema."""
    import math

    from mega_data_factory_spark.session import local_frame

    rows = [
        ("it's a \\path\\ ${env:HOME} $x", 2**40, 0.1, True),
        ("tab\tnl\nnul\x00bell\x07 é 😀", -1, float("inf"), False),
        (None, None, None, None),
    ]
    df = local_frame(spark, rows, "s string, n bigint, d double, b boolean")
    assert df.rdd.getNumPartitions() == 1
    assert df.dtypes == [("s", "string"), ("n", "bigint"), ("d", "double"), ("b", "boolean")]
    assert [tuple(r) for r in df.collect()] == rows
    nan = local_frame(spark, [(float("nan"),)], "d double").first().d
    assert math.isnan(nan)

    empty = local_frame(spark, [], "k string, v array<double>, w decimal(10,2)")
    assert empty.dtypes == [("k", "string"), ("v", "array<double>"), ("w", "decimal(10,2)")]
    assert empty.count() == 0
    assert "LocalTableScan" in _plan(empty)

"""Storage-layout scale features: bucketed co-located joins (no shuffle)
and hive-style partition pruning (no scan of excluded partitions) — the
two layout levers the 100 TB posture depends on, asserted on physical
plans, not just results."""

import os

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@pytest.fixture()
def warehouse(spark, tmp_path):
    yield spark, tmp_path
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_has_no_shuffle(warehouse):
    """Both sides bucketed by the join key into the same bucket count ->
    SortMergeJoin with ZERO Exchange nodes: the co-located join that makes
    repeated fact-fact joins affordable at 100 TB."""
    spark, tmp_path = warehouse
    sf = "/root/testdata/sf0.01"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf}/lineitem.parquet").select("l_orderkey", "l_quantity", "l_extendedprice")

    (
        orders.write.mode("overwrite")
        .option("path", str(tmp_path / "b_orders"))
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("b_orders")
    )
    (
        lineitem.write.mode("overwrite")
        .option("path", str(tmp_path / "b_lineitem"))
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("b_lineitem")
    )

    # at sf0.01 the dims are broadcast-sized, which would bypass the
    # bucketed path we're asserting; at real scale both sides are big, so
    # force the non-broadcast strategy for this check
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("b_orders")
            .join(spark.table("b_lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = _plan(joined)
        # the join itself must not shuffle either side (bucketing
        # pre-partitions); the only exchange allowed is the tiny post-join
        # groupBy on o_orderstatus
        join_section = plan.split("HashAggregate")[0]
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_section, join_section
        # and it still returns the right answer
        n = joined.agg(F.sum("n")).collect()[0][0]
        assert n == spark.read.parquet(f"{sf}/lineitem.parquet").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_sink_config_roundtrip(spark, tmp_path):
    """The bucketed layout is reachable from the SINK CONFIG surface (YAML:
    table/bucket_by/buckets/sort_by), not just the raw writer API: two
    config-written tables joined on the bucket key produce zero exchanges
    on the join, and misconfigurations fail loudly (missing table name,
    missing bucket count — a silent default would break co-location)."""
    import pytest as _pytest

    from mega_data_factory_spark.config import SinkConfig
    from mega_data_factory_spark.sinks import write_sink

    sf = "/root/testdata/sf0.01"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf}/lineitem.parquet").select("l_orderkey", "l_quantity")
    try:
        write_sink(
            orders,
            SinkConfig.from_dict(
                {"table": "cb_orders", "path": str(tmp_path / "cb_orders"), "mode": "overwrite",
                 "bucket_by": "o_orderkey", "buckets": 8, "sort_by": "o_orderkey"}
            ),
        )
        write_sink(
            lineitem,
            SinkConfig.from_dict(
                {"table": "cb_lineitem", "path": str(tmp_path / "cb_lineitem"), "mode": "overwrite",
                 "bucket_by": "l_orderkey", "buckets": 8, "sort_by": "l_orderkey"}
            ),
        )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("cb_orders").join(
                spark.table("cb_lineitem"), F.col("o_orderkey") == F.col("l_orderkey")
            )
            plan = _plan(joined)
            assert "SortMergeJoin" in plan and "Exchange" not in plan, plan
            assert joined.count() == lineitem.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        for t in ("cb_orders", "cb_lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    with _pytest.raises(ValueError, match="table"):
        write_sink(orders, SinkConfig.from_dict({"path": "/tmp/x", "bucket_by": "o_orderkey", "buckets": 8}))
    with _pytest.raises(ValueError, match="buckets"):
        write_sink(orders, SinkConfig.from_dict({"table": "t", "bucket_by": "o_orderkey"}))


def test_partition_pruning_skips_directories(spark, tmp_path):
    """Hive-partitioned layout (the reference's partition_by sink contract,
    parquet_writer.py:57-93): a filter on the partition column must appear
    as a PartitionFilters entry and prune to one directory."""
    sf = "/root/testdata/sf0.01"
    out = str(tmp_path / "by_status")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    statuses = [d for d in os.listdir(out) if d.startswith("o_orderstatus=")]
    assert len(statuses) >= 2

    df = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    plan = _plan(df)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1].split("]")[0]
    expect = orders.filter(F.col("o_orderstatus") == "F").count()
    assert df.count() == expect


def _codecs(root: str) -> dict[str, set[str]]:
    """Each directory under ``root`` holding parquet data files -> the
    codecs of every column chunk in them, read from the footers."""
    import pyarrow.parquet as pq

    out: dict[str, set[str]] = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                md = pq.ParquetFile(os.path.join(dirpath, f)).metadata
                chunks = out.setdefault(os.path.relpath(dirpath, root), set())
                for i in range(md.num_row_groups):
                    chunks.update(md.row_group(i).column(j).compression for j in range(md.num_columns))
    return out


def test_every_engine_write_lands_zstd(spark, tmp_path):
    """The session's codec default reaches every parquet file the engine
    lands — batch sinks (rejected partitioned by operator), metrics tables,
    a seen-store and its compaction, a stream trigger's sinks and store,
    the stream telemetry — and a sink's own ``compression`` option wins."""
    import json

    from mega_data_factory_spark.config import PipelineConfig, SinkConfig
    from mega_data_factory_spark.operators.dedup import compact_store
    from mega_data_factory_spark.plans.pipeline import Pipeline
    from mega_data_factory_spark.sinks import write_sink
    from mega_data_factory_spark.streaming import StreamingPipeline
    from mega_data_factory_spark.streaming.listener import StreamingMetricsListener

    rows = [(i, f"document {i % 5} about shuffles, joins and the parquet codec") for i in range(12)]
    rows.append((12, "short"))
    src = tmp_path / "in"
    src.mkdir()
    with open(src / "docs.json", "w") as f:
        f.writelines(json.dumps({"doc_id": i, "text": t}) + "\n" for i, t in rows)
    out = tmp_path / "out"

    def config(name: str, store: str) -> PipelineConfig:
        cfg = PipelineConfig.from_dict(
            {
                "pipeline": {
                    "name": name,
                    "id_col": "doc_id",
                    "source": {"format": "json", "path": str(src)},
                    "stages": [
                        {
                            "name": "s",
                            "operators": [
                                {"name": "TextLengthFilter", "params": {"min_length": 10}},
                                {"name": "IncrementalExactDeduplicator", "params": {"store_path": store, "id_col": "doc_id"}},
                            ],
                        }
                    ],
                }
            }
        )
        cfg.sink = SinkConfig(path=str(out / name / "passed"))
        cfg.rejected_sink = SinkConfig(path=str(out / name / "rejected"))
        return cfg

    cfg = config("batch", str(out / "batch" / "store"))
    cfg.metrics_path = str(out / "batch" / "metrics")
    result = Pipeline(cfg).run(spark)
    assert result.output_records == 5
    compact_store(spark, str(out / "batch" / "store"), target_files=1)

    cfg = config("stream", str(out / "stream" / "store"))
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    q = StreamingPipeline(cfg, checkpoint_dir=str(tmp_path / "ckpt")).start(stream)
    q.awaitTermination(120)
    StreamingMetricsListener(spark, str(out / "stream" / "metrics"), pipeline="stream", run_id="r").write_health()

    codecs = _codecs(str(out))
    for d in (
        "batch/passed",
        "batch/rejected/operator=TextLengthFilter",
        "batch/rejected/operator=IncrementalExactDeduplicator",
        "batch/metrics/runs",
        "batch/metrics/operators",
        "batch/metrics/stores",
        "batch/store",
        "stream/passed",
        "stream/rejected/operator=TextLengthFilter",
        "stream/store",
        "stream/metrics/telemetry",
    ):
        assert codecs.get(d) == {"ZSTD"}, (d, codecs.get(d))
    assert {c for cs in codecs.values() for c in cs} == {"ZSTD"}, codecs

    passed = spark.read.parquet(str(out / "batch" / "passed"))
    write_sink(passed, SinkConfig(path=str(tmp_path / "snappy"), options={"compression": "snappy"}))
    assert _codecs(str(tmp_path / "snappy")) == {".": {"SNAPPY"}}

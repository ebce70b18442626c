"""Metrics subsystem: run/stage/operator metrics as schema'd parquet.

Re-expresses the reference's three-level metrics (framework/metrics/
writer.py:28-84 fixed schemas; collector.py aggregation rules: stage input
= first operator's input, stage output = last operator's output, run totals
from first/last stage). Time-derived per-record latency percentiles have no
Spark equivalent (rows aren't processed one-at-a-time); wall-clock duration
and count-derived columns are populated, latency columns are NULL.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from mega_data_factory_spark.session import local_frame

OPERATOR_METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("pipeline", StringType()),
        StructField("stage_name", StringType()),
        StructField("operator_name", StringType()),
        # pipeline position: parquet read-back is file-order, NOT insert
        # order, so the report's funnel/Sankey need an explicit sequence
        # (beyond the reference's schema, which relied on arrival order)
        StructField("position", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("input_records", LongType()),
        StructField("output_records", LongType()),
        StructField("pass_rate", DoubleType()),
    ]
)

STAGE_METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("pipeline", StringType()),
        StructField("stage_name", StringType()),
        StructField("position", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("input_records", LongType()),
        StructField("output_records", LongType()),
        StructField("pass_rate", DoubleType()),
    ]
)

RUN_METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("pipeline", StringType()),
        StructField("timestamp", TimestampType()),
        StructField("duration_sec", DoubleType()),
        StructField("throughput_rps", DoubleType()),
        StructField("input_records", LongType()),
        StructField("output_records", LongType()),
        StructField("pass_rate", DoubleType()),
    ]
)

# Fourth level (beyond the reference's three): incremental dedup STORE
# state per run/compaction, so an always-on ingestion can watch its
# seen-state grow and schedule compact_store from the metrics table
# instead of spelunking directories (operators/dedup.store_stats; the
# reference's bucket-sizing guidance analog, framework/backend.py:83-93).
# event: 'post_update' (after a run appended its new keys; rows/files/
# bytes are the store AS LEFT) or 'compaction' (rows_before carries the
# pre-compaction row count).
STORE_METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("pipeline", StringType()),
        StructField("operator_name", StringType()),
        StructField("store_path", StringType()),
        StructField("event", StringType()),
        StructField("timestamp", TimestampType()),
        StructField("rows", LongType()),
        StructField("files", LongType()),
        StructField("bytes", LongType()),
        StructField("rows_before", LongType()),
    ]
)


def write_store_metrics(
    spark: SparkSession,
    base_path: str,
    *,
    run_id: str,
    pipeline: str,
    operator_name: str,
    store_path: str,
    event: str = "post_update",
    rows_before: int | None = None,
) -> None:
    """Append one store-state row under ``base_path``/stores (stats via
    operators/dedup.store_stats — directory listing + parquet footers,
    no data scan)."""
    from mega_data_factory_spark.operators.dedup import store_stats

    st = store_stats(spark, store_path)
    row = local_frame(
        spark,
        [
            (
                run_id,
                pipeline,
                operator_name,
                store_path,
                event,
                int(st["rows"]),
                int(st["files"]),
                int(st["bytes"]),
                rows_before,
            )
        ],
        "run_id string, pipeline string, operator_name string, store_path string, "
        "event string, rows long, files long, bytes long, rows_before long",
    ).withColumn("timestamp", F.current_timestamp())
    row.select([f.name for f in STORE_METRICS_SCHEMA.fields]).write.mode("append").parquet(
        f"{base_path}/stores"
    )


def write_metrics(spark: SparkSession, result, base_path: str) -> None:
    """Write runs/stages/operators parquet under ``base_path`` (append)."""
    now = F.current_timestamp()

    op_rows = [
        (result.run_id, result.pipeline, m.stage, m.operator, i, m.input_records, m.output_records, m.pass_rate)
        for i, m in enumerate(result.operators)
    ]
    ops = local_frame(
        spark,
        op_rows,
        "run_id string, pipeline string, stage_name string, operator_name string, position long, "
        "input_records long, output_records long, pass_rate double",
    ).withColumn("timestamp", now)

    # stage rollup: first op's input, last op's output per stage (reference
    # metrics/collector.py:181-189 serial-operator rule)
    stage_rows: dict[str, tuple[int, int]] = {}
    for m in result.operators:
        if m.stage not in stage_rows:
            stage_rows[m.stage] = (m.input_records, m.output_records)
        else:
            stage_rows[m.stage] = (stage_rows[m.stage][0], m.output_records)
    stages = local_frame(
        spark,
        [
            (result.run_id, result.pipeline, s, pos, i, o, (100.0 * o / i if i else 100.0))
            for pos, (s, (i, o)) in enumerate(stage_rows.items())
        ],
        "run_id string, pipeline string, stage_name string, position long, "
        "input_records long, output_records long, pass_rate double",
    ).withColumn("timestamp", now)

    runs = local_frame(
        spark,
        [
            (
                result.run_id,
                result.pipeline,
                result.duration_sec,
                result.throughput_rps,
                result.input_records,
                result.output_records,
                result.pass_rate,
            )
        ],
        "run_id string, pipeline string, duration_sec double, throughput_rps double, input_records long, output_records long, pass_rate double",
    ).withColumn("timestamp", now)

    def append(df, schema: StructType, table: str) -> None:
        df.select([f.name for f in schema.fields]).write.mode("append").parquet(f"{base_path}/{table}")

    # the three one-task appends overlap on driver threads (Pipeline.run
    # overlaps its two sinks the same way): each is commit-latency-bound,
    # so the run pays about the slowest one instead of their sum
    with ThreadPoolExecutor(max_workers=3) as ex:
        futs = [
            ex.submit(append, ops, OPERATOR_METRICS_SCHEMA, "operators"),
            ex.submit(append, stages, STAGE_METRICS_SCHEMA, "stages"),
            ex.submit(append, runs, RUN_METRICS_SCHEMA, "runs"),
        ]
        for fut in futs:
            fut.result()


def training_mix_manifest(
    df,
    group_cols: tuple[str, ...] = ("source",),
    *,
    token_col: str | None = None,
    text_col: str = "text",
):
    """The "data card" accounting every released training corpus ships:
    docs / tokens / bytes and corpus share per group (source, language,
    split, ...), as ONE aggregate over the final curated frame. Pair with
    the curated sink write so the manifest is produced from the exact
    frame that became the training set. Beyond the reference's metrics
    surface — first-class per the build brief.

    ``token_col`` uses a precomputed count (e.g. ``bpe_token_count``);
    otherwise whitespace tokens via the shared ``token_count`` definition.
    NULL group values are reported as their own row (a NULL source is a
    provenance bug worth seeing, not collapsing). Shares are exact
    (decimal-summed totals, double division). SQL-mirrorable; the
    differential test holds the driver-gate bar.

    Scale shape: one groupBy over ≤ a few thousand groups — partial
    aggregation map-side, one compact shuffle; the share join is a
    broadcast of a one-row total.
    """
    from mega_data_factory_spark.functions.text import token_count

    toks = F.col(token_col).cast("long") if token_col else token_count(text_col)
    per = (
        df.groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(toks).alias("tokens"),
            F.sum(F.octet_length(F.col(text_col))).alias("bytes"),
        )
    )
    totals = per.agg(
        F.sum("docs").alias("__td"), F.sum("tokens").alias("__tt")
    )
    return (
        per.join(F.broadcast(totals))
        .select(
            *group_cols,
            "docs",
            "tokens",
            "bytes",
            F.round(F.col("docs").cast("double") / F.col("__td"), 6).alias("doc_share"),
            F.round(F.col("tokens").cast("double") / F.col("__tt"), 6).alias("token_share"),
        )
        .orderBy(*[F.col(c).asc_nulls_first() for c in group_cols])
    )

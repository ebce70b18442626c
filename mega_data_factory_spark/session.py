"""SparkSession factory tuned for the engine's workloads.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same settings are the
ones we'd ship as cluster defaults (AQE on, adaptive skew-join, Arrow for all
Python exchange). Partition counts scale with cores locally and with the
cluster's ``spark.sql.shuffle.partitions`` in real deployments.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from mega_data_factory_spark.functions.text import sql_ident, sql_number_literal, sql_string_literal


def _host_mem_gib() -> int | None:
    """Effective memory budget in GiB: the cgroup v2 limit when one is set
    (containers/CI), else physical MemTotal. None when neither is readable
    (non-Linux) — callers keep their slot-scaled default then."""
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            v = f.read().strip()
        if v.isdigit():
            return max(1, int(v) >> 30)
    except OSError:
        pass
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(1, int(line.split()[1]) >> 20)
    except OSError:
        pass
    return None


def get_spark(
    app_name: str = "mega-data-factory-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults are chosen for large-scale batch curation:
      * AQE + skew-join handling: near-dup and groupBy keys in web data are
        Zipfian; AQE splits skewed shuffle partitions at runtime.
      * Arrow exchange for every pandas UDF / mapInPandas hop, with a bounded
        batch size so wide binary columns (images) don't blow executor memory.
      * Shuffle partition count = 2x cores locally; on a real cluster this is
        overridden (or left to AQE coalescing, which is enabled).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    # Driver heap sized to the LOCAL task slots (guide §5: memory per
    # concurrent task), overridable via SPARK_DRIVER_MEMORY. Under a local
    # master the "driver" JVM is the entire cluster — every executor
    # thread's aggregation/join state, Arrow buffers and broadcasts live in
    # this one heap — so a flat 8g gives 32 local tasks ~250 MB each.
    # Round-12 measurement (scripts/evidence_r12/bench_16g*.json): on
    # local[32] the flat 8g heap GC-thrashed the later bench blocks
    # (2.9-6.3s of GC inside ~10s lines, multi-core CPU probe degrading 8x
    # while the single-core probe stayed flat) and published 1.5-2.8x
    # inflated walls for the Arrow/ML-heavy lines; 512 MB/slot returned
    # them to their isolated-run values (pq_ann_500k 10.4->3.7s, whole
    # suite -20%) with zero end-of-run outliers. On a real cluster this
    # default is inert: the driver does no data work (floor stays 8g) and
    # executor sizing is the deployment's spark.executor.memory.
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if master.startswith("local"):
        # r12-advice cap: the slot-scaled default assumed core count tracks
        # host RAM; on a high-core/low-memory box (cloud VM, CI cgroup) a
        # 32-core default of 16g trades GC pressure for a kernel/cgroup OOM
        # kill. Cap at half the detected budget (the other half stays for
        # Python workers, Arrow off-heap and the page cache); on this 128
        # GiB / 32-core class the cap is far above the slot value, so the
        # local default is unchanged.
        mem_gib = _host_mem_gib()
        slot_mem = max(8, cpus // 2)
        if mem_gib is not None:
            slot_mem = max(2, min(slot_mem, mem_gib // 2))
        default_driver_mem = f"{slot_mem}g"
    else:
        default_driver_mem = "8g"
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # bytes cap matters more than the record cap once rows carry image/
        # audio payloads: 10k rows x 12 KiB = 120 MiB Arrow batches *per
        # task* thrash the heap at 32 local tasks (measured 3x wall-clock on
        # the 100k-image bench); 16 MiB keeps Python-side peak bounded while
        # compact rows still batch by record count
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(16 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", default_driver_mem))
        # Broadcast thresholds: keep the STATIC threshold small — the static
        # planner works from parquet-size x selectivity guesses and a big
        # threshold lets it broadcast a filtered FACT side (measured: q3 at
        # 6M-row lineitem built a 3.3M-row driver hash relation under a 64MB
        # static threshold — 3.7s; with 16MB static + 64MB ADAPTIVE it
        # becomes a shuffle join that AQE converts at runtime to broadcasting
        # the truly-small orders x customer side using EXACT post-shuffle
        # sizes — 1.0s). Dims are still broadcast via explicit hints; at
        # cluster scale the same split keeps estimate errors from driver-
        # building giant relations while AQE still catches every join whose
        # real size allows a broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # AQE sort-merge -> shuffled-hash conversion (guide §3.1): off by
        # default (threshold 0); 64 MB lets AQE build a hash table from the
        # smaller side of each post-shuffle partition INSTEAD of sorting
        # both sides, using EXACT runtime sizes (the same trust-the-
        # adaptive-planner split as the broadcast thresholds above). This
        # is a per-partition bound, so it is scale-safe by construction —
        # partitions outgrow it at 100 TB only if shuffle partitioning is
        # missized, and then AQE simply keeps sort-merge. Measured round
        # 12 on the suite's one fact-fact join (q5 core, broadcasts off):
        # 1.08s -> 0.87s at sf0.1, min-of-3, reproduced twice.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", str(64 * 1024 * 1024))
        # GCLocker-starvation guard (guide §5): Arrow's JNI critical
        # sections (Get/ReleasePrimitiveArrayCritical in the batch
        # transport) hold the JDK GCLocker while our 16 MiB Arrow batches
        # allocate G1-humongous arrays; on JDK 17 a thread whose allocation
        # needs a GC retries only GCLockerRetryAllocationCount=2 times
        # while the locker is held, then throws a SPURIOUS "Java heap
        # space" OOM with free heap remaining. Observed once at the 100x
        # local stress scale (sf10 sweep leg b10a, 12:00:22: executor OOMs
        # + "Retried waiting for GCLocker too often" at the same instant
        # during the Arrow BPE encode; the identically-configured b10b leg
        # ran the same line clean in 33.9s, so capacity was not the
        # limit). 100 retries makes the starvation window practically
        # unhittable and costs nothing when the locker is uncontended.
        # Executor opts are inert locally (same JVM) and the right default
        # where Arrow UDFs actually run on a cluster.
        .config("spark.ui.enabled", "false")
    )
    # r12-advice: a builder-set extraJavaOptions silently clobbers any
    # deployment-provided JVM options (spark-defaults.conf loses to the
    # builder). Append deployment options from the env (mirroring the
    # SPARK_DRIVER_MEMORY override) and from extra_conf instead of
    # overwriting them — the GCLocker guard composes with GC tuning,
    # -Djava.io.tmpdir etc. rather than replacing it.
    _gclocker = "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100"
    extra_conf = dict(extra_conf or {})
    for key, env in (
        ("spark.driver.extraJavaOptions", "SPARK_DRIVER_JAVA_OPTIONS"),
        ("spark.executor.extraJavaOptions", "SPARK_EXECUTOR_JAVA_OPTIONS"),
    ):
        supplied = " ".join(
            s for s in (extra_conf.pop(key, ""), os.environ.get(env, "")) if s
        ).strip()
        builder = builder.config(key, f"{_gclocker} {supplied}".strip() if supplied else _gclocker)
    if not SparkSession.getActiveSession():
        builder = builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def local_frame(spark: SparkSession, rows: list, schema: str):
    """Driver-small rows (one tuple per row of a DDL ``schema``) as
    ONE inline ``VALUES`` relation. It plans as a ``LocalTableScan`` and
    needs no Python worker, where ``createDataFrame`` over a list maps the
    pickled rows through one — on a recipe made only of Catalyst
    expressions that is the run's only Python, and on a 4-core host the
    first such metrics write waited 1.6 s of wall for the worker to start.
    The scan slices by row count up to ``defaultParallelism``, so it is
    coalesced to one partition: one task, one output file. No rows
    renders ``... WHERE false``, an empty local relation of the same
    schema."""

    def lit(v) -> str:
        if v is None:
            return "NULL"
        return sql_string_literal(v) if isinstance(v, str) else sql_number_literal(v)

    fields = [(f.name, f.dataType.simpleString()) for f in StructType.fromDDL(schema).fields]
    if not rows:
        cols = ", ".join(f"CAST(NULL AS {t}) AS {sql_ident(n, literal=True)}" for n, t in fields)
        return spark.sql(f"SELECT {cols} WHERE false")
    cols = ", ".join(f"CAST(col{i} AS {t}) AS {sql_ident(n, literal=True)}" for i, (n, t) in enumerate(fields, 1))
    values = ", ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in rows)
    return spark.sql(f"SELECT /*+ COALESCE(1) */ {cols} FROM VALUES {values}")


def load_events_us(spark: SparkSession, sf_dir: str):
    """Load the events table with an epoch-microsecond ``us`` column, whatever
    physical timestamp encoding the parquet carries.

    Generations of the test data have shipped ``ts`` as either nanosecond
    timestamps (readable in Spark only as raw longs via
    ``spark.sql.legacy.parquet.nanosAsLong``) or native microsecond
    timestamps (read as TIMESTAMP_NTZ / TIMESTAMP). All event-time logic in
    the engine runs on microsecond bigints so every comparison is exact and
    engine-neutral against the DuckDB oracle's ``epoch_us(ts)`` (which treats
    naive timestamps as UTC — hence the forced UTC session zone here, making
    the NTZ->LTZ cast an identity on the wall clock).
    """
    from pyspark.sql import functions as F

    # SESSION-WIDE SIDE EFFECT (documented, deliberate): event-time semantics
    # in this engine are defined in UTC so results are host-independent and
    # match the DuckDB oracle's epoch_us(); get_spark already defaults the
    # zone to UTC, and for sessions built elsewhere this makes it so. A
    # caller needing non-UTC display must convert in their own projection,
    # not via the session zone. nanosAsLong is a read-path legacy flag:
    # required to read ns-encoded parquet at all, a no-op for micros files.
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = load_tables(spark, sf_dir, ("events",))["events"]
    dtype = dict(df.dtypes)["ts"]
    if dtype in ("bigint", "long"):
        us = F.expr("ts div 1000")
    else:
        us = F.unix_micros(F.col("ts").cast("timestamp"))
    return df.withColumn("us", us)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES):
    """Read the test-data parquet tables and register them as temp views.

    Returns ``{name: DataFrame}``. Reading is lazy; registering views lets
    both the DataFrame API and ``spark.sql`` address the same relations.
    """
    dfs = {}
    for name in names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs

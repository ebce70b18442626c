"""SparkSession factory tuned for the engine's workloads.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same settings are the
ones we'd ship as cluster defaults (AQE on, adaptive skew-join, Arrow for all
Python exchange). Partition counts scale with cores locally and with the
cluster's ``spark.sql.shuffle.partitions`` in real deployments.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import re
import shutil
import subprocess

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from mega_data_factory_spark.functions.text import sql_ident, sql_number_literal, sql_string_literal

try:
    import fcntl
except ImportError:  # not POSIX: sessions start without a class archive
    fcntl = None

# dumps tried per archive key: a start whose JVM is killed before its
# exit-time dump finishes leaves nothing to promote, and retrying forever
# would make every start pay the slower dumping start
_CDS_DUMPS = 3


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


def _java_home() -> str | None:
    """The JDK ``spark-class`` launches: ``$JAVA_HOME``, else the ``java``
    on PATH."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _template_conf_only(spark_home: str) -> bool:
    """True when the launcher puts no deployment directory on the driver's
    class path: the effective ``SPARK_CONF_DIR`` holds nothing but Spark's
    ``*.template`` files, and no Hadoop/YARN conf dir or extra class path
    is set. The JVM will not dump an archive while a non-empty directory is
    on the class path, and a real deployment conf must never be dropped."""
    if any(os.environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")):
        return False
    try:
        names = os.listdir(os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf"))
    except FileNotFoundError:
        return True
    except OSError:
        return False
    return all(n.endswith(".template") for n in names)


def _heap_bytes(memory: str) -> int:
    """A ``spark.driver.memory`` string in bytes (no unit means MiB)."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)b?", memory.strip().lower())
    return int(m[1]) << {"": 20, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}[m[2]] if m else 0


def _cds_key(spark_home: str, java_home: str, driver_memory: str) -> str:
    """An archive maps only into the JVM build that wrote it, over the same
    jars and in the same compressed-oops mode (heap below 32 GiB), so all
    of these, and the pyspark version, key it."""
    try:
        with open(os.path.join(java_home, "release")) as f:
            release = f.read()
    except FileNotFoundError:
        release = ""
    jars = sorted((e.name, e.stat().st_size) for e in os.scandir(os.path.join(spark_home, "jars")))
    oops = _heap_bytes(driver_memory) < 32 << 30
    ident = repr((java_home, release, jars, pyspark.__version__, oops))
    return hashlib.sha256(ident.encode()).hexdigest()[:16]


def _alive(pid) -> bool:
    """Whether ``pid``, as read from a lock file, names a running process."""
    if not isinstance(pid, int) or pid <= 0:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # running, as another user
        pass
    return True


def _read_json(path: str) -> dict:
    try:
        with open(path) as f:
            value = json.load(f)
    except (FileNotFoundError, ValueError):
        return {}
    return value if isinstance(value, dict) else {}


def _write_json(path: str, value: dict) -> None:
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)


@contextlib.contextmanager
def _locked(root: str):
    """Every start decides under one exclusive ``flock`` of the cache
    directory; the kernel releases it when a holder dies."""
    fd = os.open(root, os.O_RDONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        os.close(fd)


class _ClassArchive:
    """The driver JVM's per-machine dynamic class-data-sharing archive
    (lifecycle in ``get_spark``). Under ``${XDG_CACHE_HOME:-~/.cache}/
    mega-data-factory-spark/cds/`` it keeps one empty ``conf/`` dir, the
    promoted ``<key>.jsa``, a ``<key>.json`` record and, while a start
    dumps, ``<key>.lock`` and ``<key>.<pid>.tmp``."""

    def __init__(self, root: str, key: str):
        self.root = root
        self.conf_dir = os.path.join(root, "conf")
        self.jsa, self.record, self.lock = (os.path.join(root, key + e) for e in (".jsa", ".json", ".lock"))
        self.tmp = os.path.join(root, f"{key}.{os.getpid()}.tmp")
        self.java_options = ""
        self.dumping = False

    @classmethod
    def open(cls, driver_memory: str) -> _ClassArchive | None:
        """This start's archive, or None for a start without one: a
        deployment conf dir, an unwritable cache, or nothing to use yet
        while another start dumps."""
        spark_home, java_home = _find_spark_home(), _java_home()
        if fcntl is None or java_home is None or not _template_conf_only(spark_home):
            return None
        cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
        try:
            archive = cls(os.path.join(cache, "mega-data-factory-spark", "cds"),
                          _cds_key(spark_home, java_home, driver_memory))
            os.makedirs(archive.conf_dir, exist_ok=True)
            with _locked(archive.root):
                archive.java_options = archive._choose()
        except OSError:
            return None
        return archive if archive.java_options else None

    def _choose(self) -> str:
        """The JVM options of this start; "" starts without an archive."""
        use = f"-XX:SharedArchiveFile={self.jsa} -Xshare:auto -Xlog:cds=off"
        record = _read_json(self.record)
        try:
            st = os.stat(self.jsa)
        except FileNotFoundError:
            pass
        else:
            # a truncated or rewritten archive SIGBUSes the JVM even under
            # -Xshare:auto, so only the exact file the probe passed is used
            if [st.st_size, st.st_mtime_ns] == record.get("archive"):
                return use
            os.unlink(self.jsa)
            with contextlib.suppress(FileNotFoundError):
                os.unlink(self.record)
            return ""
        if os.path.exists(self.lock):
            lock = _read_json(self.lock)
            if _alive(lock.get("pid")):
                return ""  # that start's JVM is still running, or dumping
            tmp = lock.get("tmp")
            if isinstance(tmp, str) and os.path.dirname(tmp) == self.root and os.path.exists(tmp):
                if self._probe(tmp, record):
                    os.replace(tmp, self.jsa)
                    st = os.stat(self.jsa)
                    _write_json(self.record, dict(record, archive=[st.st_size, st.st_mtime_ns]))
                    os.unlink(self.lock)
                    return use
                os.unlink(tmp)
            os.unlink(self.lock)
        dumps = record.get("dumps")
        dumps = dumps if isinstance(dumps, int) else 0
        if dumps >= _CDS_DUMPS:
            return ""
        with os.fdopen(os.open(self.lock, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644), "w") as f:
            json.dump({"pid": os.getpid(), "tmp": self.tmp}, f)
        _write_json(self.record, {"dumps": dumps + 1})
        self.dumping = True
        # unsilenced, the dump warns about every signed jar it skips
        return f"-XX:ArchiveClassesAtExit={self.tmp} -Xlog:cds=off,cds+dynamic=off"

    def _probe(self, tmp: str, record: dict) -> bool:
        """Whether a JVM maps ``tmp`` with ``-Xshare:on``: good exits 0, a
        truncated file aborts, garbage is refused. It runs with the dumping
        JVM's exact class path, modules and heap size (a different one reads
        as a mismatch), writes no crash log and takes about 0.25 s."""
        try:
            args = [a for a in record["jvm_args"] if a.startswith(("--add-modules", "-Xmx"))]
            cmd = [os.path.join(record["java_home"], "bin", "java"), "-cp", record["classpath"], *args]
        except (KeyError, TypeError):
            return False  # the dumper died before it recorded its JVM
        cmd += ["-XX:+SuppressFatalErrorMessage", "-XX:-CreateCoredumpOnCrash",
                "-Xshare:on", f"-XX:SharedArchiveFile={tmp}", "-version"]
        try:
            done = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd=self.root, timeout=60)
        except subprocess.TimeoutExpired:
            return False
        return done.returncode == 0

    def launch(self, builder) -> SparkSession:
        """``builder.getOrCreate()`` with the archive's empty ``conf/`` as
        ``SPARK_CONF_DIR`` for the gateway launch only. A dumping start then
        records what the probe of its archive needs and hands the lock to
        the JVM's pid: the dump runs when the JVM exits, which can be after
        this process has gone."""
        saved = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            spark = builder.getOrCreate()
        finally:
            if saved is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = saved
        if self.dumping:
            jvm = spark.sparkContext._jvm
            system = jvm.java.lang.System
            jvm_args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
            with contextlib.suppress(OSError), _locked(self.root):
                record = dict(_read_json(self.record), classpath=system.getProperty("java.class.path"),
                              java_home=system.getProperty("java.home"), jvm_args=jvm_args)
                _write_json(self.record, record)
                _write_json(self.lock, {"pid": int(jvm.java.lang.ProcessHandle.current().pid()), "tmp": self.tmp})
        return spark


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

    A call that launches the driver JVM starts it from a per-machine
    dynamic class-data-sharing archive, which halves session start (JVM
    launch and class loading are most of it). Its lifecycle, per archive
    key (JDK build, Spark jars, pyspark version, compressed-oops mode),
    with every decision taken under a ``flock`` of the cache directory:
      * The first start takes ``<key>.lock`` (``O_EXCL``) and launches with
        ``-XX:ArchiveClassesAtExit=<key>.<pid>.tmp``; it records the JVM's
        class path and arguments, and the lock then names the JVM's pid.
        The JVM writes the archive when it exits (about 12 s for a
        140 MB archive), and this start is slower than a plain one.
        Concurrent starts meanwhile start without an archive.
      * The next start after that JVM has gone probes the ``.tmp`` with a
        ``java -Xshare:on -version`` run (a truncated archive SIGBUSes a
        JVM even under ``-Xshare:auto``). A good one is renamed to
        ``<key>.jsa`` and its size and mtime recorded; a bad one is deleted
        and this start dumps again (at most three dumps per key).
      * Later starts pass ``-XX:SharedArchiveFile=<key>.jsa -Xshare:auto``
        when the file still matches the record; a changed file is deleted
        and the start is a plain one.
    The launcher puts ``$SPARK_CONF_DIR`` on the class path and the JVM
    dumps no archive with a non-empty directory there, so while an archive
    is used or dumped the gateway launch alone sees an empty ``conf/``
    under the cache as ``SPARK_CONF_DIR``. That happens only when the
    effective conf dir holds nothing but ``*.template`` files: a real
    deployment conf means no archive at all. An unwritable cache means a
    plain start. Delete the cache directory to drop every archive.
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
    driver_memory = os.environ.get("SPARK_DRIVER_MEMORY", default_driver_mem)
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
        .config("spark.driver.memory", driver_memory)
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
        # zstd (level 3) instead of Spark's snappy for every parquet file
        # the engine lands: sinks, metrics, telemetry, seen-stores and
        # their rewrites, profiles, exports. Snappy is LZ-only and leaves
        # natural text and hex keys near 1:1; zstd's entropy stage
        # compresses both. perfbench write_amplification, 7 pairs: text
        # recipe 4.25 -> 2.85, C4 recipe 1.97 -> 1.18, stream 1.17 ->
        # 0.78 (its seen-store 191 -> 106 KB), identical passed ids; a
        # warm rewrite of the C4 outputs costs ~0.1 s more JVM CPU. A
        # sink's `compression` option or an extra_conf entry still wins.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
    )
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
    _gclocker = "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100"
    # r12-advice: a builder-set extraJavaOptions silently clobbers any
    # deployment-provided JVM options (spark-defaults.conf loses to the
    # builder). Append deployment options from the env (mirroring the
    # SPARK_DRIVER_MEMORY override) and from extra_conf instead of
    # overwriting them — the GCLocker guard composes with GC tuning,
    # -Djava.io.tmpdir etc. rather than replacing it.
    extra_conf = dict(extra_conf or {})
    archive = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        archive = _ClassArchive.open(extra_conf.get("spark.driver.memory", driver_memory))
    driver_opts = f"{_gclocker} {archive.java_options}" if archive else _gclocker
    for key, env, own in (
        ("spark.driver.extraJavaOptions", "SPARK_DRIVER_JAVA_OPTIONS", driver_opts),
        ("spark.executor.extraJavaOptions", "SPARK_EXECUTOR_JAVA_OPTIONS", _gclocker),
    ):
        supplied = " ".join(
            s for s in (extra_conf.pop(key, ""), os.environ.get(env, "")) if s
        ).strip()
        builder = builder.config(key, f"{own} {supplied}".strip())
    if not SparkSession.getActiveSession():
        builder = builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    if archive is None:
        return builder.getOrCreate()
    return archive.launch(builder)


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

"""Single-pass column profiler — dataset statistics for pipeline QA.

The reference surfaces only operator-level telemetry (counts/pass rates,
framework/metrics.py); it has no data-shape profiler, yet "what does this
100 TB corpus look like" (null rates, cardinalities, length and value
distributions) is the first question every curation run answers. This
operator closes that gap Spark-first:

  * ONE aggregate job for all requested columns and stats — every
    per-column expression rides the same map-side partial aggregate, so
    the full profile costs one scan + one tiny shuffle (a handful of
    partial-agg rows), regardless of how many columns are profiled.
  * The single result row is unpivoted IN-PLAN (explode over an array of
    structs) into the long ``(column, stat, value, text)`` form — no
    driver-side reshaping, and the output composes with normal DataFrame
    sinks.
  * Scale defaults: ``approx=True`` profiles cardinality with HLL
    (``approx_count_distinct``) and quantiles with ``approx_percentile``
    — both single-pass, bounded-memory sketches that hold at 100 TB.
    ``approx=False`` switches to exact ``count_distinct`` / ``percentile``
    (a per-column expand + sort — fine at test scale, and exactly
    mirrorable in ANSI SQL, which is how the oracle-differential test
    pins the arithmetic; tests/test_curation.py).

Cross-engine hash stability follows the registry rules
(plans/__init__.py): means are derived from exact DECIMAL(38,6) sums (an
order-independent reduction — double sums would drift in low bits between
engines/partitionings), and percentile outputs are rounded to 6 decimals
on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mega_data_factory_spark.functions.text import sql_ident, sql_number_literal, sql_string_literal
from mega_data_factory_spark.operators.base import with_sql_columns

NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)

ROUND_TO = 6
SAMPLE_COL = "__profile_sample"


SMALL_TABLE_FACTOR = 4


def sample_parquet_files(
    spark,
    path: str,
    *,
    byte_budget: int = 64 << 20,
    pattern: str = "*.parquet",
    small_table_factor: int = SMALL_TABLE_FACTOR,
) -> DataFrame:
    """Fixed-byte, deterministic FILE sample of a parquet table — the
    profiling posture that holds at 100 TB: every in-situ profile pays at
    least the scan, so the only way profile cost stays flat as the corpus
    grows is to bound the BYTES read. Real corpora land as many
    similar-sized part files with hash-distributed rows (this repo's own
    sinks and the reference's file-per-worker sharding,
    framework/executor.py:237-310), which makes a file subset a uniform
    row sample; a time-partitioned or sorted layout would bias it — pick
    row-hash sampling there and pay the full scan.

    Files are ranked by md5(file name) — deterministic across runs and
    independent of listing order — and taken until their cumulative size
    reaches ``byte_budget`` (always at least one file). Listing goes
    through the Hadoop FileSystem API, so any cluster path scheme works.
    A single-file ``path`` degenerates to reading that file.

    **Small-table auto-route (the sketch/exact crossover):** measured at
    sf0.1 (round 10), the sampling machinery's fixed overhead — listing,
    the extra sample scan, the freqItems screen — costs ~2x a plain
    full-table profile, and only pays off once the table is large enough
    that the budget actually prunes bytes. When the table's total size is
    <= ``small_table_factor * byte_budget`` the function therefore returns
    the plain full-table read (strictly more accurate, cheaper at this
    size); pass ``small_table_factor=0`` to force sampling regardless.
    The crossover sits between sf0.1 (~13 MB, full read wins) and sf1
    (~190 MB, the 100x-flat sampled sketch wins) on the bench tables.
    """
    import hashlib

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(hconf)
    is_dir = not fs.isFile(root)
    if not is_dir:
        statuses = [fs.getFileStatus(root)]
    else:
        statuses = list(fs.globStatus(jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/" + pattern)) or [])
        statuses = [s for s in statuses if s.isFile()]
        if not statuses and fs.exists(root):
            # hive-partitioned layouts (partition_by sinks, e.g. rejected
            # sinks partitioned by operator) nest part files under
            # key=value directories — the flat glob sees none. Fall back
            # to a recursive listing filtered by Hadoop's OWN GlobFilter,
            # so `pattern` means the same thing ({a,b} alternation,
            # backslash escapes, [seq] rules) on both layouts; basePath
            # below restores the partition columns the leaf paths would
            # otherwise drop. (exists() guard: listFiles throws
            # FileNotFound on a missing root, where the contract is the
            # ValueError below)
            leaf_glob = jvm.org.apache.hadoop.fs.GlobFilter(pattern)
            it = fs.listFiles(root, True)
            while it.hasNext():
                s = it.next()
                if leaf_glob.accept(s.getPath()):
                    statuses.append(s)
    if not statuses:
        raise ValueError(
            f"sample_parquet_files: no files matching {pattern!r} under {path} "
            "(searched the top level and recursively through partition dirs)"
        )
    files = sorted(
        ((s.getPath().toString(), int(s.getLen())) for s in statuses),
        key=lambda fl: hashlib.md5(fl[0].rsplit("/", 1)[-1].encode()).hexdigest(),
    )
    if sum(size for _, size in files) <= small_table_factor * byte_budget:
        # below the crossover the full read is cheaper AND exact — take
        # every listed file (pattern semantics preserved), no budget cut
        picked = [name for name, _ in files]
    else:
        picked, acc = [], 0
        for name, size in files:
            picked.append(name)
            acc += size
            if acc >= byte_budget:
                break
    reader = spark.read
    if is_dir:
        # leaf-file reads of a partitioned table drop the key=value
        # columns; basePath tells Spark where partition discovery starts
        reader = reader.option("basePath", path)
    return reader.parquet(*picked)


class ColumnProfiler:
    """Profiles a DataFrame into long-form ``(column, stat, value, text)``.

    Stats per column:
      * all types: ``count`` (non-null), ``nulls``, ``distinct``
      * numeric: ``min``/``max``/``mean`` (in ``value``), plus one
        ``p<q>`` row per requested percentile
      * string: ``min_len``/``max_len``/``avg_len`` (in ``value``) and
        lexicographic ``min``/``max`` (in ``text``)
      * other types (timestamp, date, ...): ``min``/``max`` stringified
        into ``text``

    ``columns=None`` profiles every non-complex column (arrays/maps/
    structs/binary are skipped — their profile is a different shape:
    size distributions, which ``F.size`` + a numeric profile covers).
    """

    def __init__(
        self,
        columns: list[str] | None = None,
        *,
        percentiles: tuple[float, ...] = (0.25, 0.5, 0.75),
        approx: bool = True,
        distinct_rsd: float = 0.05,
        approx_percentile_accuracy: int = 10_000,
        percentile_sample_mod: int = 16,
    ):
        if not all(0.0 < p < 1.0 for p in percentiles):
            raise ValueError(f"percentiles must be in (0, 1), got {percentiles}")
        if not 0.0 < distinct_rsd <= 0.37:
            # HLL++ rejects rsd above ~0.37 at aggregate-prepare time with
            # an opaque FAILED_FUNCTION_CALL; fail at construction instead
            raise ValueError(f"distinct_rsd must be in (0, 0.37], got {distinct_rsd}")
        if percentile_sample_mod < 1:
            raise ValueError(f"percentile_sample_mod must be >= 1, got {percentile_sample_mod}")
        self.columns = list(columns) if columns else None
        self.percentiles = tuple(percentiles)
        self.approx = approx
        self.distinct_rsd = distinct_rsd
        self.approx_percentile_accuracy = approx_percentile_accuracy
        self.percentile_sample_mod = percentile_sample_mod

    # ------------------------------------------------------------ internals

    def _samples(self) -> bool:
        return self.approx and self.percentile_sample_mod > 1 and bool(self.percentiles)

    def _selected(self, df: DataFrame) -> list[tuple[str, T.DataType]]:
        fields = {f.name: f.dataType for f in df.schema.fields}
        if self.columns is not None:
            missing = [c for c in self.columns if c not in fields]
            if missing:
                raise ValueError(f"profile columns not in DataFrame: {missing}")
            return [(c, fields[c]) for c in self.columns]
        skip = (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
        return [(c, t) for c, t in fields.items() if not isinstance(t, skip)]

    def _distinct_sql(self, ident: str) -> str:
        if self.approx:
            return f"approx_count_distinct({ident}, {sql_number_literal(float(self.distinct_rsd))})"
        return f"count(DISTINCT {ident})"

    def _pcts_sql(self, ident: str, sampled: bool) -> str:
        """ALL requested percentiles from ONE sketch per column (array
        form). Two measured facts shape this:

        * the per-percentile form builds an independent QuantileSummaries
          per call — ~20x slower than one array-form sketch;
        * even the array-form QuantileSummaries UPDATE dominates the whole
          profile (lineitem @ 6M rows: 8.1 s with percentiles, 0.10 s
          without — every other stat family combined is noise).

        So in sketch mode the summary ingests a deterministic 1-in-K row
        sample (``percentile_sample_mod``): update cost drops ~K-fold,
        memory stays bounded (still a sketch, never a value buffer), and
        the added rank error ~ sqrt(K/n) — at 100 TB row counts it is
        far below the sketch's own accuracy bound. The sample condition
        must be ROW-independent: an earlier form hashed the profiled
        column values, which selects or rejects entire VALUES — a
        low-cardinality column could land zero sampled values (all-NULL
        percentiles) and duplicated rows (ubiquitous pre-dedup) were
        sampled all-or-nothing. It now hashes a per-row id projected
        BEFORE the aggregate (nondeterministic expressions are illegal
        inside aggregate functions). Exact mode never samples."""
        arr = f"array({', '.join(sql_number_literal(float(p)) for p in self.percentiles)})"
        v = f"CAST({ident} AS double)"
        if self.approx:
            if sampled:
                v = f"CASE WHEN `{SAMPLE_COL}` THEN {v} END"  # NULLs are skipped by the sketch
            return f"approx_percentile({v}, {arr}, {sql_number_literal(self.approx_percentile_accuracy)})"
        # the explicit int frequency: the parser's 2-arg form defaults to
        # 1L (long), a different literal node in the formatted plan
        return f"percentile({v}, {arr}, 1)"

    def _aggregates_sql(
        self, cols: list[tuple[str, T.DataType]]
    ) -> tuple[list[str], list[tuple[str, str, bool, str, int | None]]]:
        """Aggregate expressions plus the unpivot layout
        ``(column, stat, is_text, agg_alias, array_index)`` —
        ``array_index`` is set for stats unpacked from a shared array
        aggregate (the percentile sketch)."""
        exprs: list[str] = []
        layout: list[tuple[str, str, bool, str, int | None]] = []
        sampled = self._samples()

        def add(col: str, stat: str, e_sql: str, *, text: bool = False) -> None:
            alias = f"{col}__{stat}"
            exprs.append(f"{e_sql} AS {sql_ident(alias, literal=True)}")
            layout.append((col, stat, text, alias, None))

        for name, dtype in cols:
            ident = sql_ident(name, literal=True)  # schema field names, never paths
            add(name, "count", f"count({ident})")
            add(name, "nulls", f"(count(1) - count({ident}))")
            add(name, "distinct", self._distinct_sql(ident))
            if isinstance(dtype, NUMERIC_TYPES):
                add(name, "min", f"CAST(min({ident}) AS double)")
                add(name, "max", f"CAST(max({ident}) AS double)")
                # exact decimal sum -> one double division: order-independent
                add(
                    name,
                    "mean",
                    f"round((CAST(sum(CAST({ident} AS decimal(38,6))) AS double)"
                    f" / count({ident})), {ROUND_TO})",
                )
                if self.percentiles:
                    alias = f"{name}__pcts"
                    exprs.append(f"{self._pcts_sql(ident, sampled)} AS {sql_ident(alias, literal=True)}")
                    for i, pv in enumerate(self.percentiles):
                        # :g keeps fractional percentiles distinct and
                        # exact (0.999 -> p99.9; int() truncated it to the
                        # colliding/mislabeled p99)
                        layout.append((name, f"p{pv * 100:g}", False, alias, i))
            elif isinstance(dtype, T.StringType):
                add(name, "min_len", f"CAST(min(length({ident})) AS double)")
                add(name, "max_len", f"CAST(max(length({ident})) AS double)")
                add(
                    name,
                    "avg_len",
                    f"round((CAST(sum(CAST(length({ident}) AS decimal(38,6))) AS double)"
                    f" / count({ident})), {ROUND_TO})",
                )
                add(name, "min", f"min({ident})", text=True)
                add(name, "max", f"max({ident})", text=True)
            else:
                add(name, "min", f"CAST(min({ident}) AS string)", text=True)
                add(name, "max", f"CAST(max({ident}) AS string)", text=True)
        return exprs, layout

    def _unpivot_sql(self, layout: list[tuple[str, str, bool, str, int | None]]) -> str:
        structs = []
        for col, stat, is_text, alias, idx in layout:
            v = sql_ident(alias, literal=True)
            if idx is not None:  # percentile unpacked from the shared array
                v = f"round({v}[{idx}], {ROUND_TO})"
            if is_text:
                value, text = "CAST(NULL AS double)", f"CAST({v} AS string)"
            else:
                value, text = f"CAST({v} AS double)", "CAST(NULL AS string)"
            structs.append(
                f"struct({sql_string_literal(col)} AS `column`,"
                f" {sql_string_literal(stat)} AS `stat`,"
                f" {value} AS `value`, {text} AS `text`)"
            )
        return f"explode(array({', '.join(structs)})) AS e"

    # -------------------------------------------------------------- surface

    def profile(self, df: DataFrame) -> DataFrame:
        """One aggregate job -> long-form profile DataFrame with columns
        ``column`` (string), ``stat`` (string), ``value`` (double — NULL
        for text stats), ``text`` (string — NULL for numeric stats).

        Authored as SQL text in three selectExpr round trips: composed as
        Columns, the profile cost ~30 py4j calls per aggregated column
        plus ~8 per unpivot entry — ~2000 round trips, ~2.1 s of pure
        driver latency for a 16-column table."""
        cols = self._selected(df)
        if not cols:
            raise ValueError("no profilable columns selected")
        if self._samples():
            # row-identity sample flag, projected before the aggregate:
            # monotonically_increasing_id is unique per row (partition-
            # layout-stable for a given read), so the 1-in-K selection is
            # independent of the measured values. A same-named input
            # column is replaced in place.
            df = with_sql_columns(
                df,
                {
                    SAMPLE_COL: f"(pmod(xxhash64(monotonically_increasing_id()), "
                    f"{sql_number_literal(self.percentile_sample_mod)}) = 0)"
                },
            )
        agg_strs, layout = self._aggregates_sql(cols)
        return df.selectExpr(*agg_strs).selectExpr(self._unpivot_sql(layout)).select("e.*")

    @staticmethod
    def diff(before: DataFrame, after: DataFrame) -> DataFrame:
        """Corpus drift report: full-outer-join two ``profile()`` outputs on
        (column, stat) into ``(column, stat, before, after, delta,
        rel_change, text_before, text_after)`` — the before/after QA view
        every curation run wants (did the dedup shift the length
        distribution? did the filter empty a column?).

        ``rel_change`` = delta / |before| (NULL when before is 0/NULL —
        sign-stable for negative stats like log-probs). A stat present on
        one side only (schema drift: column added/dropped) keeps the other
        side NULL, so drift in the SHAPE of the data surfaces in the same
        report as drift in its values. Driver-free: two profile rows per
        stat joined on tiny frames; composable with normal sinks.
        """
        b = before.select(
            "column", "stat", F.col("value").alias("before"), F.col("text").alias("text_before")
        )
        a = after.select(
            "column", "stat", F.col("value").alias("after"), F.col("text").alias("text_after")
        )
        joined = b.join(a, ["column", "stat"], "full_outer")
        delta = F.col("after") - F.col("before")
        return joined.select(
            "column",
            "stat",
            "before",
            "after",
            F.round(delta, ROUND_TO).alias("delta"),
            F.when(
                F.col("before").isNotNull() & (F.col("before") != 0) & F.col("after").isNotNull(),
                F.round(delta / F.abs(F.col("before")), ROUND_TO),
            ).alias("rel_change"),
            "text_before",
            "text_after",
        )


    def top_values(
        self, df: DataFrame, *, k: int = 10, support: float = 0.01, count_candidates: bool = False
    ) -> DataFrame:
        """Heavy hitters per profiled column — the skew question the flat
        ``profile()`` stats can't answer ("which keys are hot?"), and the
        direct input to the salting/skew-join levers
        (events_salted_user_totals, operators/joins.skew_split_join).

        Output is long-form ``(column, rank, text, count)``; values are
        stringified so one frame carries every column's hitters (the
        ``profile()`` posture).

        Two modes, the profiler's exact/sketch split:

        * ``approx=False`` — exact top-``k`` by count with a
          deterministic tie-break (count desc, value asc): ONE stacked
          scan (inline posexplode of (column, value) pairs — no
          per-column jobs), one groupBy(column, value) shuffle, and a
          top-k window over the grouped counts. Fully SQL-mirrorable;
          the differential test holds the driver-gate bar. At 100 TB
          this is for columns whose distinct count fits a shuffle
          (sources, langs, domains, status codes) — the groupBy
          cardinality is the SUM of per-column distincts, so profile
          high-cardinality id columns in sketch mode instead.
        * ``approx=True`` (constructor default) — single-pass
          ``DataFrame.stat.freqItems`` (Karp-Papadimitriou-Shenker):
          bounded memory, NO shuffle, returns the candidate superset of
          values with frequency > ``support`` (unordered, counts not
          estimated -> ``rank``/``count`` are NULL). When ranks ARE
          needed at scale, ``count_candidates=True`` adds the second
          pass: the screened candidates (a driver-small list) broadcast
          semi-join the stacked pairs and ONLY they are counted exactly
          and ranked — two scans total, no full-cardinality shuffle
          ever. KPS admits FALSE POSITIVES below the support threshold
          (never false negatives above it), so a returned row's exact
          count can sit under support*n — filter on ``count`` if the
          decision needs the threshold strictly; ranks are among
          candidates only.

        NULL is a value here: a 60%-NULL column's hottest "key" IS NULL,
        and hiding it would mislead the exact salting decision this
        report feeds. Exact mode reports it as a ``text IS NULL`` row
        (ties break count desc, then value asc NULLS FIRST); the sketch
        cannot (freqItems ignores nulls) — ``profile()``'s ``nulls``
        stat carries the rate there.
        """
        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        cols = [c for c, _ in self._selected(df)]
        if not cols:
            raise ValueError("no profilable columns selected")
        def stacked_pairs():
            return df.select(
                F.inline(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c).alias("column"),
                                # quoted so a backtick-carrying name parses
                                # (r12 advice; backticks double inside quotes)
                                F.col(f"`{c.replace('`', '``')}`").cast("string").alias("text"),
                            )
                            for c in cols
                        ]
                    )
                )
            )

        if self.approx:
            # stringify candidates through SPARK's cast, not Python str():
            # str(True)='True' but Spark casts to 'true' (doubles diverge
            # in exponent form too) — a str() list would silently match
            # nothing in the join below for non-string columns. The cast
            # is a projection ON the freqItems aggregate itself, so the
            # screen + stringify is ONE job total (round 12: the former
            # one-row createDataFrame + first() round trip was a separate
            # task-launch per profiled table — pure fixed cost on the
            # sketch path, which is job-count-bound, ~0.2s/table here).
            # identifier quoting (r12 advice): a profiled column whose NAME
            # carries a backtick must not break the parse. freqItems itself
            # parses raw names (and the stringify select does too), so
            # backtick-carrying columns are aliased to safe placeholders
            # first — doubling the backtick is how a quoted identifier
            # spells a literal one — and mapped back after.
            safe = {
                c: (f"__tv_bt{i}" if "`" in c else c) for i, c in enumerate(cols)
            }
            src = df
            if any(s != c for c, s in safe.items()):
                src = df.select(
                    *[F.col(f"`{c.replace('`', '``')}`").alias(s) for c, s in safe.items()]
                )
            srow = (
                src.stat.freqItems(list(safe.values()), support)
                .select(
                    *[
                        F.col(f"`{safe[c]}_freqItems`").cast("array<string>").alias(c)
                        for c in cols
                    ]
                )
                .first()
            )
            cand = sorted((c, v) for c in cols for v in (srow[c] or []) if v is not None)
            if not count_candidates:
                entries = [(c, None, v, None) for c, v in cand]
                schema = "column string, rank int, text string, count long"
                return df.sparkSession.createDataFrame(entries, schema)
            cand_df = df.sparkSession.createDataFrame(
                cand or [("", "")], "column string, text string"
            )
            # exact counts for the screened candidates only: the broadcast
            # semi-join keeps the groupBy cardinality at |candidates|,
            # never the column's distinct count
            pairs = stacked_pairs().join(F.broadcast(cand_df), ["column", "text"])
        else:
            pairs = stacked_pairs()
        counts = pairs.groupBy("column", "text").agg(F.count(F.lit(1)).alias("count"))
        from pyspark.sql import Window

        w = Window.partitionBy("column").orderBy(
            F.col("count").desc(), F.col("text").asc_nulls_first()
        )
        return (
            counts.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("column", "rank", "text", "count")
            .orderBy("column", "rank")
        )

"""Streaming pipeline runner + event-time operators."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mega_data_factory_spark.config import PipelineConfig
from mega_data_factory_spark.operators.base import ALIVE_SQL, DEAD_SQL, REJECTION_DETAILS_COL
from mega_data_factory_spark.plans.pipeline import Pipeline


def windowed_agg(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: tuple[str, ...] = ("event_type",),
    aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming form of the
    batch ``events_hourly_agg`` query. Late rows beyond the watermark are
    dropped; state for closed windows is evicted (bounded state at 100 TB/day
    event volumes)."""
    aggs = aggs or {"n_events": F.count(F.lit(1)), "sum_value": F.sum("value")}
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), *group_cols)
        .agg(*[v.alias(k) for k, v in aggs.items()])
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *group_cols,
            *aggs.keys(),
        )
    )


def session_window_agg(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key_cols: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Gap-based session windows (native ``session_window`` state operator)
    — the streaming form of the batch ``events_sessionize`` query."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), *key_cols)
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *key_cols,
            "n_events",
            "sum_value",
        )
    )


def stream_exact_dedup(df: DataFrame, key: Column, *, ts_col: str | None = None, watermark: str | None = None) -> DataFrame:
    """Streaming first-seen-wins exact dedup.

    Unbounded state (``dropDuplicates``) mirrors the reference's never-
    evicted seen-set (framework/backend.py); pass ``watermark`` to bound
    state via ``dropDuplicatesWithinWatermark`` — duplicates are then only
    guaranteed caught within the watermark horizon (the reference has no
    such policy; this is the 100 TB-safe mode)."""
    out = df.withColumn("__dedup_key", key)
    if watermark and ts_col:
        out = out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(["__dedup_key"])
    else:
        out = out.dropDuplicates(["__dedup_key"])
    return out.drop("__dedup_key")


def stream_dedup_with_reps(
    df: DataFrame,
    *,
    key_col: str,
    id_col: str,
) -> DataFrame:
    """Streaming first-seen-wins dedup that also TRACKS REPRESENTATIVES —
    the reference's actual seen-set semantics (backend.py:21-47: per-key
    ``{key: representative_id}``), which ``dropDuplicates`` alone loses.

    ``applyInPandasWithState`` keyed on the dedup key holds the first-seen
    id; every row is emitted with ``is_duplicate`` and the key's
    ``representative_id``, so the caller splits survivors/rejected exactly
    like the batch operators. Within one micro-batch, min(id) wins
    (deterministic, like the batch path); across batches, the stored
    representative wins. State is per-key and never evicted (NoTimeout) —
    the reference's policy; add a timeout for bounded state at scale.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key: tuple, pdfs, state: GroupState):
        rep = state.get[0] if state.exists else None
        frames = [pdf for pdf in pdfs if not pdf.empty]
        if not frames:
            return
        batch = pd.concat(frames).sort_values(id_col)
        if rep is None:
            rep = int(batch[id_col].iloc[0])
            state.update((rep,))
        out = batch[[id_col]].copy()
        out[key_col] = key[0]
        out["representative_id"] = rep
        out["is_duplicate"] = out[id_col] != rep
        yield out

    return (
        df.select(key_col, id_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=f"{id_col} long, {key_col} string, representative_id long, is_duplicate boolean",
            stateStructType="rep long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_dedup_with_reps_ttl(
    df: DataFrame,
    *,
    key_col: str,
    id_col: str,
    ttl_ms: int = 24 * 3600 * 1000,
) -> DataFrame:
    """Bounded-state streaming dedup with representatives — the Spark 4
    ``transformWithStateInPandas`` form of ``stream_dedup_with_reps``.

    Per-key ``ValueState`` holds the first-seen id with a STATE TTL: keys
    idle longer than ``ttl_ms`` are evicted by the state store itself, so
    state stays bounded at 100 TB/day key cardinalities — the eviction
    policy the reference's never-evicted seen-set actors
    (framework/backend.py:13-226) cannot express, and that the
    ``applyInPandasWithState`` form here only gestures at (NoTimeout).
    The trade is explicit: a duplicate arriving after its key's TTL is
    admitted again (the dedup horizon IS the TTL). Output contract matches
    ``stream_dedup_with_reps``: every row tagged ``is_duplicate`` with the
    key's ``representative_id``; within a micro-batch min(id) wins.

    Requires ``protobuf`` (transformWithState's Python<->state-server
    protocol) and the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``); import-gated with
    a clear error when absent — ``stream_dedup_with_reps`` is the
    dependency-free (unbounded-state) fallback."""
    try:
        from google.protobuf import descriptor as _  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise RuntimeError(
            "stream_dedup_with_reps_ttl needs the `protobuf` package "
            "(pyspark's transformWithState driver worker imports "
            "google.protobuf); `pip install protobuf`, or use "
            "stream_dedup_with_reps (applyInPandasWithState, unbounded "
            "state) instead"
        ) from exc
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class _TtlDedup(StatefulProcessor):
        def init(self, handle):
            self._rep = handle.getValueState("rep", "rep long", ttlDurationMs=ttl_ms)

        def handleInputRows(self, key, rows, timerValues):
            frames = [pdf for pdf in rows if not pdf.empty]
            if not frames:
                return
            batch = pd.concat(frames).sort_values(id_col)
            stored = self._rep.get() if self._rep.exists() else None
            rep = stored[0] if stored else None
            if rep is None:
                rep = int(batch[id_col].iloc[0])
            # update on EVERY batch, not just first-seen: Spark's state TTL
            # resets on write, so re-writing the unchanged representative is
            # what makes the horizon idle-based (a continuously-hot key
            # would otherwise expire ttl_ms after first-seen and be
            # re-admitted mid-stream)
            self._rep.update((rep,))
            out = batch[[id_col]].copy()
            out[key_col] = key[0]
            out["representative_id"] = rep
            out["is_duplicate"] = out[id_col] != rep
            yield out

        def close(self):
            pass

    return (
        df.select(key_col, id_col)
        .groupBy(key_col)
        .transformWithStateInPandas(
            _TtlDedup(),
            outputStructType=f"{id_col} long, {key_col} string, representative_id long, is_duplicate boolean",
            outputMode="append",
            timeMode="ProcessingTime",  # TTL clock
        )
    )


def stream_enrich(stream_df: DataFrame, static_df: DataFrame, on, *, how: str = "left") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    broadcast static dimension (user/account/domain metadata) without
    shuffling the stream — the streaming counterpart of the engine's
    broadcast dim joins, and the reference's blocklist-membership shape
    (url_filter.py:217-234) applied to a live stream. The static side is
    re-resolved per micro-batch, so a view over a slowly-changing table
    picks up updates between batches."""
    return stream_df.join(F.broadcast(static_df), on, how)


def stateful_user_totals(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-key cumulative (count, sum) carried across micro-batches — the
    generic form of the reference's only cross-record state (the dedup
    seen-set actor, framework/backend.py:13-226), here as arbitrary
    per-key accumulators. Emits one row per key per micro-batch with the
    running totals; state is partitioned by key across executors exactly
    like the reference's ``hash(key) % num_buckets`` actor sharding.

    NoTimeout = never evicted (the reference's semantics). For bounded
    state at 100 TB/day, switch to EventTimeTimeout + a watermark and
    evict idle keys.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key: tuple, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame({key_col: [key[0]], "n_events": [n], "sum_value": [s]})

    return (
        df.select(key_col, value_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=f"{key_col} long, n_events long, sum_value double",
            stateStructType="n long, s double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


class StreamingPipeline:
    """Run a batch-defined pipeline config continuously over a file stream.

    Each micro-batch goes through the SAME single-pass tagging plan as the
    batch runner (filters/refiners/dedup incl. join-dedup), then passed and
    rejected rows are appended to their sinks. ``checkpoint_dir`` provides
    exactly-once resume (source offsets + file-sink manifests) — the
    reference's per-shard ``records_processed`` checkpoints
    (loader_worker.py:133-140), done properly by the engine.

    Source-layout rule: Spark's FILE stream source assigns one scan task
    per file per micro-batch — it never splits a file across tasks the way
    the batch reader's input splits do. ``maxFilesPerTrigger`` therefore
    bounds each trigger's SCAN parallelism: 4 big files per trigger means
    a 4-task scan no matter how many cores the job has (measured: a
    ~1M-row trigger over 4-of-8 files read on 4 of 32 cores, nearly
    doubling trigger wall — scripts/diag_stream_4m.out). Land streaming
    corpora as many small-to-medium files and size files-per-trigger at or
    above the core count; with that, this runner's micro-batches measure
    at parity with the one-shot batch wall on the same volume.

    Note: plain dedup inside foreachBatch is first-wins *within* the
    micro-batch; for cross-batch seen-state use ``stream_exact_dedup``
    upstream OR an incremental store operator
    (``IncrementalExactDeduplicator`` / ``IncrementalMinHashDeduplicator``)
    in the config — their parquet stores are appended after each
    micro-batch's sinks land and re-read by the next trigger's tag, so
    batch N+1 dedups (exactly or approximately) against everything batch N
    admitted, surviving restarts without state-store RocksDB. The exact
    store's lookup caches nothing: a trigger persists one frame.

    ``output_files`` bounds the files each micro-batch appends per sink
    (coalesce before the write). Streaming parquet sinks otherwise emit one
    file per post-shuffle partition PER BATCH (AQE is disabled under
    streaming, so Spark never shrinks them) — at 32 shuffle partitions and
    2 sinks that is 64 small files per micro-batch, and the commit
    protocol's task setup/rename overhead dominates small batches. Only the
    post-shuffle write stage is collapsed; scan/filter stages keep full
    parallelism. Size it to ~micro-batch-rows / target-file-rows; None
    keeps one-file-per-partition (the right call for large micro-batches).

    ``shuffle_partitions`` sizes in-batch shuffles (the dedup window, any
    groupBy) to the MICRO-BATCH, not the session default. AQE never
    coalesces streaming plans, so a session tuned for full-table batch work
    launches that many near-empty shuffle tasks per micro-batch — pure
    scheduling overhead. The conf is set around each foreachBatch callback
    and restored after (the tagging plans are stateless, so the
    state-store "never change shuffle partitions across restarts" rule
    does not apply). Size to ~micro-batch-rows / rows-per-task. Caveat:
    the conf is session-global during the callback — when several
    streaming queries share one session, set the SAME value on all of
    them (or none): interleaved callbacks from another query would plan
    under whichever value is live.

    ``parallel_sinks`` overlaps the two sink appends on two driver
    threads, so the batch pays ~max(write, write) instead of their sum.
    Micro-batch writes are commit-protocol-latency-bound, not
    throughput-bound, and the cluster is idle during commits; requires
    both sinks. No separate cache-fill action is needed (the r6 runner
    ran a count() first — a third full action per micro-batch): the two
    write jobs share the tagging plan's shuffle map stages (the
    DAGScheduler submits a shuffle dependency once), and the persisted
    RDD's block-level write locks make concurrent computation of the
    same cached partition compute-once — the second task blocks on the
    lock, then reads the cached block. The writes ARE the cache fill.
    """

    def __init__(
        self,
        config: PipelineConfig,
        *,
        checkpoint_dir: str,
        output_files: int | None = None,
        shuffle_partitions: int | None = None,
        parallel_sinks: bool = False,
        metrics_path: str | None = None,
    ):
        self.config = config
        self.pipeline = Pipeline(config)
        self.checkpoint_dir = checkpoint_dir
        self.output_files = output_files
        self.shuffle_partitions = shuffle_partitions
        self.parallel_sinks = parallel_sinks
        # per-trigger telemetry (streaming/listener.py) into the same
        # metrics store the batch runner writes; defaults to the config's
        # metrics_path so the YAML contract carries over unchanged
        self.metrics_path = metrics_path or config.metrics_path

    def start(self, stream_df: DataFrame, *, trigger_available_now: bool = True):
        def _process(batch_df: DataFrame, batch_id: int) -> None:
            sess = batch_df.sparkSession
            prev_sp: str | None = None
            if self.shuffle_partitions:
                prev_sp = sess.conf.get("spark.sql.shuffle.partitions")
                sess.conf.set("spark.sql.shuffle.partitions", str(self.shuffle_partitions))
            try:
                self._process_batch(batch_df)
            finally:
                if prev_sp is not None:
                    sess.conf.set("spark.sql.shuffle.partitions", prev_sp)

        writer = stream_df.writeStream.foreachBatch(_process).option("checkpointLocation", self.checkpoint_dir)
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        if self.metrics_path:
            import uuid

            from mega_data_factory_spark.streaming.listener import StreamingMetricsListener

            # attach AFTER start with the concrete query id: the listener
            # scopes to this query and self-detaches on its termination,
            # so concurrent streams on one session never cross-write
            listener = StreamingMetricsListener(
                stream_df.sparkSession,
                self.metrics_path,
                pipeline=self.config.name,
                run_id=uuid.uuid4().hex[:12],
                query_id=str(q.id),
            ).attach()
            # close the attach race: a fast availableNow query can
            # terminate BEFORE the listener attaches — its terminate event
            # was already dispatched, so onQueryTerminated never fires for
            # this listener and it would stay registered on the session
            # forever. If the query is already gone, detach now (its
            # telemetry is unrecoverable either way — events predate the
            # attach). A termination after this check is safe: the
            # listener is attached, so the event reaches it and it
            # self-detaches.
            if not q.isActive:
                listener.detach()
        return q

    def _process_batch(self, batch_df: DataFrame) -> None:
        cfg = self.config
        self.pipeline.release_intermediates()  # fresh slate per micro-batch
        # the SAME operator loop as batch build() — incl. the tag column
        # and per-stage resource profiles (a duplicated loop here had
        # dropped GPU stage scheduling for streamed model stages)
        tagged = self.pipeline.apply_ops(batch_df).persist()
        try:
            import dataclasses

            from mega_data_factory_spark.sinks import write_sink

            nf = self.output_files

            def _sized(df: DataFrame) -> DataFrame:
                return df.coalesce(nf) if nf else df

            def _write_passed() -> None:
                # route through the batch sink factory so format/options/
                # custom SINKS registrations apply in streaming too; the
                # micro-batch contract forces append mode
                write_sink(
                    _sized(tagged.filter(ALIVE_SQL).drop(REJECTION_DETAILS_COL)),
                    dataclasses.replace(cfg.sink, mode="append"),
                )

            def _write_rejected() -> None:
                rej_cfg = dataclasses.replace(
                    cfg.rejected_sink,
                    mode="append",
                    partition_by=cfg.rejected_sink.partition_by or ["operator"],
                )
                write_sink(
                    _sized(
                        tagged.filter(DEAD_SQL).withColumn(
                            "operator", F.col(f"{REJECTION_DETAILS_COL}.operator")
                        )
                    ),
                    rej_cfg,
                )

            if self.parallel_sinks and cfg.sink and cfg.rejected_sink:
                from concurrent.futures import ThreadPoolExecutor

                # No separate cache-fill action: the writes themselves fill
                # the persisted blocks (see class docstring — the former
                # per-batch count() was a third full action per micro-batch,
                # the bulk of the r6 2.5x streaming-vs-batch overhead).
                with ThreadPoolExecutor(max_workers=2) as ex:
                    futs = [ex.submit(_write_passed), ex.submit(_write_rejected)]
                    for f in futs:
                        f.result()
            else:
                if cfg.sink:
                    _write_passed()
                if cfg.rejected_sink:
                    _write_rejected()
            # after this micro-batch's sinks land: batch N+1 then dedups
            # against everything batch N admitted — the cross-batch
            # seen-state the in-batch window cannot provide
            self.pipeline.update_stores(tagged)
        finally:
            tagged.unpersist()
            self.pipeline.release_intermediates()

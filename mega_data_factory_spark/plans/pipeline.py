"""Config-driven pipeline execution — the reference's primary entry point
(``mdf run -c config.yaml``, SURVEY §3.1) re-expressed as ONE Catalyst plan.

Single-pass rejection tagging: instead of splitting passed/rejected per
stage (which would re-scan the source once per side output — the reference
writes rejected rows mid-pipeline from each worker, framework/worker.py:
113-117), every row carries a nullable ``_rejection_details`` struct,
which every operator fills through its own ``tag`` (the tag contract in
operators/base.py — the one implementation standalone ``apply``/``rejected``
also use):

  * a Filter tags failing alive rows, a single-key Deduplicator ranks alive
    rows per key, a join-based near-dedup left-joins its duplicate-pairs
    frame over alive rows;
  * a Refiner's columns are NULL on rejected rows;
  * any other operator is a full-frame transform that keeps the tag.

The tagged frame is persisted once; the passed sink, rejected sink
(partitioned by rejecting operator, reference executor.py:100-124) and the
metrics aggregation are then three cheap actions over the cached plan.
Per-operator input/output counts are reconstructed from ONE aggregation of
rejection counts by operator (no per-stage count() scans).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from mega_data_factory_spark.config import PipelineConfig
from mega_data_factory_spark.operators.base import (
    ALIVE_SQL,
    DEAD_SQL,
    REJECTION_DETAILS_COL,
    REJECTION_STRUCT_DDL,
    JoinDeduplicator,
    Operator,
)
from mega_data_factory_spark.registry import OPERATORS
from mega_data_factory_spark.sinks import write_sink
from mega_data_factory_spark.sources import read_source

_R = REJECTION_DETAILS_COL


@dataclass
class OperatorMetrics:
    stage: str
    operator: str
    input_records: int
    output_records: int

    @property
    def pass_rate(self) -> float:
        return 100.0 * self.output_records / self.input_records if self.input_records else 100.0


@dataclass
class PipelineResult:
    run_id: str
    pipeline: str
    duration_sec: float
    input_records: int
    output_records: int
    operators: list[OperatorMetrics] = field(default_factory=list)

    @property
    def pass_rate(self) -> float:
        return 100.0 * self.output_records / self.input_records if self.input_records else 100.0

    @property
    def throughput_rps(self) -> float:
        """End-to-end records/sec (reference run metrics' avg throughput,
        metrics/collector.py:75-104)."""
        return self.input_records / self.duration_sec if self.duration_sec > 0 else 0.0


class Pipeline:
    """A recipe's operators over its source as ONE tagged plan. ``build``
    and the streaming runner share ``apply_ops``; ``run`` writes the
    passed, rejected and metrics sides from the persisted tagged frame.
    Pair-defined (``JoinDeduplicator``) dedup inputs are persisted mid-plan
    and released by the runner after its actions (``release_intermediates``)."""

    def __init__(self, config: PipelineConfig):
        from mega_data_factory_spark.resources import build_task_profile

        self.config = config
        self._ops: list[tuple[str, Operator]] = []  # (stage, instance) in order
        # join-dedup inputs persisted mid-plan by _apply; released by the
        # runner (run() / StreamingPipeline) after its actions complete
        self._mid_cached: list[DataFrame] = []
        # per-stage ResourceProfiles (GPU stage placement, resources.py);
        # built eagerly so a bad resources block fails at construction
        self.stage_profiles = {
            s.name: p for s in config.stages if (p := build_task_profile(s.resources)) is not None
        }
        for stage in config.stages:
            for oc in stage.operators:
                if not oc.enabled:
                    continue
                self._ops.append((stage.name, OPERATORS.create(oc.name, oc.params)))

    # ------------------------------------------------------------- building

    def release_intermediates(self) -> None:
        """Unpersist the mid-plan caches from the last build (idempotent)."""
        for f in self._mid_cached:
            f.unpersist()
        self._mid_cached = []

    def close(self) -> None:
        """Full teardown: mid-plan caches AND operator-held model frames
        (any op exposing ``unpersist()``, e.g. NgramPerplexityScorer's
        loaded bigrams/contexts). Distinct from ``release_intermediates``,
        which the streaming runner calls per micro-batch — evicting models
        there would force a reload every batch; call ``close`` once when a
        long-lived session is done with the pipeline."""
        self.release_intermediates()
        for _stage, op in self._ops:
            release = getattr(op, "unpersist", None)
            if callable(release):
                release()

    def build(self, spark: SparkSession, files: list[str] | None = None) -> DataFrame:
        """Source -> tagged DataFrame (one logical plan, no actions — except
        that join-dedup inputs are registered for caching; call
        ``release_intermediates`` after the consuming action)."""
        self.release_intermediates()
        df = read_source(spark, self.config.source, max_samples=self.config.max_samples, files=files)
        return self.apply_ops(df)

    def apply_ops(self, df: DataFrame) -> DataFrame:
        """Tag column + every operator + stage resource profiles — the ONE
        operator loop, shared by batch build() and the streaming runner
        (a duplicated loop in the runner had already drifted: it skipped
        the stage resource tagging, silently dropping GPU scheduling for
        streamed model stages)."""
        if _R not in df.columns:
            df = df.withColumn(_R, F.lit(None).cast(REJECTION_STRUCT_DDL))
        tagged: set[str] = set()
        for stage_name, op in self._ops:
            # first operator of a resource-carrying stage: tag the Spark
            # stage boundary so the fused model UDFs that follow schedule on
            # the requested CPU/GPU amounts (no-op on local masters)
            if stage_name in self.stage_profiles and stage_name not in tagged:
                from mega_data_factory_spark.resources import tag_stage_resources

                df = tag_stage_resources(df, self.stage_profiles[stage_name])
                tagged.add(stage_name)
            df = self._apply(df, op)
        return df

    def _apply(self, df: DataFrame, op: Operator) -> DataFrame:
        if isinstance(op, JoinDeduplicator):
            # The pairs side embeds the full upstream plan (scan + every
            # prior operator) a SECOND time, and the filter(alive)
            # difference defeats ReusedExchange — K join-dedups would
            # re-execute the upstream (model-UDF refiners included) K extra
            # times per action. Persist the shared input once; the runner
            # releases it after its action.
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            self._mid_cached.append(df)
        return op.tag(df)

    def update_stores(self, tagged: DataFrame) -> list[Operator]:
        """Append the survivors of the persisted ``tagged`` frame to every
        incremental dedup's seen-store; returns the operators updated.
        Runners call it AFTER their sinks land (the resume manifest's
        at-least-once posture): the next run or micro-batch then dedups
        against everything this one admitted, and a replayed batch
        re-appends keys the store lookup collapses. A no-op without a
        PASSED sink: survivor keys only ever ship through it, so a
        sink-less (or rejected-only audit) run must not remember docs as
        seen — a later real run would reject them as duplicates of
        representatives that never landed. ``tagged`` is the cached frame,
        not an observed plan, so this action refires no Observation."""
        if not self.config.sink:
            return []
        survivors = tagged.filter(ALIVE_SQL).drop(_R)
        updated = [op for _stage, op in self._ops if hasattr(op, "update_store")]
        for op in updated:
            op.update_store(survivors, survivors=True)
        return updated

    def explain(self, spark: SparkSession, mode: str = "formatted") -> str:
        """Physical plan of the built pipeline (one Catalyst plan for all
        stages) — the audit surface for pushdown/fusion/shuffle review."""
        df = self.build(spark)
        try:
            return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)
        finally:
            self.release_intermediates()

    # -------------------------------------------------------------- running

    def run(self, spark: SparkSession) -> PipelineResult:
        t0 = time.time()
        run_id = uuid.uuid4().hex[:12]
        src = self.config.source
        pending: list[str] | None = None
        if src.resume_manifest and src.path and not src.table:
            from mega_data_factory_spark.sources.manifest import unprocessed_files

            pending = unprocessed_files(src.path, src.resume_manifest, src.format.lower())
            if not pending:  # fully resumed — nothing left to process
                return PipelineResult(run_id, self.config.name, time.time() - t0, 0, 0, [])
        tagged = self.build(spark, files=pending).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # Free-rider metrics: an Observation on the tagged frame is
            # populated by whichever action runs first (the passed-sink
            # write), so per-operator counts cost NO extra scan when a sink
            # exists (SURVEY §2.6: reference per-operator stats ->
            # df.observe). Without a sink, one aggregation over the cache.
            from pyspark.sql import Observation

            obs = Observation("pipeline_metrics")
            # rejection tags carry the operator NAME; if two instances share
            # a name, attribute their (merged) count to the first instance
            # rather than counting the same rows twice
            seen_names: set[str] = set()
            obs_exprs = [F.count(F.lit(1)).alias("total")]
            for i, (_s, op) in enumerate(self._ops):
                expr = (
                    F.sum(F.when(F.col(f"{_R}.operator") == op.name, 1).otherwise(0))
                    if op.name not in seen_names
                    else F.max(F.lit(0))
                )
                seen_names.add(op.name)
                obs_exprs.append(expr.alias(f"rej_{i}"))
            # input may already carry tags (chained recipes re-running over
            # a tagged table): rows rejected by an operator NOT in this run
            # would otherwise count in total but in no rej_i, inflating
            # output_records past what the passed sink writes. (A pre-tag
            # whose operator name collides with one of this run's ops is
            # attributed to that op — accepted.)
            obs_exprs.append(
                F.sum(
                    F.when(
                        F.col(f"{_R}.operator").isNotNull()
                        & ~F.col(f"{_R}.operator").isin([o.name for _s2, o in self._ops]),
                        1,
                    ).otherwise(0)
                ).alias("pre_rejected")
            )
            observed = tagged.observe(obs, *obs_exprs)
            passed = observed.filter(ALIVE_SQL).drop(_R)

            def _write_passed() -> None:
                if self.config.sink:
                    write_sink(passed, self.config.sink)
                else:
                    passed.count()  # populate the observation

            def _write_rejected() -> None:
                import dataclasses

                rejected = (
                    tagged.filter(DEAD_SQL)
                    .withColumn("operator", F.col(f"{_R}.operator"))
                    # run provenance: the sink is append-mode, so without
                    # this a shared path mixes runs and the report's
                    # rejected-sample tables cannot scope to one run
                    .withColumn("run_id", F.lit(run_id))
                )
                # local copy — mutating the caller's SinkConfig in place
                # would leak partition_by=['operator'] into any later reuse
                # of that instance (reference layout, executor.py:100-124)
                rej_cfg = dataclasses.replace(
                    self.config.rejected_sink,
                    partition_by=self.config.rejected_sink.partition_by or ["operator"],
                )
                # REBALANCE on the partition columns before the hive-
                # partitioned write (guide: coalesce-on-write): without it
                # every cached task writes one file per partition value it
                # holds — measured round 12 at bench scale: 514 files /
                # ~1.0s for a ~2.5k-row rejected side vs 18 files / ~0.39s
                # rebalanced. AQE both coalesces small partitions AND
                # splits a skewed partition value across tasks, so the
                # shape is safe when one operator rejects most of a
                # 100 TB corpus (a plain repartition(cols) would funnel
                # that operator through one task).
                write_sink(rejected.hint("rebalance", *rej_cfg.partition_by), rej_cfg)

            if self.config.sink and self.config.rejected_sink:
                # Overlap the two sink writes on two driver threads (guide
                # §2.6; the streaming runner's parallel_sinks posture,
                # always-on here): both actions read the SAME persisted
                # tagged frame, the block-level cache write locks make
                # concurrent first computation compute-once, and the
                # Observation rides whichever action touches the observed
                # plan (the passed write). The batch then pays
                # ~max(write, write) instead of their sum — the rejected
                # write is commit-latency-bound, not throughput-bound, and
                # the cluster is otherwise idle during its commits.
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=2) as ex:
                    for fut in [ex.submit(_write_passed), ex.submit(_write_rejected)]:
                        fut.result()
            else:
                _write_passed()
                if self.config.rejected_sink:
                    _write_rejected()

            got = obs.get
            total = got["total"]
            rejected_by_idx = [got[f"rej_{i}"] or 0 for i in range(len(self._ops))]
            pre_rejected = got["pre_rejected"] or 0
            passed_n = total - sum(rejected_by_idx) - pre_rejected
            ops_metrics: list[OperatorMetrics] = []
            # the funnel starts from the rows THIS run could pass
            remaining = total - pre_rejected
            for (stage, op), rejected_here in zip(self._ops, rejected_by_idx):
                ops_metrics.append(OperatorMetrics(stage, op.name, remaining, remaining - rejected_here))
                remaining -= rejected_here
            result = PipelineResult(
                run_id=run_id,
                pipeline=self.config.name,
                duration_sec=time.time() - t0,
                input_records=total,
                output_records=passed_n,
                operators=ops_metrics,
            )
            if self.config.metrics_path:
                from mega_data_factory_spark.metrics import write_metrics

                write_metrics(spark, result, self.config.metrics_path)
            if self.config.profile_path:
                # data-shape profile of the shipped output: ONE sketch-mode
                # aggregate over the already-cached tagged frame
                # (operators/profiling.py), long-form parquet
                from mega_data_factory_spark.operators.profiling import ColumnProfiler

                ColumnProfiler().profile(passed).write.mode("overwrite").parquet(
                    self.config.profile_path
                )
            for op in self.update_stores(tagged):
                if self.config.metrics_path and getattr(op, "store_path", None):
                    # store growth is monitorable from the metrics table
                    # (event=post_update; footer/listing stats, no data scan)
                    from mega_data_factory_spark.metrics import write_store_metrics

                    write_store_metrics(
                        spark,
                        self.config.metrics_path,
                        run_id=run_id,
                        pipeline=self.config.name,
                        operator_name=op.name,
                        store_path=op.store_path,
                    )
            if pending is not None and self.config.sink and self.config.max_samples is None:
                # checkpoint ONLY when every record of the pending files
                # could have durably landed: needs the PASSED sink (a
                # rejected-only audit ships survivors nowhere — marking
                # its files processed would lose them the same way a
                # metrics-only preview would) and no max_samples cap (a
                # truncated read marking whole files processed would drop
                # every record past the sample from all future runs)
                from mega_data_factory_spark.sources.manifest import mark_processed

                mark_processed(src.resume_manifest, pending, run_id)
            return result
        finally:
            tagged.unpersist()
            self.release_intermediates()

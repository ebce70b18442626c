"""Spans around the public calls into each layer, plus Spark status-store
deltas, for the traced run.

Nothing inside the package is instrumented: ``Tracer.install`` wraps the
layer entry points from outside (config parsing, operator creation, source
reads, plan builds, sink and metrics writes, seen-store updates, streaming
micro-batches) and ``uninstall`` puts the originals back. Spans stay in
memory and are written out once, at the end of the benchmark.
"""

from __future__ import annotations

import json
import re
import threading
import time
from dataclasses import asdict, dataclass, field

# layer span names; the metric prefixes of the per-layer table
CONFIG, REGISTRY, SOURCES, PLANS = "config.parse", "registry.create", "sources.read", "plans.build"
SINK_PASSED, SINK_REJECTED, SINK_OTHER = "sinks.passed", "sinks.rejected", "sinks.other"
METRICS, STORE, BATCH, RUN = "metrics.write", "streaming.store_update", "streaming.batch", "run"


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with Spark's status-store times
    end: float
    parent: int | None
    run_id: str
    py4j_calls: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length in ms of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000


def self_ms(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part its direct children cover. Children
    may overlap (``Pipeline.run`` writes its two sinks on two threads), so
    the covered part is the union of their intervals, not their sum."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.id]
    return span.ms - union_ms(kids, span.start, span.end)


def outermost(spans: list[Span], name: str) -> list[Span]:
    """Spans called ``name`` that have no ancestor of the same name."""
    by_id = {s.id: s for s in spans}
    out = []
    for s in spans:
        if s.name != name:
            continue
        p = by_id.get(s.parent)
        while p is not None and p.name != name:
            p = by_id.get(p.parent)
        if p is None:
            out.append(s)
    return out


class Tracer:
    def __init__(self, spark, sink_paths: dict[str, str]):
        self.spark = spark
        self.sink_paths = sink_paths  # passed/rejected sink path -> span name
        self.spans: list[Span] = []
        self.run_id = ""
        self._root: Span | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self.py4j_calls = 0
        self._restore: list = []
        self.cache_bytes = 0

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str) -> Span:
        stack = self._stack()
        # a pool thread (the two sink writes) starts with an empty stack:
        # its spans hang under the span that submitted the work
        parent = stack[-1] if stack else getattr(self._local, "base", None) or self._root
        with self._lock:
            self._next_id += 1
            span = Span(self._next_id, name, time.time(), 0.0, parent.id if parent else None, self.run_id)
            span.py4j_calls = self.py4j_calls
        stack.append(span)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        span.py4j_calls = self.py4j_calls - span.py4j_calls
        self._stack().pop()
        with self._lock:
            self.spans.append(span)

    def begin_run(self, run_id: str) -> None:
        self.run_id = run_id
        self._root = self._open(RUN)

    def end_run(self) -> Span:
        root, self._root = self._root, None
        self._close(root)
        return root

    # --------------------------------------------------------- wrapping

    def _wrap(self, owner, attr: str, namer, after=None, static: bool = False) -> None:
        if attr in vars(owner):  # a class or module attribute: put it back as it was
            original = vars(owner)[attr]
            self._restore.append(lambda: setattr(owner, attr, original))
        else:  # a method found on the class of an instance: drop the override
            self._restore.append(lambda: delattr(owner, attr))
        target = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            span = tracer._open(namer(args, kwargs))
            try:
                out = target(*args, **kwargs)
            finally:
                tracer._close(span)
            if after is not None:
                after(span, out)
            return out

        setattr(owner, attr, staticmethod(wrapped) if static else wrapped)

    def _install_pool_hook(self) -> None:
        """Work submitted to a thread pool opens its spans under the span
        that was current on the submitting thread."""
        from concurrent.futures import ThreadPoolExecutor

        submit = ThreadPoolExecutor.submit
        tracer = self

        def submit_under_span(pool, fn, /, *args, **kwargs):
            stack = tracer._stack()
            base = stack[-1] if stack else None

            def call(*a, **k):
                tracer._local.base = base
                try:
                    return fn(*a, **k)
                finally:
                    tracer._local.base = None

            return submit(pool, call, *args, **kwargs)

        ThreadPoolExecutor.submit = submit_under_span
        self._restore.append(lambda: setattr(ThreadPoolExecutor, "submit", submit))

    def install(self) -> None:
        import py4j.java_gateway as jg

        import mega_data_factory_spark.metrics as metrics_mod
        import mega_data_factory_spark.plans.pipeline as pipeline_mod
        import mega_data_factory_spark.sinks as sinks_mod
        from mega_data_factory_spark.config import PipelineConfig
        from mega_data_factory_spark.operators.dedup import IncrementalExactDeduplicator
        from mega_data_factory_spark.plans.pipeline import Pipeline
        from mega_data_factory_spark.registry import OPERATORS
        from mega_data_factory_spark.streaming.runner import StreamingPipeline

        send = jg.GatewayClient.send_command
        tracer = self

        def counted(client, *args, **kwargs):
            with tracer._lock:
                tracer.py4j_calls += 1
            return send(client, *args, **kwargs)

        jg.GatewayClient.send_command = counted
        self._restore.append(lambda: setattr(jg.GatewayClient, "send_command", send))

        self._install_pool_hook()

        def fixed(name):
            return lambda args, kwargs: name

        def sink_name(args, kwargs):
            cfg = args[1] if len(args) > 1 else kwargs["cfg"]
            return self.sink_paths.get(cfg.path, SINK_OTHER)

        self._wrap(PipelineConfig, "from_dict", fixed(CONFIG), static=True)
        self._wrap(PipelineConfig, "from_yaml", fixed(CONFIG), static=True)
        self._wrap(OPERATORS, "create", fixed(REGISTRY))
        self._wrap(pipeline_mod, "read_source", fixed(SOURCES))
        self._wrap(Pipeline, "build", fixed(PLANS), after=self._plan_phases)
        self._wrap(Pipeline, "apply_ops", fixed(PLANS), after=self._plan_phases)
        self._wrap(pipeline_mod, "write_sink", sink_name, after=self._sample_cache)
        self._wrap(sinks_mod, "write_sink", sink_name, after=self._sample_cache)
        self._wrap(metrics_mod, "write_metrics", fixed(METRICS))
        self._wrap(IncrementalExactDeduplicator, "update_store", fixed(STORE))
        self._wrap(StreamingPipeline, "_process_batch", fixed(BATCH))

    def uninstall(self) -> None:
        for restore in reversed(self._restore):
            restore()
        self._restore = []

    # ------------------------------------------------- in-span probes

    def _plan_phases(self, span: Span, df) -> None:
        """Catalyst phase times and exchange count of the built plan. Only
        the outermost plan span probes (build calls apply_ops); planning is
        forced here, after the span closed, so the span's own time and
        py4j count stay those of the Python build."""
        if any(s.name == PLANS for s in self._stack()):
            return
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                span.attrs[f"{phase}_ms"] = phases.apply(phase).durationMs()
        span.attrs["exchanges"] = len(re.findall(r"(?m)^[\s:+\-|]*\w*Exchange\b", plan))

    def _sample_cache(self, span: Span, _out) -> None:
        """Bytes the block manager holds for cached frames right after a
        sink write (the tagged frame is cached then)."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        held = sum(i.memSize() + i.diskSize() for i in infos)
        span.attrs["cache_bytes"] = held
        self.cache_bytes = max(self.cache_bytes, held)

    # ----------------------------------------------------------- output

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


# ------------------------------------------------ Spark status store


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1, "s": 1000, "m": 60000, "h": 3600000}


def parse_metric(text: str) -> float:
    """Total of an SQL metric's display string, e.g. ``'22 ms'``,
    ``'10,000'`` or ``'total (min, med, max ...)\\n104.1 KiB (...)'``;
    sizes in bytes, times in ms."""
    head = text.strip().split("\n")[-1].split(" (")[0].strip()
    num, _, unit = head.partition(" ")
    value = float(num.replace(",", ""))
    return value * _SIZE.get(unit, _TIME.get(unit, 1))


class StatusStore:
    """Reads stage totals and SQL node metrics from the session's status
    stores (they work with the UI disabled)."""

    STAGE_FIELDS = (
        "numCompleteTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
        "inputRecords", "shuffleWriteBytes", "shuffleReadBytes", "diskBytesSpilled",
    )

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def stage_ids(self) -> set[tuple[int, int]]:
        seq = self._app.stageList(self._empty, False, False, self._quantiles, self._empty)
        return {(seq.apply(i).stageId(), seq.apply(i).attemptId()) for i in range(seq.size())}

    def stages(self, skip: set[tuple[int, int]]) -> list[dict]:
        """Completed stages not in ``skip``, with the fields the per-layer
        table needs and their submission/completion epoch seconds."""
        seq = self._app.stageList(self._empty, False, False, self._quantiles, self._empty)
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            key = (s.stageId(), s.attemptId())
            if key in skip or s.status().toString() != "COMPLETE":
                continue
            d = {f: getattr(s, f)() for f in self.STAGE_FIELDS}
            d["stageId"], d["attemptId"], d["numTasks"] = key[0], key[1], s.numTasks()
            d["submitted"] = s.submissionTime().get().getTime() / 1000
            d["completed"] = s.completionTime().get().getTime() / 1000
            out.append(d)
        return sorted(out, key=lambda d: d["stageId"])

    def busy_tasks(self, stage: dict) -> int:
        """Tasks of ``stage`` that read at least one input record."""
        seq = self._app.taskList(stage["stageId"], stage["attemptId"], stage["numTasks"])
        busy = 0
        for i in range(seq.size()):
            m = seq.apply(i).taskMetrics()
            if m.isDefined() and m.get().inputMetrics().recordsRead() > 0:
                busy += 1
        return busy

    def last_execution(self) -> int:
        seq = self._sql.executionsList()
        return max((seq.apply(i).executionId() for i in range(seq.size())), default=-1)

    def node_metrics(self, after: int, wanted: dict[str, str]) -> dict[str, float]:
        """Sums, over SQL executions with id > ``after``, of node metrics
        ``{metric name: key}`` from ``wanted``. The store keeps only display
        strings (``'549.3 KiB'``), so sizes carry about four digits."""
        out = {k: 0.0 for k in wanted.values()}
        seq = self._sql.executionsList()
        for i in range(seq.size()):
            eid = seq.apply(i).executionId()
            if eid <= after:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                metrics = nodes.apply(j).metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = wanted.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
        return out


def stage_totals(stages: list[dict], lo: float | None = None, hi: float | None = None) -> dict:
    """Totals over stages that ran inside [lo, hi] (all when unbounded)."""
    sel = [s for s in stages if (lo is None or s["submitted"] >= lo - 0.001) and (hi is None or s["completed"] <= hi + 0.001)]
    return {
        "stages": len(sel),
        "tasks": sum(s["numCompleteTasks"] for s in sel),
        "task_run_s": sum(s["executorRunTime"] for s in sel) / 1000,
        "jvm_cpu_s": sum(s["executorCpuTime"] for s in sel) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in sel) / 1000,
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in sel),
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in sel),
        "spill_bytes": sum(s["diskBytesSpilled"] for s in sel),
    }

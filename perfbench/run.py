"""Curation benchmark: complete recipe runs over seeded corpora.

Usage, from the repository root:

    python3 perfbench/run.py --workload text_recipe_1file --seed 1 --seconds 15 --trace 0

One process is one run of the benchmark. It starts a session (timed as
``setup_s``), writes the workload's corpus for ``--seed`` (untimed), and
runs the recipe: the first run in the fresh session is the measured one,
and warm runs fill the rest of ``--seconds``. Every run's outputs are
checked; a run that raises or fails a check counts as failed.

With ``--trace 1`` the cold run is traced and gives the per-layer table;
warm runs untraced, traced and untraced then give the tracing overhead.
The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. See README.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid

import tracing as tr
import workloads as wl
from corpus import write_corpus
from proctree import TreeSampler, become_subreaper, reap_descendants, tree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"

END_TO_END = {
    "records_per_s": "1/s",
    "cpu_s_per_1k_records": "s",
    "peak_rss_mb": "MB",
    "write_amplification": "ratio",
    "trigger_p50_s": "s",
    "setup_s": "s",
}
PER_LAYER = {
    "config.parse_ms": "ms",
    "registry.create_ms": "ms",
    "sources.read_ms": "ms",
    "sources.input_files": "count",
    "sources.input_bytes": "bytes",
    "sources.scan_tasks": "count",
    "sources.scan_tasks_busy": "count",
    "plans.build_ms": "ms",
    "plans.py4j_calls": "count",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "plans.exchanges": "count",
    "operators.tasks": "count",
    "operators.task_run_s": "s",
    "operators.jvm_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.slot_busy_frac": "ratio",
    "operators.python_cpu_s": "s",
    "operators.python_bytes_sent": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.cache_bytes": "bytes",
    "sinks.passed_ms": "ms",
    "sinks.rejected_ms": "ms",
    "sinks.commit_ms": "ms",
    "sinks.files": "count",
    "sinks.bytes": "bytes",
    "metrics.write_ms": "ms",
    "streaming.batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.store_update_ms": "ms",
    "streaming.store_bytes": "bytes",
    "run.self_ms": "ms",
    "trace.spans": "count",
    "trace.overhead_frac": "ratio",
}
# SQL node metrics the per-layer table sums over a run's executions
NODE_METRICS = {
    "number of files read": "input_files",
    "size of files read": "input_bytes",
    "data sent to Python workers": "python_bytes_sent",
    "job commit time": "commit_ms",
}


def process_start() -> float:
    """Epoch seconds at which this process started, from /proc."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def start_session(work: str, cores: int):
    """Package import, ``get_spark`` and one trivial action. Spark's
    scratch space and temp files go under ``work``."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    # a fixed 2 GiB heap (-Xms = -Xmx): peak RSS then does not depend on
    # when G1 decides to grow the heap, which varied it 2-4 GB run to run
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["SPARK_DRIVER_JAVA_OPTIONS"] = f"-Xms{HEAP} -Djava.io.tmpdir={local} -XX:-UsePerfData"
    import mega_data_factory_spark.plans.pipeline  # noqa: F401
    import mega_data_factory_spark.streaming  # noqa: F401
    from mega_data_factory_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


class Bench:
    def __init__(self, args):
        self.w = wl.WORKLOADS[args.workload]
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.case = os.path.join(self.work, f"{args.workload}-s{args.seed}")
        self.input_dir = os.path.join(self.case, "input")
        self.out = os.path.join(self.case, "out")
        self.t_start = process_start()
        self.spark = self.sampler = None
        self.attempted = self.failed = 0
        self.hashes: set[str] = set()
        try:
            self.spark = start_session(self.work, wl.CORES)
            self.setup_s = time.time() - self.t_start
            self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
            truth = os.path.join(self.case, "truth.json")
            if os.path.exists(truth):
                with open(truth) as f:
                    self.manifest = json.load(f)
            else:
                self.manifest = write_corpus(self.w.spec, args.seed, self.case)
            self.sampler = TreeSampler([os.getpid(), self.jvm_pid])
        except BaseException:
            self.close()
            raise

    def close(self) -> None:
        """Stop the sampler and the session, then wait until every process
        this one started (the JVM, the PySpark daemon and workers, the
        sampler) has ended."""
        try:
            if self.sampler is not None:
                self.sampler.close()
            if self.spark is not None:
                stop_session(self.spark)
        finally:
            self.sampler = self.spark = None
            left = reap_descendants()
            if left:
                print(f"processes still running after shutdown: {sorted(left)}", file=sys.stderr)

    def expected_ops(self) -> int:
        if not self.w.stream:
            return 1
        return -(-self.manifest["files"] // self.w.files_per_trigger)

    def run_once(self, tracer=None, status=None) -> dict | None:
        """One checked recipe run; None when it failed."""
        w, sampler = self.w, self.sampler
        wl.reset(self.out)
        cfg = wl.config_dict(w, ROOT, self.input_dir, self.out)
        before = (status.stage_ids(), status.last_execution()) if status else None
        try:
            with sampler:
                if tracer is not None:
                    tracer.cache_bytes = 0
                    tracer.begin_run(uuid.uuid4().hex[:12])
                try:
                    if w.stream:
                        run = wl.run_stream(w, self.spark, cfg, self.input_dir, self.out)
                    else:
                        run = wl.run_batch(w, self.spark, cfg)
                finally:
                    root = tracer.end_run() if tracer is not None else None
            failures = wl.check_outputs(w, self.manifest, self.out, run)
            self.hashes.add(wl.passed_hash(w, self.out))
        except Exception:  # a failed run is counted, reported and survived
            traceback.print_exc()
            self.attempted += self.expected_ops()
            self.failed += self.expected_ops()
            return None
        ops = len(run.triggers_s) if w.stream else 1
        self.attempted += ops
        if failures:
            self.failed += ops
            for f in failures:
                print(f"check failed: {f}")
            return None
        rows = self.manifest["rows"]
        rec = {
            "wall_s": run.wall_s,
            "records_per_s": rows / run.wall_s,
            "cpu_s_per_1k_records": sampler.cpu_delta() / rows * 1000,
            "peak_rss_mb": sampler.peak_pss / 2**20,
            "write_amplification": wl.landed_bytes(self.out) / self.manifest["bytes"],
            "trigger_p50_s": statistics.median(run.triggers_s),
            "triggers_s": run.triggers_s,
            "steal_frac": sampler.steal_frac(),
        }
        if tracer is not None:
            rec["run_id"] = root.run_id
            rec["layers"] = self.layers(tracer, root, run, sampler, status, before)
        return rec

    def layers(self, tracer, root, run, sampler, status, before) -> dict:
        """The per-layer table of one traced run."""
        spans = [s for s in tracer.spans if s.run_id == root.run_id]
        stages = status.stages(before[0])
        for s in spans:
            s.attrs["stages"] = tr.stage_totals(stages, s.start, s.end)
        node = status.node_metrics(before[1], NODE_METRICS)
        ops = tr.stage_totals(stages)
        scans = [s for s in stages if s["inputRecords"] > 0]
        plans = tr.outermost(spans, tr.PLANS)
        progress = run.progress
        workers = set(tree([self.jvm_pid])) - {self.jvm_pid}
        p = wl.out_paths(self.out)
        passed_files, passed_bytes = wl.dir_bytes(p["passed"])
        rejected_files, rejected_bytes = wl.dir_bytes(p["rejected"])

        def ms(name):
            return sum(s.ms for s in tr.outermost(spans, name))

        def phase(key):
            return sum(s.attrs.get(key, 0) for s in plans)

        return {
            "config.parse_ms": ms(tr.CONFIG),
            "registry.create_ms": ms(tr.REGISTRY),
            "sources.read_ms": ms(tr.SOURCES),
            "sources.input_files": round(node["input_files"]),
            "sources.input_bytes": round(node["input_bytes"]),
            "sources.scan_tasks": scans[0]["numTasks"] if scans else 0,
            "sources.scan_tasks_busy": status.busy_tasks(scans[0]) if scans else 0,
            "plans.build_ms": ms(tr.PLANS),
            "plans.py4j_calls": sum(s.py4j_calls for s in plans),
            "plans.analysis_ms": phase("analysis_ms"),
            "plans.optimization_ms": phase("optimization_ms"),
            "plans.planning_ms": phase("planning_ms"),
            "plans.exchanges": max((s.attrs.get("exchanges", 0) for s in plans), default=0),
            "operators.tasks": ops["tasks"],
            "operators.task_run_s": ops["task_run_s"],
            "operators.jvm_cpu_s": ops["jvm_cpu_s"],
            "operators.gc_s": ops["gc_s"],
            "operators.slot_busy_frac": ops["task_run_s"] / (run.wall_s * wl.CORES),
            "operators.python_cpu_s": sampler.cpu_delta(workers),
            "operators.python_bytes_sent": round(node["python_bytes_sent"]),
            "operators.shuffle_write_bytes": ops["shuffle_write_bytes"],
            "operators.shuffle_read_bytes": ops["shuffle_read_bytes"],
            "operators.spill_bytes": ops["spill_bytes"],
            "operators.cache_bytes": tracer.cache_bytes,
            "sinks.passed_ms": ms(tr.SINK_PASSED),
            "sinks.rejected_ms": ms(tr.SINK_REJECTED),
            "sinks.commit_ms": node["commit_ms"],
            "sinks.files": passed_files + rejected_files,
            "sinks.bytes": passed_bytes + rejected_bytes,
            "metrics.write_ms": ms(tr.METRICS),
            "streaming.batch_ms": ms(tr.BATCH),
            "streaming.query_planning_ms": sum(q["durationMs"].get("queryPlanning", 0) for q in progress),
            "streaming.wal_commit_ms": sum(
                q["durationMs"].get("walCommit", 0) + q["durationMs"].get("commitOffsets", 0) for q in progress
            ),
            "streaming.store_update_ms": ms(tr.STORE),
            "streaming.store_bytes": wl.dir_bytes(p["seen"])[1],
            "run.self_ms": tr.self_ms(root, spans),
            "trace.spans": len(spans),
        }

    # ------------------------------------------------------------ modes

    def untraced(self) -> tuple[dict, dict]:
        """The cold run, then warm runs until ``--seconds`` have passed; the
        end-to-end metrics are the cold run's."""
        t0 = time.perf_counter()
        runs = [self.run_once()]
        while time.perf_counter() - t0 < self.args.seconds:
            runs.append(self.run_once())
        self.report_runs(runs)
        cold = runs[0] or {}
        metrics = {k: cold.get(k) for k in END_TO_END}
        metrics["setup_s"] = self.setup_s
        if cold:
            q1, med, q3 = quartiles(cold["triggers_s"])
            print(f"triggers: n={len(cold['triggers_s'])} p25={q1:.3f}s p50={med:.3f}s p75={q3:.3f}s")
        warm = [r["records_per_s"] for r in runs[1:] if r]
        if warm:
            q1, med, q3 = quartiles(warm)
            print(f"warm runs: n={len(warm)} records_per_s p25={q1:.1f} p50={med:.1f} p75={q3:.1f}")
        return metrics, END_TO_END

    def traced(self) -> tuple[dict, dict]:
        """The cold run traced, for the per-layer table; then warm runs
        untraced / traced / untraced for the tracing overhead (the traced
        one sits between two untraced ones so that further warming does
        not read as negative overhead)."""
        p = wl.out_paths(self.out)
        tracer = tr.Tracer(self.spark, {p["passed"]: tr.SINK_PASSED, p["rejected"]: tr.SINK_REJECTED})
        status = tr.StatusStore(self.spark)
        runs = []
        for traced in (True, False, True, False):
            if traced:
                tracer.install()
            try:
                runs.append(self.run_once(tracer if traced else None, status if traced else None))
            finally:
                tracer.uninstall()
        self.report_runs(runs)
        cold, plain, warm = runs[0], [runs[1], runs[3]], runs[2]
        spans_path = os.path.join(self.case, "spans.jsonl")
        tracer.write(spans_path)
        print(f"spans: {len(tracer.spans)} written to {os.path.relpath(spans_path, ROOT)}")
        self.print_spans(tracer, cold)
        metrics = dict((cold or {}).get("layers", {}))
        if all(plain) and warm:
            metrics["trace.overhead_frac"] = warm["wall_s"] / statistics.mean(r["wall_s"] for r in plain) - 1
        return {k: metrics.get(k) for k in PER_LAYER}, PER_LAYER

    def check_hashes(self) -> None:
        """The passed-id hash must be the same in every run of this seed,
        in this process and in earlier ones (``passed.sha256``)."""
        seed = self.args.seed
        if len(self.hashes) > 1:
            print(f"check failed: passed-id hash differs between runs of seed {seed}")
            self.failed = self.attempted
            return
        path = os.path.join(self.case, "passed.sha256")
        for h in self.hashes:
            if not os.path.exists(path):
                with open(path, "w") as f:
                    f.write(h)
            else:
                with open(path) as f:
                    if f.read().strip() != h:
                        print(f"check failed: passed-id hash differs from an earlier process on seed {seed}")
                        self.failed = self.attempted

    # ----------------------------------------------------------- output

    def report_runs(self, runs: list) -> None:
        for i, r in enumerate(runs):
            state = "FAILED" if r is None else f"wall {r['wall_s']:.3f} s, cpu steal {r['steal_frac']:.1%}, checks ok"
            print(f"run {i + 1}{' (cold)' if i == 0 else ''}: {state}")

    def print_spans(self, tracer, cold) -> None:
        """Per span name, over the cold traced run: count, total and self ms."""
        if not cold:
            return
        spans = [s for s in tracer.spans if s.run_id == cold["run_id"]]
        by_name: dict[str, list] = {}
        for s in sorted(spans, key=lambda s: s.start):
            by_name.setdefault(s.name, []).append(s)
        print(f"{'span':24s} {'n':>4s} {'total_ms':>10s} {'self_ms':>10s}")
        for name, group in by_name.items():
            total = sum(s.ms for s in group)
            own = sum(tr.self_ms(s, spans) for s in group)
            print(f"{name:24s} {len(group):4d} {total:10.1f} {own:10.1f}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    # orphaned descendants are reparented here and reaped in Bench.close;
    # SIGTERM unwinds through the same cleanup
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args)
    try:
        m = bench.manifest
        print(
            f"workload {args.workload} seed {args.seed} cores {wl.CORES}: "
            f"rows={m['rows']} files={m['files']} row_groups={m['row_groups']} bytes={m['bytes']}"
        )
        metrics, units = bench.traced() if args.trace else bench.untraced()
    finally:
        bench.close()
        shutil.rmtree(bench.out, ignore_errors=True)
    bench.check_hashes()
    error_rate = bench.failed / bench.attempted if bench.attempted else 1.0
    print(f"{'metric':30s} {'value':>16s}  unit")
    for k, v in metrics.items():
        print(f"{k:30s} {v if v is None else format(v, '16.4f')}  {units[k]}")
    print(f"{'error_rate':30s} {error_rate:16.4f}  ratio")
    correct = bench.failed == 0 and all(v is not None for v in metrics.values())
    result = {
        "correct": correct,
        "attempted": max(bench.attempted, 1),
        "failed": bench.failed if bench.attempted else 1,
        "metrics": {k: {"value": v if v is not None else 0, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

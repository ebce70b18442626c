"""The benchmark's workloads: corpus shape, recipe, and output checks.

Each workload runs through the package's public entry points only:
``PipelineConfig.from_dict`` -> ``Pipeline(cfg).run(spark)`` for batch
recipes, ``StreamingPipeline(...).start(stream)`` for the incremental
stream. Every run lands real sinks, so Catalyst cannot prune the work away.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass

import pyarrow.dataset as ds
import yaml

from corpus import Spec

CORES = min(4, len(os.sched_getaffinity(0)))

STREAM_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


@dataclass(frozen=True)
class Workload:
    name: str
    spec: Spec
    recipe: str | None = None  # file under configs/ at the repository root
    stream: bool = False
    files_per_trigger: int = 2
    overrides: tuple[tuple[str, str, object], ...] = ()  # (operator, param, value)


WORKLOADS = {
    w.name: w
    for w in (
        # FineWeb-style recipe (13 operators) over ONE file with ONE row
        # group: the row-local refiners run in a single busy scan task.
        Workload(
            "text_recipe_1file",
            Spec("text", 1500, 1, exact_frac=0.02, reject_frac=0.06, one_row_group=True),
            recipe="fineweb_style_recipe",
        ),
        # C4-style recipe, span dedup after light refiners, over an input
        # already spread across 2x cores files; 30% planted copies.
        Workload(
            "near_dedup_sharded",
            Spec("text", 6000, 2 * CORES, exact_frac=0.05, near_frac=0.25, reject_frac=0.04),
            recipe="c4_style_recipe",
        ),
        # Incremental exact dedup against a seen-key store, 2 files per
        # trigger; every later file repeats 20% of earlier docs.
        Workload(
            "stream_incremental",
            Spec("text", 6400, 16, repeat_frac=0.2, reject_frac=0.04),
            stream=True,
        ),
        # Image recipe, quality gate relaxed to the 32 px synthetic images;
        # content period 150 makes most images phash duplicates. Runnable,
        # but left out of BENCHMARK.json (see perfbench/README.md).
        Workload(
            "image_curation",
            Spec("image", 1000, 8, content_period=150),
            recipe="example_image_pipeline",
            overrides=(("ImageQualityFilter", "min_width", 32), ("ImageQualityFilter", "min_height", 32)),
        ),
    )
}


def id_col(w: Workload) -> str:
    return "id" if w.spec.kind == "image" else "doc_id"


def out_paths(out: str) -> dict[str, str]:
    return {k: os.path.join(out, k) for k in ("passed", "rejected", "metrics", "seen", "ckpt")}


def config_dict(w: Workload, root: str, input_dir: str, out: str) -> dict:
    """The workload's recipe, retargeted at the generated input and at
    fresh output paths under ``out``."""
    p = out_paths(out)
    if w.stream:
        return {
            "pipeline": {
                "name": w.name,
                "id_col": "doc_id",
                "source": {"table": "unused"},
                "stages": [
                    {
                        "name": "quality",
                        "operators": [
                            {"name": "TextLengthFilter", "params": {"min_length": 80, "length_col": "n_chars"}},
                            {"name": "LanguageIdRefiner"},
                            {"name": "NumericRangeFilter", "params": {"column": "lang_score", "lo": 1, "name": "LanguageCut"}},
                        ],
                    },
                    {
                        "name": "dedup",
                        "operators": [
                            {"name": "IncrementalExactDeduplicator", "params": {"store_path": p["seen"], "id_col": "doc_id"}}
                        ],
                    },
                ],
                "sink": {"path": p["passed"]},
                "rejected_sink": {"path": p["rejected"]},
            }
        }
    with open(os.path.join(root, "configs", f"{w.recipe}.yaml")) as f:
        d = yaml.safe_load(f)
    pl = d["pipeline"]
    pl["source"] = {"format": "parquet", "path": input_dir}
    pl["sink"]["path"] = p["passed"]
    pl["rejected_sink"]["path"] = p["rejected"]
    pl["metrics_path"] = p["metrics"]
    for stage in pl["stages"]:
        for op in stage["operators"]:
            for name, param, value in w.overrides:
                if op["name"] == name:
                    op.setdefault("params", {})[param] = value
    return d


@dataclass
class RunResult:
    wall_s: float
    triggers_s: list[float]  # batch: the run itself is the one trigger
    progress: list[dict]  # streaming query progress of triggers with input
    funnel: dict[str, int] | None  # batch: rejected rows per operator name


def run_batch(w: Workload, spark, cfg_dict: dict) -> RunResult:
    from mega_data_factory_spark.config import PipelineConfig
    from mega_data_factory_spark.plans.pipeline import Pipeline

    t0 = time.perf_counter()
    result = Pipeline(PipelineConfig.from_dict(cfg_dict)).run(spark)
    wall = time.perf_counter() - t0
    funnel: dict[str, int] = {}
    for m in result.operators:
        funnel[m.operator] = funnel.get(m.operator, 0) + m.input_records - m.output_records
    return RunResult(wall, [wall], [], funnel)


def run_stream(w: Workload, spark, cfg_dict: dict, input_dir: str, out: str) -> RunResult:
    from mega_data_factory_spark.config import PipelineConfig
    from mega_data_factory_spark.streaming import StreamingPipeline

    sp = StreamingPipeline(
        PipelineConfig.from_dict(cfg_dict),
        checkpoint_dir=out_paths(out)["ckpt"],
        output_files=2,
        shuffle_partitions=CORES,
        parallel_sinks=True,
    )
    stream = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", w.files_per_trigger)
        .parquet(input_dir)
    )
    t0 = time.perf_counter()
    q = sp.start(stream)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    progress = [p for p in q.recentProgress if p["numInputRows"]]
    return RunResult(wall, [p["durationMs"]["triggerExecution"] / 1000 for p in progress], progress, None)


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's marker and checksum
    files count toward bytes, since they are landed output too."""
    files = nbytes = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            nbytes += os.path.getsize(os.path.join(dirpath, n))
            if not n.startswith((".", "_")):
                files += 1
    return files, nbytes


def check_outputs(w: Workload, manifest: dict, out: str, run: RunResult) -> list[str]:
    """Output checks of one run; returns the failures (empty when correct).
    The passed-id hash is returned separately by ``passed_hash``."""
    p = out_paths(out)
    key = id_col(w)
    passed = ds.dataset(p["passed"], format="parquet", partitioning="hive").to_table(columns=[key])
    rejected = ds.dataset(p["rejected"], format="parquet", partitioning="hive").to_table(columns=[key, "operator"])
    failures = []
    total = passed.num_rows + rejected.num_rows
    if total != manifest["rows"]:
        failures.append(f"passed {passed.num_rows} + rejected {rejected.num_rows} != input {manifest['rows']}")
    passed_ids = set(passed.column(key).to_pylist())
    if len(passed_ids) != passed.num_rows:
        failures.append("passed sink holds repeated ids")
    bad = [g for g in manifest["truth"]["exact_groups"] if passed_ids & set(g) != {min(g)}]
    if bad:
        failures.append(f"{len(bad)} exact-duplicate groups do not keep exactly their minimum id, e.g. {bad[0][:5]}")
    by_op: dict[str, int] = {}
    for op in rejected.column("operator").to_pylist():
        by_op[op] = by_op.get(op, 0) + 1
    if run.funnel is not None:
        expected = {k: v for k, v in run.funnel.items() if v}
        if by_op != expected:
            failures.append(f"funnel {expected} != rejected sink by operator {by_op}")
    else:
        # stream: the funnel is the planted truth itself
        t = manifest["truth"]
        expected = {
            "TextLengthFilter": t["rejects"]["short"],
            "LanguageCut": t["rejects"]["no_language"],
            "IncrementalExactDeduplicator": sum(len(g) - 1 for g in t["exact_groups"]),
        }
        if by_op != {k: v for k, v in expected.items() if v}:
            failures.append(f"planted funnel {expected} != rejected sink by operator {by_op}")
    return failures


def passed_hash(w: Workload, out: str) -> str:
    ids = ds.dataset(out_paths(out)["passed"], format="parquet", partitioning="hive").to_table(columns=[id_col(w)])
    return hashlib.sha256(",".join(map(str, sorted(ids.column(0).to_pylist()))).encode()).hexdigest()


def landed_bytes(out: str) -> int:
    p = out_paths(out)
    return sum(dir_bytes(p[k])[1] for k in ("passed", "rejected", "metrics", "seen"))


def reset(out: str) -> None:
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

"""Tests of the benchmark's own code; no Spark session needed.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import corpus  # noqa: E402
import proctree  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

SMALL = {
    "text": corpus.Spec("text", 300, 3, exact_frac=0.05, near_frac=0.1, reject_frac=0.06),
    "one_file": corpus.Spec("text", 200, 1, exact_frac=0.02, reject_frac=0.06, one_row_group=True),
    "stream": corpus.Spec("text", 320, 8, repeat_frac=0.2, reject_frac=0.04),
    "image": corpus.Spec("image", 60, 2, content_period=15),
}


def _files(d: str) -> dict[str, bytes]:
    d = os.path.join(d, "input")
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


@pytest.mark.parametrize("kind", sorted(SMALL))
def test_same_seed_writes_identical_parquet(tmp_path, kind):
    spec = SMALL[kind]
    a = corpus.write_corpus(spec, 7, str(tmp_path / "a"))
    b = corpus.write_corpus(spec, 7, str(tmp_path / "b"))
    c = corpus.write_corpus(spec, 8, str(tmp_path / "c"))
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert a == b
    assert _files(str(tmp_path / "a")) != _files(str(tmp_path / "c"))
    assert a["rows"] == spec.rows and a["files"] == spec.files
    assert a["bytes"] == sum(len(v) for v in _files(str(tmp_path / "a")).values())


def test_one_file_corpus_has_one_row_group(tmp_path):
    m = corpus.write_corpus(SMALL["one_file"], 1, str(tmp_path))
    assert m["files"] == 1 and m["row_groups"] == 1


@pytest.mark.parametrize("kind", ["text", "stream"])
def test_planted_groups_are_exact_copies_of_their_minimum_id(tmp_path, kind):
    m = corpus.write_corpus(SMALL[kind], 3, str(tmp_path))
    table = pq.read_table(os.path.join(tmp_path, "input")).to_pydict()
    text = dict(zip(table["doc_id"], table["text"]))
    groups = m["truth"]["exact_groups"]
    assert groups
    for g in groups:
        assert g[0] == min(g)
        assert {text[i] for i in g} == {text[g[0]]}
    for copy, original in m["truth"]["near_copies"]:
        assert copy > original and text[copy] != text[original]


def test_files_arrive_in_id_order(tmp_path):
    corpus.write_corpus(SMALL["stream"], 5, str(tmp_path))
    d = os.path.join(tmp_path, "input")
    names = sorted(os.listdir(d))
    mtimes_ms = [os.stat(os.path.join(d, n)).st_mtime_ns // 10**6 for n in names]
    assert mtimes_ms == sorted(set(mtimes_ms))


def test_stream_repeats_point_to_earlier_files(tmp_path):
    spec = SMALL["stream"]
    m = corpus.write_corpus(spec, 5, str(tmp_path))
    per = spec.rows // spec.files
    for g in m["truth"]["exact_groups"]:
        assert all(i // per > g[0] // per for i in g[1:])


def _span(i, start, end, parent):
    return tracing.Span(i, f"s{i}", start, end, parent, "r")


def test_self_time_subtracts_the_union_of_overlapping_children():
    root = _span(1, 0.0, 10.0, None)
    spans = [
        root,
        _span(2, 1.0, 5.0, 1),
        _span(3, 3.0, 8.0, 1),  # overlaps span 2: covered is 1..8, not 4 + 5
        _span(4, 4.0, 4.5, 2),  # a grandchild does not count against the root
        _span(5, 9.5, 12.0, 1),  # clipped to the parent's end
    ]
    assert tracing.self_ms(root, spans) == pytest.approx(10_000 - 7_000 - 500)
    assert tracing.self_ms(spans[1], spans) == pytest.approx(4_000 - 500)


def test_union_of_disjoint_and_empty_intervals():
    assert tracing.union_ms([], 0, 1) == 0
    assert tracing.union_ms([(0, 1), (2, 3)], 0, 3) == pytest.approx(2_000)
    assert tracing.union_ms([(5, 6)], 0, 3) == 0


def test_outermost_skips_nested_spans_of_the_same_name():
    spans = [
        tracing.Span(1, "run", 0, 9, None, "r"),
        tracing.Span(2, tracing.PLANS, 1, 5, 1, "r"),
        tracing.Span(3, tracing.PLANS, 2, 4, 2, "r"),
        tracing.Span(4, tracing.PLANS, 6, 7, 1, "r"),
    ]
    assert [s.id for s in tracing.outermost(spans, tracing.PLANS)] == [2, 4]


def test_pool_thread_spans_hang_under_the_submitting_span():
    """The two sink writes run on pool threads; their spans must be
    children of the span that submitted them, not of the run."""
    from concurrent.futures import ThreadPoolExecutor

    submit = ThreadPoolExecutor.submit
    t = tracing.Tracer(None, {})
    parents = []

    def work():
        span = t._open(tracing.SINK_PASSED)
        t._close(span)
        parents.append(span.parent)

    t.begin_run("r")
    batch = t._open(tracing.BATCH)
    t._install_pool_hook()
    try:
        with ThreadPoolExecutor(max_workers=2) as ex:
            for f in [ex.submit(work), ex.submit(work)]:
                f.result()
    finally:
        t.uninstall()
    t._close(batch)
    t.end_run()
    assert ThreadPoolExecutor.submit is submit
    assert parents == [batch.id, batch.id]


def test_parse_metric_display_strings():
    assert tracing.parse_metric("22 ms") == 22
    assert tracing.parse_metric("10,000") == 10_000
    assert tracing.parse_metric("80.5 KiB") == pytest.approx(80.5 * 1024)
    assert tracing.parse_metric(
        "total (min, med, max (stageId: taskId))\n104.1 KiB (34.6 KiB, 34.7 KiB, 34.7 KiB (stage 2.0: task 6))"
    ) == pytest.approx(104.1 * 1024)
    assert tracing.parse_metric("total (min, med, max)\n4.4 s (1.1 s, 1.1 s, 1.1 s)") == pytest.approx(4400)


def test_metric_names_and_units_are_valid_and_match_the_benchmark_file():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.fullmatch(m["name"]), m["name"]
        assert UNIT.fullmatch(m["unit"]), m["unit"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for w in spec["workloads"]:
        assert NAME.fullmatch(w["name"]) and w["name"] in workloads.WORKLOADS


def test_process_tree_sampler_sees_this_process_but_not_itself():
    pid = os.getpid()
    assert pid in proctree.tree([pid])
    s = proctree.TreeSampler([pid], interval_s=0.01)
    try:
        with s:
            sum(i * i for i in range(2_000_000))
        assert s.cpu_delta() > 0
        assert s.peak_pss > 0
        assert 0 <= s.steal_frac() <= 1
        assert pid in s.cpu1 and s._proc.pid not in s.cpu1
    finally:
        s.close()
    assert s._proc.poll() is not None

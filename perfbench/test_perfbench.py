"""Tests of the benchmark's own arithmetic and bookkeeping (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
import spans  # noqa: E402
from workloads import CheckFailed, Op, PassResult, Record, union_find_labels  # noqa: E402


def test_tail_percentile_needs_ten_samples_beyond_it():
    xs = [float(i) for i in range(100)]
    assert spans.percentile(xs[:99], 0.9) is None
    assert spans.percentile(xs, 0.9) == pytest.approx(89.1)
    assert spans.percentile(xs[:39], 0.75) is None
    assert spans.percentile(xs[:40], 0.75) is not None
    assert spans.percentile(xs[:9], 0.99) is None
    assert spans.percentile([], 0.5) is None


def test_median_matches_statistics():
    import statistics

    xs = [3.0, 1.0, 2.0, 10.0]
    assert spans.percentile(xs, 0.5) == statistics.median(xs)
    assert spans.percentile([7.0], 0.5) == 7.0


def _span(i, name, parent, start, end, **counters):
    s = spans.Span(id=i, name=name, op=1, parent=parent, start=start, end=end)
    s.counters = counters
    return s


def test_self_time_subtracts_union_of_children():
    tree = [
        _span(0, "op.query", None, 0.0, 10.0),
        _span(1, "queries.build", 0, 1.0, 3.0),
        _span(2, "sources.read", 1, 1.5, 2.5),
        _span(3, "plans.plan", 0, 2.0, 5.0),  # overlaps the build span
        _span(4, "spark.action", 0, 7.0, 8.0),
    ]
    st = spans.self_times(tree)
    assert st[0] == pytest.approx(10.0 - (5.0 - 1.0) - 1.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(3.0)
    by_name = spans.self_time_by_name(tree + [_span(5, "spark.action", 0, 8.5, 9.0)])
    assert by_name["spark.action"] == pytest.approx(1.5)


def test_child_outside_parent_is_clipped():
    tree = [_span(0, "a", None, 0.0, 2.0), _span(1, "b", 0, 1.0, 5.0)]
    assert spans.self_times(tree)[0] == pytest.approx(1.0)


def test_counters_sum_per_name():
    tree = [
        _span(0, "queries.build", None, 0, 1, jobs=2, tasks=5),
        _span(1, "queries.build", None, 1, 2, jobs=1, tasks=1),
    ]
    assert spans.counters_by_name(tree)["queries.build"]["jobs"] == 3
    assert spans.counters_by_name(tree)["queries.build"]["tasks"] == 6


def test_disabled_tracer_records_nothing():
    t = spans.Tracer(False)
    with t.span("queries.build") as s:
        assert s is None
    assert t.spans == []


def test_enabled_tracer_nests_spans():
    t = spans.Tracer(True)
    t.next_op()
    with t.span("op.query"):
        with t.span("queries.build"):
            pass
    assert [(s.name, s.parent, s.op) for s in t.spans] == [
        ("op.query", None, 1), ("queries.build", 0, 1)]
    assert all(s.end >= s.start for s in t.spans)


def test_union_find_labels_are_component_minimum():
    # a self-loop alone gives no node, as in operators.graph.connected_components
    assert union_find_labels([(3, 4), (4, 9), (1, 2), (5, 5)]) == {
        3: 3, 4: 3, 9: 3, 1: 1, 2: 1}


class _FakeWorkload:
    """Three ops: one raises, one returns a wrong output, one is fine."""

    def __init__(self):
        self.ran = []

    def begin_pass(self):
        pass

    def end_pass(self, result):
        pass

    def ops(self, rng):
        def boom():
            self.ran.append("boom")
            raise RuntimeError("engine error")

        def wrong():
            self.ran.append("wrong")
            return 41

        def right():
            self.ran.append("right")
            return 42

        def check(out):
            if out != 42:
                raise CheckFailed(f"{out} != 42")

        return [Op("boom", "query", boom, check), Op("wrong", "query", wrong, check),
                Op("right", "query", right, check)]


def test_failed_ops_are_counted_and_do_not_abort_the_pass():
    wl = _FakeWorkload()
    tracer = spans.Tracer(False)
    p = run.run_pass(wl, tracer, random.Random(0), 0)
    assert wl.ran == ["boom", "wrong", "right"]
    run.verify(wl, [p], {op.name: op.check for op in wl.ops(None)})
    errors = {r.name: r.error for r in p.records}
    assert errors["boom"].startswith("RuntimeError")
    assert errors["wrong"].startswith("CheckFailed")
    assert errors["right"] is None
    values = run.end_to_end(1.0, [p], 2**20)
    assert values["failed_frac"][0] == pytest.approx(2 / 3)


def _fake_passes():
    p = PassResult(wall_s=3.0)
    p.records = [Record(f"q{i}", "query", 0, 0.1 * (i + 1)) for i in range(25)]
    p.records += [Record(f"serve[{i}]", "serve", 0, 0.2) for i in range(5)]
    p.extra = {"ingest_rows_per_s": 10.0, "store_bytes_per_input_byte": 2.0,
               "store_bytes": 5, "store_files": 2, "index_files": 1}
    return [p]


def _spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_names_match_benchmark_json():
    values = run.end_to_end(5.0, _fake_passes(), 2**30)
    names = [m["name"] for m in _spec()["end_to_end"]]
    out = run.result_metrics(values, _spec()["end_to_end"])
    assert list(out) == names
    for m in _spec()["end_to_end"]:
        assert out[m["name"]]["unit"] == m["unit"]
        assert out[m["name"]]["value"] > 0


def test_per_layer_names_match_benchmark_json():
    tree = [_span(0, "op.query", None, 0.0, 1.0),
            _span(1, "queries.build", 0, 0.1, 0.5, jobs=1, tasks=2)]
    values = run.per_layer(tree, _fake_passes()[0], 4.0, 0.01)
    out = run.result_metrics(values, _spec()["per_layer"])
    assert list(out) == [m["name"] for m in _spec()["per_layer"]]
    for m in _spec()["per_layer"]:
        assert out[m["name"]]["unit"] == m["unit"]


def test_timed_passes_depend_on_seconds_only():
    assert run.timed_passes(20, 9.0) == 2
    assert run.timed_passes(20, 30.0) == 1
    assert run.timed_passes(1, 30.0) == 1
    assert run.timed_passes(60, 9.0) == 7


def test_tree_rss_skips_processes_the_jvm_spawns():
    mb = 2**20
    procs = {
        10: (1, "python3", 100 * mb),     # the client
        11: (10, "java", 1500 * mb),      # the driver JVM
        12: (11, "java", 1500 * mb),      # a JVM child before exec
        13: (11, "python3", 50 * mb),     # Spark's Python daemon
        14: (13, "python3", 40 * mb),     # a Python worker
        15: (1, "java", 999 * mb),        # outside the tree
    }
    total, parts = run.tree_rss(10, procs)
    assert total == 1690 * mb
    assert sorted(pid for pid, _ in parts) == [10, 11, 13, 14]

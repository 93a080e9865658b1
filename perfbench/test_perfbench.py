"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from harness import (  # noqa: E402
    Op,
    Outcome,
    Span,
    Tracer,
    check_name,
    result_line,
    run_op,
    self_time,
    tail,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- percentile rule ---------------------------------------------------------


@pytest.mark.parametrize(
    "n, want",
    [
        (5, None),  # median has only 2 samples above it
        (19, None),
        (20, 50.0),  # exactly 10 beyond the median
        (99, 50.0),  # p90 would leave 9 beyond
        (100, 90.0),
        (199, 90.0),  # p95 would leave 9 beyond
        (200, 95.0),
        (1000, 99.0),  # p99.9 would leave 1 beyond
        (10000, 99.9),
    ],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, want):
    got = tail([float(i) for i in range(n)])
    if want is None:
        assert got is None
        return
    p, value, count = got
    assert (p, count) == (want, n)
    assert sum(1 for i in range(n) if i > value) >= 10


def test_percentile_nearest_rank():
    s = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert harness.percentile(s, 50) == 3.0
    assert harness.percentile(s, 100) == 5.0
    assert harness.percentile(s, 1) == 1.0


# -- metric names --------------------------------------------------------------


@pytest.mark.parametrize(
    "name", ["setup_s", "op_a_s.p50", "scan.task_fixed_s", "corpus.q119_s", "a-b.c_d", "9x"]
)
def test_valid_metric_names(name):
    assert check_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "é", "x" * 65, "a:b"])
def test_invalid_metric_names(name):
    with pytest.raises(ValueError):
        check_name(name)


def test_result_line_rejects_bad_metrics():
    o = Outcome(attempted=1)
    with pytest.raises(ValueError):
        result_line(o, {"bad name": (1.0, "s")})
    with pytest.raises(ValueError):
        result_line(o, {"x": (1.0, "bad unit")})
    with pytest.raises(ValueError):
        result_line(o, {"x": (float("nan"), "s")})


def test_benchmark_json_names_are_valid():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        check_name(m["name"])
        assert harness.UNIT_RE.fullmatch(m["unit"])


# -- spans -----------------------------------------------------------------------


def _span(sid, start, end, parent=None):
    return Span(f"s{sid}", start, end, parent, None, sid)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 4.0, parent=0),  # overlaps span 1: 1..4 covered once
        _span(3, 6.0, 7.0, parent=0),
        _span(4, 6.2, 6.8, parent=3),  # grandchild: not subtracted from 0
    ]
    assert self_time(spans, 0) == pytest.approx(10.0 - 3.0 - 1.0)
    assert self_time(spans, 3) == pytest.approx(1.0 - 0.6)
    assert self_time(spans, 4) == pytest.approx(0.6)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, 0.0, 2.0), _span(1, 1.5, 5.0, parent=0)]
    assert self_time(spans, 0) == pytest.approx(1.5)


def test_tracer_records_parent_and_op():
    t = Tracer(enabled=True)
    with t.span("op", op="op0"):
        with t.span("child"):
            pass
    with t.span("other"):
        pass
    op, child, other = t.spans
    assert (op.parent, child.parent, other.parent) == (None, 0, None)
    assert (op.op, child.op, other.op) == ("op0", "op0", None)
    assert op.start <= child.start <= child.end <= op.end
    assert 0 <= t.self_time(0) <= op.end - op.start


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("x"):
        pass
    assert t.spans == []


# -- failed ops --------------------------------------------------------------------


def test_corrupted_result_counts_as_failed_op():
    o = Outcome()
    good = Op("a", "sum", lambda spark: [6, 7], lambda r: r == [6, 7])
    corrupt = Op("a", "sum", lambda spark: [6, 8], lambda r: r == [6, 7])
    raises = Op("b", "boom", lambda spark: 1 / 0, lambda r: True)
    for i, op in enumerate((good, corrupt, raises)):
        assert run_op(op, None, o, f"op{i}") >= 0.0
    assert (o.attempted, o.failed) == (3, 2)
    line = json.loads(result_line(o, {"x": (1.0, "s")}))
    assert line["correct"] is False
    assert (line["attempted"], line["failed"]) == (3, 2)
    assert any("wrong result" in n for n in o.notes)
    assert any("ZeroDivisionError" in n for n in o.notes)


def _read_workload(seed, values, list_offsets):
    import numpy as np
    import wl_read
    from inputs import adjacency_sums

    w = wl_read.Workload(seed, "/nonexistent", Outcome(), Tracer(False))
    w.expect = {"nodes": len(list_offsets) - 1, "sum_deg": 10, "sum_src_deg": 20}
    w.list_offsets = np.asarray(list_offsets, dtype=np.int64)
    w.adj_sums = adjacency_sums(np.asarray(values), w.list_offsets)
    return w


def _tiny_csr(n=700, seed=0):
    """A random CSR graph with some empty lists, first and last included."""
    import numpy as np

    rng = np.random.default_rng(seed)
    deg = rng.integers(0, 4, n)
    deg[0] = deg[-1] = 0
    offsets = np.concatenate([[0], np.cumsum(deg)])
    return rng.integers(0, n, int(offsets[-1])).astype(np.int32), offsets


def test_adjacency_sums_handles_empty_lists():
    values, offsets = _tiny_csr()
    from inputs import adjacency_sums

    got = adjacency_sums(values, offsets)
    want = [int(values[offsets[u] : offsets[u + 1]].sum()) for u in range(len(offsets) - 1)]
    assert got.tolist() == want


def test_lookup_plans_match_brute_force_and_differ_by_seed():
    values, offsets = _tiny_csr()
    w = _read_workload(5, values, offsets)

    def brute(nodes):
        lists = [values[offsets[u] : offsets[u + 1]] for u in nodes]
        return [
            len(nodes),
            sum(len(x) for x in lists),
            sum(int(x.sum()) for x in lists),
            sum(u * len(x) for u, x in zip(nodes, lists)),
        ]

    for j in range(6):
        plan = w.plan(j)
        a, b = plan["range"]
        assert b - a == 500
        assert plan["range_expect"] == brute(range(a, b))
        assert plan["ids_expect"] == brute(plan["ids"])
    assert w.plan(3) == _read_workload(5, values, offsets).plan(3)  # seeded
    others = [_read_workload(s, values, offsets).plan(0)["range"] for s in (6, 105, 405)]
    assert w.plan(0)["range"] not in others


def test_read_checks_reject_a_corrupted_lookup():
    values, offsets = _tiny_csr()
    w = _read_workload(1, values, offsets)
    scan, rng, point, rng2, point2 = w.cycle(0)
    assert (rng2.name, point2.name) == ("range", "point")
    assert scan.check([10, 20]) and not scan.check([10, 21])
    plan = w.plan(2)  # the cycle's first lookup plan
    good, bad = plan["range_expect"], list(plan["range_expect"])
    bad[2] += 1
    assert rng.check(good) and not rng.check(bad)
    assert point.check(plan["ids_expect"]) and not point.check([0, 0, 0, 0])


def test_traced_run_alternates_untraced_and_traced_runs():
    from run import passes

    assert passes(False, 0) == passes(False, 1) == (False,)
    assert passes(True, 0) == (False, True)
    assert passes(True, 1) == (True, False)


def test_corpus_checks_reject_a_wrong_row_count():
    import wl_corpus

    w = wl_corpus.Workload(3, "/nonexistent", Outcome(), Tracer(False))
    w.rows = {name: 7 for name in wl_corpus.ROTATION}
    ops = w.cycle(0)
    assert [op.name for op in ops][0] == wl_corpus.ROTATION[3]  # seeded start
    assert [op.name for op in w.cycle(1)] == [op.name for op in ops]
    assert sorted(op.name for op in ops) == sorted(wl_corpus.ROTATION)
    assert all(op.check(7) and not op.check(8) for op in ops)
    assert {op.kind for op in ops if op.name in wl_corpus.RELATIONAL} == {"a"}


def test_corpus_normalize_is_order_insensitive_and_exact():
    from wl_corpus import normalize

    a = normalize([(1, "x", 0.5), (2, "y", -0.0)], ["k", "s", "v"])
    b = normalize([("y", 0.0, 2), ("x", 0.5, 1)], ["s", "v", "k"])
    assert a == b
    c = normalize([("y", 0.0, 2), ("x", 0.5000001, 1)], ["s", "v", "k"])
    assert a != c

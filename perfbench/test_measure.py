"""Tests of the benchmark's own statistics and span arithmetic.

    python3 -m pytest perfbench/test_measure.py -q
"""

from __future__ import annotations

import pandas as pd

from measure import Tracer, median, self_times, tail, union_length


def test_tail_keeps_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    pct, v = tail(values)
    assert (pct, v) == (90.0, 90.0)
    assert sum(x > v for x in values) == 10


def test_tail_small_samples():
    assert tail(list(range(10))) is None
    pct, v = tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11])  # 11 samples
    assert v == 1 and round(pct, 2) == 9.09


def test_tail_is_order_free_and_handles_ties():
    values = [3.0] * 15 + [7.0] * 15
    assert tail(values) == (tail(sorted(values))[0], 7.0)
    assert tail(values)[0] == 100.0 * 20 / 30


def test_median_empty_and_even():
    assert median([]) == 0.0
    assert median([1, 2, 3, 10]) == 2.5


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def _span(sid, parent, t0, t1):
    return {"id": sid, "parent": parent, "name": str(sid), "t0": t0, "t1": t1}


def test_self_time_subtracts_child_union():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: counted once
        _span(3, 1, 1.5, 2.0),  # grandchild: only charged to span 1
    ]
    st = self_times(spans)
    assert st[0] == 5.0
    assert st[1] == 2.5
    assert st[2] == 3.0
    assert st[3] == 0.5


def test_self_time_clips_children_to_parent():
    spans = [_span(0, None, 0.0, 2.0), _span(1, 0, 1.0, 5.0)]
    assert self_times(spans)[0] == 1.0


def test_tracer_wraps_and_restores():
    class Box:
        def f(self, x):
            return x + 1

    ns = {"g": lambda: 7}
    tracer = Tracer()
    orig = Box.f
    tracer.wrap(Box, "f", "box.f")
    tracer.wrap(ns, "g", "ns.g")
    with tracer.span("outer"):
        assert Box().f(1) == 2
        assert ns["g"]() == 7
    tracer.unwrap_all()
    assert Box.f is orig and ns["g"]() == 7
    by = {s["name"]: s for s in tracer.spans}
    assert by["box.f"]["parent"] == by["outer"]["id"]
    assert by["ns.g"]["parent"] == by["outer"]["id"]
    assert len(tracer.spans) == 3


def test_frames_match_tolerates_one_rounding_unit_only():
    from workloads import frames_match

    exp = pd.DataFrame({"k": ["a", "b"], "v": [1.25, 2.5]})
    assert frames_match(exp.iloc[::-1], exp)[0]
    assert frames_match(exp.assign(v=[1.26, 2.5]), exp)[0]
    assert not frames_match(exp.assign(v=[1.28, 2.5]), exp)[0]
    assert not frames_match(exp.assign(k=["a", "c"]), exp)[0]
    assert not frames_match(exp.iloc[:1], exp)[0]


def test_frames_match_whole_number_floats_are_exact():
    from workloads import frames_match

    exp = pd.DataFrame({"k": ["a", "b"], "sum_qty": [1250.0, 37.0]})
    assert frames_match(exp.assign(sum_qty=[1250.0, 37.0 + 1e-12]), exp)[0]
    assert not frames_match(exp.assign(sum_qty=[1251.0, 37.0]), exp)[0]

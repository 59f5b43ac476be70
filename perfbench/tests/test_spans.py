"""Span self time, including nested children and extra intervals."""

import pytest

from hkbench import spans


def _span(sid, parent, t0, t1, name="x"):
    return {"id": sid, "parent": parent, "name": name, "op": 1, "t0": t0, "t1": t1}


def test_self_time_subtracts_nested_children():
    tree = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 2, 2.0, 3.0),  # grandchild: counts against 2, not 1
        _span(4, 1, 6.0, 7.5),
    ]
    own = spans.self_times(tree)
    assert own[1] == pytest.approx(10.0 - 3.0 - 1.5)
    assert own[2] == pytest.approx(2.0)
    assert own[3] == pytest.approx(1.0)
    assert own[4] == pytest.approx(1.5)


def test_overlapping_children_count_once():
    # parallel children (tasks) overlap: the parent loses their union
    tree = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 5.0), _span(3, 1, 3.0, 6.0)]
    assert spans.self_times(tree)[1] == pytest.approx(5.0)


def test_children_are_clipped_to_the_parent():
    tree = [_span(1, None, 0.0, 2.0), _span(2, 1, 1.0, 5.0)]
    assert spans.self_times(tree)[1] == pytest.approx(1.0)


def test_extra_intervals_act_as_children():
    tree = [_span(1, None, 0.0, 10.0), _span(2, 1, 0.0, 1.0)]
    own = spans.self_times(tree, {1: [(2.0, 4.0), (3.0, 5.0)]})
    assert own[1] == pytest.approx(10.0 - 1.0 - 3.0)


def test_recorder_nests_and_skips_untraced_calls():
    rec = spans.Recorder()
    with spans.span(rec, "outer"):  # no operation in progress: not recorded
        pass
    assert rec.spans == []
    rec.op = 7
    with spans.span(rec, "outer"):
        with spans.span(rec, "inner"):
            pass
    inner, outer = rec.spans
    assert (inner["name"], outer["name"]) == ("inner", "outer")
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["op"] == outer["op"] == 7
    assert outer["t0"] <= inner["t0"] <= inner["t1"] <= outer["t1"]

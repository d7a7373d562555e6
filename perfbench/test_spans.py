"""Unit tests of the statistics helpers on synthetic spans and samples.

    python3 -m pytest perfbench/test_spans.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Span, Tracer, covered, percentile, self_time, tail_percentile  # noqa: E402


def _spans(*specs):
    """(sid, parent, start, end) tuples -> {sid: Span} with children set."""
    out = {sid: Span(sid, parent, f"s{sid}", "t", start, end)
           for sid, parent, start, end in specs}
    for sp in out.values():
        if sp.parent is not None:
            out[sp.parent].children.append(sp.sid)
    return out


def test_self_time_without_children_is_duration():
    s = _spans((1, None, 0.0, 2.5))
    assert self_time(s[1], s) == pytest.approx(2.5)


def test_self_time_subtracts_disjoint_children():
    s = _spans((1, None, 0.0, 10.0), (2, 1, 1.0, 3.0), (3, 1, 5.0, 6.0))
    assert self_time(s[1], s) == pytest.approx(7.0)


def test_self_time_counts_overlapping_children_once():
    # two children served concurrently: their union, not their sum
    s = _spans((1, None, 0.0, 10.0), (2, 1, 1.0, 6.0), (3, 1, 4.0, 8.0))
    assert self_time(s[1], s) == pytest.approx(3.0)


def test_self_time_clips_children_to_parent():
    s = _spans((1, None, 2.0, 4.0), (2, 1, 1.0, 3.0))
    assert self_time(s[1], s) == pytest.approx(1.0)


def test_self_time_ignores_grandchildren():
    # a grandchild lies inside its parent, so it changes nothing here
    s = _spans((1, None, 0.0, 10.0), (2, 1, 2.0, 4.0), (3, 2, 2.5, 3.5))
    assert self_time(s[1], s) == pytest.approx(8.0)
    assert self_time(s[2], s) == pytest.approx(1.0)


def test_covered_merges_nested_and_touching_intervals():
    assert covered([(0, 1), (1, 2), (0.5, 0.7), (3, 4)], 0, 10) == pytest.approx(3.0)
    assert covered([], 0, 10) == 0.0


def test_percentile_interpolates():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 50) == pytest.approx(50.5)
    assert percentile(xs, 90) == pytest.approx(90.1)
    assert percentile([7.0], 90) == 7.0
    assert percentile([3, 1, 2], 0) == 1 and percentile([3, 1, 2], 100) == 3


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, q", [(10, 0.0), (11, 9.0), (20, 50.0), (100, 90.0), (101, 90.0), (1000, 99.0)]
)
def test_tail_percentile_leaves_ten_samples_beyond(n, q):
    assert tail_percentile(n) == q
    if q:
        xs = list(range(n))
        beyond = sum(x > percentile(xs, q) for x in xs)
        assert beyond >= 10


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)

    class Obj:
        def f(self):
            return 1

    o = Obj()
    t.wrap(o, "layer", ["f"])
    with t.span("x"):
        pass
    assert o.f() == 1 and "f" not in vars(o) and t.spans == {}


def test_enabled_tracer_nests_spans_per_thread():
    t = Tracer(enabled=True)

    class Obj:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    o = Obj()
    t.wrap(o, "layer", ["outer", "inner"])
    with t.span("root", tag="route"):
        assert o.outer() == 2
    root, = t.named("root")
    outer, = t.named("layer.outer")
    inner, = t.named("layer.inner")
    assert outer.parent == root.sid and inner.parent == outer.sid
    assert inner.tag == "route"
    assert [s.sid for s in t.descendants(root)] == [outer.sid, inner.sid]
    # only this instance is wrapped: another instance records nothing
    n = len(t.spans)
    assert Obj().outer() == 2 and len(t.spans) == n


def test_dump_writes_one_json_line_per_span(tmp_path):
    import json

    t = Tracer(enabled=True)
    with t.span("a", tag="root"):
        with t.span("b"):
            pass
    path = tmp_path / "spans.jsonl"
    t.dump(str(path))
    recs = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["name"] for r in recs] == ["a", "b"]
    assert recs[1]["parent"] == recs[0]["sid"] and recs[1]["tag"] == "root"
    assert recs[0]["end"] >= recs[1]["end"] >= recs[1]["start"] >= recs[0]["start"]

"""Unit tests for the route mix and the response comparison.

    python3 -m pytest perfbench/test_serve.py -q
"""

import datetime as dt
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import serve  # noqa: E402

D1, D2 = dt.date(2026, 1, 30), dt.date(2026, 1, 29)


def test_route_mix_takes_routes_in_turn_and_alternates_days():
    mix = serve.route_mix(7, 24, [D1, D2])
    assert [r for r, _ in mix] == serve.ROUTES * 4
    for k, (_, url) in enumerate(mix):
        day = (D1, D2)[k // len(serve.ROUTES) % 2]
        assert str(day) in url
        assert str((D2, D1)[k // len(serve.ROUTES) % 2]) not in url


def test_route_mix_is_seeded():
    assert serve.route_mix(3, 30, [D1, D2]) == serve.route_mix(3, 30, [D1, D2])
    assert serve.route_mix(3, 30, [D1, D2]) != serve.route_mix(4, 30, [D1, D2])


def test_same_compares_floats_relatively_and_structure_exactly():
    assert serve.same({"a": [1, 0.1 + 0.2]}, {"a": [1, 0.3]})
    assert not serve.same({"a": [1, 0.31]}, {"a": [1, 0.3]})
    assert not serve.same([1, 2], [1, 2, 3])
    assert not serve.same({"a": 1}, {"b": 1})
    assert serve.same({"group": None}, {"group": None})
    assert not serve.same({"group": None}, {"group": "x"})

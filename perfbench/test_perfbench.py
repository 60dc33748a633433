"""Tests of the benchmark's own logic (no Spark needed).

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import itertools

import pytest

import mix
import stats
from run import digest, response_ok
from spans import Tracer, span_self_times


# -- seeded request generator ----------------------------------------------

STOPS = [str(i) for i in range(500)]
COORDS = {s: (43.0 + int(s) / 1000, -79.0 - int(s) / 1000) for s in STOPS}


def test_pools_are_deterministic_per_seed():
    assert mix.analytics_pool(7) == mix.analytics_pool(7)
    assert (mix.lookup_pool(7, STOPS, COORDS)
            == mix.lookup_pool(7, STOPS, COORDS))
    assert mix.analytics_pool(7) != mix.analytics_pool(8)
    assert (mix.lookup_pool(7, STOPS, COORDS)
            != mix.lookup_pool(8, STOPS, COORDS))


def test_request_sequence_is_deterministic_per_seed():
    pool = mix.analytics_pool(3)
    a = list(itertools.islice(mix.passes(pool, 3), 5))
    b = list(itertools.islice(mix.passes(pool, 3), 5))
    c = list(itertools.islice(mix.passes(pool, 4), 5))
    assert a == b
    assert a != c


def test_every_pass_carries_the_mix_exactly():
    pool = mix.lookup_pool(5, STOPS, COORDS)
    routes = [mix.route_of(k) for k in pool]
    timetable = sum(r.startswith("/get_") for r in routes)
    nearby = routes.count("/api/stops_nearby")
    fast = sum(r.startswith("/api/q") for r in routes)
    assert (timetable, nearby, fast) == (6, 1, 3)
    for order in itertools.islice(mix.passes(pool, 5), 3):
        assert sorted(order) == sorted(pool)


def test_analytics_pool_crosses_queries_services_and_limits():
    pool = mix.analytics_pool(11)
    assert [k.split("?")[0] for k in pool].count("/api/q2") == 3
    for q in ("q1", "q2", "q3", "q4"):
        keys = [k for k in pool if k.startswith(f"/api/{q}")]
        whole_week = [k for k in keys
                      if "service_id" not in k or "service_id=4" in k]
        assert len(whole_week) == 1
        assert all("limit=" in k for k in keys)


# -- percentile rule ----------------------------------------------------------

def test_nearest_rank():
    v = list(range(1, 101))
    assert stats.nearest_rank(v, 50) == 50
    assert stats.nearest_rank(v, 75) == 75
    assert stats.nearest_rank([5.0], 90) == 5.0
    with pytest.raises(ValueError):
        stats.nearest_rank([], 50)


def test_ten_samples_beyond_rule():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(99, 90) == 9
    assert stats.samples_beyond(40, 75) == 10
    assert stats.samples_beyond(39, 75) == 9
    assert stats.samples_beyond(1, 50) == 0
    assert stats.tail(list(range(40)), 75) == 29
    assert stats.tail(list(range(39)), 75) is None


# -- span self time and job intervals ----------------------------------------

def test_union_of_job_intervals():
    assert stats.union_length([]) == 0
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert stats.union_length([(3, 4), (0, 1)]) == 2
    assert stats.union_length([(1, 1), (2, 1)]) == 0


def test_self_time_counts_overlapping_children_once():
    assert stats.self_time(0, 10, [(1, 4), (3, 6)]) == 5
    # a child reaching outside its parent is clipped
    assert stats.self_time(0, 10, [(8, 12)]) == 8
    assert stats.self_time(0, 10, []) == 10


def test_span_self_times_add_up_to_wall_minus_jobs():
    spans = [
        {"id": 0, "parent": None, "name": "api.http", "t0": 0.0, "t1": 10.0},
        {"id": 1, "parent": 0, "name": "api.app", "t0": 1.0, "t1": 9.0},
        {"id": 2, "parent": 1, "name": "queries.plan", "t0": 1.0,
         "t1": 2.0},
        {"id": 3, "parent": 1, "name": "api.shapes", "t0": 7.0, "t1": 8.0},
    ]
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    jobs = [(3.0, 5.0), (4.0, 6.0)]          # overlapping jobs
    selfs = span_self_times(spans, kids, jobs)
    assert selfs == {"api.http": 2.0, "api.app": 3.0,
                     "queries.plan": 1.0, "api.shapes": 1.0}
    assert sum(selfs.values()) + stats.union_length(jobs) == 10.0


def test_tracer_wraps_and_restores():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    t = Tracer()
    t.req = 4
    t.wrap(Owner, "f", "layer")
    assert Owner.f(1) == 2
    assert [(s["name"], s["req"]) for s in t.spans] == [("layer", 4)]
    t.restore()
    assert Owner.f(1) == 2 and len(t.spans) == 1


def test_flatten_records_one_span_for_recursion():
    import types

    mod = types.SimpleNamespace()

    def walk(x):
        return [mod.walk(v) for v in x] if isinstance(x, list) else x

    mod.walk = walk
    t = Tracer()
    t.wrap(mod, "walk", "api.shapes", flatten=True)
    assert mod.walk([1, [2, [3]]]) == [1, [2, [3]]]
    assert len(t.spans) == 1
    assert mod.walk(5) == 5 and len(t.spans) == 2


# -- failures -----------------------------------------------------------------

def test_fail_frac_counts_failed_over_attempted():
    assert stats.fail_frac(40, 0) == 0
    assert stats.fail_frac(40, 10) == 0.25
    with pytest.raises(ValueError):
        stats.fail_frac(0, 0)
    with pytest.raises(ValueError):
        stats.fail_frac(3, 4)


def test_wrong_status_or_body_is_a_failed_request():
    body = b'{"items": []}'
    d = digest(body)
    assert response_ok(200, body, d)
    assert not response_ok(500, body, d)
    assert not response_ok(200, b'{"items": [1]}', d)

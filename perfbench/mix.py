"""Seeded request pools and request sequences for the two serving
workloads.

A run draws a small pool of request keys from its seed and issues shuffled
passes over it: one while warming up (it records each body's digest), then
whole passes until time runs out.  Every timed request
therefore has a digest to be checked against, and every timed pass
carries the workload's mix shares exactly, so seeds change which keys and
in what order, not the cost mix.
"""

from __future__ import annotations

import random
from typing import Iterator, Sequence
from urllib.parse import urlencode

SERVICES = ("1", "2", "3", "4", None)
WHOLE_WEEK = ("4", None)
SINGLE = ("1", "2", "3")
LIVE_LIMITS = ("10", "20", "50")
ZIPF_S = 1.1

# route short names are NATION_<k> except every 7th route, whose name is
# NULL (sources/tpch_adapter.py); headsigns are the order priorities
SHORT_NAMES = tuple(f"NATION_{k}" for k in range(25) if k % 7)
HEADSIGNS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def url(path: str, **params: object) -> str:
    q = {k: v for k, v in params.items() if v is not None}
    return f"{path}?{urlencode(q)}" if q else path


def analytics_pool(seed: int) -> list[str]:
    """12 keys for ``analytics_live``: per query one whole-week key
    (service '4' or absent) and two single-service keys, each with a
    limit from {10, 20, 50}."""
    rng = random.Random(seed)
    pool = []
    for q in ("q1", "q2", "q3", "q4"):
        services = [rng.choice(WHOLE_WEEK), *rng.sample(SINGLE, 2)]
        for sid in services:
            pool.append(url(f"/api/{q}", service_id=sid,
                            limit=rng.choice(LIVE_LIMITS)))
    return pool


def zipf_picker(rng: random.Random, items: Sequence[str],
                s: float = ZIPF_S):
    """Draw from ``items`` with weight 1/rank^s over a seeded ranking."""
    ranked = list(items)
    rng.shuffle(ranked)
    weights = [1.0 / (r ** s) for r in range(1, len(ranked) + 1)]
    return lambda: rng.choices(ranked, weights)[0]


def lookup_pool(seed: int, stop_ids: Sequence[str],
                coords: dict[str, tuple[float, float]]) -> list[str]:
    """10 keys for ``lookup_fast``: 6 timetable lookups (60%), 1 nearby
    search (10%) and 3 fast-path analytics calls (30%).  Stops are drawn
    Zipf-skewed.  The fast calls are q1 or q3 with ``limit=all``, a
    single-service q2 and a q4; with the timetable keys below, the median
    falls inside the grouped-arrivals class rather than between classes.
    """
    rng = random.Random(seed)
    stop = zipf_picker(rng, stop_ids)
    pool = []
    for _ in range(2):
        pool.append(url("/get_timetable", stop_id=stop()))
        pool.append(url("/get_arrivals", stop_id=stop(),
                        service_id=rng.choice(SINGLE + (None,))))
    pool.append(url("/get_routes_for_stop", stop_id=stop(),
                    service_id=rng.choice(SINGLE + (None,))))
    pool.append(url("/get_arrivals", stop_id=stop(),
                    route_short_name=rng.choice(SHORT_NAMES),
                    trip_headsign=rng.choice(HEADSIGNS)))
    lat, lon = coords[stop()]
    pool.append(url("/api/stops_nearby",
                    lat=round(lat + rng.uniform(-0.01, 0.01), 6),
                    lon=round(lon + rng.uniform(-0.01, 0.01), 6)))
    pool.append(url(f"/api/{rng.choice(('q1', 'q3'))}",
                    service_id=rng.choice(SERVICES), limit="all"))
    pool.append(url("/api/q2", service_id=rng.choice(SINGLE),
                    limit=rng.choice(LIVE_LIMITS + ("all",))))
    pool.append(url("/api/q4", service_id=rng.choice(SERVICES),
                    limit=rng.choice(LIVE_LIMITS + ("all",))))
    return pool


def passes(pool: Sequence[str], seed: int) -> Iterator[list[str]]:
    """Endless shuffled passes over ``pool``; each pass holds every key
    once."""
    rng = random.Random(seed ^ 0x5EED)
    while True:
        order = list(pool)
        rng.shuffle(order)
        yield order


def route_of(key: str) -> str:
    """The request type of a key: its path, with the flat arrivals mode
    told apart from the grouped one."""
    path = key.split("?", 1)[0]
    if path == "/get_arrivals" and "route_short_name=" in key:
        return "/get_arrivals[flat]"
    return path

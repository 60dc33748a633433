"""The four timetable lookups against a plain-Python model of the
reference's per-document shaping (`Mongo/app.py:66-244`), over synthetic
stop documents full of edge values: NULL and "" fields, the 'NOT IN
SERVICE' headsign, non-public services, malformed and past-midnight
times, and routes that share a short name and headsign."""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import types as T

from public_transit_data_platform_sql_nosql_spark.queries import timetable as tt

FIELDS = ("route_id", "route_short_name", "route_long_name", "trip_id",
          "service_id", "trip_headsign", "departure_time")
N_STOPS = 12


def _docs(seed: int) -> list[tuple[str, list[tuple]]]:
    rnd = random.Random(seed)
    docs = []
    for stop in range(N_STOPS):
        services = [(
            rnd.choice(["r1", "r2", "r3", None]),
            rnd.choice(["10", "20", None, ""]),
            rnd.choice(["Long A", "Long B", None]),
            f"t{i}",
            rnd.choice(["1", "2", "3", "4", None]),
            rnd.choice(["North", "South", None, tt.NOT_IN_SERVICE, ""]),
            rnd.choice(["08:00:00", "25:30:00", "7:59:59", None, "", "bad"]),
        ) for i in range(rnd.randint(0, 20))]
        docs.append((str(stop), services))
    return docs


@pytest.fixture(scope="module")
def store(spark):
    svc = T.StructType([T.StructField(f, T.StringType()) for f in FIELDS])
    schema = T.StructType([
        T.StructField("stop_id", T.StringType()),
        T.StructField("upcoming_services", T.ArrayType(svc)),
    ])
    docs = _docs(7)
    df = spark.createDataFrame(docs, schema).persist()
    yield df, {stop: [dict(zip(FIELDS, s)) for s in services]
               for stop, services in docs}
    df.unpersist()


# -- the model ---------------------------------------------------------------

def _nulls_first(key: tuple) -> tuple:
    return tuple((v is not None, v or "") for v in key)


def _public(s: dict) -> bool:
    return s["service_id"] in ("1", "2", "3")


def _valid_headsign(s: dict) -> bool:
    return s["trip_headsign"] not in (None, tt.NOT_IN_SERVICE)


def _requested(s: dict, **req: str | None) -> bool:
    return all(v is None or s[k] == v for k, v in req.items())


def _display(t: str | None) -> str:
    if t is None or not re.fullmatch(r"\d{1,3}:\d{2}:\d{2}", t):
        return "NaT"
    h, m, sec = (int(p) for p in t.split(":"))
    secs = (h * 3600 + m * 60 + sec) % 86400
    return f"{secs // 3600:02d}:{secs % 3600 // 60:02d}:{secs % 60:02d}"


def _time(s: dict) -> str:
    return "NaT" if s["departure_time"] is None else s["departure_time"]


def _groups(services, key, value) -> list[tuple[tuple, list[str]]]:
    out: dict[tuple, list[str]] = {}
    for s in services:
        out.setdefault(tuple(s[k] for k in key), []).append(value(s))
    return sorted(((k, sorted(v)) for k, v in out.items()),
                  key=lambda kv: _nulls_first(kv[0]))


def model_timetable(doc):
    return [{"route_long_name": k[0], "trip_headsign": k[1], "times": v}
            for k, v in _groups(doc, ("route_long_name", "trip_headsign"),
                                lambda s: _display(s["departure_time"]))]


def model_routes(doc, service_id=None):
    pairs = {(s["route_short_name"], s["trip_headsign"]) for s in doc
             if _public(s) and _valid_headsign(s)
             and _requested(s, service_id=service_id)}
    return [{"route_short_name": r, "trip_headsign": h}
            for r, h in sorted(pairs, key=_nulls_first)]


def model_flat(doc, route_short_name=None, trip_headsign=None,
               service_id=None):
    times = [_time(s) for s in doc
             if _public(s)
             and (_valid_headsign(s) if trip_headsign is None
                  else s["trip_headsign"] == trip_headsign)
             and _requested(s, route_short_name=route_short_name,
                            service_id=service_id)]
    return [{"departure_time": t} for t in sorted(t for t in times if t)]


def model_grouped(doc, route_short_name=None, trip_headsign=None,
                  service_id=None):
    kept = [s for s in doc
            if _public(s) and _valid_headsign(s) and _time(s) != ""
            and _requested(s, route_short_name=route_short_name,
                           trip_headsign=trip_headsign,
                           service_id=service_id)]
    return [{"route_id": k[2], "route_short_name": k[0],
             "trip_headsign": k[1], "times": v, "count": len(v)}
            for k, v in _groups(kept, ("route_short_name", "trip_headsign",
                                       "route_id"), _time)]


CASES = [
    (tt.get_timetable, model_timetable, {}),
    (tt.get_routes_for_stop, model_routes, {}),
    (tt.get_routes_for_stop, model_routes, {"service_id": "2"}),
    (tt.get_arrivals_flat, model_flat, {}),
    (tt.get_arrivals_flat, model_flat,
     {"route_short_name": "10", "trip_headsign": "North"}),
    (tt.get_arrivals_flat, model_flat,
     {"trip_headsign": tt.NOT_IN_SERVICE, "service_id": "1"}),
    (tt.get_arrivals_grouped, model_grouped, {}),
    (tt.get_arrivals_grouped, model_grouped,
     {"route_short_name": "10", "service_id": "3"}),
]


@pytest.mark.parametrize("fn,model,req", CASES,
                         ids=[f"{c[0].__name__}-{i}"
                              for i, c in enumerate(CASES)])
def test_lookup_matches_model(store, fn, model, req):
    df, docs = store
    for stop in [*docs, "no-such-stop"]:
        got = [r.asDict(recursive=True) for r in fn(df, stop, **req).collect()]
        assert got == model(docs.get(stop, []), **req), (stop, req)


def test_shaping_expressions_are_built_once_per_session(spark, store):
    """Built on first use and reused by the same session; a new session
    builds its own, so it never reads a Column made in another one."""
    df, docs = store
    tt.get_timetable(df, "0")
    assert tt._shapes(spark) is tt._shapes(spark)
    other = spark.newSession()
    assert tt._shapes(other) is not tt._shapes(spark)
    doc = other.createDataFrame(df.where("stop_id = '1'").collect(),
                                df.schema)
    got = [r.asDict(recursive=True)
           for r in tt.get_timetable(doc, "1").collect()]
    assert got == model_timetable(docs["1"])

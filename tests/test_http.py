"""HTTP layer: the reference's two Flask surfaces (`SQL/app.py:81-126`,
`Mongo/app.py:47-244`) served over the Spark engine — route shapes, edge
behaviors (400/404/unknown-stop quirks), and agreement with the
underlying TransitAPI / timetable functions."""

from __future__ import annotations

import pytest

flask = pytest.importorskip("flask")

from public_transit_data_platform_sql_nosql_spark.api import TransitAPI
from public_transit_data_platform_sql_nosql_spark.api.http import (
    create_app,
    wrap_clock_time,
)
from public_transit_data_platform_sql_nosql_spark.jobs.denormalize import (
    denormalize_stop_timetables,
)
from public_transit_data_platform_sql_nosql_spark.queries import timetable as tt
from public_transit_data_platform_sql_nosql_spark.sources.tpch_adapter import (
    register_gtfs_views,
)
from tests.conftest import SF_DIR

STOP = "17"


@pytest.fixture(scope="module")
def web(spark):
    gtfs = register_gtfs_views(spark, SF_DIR)
    denorm = denormalize_stop_timetables(
        gtfs["stop_times"], gtfs["trips"], gtfs["stops"], gtfs["routes"]
    ).persist()
    denorm.count()  # materialize once; endpoints are point lookups
    api = TransitAPI(spark, gtfs, precompute_dir=None)
    app = create_app(api, denorm)
    app.config["TESTING"] = True
    yield app.test_client(), api, denorm
    denorm.unpersist()


def test_analytics_routes_match_transit_api(web):
    client, api, _ = web
    assert (client.get("/api/q1?limit=5").get_json()
            == {"items": api.q1(None, 5)})
    assert (client.get("/api/q3?service_id=1&limit=5").get_json()
            == {"items": api.q3("1", 5)})
    assert client.get("/api/q2?service_id=2").get_json() == api.q2("2", None)
    p = client.get("/api/q4?limit=3").get_json()
    assert p == api.q4(None, 3)
    assert all(r["service_id"] == "all" for r in p["routes"])


def test_get_stops_sorted(web):
    client, _, denorm = web
    rows = client.get("/get_stops").get_json()
    assert rows and set(rows[0]) == {"stop_id", "stop_name", "stop_code"}
    names = [r["stop_name"] for r in rows]
    assert names == sorted(names)
    assert len(rows) == denorm.count()


def test_get_timetable_shape_and_errors(web):
    client, _, denorm = web
    assert client.get("/get_timetable").status_code == 400
    r = client.get("/get_timetable?stop_id=no-such-stop")
    assert r.status_code == 404
    sched = client.get(f"/get_timetable?stop_id={STOP}").get_json()
    assert sched
    expect = {}
    for row in tt.get_timetable(denorm, STOP).collect():
        expect.setdefault(row["route_long_name"], {})[
            row["trip_headsign"]] = list(row["times"])
    # json round-trips None keys to "null"
    assert sched == {
        k: {("null" if hk is None else hk): v for hk, v in hs.items()}
        for k, hs in expect.items()
    }
    for hs in sched.values():
        for times in hs.values():
            assert times == sorted(times)


def test_get_routes_for_stop(web):
    client, _, _ = web
    assert client.get("/get_routes_for_stop").status_code == 400
    assert client.get(
        "/get_routes_for_stop?stop_id=no-such-stop").get_json() == []
    pairs = client.get(f"/get_routes_for_stop?stop_id={STOP}").get_json()
    assert pairs
    assert all(set(p) == {"route_short_name", "trip_headsign"}
               for p in pairs)
    keys = [(p["route_short_name"], p["trip_headsign"]) for p in pairs]
    assert keys == sorted(keys)
    assert all(p["route_short_name"] != "None" for p in pairs)
    # service filter narrows (or keeps) the pair set
    narrowed = client.get(
        f"/get_routes_for_stop?stop_id={STOP}&service_id=1").get_json()
    assert {(p["route_short_name"], p["trip_headsign"])
            for p in narrowed} <= set(keys)


def test_get_arrivals_grouped_and_flat(web):
    client, _, _ = web
    assert client.get("/get_arrivals").status_code == 400
    # unknown stop returns the FLAT empty shape even without filters
    assert (client.get("/get_arrivals?stop_id=no-such-stop").get_json()
            == {"times": [], "count": 0})
    g = client.get(f"/get_arrivals?stop_id={STOP}").get_json()
    assert set(g) == {"groups", "total_count"}
    assert g["total_count"] == sum(x["count"] for x in g["groups"])
    gkeys = [(x["route_short_name"], x["trip_headsign"])
             for x in g["groups"]]
    assert gkeys == sorted(gkeys)
    # drill one group down to flat mode; its times must reappear
    grp = next(x for x in g["groups"] if x["route_short_name"])
    flat = client.get(
        f"/get_arrivals?stop_id={STOP}"
        f"&route_short_name={grp['route_short_name']}"
        f"&trip_headsign={grp['trip_headsign']}").get_json()
    assert set(flat) == {"times", "count"}
    assert flat["count"] == len(flat["times"])
    assert flat["times"] == sorted(flat["times"])
    assert flat["times"] == grp["times"]
    # all times are clock-face wrapped (the reference's simplify_time)
    assert all(t[:2].isdigit() and int(t[:2]) < 24 for t in flat["times"])


def test_get_arrivals_flat_not_in_service_drilldown(web):
    """The reference's flat branch (`Mongo/app.py:185-204`) matches the
    requested headsign by direct equality — no NOT-IN-SERVICE exclusion —
    so drilling into a NOT IN SERVICE headsign returns its times."""
    from pyspark.sql import functions as F

    client, _, denorm = web
    probe = (
        denorm.select("stop_id",
                      F.explode("upcoming_services").alias("s"))
        .filter((F.col("s.trip_headsign") == "NOT IN SERVICE")
                & F.col("s.service_id").isin("1", "2", "3")
                & F.col("s.departure_time").isNotNull()
                & (F.col("s.departure_time") != "")
                & F.col("s.route_short_name").isNotNull())
        .select("stop_id", "s.route_short_name")
        .limit(1).collect()
    )
    assert probe, "fixture should inject NOT IN SERVICE headsigns"
    stop, rsn = probe[0]["stop_id"], probe[0]["route_short_name"]
    flat = client.get(
        f"/get_arrivals?stop_id={stop}&route_short_name={rsn}"
        "&trip_headsign=NOT%20IN%20SERVICE").get_json()
    assert flat["count"] > 0 and flat["count"] == len(flat["times"])
    # but the same headsign stays excluded from grouped mode (P8)
    g = client.get(f"/get_arrivals?stop_id={stop}").get_json()
    assert all(x["trip_headsign"] != "NOT IN SERVICE" for x in g["groups"])


def test_get_timetable_keeps_null_times_as_nat(web):
    """Null departure_times reach the reference's Mongo doc as the string
    'NaT' (`Mongo/denormalization.py:97` stringifies pandas NaT) and show
    up in the timetable — mirrored here instead of being dropped."""
    from pyspark.sql import functions as F

    client, _, denorm = web
    probe = (
        denorm.select("stop_id",
                      F.explode("upcoming_services").alias("s"))
        .filter(F.col("s.departure_time").isNull())
        .select("stop_id").orderBy("stop_id").limit(1).collect()
    )
    assert probe, "fixture should inject null departure_times"
    stop = probe[0]["stop_id"]
    resp = client.get(f"/get_timetable?stop_id={stop}")
    assert resp.status_code == 200
    sched = resp.get_json()
    times = [t for route in sched.values()
             for ts in route.values() for t in ts]
    assert "NaT" in times
    # NaT sorts after every HH:MM:SS string, same as the reference's
    # Python sorted() over strings
    for route in sched.values():
        for ts in route.values():
            assert ts == sorted(ts)


def test_get_timetable_null_group_keys_serialize(web):
    """A stop whose services mix null and named route/headsign keys must
    answer 200 with the None keys emitted as the "null" JSON key (the
    reference's sorted jsonify would 500 there — documented deviation)."""
    from pyspark.sql import functions as F

    client, _, denorm = web
    probe = (
        denorm.select("stop_id",
                      F.explode("upcoming_services").alias("s"))
        .groupBy("stop_id")
        .agg(F.sum(F.col("s.trip_headsign").isNull().cast("int"))
             .alias("nulls"),
             F.sum(F.col("s.trip_headsign").isNotNull().cast("int"))
             .alias("named"))
        .filter((F.col("nulls") > 0) & (F.col("named") > 0))
        .orderBy("stop_id").limit(1).collect()
    )
    assert probe, "fixture should mix null and named headsigns somewhere"
    stop = probe[0]["stop_id"]
    resp = client.get(f"/get_timetable?stop_id={stop}")
    assert resp.status_code == 200
    sched = resp.get_json()
    assert "null" in {h for route in sched.values() for h in route}


def test_one_spark_job_per_timetable_request(web, spark):
    """Each timetable route is ONE narrow Spark job (a point read shaped
    with array expressions, no shuffle), and the unknown-stop answers
    are a driver-side set probe that runs none."""
    from public_transit_data_platform_sql_nosql_spark.plans.inspect import (
        jobs_run,
    )

    from urllib.parse import urlencode

    client, _, denorm = web
    g = next(r for r in tt.get_arrivals_grouped(denorm, STOP).collect()
             if r["route_short_name"] is not None)
    flat = "/get_arrivals?" + urlencode({
        "stop_id": STOP, "route_short_name": g["route_short_name"],
        "trip_headsign": g["trip_headsign"]})
    for url in (f"/get_timetable?stop_id={STOP}",
                f"/get_routes_for_stop?stop_id={STOP}",
                f"/get_arrivals?stop_id={STOP}", flat):
        resp = []
        assert jobs_run(spark, lambda: resp.append(client.get(url))) == 1, url
        assert resp[0].status_code == 200 and resp[0].get_json(), url
    for route in ("/get_timetable", "/get_routes_for_stop", "/get_arrivals"):
        assert jobs_run(
            spark, lambda: client.get(f"{route}?stop_id=nope")) == 0, route


def test_grouped_arrivals_ties_order_by_route_id(web, spark):
    """Two routes with NULL short names under one headsign tie on
    (route_short_name, trip_headsign); route_id orders them, in the query
    and in the HTTP body, whatever the document's order."""
    from pyspark.sql import types as T

    _, api, denorm = web
    fields = ("route_id", "route_short_name", "route_long_name", "trip_id",
              "service_id", "trip_headsign", "departure_time")
    svc = T.StructType([T.StructField(f, T.StringType()) for f in fields])
    doc = spark.createDataFrame(
        [("tie", [("r2", None, "Two", "t1", "1", "North", "08:00:00"),
                  ("r1", None, "One", "t2", "1", "North", "09:00:00"),
                  ("r5", "5", "Five", "t3", "1", "North", "07:00:00"),
                  ("r2", None, "Two", "t4", "1", "North", "10:00:00")])],
        T.StructType([T.StructField("stop_id", T.StringType()),
                      T.StructField("upcoming_services", T.ArrayType(svc))]))
    rows = tt.get_arrivals_grouped(doc, "tie").collect()
    assert [(r["route_short_name"], r["route_id"], r["count"])
            for r in rows] == [(None, "r1", 1), (None, "r2", 2),
                               ("5", "r5", 1)]
    client = create_app(api, doc).test_client()
    body = client.get("/get_arrivals?stop_id=tie").get_json()
    assert [(g["route_short_name"], g["route_id"], g["times"])
            for g in body["groups"]] == [
        ("", "r1", ["09:00:00"]), ("", "r2", ["08:00:00", "10:00:00"]),
        ("5", "r5", ["07:00:00"])]
    assert body["total_count"] == 4


def test_wrap_clock_time():
    assert wrap_clock_time("25:30:00") == "01:30:00"
    assert wrap_clock_time("09:05:00") == "09:05:00"
    assert wrap_clock_time(None) == ""
    assert wrap_clock_time("") == ""


def test_root_serves_ui_and_api_discovery(web):
    """'/' serves the HTML dashboard (reference parity: index.html at
    root) and /api keeps the machine-readable endpoint listing."""
    client, _, _ = web
    r = client.get("/")
    assert r.status_code == 200
    assert r.content_type.startswith("text/html")
    body = r.get_data(as_text=True)
    for ep in ("/api/", "/get_timetable", "/get_routes_for_stop",
               "/get_stops"):
        assert ep in body
    r2 = client.get("/api")
    assert r2.status_code == 200
    assert "/api/q1" in r2.get_json()["endpoints"]


def test_stops_nearby_endpoint(web, spark):
    client, _, denorm = web
    # use a real stop's coordinates as the query point -> distance 0 hit
    probe = denorm.select(
        "stop_id",
        denorm["location"]["coordinates"][1].alias("lat"),
        denorm["location"]["coordinates"][0].alias("lon"),
    ).orderBy("stop_id").first()
    r = client.get(f"/api/stops_nearby?lat={probe['lat']}"
                   f"&lon={probe['lon']}&radius=0.05&limit=5")
    assert r.status_code == 200
    stops = r.get_json()["stops"]
    assert stops, "query at a stop's own location must hit"
    assert stops[0]["stop_id"] == probe["stop_id"]
    assert stops[0]["dist2_deg"] == 0.0
    assert stops[0]["stop_name"] is not None
    d = [s["dist2_deg"] for s in stops]
    assert d == sorted(d) and len(stops) <= 5


def test_stops_nearby_validation(web):
    client, _, _ = web
    assert client.get("/api/stops_nearby").status_code == 400
    assert client.get(
        "/api/stops_nearby?lat=43.5&lon=abc").status_code == 400
    assert client.get(
        "/api/stops_nearby?lat=43.5&lon=-79.5&radius=-1").status_code == 400

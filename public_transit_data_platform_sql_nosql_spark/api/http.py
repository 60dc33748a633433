"""Thin Flask layer over the Spark engine — the reference's two HTTP
surfaces on one app.

Routes mirror `/root/reference/SQL/app.py:81-126` (the four analytics
endpoints, CSV-vs-SQL backend switch included via ``TransitAPI``'s
precompute probe) and `/root/reference/Mongo/app.py:47-244` (the four
timetable endpoints over the denormalized stop collection), including the
reference's edge behaviors:

- q1/q3 wrap rows in ``{"items": [...]}``; q2/q4 return the payload dict
  (`SQL/app.py:90,105`).
- ``/get_timetable`` 400s on a missing param and 404s on an unknown stop
  (`Mongo/app.py:75,82`); ``/get_routes_for_stop`` returns ``[]`` for an
  unknown stop (`Mongo/app.py:128`); ``/get_arrivals`` returns the FLAT
  empty shape ``{"times": [], "count": 0}`` for an unknown stop even in
  grouped mode (`Mongo/app.py:175-176` — quirk preserved).
- ``/get_arrivals`` picks flat vs grouped on whether BOTH
  ``route_short_name`` and ``trip_headsign`` are present
  (`Mongo/app.py:186`), and clock-face-wraps times at the edge exactly
  where the reference's ``simplify_time`` strips the Timedelta day part
  (`Mongo/app.py:177-181`).  The flat branch matches the requested
  headsign by DIRECT equality (no NOT-IN-SERVICE/null exclusion,
  `Mongo/app.py:185-204`); only the grouped branch applies P8.
- ``/get_timetable`` AND ``/get_arrivals`` keep null departure_times as
  the literal 'NaT' (the reference ETL stringifies pandas NaT into the
  stored doc, `Mongo/denormalization.py:97`, and 'NaT' is truthy so it
  survives the reference's ``if t`` filters and is counted); null
  route/headsign group keys are emitted as the "null" JSON key — the
  reference's ``.get(key, default)`` fallbacks are dead code since the
  ETL writes every key (see queries/timetable.py), and its Flask
  jsonify would 500 sorting a None key against named ones, so this is
  the one deliberate deviation.  A route/headsign genuinely NAMED
  'null' would collide with that key: the handler merges the groups'
  time lists instead of letting one silently clobber the other.

Scale/serving notes: every timetable endpoint is ONE narrow Spark job —
a point lookup on ``stop_id`` that shapes the stop's one document with
array expressions, with no shuffle (queries/timetable.py).  Pass a
``.persist()``-ed or a bucketed-by-stop_id denorm store so the lookup
reads cached or pruned partitions instead of re-running the ETL; the
analytics endpoints collect only ranked top-N results (see api/app.py).
Flask itself is optional: the module import-gates it so the engine stays
usable where Flask isn't installed.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..queries import timetable as tt
from .app import TransitAPI

try:  # environment contract: gate non-core deps behind an import-try
    from flask import Flask, jsonify, request
except ImportError:  # pragma: no cover
    Flask = None


def wrap_clock_time(t: Optional[str]) -> str:
    """GTFS '25:30:00' -> '01:30:00' — the edge twin of the reference's
    ``simplify_time`` (`Mongo/app.py:177-181`), which strips the pandas
    Timedelta day part from the stored string."""
    if not t:
        return ""
    try:
        h = int(str(t).split(":", 1)[0])
    except ValueError:
        return str(t)
    return f"{h % 24:02d}:" + str(t).split(":", 1)[1]


def create_app(analytics: TransitAPI, denorm: DataFrame):
    """Build the Flask app over a ``TransitAPI`` (live or fast backend)
    and the denormalized stop table (`jobs/denormalize.py`)."""
    if Flask is None:  # pragma: no cover
        raise ImportError("flask is not installed; the HTTP layer is "
                          "optional — use TransitAPI / queries.timetable "
                          "directly")
    app = Flask("public_transit_data_platform_sql_nosql_spark")

    # find_one-existence analog, serving-path shape: collect the stop-id
    # SET once at app build (bounded: one short string per physical stop
    # — a few MB even for a national feed) so the 404 check is a Python
    # set probe instead of a per-request Spark filter job.  Keeps every
    # endpoint at ONE Spark job per request; `refresh_stops` re-reads the
    # set after a denorm reload.
    # one-element holder so refresh swaps the WHOLE set atomically —
    # clear()-then-update would 404 valid stops for concurrent requests
    # during the (potentially seconds-long, disk-backed) rebuild window
    known_stops: list[frozenset[str]] = [frozenset()]

    def refresh_stops() -> None:
        known_stops[0] = frozenset(
            r["stop_id"] for r in denorm.select("stop_id").collect()
        )

    refresh_stops()
    app.refresh_stops = refresh_stops

    def _stop_exists(stop_id: str) -> bool:
        return stop_id in known_stops[0]

    # -- analytics (SQL/app.py:81-126) ----------------------------------

    @app.get("/api/q1")
    def api_q1():
        return jsonify({"items": analytics.q1(
            request.args.get("service_id"), request.args.get("limit"))})

    @app.get("/api/q2")
    def api_q2():
        return jsonify(analytics.q2(
            request.args.get("service_id"), request.args.get("limit")))

    @app.get("/api/q3")
    def api_q3():
        return jsonify({"items": analytics.q3(
            request.args.get("service_id"), request.args.get("limit"))})

    @app.get("/api/q4")
    def api_q4():
        return jsonify(analytics.q4(
            request.args.get("service_id"), request.args.get("limit")))

    # -- timetable (Mongo/app.py:47-244) --------------------------------

    @app.get("/get_stops")
    def get_stops():
        rows = tt.get_stops(denorm).collect()
        return jsonify([{"stop_id": r["stop_id"],
                         "stop_name": r["stop_name"],
                         "stop_code": r["stop_code"]} for r in rows])

    @app.get("/get_timetable")
    def get_timetable():
        stop_id = request.args.get("stop_id")
        if not stop_id:
            return jsonify({"error": "Missing 'stop_id' parameter"}), 400
        if not _stop_exists(stop_id):
            return jsonify({"error": f"Stop ID not found: {stop_id}"}), 404
        # Null group keys become the literal "null" key — what plain
        # json.dumps emits for a None dict key.  DELIBERATE deviation:
        # Flask's sort_keys jsonify raises on a dict mixing None and str
        # keys, so the reference app 500s on a stop whose services mix
        # null and named routes; emitting the unsorted-dumps key shape
        # keeps the endpoint total without inventing new labels.
        sched: dict[str, dict[str, list[str]]] = {}
        for r in tt.get_timetable(denorm, stop_id).collect():
            route = ("null" if r["route_long_name"] is None
                     else r["route_long_name"])
            head = ("null" if r["trip_headsign"] is None
                    else r["trip_headsign"])
            by_head = sched.setdefault(route, {})
            if head in by_head:
                # a group genuinely named 'null' aliasing the None key:
                # merge (re-sorted) rather than clobber
                by_head[head] = sorted(by_head[head] + list(r["times"]))
            else:
                by_head[head] = list(r["times"])
        return jsonify(sched)

    @app.get("/get_routes_for_stop")
    def get_routes_for_stop():
        stop_id = request.args.get("stop_id")
        if not stop_id:
            return jsonify({"error": "Missing 'stop_id' parameter"}), 400
        if not _stop_exists(stop_id):
            return jsonify([])
        rows = tt.get_routes_for_stop(
            denorm, stop_id, request.args.get("service_id")).collect()
        # the reference drops null short names and str-casts
        # (`Mongo/app.py:140-145`)
        pairs = sorted(
            {(str(r["route_short_name"]), str(r["trip_headsign"]))
             for r in rows if r["route_short_name"] is not None}
        )
        return jsonify([{"route_short_name": s, "trip_headsign": h}
                        for s, h in pairs])

    @app.get("/get_arrivals")
    def get_arrivals():
        stop_id = request.args.get("stop_id")
        rsn = request.args.get("route_short_name")
        headsign = request.args.get("trip_headsign")
        sid = request.args.get("service_id")
        if not stop_id:
            return jsonify({"error": "Missing 'stop_id' parameter"}), 400
        if not _stop_exists(stop_id):
            # flat empty shape even for grouped requests — reference quirk
            return jsonify({"times": [], "count": 0})
        if rsn is not None and headsign is not None:
            rows = tt.get_arrivals_flat(
                denorm, stop_id, rsn, headsign, sid).collect()
            times = sorted(t for t in
                           (wrap_clock_time(r["departure_time"])
                            for r in rows) if t)
            return jsonify({"times": times, "count": len(times)})
        groups = []
        total = 0
        for r in tt.get_arrivals_grouped(denorm, stop_id,
                                         service_id=sid).collect():
            times = sorted(t for t in
                           (wrap_clock_time(x) for x in r["times"]) if t)
            total += len(times)
            groups.append({
                "route_id": r["route_id"] or "",
                "route_short_name": (str(r["route_short_name"])
                                     if r["route_short_name"] is not None
                                     else ""),
                "trip_headsign": r["trip_headsign"],
                "times": times,
                "count": len(times),
            })
        # route_id breaks ties: routes with NULL short names all render
        # as "" and may share a headsign
        groups.sort(key=lambda g: (g["route_short_name"],
                                   g["trip_headsign"], g["route_id"]))
        return jsonify({"groups": groups, "total_count": total})

    # -- geo extension (the reference renders stops on a Leaflet map but
    #    never serves a spatial QUERY; this is the "stops near me" lookup
    #    that map consumes, backed by queries/geo.py's cell-pruned scan) --

    @app.get("/api/stops_nearby")
    def api_stops_nearby():
        from ..queries.geo import DEFAULT_EPS, stops_nearby

        try:
            lat = float(request.args["lat"])
            lon = float(request.args["lon"])
            radius = float(request.args.get("radius", DEFAULT_EPS))
            limit = int(request.args.get("limit", 20))
        except (KeyError, ValueError):
            return jsonify({"error": "lat and lon are required floats; "
                                     "radius/limit optional"}), 400
        if radius <= 0 or limit <= 0:
            return jsonify({"error": "radius and limit must be > 0"}), 400
        pts = denorm.select(
            "stop_id", "stop_name",
            F.col("location")["coordinates"][1].alias("stop_lat"),
            F.col("location")["coordinates"][0].alias("stop_lon"),
        )
        rows = stops_nearby(pts, lat, lon, radius=radius, limit=limit,
                            extra_cols=("stop_name",)).collect()
        return jsonify({"stops": [
            {"stop_id": r["stop_id"], "stop_name": r["stop_name"],
             "stop_lat": r["stop_lat"], "stop_lon": r["stop_lon"],
             "dist2_deg": r["dist2_deg"]} for r in rows]})

    # -- UI + discovery (reference serves index.html at "/":
    #    SQL/app.py:78, Mongo/index.html; ours is an original page) ----

    @app.get("/")
    def index():
        from .ui import INDEX_HTML

        return INDEX_HTML, 200, {"Content-Type": "text/html; charset=utf-8"}

    @app.get("/api")
    def api_index():
        return jsonify({"endpoints": ["/api/q1", "/api/q2", "/api/q3",
                                      "/api/q4", "/get_stops",
                                      "/get_timetable",
                                      "/get_routes_for_stop",
                                      "/get_arrivals",
                                      "/api/stops_nearby"]})

    return app

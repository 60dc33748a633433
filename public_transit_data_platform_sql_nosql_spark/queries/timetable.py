"""Timetable lookup operations over the denormalized stop table -- the
reference's Mongo query service (`/root/reference/Mongo/app.py:47-244`).

The reference does ``find_one`` by stop_id then filters/groups/sorts the
``upcoming_services`` array in Python.  Each lookup here has that shape
too: ``point_read`` narrows the store to the stop's one document, then one
``select`` filters, groups and sorts its ``upcoming_services`` array with
array expressions (``filter`` / ``transform`` / ``array_distinct`` /
``sort_array``) and ``inline``s the result into rows.  A lookup therefore
plans as ONE narrow Spark job -- no explode -> groupBy, no orderBy, no
Exchange -- over a cached, a bucketed (partition-pruned) or a plain store.

The stop-independent shaping expressions are built once per SparkSession
(``_shapes``): building a higher-order function's lambdas costs one Py4J
round trip per expression node, which dominated a request's driver time.
Per request only the literal columns are built: stop_id, service_id,
route_short_name and trip_headsign are bound as Column literals, never
formatted into SQL text.
"""

from __future__ import annotations

import weakref
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..jobs import denormalize
from ..operators.params import PUBLIC_SERVICE_IDS

NOT_IN_SERVICE = "NOT IN SERVICE"


def get_stops(stops_or_denorm: DataFrame) -> DataFrame:
    """S9: id/code/name projection sorted by name
    (`Mongo/app.py:56-59`)."""
    return (
        stops_or_denorm.select("stop_id", "stop_name", "stop_code")
        .orderBy("stop_name", "stop_id")
    )


def _public_service(x: Column) -> Column:
    """P7: public services only (`Mongo/app.py:131-135`)."""
    return x["service_id"].isin(*PUBLIC_SERVICE_IDS)


def _valid_headsign(x: Column) -> Column:
    """P8: drop NULL / 'NOT IN SERVICE' headsigns
    (`Mongo/app.py:139-143`)."""
    return x["trip_headsign"].isNotNull() & (
        x["trip_headsign"] != NOT_IN_SERVICE
    )


# Request values travel beside the document as literal columns named
# ``_req_<field>``: the cached expressions read them as outer references,
# so they never change with the request.
def _req(field: str) -> Column:
    return F.col(f"_req_{field}")


def _requested(x: Column, field: str) -> Column:
    """``x[field]`` equals the requested value, or none was requested.  A
    NULL field never matches a requested value (``==`` semantics)."""
    return _req(field).isNull() | (x[field] == _req(field))


def _time(x: Column) -> Column:
    """departure_time with NULL kept as the literal 'NaT'."""
    return F.coalesce(x["departure_time"], F.lit("NaT"))


def _grouped(services: Column, keys: tuple[str, ...],
             value: Callable[[Column], Column]) -> Column:
    """Per-document ``groupBy(keys).agg(sort_array(collect_list(value)))
    .orderBy(keys)``: an array of ``struct(keys..., times)``, one element
    per distinct ``keys`` tuple, ascending with NULL first (struct order
    is orderBy's).  NULL keys group together, as in groupBy.  Each group
    re-scans ``services``: groups x services per document, which is small
    next to the cost of the job that reads it."""
    groups = F.sort_array(F.array_distinct(F.transform(
        services, lambda x: F.struct(*[x[k].alias(k) for k in keys]))))

    def members(g: Column) -> Column:
        return F.filter(services, lambda x: reduce(
            Column.__and__, [x[k].eqNullSafe(g[k]) for k in keys]))

    return F.transform(groups, lambda g: F.struct(
        *[g[k].alias(k) for k in keys],
        F.sort_array(F.transform(members(g), value)).alias("times"),
    ))


def _build_shapes() -> dict[str, Column]:
    """One ``select`` column per lookup, keyed by ``_lookup``'s shape."""
    from ..functions.gtfs_time import time_to_secs, wrap_display_time

    svc = F.col("upcoming_services")
    shapes = {}

    def display(x: Column) -> Column:
        return F.coalesce(
            wrap_display_time(time_to_secs(x["departure_time"])),
            F.lit("NaT"))

    shapes["timetable"] = F.inline(
        _grouped(svc, ("route_long_name", "trip_headsign"), display))

    routes = F.filter(svc, lambda x: _public_service(x)
                      & _valid_headsign(x) & _requested(x, "service_id"))
    shapes["routes"] = F.inline(F.sort_array(F.array_distinct(F.transform(
        routes, lambda x: F.struct(
            x["route_short_name"].alias("route_short_name"),
            x["trip_headsign"].alias("trip_headsign"))))))

    # P8 only when no headsign is requested: the flat drill-down matches a
    # requested headsign (even 'NOT IN SERVICE') by direct equality
    flat = F.filter(svc, lambda x: _public_service(x)
                    & F.when(_req("trip_headsign").isNull(),
                             _valid_headsign(x))
                    .otherwise(x["trip_headsign"] == _req("trip_headsign"))
                    & _requested(x, "route_short_name")
                    & _requested(x, "service_id"))
    shapes["flat"] = F.explode(F.sort_array(F.filter(
        F.transform(flat, _time), lambda t: t != ""))
    ).alias("departure_time")

    arrivals = F.filter(svc, lambda x: _public_service(x)
                        & _valid_headsign(x) & (_time(x) != "")
                        & _requested(x, "route_short_name")
                        & _requested(x, "trip_headsign")
                        & _requested(x, "service_id"))
    # route_id last in the sort key: it breaks ties between routes that
    # share a (short name, headsign), e.g. two NULL short names
    groups = _grouped(arrivals,
                      ("route_short_name", "trip_headsign", "route_id"),
                      _time)
    shapes["grouped"] = F.inline(F.transform(groups, lambda g: F.struct(
        g["route_id"].alias("route_id"),
        g["route_short_name"].alias("route_short_name"),
        g["trip_headsign"].alias("trip_headsign"),
        g["times"].alias("times"),
        F.size(g["times"]).cast("long").alias("count"),
    )))
    return shapes


# Weak keys: a stopped and restarted session -- or one on a relaunched
# JVM -- is a new SparkSession object, so it never reuses a Column built
# in the old one, and a dropped session takes its entry with it.  Two
# threads racing on a first lookup both build equal expressions; either
# may win.
_SHAPES: weakref.WeakKeyDictionary[SparkSession, dict[str, Column]] = (
    weakref.WeakKeyDictionary())


def _shapes(spark: SparkSession) -> dict[str, Column]:
    """The four lookups' stop-independent shaping expressions, built on
    first use in each session."""
    shapes = _SHAPES.get(spark)
    if shapes is None:
        shapes = _SHAPES[spark] = _build_shapes()
    return shapes


def _lookup(denorm: DataFrame, stop_id: str, shape: str,
            **req: str | None) -> DataFrame:
    """``point_read`` of the stop's document, then the cached ``shape``
    over it with the request values bound as ``_req_*`` literals."""
    doc = denormalize.point_read(denorm, stop_id)
    if req:
        doc = doc.select("upcoming_services", *[
            F.lit(v).cast("string").alias(f"_req_{k}")
            for k, v in req.items()])
    return doc.select(_shapes(denorm.sparkSession)[shape])


def get_routes_for_stop(denorm: DataFrame, stop_id: str,
                        service_id: str | None = None) -> DataFrame:
    """A18/O11: distinct (route_short_name, trip_headsign) pairs at a stop,
    optionally narrowed to one public service (`Mongo/app.py:116-149`),
    ascending with NULL short names first.  P7 and P8 apply."""
    return _lookup(denorm, stop_id, "routes", service_id=service_id)


def get_arrivals_flat(
    denorm: DataFrame,
    stop_id: str,
    route_short_name: str | None = None,
    trip_headsign: str | None = None,
    service_id: str | None = None,
) -> DataFrame:
    """P9/P10: flat arrivals mode — the sorted list of non-empty departure
    times at a stop, optionally narrowed to a (route_short_name,
    trip_headsign, service_id) selection (`Mongo/app.py:185-204`, the
    route+headsign drill-down that returns ``{"times": [...], "count"}``).

    The public-service filter (P7) always applies, matching the
    reference's ``allowed_services`` check.  The valid-headsign exclusion
    (P8) applies ONLY when no explicit ``trip_headsign`` is requested:
    the reference's flat branch (`Mongo/app.py:185-204`) matches the
    requested headsign by direct equality with no NOT-IN-SERVICE/null
    exclusion, so a drill-down into trip_headsign='NOT IN SERVICE'
    returns its times there — and here.  The reference's
    ``simplify_time`` display unwrap is an API-edge concern
    (api/shapes.py), not part of the set semantics.

    Null departure_times are KEPT, as the literal 'NaT', exactly like
    ``get_timetable``: the reference ETL stringifies pandas NaT into the
    stored doc (`Mongo/denormalization.py:97`), and the string 'NaT' is
    truthy, so it survives the reference's ``[t for t in times if t]``
    and is counted ('NaT' also sorts after every HH:MM:SS string in both
    engines).  Only genuinely empty strings are dropped — the one falsy
    value the reference's filter can see.  Rows come in ascending order.
    """
    return _lookup(denorm, stop_id, "flat",
                   route_short_name=route_short_name,
                   trip_headsign=trip_headsign, service_id=service_id)


def get_arrivals_grouped(
    denorm: DataFrame,
    stop_id: str,
    route_short_name: str | None = None,
    trip_headsign: str | None = None,
    service_id: str | None = None,
) -> DataFrame:
    """A19: arrivals at a stop grouped by (route_id, headsign) with the
    sorted time list and per-group count (`Mongo/app.py:206-244`), ordered
    by (route_short_name, trip_headsign, route_id) -- route_id breaks the
    tie between routes sharing a short name (or a NULL one) and headsign.
    P7 and P8 apply.

    Null departure_times are kept as 'NaT' in the time lists and counts,
    matching the reference's truthy stringified-NaT behavior — see
    ``get_arrivals_flat``."""
    return _lookup(denorm, stop_id, "grouped",
                   route_short_name=route_short_name,
                   trip_headsign=trip_headsign, service_id=service_id)


def get_timetable(denorm: DataFrame, stop_id: str) -> DataFrame:
    """A17/O9: route_long_name -> headsign -> sorted wrapped times
    (`Mongo/app.py:66-113`).  Times are clock-face wrapped like the
    reference's Timedelta round-trip (hour 25 -> 01).

    Null departure_times are KEPT and rendered as the literal 'NaT':
    the reference's ETL stores ``str(row['departure_time'])``
    (`Mongo/denormalization.py:97`), so a SQL NULL time reaches Mongo as
    the string 'NaT' (pandas NaT stringified) and shows up in the
    timetable; dropping the row here would silently diverge.  Null
    route_long_name / trip_headsign group keys pass through unchanged —
    the reference's ``service.get(key, default)`` defaults are dead code
    (the ETL writes every key on every service dict, so ``.get`` never
    falls back to 'Unknown Route'/'Unknown Direction').  The HTTP edge
    maps a None key to the literal "null" (api/http.py — Flask's sorted
    jsonify cannot mix None and str keys; the reference app would 500
    there).  Every service shows (no P7/P8), ordered by
    (route_long_name, trip_headsign) with NULL keys first."""
    return _lookup(denorm, stop_id, "timetable")

"""Stop-centric denormalization -- the reference's MySQL->MongoDB ETL
(`/root/reference/Mongo/denormalization.py:49-138`) as ONE Spark job.

The reference paginates a 4-way join in 100k-row chunks and upserts with
``$push`` because a stop's rows can straddle chunks; at 20+ minutes for
4.3M rows.  In Spark the whole transform is a single shuffle:

    stop_times |><| trips |><| routes |><| stops
      -> groupBy(stop_id) -> collect_list(struct(...)) -> array_sort

Output schema matches the Mongo document (model/schemas.py STOP_TIMETABLE):
one row per stop, GeoJSON-style location struct, ``upcoming_services``
sorted by (departure_time, trip_id) -- the reference guaranteed order via a
global ``ORDER BY stop_id, departure_time`` (`denormalization.py:60`); we
sort within each group instead, which scales (no global sort) and is
deterministic (trip_id tiebreak).

Scale notes: the only wide exchange is the groupBy on stop_id (high
cardinality, well-distributed).  routes/stops are broadcast; trips is
size-gated (it grows with stop_times — see operators/hints.py).  At
100 TB you'd additionally ``repartition(stop_id)`` before a partitioned
write so downstream point lookups prune partitions.
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.hints import broadcast_if_small


def denormalize_stop_timetables(
    stop_times: DataFrame,
    trips: DataFrame,
    stops: DataFrame,
    routes: DataFrame,
) -> DataFrame:
    joined = (
        stop_times.select("trip_id", "stop_id", "departure_time")
        .join(broadcast_if_small(
            trips.select("trip_id", "route_id", "service_id",
                         "trip_headsign")), "trip_id")
        .join(F.broadcast(routes.select("route_id", "route_short_name",
                                        "route_long_name")), "route_id")
    )
    # sort key (departure_time, trip_id) leads; fields reordered after sort
    # to the reference's document layout (denormalization.py:90-98).
    sortable = F.struct(
        F.col("departure_time"), F.col("trip_id"), F.col("route_id"),
        F.col("route_short_name"), F.col("route_long_name"),
        F.col("service_id"), F.col("trip_headsign"),
    )
    per_stop = joined.groupBy("stop_id").agg(
        F.array_sort(F.collect_list(sortable)).alias("_sorted")
    )
    services = F.transform(
        F.col("_sorted"),
        lambda x: F.struct(
            x["route_id"].alias("route_id"),
            x["route_short_name"].alias("route_short_name"),
            x["route_long_name"].alias("route_long_name"),
            x["trip_id"].alias("trip_id"),
            x["service_id"].alias("service_id"),
            x["trip_headsign"].alias("trip_headsign"),
            x["departure_time"].alias("departure_time"),
        ),
    )
    return (
        per_stop.join(
            F.broadcast(stops.select("stop_id", "stop_name", "stop_code",
                                     "stop_lat", "stop_lon")),
            "stop_id",
        )
        .select(
            "stop_id",
            "stop_name",
            "stop_code",
            F.struct(
                F.lit("Point").alias("type"),
                F.array(F.col("stop_lon"), F.col("stop_lat"))
                .alias("coordinates"),
            ).alias("location"),
            services.alias("upcoming_services"),
        )
    )


N_STOP_BUCKETS = 256


def _stop_bucket(col: Column) -> Column:
    """Deterministic hash bucket of a stop_id — the doc-store's partition
    key.  xxhash64 is stable across Spark sessions/versions, so a store
    written once prunes correctly forever."""
    return F.pmod(F.xxhash64(col), F.lit(N_STOP_BUCKETS)).cast("int")


def write_stop_timetables(df: DataFrame, path: str,
                          bucket_stops: bool = False) -> None:
    """Replaces the reference's delete_many + bulk_write upsert loop
    (`denormalization.py:68,129-135`) with an idempotent overwrite.

    ``bucket_stops=True`` is the 100 TB layout the module docstring
    prescribes: rows are hash-partitioned into ``stop_bucket=NN/``
    directories (pre-shuffled on the same key so each partition writes
    one file, not one file per task x partition).  A point lookup
    through ``point_read`` then scans 1/256th of the store — partition
    pruning visible as ``PartitionFilters`` in the plan — instead of
    every file.  The plain layout stays the default for small feeds
    where a directory per bucket costs more than it saves."""
    if bucket_stops:
        (df.withColumn("stop_bucket", _stop_bucket(F.col("stop_id")))
           .repartition("stop_bucket")
           .write.mode("overwrite")
           .partitionBy("stop_bucket")
           .parquet(path))
    else:
        df.write.mode("overwrite").parquet(path)


# store -> "carries the stop_bucket column": a store's schema never changes,
# and reading it costs a JVM round trip plus a JSON parse, so each store
# pays it once, not once per lookup
_BUCKETED: weakref.WeakKeyDictionary[DataFrame, bool] = (
    weakref.WeakKeyDictionary())


def point_read(store: DataFrame, stop_id: str) -> DataFrame:
    """S8 point lookup against a doc store read back from disk: one filter.
    When the store carries the ``stop_bucket`` partition column, the
    filter also matches the stop's bucket so the scan prunes to one
    partition directory; the equality on stop_id pushes into that
    partition's parquet scan.  The store's columns pass through."""
    bucketed = _BUCKETED.get(store)
    if bucketed is None:
        bucketed = _BUCKETED[store] = "stop_bucket" in store.columns
    key = F.col("stop_id") == F.lit(stop_id)
    if bucketed:
        key = (F.col("stop_bucket") == _stop_bucket(F.lit(stop_id))) & key
    return store.filter(key)

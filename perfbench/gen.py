"""Seeded input tables for the benchmark.

Writes the four TPC-H-shaped parquet tables that
``sources.tpch_adapter.register_gtfs_views`` maps onto GTFS
(part -> stops, nation -> routes, orders -> trips, lineitem -> stop_times),
with the column names and types of the project's test fixtures.  Only the
columns the adapter reads are written.  The same ``(seed, scale)`` always
gives byte-identical tables.

``scale`` follows the fixtures' scale factors: 0.1 is ~150k trips,
~600k stop_times and 20k stops.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                        "4-NOT SPECIFIED", "5-LOW"], dtype=object)
_NAME_A = np.array(["large", "hot", "small", "cold", "dim", "shiny",
                    "plain", "round"], dtype=object)
_NAME_B = np.array(["ring", "bolt", "cog", "pin", "widget", "lens",
                    "strap", "valve"], dtype=object)


def sizes(scale: float) -> dict[str, int]:
    return {
        "orders": int(1_500_000 * scale),
        "part": int(200_000 * scale),
        "supplier": int(10_000 * scale),
        "customer": int(150_000 * scale),
    }


def write_tables(out_dir: str, seed: int, scale: float) -> int:
    """Write the tables under ``out_dir``; returns the lineitem row count
    (= stop_times rows)."""
    rng = np.random.default_rng(seed)
    n = sizes(scale)
    os.makedirs(out_dir, exist_ok=True)

    def _write(name: str, cols: dict[str, pa.Array]) -> None:
        pq.write_table(pa.table(cols),
                       os.path.join(out_dir, f"{name}.parquet"))

    _write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    pk = np.arange(n["part"], dtype=np.int64)
    _write("part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(
            _NAME_A[rng.integers(0, len(_NAME_A), n["part"])]
            + " " + _NAME_B[rng.integers(0, len(_NAME_B), n["part"])]),
    })
    ok = np.arange(n["orders"], dtype=np.int64)
    _write("orders", {
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"],
                                           dtype=np.int64)),
        "o_orderpriority": pa.array(
            _PRIORITIES[rng.integers(0, 5, n["orders"])]),
    })
    # 1..7 lines per order (mean 4), one stop per line
    lines = rng.integers(1, 8, n["orders"])
    l_orderkey = np.repeat(ok, lines)
    starts = np.cumsum(lines) - lines
    l_linenumber = (np.arange(len(l_orderkey))
                    - np.repeat(starts, lines) + 1).astype(np.int32)
    m = len(l_orderkey)
    _write("lineitem", {
        "l_orderkey": pa.array(l_orderkey),
        "l_partkey": pa.array(rng.integers(0, n["part"], m,
                                           dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m,
                                           dtype=np.int64)),
        "l_linenumber": pa.array(l_linenumber),
        "l_quantity": pa.array(
            rng.integers(1, 51, m).astype(np.float64)),
    })
    return m

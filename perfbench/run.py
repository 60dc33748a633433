"""Transit engine benchmark: live dashboard analytics and fast lookups
over the refreshed stop store.

    python3 perfbench/run.py --workload analytics_live --seed 1 \
        --seconds 12 --trace 0

Run from the repository root.  One single-threaded closed-loop client
calls the HTTP routes through ``create_app(...).test_client()``.  The
last stdout line is one JSON object ``{correct, attempted, failed,
metrics}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics (from spans and Spark's status store) with ``--trace 1``.  The
line before it records the pinned settings.  A wrong answer prints
``"correct": false`` and exits 1.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402
import mix  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("analytics_live", "lookup_fast")
SCALE = 0.005                     # ~30k stop_times, 1k stops
NPROC = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"
SETUP_REPS = 2
WARM_PASSES = 1
TAIL_PCT = 75
HELD_OUT_SEED = 9001              # reserved for confirming later claims
ORACLE_CHECKS = {
    "analytics_live": ("q1_busiest_stops", "q2_route_stats_whole_week",
                       "q3_transfer_points", "q4_top_routes_daily"),
    "lookup_fast": ("denormalize_check", "precompute_q1_table",
                    "precompute_q2_table", "precompute_q3_table",
                    "precompute_q4_table"),
}
# span name -> per-layer metric (request path: self ms per request)
REQUEST_LAYERS = {
    "queries.plan": "queries.plan_ms",
    "api.app": "api.app.ms",
    "api.shapes": "api.shapes.ms",
    "api.http": "api.http.self_ms",
    "jobs.precompute.read": "jobs.precompute.read_ms",
    "jobs.denormalize.point_read": "jobs.denormalize.point_read_ms",
    "queries.timetable": "queries.timetable.ms",
    "queries.geo": "queries.geo.ms",
}
# span name -> per-layer metric (set-up: inclusive ms, median over reps)
SETUP_LAYERS = {
    "session.start": "session.start_ms",
    "sources.register": "sources.register_ms",
    "jobs.denormalize.build": "jobs.denormalize.build_ms",
    "jobs.denormalize.write": "jobs.denormalize.write_ms",
    "jobs.precompute.materialize": "jobs.precompute.materialize_ms",
}
SPARK_COUNTERS = ("jobs", "stages", "stages_skipped", "tasks", "job_ms",
                  "task_ms", "task_cpu_ms", "gc_ms", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "input_bytes",
                  "output_bytes")


T_START = time.perf_counter()


def log(*parts: object) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f}s]", *parts,
          file=sys.stderr, flush=True)


def pin_environment(work: Path) -> None:
    """Keep every file Spark and the JVM write inside ``work``."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # also reaches the launcher JVM that spark-submit starts first
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={work / 'tmp'}' "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell")
    import tempfile
    tempfile.tempdir = str(work / "tmp")


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: Path) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = None
        self.spark = None
        self.failures: list[str] = []

        from public_transit_data_platform_sql_nosql_spark.api import (
            app as app_mod,
            http,
            shapes,
        )
        from public_transit_data_platform_sql_nosql_spark.jobs import (
            denormalize,
            precompute,
        )
        from public_transit_data_platform_sql_nosql_spark.queries import (
            geo,
            timetable,
        )
        from public_transit_data_platform_sql_nosql_spark.session import (
            get_spark,
        )
        from public_transit_data_platform_sql_nosql_spark.sources import (
            tpch_adapter,
        )

        self.m = argparse.Namespace(
            app=app_mod, http=http, shapes=shapes, denormalize=denormalize,
            precompute=precompute, geo=geo, timetable=timetable,
            tpch=tpch_adapter, get_spark=get_spark)
        if trace:
            from spans import Tracer

            self.tracer = Tracer()
            self._install_spans()

    # -- tracing ------------------------------------------------------------

    def _install_spans(self) -> None:
        t, m = self.tracer, self.m
        for q in ("q1", "q2", "q3", "q4"):
            t.wrap(m.app.TransitAPI, q, "api.app")
        for name in ("q1_busiest_stops", "q2_route_stats",
                     "q2_per_service_breakdown", "trip_stats_joined",
                     "q3_transfer_points", "hourly_frequency"):
            t.wrap(m.app, name, "queries.plan")
        t.wrap(m.app, "read_precomputed", "jobs.precompute.read")
        for name in ("shape_q1_rows", "shape_q3_rows", "shape_q2_whole_week",
                     "shape_q2_single_service", "shape_q4"):
            t.wrap(m.shapes, name, "api.shapes")
        t.wrap(m.shapes, "to_json_safe", "api.shapes", flatten=True)
        for name in ("get_timetable", "get_routes_for_stop",
                     "get_arrivals_flat", "get_arrivals_grouped"):
            t.wrap(m.timetable, name, "queries.timetable")
        t.wrap(m.denormalize, "point_read", "jobs.denormalize.point_read")
        t.wrap(m.geo, "stops_nearby", "queries.geo")
        t.wrap(m.denormalize, "denormalize_stop_timetables",
               "jobs.denormalize.build")
        t.wrap(m.denormalize, "write_stop_timetables",
               "jobs.denormalize.write")
        t.wrap(m.precompute, "materialize_all",
               "jobs.precompute.materialize")

    def _phase(self, phase: str) -> None:
        if self.tracer is not None:
            self.tracer.phase = phase

    def _span(self, name: str):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name)

    # -- set-up -------------------------------------------------------------

    def setup_once(self, rep: int) -> dict:
        """Session, views, the stores this workload reads, the app, and
        the caches its first requests would otherwise fill."""
        m = self.m
        self._phase(f"setup{rep}")
        with self._span("session.start"):
            self.spark = m.get_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{NPROC}]", shuffle_partitions=NPROC)
            self.spark.sparkContext.setLogLevel("ERROR")
        with self._span("sources.register"):
            gtfs = m.tpch.register_gtfs_views(self.spark,
                                              str(self.work / "in"))
        out: dict = {}
        if self.workload == "lookup_fast":
            store = self.work / "store"
            if rep == 0:
                out = self.refresh(gtfs, store)
            denorm = self.spark.read.parquet(str(store / "denorm"))
            api = m.app.TransitAPI(self.spark, gtfs, str(store / "pre"))
        else:
            denorm = m.denormalize.denormalize_stop_timetables(
                gtfs["stop_times"], gtfs["trips"], gtfs["stops"],
                gtfs["routes"])
            api = m.app.TransitAPI(self.spark, gtfs)
        self.client = m.http.create_app(api, denorm).test_client()
        if self.workload == "analytics_live":
            # the first live q2 / q4 call builds the session caches
            for key in ("/api/q2?limit=10", "/api/q4?limit=10"):
                if self.client.get(key).status_code != 200:
                    self.failures.append(f"setup {key}")
        return out

    def refresh(self, gtfs: dict, store: Path) -> dict:
        """One refresh cycle: the bucketed stop store, then the
        precomputed q1-q4 tables."""
        m = self.m
        js = None
        if self.tracer is not None:
            from spans import JobStats
            js = JobStats(self.spark.sparkContext)
            js.set_group("refresh")
        t0 = time.perf_counter()
        df = m.denormalize.denormalize_stop_timetables(
            gtfs["stop_times"], gtfs["trips"], gtfs["stops"],
            gtfs["routes"])
        m.denormalize.write_stop_timetables(
            df, str(store / "denorm"), bucket_stops=True)
        m.precompute.materialize_all(gtfs, str(store / "pre"))
        out = {"refresh_s": time.perf_counter() - t0,
               "store_bytes": dir_bytes(store)}
        if js is not None:
            js.clear_group()
            out["refresh_output_bytes"] = js.collect("refresh")[
                "output_bytes"]
        return out

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- answer checks ------------------------------------------------------

    def oracle_check(self) -> None:
        """Compare one of the workload's registered outputs, chosen by the
        seed, with DuckDB; ten consecutive seeds cover all of them."""
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        fns = entry.queries()
        con = duckdb.connect()
        try:
            for t in ("part", "nation", "orders", "lineitem"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.work / 'in' / t}.parquet'")
            names = ORACLE_CHECKS[self.workload]
            for name in (names[self.seed % len(names)],):
                df = fns[name](self.spark, str(self.work / "in"))
                got = canon(df.columns, [tuple(r) for r in df.collect()])
                cur = con.execute(sql[name])
                want = canon([d[0] for d in cur.description],
                             cur.fetchall())
                if got != want:
                    self.failures.append(f"oracle mismatch: {name}")
                log("oracle", name, "ok" if got == want else "MISMATCH",
                    len(got[1]), "rows")
        finally:
            con.close()

    # -- the run ------------------------------------------------------------

    def pool(self) -> list[str]:
        if self.workload == "analytics_live":
            return mix.analytics_pool(self.seed)
        served = self.spark.sql(
            "SELECT DISTINCT s.stop_id, s.stop_lat, s.stop_lon "
            "FROM gtfs_stops s JOIN gtfs_stop_times t "
            "ON s.stop_id = t.stop_id").collect()
        coords = {r.stop_id: (r.stop_lat, r.stop_lon) for r in served}
        return mix.lookup_pool(self.seed, sorted(coords), coords)

    def request(self, key: str) -> tuple[int, bytes]:
        resp = self.client.get(key)
        return resp.status_code, resp.get_data()

    def run(self) -> dict:
        rows = gen.write_tables(str(self.work / "in"), self.seed, SCALE)
        log("inputs", rows, "stop_times rows at scale", SCALE)
        setups, reps = [], []
        for rep in range(SETUP_REPS):
            if rep:
                self.stop_spark()
            t0 = time.perf_counter()
            reps.append(self.setup_once(rep))
            setups.append(time.perf_counter() - t0
                          - reps[-1].get("refresh_s", 0.0))
            log(f"setup {rep}: {setups[-1]:.2f}s", reps[-1])
        refresh = reps[0]
        setup_s = statistics.median(setups) + refresh.get("refresh_s", 0.0)
        self._phase("check")
        self.oracle_check()

        self._phase("warmup")
        log("warm-up")
        order = mix.passes(self.pool(), self.seed)
        digests: dict[str, str] = {}
        for _ in range(WARM_PASSES):
            for key in next(order):
                status, body = self.request(key)
                if not response_ok(status, body,
                                   digests.setdefault(key, digest(body))):
                    self.failures.append(f"warm-up {status} {key}")

        lat, attempted, failed = [], 0, 0
        per_req = []
        js = None
        if self.tracer is not None:
            from spans import JobStats
            js = JobStats(self.spark.sparkContext)
        self._phase("timed")
        log("timed phase")
        busy = 0.0
        start = time.perf_counter()
        # whole passes only, so every run measures the exact mix
        while time.perf_counter() - start < self.seconds:
            for key in next(order):
                attempted += 1
                if js is not None:
                    group = f"req{attempted}"
                    js.set_group(group)
                    self.tracer.req = attempted
                t0 = time.perf_counter()
                try:
                    with self._span("api.http") as root:
                        status, body = self.request(key)
                    ok = response_ok(status, body, digests[key])
                except Exception as e:  # a crash is a failed request
                    log("request raised", key, repr(e))
                    ok = False
                t1 = time.perf_counter()
                busy += t1 - t0
                lat.append((t1 - t0) * 1000.0)
                if not ok:
                    failed += 1
                    self.failures.append(f"request {key}")
                if js is not None:
                    js.clear_group()
                    self.tracer.req = None
                    per_req.append((attempted, mix.route_of(key), root,
                                    js.collect(group)))
        wall = time.perf_counter() - start
        log("timed phase done")
        cached = None
        if js is not None:
            cached = js.cached_bytes()

        result = {
            "correct": not self.failures,
            "attempted": attempted,
            "failed": failed,
        }
        if self.tracer is None:
            result["metrics"] = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "req_p50_ms": {"value": stats.nearest_rank(lat, 50),
                               "unit": "ms"},
                "req_per_s": {"value": (attempted - failed) / wall,
                              "unit": "1/s"},
            }
        else:
            result["metrics"] = self.layer_metrics(
                rows, refresh, per_req, busy, cached, attempted, failed)
        self.samples = {"requests": attempted,
                        f"p{TAIL_PCT}_ms": stats.tail(lat, TAIL_PCT),
                        "beyond_tail": stats.samples_beyond(len(lat),
                                                            TAIL_PCT),
                        "setup_reps": len(setups),
                        "setup_s_each": [round(s, 3) for s in setups],
                        "failures": self.failures[:20]}
        return result

    # -- per-layer metrics --------------------------------------------------

    def layer_metrics(self, rows, refresh, per_req, busy, cached,
                      attempted, failed) -> dict:
        from spans import span_self_times

        t = self.tracer
        kids = t.children()
        n = max(1, len(per_req))
        layer_s = {name: 0.0 for name in REQUEST_LAYERS}
        counters = {c: 0.0 for c in SPARK_COUNTERS}
        outside = 0.0
        by_route: dict[str, dict[str, float]] = {}
        by_req: dict[int, list[dict]] = {}
        for s in t.spans:
            if s["req"] is not None:
                by_req.setdefault(s["req"], []).append(s)
        self.accounting = []
        for req, route, root, js in per_req:
            jobs = stats.clip(js["intervals"], root["t0"], root["t1"])
            selfs = span_self_times(by_req.get(req, []), kids, jobs)
            for name, v in selfs.items():
                if name in layer_s:
                    layer_s[name] += v
            for c in SPARK_COUNTERS:
                counters[c] += js[c]
            wall = root["t1"] - root["t0"]
            job_s = stats.union_length(jobs)
            outside += wall - job_s
            row = by_route.setdefault(route, {"n": 0, "wall_ms": 0.0,
                                              "self_ms": 0.0, "job_ms": 0.0})
            row["n"] += 1
            row["wall_ms"] += wall * 1000
            row["self_ms"] += sum(selfs.values()) * 1000
            # unclipped: a job reaching outside its request shows up as
            # unaccounted time
            row["job_ms"] += js["job_ms"]
        for route, row in sorted(by_route.items()):
            k = row.pop("n")
            means = {f: v / k for f, v in row.items()}
            self.accounting.append({
                "route": route, "requests": k, **means,
                "unaccounted_ms": means["wall_ms"] - means["self_ms"]
                - means["job_ms"]})

        def setup_median(span_name: str) -> float:
            """Median over the set-ups in which the span occurred (the
            refresh spans occur in the first one only)."""
            per_rep: dict[str, float] = {}
            for s in t.spans:
                if s["phase"].startswith("setup") and s["name"] == span_name:
                    per_rep[s["phase"]] = (per_rep.get(s["phase"], 0.0)
                                           + (s["t1"] - s["t0"]) * 1000)
            return statistics.median(per_rep.values()) if per_rep else 0.0

        def metric(v: float, unit: str) -> dict:
            return {"value": v, "unit": unit}

        out = {}
        for span_name, name in SETUP_LAYERS.items():
            out[name] = metric(setup_median(span_name), "ms")
        for span_name, name in REQUEST_LAYERS.items():
            out[name] = metric(layer_s[span_name] * 1000 / n, "ms")
        for c in SPARK_COUNTERS:
            unit = ("ms" if c.endswith("_ms") else
                    "bytes" if c.endswith("_bytes") else "count")
            out[f"spark.{c}"] = metric(counters[c] / n, unit)
        out["spark.slot_util"] = metric(
            counters["task_ms"] / max(1e-9, counters["job_ms"] * NPROC),
            "ratio")
        out["driver.outside_jobs_ms"] = metric(outside * 1000 / n, "ms")
        out["trace.req_per_s"] = metric((attempted - failed) / busy, "1/s")
        done = "refresh_s" in refresh
        out["build_rows_per_s"] = metric(
            rows / refresh["refresh_s"] if done else 0.0, "1/s")
        out["store_mb"] = metric(
            refresh["store_bytes"] / 2**20 if done else 0.0, "MB")
        out["refresh.output_bytes"] = metric(
            refresh["refresh_output_bytes"] if done else 0.0, "bytes")
        out["cached_mb"] = metric(cached / 2**20, "MB")
        out["fail_frac"] = metric(stats.fail_frac(attempted, failed),
                                  "ratio")
        return out

    def write_trace(self, path: Path, settings: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            f.write(json.dumps({"settings": settings}) + "\n")
            for a in self.accounting:
                f.write(json.dumps({"accounting": a}) + "\n")
            for s in self.tracer.spans:
                f.write(json.dumps(s) + "\n")


def digest(body: bytes) -> str:
    return hashlib.sha256(body).hexdigest()


def response_ok(status: int, body: bytes, expected: str) -> bool:
    """A timed response is right when it is a 200 whose body matches the
    digest its request key got during warm-up."""
    return status == 200 and digest(body) == expected


def canon(cols: list[str], rows: list[tuple]) -> tuple[list, list]:
    """Column-order- and row-order-free form of a result for comparing
    Spark with DuckDB (NaN and NULL compare equal)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = lambda v: None if isinstance(v, float) and math.isnan(v) else v
    return ([cols[i] for i in order],
            sorted((tuple(norm(r[i]) for i in order) for r in rows),
                   key=repr))


def stop_jvm() -> None:
    """Stop the Py4J gateway's JVM and wait until it has exited."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    pin_environment(work)
    settings = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "master": f"local[{NPROC}]", "shuffle_partitions": NPROC,
        "driver_memory": DRIVER_MEMORY, "scale": SCALE,
        "setup_reps": SETUP_REPS, "warm_passes": WARM_PASSES,
        "tail_pct": TAIL_PCT,
        "held_out_seed": HELD_OUT_SEED, "process": "fresh per run",
    }
    bench = None
    try:
        bench = Bench(args.workload, args.seed, args.seconds,
                      bool(args.trace), work)
        result = bench.run()
        settings["samples"] = bench.samples
        if args.trace:
            out = ROOT / ".perfbench_out" / (
                f"trace-{args.workload}-s{args.seed}.jsonl")
            bench.write_trace(out, settings)
            for a in bench.accounting:
                log("accounting", json.dumps(a))
            log("spans written to", out)
    finally:
        if bench is not None:
            if bench.tracer is not None:
                bench.tracer.restore()
            bench.stop_spark()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:                   # another run is using it
            pass
    print(json.dumps({"settings": settings}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

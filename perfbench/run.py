#!/usr/bin/env python3
"""Warehouse benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its tables from the
seed, starts one engine session on local[<cores>], stages the tables
into a fresh warehouse directory, warms up (session start, engine
creation, staging and warm-up make setup_s), then runs whole rounds of
the workload's operation mix until --seconds have passed. Results are
checked against DuckDB or the workload's bookkeeping after the timed
loop. Everything the run writes lives under
.perfbench_runs/ in the checkout and is removed at the end; a traced run
also leaves its spans under .perfbench_out/.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. The line before it records the run's context (cores, load
average, seed, data sizes, sample counts, failures).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import datagen
from spans import Tracer, peak_rss_mb
from workloads import WORKLOADS, digest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def start_session(run_dir: str, cores: int):
    """Engine session with every scratch location inside the run dir;
    PYTHONPATH carries the checkout root so Spark's Python workers can
    import the engine package whatever the working directory."""
    from warehouse_pg_spark.session import SessionConfig, get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    spark = get_spark(SessionConfig(
        app_name="warehouse-perfbench",
        extra={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    ))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def measure(wl, seconds: float, tracer, trace: bool) -> dict:
    """Closed loop over whole rounds until `seconds` have passed. With
    tracing, rounds alternate untraced / traced, at least three of them
    so the traced rounds sit between untraced ones."""
    samples = []
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        ops = wl.round(i)
        if not ops:
            break
        traced = trace and i % 2 == 1
        tracer.active = traced
        for j, op in enumerate(ops):
            if traced:
                tracer.begin_op(f"r{i}-{j}-{op.kind}", op.kind)
            t0 = time.perf_counter()
            try:
                result, error = op.run(tracer), None
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                result, error = None, f"{op.kind}: {type(exc).__name__}: {exc}"[:300]
            latency = time.perf_counter() - t0
            if traced:
                tracer.end_op(latency, rows_returned=0 if result is None else len(result),
                              rows_changed=op.rows_changed, copy_rows=op.copy_rows)
            wl.after_op(op)
            samples.append({"op": op, "latency": latency, "result": result,
                            "error": error, "traced": traced, "round": i})
        tracer.active = False
        i += 1
        if time.perf_counter() >= deadline and (not trace or i >= 3):
            break
    return {"samples": samples, "rounds": i}


def check(samples: list[dict]) -> list[str]:
    """Compare every result with its expected digest (outside the timed
    loop); returns one message per failed operation."""
    failures = []
    for s in samples:
        if s["error"] is not None:
            failures.append(s["error"])
            continue
        got, want = s["result"], s["op"].expected()
        if digest(got) != digest(want):
            failures.append(
                f"{s['op'].kind}: wrong result {got.head(3).to_dict('records')} "
                f"!= {want.head(3).to_dict('records')}")
    return failures


def percentile(values: list[float], q: float) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import warehouse_pg_spark.engine  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    from warehouse_pg_spark.engine import Engine

    wall0 = time.perf_counter()
    load_start = loadavg()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        cls = WORKLOADS[args.workload]
        tables = datagen.build_tables(args.seed, cls.sf, cls.table_names)
        src_dir = os.path.join(run_dir, "source")
        src_bytes = datagen.write_tables(tables, src_dir)

        t0 = time.perf_counter()
        spark = start_session(run_dir, cores)
        session_s = time.perf_counter() - t0

        wl = cls(seed=args.seed, src_dir=src_dir, tables=tables)
        warehouse = os.path.join(run_dir, "warehouse")
        t0 = time.perf_counter()
        engine = Engine(spark, warehouse_dir=warehouse)
        engine_s = time.perf_counter() - t0
        staging = wl.stage(engine, warehouse)
        tracer = Tracer(spark)
        t0 = time.perf_counter()
        wl.prepare()
        warm_errors = []
        try:
            wl.warm_up(tracer)
        except Exception as exc:  # noqa: BLE001 - the timed ops will show it
            warm_errors.append(f"{type(exc).__name__}: {exc}"[:300])
        warm_s = time.perf_counter() - t0
        setup_s = session_s + engine_s + staging.seconds + warm_s

        if args.trace:
            tracer.install()
        t0 = time.perf_counter()
        run = measure(wl, args.seconds, tracer, bool(args.trace))
        measure_s = time.perf_counter() - t0
        tracer.uninstall()
        samples = run["samples"]
        t0 = time.perf_counter()
        failures = check(samples)
        check_s = time.perf_counter() - t0
        n_failed = len(failures)

        timed = [s for s in samples if not s["traced"]]
        busy_s = sum(s["latency"] for s in timed)
        attempted = len(samples)
        if args.trace:
            traced = [s for s in samples if s["traced"]]
            ops_traced = len(traced) / sum(s["latency"] for s in traced)
            ops_plain = len(timed) / busy_s
            metrics = tracer.layer_metrics()
            metrics["trace.overhead_frac"] = 1.0 - ops_traced / ops_plain
            tracer.write_spans(os.path.join(
                ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.jsonl"))
            units = _LAYER_UNITS
        else:
            lat_ms = [s["latency"] * 1000.0 for s in timed]
            rows_per_s = wl.rows_written_per_s(timed, busy_s, staging)
            metrics = {
                "setup_s": setup_s,
                "latency_p50_ms": statistics.median(lat_ms),
                "latency_p90_ms": percentile(lat_ms, 90),
                "ops_per_s": len(timed) / busy_s,
                "success_frac": 1.0 - n_failed / attempted,
                "rows_written_per_s": rows_per_s,
                "bytes_stored_per_user_byte": wl.stored_ratio(),
            }
            units = _E2E_UNITS
        wl.close()
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": cores,
            "loadavg_start": load_start,
            "loadavg_end": loadavg(),
            "sf": cls.sf,
            "table_rows": {n: t.num_rows for n, t in tables.items()},
            "source_bytes": src_bytes,
            "staged_bytes": staging.bytes_on_disk,
            "peak_rss_mb": peak_rss_mb(),
            "rounds": run["rounds"],
            "round_busy_s": [sum(s["latency"] for s in samples if s["round"] == r)
                             for r in range(run["rounds"])],
            "samples": len(timed),
            "failed_frac": n_failed / attempted,
            "failures": failures[:5] + warm_errors,
            "setup_breakdown_s": {"session": session_s, "engine": engine_s,
                                  "stage": staging.seconds, "prepare_and_warm_up": warm_s},
        }
        result = {
            "correct": n_failed == 0,
            "attempted": attempted,
            "failed": n_failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        stop_s = time.perf_counter() - t0
    info["wall_s"] = {"total": time.perf_counter() - wall0, "measure": measure_s,
                      "check": check_s, "stop": stop_s}
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


_E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "ops_per_s": "1/s",
    "success_frac": "ratio",
    "rows_written_per_s": "rows/s",
    "bytes_stored_per_user_byte": "ratio",
}

_LAYER_UNITS = {
    "engine.sql_ms": "ms",
    "sql_dialect.rewrite_ms": "ms",
    "engine.frontend_share": "ratio",
    "spark.plan_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "scan.rows_read_per_row_returned": "ratio",
    "catalog.read_calls_per_op": "count",
    "catalog.read_ms": "ms",
    "catalog.reader_cache_hit_ratio": "ratio",
    "queries.build_ms": "ms",
    "queries.exec_ms": "ms",
    "queries.build_share": "ratio",
    "scan.bytes_read_per_op": "bytes",
    "shuffle.bytes_per_op": "bytes",
    "spark.cpu_ms_per_op": "ms",
    "spark.gc_ms_per_op": "ms",
    "functions.python_op_ms": "ms",
    "dml.stmt_ms": "ms",
    "dml.bytes_written_per_row_changed": "bytes/row",
    "dml.files_written_per_stmt": "count",
    "copy.rows_per_s": "rows/s",
    "maint.vacuum_ms": "ms",
    "maint.files_before": "count",
    "maint.files_after": "count",
    "trace.overhead_frac": "ratio",
}


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and fail without a result line
        traceback.print_exc()
        sys.exit(1)

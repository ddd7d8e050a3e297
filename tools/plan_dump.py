#!/usr/bin/env python
"""Dump .explain("formatted") for every bench-tagged registry query.

Usage: python tools/plan_dump.py <outdir> [suffix]

Writes <outdir>/<query>_<suffix>.txt (default suffix: "before").
Runs against the same staged warehouse layout bench.py measures, so the
plans match what the bench times (scan splits, pushdown, AQE initial
plan shape).
"""

from __future__ import annotations

import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from contextlib import redirect_stdout

from bench import SF_DIR, stage_warehouse  # noqa: E402
from warehouse_pg_spark.queries import REGISTRY  # noqa: E402
from warehouse_pg_spark.session import SessionConfig, get_spark  # noqa: E402


def main() -> None:
    outdir = sys.argv[1] if len(sys.argv) > 1 else "history/plans/r17"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(SessionConfig(app_name="warehouse_pg_spark-plandump"))
    query_dir = stage_warehouse(spark, SF_DIR)
    bench_queries = {n: q for n, q in REGISTRY.items() if "bench" in q.tags}
    for name, q in sorted(bench_queries.items()):
        if only and name not in only:
            continue
        fn = getattr(q.fn, "__wrapped__", q.fn)
        try:
            df = fn(spark, query_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:
            text = f"ERROR: {type(exc).__name__}: {exc}\n"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} bytes)")


if __name__ == "__main__":
    main()

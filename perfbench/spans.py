"""Per-layer tracing for the benchmark.

Spans are recorded from the benchmark's own code: `Tracer.install`
wraps the engine's layer entry points (Engine.sql, sql_dialect.rewrite,
the catalog readers, the DML / COPY / VACUUM paths) with functions that
time each call while an operation is being traced, and restores them on
`uninstall`. Every span carries the id of the operation that caused it
and the index of its parent span. Spans stay in memory and are written
out as JSON lines when the run ends.

Per operation the tracer also reads, outside the span timings:
- Spark's status store for the operation's job group (jobs, tasks,
  input records and bytes, shuffle bytes, executor CPU and GC time);
- the CPU time of the Spark Python worker processes (the Python and
  Arrow UDFs of `functions/` run there), from /proc.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _proc_children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(entry))
    return children


def descendants(pid: int) -> list[int]:
    """Every live process below `pid` in the process tree."""
    children = _proc_children()
    out, todo = [], list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def python_worker_cpu_ms() -> float:
    """CPU time used so far by the Spark Python workers below this
    process (their own time plus that of exited workers they reaped)."""
    total = 0
    for pid in descendants(os.getpid()):
        if not _comm(pid).startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime (fields 14-17 of stat)
        total += sum(int(x) for x in fields[11:15])
    return total * 1000.0 / _CLK_TCK


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every
    process below it: the driver, the JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            if not name.startswith(("_", ".")):
                full = os.path.join(root, name)
                try:
                    out[full] = os.path.getsize(full)
                except OSError:
                    pass
    return out


class Tracer:
    """Records spans for the operations run between `begin_op` and
    `end_op` while `active`; wrappers pass straight through otherwise."""

    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.spans: list[dict] = []
        self.ops: list[tuple[int, int]] = []  # span index range per op
        self._stack: list[int] = []
        self._op: dict | None = None
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str):
        if not (self.active and self._op is not None):
            yield {}
            return
        attrs: dict = {}
        idx = len(self.spans)
        rec = {
            "op": self._op["id"],
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def begin_op(self, op_id: str, kind: str) -> None:
        """Open the root span of one operation; the layer spans recorded
        until `end_op` are its descendants."""
        self.spark.sparkContext.setJobGroup(op_id, kind)
        self._op = {"id": op_id, "py_cpu_ms": python_worker_cpu_ms()}
        self._stack = [len(self.spans)]
        self.spans.append({"op": op_id, "name": "op", "parent": None,
                           "start": time.perf_counter(), "end": None,
                           "attrs": {"kind": kind}})

    def end_op(self, latency_s: float, **counts) -> None:
        root = self.spans[self._stack[0]]
        root["end"] = root["start"] + latency_s
        attrs = root["attrs"]
        attrs.update(counts)
        attrs["py_cpu_ms"] = python_worker_cpu_ms() - self._op["py_cpu_ms"]
        attrs.update(self._spark_stage_metrics(self._op["id"]))
        self.ops.append((self._stack[0], len(self.spans)))
        self._op, self._stack = None, []

    def _spark_stage_metrics(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # stage metrics reach the status store through the listener bus
        jsc.listenerBus().waitUntilEmpty(10_000)
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        out = dict.fromkeys(
            ("jobs", "tasks", "input_records", "input_bytes", "shuffle_bytes",
             "cpu_ms", "gc_ms"), 0)
        out["jobs"] = len(jobs)
        for job in jobs:
            info = tracker.getJobInfo(job)
            for sid in (info.stageIds if info else ()):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stages never ran
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["input_records"] += st.inputRecords()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_bytes"] += st.shuffleReadBytes()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["gc_ms"] += st.jvmGcTime()
        return out

    # --------------------------------------------------------- patching
    def _wrap(self, owner, attr: str, layer: str, pre=None, post=None) -> None:
        """Replace owner.attr by a function that records a `layer` span
        around each call; `pre(args)` runs before the call and its value
        goes to `post(attrs, args, result, pre_value)` after it."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active or tracer._op is None:
                return orig(*args, **kwargs)
            with tracer.span(layer) as attrs:
                state = pre(args) if pre else None
                out = orig(*args, **kwargs)
                if post:
                    post(attrs, args, out, state)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the engine's layer entry points; `uninstall` restores them."""
        from warehouse_pg_spark import catalog, engine, engine_maint, sql_dialect
        from warehouse_pg_spark.engine_catalog import CatalogViewsMixin
        from warehouse_pg_spark.operators.dml import ParquetTable

        def cache_size(_args):
            return len(catalog._READER_CACHE)

        def cache_hit(attrs, _args, _out, size_before):
            # a miss always inserts a new reader entry
            attrs["cache_hit"] = len(catalog._READER_CACHE) == size_before

        def is_dml(attrs, _args, out, _state):
            attrs["is_dml"] = out is not None

        def table_files(args):
            return _dir_files(args[0].path)

        def files_written(attrs, args, _out, files_before):
            new = {p: n for p, n in _dir_files(args[0].path).items()
                   if files_before.get(p) != n}
            attrs["files_written"] = len(new)
            attrs["bytes_written"] = sum(new.values())

        def vacuum_stats(attrs, _args, out, _state):
            attrs["files_before"] = out.get("files_before", 0)
            attrs["files_after"] = out.get("files_after", 0)

        self._wrap(engine.Engine, "sql", "engine.sql")
        self._wrap(sql_dialect, "rewrite", "sql_dialect.rewrite")
        self._wrap(catalog, "read_parquet_table", "catalog.read", cache_size, cache_hit)
        self._wrap(catalog.Catalog, "register_parquet", "catalog.read")
        self._wrap(catalog.Catalog, "load", "catalog.read")
        self._wrap(CatalogViewsMixin, "_maybe_pg_catalog", "catalog.read")
        self._wrap(engine.Engine, "_ensure_catalog_views", "catalog.read")
        self._wrap(engine.Engine, "_maybe_dml", "dml.stmt", post=is_dml)
        self._wrap(engine.Engine, "_copy_from", "copy.from")
        self._wrap(ParquetTable, "insert", "dml.write", table_files, files_written)
        self._wrap(ParquetTable, "_swap_in", "dml.write", table_files, files_written)
        self._wrap(engine_maint.MaintenanceMixin, "vacuum", "maint.vacuum", post=vacuum_stats)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ output
    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics over the traced operations."""
        n_ops = max(1, len(self.ops))
        ops = [self.spans[lo]["attrs"] for lo, _hi in self.ops]
        busy: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for lo, hi in self.ops:
            by_layer: dict[str, list[tuple[float, float]]] = defaultdict(list)
            for rec in self.spans[lo + 1:hi]:
                by_layer[rec["name"]].append((rec["start"], rec["end"]))
                calls[rec["name"]] += 1
            for name, intervals in by_layer.items():
                busy[name] += _union_ms(intervals)

        def spans(name: str) -> list[dict]:
            return [s for s in self.spans if s["name"] == name]

        def total(key: str) -> float:
            return sum(op.get(key, 0) for op in ops)

        def mean(recs: list[dict], key: str | None = None) -> float:
            vals = [_dur_ms(r) if key is None else r["attrs"].get(key, 0) for r in recs]
            return sum(vals) / len(vals) if vals else 0.0

        latency_ms = sum(_dur_ms(self.spans[lo]) for lo, _hi in self.ops)
        dml = [s for s in spans("dml.stmt") if s["attrs"].get("is_dml")]
        writes = spans("dml.write")
        vacuums = spans("maint.vacuum")
        reads = [s for s in spans("catalog.read") if "cache_hit" in s["attrs"]]
        copy_s = sum(_dur_ms(s) for s in spans("copy.from")) / 1000.0
        build_ms, exec_ms = busy["queries.build"], busy["queries.exec"]
        return {
            "engine.sql_ms": busy["engine.sql"] / n_ops,
            "sql_dialect.rewrite_ms": busy["sql_dialect.rewrite"] / n_ops,
            "engine.frontend_share": busy["engine.sql"] / max(latency_ms, 1e-9),
            "spark.plan_ms": busy["spark.plan"] / n_ops,
            "spark.jobs_per_op": total("jobs") / n_ops,
            "spark.tasks_per_op": total("tasks") / n_ops,
            "scan.rows_read_per_row_returned":
                total("input_records") / max(1, total("rows_returned")),
            "catalog.read_calls_per_op": calls["catalog.read"] / n_ops,
            "catalog.read_ms": busy["catalog.read"] / n_ops,
            "catalog.reader_cache_hit_ratio": mean(reads, "cache_hit"),
            "queries.build_ms": build_ms / n_ops,
            "queries.exec_ms": exec_ms / n_ops,
            "queries.build_share": build_ms / max(build_ms + exec_ms, 1e-9),
            "scan.bytes_read_per_op": total("input_bytes") / n_ops,
            "shuffle.bytes_per_op": total("shuffle_bytes") / n_ops,
            "spark.cpu_ms_per_op": total("cpu_ms") / n_ops,
            "spark.gc_ms_per_op": total("gc_ms") / n_ops,
            "functions.python_op_ms": total("py_cpu_ms") / n_ops,
            "dml.stmt_ms": mean(dml),
            "dml.bytes_written_per_row_changed":
                sum(s["attrs"].get("bytes_written", 0) for s in writes) / max(1, total("rows_changed")),
            "dml.files_written_per_stmt":
                sum(s["attrs"].get("files_written", 0) for s in writes) / max(1, len(dml)),
            "copy.rows_per_s": total("copy_rows") / copy_s if copy_s else 0.0,
            "maint.vacuum_ms": mean(vacuums),
            "maint.files_before": mean(vacuums, "files_before"),
            "maint.files_after": mean(vacuums, "files_after"),
        }


def _dur_ms(rec: dict) -> float:
    return (rec["end"] - rec["start"]) * 1000.0


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    """Time covered by possibly nested or overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total * 1000.0

"""The benchmark's workloads. Each one stages its generated tables into
a fresh warehouse directory, warms up, and hands the timing loop one
round of operations at a time. A round is a fixed mix of operation
kinds (only the parameters change with the seed and the round number),
so every run measures the same mix however many rounds fit in it.

Every operation returns its result as a pandas frame and carries the
result it must produce: a DuckDB oracle for reads, the workload's own
bookkeeping for writes. Checks run after the timed loop.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
from pandas.api.types import is_numeric_dtype

# Fact tables are split into one file per core with a floor of rows per
# file, content tables by a lower floor (their per-row work is heavy);
# dims stay single-file.
_CONTENT_TABLES = {"documents", "embeddings"}


def digest(pdf: pd.DataFrame) -> tuple:
    """Order-insensitive fingerprint of a result: sorted column names,
    row count, and the wrapping sum of per-row hashes over the values
    rendered as text (numbers as float64, so 7 and 7.0 agree across
    engines)."""
    cols = sorted(pdf.columns)
    canon = pd.DataFrame({
        c: (pdf[c].astype("float64") if is_numeric_dtype(pdf[c]) else pdf[c]).astype(str)
        for c in cols
    })
    rows = pd.util.hash_pandas_object(canon, index=False).to_numpy(dtype=np.uint64)
    return tuple(cols), len(pdf), int(rows.sum(dtype=np.uint64))


def collect(df, tracer) -> pd.DataFrame:
    """Run a DataFrame to a pandas result. When tracing, the physical
    plan is built first under its own span; collecting reuses it."""
    if tracer.active:
        with tracer.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
    return df.toPandas()


@dataclass
class Op:
    kind: str
    run: object  # (tracer) -> pd.DataFrame
    expected: object  # () -> pd.DataFrame, evaluated after the timed loop
    rows_changed: int = 0
    copy_rows: int = 0
    live_rows: int = 0


@dataclass
class Staging:
    seconds: float
    rows: int
    bytes_on_disk: int


@dataclass
class Workload:
    """Shared set-up: stage the generated tables, attach them to an
    engine, answer oracle SQL from DuckDB over the generated files."""

    seed: int
    src_dir: str
    tables: dict  # name -> pyarrow.Table
    engine: object = None
    warehouse: str = ""
    _duck: object = field(default=None, repr=False)

    sf = 0.02
    table_names: tuple[str, ...] = ()

    def stage(self, engine, warehouse: str) -> Staging:
        """Load every table into the engine's layout under a fresh
        warehouse directory and attach it."""
        from warehouse_pg_spark.catalog import read_parquet_table

        os.makedirs(warehouse)
        cores = engine.spark.sparkContext.defaultParallelism
        t0 = time.perf_counter()
        rows = 0
        for name, table in self.tables.items():
            floor = 625 if name in _CONTENT_TABLES else 10_000
            parts = max(1, min(cores, table.num_rows // floor))
            path = os.path.join(warehouse, f"{name}.parquet")
            df = read_parquet_table(engine.spark, os.path.join(self.src_dir, f"{name}.parquet"))
            df.repartition(parts).write.parquet(path)
            engine.attach_parquet(name, path)
            rows += table.num_rows
        seconds = time.perf_counter() - t0
        self.engine, self.warehouse = engine, warehouse
        return Staging(seconds, rows, dir_bytes(warehouse))

    def oracle(self, sql: str) -> pd.DataFrame:
        if self._duck is None:
            self._duck = duckdb.connect()
            for name in self.tables:
                path = os.path.join(self.src_dir, f"{name}.parquet")
                self._duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return self._duck.execute(sql).df()

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()

    def stored_ratio(self) -> float:
        """Bytes of the engine's copy of the data over the bytes of the
        same rows written once as zstd parquet."""
        src = sum(os.path.getsize(os.path.join(self.src_dir, f"{n}.parquet")) for n in self.tables)
        return dir_bytes(self.warehouse) / src

    def after_op(self, op: Op) -> None:
        """Untimed hook after every operation."""

    def rows_written_per_s(self, samples: list[dict], busy_s: float, staging) -> float:
        """Rows the engine wrote per second: the staging load rate,
        unless the workload writes."""
        return staging.rows / staging.seconds


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files if not f.startswith(("_", "."))
        )
    return total


# ------------------------------------------------------------------ writes
_ORDER_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority")


class EtlWrites:
    """The write share of the serving mix: COPY, INSERT...SELECT,
    UPDATE, DELETE, MERGE and VACUUM on an engine-managed table seeded
    from orders; every write is followed by a read-back checked against
    this class's own bookkeeping.

    Key ranges never collide: UPDATE draws from the lower half of the
    seeded keys, DELETE walks the upper half, INSERT and MERGE consume
    fresh source chunks and COPY brings new keys, so every statement
    changes a fixed number of rows. Round 0 is the warm-up; the timed
    loop starts at round 1."""

    table = "etl_orders"
    chunk = 500

    def __init__(self, engine, orders, seed: int, warehouse: str):
        self.engine, self.seed, self.warehouse = engine, seed, warehouse
        n_orders = orders.num_rows
        self.base = n_orders * 2 // 5
        self.rounds = min((n_orders - self.base) // (2 * self.chunk),
                          self.base // self.chunk)
        self.src_cents = np.round(orders["o_totalprice"].to_numpy() * 100).astype(np.int64)
        self.batches = self._write_copy_batches()
        self.engine.sql(
            f"CREATE TABLE {self.table} AS SELECT * FROM orders WHERE o_orderkey < {self.base}")
        self.model = pd.Series(self.src_cents[: self.base], index=np.arange(self.base))
        self.live_samples: list[tuple[int, int]] = []

    def _write_copy_batches(self) -> list[tuple[str, np.ndarray, np.ndarray]]:
        """CSV batches of new orders for COPY FROM, keyed above every
        seeded key: (path, keys, price cents) per round."""
        rng = np.random.default_rng([self.seed, 99])
        out_dir = os.path.join(self.warehouse, "copy_batches")
        os.makedirs(out_dir)
        batches = []
        n = self.chunk
        for r in range(self.rounds):
            keys = 10_000_000 + r * n + np.arange(n)
            cents = rng.integers(100_000, 50_000_000, n)
            path = os.path.join(out_dir, f"batch_{r}.csv")
            pd.DataFrame({
                "o_orderkey": keys,
                "o_custkey": rng.integers(0, 1000, n),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
                "o_totalprice": [f"{c // 100}.{c % 100:02d}" for c in cents],
                "o_orderdate": (np.datetime64("1995-01-01") + rng.integers(0, 2404, n)).astype(str),
                "o_orderpriority": "3-MEDIUM",
            }).to_csv(path, index=False)
            batches.append((path, keys, cents))
        return batches

    def round(self, r: int) -> list[Op]:
        if r >= self.rounds:
            return []
        rng = np.random.default_rng([self.seed, r + 1])
        t, n, half = self.table, self.chunk, self.chunk // 2
        c = self.base + r * 2 * n  # fresh source chunk
        u = int(rng.integers(0, self.base // 2 - n))
        d = self.base // 2 + r * half
        path, keys, cents = self.batches[r]
        src = "SELECT * FROM orders WHERE o_orderkey >= {} AND o_orderkey < {}"
        values = ", ".join(f"s.{col}" for col in _ORDER_COLS)
        # (kind, statement, rows it changes, rows_affected tag to check,
        #  effect on the bookkeeping)
        plan = [
            ("copy", f"COPY {t} FROM '{path}' WITH (FORMAT csv, HEADER true, DELIMITER ',')",
             n, n, lambda m: pd.concat([m, pd.Series(cents, index=keys)])),
            ("insert_select", f"INSERT INTO {t} " + src.format(c, c + n),
             n, n, lambda m: pd.concat([m, self._src(c, c + n)])),
            ("update",
             f"UPDATE {t} SET o_totalprice = o_totalprice + 1 "
             f"WHERE o_orderkey >= {u} AND o_orderkey < {u + n}",
             n, n, lambda m: self._add_cents(m, u, u + n, 100)),
            ("delete", f"DELETE FROM {t} WHERE o_orderkey >= {d} AND o_orderkey < {d + half}",
             half, half, lambda m: m.drop(np.arange(d, d + half))),
            ("merge",
             f"MERGE INTO {t} t USING (" + src.format(c + half, c + 2 * n) + ") s "
             "ON t.o_orderkey = s.o_orderkey "
             "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice + 2 "
             f"WHEN NOT MATCHED THEN INSERT VALUES ({values})",
             3 * half, None, lambda m: self._merge(m, c + half, c + 2 * n)),
            ("vacuum", f"VACUUM FULL {t}", 0, 0, lambda m: m),
        ]
        ops = []
        for kind, stmt, changed, affected, apply in plan:
            self.model = apply(self.model)
            ops.append(Op(
                kind,
                lambda tracer, stmt=stmt, check=affected is not None: self._write(stmt, check, tracer),
                lambda expected=self._readback(self.model, affected): expected,
                rows_changed=changed,
                copy_rows=n if kind == "copy" else 0,
                live_rows=len(self.model),
            ))
        return ops

    @staticmethod
    def _add_cents(m: pd.Series, lo: int, hi: int, cents: int) -> pd.Series:
        m = m.copy()
        m[(m.index >= lo) & (m.index < hi)] += cents
        return m

    def _src(self, lo: int, hi: int) -> pd.Series:
        return pd.Series(self.src_cents[lo:hi], index=np.arange(lo, hi))

    def _merge(self, m: pd.Series, lo: int, hi: int) -> pd.Series:
        src = self._src(lo, hi)
        matched = src.index.isin(m.index)
        m = m.copy()
        m.loc[src.index[matched]] = src[matched] + 200
        return pd.concat([m, src[~matched]])

    @staticmethod
    def _readback(model: pd.Series, affected: int | None) -> pd.DataFrame:
        return pd.DataFrame({
            "n": [len(model)],
            "total": [int(model.sum()) / 100],
            "affected": [-1 if affected is None else affected],
        })

    def _write(self, stmt: str, check_affected: bool, tracer) -> pd.DataFrame:
        tag = collect(self.engine.sql(stmt), tracer)
        back = collect(self.engine.sql(
            "SELECT count(*) AS n, sum(o_totalprice::numeric(18,2))::double precision AS total "
            f"FROM {self.table}"), tracer)
        back["affected"] = int(tag.iloc[0, 0]) if check_affected else -1
        return back

    def sample_storage(self, op: Op) -> None:
        if op.live_rows:
            table_dir = os.path.join(self.engine.warehouse_dir, self.table)
            self.live_samples.append((dir_bytes(table_dir), op.live_rows))

    def stored_ratio(self) -> float:
        """Mean over the operations of the table's bytes on disk over
        the bytes of its live rows written once as zstd parquet."""
        spark = self.engine.spark
        compact = os.path.join(self.warehouse, "compact")
        live = spark.table(self.table)
        n_live = live.count()
        live.coalesce(1).write.parquet(compact)
        per_row = dir_bytes(compact) / max(1, n_live)
        return float(np.mean([b / (rows * per_row) for b, rows in self.live_samples]))


# ------------------------------------------------------------- interactive
class InteractiveSql(Workload):
    """The serving mix through Engine.sql, results collected: short
    reads (point lookups, selective aggregates, one-key joins, JSON
    extraction, a prepared statement, catalog introspection) over the
    staged tables, and the writes of EtlWrites on a table of their own.
    Round 0 of the writes is part of the warm-up."""

    name = "interactive_sql"
    table_names = ("customer", "orders", "lineitem", "events")

    def prepare(self) -> None:
        self.n_users = int(pd.Series(self.tables["events"]["user_id"]).max()) + 1
        self.engine.sql(
            "PREPARE cust_orders(bigint) AS "
            "SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = $1"
        )
        self.writes = EtlWrites(self.engine, self.tables["orders"], self.seed, self.warehouse)

    def warm_up(self, tracer) -> None:
        for op in self._reads(-1) + self.writes.round(0):
            op.run(tracer)

    def round(self, i: int) -> list[Op]:
        writes = self.writes.round(i + 1)
        if not writes:
            return []
        # interleave at random, writes keeping their order
        reads = self._reads(i)
        rng = np.random.default_rng([self.seed, i + 1, 1])
        is_write = rng.permutation([False] * len(reads) + [True] * len(writes))
        queues = {False: iter(reads), True: iter(writes)}
        return [next(queues[w]) for w in is_write]

    def after_op(self, op: Op) -> None:
        self.writes.sample_storage(op)

    def stored_ratio(self) -> float:
        return self.writes.stored_ratio()

    def rows_written_per_s(self, samples: list[dict], busy_s: float, staging) -> float:
        return sum(s["op"].rows_changed for s in samples) / busy_s

    def _stmt(self, kind: str, pg: str, duck: str) -> Op:
        def run(tracer, pg=pg):
            return collect(self.engine.sql(pg), tracer)

        return Op(kind, run, lambda duck=duck: self.oracle(duck))

    def _reads(self, i: int) -> list[Op]:
        rng = np.random.default_rng([self.seed, i + 1])
        n_ord = self.tables["orders"].num_rows
        n_cust = self.tables["customer"].num_rows
        n_users = self.n_users
        ops = []
        for _ in range(2):
            k = int(rng.integers(0, n_ord))
            q = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
                 f"FROM orders WHERE o_orderkey = {k}")
            ops.append(self._stmt("point_lookup", q, q))
        k = int(rng.integers(0, n_ord))
        q = ("SELECT l_linenumber, l_partkey, l_quantity, l_extendedprice "
             f"FROM lineitem WHERE l_orderkey = {k}")
        ops.append(self._stmt("point_lookup", q, q))
        for _ in range(3):
            a = int(rng.integers(0, n_ord - 200))
            where = f"WHERE l_orderkey BETWEEN {a} AND {a + 200} GROUP BY l_returnflag"
            ops.append(self._stmt(
                "filter_agg",
                "SELECT l_returnflag, count(*) AS n, "
                f"sum(l_extendedprice::numeric(18,2))::double precision AS rev FROM lineitem {where}",
                "SELECT l_returnflag, count(*) AS n, "
                f"CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev FROM lineitem {where}",
            ))
        for _ in range(3):
            c = int(rng.integers(0, n_cust))
            q = ("SELECT c.c_name, o.o_orderkey, o.o_totalprice FROM customer c "
                 f"JOIN orders o ON c.c_custkey = o.o_custkey WHERE c.c_custkey = {c}")
            ops.append(self._stmt("join", q, q))
        u = int(rng.integers(0, n_users))
        ops.append(self._stmt(
            "json",
            f"SELECT event_id, event_type, props->>'k' AS k FROM events WHERE user_id = {u}",
            "SELECT event_id, event_type, json_extract_string(props, '$.k') AS k "
            f"FROM events WHERE user_id = {u}",
        ))
        u = int(rng.integers(0, n_users))
        ops.append(self._stmt(
            "json",
            "SELECT event_type, count(*) AS n, sum((props->>'k')::int) AS ksum "
            f"FROM events WHERE user_id = {u} GROUP BY event_type",
            "SELECT event_type, count(*) AS n, "
            "CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS ksum "
            f"FROM events WHERE user_id = {u} GROUP BY event_type",
        ))
        c = int(rng.integers(0, n_cust))
        ops.append(self._stmt(
            "prepared",
            f"EXECUTE cust_orders({c})",
            f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = {c}",
        ))
        names = ", ".join(f"('{t}')" for t in sorted([*self.tables, EtlWrites.table]))
        ops.append(self._stmt(
            "introspection",
            "SELECT tablename FROM pg_tables ORDER BY tablename",
            f"SELECT * FROM (VALUES {names}) t(tablename)",
        ))
        ops.append(self._stmt("introspection", "SHOW timezone", "SELECT 'UTC' AS timezone"))
        return ops


# ---------------------------------------------------------------- analytic
# One query per execution shape the registry's bench set covers: scan +
# aggregate, join + top-K, semi-join, window, as-of join, distinct
# aggregates, and the Python / Arrow UDF paths (MinHash, FTS, vectors).
ANALYTIC_QUERIES = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q18_large_volume_customer",
    "window_running_sum",
    "ts_asof_join",
    "agg_dqa_multi",
    "dedup_minhash_lsh",
    "fts_match_rank",
    "sim_topk_bruteforce",
)


class AnalyticBatch(Workload):
    """Passes over bench-tagged registry queries on the staged layout."""

    name = "analytic_batch"
    table_names = ("customer", "orders", "lineitem", "events", "documents", "embeddings")

    def prepare(self) -> None:
        from warehouse_pg_spark.queries import REGISTRY

        self.queries = {name: REGISTRY[name] for name in ANALYTIC_QUERIES}
        self._expected: dict[str, pd.DataFrame] = {}

    def warm_up(self, tracer) -> None:
        for op in self.round(-1):
            op.run(tracer)

    def _query_op(self, name: str) -> Op:
        q = self.queries[name]

        def run(tracer):
            with tracer.span("queries.build"):
                df = q.fn(self.engine.spark, self.warehouse)
            with tracer.span("queries.exec"):
                return collect(df, tracer)

        def expected():
            if name not in self._expected:
                self._expected[name] = self.oracle(q.oracle)
            return self._expected[name]

        return Op(name, run, expected)

    def round(self, i: int) -> list[Op]:
        rng = np.random.default_rng([self.seed, i + 1])
        return [self._query_op(ANALYTIC_QUERIES[j]) for j in rng.permutation(len(ANALYTIC_QUERIES))]


WORKLOADS = {w.name: w for w in (InteractiveSql, AnalyticBatch)}

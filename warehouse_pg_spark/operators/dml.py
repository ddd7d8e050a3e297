"""DML over parquet tables: INSERT / UPDATE / DELETE / MERGE as
copy-on-write.

Semantic mirror of the reference's ModifyTable + SplitUpdate
(executor/nodeModifyTable.c, nodeSplitUpdate.c:291): a distributed
UPDATE is a DELETE + INSERT pair. On immutable Parquet that becomes a
rewrite: read → transform (filter out / modify matching rows) → write
new files → atomic swap. No per-row mutation, no transaction log —
the batch-job unit of atomicity is the table version (directory).

`ParquetTable` is the only code that builds a rewritten table image,
in three shapes plus append — the split of Spark's own row-level DML:
a filter (DELETE), a projection (UPDATE, ALTER TABLE ADD COLUMN) and a
join (MERGE). Every SQL
statement form lowers onto one of them (`Engine._maybe_dml`).

Scale note: UPDATE/DELETE rewrite only the files whose rows can match
when `where` includes partition predicates (partition pruning applies
to the read); a full-table rewrite is the worst case, same as the
reference's SplitUpdate motion of every affected row.
"""

from __future__ import annotations

import functools
import operator
import os
import shutil
import uuid
from collections.abc import Sequence
from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql.types import DataType

from warehouse_pg_spark import catalog

# the count each MERGE action adds to
_COUNTS = {"update": "updated", "insert": "inserted", "delete": "deleted"}


@dataclass(frozen=True)
class When:
    """One MERGE clause, `WHEN [NOT] MATCHED [AND cond] THEN action`.

    `action` is "update", "delete", "insert" or "nothing". `values`
    maps target columns to the expressions UPDATE SET or INSERT give
    them; a column it does not name keeps its target value on UPDATE
    and is NULL on INSERT."""

    matched: bool
    action: str
    cond: Column | None = None
    values: dict[str, Column] = field(default_factory=dict)


def first_per_key(df: DataFrame, keys: list[str]) -> DataFrame:
    """One row per key, the first by the row's columns. A row with a
    NULL key collides with none (a unique index treats NULLs as
    distinct), so every such row stays."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    null_key = functools.reduce(operator.or_, [F.col(k).isNull() for k in keys])
    rank = F.row_number().over(Window.partitionBy(*keys).orderBy(*df.columns))
    return (df.withColumn("__rn", rank)
            .filter(null_key | (F.col("__rn") == 1)).drop("__rn"))


def by_column(values: dict[str, Column], columns: list[str]) -> dict[str, Column]:
    """`values` keyed by the table's own column names (SQL names are
    case-insensitive); a column the table lacks raises, as in PG."""
    names = {c.lower(): c for c in columns}
    for k in values:
        if k.lower() not in names:
            raise ValueError(f'column "{k}" of the target table does not exist')
    return {names[k.lower()]: v for k, v in values.items()}


class ParquetTable:
    """A writable parquet-backed table with copy-on-write DML."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_cols: tuple[str, ...] = (),
        derived: dict[str, Column] | None = None,
    ):
        self.spark = spark
        self.path = path
        # directory partition columns, and the columns every write
        # computes from the row (a GP range-partition id)
        self.partition_cols = tuple(partition_cols)
        self.derived = dict(derived or {})

    def read(self) -> DataFrame:
        # a module-attribute call, so a tracer wrapping it sees DML reads
        return catalog.read_parquet_table(self.spark, self.path)

    def write(self, df: DataFrame, mode: str, path: str | None = None) -> None:
        """Write `df` in the table's layout: derived columns recomputed,
        files under their partition directories."""
        for col, expr in self.derived.items():
            df = df.withColumn(col, expr)
        writer = df.write.mode(mode)
        if self.partition_cols:
            writer = writer.partitionBy(*self.partition_cols)
        writer.parquet(path or self.path)

    def insert(self, df: DataFrame) -> int:
        """INSERT = append new files (no rewrite). Returns the rows
        appended, counted on the write (an `Observation`, no count job)."""
        import pyspark.sql.functions as F

        seen = Observation()
        self.write(df.observe(seen, F.count(F.lit(1)).alias("n")), "append")
        return seen.get["n"]

    def _swap_in(self, df: DataFrame) -> None:
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        self.write(df, "overwrite", tmp)
        old = f"{self.path}.old-{uuid.uuid4().hex[:8]}"
        os.rename(self.path, old)
        os.rename(tmp, self.path)
        shutil.rmtree(old, ignore_errors=True)

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024) -> dict[str, int]:
        """VACUUM FULL analogue (reference commands/vacuum.c /
        vacuumlazy.c — reclaim + rewrite): coalesce the table's files to
        ~target size. Copy-on-write DML appends and rewrites leave many
        small files over time; small files are the classic 100 TB scan
        killer (per-file open cost, tiny row groups, no skipping).
        One read → repartition(ceil(bytes/target)) → atomic swap."""
        import math

        before = catalog.data_files(self.path)
        n_bytes = sum(st.st_size for _, st in before)
        n_out = max(1, math.ceil(n_bytes / target_file_bytes))
        self._swap_in(self.read().repartition(n_out))
        return {
            "files_before": len(before),
            "files_after": len(catalog.data_files(self.path)),
            "bytes": n_bytes,
        }

    def add_column(self, name: str, data_type: DataType) -> None:
        """ALTER TABLE ADD COLUMN → a projection giving every row a NULL
        `name` of `data_type`."""
        import pyspark.sql.functions as F

        self._swap_in(self.read().withColumn(name, F.lit(None).cast(data_type)))

    def delete(self, where: Column, alias: str | None = None) -> int:
        """DELETE WHERE → keep every row `where` is not true for (a NULL
        predicate keeps the row, as in PG). `where` sees the target
        under `alias`. Returns rows deleted: the footer row count less
        the rows kept, counted on the write (an `Observation` below a
        filter would vanish with it when the filter folds to false)."""
        import pyspark.sql.functions as F

        df = self.read()
        df = df.alias(alias) if alias else df
        n_rows = catalog.footer_rows(self.path)
        seen = Observation()
        self._swap_in(df.filter(~F.coalesce(where, F.lit(False)))
                      .observe(seen, F.count(F.lit(1)).alias("n")))
        return n_rows - seen.get["n"]

    def update(self, assignments: dict[str, Column], where: Column,
               alias: str | None = None) -> int:
        """UPDATE SET col=expr WHERE → rewrite matching rows in place.

        Mirrors SplitUpdate semantics: each matching row is replaced by
        its updated image (each value cast to its column's type, as a
        PG assignment is); non-matching rows pass through. `where` and
        the assignments see the target under `alias`. Returns rows
        updated, counted on the write from a per-row match flag (an
        `Observation` may not hold a subquery `where`)."""
        import pyspark.sql.functions as F

        df = self.read()
        df = df.alias(alias) if alias else df
        assignments = by_column(assignments, df.columns)
        seen = Observation()
        flagged = df.withColumn("__upd", F.coalesce(where, F.lit(False)))
        self._swap_in(flagged.observe(seen, F.count_if("__upd").alias("n")).select(*[
            F.when(F.col("__upd"), assignments[c].cast(df.schema[c].dataType))
            .otherwise(F.col(c)).alias(c) if c in assignments else F.col(c)
            for c in df.columns
        ]))
        return seen.get["n"]

    def merge(
        self,
        source: DataFrame,
        on: Column | list[str],
        whens: Sequence[When] = (),
        *,
        alias: str = "t",
        source_alias: str = "s",
        update: dict[str, Column] | None = None,
        insert: bool = True,
    ) -> tuple[dict[str, int], DataFrame] | dict[str, int]:
        """MERGE as copy-on-write (SQL:2003 MERGE, PG `INSERT ... ON
        CONFLICT`, UPDATE … FROM; reference executor/nodeModifyTable.c
        ExecMerge): the one join executor.

        The target (under `alias`) full-outer-joins the source (under
        `source_alias`) on `on`. Each joined row takes the first of the
        ordered `whens` that passes; a target row matched by several
        source rows keeps the first by the source's columns (PG raises
        instead). The joined rows are checkpointed once; the one write
        that swaps the rewrite in fills that checkpoint and counts each
        action on the way (an `Observation`, no count job). Returns the row
        counts ({"updated", "inserted", "deleted"}) and the affected
        rows' image (post-image for UPDATE/INSERT, the removed row for
        DELETE), which reads the checkpoint and so outlives the swap.

        Keyed form, `merge(df, on=[keys], update=…, insert=…)`: an
        upsert on `t.k <=> s.k` with the source first made unique on
        its keys. Matched rows take `update` (default: the source row
        wholesale); unmatched source rows are appended when `insert`.
        Returns {"updated", "inserted"}.

        Scale note: one shuffle on the join keys (sort-merge, or
        broadcast when the source is small) plus one on the target row
        id; the rewrite is a full-table pass, the same worst case as
        SplitUpdate redistributing every affected row.
        """
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        if not isinstance(on, Column):
            keys = list(on)
            src = [c for c in self.read().columns if c in source.columns]
            values = {c: F.col(f"{source_alias}.{c}") for c in src}
            whens = [When(True, "update", values=values if update is None else update)]
            if insert:
                whens.append(When(False, "insert", values=values))
            on = functools.reduce(operator.and_, [
                F.col(f"{alias}.{k}").eqNullSafe(F.col(f"{source_alias}.{k}"))
                for k in keys])
            counts, _ = self.merge(first_per_key(source, keys), on, whens,
                                   alias=alias, source_alias=source_alias)
            return {"updated": counts["updated"], "inserted": counts["inserted"]}

        target = self.read()
        whens = [replace(w, values=by_column(w.values, target.columns)) for w in whens]
        joined = target.withColumn("__t", F.monotonically_increasing_id()).alias(alias).join(
            source.withColumn("__s", F.monotonically_increasing_id()).alias(source_alias),
            on, "full_outer")
        in_target, in_source = F.col("__t").isNotNull(), F.col("__s").isNotNull()
        act = None
        for i, w in enumerate(whens):
            hit = in_target & in_source if w.matched else ~in_target
            if w.cond is not None:
                hit = hit & w.cond
            act = (act.when if act is not None else F.when)(hit, F.lit(i))
        # a source-only row is its own group: -1 - id never meets a __t
        first = Window.partitionBy(F.coalesce("__t", -1 - F.col("__s"))).orderBy(
            *[F.col(f"{source_alias}.{c}") for c in source.columns])
        staged = (joined.withColumn("__rn", F.row_number().over(first))
                  .filter(F.col("__rn") == 1)
                  .withColumn("__act", act)
                  .localCheckpoint(eager=False))

        def acting(*actions: str) -> Column:
            ids = [i for i, w in enumerate(whens) if w.action in actions]
            return F.coalesce(F.col("__act").isin(ids), F.lit(False))

        cols = []
        for c in target.columns:
            v = None
            for i, w in enumerate(whens):
                if c in w.values:
                    v = (v.when if v is not None else F.when)(
                        F.col("__act") == i, w.values[c])
            base = F.col(f"{alias}.{c}")
            cols.append((v.otherwise(base) if v is not None else base)
                        .cast(target.schema[c].dataType).alias(c))
        # written: target rows no DELETE removes, plus inserted rows; the
        # write fills the checkpoint and counts each action on the way
        seen = Observation()
        self._swap_in(
            staged.observe(seen, *[F.count_if(acting(a)).alias(n) for a, n in _COUNTS.items()])
            .filter((in_target & ~acting("delete")) | acting("insert")).select(*cols))
        return seen.get, staged.filter(acting(*_COUNTS)).select(*cols)

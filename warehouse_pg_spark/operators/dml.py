"""DML over parquet tables: INSERT / UPDATE / DELETE as copy-on-write.

Semantic mirror of the reference's ModifyTable + SplitUpdate
(executor/nodeModifyTable.c, nodeSplitUpdate.c:291): a distributed
UPDATE is a DELETE + INSERT pair. On immutable Parquet that becomes a
rewrite: read → transform (filter out / modify matching rows) → write
new files → atomic swap. No per-row mutation, no transaction log —
the batch-job unit of atomicity is the table version (directory).

Scale note: UPDATE/DELETE rewrite only the files whose rows can match
when `where` includes partition predicates (partition pruning applies
to the read); a full-table rewrite is the worst case, same as the
reference's SplitUpdate motion of every affected row.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession

from warehouse_pg_spark import catalog


class ParquetTable:
    """A writable parquet-backed table with copy-on-write DML."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        # a module-attribute call, so a tracer wrapping it sees DML reads
        return catalog.read_parquet_table(self.spark, self.path)

    def insert(self, df: DataFrame) -> None:
        """INSERT = append new files (no rewrite)."""
        df.write.mode("append").parquet(self.path)

    def _swap_in(self, df: DataFrame) -> None:
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(tmp)
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

    def delete(self, where: Column) -> int:
        """DELETE WHERE → keep every row `where` is not true for (a NULL
        predicate keeps the row, as in PG). Returns rows deleted."""
        import pyspark.sql.functions as F

        df = self.read()
        n_deleted = df.filter(where).count()
        self._swap_in(df.filter(~F.coalesce(where, F.lit(False))))
        return n_deleted

    def update(self, assignments: dict[str, Column], where: Column) -> int:
        """UPDATE SET col=expr WHERE → rewrite matching rows in place.

        Mirrors SplitUpdate semantics: each matching row is replaced by
        its updated image; non-matching rows pass through."""
        import pyspark.sql.functions as F

        df = self.read()
        n_updated = df.filter(where).count()
        cols = []
        for c in df.columns:
            if c in assignments:
                cols.append(
                    F.when(where, assignments[c]).otherwise(F.col(c)).alias(c)
                )
            else:
                cols.append(F.col(c))
        self._swap_in(df.select(*cols))
        return n_updated

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        update: dict[str, Column] | None = None,
        insert: bool = True,
        delete_unmatched_source: bool = False,
    ) -> dict[str, int]:
        """MERGE / upsert as copy-on-write (PG `INSERT ... ON CONFLICT DO
        UPDATE` / SQL:2003 MERGE; reference executor/nodeModifyTable.c
        speculative-insert path).

        - matched target rows: replaced by the updated image built from
          `update` (source columns addressable via the joined source row);
          with update=None, matched rows are replaced wholesale by the
          source row (last-writer-wins upsert).
        - unmatched source rows: appended when insert=True.
        - matched-by-source deletion (`WHEN NOT MATCHED BY SOURCE THEN
          DELETE`) when delete_unmatched_source=True.

        Scale note: one shuffle on the merge keys (sort-merge or broadcast
        if the source is small); the rewrite is a full-table pass, the
        same worst case as SplitUpdate redistributing every affected row.
        The source is deduplicated on the keys first (PG raises on
        duplicate conflict rows; we keep an arbitrary-but-deterministic
        first by key ordering to stay a function).
        """
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        target = self.read()
        src = (
            source.withColumn(
                "__rn", F.row_number().over(
                    Window.partitionBy(*on).orderBy(*[F.col(k) for k in source.columns])
                )
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

        t = target.withColumn("__t", F.lit(1)).alias("t")
        s = src.withColumn("__s", F.lit(1)).alias("s")
        cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in on]
        joined = t.join(s, cond, "full_outer")
        matched = F.col("t.__t").isNotNull() & F.col("s.__s").isNotNull()
        t_only = F.col("s.__s").isNull()

        out_cols = []
        for c in target.columns:
            upd_expr = (
                update[c]
                if update is not None and c in update
                else (F.col(f"s.{c}") if update is None and c in src.columns else F.col(f"t.{c}"))
            )
            ins_expr = F.col(f"s.{c}") if c in src.columns else F.lit(None).cast(target.schema[c].dataType)
            col = (
                F.when(matched, upd_expr)
                .when(t_only, F.col(f"t.{c}"))
                .otherwise(ins_expr)
                .alias(c)
            )
            out_cols.append(col)

        result = joined.select(*out_cols)
        if not insert:
            # keep exactly the target-side rows; gate on the __t marker,
            # not on a key column — the join is eqNullSafe, so a target
            # row with a NULL first key is a real row, not a non-match
            result = joined.filter(F.col("t.__t").isNotNull()).select(*out_cols)
        if delete_unmatched_source:
            result = joined.filter(~t_only if insert else matched).select(*out_cols)

        n_matched = joined.filter(matched).count()
        n_total_src = src.count()
        stats = {
            "updated": n_matched,
            "inserted": (n_total_src - n_matched) if insert else 0,
        }
        self._swap_in(result)
        return stats

"""SparkSession factory tuned for the warehouse engine.

Mirrors the role of WHPG's postmaster/GUC bootstrap (reference:
src/backend/utils/misc/guc_gp.c) — a single place where the engine's
execution knobs are set. Every default below is chosen for the 100 TB
design point and scales down gracefully to local[N] testing:

  - AQE on: runtime re-planning replaces ORCA's static cost model for
    join strategy / skew / partition coalescing.
  - CBO on: table/column stats feed join reordering (ORCA's
    CJoinOrderDP equivalent is Catalyst CostBasedJoinReorder).
  - Parquet zstd: the AOCS-with-zstd analogue (reference
    gpcontrib/zstd/), best scan-speed/size tradeoff at scale.
  - shuffle.partitions: sized by env; AQE coalesces small ones at
    runtime so a high static number is safe at scale.
  - Codegen cache: Catalyst's Janino whole-stage codegen replaces PG's
    expression JIT (reference: src/backend/jit/); one cache entry per
    generated class, sized so a repeated query compiles nothing.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


@dataclass
class SessionConfig:
    """Engine session knobs (WHPG GUC analogue)."""

    app_name: str = "warehouse_pg_spark"
    master: str | None = None  # default: local[$SPARK_GRAFT_CPUS]
    shuffle_partitions: int | None = None  # default: 2x cores locally
    max_partition_bytes: str = "128m"  # parquet split size
    broadcast_threshold: str = "64m"  # small-dim broadcast (Motion: broadcast)
    parquet_codec: str = "zstd"
    session_tz: str = "UTC"
    extra: dict[str, str] = field(default_factory=dict)

    def to_conf(self) -> dict[str, str]:
        cores = _default_parallelism()
        shuffle = self.shuffle_partitions or max(2 * cores, 32)
        conf = {
            # --- Adaptive execution: runtime replan (ORCA cost model analogue)
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.coalescePartitions.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            # --- CBO: join reorder from stats (ANALYZE TABLE feeds this)
            "spark.sql.cbo.enabled": "true",
            "spark.sql.cbo.joinReorder.enabled": "true",
            # --- Shuffle sizing (Motion fan-out)
            "spark.sql.shuffle.partitions": str(shuffle),
            "spark.default.parallelism": str(cores),
            # --- Scan: columnar parquet, pushdown everything (AOCS analogue)
            "spark.sql.files.maxPartitionBytes": self.max_partition_bytes,
            "spark.sql.parquet.filterPushdown": "true",
            "spark.sql.parquet.aggregatePushdown": "true",
            "spark.sql.parquet.compression.codec": self.parquet_codec,
            "spark.sql.parquet.mergeSchema": "false",
            # --- Joins: broadcast small dims (Motion: broadcast vs redistribute)
            "spark.sql.autoBroadcastJoinThreshold": self.broadcast_threshold,
            # --- Dynamic partition pruning (WHPG PartitionSelector analogue)
            "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
            # --- Generated-class cache (JIT analogue). Spark's default of
            # 100 entries evicts in a cycle: the 9 analytic_batch queries
            # need ~140 classes and the 19 bench-tagged ones 286, so every
            # repeated query recompiled. One pass over all 256 registered
            # queries at sf0.01 compiles 2010 classes; 4000 entries hold
            # that working set with ~2x headroom. Mean bytecode is ~2.4 kB
            # per class, so a full cache holds ~10 MB. A static conf: it
            # takes effect only in a JVM whose first session comes from
            # get_spark.
            "spark.sql.codegen.cache.maxEntries": "4000",
            # --- Arrow for any pandas-UDF path (vectorized python boundary)
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
            # --- Determinism / PG-compatible behaviors
            "spark.sql.session.timeZone": self.session_tz,
            # ANSI off: PG-like silent nulls beat runtime errors for OLAP scans
            "spark.sql.ansi.enabled": "false",
            # size(NULL) must be NULL like PG cardinality/array_length,
            # not the legacy -1 sentinel (silent off-by-huge in counts)
            "spark.sql.legacy.sizeOfNull": "false",
            # Stable timestamp semantics for parquet written by other engines.
            # Engine policy: every timestamp is session-TZ TIMESTAMP — never
            # infer NTZ from parquet (Spark 4.x default drift); catalog.py
            # additionally casts any residual timestamp_ntz at read time.
            "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
            "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
            "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
            # Quieter local runs
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        }
        conf.update(self.extra)
        return conf

    def resolved_master(self) -> str:
        if self.master:
            return self.master
        return f"local[{_default_parallelism()}]"


def get_spark(config: SessionConfig | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession."""
    config = config or SessionConfig()
    builder = SparkSession.builder.appName(config.app_name).master(
        config.resolved_master()
    )
    for k, v in config.to_conf().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, compile ms) by Janino in this JVM so far, from
    Spark's `CodegenMetrics` (one METRIC_COMPILATION_TIME sample per
    compile) and `CodeGenerator.compileTime` (ns). A codegen cache hit
    compiles nothing, so the difference across a call counts its misses.
    JVM-wide: every session and, in local mode, every task thread."""
    jvm = spark._jvm
    compiled = getattr(jvm, "org.apache.spark.metrics.source.CodegenMetrics")
    generator = getattr(
        jvm, "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
    return (compiled.METRIC_COMPILATION_TIME().getCount(),
            generator.compileTime() / 1e6)


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A driver-side result (command tag, SHOW, catalog view) as a
    LocalTableScan over an Arrow table with the DDL schema.
    createDataFrame(list) would scan a Python RDD instead, whose collect
    costs a Spark job and Python-worker start-up."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    schema = DataType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)

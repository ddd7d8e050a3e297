"""Table catalog: registry of parquet-backed tables + distribution metadata.

WHPG tracks each relation's distribution policy (hash keys / random /
replicated) in gp_distribution_policy (reference:
src/include/catalog/gp_distribution_policy.h:87-89) and its partition
layout in the PG catalogs. In Spark, distribution is a *performance*
property, never a correctness one (SURVEY §1.1), so the catalog stores it
as a hint: `distribution=("hash", keys)` prompts `repartition(keys)` on
write and informs bucketing; `("replicated", ())` marks broadcast-worthy
dims.

The catalog is deliberately thin — Spark's own catalog handles name
resolution once views are registered; this layer adds the WHPG-style
DDL metadata and the fixture loading convention
(`{sf_dir}/{table}.parquet`).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# Relation cache (the reference's relcache): table path -> (session,
# listing signature, footer schema, raw read schema, reader DataFrame),
# one entry per path. A bare spark.read.parquet(path) re-lists the
# files, re-analyzes the relation (~35 ms of py4j, measured r18) and
# runs a footer-inference job. The cached reader is an immutable
# logical plan: executing it always scans the parquet files, so no data
# or results are cached. The entry is replaced when its reader belongs
# to another SparkSession or when one walk of the table's tree gives a
# different listing signature; a rewrite that keeps the footer schema
# reuses the raw schema, so the new reader skips the inference job.
_READER_CACHE: dict[str, tuple] = {}


def data_files(path: str) -> list[tuple[str, os.stat_result]]:
    """(path, stat) of every data file of a table: `path` itself when
    it is a file, else every file under it that Spark's file index
    lists — no hidden or `_`-prefixed names, but `k=v` partition
    directories (`__part=1/`) are walked."""
    if os.path.isfile(path):
        return [(path, os.stat(path))]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(
            d for d in dirs
            if not d.startswith(".") and (not d.startswith("_") or "=" in d)
        )
        for f in sorted(files):
            if not f.startswith((".", "_")):
                p = os.path.join(root, f)
                out.append((p, os.stat(p)))
    return out


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """The one read path for engine tables: spark.read.parquet behind
    the relation cache, with physical-type normalization.

    Parquet TIMESTAMP(NANOS) columns are illegal to Spark's reader. The
    footer of a data file decides which columns are nanosecond
    timestamps; they are read as long nanos and rebuilt as microsecond
    timestamps (integer `div`: double division loses precision on
    1.7e18-scale nanosecond epochs). A BIGINT column stays a BIGINT,
    whatever its name.

    PG timestamps are tz-naive (reference:
    src/backend/utils/adt/timestamp.c); the engine's policy is that all
    timestamps are session-TZ TIMESTAMP, normalized once at ingest.
    Spark 4.x infers non-UTC-adjusted parquet timestamp[us] as
    TIMESTAMP_NTZ, which unix_millis()/withWatermark() reject — with
    the session TZ pinned to UTC the NTZ→LTZ cast is value-preserving,
    so normalize every timestamp_ntz column here, at the one read
    boundary every query goes through."""
    files = data_files(path)
    sig = (
        max((st.st_mtime_ns for _, st in files), default=0),
        len(files),
        sum(st.st_size for _, st in files),
    )
    entry = _READER_CACHE.get(path)
    if entry is not None and entry[0] is not spark:
        entry = None
    if entry is not None and entry[1] == sig:
        return entry[4]
    # imported here: Spark's Python workers import this module too
    import pyarrow.parquet as pq

    footer = pq.read_metadata(files[0][0]).schema if files else None
    nanos = [
        c.path for c in footer or ()
        if "." not in c.path and "timeUnit=nanoseconds" in str(c.logical_type)
    ]
    if nanos:
        # Spark also reads this conf when the scan runs: leave it set
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if entry is not None and footer is not None and footer.equals(entry[2]):
        raw = spark.read.schema(entry[3]).parquet(path)
    else:
        raw = spark.read.parquet(path)
    df = raw
    if nanos:
        df = df.withColumns(
            {c: F.timestamp_micros(F.expr(f"`{c}` div 1000")) for c in nanos}
        )
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        df = df.withColumns(
            {c: F.col(c).cast("timestamp") for c in ntz_cols}
        )
    _READER_CACHE[path] = (spark, sig, footer, raw.schema, df)
    return df

# The driver's fixture tables (TESTDATA.md).
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Distribution hints mirroring the reference TPC-H DDL
# (reference: src/test/regress/sql/tpch500GB.sql:56 —
#  `create table customer (...) distributed by (c_custkey)`).
# Small dims are "replicated" -> always broadcast-joinable.
DEFAULT_DISTRIBUTION: dict[str, tuple[str, tuple[str, ...]]] = {
    "region": ("replicated", ()),
    "nation": ("replicated", ()),
    "supplier": ("replicated", ()),
    "part": ("hash", ("p_partkey",)),
    "customer": ("hash", ("c_custkey",)),
    "orders": ("hash", ("o_orderkey",)),
    "lineitem": ("hash", ("l_orderkey",)),
    "events": ("hash", ("user_id",)),
    "documents": ("hash", ("doc_id",)),
    "embeddings": ("hash", ("vec_id",)),
}


@dataclass
class TableInfo:
    name: str
    path: str
    distribution: tuple[str, tuple[str, ...]] = ("random", ())
    partition_cols: tuple[str, ...] = ()


@dataclass
class Catalog:
    """Registry of parquet tables for one SparkSession."""

    spark: SparkSession
    tables: dict[str, TableInfo] = field(default_factory=dict)

    def register_parquet(
        self,
        name: str,
        path: str,
        distribution: tuple[str, tuple[str, ...]] | None = None,
        partition_cols: tuple[str, ...] = (),
        create_view: bool = True,
    ) -> TableInfo:
        info = TableInfo(
            name=name,
            path=path,
            distribution=distribution or DEFAULT_DISTRIBUTION.get(name, ("random", ())),
            partition_cols=partition_cols,
        )
        self.tables[name] = info
        if create_view:
            read_parquet_table(self.spark, path).createOrReplaceTempView(name)
        return info

    def register_fixtures(self, sf_dir: str, create_views: bool = True) -> None:
        """Register every driver fixture table found under sf_dir."""
        for name in FIXTURE_TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                self.register_parquet(name, path, create_view=create_views)

    def load(self, name: str) -> DataFrame:
        info = self.tables[name]
        return read_parquet_table(self.spark, info.path)

    def materialize_bucketed(
        self,
        name: str,
        df: DataFrame,
        keys: tuple[str, ...],
        num_buckets: int = 32,
        sort: bool = True,
    ) -> DataFrame:
        """Materialize df as a bucketed managed table — the engine's
        realization of `DISTRIBUTED BY (keys)` data placement
        (reference: gp_distribution_policy.h, cdbhash.c): tables
        bucketed on the same keys with the same bucket count join
        WITHOUT a shuffle (locus-matched co-located join,
        cdbpath.c:94 cdbpath_motion_for_join).

        At 100 TB, bucket the fact tables on their dominant join key
        (lineitem/orders on orderkey) once at load; every downstream
        join re-uses the placement, exactly like GP's hash
        distribution."""
        # Idempotence across sessions: a previous session's managed-table
        # location survives while the (in-memory) catalog entry does not,
        # so saveAsTable would fail with LOCATION_ALREADY_EXISTS.
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        warehouse = self.spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        stale = os.path.join(warehouse.removeprefix("file:"), name)
        if os.path.isdir(stale):
            import shutil

            shutil.rmtree(stale, ignore_errors=True)
        writer = (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(num_buckets, keys[0], *keys[1:])
        )
        if sort:
            writer = writer.sortBy(keys[0], *keys[1:])
        writer.saveAsTable(name)
        self.tables[name] = TableInfo(
            name=name, path="", distribution=("hash", tuple(keys))
        )
        return self.spark.table(name)

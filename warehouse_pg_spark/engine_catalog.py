"""Thin read-only pg_catalog surface (r17): pg_class, pg_attribute,
pg_type, pg_namespace, pg_proc as temp views over the engine's own
metastore + the live Spark catalog.

PG regress/replay contexts introspect the catalogs constantly (CTAS
over `pg_class WHERE relname LIKE ...`, `SELECT oid FROM pg_class`,
`gp_dist_random('pg_class')`). The reference stores these as heap
relations (src/include/catalog/pg_class.h, pg_attribute.h,
pg_type.h, pg_namespace.h, pg_proc.h); here they are derived views
rebuilt lazily per referencing statement — the engine's metastore is
the source of truth, the views are a projection of it, never stored.

Column subsets: the columns regress queries actually touch (oid,
relname, relkind, relnamespace, reltuples, relfilenode, attname,
attnum, atttypid, typname, nspname, proname, ...). Builtin type oids
are the public pg_type.dat assignments. Object oids for user
relations/types/functions are a stable 32-bit hash of the name so
they persist across statements within a session (PG assigns from the
oid counter; any stable injective-enough mapping satisfies the
introspection queries replayed here).

gp_dist_random('tbl') (GP: read a catalog from every segment,
cdbutil.c) is rewritten at the SQL front door to a subquery over the
view with a gp_segment_id column — under Spark there is one logical
"segment", so one copy with gp_segment_id 0 is the faithful
single-node image.
"""

from __future__ import annotations

import re
import zlib

from warehouse_pg_spark.catalog import view_name
from warehouse_pg_spark.dialect.mask import _LIT, _lit_value
from warehouse_pg_spark.session import local_frame

# public pg_type.dat oid assignments for the types the engine emits
_PG_TYPE_OIDS: dict[str, int] = {
    "bool": 16, "bytea": 17, "char": 18, "name": 19, "int8": 20,
    "int2": 21, "int4": 23, "regproc": 24, "text": 25, "oid": 26,
    "json": 114, "xml": 142, "point": 600, "float4": 700,
    "float8": 701, "money": 790, "macaddr": 829, "inet": 869,
    "cidr": 650, "bpchar": 1042, "varchar": 1043, "date": 1082,
    "time": 1083, "timestamp": 1114, "timestamptz": 1184,
    "interval": 1186, "bit": 1560, "varbit": 1562, "numeric": 1700,
    "uuid": 2950, "jsonb": 3802, "record": 2249, "anyarray": 2277,
    "tsvector": 3614, "tsquery": 3615,
}

_SPARK_TO_PG_TYPE: list[tuple[str, str]] = [
    ("boolean", "bool"), ("tinyint", "int2"), ("smallint", "int2"),
    ("bigint", "int8"), ("int", "int4"), ("float", "float4"),
    ("double", "float8"), ("decimal", "numeric"), ("varchar", "varchar"),
    ("char", "bpchar"), ("string", "text"), ("binary", "bytea"),
    ("date", "date"), ("timestamp", "timestamp"),
    ("interval", "interval"), ("array", "anyarray"),
    ("struct", "record"), ("map", "record"), ("void", "text"),
]

_NS_OIDS = {"pg_catalog": 11, "public": 2200,
            "information_schema": 13212, "pg_toast": 99}


def _obj_oid(kind: str, name: str) -> int:
    """Stable per-name oid in the user range (PG FirstNormalObjectId
    is 16384; catalog/pg_class.h)."""
    return 16384 + (zlib.crc32(f"{kind}:{name}".encode()) & 0x3FFFFF)


def _pg_type_of(spark_type: str) -> str:
    t = spark_type.lower()
    for prefix, pg in _SPARK_TO_PG_TYPE:
        if t.startswith(prefix):
            return pg
    return "text"


# catalog relations that exist but hold nothing in this engine —
# no triggers/b-tree indexes/table constraints/inheritance links are
# materialized (constraints drop at CREATE, CREATE INDEX is advisory),
# and the single-session engine has no peer backends to report.
# Empty views keep regress wait-/verify-functions honest and fast.
_EMPTY_CATALOG_VIEWS: dict[str, str] = {
    "pg_trigger": ("oid BIGINT, tgrelid BIGINT, tgname STRING, "
                   "tgfoid BIGINT, tgtype INT, tgenabled STRING, "
                   "tgisinternal BOOLEAN"),
    "pg_index": ("indexrelid BIGINT, indrelid BIGINT, indnatts INT, "
                 "indisunique BOOLEAN, indisprimary BOOLEAN, "
                 "indisvalid BOOLEAN"),
    "pg_constraint": ("oid BIGINT, conname STRING, "
                      "connamespace BIGINT, contype STRING, "
                      "conrelid BIGINT, confrelid BIGINT"),
    "pg_inherits": ("inhrelid BIGINT, inhparent BIGINT, "
                    "inhseqno INT"),
    "pg_stat_activity": ("pid INT, sess_id INT, usename STRING, "
                         "datname STRING, state STRING, query STRING"),
    "gp_stat_activity": ("gp_segment_id INT, pid INT, sess_id INT, "
                         "usename STRING, datname STRING, "
                         "state STRING, query STRING"),
    "gp_stat_replication": ("gp_segment_id INT, pid INT, "
                            "state STRING, sync_state STRING, "
                            "application_name STRING"),
}
# dbsize.c filenode accessors: this engine has no physical
# relfilenode, so filenode ≡ oid (matching pg_class, which reports
# relfilenode = oid) and the pair round-trips. Partition
# introspection (partitioning/partdesc.c): GP partition specs are
# layout hints here (README deviations) — every relation is its own
# single-node partition tree.
_CATALOG_FUNCTIONS: dict[str, str] = {
    "pg_relation_filenode": "(rel BIGINT) RETURNS BIGINT RETURN rel",
    "pg_filenode_relation": "(ts BIGINT, fn BIGINT) RETURNS BIGINT RETURN fn",
    "pg_partition_root": "(rel STRING) RETURNS STRING RETURN rel",
    "pg_partition_tree": (
        "(rel STRING) RETURNS TABLE(relid STRING, parentrelid STRING, "
        "isleaf BOOLEAN, level INT) "
        "RETURN SELECT rel, CAST(NULL AS STRING), true, 0"),
}

# The one catalog-view table: relation name -> builder. A statement
# builds only the relations it names, each from the engine catalog and
# the live Spark schemas at that moment.
_CATALOG_VIEWS: dict[str, str] = {
    "pg_namespace": "_build_pg_namespace",
    "pg_class": "_build_pg_class",
    "pg_attribute": "_build_pg_attribute",
    "pg_type": "_build_pg_type",
    "pg_proc": "_build_pg_proc",
    "pg_tables": "_build_pg_tables",
    "information_schema_columns": "_build_information_schema_columns",
    "pg_stat_user_tables": "_build_pg_stat_user_tables",
    **dict.fromkeys(_EMPTY_CATALOG_VIEWS, "_build_empty_view"),
    **dict.fromkeys(_CATALOG_FUNCTIONS, "_build_catalog_function"),
}
# a catalog name in masked text, `pg_catalog.`-qualified or not;
# information_schema.columns is flat (temp views live in no database)
_CATALOG_NAME_RE = re.compile(
    r"\b(?:pg_catalog\.)?("
    + "|".join(n for n in _CATALOG_VIEWS if n != "information_schema_columns")
    + r")\b|\binformation_schema[._]columns\b",
    re.IGNORECASE)
_GP_DIST_RANDOM_RE = re.compile(
    rf"\bgp_dist_random\s*\(\s*({_LIT})\s*\)", re.IGNORECASE)


class CatalogViewsMixin:
    def _maybe_pg_catalog(self, masked: str, lits: list[str]) -> str:
        """The catalog pass over a statement's masked text: build the
        catalog relations it names and strip their schema
        qualification. gp_dist_random('tbl') (GP: read a relation from
        every segment) is the relation itself under one logical
        segment; gp_segment_id lowers to spark_partition_id() in
        sql_dialect."""
        masked = _GP_DIST_RANDOM_RE.sub(
            lambda m: _lit_value(m.group(1), lits).split(".")[-1], masked)
        names: set[str] = set()

        def flat(m: re.Match) -> str:
            name = (m.group(1) or "information_schema_columns").lower()
            names.add(name)
            return name

        masked = _CATALOG_NAME_RE.sub(flat, masked)
        if names:
            self._ensure_catalog_views(names)
        return masked

    def _catalog_relations(self) -> list[tuple[str, str]]:
        """(name, relkind) for every relation the session can see:
        engine-registered parquet tables (under their catalog key),
        Spark catalog tables/views, and engine sequences
        (pg_class.relkind: r/v/S). Spark resolves names
        case-insensitively, so its listing dedupes that way."""
        rels: dict[str, tuple[str, str]] = {}
        for name in self.catalog.tables:
            rels[name.lower()] = (name, "r")
        try:
            for t in self.spark.catalog.listTables():
                kind = "v" if (t.tableType or "").upper() in (
                    "VIEW", "TEMPORARY") or t.isTemporary else "r"
                rels.setdefault(t.name.lower(), (t.name.lower(), kind))
        except Exception:
            pass
        for name in getattr(self, "_sequences", {}):
            rels[name.lower()] = (name.lower(), "S")
        # the catalog lists itself (pg_class.dat: bootstrap relations
        # are rows of pg_class) — deterministic from the first build,
        # not only once the views exist in the Spark catalog
        for name in ("pg_class", "pg_attribute", "pg_type",
                     "pg_namespace", "pg_proc"):
            rels[name] = (name, "v")
        return sorted(rels.values())

    def _relation_fields(self):
        """(name, relkind, oid, schema fields) per visible relation."""
        for name, kind in self._catalog_relations():
            fields = []
            if kind != "S":
                # a catalog view not built yet this session still gets
                # its pg_class row; it is not read, since once a session
                # has used an Observation, Spark's ObservationManager
                # logs a stack trace for every query that fails analysis
                try:
                    exists = self.spark.catalog.tableExists(view_name(name))
                    if exists:
                        fields = self.spark.table(view_name(name)).schema.fields
                except Exception:
                    exists = False
                if not exists and not name.startswith("pg_"):
                    continue
            yield name, kind, _obj_oid("rel", name), fields

    def _build_pg_namespace(self, name: str) -> None:
        ns_rows = [(oid, n) for n, oid in _NS_OIDS.items()]
        try:
            for db in self.spark.catalog.listDatabases():
                if db.name not in _NS_OIDS:
                    ns_rows.append((_obj_oid("ns", db.name), db.name))
        except Exception:
            pass
        local_frame(
            self.spark, sorted(ns_rows), "oid BIGINT, nspname STRING"
        ).createOrReplaceTempView(name)

    def _build_pg_class(self, name: str) -> None:
        """pg_class: an engine table's reltuples is its row count and
        relpages its bytes in 8 kB pages (`metrics()`); a relation the
        engine holds no rows for reports -1 ("unknown", as PG 14+)."""
        sizes = {r[0]: (r[1], r[2]) for r in self._table_metrics()}
        rows = []
        for rel, kind, oid, fields in self._relation_fields():
            n_rows, n_bytes = sizes.get(rel, (-1, 0))
            rows.append((oid, rel, 2200, kind, "p", oid, 0, -(-n_bytes // 8192),
                         float(n_rows), len(fields), False, False))
        local_frame(
            self.spark, rows,
            "oid BIGINT, relname STRING, relnamespace BIGINT, "
            "relkind STRING, relpersistence STRING, relfilenode BIGINT, "
            "reltablespace BIGINT, relpages BIGINT, reltuples DOUBLE, "
            "relnatts INT, relhasindex BOOLEAN, relispartition BOOLEAN",
        ).createOrReplaceTempView(name)

    def _build_pg_attribute(self, name: str) -> None:
        rows = []
        for rel, _kind, oid, fields in self._relation_fields():
            for i, f in enumerate(fields, start=1):
                pg_t = _pg_type_of(f.dataType.simpleString())
                rows.append((
                    oid, rel, f.name.lower(), i,
                    _PG_TYPE_OIDS.get(pg_t, 25), pg_t,
                    not f.nullable, False, -1))
        local_frame(
            self.spark, rows,
            "attrelid BIGINT, relname STRING, attname STRING, "
            "attnum INT, atttypid BIGINT, atttypname STRING, "
            "attnotnull BOOLEAN, attisdropped BOOLEAN, atttypmod INT",
        ).createOrReplaceTempView(name)

    def _build_pg_type(self, name: str) -> None:
        typ_rows = [
            (oid, n, 11, "b", "b" if n != "record" else "p")
            for n, oid in _PG_TYPE_OIDS.items()
        ]
        ut = self._user_types
        for store, kind in ((ut.enums, "e"), (ut.domains, "d"),
                            (ut.composites, "c"), (ut.ranges, "r")):
            for n in store:
                typ_rows.append((_obj_oid("typ", n), n, 2200, kind, kind))
        local_frame(
            self.spark, sorted(typ_rows),
            "oid BIGINT, typname STRING, typnamespace BIGINT, "
            "typtype STRING, typcategory STRING",
        ).createOrReplaceTempView(name)

    def _build_pg_proc(self, name: str) -> None:
        proc_rows = [
            (_obj_oid("proc", n), n, 2200, "a" if f.kind == "aggregate" else "f")
            for n, f in sorted(self._functions.items())
        ]
        local_frame(
            self.spark, proc_rows or [(0, "", 0, "f")],
            "oid BIGINT, proname STRING, pronamespace BIGINT, "
            "prokind STRING",
        ).createOrReplaceTempView(name)

    def _build_empty_view(self, name: str) -> None:
        local_frame(
            self.spark, [], _EMPTY_CATALOG_VIEWS[name]
        ).createOrReplaceTempView(name)

    def _build_catalog_function(self, name: str) -> None:
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}"
            f"{_CATALOG_FUNCTIONS[name]}")

    def _build_pg_tables(self, name: str) -> None:
        """pg_tables (system_views.sql): one row per engine table."""
        rows = [
            ("public", t, "spark", None, False, False, False)
            for t in sorted(self.catalog.tables)
        ]
        local_frame(
            self.spark, rows,
            "schemaname string, tablename string, tableowner string, "
            "tablespace string, hasindexes boolean, hasrules boolean, "
            "hastriggers boolean",
        ).createOrReplaceTempView(name)

    def _build_information_schema_columns(self, name: str) -> None:
        """information_schema.columns over the engine tables."""
        rows = []
        for t in sorted(self.catalog.tables):
            try:
                schema = self.spark.table(view_name(t)).schema
            except Exception:
                continue
            for i, f in enumerate(schema.fields, start=1):
                rows.append((
                    "spark", "public", t, f.name, i,
                    f.dataType.simpleString(),
                    "YES" if f.nullable else "NO",
                ))
        local_frame(
            self.spark, rows,
            "table_catalog string, table_schema string, table_name string, "
            "column_name string, ordinal_position int, data_type string, "
            "is_nullable string",
        ).createOrReplaceTempView(name)

    def _build_pg_stat_user_tables(self, name: str) -> None:
        """pg_stat_user_tables (system_views.sql; the DBA's row-count
        dashboard): relname + n_live_tup from the engine's metrics()
        introspection, which counts every registered table."""
        import pyspark.sql.functions as F

        self.metrics().select(
            F.lit("public").alias("schemaname"),
            F.col("table_name").alias("relname"),
            F.col("n_rows").alias("n_live_tup"),
            F.col("n_bytes"),
            F.col("n_files"),
        ).createOrReplaceTempView(name)

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


_PG_CATALOG_RE = re.compile(
    r"\b(?:pg_catalog\.)?(pg_class|pg_attribute|pg_type|pg_namespace|"
    r"pg_proc|pg_trigger|pg_index|pg_constraint|pg_inherits|"
    r"pg_stat_activity|gp_stat_activity|gp_stat_replication|"
    r"pg_partition_tree|pg_partition_root|pg_relation_filenode|"
    r"pg_filenode_relation)\b",
    re.IGNORECASE)

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
_GP_DIST_RANDOM_RE = re.compile(
    r"\bgp_dist_random\s*\(\s*'([\w.]+)'\s*\)", re.IGNORECASE)


class CatalogViewsMixin:
    def _maybe_pg_catalog(self, text: str) -> str:
        """Front-door hook: when a statement references a pg_catalog
        relation, (re)build the views and strip the schema
        qualification (temp views cannot live inside a database)."""
        if _GP_DIST_RANDOM_RE.search(text):
            # one logical "segment" under Spark: the per-segment scan
            # is the relation itself (gp_segment_id references lower
            # to spark_partition_id() in sql_dialect)
            text = _GP_DIST_RANDOM_RE.sub(
                lambda m: m.group(1).split(".")[-1], text)
        if not _PG_CATALOG_RE.search(text):
            return text
        self._ensure_pg_catalog_views()
        return _PG_CATALOG_RE.sub(lambda m: m.group(1).lower(), text)

    def _catalog_relations(self) -> list[tuple[str, str]]:
        """(name, relkind) for every relation the session can see:
        engine-registered parquet tables, Spark catalog tables/views,
        and engine sequences (pg_class.relkind: r/v/S)."""
        rels: dict[str, str] = {}
        for name in self.catalog.tables:
            rels[name.lower()] = "r"
        try:
            for t in self.spark.catalog.listTables():
                kind = "v" if (t.tableType or "").upper() in (
                    "VIEW", "TEMPORARY") or t.isTemporary else "r"
                rels.setdefault(t.name.lower(), kind)
        except Exception:
            pass
        for name in getattr(self, "_sequences", {}):
            rels[name.lower()] = "S"
        # the catalog lists itself (pg_class.dat: bootstrap relations
        # are rows of pg_class) — deterministic from the first build,
        # not only once the views exist in the Spark catalog
        for name in ("pg_class", "pg_attribute", "pg_type",
                     "pg_namespace", "pg_proc"):
            rels[name] = "v"
        return sorted(rels.items())

    def _ensure_pg_catalog_views(self) -> None:
        spark = self.spark
        rels = self._catalog_relations()

        ns_rows = [(oid, n) for n, oid in _NS_OIDS.items()]
        try:
            for db in spark.catalog.listDatabases():
                if db.name not in _NS_OIDS:
                    ns_rows.append((_obj_oid("ns", db.name), db.name))
        except Exception:
            pass
        local_frame(
            spark, sorted(ns_rows), "oid BIGINT, nspname STRING"
        ).createOrReplaceTempView("pg_namespace")

        cls_rows, att_rows = [], []
        for name, kind in rels:
            oid = _obj_oid("rel", name)
            fields = []
            if kind != "S":
                try:
                    fields = spark.table(name).schema.fields
                except Exception:
                    if not name.startswith("pg_"):
                        continue
                    # a catalog view not built yet this session still
                    # gets its pg_class row (attribute rows follow on
                    # the next rebuild)
            cls_rows.append((
                oid, name, 2200, kind, "p", oid, 0, 0,
                float(len(fields)), len(fields), False, False))
            for i, f in enumerate(fields, start=1):
                pg_t = _pg_type_of(f.dataType.simpleString())
                att_rows.append((
                    oid, name, f.name.lower(), i,
                    _PG_TYPE_OIDS.get(pg_t, 25), pg_t,
                    not f.nullable, False, -1))
        local_frame(
            spark, cls_rows,
            "oid BIGINT, relname STRING, relnamespace BIGINT, "
            "relkind STRING, relpersistence STRING, relfilenode BIGINT, "
            "reltablespace BIGINT, relpages BIGINT, reltuples DOUBLE, "
            "relnatts INT, relhasindex BOOLEAN, relispartition BOOLEAN",
        ).createOrReplaceTempView("pg_class")
        local_frame(
            spark, att_rows,
            "attrelid BIGINT, relname STRING, attname STRING, "
            "attnum INT, atttypid BIGINT, atttypname STRING, "
            "attnotnull BOOLEAN, attisdropped BOOLEAN, atttypmod INT",
        ).createOrReplaceTempView("pg_attribute")

        typ_rows = [
            (oid, n, 11, "b", "b" if n != "record" else "p")
            for n, oid in _PG_TYPE_OIDS.items()
        ]
        ut = self._user_types
        for n in ut.enums:
            typ_rows.append((_obj_oid("typ", n), n, 2200, "e", "e"))
        for n in ut.domains:
            typ_rows.append((_obj_oid("typ", n), n, 2200, "d", "d"))
        for n in ut.composites:
            typ_rows.append((_obj_oid("typ", n), n, 2200, "c", "c"))
        for n in ut.ranges:
            typ_rows.append((_obj_oid("typ", n), n, 2200, "r", "r"))
        local_frame(
            spark, sorted(typ_rows),
            "oid BIGINT, typname STRING, typnamespace BIGINT, "
            "typtype STRING, typcategory STRING",
        ).createOrReplaceTempView("pg_type")

        fn_names: set[str] = set()
        for reg in ("_table_functions", "_scalar_fn_exprs",
                    "_poly_functions", "_sql_aggregates",
                    "_void_procs", "_variadic_functions"):
            fn_names |= set(getattr(self, reg, {}) or {})
        proc_rows = [
            (_obj_oid("proc", n), n, 2200,
             "a" if n in getattr(self, "_sql_aggregates", {}) else "f")
            for n in sorted(fn_names)
        ]
        local_frame(
            spark, proc_rows or [(0, "", 0, "f")],
            "oid BIGINT, proname STRING, pronamespace BIGINT, "
            "prokind STRING",
        ).createOrReplaceTempView("pg_proc")

        for vname, schema in _EMPTY_CATALOG_VIEWS.items():
            local_frame(spark, [], schema).createOrReplaceTempView(
                vname)

        # dbsize.c filenode accessors: this engine has no physical
        # relfilenode, so filenode ≡ oid (matching pg_class above,
        # which reports relfilenode = oid) and the pair round-trips
        spark.sql(
            "CREATE OR REPLACE TEMPORARY FUNCTION pg_relation_filenode"
            "(rel BIGINT) RETURNS BIGINT RETURN rel")
        spark.sql(
            "CREATE OR REPLACE TEMPORARY FUNCTION pg_filenode_relation"
            "(ts BIGINT, fn BIGINT) RETURNS BIGINT RETURN fn")
        # partition introspection (partitioning/partdesc.c): GP
        # partition specs are layout hints here (README deviations) —
        # every relation is its own single-node partition tree
        spark.sql(
            "CREATE OR REPLACE TEMPORARY FUNCTION pg_partition_root"
            "(rel STRING) RETURNS STRING RETURN rel")
        spark.sql(
            "CREATE OR REPLACE TEMPORARY FUNCTION pg_partition_tree"
            "(rel STRING) RETURNS TABLE(relid STRING, "
            "parentrelid STRING, isleaf BOOLEAN, level INT) "
            "RETURN SELECT rel, CAST(NULL AS STRING), true, 0")

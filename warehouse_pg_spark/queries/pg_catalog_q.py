"""Driver-scored queries for the r17 pg_catalog read surface
(engine_catalog.py) and the widened PL/pgSQL procedure interpreter
(engine_proc.py): catalog introspection over pg_class/pg_attribute,
and a cursor + dynamic-EXECUTE procedure whose effects a plain SQL
oracle can state.

Reference: src/include/catalog/pg_class.h, pg_attribute.h (catalog
schemas); src/pl/plpgsql/src/pl_exec.c exec_stmt_open/fetch/
dynexecute (cursor + EXECUTE semantics).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession

from warehouse_pg_spark.queries.registry import register


def _engine(spark: SparkSession, sf_dir: str):
    from warehouse_pg_spark.engine import Engine

    eng = Engine(spark=spark,
                 warehouse_dir=tempfile.mkdtemp(prefix="pgcat_wh_"))
    eng.attach_fixtures(sf_dir)
    return eng


@register(
    "pgsql_catalog_introspection",
    oracle="""
    SELECT * FROM (VALUES
        ('nation', 'n_nationkey', 1, 'int4'),
        ('nation', 'n_name',      2, 'text'),
        ('nation', 'n_regionkey', 3, 'int4'),
        ('region', 'r_regionkey', 1, 'int4'),
        ('region', 'r_name',      2, 'text')
    ) AS t(relname, attname, attnum, atttypname)
    ORDER BY relname, attnum
    """,
    tags=("dialect", "catalog"),
)
def pgsql_catalog_introspection(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """pg_class/pg_attribute introspection (catalog/pg_class.h,
    pg_attribute.h): the views are a projection of the engine
    metastore + live Spark catalog, rebuilt lazily per referencing
    statement — the oracle states the expected image as constants.
    The query joins the two views on the relation oid, exactly the
    shape of the regress suites' catalog probes."""
    eng = _engine(spark, sf_dir)
    return eng.sql(
        """
        SELECT c.relname, a.attname, a.attnum, a.atttypname
        FROM pg_class c
        JOIN pg_attribute a ON a.attrelid = c.oid
        WHERE c.relname IN ('region', 'nation') AND c.relkind = 'r'
        ORDER BY c.relname, a.attnum
        """
    )


@register(
    "pgsql_cursor_dynexec_proc",
    oracle="""
    SELECT CAST(r_regionkey AS INTEGER) AS k, r_name AS nm,
           CAST(length(r_name) AS INTEGER) AS len
    FROM region
    WHERE length(r_name) > 4
    ORDER BY k
    """,
    tags=("dialect", "plpgsql", "cursor"),
)
def pgsql_cursor_dynexec_proc(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Interpreted PL/pgSQL procedure end-to-end (pl_exec.c
    exec_stmt_open/fetch/dynexecute): a bound cursor drained by the
    canonical LOOP / FETCH / EXIT WHEN NOT FOUND pattern, filtering
    in-loop and writing through dynamic EXECUTE ... USING. The
    interpreter is a session-DDL path — the cursor portal here is 5
    rows (regions), never a data-plane scan."""
    eng = _engine(spark, sf_dir)
    eng.sql("CREATE TABLE region_audit (k int, nm varchar(32), len int)")
    eng.sql(
        """
        CREATE FUNCTION audit_regions() RETURNS VOID AS $$
        DECLARE
           cur CURSOR FOR SELECT r_regionkey, r_name FROM region
                          ORDER BY r_regionkey;
           k INTEGER;
           nm VARCHAR;
        BEGIN
           OPEN cur;
           LOOP
              FETCH cur INTO k, nm;
              EXIT WHEN NOT found;
              IF length(nm) > 4 THEN
                 EXECUTE 'INSERT INTO region_audit VALUES ($1, $2, $3)'
                     USING k, nm, length(nm);
              END IF;
           END LOOP;
           CLOSE cur;
        END;
        $$ LANGUAGE plpgsql
        """
    )
    eng.sql("SELECT audit_regions()")
    return eng.sql(
        "SELECT k, nm, CAST(len AS INT) AS len FROM region_audit "
        "ORDER BY k")


@register(
    "pgsql_sqlbody_function",
    oracle="""
    SELECT CAST(n AS INTEGER) AS n, CAST(total AS BIGINT) AS total
    FROM (VALUES (0, 0), (3, 6), (10, 55)) AS t(n, total)
    ORDER BY n
    """,
    tags=("dialect", "plpgsql"),
)
def pgsql_sqlbody_function(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Interpreted LANGUAGE sql function (functions.c: run every
    statement, return the last one's first row —
    postquel_get_single_result): a recursive CTE over the parameter
    is inexpressible as a Spark SQL-UDF body (outer reference inside
    the recursive member), so registration falls back to the
    driver-side sqlbody interpreter (engine_proc.py
    _register_sqlbody_proc) and each top-level call substitutes the
    argument as a literal on masked text and runs the query whole.
    The oracle states the closed-form sums 0..n."""
    eng = _engine(spark, sf_dir)
    eng.sql(
        """create function stz(integer) returns bigint as $$
        with recursive r(i) as (
          select $1
          union all
          select i - 1 from r where i > 0
        )
        select sum(i) from r;
        $$ language sql"""
    )
    rows = [(n, eng.sql(f"SELECT stz({n})").collect()[0][0])
            for n in (0, 3, 10)]
    return spark.createDataFrame(rows, "n INT, total BIGINT")


@register(
    "pgsql_exception_handler",
    oracle="""
    SELECT CAST(a AS INTEGER) AS a, CAST(b AS INTEGER) AS b,
           CAST(q AS INTEGER) AS q
    FROM (VALUES (10, 2, 5), (10, 0, -1), (9, 3, 3)) AS t(a, b, q)
    ORDER BY a, b
    """,
    tags=("dialect", "plpgsql"),
)
def pgsql_exception_handler(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """BEGIN ... EXCEPTION WHEN division_by_zero (pl_exec.c
    exec_stmt_block): the body the expression compiler rejects falls
    back to the driver-side interpreter, which catches the raise,
    matches the named condition against the error shape, and RETURNs
    the handler's recovery value; non-error calls return normally."""
    eng = _engine(spark, sf_dir)
    eng.sql(
        """create function safe_div(a int, b int) returns int as $$
        begin
            if b = 0 then raise exception 'division by zero'; end if;
            return CAST(a / b AS int);
        exception when division_by_zero then
            return -1;
        end; $$ language plpgsql"""
    )
    rows = [(a, b,
             eng.sql(f"SELECT safe_div({a}, {b})").collect()[0][0])
            for a, b in ((10, 2), (10, 0), (9, 3))]
    return spark.createDataFrame(rows, "a INT, b INT, q INT")

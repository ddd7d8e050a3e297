"""Engine facade, dialect shim, DML, external sources, PG functions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from warehouse_pg_spark.engine import Engine
from warehouse_pg_spark.sql_dialect import rewrite
from warehouse_pg_spark.sources import ExternalTableError, read_external


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    eng = Engine(spark=spark, warehouse_dir=str(tmp_path_factory.mktemp("wh")))
    eng.attach_fixtures(sf_dir)
    return eng


# ------------------------------------------------------------------ dialect
def test_dialect_cast_operator():
    assert rewrite("SELECT a::text FROM t") == "SELECT CAST(a AS STRING) FROM t"
    assert rewrite("SELECT '5'::int8") == "SELECT CAST('5' AS BIGINT)"
    assert (
        rewrite("SELECT x::numeric(10,2)") == "SELECT CAST(x AS DECIMAL(10,2))"
    )


def test_dialect_json_arrows():
    assert (
        rewrite("SELECT props ->> 'k' FROM events")
        == "SELECT get_json_object(props, '$.k') FROM events"
    )


def test_dialect_generate_series():
    out = rewrite("SELECT n FROM generate_series(1, 10) AS t(n)")
    assert "explode(sequence(1, 10))" in out


def test_dialect_sql_end_to_end(engine):
    rows = engine.sql(
        "SELECT c_custkey::text AS k FROM customer ORDER BY c_custkey LIMIT 1"
    ).collect()
    assert rows[0].k == "0"


def test_pg_function_registration(engine):
    assert engine.sql("SELECT strpos('hello', 'll') AS p").collect()[0].p == 3
    assert engine.sql("SELECT log_pg(100.0) AS l").collect()[0].l == 2.0
    assert (
        engine.sql("SELECT width_bucket_pg(5.0, 0.0, 10.0, 10) AS b").collect()[0].b
        == 6
    )
    li = engine.sql(
        "SELECT linear_interpolate(5.0, 0.0, 0.0, 10.0, 100.0) AS y"
    ).collect()[0]
    assert li.y == 50.0


def test_create_sql_function(engine):
    engine.create_sql_function("double_it", "x BIGINT", "BIGINT", "x * 2")
    assert engine.sql("SELECT double_it(21) AS v").collect()[0].v == 42


def test_create_python_udf(engine):
    engine.create_function("py_rev", lambda s: s[::-1], "string")
    assert engine.sql("SELECT py_rev('abc') AS v").collect()[0].v == "cba"


def test_ddl_distributed_by(engine):
    engine.sql(
        "CREATE TABLE IF NOT EXISTS dist_t (a INT, b STRING) USING PARQUET "
        "DISTRIBUTED BY (a)"
    )
    assert engine.catalog.tables["dist_t"].distribution == ("hash", ("a",))
    engine.sql("DROP TABLE IF EXISTS dist_t")


# ---------------------------------------------------------------------- DML
def test_dml_insert_update_delete(engine, spark, tmp_path):
    path = str(tmp_path / "dml_t")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "s", "v"]
    )
    base.write.parquet(path)
    t = engine.writable(path)

    t.insert(spark.createDataFrame([(4, "d", 40.0)], ["id", "s", "v"]))
    assert t.read().count() == 4

    n = t.update({"v": F.col("v") * 2}, F.col("id") <= 2)
    assert n == 2
    vals = {r.id: r.v for r in t.read().collect()}
    assert vals[1] == 20.0 and vals[2] == 40.0 and vals[3] == 30.0

    n = t.delete(F.col("id") == 3)
    assert n == 1
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 4]


def test_delete_keeps_rows_whose_predicate_is_null(engine):
    """PG deletes only rows whose WHERE is true; a NULL predicate keeps
    the row."""
    engine.sql(
        "CREATE TABLE del_null AS SELECT * FROM VALUES "
        "(1, 10), (2, CAST(NULL AS INT)), (3, 1) AS t(id, x)"
    )
    n = engine.sql("DELETE FROM del_null WHERE x > 5").collect()[0].rows_affected
    assert n == 1
    ids = sorted(r.id for r in engine.sql("SELECT id FROM del_null").collect())
    assert ids == [2, 3]


def test_dml_merge_upsert(engine, spark, tmp_path):
    """MERGE = PG INSERT ... ON CONFLICT DO UPDATE (nodeModifyTable.c
    speculative insert) as a copy-on-write full-outer-join rewrite."""
    path = str(tmp_path / "merge_t")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "s", "v"]
    ).write.parquet(path)
    t = engine.writable(path)

    src = spark.createDataFrame(
        [(2, "B", 200.0), (4, "d", 40.0), (4, "dup", 41.0)], ["id", "s", "v"]
    )
    stats = t.merge(src, on=["id"])
    assert stats == {"updated": 1, "inserted": 1}
    rows = {r.id: (r.s, r.v) for r in t.read().collect()}
    assert rows[2] == ("B", 200.0)  # matched → source image
    assert rows[1] == ("a", 10.0) and rows[3] == ("c", 30.0)
    assert rows[4][1] in (40.0, 41.0)  # deduped source, deterministic pick
    assert len(rows) == 4

    # explicit update-expressions + no-insert (MERGE ... WHEN MATCHED only)
    stats = t.merge(
        spark.createDataFrame([(1, 5.0), (99, 1.0)], ["id", "v"]),
        on=["id"],
        update={"v": F.col("t.v") + F.col("s.v")},
        insert=False,
    )
    assert stats == {"updated": 1, "inserted": 0}
    rows = {r.id: r.v for r in t.read().collect()}
    assert rows[1] == 15.0 and 99 not in rows and len(rows) == 4


# ------------------------------------------------------------------ matview
def test_materialized_view(engine):
    engine.create_materialized_view(
        "mv_seg", "SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY 1"
    )
    n1 = engine.table("mv_seg").count()
    assert n1 == 5
    engine.refresh_materialized_view("mv_seg")
    assert engine.table("mv_seg").count() == n1


# ----------------------------------------------------------- external table
def test_external_csv_sreh(spark, tmp_path):
    p = tmp_path / "ext.csv"
    p.write_text("a,b\n1,x\n2,y\nnotanint,z\n3,w\n")
    good, bad = read_external(
        spark, str(p), fmt="csv", schema="a INT, b STRING", reject_limit=2
    )
    assert good.count() == 3
    assert bad.count() == 1
    with pytest.raises(ExternalTableError):
        read_external(
            spark, str(p), fmt="csv", schema="a INT, b STRING", reject_limit=0
        )


def test_parameterized_query(engine, sf_dir):
    """PREPARE/EXECUTE analogue (SURVEY §3.2, plancache.c): named
    parameters through engine.sql(args)."""
    engine.attach_fixtures(sf_dir)
    df = engine.sql(
        "SELECT count(*) AS n FROM orders WHERE o_orderpriority = :prio",
        prio="1-URGENT",
    )
    n = df.collect()[0].n
    df2 = engine.sql(
        "SELECT count(*) AS n FROM orders WHERE o_orderpriority = '1-URGENT'"
    )
    assert n == df2.collect()[0].n and n > 0


def test_update_from_join(engine, spark, tmp_path):
    """PG `UPDATE t SET ... FROM s WHERE join` → join + copy-on-write
    rewrite; multiple matches resolve deterministically; non-matching
    rows pass through untouched."""
    path = str(tmp_path / "upd_from_t")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "s", "v"]
    ).write.parquet(path)
    engine.attach_parquet("upd_t", path)
    spark.createDataFrame(
        [(1, 100.0), (2, 200.0), (2, 201.0)], ["sid", "sv"]
    ).createOrReplaceTempView("upd_src")

    out = engine.sql(
        "UPDATE upd_t SET v = upd_src.sv, s = upper(upd_t.s) "
        "FROM upd_src WHERE upd_t.id = upd_src.sid"
    )
    assert out.collect()[0].rows_affected == 2
    rows = {r.id: (r.s, r.v) for r in engine.table("upd_t").collect()}
    assert rows[1] == ("A", 100.0)
    assert rows[2][0] == "B" and rows[2][1] in (200.0, 201.0)
    assert rows[3] == ("c", 30.0)


def test_udf_volatility_classes(engine, spark):
    """PG volatility classes (pg_proc.provolatile): volatile →
    asNondeterministic (optimizer must not collapse/push the call);
    immutable stays deterministic."""
    import random

    engine.create_function("vol_rand", lambda: random.random(), "double",
                           volatility="volatile")
    engine.create_function("imm_twice", lambda x: x * 2, "bigint")
    df = spark.sql("SELECT vol_rand() AS r, imm_twice(21) AS t")
    row = df.collect()[0]
    assert 0.0 <= row.r < 1.0 and row.t == 42
    # the registered volatile function is flagged non-deterministic in the plan
    plan = spark.sql("SELECT vol_rand() AS r").queryExecution if False else None
    analyzed = spark.sql("SELECT vol_rand() AS r")._jdf.queryExecution().analyzed().toString()
    assert "nondeterministic" in analyzed.lower() or "vol_rand" in analyzed


def test_vacuum_compacts_small_files(engine, spark, tmp_path):
    """VACUUM FULL analogue: many small files (the copy-on-write DML
    residue) coalesce to ~target-size files; data is unchanged."""
    path = str(tmp_path / "frag_t")
    spark.range(0, 5000).selectExpr(
        "id", "id * 2 AS v"
    ).repartition(40).write.parquet(path)
    engine.attach_parquet("frag_t", path)

    before = engine.table("frag_t").agg({"v": "sum"}).collect()[0][0]
    stats = engine.vacuum("frag_t", target_file_mb=128)
    assert stats["files_before"] >= 40
    assert stats["files_after"] == 1  # 5k rows << 128 MB
    assert engine.table("frag_t").agg({"v": "sum"}).collect()[0][0] == before
    assert engine.table("frag_t").count() == 5000


def test_explain_returns_physical_plan(engine):
    plan = engine.explain(
        "SELECT c_mktsegment, count(*) FROM customer "
        "WHERE c_acctbal::float8 > 0 GROUP BY 1"
    )
    assert "Physical Plan" in plan or "HashAggregate" in plan
    assert "PushedFilters" in plan or "Scan" in plan


def test_insert_on_conflict_upsert(engine, spark, tmp_path):
    """PG INSERT ... ON CONFLICT (insert_conflict.sql): DO NOTHING keeps
    existing rows; DO UPDATE applies EXCLUDED.* expressions."""
    path = str(tmp_path / "conflict_t")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], ["id", "s", "v"]
    ).write.parquet(path)
    engine.attach_parquet("conf_t", path)

    out = engine.sql(
        "INSERT INTO conf_t VALUES (2, 'B', 200.0), (3, 'c', 30.0) "
        "ON CONFLICT (id) DO NOTHING"
    )
    assert out.collect()[0].rows_affected == 1  # PG counts only the inserted row
    rows = {r.id: (r.s, r.v) for r in engine.table("conf_t").collect()}
    assert rows[2] == ("b", 20.0)  # DO NOTHING kept the old row
    assert rows[3] == ("c", 30.0)

    engine.sql(
        "INSERT INTO conf_t VALUES (1, 'z', 5.0) "
        "ON CONFLICT (id) DO UPDATE SET v = EXCLUDED.v, s = upper(EXCLUDED.s)"
    )
    rows = {r.id: (r.s, r.v) for r in engine.table("conf_t").collect()}
    assert rows[1] == ("Z", 5.0)
    assert len(rows) == 3


def test_dml_returning(engine, spark, tmp_path):
    """PG RETURNING (returning.sql; nodeModifyTable.c projects the
    new/old tuple through the returning list): INSERT returns the
    inserted rows, UPDATE the post-image, DELETE the removed rows."""
    path = str(tmp_path / "ret_t")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "s", "v"]
    ).write.parquet(path)
    engine.attach_parquet("ret_t", path)

    out = engine.sql(
        "INSERT INTO ret_t VALUES (4, 'd', 40.0) RETURNING id, upper(s) AS S2"
    ).collect()
    assert len(out) == 1 and out[0].id == 4 and out[0].S2 == "D"

    out = engine.sql(
        "UPDATE ret_t SET v = v * 2 WHERE id <= 2 RETURNING *"
    ).collect()
    assert {r.id: r.v for r in out} == {1: 20.0, 2: 40.0}
    # post-image visible in the table too
    rows = {r.id: r.v for r in engine.table("ret_t").collect()}
    assert rows[1] == 20.0 and rows[2] == 40.0

    out = engine.sql("DELETE FROM ret_t WHERE id = 3 RETURNING id, v").collect()
    assert len(out) == 1 and out[0].id == 3 and out[0].v == 30.0
    assert sorted(r.id for r in engine.table("ret_t").collect()) == [1, 2, 4]


def test_sequences(engine, spark):
    """PG sequences (commands/sequence.c; regress sequence.sql):
    scalar nextval/currval/setval, per-VALUES-row allocation, and the
    distributed block-allocation path for bulk id assignment."""
    engine.sql("CREATE SEQUENCE seq_a START WITH 10")
    assert engine.sql("SELECT nextval('seq_a') AS v").collect()[0].v == 10
    assert engine.sql("SELECT nextval('seq_a') AS v").collect()[0].v == 11
    assert engine.sql("SELECT currval('seq_a') AS v").collect()[0].v == 11
    assert engine.sql("SELECT setval('seq_a', 100) AS v").collect()[0].v == 100
    assert engine.sql("SELECT nextval('seq_a') AS v").collect()[0].v == 101

    # one allocation per VALUES row
    row = engine.sql(
        "SELECT nextval('seq_a') AS a, nextval('seq_a') AS b"
    ).collect()[0]
    assert (row.a, row.b) == (102, 103)

    # per-row streams must go through the block allocator
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        engine.sql("SELECT nextval('seq_a') FROM customer LIMIT 5")

    df = spark.range(0, 1000).repartition(7)
    out = engine.assign_sequence_ids(df, "rid", "seq_a")
    ids = [r.rid for r in out.collect()]
    assert len(ids) == 1000 and len(set(ids)) == 1000
    assert min(ids) == 104 and max(ids) == 1103
    assert engine.sql("SELECT currval('seq_a') AS v").collect()[0].v == 1103

    engine.sql("ALTER SEQUENCE seq_a RESTART")
    assert engine.sql("SELECT nextval('seq_a') AS v").collect()[0].v == 10
    engine.sql("DROP SEQUENCE seq_a")
    with _pytest.raises(KeyError):
        engine.sql("SELECT nextval('seq_a') AS v")


def test_truncate_and_temp_table(engine, spark, tmp_path):
    """PG TRUNCATE (tablecmds.c) and CREATE TEMP TABLE AS (temp.sql)."""
    path = str(tmp_path / "trunc_t")
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "s"]).write.parquet(path)
    engine.attach_parquet("trunc_t", path)

    out = engine.sql("CREATE TEMP TABLE snap AS SELECT * FROM trunc_t WHERE id = 1")
    assert out.collect()[0].rows_affected == 1

    assert engine.sql("TRUNCATE trunc_t").collect()[0].rows_affected == 2
    assert engine.table("trunc_t").count() == 0
    assert [f.name for f in engine.table("trunc_t").schema.fields] == ["id", "s"]
    # the temp snapshot was materialized before the truncate
    assert engine.table("snap").collect()[0].id == 1


def test_catalog_introspection_views(engine):
    """pg_tables / information_schema.columns shims (system_views.sql,
    infoschema.sql) — the first queries any PG client/ORM issues."""
    tabs = {r.tablename for r in engine.sql(
        "SELECT tablename FROM pg_tables WHERE schemaname = 'public'"
    ).collect()}
    assert {"customer", "orders", "lineitem"} <= tabs

    cols = engine.sql(
        "SELECT column_name, data_type, ordinal_position "
        "FROM information_schema.columns WHERE table_name = 'nation' "
        "ORDER BY ordinal_position"
    ).collect()
    assert [c.column_name for c in cols][:2] == ["n_nationkey", "n_name"]
    assert all(c.data_type for c in cols)

    stat = {
        r.relname: r.n_live_tup
        for r in engine.sql(
            "SELECT relname, n_live_tup FROM pg_stat_user_tables"
        ).collect()
    }
    assert stat["nation"] == 25 and stat["region"] == 5


def test_returning_update_from_and_on_conflict(engine, spark, tmp_path):
    """RETURNING over the join-DML forms: UPDATE..FROM post-image;
    ON CONFLICT DO NOTHING returns only inserted rows, DO UPDATE
    returns inserted+updated (insert_conflict.sql RETURNING)."""
    path = str(tmp_path / "retjoin_t")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], ["id", "s", "v"]
    ).write.parquet(path)
    engine.attach_parquet("retjoin_t", path)
    spark.createDataFrame([(1, 5.0)], ["sid", "bump"]).createOrReplaceTempView(
        "bump_src"
    )

    out = engine.sql(
        "UPDATE retjoin_t SET v = retjoin_t.v + b.bump FROM bump_src b "
        "WHERE retjoin_t.id = b.sid RETURNING id, v"
    ).collect()
    assert [(r.id, r.v) for r in out] == [(1, 15.0)]

    out = engine.sql(
        "INSERT INTO retjoin_t VALUES (2, 'x', 1.0), (3, 'c', 30.0) "
        "ON CONFLICT (id) DO NOTHING RETURNING id, s"
    ).collect()
    assert [(r.id, r.s) for r in out] == [(3, "c")]  # only the insert

    out = engine.sql(
        "INSERT INTO retjoin_t VALUES (3, 'C', 31.0), (4, 'd', 40.0) "
        "ON CONFLICT (id) DO UPDATE SET s = EXCLUDED.s, v = EXCLUDED.v "
        "RETURNING id, s, v"
    ).collect()
    assert sorted((r.id, r.s, r.v) for r in out) == [(3, "C", 31.0), (4, "d", 40.0)]
    assert engine.table("retjoin_t").count() == 4


def test_dml_subquery_where_and_delete_using(engine, spark, tmp_path):
    """PG DML with subquery predicates (regress update.sql / delete.sql):
    DELETE WHERE IN (SELECT), DELETE USING join, UPDATE WHERE scalar
    subquery — each subquery runs inside the rewrite's own filter or
    projection."""
    path = str(tmp_path / "subq_t")
    spark.createDataFrame(
        [(i, "grp%d" % (i % 3), float(i * 10)) for i in range(1, 10)],
        ["id", "grp", "v"],
    ).write.parquet(path)
    engine.attach_parquet("subq_t", path)
    spark.createDataFrame([("grp0",), ("grp2",)], ["g"]).createOrReplaceTempView(
        "kill_list"
    )

    out = engine.sql(
        "DELETE FROM subq_t WHERE grp IN (SELECT g FROM kill_list WHERE g = 'grp0')"
    )
    assert out.collect()[0].rows_affected == 3  # ids 3, 6, 9
    assert sorted(r.id for r in engine.table("subq_t").collect()) == [1, 2, 4, 5, 7, 8]

    out = engine.sql(
        "DELETE FROM subq_t USING kill_list k WHERE subq_t.grp = k.g RETURNING id"
    )
    assert sorted(r.id for r in out.collect()) == [2, 5, 8]  # grp2
    assert sorted(r.id for r in engine.table("subq_t").collect()) == [1, 4, 7]

    out = engine.sql(
        "UPDATE subq_t SET v = v + 1 "
        "WHERE v < (SELECT avg(v) FROM subq_t) RETURNING id, v"
    )
    # avg(10,40,70)=40 → ids 1 (10) and 4 (40 is not < 40): only id 1
    assert {(r.id, r.v) for r in out.collect()} == {(1, 11.0)}
    vals = {r.id: r.v for r in engine.table("subq_t").collect()}
    assert vals == {1: 11.0, 4: 40.0, 7: 70.0}


def test_explain_analyze_and_gp_segment_id(engine):
    """EXPLAIN ANALYZE (explain.c instrumented plan) and the
    gp_segment_id skew probe (cdbvars.h → spark_partition_id)."""
    out = engine.sql(
        "EXPLAIN ANALYZE SELECT c_mktsegment, count(*) FROM customer GROUP BY 1"
    ).collect()
    text = "\n".join(r["QUERY PLAN"] for r in out)
    assert "HashAggregate" in text or "Aggregate" in text
    assert "Actual Rows: 5" in text
    assert "Execution Time:" in text

    seg = engine.sql(
        "SELECT gp_segment_id AS seg, count(*) AS n FROM customer GROUP BY 1"
    ).collect()
    assert sum(r.n for r in seg) == engine.table("customer").count()
    assert all(r.seg >= 0 for r in seg)


def test_fetch_first_and_select_into(engine):
    """SQL:2008 FETCH FIRST / LIMIT ALL rewrites + PG SELECT INTO
    (pre-CTAS materialization spelling)."""
    rows = engine.sql(
        "SELECT c_custkey FROM customer ORDER BY c_custkey "
        "FETCH FIRST 3 ROWS ONLY"
    ).collect()
    assert len(rows) == 3
    assert [r.c_custkey for r in rows] == sorted(r.c_custkey for r in rows)
    assert len(engine.sql("SELECT n_name FROM nation LIMIT ALL").collect()) == 25

    out = engine.sql(
        "SELECT n_nationkey, n_name INTO nation_copy FROM nation WHERE n_regionkey = 1"
    )
    assert out.collect()[0].rows_affected == 5
    assert engine.table("nation_copy").count() == 5


def test_txn_and_index_shims(engine):
    """BEGIN/COMMIT no-ops (auto-commit engine), ROLLBACK refuses,
    CREATE INDEX records an advisory layout hint (indexcmds.c surface
    so PG DDL scripts run unchanged)."""
    import pytest as _pytest

    assert engine.sql("BEGIN").collect()[0].rows_affected == 0
    assert engine.sql("COMMIT").collect()[0].rows_affected == 0
    with _pytest.raises(NotImplementedError):
        engine.sql("ROLLBACK")

    engine.sql("CREATE INDEX idx_cust ON customer (c_custkey, c_nationkey)")
    assert engine._index_hints["customer"] == [("c_custkey", "c_nationkey")]
    assert engine.sql("DROP INDEX idx_cust").collect()[0].rows_affected == 0

    # pg_dump metadata statements replay as no-ops
    for stmt in (
        "COMMENT ON TABLE customer IS 'TPC-H customers'",
        "GRANT SELECT ON customer TO analyst",
        "REVOKE ALL ON customer FROM public",
        "ALTER TABLE customer OWNER TO dba",
    ):
        assert engine.sql(stmt).collect()[0].rows_affected == 0


def test_copy_to_from(engine, spark, tmp_path):
    """COPY TO/FROM statement forms (commands/copy.c; GP ON SEGMENT
    per-partition unload): CSV roundtrip with options, query unload."""
    path = str(tmp_path / "copy_t")
    spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], ["id", "s", "v"]
    ).write.parquet(path)
    engine.attach_parquet("copy_t", path)

    out_dir = str(tmp_path / "unload")
    n = engine.sql(
        f"COPY copy_t TO '{out_dir}' (FORMAT CSV, HEADER true, DELIMITER '|')"
    ).collect()[0].rows_affected
    assert n == 2

    n = engine.sql(
        f"COPY copy_t FROM '{out_dir}' (FORMAT CSV, HEADER true, DELIMITER '|')"
    ).collect()[0].rows_affected
    assert n == 2
    assert engine.table("copy_t").count() == 4

    q_dir = str(tmp_path / "unload_q")
    n = engine.sql(
        f"COPY (SELECT id, v FROM copy_t WHERE id = 1) TO '{q_dir}' (FORMAT PARQUET)"
    ).collect()[0].rows_affected
    assert n == 2  # id=1 now appears twice after the re-load
    assert spark.read.parquet(q_dir).columns == ["id", "v"]


def test_copy_csv_defaults_to_comma(engine, spark, tmp_path):
    """COPY ... (FORMAT csv) defaults to a comma delimiter; text format
    keeps the tab (commands/copy.c ProcessCopyOptions)."""
    path = str(tmp_path / "copy_csv_t")
    spark.createDataFrame([(1, "a")], "id int, s string").write.parquet(path)
    engine.attach_parquet("copy_csv_t", path)

    src = tmp_path / "in.csv"
    src.write_text("2,b\n3,c\n")
    engine.sql(f"COPY copy_csv_t FROM '{src}' WITH (FORMAT csv)").collect()
    rows = engine.sql("SELECT id, s FROM copy_csv_t ORDER BY id").collect()
    assert [(r.id, r.s) for r in rows] == [(1, "a"), (2, "b"), (3, "c")]

    for fmt, sep in (("(FORMAT csv)", ","), ("", "\t")):
        out_dir = tmp_path / f"out{len(fmt)}"
        engine.sql(
            f"COPY (SELECT id, s FROM copy_csv_t WHERE id = 1) TO '{out_dir}' {fmt}"
        ).collect()
        text = "".join(f.read_text() for f in out_dir.glob("part-*"))
        assert text == f"1{sep}a\n"


def test_command_tag_is_a_local_scan(engine):
    """Driver-side result rows are an Arrow-backed LocalTableScan, not
    a scan of a Python RDD."""
    df = engine._tag(3)
    plan = df._jdf.queryExecution().toString()
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan
    assert df.collect()[0].rows_affected == 3


def test_cluster_zorder_locality(engine, spark, tmp_path):
    """Z-order clustering: after the rewrite, each output file covers a
    small hyper-rectangle of BOTH key ranges (the multi-dim locality
    parquet min/max pruning needs), vs ~full-range files before."""
    import glob
    import random

    rnd = random.Random(7)
    rows = [(rnd.randrange(10_000), rnd.randrange(10_000)) for _ in range(20_000)]
    path = str(tmp_path / "z_t")
    spark.createDataFrame(rows, ["x", "y"]).repartition(8).write.parquet(path)
    engine.attach_parquet("z_t", path)

    def avg_span(col):
        spans = []
        for f in glob.glob(path + "/part-*.parquet"):
            mn, mx = (
                spark.read.parquet(f)
                .agg(F.min(col), F.max(col))
                .collect()[0]
            )
            spans.append((mx - mn) / 10_000.0)
        return sum(spans) / len(spans)

    # randomly partitioned: every file spans ~the full range of both keys
    assert avg_span("x") > 0.9 and avg_span("y") > 0.9

    out = engine.cluster_zorder("z_t", ("x", "y"), bits=10, n_partitions=16)
    assert out["partitions"] == 16
    assert engine.table("z_t").count() == 20_000
    # z-ordered: files cover small rectangles in BOTH dims
    assert avg_span("x") < 0.6 and avg_span("y") < 0.6


def test_date_bin_time_bucket(engine):
    """PG 14 date_bin (timestamp.c timestamp_bin) + Timescale-style
    time_bucket: floor onto a stride grid, incl. pre-origin sources."""
    rows = engine.sql(
        "SELECT CAST(date_bin(INTERVAL '15' MINUTE, "
        "TIMESTAMP '2024-05-05 10:07:30', TIMESTAMP '2024-05-05 00:02:00') AS STRING) AS a, "
        "CAST(time_bucket(INTERVAL '1' HOUR, TIMESTAMP '2024-05-05 10:59:59') AS STRING) AS b, "
        "CAST(time_bucket(INTERVAL '15' MINUTE, TIMESTAMP '1969-12-31 23:59:00') AS STRING) AS c"
    ).collect()[0]
    assert rows.a.startswith("2024-05-05 10:02:00")  # grid anchored at :02
    assert rows.b.startswith("2024-05-05 10:00:00")
    assert rows.c.startswith("1969-12-31 23:45:00")  # floor, not trunc-to-zero


def test_dialect_decode_rewrite(engine):
    from warehouse_pg_spark.sql_dialect import rewrite

    out = rewrite("SELECT DECODE(x, 1, 'one', 2, 'two', 'other') FROM t")
    assert out == "SELECT CASE x WHEN 1 THEN 'one' WHEN 2 THEN 'two' ELSE 'other' END FROM t"
    # 2-arg Spark decode(bin, charset) passes through
    assert rewrite("SELECT decode(b, 'UTF-8') FROM t") == "SELECT decode(b, 'UTF-8') FROM t"
    df = engine.sql(
        "SELECT DECODE(c_mktsegment, 'BUILDING', 1, 0) AS is_b FROM customer LIMIT 5"
    )
    assert set(r.is_b for r in df.collect()) <= {0, 1}


def test_prepare_execute_deallocate(engine):
    """PREPARE/EXECUTE/DEALLOCATE (commands/prepare.c): $n parameter
    substitution, re-PREPARE error, EXECUTE-after-DEALLOCATE error."""
    import pytest

    engine.sql("DEALLOCATE ALL")
    engine.sql(
        "PREPARE ord_by_prio (text, int8) AS "
        "SELECT count(*) AS n FROM orders "
        "WHERE o_orderpriority = $1 AND o_orderkey < $2"
    )
    n_all = engine.sql(
        "SELECT count(*) AS n FROM orders "
        "WHERE o_orderpriority = '1-URGENT' AND o_orderkey < 1000"
    ).collect()[0].n
    got = engine.sql("EXECUTE ord_by_prio ('1-URGENT', 1000)").collect()[0].n
    assert got == n_all
    with pytest.raises(ValueError, match="already exists"):
        engine.sql("PREPARE ord_by_prio AS SELECT 1")
    engine.sql("DEALLOCATE ord_by_prio")
    with pytest.raises(KeyError, match="does not exist"):
        engine.sql("EXECUTE ord_by_prio (1)")


def test_set_show_gucs(engine):
    """SET/SHOW session GUCs (guc.c): arbitrary GUCs round-trip,
    timezone maps onto the live Spark conf, SHOW of an unknown GUC
    errors like PG, and Spark's own SHOW TABLES / SET spark.* still
    pass through."""
    import pytest

    engine.sql("SET work_mem = '256MB'")
    assert engine.sql("SHOW work_mem").collect()[0][0] == "256MB"
    engine.sql("SET search_path TO public")
    assert engine.sql("SHOW search_path").collect()[0][0] == "public"
    tz0 = engine.spark.conf.get("spark.sql.session.timeZone")
    try:
        engine.sql("SET timezone = 'UTC'")
        assert engine.spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert engine.sql("SHOW timezone").collect()[0][0] == "UTC"
    finally:
        engine.spark.conf.set("spark.sql.session.timeZone", tz0)
    with pytest.raises(KeyError, match="unrecognized"):
        engine.sql("SHOW definitely_not_a_guc")
    # Spark surfaces unharmed
    engine.sql("SHOW TABLES")
    engine.sql("SET spark.sql.shuffle.partitions=32")
    names = {r.name for r in engine.sql("SHOW ALL").collect()}
    assert "work_mem" in names


def test_set_show_time_zone(engine):
    """SET/SHOW TIME ZONE two-word spelling (gram.y zone_value):
    quoted zone applies to the live Spark conf, DEFAULT/LOCAL restore
    the session's startup timezone instead of storing the literal."""
    tz0 = engine.spark.conf.get("spark.sql.session.timeZone")
    try:
        engine.sql("SET TIME ZONE 'America/New_York'")
        assert (
            engine.spark.conf.get("spark.sql.session.timeZone")
            == "America/New_York"
        )
        assert (
            engine.sql("SHOW TIME ZONE").collect()[0][0]
            == "America/New_York"
        )
        engine.sql("SET TIME ZONE DEFAULT")
        assert engine.spark.conf.get("spark.sql.session.timeZone") == tz0
        engine.sql("SET TIME ZONE 'UTC'")
        engine.sql("SET TIME ZONE LOCAL")
        assert engine.spark.conf.get("spark.sql.session.timeZone") == tz0
        # one-word GUC spelling resets the same way
        engine.sql("SET timezone = 'UTC'")
        engine.sql("SET timezone TO DEFAULT")
        assert engine.spark.conf.get("spark.sql.session.timeZone") == tz0
    finally:
        engine.spark.conf.set("spark.sql.session.timeZone", tz0)


def test_execute_param_substitution_and_count(engine):
    """EXECUTE $n substitution (prepare.c EvaluateParams): $10 must not
    half-match as $1, $n inside string literals is untouched, and a
    wrong argument count errors like PG."""
    import pytest

    engine.sql("DEALLOCATE ALL")
    # $10 vs $1: single-pass substitution must keep them distinct
    engine.sql(
        "PREPARE p10 AS SELECT $1 AS a, $10 AS j, '$1 literal' AS lit"
    )
    row = engine.sql(
        "EXECUTE p10 (1, 2, 3, 4, 5, 6, 7, 8, 9, 42)"
    ).collect()[0]
    assert (row.a, row.j, row.lit) == (1, 42, "$1 literal")
    # surplus arguments error (EvaluateParams), not silently ignored
    with pytest.raises(ValueError, match="wrong number of parameters"):
        engine.sql("EXECUTE p10 (1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)")
    # missing arguments error too
    with pytest.raises(ValueError, match="wrong number of parameters"):
        engine.sql("EXECUTE p10 (1, 2)")
    # declared-type count wins over referenced count
    engine.sql("PREPARE p2 (int, int) AS SELECT $1 AS a")
    with pytest.raises(ValueError, match="wrong number of parameters"):
        engine.sql("EXECUTE p2 (7)")
    assert engine.sql("EXECUTE p2 (7, 8)").collect()[0].a == 7
    engine.sql("DEALLOCATE ALL")


def test_merge_statement_full(engine, spark, tmp_path):
    """SQL-text MERGE (PG 15, parse_merge.c / ExecMerge): conditional
    UPDATE, DELETE, and INSERT clauses evaluated in order — first
    passing clause wins."""
    path = str(tmp_path / "merge_t")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        ["id", "s", "v"],
    ).write.parquet(path)
    engine.attach_parquet("merge_t", path)
    spark.createDataFrame(
        [(1, 100.0), (2, -1.0), (5, 500.0), (6, -6.0)], ["sid", "sv"]
    ).createOrReplaceTempView("merge_src")

    out = engine.sql(
        """
        MERGE INTO merge_t AS t USING merge_src AS s ON t.id = s.sid
        WHEN MATCHED AND s.sv < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.sv, s = upper(t.s)
        WHEN NOT MATCHED AND s.sv > 0 THEN INSERT (id, s, v) VALUES (s.sid, 'new', s.sv)
        """
    )
    # affected: update id=1, delete id=2, insert id=5 (id=6 fails the
    # insert condition, ids 3/4 untouched)
    assert out.collect()[0].rows_affected == 3
    rows = {r.id: (r.s, r.v) for r in engine.table("merge_t").collect()}
    assert rows[1] == ("A", 100.0)
    assert 2 not in rows
    assert rows[3] == ("c", 30.0) and rows[4] == ("d", 40.0)
    assert rows[5] == ("new", 500.0)
    assert 6 not in rows


def test_merge_subquery_source_and_do_nothing(engine, spark, tmp_path):
    path = str(tmp_path / "merge_t2")
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], ["id", "v"]
    ).write.parquet(path)
    engine.attach_parquet("merge_t2", path)
    spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0)], ["sid", "sv"]
    ).createOrReplaceTempView("merge_src2")

    out = engine.sql(
        """
        MERGE INTO merge_t2 USING
          (SELECT sid, sv * 10 AS sv FROM merge_src2) AS s
          ON merge_t2.id = s.sid
        WHEN MATCHED AND s.sid = 1 THEN DO NOTHING
        WHEN MATCHED THEN UPDATE SET v = s.sv
        WHEN NOT MATCHED THEN DO NOTHING
        """
    )
    assert out.collect()[0].rows_affected == 1  # only id=2 updates
    rows = {r.id: r.v for r in engine.table("merge_t2").collect()}
    assert rows == {1: 10.0, 2: 20.0}


def test_merge_positional_insert(engine, spark, tmp_path):
    """INSERT without a column list maps VALUES positionally to the
    target schema."""
    path = str(tmp_path / "merge_t3")
    spark.createDataFrame([(1, "x")], ["id", "s"]).write.parquet(path)
    engine.attach_parquet("merge_t3", path)
    spark.createDataFrame([(2, "y")], ["sid", "ss"]).createOrReplaceTempView(
        "merge_src3"
    )
    engine.sql(
        """
        MERGE INTO merge_t3 USING merge_src3 AS s ON merge_t3.id = s.sid
        WHEN MATCHED THEN UPDATE SET s = s.ss
        WHEN NOT MATCHED THEN INSERT VALUES (s.sid, s.ss)
        """
    )
    rows = {r.id: r.s for r in engine.table("merge_t3").collect()}
    assert rows == {1: "x", 2: "y"}


def test_reset_and_discard(engine, spark):
    """RESET (guc.c) restores a GUC's default; DISCARD ALL
    (commands/discard.c) resets the whole session state."""
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        engine.sql("SET TIME ZONE 'Asia/Tokyo'")
        assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo"
        engine.sql("RESET TIME ZONE")
        assert spark.conf.get("spark.sql.session.timeZone") == tz0
        engine.sql("SET work_mem = '64MB'")
        assert engine.sql("SHOW work_mem").collect()[0][0] == "64MB"
        engine.sql("RESET work_mem")
        # r10: RESET restores the guc_tables.c DEFAULT (PG semantics),
        # never an empty table — SHOW keeps answering
        assert engine.sql("SHOW work_mem").collect()[0][0] == "4MB"
        import pytest as _pt

        engine.sql("SET myapp.custom = 'v1'")
        engine.sql("RESET myapp.custom")
        with _pt.raises(KeyError):  # no default for custom GUCs
            engine.sql("SHOW myapp.custom").collect()
        engine.sql("SET search_path TO public")
        engine.sql("PREPARE rd AS SELECT 1 AS x")
        engine.sql("DISCARD ALL")
        assert (
            engine.sql("SHOW search_path").collect()[0][0]
            == '"$user", public'
        )
        with _pt.raises(KeyError):
            engine.sql("EXECUTE rd()").collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_vacuum_analyze_statements(engine, spark, tmp_path):
    """SQL-text VACUUM compacts a writable table's files; ANALYZE and
    table-less VACUUM are accepted (advisory) so pg maintenance scripts
    replay unchanged."""
    import os

    path = str(tmp_path / "vac_t")
    spark.range(0, 1000).repartition(8).write.parquet(path)
    engine.attach_parquet("vac_t", path)
    files_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert files_before >= 8
    engine.sql("VACUUM FULL vac_t")
    files_after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert files_after < files_before
    assert engine.table("vac_t").count() == 1000
    engine.sql("VACUUM")                 # whole-db: no-op
    engine.sql("ANALYZE vac_t")          # temp-view stats: advisory
    engine.sql("ANALYZE")                # database-wide: no-op


def test_current_setting_set_config(engine, spark):
    """current_setting/set_config (guc.c SQL accessors) inline the
    session value as a constant — always the current value."""
    import pytest as _pt

    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        engine.sql("SET application_name = 'etl_job'")
        r = engine.sql("SELECT current_setting('application_name') AS v")
        assert r.collect()[0].v == "etl_job"
        engine.sql("SET application_name = 'etl_job2'")  # must not be stale
        assert engine.sql(
            "SELECT current_setting('application_name') AS v"
        ).collect()[0].v == "etl_job2"
        # missing_ok=true -> NULL; without it -> error
        assert engine.sql(
            "SELECT current_setting('no_such_guc', true) AS v"
        ).collect()[0].v is None
        with _pt.raises(KeyError):
            engine.sql("SELECT current_setting('no_such_guc') AS v")
        # set_config mutates and returns the new value
        assert engine.sql(
            "SELECT set_config('statement_timeout', '5min', false) AS v"
        ).collect()[0].v == "5min"
        assert engine.sql(
            "SELECT current_setting('statement_timeout') AS v"
        ).collect()[0].v == "5min"
        assert engine.sql(
            "SELECT current_setting('TimeZone') AS v"
        ).collect()[0].v == spark.conf.get("spark.sql.session.timeZone")
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_cluster_reindex_statements(engine, spark, tmp_path):
    """CLUSTER applies the advisory index's Z-order layout; REINDEX is
    an accepted no-op (indexes are scan hints here)."""
    path = str(tmp_path / "clu_t")
    spark.createDataFrame(
        [(i, i % 7, float(i)) for i in range(1000)], ["id", "k", "v"]
    ).write.parquet(path)
    engine.attach_parquet("clu_t", path)
    engine.sql("CREATE INDEX clu_idx ON clu_t (k, id)")
    engine.sql("CLUSTER clu_t USING clu_idx")
    assert engine.table("clu_t").count() == 1000
    engine.sql("REINDEX TABLE clu_t")
    engine.sql("CLUSTER")  # database-wide: no-op


def test_matview_sql_text(engine, spark, tmp_path):
    """CREATE / REFRESH / DROP MATERIALIZED VIEW as SQL text
    (commands/matview.c): the view persists results; REFRESH re-runs
    the stored query and readers of the name see the new image."""
    import pytest as _pt

    path = str(tmp_path / "mv_src")
    spark.createDataFrame([(1, 10.0), (2, 20.0)], ["id", "v"]).write.parquet(path)
    engine.attach_parquet("mv_src", path)
    engine.sql(
        "CREATE MATERIALIZED VIEW mv_sum AS "
        "SELECT count(*) AS n, sum(v) AS total FROM mv_src"
    )
    r = spark.sql("SELECT * FROM mv_sum").collect()[0]
    assert (r.n, r.total) == (2, 30.0)
    # base table changes; matview is stale until REFRESH
    engine.sql("INSERT INTO mv_src VALUES (3, 30.0)")
    assert spark.sql("SELECT n FROM mv_sum").collect()[0].n == 2
    engine.sql("REFRESH MATERIALIZED VIEW mv_sum")
    r = spark.sql("SELECT * FROM mv_sum").collect()[0]
    assert (r.n, r.total) == (3, 60.0)
    engine.sql("CREATE MATERIALIZED VIEW IF NOT EXISTS mv_sum AS SELECT 1 AS x")
    assert spark.sql("SELECT n FROM mv_sum").collect()[0].n == 3  # kept
    engine.sql("DROP MATERIALIZED VIEW mv_sum")
    with _pt.raises(Exception):
        spark.sql("SELECT * FROM mv_sum").collect()
    engine.sql("DROP MATERIALIZED VIEW IF EXISTS mv_sum")  # idempotent
    with _pt.raises(KeyError):
        engine.sql("DROP MATERIALIZED VIEW mv_sum")


def test_new_pg_function_spellings(engine, spark):
    """PG function spellings added as Catalyst SQL functions
    (varlena.c starts_with, float.c isfinite/random_normal, uuid.c
    gen_random_uuid, misc.c parse_ident/num_nulls)."""
    row = engine.sql(
        "SELECT starts_with('hello', 'he') AS a,"
        "       isfinite(1.5) AS b,"
        "       isfinite(double('Infinity')) AS c,"
        "       element_at(parse_ident('warehouse.orders'), 2) AS d,"
        "       num_nulls2(NULL, 'x') AS e,"
        "       num_nonnulls2(NULL, 'x') AS f,"
        "       random_normal(10.0, 0.0) AS g,"
        "       length(gen_random_uuid()) AS h"
    ).collect()[0]
    assert (row.a, row.b, row.c) == (True, True, False)
    assert row.d == "orders"
    assert (row.e, row.f) == (1, 1)
    assert row.g == 10.0 and row.h == 36
    # clock/statement/transaction timestamps resolve and agree
    r2 = engine.sql(
        "SELECT clock_timestamp() IS NOT NULL AS a, "
        "statement_timestamp() = transaction_timestamp() AS b"
    ).collect()[0]
    assert r2.a is True and r2.b is True


def test_gp_partition_by_range_ctas(engine, spark, tmp_path):
    """GP `CREATE TABLE .. AS SELECT .. PARTITION BY RANGE (col)
    (START .. EVERY ..)` (gram.y OptTabPartitionSpec) materializes as
    directory-partitioned parquet with the derived range-partition id —
    the EVERY child-partition rule over directories."""
    import os as _os

    engine.sql(
        """
        CREATE TABLE orders_by_month AS
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        FROM orders WHERE o_orderkey <= 2000
        DISTRIBUTED BY (o_orderkey)
        PARTITION BY RANGE (o_orderdate)
          (START ('1995-01-01') END ('1999-01-01') EVERY (INTERVAL '6 months'))
        """
    )
    path = _os.path.join(engine.warehouse_dir, "orders_by_month")
    parts = [d for d in _os.listdir(path) if d.startswith("__part=")]
    assert len(parts) > 2  # several 6-month buckets materialized
    base = spark.sql(
        "SELECT count(*) AS n FROM orders WHERE o_orderkey <= 2000"
    ).collect()[0].n
    assert engine.table("orders_by_month").count() == base
    # directory pruning: a __part filter reads a subset of partitions
    one = engine.sql(
        "SELECT count(*) AS n FROM orders_by_month WHERE __part = 0"
    ).collect()[0].n
    assert 0 < one < base

    # numeric EVERY buckets by width
    engine.sql(
        """
        CREATE TABLE cust_by_bal AS
        SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey <= 500
        PARTITION BY RANGE (c_acctbal) (START (-1000.0) EVERY (2000.0))
        """
    )
    p2 = _os.path.join(engine.warehouse_dir, "cust_by_bal")
    assert any(d.startswith("__part=") for d in _os.listdir(p2))


def test_multi_column_set_default_values_truncate_list(engine, spark, tmp_path):
    """PG DML forms: multi-column `SET (a,b) = (e1,e2)` (gram.y
    multiple_set_clause), INSERT ... DEFAULT VALUES (all-defaults row =
    NULLs here), and TRUNCATE of a table list with identity/cascade
    options accepted."""
    path = str(tmp_path / "forms_t")
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], ["id", "s", "v"]
    ).write.parquet(path)
    engine.attach_parquet("forms_t", path)

    out = engine.sql(
        "UPDATE forms_t SET (s, v) = (upper(s), v * 10) WHERE id = 1"
    )
    assert out.collect()[0].rows_affected == 1
    rows = {r.id: (r.s, r.v) for r in engine.table("forms_t").collect()}
    assert rows[1] == ("A", 10.0) and rows[2] == ("b", 2.0)

    engine.sql("INSERT INTO forms_t DEFAULT VALUES")
    assert engine.table("forms_t").count() == 3
    assert engine.table("forms_t").filter("id IS NULL").count() == 1

    import pytest as _pt
    with _pt.raises(ValueError, match="number of columns"):
        engine.sql("UPDATE forms_t SET (s, v) = ('x') WHERE id = 2")

    out = engine.sql("TRUNCATE forms_t RESTART IDENTITY CASCADE")
    assert engine.table("forms_t").count() == 0

    # PG errors on ANY missing relation in the list (tablecmds.c
    # ExecuteTruncate) — no truncate-and-report-success for typos
    with _pt.raises(KeyError, match="typo_t"):
        engine.sql("TRUNCATE forms_t, typo_t")


def test_trunc_n_exact_decimal_path(engine):
    """ADVICE r9: trunc(x, n) must not round through an inexact double
    multiply (2.3*10 = 22.999…996 made trunc(2.3,1) = 2.2) nor wrap a
    silent BIGINT overflow — now floor/ceil-by-sign on an exact decimal
    (reference numeric.c numeric_trunc semantics: toward zero)."""
    r = engine.sql(
        "SELECT CAST(trunc(2.3, 1) AS DOUBLE) AS a,"
        "       CAST(trunc(-2.37, 1) AS DOUBLE) AS b,"
        "       CAST(trunc(123.456, 2) AS DOUBLE) AS c,"
        "       CAST(trunc(2.3::double precision, 1) AS DOUBLE) AS d,"
        "       CAST(trunc(1e17 + 0.5, 0) AS DOUBLE) AS e"
    ).collect()[0]
    assert r.a == 2.3 and r.b == -2.3 and r.c == 123.45 and r.d == 2.3
    assert r.e == 1e17


def test_array_subquery_keeps_null_elements(engine):
    """ADVICE r9: PG's ARRAY(SELECT ...) keeps NULL elements;
    collect_list alone silently dropped them (arrayfuncs.c
    array_agg semantics)."""
    rows = engine.sql(
        "SELECT ARRAY(SELECT CASE WHEN x % 2 = 0 THEN NULL ELSE x END "
        "FROM (SELECT 1 x UNION ALL SELECT 2 UNION ALL SELECT 3) s "
        "ORDER BY CASE WHEN x % 2 = 0 THEN NULL ELSE x END) AS a"
    ).collect()
    assert rows[0].a == [1, 3, None]  # NULLS LAST under PG ASC default


def test_braced_array_quoted_and_nested(engine):
    """ADVICE r9: array_in tokenizer — double-quoted elements keep
    embedded commas. Nested bodies are SUPPORTED since r10 as
    multi-dim arrays (arrayfuncs.c array_in); ragged shapes build
    ragged nested arrays (PG errors — documented deviation, never
    silent garbage values)."""
    r = engine.sql(
        """SELECT '{a,"b,c",d}'::text[] AS a,
                  'b,c' = ANY('{a,"b,c"}') AS m,
                  '{{1,2},{3,4}}'::int[] AS nested"""
    ).collect()[0]
    assert r.a == ["a", "b,c", "d"] and r.m is True
    assert [list(x) for x in r.nested] == [[1, 2], [3, 4]]


def test_age_keeps_time_of_day(engine):
    """ADVICE r9: age(ts, ts) previously truncated to whole days; PG
    timestamp_age keeps the hh:mm:ss remainder, with the month count
    borrowed back when months_between's same-day rule overshoots."""
    rows = engine.sql(
        "SELECT CAST(age(TIMESTAMP '2020-01-02 12:00:00',"
        "              TIMESTAMP '2020-01-01 00:00:00') AS STRING) AS a,"
        "       CAST(age(TIMESTAMP '2020-02-01 00:00:00',"
        "              TIMESTAMP '2020-01-01 12:00:00') AS STRING) AS b,"
        "       CAST(age(TIMESTAMP '2021-03-15 10:30:00',"
        "              TIMESTAMP '2020-01-10 08:00:00') AS STRING) AS c,"
        "       CAST(age(DATE '2020-03-01', DATE '2020-01-31') AS STRING) AS d,"
        "       CAST(age(TIMESTAMP '2020-01-01',"
        "              TIMESTAMP '2020-03-15 06:00:00') AS STRING) AS e"
    ).collect()[0]
    assert rows.a == "1 days 12 hours"
    assert rows.b == "30 days 12 hours"  # borrow edge, matches PG
    assert rows.c == "1 years 2 months 5 days 2 hours 30 minutes"
    assert rows.d == "1 months 1 days"
    assert rows.e == "-2 months -14 days -6 hours"


def test_multiword_type_spellings_in_cast_position(engine):
    """`double precision` / `character varying(n)` / `timestamp with[out]
    time zone` in CAST / :: position (gram.y SimpleTypename), alongside
    the literal-prefix forms their own passes already handled."""
    r = engine.sql(
        "SELECT CAST(2.5 AS DOUBLE PRECISION) AS a,"
        "       '12'::character varying(5) AS b,"
        "       'ab'::character varying AS c,"
        "       CAST('2020-01-01 03:04:05' AS timestamp with time zone) AS d,"
        "       double precision '1.5' AS e"
    ).collect()[0]
    assert r.a == 2.5 and r.b == "12" and r.c == "ab" and r.e == 1.5
    assert str(r.d) == "2020-01-01 03:04:05"


def test_row_comparison_pg_null_semantics(engine):
    """PG record_cmp/record_eq three-valued logic (rowtypes.c): found
    via the value-checked regress probe — Spark struct comparison
    ORDERS nulls where PG propagates UNKNOWN."""
    r = engine.sql(
        "SELECT ROW(1,2,3) = ROW(1,NULL,4) AS eq_false,"
        "       ROW(1,2,3) = ROW(1,NULL,3) AS eq_null,"
        "       ROW(1,2,3) < ROW(1,NULL,4) AS lt_null,"
        "       ROW(1,2,3) < ROW(2,NULL,4) AS lt_true,"
        "       ROW(1,2,3) <> ROW(1,NULL,4) AS ne_true"
    ).collect()[0]
    assert r.eq_false is False and r.eq_null is None
    assert r.lt_null is None and r.lt_true is True and r.ne_true is True


def test_ltrim_rtrim_pg_argument_order(engine):
    """PG ltrim/rtrim(str, chars) vs Spark's REVERSED (trimStr, str):
    silent-wrong-answer found by the value-checked regress probe."""
    r = engine.sql(
        "SELECT ltrim('zzzytrim', 'xyz') AS l,"
        "       rtrim('trimxxxx', 'x') AS r,"
        "       btrim('xyxtrimyyx', 'xy') AS b,"
        "       ltrim('  pad') AS one_arg"
    ).collect()[0]
    assert r.l == "trim" and r.r == "trim" and r.b == "trim"
    assert r.one_arg == "pad"


def test_at_time_zone_directions(engine):
    """PG timestamp.c: naive AT TIME ZONE z interprets the wall-clock
    IN z (→instant); timestamptz AT TIME ZONE z renders the instant's
    wall-clock in z. Explicitly-typed operands pick the PG direction;
    bare columns keep the collapsed-model instant reading."""
    r = engine.sql(
        "SELECT CAST('2020-06-01 12:00:00'::timestamp "
        "            AT TIME ZONE 'America/New_York' AS STRING) AS naive,"
        "       CAST('2020-06-01 12:00:00'::timestamptz "
        "            AT TIME ZONE 'America/New_York' AS STRING) AS instant"
    ).collect()[0]
    assert r.naive == "2020-06-01 16:00:00"
    assert r.instant == "2020-06-01 08:00:00"


def test_concat_arithmetic_precedence(engine):
    """PG binds +,-,*,/ tighter than || (gram.y precedence); Spark the
    reverse — 'four: ' || 2+2 must be 'four: 4', not NULL."""
    r = engine.sql(
        "SELECT 'four: ' || 2+2 AS a,"
        "       2+2 || ' is four' AS b,"
        "       'v' || 3 * 2 + 1 AS c"
    ).collect()[0]
    assert r.a == "four: 4" and r.b == "4 is four" and r.c == "v7"


def test_double_quoted_identifiers(engine):
    """PG "..." is ALWAYS an identifier (strings are single-quoted);
    Spark reads double quotes as string literals, so quoted aliases
    like AS "Date + Time" previously failed to parse — the single
    biggest in-scope family in the regress probe triage."""
    row = engine.sql('SELECT 1+1 AS "Two Plus", 2 AS "with""quote"').collect()[0]
    d = row.asDict()
    assert d["Two Plus"] == 2 and d['with"quote'] == 2
    r = engine.sql(
        "SELECT date '1981-02-03' + time '04:05:06' AS \"Date + Time\""
    ).collect()[0]
    assert str(r[0]) == "1981-02-03 04:05:06"


def test_bytea_hex_literals(engine):
    """'\\x…'::bytea is PG's HEX input form (varlena.c byteain) — the
    content is hex digits, not UTF-8 bytes."""
    r = engine.sql(
        r"SELECT '\xDEADBEEF'::bytea AS h, 'abc'::bytea AS t,"
        r"       octet_length('\x1234'::bytea) AS n"
    ).collect()[0]
    assert r.h == bytes.fromhex("deadbeef") and r.t == b"abc" and r.n == 2


def test_jsonb_containment_operators(engine):
    """jsonb @> / <@ (jsonb_util.c JsonbDeepContains): recursive
    object/array containment with set semantics for arrays, top-level
    array-contains-scalar, bool≠number."""
    r = engine.sql(
        """SELECT '{"a":[1,2],"c":"b"}'::jsonb @> '{"a":[1,2]}' AS t1,
                  '{"a":[1,2],"c":"b"}'::jsonb @> '{"a":[3]}' AS f1,
                  '{"a":[1,2]}'::jsonb @> '{"a":1}' AS f2,
                  '[1,2,3]'::jsonb @> '1' AS t2,
                  '[1,2,3]'::jsonb @> '[3,1]' AS t3,
                  '{"a":1}' <@ '{"a":1,"b":2}'::jsonb AS t4,
                  '1'::jsonb @> 'true' AS f3"""
    ).collect()[0]
    assert r.t1 and r.t2 and r.t3 and r.t4
    assert not r.f1 and not r.f2 and not r.f3


def test_regexp_replace_pg_semantics(engine):
    """PG regexp_replace (regexp.c): FIRST match by default ('g' makes
    it global via a 4th TEXT flags arg — Spark's 4th arg is a position
    INT, so PG calls silently returned NULL), backrefs are \\N not $N.
    Found by the value-checked regress probe."""
    r = engine.sql(
        "SELECT regexp_replace('foobarbaz', 'b..', 'X') AS first_only,"
        "       regexp_replace('foobarbaz', 'b..', 'X', 'g') AS glob,"
        "       regexp_replace('AAA aaa', 'A+', 'Z', 'gi') AS ci,"
        "       regexp_replace('AAA', '^|$', 'Z', 'g') AS anchors,"
        "       regexp_replace('AAA', '^|$', 'Z') AS anchor_first,"
        "       regexp_replace('1112223333',"
        "         E'(\\\\d{3})(\\\\d{3})(\\\\d{4})',"
        "         E'(\\\\1) \\\\2-\\\\3') AS backrefs,"
        "       regexp_replace('price: $5 then', 'then', 'now') AS dollar"
    ).collect()[0]
    assert r.first_only == "fooXbaz" and r.glob == "fooXX"
    assert r.ci == "Z Z" and r.anchors == "ZAAAZ" and r.anchor_first == "ZAAA"
    assert r.backrefs == "(111) 222-3333" and r.dollar == "price: $5 now"


def test_cast_pg_type_names(engine):
    """CAST(x AS text/int4/float8/numeric(p,s)) — the function-syntax
    twin of `::`, previously unmapped; subquery aliases inside the
    operand stay untouched."""
    r = engine.sql(
        "SELECT CAST(1 AS text) AS a, CAST('5' AS int4) AS b,"
        "       CAST(2.345 AS numeric(10,2)) AS c,"
        "       CAST((SELECT 1 AS n) AS text) AS d,"
        "       (SELECT 'keep' AS text) AS alias_untouched"
    ).collect()[0]
    assert r.a == "1" and r.b == 5 and str(r.c) == "2.35"
    assert r.d == "1" and r.alias_untouched == "keep"


def test_null_array_and_nested_subscripts(engine):
    """cardinality(NULL) is NULL (not legacy -1); parenthesized
    subquery operands keep PG 1-based subscripts; a NULL
    string_to_array delimiter splits per character (varlena.c
    text_to_array)."""
    r = engine.sql(
        "SELECT cardinality(NULL::int[]) AS c0,"
        "       ((SELECT ARRAY[1,2,3]))[2] AS x2,"
        "       (((SELECT ARRAY[1,2,3])))[3] AS x3,"
        "       string_to_array('1|2', NULL) AS chars"
    ).collect()[0]
    assert r.c0 is None and r.x2 == 2 and r.x3 == 3
    assert r.chars == ["1", "|", "2"]


def test_jsonb_path_query_functions(engine):
    """jsonb_path_query/query_array/query_first/exists/match
    (jsonpath_exec.c subset): value-returning forms via the Python
    jsonpath evaluator (slow path by design), predicate forms lower to
    the existing @? / @@ machinery."""
    r = engine.sql(
        """SELECT jsonb_path_query_array('[{"a": 1}, {"a": 2}]', '$[*].a') AS arr,
                  jsonb_path_query_array('[{"a": 1}, {"a": 2}]',
                                         '$[*].a ? (@ == 1)') AS filt,
                  jsonb_path_query_first('[{"a": 1}, {"a": 2}]', '$[*].a') AS first,
                  jsonb_path_exists('{"a": 1}', '$.a') AS ex,
                  jsonb_path_match('{"a": 5}', '$.a > 3') AS mt"""
    ).collect()[0]
    assert r.arr == "[1, 2]" and r.filt == "[1]" and r.first == "1"
    assert r.ex is True and r.mt is True
    rows = engine.sql(
        """SELECT jsonb_path_query('[{"a": 1}, {"a": 2}]', '$[*]') AS v"""
    ).collect()
    assert [x.v for x in rows] == ['{"a": 1}', '{"a": 2}']


def test_generate_series_in_select_position(engine):
    """PG SRF in the SELECT list (`SELECT generate_series(1,3)`)
    expands rows — lowered to explode(sequence(...)) when no
    FROM-position rewrite consumed it."""
    rows = engine.sql("SELECT generate_series(1, 3) AS g").collect()
    assert [r.g for r in rows] == [1, 2, 3]
    rows = engine.sql("SELECT generate_series(2, 10, 3) AS g").collect()
    assert [r.g for r in rows] == [2, 5, 8]


def test_timezone_abbreviations_fixed_offsets(engine):
    """ADVICE r10 (items 1-2): PG zone ABBREVIATIONS (timezone/tznames/
    Default): most are fixed
    offsets, but MSK is a DYNAMIC link to Europe/Moscow — regress
    expected/timestamptz.out pins '2011-03-27 03:00:00 MSK' -> 23:00
    UTC (+04, the zone's 2011-2014 offset) — and IST is Israel (+02),
    not India (+05:30)."""
    r = engine.sql(
        "SELECT '2011-03-27 01:00:00 MSK'::timestamptz AS lit,"
        "       '2011-03-27 03:00:00 MSK'::timestamptz AS lit_dst,"
        "       '2020-06-01 12:00:00 MSK'::timestamptz AS lit_modern,"
        "       '2020-06-01 12:00:00 IST'::timestamptz AS lit_ist,"
        "       CAST('2011-03-26 21:00:00 UTC'::timestamptz"
        "            AT TIME ZONE 'MSK' AS STRING) AS conv"
    ).collect()[0]
    assert str(r.lit) == "2011-03-26 22:00:00"       # pre-gap: +03
    assert str(r.lit_dst) == "2011-03-26 23:00:00"   # post-gap: +04
    assert str(r.lit_modern) == "2020-06-01 09:00:00"  # modern: +03
    assert str(r.lit_ist) == "2020-06-01 10:00:00"   # Israel +02
    assert r.conv == "2011-03-27 00:00:00"


def test_regexp_replace_pattern_backref_first_match(engine):
    """ADVICE r10 (item 3): regexp_replace first-match emulation wraps
    the pattern in two
    prefix groups; backrefs INSIDE the pattern must be renumbered by
    the same shift or \\1 silently binds the lazy-prefix group
    (regexp.c keeps group numbers — the r9 ADVICE silent-wrong-answer
    case)."""
    r = engine.sql(
        "SELECT regexp_replace('foo bar bar baz', '(\\\\w+) \\\\1', 'X') AS a,"
        "       regexp_replace('abc def', '(\\\\w+) (\\\\w+)',"
        "                      '\\\\2 \\\\1') AS b,"
        "       regexp_replace('a\\\\b', '\\\\\\\\(b)', '[\\\\1]') AS c,"
        "       regexp_replace('xx yy yy zz zz', '(\\\\w+) \\\\1',"
        "                      'D', 'g') AS d,"
        "       regexp_replace('a(b)c', '[(]b[)]', 'X') AS e"
    ).collect()[0]
    assert r.a == "foo X baz"      # \1 binds the pattern's own group
    assert r.b == "def abc"        # replacement backrefs shift too
    assert r.c == "a[b]"           # escaped backslash before group
    assert r.d == "xx D D"         # 'g' path unchanged
    assert r.e == "aXc"            # class parens are not groups


def test_power_posix_edges(engine):
    """PG float.c dpow is POSIX: power(1, NaN) = 1 (JVM Math.pow gives
    NaN); power(NaN, 0) = 1 in both."""
    r = engine.sql(
        "SELECT power(1.0, CAST('NaN' AS DOUBLE)) AS one_nan,"
        "       power(CAST('NaN' AS DOUBLE), 0) AS nan_zero,"
        "       2 ^ 10 AS op, 2 ^ -2 AS neg"
    ).collect()[0]
    assert r.one_nan == 1.0 and r.nan_zero == 1.0
    assert r.op == 1024.0 and r.neg == 0.25


def test_jsonpath_filter_string_comparand(engine):
    """ADVICE r10 (item 5): jsonpath filter comparands parse as one
    explicit token — an
    apostrophe inside a double-quoted jsonpath string survives
    (jsonpath_exec.c executeComparison), and a filter may be followed
    by further path steps."""
    r = engine.sql(
        "SELECT jsonb_path_query_first("
        "  '{\"name\":\"O''Brien\",\"ok\":1}',"
        "  '$ ? (@.name == \"O''Brien\").ok') AS hit,"
        "       jsonb_path_query_array("
        "  '{\"a\":[1,2,3,4]}', '$.a[*] ? (@ > 2)') AS arr"
    ).collect()[0]
    assert r.hit == "1"
    assert r.arr == "[3, 4]"


def test_regexp_split_to_array(engine):
    """regexp_split_to_array (regexp.c): regex split keeping trailing
    empties, per-char on an empty pattern, 'i' flag inline."""
    r = engine.sql(
        "SELECT regexp_split_to_array('123456','') AS chars,"
        "       regexp_split_to_array('a,b,', ',') AS keep_tail,"
        "       regexp_split_to_array('thE QUick', 'e', 'i') AS ci"
    ).collect()[0]
    assert r.chars == list("123456")
    assert r.keep_tail == ["a", "b", ""]
    assert r.ci == ["th", " QUick"]


def test_jsonb_mutation_functions(engine):
    """jsonb_set / jsonb_insert / #- / json_object (jsonfuncs.c):
    text[] paths with negative array indexes, create_missing /
    insert_after flags, existing-key insert and path errors RAISE
    per setPath (r15: was NULL)."""
    import pytest as _pytest

    r = engine.sql(
        """SELECT jsonb_set('{"a":[1,2,3]}', '{a,1}', '99') AS set_arr,
                  jsonb_set('{"a":1}', '{c}', '3', false) AS no_create,
                  jsonb_set('{"a":[1,2]}', '{a,-1}', '0') AS neg_idx,
                  jsonb_insert('{"a":[1,3]}', '{a,1}', '2') AS ins,
                  jsonb_insert('{"a":[1,2]}', '{a,1}', '9', true) AS ins_after,
                  '{"n":null, "a":1, "b":[1,2]}'::jsonb #- '{b,-1}' AS del_path,
                  json_object('{a,1,b,2}') AS obj1,
                  json_object('{a,b}', '{1,2}') AS obj2"""
    ).collect()[0]
    assert r.set_arr == '{"a": [1, 99, 3]}'
    assert r.no_create == '{"a": 1}'
    assert r.neg_idx == '{"a": [1, 0]}'
    assert r.ins == '{"a": [1, 2, 3]}'
    assert r.ins_after == '{"a": [1, 2, 9]}'  # after the path target
    assert r.del_path == '{"n": null, "a": 1, "b": [1]}'
    assert r.obj1 == '{"a": "1", "b": "2"}'
    assert r.obj2 == '{"a": "1", "b": "2"}'
    with _pytest.raises(Exception, match="cannot replace existing key"):
        engine.sql(
            """SELECT jsonb_insert('{"a":1}', '{a}', '9') AS x"""
        ).collect()
    with _pytest.raises(Exception, match="is not an integer"):
        engine.sql(
            """SELECT jsonb_set('{"a": [1, 2, 3]}',
                      '{a, non_integer}', '"v"') AS x"""
        ).collect()
    with _pytest.raises(Exception, match="position 3 is null"):
        engine.sql(
            """SELECT jsonb_set('{"a": {"b": [1, 2, 3]}}',
                      '{a, b, NULL}', '"v"') AS x"""
        ).collect()


def test_xml_is_well_formed(engine):
    """xml.c xml_is_well_formed[_document|_content]: content allows
    text/multiple top-level nodes; the bare form follows the engine's
    CONTENT default xmloption."""
    r = engine.sql(
        "SELECT xml_is_well_formed('<a><b/></a>') AS ok,"
        "       xml_is_well_formed('plain text') AS content_ok,"
        "       xml_is_well_formed_document('plain text') AS doc_no,"
        "       xml_is_well_formed_content('x<y/>z') AS frag_ok"
    ).collect()[0]
    assert r.ok is True and r.content_ok is True
    assert r.doc_no is False and r.frag_ok is True


def test_range_types_sql_surface(engine):
    """PG range types (rangetypes.c) as SQL text: constructors with
    bounds spellings, discrete canonicalization, operators, union/
    intersection, bound accessors — all pure-SQL struct functions
    (functions/ranges.py), no Python per row."""
    r = engine.sql(
        "SELECT numrange(1.0, 3.0) && numrange(2.0, 4.0) AS ov,"
        "       numrange(1.0, 2.0) -|- numrange(2.0, 3.0, '[]') AS adj,"
        "       numrange(1.0, 4.0, '[]') @> 4.0 AS closed_hi,"
        "       numrange(1.0, 4.0) @> 4.0 AS open_hi,"
        "       2.5 <@ numrange(1.0, 4.0) AS elem,"
        "       numrange(1.0, 2.0) << numrange(3.0, 4.0) AS before,"
        "       isempty(numrange(1.0, 1.0)) AS emp,"
        "       int4range(1, 3, '[]') = int4range(1, 4) AS canon,"
        "       range_text(numrange(1.0, 2.0) + numrange(1.5, 3.0)) AS uni,"
        "       range_text(numrange(1.0, 3.0) * numrange(2.0, 4.0)) AS inter,"
        "       lower(numrange(1.5, 2.5)) AS lo,"
        "       lower(numrange(NULL, 2.5)) IS NULL AS lo_inf,"
        "       lower('ABC') AS str_lower"
    ).collect()[0]
    assert r.ov and r.adj and r.closed_hi and not r.open_hi
    assert r.elem and r.before and r.emp and r.canon
    assert r.uni == "[1.0,3.0)" and r.inter == "[2.0,3.0)"
    assert r.lo == 1.5 and r.lo_inf and r.str_lower == "abc"


def test_timestamp_range_types(engine):
    """tsrange/daterange: the TIMESTAMP-bound family (same operator
    semantics, _ts SQL-function overloads; daterange canonicalizes to
    [lo, hi) in whole days — rangetypes.c daterange_canonical)."""
    r = engine.sql(
        "SELECT tsrange('2020-01-01', '2020-06-01')"
        "         @> TIMESTAMP '2020-03-01' AS has,"
        "       tsrange('2020-01-01', '2020-06-01')"
        "         @> TIMESTAMP '2020-06-01' AS open_hi,"
        "       tsrange('2020-01-01', '2020-02-01')"
        "         -|- tsrange('2020-02-01', '2020-03-01') AS adj,"
        "       daterange('2020-01-01', '2020-01-31', '[]')"
        "         = daterange('2020-01-01', '2020-02-01') AS canon,"
        "       range_text(tsrange('2020-01-01', '2020-01-02')"
        "         * tsrange('2020-01-01 12:00:00', '2020-01-03')) AS inter,"
        "       isempty(tsrange('2020-01-01', '2020-01-01')) AS emp"
    ).collect()[0]
    assert r.has and not r.open_hi and r.adj and r.canon and r.emp
    assert r.inter == "[2020-01-01 12:00:00,2020-01-02 00:00:00)"


def test_int8range_exact_past_2p53(engine):
    """ADVICE r10 (item 4): int8range bounds are DECIMAL(20,0)
    (rangetypes.c int8range):
    a DOUBLE lowering loses bigints above 2^53 and the discrete +1
    canonicalization then lands on the wrong integer — these pins
    require exact arithmetic at 2^53+k."""
    r = engine.sql(
        "SELECT range_text(int8range(9007199254740993,"
        "                            9007199254740995, '[]')) AS txt,"
        "       int8range(9007199254740993, 9007199254740999)"
        "         @> 9007199254740993 AS has_lo,"
        "       int8range(9007199254740993, 9007199254740999)"
        "         @> 9007199254740992 AS below,"
        "       int8range(1, 3, '[]') = int8range(1, 4) AS canon,"
        "       range_text(int8range(1, 5) * int8range(4, 9)) AS inter,"
        "       isempty(int8range(7, 7)) AS emp"
    ).collect()[0]
    assert r.txt == "[9007199254740993,9007199254740996)"
    assert r.has_lo and not r.below and r.canon and r.emp
    assert r.inter == "[4,5)"


def test_multi_srf_lockstep(engine):
    """Multiple SRFs in one SELECT list iterate in lockstep, NULL-
    padded to the longest (execSRF.c; regress sql/tsrf.sql)."""
    rows = [tuple(r) for r in engine.sql(
        "SELECT generate_series(1, 2), generate_series(1, 4)"
    ).collect()]
    assert rows == [(1, 1), (2, 2), (None, 3), (None, 4)]
    rows = [tuple(r) for r in engine.sql(
        "SELECT unnest(ARRAY[10, 20]) AS u, generate_series(7, 9) AS g"
    ).collect()]
    assert rows == [(10, 7), (20, 8), (None, 9)]
    # single unnest select item is a plain generator
    rows = [r.u for r in engine.sql(
        "SELECT unnest(ARRAY[1, 2]) AS u").collect()]
    assert rows == [1, 2]


def test_srf_from_bare_alias(engine):
    """FROM srf(..) with a bare alias or none: the alias doubles as the
    COLUMN name for a scalar SRF, and with no alias the column is named
    after the function (parse_relation.c chooseScalarFunctionAlias;
    regress sql/srf* `from generate_series(1,3) g`)."""
    assert [r.g for r in engine.sql(
        "SELECT g FROM generate_series(4, 6) AS g").collect()] == [4, 5, 6]
    assert [r.u for r in engine.sql(
        "SELECT u FROM unnest(ARRAY[3, 1]) u ORDER BY u").collect()] == [1, 3]
    assert engine.sql(
        "SELECT sum(unnest) AS s FROM unnest(ARRAY[1, 2, 3])"
    ).collect()[0].s == 6
    assert [r.generate_series for r in engine.sql(
        "SELECT generate_series FROM generate_series(1, 2)").collect()
    ] == [1, 2]
    # comma FROM item with alias = implicit LATERAL
    rows = [tuple(r) for r in engine.sql(
        "SELECT t.x, g FROM (VALUES (10), (20)) t(x),"
        " generate_series(1, 2) g ORDER BY x, g").collect()]
    assert rows == [(10, 1), (10, 2), (20, 1), (20, 2)]
    # bare-alias SRF inside a scalar subquery resolves there too
    assert engine.sql(
        "SELECT 1 + (SELECT min(g) FROM generate_series(4, 6) g) AS v"
    ).collect()[0].v == 5


def test_srf_nested_subquery_not_hoisted(engine):
    """[ROUND-10 session fix] An SRF inside a nested (SELECT ...) in a
    select-list item belongs to that subquery's select list — the
    select-list SRF classifier must not hoist it out (would corrupt the
    scalar subquery into a generator). Pairs with the guard in
    sql_dialect._analyze_srf_item."""
    assert engine.sql(
        "SELECT (SELECT max(x) FROM unnest(ARRAY[1, 5, 3]) AS t(x)) AS m"
    ).collect()[0].m == 5
    # select-list comma before an SRF is NOT a FROM item either
    rows = [tuple(r) for r in engine.sql(
        "SELECT 9 AS a, generate_series(1, 2) AS g, 7 AS b").collect()]
    assert rows == [(9, 1, 7), (9, 2, 7)]


def test_interval_field_qualifiers(engine):
    """INTERVAL '<str>' <range> (datetime.c DecodeInterval; regress
    sql/interval.sql:190-220): low-field binding, h:m vs m:s flip,
    finer-field truncation, fraction spill, second(p) rounding."""
    base = "TIMESTAMP '2000-01-01 00:00:00' + "
    exp = {
        "interval '1 2' day to hour": "2000-01-02 02:00:00",
        "interval '1 2:03' day to hour": "2000-01-02 02:00:00",
        "interval '1 2:03' hour to minute": "2000-01-02 02:03:00",
        "interval '1 2:03' minute to second": "2000-01-02 00:02:03",
        "interval '1 2:03:04' minute to second": "2000-01-02 02:03:04",
        "interval '1 -2:03' minute to second": "2000-01-01 23:57:57",
        "interval '1' year to month": "2000-02-01 00:00:00",
        "interval '1-2' year to month": "2001-03-01 00:00:00",
        "interval '1.5' day": "2000-01-02 12:00:00",
        "interval '12:34.5678' minute to second(2)":
            "2000-01-01 00:12:34.57",
        "interval(0) '1 day 01:23:45.6789'": "2000-01-02 01:23:46",
    }
    sel = ", ".join(
        f"CAST({base}{iv} AS STRING) AS c{i}"
        for i, iv in enumerate(exp)
    )
    r = engine.sql(f"SELECT {sel}").collect()[0]
    for i, (iv, want) in enumerate(exp.items()):
        assert getattr(r, f"c{i}") == want, iv


def test_regexp_matches_g_flag_srf(engine):
    """regexp_matches(..., 'g') is a SETOF text[] — one row per match
    (regexp.c; regress sql/strings.sql:208)."""
    rows = [list(r.m) for r in engine.sql(
        "SELECT regexp_matches('foobarbequebazilbarfbonk',"
        " '(b[^b]+)(b[^b]+)', 'g') AS m").collect()]
    assert rows == [["bar", "beque"], ["bazil", "barf"]]
    r = engine.sql(
        "SELECT regexp_matches('foObAR', '(bar)', 'i') AS m"
    ).collect()[0]
    assert list(r.m) == ["bAR"]


def test_xml_construction(engine):
    """xmlelement/xmlattributes/xmlforest/xmlcomment/xmlpi/xmlconcat/
    xmlroot (xml.c; regress sql/xml.sql): concat/escape lowering with
    nested constructors raw and text content escaped."""
    r = engine.sql(
        "SELECT xmlelement(name element,"
        "         xmlattributes (1 as one, 'deuce' as two),"
        "         'content') AS a,"
        "       xmlelement(name element,"
        "         xmlelement(name nested, 'stuff')) AS b,"
        "       xmlelement(name foo, 'b<a/>r') AS esc,"
        "       xmlelement(name foo, xml 'b<a/>r') AS raw,"
        "       xmlelement(name foo, xmlattributes(true as bar)) AS e,"
        "       xmlconcat('<foo/>', NULL, '<bar/>') AS c,"
        "       xmlforest('abc' AS foo, 123 AS bar) AS f,"
        "       xmlcomment('test') AS cm,"
        "       xmlpi(name php, 'echo 1;') AS pi,"
        "       xmlroot('<foo/>', version '1.1') AS rt"
    ).collect()[0]
    assert r.a == '<element one="1" two="deuce">content</element>'
    assert r.b == "<element><nested>stuff</nested></element>"
    assert r.esc == "<foo>b&lt;a/&gt;r</foo>"
    assert r.raw == "<foo>b<a/>r</foo>"
    assert r.e == '<foo bar="true"/>'
    assert r.c == "<foo/><bar/>"
    assert r.f == "<foo>abc</foo><bar>123</bar>"
    assert r.cm == "<!--test-->" and r.pi == "<?php echo 1;?>"
    assert r.rt == '<?xml version="1.1"?><foo/>'


def test_jsonb_path_vars_and_predicates(engine):
    """jsonb_path_* vars binding + predicate paths (jsonpath_exec.c):
    $name substitution, && / || in filters, predicate-path match with
    Unknown (NULL) on cross-type comparison."""
    r = engine.sql(
        """SELECT jsonb_path_query_array(
             '[{"a": 1}, {"a": 2}, {"a": 3}, {"a": 5}]',
             '$[*].a ? (@ > $min && @ < $max)',
             vars => '{"min": 1, "max": 4}') AS arr,
           jsonb_path_match('{"s": 2}', '$.s == $s',
                            vars => '{"s": 2}') AS m_eq,
           jsonb_path_match('{"s": 2}', '$.s < $s',
                            vars => '{"s": "x"}') AS m_unk,
           jsonb_path_exists('[{"a": 1}, {"a": 2}, 3]', 'lax $[*].a',
                             silent => true) AS ex"""
    ).collect()[0]
    assert r.arr == "[2, 3]"
    assert r.m_eq is True and r.m_unk is None and r.ex is True


def test_strict_errors_guc(engine):
    """SET strict_errors = on (ANSI mode): the should_error class —
    division by zero, int overflow, bad casts — raises like PG
    (int.c/float.c ereport) instead of returning NULL."""
    import pytest as _pytest

    # literal / literal-zero raises at PLAN time in every mode (r16:
    # int.c int4div ereports unconditionally, not only under ANSI)
    with _pytest.raises(Exception):
        engine.sql("SELECT 1/0 AS r")
    # a non-literal division stays on the relaxed/ANSI switch
    relaxed = engine.sql(
        "SELECT c/0 AS r FROM (SELECT 1 AS c)").collect()[0].r
    assert relaxed is None
    engine.sql("SET strict_errors = on")
    try:
        for q in ("SELECT c/0 FROM (SELECT 1 AS c)",
                  "SELECT CAST('abc' AS INT)",
                  "SELECT CAST(2147483647 AS INT) + CAST(1 AS INT)"):
            with _pytest.raises(Exception):
                engine.sql(q).collect()
    finally:
        engine.sql("SET strict_errors = off")
    assert engine.sql(
        "SELECT c/0 AS r FROM (SELECT 1 AS c)").collect()[0].r is None


def test_scale_function(engine):
    """scale(numeric) (numeric.c numeric_scale): decimal digits,
    trailing zeros of the literal preserved."""
    r = engine.sql(
        "SELECT scale(8.41) AS a, scale(8.4100) AS b, scale(5) AS c"
    ).collect()[0]
    assert (r.a, r.b, r.c) == (2, 4, 0)


def test_unicode_escape_strings(engine):
    """U&'...' [UESCAPE 'x'] literals (scan.l xus): \\XXXX and
    \\+XXXXXX forms decode at rewrite time; custom escape chars."""
    r = engine.sql(
        "SELECT U&'d\\0061t\\+000061' AS a,"
        "       U&'d!0061t!+000061' UESCAPE '!' AS b,"
        "       U&'\\0441\\043B\\043E\\043D' AS c"
    ).collect()[0]
    assert r.a == "data" and r.b == "data"
    assert r.c == "слон"


def test_jsonb_arrow_over_cast_and_negative_index(engine):
    """`'lit'::jsonb -> key` — the arrow LHS scan traverses ::casts
    (round-10 probe regression: the backward scan stopped at the cast
    TYPE word and mangled the rewrite); negative array subscripts
    count from the end (jsonfuncs.c jsonb_array_element). The
    json-returning `->` keeps string-leaf quoting (r14; PG `-> 1`
    over ["a","b",..] is `"b"`, not `b` — that's `->>`'s job)."""
    r = engine.sql(
        """SELECT '{"n":null,"a":1}'::jsonb -> 'a' AS a,
                  '["a","b",[1,2],null]'::jsonb -> 1 AS b,
                  '["a","b",[1,2],null]'::jsonb ->> 1 AS b_text,
                  '["a","b",[1,2],null]'::jsonb -> -2 AS c,
                  '["a","b",[1,2],null]'::jsonb -> -5 AS d,
                  '{"a":{"b":7}}'::jsonb -> 'a' ->> 'b' AS e"""
    ).collect()[0]
    assert r.a == "1" and r.b == '"b"' and r.b_text == "b"
    assert r.c == "[1,2]" and r.d is None and r.e == "7"


def test_multidim_braced_arrays_and_chained_subscripts(engine):
    """Multi-dimensional '{{..},{..}}' array literals (arrayfuncs.c
    array_in) build nested arrays; chained subscripts peel 1-based
    per dimension."""
    r = engine.sql(
        "SELECT '{{1,2,3},{4,5,6}}'::int[] AS arr,"
        "       ('{{1,2,3},{4,5,6},{7,8,9}}'::int[])[2][3] AS el,"
        "       ('{{{1},{2},{3}},{{4},{5},{6}}}'::int[])[1][2][1] AS deep"
    ).collect()[0]
    assert [list(x) for x in r.arr] == [[1, 2, 3], [4, 5, 6]]
    assert r.el == 6 and r.deep == 2


def test_array_json_function_family_r10(engine):
    """string_to_array 3-arg null-string, empty-delimiter vs NULL
    delimiter, array_to_string, array_positions, array_fill 2-D,
    json[b]_strip_nulls, jsonb_contained, jsonb_extract_path[_text]
    (varlena.c text_to_array, arrayfuncs.c, jsonfuncs.c)."""
    r = engine.sql(
        """SELECT string_to_array('1,2,,4', ',', '') AS sta,
                  string_to_array('abc', '', 'abc') AS sta_empty,
                  array_to_string(array[1,NULL,3], ',', '*') AS ats,
                  array_positions(ARRAY[1,2,1,2], 2) AS pos,
                  array_fill(7, array[2,3]) AS fill2d,
                  json_strip_nulls(
                    '{"a":1,"b":null,"c":[2,null],"d":{"e":null}}') AS sn,
                  jsonb_contained('{"a":"b"}',
                                  '{"a":"b","b":1}') AS contained,
                  jsonb_extract_path_text(
                    '{"f2":["f3",1]}', 'f2', 1::text) AS ep"""
    ).collect()[0]
    assert list(r.sta) == ["1", "2", None, "4"]
    assert list(r.sta_empty) == [None]
    assert r.ats == "1,*,3"
    assert list(r.pos) == [2, 4]
    assert [list(x) for x in r.fill2d] == [[7, 7, 7], [7, 7, 7]]
    assert r.sn == '{"a": 1, "c": [2, null], "d": {}}'
    assert r.contained is True and r.ep == "1"


def test_money_casts(engine):
    """::money input/output (cash.c cash_in/cash_out): '$'/comma/
    accounting-paren forms in, '$12,345.00' text out, ::numeric for
    the value."""
    r = engine.sql(
        "SELECT '12345'::money AS a, '(1)'::money AS b,"
        "       '$1,234.56'::money AS c,"
        "       CAST('12345678901234567'::money::numeric AS DOUBLE) AS d"
    ).collect()[0]
    assert r.a == "$12,345.00" and r.b == "-$1.00"
    assert r.c == "$1,234.56" and r.d == 1.2345678901234568e16


def test_srf_in_expression_select(engine):
    """SRFs inside SELECT-list expressions (execSRF.c): the expression
    applies per emitted row; lockstep with expressions keeps the zip
    padding."""
    assert [r[0] for r in engine.sql(
        "select abs(generate_series(-3,-1)) as absolute").collect()
    ] == [3, 2, 1]
    assert [r[0] for r in engine.sql(
        "select generate_series(1,3)+1 as output").collect()] == [2, 3, 4]
    rows = [tuple(r) for r in engine.sql(
        "select generate_series(1,2) as x, generate_series(3,6)+1 as y"
    ).collect()]
    assert rows == [(1, 4), (2, 5), (None, 6), (None, 7)]


def test_interval_pg_input_forms(engine):
    """Plain interval literals in PG spellings Spark's parser rejects
    (datetime.c DecodeInterval): colon times, mixed sign parts, the
    verbose '@ ... ago' form — routed through the same parser as the
    field-qualifier literals."""
    base = "TIMESTAMP '2000-01-01 00:00:00' + "
    exp = {
        "interval '-1 days +02:03'": "1999-12-31 02:03:00",
        "interval '02:03'": "2000-01-01 02:03:00",
        "interval '@ 1 hour ago'": "1999-12-31 23:00:00",
        "interval '1 day 02:03:04'": "2000-01-02 02:03:04",
        "interval '1 day'": "2000-01-02 00:00:00",  # native path kept
    }
    sel = ", ".join(
        f"CAST({base}{iv} AS STRING) AS c{i}" for i, iv in enumerate(exp)
    )
    r = engine.sql(f"SELECT {sel}").collect()[0]
    for i, (iv, want) in enumerate(exp.items()):
        assert getattr(r, f"c{i}") == want, iv


def test_jsonpath_operator_fallback_and_cast_lhs(engine):
    """@? / @@ forms outside the fast get_json_object subset (.*, .**,
    mid-path filters) fall back to the Arrow-batched Python jsonpath
    evaluator; '::jsonb'-cast and 'jsonb literal' LHS spellings both
    capture whole (previously the cast tail mis-scanned)."""
    r = engine.sql(
        """SELECT jsonb '{"a": {"a": 12}}' @? '$.*.a' AS star,
                  jsonb '{"c": {"a": -1}}' @? '$.** ? (@.a == -1)' AS rec,
                  '{"a":1}'::jsonb @? '$.a' AS cast_hit,
                  '{"a":1}'::jsonb @? '$.b' AS cast_miss,
                  jsonb '{"a":[1,2,3]}' @@ '$.a[*] > 2' AS m"""
    ).collect()[0]
    assert r.star and r.rec and r.cast_hit and not r.cast_miss and r.m


def test_like_custom_escape(engine):
    """LIKE ... ESCAPE '<c>' with custom escape chars, including
    wildcard chars Spark rejects as escapes (like.c MatchText;
    regress sql/strings.sql) — normalized to backslash escapes at
    rewrite time."""
    r = engine.sql(
        "SELECT 'be_r' LIKE 'b_e__r' ESCAPE '_' AS a,"
        "       'ma%a' LIKE 'm%a%%a' ESCAPE '%' AS b,"
        "       'maca' LIKE 'm%aca' ESCAPE '%' AS c,"
        "       'a_c' LIKE 'a!_c' ESCAPE '!' AS d,"
        "       'abc' LIKE 'a!_c' ESCAPE '!' AS e"
    ).collect()[0]
    # regress pins: '_'-escaped pattern is all-literal 'be_r' -> true;
    # 'm%aca' with ESCAPE '%' is literal 'maca' -> true
    assert r.a is True and r.b is True and r.c is True
    assert r.d is True and r.e is False


def test_to_char_numeric_literals_and_fm(engine):
    """Numeric to_char pictures with literal text and FM trailing-zero
    trim (formatting.c NUM parser; regress numeric.out
    to_char_24..36): unquoted/quoted literals around the digit core,
    backslash literal except \\" escapes, FM keeps forced 0-slots."""
    r = engine.sql(
        "SELECT to_char('100'::numeric, 'FM999.9') AS a,"
        "       to_char('100'::numeric, 'FM999.') AS b,"
        "       to_char('100'::numeric, 'foo999') AS c,"
        "       to_char('100'::numeric, 'f\"ool\"999') AS d,"
        "       to_char(1234.5, 'FM9,999.00') AS e"
    ).collect()[0]
    assert r.a == "100." and r.b == "100" and r.c == "foo 100"
    assert r.d == "fool 100" and r.e == "1,234.50"


def test_interval_out_presentation(engine):
    """Calendar/YM interval result columns render as PG interval_out
    text (datetime.c EncodeInterval postgres style; regress
    sql/interval.sql) — PySpark can't collect() those types at all, so
    Engine.sql rewrites them at the result boundary
    (functions/interval_out.py)."""
    cases = [
        ("interval '1 year 2 mons 3 days 04:05:06.699999'",
         "1 year 2 mons 3 days 04:05:06.699999"),
        ("interval '-10 mons -3 days +03:55:06.70'",
         "-10 mons -3 days +03:55:06.7"),
        ("interval '10 years -11 month -12 days +13:14'",
         "9 years 1 mon -12 days +13:14:00"),
        ("interval '1.5 months'", "1 mon 15 days"),
        ("interval '1' year", "1 year"),
        ("interval '1-2' year to month", "1 year 2 mons"),
        ("interval '999' month", "83 years 3 mons"),
        ("'3 days 5 milliseconds'::interval", "3 days 00:00:00.005"),
    ]
    for expr, want in cases:
        assert str(engine.sql(f"SELECT {expr} AS x").collect()[0].x) == want, expr
    # DayTimeIntervalType stays native (collects as timedelta)
    import datetime as _dt

    v = engine.sql("SELECT interval '1.5 weeks' AS x").collect()[0].x
    assert v == _dt.timedelta(days=10, hours=12)


def test_justify_interval_literals(engine):
    """justify_hours/days/interval on interval literals (timestamp.c
    interval_justify_*; regress sql/interval.sql '1 month -1 hour')."""
    r = engine.sql(
        "SELECT justify_interval(interval '1 month -1 hour') AS a,"
        "       justify_hours(interval '6 days 24 hours') AS b,"
        "       justify_days(interval '35 days') AS c"
    ).collect()[0]
    assert str(r.a) == "29 days 23:00:00"
    assert str(r.b) == "7 days"
    assert str(r.c) == "1 mon 5 days"


def test_pg_format_full_spec(engine):
    """PG format() compiled at plan time (varlena.c text_format;
    regress text.out 300-470): %s/%I/%L, %n$ positions, widths,
    */'*n$' indirect widths with the argument-advance rule, VARIADIC
    arrays, NULL handling."""
    cases = [
        ("format('INSERT INTO %I VALUES(%L,%L)', 'mytab', 10, NULL)",
         "INSERT INTO mytab VALUES('10',NULL)"),
        ("format('%s, %s', variadic array[true, false])", "t, f"),
        ("format('%s, %s', variadic array[true, false]::text[])",
         "true, false"),
        ("format('%2$s, %1$s', variadic array['first', 'second'])",
         "second, first"),
        ("format('Hello', variadic NULL::int[])", "Hello"),
        ("format('Hello %s %1$s %s', 'World', 'Hello again')",
         "Hello World World Hello again"),
        ("format('>>%10s<<', NULL)", ">>          <<"),
        ("format('>>%1$-10I<<', 'Hello')", '>>"Hello"   <<'),
        ("format('>>%2$*1$L<<', 10, NULL)", ">>      NULL<<"),
        ("format('>>%2$*1$L<<', -10, NULL)", ">>NULL      <<"),
        ("format('>>%*1$s<<', 10, 'Hello')", ">>     Hello<<"),
        ("format('>>%10L<<', NULL)", ">>      NULL<<"),
        ("format(NULL)", None),
        # NOTE: %d is NOT a PG specifier — varlena.c text_format knows
        # only s/I/L and raises "unrecognized format() type specifier";
        # the plan-time picture validation reproduces that (r14)
    ]
    for expr, want in cases:
        assert engine.sql(f"SELECT {expr} AS x").collect()[0].x == want, expr


def test_jsonb_exists_delete_fns(engine):
    """jsonb_exists/_any/_all and jsonb_delete function spellings
    (jsonfuncs.c; regress sql/jsonb.sql)."""
    r = engine.sql(
        """SELECT jsonb_exists('{"a":null, "b":"qq"}', 'b') AS a,
                  jsonb_exists('{"a":null, "b":"qq"}', 'x') AS b,
                  jsonb_exists_any('{"a":null, "b":"qq"}', ARRAY['x','b']) AS c,
                  jsonb_exists_all('{"a":null, "b":"qq"}', ARRAY['a','b']) AS d,
                  jsonb_exists_all('{"a":null, "b":"qq"}', ARRAY['a','x']) AS e,
                  jsonb_delete('{"a":1, "b":2, "c":3}'::jsonb, 'b') AS f"""
    ).collect()[0]
    assert (r.a, r.b, r.c, r.d, r.e) == (True, False, True, True, False)
    assert r.f == '{"a": 1, "c": 3}'


def test_array_fn_probe_forms(engine):
    """array_replace (null-safe swap), array_fill with an (ignored)
    lower-bounds arg, array_positions NULL/bounds-decorated input
    (arrayfuncs.c; regress sql/arrays.sql)."""
    r = engine.sql(
        "SELECT array_replace(array[1,2,NULL,4,NULL], NULL, 5) AS a,"
        "       array_replace(array['A','B','DD','B'],'B','CC') AS b,"
        "       array_fill(7, array[3], array[2]) AS c,"
        "       array_positions(NULL, 10) AS d,"
        "       array_positions('[2:4]={1,2,3}'::int[], 1) AS e,"
        "       '[0:1]={1.1,2.2}'::float8[] AS f,"
        "       num_nulls(VARIADIC array[1, NULL, 2]) AS g,"
        "       num_nulls(VARIADIC NULL::int[]) AS h"
    ).collect()[0]
    assert r.a == [1, 2, 5, 4, 5] and r.b == ["A", "CC", "DD", "CC"]
    assert r.c == [7, 7, 7] and r.d is None and r.e == [1]
    assert r.f == [1.1, 2.2] and r.g == 1 and r.h is None


def test_collate_qualifiers_dropped(engine):
    """COLLATE qualifiers accepted and ignored (documented deviation:
    default binary collation; gram.y a_expr COLLATE)."""
    r = engine.sql(
        "SELECT 'abc' COLLATE \"en_US\" AS a,"
        "       string_to_array('a,b', ',' COLLATE \"C\") AS b"
    ).collect()[0]
    assert r.a == "abc" and r.b == ["a", "b"]


def test_xmlparse_is_document(engine):
    """XMLPARSE(DOCUMENT|CONTENT .. [STRIP WHITESPACE]) and IS [NOT]
    DOCUMENT (xml.c xmlparse/xml_is_document; regress sql/xml.sql)."""
    r = engine.sql(
        "SELECT XMLPARSE(CONTENT '<abc>x</abc>'::text PRESERVE WHITESPACE) AS a,"
        "       XMLPARSE(CONTENT '<a> <b>x</b> </a>' STRIP WHITESPACE) AS b,"
        "       xml '<foo>bar</foo>' IS DOCUMENT AS c,"
        "       xml '<foo>bar</foo><bar>foo</bar>' IS DOCUMENT AS d,"
        "       xml '<abc/>' IS NOT DOCUMENT AS e"
    ).collect()[0]
    assert r.a == "<abc>x</abc>" and r.b == "<a><b>x</b></a>"
    assert (r.c, r.d, r.e) == (True, False, False)
    import pytest as _pytest

    with _pytest.raises(Exception):
        engine.sql("SELECT XMLPARSE(DOCUMENT 'not xml')").collect()


def test_to_number_pg_pictures(engine):
    """to_number with PG pictures folds at plan time (formatting.c
    do_to_number; regress numeric.out to_number_1..22)."""
    cases = [
        ("to_number('-34,338,492', '99G999G999')", -34338492),
        ("to_number('<564646.654564>', '999999.999999PR')", -564646.654564),
        ("to_number('5.01-', 'FM9.999999S')", -5.01),
        ("to_number('5 4 4 4 4 8 . 7 8', '9 9 9 9 9 9 . 9 9')", 544448.78),
        ("to_number('.-01', 'S99.99')", -0.01),
        ("to_number('34,50','999,99')", 3450),
        ("to_number('123,000','999G')", 123),
        ("to_number('$1,234.56','L99,999.99')", 1234.56),
        ("to_number('42nd', '99th')", 42),
    ]
    for expr, want in cases:
        got = engine.sql(f"SELECT {expr} AS x").collect()[0].x
        assert float(got) == want, expr


def test_to_char_iso_week_roman(engine):
    """DCH tokens with no Java twin: ISO week family IYYY/IW/ID/I,
    W/WW/CC/J, Roman months RM/rm (formatting.c; Spark's Proleptic
    parser rejects Y/w patterns outright)."""
    r = engine.sql(
        "SELECT to_char(date '2022-01-01', 'IYYY-IW-ID') AS a,"
        "       to_char(date '2010-02-01', 'RM') AS b,"
        "       to_char(date '2010-02-01', 'FMrm') AS c,"
        "       to_char(date '2010-09-15', 'W') AS d,"
        "       to_char(date '2010-12-31', 'WW') AS e,"
        "       to_char(date '2000-01-01', 'J') AS f,"
        "       to_char(date '2010-02-01', 'DD TMMON YYYY') AS g"
    ).collect()[0]
    assert r.a == "2021-52-6" and r.b == "II  " and r.c == "ii"
    assert r.d == "3" and r.e == "53" and r.f == "2451545"
    assert r.g == "01 FEB 2010"


def test_numeric_nan_and_float_hash_fns(engine):
    """'NaN'::numeric keeps IEEE semantics through the power operator
    (float.c dpow), and the float hash / aggregate-transition
    functions satisfy the regress identities (hashfunc.c, float.c)."""
    import math

    r = engine.sql(
        "SELECT 'NaN'::numeric ^ 0 AS a, 0 ^ 'NaN'::numeric AS b,"
        "       hashfloat4('0'::float4) = hashfloat4('-0'::float4) AS c,"
        "       hashfloat4('NaN'::float4) = hashfloat8('NaN'::float8) AS d,"
        "       float8_accum('{4,140,2900}'::float8[], 100) AS e,"
        "       float8_combine('{3,60,200}'::float8[], '{2,180,200}'::float8[]) AS f,"
        "       float8_regr_accum('{4,140,2900,1290,83075,15050}'::float8[], 200, 100) AS g"
    ).collect()[0]
    assert float(r.a) == 1.0 and math.isnan(float(r.b))
    assert r.c is True and r.d is True
    assert r.e == [5.0, 240.0, 12900.0]
    assert r.f == [5.0, 240.0, 400.0]
    assert r.g == [5.0, 240.0, 12900.0, 1490.0, 123075.0, 35050.0]


def test_pg_time_and_timetz_family(engine):
    """PG time / time-with-time-zone input forms and arithmetic
    (utils/adt/date.c time_in/timetz_in/time_pl_interval; regress
    sql/time.sql, sql/timetz.sql): time models as DayTimeInterval,
    timetz as canonical text; literal arithmetic folds at plan time
    and wraps mod 24 h with interval day/month fields ignored."""
    import datetime as dt

    cases = [
        ("'23:59:59.999999'::time",
         dt.timedelta(hours=23, minutes=59, seconds=59, microseconds=999999)),
        ("time without time zone 'T040506.789+08'",
         dt.timedelta(hours=4, minutes=5, seconds=6, microseconds=789000)),
        ("time with time zone '040506.789-08'", "04:05:06.789-08"),
        ("'23:59:59.999999 PDT'::timetz", "23:59:59.999999-07"),
        ("timetz '11:00-5'", "11:00:00-05"),
        ("time '03:30' + interval '1 month 04:01'",
         dt.timedelta(hours=7, minutes=31)),
        ("time with time zone '01:30-08' - interval '02:01'",
         "23:29:00-08"),
        ("time with time zone '02:30-08' + interval '36:01'",
         "14:31:00-08"),
        ("CAST(time '01:02' AS interval)", dt.timedelta(hours=1, minutes=2)),
        ("CAST(interval '02:03' AS time)", dt.timedelta(hours=2, minutes=3)),
    ]
    for expr, want in cases:
        assert engine.sql(f"SELECT {expr} AS x").collect()[0].x == want, expr
    # date + time = timestamp; date + timetz = the instant (date.c
    # datetime_timestamp / datetimetz_timestamptz), also as the
    # timestamptz(d, t) constructor
    r = engine.sql(
        "SELECT date '1991-02-03' + time with time zone '04:05:06 PST' AS a,"
        "       timestamptz(date '1994-01-01', timetz '11:00-5') AS b,"
        "       timestamptz(date '1994-01-01', time '10:00') AS c,"
        "       now()::time::text = localtime::text AS d,"
        "       now()::timetz::text = current_time::text AS e"
    ).collect()[0]
    assert r.a.replace(tzinfo=None) == dt.datetime(1991, 2, 3, 12, 5, 6)
    assert r.b.replace(tzinfo=None) == dt.datetime(1994, 1, 1, 16, 0)
    assert r.c.replace(tzinfo=None) == dt.datetime(1994, 1, 1, 10, 0)
    assert r.d is True and r.e is True


def test_pg_network_types(engine):
    """PG network types (network.c inet_in/out, network_plus/minus;
    mac8.c macaddr8_in/_set7bit; regress sql/inet.sql:763-833,
    sql/macaddr8.sql): canonical-text model, literal casts and literal
    arithmetic folded at plan time (chains fold to a fixpoint), text
    accessors as pure SQL."""
    cases = [
        ("'127.0.0.1'::inet + 257", "127.0.1.2"),
        ("('127.0.0.1'::inet + 257) - 257", "127.0.0.1"),
        ("'127::1'::inet + 10000000000", "127::2:540b:e401"),
        ("'127::1'::inet - '127::2'::inet", -1),
        ("'127.0.0.2'::inet - ('127.0.0.2'::inet + 500)", -500),
        ("'    08:00:2b:01:02:03     '::macaddr8",
         "08:00:2b:ff:fe:01:02:03"),
        ("macaddr8_set7bit('00:08:2b:01:02:03'::macaddr8)",
         "02:08:2b:ff:fe:01:02:03"),
        ("'192.168.1.5/24'::cidr", "192.168.1.0/24"),
        ("host('192.168.1.5/24'::inet)", "192.168.1.5"),
        ("masklen('192.168.1.5/24'::inet)", 24),
        ("family('127::1'::inet)", 6),
        ("inet_same_family('127::1'::inet, '10.0.0.1'::inet)", False),
        ("'08-00-2b-01-02-03'::macaddr", "08:00:2b:01:02:03"),
        # masked operands (network_pl keeps the mask; inet-inet ignores
        # masks; inet_out drops a full-length /32 — inet.sql:90-118)
        ("'10.0.0.1/24'::inet + 5", "10.0.0.6/24"),
        ("'10.0.0.9/24'::inet - '10.0.0.1'::inet", 8),
        ("'10.0.0.1/32'::inet", "10.0.0.1"),
        ("'::ffff:1.2.3.4/128'::inet", "::ffff:1.2.3.4"),
    ]
    for expr, want in cases:
        assert engine.sql(f"SELECT {expr} AS x").collect()[0].x == want, expr


def test_quantified_subquery_null_semantics(engine):
    """ANY/ALL over a subquery keep PG's three-valued result
    (execExprInterp.c ExecScanSubPlan): a NULL comparison that could
    decide the outcome yields NULL, not false/true; the empty set
    stays false (ANY) / true (ALL)."""
    r = engine.sql(
        "SELECT 1 = ANY(SELECT NULL) AS a,"
        "       1 = ANY(SELECT unnest(array[2, NULL])) AS b,"
        "       1 = ANY(SELECT unnest(array[1, NULL])) AS c,"
        "       1 = ANY(SELECT unnest(array[]::int[])) AS d,"
        "       1 = ALL(SELECT NULL) AS e,"
        "       1 = ALL(SELECT unnest(array[1, NULL])) AS f,"
        "       1 = ALL(SELECT unnest(array[2, NULL])) AS g,"
        "       1 = ALL(SELECT unnest(array[]::int[])) AS h"
    ).collect()[0]
    assert r.a is None and r.b is None and r.c is True and r.d is False
    assert r.e is None and r.f is None and r.g is False and r.h is True


def test_strict_errors_reset_restores_ansi(engine):
    """RESET strict_errors / RESET ALL / DISCARD ALL restore the
    relaxed posture (spark.sql.ansi.enabled=false), not just the GUC
    text — guc.c reset semantics."""
    conf = engine.spark.conf
    try:
        engine.sql("SET strict_errors = on")
        assert conf.get("spark.sql.ansi.enabled") == "true"
        engine.sql("RESET strict_errors")
        assert conf.get("spark.sql.ansi.enabled") == "false"
        engine.sql("SET strict_errors = on")
        engine.sql("RESET ALL")
        assert conf.get("spark.sql.ansi.enabled") == "false"
        engine.sql("SET strict_errors = on")
        engine.sql("DISCARD ALL")
        assert conf.get("spark.sql.ansi.enabled") == "false"
        # SHOW reports the default after reset
        row = engine.sql("SHOW strict_errors").collect()[0]
        assert row[0] == "off"
    finally:
        conf.set("spark.sql.ansi.enabled", "false")


def test_timetz_session_zone_offset(engine):
    """current_time / ::timetz carry the SESSION zone's UTC offset in
    PG's ±hh[:mm] spelling (date.c timetz_out), not a hardcoded +00."""
    try:
        engine.sql("SET TIME ZONE 'Asia/Kolkata'")
        r = engine.sql(
            "SELECT current_time AS a,"
            "       ('2024-06-01 10:30:00'::timestamp)::timetz AS b"
        ).collect()[0]
        assert r.a.endswith("+05:30"), r.a
        assert r.b.endswith("+05:30"), r.b
        engine.sql("SET TIME ZONE 'America/Los_Angeles'")
        r = engine.sql(
            "SELECT ('2024-01-15 10:30:00'::timestamp)::timetz AS b"
        ).collect()[0]
        assert r.b.endswith("-08"), r.b
    finally:
        engine.sql("SET TIME ZONE DEFAULT")


def test_probe_misc_round10b(engine):
    """Second round-10 probe sweep: factorial operators (pre-14 gram.y
    postfix !/prefix !!), millennium/century/decade interval units
    (datetime.c), numeric precision clamping past DECIMAL's 38 cap,
    heterogeneous json_build_array (json.c), compact ISO-8601
    timestamptz input, and quantified comparisons over FROM-less SRF
    subqueries (parse_expr.c SubLink ANY/ALL)."""
    import datetime as dt

    r = engine.sql(
        "SELECT 4! AS a, !!3 AS b,"
        "       '2 centuries 3 decades'::interval AS c,"
        "       exp(1.0::numeric(71,70)) AS d,"
        "       json_build_array('a',1,true,NULL,json '{\"x\": 3}') AS e,"
        "       json_build_array(1, 2, NULL) AS f,"
        "       timestamp with time zone '20011227T040506.789+08' AS g,"
        "       (SELECT 1) = ALL (SELECT generate_series(1, 2)) AS h,"
        "       (SELECT 3) = ALL (SELECT generate_series(3, 3)) AS i,"
        "       3 = ANY(SELECT generate_series(1, 4)) AS j"
    ).collect()[0]
    assert r.a == 24 and r.b == 6
    assert str(r.c) == "230 years"
    assert abs(float(r.d) - 2.718281828459045) < 1e-12
    assert r.e == '["a",1,true,null,{"x": 3}]'
    assert r.f == "[1,2,null]"
    assert r.g.astimezone(dt.timezone.utc).replace(tzinfo=None) == (
        dt.datetime(2001, 12, 26, 20, 5, 6, 789000)
    )
    assert (r.h, r.i, r.j) == (False, True, True)


def test_nd_array_ctor_and_mixed_dim_concat(engine):
    """PG multi-dimensional ARRAY constructors spell inner dimensions
    as bare brackets (gram.y array_expr), and 1-D operands concatenate
    against 2-D ones AS A ROW (arrayfuncs.c array_cat; regress
    sql/arrays.sql)."""
    r = engine.sql(
        "SELECT ARRAY[[1,2],[3,4]] || ARRAY[5,6] AS a,"
        "       array_cat(ARRAY[1,2], ARRAY[[3,4],[5,6]]) AS b,"
        "       array_cat(ARRAY[[3,4],[5,6]], ARRAY[1,2]) AS c,"
        "       ARRAY[[['hello','world']]] AS d,"
        "       ARRAY[1,2] || ARRAY[3] AS e"
    ).collect()[0]
    assert r.a == [[1, 2], [3, 4], [5, 6]]
    assert r.b == [[1, 2], [3, 4], [5, 6]]
    assert r.c == [[3, 4], [5, 6], [1, 2]]
    assert r.d == [[["hello", "world"]]] and r.e == [1, 2, 3]


def test_nested_srf_arguments(engine):
    """SRF-in-SRF-argument nesting (execSRF.c; regress sql/tsrf.sql):
    the inner SRF hoists into a derived table and the outer runs per
    inner row — PG's lateral evaluation order."""
    def rows(q):
        return sorted(r[0] for r in engine.sql(q).collect())

    assert rows("SELECT generate_series(1, generate_series(1, 3))") == (
        [1, 1, 1, 2, 2, 3]
    )
    assert rows(
        "select generate_series(generate_series(1,2)+1,4) as o"
    ) == [2, 3, 3, 4, 4]
    assert rows(
        "select generate_series(generate_series(1,2),4)+1 as o"
    ) == [2, 3, 3, 4, 4, 5, 5]


def test_probe_misc_round10c(engine):
    """Third round-10 probe sweep: PG date input forms (month-name
    orders, two-digit-year window, Julian 'J2451187' — datetime.c
    DecodeDateTime; regress sql/date.sql), to_json over scalars,
    jsonb_* aliases, numeric json_build_object keys, element||array
    concatenation, width_bucket's thresholds-array form, VARIADIC
    concat_ws, sha2 digests, and pre-seeded GUC defaults."""
    r = engine.sql(
        "SELECT date 'January 8, 1999' AS a, date 'J2451187' AS b,"
        "       date '08-Jan-99' AS c, 'Jan 8 1999'::date AS d,"
        "       to_json(date '2014-05-28') AS e,"
        "       jsonb_array_length('[1,2,3]') AS f,"
        "       jsonb_build_object(1,2) AS g,"
        "       0 || ARRAY[1,2] || 3 AS h,"
        "       width_bucket(5, ARRAY[3, 4, 11]) AS i,"
        "       concat_ws(',', variadic NULL::int[]) AS j,"
        "       concat_ws(',', variadic array[1,2,3]) AS k,"
        "       num_nulls(VARIADIC '{\"1\",\"2\"}'::text[]) AS l,"
        "       hex(sha256('abc')) AS m,"
        "       current_setting('work_mem') AS n"
    ).collect()[0]
    import datetime as dt

    assert r.a == r.b == r.c == r.d == dt.date(1999, 1, 8)
    assert r.e == '"2014-05-28"' and r.f == 3 and r.g == '{"1":2}'
    assert r.h == [0, 1, 2, 3] and r.i == 2
    assert r.j is None and r.k == "1,2,3" and r.l == 0
    assert r.m.lower().startswith("ba7816bf8f01cfea")
    assert r.n == "4MB"


def test_probe_misc_round10d(engine):
    """Fourth round-10 probe sweep: compact 'YYYYMMDD' date input,
    make_interval named-argument notation (funcapi :=), and ?|/?& with
    braced-literal text[] operands."""
    import datetime as dt

    r = engine.sql(
        "SELECT date '19990108' AS a,"
        "       make_interval(years := 1, months := 6) AS b,"
        "       jsonb '{\"x\":1}' ?& '{}'::text[] AS c,"
        "       jsonb '{\"x\":1}' ?| '{y,x}'::text[] AS d"
    ).collect()[0]
    assert r.a == dt.date(1999, 1, 8)
    assert str(r.b) == "1 year 6 mons"
    assert r.c is True and r.d is True


def test_bit_string_literals(engine):
    """PG bit strings (gram.y BCONST/XCONST; varbit.c; regress
    sql/bit.sql): B'0101' models as 0/1 text, X'1F' expands to bits,
    an immediate ::int reads the binary value, and get_bit/set_bit use
    PG's 0-based left-to-right positions."""
    r = engine.sql(
        "SELECT get_bit(B'0101011000100', 10) AS a,"
        "       set_bit(B'0101011000100100', 15, 1) AS b,"
        "       x'20000'::int AS c, B'1010' AS d, X'1F' AS e,"
        "       B'101'::int AS f"
    ).collect()[0]
    assert r.a == 1 and r.b == "0101011000100101"
    assert r.c == 131072 and r.d == "1010"
    assert r.e == "00011111" and r.f == 5


def test_pg_geometric_types(engine):
    """PG geometric types point/box/circle (utils/adt/geo_ops.c;
    regress sql/point.sql, box.sql, circle.sql): struct model, literal
    folds, constructors, operators and accessors as inline Catalyst
    arithmetic dispatched statically at rewrite time."""
    cases = [
        ("point '(1,2)' <-> point '(4,6)'", 5.0),
        ("'(0,0)'::point <-> '(3,4)'::point", 5.0),
        ("box '((0,0),(2,2))' @> point '(1,1)'", True),
        ("box '((0,0),(2,2))' @> point '(3,1)'", False),
        ("circle '<(0,0),2>' @> point '(1,1)'", True),
        ("area(box '((0,0),(2,3))')", 6.0),
        ("round(area(circle '<(0,0),2>'), 6)", 12.566371),
        ("width(box '((0,0),(2,3))')", 2.0),
        ("height(box '((0,0),(2,3))')", 3.0),
        ("radius(circle '<(0,0),2>')", 2.0),
        ("diameter(circle '<(0,0),2>')", 4.0),
        ("box '((0,0),(2,2))' && box '((1,1),(3,3))'", True),
        ("box '((0,0),(1,1))' && box '((2,2),(3,3))'", False),
        ("(center(box '((0,0),(2,4))')).y", 2.0),
        ("circle '<(0,0),1>' <-> circle '<(5,0),1>'", 3.0),
        ("box(point '(0,0)', point '(2,2)') @> point '(1,1)'", True),
        ("point '(1,2)' ~= point '(1,2)'", True),
        ("(@@ circle '<(3,4),2>').x", 3.0),
        ("circle '<(0,0),3>' <@ circle '<(0,0),5>'", True),
        ("area(box(point '(0,0)', point '(2,3)'))", 6.0),
        # box corners normalize high/low at construction (box_in)
        ("(box '((2,2),(0,0))').x1", 2.0),
    ]
    for expr, want in cases:
        got = engine.sql(f"SELECT {expr} AS x").collect()[0].x
        if isinstance(want, float):
            assert abs(got - want) < 1e-9, (expr, got)
        else:
            assert got == want, (expr, got)


def test_probe_families_round11(engine):
    """Round-11 probe families: jsonb - text[]/int (jsonb_delete_array
    / jsonb_delete_idx), NULL-key arrows, xmlexists PASSING BY REF +
    count() XPath, Julian timestamp-with-time input, money casts on
    parenthesized/chained operands, name/char typed literals,
    COLLATION FOR, to_date exotic pictures (J / W MM CC YY)."""
    import datetime as dt

    cases = [
        ("'{\"a\":1,\"b\":2,\"c\":3}'::jsonb - '{c,b}'::text[]",
         '{"a": 1}'),
        ("'[\"a\",\"b\"]'::jsonb - 1", '["a"]'),
        ("'{\"a\":1,\"b\":2}'::jsonb - 'a'", '{"b": 2}'),
        ("'{\"a\": 1}'::jsonb -> null::text", None),
        ("xmlexists('count(/nosuchtag)' PASSING BY REF '<root/>')",
         True),
        ("xmlexists('//t[text() = ''x'']' PASSING '<r><t>x</t></r>')",
         True),
        ("(-12345)::money", "-$12,345.00"),
        ("12345678901234567::int8::money",
         "$12,345,678,901,234,567.00"),
        ("name 'namefield'", "namefield"),
        ("char 'c' = char 'c'", True),
        ("collation for ('foo'::text)", "default"),
        ("to_date('2458872', 'J')", dt.date(2020, 1, 23)),
        ("to_date('3 4 21 01', 'W MM CC YY')", dt.date(2001, 4, 15)),
        ("to_date(to_char(20010101, '99999999'), 'YYYYMMDD')",
         dt.date(2001, 1, 1)),
    ]
    for expr, want in cases:
        got = engine.sql(f"SELECT {expr} AS x").collect()[0].x
        assert got == want, (expr, got)
    r = engine.sql(
        "SELECT timestamp with time zone 'J2452271 04:05:06+08' AS a,"
        "       timestamp with time zone 'J2452271.5-08' AS b"
    ).collect()[0]
    assert r.a.replace(tzinfo=None) == dt.datetime(2001, 12, 26, 20, 5, 6)
    assert r.b.replace(tzinfo=None) == dt.datetime(2001, 12, 27, 20, 0)


def test_pg_encode_decode(engine):
    """encode/decode bytea<->text (utils/adt/encode.c): hex (lowercase),
    base64 (76-char line wrap, whitespace-tolerant input), escape
    (octal \\NNN); nested chains fold to a fixpoint."""
    r = engine.sql(
        "SELECT encode('\\x1234567890abcdef00', 'hex') AS hex_out,"
        "       encode('\\x1234567890abcdef00', 'escape') AS esc_out,"
        "       encode(decode(encode('\\x1234567890abcdef00',"
        "              'escape'), 'escape'), 'hex') AS roundtrip,"
        "       encode('abc', 'base64') AS b64,"
        "       decode('MTIzAAE=', 'base64') AS b64_in"
    ).collect()[0]
    assert r.hex_out == "1234567890abcdef00"
    assert r.esc_out == "\\0224Vx\\220\\253\\315\\357\\000"
    assert r.roundtrip == "1234567890abcdef00"
    assert r.b64 == "YWJj"
    assert bytes(r.b64_in) == b"123\x00\x01"
    wrap = engine.sql(
        "SELECT encode(('\\x' || repeat('1234567890abcdef0001', 7))"
        "::bytea, 'base64') AS x"
    ).collect()[0].x
    assert len(wrap.split("\n")[0]) == 76 and not wrap.endswith("\n")
    # Oracle-style conditional decode is untouched
    assert engine.sql(
        "SELECT decode(2, 1, 'one', 2, 'two', 'other') AS x"
    ).collect()[0].x == "two"


def test_probe_families_round11b(engine):
    """Second round-11 probe sweep: json typed literals with unicode
    escapes through arrows, minutes-only timestamptz offsets, mixed
    sign-separated interval fields, timestamptz literal keyword,
    NULL path elements under #>, suffix-attached interval units."""
    import datetime as dt

    r = engine.sql(
        "SELECT json '{ \"a\": \"dollar \\u0024 sign\" }' ->> 'a' AS a,"
        "       timestamp with time zone '2005-04-02 12:00-07'"
        "         + interval '1 day' AS b,"
        "       timestamp '1999-12-01'"
        "         + interval '1 month - 1 second' AS c,"
        "       timestamptz '2014-05-28 12:22:35.614298-04' AS d,"
        "       '{\"a\": 1}'::json #> array['a', null] AS e,"
        "       '2y 3mon 4d'::interval AS f"
    ).collect()[0]
    assert r.a == "dollar $ sign"
    assert r.b.replace(tzinfo=None) == dt.datetime(2005, 4, 3, 19, 0)
    assert r.c.replace(tzinfo=None) == dt.datetime(1999, 12, 31, 23, 59, 59)
    assert r.d.replace(tzinfo=None) == dt.datetime(2014, 5, 28, 16, 22, 35, 614298)
    assert r.e is None
    assert str(r.f) == "2 years 3 mons 4 days"


def test_jsonpath_strict_mode_raises(engine):
    """jsonb_path_query raises on strict-mode structural violations
    (jsonpath_exec.c: member accessor on a missing key, out-of-bounds
    subscript) while lax mode and the silent @? / @@ operators stay
    quiet — PG's exact error posture."""
    import pytest as _pytest

    for q in ("SELECT jsonb_path_query('{}', 'strict $.a')",
              "SELECT jsonb_path_query('[]', 'strict $[2]')"):
        with _pytest.raises(Exception):
            engine.sql(q).collect()
    assert engine.sql(
        "SELECT jsonb_path_query('{}', 'lax $.a') AS x"
    ).count() == 0
    assert engine.sql(
        "SELECT '{}'::jsonb @? 'strict $.a' AS x"
    ).collect()[0].x is None


def test_create_function_parameter_defaults(engine):
    """CREATE FUNCTION parameter DEFAULTs (functioncmds.c; both the
    DEFAULT and '=' spellings) map onto Spark SQL UDF defaults."""
    engine.sql(
        "CREATE FUNCTION fdefault_t(a int, b int default 1,"
        " c text default 'foo') RETURNS int"
        " AS $$ SELECT a + b + length(c) $$ LANGUAGE sql"
    )
    assert engine.sql("SELECT fdefault_t(5) AS x").collect()[0].x == 9
    assert engine.sql(
        "SELECT fdefault_t(5, 10, 'ab') AS x"
    ).collect()[0].x == 17
    engine.sql("CREATE FUNCTION feq_t(a int, b int = 7) RETURNS int"
               " RETURN a * b")
    assert engine.sql("SELECT feq_t(3) AS x").collect()[0].x == 21
    # a DEFAULT survives an IN prefix and an unnamed parameter
    # (functioncmds.c: defaults are positional attributes, the name —
    # or its absence — is irrelevant)
    engine.sql("CREATE FUNCTION fdin_t(a int, IN b int DEFAULT 4)"
               " RETURNS int RETURN a + b")
    assert engine.sql("SELECT fdin_t(1) AS x").collect()[0].x == 5
    engine.sql("CREATE FUNCTION fdun_t(int, int DEFAULT 40)"
               " RETURNS int RETURN $1 + $2")
    assert engine.sql("SELECT fdun_t(2) AS x").collect()[0].x == 42


def test_advice_fixes_round12(engine):
    """Round-12 ADVICE items: to_date CC/YYY composition
    (formatting.c do_to_timestamp — CC ignored when a 4-digit year is
    present, CC with YY=00 is the century year, CC alone is the first
    year of the century; YYY completes to 1500-2499), and geo
    EPSILON=1e-6 fuzzed comparisons (geo_ops.c FPle/FPge/FPeq) for
    @>, && and ~=."""
    import datetime as dt

    cases = [
        ("to_date('21 00', 'CC YY')", dt.date(2100, 1, 1)),
        ("to_date('21 01', 'CC YY')", dt.date(2001, 1, 1)),
        ("to_date('21 1999', 'CC YYYY')", dt.date(1999, 1, 1)),
        ("to_date('21', 'CC')", dt.date(2001, 1, 1)),
        ("to_date('123', 'YYY')", dt.date(2123, 1, 1)),
        ("to_date('678', 'YYY')", dt.date(1678, 1, 1)),
        # box_contain through FPge/FPle: 1e-7 past the edge still
        # contains; 1e-5 does not
        ("box '((0,0),(2,2))' @> box '((0,0),(2,2.0000001))'", True),
        ("box '((0,0),(2,2))' @> box '((0,0),(2,2.00001))'", False),
        ("box '((0,0),(1,1))' && box '((1.0000001,1),(2,2))'", True),
        ("box '((0,0),(1,1))' && box '((1.00001,1),(2,2))'", False),
        ("point '(1,1)' ~= point '(1.0000001,1)'", True),
        ("point '(1,1)' ~= point '(1.00001,1)'", False),
        ("box '((0,0),(1,1))' ~= box '((1,1),(0,0))'", True),
        ("circle '<(0,0),2>' ~= circle '<(0,0),2.0000001>'", True),
        ("circle '<(0,0),5>' @> circle '<(1,1),3.5857865>'", True),
    ]
    for expr, want in cases:
        got = engine.sql(f"SELECT {expr} AS x").collect()[0].x
        assert got == want, (expr, got)


def test_setof_sql_table_functions(engine):
    """RETURNS SETOF / RETURNS TABLE SQL functions (functioncmds.c;
    regress sql/rangefuncs.sql) lower to native Spark SQL table
    functions: FROM-calls inline as Catalyst subqueries; the
    sole-target select-list form takes the ProjectSet lowering; STRICT
    yields zero rows on NULL input; SETOF over a session composite
    expands its field list."""
    engine.sql(
        "CREATE FUNCTION srf_gs(a int, b int) RETURNS SETOF int"
        " AS $$ SELECT generate_series(a, b) $$ LANGUAGE sql"
    )
    assert [r.srf_gs for r in
            engine.sql("SELECT * FROM srf_gs(4, 6)").collect()] == [4, 5, 6]
    # PG names the single column after the function; alias overrides
    assert [r.g for r in
            engine.sql("SELECT srf_gs(1, 2) AS g").collect()] == [1, 2]
    engine.sql(
        "CREATE FUNCTION srf_tab(n int) RETURNS TABLE (k int, v text)"
        " AS $$ SELECT i, 'v' || i FROM generate_series(1, n) AS g(i) $$"
        " LANGUAGE sql"
    )
    rows = engine.sql(
        "SELECT t.k, t.v FROM srf_tab(2) t ORDER BY t.k"
    ).collect()
    assert [(r.k, r.v) for r in rows] == [(1, "v1"), (2, "v2")]
    engine.sql(
        "CREATE FUNCTION srf_strict(n int) RETURNS SETOF int"
        " AS $$ SELECT generate_series(1, n) $$ LANGUAGE sql STRICT"
    )
    assert engine.sql("SELECT * FROM srf_strict(NULL)").collect() == []
    # SETOF composite expands the composite's fields as columns
    engine.sql("CREATE TYPE srf_pair AS (a int, b int)")
    engine.sql(
        "CREATE FUNCTION srf_pairs(n int) RETURNS SETOF srf_pair"
        " AS $$ SELECT i, i * 10 FROM generate_series(1, n) AS g(i) $$"
        " LANGUAGE sql"
    )
    rows = engine.sql("SELECT * FROM srf_pairs(2) ORDER BY a").collect()
    assert [(r.a, r.b) for r in rows] == [(1, 10), (2, 20)]
    engine.sql("DROP FUNCTION srf_gs")
    engine.sql("DROP TYPE srf_pair")


def test_to_timestamp_exotic_pictures(engine):
    """to_timestamp plan-time fold (formatting.c do_to_timestamp) for
    pictures Java patterns can't express: ISO-calendar IYYY/IW/ID/
    IDDD composition (fromisocalendar), roman months (RM), grouped
    years (Y,YYY with a value-side ordinal suffix), day-name skip,
    HH12+PM, backslash separators, and leading short-year windows."""
    import datetime as dt

    cases = [
        ("to_timestamp('1985 \\\\ 12', 'YYYY \\\\\\\\ DD')",
         dt.datetime(1985, 1, 12)),
        ("to_timestamp('1,582nd VIII 21', 'Y,YYYth FMRM DD')",
         dt.datetime(1582, 8, 21)),
        ("to_timestamp('2000January09Sunday', 'YYYYFMMonthDDFMDay')",
         dt.datetime(2000, 1, 9)),
        ("to_timestamp('9-1116', 'Y-MMDD')", dt.datetime(2009, 11, 16)),
        ("to_timestamp('95-1116', 'YY-MMDD')",
         dt.datetime(1995, 11, 16)),
        ("to_timestamp('995-1116', 'YYY-MMDD')",
         dt.datetime(1995, 11, 16)),
        ("to_timestamp('2005527', 'IYYYIWID')", dt.datetime(2006, 1, 1)),
        ("to_timestamp('005527', 'IYYIWID')", dt.datetime(2006, 1, 1)),
        ("to_timestamp('5527', 'IIWID')", dt.datetime(2006, 1, 1)),
        ("to_timestamp('2005364', 'IYYYIDDD')", dt.datetime(2006, 1, 1)),
        ("to_timestamp('2011-12-18 11:38 PM', 'YYYY-MM-DD HH12:MI PM')",
         dt.datetime(2011, 12, 18, 23, 38)),
    ]
    for expr, want in cases:
        got = engine.sql(f"SELECT {expr} AS x").collect()[0].x
        assert got == want, (expr, got)


def test_out_params_and_plpgsql_return_query(engine):
    """OUT parameters define the record result (functioncmds.c) and a
    PL/pgSQL single-RETURN-QUERY body lowers like a SQL table
    function (pl_exec.c exec_stmt_return_query); trigger-function DDL
    is accepted without registering a callable; PERFORM is elided."""
    engine.sql(
        "create function r12_out(a int, b int, out s int, out p int)"
        " as $$ select a + b, a * b $$ language sql"
    )
    r = engine.sql("SELECT * FROM r12_out(3, 4)").collect()[0]
    assert (r.s, r.p) == (7, 12)
    r = engine.sql("SELECT r12_out(2, 5) AS v").collect()[0].v
    assert (r.s, r.p) == (7, 10)
    engine.sql(
        "create function r12_rq(lo int) returns setof int"
        " language plpgsql as $$ begin return query"
        " select generate_series(lo, lo + 2); end $$"
    )
    assert [r.r12_rq for r in
            engine.sql("SELECT * FROM r12_rq(5)").collect()] == [5, 6, 7]
    engine.sql(
        "create function r12_trig() returns trigger as $$ begin"
        " new.f1 := 1; return new; end $$ language plpgsql"
    )
    engine.sql(
        "create function r12_perf(x int) returns int language plpgsql"
        " as $$ begin perform x * 100; return x + 1; end $$"
    )
    assert engine.sql("SELECT r12_perf(3) AS v").collect()[0].v == 4


def test_probe_families_round12(engine):
    """Round-12 probe families: xpath over arbitrary documents
    (pg_xpath — serialization, //text(), count()/name()), jsonb ||
    (object merge, NOT string concat), jsonpath silent => true,
    json SRFs in the select list, populate_record over an anonymous
    row() base, IS OF, interval literal comparisons (interval_cmp
    justification), bytea bit/byte accessors, record byte-compare
    operators, compact date/timestamp input, scale/num_nonnulls/
    current_schemas, make_timestamptz zone abbreviations,
    xmlserialize char(n) padding, composite record_in quoting."""
    import datetime as dt

    cases = [
        ("xpath('//b', '<a>one <b>two</b> three <b>etc</b></a>')",
         ["<b>two</b>", "<b>etc</b>"]),
        ("xpath('count(//*)=3', '<root><sub/><sub/></root>')",
         ["true"]),
        ("xpath('name(/*)', '<root/>')", ["root"]),
        ("xpath_exists('//b', '<a><b>x</b></a>'::xml)", True),
        ("'{\"a\":1}'::jsonb || '{\"b\":2}'::jsonb",
         '{"a": 1, "b": 2}'),
        ("'[\"a\"]'::jsonb || '[\"b\"]'::jsonb", '["a", "b"]'),
        ("jsonb_path_query_first('[{\"a\":1},{}]', 'strict $[*].a',"
         " silent => true)", "1"),
        ("jsonb_exists_all('{\"a\":1}', '{}'::text[])", True),
        ("(json_populate_record(row(1,2), '{\"f1\": 7}')).f1", 7),
        ("1 is of (int4)", True),
        ("1 is not of (text)", True),
        ("ARRAY[1,2,3]::text[]::int[]::float8[] is of (float8[])",
         True),
        ("'30 days'::interval = '1 month'::interval", True),
        ("'30 days'::interval < '1 month 1 day'::interval", True),
        ("interval_hash('30 days'::interval) ="
         " interval_hash('1 month'::interval)", True),
        ("hex(set_bit('\\x1234567890abcdef00'::bytea, 43, 0))",
         "1234567890A3CDEF00"),
        ("get_byte('\\x1234567890abcdef00'::bytea, 3)", 120),
        ("get_bit('\\x1234567890abcdef00'::bytea, 43)", 1),
        ("ROW('ABC','DEF') ~<=~ ROW('DEF','ABC')", True),
        ("date '990108'", dt.date(1999, 1, 8)),
        ("timestamp '19990108'", dt.datetime(1999, 1, 8)),
        ("scale(8.4100)", 4),
        ("num_nonnulls(1, NULL, 'x')", 2),
        ("current_schemas(false)", ["public"]),
        ("make_timestamptz(2008, 12, 10, 10, 10, 10, 'EDT')",
         dt.datetime(2008, 12, 10, 14, 10, 10)),
        ("xmlserialize(content 'good' as char(10))", "good      "),
        ("xmlparse(content '<nosuchprefix:tag/>')",
         "<nosuchprefix:tag/>"),
        ("array_prepend(6, array[42])", [6, 42]),
        ("('{{{1},{2},{3}},{{4},{5},{6}}}'::int[])[1][NULL:1][1]",
         None),
        ("median('19990101'::date)", dt.datetime(1999, 1, 1)),
    ]
    for expr, want in cases:
        got = engine.sql(f"SELECT {expr} AS x").collect()[0].x
        assert got == want, (expr, got)
    # composite record_in quoting (rowtypes.c; regress rowtypes.sql)
    engine.sql("CREATE TYPE r12name AS (first text, last text)")
    r = engine.sql(
        "SELECT '(Joe,von Blow)'::r12name AS a,"
        "       '(Joe,\"Blow,Jr\")'::r12name AS b,"
        "       '(Joe,)'::r12name AS c"
    ).collect()[0]
    assert r.a.last == "von Blow" and r.b.last == "Blow,Jr"
    assert r.c.last is None
    engine.sql("DROP TYPE r12name")
    # json SRFs as sole select-list target (each → key/value rows);
    # r13: non-_text values keep JSON rendering (jsonfuncs.c
    # each_worker) — jsonb-style re-render, json null is 'null' text
    rows = engine.sql(
        "select json_each('{\"f1\":[1,2,3],\"f4\":null}')"
    ).collect()
    assert [(r.key, r.value) for r in rows] == [
        ("f1", "[1, 2, 3]"), ("f4", "null")
    ]
    rows = engine.sql(
        "select json_each_text('{\"f1\":[1,2,3],\"f4\":null}')"
    ).collect()
    assert [(r.key, r.value) for r in rows] == [
        ("f1", "[1,2,3]"), ("f4", None)
    ]
    rows = engine.sql(
        "select jsonb_path_query('{}', 'strict $.a', silent => true)"
    ).collect()
    assert rows == []


def test_probe_families_round11c(engine):
    """Third round-11 sweep: U&'' / U&\"\" unicode escapes (strings and
    identifiers, custom UESCAPE), to_json over ±infinity datetimes."""
    r = engine.sql(
        "SELECT U&'d\\0061t\\+000061' AS a,"
        "       U&'d!0061t!+000061' UESCAPE '!' AS U&\"*0062\" UESCAPE '*',"
        "       to_json(date 'Infinity') AS inf_d,"
        "       to_json(timestamp '-Infinity') AS ninf_ts"
    ).collect()[0]
    assert r.a == "data" and r.b == "data"
    assert r.inf_d == '"infinity"' and r.ninf_ts == '"-infinity"'


def test_probe_families_round11d(engine):
    """Fourth round-11 sweep: ANY over cast/record arrays,
    parenless session keywords, function parameter defaults already
    covered above."""
    r = engine.sql(
        "SELECT 'foo'::text = any(array['abc','foo']::text[]) AS a,"
        "       row(1,1.1) = any(array[row(7,7.7), row(1,1.1)]) AS b,"
        "       current_schema AS c,"
        "       current_catalog = current_database() AS d,"
        "       now()::timestamp::text = localtimestamp::text AS e"
    ).collect()[0]
    assert r.a is True and r.b is True
    assert r.c == "public" and r.d is True and r.e is True


def test_range_minus_and_merge(engine):
    """range - range (rangetypes.c range_minus: surviving side, empty
    on containment, RAISE on a non-contiguous split) and range_merge
    (smallest containing range, no contiguity requirement)."""
    import pytest as _pytest

    cases = [
        ("range_text(numrange(1.1, 2.2) - numrange(2.0, 3.0))",
         "[1.1,2.0)"),
        ("range_text(numrange(1.1, 2.2) - numrange(0.0, 1.5))",
         "[1.5,2.2)"),
        ("range_text(numrange(1.0, 2.0) - numrange(0.0, 3.0))",
         "empty"),
        ("range_text(numrange(1.0, 2.0) - numrange(5.0, 6.0))",
         "[1.0,2.0)"),
        ("range_text(range_merge(numrange(1.0, 2.0),"
         " numrange(5.0, 6.0)))", "[1.0,6.0)"),
    ]
    for expr, want in cases:
        assert engine.sql(f"SELECT {expr} AS x").collect()[0].x == want
    with _pytest.raises(Exception, match="contiguous"):
        engine.sql(
            "SELECT range_text(numrange(1.0, 10.0)"
            " - numrange(3.0, 4.0)) AS x"
        ).collect()


def test_round14_advice_fixes(engine):
    """r14 ADVICE items: exact int8 literal division (int8.c int8div
    only overflows for INT64_MIN/-1 — no float pre-round), byteain
    \\X prefix inside XML constructors raises cleanly (varlena.c
    accepts only lowercase \\x), HH12 rescue is pm-gated
    (formatting.c do_to_timestamp: >12 rescues only when tmfc.pm is
    falsy; hour<1 or explicit-PM >12 raise), repeat()::json gigabyte
    literals skip the plan-time fold instead of allocating."""
    import datetime as dt

    import pytest as _pytest

    # no false 'bigint out of range' at plan time (the runtime `/`
    # stays double per the documented DuckDB-aligned posture)
    r = engine.sql(
        "SELECT (9223372036854775807)::int8 / (1)::int8 AS a,"
        "       (-9223372036854775807)::int8 / (-1)::int8 AS b"
    ).collect()[0]
    assert r.a == float(9223372036854775807) > 0 < r.b
    with _pytest.raises(Exception, match="bigint out of range"):
        engine.sql(
            "SELECT (-9223372036854775808)::int8 / (-1)::int8 AS x")
    with _pytest.raises(Exception, match="bytea"):
        engine.sql(
            "SELECT xmlelement(name x, '\\X41'::bytea) AS x")
    got = engine.sql(
        "SELECT to_timestamp('2011-12-18 13', 'YYYY-MM-DD HH12')"
        " AS x").collect()[0].x
    assert got == dt.datetime(2011, 12, 18, 13, 0)
    with _pytest.raises(Exception, match="12-hour clock"):
        engine.sql("SELECT to_timestamp('2011-12-18 13 PM',"
                   " 'YYYY-MM-DD HH12 PM') AS x")
    with _pytest.raises(Exception, match="12-hour clock"):
        engine.sql("SELECT to_timestamp('2011-12-18 0 AM',"
                   " 'YYYY-MM-DD HH12 AM') AS x")
    assert engine.sql(
        "SELECT to_timestamp('2011-12-18 12', 'YYYY-MM-DD HH12') AS x"
    ).collect()[0].x == dt.datetime(2011, 12, 18, 0, 0)


def test_create_aggregate_sql(engine):
    """CREATE AGGREGATE over SQL transition/final functions
    (aggregatecmds.c DefineAggregate; regress aggregates.sql my_avg):
    the call lowers to aggregate(collect_list(x), initcond, sfunc)
    with the retained SQL bodies inlined into the lambda."""
    import pytest as _pytest

    engine.sql("create type r15t_avg_state as (total bigint, count bigint)")
    engine.sql(
        "create or replace function r15t_avg_trans(s r15t_avg_state,"
        " n int) returns r15t_avg_state as $$ select"
        " row(coalesce(s.total, 0) + n, coalesce(s.count, 0) + 1)"
        "::r15t_avg_state $$ language sql"
    )
    engine.sql(
        "create function r15t_avg_final(s r15t_avg_state) returns"
        " int4 as $$ select cast(s.total / s.count as int) $$"
        " language sql"
    )
    engine.sql(
        "create aggregate r15t_avg(int4) (stype = r15t_avg_state,"
        " sfunc = r15t_avg_trans, finalfunc = r15t_avg_final)"
    )
    engine.spark.sql(
        "select * from values (1,1),(1,3),(2,5),(2,7) t(g,a)"
    ).createOrReplaceTempView("r15t_vals")
    rows = engine.sql(
        "select g, r15t_avg(a) as avg from r15t_vals group by g"
        " order by g"
    ).collect()
    assert [(r.g, r.avg) for r in rows] == [(1, 2), (2, 6)]
    engine.sql(
        "create aggregate r15t_avg10(int4) (stype = r15t_avg_state,"
        " sfunc = r15t_avg_trans, finalfunc = r15t_avg_final,"
        " initcond = '(10,0)')"
    )
    assert engine.sql(
        "select r15t_avg10(a) as v from r15t_vals"
    ).collect()[0].v == 6  # (10+16)/4
    engine.sql("drop aggregate r15t_avg10(int4)")
    with _pytest.raises(Exception, match="does not exist"):
        engine.sql("drop aggregate r15t_avg10(int4)")


def test_polymorphic_sql_functions(engine):
    """anyarray/anyelement SQL functions register as templates and
    inline per call (parse_coerce.c check_generic_type_consistency):
    SETOF in FROM, scalar in select list, type follows the call."""
    engine.sql(
        "create or replace function r15t_unnest(anyarray) returns"
        " setof anyelement as $$ select $1[s] from"
        " generate_subscripts($1, 1) g(s) $$ language sql immutable"
    )
    engine.sql(
        "create function r15t_first(anyarray) returns anyelement"
        " as $$ select $1[1] $$ language sql"
    )
    rows = engine.sql(
        "select * from r15t_unnest(array[10, 20, 30])"
    ).collect()
    assert [r.r15t_unnest for r in rows] == [10, 20, 30]
    r = engine.sql(
        "select r15t_first(array['a','b']) as s,"
        "       r15t_first(array[7, 8]) + 1 as n"
    ).collect()[0]
    assert (r.s, r.n) == ("a", 8)


def test_composite_domain_checks(engine):
    """Domain over a composite base enforces its CHECK at cast sites
    and on json_populate_record results (jsonfuncs.c
    populate_composite -> domain_check; json.out j_ordered_pair)."""
    import pytest as _pytest

    engine.sql("create type r15t_pair as (x int, y int)")
    engine.sql(
        "create domain r15t_ordered as r15t_pair"
        " check((value).x <= (value).y)"
    )
    r = engine.sql(
        """SELECT json_populate_record(row(1,2)::r15t_ordered,
                  '{"x": 0}') AS r"""
    ).collect()[0].r
    assert (r.x, r.y) == (0, 2)
    with _pytest.raises(Exception, match="violates check"):
        engine.sql(
            """SELECT json_populate_record(row(1,2)::r15t_ordered,
                      '{"x": 1, "y": 0}') AS r"""
        ).collect()
    with _pytest.raises(Exception, match="violates check"):
        engine.sql("SELECT row(1,0)::r15t_ordered AS r").collect()


def test_numeric_domain_folds(engine):
    """ln/log/power literal domain errors (numeric.c ln_var/log_var/
    power_var) and infinity -> numeric raise at plan time."""
    import pytest as _pytest

    for q, msg in [
        ("select ln(-12.34)", "negative"),
        ("select ln(0.0)", "zero"),
        ("select log(1.0, 12.34)", "division by zero"),
        ("select 10.0 ^ 2147483647", "overflows numeric"),
        ("select 0.0 ^ (-12.34)", "zero raised"),
        ("select power(-1, 0.5)", "complex result"),
        ("SELECT 'Infinity'::float8::numeric", "infinity"),
    ]:
        with _pytest.raises(Exception, match=msg):
            engine.sql(q)
    assert engine.sql("select ln(1.0) AS x").collect()[0].x == 0.0
    assert engine.sql("select 2 ^ 10 AS x").collect()[0].x == 1024.0


def test_zero_column_and_inherits_tables(engine):
    """gram.y allows empty column lists; empty-collist INHERITS is a
    parent-schema clone, own-column INHERITS strips the clause (r16)."""
    engine.sql("DROP TABLE IF EXISTS r16_zc")
    engine.sql("create table r16_zc ()")
    engine.sql("alter table r16_zc add column x int")
    assert "x" in engine.sql("select * from r16_zc").columns
    engine.sql("DROP TABLE IF EXISTS r16_parent")
    engine.sql("create table r16_parent (a int, b text)")
    engine.sql("DROP TABLE IF EXISTS r16_child")
    engine.sql("create table r16_child () inherits (r16_parent)")
    assert engine.sql("select * from r16_child").columns == ["a", "b"]
    for t in ("r16_zc", "r16_child", "r16_parent"):
        engine.sql(f"DROP TABLE IF EXISTS {t}")


def test_schema_autocreate_and_rowtype_column(engine):
    """Qualified CREATEs materialize their namespace on demand; a
    table name used as a column type is its rowtype STRUCT (r16)."""
    engine.spark.sql("DROP TABLE IF EXISTS r16ns.t1")
    engine.sql("CREATE TABLE r16ns.t1 (a int) DISTRIBUTED BY (a)")
    assert engine.spark.catalog.tableExists("r16ns.t1")
    engine.sql("DROP TABLE IF EXISTS r16_rt_base")
    engine.sql("create table r16_rt_base (a int, b text)")
    engine.sql("DROP TABLE IF EXISTS r16_rt_user")
    engine.sql("create table r16_rt_user (x int, y r16_rt_base)")
    assert "struct<a:int,b:string>" in (
        engine.spark.table("r16_rt_user").schema.simpleString())
    engine.spark.sql("DROP TABLE IF EXISTS r16ns.t1")
    engine.spark.sql("DROP NAMESPACE IF EXISTS r16ns")
    for t in ("r16_rt_user", "r16_rt_base"):
        engine.sql(f"DROP TABLE IF EXISTS {t}")


def test_alter_sequence_option_tail(engine):
    """AlterSequence with RESTART mixed into other init_params
    options, signed values, and IF EXISTS over a missing name."""
    engine.sql("DROP SEQUENCE IF EXISTS r16_seq")
    engine.sql("CREATE SEQUENCE r16_seq START WITH 5")
    engine.sql(
        "ALTER SEQUENCE r16_seq RESTART WITH 24 INCREMENT BY 4 "
        "MAXVALUE 36 MINVALUE 5 CYCLE")
    assert engine.sql("SELECT nextval('r16_seq')").collect()[0][0] == 24
    engine.sql("ALTER SEQUENCE r16_seq RESTART WITH -24 NO CYCLE")
    assert engine.sql("SELECT nextval('r16_seq')").collect()[0][0] == -24
    engine.sql("ALTER SEQUENCE IF EXISTS r16_nosuch RESTART WITH 2")
    engine.sql("DROP SEQUENCE r16_seq")


def test_void_dml_procedure_and_builtin_shadow(engine):
    """RETURNS VOID with a DML body executes on call (functions.c);
    a user fn shadowing a Spark builtin registers under a prefix and
    same-arity calls rewrite to it (search_path semantics)."""
    engine.sql("DROP TABLE IF EXISTS r16_sometable")
    engine.sql("create table r16_sometable (v int)")
    engine.sql(
        "CREATE FUNCTION r16_voidins(a int) RETURNS VOID LANGUAGE SQL "
        "AS $$ INSERT INTO r16_sometable VALUES(a + 1) RETURNING v $$")
    engine.sql("SELECT r16_voidins(7)")
    assert engine.sql(
        "select v from r16_sometable").collect()[0][0] == 8
    engine.sql(
        "CREATE OR REPLACE FUNCTION \"decode\"(int, int, int) RETURNS "
        "int AS 'select $1 * $2 - $3;' LANGUAGE sql")
    assert engine.sql(
        "SELECT decode(11, 333, -1)").collect()[0][0] == 3664
    # other arities stay on the Spark builtin
    assert engine.sql(
        "SELECT decode(encode('ab', 'utf-8'), 'utf-8')"
    ).collect()[0][0] == "ab"
    engine.sql("DROP TABLE IF EXISTS r16_sometable")


def test_plpgsql_cursor_for_loop(engine, sf_dir):
    """Bound-cursor FOR loops inline the cursor query into the
    FOR-over-query fold (pl_exec.c exec_stmt_forc); the loop variable
    is an implicit RECORD when its fields are dereferenced."""
    engine.attach_fixtures(sf_dir)
    engine.sql("""
CREATE OR REPLACE FUNCTION r16_region_total() RETURNS bigint AS $$
DECLARE
  c CURSOR FOR SELECT n_nationkey FROM nation ORDER BY n_nationkey;
  total bigint := 0;
BEGIN
  FOR r IN c LOOP
    total := total + r.n_nationkey;
  END LOOP;
  RETURN total;
END;
$$ LANGUAGE plpgsql""")
    assert engine.sql(
        "SELECT r16_region_total()").collect()[0][0] == 300


# ------------------------------------------- r17 census widenings
def test_temp_ctas_paren_distributed(engine):
    """gram.y CreateAsStmt: the AS query may be parenthesized and
    carry a GP DISTRIBUTED tail — still a session temp view."""
    engine.sql(
        "CREATE TEMP TABLE tctas_p AS ( SELECT id FROM "
        "generate_series(11, 100, 11) AS id ) DISTRIBUTED BY ( id )")
    assert engine.sql(
        "SELECT count(*) FROM tctas_p").collect()[0][0] == 9


def test_plain_partitioned_create(engine):
    """OptTabPartitionSpec without AS SELECT: the empty table creates
    normally — the GP partition spec is physical layout, not
    semantics (tablecmds.c child creation is storage-side)."""
    engine.sql("DROP TABLE IF EXISTS part_plain")
    engine.sql("create table part_plain(a int, b int) "
               "partition by range(b) (start(1) end(5) every(1))")
    engine.sql("INSERT INTO part_plain VALUES (1, 2), (3, 4)")
    assert engine.sql(
        "SELECT count(*) FROM part_plain").collect()[0][0] == 2
    engine.sql("DROP TABLE part_plain")


def test_sqlfn_from_scalar_subquery(engine, spark):
    """functions.c postquel_get_single_result: a FROM-clause SQL
    function body returns the first row of its query — lowered to a
    Spark scalar subquery, still JVM-side."""
    engine.sql("CREATE OR REPLACE FUNCTION biggest_nation() RETURNS "
               "text AS $$ SELECT n_name FROM nation "
               "ORDER BY n_nationkey DESC LIMIT 1 $$ LANGUAGE sql")
    top = engine.sql("SELECT max(n_name) FROM nation "
                     "WHERE n_nationkey = (SELECT max(n_nationkey) "
                     "FROM nation)").collect()[0][0]
    assert engine.sql(
        "SELECT biggest_nation()").collect()[0][0] == top


def test_sqlbody_interpreted_function(engine):
    """Bodies Spark's SQL-UDF surface cannot hold interpret
    driver-side (engine_proc._register_sqlbody_proc): DML runs with
    args bound as literals, the last statement's first value returns,
    proconfig SET overlays apply per call (guc.c)."""
    engine.sql("DROP TABLE IF EXISTS sqlb_log")
    engine.sql("create table sqlb_log (v int)")
    engine.sql("CREATE FUNCTION sqlb_ins(integer) RETURNS int AS $$ "
               "INSERT INTO sqlb_log VALUES ($1); "
               "SELECT count(*)::int FROM sqlb_log; $$ LANGUAGE sql")
    assert engine.sql("SELECT sqlb_ins(7)").collect()[0][0] == 1
    assert engine.sql("SELECT sqlb_ins(8)").collect()[0][0] == 2
    engine.sql("create function sqlb_guc(text) returns text as "
               "$$ select current_setting($1) $$ language sql "
               "set work_mem = '64MB'")
    assert engine.sql(
        "SELECT sqlb_guc('work_mem')").collect()[0][0] == "64MB"
    engine.sql("DROP TABLE IF EXISTS sqlb_log")


def test_create_type_quoted_attributes(engine):
    """typecmds.c DefineType matches attribute labels
    case-insensitively — quoted mixed-case spellings parse."""
    engine.sql('CREATE TYPE q_int42 ("Internallength" = 4, '
               '"Input" = int4in, "Output" = int4out, '
               '"Passedbyvalue")')
    engine.sql("DROP TABLE IF EXISTS qi42_t")
    engine.sql("create table qi42_t (v q_int42)")
    engine.sql("INSERT INTO qi42_t VALUES (7)")
    assert engine.sql(
        "SELECT v + 1 FROM qi42_t").collect()[0][0] == 8
    engine.sql("DROP TABLE qi42_t")


def test_quoted_column_names_text_type(engine):
    """Quoted column names still get their PG types mapped (the
    column regex admits quoted/backticked identifiers)."""
    engine.sql("DROP TABLE IF EXISTS qcols_t")
    engine.sql('create table qcols_t ("B B" text, "C" text) '
               'DISTRIBUTED RANDOMLY')
    engine.sql("INSERT INTO qcols_t VALUES ('a', 'b')")
    assert engine.sql(
        'SELECT `B B` FROM qcols_t').collect()[0][0] == "a"
    engine.sql("DROP TABLE qcols_t")


def test_char_quoted_type_and_collate_decl(engine):
    """'"char"' (the pg_attribute class tag) folds like char; a
    COLLATE clause in a PL/pgSQL declaration drops (decl_collate —
    Spark strings compare binary, README deviations)."""
    engine.sql('CREATE OR REPLACE FUNCTION deps_q() RETURNS '
               'TABLE(depname TEXT, classtype "char") LANGUAGE SQL '
               "AS $fn$ SELECT 'x', 'r' $fn$")
    assert engine.sql(
        "SELECT classtype FROM deps_q()").collect()[0][0] == "r"
    engine.sql("""CREATE OR REPLACE FUNCTION lt_posix(x text, y text)
    RETURNS boolean LANGUAGE plpgsql AS $$
    declare xx text COLLATE "POSIX" := x;
    begin return xx < y; end $$""")
    assert engine.sql(
        "SELECT lt_posix('a','b')").collect()[0][0] is True


def test_array_cmp_fmgr_functions(engine):
    """arrayfuncs.c array_eq/array_ne by name lower to Spark's
    binary array comparisons."""
    r = engine.sql("SELECT array_eq(ARRAY[1,2], ARRAY[1,2]) AS a, "
                   "array_ne(ARRAY[1], ARRAY[2]) AS b").collect()[0]
    assert (r.a, r.b) == (True, True)


def test_stale_managed_location_reclaimed(engine):
    """A leftover managed-table directory with no catalog entry does
    not block CREATE TABLE of the same name (the engine reclaims
    paths inside *-warehouse dirs only)."""
    import os
    from urllib.parse import urlparse
    wh = urlparse(
        engine.spark.conf.get("spark.sql.warehouse.dir")).path
    engine.sql("DROP TABLE IF EXISTS stale_x1")
    os.makedirs(os.path.join(wh, "stale_x1", "j"), exist_ok=True)
    engine.sql("CREATE TABLE stale_x1 (a int)")
    engine.sql("DROP TABLE stale_x1")


def test_complex_type_functions(engine):
    """GP complex type (gpcontrib complex_type.c) as STRUCT<re,im>:
    constructor + re/im/conj, usable as a function parameter type."""
    r = engine.sql("SELECT re(COMPLEX(5, 3)) AS a, "
                   "im(conj(COMPLEX(1, 2))) AS b, "
                   "re(COMPLEX('infinity', 0)) AS c").collect()[0]
    assert (r.a, r.b) == (5.0, -2.0)
    assert r.c == float("inf")
    engine.sql("""CREATE OR REPLACE FUNCTION cx_eq(a COMPLEX,
    b COMPLEX, diff FLOAT8) RETURNS BOOLEAN AS $$
    BEGIN RETURN (abs(re(a) - re(b)) < diff)
      AND (abs(im(a) - im(b)) < diff); END;
    $$ LANGUAGE PLPGSQL""")
    assert engine.sql("SELECT cx_eq(COMPLEX(1,2), COMPLEX(1,2), "
                      "0.001)").collect()[0][0] is True


def test_acl_ledger_privilege_fold(engine):
    """aclchk.c has_table_privilege over the GRANT/REVOKE ledger:
    all-granted until REVOKE; GRANT restores; the 2-arg form answers
    for the current role (SET ROLE)."""
    engine.sql("DROP TABLE IF EXISTS aclt")
    engine.sql("CREATE TABLE aclt (x int)")
    q = "SELECT has_table_privilege('alice', 'aclt', 'SELECT')"
    assert engine.sql(q).collect()[0][0] is True
    engine.sql("REVOKE SELECT ON aclt FROM alice")
    assert engine.sql(q).collect()[0][0] is False
    assert engine.sql("SELECT has_table_privilege('alice', 'aclt', "
                      "'INSERT')").collect()[0][0] is True
    engine.sql("GRANT SELECT ON aclt TO alice")
    assert engine.sql(q).collect()[0][0] is True
    engine.sql("SET ROLE alice")
    engine.sql("REVOKE ALL ON aclt FROM alice")
    assert engine.sql("SELECT has_table_privilege('aclt', "
                      "'SELECT')").collect()[0][0] is False
    engine.sql("RESET ROLE")
    assert engine.sql("SELECT has_table_privilege('aclt', "
                      "'SELECT')").collect()[0][0] is True
    engine.sql("DROP TABLE aclt")


def test_select_into_fromless(engine):
    """gram.y into_clause without FROM: one computed row
    materializes, same as the CTAS form."""
    engine.sql("DROP TABLE IF EXISTS sint_x")
    engine.sql("SELECT 1 + 2 AS v INTO sint_x")
    assert engine.sql("SELECT v FROM sint_x").collect()[0][0] == 3
    engine.sql("DROP TABLE sint_x")


def test_role_ddl_bookkeeping(engine):
    """commands/user.c: role DDL is bookkeeping with PG's existence
    errors; DROP IF EXISTS tolerates absence."""
    engine.sql("DROP ROLE IF EXISTS regress_tr1")
    engine.sql("CREATE ROLE regress_tr1 WITH LOGIN")
    with pytest.raises(Exception, match="already exists"):
        engine.sql("CREATE ROLE regress_tr1")
    engine.sql("ALTER ROLE regress_tr1 NOLOGIN")
    engine.sql("DROP ROLE regress_tr1")
    with pytest.raises(Exception, match="does not exist"):
        engine.sql("DROP ROLE regress_tr1")


def test_privilege_name_validation(engine):
    """acl.c string_to_privilege: an unknown privilege name errors
    even though the single-user ledger would answer TRUE."""
    engine.sql("DROP TABLE IF EXISTS pvt1")
    engine.sql("CREATE TABLE pvt1 (x int)")
    with pytest.raises(Exception, match="unrecognized privilege"):
        engine.sql("SELECT has_table_privilege('pvt1', 'FROOB')")
    engine.sql("DROP TABLE pvt1")


def test_range_literal_junk_close(engine):
    """range_parse: an unquoted ) or ] before the final position is
    malformed (junk after right parenthesis)."""
    engine.sql("create type jrange as range (subtype = text)")
    with pytest.raises(Exception, match="malformed range literal"):
        engine.sql("select '(),a)'::jrange")
    assert engine.sql(
        "select '((,z)'::jrange.lo").collect()[0][0] == "("


def test_select_into_existing_errors(engine):
    """execMain.c intorel: SELECT INTO an existing relation errors."""
    engine.sql("DROP TABLE IF EXISTS sie_t")
    engine.sql("SELECT 1 AS v INTO sie_t")
    with pytest.raises(Exception, match="already exists"):
        engine.sql("SELECT 2 AS v INTO sie_t")
    engine.sql("DROP TABLE sie_t")


def test_update_adopts_spark_table(engine, spark):
    """A table created inside a PL/pgSQL body is an engine table from
    its CREATE, so INSERT, UPDATE and DELETE in the same body rewrite
    its copy-on-write parquet heap."""
    engine.sql("""CREATE OR REPLACE FUNCTION adoptions() RETURNS int AS $$
    BEGIN
      CREATE TABLE adopt_t (a int, b int);
      INSERT INTO adopt_t VALUES (1, 10), (2, 20);
      UPDATE adopt_t SET b = b + 1 WHERE a = 1;
      DELETE FROM adopt_t WHERE a = 2;
      RETURN (SELECT sum(b) FROM adopt_t);
    END $$ LANGUAGE plpgsql""")
    assert engine.sql("SELECT adoptions()").collect()[0][0] == 11
    engine.sql("DROP TABLE IF EXISTS adopt_t")


# ------------------------------------------- partitioned CTAS writes
def _pt_create(engine, name: str) -> str:
    engine.sql(
        f"CREATE TABLE {name} AS SELECT n AS k, n * 10 AS v "
        "FROM generate_series(0, 99) AS g(n) "
        "PARTITION BY RANGE (k) (START (0) END (100) EVERY (25))"
    )
    return os.path.join(engine.warehouse_dir, name)


def test_insert_into_partitioned_ctas_computes_part(engine):
    """INSERT into a `PARTITION BY RANGE … EVERY` CTAS table: the
    hidden range-partition id is not a user column; it is computed
    from the stored spec, so the row lands in its partition."""
    path = _pt_create(engine, "pt_ins")
    assert engine.sql("INSERT INTO pt_ins VALUES (50, 1)").collect()[0][0] == 1
    assert engine.sql("SELECT count(*) FROM pt_ins").collect()[0][0] == 101
    assert engine.sql(
        "SELECT __part FROM pt_ins WHERE k = 50 AND v = 1"
    ).collect()[0][0] == 2
    assert sorted(d for d in os.listdir(path) if d.startswith("__part=")) == [
        "__part=0", "__part=1", "__part=2", "__part=3"]


def test_update_partitioned_ctas_keeps_layout(engine):
    """UPDATE rewrites a range-partitioned CTAS table with its
    `__part=` directories, not as flat files."""
    path = _pt_create(engine, "pt_upd")
    assert engine.sql(
        "UPDATE pt_upd SET v = v + 1 WHERE k < 25").collect()[0][0] == 25
    entries = os.listdir(path)
    assert sorted(d for d in entries if d.startswith("__part=")) == [
        "__part=0", "__part=1", "__part=2", "__part=3"]
    assert not [f for f in entries if f.endswith(".parquet")]
    assert engine.sql(
        "SELECT count(*) FROM pt_upd WHERE k < 25").collect()[0][0] == 25
    assert engine.sql(
        "SELECT sum(v) FROM pt_upd WHERE k < 25").collect()[0][0] == \
        sum(k * 10 + 1 for k in range(25))


# ------------------------------------------------ front-end contract
# (setup, statement, check, expected): the statement runs in five
# spellings; its result and the check's must match across them, and
# the check's (or, without one, the statement's) rows must equal
# `expected` when given. Names and literals are lower case so the
# lower-case spelling changes keywords only.
_FRONT_END_CASES = {
    "set": (["RESET work_mem"], "SET work_mem = '32mb'",
            "SHOW work_mem", [("32mb",)]),
    "reset": (["SET work_mem = '8mb'"], "RESET work_mem",
              "SHOW work_mem", [("4MB",)]),
    "show": (["SET work_mem = '16mb'"], "SHOW work_mem", None,
             [("16mb",)]),
    "prepare": (["DEALLOCATE ALL"], "PREPARE fe_p AS SELECT $1 + 1 AS v",
                "EXECUTE fe_p(41)", [(42,)]),
    "execute": (["DEALLOCATE ALL", "PREPARE fe_q AS SELECT $1 * 2 AS v"],
                "EXECUTE fe_q(21)", None, [(42,)]),
    "deallocate": (["DEALLOCATE ALL", "PREPARE fe_d AS SELECT 1"],
                   "DEALLOCATE fe_d", "PREPARE fe_d AS SELECT 2", None),
    "discard": (["SET work_mem = '8mb'"], "DISCARD ALL", "SHOW work_mem",
                [("4MB",)]),
    "vacuum": ([], "VACUUM fe_t", "SELECT count(*) FROM fe_t", [(5,)]),
    "analyze": ([], "ANALYZE fe_t", "SELECT count(*) FROM fe_t", [(5,)]),
    "begin": ([], "BEGIN", None, [(0,)]),
    "commit": ([], "COMMIT", None, [(0,)]),
    "create_sequence": (["DROP SEQUENCE IF EXISTS fe_s"],
                        "CREATE SEQUENCE fe_s START 5",
                        "SELECT nextval('fe_s')", [(5,)]),
    "alter_sequence": (["DROP SEQUENCE IF EXISTS fe_s",
                        "CREATE SEQUENCE fe_s"],
                       "ALTER SEQUENCE fe_s RESTART WITH 7",
                       "SELECT nextval('fe_s')", [(7,)]),
    "create_function": (["DROP FUNCTION IF EXISTS fe_f"],
                        "CREATE FUNCTION fe_f(x int) RETURNS int "
                        "AS $$ SELECT x + 1 $$ LANGUAGE sql",
                        "SELECT fe_f(1)", [(2,)]),
    "call": (["DELETE FROM fe_log"], "CALL fe_pr(3)",
             "SELECT x FROM fe_log", [(3,)]),
    "create_type": (["DROP TYPE IF EXISTS fe_mood"],
                    "CREATE TYPE fe_mood AS ENUM ('sad', 'ok')",
                    "SELECT CAST('ok' AS fe_mood)", [("ok",)]),
    "create_index": ([], "CREATE INDEX fe_i ON fe_t (k)", None, [(0,)]),
    "revoke": (["GRANT SELECT ON fe_t TO public"],
               "REVOKE SELECT ON fe_t FROM public",
               "SELECT has_table_privilege('fe_t', 'select')", [(False,)]),
    "comment": ([], "COMMENT ON TABLE fe_t IS 'five rows'", None, [(0,)]),
    "create_matview": (["DROP MATERIALIZED VIEW IF EXISTS fe_mv"],
                       "CREATE MATERIALIZED VIEW fe_mv AS SELECT k FROM fe_t",
                       "SELECT count(*) FROM fe_mv", [(5,)]),
    "select": ([], "SELECT k FROM fe_t ORDER BY k", None,
               [(1,), (2,), (3,), (4,), (5,)]),
    "values": ([], "VALUES (1), (2)", None, [(1,), (2,)]),
    "ctas": (["DROP TABLE IF EXISTS fe_c"], "CREATE TABLE fe_c AS SELECT k FROM fe_t WHERE k > 3",
             "SELECT count(*) FROM fe_c", [(2,)]),
    "drop_table": (["CREATE TABLE IF NOT EXISTS fe_d AS SELECT 1 AS a"], "DROP TABLE fe_d",
                   "SELECT count(*) FROM pg_tables WHERE tablename = 'fe_d'", [(0,)]),
    "create_view": (["DROP VIEW IF EXISTS fe_v"],
                    "CREATE VIEW fe_v AS SELECT k FROM fe_t WHERE k > 4",
                    "SELECT k FROM fe_v", [(5,)]),
    "alter_add_column": (["DROP TABLE IF EXISTS fe_a", "CREATE TABLE fe_a (k int)"],
                         "ALTER TABLE fe_a ADD COLUMN v int",
                         "SELECT count(*) FROM information_schema.columns "
                         "WHERE table_name = 'fe_a'", [(2,)]),
    "insert": (["DELETE FROM fe_w"], "INSERT INTO fe_w VALUES (1, 'a')",
               "SELECT k, s FROM fe_w", [(1, "a")]),
    "update": (["DELETE FROM fe_w", "INSERT INTO fe_w VALUES (1, 'a')"],
               "UPDATE fe_w SET s = 'b' WHERE k = 1",
               "SELECT k, s FROM fe_w", [(1, "b")]),
    "delete": (["DELETE FROM fe_w", "INSERT INTO fe_w VALUES (1, 'a'), (2, 'b')"],
               "DELETE FROM fe_w WHERE k = 1", "SELECT k, s FROM fe_w",
               [(2, "b")]),
    "merge": (["DELETE FROM fe_w", "INSERT INTO fe_w VALUES (1, 'a')"],
              "MERGE INTO fe_w t USING (SELECT 1 AS k, 'z' AS s) src "
              "ON t.k = src.k WHEN MATCHED THEN UPDATE SET s = src.s",
              "SELECT k, s FROM fe_w", [(1, "z")]),
    "truncate": (["DELETE FROM fe_w", "INSERT INTO fe_w VALUES (9, 'q')"],
                 "TRUNCATE fe_w",
                 "SELECT count(*) FROM fe_w", [(0,)]),
    # a name inside a comment or a literal never fires a pass
    "comment_holds_nextval": (
        ["DROP SEQUENCE IF EXISTS fe_s1", "CREATE SEQUENCE fe_s1",
         "SELECT nextval('fe_s1')"],
        "/* nextval('fe_s1') */ SELECT 1", "SELECT currval('fe_s1')",
        [(1,)]),
    "literal_pg_tables": ([], "SELECT 'pg_catalog.pg_tables' AS x", None,
                          [("pg_catalog.pg_tables",)]),
    "literal_information_schema": (
        [], "SELECT 'information_schema.columns' AS x", None,
        [("information_schema.columns",)]),
    "literal_holds_from": (
        ["DROP SEQUENCE IF EXISTS fe_sq", "CREATE SEQUENCE fe_sq",
         "DELETE FROM fe_w"],
        "INSERT INTO fe_w VALUES (nextval('fe_sq'), 'moved from a')",
        "SELECT k, s FROM fe_w", [(1, "moved from a")]),
}


@pytest.fixture(scope="module")
def front_end_tables(engine):
    engine.sql("CREATE TABLE fe_t AS SELECT n AS k FROM generate_series(1, 5) AS g(n)")
    engine.sql("CREATE TABLE fe_w AS SELECT 1 AS k, 'a' AS s")
    engine.sql("CREATE TABLE fe_log AS SELECT 1 AS x")
    engine.sql("CREATE OR REPLACE PROCEDURE fe_pr(n int) LANGUAGE sql "
               "AS $$ INSERT INTO fe_log VALUES (n) $$")
    return engine


@pytest.mark.parametrize("case", sorted(_FRONT_END_CASES))
def test_front_end_contract(front_end_tables, case):
    """Every routed statement kind gives the same result bare, after a
    leading `--` or `/* */` comment, in lower case and with a trailing
    `;`; names inside comments and literals never trigger a rewrite."""
    engine = front_end_tables
    setup, stmt, check, expected = _FRONT_END_CASES[case]
    forms = {
        "bare": stmt,
        "line_comment": "-- leading note\n" + stmt,
        "block_comment": "/* leading note */ " + stmt,
        "lower": stmt.lower(),
        "semicolon": stmt + ";",
    }
    results = {}
    for form, text in forms.items():
        for s in setup:
            engine.sql(s)
        out = [tuple(r) for r in engine.sql(text).collect()]
        after = ([tuple(r) for r in engine.sql(check).collect()]
                 if check else out)
        results[form] = (out, after)
    assert all(r == results["bare"] for r in results.values()), results
    if expected is not None:
        assert results["bare"][1] == expected


# --------------------------------------------------- DML target naming
def test_dml_target_by_name_or_alias_and_depth0_clauses(engine):
    """UPDATE/DELETE read the target under its name or its AS alias,
    so qualified references resolve; SET/FROM/WHERE are found at paren
    depth 0, so a subquery's FROM never makes an UPDATE … FROM."""
    engine.sql("CREATE TABLE nm_q1 AS SELECT * FROM VALUES "
               "(1, 10), (2, 20), (3, 30) AS x(k, v)")
    engine.sql("CREATE TABLE nm_s1 AS SELECT * FROM VALUES "
               "(1, 100), (3, 300) AS x(k, v)")

    def rows(name):
        return sorted(tuple(r) for r in engine.sql(f"SELECT k, v FROM {name}").collect())

    def tag(stmt):
        return engine.sql(stmt).collect()[0].rows_affected

    assert tag("UPDATE nm_q1 SET v = 11 WHERE nm_q1.k = 1") == 1
    assert tag("DELETE FROM nm_q1 WHERE nm_q1.k = 2") == 1
    assert rows("nm_q1") == [(1, 11), (3, 30)]
    assert tag("UPDATE nm_q1 AS x SET v = 12 WHERE x.k = 1") == 1
    assert rows("nm_q1") == [(1, 12), (3, 30)]
    assert tag("UPDATE nm_q1 SET v = v + 1 WHERE EXISTS "
               "(SELECT 1 FROM nm_s1 WHERE nm_s1.k = nm_q1.k)") == 2
    assert rows("nm_q1") == [(1, 13), (3, 31)]
    assert tag("UPDATE nm_q1 SET v = s.v FROM (SELECT k, v FROM nm_s1) s "
               "WHERE nm_q1.k = s.k") == 2
    assert rows("nm_q1") == [(1, 100), (3, 300)]


def test_update_set_column_names_types_and_unknown_columns(engine):
    """SET names a target column case-insensitively and keeps its type
    (an assignment casts, as in PG); a column the table lacks raises."""
    engine.sql("CREATE TABLE ci_t AS SELECT k, CAST(p AS DECIMAL(15,2)) AS p "
               "FROM VALUES (1, 1.5) AS x(k, p)")
    assert engine.sql("UPDATE ci_t SET P = p + 1 WHERE K = 1").collect()[0][0] == 1
    out = engine.sql("SELECT p FROM ci_t")
    assert out.schema["p"].dataType.simpleString() == "decimal(15,2)"
    assert float(out.collect()[0].p) == 2.5
    ret = engine.sql("UPDATE ci_t SET P = p * 2 RETURNING p").collect()
    assert float(ret[0].p) == 5.0
    with pytest.raises(ValueError, match="does not exist"):
        engine.sql("UPDATE ci_t SET nope = 1")


# ------------------------------------------------ DML row-count semantics
def test_merge_keeps_first_source_match(engine):
    """A target row matched by several source rows is rewritten once,
    from the first matching source row by the source's columns (PG
    raises instead), so MERGE never duplicates a target row."""
    engine.sql("CREATE TABLE rc_m AS SELECT * FROM VALUES (1, 10), (2, 20) AS x(k, v)")
    engine.sql("CREATE TABLE rc_msrc AS SELECT * FROM VALUES "
               "(1, 101), (1, 100), (3, 300) AS x(k, v)")
    out = engine.sql(
        "MERGE INTO rc_m t USING rc_msrc s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v)").collect()
    assert out[0].rows_affected == 2
    got = sorted(tuple(r) for r in engine.sql("SELECT k, v FROM rc_m").collect())
    assert got == [(1, 100), (2, 20), (3, 300)]


def test_on_conflict_counts_inserts_and_null_keys_never_conflict(engine):
    """ON CONFLICT DO NOTHING reports only the rows it inserts, and a
    NULL key conflicts with nothing (a unique index treats NULLs as
    distinct), as in PG."""
    engine.sql("CREATE TABLE rc_oc AS SELECT * FROM VALUES "
               "(1, 10), (CAST(NULL AS INT), 0) AS x(k, v)")
    out = engine.sql("INSERT INTO rc_oc VALUES (1, 5), (7, 70) "
                     "ON CONFLICT (k) DO NOTHING").collect()
    assert out[0].rows_affected == 1
    out = engine.sql("INSERT INTO rc_oc VALUES (NULL, 9) "
                     "ON CONFLICT (k) DO NOTHING").collect()
    assert out[0].rows_affected == 1
    got = sorted((tuple(r) for r in engine.sql("SELECT k, v FROM rc_oc").collect()),
                 key=repr)
    assert got == sorted([(1, 10), (7, 70), (None, 0), (None, 9)], key=repr)


# ------------------------------------------------------- DML contract
# Each form runs on the same small table through Engine.sql and through
# DuckDB; the final table and the command tag (or the RETURNING rows)
# must agree. `{t}` is the target, `dc_src` holds (1,100), (3,300),
# (5,500). DuckDB 1.0 has no MERGE: those cases carry their expected
# (tag rows, table rows).
_DML_TABLE = [(1, 10), (2, 20), (3, 30), (4, None)]
_DML_CONTRACT = {
    "update_plain": "UPDATE {t} SET v = v + 1 WHERE k <= 2",
    "update_qualified": "UPDATE {t} SET v = 11 WHERE {t}.k = 1",
    "update_alias": "UPDATE {t} AS x SET v = 12 WHERE x.k = 1",
    "delete_plain": "DELETE FROM {t} WHERE v > 15",
    "delete_qualified": "DELETE FROM {t} WHERE {t}.k = 2",
    "delete_alias": "DELETE FROM {t} AS x WHERE x.k = 2",
    "update_in": "UPDATE {t} SET v = 0 WHERE k IN (SELECT k FROM dc_src)",
    "update_exists": "UPDATE {t} SET v = v + 1 WHERE EXISTS "
                     "(SELECT 1 FROM dc_src WHERE dc_src.k = {t}.k)",
    "update_exists_alias": "UPDATE {t} AS x SET v = -v WHERE EXISTS "
                           "(SELECT 1 FROM dc_src s WHERE s.k = x.k AND s.v > 150)",
    "update_correlated_scalar": "UPDATE {t} SET v = (SELECT s.v FROM dc_src s "
                                "WHERE s.k = {t}.k) WHERE k <= 2",
    "delete_in": "DELETE FROM {t} WHERE k IN (SELECT k FROM dc_src)",
    "delete_not_exists": "DELETE FROM {t} WHERE NOT EXISTS "
                         "(SELECT 1 FROM dc_src s WHERE s.k = {t}.k)",
    "delete_scalar": "DELETE FROM {t} WHERE v < (SELECT avg(v) FROM {t})",
    "update_from_table": "UPDATE {t} SET v = s.v FROM dc_src s WHERE {t}.k = s.k",
    "update_from_subquery": "UPDATE {t} SET v = s.v FROM "
                            "(SELECT k, v * 2 AS v FROM dc_src) s WHERE {t}.k = s.k",
    "delete_using": "DELETE FROM {t} USING dc_src s WHERE {t}.k = s.k",
    "on_conflict_nothing": "INSERT INTO {t} VALUES (1, 5), (7, 70) "
                           "ON CONFLICT (k) DO NOTHING",
    "on_conflict_null_key": "INSERT INTO {t} VALUES (NULL, 9) "
                            "ON CONFLICT (k) DO NOTHING",
    "on_conflict_update": "INSERT INTO {t} VALUES (1, 5), (7, 70) "
                          "ON CONFLICT (k) DO UPDATE SET v = EXCLUDED.v + {t}.v",
    "on_conflict_update_bare_target": "INSERT INTO {t} VALUES (1, 5), (7, 70) "
                                      "ON CONFLICT (k) DO UPDATE SET v = v + EXCLUDED.v",
    "on_conflict_update_where": "INSERT INTO {t} VALUES (1, 5), (2, 70) "
                                "ON CONFLICT (k) DO UPDATE SET v = EXCLUDED.v WHERE v < 15",
    "returning_update": "UPDATE {t} SET v = v * 2 WHERE k >= 2 RETURNING k, v",
    "returning_delete": "DELETE FROM {t} WHERE k = 3 RETURNING *",
    "returning_delete_using": "DELETE FROM {t} USING dc_src s "
                              "WHERE {t}.k = s.k RETURNING k",
    "returning_update_from": "UPDATE {t} SET v = s.v FROM dc_src s "
                             "WHERE {t}.k = s.k RETURNING k, v",
    "returning_on_conflict": "INSERT INTO {t} VALUES (1, 5), (7, 70) "
                             "ON CONFLICT (k) DO UPDATE SET v = EXCLUDED.v RETURNING k, v",
    "merge_first_match": (
        "MERGE INTO {t} t USING (SELECT * FROM VALUES (1, 101), (1, 100), "
        "(5, 500) AS x(k, v)) s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v)",
        [(2,)], [(1, 100), (2, 20), (3, 30), (4, None), (5, 500)]),
    "merge_ordered_clauses": (
        "MERGE INTO {t} AS t USING dc_src AS s ON t.k = s.k "
        "WHEN MATCHED AND s.v > 200 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = t.v + s.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)",
        [(3,)], [(1, 110), (2, 20), (4, None), (5, 500)]),
}


@pytest.fixture(scope="module")
def dml_contract_src(engine):
    engine.sql("CREATE TABLE dc_src AS SELECT * FROM VALUES "
               "(1, 100), (3, 300), (5, 500) AS x(k, v)")
    return engine


@pytest.mark.parametrize("case", sorted(_DML_CONTRACT))
def test_dml_contract(dml_contract_src, case):
    """Every DML form — plain, target-qualified and aliased UPDATE and
    DELETE, IN/EXISTS/correlated/scalar subqueries, UPDATE … FROM a
    table or a subquery, DELETE … USING, ON CONFLICT and RETURNING —
    leaves the table and answers the tag DuckDB does."""
    import duckdb

    engine = dml_contract_src
    spec = _DML_CONTRACT[case]
    stmt = (spec if isinstance(spec, str) else spec[0]).format(t=f"dc_{case}")
    values = ", ".join(f"({k}, {'NULL' if v is None else v})" for k, v in _DML_TABLE)
    engine.sql(f"CREATE TABLE dc_{case} AS SELECT k, CAST(v AS INT) AS v "
               f"FROM VALUES {values} AS x(k, v)")
    got = [tuple(r) for r in engine.sql(stmt).collect()]
    table = [tuple(r) for r in engine.sql(f"SELECT k, v FROM dc_{case}").collect()]
    if isinstance(spec, str):
        con = duckdb.connect()
        unique = " UNIQUE" if "ON CONFLICT" in stmt else ""
        con.execute(f"CREATE TABLE dc_{case} (k INTEGER{unique}, v INTEGER)")
        con.execute(f"INSERT INTO dc_{case} VALUES {values}")
        con.execute("CREATE TABLE dc_src (k INTEGER, v INTEGER)")
        con.execute("INSERT INTO dc_src VALUES (1, 100), (3, 300), (5, 500)")
        want = con.execute(stmt).fetchall()
        want_table = con.execute(f"SELECT k, v FROM dc_{case}").fetchall()
        con.close()
    else:
        want, want_table = spec[1], spec[2]
    assert sorted(got, key=repr) == sorted(want, key=repr)
    assert sorted(table, key=repr) == sorted(want_table, key=repr)


# -------------------------------------------------- table lifecycle
# Each case runs a script through Engine.sql, then one query. Where
# DuckDB 1.0 accepts the same script its rows are the expectation
# (None); otherwise the case carries its rows, or the text of the
# error the last statement raises. `check` asserts engine state.
def _lc_dropped(engine):
    from warehouse_pg_spark.catalog import _READER_CACHE

    path = os.path.join(engine.warehouse_dir, "lc_c1")
    assert "lc_c1" not in engine.catalog.tables
    assert not os.path.exists(path)
    assert path not in _READER_CACHE


def _lc_engine_table(*names):
    def check(engine):
        for n in names:
            info = engine.catalog.tables[n]
            assert info.path == os.path.join(engine.warehouse_dir, n)
    return check


def _lc_distribution(name, want):
    def check(engine):
        assert engine.catalog.tables[name].distribution == want
    return check


_LIFECYCLE = {
    "dropped_row_stays_dropped": (
        ["CREATE TABLE lc_d (a int, b int)", "INSERT INTO lc_d VALUES (1, 2)",
         "DROP TABLE lc_d", "CREATE TABLE lc_d (a int, b int)",
         "DELETE FROM lc_d WHERE a = 99"],
        "SELECT a, b FROM lc_d", None, None),
    "drop_removes_catalog_rows": (
        ["CREATE TABLE lc_c1 AS SELECT 1 AS a", "SELECT * FROM lc_c1", "DROP TABLE lc_c1"],
        "SELECT tablename FROM pg_tables WHERE tablename = 'lc_c1' "
        "UNION ALL SELECT relname FROM pg_stat_user_tables WHERE relname = 'lc_c1'",
        [], _lc_dropped),
    "unwritten_table_in_catalog": (
        ["CREATE TABLE lc_p2 (a int, b text)"],
        "SELECT t.tablename, c.column_name FROM pg_tables t JOIN "
        "information_schema.columns c ON c.table_name = t.tablename "
        "WHERE t.tablename = 'lc_p2'",
        [("lc_p2", "a"), ("lc_p2", "b")], _lc_engine_table("lc_p2")),
    "distributed_by_survives_insert": (
        ["CREATE TABLE lc_dist (a int, b text) DISTRIBUTED BY (a)",
         "INSERT INTO lc_dist VALUES (1, 'x')"],
        "SELECT a, b FROM lc_dist", [(1, "x")], _lc_distribution("lc_dist", ("hash", ("a",)))),
    "ctas_distributed_by_survives_update": (
        ["CREATE TABLE lc_g1 AS SELECT 1 AS a, 2 AS b DISTRIBUTED BY (a)",
         "UPDATE lc_g1 SET b = 3"],
        "SELECT a, b FROM lc_g1", [(1, 3)], _lc_distribution("lc_g1", ("hash", ("a",)))),
    "alter_add_column_after_write": (
        ["CREATE TABLE lc_alt (a int, b text)", "INSERT INTO lc_alt VALUES (1, 'x')",
         "ALTER TABLE lc_alt ADD COLUMN c int", "INSERT INTO lc_alt VALUES (2, 'y', 3)"],
        "SELECT a, b, c FROM lc_alt", None, None),
    "view_over_fixture": (
        ["CREATE VIEW lc_nv AS SELECT n_name FROM nation"],
        "SELECT count(*) FROM lc_nv", [(25,)], None),
    "view_over_unwritten_table": (
        ["CREATE TABLE lc_vt (a int)", "CREATE VIEW lc_vv AS SELECT a FROM lc_vt",
         "INSERT INTO lc_vt VALUES (1)"],
        "SELECT a FROM lc_vv", None, None),
    "ctas_with": (
        ["CREATE TABLE lc_w1 AS WITH x AS (SELECT 1 AS a) SELECT * FROM x"],
        "SELECT a FROM lc_w1", None, _lc_engine_table("lc_w1")),
    "ctas_values": (
        ["CREATE TABLE lc_w2 AS VALUES (1, 2)"],
        "SELECT * FROM lc_w2", [(1, 2)], _lc_engine_table("lc_w2")),
    "ctas_parenthesized": (
        ["CREATE TABLE lc_w3 AS (SELECT 1 AS a)"],
        "SELECT a FROM lc_w3", None, _lc_engine_table("lc_w3")),
    "ctas_if_not_exists": (
        ["CREATE TABLE IF NOT EXISTS lc_w4 AS SELECT 1 AS a",
         "CREATE TABLE IF NOT EXISTS lc_w4 AS SELECT 2 AS a"],
        "SELECT a FROM lc_w4", None, _lc_engine_table("lc_w4")),
    "ctas_unlogged": (
        ["CREATE UNLOGGED TABLE lc_w5 AS SELECT 1 AS a"],
        "SELECT a FROM lc_w5", [(1,)], _lc_engine_table("lc_w5")),
    "ctas_over_existing_raises": (
        ["CREATE TABLE lc_x AS SELECT 1 AS a", "CREATE TABLE lc_x AS SELECT 2 AS a"],
        "SELECT a FROM lc_x", 'relation "lc_x" already exists', None),
}


@pytest.mark.parametrize("case", sorted(_LIFECYCLE))
def test_table_lifecycle_contract(engine, case):
    """Every table a statement creates is an engine table from CREATE
    to DROP, whatever its spelling: DROP forgets it everywhere, an
    unwritten table is in the catalog, a DISTRIBUTED BY hint outlives
    writes, ADD COLUMN and views work on it, and re-creating a name
    raises as in PG. Spark's own warehouse directory is never used."""
    import duckdb

    script, query, want, check = _LIFECYCLE[case]
    spark_wh = engine.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    before = set(os.listdir(spark_wh)) if os.path.isdir(spark_wh) else set()
    if isinstance(want, str):
        for stmt in script[:-1]:
            engine.sql(stmt)
        with pytest.raises(Exception, match=want):
            engine.sql(script[-1])
        want = [(1,)]
    else:
        for stmt in script:
            engine.sql(stmt).collect()
    got = [tuple(r) for r in engine.sql(query).collect()]
    if want is None:
        con = duckdb.connect()
        for stmt in script:
            con.execute(stmt)
        want = con.execute(query).fetchall()
        con.close()
    assert sorted(got, key=repr) == sorted(want, key=repr)
    if check is not None:
        check(engine)
    after = set(os.listdir(spark_wh)) if os.path.isdir(spark_wh) else set()
    assert after == before


# -------------------------------------------------- table-name spellings
# One route script per spelling of the same names: every route that
# names a table must reach the engine table whose catalog key PG's
# rules give (unquoted folds to lower case, quoted keeps its case,
# `public` is the one engine schema). Reads use the bare name and the
# same spelling.
_SPELLINGS = {
    "bare": "{}".format,
    "upper": lambda n: n.upper(),
    "quoted": '"{}"'.format,
    "public": "public.{}".format,
    "quoted_public": '"public"."{}"'.format,
}
_SPELLING_SCRIPT = [
    "CREATE TABLE {t} (k int, v int)",
    "INSERT INTO {t} VALUES (1, 10), (2, 20), (3, 30)",
    "INSERT INTO {t} SELECT k + 10, v FROM sp_src",
    "UPDATE {t} SET v = v + 1 WHERE k = 1",
    "DELETE FROM {t} WHERE k = 2",
    "MERGE INTO {t} AS x USING sp_src AS s ON x.k = s.k "
    "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v)",
    "CREATE TABLE sp_dst (k int, v int)",
    "MERGE INTO sp_dst AS d USING {t} ON d.k = sp_t.k "
    "WHEN NOT MATCHED THEN INSERT VALUES (sp_t.k, sp_t.v)",
    "COPY {t} TO '{dir}' WITH (FORMAT csv)",
    "TRUNCATE {t}",
    "COPY {t} FROM '{dir}' WITH (FORMAT csv)",
    "ALTER TABLE {t} ADD COLUMN w int",
    "CREATE INDEX sp_ix ON {t} (v)",
    "CLUSTER {t}",
    "VACUUM FULL {t}",
    "ANALYZE {t}",
    "SELECT k, v INTO {i} FROM sp_t WHERE k < 5",
    "CREATE VIEW {v} AS SELECT k FROM sp_t WHERE v > 100",
]
_SPELLING_ROWS = {
    "sp_t": [(1, 100, None), (3, 30, None), (5, 500, None), (11, 100, None), (15, 500, None)],
    "sp_dst": [(1, 100), (3, 30), (5, 500), (11, 100), (15, 500)],
    "sp_i": [(1, 100), (3, 30)],
    "sp_v": [(5,), (15,)],
}


def _spark_warehouse(engine):
    path = engine.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    return set(os.listdir(path)) if os.path.isdir(path) else set()


def test_table_name_spellings(engine, tmp_path):
    """Each spelling of the names runs every table-naming route
    (CREATE, INSERT VALUES/SELECT, UPDATE, DELETE, MERGE as target and
    source, COPY TO/FROM, TRUNCATE, ALTER ADD COLUMN, CREATE INDEX +
    CLUSTER, VACUUM, ANALYZE, SELECT INTO, CREATE VIEW, DROP lists) and
    ends with the bare spelling's rows under the catalog keys `sp_*`,
    read through the bare name and through the same spelling, never
    touching Spark's warehouse."""
    engine.sql("CREATE TABLE IF NOT EXISTS sp_src AS SELECT * FROM VALUES "
               "(1, 100), (5, 500) AS x(k, v)")
    before = _spark_warehouse(engine)
    for spelling, spell in _SPELLINGS.items():
        names = {"t": spell("sp_t"), "i": spell("sp_i"), "v": spell("sp_v"),
                 "dir": str(tmp_path / spelling)}
        for stmt in _SPELLING_SCRIPT:
            engine.sql(stmt.format(**names)).collect()
        got = {n: sorted(tuple(r) for r in engine.sql(f"SELECT * FROM {n}").collect())
               for n in _SPELLING_ROWS}
        assert got == _SPELLING_ROWS, spelling
        got = {n: sorted(tuple(r) for r in engine.sql(f"SELECT * FROM {spell(n)}").collect())
               for n in _SPELLING_ROWS}
        assert got == _SPELLING_ROWS, spelling
        assert {"sp_t", "sp_dst", "sp_i"} <= set(engine.catalog.tables), spelling
        assert engine._index_hints["sp_t"] == [("v",)], spelling
        engine.sql("DROP TABLE {t}, sp_dst, {i}".format(**names))
        engine.sql("DROP VIEW sp_v")
        assert not {"sp_t", "sp_dst", "sp_i"} & set(engine.catalog.tables), spelling
        assert "sp_t" not in engine._index_hints, spelling
        assert not os.path.exists(os.path.join(engine.warehouse_dir, "sp_t")), spelling
        assert _spark_warehouse(engine) == before, spelling


def test_quoted_mixed_case_table(engine):
    """A quoted mixed-case name is an engine table keyed by its exact
    spelling, in pg_tables too; Spark's warehouse is never used."""
    before = _spark_warehouse(engine)
    for stmt in ['CREATE TABLE "QFoo" (a int, b text)',
                 "INSERT INTO \"QFoo\" VALUES (1, 'x'), (2, 'y'), (3, 'z')",
                 "UPDATE \"QFoo\" SET b = 'w' WHERE a = 2",
                 'DELETE FROM "QFoo" WHERE a = 1']:
        engine.sql(stmt).collect()
    assert sorted(tuple(r) for r in engine.sql('SELECT a, b FROM "QFoo"').collect()) == [
        (2, "w"), (3, "z")]
    assert engine.catalog.tables["QFoo"].path == os.path.join(engine.warehouse_dir, "QFoo")
    assert [tuple(r) for r in engine.sql(
        "SELECT tablename FROM pg_tables WHERE lower(tablename) = 'qfoo'").collect()] == [("QFoo",)]
    # pg_class holds one row for the table, pg_attribute one per column.
    for view, rows in (("pg_class", [("QFoo",)]), ("pg_attribute", [("QFoo",)] * 2)):
        assert sorted(tuple(r) for r in engine.sql(
            f"SELECT relname FROM {view} WHERE lower(relname) = 'qfoo'").collect()) == rows, view
    assert _spark_warehouse(engine) == before
    engine.sql('DROP TABLE "QFoo"')
    assert "QFoo" not in engine.catalog.tables
    assert not os.path.exists(os.path.join(engine.warehouse_dir, "QFoo"))


def test_case_only_name_collision_raises(engine):
    """Spark resolves names case-insensitively, so a table whose name
    differs from an existing one only in case raises at CREATE instead
    of aliasing it."""
    engine.sql('CREATE TABLE "QBar" (a int)')
    with pytest.raises(ValueError, match='relation "qbar" already exists'):
        engine.sql("CREATE TABLE qbar (a int)")
    engine.sql("CREATE TABLE qbaz AS SELECT 1 AS a")
    with pytest.raises(ValueError, match='relation "QBaz" already exists'):
        engine.sql('CREATE TABLE "QBaz" AS SELECT 2 AS a')
    assert [tuple(r) for r in engine.sql("SELECT a FROM qbaz").collect()] == [(1,)]
    engine.sql('DROP TABLE "QBar", qbaz')


def test_unsafe_table_names_raise(engine):
    """A table is a directory under warehouse_dir: a quoted name that is
    empty, `.` or `..`, or holds `/`, raises at CREATE and writes
    nothing (DROP's rmtree of `..` would delete the warehouse's
    parent)."""
    parent = os.path.dirname(engine.warehouse_dir)
    listing = (set(os.listdir(engine.warehouse_dir)), set(os.listdir(parent)))
    spark_before = _spark_warehouse(engine)
    for name in ('""', '"."', '".."', '"a/b"'):
        for stmt in (f"CREATE TABLE {name} (a int)", f"CREATE TABLE {name} AS SELECT 1 AS a"):
            with pytest.raises(ValueError, match="invalid relation name"):
                engine.sql(stmt)
    assert (set(os.listdir(engine.warehouse_dir)), set(os.listdir(parent))) == listing
    assert _spark_warehouse(engine) == spark_before
    assert not os.path.exists(os.path.join(engine.warehouse_dir, "a"))


def test_index_hint_follows_table_key(engine):
    """CREATE INDEX records its hint under the table's key, so CLUSTER
    in another case rewrites the table sorted by the indexed column and
    DROP TABLE clears the hint."""
    import pyarrow.parquet as pq

    from warehouse_pg_spark.catalog import data_files

    engine.sql("CREATE TABLE ix_ct AS SELECT n AS k, (n * 7919) % 1000 AS v "
               "FROM generate_series(0, 999) AS g(n)")
    path = os.path.join(engine.warehouse_dir, "ix_ct")

    def files_sorted():
        cols = [pq.read_table(p, columns=["v"]).column("v").to_pylist()
                for p, _ in data_files(path)]
        return all(c == sorted(c) for c in cols)

    assert not files_sorted()
    engine.sql("CREATE INDEX ix_v ON IX_CT (v)")
    engine.sql("CLUSTER ix_ct")
    assert files_sorted()
    assert engine.sql("SELECT count(*) FROM ix_ct").collect()[0][0] == 1000
    engine.sql("DROP TABLE ix_ct")
    assert not any(k.lower() == "ix_ct" for k in engine._index_hints)


def test_analyze_raises_for_unknown_and_skips_engine_tables(engine):
    """ANALYZE of a name no catalog holds raises Spark's error; on an
    engine table (a temp view Spark cannot analyze) it answers tag 0
    and starts no Spark job."""
    from warehouse_pg_spark.catalog import spark_jobs_started

    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND"):
        engine.sql("ANALYZE an_no_such_table")
    engine.sql("CREATE TABLE an_t AS SELECT 1 AS a")
    jobs = spark_jobs_started(engine.spark)
    assert engine.sql('ANALYZE "public".an_t (a)').collect()[0].rows_affected == 0
    assert spark_jobs_started(engine.spark) == jobs
    engine.sql("DROP TABLE an_t")


def test_drop_keeps_attached_files_and_cache_bounded(engine, tmp_path):
    """DROP TABLE of an attached table removes only the name: its files
    stay and attach again with the same rows. CREATE/DROP cycles do not
    grow the relation cache."""
    from warehouse_pg_spark import catalog

    path = str(tmp_path / "att")
    engine.spark.range(3).write.parquet(path)
    engine.attach_parquet("lc_att", path)
    engine.sql("DROP TABLE lc_att")
    assert "lc_att" not in engine.catalog.tables
    assert not engine.spark.catalog.tableExists("lc_att")
    assert catalog.data_files(path)
    engine.attach_parquet("lc_att", path)
    assert sorted(r.id for r in engine.sql("SELECT id FROM lc_att").collect()) == [0, 1, 2]
    engine.sql("DROP TABLE lc_att")
    size = len(catalog._READER_CACHE)
    for _ in range(20):
        engine.sql("CREATE TABLE lc_cycle AS SELECT 1 AS a")
        engine.sql("DROP TABLE lc_cycle")
    assert len(catalog._READER_CACHE) <= size


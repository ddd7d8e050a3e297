"""Row counts without count jobs: DML statements count the rows they
change on their one write (an `Observation`), and the catalog surfaces
(pg_class.reltuples, pg_stat_user_tables.n_live_tup) sum parquet
footers instead of running a Spark count."""

from __future__ import annotations

import uuid

import duckdb
import pytest

from warehouse_pg_spark import catalog
from warehouse_pg_spark.engine import Engine


def spark_jobs(spark, run) -> int:
    """Spark jobs started while `run()` executes (its own job group)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        run()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def eng(spark, tmp_path):
    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    eng.sql("CREATE TABLE wc AS SELECT id AS k, id * 2 AS v FROM range(1000)")
    return eng


def test_dml_statement_jobs_pinned(eng, tmp_path):
    """Each statement runs its one write job and no separate count job
    (before: 3-4 jobs each). A statement may add one footer
    schema-inference job when it refreshes the table's reader and the
    first data file (by its random name) has a footer the cached reader
    has not seen, e.g. one written from the CSV rows."""
    csv = tmp_path / "in.csv"
    csv.write_text("5000,1\n5001,2\n")
    statements = [
        ("INSERT INTO wc VALUES (2000, 1)", 1),
        ("INSERT INTO wc SELECT k + 3000, v FROM wc WHERE k < 3", 3),
        (f"COPY wc FROM '{csv}' WITH (FORMAT csv)", 2),
        ("UPDATE wc SET v = v + 1 WHERE k = 5", 1),
        ("DELETE FROM wc WHERE k < 7", 7),
    ]
    for stmt, n in statements:
        out = []
        assert spark_jobs(eng.spark, lambda: out.append(eng.sql(stmt))) <= 2, stmt
        assert out[0].collect()[0].rows_affected == n, stmt
    assert eng.sql("SELECT count(*) AS n FROM wc").collect()[0].n == 1000 + 1 + 3 + 2 - 7


def test_row_counts_follow_writes(eng):
    """reltuples and n_live_tup equal DuckDB's count(*) over the
    table's files after every kind of write."""
    path = eng.catalog.tables["wc"].path

    def check(after: str):
        with duckdb.connect() as con:
            want = con.execute(
                f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet')"
            ).fetchone()[0]
        rel = eng.sql(
            "SELECT reltuples, relpages FROM pg_class WHERE relname = 'wc'"
        ).collect()[0]
        live = eng.sql(
            "SELECT n_live_tup, n_bytes FROM pg_stat_user_tables WHERE relname = 'wc'"
        ).collect()[0]
        assert (rel.reltuples, live.n_live_tup) == (want, want), after
        assert rel.relpages == -(-live.n_bytes // 8192) > 0, after

    check("CREATE")
    eng.sql("INSERT INTO wc SELECT k + 5000, v FROM wc WHERE k < 10")
    check("INSERT")
    eng.sql("UPDATE wc SET v = 0 WHERE k < 100")
    check("UPDATE")
    eng.sql("DELETE FROM wc WHERE k BETWEEN 100 AND 199")
    check("DELETE")
    eng.sql(
        "MERGE INTO wc t USING (SELECT id AS k FROM range(995, 1010)) s ON t.k = s.k "
        "WHEN MATCHED THEN DELETE WHEN NOT MATCHED THEN INSERT VALUES (s.k, 1)"
    )
    check("MERGE")
    eng.sql("VACUUM FULL wc")
    check("VACUUM")


def test_pg_stat_user_tables_runs_no_count_job(eng):
    """Building pg_stat_user_tables starts no more Spark jobs than
    pg_tables (no per-table count)."""
    eng.sql("CREATE TABLE wc2 AS SELECT 1 AS a")
    tables = spark_jobs(eng.spark, lambda: eng.sql("SELECT * FROM pg_tables"))
    stats = spark_jobs(eng.spark, lambda: eng.sql("SELECT * FROM pg_stat_user_tables"))
    assert stats <= tables


def test_reread_after_write_infers_no_schema(eng, tmp_path, monkeypatch):
    """The table's writers give footers that differ only in REQUIRED vs
    OPTIONAL: the CTAS from `range` writes REQUIRED columns, INSERT
    VALUES, COPY and UPDATE write OPTIONAL ones. Spark reads every
    column as nullable, so each re-read after a write reuses the cached
    read schema and starts no footer-inference job, whichever data file
    sorts first by its random name."""
    csv = tmp_path / "in.csv"
    csv.write_text("5000,1\n")
    read, jobs = catalog.read_parquet_table, []

    def counted(spark, path):
        before = catalog.spark_jobs_started(spark)
        df = read(spark, path)
        jobs.append(catalog.spark_jobs_started(spark) - before)
        return df

    monkeypatch.setattr(catalog, "read_parquet_table", counted)
    statements = [
        "INSERT INTO wc VALUES (2000, 1)",
        f"COPY wc FROM '{csv}' WITH (FORMAT csv)",
        "UPDATE wc SET v = v + 1 WHERE k = 5",
    ]
    for _ in range(3):
        for stmt in statements:
            seen = len(jobs)
            eng.sql(stmt)
            assert len(jobs) > seen, stmt
            assert jobs[seen:] == [0] * (len(jobs) - seen), stmt


def test_pg_class_reads_no_unbuilt_catalog_view(eng, monkeypatch):
    """Building pg_class after an Observation-counted write reads no
    catalog view that is not built yet: each such read fails analysis,
    and Spark's ObservationManager logs a stack trace for it."""
    eng.sql("INSERT INTO wc VALUES (2000, 1)")
    for view in ("pg_class", "pg_attribute", "pg_type", "pg_namespace", "pg_proc"):
        eng.spark.catalog.dropTempView(view)
    table, failed = eng.spark.table, []

    def checked(name):
        try:
            return table(name)
        except Exception:
            failed.append(name)
            raise

    monkeypatch.setattr(eng.spark, "table", checked)
    rows = eng.sql("SELECT relname FROM pg_class").collect()
    assert failed == []
    assert {"wc", "pg_class", "pg_attribute"} <= {r.relname for r in rows}

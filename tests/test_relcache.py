"""The one read path for engine tables: catalog.read_parquet_table and
its relation cache (one entry per table path and session, replaced when
the table's file listing changes), plus the footer-based rule for
nanosecond timestamps."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq

from warehouse_pg_spark import catalog
from warehouse_pg_spark.catalog import read_parquet_table
from warehouse_pg_spark.engine import Engine


def test_file_added_under_partition_dir_is_visible(spark, tmp_path):
    path = str(tmp_path / "pt")
    spark.range(0, 10).selectExpr("id", "id % 2 AS p").write.partitionBy(
        "p"
    ).parquet(path)
    assert read_parquet_table(spark, path).count() == 10
    pq.write_table(
        pa.table({"id": pa.array([100], pa.int64())}),
        f"{path}/p=1/extra.parquet",
    )
    df = read_parquet_table(spark, path)
    assert df.count() == 11
    assert df.filter("p = 1 AND id = 100").count() == 1


def test_bigint_ts_column_stays_bigint(spark, tmp_path):
    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    eng.sql(
        "CREATE TABLE tsx AS SELECT * FROM VALUES "
        "(1, CAST(1700000000000 AS BIGINT)) AS t(id, ts)"
    )

    def rows():
        df = eng.sql("SELECT id, ts FROM tsx ORDER BY id")
        assert dict(df.dtypes)["ts"] == "bigint"
        return [(r.id, r.ts) for r in df.collect()]

    assert rows() == [(1, 1700000000000)]
    eng.sql("UPDATE tsx SET id = 2")
    assert rows() == [(2, 1700000000000)]
    eng.sql("INSERT INTO tsx VALUES (3, 5)")
    assert rows() == [(2, 1700000000000), (3, 5)]


def test_nanosecond_timestamps_from_footer(spark, tmp_path):
    """Columns the parquet footer declares TIMESTAMP(NANOS) read as
    microsecond timestamps, whatever their name."""
    path = str(tmp_path / "nanos.parquet")
    when = datetime.datetime(2023, 11, 14, 22, 13, 20, 123456)
    pq.write_table(
        pa.table({
            "id": pa.array([1], pa.int64()),
            "happened": pa.array([when], pa.timestamp("ns")),
        }),
        path,
    )
    df = read_parquet_table(spark, path)
    assert dict(df.dtypes) == {"id": "bigint", "happened": "timestamp"}
    assert df.collect()[0].happened == when


def test_reader_cache_bounded_by_tables(spark, tmp_path):
    catalog._READER_CACHE.clear()
    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    eng.sql("CREATE TABLE upd AS SELECT id, id * 2 AS v FROM range(10)")
    for _ in range(20):
        eng.sql("UPDATE upd SET v = v + 1 WHERE id < 5")
        eng.catalog.load("upd")
    assert eng.sql("SELECT sum(v) AS s FROM upd").collect()[0].s == 190
    paths = {info.path for info in eng.catalog.tables.values() if info.path}
    assert len(catalog._READER_CACHE) <= len(paths)


def test_reader_is_bound_to_its_session(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(0, 3).write.parquet(path)
    assert read_parquet_table(spark, path).sparkSession is spark
    other = spark.newSession()
    df = read_parquet_table(other, path)
    assert df.sparkSession is other
    assert df.count() == 3
    assert read_parquet_table(spark, path).sparkSession is spark

"""Partition pruning gates — the reference's dpe.sql /
partition_pruning.sql scenarios re-expressed for Parquet layout.

Static pruning: a literal predicate on the partition column must land
in PartitionFilters (scan never lists excluded dirs).
Dynamic pruning: a join whose other side filters the partition key must
inject a dynamicpruning subquery into the fact scan (PartitionSelector
analogue, executor/nodePartitionSelector.c).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from warehouse_pg_spark.catalog import read_parquet_table
from warehouse_pg_spark.queries.registry import table
from warehouse_pg_spark.sources.partitioned import (
    range_partition_expr,
    write_partitioned,
)


@pytest.fixture(scope="module")
def orders_by_year(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("part") / "orders_by_year")
    orders = table(spark, sf_dir, "orders")
    write_partitioned(
        orders,
        path,
        "o_year",
        range_partition_expr("o_orderdate", "1995-01-01", 1, unit="year"),
    )
    return path


def _plan(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_range_partition_expr_numeric(spark):
    df = spark.range(0, 100).select(
        F.col("id"), range_partition_expr("id", 0, 25).alias("p")
    )
    buckets = {r.p for r in df.collect()}
    assert buckets == {0, 1, 2, 3}


def test_static_partition_pruning(spark, sf_dir, orders_by_year):
    df = read_parquet_table(spark, orders_by_year).filter(F.col("o_year") == 1)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    assert "o_year" in plan.split("PartitionFilters")[1].split("]")[0]
    # correctness: partition col derivation matches the raw data
    orders = table(spark, sf_dir, "orders")
    expected = orders.filter(F.year("o_orderdate") == 1996).count()
    assert df.count() == expected


def test_dynamic_partition_pruning(spark, sf_dir, orders_by_year):
    fact = read_parquet_table(spark, orders_by_year)
    dim = spark.createDataFrame(
        [(0, "y95"), (2, "y97")], ["dim_year", "tag"]
    ).filter(F.col("tag") == "y97")
    joined = fact.join(
        F.broadcast(dim), fact.o_year == dim.dim_year
    )
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower(), plan
    orders = table(spark, sf_dir, "orders")
    expected = orders.filter(F.year("o_orderdate") == 1997).count()
    assert joined.count() == expected


def test_partition_values_cover_fixture_years(spark, sf_dir, orders_by_year):
    """Every order lands in exactly one partition; partition ids span
    the fixture's 1995-2001 order-date range."""
    fact = read_parquet_table(spark, orders_by_year)
    years = sorted(r.o_year for r in fact.select("o_year").distinct().collect())
    assert years == list(range(0, 7))
    orders = table(spark, sf_dir, "orders")
    assert fact.count() == orders.count()


def test_schema_evolution_merge(spark, tmp_path):
    """Schema evolution across file generations (ALTER TABLE ADD COLUMN
    analogue for immutable parquet): old files lack the new column,
    mergeSchema unifies, old rows read NULL."""
    path = str(tmp_path / "evolving")
    spark.range(0, 100).selectExpr("id", "id * 1.0 AS v").write.parquet(path)
    spark.range(100, 200).selectExpr(
        "id", "id * 1.0 AS v", "'tagged' AS note"
    ).write.mode("append").parquet(path)

    df = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(df.columns) == {"id", "v", "note"}
    assert df.count() == 200
    assert df.filter("note IS NULL").count() == 100
    assert df.filter("note = 'tagged'").count() == 100

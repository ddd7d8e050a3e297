"""Shared test fixtures: one SparkSession per test run, sf0.001 data."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from warehouse_pg_spark.session import SessionConfig, get_spark

    # Spark's own managed tables (bucketed tables, schema-qualified and
    # USING/LOCATION creates) go to a per-run directory, never the repo
    spark = get_spark(
        SessionConfig(
            app_name="warehouse_pg_spark-tests",
            shuffle_partitions=8,
            extra={
                "spark.sql.shuffle.partitions": "8",
                "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("spark-warehouse")),
            },
        )
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR

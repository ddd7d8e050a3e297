"""Spark's generated-class cache holds the engine's plan working set:
a query that runs again compiles no new Janino class (`codegen_stats`)."""

from __future__ import annotations

from perfbench.workloads import ANALYTIC_QUERIES
from warehouse_pg_spark.queries import REGISTRY
from warehouse_pg_spark.session import SessionConfig, codegen_stats

_KEY = "spark.sql.codegen.cache.maxEntries"


def test_get_spark_sizes_the_codegen_cache(spark):
    assert spark.conf.get(_KEY) == SessionConfig().to_conf()[_KEY]


def test_second_pass_compiles_nothing(spark, sf_dir):
    """Two passes over the analytic_batch queries: the second finds every
    generated class in the cache. With Spark's default of 100 entries
    the cache evicts in a cycle and every pass recompiles dozens."""

    def one_pass():
        for name in ANALYTIC_QUERIES:
            REGISTRY[name].fn(spark, sf_dir).collect()

    one_pass()
    before, _ = codegen_stats(spark)
    one_pass()
    after, _ = codegen_stats(spark)
    assert after - before <= 5


def test_codegen_stats_counts_compiles(spark):
    """A query shape never run before compiles at least one class and
    takes compile time; running it again compiles nothing."""
    df = spark.range(50).selectExpr("id * 7919 % 104729 AS codegen_probe")
    classes, ms = codegen_stats(spark)
    df.collect()
    classes2, ms2 = codegen_stats(spark)
    assert classes2 > classes and ms2 > ms
    df.collect()
    assert codegen_stats(spark)[0] == classes2

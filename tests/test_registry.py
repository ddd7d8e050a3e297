"""Registry invariants the grading driver depends on.

The driver scores only the FIRST 50 registry entries (dict insertion
order), so the curated DRIVER_PREFIX must actually be the prefix, every
prefix entry must be oracle-checkable, and the prefix must span every
SURVEY §2 family (one representative tag each).
"""

from __future__ import annotations

from warehouse_pg_spark.queries import DRIVER_PREFIX, REGISTRY

# tag → family the prefix must exercise
REQUIRED_FAMILY_TAGS = [
    "scan",
    "join",
    "subquery",
    "lateral",
    "dqa",
    "groupingsets",
    "percentile",
    "ordered-agg",
    "orderedset",
    "sketch",
    "filter-clause",
    "window",
    "frames",
    "setop",
    "sample",
    "sort",
    "limit",
    "cte",
    "recursive",
    "srf",
    "udtf",
    "uda",
    "tablefunc",
    "external",
    "functions",
    "regex",
    "arrays",
    "datetime",
    "json",
    "asof",
    "timeseries",
    "streaming-batch",
    "dedup",
    "minhash",
    "similarity",
    "ivf",
    "pipeline",
    "text",
    "multimodal",
    "dialect",
]


def test_prefix_is_first_50():
    assert len(DRIVER_PREFIX) == 50
    assert list(REGISTRY)[:50] == list(DRIVER_PREFIX)


def test_prefix_entries_all_oracle_checkable():
    holes = [n for n in DRIVER_PREFIX if REGISTRY[n].oracle is None]
    assert not holes, f"prefix entries without oracle: {holes}"


def test_prefix_plus_history_spans_every_family():
    """Every SURVEY §2 family must have a driver-green representative —
    either already verified in a prior round's CORRECTNESS_r*.json or
    entering the scored prefix this round. (Per-round prefix spanning
    became impossible once the rotation policy filled the prefix with
    never-scored entries whose families' only owners are already
    green.)"""
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    covered: set[str] = set(DRIVER_PREFIX)
    rounds = [os.path.join(d, "CORRECTNESS_r*.json") for d in (root, os.path.join(root, "history"))]
    for f in [f for pattern in rounds for f in glob.glob(pattern)]:
        with open(f) as fh:
            covered.update(
                n for n, v in json.load(fh).items()
                if isinstance(v, dict) and v.get("hash_match")
            )
    seen: set[str] = set()
    for n in covered:
        if n in REGISTRY:
            seen.update(REGISTRY[n].tags)
    missing = [t for t in REQUIRED_FAMILY_TAGS if t not in seen]
    assert not missing, f"families with no driver-scored representative: {missing}"


def test_no_rows_only_entries_anywhere():
    """Every registered query is oracle-checkable (driver shows zero
    'no_oracle' rows)."""
    holes = [n for n, q in REGISTRY.items() if q.oracle is None]
    assert not holes, f"rows-only entries: {holes}"


def test_canonize_handles_nested_types(spark):
    """MapType/StructType (and arrays of them / of timestamps) must
    leave _canonize as plain strings — anything else is unhashable in
    the driver's pandas comparison channel."""
    import datetime as dt

    from pyspark.sql import functions as F
    from warehouse_pg_spark.queries.registry import _canonize

    df = spark.createDataFrame(
        [(1, {"k": 2}, (3, "x"), [dt.date(2020, 1, 2)],
          [dt.datetime(2020, 1, 2, 3, 4, 5)])],
        "id int, m map<string,int>, s struct<a:int,b:string>, "
        "ds array<date>, ts array<timestamp>",
    ).withColumn("nested", F.array(F.struct(F.lit(1).alias("q"))))
    out = _canonize(df)
    kinds = dict(out.dtypes)
    assert kinds == {
        "id": "int", "m": "string", "s": "string",
        "ds": "string", "ts": "string", "nested": "string",
    }, kinds
    row = out.collect()[0]
    assert row.ds == "2020-01-02" and row.ts == "2020-01-02 03:04:05"
    assert "k" in row.m and "q" in row.nested


# Post-catalog dtypes for every fixture table, pinned exactly. This is
# the schema-drift tripwire: PySpark 4.1 silently re-typed parquet
# timestamp[us] (isAdjustedToUTC=false) as TIMESTAMP_NTZ, which broke
# unix_millis()/withWatermark() across 3 driver queries, 13 local tests
# and the round-4 bench. Any future reader-inference drift must fail
# HERE, loudly, not in a query three layers up.
EXPECTED_DTYPES = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [
        ("n_nationkey", "int"),
        ("n_name", "string"),
        ("n_regionkey", "int"),
    ],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp"),
    ],
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp"),
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}


import pytest  # noqa: E402


@pytest.mark.parametrize("name", sorted(EXPECTED_DTYPES))
def test_fixture_schema_pinned(spark, sf_dir, name):
    from warehouse_pg_spark.queries.registry import table

    got = table(spark, sf_dir, name).dtypes
    assert got == EXPECTED_DTYPES[name], (
        f"{name}: post-catalog schema drifted.\n got: {got}\n "
        f"want: {EXPECTED_DTYPES[name]}"
    )
    # the engine-wide timestamp policy: NTZ never escapes the catalog
    assert not any(t == "timestamp_ntz" for _, t in got), name


def test_parity_channel_is_driver_faithful(spark, sf_dir):
    """Round-8 red regression (pgsql_keyset_pagination): the driver
    renders results through pandas astype(str), where an ALL-midnight
    datetime64 column prints date-only ('1997-06-01') while
    registry._canonize formats a Spark TimestampType as
    '1997-06-01 00:00:00'.  The old per-cell _norm channel normalized
    both to the same string and so could never see the class; the
    driver-faithful channel must flag it."""
    import pandas as pd

    from tests.parity import _pandas_rows, compare

    # 1. pin the pandas semantics the driver relies on
    allmid = pd.DataFrame({"d": pd.to_datetime(["1997-06-01", "1998-01-02"])})
    _, rows = _pandas_rows(allmid)
    assert rows == [("1997-06-01",), ("1998-01-02",)]
    mixed = pd.DataFrame(
        {
            "d": pd.to_datetime(
                ["1997-06-01", "1998-01-02 03:00:00"], format="mixed"
            )
        }
    )
    _, rows = _pandas_rows(mixed)
    assert rows[0] == ("1997-06-01 00:00:00",)
    nat = pd.DataFrame({"d": pd.to_datetime([None, "1998-01-02"])})
    _, rows = _pandas_rows(nat)
    assert ("NaT",) in rows  # vs Spark-side canonized string NULL → 'None'

    # 2. a raw-timestamp Spark projection vs a raw all-midnight oracle
    #    column MUST mismatch under this channel (the round-8 red shape)
    from warehouse_pg_spark.queries.registry import _canonize, table

    df = _canonize(
        table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate").limit(5)
    )
    with pytest.raises(AssertionError, match="value mismatch"):
        compare(
            df,
            "SELECT o_orderkey, o_orderdate FROM orders "
            "ORDER BY o_orderkey LIMIT 5",
            sf_dir,
            name="channel-regression",
        )
    # and the strftime'd oracle form matches
    compare(
        df,
        "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') "
        "AS o_orderdate FROM orders ORDER BY o_orderkey LIMIT 5",
        sf_dir,
        name="channel-fixed",
    )


# ---------------------------------------------------------------- plan cache
import re  # noqa: E402

import duckdb  # noqa: E402
import pyspark.sql.functions as F  # noqa: E402

from perfbench.workloads import ANALYTIC_QUERIES  # noqa: E402
from tests.parity import compare  # noqa: E402
from warehouse_pg_spark.queries.registry import (  # noqa: E402
    _PLAN_CACHE,
    _canonize,
    plan_cache_stats,
)

# every bench-tagged builder but this one (it runs 30 Spark jobs while
# it builds) is cached; a builder change that loses the cache fails here
_BENCH_UNCACHEABLE = {"dedup_cluster_components"}


def _call(spark, name: str, sf_dir: str):
    """One registry call: its DataFrame and how the plan cache served
    it ("hits", "misses" or "uncacheable")."""
    before = plan_cache_stats(spark)
    df = REGISTRY[name].fn(spark, sf_dir)
    after = plan_cache_stats(spark)
    return df, next(k for k in after if after[k] > before[k])


@pytest.mark.parametrize("name", ANALYTIC_QUERIES)
def test_plan_cache_hit_matches_oracle(spark, sf_dir, name):
    _call(spark, name, sf_dir)
    df, served = _call(spark, name, sf_dir)
    assert served == "hits"
    compare(df, REGISTRY[name].oracle, sf_dir, name=f"{name}[cached plan]")


def _q6_oracle(table_dir) -> float:
    with duckdb.connect() as con:
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{table_dir}/*.parquet')")
        return float(con.execute(REGISTRY["tpch_q6_forecast_revenue"].oracle).fetchone()[0])


@pytest.mark.parametrize("write", ["insert", "delete"])
def test_plan_cache_never_serves_a_stale_listing(spark, sf_dir, tmp_path, write):
    """A write through ParquetTable changes the table's listing
    signature, so the next call rebuilds and sees the new files."""
    from warehouse_pg_spark.catalog import read_parquet_table
    from warehouse_pg_spark.operators.dml import ParquetTable

    name = "tpch_q6_forecast_revenue"
    path = str(tmp_path / "lineitem.parquet")
    read_parquet_table(spark, f"{sf_dir}/lineitem.parquet").write.parquet(path)

    def revenue():
        df, served = _call(spark, name, str(tmp_path))
        return df.collect()[0].revenue, served

    before, _ = revenue()
    assert before == _q6_oracle(path)
    assert revenue() == (before, "hits")
    t = ParquetTable(spark, path)
    if write == "insert":
        rows = t.read().filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.02, 0.04) & (F.col("l_quantity") < 24)
        ).limit(3).collect()
        assert rows
        t.insert(spark.createDataFrame(rows, t.read().schema))
    else:
        t.delete(F.col("l_quantity") < 10)
    after, served = revenue()
    assert served == "misses"
    assert after == _q6_oracle(path) != before


def test_plan_cache_invalidation(spark, sf_dir, tmp_path):
    """A conf change (spark.conf.set) misses on its fingerprint; SET and
    CREATE FUNCTION through Engine.sql drop the session's plans."""
    from warehouse_pg_spark.engine import Engine

    name = "tpch_q3_shipping_priority"

    def served():
        return _call(spark, name, sf_dir)[1]

    served()
    assert served() == "hits"
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert served() == "misses"
        assert served() == "hits"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert served() == "misses"
    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    eng.sql("SET work_mem = '64MB'")
    assert served() == "misses"
    assert served() == "hits"
    eng.sql("CREATE FUNCTION pc_plus_one(x int) RETURNS int "
            "AS $$ SELECT x + 1 $$ LANGUAGE sql")
    assert served() == "misses"


@pytest.mark.parametrize(
    "name",
    # runs Spark jobs; a LogicalRDD leaf; a non-deterministic plan
    ["dedup_cluster_components", "setop_values_scan", "udtf_python_split_words"],
)
def test_uncacheable_builders_are_never_cached(spark, sf_dir, name):
    for _ in range(2):
        assert _call(spark, name, sf_dir)[1] == "uncacheable"
    assert name not in _PLAN_CACHE[spark].plans


@pytest.fixture(scope="module")
def cacheable(spark, sf_dir) -> dict[str, bool]:
    """Every registry query built once: whether its plan is cached."""
    out = {}
    for name in REGISTRY:
        out[name] = _call(spark, name, sf_dir)[1] != "uncacheable"
    return out


def test_bench_builders_stay_cacheable(cacheable):
    bench = {n for n, q in REGISTRY.items() if "bench" in q.tags}
    assert {n for n in bench if cacheable[n]} == bench - _BENCH_UNCACHEABLE


def _plan_text(plan) -> str:
    """An analyzed plan's text without its fresh names: expression ids
    (`#12`), PySpark's numbered lambda variables (`lambda x_7`) and the
    numbered internal names a compiler makes up (`__q3`)."""
    text = re.sub(r"#\d+", "", plan.toString())
    text = re.sub(r"(lambda [A-Za-z]+)_\d+", r"\1", text)
    return re.sub(r"\b(__[A-Za-z]+)\d+\b", r"\1", text)


def test_cached_plan_equals_a_fresh_build(spark, sf_dir, cacheable):
    """A cached builder is a pure function of the conf and the tables it
    reads: a fresh build's analyzed plan equals the cached one, up to
    fresh names. A builder that reads Python-side state fails."""
    differ = []
    for name in (n for n, ok in cacheable.items() if ok):
        _call(spark, name, sf_dir)
        cached = _PLAN_CACHE[spark].plans[name].analyzed
        fresh = _canonize(REGISTRY[name].fn.__wrapped__(spark, sf_dir))
        if _plan_text(cached) != _plan_text(fresh._jdf.queryExecution().analyzed()):
            differ.append(name)
    assert not differ

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

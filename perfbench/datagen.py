"""Seeded synthetic warehouse dataset: the TPC-H-shaped star schema plus
the events, documents and embeddings tables, with the same schemas and
value domains as the repository's fixture tables (FIXTURES.md).

Row counts scale with `sf` the way the fixtures do (lineitem is 6M x sf,
orders 1.5M x sf, ...). Money columns hold exact 2-decimal values, which
the registry queries' DECIMAL casts rely on for cross-engine parity.
The same (seed, sf) always yields byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "green", "hot", "cold", "small", "large", "old"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream merge "
    "data vector customer join"
).split()

EMBED_DIM = 64
_US_PER_DAY = 86_400_000_000


def _days(start: str, n: int, span_days: int, rng: np.random.Generator) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, span_days, n) * _US_PER_DAY


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi, n) / 100.0


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def _strings(choices: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[idx])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; one in twelve is a near copy of an earlier
    one (one word swapped) and one in a hundred an exact copy, so the
    dedup queries find real clusters."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and roll < 0.09:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 97)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _strings(LANGS, rng.integers(0, len(LANGS), n)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 0.12, (10, EMBED_DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n, EMBED_DIM))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def build_tables(seed: int, sf: float, names: tuple[str, ...]) -> dict[str, pa.Table]:
    """Generate the named tables (foreign keys stay consistent across
    tables because every table draws from its own seeded stream)."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    def rng_for(name: str) -> np.random.Generator:
        return np.random.default_rng([seed, sum(map(ord, name))])

    makers = {
        "region": lambda r: pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": lambda r: pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": lambda r: pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_cents(r, -99_999, 1_000_000, n_cust)),
            "c_mktsegment": _strings(SEGMENTS, r.integers(0, 5, n_cust)),
        }),
        "supplier": lambda r: pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_cents(r, -99_999, 1_000_000, n_supp)),
        }),
        "part": lambda r: pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
            "p_type": _strings(PART_TYPES, r.integers(0, 6, n_part)),
            "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(
                (90_000 + (np.arange(n_part) % 1000) * 10) / 100.0
            ),
        }),
        "orders": lambda r: pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": _strings(["F", "O", "P"], r.integers(0, 3, n_ord)),
            "o_totalprice": pa.array(_cents(r, 100_000, 50_000_000, n_ord)),
            "o_orderdate": _ts(_days("1995-01-01", n_ord, 2404, r)),
            "o_orderpriority": _strings(PRIORITIES, r.integers(0, 5, n_ord)),
        }),
        "lineitem": lambda r: pa.table({
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li).astype(np.int64)),
            "l_partkey": pa.array(r.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(r, 90_000, 10_500_000, n_li)),
            "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _strings(["A", "N", "R"], r.integers(0, 3, n_li)),
            "l_linestatus": _strings(["F", "O"], r.integers(0, 2, n_li)),
            "l_shipdate": _ts(_days("1995-01-02", n_li, 2498, r)),
        }),
        "events": lambda r: pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(np.sort(
                np.datetime64("2024-01-01", "us").astype(np.int64)
                + r.integers(0, 30 * _US_PER_DAY, n_ev)
            )),
            "user_id": pa.array(r.integers(0, n_users, n_ev).astype(np.int64)),
            "event_type": _strings(EVENT_TYPES, r.integers(0, 5, n_ev)),
            "value": pa.array(np.round(r.exponential(60.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
        }),
        "documents": lambda r: _documents(r, n_docs),
        "embeddings": lambda r: _embeddings(r, n_vec),
    }
    return {name: makers[name](rng_for(name)) for name in names}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """One zstd parquet file per table at `{out_dir}/{name}.parquet`;
    returns the bytes written per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="zstd")
        sizes[name] = os.path.getsize(path)
    return sizes

"""Seeded generator for the benchmark's input tables.

The benchmark runs in a bare checkout, so it cannot read a shared test-data
directory: it writes the engine's ten tables (the TPC-H-like star schema,
``events``, ``documents`` and ``embeddings``) itself, with the same column
names, parquet types and value domains as the engine's test data. Row
counts follow the TPC-H convention (``lineitem`` = 6M x sf). The same
``(sf, seed)`` always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_US_PER_DAY = 86_400_000_000


def _days(start: str, n_days: int, rng: np.random.Generator, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n) * np.timedelta64(_US_PER_DAY, "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> np.ndarray:
    return np.asarray(list(values), dtype=object)[rng.choice(len(values), n, p=p)]


def orders_table(sf: float, seed: int) -> pa.Table:
    """``orders`` alone: the HTAP workload loads it without the rest."""
    rng = np.random.default_rng([seed, 6])
    n = int(1_500_000 * sf)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, int(150_000 * sf), n)),
        "o_orderstatus": pa.array(_pick(rng, "FOP", n), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n)),
        "o_orderdate": pa.array(_days("1995-01-01", 2405, rng, n)),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n), pa.string()),
    })


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    texts = [
        " ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)])
        for k in rng.integers(10, 100, n)
    ]
    # 5% planted near-duplicates: a copy of another document plus one
    # marker word, the shape MinHash/n-gram dedup must find
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table at scale ``sf``; each table has its own random stream
    so that changing one table's shape leaves the others unchanged."""
    def rng(k: int) -> np.random.Generator:
        return np.random.default_rng([seed, k])

    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp, n_orders = max(int(10_000 * sf), 10), int(1_500_000 * sf)
    n_line, n_events = int(6_000_000 * sf), int(1_000_000 * sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    r = rng(1)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(_pick(r, SEGMENTS, n_cust), pa.string()),
    })
    r = rng(2)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(_pick(r, names, n_part), pa.string()),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in r.integers(1, 26, n_part)], pa.string()
        ),
        "p_type": pa.array(_pick(r, PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
        ),
    })
    r = rng(3)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
    })
    out["orders"] = orders_table(sf, seed)
    r = rng(4)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_orders, n_line)),
        "l_partkey": pa.array(r.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(r.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(_pick(r, "ANR", n_line), pa.string()),
        "l_linestatus": pa.array(_pick(r, "FO", n_line), pa.string()),
        "l_shipdate": pa.array(_days("1995-01-02", 2499, r, n_line)),
    })
    r = rng(5)
    span_us = 30 * _US_PER_DAY
    ts = np.sort(r.integers(0, span_us, n_events)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(r.integers(0, max(int(15_000 * sf), 10), n_events)),
        "event_type": pa.array(_pick(r, EVENT_TYPES, n_events), pa.string()),
        "value": pa.array(np.round(r.exponential(50.0, n_events), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)], pa.string()
        ),
    })
    out["documents"] = _documents(max(500, int(50_000 * sf)), rng(7))
    out["embeddings"] = _embeddings(max(500, int(20_000 * sf)), rng(8))
    return out


def write_tables(root: str, sf: float, seed: int) -> str:
    """Write every table as ``<root>/<name>.parquet``; returns ``root``."""
    os.makedirs(root, exist_ok=True)
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(root, f"{name}.parquet"))
    return root

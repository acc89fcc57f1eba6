"""Seeded input tables for the registry sample: the ten tables
``plans.QUERIES`` read (``sources.tables.TABLES``), written as one parquet
file each, with the schemas and value domains of the engine's smallest
test dataset (TPC-H-shaped ``region`` .. ``lineitem``, an ``events``
stream, ``documents`` and unit-norm 64-d ``embeddings``).

The same seed gives the same tables; sizes follow TPC-H scale factor
0.001 (150 customers, 1,500 orders, ~6,000 line items).
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DAY_US = 86_400 * 10**6
EPOCH_1995_US = 788_918_400 * 10**6  # 1995-01-01
EPOCH_2024_US = 1_704_067_200 * 10**6  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, n_customers: int = 150) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, zlib.crc32(b"tables")])
    n_cust, n_supp, n_part = n_customers, max(1, n_customers // 15), n_customers * 4 // 3
    n_orders, n_events, n_docs = n_customers * 10, n_customers * 20 // 3, n_customers * 10 // 3
    i32, i64 = pa.int32(), pa.int64()

    region = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    customer = pa.table({
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part = pa.table({
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
    })
    order_day = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    orders = pa.table({
        "o_orderkey": pa.array(range(n_orders), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(EPOCH_1995_US + order_day * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(EPOCH_1995_US + (order_day[okey] + rng.integers(1, 122, n_li)) * DAY_US),
    })
    event_us = np.sort(rng.integers(0, 30 * DAY_US, n_events))
    events = pa.table({
        "event_id": pa.array(range(n_events), i64),
        "ts": _ts(EPOCH_2024_US + event_us),
        "user_id": pa.array(rng.integers(0, max(1, n_events // 66), n_events), i64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(60.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    text = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(10, 100, n_docs)]
    documents = pa.table({
        "doc_id": pa.array(range(n_docs), i64),
        "text": text,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in text], i64),
    })
    vec = rng.normal(0.0, 1.0, (n_docs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(range(n_docs), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), i32),
    })
    return {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }


def write_tables(root: str, seed: int) -> str:
    """Write the tables under ``root`` as ``<name>.parquet``; returns ``root``."""
    os.makedirs(root, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return root

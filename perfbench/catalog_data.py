"""Seeded generator for the catalog workload's ten tables.

The catalog queries read ``region nation customer supplier part orders
lineitem events documents embeddings`` as one parquet file each. This module
writes tables with the same schemas and value domains as the fixed TPC-H-ish
test tables the query catalog was developed against (uniform keys, 2-dp money,
day-grain order/ship dates, exponential event gaps and values, documents drawn
from a 30-word vocabulary with 5% near-duplicates, unit-norm 64-d embeddings),
so every query runs on inputs derived only from the benchmark seed.

Row counts follow the test tables' scale rules: ``scale`` plays the role of
the TPC-H scale factor (lineitem = 6e6 * scale rows).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

ORDER_DAY0 = np.datetime64("1995-01-01")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
SHIP_DAY0 = np.datetime64("1995-01-02")
SHIP_DAYS = 2499  # 1995-01-02 .. 2001-11-04
EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86400 * 10**6


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def generate(scale: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_orders = max(1500, int(1_500_000 * scale))
    n_lines = max(6000, int(6_000_000 * scale))
    n_events = max(1000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(50, int(50_000 * scale))
    n_vecs = min(2000, max(50, int(50_000 * scale)))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.asarray(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.asarray(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": np.asarray(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": pa.array(
                (ORDER_DAY0 + rng.integers(0, ORDER_DAYS, n_orders)).astype("datetime64[us]")
            ),
            "o_orderpriority": np.asarray(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_lines), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_lines),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, n_lines)],
            "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, n_lines)],
            "l_shipdate": pa.array(
                (SHIP_DAY0 + rng.integers(0, SHIP_DAYS, n_lines)).astype("datetime64[us]")
            ),
        }
    )
    gaps = rng.exponential(1.0, n_events)
    offs_us = np.floor(np.cumsum(gaps) / gaps.sum() * (EVENTS_SPAN_US - 1)).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(EVENTS_T0 + offs_us.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
        }
    )
    texts = [
        " ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), int(n))])
        for n in rng.integers(10, 100, n_docs)
    ]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.asarray(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    vec = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    return t


def write(tables: dict[str, pa.Table], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

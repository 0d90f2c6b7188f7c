"""Seeded tables for the `analytics` workload.

Writes the ten tables the query registry reads (`queries.TABLES`: a
TPC-H-like star schema, an `events` stream, `documents` and
`embeddings`), one parquet file each, with the column types and value
distributions of the repository's sf test data: uniform keys and
categories, exponential event values, documents drawn from a 30-word
vocabulary with 1 in 20 a near-duplicate (an earlier text plus " dup"),
and unit-norm 64-d embeddings with a weak per-label centroid.  Row counts
scale with `sf` as in TPC-H (lineitem = 6M x sf).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
ADJECTIVES = ["red", "hot", "new", "large", "small", "old", "blue", "cold"]
NOUNS = ["bolt", "ring", "anvil", "gear", "nut", "pipe", "spring", "valve"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(rng, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return texts


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under `out_dir`; returns rows per table."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs, n_vecs = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    n_users = max(10, int(15_000 * sf))
    i32 = pa.int32()

    retail = 900.0 + (np.arange(n_part) % 1000) * 0.1
    quantity = rng.integers(1, 51, n_line).astype(float)
    l_partkey = rng.integers(0, n_part, n_line)
    texts = _texts(rng, n_docs)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = rng.normal(0.0, 1.0, (n_vecs, 64)) + 0.15 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part),
            "p_name": [
                f"{ADJECTIVES[a]} {NOUNS[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(retail, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_orders),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2405, n_orders),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_orders, n_line),
            "l_partkey": l_partkey,
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * retail[l_partkey] * rng.uniform(0.99, 2.1, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, n_line),
        },
        "events": {
            "event_id": np.arange(n_events),
            "ts": pa.array(ts0 + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
        "documents": {
            "doc_id": np.arange(n_docs),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_WEIGHTS),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts]),
        },
        "embeddings": {
            "vec_id": np.arange(n_vecs),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        },
    }
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows

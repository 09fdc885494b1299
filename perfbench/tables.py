"""Seeded sf0.01 catalog tables, written as parquet into a run-private
directory.

The catalog queries read ten tables (the TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``).  This generator writes them
with the column names and types the catalog expects and value domains
shaped like the project's sf0.01 test data (row counts, categorical
domains, a 30-word document vocabulary with planted near-duplicates,
unit-norm 64-d embeddings clustered by label).  Correctness does not depend
on the exact values: every request is checked against its DuckDB twin over
the same files.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS, N_LINEITEM = 1500, 100, 2000, 15000, 60000
N_EVENTS, N_DOCS, N_EMB, EMB_DIM = 10000, 500, 500, 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "green", "large", "cold", "dark"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "nut", "spring", "valve", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
VOCAB = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()


def _ts(values) -> pa.Array:
    return pa.array(values, pa.timestamp("us"))


def _days(rng, start: datetime, n_days: int, n: int) -> list:
    return [start + timedelta(days=int(d)) for d in rng.integers(0, n_days + 1, n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build(seed: int) -> dict:
    """name -> pyarrow.Table, deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": list(rng.choice(SEGMENTS, N_CUSTOMER)),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(N_PART)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": list(rng.choice(PART_TYPES, N_PART)),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], N_ORDERS)),
        "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
        "o_orderdate": _ts(_days(rng, datetime(1995, 1, 1), 2404, N_ORDERS)),
        "o_orderpriority": list(rng.choice(PRIORITIES, N_ORDERS)),
    })
    qty = rng.integers(1, 51, N_LINEITEM).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, N_LINEITEM), 2),
        "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) / 100.0, 2),
        "l_returnflag": list(rng.choice(["A", "N", "R"], N_LINEITEM)),
        "l_linestatus": list(rng.choice(["F", "O"], N_LINEITEM)),
        "l_shipdate": _ts(_days(rng, datetime(1995, 1, 2), 2498, N_LINEITEM)),
    })
    gaps = rng.exponential(259.0, N_EVENTS)
    start = datetime(2024, 1, 1)
    t["events"] = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": _ts([start + timedelta(microseconds=int(s * 1e6)) for s in np.cumsum(gaps)]),
        "user_id": pa.array(rng.integers(0, 150, N_EVENTS), pa.int64()),
        "event_type": list(rng.choice(EVENT_TYPES, N_EVENTS)),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)],
    })
    texts = []
    for i in range(N_DOCS):
        if i >= 25 and i % 20 == 0:  # planted near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, n)))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, N_DOCS)),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, N_EMB)
    centers = rng.normal(0, 1, (10, EMB_DIM))
    vecs = centers[labels] * 0.15 + rng.normal(0, 1, (N_EMB, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_EMB), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write(directory: str, seed: int) -> str:
    os.makedirs(directory, exist_ok=True)
    for name, table in build(seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
    return directory

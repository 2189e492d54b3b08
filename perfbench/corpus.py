"""Seeded TPC-H-ish corpus in the layout the engine's queries read.

One parquet file per table (``region`` .. ``embeddings``) under a
directory, with the schemas and value domains of the fixed test corpus
described in FIXTURES.md section B. Row counts scale with ``sf`` the way
that corpus does (lineitem = 6,000,000 x sf). The same seed and scale
give the same files.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
DIM = 64

ORDER_START = datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
SHIP_START = datetime(1995, 1, 2)
SHIP_DAYS = 2499
EVENT_START = datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86400 * 1_000_000


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": 500,
    }


def _days(rng: np.random.Generator, start: datetime, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near duplicate of an earlier document: same text plus a marker
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n)
    v = 0.15 * centers[labels] + rng.normal(scale=1 / np.sqrt(DIM), size=(n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n = table_sizes(sf)
    nc, ns, np_, no, nl, ne = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"], n["events"]
    )
    n_users = max(1, nc // 10)
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, np_)],
            "p_type": pa.array(rng.choice(PART_TYPES, np_)),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": [900 + (i % 1000) / 10 for i in range(np_)],
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, ORDER_START, ORDER_DAYS, no),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100,
            "l_tax": rng.integers(0, 9, nl) / 100,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
            "l_shipdate": _days(rng, SHIP_START, SHIP_DAYS, nl),
        }
    )
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, ne)) + np.datetime64(EVENT_START, "us")
    events = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, ne), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
            "value": np.round(rng.exponential(25.0, ne) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def write_corpus(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<table>.parquet``; returns file
    sizes in bytes by table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in build_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = os.path.getsize(path)
    return sizes

"""Seeded star-schema + corpus tables for the query mix.

Same ten tables, column names and types as the repo's sf test data
(``region nation customer supplier part orders lineitem events documents
embeddings``), at the sf0.001 row counts. Each table
draws from its own ``numpy.random.Generator`` seeded by ``(seed, table)``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
ROWS = {  # the sf0.001 sizes
    "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
    "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500,
}
VOCAB = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
LANGS, LANG_P = ("en", "de", "fr", "es", "zh"), (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJ = ("small", "large", "blue", "red", "cold", "hot", "old", "new")
NOUN = ("widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMB_DIM, EMB_LABELS = 64, 10


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, TABLES.index(table)]))


def _days(rng, n, lo: dt.date, hi: dt.date) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _build(seed: int) -> dict[str, pa.Table]:
    n = ROWS
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }),
    }

    r = _rng(seed, "customer")
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(k), i64),
        "c_name": [f"Customer#{c:09d}" for c in range(k)],
        "c_nationkey": pa.array(r.integers(0, 25, k), i32),
        "c_acctbal": pa.array(_money(r, k, -999.99, 9999.99), f64),
        "c_mktsegment": pa.array(r.choice(SEGMENTS, k), s),
    })

    r = _rng(seed, "supplier")
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(k), i64),
        "s_name": [f"Supplier#{c:09d}" for c in range(k)],
        "s_nationkey": pa.array(r.integers(0, 25, k), i32),
        "s_acctbal": pa.array(_money(r, k, -999.99, 9999.99), f64),
    })

    r = _rng(seed, "part")
    k = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(k), i64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(r.integers(0, 8, k), r.integers(0, 8, k))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
        "p_type": pa.array(r.choice(PTYPES, k), s),
        "p_size": pa.array(r.integers(1, 51, k), i32),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(k) % 200) * 0.1, 2), f64),
    })

    r = _rng(seed, "orders")
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(k), i64),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), i64),
        "o_orderstatus": pa.array(r.choice(("F", "O", "P"), k), s),
        "o_totalprice": pa.array(_money(r, k, 1000.0, 500000.0), f64),
        "o_orderdate": pa.array(_days(r, k, dt.date(1995, 1, 1), dt.date(2001, 8, 1)), ts),
        "o_orderpriority": pa.array(r.choice(PRIORITIES, k), s),
    })

    r = _rng(seed, "lineitem")
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], k), i64),
        "l_partkey": pa.array(r.integers(0, n["part"], k), i64),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), i64),
        "l_linenumber": pa.array(r.integers(1, 8, k), i32),
        "l_quantity": pa.array(r.integers(1, 51, k).astype(float), f64),
        "l_extendedprice": pa.array(_money(r, k, 900.0, 105000.0), f64),
        "l_discount": pa.array(r.integers(0, 11, k) / 100.0, f64),
        "l_tax": pa.array(r.integers(0, 9, k) / 100.0, f64),
        "l_returnflag": pa.array(r.choice(("A", "N", "R"), k), s),
        "l_linestatus": pa.array(r.choice(("F", "O"), k), s),
        "l_shipdate": pa.array(_days(r, k, dt.date(1995, 1, 2), dt.date(2001, 11, 4)), ts),
    })

    r = _rng(seed, "events")
    k = n["events"]
    month_us = 30 * 86400 * 10**6
    offsets = np.sort(r.integers(0, month_us, k))
    out["events"] = pa.table({
        "event_id": pa.array(range(k), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"), ts),
        "user_id": pa.array(r.integers(0, 15, k), i64),
        "event_type": pa.array(r.choice(EVENT_TYPES, k), s),
        "value": pa.array(_money(r, k, 0.01, 330.0), f64),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
    })

    r = _rng(seed, "documents")
    k = n["documents"]
    texts: list[str] = []
    for d in range(k):
        if d >= 10 and r.random() < 0.06:  # a near-duplicate of an earlier doc
            texts.append(texts[int(r.integers(0, d))] + " dup")
        else:
            texts.append(" ".join(r.choice(VOCAB, int(r.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(k), i64),
        "text": texts,
        "lang": pa.array(r.choice(LANGS, k, p=LANG_P), s),
        "source": [f"src{d % 20}" for d in range(k)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    r = _rng(seed, "embeddings")
    k = n["embeddings"]
    centers = r.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    labels = r.integers(0, EMB_LABELS, k)
    vecs = centers[labels] + r.normal(0.0, 0.8, (k, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(k), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return out


def make_tables(root: str, seed: int) -> int:
    """Write every table as ``root/<name>.parquet``; returns total bytes."""
    os.makedirs(root, exist_ok=True)
    total = 0
    for name, table in _build(seed).items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total

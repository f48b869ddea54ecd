"""Seeded fixture generator: the ten tables the engine reads, written as
parquet, with the schemas and value distributions of the engine's test
fixtures (a TPC-H-like star schema, an ``events`` stream, a small text
corpus and an embedding table).

The same ``(seed, scale)`` always writes byte-identical tables. Row counts
depend on ``scale`` only, so two seeds differ in values, never in size.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "red", "blue", "hot", "cold", "old", "new", "large")
PART_NOUN = ("ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30


def sizes(scale: float) -> dict[str, int]:
    """Row counts at ``scale`` (1.0 = the TPC-H unit sizes)."""
    n = lambda base: max(1, int(round(base * scale)))  # noqa: E731
    return {
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.datetime, span_days: int, n: int) -> np.ndarray:
    day = rng.integers(0, span_days + 1, n)
    return np.datetime64(start, "us") + day.astype("timedelta64[D]")


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def generate(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 20240101])
    sz = sizes(scale)
    out: dict[str, pa.Table] = {}
    i32, i64 = pa.int32(), pa.int64()

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )

    nc = sz["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )

    ns = sz["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )

    npart = sz["part"]
    adj = rng.integers(0, len(PART_ADJ), npart)
    noun = rng.integers(0, len(PART_NOUN), npart)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), i64),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
        }
    )

    no = sz["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), 2404, no),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )

    nl = sz["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(880.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), 2498, nl),
        }
    )

    ne = sz["events"]
    n_users = max(1, nc // 10)
    span_us = EVENTS_DAYS * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": pa.array(np.datetime64(EVENTS_START, "us") + offsets, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, ne), i64),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )

    nd = sz["documents"]
    texts = [
        " ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), rng.integers(8, 91)))
        for _ in range(nd)
    ]
    # 5% planted near-duplicates: a copy of another document plus a marker
    for i in rng.choice(nd, nd // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), i64),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )

    nv = sz["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), i32),
        }
    )
    return out


def write(seed: int, scale: float, out_dir: str) -> str:
    """Write every table to ``out_dir/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

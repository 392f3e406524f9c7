"""Seeded analytics tables for the ``analytics_queries`` workload.

Writes the ten parquet tables the query registry reads (``region`` …
``embeddings``, the TESTDATA.md star schema plus the events, documents and
embeddings tables) with the same column names, types and value domains as
the reference test data, at a row count set by ``sf`` (lineitem has
6 000 000 × sf rows). The seed fixes every value; the shapes and sizes do
not depend on it.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "shiny", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
LABELS = 10


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(datetime.fromisoformat(start), "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.15:
            # near-duplicate of an earlier document: a few words swapped,
            # so the dedup queries have candidate pairs to find
            words = texts[int(rng.integers(i))].split()
            for j in rng.choice(len(words), size=min(3, len(words)), replace=False):
                words[j] = WORDS[int(rng.integers(len(WORDS)))]
            words.append("dup")
        else:
            words = [WORDS[k] for k in rng.integers(len(WORDS), size=int(rng.integers(10, 90)))]
        texts.append(" ".join(words))
    return texts


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(20, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(50, int(15_000 * sf))
    n_docs = max(200, int(50_000 * sf))
    n_vec = max(200, int(50_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def nations(n):
        return pa.array(rng.integers(0, 25, n), pa.int32())

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": nations(n_cust),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(5, size=n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": nations(n_supp),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(8, size=n_part), rng.integers(8, size=n_part))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, size=n_part)],
        "p_type": [PART_TYPES[k] for k in rng.integers(6, size=n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
    })
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(3, size=n_ord)],
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", order_days * 86400.0),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(5, size=n_ord)],
    })
    l_order = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 3000.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(3, size=n_line)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(2, size=n_line)],
        "l_shipdate": _ts(
            "1995-01-01", (order_days[l_order] + rng.integers(1, 122, n_line)) * 86400.0
        ),
    })
    gaps = rng.exponential(30 * 86400.0 / n_ev, n_ev)
    _write(out_dir, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(5, size=n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _documents(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[k] for k in rng.choice(5, size=n_docs, p=LANG_P)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(0.0, 1.0, (LABELS, EMBED_DIM))
    labels = rng.integers(0, LABELS, n_vec)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_vec, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_docs, "embeddings": n_vec,
    }

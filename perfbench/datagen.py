"""Seeded generator for the registry's input tables.

Writes the TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings`` as single-row-group parquet files, with the same column
names, types and value domains as the project's fixtures, so every
registry entry and its DuckDB oracle run unchanged over the output, at
scale factor ``SF``. The same seed always gives byte-identical values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01
SF = 0.1  # 600k lineitem rows


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def generate(out: str, seed: int) -> dict[str, int]:
    """Write every table under ``out``; returns {table: rows}."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_orders, n_lines = int(1_500_000 * SF), int(6_000_000 * SF)
    n_events, n_users = int(1_000_000 * SF), max(10, int(15_000 * SF))
    n_docs, n_vecs = int(50_000 * SF), int(20_000 * SF)

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": REGIONS,
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pnames = np.array([f"{a} {n}" for a in ADJ for n in NOUN])
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": pnames[rng.integers(0, len(pnames), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, len(PTYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", {
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
        "o_orderdate": _ts(EPOCH_1995_US + days * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    okey = rng.integers(0, n_orders, n_lines)
    _write(out, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_lines),
        "l_suppkey": rng.integers(0, n_supp, n_lines),
        "l_linenumber": rng.integers(1, 8, n_lines).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_lines).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lines)],
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, 2500, n_lines) * DAY_US),
    })
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_events))
    _write(out, "events", {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.03:
            # near-duplicate of an earlier document: one token replaced,
            # so the dedup entries have real pairs to find
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(10, 101)))])
        texts.append(" ".join(toks))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_vecs)
    vec = centers[label] + rng.normal(0.0, 1.5, (n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label.astype("int32"),
    })
    return {"customer": n_cust, "orders": n_orders, "lineitem": n_lines,
            "events": n_events, "documents": n_docs, "embeddings": n_vecs}


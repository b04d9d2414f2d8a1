"""Seeded generator for the engine's ten input tables.

Writes one ``{table}.parquet`` file (one row group) per table, with the
schema, value domains and row counts of the engine's TPC-H-ish test data:
``lineitem`` has 6M x sf rows, keys are drawn uniformly from their
dimension tables, 5% of documents are near-duplicates of another document
(its text plus one or two " dup" tokens) and events are ordered by time.
The same (seed, sf) always yields the same table contents.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _days(rng, lo: dt.datetime, hi: dt.datetime, n: int) -> pa.Array:
    """``n`` uniform midnight timestamps in [lo, hi]."""
    span = (hi - lo).days
    us = _us(lo) + rng.integers(0, span + 1, n) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _documents(rng, n: int) -> dict:
    n_words = rng.integers(8, 96, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in n_words]
    # near-duplicates: a copy of another document plus 1-2 marker tokens
    for i in rng.choice(n, n // 20, replace=False):
        src = int(rng.integers(0, n))
        if src != i:
            texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table for scale factor ``sf`` into ``out_dir``; return
    the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    i32, i64 = np.int32, np.int64

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=i32) % 5,
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n["customer"], dtype=i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    pk = np.arange(n["part"], dtype=i64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{a} {b}"
            for a, b in zip(
                rng.choice(PART_ADJ, n["part"]), rng.choice(PART_NOUN, n["part"])
            )
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n["orders"], dtype=i64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n["orders"]),
        "o_orderdate": _days(
            rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n["orders"]
        ),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n["orders"], m).astype(i64),
        "l_partkey": rng.integers(0, n["part"], m).astype(i64),
        "l_suppkey": rng.integers(0, n["supplier"], m).astype(i64),
        "l_linenumber": rng.integers(1, 8, m).astype(i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(
            rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), m
        ),
    })
    e = n["events"]
    start = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(start, start + 30 * 86_400_000_000, e))
    _write(out_dir, "events", {
        "event_id": np.arange(e, dtype=i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(15, round(15_000 * sf)), e).astype(i64),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    _write(out_dir, "documents", _documents(rng, n["documents"]))
    v = rng.standard_normal((n["embeddings"], EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n["embeddings"], dtype=i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n["embeddings"]).astype(i32),
    })
    return n

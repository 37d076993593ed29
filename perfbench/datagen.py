"""Seeded synthetic tables for the benchmark.

Produces the ten tables the engine's registry queries read (TPC-H-style
star schema plus ``events``, ``documents`` and ``embeddings``) with the
same schemas and value domains as the engine's reference fixtures, at
scale factor ``SF`` (row counts as in the sf0.01 fixtures: 60k lineitem
rows), so two seeds give tables of one size and shape with different
values.  Only these files reach the program.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
SF = 0.01

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
ORDER_DAYS = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
EVENTS_START = np.datetime64("2024-01-01", "us")
EVENTS_SPAN_US = 30 * DAY_US


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    """Word-salad documents; about 4% are exact copies and 8% near
    copies (one word swapped) of earlier documents, so the dedup and
    clustering operators have duplicates to find."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    lengths = rng.integers(10, 101, n)
    kinds = rng.random(n)
    for i in range(n):
        if i > 10 and kinds[i] < 0.04:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and kinds[i] < 0.12:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(vocab, lengths[i])))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> dict:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0, 1, (10, 64))
    x = rng.normal(0, 1, (n, 64)) + 0.6 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": labels,
    }


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line = int(1_500_000 * SF), int(6_000_000 * SF)
    n_ev, n_docs = int(1_000_000 * SF), max(500, int(50_000 * SF))
    n_emb = max(500, int(20_000 * SF))

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    order_days = rng.integers(0, ORDER_DAYS + 1, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995, order_days * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    ship_days = rng.integers(0, ORDER_DAYS + 95, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_line),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_line),
        "l_shipdate": _ts(EPOCH_1995, ship_days * DAY_US),
    })
    gaps = rng.exponential(EVENTS_SPAN_US / n_ev, n_ev)
    offsets = np.minimum(np.cumsum(gaps).astype(np.int64), EVENTS_SPAN_US - 1)
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EVENTS_START, offsets),
        "user_id": rng.integers(0, max(150, int(15_000 * SF)), n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_emb))
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_docs, "embeddings": n_emb,
    }


"""Seeded generator for the pipeline workload's relational tables.

Writes the ten parquet tables the harness operators read (``region``,
``nation``, ``customer``, ``supplier``, ``part``, ``orders``,
``lineitem``, ``events``, ``documents``, ``embeddings``) with the column
names, types and value domains of the TPC-H-style test data the registry
was written against. Row counts scale with ``scale`` (1.0 = 1,500
customers, 15,000 orders, 60,000 line items). Documents carry exact and
near duplicates so the dedup operators have work to do.
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
PART_ADJ = ["cold", "red", "small", "big", "green", "fast", "blue", "old"]
PART_NOUN = ["widget", "ring", "bolt", "gear", "panel", "valve", "pipe", "cap"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "the a data table row column key value join scan sort merge hash group "
    "agg window stream batch spark query line part order customer filter "
    "fast slow big small index graph node edge path rank score"
).split()

_EPOCH = datetime(1970, 1, 1)


def _us(dt: datetime) -> int:
    return int((dt - _EPOCH).total_seconds() * 1_000_000)


def _ts(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype="int64"), pa.int64()).cast(
        pa.timestamp("us")
    )


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def generate(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table under ``out_dir``; returns table → row count."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(50, int(2000 * scale))
    n_ord = max(200, int(15000 * scale))
    n_ev = max(200, int(10000 * scale))
    n_users = max(20, int(150 * scale))
    n_docs = max(50, int(500 * scale))
    n_vec = max(50, int(500 * scale))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    price = np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price,
    })

    day = 86_400_000_000
    d0 = _us(datetime(1995, 1, 1))
    o_date = d0 + rng.integers(0, 2400, n_ord) * day
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [["O", "F", "P"][i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })

    lines_per = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines_per)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    n_li = len(l_order)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[l_part], 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [["O", "F"][i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(o_date[l_order] + rng.integers(1, 122, n_li) * day),
    })

    e0 = _us(datetime(2024, 1, 1))
    ts = np.sort(e0 + rng.integers(0, 30 * day, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 500.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })

    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.08:  # exact duplicate of an earlier document
            texts.append(texts[rng.integers(0, len(texts))])
        elif texts and r < 0.20:  # near duplicate: one word swapped
            words = texts[rng.integers(0, len(texts))].split()
            words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(8, 80))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    vec = rng.normal(0.0, 1.0, (n_vec, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}

"""Seed-fixed synthetic dataset with the shape the engine's catalog and
registry expect: a TPC-H-style star schema plus the ``events`` stream,
``documents`` and ``embeddings`` tables, one parquet file each.

Sizes follow the repository's sf0.01 test data (60k lineitem rows, 10k
events over January 2024, 150 users). The dataset depends only on
``DATA_SEED``, never on a workload seed, so every run reads the same bytes.

    python3 perfbench/datagen.py OUT_DIR
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys

DATA_SEED = 42
VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
N_USERS = 150
N_EVENTS = 10_000
EVENTS_BEGIN = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30


def _write(table, path: str) -> None:
    import pyarrow.parquet as pq

    pq.write_table(table, path, coerce_timestamps="us",
                   allow_truncated_timestamps=True)


def _days(start: dt.datetime, offsets):
    import numpy as np

    return np.datetime64(start, "us") + offsets.astype("timedelta64[D]")


def generate(out_dir: str) -> None:
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions,
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")

    n_cust, n_supp, n_part, n_ord = 1500, 100, 2000, 15000
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                "MACHINERY"]
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(segments, n_cust),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out_dir}/supplier.parquet")

    colors = ["blue", "red", "green", "black", "white", "small", "large",
              "steel"]
    nouns = ["anvil", "widget", "gear", "bolt", "pipe", "valve", "spring",
             "lever"]
    retail = np.round(900 + (np.arange(n_part) % 1000) / 10, 2)
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{colors[rng.integers(0, 8)]} {nouns[rng.integers(0, 8)]}"
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["SMALL", "MEDIUM", "ECONOMY", "STANDARD",
                              "LARGE", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": retail,
    }), f"{out_dir}/part.parquet")

    span = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
    odays = rng.integers(0, span + 1, n_ord)
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days(dt.datetime(1995, 1, 1), odays),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }), f"{out_dir}/orders.parquet")

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": l_linenumber.astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(
            0.95, 1.05, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(dt.datetime(1995, 1, 1),
                            odays[l_order] + rng.integers(1, 122, n_li)),
    }), f"{out_dir}/lineitem.parquet")

    secs = np.sort(rng.uniform(0, EVENTS_DAYS * 86400, N_EVENTS))
    ts = np.datetime64(EVENTS_BEGIN, "us") + (secs * 1e6).astype(
        "int64").astype("timedelta64[us]")
    _write(pa.table({
        "event_id": np.arange(N_EVENTS, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    }), f"{out_dir}/events.parquet")

    n_docs = 500
    texts = []
    for i in range(n_docs):
        words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in words))
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_docs,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }), f"{out_dir}/documents.parquet")

    n_emb = 500
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        "float32")
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32"),
    }), f"{out_dir}/embeddings.parquet")


def ensure(out_dir: str) -> str:
    """Generate ``out_dir`` once; later calls reuse it. The directory is
    written under a temporary name and renamed, so an interrupted run
    never leaves a half-written dataset behind."""
    if os.path.isdir(out_dir):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(tmp)
    try:
        os.rename(tmp, out_dir)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # a concurrent run won
    return out_dir


if __name__ == "__main__":
    ensure(sys.argv[1])

"""Seeded TPC-H-style tables for the query-layer probe.

The tables the probed queries read, with the same names, columns and
parquet types as the repo's test tables (TESTDATA.md), so
``__spark_entry__.queries()`` and ``oracle_sql()`` run on them
unchanged. Row counts scale with ``sf`` the way those tables do (sf 0.01
→ 60k lineitems). Everything derives from one
``numpy.random.Generator`` seeded by the workload seed: the same seed
writes the same rows.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_NATIONS = 25
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch window spark "
    "order data column join small line customer query filter sort stream group big "
    "vector"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
EMB_DIM = 64
EPOCH = datetime(1995, 1, 1)


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64(EPOCH, "us")
    return pa.array(base + (days.astype("int64") * 86_400_000_000).astype("timedelta64[us]"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random word strings; a tenth are edited copies of an earlier doc,
    so MinHash has near-duplicate pairs to find."""
    docs: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            words = docs[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        docs.append(" ".join(words))
    return docs


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_orders = max(100, int(1_500_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_emb = max(50, int(50_000 * sf))

    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array(np.arange(N_NATIONS) % 5, pa.int32()),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    order_days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15 * n_supp, n_orders), pa.int64()),
        "o_orderstatus": [("P", "F", "O")[k] for k in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 400_000, n_orders), 2),
        "o_orderdate": _ts(order_days),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n_orders)],
    })
    lines = np.clip(rng.poisson(4.0, n_orders), 1, 13)
    l_order = np.repeat(np.arange(n_orders), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(order_days[l_order] + rng.integers(1, 122, n_li)),
    })
    docs = _documents(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": docs,
        "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{k}" for k in rng.integers(0, 5, n_docs)],
        "n_chars": pa.array([len(d) for d in docs], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, EMB_DIM))
    emb = centers[labels] * 0.3 + rng.normal(size=(n_emb, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

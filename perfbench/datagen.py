"""Seeded generator for the ten input tables the queries read.

The tables have the schemas and value shapes of the TPC-H-like parquet set
the query registry is graded on (``region`` … ``embeddings``), scaled by
``sf``: at ``sf=0.01`` lineitem has 60,000 rows, orders 15,000, documents
500, embeddings 500 and events 10,000.  The same ``(seed, sf)`` always
writes byte-identical files.

``kv_source`` also writes ``kv_lineitem.parquet``: the lineitem columns the
key-value workloads load, with the ``l_seq`` uniquifier key column already
assigned, so the benchmark's in-memory model knows every row key.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]  # en 2,059 of 5,000 at sf0.1
# the 30 words of the graded documents, apart from the "dup" suffix
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

NEAR_DUP_SHARE = 0.05

KV_COLUMNS = [
    ("l_orderkey", "LONG"),
    ("l_linenumber", "INT"),
    ("l_seq", "LONG"),
    ("l_partkey", "LONG"),
    ("l_quantity", "DOUBLE"),
    ("l_extendedprice", "DOUBLE"),
    ("l_discount", "DOUBLE"),
    ("l_returnflag", "STRING"),
]


def _days(rng: np.random.Generator, start: datetime, span_days: int, n: int) -> pa.Array:
    offs = rng.integers(0, span_days, n)
    base = np.datetime64(start.date(), "us")
    return pa.array(base + offs.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 7919])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_li = max(200, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(40, int(50_000 * sf))
    n_vec = max(40, int(50_000 * sf))
    n_users = max(10, int(15_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, datetime(1995, 1, 1), 2404, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, datetime(1995, 1, 2), 2498, n_li),
        }
    )
    ev_off = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                [datetime(2024, 1, 1) + timedelta(microseconds=int(s * 1e6)) for s in ev_off],
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.gamma(1.5, 30.0, n_ev) + 0.01, 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_vec)
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word salad over VOCAB, 10-99 tokens; 5% of the documents are another
    document of the set with " dup" appended (two of them may share a
    source, which makes the set's exact duplicates), as in the graded
    files."""
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))) for _ in range(n)]
    n_dup = round(n * NEAR_DUP_SHARE)
    dups = rng.choice(n, n_dup, replace=False)
    srcs = rng.choice(np.setdiff1d(np.arange(n), dups), n_dup)
    for d, s in zip(dups, srcs):
        texts[d] = texts[s] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    """Isotropic unit vectors with labels drawn independently of them: the
    graded files have no cluster structure (mean cosine within a label
    0.002) and no near-copies (largest pairwise cosine 0.51-0.60)."""
    vecs = rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, k, n)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def kv_source(li: pa.Table) -> pa.Table:
    """The key-value table's rows: lineitem projected to KV_COLUMNS, with
    ``l_seq`` = row index (unique, so every row has its own key)."""
    return pa.table(
        {
            "l_orderkey": li["l_orderkey"],
            "l_linenumber": li["l_linenumber"],
            "l_seq": pa.array(np.arange(li.num_rows), pa.int64()),
            "l_partkey": li["l_partkey"],
            "l_quantity": li["l_quantity"],
            "l_extendedprice": li["l_extendedprice"],
            "l_discount": li["l_discount"],
            "l_returnflag": li["l_returnflag"],
        }
    )


def write(out_dir: str, seed: int, sf: float) -> dict[str, pa.Table]:
    """Write every table (and ``kv_lineitem``) as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    tabs = tables(seed, sf)
    tabs["kv_lineitem"] = kv_source(tabs["lineitem"])
    for name, tab in tabs.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return tabs

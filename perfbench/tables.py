"""Seeded generator for the detector-suite tables.

Writes the ten tables that ``__spark_entry__.queries()`` reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings) as
one parquet file each, with the same schemas and value ranges as the
repository's TESTDATA.md tables. Every column is drawn from one
``numpy.random.Generator`` per table, so a (seed, sf) pair always yields the
same bytes of data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the row column table value part data key hash join scan filter sort "
    "group merge agg order line customer query window batch stream spark "
    "vector small big fast slow"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_ADJ = ["small", "red", "blue", "hot", "large", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"]
PART_TYPES = np.array(["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(seed: int, sf: float) -> dict[str, dict]:
    def rng(k: int) -> np.random.Generator:
        return np.random.default_rng([seed, k])

    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 10)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    t: dict[str, dict] = {}

    t["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }
    r = rng(1)
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[r.integers(0, 5, n_cust)],
    }
    r = rng(2)
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    }
    r = rng(3)
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": PART_TYPES[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    }
    r = rng(4)
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + r.integers(0, 2405, n_ord) * DAY_US),
        "o_orderpriority": PRIORITIES[r.integers(0, 5, n_ord)],
    }
    r = rng(5)
    t["lineitem"] = {
        "l_orderkey": r.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": r.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995 + r.integers(1, 2499, n_li) * DAY_US),
    }
    r = rng(6)
    ts = np.sort(r.integers(0, 30 * DAY_US, n_ev))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + ts),
        "user_id": r.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": EVENT_TYPES[r.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    }
    r = rng(7)
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(WORDS), n)]) for n in r.integers(10, 100, n_doc)]
    # 5% near-duplicates: a document repeats a later one plus a marker word
    for i in np.sort(r.choice(n_doc - 1, n_doc // 20, replace=False)):
        texts[i] = texts[int(r.integers(i + 1, n_doc))] + " dup"
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": LANGS[r.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    r = rng(8)
    label = r.integers(0, 10, n_emb)
    centers = r.normal(0.0, 1.0, (10, 64))
    emb = r.normal(0.0, 1.0, (n_emb, 64)) + 0.15 * centers[label]
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in _tables(seed, sf).items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows

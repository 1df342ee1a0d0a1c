"""Seeded generator for the tables the driver_batch queries read.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the column names,
types and value distributions of the repository's star-schema test data
(a TPC-H-like star plus an events stream, a text corpus with planted
near-duplicates and clustered unit-norm embeddings). Row counts scale with
`sf` like that data; `documents` and `embeddings` have a floor of 500 rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PART_WORDS = ["anvil", "blue", "bolt", "cold", "gear", "gizmo", "hot", "large",
              "new", "old", "plate", "red", "ring", "rod", "small", "widget"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DIM = 64


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = n_emb = max(500, int(50_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    tables = {
        "region": {"r_regionkey": pa.array(range(5), i32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": pa.array(range(25), i32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)},
        "customer": {"c_custkey": pa.array(range(n_cust), i64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                     "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                     "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
        "supplier": {"s_suppkey": pa.array(range(n_supp), i64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                     "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
        "part": {"p_partkey": pa.array(range(n_part), i64),
                 "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_WORDS, n_part),
                                                       rng.choice(PART_WORDS, n_part))],
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                 "p_type": rng.choice(PART_TYPES, n_part),
                 "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                 "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)},
        "orders": {"o_orderkey": pa.array(range(n_ord), i64),
                   "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                   "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
                   "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                   "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-02"),
                   "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
        "lineitem": {"l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
                     "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
                     "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
                     "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                     "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                     "l_extendedprice": _money(rng, 900, 105_000, n_line),
                     "l_discount": rng.integers(0, 11, n_line) / 100.0,
                     "l_tax": rng.integers(0, 9, n_line) / 100.0,
                     "l_returnflag": rng.choice(["R", "A", "N"], n_line),
                     "l_linestatus": rng.choice(["O", "F"], n_line),
                     "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-05")},
    }

    gaps = rng.exponential(259e6, n_ev).astype(np.int64)  # ~4.3 min mean gap, in us
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    tables["events"] = {
        "event_id": pa.array(range(n_ev), i64),
        "ts": (start + np.cumsum(gaps)).astype("datetime64[us]"),
        "user_id": pa.array(rng.integers(0, max(2, int(15_000 * sf)), n_ev), i64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}

    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:  # planted near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    tables["documents"] = {
        "doc_id": pa.array(range(n_doc), i64), "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)}

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, DIM))
    vecs = rng.normal(0, 1, (n_emb, DIM)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(range(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)}

    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

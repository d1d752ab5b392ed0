"""Seeded generator of the star schema that `query_mix` reads.

It follows the generator of the repository's test data (TESTDATA.md:
TPC-H-like region/nation/customer/supplier/part/orders/lineitem plus
events, documents and embeddings, one parquet file per table): with
seed 42 it reproduces that data set's tables row for row, except the
`lang` column of documents and the vectors and labels of embeddings,
which match in distribution only (`datacheck.py` shows the comparison).
Row counts scale with `sf` as TPC-H's do (lineitem 6M x sf). The same
(seed, sf) always gives the same data.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
WORDS = ["the", "a", "spark", "query", "table", "join", "group", "filter",
         "window", "data", "order", "customer", "part", "line", "fast", "slow",
         "big", "small", "hash", "sort", "merge", "scan", "agg", "stream",
         "batch", "vector", "key", "value", "row", "column"]


def _ts(start, seconds):
    base = np.datetime64(start, "ns")
    return pa.array((base + (seconds * 1e9).astype("int64").astype("timedelta64[ns]"))
                    .astype("datetime64[us]"), type=pa.timestamp("us"))


def _days(start, days):
    base = np.datetime64(start, "us")
    return pa.array(base + (days.astype("int64") * 86400 * 1000000)
                    .astype("timedelta64[us]"), type=pa.timestamp("us"))


def generate(out_dir, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150000 * sf)
    n_supp = max(10, int(10000 * sf))
    n_part = int(200000 * sf)
    n_ord = int(1500000 * sf)
    n_line = 4 * n_ord
    n_events = int(1000000 * sf)
    n_users = max(100, int(15000 * sf))
    n_docs = int(50000 * sf)
    n_vec = max(500, int(20000 * sf))

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    put("part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1)})
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, n_line))})
    ts = np.sort(rng.uniform(0, 30 * 86400, n_events))
    put("events", {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts("2024-01-01", ts),
        "user_id": rng.integers(0, n_users, n_events).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))])
             for _ in range(n_docs)]
    # one in twenty documents is a near duplicate: another one plus " dup"
    n_dup = n_docs // 20
    for i, j in zip(rng.choice(n_docs, n_dup, replace=False),
                    rng.integers(0, n_docs, n_dup)):
        texts[i] = texts[j] + " dup"
    put("documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    vecs = rng.standard_normal((n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    put("embeddings", {
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype("int32")})

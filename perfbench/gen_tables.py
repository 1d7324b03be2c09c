"""Seeded star-schema generator for the registry workload.

Writes the ten parquet tables every registry query reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the schemas and value distributions of the repo's fixture tables
(FIXTURES.md). The same seed always gives the same bytes of data.

Usage: python3 perfbench/gen_tables.py <outDir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the fixture family at sf0.01 (FIXTURES.md §2).
ROWS = dict(customer=1500, supplier=100, part=2000, orders=15000,
            lineitem=60000, events=10000, documents=500, embeddings=500)
USERS = 150
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
# Share of documents that copy an earlier one (exactly or with one word
# changed), so the dedup operators have real duplicate classes to find.
DUP_SHARE = 0.02


def ts_us(days_from, days_to, n, rng, day_grain):
    lo = np.datetime64(days_from, "us").astype(np.int64)
    hi = np.datetime64(days_to, "us").astype(np.int64)
    v = rng.integers(lo, hi, n)
    if day_grain:
        v -= v % (86400 * 10**6)
    return pa.array(v, pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    n = ROWS
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist()})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n["supplier"])})
    parts = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": parts,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n["part"]),
                                               rng.choice(PART_NOUN, n["part"]))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900 + (parts % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
        "o_totalprice": money(rng, 1000, 500000, n["orders"]),
        "o_orderdate": ts_us("1995-01-01", "2001-08-02", n["orders"], rng, True),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]).tolist()})
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m).tolist(),
        "l_linestatus": rng.choice(["F", "O"], m).tolist(),
        "l_shipdate": ts_us("1995-01-02", "2001-11-05", m, rng, True)})
    e = n["events"]
    ts = np.sort(ts_us("2024-01-01", "2024-01-31", e, rng, False)
                 .to_numpy(zero_copy_only=False).astype(np.int64))
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, USERS, e),
        "event_type": rng.choice(EVENT_TYPES, e).tolist(),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    texts = []
    for i in range(n["documents"]):
        if texts and rng.random() < DUP_SHARE:
            words = texts[rng.integers(0, len(texts))].split(" ")
            if rng.random() < 0.5:
                words[rng.integers(0, len(words))] = str(rng.choice(WORDS))
        else:
            words = rng.choice(WORDS, rng.integers(10, 100)).tolist()
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n["documents"], dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n["documents"], p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    k = n["embeddings"]
    labels = rng.integers(0, 10, k)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = centroids[labels] * 0.35 + rng.normal(0, 1, (k, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))

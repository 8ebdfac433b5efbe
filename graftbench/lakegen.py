"""Seeded generator for the analytics lake the query workloads read.

It writes the ten tables the registry queries take (a TPC-H-like star
schema, the `events` sensor-log stream, `documents` and `embeddings`) as
one parquet file each, with the column names, physical types and value
distributions of the repository's test lake at scale factor 0.1, the scale
its benchmarks use. The same seed gives the same tables.

Usage: python3 lakegen.py <out-dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale factor 0.1, and the number of distinct event users.
ROWS = {"lineitem": 600000, "orders": 150000, "customer": 15000, "part": 20000,
        "supplier": 1000, "nation": 25, "region": 5, "events": 100000,
        "documents": 5000, "embeddings": 2000}
USERS = 1500
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
PART_ADJ = "small large red blue hot old cold shiny".split()
PART_NOUN = "ring widget bolt gear plate rod nut pipe".split()


def _ts(base, seconds):
    return pa.array((np.datetime64(base, "us") +
                     (np.asarray(seconds) * 1e6).astype("timedelta64[us]")),
                    type=pa.timestamp("us"))


def tables(seed):
    r = np.random.default_rng(seed)
    n = ROWS
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], nc)})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, ns), 2)})
    npart = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(r.choice(PART_ADJ, npart),
                                              r.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, npart)],
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], npart),
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(npart) * 0.1 % 100, 2)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(r.uniform(1000, 500000, no), 2),
        "o_orderdate": _ts("1995-01-01", r.integers(0, 2404, no) * 86400),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = n["lineitem"]
    qty = r.integers(1, 51, nl).astype(np.float64)
    partkey = r.integers(0, npart, nl)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + partkey * 0.1 % 100) *
                                    r.uniform(0.95, 1.05, nl) + 0.0, 2),
        "l_discount": np.round(r.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": r.choice(["A", "N", "R"], nl),
        "l_linestatus": r.choice(["F", "O"], nl),
        "l_shipdate": _ts("1995-01-02", r.integers(0, 2500, nl) * 86400)})
    ne = n["events"]
    gaps = r.exponential(30 * 86400 / ne, ne)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": pa.array(r.integers(0, USERS, ne), pa.int64()),
        "event_type": r.choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.maximum(0.01, np.round(r.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and r.random() < 0.05:
            # a near-duplicate: an earlier document with a marker appended
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(WORDS, int(r.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": r.choice(["en", "zh", "es", "de", "fr"], nd,
                         p=[0.44, 0.15, 0.14, 0.14, 0.13]),
        "source": [f"src{i}" for i in r.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = n["embeddings"]
    labels = r.integers(0, 10, nv)
    centers = r.normal(0, 1, (10, 64))
    vec = centers[labels] * 0.14 / 8 + r.normal(0, 1, (nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(out_dir, seed):
    """Write the lake for `seed` under out_dir (reused when complete)."""
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))

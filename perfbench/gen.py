"""Seeded generator for the batch workloads' input tables.

Writes the ten TPC-H-ish tables the graft queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
as parquet, with the schemas, key ranges and value distributions of the
project's verification data at the same scale factor. The same seed gives
byte-identical tables; a different seed gives different rows of the same
shape, so no query result depends on one fixed dataset.

    python3 perfbench/gen.py --seed 7 --sf 0.01 --out /tmp/sf
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
DUP_SHARE = 0.05
EMB_DIM = 64


def sizes(sf):
    n = lambda base: max(1, int(round(base * sf)))
    return {"customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
            "orders": n(1_500_000), "lineitem": n(6_000_000),
            "events": n(1_000_000), "users": n(15_000),
            "documents": max(500, n(50_000)),
            "embeddings": max(500, n(20_000))}


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, end, n):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def documents(rng, n):
    lengths = rng.integers(10, 100, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # near-duplicates: another document's text with a marker word appended
    for i in rng.choice(n, int(n * DUP_SHARE), replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return {"doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def embeddings(rng, n):
    v = rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {"vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32)}


def generate(seed, sf, out):
    os.makedirs(out, exist_ok=True)
    s = sizes(sf)
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    write(out, "region", {"r_regionkey": np.arange(5, dtype=np.int32),
                          "r_name": REGIONS})
    write(out, "nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": np.arange(25, dtype=np.int32) % 5})
    c = s["customer"]
    write(out, "customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)]})
    su = s["supplier"]
    write(out, "supplier", {
        "s_suppkey": np.arange(su, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(su)],
        "s_nationkey": rng.integers(0, 25, su).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, su)})
    p = s["part"]
    write(out, "part", {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, p)],
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1)})
    o = s["orders"]
    write(out, "orders", {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": money(rng, 1000, 500000, o),
        "o_orderdate": days(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)]})
    li = s["lineitem"]
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, su, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, li),
        "l_discount": np.round(rng.uniform(0, 0.1, li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": days(rng, "1995-01-02", "2001-11-04", li)})
    e = s["events"]
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, e)) + np.datetime64("2024-01-01", "us")
    write(out, "events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, s["users"], e).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.maximum(0.01, np.round(rng.exponential(50, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    write(out, "documents", documents(rng, s["documents"]))
    write(out, "embeddings", embeddings(rng, s["embeddings"]))


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.sf, a.out)

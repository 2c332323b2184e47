#!/usr/bin/env python3
"""Deterministic generator for the benchmark's input tables.

Writes the ten parquet tables the engine's query ids read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the schemas and value distributions of the project's synthetic star
schema: uniform independent columns, dense 0-based keys, money with two
decimals, ms dates in the order/ship windows, us event timestamps, a
31-word lowercase text vocabulary with 5% planted near-duplicates (an
earlier text plus the word "dup") and 8 planted exact-duplicate pairs, and
unit-norm 64-d float embeddings with 10 labels.

Usage: python3 perfbench/gen_data.py <out_dir> [--sf 0.1] [--seed 42]

The same (sf, seed, numpy version) always writes the same rows.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "green", "cold", "dark"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "screw", "pipe", "valve", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DAY_MS = 86_400_000


def money(rng, lo, hi, n):
    """uniform value with exactly two decimals"""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def ms_dates(rng, start, end, n):
    d0 = np.datetime64(start, "D").astype("int64")
    d1 = np.datetime64(end, "D").astype("int64")
    days = rng.integers(d0, d1 + 1, n)
    return pa.array(days * DAY_MS * 1000, pa.timestamp("us"))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    rng = np.random.default_rng(a.seed)
    sf = a.sf
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = 5000 if sf >= 0.1 else 500
    n_embs = 2000 if sf >= 0.1 else 500
    n_users = max(150, int(15_000 * sf))

    write(a.out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    write(a.out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(a.out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    write(a.out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    write(a.out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[x]} {PART_NOUN[y]}" for x, y in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    write(a.out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ms_dates(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)]})
    flags = rng.integers(0, 3, n_li)
    write(a.out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in flags],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_li)],
        "l_shipdate": ms_dates(rng, "1995-01-02", "2001-11-04", n_li)})

    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span = 30 * DAY_MS * 1000
    ts = np.sort(t0 + rng.integers(0, span, n_ev))
    write(a.out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[e] for e in rng.integers(0, 5, n_ev)],
        "value": money(rng, 0.0, 560.21, n_ev),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)]})

    lens = rng.integers(10, 100, n_docs)
    texts = [" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), n))
             for n in lens]
    for d in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        texts[d] = texts[rng.integers(0, d)] + " dup"
    if n_docs >= 5000:  # the planted dedup_exact fixture: 8 duplicate pairs
        for i in range(8):
            texts[n_docs - 1 - i] = texts[i * 97]
    write(a.out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)].tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    v = rng.standard_normal((n_embs, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write(a.out, "embeddings", {
        "vec_id": pa.array(np.arange(n_embs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_embs), pa.int32())})


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Deterministic TPC-H-ish input tables for the benchmark.

Writes region, nation, customer, supplier, part, orders, lineitem,
events, documents and embeddings as one parquet file each, with the
column names, types and value domains the engine's SparkEntry queries
and their DuckDB oracle SQL expect. Row counts scale with `sf` the way
the standard test data does (customer 150k x sf, lineitem 6M x sf, ...).

Usage: python3 perfbench/gen_data.py <out_dir> [sf] [data_seed]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def _us(day_str):
    return np.datetime64(day_str, "us").astype(np.int64)


def _days(rng, n, lo, hi):
    """n midnight timestamps (us) uniform in [lo, hi]."""
    d0 = np.datetime64(lo, "D").astype(np.int64)
    d1 = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(d0, d1 + 1, n) * 86_400_000_000


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, sf=0.1, seed=42):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts = pa.timestamp("us")

    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32)})

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)].tolist()})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), f64)})

    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
    pk = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ptypes[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1), f64)})

    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500000), f64),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"),
                                ts),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)].tolist()})

    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, n_li, 900, 105000), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100, f64),
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[
            rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", "2001-11-04"),
                               ts)})

    t0 = _us("2024-01-01")
    span = 30 * 86_400_000_000
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.sort(t0 + rng.integers(0, span, n_ev)), ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)].tolist(),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # 5% of documents are near-duplicates: another document's text with
    # " dup" appended, so the dedup pipelines have clusters to find
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 101, n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)].tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


if __name__ == "__main__":
    out = sys.argv[1]
    sf = float(sys.argv[2]) if len(sys.argv) > 2 else 0.1
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    generate(out, sf, seed)

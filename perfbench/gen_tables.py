#!/usr/bin/env python3
"""Deterministic generator for the benchmark's relational and text tables.

Usage: python3 perfbench/gen_tables.py <outDir> <sf> [dataSeed]

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the schemas and
value domains of the star schema that `graft.Tables` reads (TPC-H-like
tables, an events stream, a 31-word-vocabulary document table and unit
64-d embeddings). Row counts scale with `sf` the way the stock tables do:
lineitem has about 6M x sf rows.

The output is a pure function of (sf, dataSeed): numpy's PCG64 stream is
stable across platforms for the calls used here. Row groups hold 64k rows,
so a small `spark.sql.files.maxPartitionBytes` splits a table into several
scan tasks.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROW_GROUP = 65536
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=ROW_GROUP)


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(start, rng, lo, hi, n):
    d = np.datetime64(start, "D") + rng.integers(lo, hi, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def pick(rng, values, n):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def generate(out, sf, seed=42):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(200, int(200000 * sf))
    n_ord = max(1500, int(1500000 * sf))
    n_ev = max(1000, int(1000000 * sf))
    n_users = max(15, int(15000 * sf))
    n_docs = max(500, int(50000 * sf))
    n_vecs = max(200, int(20000 * sf))

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"], n_cust)})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})

    adj = "blue cold hot large new old red small".split()
    noun = "anvil bolt gear gizmo plate ring rod widget".split()
    keys = np.arange(n_part)
    write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pick(rng, [f"{a} {b}" for a in adj for b in noun], n_part),
        "p_brand": pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                             "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": days("1995-01-01", rng, 0, 2404, n_ord),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], n_ord)})

    n_li = 4 * n_ord
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": pick(rng, ["F", "O"], n_li),
        "l_shipdate": days("1995-01-02", rng, 0, 2498, n_li)})

    # events: ascending timestamps over January 2024, microsecond precision
    gaps = rng.exponential(1.0, n_ev)
    ts_us = (np.cumsum(gaps) / gaps.sum() * 30 * 86400e6).astype(np.int64)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(start + ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    lens = rng.integers(10, 101, n_docs)
    words = np.array(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    # a few exact duplicates, each carrying a marker token
    for i in range(1, n_docs, 600):
        texts[i] = texts[i - 1] = texts[i - 1] + " dup"
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pick(rng, ["en", "en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    emb = rng.normal(0.0, 1.0, (n_vecs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit("usage: gen_tables.py <outDir> <sf> [dataSeed]")
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 42)

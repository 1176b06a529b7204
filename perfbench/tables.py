#!/usr/bin/env python3
"""Seeded generator of the query-suite tables: the eight TPC-H-style
tables plus `events`, `documents` and `embeddings`, with the column names,
types and value domains the operator queries and their DuckDB oracle SQL
expect, at the row counts of the smallest scale factor (6000 lineitems,
500 documents). Each table is one parquet file; timestamps carry no time
zone (Spark reads them as TIMESTAMP_NTZ), as in the reference fixtures.

Every value is a function of the seed, so the same seed writes the same
rows. The generator shares no code with the program.

Usage: python3 perfbench/tables.py SEED OUT_DIR
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data spark table row column key value join agg group sort merge hash scan "
         "filter query window stream batch vector line part order customer small big fast "
         "slow dup").split()


def write(seed, out):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    def pick(options, n):
        return [options[i] for i in rng.integers(0, len(options), n)]

    def r2(x):
        return np.round(x, 2)

    def day(days):
        return (np.datetime64("1995-01-01") + np.asarray(days).astype("timedelta64[D]")) \
            .astype("datetime64[us]")

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    save("region", {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(regions, s)})
    save("nation", {"n_nationkey": pa.array(range(25), i32),
                    "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                    "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    n_cust, n_supp, n_part, n_orders = 150, 10, 200, 1500
    save("customer", {
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(r2(rng.uniform(-999.99, 9999.99, n_cust)), f64),
        "c_mktsegment": pa.array(pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                       "MACHINERY"], n_cust), s)})
    save("supplier", {
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(r2(rng.uniform(0.0, 9999.99, n_supp)), f64)})
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    adj = ["small", "large", "hot", "cold", "red", "blue", "old", "new"]
    noun = ["widget", "gizmo", "bolt", "rod", "gear", "ring", "plate", "anvil"]
    save("part", {
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(pick(adj, n_part), pick(noun, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(pick(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"],
                                n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(price, f64)})

    span_days = 2403  # 1995-01-01 .. 2001-08-01
    save("orders", {
        "o_orderkey": pa.array(range(n_orders), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
        "o_orderstatus": pa.array(pick(["F", "O", "P"], n_orders), s),
        "o_totalprice": pa.array(r2(rng.uniform(1000.0, 500000.0, n_orders)), f64),
        "o_orderdate": pa.array(day(rng.integers(0, span_days + 1, n_orders)), ts),
        "o_orderpriority": pa.array(pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                          "5-LOW"], n_orders), s)})
    # 1..7 lines per order, line numbers unique within an order
    per_order = rng.integers(1, 8, n_orders)
    n_lines = int(per_order.sum())
    parts = rng.integers(0, n_part, n_lines)
    qty = rng.integers(1, 51, n_lines).astype(float)
    save("lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(n_orders), per_order), i64),
        "l_partkey": pa.array(parts, i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), i64),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in per_order]), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(r2(qty * price[parts]), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0, f64),
        "l_returnflag": pa.array(pick(["A", "N", "R"], n_lines), s),
        "l_linestatus": pa.array(pick(["F", "O"], n_lines), s),
        "l_shipdate": pa.array(day(rng.integers(1, span_days + 96, n_lines)), ts)})

    # events: strictly increasing microsecond timestamps over 30 days
    offsets = np.unique(rng.integers(0, 30 * 86400 * 10**6, 1000))
    n_ev = len(offsets)
    save("events", {
        "event_id": pa.array(range(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, 15, n_ev), i64),
        "event_type": pa.array(pick(["click", "view", "purchase", "signup", "error"], n_ev), s),
        "value": pa.array(r2(0.01 + rng.uniform(0.0, 330.0, n_ev)), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})

    # documents: random word sequences; about one in ten is a near-duplicate
    # (one word dropped or replaced) of an earlier document
    texts = []
    for i in range(500):
        if i > 10 and rng.integers(0, 10) == 0:
            src = list(texts[rng.integers(0, len(texts))])
            at = int(rng.integers(0, len(src)))
            if rng.integers(0, 2):
                del src[at]
            else:
                src[at] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(src)
        else:
            texts.append(pick(VOCAB, int(rng.integers(10, 100))))
    text = [" ".join(t) for t in texts]
    save("documents", {
        "doc_id": pa.array(range(500), i64),
        "text": pa.array(text, s),
        "lang": pa.array(pick(["en", "en", "en", "de", "fr", "es", "zh"], 500), s),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, 500)], s),
        "n_chars": pa.array([len(t) for t in text], i64)})

    # embeddings: unit vectors around ten label centroids
    centroids = rng.uniform(-1.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, 500)
    v = centroids[labels] + rng.uniform(-0.6, 0.6, (500, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", {
        "vec_id": pa.array(range(500), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


if __name__ == "__main__":
    write(int(sys.argv[1]), sys.argv[2])

#!/usr/bin/env python3
"""Seeded input generator for the catalog pass.

Writes the ten tables the catalog queries read (TESTDATA.md: a TPC-H-ish star
schema plus `events`, `documents` and `embeddings`), one parquet file each,
with the column names and types of the project's reference test data. Row
counts scale with --sf the way that data does (lineitem = 6,000,000 x sf).

Usage: python3 gen_catalog.py --seed N --sf 0.01 --out DIR
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS = pa.timestamp("us")
VOCAB = ["row", "the", "query", "stream", "fast", "spark", "line", "small", "customer",
         "group", "key", "agg", "scan", "slow", "table", "part", "a", "merge", "window",
         "order", "column", "join", "vector", "value", "hash", "batch", "sort", "data",
         "big", "filter"]
ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NOUN = ["bolt", "gear", "anvil", "widget", "rod", "ring", "plate", "gizmo"]


def days(rng, n, start, span_days):
    d = np.datetime64(start, "us") + rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), TS)


def generate(seed, sf, out):
    rng = np.random.default_rng([seed, 31337])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_events, n_docs = int(1_000_000 * sf), int(50_000 * sf)
    n_emb = max(200, int(20_000 * sf))
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE",
                                  "BUILDING"]).take(pa.array(rng.integers(0, 5, n_cust)))})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    p_price = np.round(900 + (np.arange(n_part) % 1000) * 0.1 + rng.integers(0, 100, n_part), 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                            "PROMO"]).take(pa.array(rng.integers(0, 6, n_part))),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": p_price})
    o_date = days(rng, n_ord, "1995-01-01", 2404)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(["F", "O", "P"]).take(pa.array(rng.integers(0, 3, n_ord))),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": o_date,
        "o_orderpriority": pa.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"]).take(pa.array(rng.integers(0, 5, n_ord)))})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_num = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order), "l_partkey": pa.array(l_part),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(l_num), "l_quantity": qty,
        "l_extendedprice": np.round(qty * p_price[l_part], 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(["A", "N", "R"]).take(pa.array(rng.integers(0, 3, n_li))),
        "l_linestatus": pa.array(["F", "O"]).take(pa.array(rng.integers(0, 2, n_li))),
        "l_shipdate": days(rng, n_li, "1995-01-02", 2498)})
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.choice(30 * 86400 * 1_000_000, n_events, replace=False)).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ev_ts, TS),
        "user_id": pa.array(rng.integers(0, max(50, n_events // 66), n_events)),
        "event_type": pa.array(["click", "signup", "error", "view",
                                "purchase"]).take(pa.array(rng.integers(0, 5, n_events))),
        "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:  # near-duplicate of an earlier document
            w = texts[int(rng.integers(0, i))].split(" ")
            w[int(rng.integers(0, len(w)))] = "dup"
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)), "text": texts,
        "lang": pa.array(["en", "fr", "es", "zh", "de"]).take(
            pa.array(rng.choice(5, n_docs, p=[0.6, 0.1, 0.1, 0.1, 0.1]))),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    print(json.dumps(generate(a.seed, a.sf, a.out)))


if __name__ == "__main__":
    main()

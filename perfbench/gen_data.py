#!/usr/bin/env python3
"""Deterministic synthetic tables for the benchmark's query workloads.

Writes the ten tables the engine's queries read (a TPC-H-like star schema,
an `events` stream, `documents` text and `embeddings` vectors) as one
parquet file each, in the shapes and value domains of the scale-factor
tables the engine's oracle gate uses. Same seed and scale, same bytes.

Usage: gen_data.py <outDir> [--sf 0.01] [--seed 42]
"""
import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["small", "red", "new", "hot", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["PROMO", "LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def days(rng, n, start, end):
    """n random midnight timestamps in [start, end], as datetime64[us]."""
    span = (end - start).days
    d = rng.randint(0, span + 1, size=n).astype("timedelta64[D]")
    return (np.datetime64(start, "us") + d).astype("datetime64[us]")


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def tables(sf, seed):
    rng = np.random.RandomState(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_evt = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust), i32),
        "c_acctbal": money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.randint(0, 25, n_supp), i32),
        "s_acctbal": money(rng, n_supp, -999.99, 9999.99)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.randint(1, 26, n_part)], pa.string()),
        "p_type": pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.randint(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord), i64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.randint(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.randint(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.randint(1, 8, n_line), i32),
        "l_quantity": rng.randint(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.randint(0, 11, n_line) / 100.0,
        "l_tax": rng.randint(0, 9, n_line) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": pick(rng, ["O", "F"], n_line),
        "l_shipdate": days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    gaps = rng.exponential(30 * 86400e6 / n_evt, n_evt).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": (np.datetime64("2024-01-01", "us") + np.cumsum(gaps)
               .astype("timedelta64[us]")).astype("datetime64[us]"),
        "user_id": pa.array(rng.randint(0, max(1, n_cust // 10), n_evt), i64),
        "event_type": pick(rng, EVENT_TYPES, n_evt),
        "value": np.minimum(np.round(rng.exponential(50.0, n_evt), 2), 560.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.randint(0, 100, n_evt)],
                          pa.string())})
    texts = [" ".join(np.asarray(VOCAB)[rng.randint(0, len(VOCAB), rng.randint(8, 101))])
             for _ in range(n_doc)]
    # one doc in twenty repeats another doc's text plus a marker word, so
    # exact- and near-duplicate detection have real pairs to find
    dups = rng.choice(n_doc, n_doc // 20, replace=False)
    for d in dups:
        texts[d] = texts[rng.randint(0, n_doc)] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, pa.string()),
        "lang": pick(rng, LANGS, n_doc, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vecs = rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, n_emb), i32)})
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    tmp = a.out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, tbl in tables(a.sf, a.seed).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, a.out)


if __name__ == "__main__":
    main()

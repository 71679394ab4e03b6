#!/usr/bin/env python3
"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the engine's builders read (`<table>.parquet`, one
file and one row group each, snappy) with the schemas, key ranges and
value domains of the TPC-H-style test fixtures described in FIXTURES.md:
region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings. Every value comes from one PCG64 stream seeded
with DATA_SEED, so a given scale factor always yields byte-identical
rows and the recorded expected results stay valid.

Usage: python3 perfbench/gen_data.py <out_dir> <sf>
"""
import datetime as dt
import pathlib
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]


def _days(start, end, n, rng):
    """n midnight timestamps uniform over [start, end] (inclusive)."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    base = np.datetime64(start.isoformat(), "us")
    return base + d.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values, n, rng):
    return np.array(values, dtype=object)[rng.integers(0, len(values), n)]


def tables(sf):
    rng = np.random.Generator(np.random.PCG64(DATA_SEED))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = 2000 if sf >= 0.1 else 500
    n_users = int(15_000 * sf)

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": _pick(SEGMENTS, n_cust, rng)})
    yield "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, rng)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    yield "part", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(names, n_part, rng),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(PART_TYPES, n_part, rng),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    yield "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(["F", "O", "P"], n_ord, rng),
        "o_totalprice": _money(1000.0, 500000.0, n_ord, rng),
        "o_orderdate": _days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord, rng),
        "o_orderpriority": _pick(PRIORITIES, n_ord, rng)})
    yield "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(900.0, 105000.0, n_line, rng),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(["A", "N", "R"], n_line, rng),
        "l_linestatus": _pick(["F", "O"], n_line, rng),
        "l_shipdate": _days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line, rng)})
    month_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us")
    yield "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(EVENT_TYPES, n_ev, rng),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    lens = rng.integers(10, 101, n_doc)
    words = np.array(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    yield "documents", pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(LANGS, n_doc, rng),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


def main():
    out, sf = pathlib.Path(sys.argv[1]), float(sys.argv[2])
    out.mkdir(parents=True, exist_ok=True)
    for name, table in tables(sf):
        pq.write_table(table, out / f"{name}.parquet",
                       row_group_size=max(1, table.num_rows), compression="snappy")


if __name__ == "__main__":
    main()

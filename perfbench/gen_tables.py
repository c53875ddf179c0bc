#!/usr/bin/env python3
"""Seeded input tables for the batch query mix of the traced cdc_catchup run.

Writes the TPC-H-ish star schema, the events table and the text and vector
tables (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), one parquet file each, with the column names and
physical types of the engine's test datasets. The batch mix reads seven of
them; all ten exist because the repository's oracle checker
(tools/check.py) registers every one. The same seed and scale give the same
bytes of data.

Money and quantity doubles are whole cents, so the queries' exact-decimal
casts and the DuckDB oracle agree to the last digit. About 2% of documents
are near-duplicates (one word changed) of an earlier document from the same
source, as in the engine's datasets, so the dedup queries have pairs to find.

Usage: python3 perfbench/gen_tables.py <out_dir> <seed> <scale>
(scale 1.0 = 15,000 customers, 150,000 orders, 600,000 line items,
100,000 events, 5,000 documents and 2,000 embeddings).
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
SOURCES = 20
EMBED_DIM = 64


def cents(rng, lo, hi, n):
    return np.round(rng.integers(lo, hi + 1, n) / 100.0, 2)


def days(rng, n, first="1995-01-01", last="2001-08-01"):
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, seed, scale):
    rng = np.random.default_rng(seed)
    n_cust = max(100, int(15000 * scale))
    n_ord = max(1000, int(150000 * scale))
    n_line = max(4000, int(600000 * scale))
    n_part = max(200, int(20000 * scale))
    n_supp = max(10, int(1000 * scale))
    n_events = max(1000, int(100000 * scale))
    n_docs = max(200, int(5000 * scale))
    n_vecs = max(200, int(2000 * scale))
    os.makedirs(out, exist_ok=True)

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(cents(rng, -99999, 999999, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(cents(rng, -99999, 999999, n_supp))})
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"part {i}" for i in range(n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(cents(rng, 90000, 209900, n_part))})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "P", "F"], n_ord)),
        "o_totalprice": pa.array(cents(rng, 100000, 50000000, n_ord)),
        "o_orderdate": pa.array(days(rng, n_ord)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(cents(rng, 90000, 10499991, n_line)),
        "l_discount": pa.array(cents(rng, 0, 10, n_line)),
        "l_tax": pa.array(cents(rng, 0, 8, n_line)),
        "l_returnflag": pa.array(rng.choice(["N", "A", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_line)),
        "l_shipdate": pa.array(days(rng, n_line))})

    start = np.datetime64("2024-01-01T00:00:00", "us")
    write(out, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(start + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))),
        "user_id": pa.array(rng.integers(0, 2000, n_events, dtype=np.int64)),
        "event_type": pa.array(rng.choice(["view", "click", "purchase", "error"], n_events)),
        "value": pa.array(cents(rng, 0, 50000, n_events)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])})

    lengths = rng.integers(10, 101, n_docs)
    texts = [list(rng.choice(WORDS, k)) for k in lengths]
    for i in range(SOURCES, n_docs):
        if rng.random() < 0.02:
            words = list(texts[i - SOURCES])
            words[rng.integers(0, len(words))] = rng.choice(WORDS)
            texts[i] = words
    texts = [" ".join(w) for w in texts]
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs)),
        "source": pa.array([f"src{i % SOURCES}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    vecs = (rng.standard_normal((n_vecs, EMBED_DIM)) * 0.12).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs, dtype=np.int32))})


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))

#!/usr/bin/env python3
"""Seeded generator for the contract tables the engine's queries read.

Writes one single-row-group parquet file per table under OUT_DIR with
the schemas and value ranges of the engine's TPC-H-style test layout
(region nation customer supplier part orders lineitem events documents
embeddings). The same (scale, seed) always gives the same rows, so the
expected per-query outputs recorded in expected.json stay valid.

    python3 gen_tables.py <scale> <seed> <out_dir>
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJS = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
NOUNS = ["ring", "widget", "bolt", "gear", "plate", "rod", "anvil", "gizmo"]
TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
DIM = 64


def write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, out / f"{name}.parquet", row_group_size=max(1, table.num_rows))


def days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n)


def micros(day_numbers):
    return pa.array(day_numbers.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.02:        # exact re-post of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and r < 0.10:      # near duplicate: a few words swapped
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words) + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return texts


def main(scale, seed, out_dir):
    rng = np.random.default_rng(seed)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = int(50_000 * scale), max(500, int(20_000 * scale))

    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -1000, 10000, n_cust),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -1000, 10000, n_supp)})
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    order_day = days(rng, "1995-01-01", "2001-08-01", n_ord)
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": micros(order_day),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]})
    l_order = rng.integers(0, n_ord, n_line)
    write(out, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_line)],
        "l_shipdate": micros(order_day[l_order] + rng.integers(1, 96, n_line))})
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.sort(start + rng.integers(0, span, n_ev)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, int(15_000 * scale), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)]})
    texts = documents(rng, n_doc)
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.normal(0.0, 1.0, (n_emb, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


if __name__ == "__main__":
    main(float(sys.argv[1]), int(sys.argv[2]), sys.argv[3])

#!/usr/bin/env python3
"""Deterministic synthetic tables for the query workloads.

Writes the ten tables the host queries and pipeline operators read
(region nation customer supplier part orders lineitem events documents
embeddings), one parquet file each, with the same column names, types and
value ranges as the project's TPC-H-ish test corpus. Row counts scale with
`sf` (lineitem = 6,000,000 x sf). The same (sf, seed) always gives
byte-identical values, so expected query digests can ship with the
benchmark.

Usage: python3 bench/gen_data.py <outDir> <sf> [seed=42]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data spark row column table query scan filter join agg group "
         "sort hash window merge stream batch key value part line order "
         "customer vector fast slow big small").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "green", "large", "small", "hot", "cold", "shiny"]
PART_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "spring", "valve", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def days(rng, start, span, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(15, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(20, int(200_000 * sf)), max(150, int(1_500_000 * sf))
    n_line, n_evt = max(600, int(6_000_000 * sf)), max(100, int(1_000_000 * sf))
    n_doc, n_emb = max(50, int(50_000 * sf)), max(20, int(20_000 * sf))
    i64 = lambda n: np.arange(n, dtype=np.int64)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    yield "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    yield "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    yield "customer", {
        "c_custkey": i64(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)}
    yield "supplier", {
        "s_suppkey": i64(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}
    yield "part", {
        "p_partkey": i64(n_part),
        "p_name": [a + " " + b for a, b in zip(pick(rng, PART_ADJ, n_part),
                                               pick(rng, PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}
    buyers = np.arange(n_cust, dtype=np.int64)
    buyers = buyers[buyers % 3 != 0]  # as in TPC-H, a third of customers never order
    yield "orders", {
        "o_orderkey": i64(n_ord),
        "o_custkey": rng.choice(buyers, n_ord),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)}
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    yield "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": pick(rng, ["F", "O"], n_line),
        "l_shipdate": days(rng, "1995-01-02", 2498, n_line)}
    step = 30 * 86400 * 10**6 // n_evt
    yield "events", {
        "event_id": i64(n_evt),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us")
               + (np.arange(n_evt) * step + rng.integers(0, step, n_evt))
               .astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(2, n_evt // 66), n_evt, dtype=np.int64),
        "event_type": pick(rng, EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.002:  # exact duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.03:  # near duplicate: one word swapped
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(pick(rng, VOCAB, int(rng.integers(8, 90)))))
    yield "documents", {
        "doc_id": i64(n_doc),
        "text": texts,
        "lang": pick(rng, LANGS, n_doc, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    labels = rng.integers(0, 10, n_emb, dtype=np.int32)
    centers = rng.normal(0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.1, (n_emb, 64))).astype(np.float32)
    yield "embeddings", {
        "vec_id": i64(n_emb),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels}


def main():
    out, sf = sys.argv[1], float(sys.argv[2])
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    os.makedirs(out, exist_ok=True)
    for name, cols in tables(sf, seed):
        tmp = os.path.join(out, f".{name}.parquet.tmp")
        pq.write_table(pa.table(cols), tmp)
        os.replace(tmp, os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    main()

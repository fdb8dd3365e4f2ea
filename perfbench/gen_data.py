"""Seeded generator for the operator and pipeline workloads' input tables.

Writes the star schema the Spark operators read (`graft.Tables`): the
TPC-H-ish `region nation customer supplier part orders lineitem`, the
`events` stream table, and the `documents` / `embeddings` corpus, one
parquet file each, with the column names, physical types and value
distributions of the project's fixture data (TESTDATA.md):

- every key and measure is drawn uniformly and independently;
- monetary columns are exact two-decimal values, so DECIMAL(18,2)
  aggregates agree bit-for-bit between Spark and DuckDB;
- timestamps are TIMESTAMP_MICROS without a zone, as in the fixtures;
- documents are 10-100 words over a 30-word vocabulary; 5% are a copy of
  another document plus the token `dup` (planted near-duplicates) and a
  few are exact copies;
- embeddings are 64-dim unit Gaussian vectors with `vec_id` = `doc_id`.

Row counts follow the fixtures' scale rule, so `--sf 0.01` gives the
shape of the project's `sf0.01` correctness tier. The same seed always
gives the same files.

Usage: python3 perfbench/gen_data.py --out DIR --seed N [--sf 0.01]
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def counts(sf):
    docs = max(500, int(50000 * sf))
    return {
        "customer": int(150000 * sf), "supplier": int(10000 * sf),
        "part": int(200000 * sf), "orders": int(1500000 * sf),
        "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
        "users": int(15000 * sf), "documents": docs,
        "embeddings": min(docs, max(500, int(20000 * sf))),
    }


def money(rng, lo, hi, n):
    """Uniform two-decimal values in [lo, hi]."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def documents(rng, n):
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)))
    ids = rng.permutation(n)
    n_near = n // 20
    n_exact = max(1, n // 600)
    for j in range(n_near):
        src, dst = ids[2 * j], ids[2 * j + 1]
        texts[dst] = texts[src] + " dup"
    for j in range(n_exact):
        src, dst = ids[2 * (n_near + j)], ids[2 * (n_near + j) + 1]
        texts[dst] = texts[src]
    langs = rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def generate(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    c = counts(sf)
    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    n = c["customer"]
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n).tolist())})
    n = c["supplier"]
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n))})
    n = c["part"]
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array([f"{COLORS[a]} {NOUNS[b]}" for a, b in
                            zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(rng.choice(PTYPES, n).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1))})
    n = c["orders"]
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n).tolist()),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": pa.array(days(rng, "1995-01-01", 2404, n)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n).tolist())})
    n = c["lineitem"]
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, c["orders"], n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, c["part"], n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n).tolist()),
        "l_shipdate": pa.array(days(rng, "1995-01-02", 2499, n))})
    n = c["events"]
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n))
    write(out, "events", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, c["users"], n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})
    write(out, "documents", documents(rng, c["documents"]))
    n = c["embeddings"]
    v = rng.standard_normal((n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32))})


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args()
    generate(a.out, a.seed, a.sf)

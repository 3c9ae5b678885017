"""Seeded generator for the benchmark's input tables.

Writes the ten tables graft's queries read (TPC-H-ish star schema plus the
events / documents / embeddings tables) as one parquet file each, with the
column types and value distributions the query set is written against.
The same (seed, scale) always gives byte-identical tables.

    python3 perfbench/gen.py <out_dir> <seed> <scale>

`scale` follows TPC-H's scale factor: 0.01 gives 60,000 lineitem rows.
"""
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = ["blue", "old", "red", "hot", "large", "cold", "small", "new"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
VOCAB = ["row", "the", "query", "stream", "fast", "spark", "line", "small",
         "customer", "group", "value", "hash", "batch", "sort", "data", "big",
         "filter", "key", "agg", "scan", "slow", "table", "part", "a", "merge",
         "window", "order", "column", "join", "vector"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EPOCH = datetime(1970, 1, 1)


def ts_us(start, rng_days, rng, n):
    """Midnight timestamps uniform over [start, start + rng_days] days, as µs."""
    base = int((start - EPOCH).total_seconds()) * 1_000_000
    return base + rng.integers(0, rng_days + 1, n) * 86_400_000_000


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet")


def generate(out, seed, scale):
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    tsu = pa.timestamp("us")

    write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp), f64)})
    pk = np.arange(n_part)
    write(out, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PTYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1), f64)})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(money(rng, 1000, 500000, n_ord), f64),
        "o_orderdate": pa.array(ts_us(datetime(1995, 1, 1), 2404, rng, n_ord), tsu),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(money(rng, 900, 105000, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(ts_us(datetime(1995, 1, 2), 2498, rng, n_line), tsu)})
    jan1 = int((datetime(2024, 1, 1) - EPOCH).total_seconds()) * 1_000_000
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.sort(jan1 + rng.integers(0, 30 * 86_400_000_000, n_ev)), tsu),
        "user_id": pa.array(rng.integers(0, max(1, int(n_ev * 0.015)), n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    # 500 documents at every scale; about one in twenty is a near-duplicate of
    # an earlier document with a trailing "dup" token, for the dedup queries.
    texts = []
    for d in range(500):
        if d > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    write(out, "documents", {
        "doc_id": pa.array(range(500), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, 500, p=LANG_P), s),
        "source": pa.array([f"src{d % 20}" for d in range(500)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vecs = rng.standard_normal((500, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(range(500), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, 500), i32)})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))

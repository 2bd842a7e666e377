"""Seeded generator for the benchmark's input tables.

Writes the ten tables the registry reads (`region nation customer supplier
part orders lineitem events documents embeddings`, one parquet file each)
with the column names, Arrow types and value domains of the repository's
sf0.01 test tables: uniform keys, TPC-H-style enumerations, a 30-word
document vocabulary with planted exact and near duplicates, and unit-norm
64-d embeddings. The same seed always gives the same values.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts of the sf0.01 shape
SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, documents=500, embeddings=500,
             users=150)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "fr", "de", "es", "zh"]
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()


def _dates(rng, n, lo, hi):
    """Midnight timestamps uniform over [lo, hi] (numpy datetime64[us])."""
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + days).astype("datetime64[us]")


def tables(seed):
    rng = np.random.default_rng(seed)
    n = SIZES
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    k = np.arange(n["customer"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(k, i64),
        "c_name": pa.array([f"Customer#{v:09d}" for v in k], s),
        "c_nationkey": pa.array(rng.integers(0, 25, k.size), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, k.size), 2), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, k.size), s)})
    k = np.arange(n["supplier"])
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(k, i64),
        "s_name": pa.array([f"Supplier#{v:09d}" for v in k], s),
        "s_nationkey": pa.array(rng.integers(0, 25, k.size), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, k.size), 2), f64)})
    k = np.arange(n["part"])
    out["part"] = pa.table({
        "p_partkey": pa.array(k, i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(ADJ, k.size), rng.choice(NOUN, k.size))], s),
        "p_brand": pa.array([f"Brand#{v}" for v in rng.integers(1, 26, k.size)], s),
        "p_type": pa.array(rng.choice(PTYPES, k.size), s),
        "p_size": pa.array(rng.integers(1, 51, k.size), i32),
        "p_retailprice": pa.array(np.round(900 + (k % 1000) * 0.1, 1), f64)})
    k = np.arange(n["orders"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(k, i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k.size), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], k.size), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, k.size), 2), f64),
        "o_orderdate": pa.array(_dates(rng, k.size, "1995-01-01", "2001-08-01"), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, k.size), s)})
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(float), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, m), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m), s),
        "l_linestatus": pa.array(rng.choice(["O", "F"], m), s),
        "l_shipdate": pa.array(_dates(rng, m, "1995-01-02", "2001-11-04"), ts)})
    m = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, m))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(m), i64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, n["users"], m), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, m), s),
        "value": pa.array(np.round(rng.exponential(50.0, m), 2), f64),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, m)], s)})
    m = n["documents"]
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 101))))
             for _ in range(m)]
    # every tenth document copies an earlier one, every other copy with
    # one word changed, so the dedup and near-duplicate rows find pairs
    for i in range(10, m, 10):
        words = texts[int(rng.integers(0, i))].split()
        if i % 20:
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        texts[i] = " ".join(words)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(m), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, m), s),
        "source": pa.array([f"src{v}" for v in rng.integers(0, 20, m)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    m = n["embeddings"]
    vecs = rng.standard_normal((m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.field("element", pa.float32()))),
        "label": pa.array(rng.integers(0, 10, m), i32)})
    return out


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

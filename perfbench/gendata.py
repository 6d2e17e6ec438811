"""Deterministic star-schema fixture generator for the benchmark.

Writes the ten tables the engine reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
single-row-group parquet file each, `<dir>/<table>.parquet`, with the
column names, types and value domains of the engine's TPC-H-like test
data. Row counts scale with `sf` the same way (6M lineitem rows per
unit). The same (sf, seed) always gives byte-identical content.

    python3 perfbench/gendata.py <dir> <sf> [seed]
"""
import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "blue", "cold", "old", "new", "hot", "red", "large"]
PART_NOUN = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "en", "de", "es", "fr", "zh"]
DIMS = 64

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def row_counts(sf):
    return {
        "region": 5, "nation": 25,
        "customer": int(150_000 * sf), "supplier": max(int(10_000 * sf), 10),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(int(50_000 * sf), 500),
        "embeddings": max(int(20_000 * sf), 500),
    }


def _ts(start, end, n, rng):
    lo = int(datetime.fromisoformat(start).timestamp()) * 1_000_000
    hi = int(datetime.fromisoformat(end).timestamp()) * 1_000_000
    return rng.integers(lo, hi, n)


def _days(start, end, n, rng):
    us = _ts(start, end, n, rng)
    return us - us % 86_400_000_000


def _money(lo, hi, n, rng):
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _pick(values, n, rng):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def tables(sf, seed=42):
    """Yield (name, pyarrow.Table) for every table."""
    n = row_counts(sf)
    rng = np.random.default_rng(seed)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts_us = pa.timestamp("us")
    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})

    c = n["customer"]
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": pa.array(_money(-999.99, 9999.99, c, rng), f64),
        "c_mktsegment": _pick(SEGMENTS, c, rng).tolist()})

    s = n["supplier"]
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": pa.array(_money(-999.99, 9999.99, s, rng), f64)})

    p = n["part"]
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": _pick(PART_TYPES, p, rng).tolist(),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(p) % 200) * 0.1, 1), f64)})

    o = n["orders"]
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": _pick(["F", "O", "P"], o, rng).tolist(),
        "o_totalprice": pa.array(_money(1000, 500000, o, rng), f64),
        "o_orderdate": pa.array(
            _days("1995-01-01", "2001-08-02", o, rng), ts_us),
        "o_orderpriority": _pick(PRIORITIES, o, rng).tolist()})

    li = n["lineitem"]
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(float), f64),
        "l_extendedprice": pa.array(_money(900, 105000, li, rng), f64),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0, f64),
        "l_returnflag": _pick(["A", "N", "R"], li, rng).tolist(),
        "l_linestatus": _pick(["F", "O"], li, rng).tolist(),
        "l_shipdate": pa.array(
            _days("1995-01-02", "2001-11-05", li, rng), ts_us)})

    e = n["events"]
    users = max(int(15_000 * sf), 15)
    yield "events", pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(np.sort(_ts("2024-01-01", "2024-01-31", e, rng)), ts_us),
        "user_id": pa.array(rng.integers(0, users, e), i64),
        "event_type": _pick(EVENT_TYPES, e, rng).tolist(),
        "value": pa.array(
            np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})

    # documents: random word runs; ~6% are an earlier document plus one
    # or two trailing "dup" markers (the near-duplicate families)
    d = n["documents"]
    texts = []
    for k in range(d):
        if k >= 20 and rng.random() < 0.06:
            base = texts[int(rng.integers(0, k))].split(" dup")[0]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(_pick(WORDS, int(rng.integers(10, 100)), rng)))
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(d), i64),
        "text": texts,
        "lang": _pick(LANGS, d, rng).tolist(),
        "source": [f"src{k % 20}" for k in range(d)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    # embeddings: unit vectors around ten weak label centroids
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centroids = rng.normal(0.0, 1.0, (10, DIMS))
    x = rng.normal(0.0, 1.0, (m, DIMS)) + 0.15 * centroids[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(m), i64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


def write(dst, sf, seed=42):
    """Write every table under dst; returns {table: rows}."""
    os.makedirs(dst, exist_ok=True)
    rows = {}
    for name, t in tables(sf, seed):
        tmp = os.path.join(dst, f".{name}.parquet.tmp")
        pq.write_table(t, tmp, row_group_size=max(t.num_rows, 1))
        os.replace(tmp, os.path.join(dst, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


if __name__ == "__main__":
    out = write(sys.argv[1], float(sys.argv[2]),
                int(sys.argv[3]) if len(sys.argv) > 3 else 42)
    print(out)

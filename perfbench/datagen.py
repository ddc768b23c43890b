"""Deterministic input tables for the batch workloads.

The batch queries read the TPC-H-like star schema plus the `events` and
`documents` tables (TESTDATA.md describes the shapes).  The benchmark
writes its own copy from a fixed seed, with the same column names,
types, key domains and row counts as the sf0.1 test data, so that it
needs nothing outside the checkout.  Only the tables the workload
queries read are written.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated tables change, so cached oracle results
# computed against an older copy are not reused.
VERSION = 1
SEED = 42

ROWS = {"customer": 15_000, "part": 20_000, "orders": 150_000,
        "lineitem": 600_000, "events": 100_000, "documents": 5_000}
TABLES = ["region", "nation", "customer", "part", "orders", "lineitem",
          "events", "documents"]

WORDS = ["query", "row", "stream", "the", "spark", "line", "small", "fast",
         "group", "customer", "batch", "sort", "value", "hash", "filter",
         "big", "data", "dup", "part", "column", "order", "scan", "a", "slow",
         "agg", "key", "window", "table", "merge", "vector", "join"]


def _ts(start, offsets_us):
    base = np.datetime64(start, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _days(rng, start, span_days, n):
    return _ts(start, rng.integers(0, span_days, n) * 86_400_000_000)


def tables(rng):
    n = ROWS
    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    yield "customer", pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], c)})
    p = n["part"]
    adj = np.array(["blue", "cold", "hot", "red", "small", "new", "old", "large"])
    noun = np.array(["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "nut"])
    yield "part", pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, p), " "),
                              rng.choice(noun, p)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL",
                              "MEDIUM", "PROMO"], p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1)})
    o = n["orders"]
    yield "orders", pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, o), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2404, o),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], o)})
    li = n["lineitem"]
    yield "lineitem", pa.table({
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, 1000, li),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["O", "F"], li),
        "l_shipdate": _days(rng, "1995-01-02", 2498, li)})
    e = n["events"]
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, e))
    yield "events", pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts("2024-01-01", offsets),
        "user_id": rng.integers(0, 1500, e),
        "event_type": rng.choice(["signup", "click", "error", "view",
                                  "purchase"], e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    lens = rng.integers(10, 101, d)
    words = np.array(WORDS)
    text = [" ".join(rng.choice(words, k)) for k in lens]
    for i in range(0, d, 640):  # a few exact duplicates, as dedup expects
        text[i + 1] = text[i]
    yield "documents", pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": text,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], d,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": np.char.add("src", rng.integers(0, 20, d).astype(str)),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})


def ensure(out_dir):
    """Write the tables under `out_dir` unless this version is there."""
    stamp = os.path.join(out_dir, f".complete-v{VERSION}")
    if os.path.exists(stamp):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(SEED)
    for name, tbl in tables(rng):
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    open(stamp, "w").close()
    return out_dir

"""Seeded inputs: the batch-sample tables and the nozzle-bulk event files.

Writes the ten tables `SparkEntry.queries` read (TPC-H-like relational
tables, the events surrogate, a text corpus and an embedding set) with
the same columns, physical types and value domains as the engine's
scale-factor test data, so the sampled queries and their DuckDB oracle
run unchanged. Every value is drawn from one numpy generator seeded by
the benchmark seed: the same seed writes the same tables.

The nozzle-bulk input is the events surrogate as the streaming
source replays it: `ts` is a unique, increasing nanosecond long, and
each file holds one micro-batch.

Usage: python3 perfbench/gen_tables.py <out_dir> <seed> [scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "large hot blue old cold small green bright dark red".split()
NOUN = "ring bolt plate nut gear pipe valve spring frame wheel".split()


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"), compression="snappy")


def _ts(rng, n, lo, hi, day=False):
    lo_us = np.datetime64(lo, "us").astype(np.int64)
    hi_us = np.datetime64(hi, "us").astype(np.int64)
    v = rng.integers(lo_us, hi_us, n)
    if day:
        v -= v % 86_400_000_000
    return pa.array(v.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, seed, scale=0.1):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    k = scale / 0.1
    n_cust, n_supp, n_part = int(15000 * k), int(1000 * k), int(20000 * k)
    n_ord, n_line, n_ev = int(150000 * k), int(600000 * k), int(100000 * k)
    n_doc, n_emb, n_user = int(5000 * k), int(2000 * k), int(1500 * k)

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    seg = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": seg[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    ptype = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 10, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ptype[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", "2001-08-02", day=True),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng, n_line, "1995-01-02", "2001-11-05", day=True)})
    ev_ts = np.sort(rng.integers(np.datetime64("2024-01-01", "us").astype(np.int64),
                                 np.datetime64("2024-01-31", "us").astype(np.int64), n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": np.array(["click", "view", "signup", "purchase", "error"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 0 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 95)))))
    langs = np.array(["en", "en", "en", "fr", "zh", "de", "es"])
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    v = centers[label] * 0.5 + rng.normal(0, 1, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


BASE_TS_NS = 1704067200000000000  # 2024-01-01T00:00:00Z


def events_surrogate(out, seed, rows_per_file, files):
    """Events-surrogate files for nozzle-bulk: all five event types, a
    log-uniform spread of user ids (so app-templated topics are skewed,
    as real tenants are) and `props` bodies from 20 to ~260 bytes."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    types = np.array(["click", "view", "purchase", "signup", "error"])
    for f in range(files):
        ids = np.arange(f * rows_per_file, (f + 1) * rows_per_file, dtype=np.int64)
        n = len(ids)
        pad = rng.integers(0, 240, n)
        keys = rng.integers(0, 100, n)
        _write(out, f"part-{f:05d}", {
            "event_id": ids,
            "ts": BASE_TS_NS + ids * 1000 + rng.integers(0, 1000, n),
            "user_id": np.floor(np.exp(rng.random(n) * np.log(5000.0))).astype(np.int64),
            "event_type": types[np.searchsorted([0.40, 0.65, 0.80, 0.90], rng.random(n), side="right")],
            "value": np.round(rng.random(n) * 1000.0, 2),
            "props": [f'{{"k": {k}, "p": "{"x" * p}"}}' for k, p in zip(keys, pad)]})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.1)

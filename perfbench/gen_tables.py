"""Generate the benchmark's input tables: a TPC-H-ish star schema plus the
`events`, `documents` and `embeddings` tables the engine's queries read.

`run.py` calls `main(out_dir, sf)` with each workload's scale factor and
caches the result by this file's digest and the scale.

The tables follow the schemas `graft.core.Tables` loads (one parquet file
each, TESTDATA.md's layout and value domains). Output is a pure function of
sf and the fixed SEED: numpy's PCG64 stream seeded once, tables generated in
a fixed order, parquet written without timestamps in its metadata.

`documents` carries near-replicas (a fifth of the corpus copies an earlier
document with two token positions overwritten by other tokens of the same
document, the make_stress_docs.py scheme), so the dedup and similarity
kernels have candidate pairs to verify. `embeddings` are noisy copies of ten
class centroids, with a tenth of the vectors a small rotation of an earlier
vector, so the near-duplicate and IVF queries find neighbours.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("row the query stream fast spark line small customer group value "
         "hash batch sort data big filter dup key agg scan slow table part a "
         "merge window order column join vector").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["red", "blue", "small", "hot", "old", "green", "big", "cold"]
NOUN = ["widget", "bolt", "ring", "plate", "rod", "anvil", "gear", "pipe"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "es", "fr", "de", "zh"]
DIM = 64
SEED = 20240101


def days(rng, n, start, end):
    """n midnight timestamps (µs) uniform over [start, end] dates."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * 86_400_000_000, type=pa.timestamp("us"))


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float) -> dict:
    rng = np.random.default_rng(SEED)
    n_cust, n_supp = max(15, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(20, int(200_000 * sf)), max(150, int(1_500_000 * sf))
    n_line, n_ev = max(600, int(6_000_000 * sf)), max(100, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, n_supp, -999.99, 9999.99)})
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, n_ord, 1000, 500_000),
        "o_orderdate": days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, n_line, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_line)],
        "l_shipdate": days(rng, n_line, "1995-01-02", "2001-11-04")})
    # events arrive in id order across 30 days, µs resolution
    start = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
    span = 30 * 86_400_000_000
    ts = start + np.sort(rng.integers(0, span, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[e] for e in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    out["documents"] = documents(rng, n_docs)
    out["embeddings"] = embeddings(rng, n_vecs)
    return out


def documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            toks = texts[int(rng.integers(0, i))].split()
            m = len(toks)
            for _ in range(2):
                toks[int(rng.integers(0, m))] = toks[int(rng.integers(0, m))]
            texts.append(" ".join(toks))
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, n: int) -> pa.Table:
    centroids = rng.normal(0, 1, (10, DIM))
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + rng.normal(0, 0.8, (n, DIM))
    for i in range(10, n):
        if rng.random() < 0.1:
            j = int(rng.integers(0, i))
            th = 0.02
            c, s = np.cos(th), np.sin(th)
            v = vecs[j].copy()
            v[0::2], v[1::2] = c * vecs[j][0::2] - s * vecs[j][1::2], \
                s * vecs[j][0::2] + c * vecs[j][1::2]
            vecs[i], labels[i] = v, labels[j]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * 0.8) \
        .astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def main(out_dir: str, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")

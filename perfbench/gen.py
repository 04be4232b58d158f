"""Deterministic input tables for the benchmark.

Writes the ten parquet tables the registered queries read (the TPC-H-ish
star schema, the `events` stream and the `documents`/`embeddings`
corpus) with the column names, types and value domains of the project's
test data. The same `seed` and sizes always give byte-identical files.

The corpus plants the structure the dedup and similarity operators look
for: 5% of documents are a copy of an earlier document with " dup"
appended, and the embeddings form 10 labelled clusters of unit vectors.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

VOCAB = ("a the data query table row column key value join agg group "
         "window order sort filter scan hash merge batch stream spark part "
         "customer line big small fast slow vector").split()
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n_docs):
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(8, 90)))
            texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[int(j)] for j in rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n_vecs, dim=64, k=10):
    centers = rng.normal(0.0, 1.0, (k, dim))
    labels = rng.integers(0, k, n_vecs)
    x = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_vecs, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(x.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }


def generate(out_dir, sf=0.001, n_docs=500, seed=DATA_SEED):
    """Write every table for scale factor `sf` (lineitem ≈ 6e6·sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1))})
    order_days = rng.integers(0, 2404, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(EPOCH_1995 + order_days * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(EPOCH_1995 + rng.integers(1, 2500, n_line) * DAY_US)})
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_evt))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024 + ts),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_evt).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt)),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2) + 0.01),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_evt)])})
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_docs))


if __name__ == "__main__":
    import os
    import sys
    out = sys.argv[1] if len(sys.argv) > 1 else "bench_data"
    os.makedirs(out, exist_ok=True)
    generate(out)
    print(out)

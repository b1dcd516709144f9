"""Deterministic synthetic corpus for the benchmark.

Writes the ten tables the query registry reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), one
single-row-group SNAPPY parquet file each, with the same column names,
physical types and value domains as the TPC-H-ish test corpus the queries
are verified on. Same (sf, seed) gives byte-identical files.

    python3 perfbench/corpus.py <out_dir> <sf> [seed]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def ts_col(us):
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def tables(sf, seed):
    def rng(i):
        return np.random.default_rng([seed, i])

    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rng(1)
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(r, SEGMENTS, n_cust)})

    r = rng(2)
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(money(r, -999.99, 9999.99, n_supp))})

    r = rng(3)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    keys = np.arange(n_part, dtype=np.int64)
    yield "part", pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pick(r, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)], pa.string()),
        "p_type": pick(r, PTYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1))})

    r = rng(4)
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pick(r, ["O", "F", "P"], n_ord),
        "o_totalprice": pa.array(money(r, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": ts_col(EPOCH_1995 + r.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": pick(r, PRIORITIES, n_ord)})

    r = rng(5)
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(r, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": pick(r, ["O", "F"], n_line),
        "l_shipdate": ts_col(EPOCH_1995 + r.integers(1, 2500, n_line) * DAY_US)})

    r = rng(6)
    span = 30 * DAY_US
    gaps = r.exponential(span / n_ev, n_ev)
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": ts_col(EPOCH_2024 + np.cumsum(gaps).astype(np.int64)),
        "user_id": pa.array(r.integers(0, max(1, int(15_000 * sf)), n_ev, dtype=np.int64)),
        "event_type": pick(r, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(0.01 + r.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)], pa.string())})

    r = rng(7)
    texts = []
    for i in range(n_doc):
        if i > 20 and r.random() < 0.05:
            # near-duplicate of an earlier document (dedup targets)
            base = texts[int(r.integers(0, i))]
            texts.append(base + " dup" if r.random() < 0.5 else base)
        else:
            n = int(r.integers(10, 101))
            texts.append(" ".join(np.asarray(WORDS)[r.integers(0, len(WORDS), n)]))
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pick(r, LANGS, n_doc, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    r = rng(8)
    v = r.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb, dtype=np.int32))})


def write(out_dir, sf, seed=42):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed):
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(t, tmp, compression="snappy", row_group_size=max(1, t.num_rows))
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 42)

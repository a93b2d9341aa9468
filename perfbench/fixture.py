"""Deterministic TPC-H-shaped fixture for the benchmark.

Writes the ten tables the queries read (`region nation customer
supplier part orders lineitem events documents embeddings`), one
parquet file each, with the schemas, value domains and row counts of
the fixtures the oracle suite uses (FIXTURES.md): uniform keys, a
64-name part vocabulary, micro-second events over 30 days, documents
over a 30-word vocabulary with 5% near-duplicates tagged " dup", and
unit-norm 64-dim float embeddings. At sf0.1: 600k lineitem, 100k
events, 5k documents, 2k embeddings.

The fixture is a function of the scale factor and `FIXTURE_SEED`
alone; the benchmark's `--seed` picks the op order, so every run of
every seed reads the same tables.
Usage: python3 perfbench/fixture.py <outDir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()


def cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(start, n_days, rng, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, sf):
    N_CUSTOMER, N_SUPPLIER, N_PART = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    N_ORDERS, N_LINEITEM, N_EVENTS = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    N_USERS = int(15_000 * sf)
    # the text and vector tables have a floor of 500 rows
    N_DOCUMENTS, N_EMBEDDINGS = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    rng = np.random.default_rng(FIXTURE_SEED)
    os.makedirs(out, exist_ok=True)
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    strs = lambda vocab, idx: pa.array(np.asarray(vocab, dtype=object)[idx])

    write(out, "region", {"r_regionkey": i32(np.arange(5)),
                          "r_name": pa.array(REGIONS)})
    write(out, "nation", {"n_nationkey": i32(np.arange(25)),
                          "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                          "n_regionkey": i32(np.arange(25) % 5)})
    write(out, "customer", {
        "c_custkey": i64(np.arange(N_CUSTOMER)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": i32(rng.integers(0, 25, N_CUSTOMER)),
        "c_acctbal": cents(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": strs(SEGMENTS, rng.integers(0, 5, N_CUSTOMER))})
    write(out, "supplier", {
        "s_suppkey": i64(np.arange(N_SUPPLIER)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": i32(rng.integers(0, 25, N_SUPPLIER)),
        "s_acctbal": cents(rng, -999.99, 9999.99, N_SUPPLIER)})
    pk = np.arange(N_PART)
    write(out, "part", {
        "p_partkey": i64(pk),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
        "p_type": strs(PTYPES, rng.integers(0, 6, N_PART)),
        "p_size": i32(rng.integers(1, 51, N_PART)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    write(out, "orders", {
        "o_orderkey": i64(np.arange(N_ORDERS)),
        "o_custkey": i64(rng.integers(0, N_CUSTOMER, N_ORDERS)),
        "o_orderstatus": strs(["F", "O", "P"], rng.integers(0, 3, N_ORDERS)),
        "o_totalprice": cents(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": pa.array(days("1995-01-01", 2405, rng, N_ORDERS),
                                pa.timestamp("us")),
        "o_orderpriority": strs(PRIORITIES, rng.integers(0, 5, N_ORDERS))})
    n = N_LINEITEM
    write(out, "lineitem", {
        "l_orderkey": i64(rng.integers(0, N_ORDERS, n)),
        "l_partkey": i64(rng.integers(0, N_PART, n)),
        "l_suppkey": i64(rng.integers(0, N_SUPPLIER, n)),
        "l_linenumber": i32(rng.integers(1, 8, n)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": cents(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": strs(["A", "N", "R"], rng.integers(0, 3, n)),
        "l_linestatus": strs(["F", "O"], rng.integers(0, 2, n)),
        "l_shipdate": pa.array(days("1995-01-02", 2498, rng, n),
                               pa.timestamp("us"))})
    # events: strictly increasing micro-second timestamps over 30 days
    gaps = rng.exponential(30 * 86400 / N_EVENTS, N_EVENTS) * 1e6
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(
        np.maximum(gaps.astype(np.int64), 1)).astype("timedelta64[us]")
    write(out, "events", {
        "event_id": i64(np.arange(N_EVENTS)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(0, N_USERS, N_EVENTS)),
        "event_type": strs(EVENT_TYPES, rng.integers(0, 5, N_EVENTS)),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)])})
    # documents: 5% are an earlier document's text tagged " dup"
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, N_DOCUMENTS)]
    for d in sorted(rng.choice(np.arange(1, N_DOCUMENTS), N_DOCUMENTS // 20,
                               replace=False)):
        texts[d] = texts[int(rng.integers(0, d))] + " dup"
    write(out, "documents", {
        "doc_id": i64(np.arange(N_DOCUMENTS)),
        "text": pa.array(texts),
        "lang": strs(LANGS, rng.choice(5, N_DOCUMENTS, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCUMENTS)]),
        "n_chars": i64([len(t) for t in texts])})
    v = rng.standard_normal((N_EMBEDDINGS, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": i64(np.arange(N_EMBEDDINGS)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, N_EMBEDDINGS))})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))

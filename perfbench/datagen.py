"""Seeded generator for the scale-factor tables the SF workloads read.

Writes one parquet file per table (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) with the schemas and value
shapes the repo's queries and their DuckDB oracles expect: a TPC-H-ish star
schema, an `events` stream table with tz-naive microsecond timestamps, a
document corpus over a 30-word vocabulary with near-duplicates (`<text> dup`)
and exact duplicates, and unit-norm 64-d float32 embeddings with 10 labels.

The rows depend only on the scale: every seed gets the same rows, and the
seed picks the order they are written in. So the work a query does is the
same for every seed, and a query whose result depends on input row order
shows up as a mismatch between seeds rather than hiding behind one fixed
file layout. The same (scale, seed) always gives byte-identical tables.

    python3 perfbench/datagen.py <out_dir> <scale> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the big small fast slow data table column row key value join "
         "sort hash merge scan filter group agg window stream batch query "
         "spark vector order line part customer").split()
COLORS = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

CONTENT_SEED = 0  # the rows; --seed only permutes them

# Row counts at scale 1; the small corpora have floors so that the
# clustering and quantization queries always have enough points.
BASE = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
        "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}
DOCS_PER_SCALE, DOCS_MIN = 50_000, 500
EMB_PER_SCALE, EMB_MIN = 20_000, 500
EMB_DIM = 64


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return d.astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _shuffled(rng, table):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def tables(scale, seed):
    rng = np.random.default_rng(CONTENT_SEED)
    n = {k: max(1, int(round(v * scale))) for k, v in BASE.items()}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})
    np_ = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{c} {w}" for c, w in zip(rng.choice(COLORS, np_),
                                              rng.choice(NOUNS, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01"),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04"),
                               pa.timestamp("us"))})
    ne = n["events"]
    users = max(15, int(round(15_000 * scale)))
    span_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(span_us / ne, ne).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps)
    out["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    out["documents"] = _documents(rng, max(DOCS_MIN, int(DOCS_PER_SCALE * scale)))
    out["embeddings"] = _embeddings(rng, max(EMB_MIN, int(EMB_PER_SCALE * scale)))
    order = np.random.default_rng(seed)
    return {k: _shuffled(order, t) for k, t in out.items()}


def _documents(rng, nd):
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 100)))
             for _ in range(nd)]
    # ~5% near-duplicates of another document, a handful of exact copies
    for i in rng.choice(nd, nd // 20, replace=False):
        j = int(rng.integers(0, nd))
        if j != i:
            texts[i] = texts[j] + " dup"
    for i in rng.choice(nd, max(2, nd // 600), replace=False):
        j = int(rng.integers(0, nd))
        if j != i and not texts[j].endswith(" dup"):
            texts[i] = texts[j]
    langs = rng.choice(["en", "de", "es", "fr", "zh"], nd,
                       p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, ne):
    v = rng.standard_normal((ne, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(ne), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, ne), pa.int32())})


def write(out_dir, scale, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(scale, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))

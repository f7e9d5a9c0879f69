"""Deterministic TPC-H-shaped fixture generator for the benchmark.

Writes one parquet file per table (the layout `graft.Tables.load`
reads) with the same schemas and value ranges as the project's
test fixtures: uniform keys, prices and dates, a word-soup document
corpus with a few near-duplicates, and labelled 64-dim embeddings.
Row counts scale with the scale factor; sf 0.1 gives orders 150,000,
customer 15,000 and lineitem 600,000.

The data depends only on the scale factor, never on the workload
seed: workload seeds shuffle and pick operations over fixed data,
which keeps the catalog result digests valid for every seed.

Usage: python3 gen_data.py <out_dir> <sf>
"""

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the big small fast slow data table row column key value "
         "scan sort hash join merge group agg filter query window "
         "stream batch spark vector order customer part line").split()
LANGS = ["en", "es", "de", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _ts(days):
    """Days since 1995-01-01 as a microsecond TIMESTAMP (no time zone)."""
    return pa.array(EPOCH_1995 + days.astype(np.int64) * DAY_US,
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf):
    rng = np.random.default_rng(42)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = 4 * n_ord
    n_docs = max(int(50_000 * sf), 50)
    n_vecs = max(int(20_000 * sf), 40)

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": [f"REGION_{i}" for i in range(5)]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})

    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(SEGMENTS).take(
            pa.array(rng.integers(0, 5, n_cust)))})

    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})

    ok = np.arange(n_ord, dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pa.array(["F", "O", "P"]).take(
            pa.array(rng.integers(0, 3, n_ord))),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord)),
        "o_orderpriority": pa.array(PRIORITIES).take(
            pa.array(rng.integers(0, 5, n_ord)))})

    lo = rng.integers(0, n_ord, n_line).astype(np.int64)
    order = np.argsort(lo, kind="stable")
    lo = lo[order]
    starts = np.r_[0, np.flatnonzero(np.diff(lo)) + 1]
    run = np.zeros(n_line, dtype=np.int64)
    run[starts] = starts
    linenumber = (np.arange(n_line) - np.maximum.accumulate(run) + 1)
    out["lineitem"] = pa.table({
        "l_orderkey": lo,
        "l_partkey": rng.integers(0, 20_000, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(linenumber.astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(["A", "N", "R"]).take(
            pa.array(rng.integers(0, 3, n_line))),
        "l_linestatus": pa.array(["F", "O"]).take(
            pa.array(rng.integers(0, 2, n_line))),
        "l_shipdate": _ts(rng.integers(1, 2500, n_line))})

    texts = []
    for _ in range(n_docs):
        if texts and rng.random() < 0.03:
            # near-duplicate: copy an earlier doc, change one word
            words = texts[int(rng.integers(0, len(texts)))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[
                int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[i] for i in
                     rng.integers(0, len(WORDS), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": pa.array(LANGS).take(pa.array(rng.integers(0, 5, n_docs))),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return out


def main():
    out_dir, sf = sys.argv[1], float(sys.argv[2])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main()

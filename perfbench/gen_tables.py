"""Seeded generator of the query_mix tables.

Writes the ten tables the inventory queries read (TPC-H-like star schema,
an events stream, documents and embeddings) as one Parquet file each,
with the column names, physical types, row counts and value shapes of the
repo's scale-factor test data at sf0.1. The same seed gives the same tables.

Usage: python3 perfbench/gen_tables.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "events": 100000, "documents": 5000, "embeddings": 2000}
USERS = 1500
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(seed):
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"], nc)})
    ns = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})
    npt = ROWS["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(npt), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            pick(rng, ["small", "red", "blue", "hot", "old", "large"], npt),
            pick(rng, ["ring", "widget", "bolt", "gear", "gizmo", "plate"],
                 npt))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npt)],
        "p_type": pick(rng, ["ECONOMY", "SMALL", "MEDIUM", "PROMO",
                             "STANDARD", "LARGE"], npt),
        "p_size": pa.array(rng.integers(1, 51, npt), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npt) % 1000) / 10, 2)})
    no = ROWS["orders"]
    day0 = np.datetime64("1995-01-01", "us")
    odate = day0 + rng.integers(0, 2404, no).astype("timedelta64[D]")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], no),
        "o_totalprice": money(rng, 1000, 500000, no),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], no)})
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no), lines)
    lnum = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npt, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900, 100000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(rng, ["R", "A", "N"], nl),
        "l_linestatus": pick(rng, ["O", "F"], nl),
        "l_shipdate": pa.array(odate[okey] + rng.integers(
            1, 122, nl).astype("timedelta64[D]"), pa.timestamp("us"))})
    ne = ROWS["events"]
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.integers(1, 2 * 30 * 86400 * 1000000 // ne, ne)
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts0 + np.cumsum(gaps).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, ne), pa.int64()),
        "event_type": pick(rng, ["signup", "error", "click", "view",
                                 "purchase"], ne),
        "value": np.maximum(np.round(rng.exponential(50, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = ROWS["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(pick(rng, WORDS, int(rng.integers(10, 101)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": pick(rng, ["en", "zh", "es", "de", "fr"], nd,
                     p=[0.44, 0.15, 0.14, 0.14, 0.13]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    nm = ROWS["embeddings"]
    labels = rng.integers(0, 10, nm)
    centres = rng.normal(0, 1, (10, 64))
    emb = centres[labels] + rng.normal(0, 0.8, (nm, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nm), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def main(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]))

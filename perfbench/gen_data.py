"""Deterministic generator for the benchmark's input tables.

Writes the ten engine tables (TPC-H-ish star schema, an event stream, a text
corpus and an embedding set) as single-row-group parquet files
`<out>/<table>.parquet`, with the schemas and value distributions the query
catalog is written against. The same (scale, seed) always gives the same
bytes-for-value tables, so expected outputs recorded once stay valid.
Timestamps are naive TIMESTAMP(MICROS), as in the engine's current test tables.

    python3 perfbench/gen_data.py OUT_DIR --scale 0.1 --seed 42
"""
import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "es", "fr"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"])
ADJ = np.array(["small", "new", "red", "large", "hot", "cold", "blue", "old"])
NOUN = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def days(rng, n, start, end):
    """n midnight timestamps drawn uniformly from [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(scale, seed):
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_evt = int(1_000_000 * scale)
    n_user = int(15_000 * scale)
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))

    yield "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}
    yield "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    yield "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]}
    yield "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, n_supp, -999.99, 9999.99)}
    pk = np.arange(n_part, dtype=np.int64)
    yield "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(ADJ[rng.integers(0, 8, n_part)], " "),
                              NOUN[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}
    yield "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]}
    flags = rng.integers(0, 6, n_line)
    yield "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["F", "O"])[flags % 2],
        "l_shipdate": days(rng, n_line, "1995-01-02", "2001-11-04")}
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400_000_000
    yield "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.sort(t0 + rng.integers(0, span_us, n_evt)).astype("datetime64[us]"),
        "user_id": rng.integers(0, n_user, n_evt),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))])
             for _ in range(n_doc)]
    # 5% of documents are near-duplicates: an earlier document plus one token
    for i in sorted(rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    yield "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    emb = rng.standard_normal((n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    yield "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--scale", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args(argv)
    tmp = a.out + ".partial"
    os.makedirs(tmp, exist_ok=True)
    for name, cols in tables(a.scale, a.seed):
        t = pa.table(cols)
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
    os.replace(tmp, a.out)


if __name__ == "__main__":
    main(sys.argv[1:])

"""Seeded generator for the registry workload's star-schema tables.

Writes region, nation, supplier, customer, part, orders, lineitem,
events, documents and embeddings as one parquet file each, with the
column names and types the registry queries read. Row counts scale
with `sf` (sf=0.1 gives 600k lineitem rows). The same (seed, sf) gives
byte-identical tables.

    python3 gen_tables.py OUT_DIR SEED SF
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PTYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
ADJ = np.array(["hot", "old", "red", "small", "new", "large", "blue", "cold"])
NOUN = np.array(["bolt", "plate", "gear", "ring", "rod", "anvil", "widget", "nut"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def _ts(base, seconds):
    """Microsecond timestamps `base + seconds`."""
    us = (np.asarray(seconds) * 1_000_000).astype("int64")
    return pa.array(base + us, type=pa.timestamp("us"))


def _epoch_us(y, m, d):
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_supp, n_cust, n_part = int(10_000 * sf), int(150_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": np.char.add(np.char.add(ADJ[rng.integers(0, 8, n_part)], " "),
                              NOUN[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": PTYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(_epoch_us(1995, 1, 1), rng.integers(0, 2404, n_ord) * 86400),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})
    flags = rng.integers(0, 6, n_line)
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["R", "N", "A", "R", "A", "N"])[flags],
        "l_linestatus": np.array(["O", "O", "F", "F", "O", "F"])[flags],
        "l_shipdate": _ts(_epoch_us(1995, 1, 2), rng.integers(0, 2498, n_line) * 86400)})
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts(_epoch_us(2024, 1, 1), np.sort(rng.uniform(0, 30 * 86400, n_ev))),
        "user_id": pa.array(rng.integers(0, max(100, int(15_000 * sf)), n_ev), i64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0, 560, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, tagged like the
            # fixtures' `dup` rows, so the dedup operators have work
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 100)))))
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vecs = rng.standard_normal((n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


def main():
    out, seed, sf = sys.argv[1], int(sys.argv[2]), float(sys.argv[3])
    os.makedirs(out, exist_ok=True)
    for name, table in tables(seed, sf):
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Deterministic synthetic graft catalog for the benchmark's query workloads.

Writes one parquet file per table (region nation customer supplier part
orders lineitem events documents embeddings) with the schemas graft's
queries read: a TPC-H-shaped star schema, an `events` stream (the source
of the GEDI-shaped shots frame), a text corpus with 5% near-duplicate
documents, and unit-norm 64-d float32 embeddings. Row counts scale with
`sf` as in TPC-H (sf 0.1 -> 600k lineitem rows).

The data seed is fixed: every run of every workload reads the same
tables, so expected query fingerprints can be stored with the benchmark.
The workload seed only permutes operation order (see run.py).

Usage: python3 gen_tables.py OUT_DIR [SF]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.1475, 0.1475, 0.1475, 0.1475])


def write(out, name, cols, schema):
    tab = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(tab, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, tab.num_rows), compression="snappy")


def days_ts(rng, lo, hi, n):
    """Midnight timestamps drawn uniformly from [lo, hi] (numpy dates)."""
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + off).astype("datetime64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    write(out, "region",
          {"r_regionkey": np.arange(5, dtype=np.int32),
           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
          pa.schema([("r_regionkey", i32), ("r_name", s)]))
    nk = np.arange(25, dtype=np.int32)
    write(out, "nation",
          {"n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk],
           "n_regionkey": nk % 5},
          pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    n_cust = int(150_000 * sf)
    ck = np.arange(n_cust, dtype=np.int64)
    write(out, "customer",
          {"c_custkey": ck, "c_name": [f"Customer#{k:09d}" for k in ck],
           "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
           "c_acctbal": money(rng, -1000.0, 10000.0, n_cust),
           "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                       "HOUSEHOLD", "MACHINERY"], n_cust)},
          pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                     ("c_acctbal", f64), ("c_mktsegment", s)]))

    n_supp = int(10_000 * sf)
    sk = np.arange(n_supp, dtype=np.int64)
    write(out, "supplier",
          {"s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
           "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
           "s_acctbal": money(rng, -1000.0, 10000.0, n_supp)},
          pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                     ("s_acctbal", f64)]))

    n_part = int(200_000 * sf)
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    names = np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                        noun[rng.integers(0, 8, n_part)])
    write(out, "part",
          {"p_partkey": pk, "p_name": names,
           "p_brand": np.char.add("Brand#",
                                  rng.integers(1, 26, n_part).astype(str)),
           "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                 "SMALL", "STANDARD"], n_part),
           "p_size": rng.integers(1, 51, n_part).astype(np.int32),
           "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)},
          pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                     ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))

    n_ord = int(1_500_000 * sf)
    write(out, "orders",
          {"o_orderkey": np.arange(n_ord, dtype=np.int64),
           "o_custkey": rng.integers(0, n_cust, n_ord),
           "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
           "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
           "o_orderdate": days_ts(rng, "1995-01-01", "2001-08-01", n_ord),
           "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                          "4-NOT SPECIFIED", "5-LOW"], n_ord)},
          pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                     ("o_orderstatus", s), ("o_totalprice", f64),
                     ("o_orderdate", ts), ("o_orderpriority", s)]))

    n_li = int(6_000_000 * sf)
    write(out, "lineitem",
          {"l_orderkey": rng.integers(0, n_ord, n_li),
           "l_partkey": rng.integers(0, n_part, n_li),
           "l_suppkey": rng.integers(0, n_supp, n_li),
           "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
           "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
           "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
           "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
           "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
           "l_returnflag": rng.choice(["A", "N", "R"], n_li),
           "l_linestatus": rng.choice(["F", "O"], n_li),
           "l_shipdate": days_ts(rng, "1995-01-02", "2001-11-04", n_li)},
          pa.schema([("l_orderkey", i64), ("l_partkey", i64),
                     ("l_suppkey", i64), ("l_linenumber", i32),
                     ("l_quantity", f64), ("l_extendedprice", f64),
                     ("l_discount", f64), ("l_tax", f64),
                     ("l_returnflag", s), ("l_linestatus", s),
                     ("l_shipdate", ts)]))

    n_ev = int(1_000_000 * sf)
    span_us = 30 * 86400 * 1_000_000
    ev_ts = (np.datetime64("2024-01-01T00:00:00", "us")
             + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]"))
    write(out, "events",
          {"event_id": np.arange(n_ev, dtype=np.int64), "ts": ev_ts,
           "user_id": rng.integers(0, int(15_000 * sf), n_ev),
           "event_type": rng.choice(["click", "error", "purchase", "signup",
                                     "view"], n_ev),
           "value": np.round(rng.exponential(50.0, n_ev), 2),
           "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
          pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                     ("event_type", s), ("value", f64), ("props", s)]))

    n_doc = int(50_000 * sf)
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    # 5% near-duplicates: another document's text with a marker token
    dup_ids = rng.choice(n_doc, n_doc // 20, replace=False)
    dup_set = set(dup_ids.tolist())
    originals = np.array([i for i in range(n_doc) if i not in dup_set])
    for d, src in zip(dup_ids, rng.choice(originals, len(dup_ids))):
        texts[d] = texts[src] + " dup"
    write(out, "documents",
          {"doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
           "lang": rng.choice(LANGS[0], n_doc, p=LANGS[1]),
           "source": [f"src{i % 20}" for i in range(n_doc)],
           "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
          pa.schema([("doc_id", i64), ("text", s), ("lang", s),
                     ("source", s), ("n_chars", i64)]))

    n_emb = int(20_000 * sf)
    x = rng.standard_normal((n_emb, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings",
          {"vec_id": np.arange(n_emb, dtype=np.int64), "embedding": list(x),
           "label": rng.integers(0, 10, n_emb).astype(np.int32)},
          pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                     ("label", i32)]))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)

"""Deterministic input tables for the benchmark.

Writes the ten tables the engine reads (`region` ... `embeddings`) as
Parquet files with the fixture schemas documented in FIXTURES.md, at
the row counts of the smallest fixture scale: a TPC-H-like star schema,
an `events` table, a 500-document text corpus in which about one
document in twelve is a near-duplicate of an earlier one (the source
text plus trailing "dup" tokens), and 500 unit-norm 64-dimensional
embeddings clustered around ten label centres.

The corpus is a function of CORPUS_SEED alone, so every run of every
workload reads the same tables; the per-run `--seed` drives only what
each workload does with them.
"""
import datetime
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240101

VOCAB = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "large", "blue", "red", "cold", "hot", "old", "new"]
NOUN = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
DIM = 64
N_DOCS = 500
N_VECS = 500


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _text(rng):
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99)))


def documents(rng):
    texts = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.08:
            src = texts[rng.randrange(i)]
            texts.append(src + " dup" * rng.randint(1, 3))
        else:
            texts.append(_text(rng))
    return texts


def generate(out):
    rng = random.Random(CORPUS_SEED)
    os.makedirs(out, exist_ok=True)
    i32, i64, f32, f64 = pa.int32(), pa.int64(), pa.float32(), pa.float64()
    ts = pa.timestamp("us")
    s = pa.string()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"], s)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    n_cust, n_supp, n_part, n_ord = 150, 10, 200, 1500
    _write(out, "customer", {
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], i32),
        "c_acctbal": pa.array([round(rng.uniform(-999.99, 9999.99), 2)
                               for _ in range(n_cust)], f64),
        "c_mktsegment": pa.array([rng.choice(SEGMENTS)
                                  for _ in range(n_cust)], s)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], i32),
        "s_acctbal": pa.array([round(rng.uniform(-999.99, 9999.99), 2)
                               for _ in range(n_supp)], f64)})
    _write(out, "part", {
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": pa.array([f"{rng.choice(ADJ)} {rng.choice(NOUN)}"
                            for _ in range(n_part)], s),
        "p_brand": pa.array([f"Brand#{rng.randint(1, 25)}"
                             for _ in range(n_part)], s),
        "p_type": pa.array([rng.choice(PART_TYPES) for _ in range(n_part)], s),
        "p_size": pa.array([rng.randint(1, 50) for _ in range(n_part)], i32),
        "p_retailprice": pa.array([round(900 + i * 0.1, 2)
                                   for i in range(n_part)], f64)})

    day0 = datetime.datetime(1995, 1, 1)
    odates = [day0 + datetime.timedelta(days=rng.randrange(2404))
              for _ in range(n_ord)]
    _write(out, "orders", {
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)], i64),
        "o_orderstatus": pa.array([rng.choice("FOP") for _ in range(n_ord)], s),
        "o_totalprice": pa.array([round(rng.uniform(1000, 500000), 2)
                                  for _ in range(n_ord)], f64),
        "o_orderdate": pa.array(odates, ts),
        "o_orderpriority": pa.array([rng.choice(PRIORITIES)
                                     for _ in range(n_ord)], s)})

    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey",
                          "l_linenumber", "l_quantity", "l_extendedprice",
                          "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate")}
    for o in range(n_ord):
        if rng.random() < 0.02:
            continue  # an order without lines
        for ln in range(1, rng.randint(1, 7) + 1):
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(float(rng.randint(1, 50)))
            li["l_extendedprice"].append(round(rng.uniform(900, 105000), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(odates[o] + datetime.timedelta(
                days=rng.randint(1, 121)))
    types = [i64, i64, i64, i32, f64, f64, f64, f64, s, s, ts]
    _write(out, "lineitem", {k: pa.array(v, t)
                             for (k, v), t in zip(li.items(), types)})

    n_ev = 1000
    t0 = datetime.datetime(2024, 1, 1)
    offs = sorted(rng.uniform(0, 30 * 86400) for _ in range(n_ev))
    _write(out, "events", {
        "event_id": pa.array(range(n_ev), i64),
        "ts": pa.array([t0 + datetime.timedelta(seconds=x) for x in offs], ts),
        "user_id": pa.array([rng.randrange(15) for _ in range(n_ev)], i64),
        "event_type": pa.array([rng.choice(EVENT_TYPES)
                                for _ in range(n_ev)], s),
        "value": pa.array([round(rng.uniform(0, 330), 2)
                           for _ in range(n_ev)], f64),
        "props": pa.array([f'{{"k": {rng.randrange(100)}}}'
                           for _ in range(n_ev)], s)})

    texts = documents(rng)
    _write(out, "documents", {
        "doc_id": pa.array(range(N_DOCS), i64),
        "text": pa.array(texts, s),
        "lang": pa.array([rng.choice(LANGS) for _ in range(N_DOCS)], s),
        "source": pa.array([f"src{rng.randrange(20)}"
                            for _ in range(N_DOCS)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    centres = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(N_VECS):
        lab = rng.randrange(10)
        v = [c + rng.gauss(0, 0.8) for c in centres[lab]]
        n = math.sqrt(sum(x * x for x in v))
        vecs.append([x / n for x in v])
        labels.append(lab)
    _write(out, "embeddings", {
        "vec_id": pa.array(range(N_VECS), i64),
        "embedding": pa.array(vecs, pa.list_(f32)),
        "label": pa.array(labels, i32)})

"""Seeded generator for the benchmark's input tables.

Writes the ten tables the registry queries read (`<dir>/<name>.parquet`,
one file each) in the shapes of the engine's test data, at a scale
factor: a TPC-H-like star schema, an `events` stream, a text corpus over
a 30-word vocabulary with ~5% near-duplicate copies, and unit 64-dim
embeddings drawn around ten labelled centres.

The same seed always gives byte-identical tables (numpy's PCG64 stream
plus pyarrow's deterministic writer).
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
ADJ = ["large", "hot", "blue", "small", "red", "cold", "green", "shiny"]
NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "plate", "screw"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DIM, N_LABELS = 64, 10


def counts(sf):
    """Row counts at scale factor sf (sf0.1: 600,000 lineitem rows, 5,000
    documents, 2,000 embeddings)."""
    return {"customer": int(150000 * sf), "supplier": int(10000 * sf),
            "part": int(200000 * sf), "orders": int(1500000 * sf),
            "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
            "users": int(15000 * sf), "documents": int(50000 * sf),
            "embeddings": max(500, int(20000 * sf))}


EPOCH = datetime.datetime(1970, 1, 1)
US_PER_DAY = 86400 * 1000000


def _us(d):
    return int((d - EPOCH).total_seconds()) * 1000000


def _days(rng, n, lo, hi):
    """n timestamps at midnight, uniform over the days in [lo, hi]."""
    span = (hi - lo).days
    return _us(lo) + rng.integers(0, span + 1, n) * US_PER_DAY


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def doc_texts(rng, n):
    """n space-joined word sequences of 10-100 words; ~5% copy an earlier
    document and append " dup" (the near-duplicates the dedup family
    looks for)."""
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return texts


def _region(rng, c):
    return {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}


def _nation(rng, c):
    return {"n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}


def _customer(rng, c):
    n = c["customer"]
    return {"c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n)]}


def _supplier(rng, c):
    n = c["supplier"]
    return {"s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)}


def _part(rng, c):
    n = c["part"]
    return {"p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n)],
            "p_type": [PTYPES[j] for j in rng.integers(0, 6, n)],
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1)}


def _orders(rng, c):
    n = c["orders"]
    return {"o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c["customer"], n), pa.int64()),
            "o_orderstatus": [STATUS[j] for j in rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": _ts(_days(rng, n, datetime.datetime(1995, 1, 1),
                                     datetime.datetime(2001, 8, 1))),
            "o_orderpriority": [PRIORITY[j] for j in rng.integers(0, 5, n)]}


def _lineitem(rng, c):
    n = c["lineitem"]
    return {"l_orderkey": pa.array(rng.integers(0, c["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, c["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": [("N", "A", "R")[j] for j in rng.integers(0, 3, n)],
            "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, n)],
            "l_shipdate": _ts(_days(rng, n, datetime.datetime(1995, 1, 2),
                                    datetime.datetime(2001, 11, 4)))}


def _events(rng, c):
    n = c["events"]
    start = _us(datetime.datetime(2024, 1, 1))   # 30 days of events
    return {"event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(np.sort(start + rng.integers(0, 30 * US_PER_DAY, n))),
            "user_id": pa.array(rng.integers(0, c["users"], n), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(60.0, n), 2),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n)]}


def _documents(rng, c):
    n = c["documents"]
    texts = doc_texts(rng, n)
    return {"doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[j] for j in rng.choice(5, n, p=LANG_P)],
            "source": [f"src{j}" for j in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64())}


def _embeddings(rng, c):
    n = c["embeddings"]
    centres = rng.normal(0.0, 1.0, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centres[labels] + rng.normal(0.0, 0.9, (n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {"vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32())}


BUILDERS = {"region": _region, "nation": _nation, "customer": _customer,
            "supplier": _supplier, "part": _part, "orders": _orders,
            "lineitem": _lineitem, "events": _events, "documents": _documents,
            "embeddings": _embeddings}


def tables(seed, sf, only=None):
    """The tables at scale factor sf. Each table draws from its own
    stream, so a table is the same whichever others are built."""
    c = counts(sf)
    return {name: pa.table(build(np.random.default_rng([seed, i]), c))
            for i, (name, build) in enumerate(BUILDERS.items())
            if only is None or name in only}


def write(out_dir, seed, sf, only=None):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf, only).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

"""Output check for batch_fleet, run after the timed passes.

Each query's answer (written to parquet by the set-up pass) is reduced to
an order-insensitive canonical form: columns sorted by name, values rendered the
way the engine's DuckDB oracle gate renders them, rows sorted. Queries
with oracle SQL are compared against DuckDB on the same tables. A query
without oracle SQL needs a check of its own in SEMANTIC that holds
whatever the core count: its exact rows may depend on it (q26's k-means
seeds come from a sample whose order follows the partitioning).
"""
import datetime
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _value(v, digits):
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.{digits}g}"
    if isinstance(v, (list, tuple)):
        return repr([f"{x:.{min(digits, 7)}g}" if isinstance(x, float) else x for x in v])
    if isinstance(v, (datetime.date, datetime.datetime, pd.Timestamp)):
        s = str(v)
        return s[: -len(" 00:00:00")] if s.endswith(" 00:00:00") else s
    return str(v)


def canon(frame, digits=9):
    """(sorted column names, sorted rendered rows) of a pandas frame."""
    cols = list(frame.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(_value(r[i], digits) for i in order)
                  for r in frame.itertuples(index=False, name=None))
    return [cols[i] for i in order], rows


def check_ann(con, got):
    """q26_ann_ivf: top-10 by cosine to vector 0 within the probed IVF
    lists. Which lists are probed depends on the trained centroids, so
    the check is what holds for any centroids: at most 10 distinct
    vectors, each with the cosine DuckDB computes for it (rounded to 4
    digits, as the query rounds)."""
    if sorted(got.columns) != ["sim", "vec_id"]:
        return f"columns {sorted(got.columns)} != ['sim', 'vec_id']"
    if not 1 <= len(got) <= 10:
        return f"{len(got)} rows, want 1 to 10"
    if got["vec_id"].nunique() != len(got):
        return "a vector is answered twice"
    want = dict(con.execute(
        "SELECT e.vec_id, list_cosine_similarity(e.embedding, q.embedding) "
        "FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q").fetchall())
    for vec_id, sim in zip(got["vec_id"], got["sim"]):
        if vec_id not in want:
            return f"vec_id {vec_id} is not in the embeddings table"
        if abs(sim - want[vec_id]) > 2e-4:
            return f"vec_id {vec_id}: sim {sim} != cosine {want[vec_id]:.6f}"
    return None


SEMANTIC = {"q26_ann_ivf": check_ann}


def _answer(answers, name):
    return pq.read_table(os.path.join(answers, name)).to_pandas()


def check(data_dir, answers, names):
    """Error strings, one per query whose answer is wrong or unchecked."""
    with open(os.path.join(answers, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    errors = []
    for name in names:
        try:
            got = _answer(answers, name)
        except Exception as e:  # no answer written
            errors.append(f"{name}: no answer ({e})")
            continue
        if name in oracle:
            want = con.execute(oracle[name]).df()
            gc, gr = canon(got)
            wc, wr = canon(want)
            if gc != wc:
                errors.append(f"{name}: columns {gc} != oracle {wc}")
            elif gr != wr:
                errors.append(f"{name}: {len(gr)} rows differ from the oracle's {len(wr)}")
        elif name not in SEMANTIC:
            errors.append(f"{name}: no oracle SQL and no semantic check")
        else:
            err = SEMANTIC[name](con, got)
            if err:
                errors.append(f"{name}: {err}")
    return errors

"""Correctness checks, all against DuckDB over the same parquet tables.

- broker requests (ingest): each response's rows against the request's
  ANSI twin;
- battery: each query's rows against the registry oracle, compared the
  way the repository's `tools/check.py` compares them (columns sorted by
  name, rows sorted, cells compared by repr);
- ingest: the final upsert store against latest-by-key over the events
  that were produced.
"""
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


# --- broker requests ------------------------------------------------------

def _cell(v):
    if isinstance(v, bool) or v is None:
        return v
    try:
        return float(v)
    except (TypeError, ValueError):
        return str(v)


def _same_row(a, b):
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        x, y = _cell(x), _cell(y)
        if isinstance(x, float) and isinstance(y, float):
            if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                return False
        elif x != y:
            return False
    return True


def _key(row):
    return tuple(repr(_cell(v)) for v in row)


def check_serve(con, request, rows):
    """None when `rows` (the broker's resultTable rows) answer the request,
    else a one-line reason."""
    want = [list(r) for r in con.execute(request["twin"]).fetchall()]
    kind = request["check"]
    if kind == "limit10":
        if len(rows) != min(10, len(want)):
            return f"implicit LIMIT 10: {len(rows)} rows, twin has {len(want)}"
        pool = {}
        for w in want:
            pool.setdefault(_key(w), []).append(w)
        for r in rows:
            bucket = pool.get(_key(r))
            if not bucket:
                return f"row {r} not in the twin's result"
            bucket.pop()
        return None
    if len(rows) != len(want):
        return f"{len(rows)} rows, twin has {len(want)}"
    if kind == "rows":
        rows, want = sorted(rows, key=_key), sorted(want, key=_key)
    for r, w in zip(rows, want):
        if not _same_row(r, w):
            return f"row {r} != twin {w}"
    return None


# --- battery (tools/check.py's comparison) --------------------------------

def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if isinstance(v, (list, tuple, np.ndarray)):
            return tuple(cell(x) for x in v)
        if isinstance(v, np.generic):
            return v.item()
        return v
    out = df.apply(lambda s: s.map(cell))
    return out.sort_values(by=list(out.columns),
                           key=lambda s: s.map(repr)).reset_index(drop=True)


def check_battery(con, name, result_dir, oracle_sql):
    """None when the query's written result matches its oracle (or, with
    no oracle, is non-empty), else a one-line reason."""
    path = os.path.join(result_dir, name)
    if not os.path.isdir(path):
        return "no result written"
    got = pd.read_parquet(path)
    if oracle_sql is None:
        return None if len(got) else "no oracle and no rows"
    exp = con.execute(oracle_sql).df()
    g, e = _canon(got), _canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != oracle {list(e.columns)}"
    if len(g) != len(e):
        return f"{len(g)} rows, oracle has {len(e)}"
    gr, er = g.map(repr), e.map(repr)
    if not gr.equals(er):
        return f"{int((gr != er).sum().sum())} cells differ from the oracle"
    return None


# --- ingest ---------------------------------------------------------------

def check_store(store_dir, events):
    """The store must hold exactly the latest event of every key among
    `events` (a list of (key, json payload) in production order). Returns
    (keys checked, wrong keys, why): a key is wrong when it is missing,
    holds a stale or unknown event, or is not among the events' keys."""
    latest = {}
    for k, payload in events:
        latest[k] = json.loads(payload)
    got = pd.read_parquet(store_dir)
    held, stale = set(), 0
    for user, eid, val in zip(got["user_id"], got["event_id"], got["value"]):
        held.add(int(user))
        want = latest.get(int(user))
        if want is None or want["event_id"] != int(eid) or want["value"] != float(val):
            stale += 1
    missing = len(latest.keys() - held)
    checked = len(latest.keys() | held)
    bad = stale + missing + (len(got) - len(held))
    why = (f"{bad} of {checked} keys wrong: {missing} missing, {stale} stale "
           f"or unknown, {len(got) - len(held)} duplicate rows") if bad else None
    return checked, bad, why

"""DuckDB oracle for the benchmarked operations.

Each operation's oracle SQL (from `SparkEntry.oracleSql`, dumped at build
time) runs in DuckDB over the same parquet inputs, with the fixture tables
registered as views under their bare names. Results are cached per input
digest and SQL digest, so a checkout computes each oracle once. The
comparison follows the repository's correctness gate: columns sorted by
name, rows in order, exact equality with nulls equal to nulls.
"""
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd

from gen import TABLES


def sql_digest(sql):
    return hashlib.sha256(sql.encode()).hexdigest()[:12]


def expected(ops, sql_by_op, data_dir, cache_dir, input_key):
    """Oracle result per op, as a DataFrame, computing only what the cache lacks."""
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for op in ops:
        sql = sql_by_op.get(op)
        if sql is None:
            raise KeyError(f"{op} has no oracle SQL")
        path = os.path.join(cache_dir, f"{input_key}-{op}-{sql_digest(sql)}.pkl")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads=4")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
            con.execute(sql).df().to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        out[op] = pd.read_pickle(path)
    if con is not None:
        con.close()
    return out


def _norm(v):
    """A hashable, engine-neutral form of one value: arrays become tuples."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    if isinstance(v, np.generic):
        return v.item()
    return v


def compare(got, exp):
    """None when `got` equals the oracle frame `exp`, else what differs."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    got, exp = got.reset_index(drop=True), exp.reset_index(drop=True)
    for c in got.columns:
        g, e = got[c], exp[c]
        if g.dtype == object or e.dtype == object:
            eq = pd.Series([_norm(a) == _norm(b) for a, b in zip(g, e)])
        else:
            eq = (g == e) | (g.isna() & e.isna())
        if not eq.all():
            bad = int((~eq).values.argmax())
            return (f"column {c} differs at row {bad}: spark={g[bad]!r} "
                    f"oracle={e[bad]!r} ({int((~eq).sum())} rows differ)")
    return None


def read_output(path):
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(os.path.join(path, f)) for f in files], ignore_index=True)

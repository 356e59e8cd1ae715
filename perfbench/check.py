"""Result check: each key's Spark output against its DuckDB oracle.

The rules are graft's correctness gate (tools/compare.py): the oracle SQL of
``SparkEntry.oracleSql`` runs in DuckDB over the same derived tables; both
sides get their columns sorted by name and their rows sorted by every column;
column names, row counts and dtype families must match, and values must be
equal exactly (floats included). A DuckDB HUGEINT column is a failure, since
it can never equal Spark's BIGINT.
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd


def _family(dt):
    if np.issubdtype(dt, np.integer):
        return "int"
    if np.issubdtype(dt, np.floating):
        return "float"
    if np.issubdtype(dt, np.bool_):
        return "bool"
    if np.issubdtype(dt, np.datetime64):
        return "datetime"
    return "object"


def _normalize(df):
    out = df.reindex(sorted(df.columns), axis=1).copy()
    for c in out.columns:
        if np.issubdtype(out[c].dtype, np.datetime64):
            out[c] = out[c].astype("datetime64[us]")
        elif out[c].dtype == object:
            out[c] = out[c].astype(str)
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def compare(duck, spark):
    """None when the frames agree under the gate's rules, else the reason."""
    d, s = _normalize(duck), _normalize(spark)
    if list(d.columns) != list(s.columns):
        return f"columns duck={list(d.columns)} spark={list(s.columns)}"
    if len(d) != len(s):
        return f"rows duck={len(d)} spark={len(s)}"
    bad = [f"{c} duck={d[c].dtype} spark={s[c].dtype}" for c in d.columns
           if _family(d[c].dtype) != _family(s[c].dtype)]
    if bad:
        return "dtype family mismatch: " + "; ".join(bad)
    for c in d.columns:
        if np.issubdtype(d[c].dtype, np.floating):
            if not np.allclose(d[c], s[c], rtol=0, atol=0, equal_nan=True):
                bad.append(f"{c} maxdiff={np.nanmax(np.abs(d[c] - s[c])):.3e}")
        elif not d[c].equals(s[c]):
            bad.append(f"{c} {int((d[c] != s[c]).sum())} diffs")
    return "; ".join(bad) or None


def oracle(data_dir, sql, cache_dir):
    """The oracle's answer, computed once per input set and SQL text."""
    path = os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest()[:24] + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    con.sql(f"SET temp_directory='{os.path.join(cache_dir, 'duckdb_tmp')}'")
    con.sql(f"SET threads={min(4, os.cpu_count() or 1)}")
    for f in glob.glob(os.path.join(data_dir, "*.parquet")):
        con.sql(f"CREATE VIEW {os.path.basename(f)[:-len('.parquet')]} AS SELECT * FROM '{f}'")
    rel = con.sql(sql)
    huge = [c for c, t in zip(rel.columns, rel.types) if str(t).upper() in ("HUGEINT", "UHUGEINT")]
    if huge:
        raise ValueError(f"oracle emits HUGEINT column(s) {huge}")
    df = rel.df()
    con.close()
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def check_keys(data_dir, dump_dir, oracle_sql, keys, cache_dir):
    """{key: failure reason} for every key whose output is wrong."""
    failures = {}
    for key in keys:
        try:
            if key not in oracle_sql:
                raise ValueError("no oracle SQL")
            parts = sorted(glob.glob(os.path.join(dump_dir, key, "*.parquet")))
            if not parts:
                raise ValueError("no Spark output")
            spark = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
            reason = compare(oracle(data_dir, oracle_sql[key], cache_dir), spark)
        except Exception as e:  # any failure to produce or compare a result is a failed key
            reason = f"{type(e).__name__}: {e}"
        if reason:
            failures[key] = reason
    return failures

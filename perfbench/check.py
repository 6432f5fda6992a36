"""Output checks of the batch workloads, run after the timed region.

* A query's result must equal its DuckDB oracle over the same tables, by
  the rules of tools/oracle_check.py (same columns and dtypes, same rows,
  exact values, NaN equal to NaN), whose comparison functions are reused.
* A pipeline sink's result must match the fingerprint recorded in
  fingerprints.json.
"""
import glob
import hashlib
import json
import os
import pickle
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import oracle_check  # noqa: E402


def read_dump(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return oracle_check.canon(pd.concat([pd.read_parquet(f) for f in files]))


def fingerprint(df):
    """Order-independent digest of a result: columns by name, rows sorted
    by their canonical text, values by their exact repr."""
    cols = sorted(df.columns)

    def cell(v):
        if hasattr(v, "tolist"):
            v = v.tolist()
        return repr(v)
    rows = sorted(json.dumps([cell(v) for v in r])
                  for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


def oracle_result(con, sql, cache_dir):
    """The oracle's canonical result, cached per build (the tables are)."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    exp = oracle_check.canon(con.sql(sql).df())
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(exp, f)
    os.replace(path + ".tmp", path)
    return exp


def compare(got, exp):
    """None when equal, else the first difference, as tools/oracle_check.py
    reports it."""
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    bad = sorted(set(oracle_check.array_cols(got)) | set(oracle_check.array_cols(exp)))
    if bad:
        return f"array columns {bad}"
    dt = oracle_check.dtype_mismatches(got, exp)
    if dt:
        return f"dtypes {dt}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    diff = oracle_check.find_mismatch(got, exp)
    return None if diff is None else "row %d col %s: got %r want %r" % diff


def check_batch(record, check_dir, data_dir, cache_dir, fingerprints):
    """Returns {op name: problem} for every dumped output that fails."""
    import duckdb
    dumped = {o["name"] for o in record["ops"] if o["pass"] == 0 and o["ok"]}
    problems = {}
    oracles = record["oracle_sql"]
    if oracles:
        con = duckdb.connect()
        for t in oracle_check.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet/*.parquet'")
        for name in sorted(dumped & set(oracles)):
            got = read_dump(os.path.join(check_dir, name))
            exp = oracle_result(con, oracles[name], cache_dir)
            why = "no output" if got is None else compare(got, exp)
            if why:
                problems[name] = why
    for name in sorted(dumped - set(oracles)):
        sinks = sorted(glob.glob(os.path.join(check_dir, name + ".*")))
        if not sinks:
            problems[name] = "no oracle and no pipeline output"
        for path in sinks:
            key = os.path.basename(path)
            got = fingerprint(read_dump(path))
            if fingerprints.get(key) != got:
                problems[name] = f"{key}: fingerprint {got} != {fingerprints.get(key)}"
    return problems

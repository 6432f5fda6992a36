#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate.

Usage: python3 tools/oracle_check.py [sfdir] [outdir]

Assumes `sbt "runMain graft.Verify <sfdir> <outdir>"` has already produced
<outdir>/<query>/ parquet dumps and <outdir>/oracle_sql.json. Runs each
oracle SQL in DuckDB over views of the same parquet tables and compares:
column names (sorted), dtypes (EXACT — see below), row count, exact values.

This gate must be AT LEAST as strict as the driver's. Round 7 proved why:
the driver hashes canonicalized scalar values, so DuckDB SUM(BIGINT)
widening to HUGEINT (pandas float64 `1435.0`) hash-mismatches Spark's
int64 `1435` even though a loose value compare calls them equal (q54),
and an array-typed output column is an unhashable numpy.ndarray inside
the driver's sort_values canonicalizer (q57 `err`). Hence two strict
checks the loose r7 version lacked:
  * per-column pandas dtype equality, after normalizing only datetime64
    resolution (ns vs us is a pyarrow/duckdb artifact the driver's
    timestamp canonicalization already tolerates — r7 q10/q33 green);
  * any list/ndarray-valued column in an ORACLE-GATED output is an
    outright FAIL — gated queries must pre-join arrays to strings
    (the q30/q57 convention).
"""
import sys, json, glob, math
import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize datetime64 resolution (ns/us) so the EXACT dtype compare
    # below only fires on genuine type leaks, not pyarrow unit artifacts
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.reset_index(drop=True)

def array_cols(df: pd.DataFrame):
    """Columns holding list/ndarray values — the driver cannot sort these."""
    bad = []
    for c in df.columns:
        if df[c].dtype == object:
            s = df[c].dropna()
            if len(s) and isinstance(s.iloc[0], (list, tuple, np.ndarray)):
                bad.append(c)
    return bad

def dtype_mismatches(got: pd.DataFrame, exp: pd.DataFrame):
    return [(c, str(got[c].dtype), str(exp[c].dtype))
            for c in got.columns if got[c].dtype != exp[c].dtype]

def cmp_vals(a, b):
    """Exact compare with NaN==NaN, arrays, and timestamp normalization."""
    import numpy as np
    if isinstance(a, np.ndarray) or isinstance(b, np.ndarray) or \
       isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        try:
            a = list(a); b = list(b)
        except TypeError:
            return False
        return len(a) == len(b) and all(cmp_vals(x, y) for x, y in zip(a, b))
    if a is None and b is None: return True
    try:
        if pd.isna(a) and pd.isna(b): return True
    except (TypeError, ValueError): pass
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if hasattr(a, 'timestamp') and hasattr(b, 'timestamp'):
        return pd.Timestamp(a) == pd.Timestamp(b)
    return a == b

def find_mismatch(got: pd.DataFrame, exp: pd.DataFrame):
    """Vectorized per-column compare; returns (row, col, got, exp) or None.
    Falls back to the exact cell comparator only on the rows a fast filter
    flags (600k-row outputs would take minutes cell-by-cell)."""
    import numpy as np
    for c in got.columns:
        g, e = got[c], exp[c]
        if g.dtype == object or e.dtype == object:
            gt = g.map(lambda v: tuple(v) if isinstance(v, (list, tuple, np.ndarray)) else v)
            et = e.map(lambda v: tuple(v) if isinstance(v, (list, tuple, np.ndarray)) else v)
            neq = ~((gt == et) | (gt.isna() & et.isna()))
        else:
            try:
                ga, ea = g.to_numpy(), e.to_numpy()
                neq = ~((ga == ea) | (pd.isna(ga) & pd.isna(ea)))
            except Exception:
                neq = pd.Series([True] * len(g))
        # verify EVERY flagged row (a cap here would let a true mismatch
        # past the gate when many rows are false-flagged by the fast filter)
        idx = list(pd.Series(neq).to_numpy().nonzero()[0])
        for i in idx:
            if not cmp_vals(g.iloc[i], e.iloc[i]):
                return (int(i), c, g.iloc[i], e.iloc[i])
    return None

def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    con = duckdb.connect()
    import os
    for t in TABLES:
        # driver testdata ships single parquet FILES; Spark-generated
        # scale-stress fixtures (tools/GenSf) are parquet DIRECTORIES —
        # glob their part files so both layouts read identically
        path = f"{sfdir}/{t}.parquet"
        pat = path if os.path.isfile(path) else f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{pat}'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    results = {}
    import time

    def judge(name, sql):
        t0 = time.time()
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            return "MISSING_SPARK_OUTPUT"
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in sorted(files)]))
        except Exception as e:
            return f"SPARK_READ_ERROR: {e}"
        try:
            exp = canon(con.sql(sql).df())
        except Exception as e:
            return f"ORACLE_SQL_ERROR: {str(e)[:300]}"
        if list(got.columns) != list(exp.columns):
            return f"SCHEMA_MISMATCH: spark={list(got.columns)} duck={list(exp.columns)}"
        bad_arrays = sorted(set(array_cols(got)) | set(array_cols(exp)))
        if bad_arrays:
            return (f"ARRAY_COLUMN: {bad_arrays} — driver cannot "
                    "canonicalize arrays; join to string in the gated query")
        dt = dtype_mismatches(got, exp)
        if dt:
            return f"DTYPE_MISMATCH: {dt} — driver hash sees different scalars"
        if len(got) != len(exp):
            return f"ROWCOUNT_MISMATCH: spark={len(got)} duck={len(exp)}"
        bad = find_mismatch(got, exp)
        if bad:
            i, c, g, e = bad
            return f"VALUE_MISMATCH row {i} col {c}: spark={g!r} duck={e!r}"
        return f"OK ({len(got)} rows, oracle {time.time() - t0:.1f} s)"

    def decide(name, v):
        # printed as soon as it is known, so a run cut short still shows it
        results[name] = v
        tag = 'PASS' if v.startswith('OK') else ('INFO' if v.startswith('ROWS_ONLY') else 'FAIL')
        print(f"{tag:4} {name}: {v}", flush=True)

    for name in sorted(oracle):
        decide(name, judge(name, oracle[name]))
    # queries with no oracle
    for d in sorted(glob.glob(f"{outdir}/*/")):
        qn = d.rstrip('/').split('/')[-1]
        if qn not in oracle and qn != "oracle_sql.json":
            n = 0
            try:
                n = sum(len(pd.read_parquet(f)) for f in glob.glob(f"{d}/*.parquet"))
            except Exception: pass
            decide(qn, f"ROWS_ONLY ({n} rows)")
    ok = sum(1 for v in results.values() if v.startswith("OK"))
    print(f"\n{ok}/{len(oracle)} oracle queries match")

if __name__ == "__main__":
    main()

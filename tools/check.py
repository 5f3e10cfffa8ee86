#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

For each query dir under verifyOutDir, reads the Spark parquet result and
runs the matching oracle_sql.json entry in DuckDB over the sfDir tables,
then compares: column names (sorted), row count, and a value hash over
rows sorted by all columns. Mirrors what we believe the driver does; used
only for local iteration (driver-side python deps are allowed here).

An oracle_sql.json key with no output dir (a face that failed in Verify
writes none) prints MISSING and counts as a failure.
"""
import sys, os, json, hashlib
import duckdb
import pyarrow.parquet as pq
import pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

def norm(v):
    if pd.isna(v) if not isinstance(v, (list, tuple)) else False:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.10g}"
    return str(v)

def frame_hash(df: pd.DataFrame):
    df = df[sorted(df.columns)]
    rows = ["\x01".join(norm(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    return hashlib.sha256("\x02".join(rows).encode()).hexdigest()[:16]

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        got = pq.read_table(d).to_pandas()
        if name not in oracle:
            print(f"  {name}: NO-ORACLE rows={len(got)}")
            continue
        exp = con.execute(oracle[name]).df()
        ok_cols = sorted(got.columns) == sorted(exp.columns)
        ok_rows = len(got) == len(exp)
        ok_hash = ok_cols and ok_rows and frame_hash(got) == frame_hash(exp)
        status = "PASS" if ok_hash else "FAIL"
        if ok_hash: n_pass += 1
        else: n_fail += 1
        print(f"  {name}: {status} rows={len(got)}/{len(exp)} cols_ok={ok_cols}")
        if not ok_hash and ok_cols and ok_rows:
            g = got[sorted(got.columns)].astype(str).sort_values(by=sorted(got.columns)).reset_index(drop=True)
            e = exp[sorted(exp.columns)].astype(str).sort_values(by=sorted(exp.columns)).reset_index(drop=True)
            diff = (g != e).any(axis=1)
            print(g[diff].head(3)); print(e[diff].head(3))
        elif not ok_cols:
            print(f"    got={sorted(got.columns)} exp={sorted(exp.columns)}")
    for name in sorted(oracle):
        if not os.path.isdir(os.path.join(out_dir, name)):
            n_fail += 1
            print(f"  {name}: MISSING (no output dir)")
    print(f"{n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

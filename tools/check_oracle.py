#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the same testdata tables, load the Verify parquet dump, sort
columns by name + rows by all columns, and compare values."""
import sys, json, glob, os
import duckdb
import pandas as pd

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
only = sys.argv[3:] if len(sys.argv) > 3 else None

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    p = f"{sf_dir}/{t}.parquet"
    # a table stored as a directory of parquet files is read through a glob
    if os.path.isdir(p):
        p = f"{p}/*.parquet"
    elif not os.path.exists(p):
        continue
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fails, passes, skips = [], [], []
for name in sorted(os.listdir(out_dir)):
    qdir = os.path.join(out_dir, name)
    if not os.path.isdir(qdir):
        continue
    if only and name not in only:
        continue
    files = glob.glob(f"{qdir}/*.parquet")
    if not files:
        fails.append((name, "no spark output")); continue
    got = con.sql(f"SELECT * FROM '{qdir}/*.parquet'").df()
    if name not in oracle:
        skips.append((name, len(got)))
        continue
    try:
        exp = con.sql(oracle[name]).df()
    except Exception as e:
        fails.append((name, f"oracle sql error: {e}")); continue
    g = got.reindex(sorted(got.columns), axis=1)
    e = exp.reindex(sorted(exp.columns), axis=1)
    if list(g.columns) != list(e.columns):
        fails.append((name, f"schema mismatch: {list(g.columns)} vs {list(e.columns)}")); continue
    if len(g) != len(e):
        fails.append((name, f"row count {len(g)} vs {len(e)}")); continue
    g = g.sort_values(by=list(g.columns)).reset_index(drop=True)
    e = e.sort_values(by=list(e.columns)).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
        passes.append(name)
    except AssertionError as ex:
        # find first differing cell for a useful message
        diff = None
        for c in g.columns:
            neq = g[c].astype(str) != e[c].astype(str)
            if neq.any():
                i = neq.idxmax()
                diff = f"col={c} row={i}: got={g[c][i]!r} exp={e[c][i]!r}"
                break
        fails.append((name, diff or str(ex).splitlines()[0]))

print(f"PASS {len(passes)}: {' '.join(passes)}")
for n, rows in skips:
    print(f"SKIP (rows-only) {n}: {rows} rows")
for n, msg in fails:
    print(f"FAIL {n}: {msg}")
sys.exit(1 if fails else 0)

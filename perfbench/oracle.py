"""Checks each replay query's output against its DuckDB oracle on the same
generated tables. As in the repository's oracle checker, columns are
matched by name and rows as a multiset with exact values; here DuckDB does
the comparison itself (hashed EXCEPT ALL both ways), so large outputs never
pass through pandas.
"""
import glob
import os

import duckdb

TABLES = ("events", "documents", "embeddings")


def runmode_mad_sql(n):
    """Oracle of ``runmode_batch_mad``: RunMode.batch over the events with
    StateProcs.outlierMad(n), one row per event: v1 = |value - median| and
    v2 = MAD over the key's last ``n`` values in (ts, event_id) order, with
    the same median arithmetic, unrounded."""
    return f"""WITH x AS (SELECT CAST(user_id AS VARCHAR) AS key, epoch_ns(ts) AS ts, value,
    list_sort(list(value) OVER w) AS arr
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)),
m AS (SELECT *, CASE WHEN len(arr) % 2 = 1 THEN arr[(len(arr)+1)//2]
    ELSE (arr[len(arr)//2] + arr[len(arr)//2+1])/2.0 END AS med FROM x),
d AS (SELECT *, list_sort(list_transform(arr, v -> abs(v - med))) AS devs FROM m)
SELECT key, ts, abs(value - med) AS v1,
  CASE WHEN len(devs) % 2 = 1 THEN devs[(len(devs)+1)//2]
    ELSE (devs[len(devs)//2] + devs[len(devs)//2+1])/2.0 END AS v2
FROM d"""


def connect(data_dir, threads):
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def check(con, out_dir, name, oracle_sql):
    """Returns (ok, message, rows)."""
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        return False, "no output", 0
    con.execute(f"CREATE OR REPLACE TEMP VIEW got AS SELECT * FROM '{out_dir}/{name}/*.parquet'")
    try:
        con.execute(f"CREATE OR REPLACE TEMP VIEW exp AS {oracle_sql}")
        got_cols = [r[0] for r in con.execute("DESCRIBE got").fetchall()]
        exp_cols = [r[0] for r in con.execute("DESCRIBE exp").fetchall()]
    except duckdb.Error as e:
        return False, f"oracle error: {str(e).splitlines()[0]}", 0
    if sorted(got_cols) != sorted(exp_cols):
        return False, f"schema {sorted(got_cols)} vs {sorted(exp_cols)}", 0
    cols = ", ".join(f'"{c}"' for c in sorted(got_cols))
    n_got, n_exp = (con.execute(f"SELECT count(*) FROM {v}").fetchone()[0] for v in ("got", "exp"))
    if n_exp == 0:
        return False, "vacuous: the oracle returns no rows", 0
    if n_got != n_exp:
        return False, f"row count {n_got} vs {n_exp}", n_got
    diff = con.execute(
        f"SELECT count(*) FROM ((SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM exp) "
        f"UNION ALL (SELECT {cols} FROM exp EXCEPT ALL SELECT {cols} FROM got))").fetchone()[0]
    if diff:
        return False, f"{diff} rows differ", n_got
    return True, "", n_got

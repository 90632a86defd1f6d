"""Independent output checks for the query mix.

Oracle-backed queries are compared with DuckDB running the program's own
`SparkEntry.oracleSql` text over the same parquet tables, by the rules of
scripts/check.py: columns sorted by name, rows sorted by every column,
exact cell values (NaN equals NaN). A query without an oracle fails its
check: it needs an independent check of its own before it joins the mix.

Oracle answers are cached under .bench_build/perfbench/oracle/seed-<n>/,
keyed by a hash of their SQL text, so a changed oracle is recomputed. To
rebuild them by hand:

    python3 perfbench/checks.py --rebuild <data_dir> <oracle_sql.json> <cache_dir>

(`oracle_sql.json` is written by each run into its work directory.)
"""
import glob
import hashlib
import json
import math
import os
import sys
import time

import duckdb
import pandas as pd


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data}/{f}'")
    return con


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_df, oracle_df):
    a, b = normalize(spark_df), normalize(oracle_df)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows vs oracle {len(b)}"
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if x != y:
                    return f"{c}[{i}] = {x!r} vs oracle {y!r}"
            elif str(x) != str(y):
                return f"{c}[{i}] = {x!r} vs oracle {y!r}"
    return None


def oracle_answer(con, name, sql, cache_dir, rebuild=False):
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{name}-{key}.parquet")
    if os.path.exists(path) and not rebuild:
        return pd.read_parquet(path)
    df = con.execute(sql).fetchdf()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_parquet(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def read_output(outputs, name):
    files = sorted(glob.glob(f"{outputs}/{name}/*.parquet"))
    return pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)


def check_mix(outputs, data, oracle_sql_path, cache_dir):
    with open(oracle_sql_path) as f:
        sqls = json.load(f)
    con = connect(data)
    results = []
    for name in sorted(os.listdir(outputs)):
        t0 = time.time()
        try:
            out = read_output(outputs, name)
            if name in sqls:
                err = compare(out, oracle_answer(con, name, sqls[name], cache_dir))
                ok, detail = err is None, err or f"{len(out)} rows equal the DuckDB oracle"
            else:
                ok, detail = False, "no independent check for this query"
        except Exception as e:  # a check that cannot run is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"
        results.append({"name": f"query.{name}", "ok": bool(ok),
                        "detail": f"{detail} ({time.time() - t0:.1f}s)"})
    return results


if __name__ == "__main__":
    if len(sys.argv) != 5 or sys.argv[1] != "--rebuild":
        raise SystemExit(__doc__)
    _, _, data_dir, sql_path, cache = sys.argv
    with open(sql_path) as f:
        sqls = json.load(f)
    con = connect(data_dir)
    for n, q in sorted(sqls.items()):
        oracle_answer(con, n, q, cache, rebuild=True)
        print(f"rebuilt {n}")

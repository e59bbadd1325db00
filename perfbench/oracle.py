"""DuckDB oracle for query_mix, run after the JVM has exited (never inside a
timed region).

The JVM writes the first result of each query to `<check>/<query>/` as
parquet and the subset's `SparkEntry.oracleSql` to `<check>/oracle_sql.json`.
`check` runs each oracle SQL on the same generated tables and compares the
two results as multisets, with the normalisation the project's oracle tool
uses (columns sorted by name, timestamps to microsecond text, floats by
repr, rows sorted).
"""
import glob
import json
import math
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.map(lambda v: "null" if pd.isna(v) else repr(float(v) + 0.0 if float(v) != 0 else 0.0))
        elif pd.api.types.is_bool_dtype(s):
            out[c] = s.map(lambda v: "null" if pd.isna(v) else str(bool(v)))
        else:
            out[c] = s.map(lambda v: "null" if v is None or (isinstance(v, float) and math.isnan(v)) else str(v))
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def check(tables_dir, check_dir):
    """Returns the names of the queries whose result differs from DuckDB's."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad, compared = set(), 0
    for name, sql in sorted(oracle.items()):
        if not glob.glob(os.path.join(check_dir, name, "*.parquet")):
            continue      # never ran (a failed execution is already counted)
        compared += 1
        try:
            got = _norm(pd.read_parquet(os.path.join(check_dir, name)))
            exp = _norm(con.execute(sql).df())
            same = list(got.columns) == list(exp.columns) and len(got) == len(exp) and got.equals(exp)
        except Exception as e:          # an oracle that cannot run is a failed check
            print(f"[oracle] {name}: {e}", file=sys.stderr)
            same = False
        if not same:
            print(f"[oracle] {name}: result differs from DuckDB", file=sys.stderr)
            bad.add(name)
    print(f"[oracle] {compared} queries compared with DuckDB, {len(bad)} differ", file=sys.stderr)
    return bad


if __name__ == "__main__":
    print(sorted(check(sys.argv[1], sys.argv[2])))

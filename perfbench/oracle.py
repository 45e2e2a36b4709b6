"""Oracle comparison of the sweep keys' verification dumps.

Follows tools/check.py's route: the key's DuckDB twin SQL (from
SparkEntry.oracleSql) runs over the same input tables, and its result is
compared with Spark's parquet dump after sorting columns by name and rows
by value, with exact value equality."""
import json
import os

import duckdb
import pandas as pd

TABLES = ["customer", "orders", "events", "documents", "embeddings"]


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True,
                            key=lambda s: s.astype(str))
    return df


def _lit(p: str) -> str:
    return p.replace("'", "''")


def check(data_dir: str, dump_dir: str, oracle_json: str, keys) -> dict:
    """{key: None if the dump matches its twin, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{_lit(path)}')")
    sqls = json.load(open(oracle_json))
    out = {}
    for key in keys:
        try:
            out[key] = _compare(con, sqls.get(key), os.path.join(dump_dir, key))
        except Exception as e:  # an oracle or read error is a failed check
            out[key] = f"{type(e).__name__}: {e}"
    return out


def _compare(con, sql, dump):
    if not os.path.isdir(dump):
        return "no verification dump"
    got = duckdb.connect().execute(
        f"SELECT * FROM read_parquet('{_lit(dump)}/*.parquet')").df()
    if sql is None:
        return "no oracle twin"
    want = con.execute(sql).df()
    w, g = _norm(want), _norm(got)
    if list(w.columns) != list(g.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(w) != len(g):
        return f"rows {len(g)} != {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values differ: " + str(e).splitlines()[0]
    return None

"""Correctness gate: every output of a run is compared in DuckDB against
an oracle over the generated inputs, outside the timed region.

Rows are compared as multisets after ordering columns by name and rows
by value. Floating columns compare to 1e-9 relative, so a difference in
summation order between the engines is not a failure; a wrong value is.
One more difference is allowed: a value rounded to d <= 6 decimals may
differ by exactly one unit in the d-th decimal. That is a rounding tie:
Spark rounds the decimal form of a double half-up, DuckDB rounds the
binary value, so 532.5834375 becomes 532.583438 in one and 532.583437
in the other.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def connect(table_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = os.path.join(table_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _key(col):
    if pd.api.types.is_bool_dtype(col):
        return col.astype("Int64").astype(str)
    if pd.api.types.is_numeric_dtype(col):
        return col.astype("float64").round(9)
    if pd.api.types.is_datetime64_any_dtype(col):
        return col.astype("int64")
    return col.astype(str)


def canon(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    keys = pd.DataFrame({c: _key(df[c]) for c in df.columns})
    order = keys.sort_values(by=list(keys.columns), kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


def _same(a, b):
    if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b) \
            and not pd.api.types.is_bool_dtype(a) and not pd.api.types.is_bool_dtype(b):
        x, y = a.astype("float64").to_numpy(), b.astype("float64").to_numpy()
        ok = np.isclose(x, y, rtol=1e-9, atol=1e-9, equal_nan=True)
        for d in range(1, 7):
            on_grid = lambda v: np.isclose(np.round(v, d), v, rtol=0, atol=1e-9)
            tie = on_grid(x) & on_grid(y) & np.isclose(np.abs(x - y), 10.0 ** -d, rtol=1e-6, atol=0)
            ok |= tie
        return bool(np.all(ok))
    if pd.api.types.is_datetime64_any_dtype(a) and pd.api.types.is_datetime64_any_dtype(b):
        return bool((a.astype("int64").to_numpy() == b.astype("int64").to_numpy()).all())
    return bool((a.astype(str).to_numpy() == b.astype(str).to_numpy()).all())


def compare(spark_df, oracle_df):
    """(ok, detail) for two result frames."""
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return False, f"columns spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return False, f"rows spark={len(spark_df)} oracle={len(oracle_df)}"
    s, o = canon(spark_df), canon(oracle_df)
    bad = [c for c in s.columns if not _same(s[c], o[c])]
    return (not bad), (f"values differ in {bad}" if bad else "match")


def read_output(path):
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        raise FileNotFoundError(f"no output under {path}")
    return duckdb.connect().execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()


def check(con, out_path, oracle_sql):
    """(ok, detail, rows) for one Spark output directory against its oracle."""
    try:
        spark_df = read_output(out_path)
    except Exception as e:  # a missing or unreadable output is a failure
        return False, f"no output: {e}", 0
    if not oracle_sql:
        return False, "no oracle", len(spark_df)
    try:
        oracle_df = con.execute(oracle_sql).fetchdf()
    except Exception as e:
        return False, f"oracle error: {e}", len(spark_df)
    ok, detail = compare(spark_df, oracle_df)
    return ok, detail, len(spark_df)


def stream_oracle(files):
    """Latest non-tombstone change per key over every delivered file, the
    state `JdbcUpsertSink.readCurrent` must hold once the stream drains."""
    return f"""SELECT user_id, event_id AS last_event_id, ts AS last_ts, value, op
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM read_parquet({sorted(files)!r}))
      WHERE rn = 1 AND op <> 'DELETE'"""

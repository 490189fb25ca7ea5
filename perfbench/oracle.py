"""Output check of the batch workloads against the engine's DuckDB oracles.

Each registered query has an equivalent SQL text (`SparkEntry.oracleSql`).
The comparison is the repository's correctness gate (`tools/check.py`):
columns sorted by name, then column names, row count, and a SHA-256 over
the `repr` of every value, row by row, must all agree.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd

TABLES = ("customer", "events")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    return df[sorted(df.columns)].reset_index(drop=True)


def frame_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(("|".join(repr(v) for v in row) + "\n").encode())
    return h.hexdigest()


def read_spark_output(qdir: str) -> pd.DataFrame:
    # part files are numbered by partition, so name order is result order
    parts = sorted(glob.glob(os.path.join(qdir, "part-*.parquet")))
    frames = [pd.read_parquet(p) for p in parts]
    nonempty = [f for f in frames if len(f)]
    return pd.concat(nonempty or frames[:1], ignore_index=True)


def compare(data_dir, check_dir, oracle_sql, skip=()):
    """Returns {query: reason} for every query whose full result differs
    from its oracle's."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = {}
    for name in sorted(oracle_sql):
        if name in skip:
            continue
        try:
            spark_df = canon(read_spark_output(os.path.join(check_dir, name)))
            duck_df = canon(con.sql(oracle_sql[name]).df())
        except Exception as e:  # a missing or unreadable result is a failure
            bad[name] = f"{type(e).__name__}: {e}"
            continue
        if list(spark_df.columns) != list(duck_df.columns):
            bad[name] = f"schema {list(spark_df.columns)} vs {list(duck_df.columns)}"
        elif len(spark_df) != len(duck_df):
            bad[name] = f"rows {len(spark_df)} vs {len(duck_df)}"
        elif frame_hash(spark_df) != frame_hash(duck_df):
            bad[name] = "hash mismatch"
    return bad

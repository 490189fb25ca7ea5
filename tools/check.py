#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [<verifyOutDir> ...]

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs the
matching oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over the
same sf tables, then compares: schema (column names), row count, and a hash
of all values with columns sorted by name (mirroring the driver's compare).

With several out dirs (repeated Verify runs over the same sfDir), each
distinct oracle SQL text runs once and its result is compared against every
dir; each dir's report is headed by its path, a per-dir summary follows, and
the exit status is non-zero if any dir fails. One dir prints as it always has.
"""
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.reset_index(drop=True)


def cell(v):
    return repr(v)


def frame_hash(df: pd.DataFrame) -> str:
    import hashlib
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(("|".join(cell(v) for v in row) + "\n").encode())
    return h.hexdigest()


def check_dir(out_dir, con, oracle_results):
    """Print one PASS/FAIL line per oracle of `out_dir` and the totals;
    returns (n_pass, n_fail). `oracle_results` caches each SQL text's
    canonical DuckDB result (or its exception) across calls."""
    def oracle_df(sql):
        if sql not in oracle_results:
            try:
                oracle_results[sql] = canon(con.sql(sql).df())
            except Exception as e:
                oracle_results[sql] = e
        r = oracle_results[sql]
        if isinstance(r, Exception):
            raise r
        return r

    oracle = json.loads(Path(f"{out_dir}/oracle_sql.json").read_text())
    n_pass = n_fail = 0
    for name in sorted(oracle):
        qdir = Path(out_dir) / name
        if not qdir.exists():
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            spark_df = canon(pd.read_parquet(qdir))
            duck_df = oracle_df(oracle[name])
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        problems = []
        if list(spark_df.columns) != list(duck_df.columns):
            problems.append(f"schema {list(spark_df.columns)} vs {list(duck_df.columns)}")
        elif len(spark_df) != len(duck_df):
            problems.append(f"rows {len(spark_df)} vs {len(duck_df)}")
        elif frame_hash(spark_df) != frame_hash(duck_df):
            problems.append("hash mismatch")
            merged = spark_df.compare(duck_df) if spark_df.shape == duck_df.shape else None
            if merged is not None and not merged.empty:
                problems.append(f"first diffs:\n{merged.head(5)}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(str(p) for p in problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(spark_df)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return n_pass, n_fail


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sf_dir, out_dirs = sys.argv[1], sys.argv[2:]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle_results = {}
    totals = []
    for out_dir in out_dirs:
        if len(out_dirs) > 1:
            print(f"== {out_dir}")
        totals.append(check_dir(out_dir, con, oracle_results))
    if len(out_dirs) > 1:
        print()
        for out_dir, (n_pass, n_fail) in zip(out_dirs, totals):
            print(f"{'PASS' if n_fail == 0 else 'FAIL'} {out_dir}: {n_pass} pass, {n_fail} fail")
    sys.exit(1 if any(n_fail for _, n_fail in totals) else 0)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: run graft.Verify at a
given scale factor, then execute each oracle_sql.json query in DuckDB over
the same parquet tables and compare against the Spark result parquet
(columns sorted by name, rows in emitted order, values normalized).

Usage: python3 local_oracle_check.py [sfDir] [outDir] [--no-run]

Each PASS/FAIL line ends with that oracle's wall seconds (DuckDB query +
parquet read + compare); the ten slowest are listed after the total.
"""
import json
import math
import subprocess
import sys
import time

import duckdb
import pandas as pd

USAGE = __doc__.split("\n\n")[1].strip()
if any(a.startswith("-") and a != "--no-run" for a in sys.argv[1:]):
    sys.exit(USAGE)
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft-verify-out"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_verify():
    r = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Verify {SF} {OUT}"],
        capture_output=True, text=True, timeout=1800)
    for line in r.stdout.splitlines():
        if "[verify]" in line or "error]" in line.lower():
            print(line)
    if r.returncode != 0:
        print(r.stdout[-3000:])
        sys.exit("verify run failed")


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.reset_index(drop=True)


def compare(name: str, sql: str, con) -> str:
    try:
        spark_df = norm(pd.read_parquet(f"{OUT}/{name}"))
    except Exception as e:
        return f"NO-SPARK-OUTPUT ({e})"
    try:
        duck_df = norm(con.sql(sql).df())
    except Exception as e:
        return f"ORACLE-SQL-ERROR ({e})"
    if list(spark_df.columns) != list(duck_df.columns):
        return f"SCHEMA-MISMATCH spark={list(spark_df.columns)} duck={list(duck_df.columns)}"
    if len(spark_df) != len(duck_df):
        return f"ROWCOUNT-MISMATCH spark={len(spark_df)} duck={len(duck_df)}"
    for c in spark_df.columns:
        a, b = spark_df[c], duck_df[c]
        try:
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                bad = ~(
                    (a.isna() & b.isna())
                    | (a == b)
                    | ((a - b).abs() <= 0))  # exact: driver hashes, so 0 tolerance
            else:
                aa, bb = a.astype(str), b.astype(str)
                bad = aa != bb
        except Exception as e:
            return f"COMPARE-ERROR col={c} ({e})"
        if bad.any():
            i = bad.idxmax()
            return (f"VALUE-MISMATCH col={c} row={i} "
                    f"spark={spark_df[c][i]!r} duck={duck_df[c][i]!r} "
                    f"(n_bad={int(bad.sum())})")
    return "OK"


def main():
    if "--no-run" not in sys.argv:
        run_verify()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracles = json.load(open(f"{OUT}/oracle_sql.json"))
    n_ok = 0
    elapsed = {}
    for name in sorted(oracles):
        t0 = time.monotonic()
        res = compare(name, oracles[name], con)
        elapsed[name] = time.monotonic() - t0
        print(f"{'PASS' if res == 'OK' else 'FAIL'} {name}: {res} "
              f"({elapsed[name]:.1f}s)", flush=True)
        n_ok += res == "OK"
    print(f"\n{n_ok}/{len(oracles)} oracle queries match")
    print("slowest oracles:")
    for name in sorted(elapsed, key=elapsed.get, reverse=True)[:10]:
        print(f"  {elapsed[name]:8.1f}s  {name}")
    # rows-only queries: just confirm output exists and is non-empty
    import os
    for d in sorted(os.listdir(OUT)):
        full = f"{OUT}/{d}"
        if os.path.isdir(full) and d not in oracles:
            try:
                n = len(pd.read_parquet(full))
                print(f"{'PASS' if n > 0 else 'FAIL'} {d}: rows-only n={n}")
            except Exception as e:
                print(f"FAIL {d}: unreadable ({e})")


if __name__ == "__main__":
    main()

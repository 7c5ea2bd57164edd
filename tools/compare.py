#!/usr/bin/env python3
"""Dev-loop oracle compare (mimics the driver's correctness gate).

Usage: python3 tools/compare.py <sfDir> <verifyOutDir> [query ...]

Runs each oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over the
parquet tables in <sfDir> (registered by table name), loads the Spark result
parquet from <verifyOutDir>/<query>/, sorts columns by name and rows by all
columns, and compares values. A named query with no oracle in
oracle_sql.json is reported as NO ORACLE; any failure exits 1.
"""
import json
import math
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.astype(object)
    # stable stringification so float/int dtype mismatches don't false-alarm
    def s(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        # inf must short-circuit BEFORE int(v): int(inf) raises OverflowError
        # and would abort the whole compare instead of reporting a mismatch
        if isinstance(v, float) and math.isinf(v):
            return str(v)
        if isinstance(v, float) and v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return str(v)
    df = df.map(s)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    bad = 0
    for name in sorted(only or oracles):
        if name not in oracles:
            print(f"{name}: NO ORACLE")
            bad += 1
            continue
        sql = oracles[name]
        try:
            spark = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"{name}: NO SPARK OUTPUT ({e})")
            bad += 1
            continue
        try:
            oracle = con.execute(sql).df()
        except Exception as e:
            print(f"{name}: ORACLE SQL FAILED ({e})")
            bad += 1
            continue
        a, b = canon(spark), canon(oracle)
        if list(a.columns) != list(b.columns):
            print(f"{name}: SCHEMA MISMATCH spark={list(a.columns)} oracle={list(b.columns)}")
            bad += 1
        elif len(a) != len(b):
            print(f"{name}: ROWS MISMATCH spark={len(a)} oracle={len(b)}")
            bad += 1
        elif not a.equals(b):
            diff = (a != b).any(axis=1)
            print(f"{name}: VALUE MISMATCH ({int(diff.sum())} rows differ)")
            print("  spark:", a[diff].head(3).to_dict("records"))
            print("  oracle:", b[diff].head(3).to_dict("records"))
            bad += 1
        else:
            print(f"{name}: OK ({len(a)} rows)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

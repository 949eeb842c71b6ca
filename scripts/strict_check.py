#!/usr/bin/env python3
"""Strict mirror of the driver's compare: reads the SPARK side via
pyarrow/pandas (the driver's read path) instead of DuckDB — decimal/
float representation differences between the two paths have caused
hash mismatches that the duckdb-read check missed.

Usage: python3 scripts/strict_check.py <sfdir> <verify_outdir>
"""
import sys, json, glob
import duckdb, pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df):
    df = df[sorted(df.columns)].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True) if len(df.columns) else df

def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    fails = 0
    for name, sql in sorted(oracle.items()):
        parts = glob.glob(f"{outdir}/{name}/*.parquet")
        if not parts:
            fails += 1
            print(f"ERROR {name}: no result parquet")
            continue
        mine = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        ref = con.sql(sql).df()
        a, b = norm(mine), norm(ref)
        if list(a.columns) != list(b.columns) or not a.equals(b):
            fails += 1
            print(f"FAIL {name} rows {len(a)} vs {len(b)}")
            if len(a) == len(b) and list(a.columns) == list(b.columns):
                d = (a != b).any(axis=1)
                if d.any():
                    i = d.idxmax()
                    print("  mine:", a.iloc[i].to_dict())
                    print("  ref :", b.iloc[i].to_dict())
        else:
            print(f"OK   {name} ({len(a)} rows)")
    print(f"{len(oracle)-fails}/{len(oracle)} strict pass")

if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Local dev harness (NOT part of the shipped library): mirrors the
driver's correctness gate. Reads Verify.scala's output dir, runs each
oracle SQL in DuckDB against the same parquet tables, and compares
row count, schema (column names), and a canonical value hash.

With a second Verify output dir (e.g. a dump of another commit), every
query that has no oracle (the rows-only ones) is compared against that
dump's rows with the same canonicalizer.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [<refVerifyOutDir>]
"""
import os
import json
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    # Mirrors the DRIVER's canonicalizer: sort the RAW values first
    # (so a Decimal column sorts as Decimal and an array column crashes
    # here exactly like it crashes the driver), THEN stringify. r7
    # proved the old stringify-then-sort order masked edge-type
    # violations the driver catches — keep this order in sync.
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)
    return df.apply(lambda c: c.map(cell))


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> bool:
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)}")
    elif len(g) != len(w):
        print(f"FAIL {name}: rows {len(g)} != {len(w)}")
    elif not g.equals(w):
        diff = (g != w).any(axis=1)
        idx = diff[diff].index[:3]
        print(f"FAIL {name}: value mismatch, e.g.:")
        for i in idx:
            print(f"  got : {g.loc[i].to_dict()}")
            print(f"  want: {w.loc[i].to_dict()}")
    else:
        print(f"PASS {name} ({len(g)} rows)")
        return True
    return False


def main(sf_dir: str, out_dir: str, ref_dir: str = None) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    # rows-only queries: dumped on either side, no oracle
    rows_only = {} if ref_dir is None else {
        name: f"SELECT * FROM '{ref_dir}/{name}/*.parquet'"
        for d in (out_dir, ref_dir) for name in os.listdir(d)
        if os.path.isdir(f"{d}/{name}") and name not in oracles}
    n_pass = n_fail = 0
    for name, sql in sorted({**oracles, **rows_only}.items()):
        try:
            got = con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            want = con.sql(sql).df()
            ok = compare(name, got, want)
        except Exception as e:
            print(f"FAIL {name}: error {e}")
            ok = False
        n_pass += ok
        n_fail += not ok
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))

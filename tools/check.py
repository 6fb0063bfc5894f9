#!/usr/bin/env python3
"""Local mirror of the driver's t2 correctness gate.

Reads the Verify output dir (parquet per query + oracle_sql.json), runs
each oracle in DuckDB over the same sf tables, and compares: row count,
sorted-by-name column list, and a hash of the row-sorted values.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: datetimes -> iso strings, floats -> repr
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            s = s.map(lambda x: repr(float(x)) if pd.notna(x) else "NaN")
        elif s.dtype == object:
            s = s.map(lambda x: str(x.tolist()) if hasattr(x, "tolist") else str(x))
        else:
            s = s.astype(str)
        out[c] = s
    r = pd.DataFrame(out)
    return r.sort_values(by=list(r.columns), kind="mergesort").reset_index(drop=True)


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # a Spark-written table is a directory of part files
        if os.path.isdir(path):
            path += "/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
            want = con.sql(sql).df()
            g, w = canon(got), canon(want)
            if list(g.columns) != list(w.columns):
                print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)}")
                n_fail += 1
            elif len(g) != len(w):
                print(f"FAIL {name}: rows {len(g)} != {len(w)}")
                n_fail += 1
            elif not g.equals(w):
                neq = (g != w).any(axis=1)
                idx = neq[neq].index[:3]
                print(f"FAIL {name}: {int(neq.sum())}/{len(g)} rows differ; first:")
                for i in idx:
                    print(f"  spark: {g.loc[i].to_dict()}")
                    print(f"  duck : {w.loc[i].to_dict()}")
                n_fail += 1
            else:
                print(f"PASS {name} ({len(g)} rows)")
                n_pass += 1
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {type(e).__name__}: {e}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

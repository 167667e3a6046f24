#!/usr/bin/env python3
"""Dev-only local replica of the driver's DuckDB-oracle correctness gate.

NOT part of the engine (the engine is Scala/Spark only). Usage:
    python3 scripts/check_correctness.py /tmp/verify_out /root/testdata/sf0.01 [query ...]

Exits 1 unless every compared key is PASS (MISSING-SPARK-OUTPUT counts
as a failure).
"""
import json, sys, glob, os
import duckdb
import pandas as pd

def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # stringify for robust sorting/compare across dtypes
    s = df.astype(str)
    order = s.sort_values(by=list(s.columns)).index
    return s.loc[order].reset_index(drop=True)

def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders","lineitem",
              "events","documents","embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    results = {}
    for name in sorted(oracle):
        if only and name not in only: continue
        res_dir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(res_dir, "*.parquet"))
        if not files:
            results[name] = "MISSING-SPARK-OUTPUT"; continue
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)])
            duck_df = con.sql(oracle[name]).df()
        except Exception as e:
            results[name] = f"ERROR: {str(e)[:200]}"; continue
        a, b = normalize(spark_df), normalize(duck_df)
        if list(a.columns) != list(b.columns):
            results[name] = f"SCHEMA-MISMATCH spark={list(a.columns)} duck={list(b.columns)}"
        elif len(a) != len(b):
            results[name] = f"ROWS-MISMATCH spark={len(a)} duck={len(b)}"
        elif not a.equals(b):
            diff = (a != b).any(axis=1)
            idx = diff[diff].index[:3]
            detail = []
            for i in idx:
                for c in a.columns:
                    if a.at[i, c] != b.at[i, c]:
                        detail.append(f"row{i} {c}: spark={a.at[i,c]} duck={b.at[i,c]}")
            results[name] = "VALUE-MISMATCH " + "; ".join(detail[:4])
        else:
            results[name] = "OK"
    n_ok = sum(1 for v in results.values() if v == "OK")
    for name, v in sorted(results.items()):
        print(("PASS " if v == "OK" else "FAIL "), name, "" if v == "OK" else v)
    print(f"== {n_ok}/{len(results)} green")
    # a gate: any key not PASS (MISSING-SPARK-OUTPUT included) fails the run
    sys.exit(0 if n_ok == len(results) else 1)

if __name__ == "__main__":
    main()

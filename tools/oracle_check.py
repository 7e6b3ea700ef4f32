#!/usr/bin/env python3
"""Dev-only replica of the driver's t2 correctness gate (NOT part of the
Spark library): for each query output under <outDir>, run the matching
oracle SQL from oracle_sql.json in DuckDB over the same sf parquet tables,
canonicalize both frames (column-name sort, row sort, 6-dp double rounding)
and diff. An output directory without an oracle entry, or an oracle entry
without output, fails. Usage: oracle_check.py [--json FILE] <sfDir> <outDir> [query ...]

--json FILE additionally writes the driver-format correctness record
(per-query rows_match/schema_match/hash_match/spark_rows/oracle_rows/err)
so a mid-round local full-gate run can commit a CORRECTNESS_r*.json that
matches the registered query set (the update_ledger.sh coverage
assertion) instead of lagging until the driver's round-end run.
"""
import json, sys, glob, os
import duckdb, pandas as pd, numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def main():
    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        json_out = args[1]
        args = args[2:]
    sf_dir, out_dir = args[0], args[1]
    only = set(args[2:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    outputs = {e.name for e in os.scandir(out_dir) if e.is_dir()}
    n_ok = n_bad = 0
    record = {}
    for name in sorted(set(oracle) | outputs):
        if only and name not in only:
            continue
        rec = {"rows_match": False, "schema_match": False,
               "hash_match": False, "spark_rows": 0, "oracle_rows": 0,
               "err": None}
        record[name] = rec
        if name not in oracle:
            print(f"FAIL  {name}: no oracle entry")
            rec["err"] = "no oracle entry"
            n_bad += 1
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"MISS  {name}: no spark output")
            rec["err"] = "no spark output"
            n_bad += 1
            continue
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        want = canon(con.sql(oracle[name]).df())
        rec["spark_rows"], rec["oracle_rows"] = len(got), len(want)
        rec["schema_match"] = list(got.columns) == list(want.columns)
        rec["rows_match"] = len(got) == len(want)
        if not rec["schema_match"]:
            print(f"FAIL  {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_bad += 1
        elif not rec["rows_match"]:
            print(f"FAIL  {name}: rows {len(got)} != {len(want)}")
            n_bad += 1
        elif not got.equals(want):
            neq = (got != want) & ~(got.isna() & want.isna())
            bad_cols = [c for c in got.columns if neq[c].any()]
            idx = neq.any(axis=1)
            print(f"FAIL  {name}: values differ in {bad_cols} "
                  f"({int(idx.sum())}/{len(got)} rows)")
            for c in bad_cols[:2]:
                g = got.loc[neq[c], c].head(3).tolist()
                w = want.loc[neq[c], c].head(3).tolist()
                print(f"      {c}: got {g} want {w}")
            n_bad += 1
        else:
            rec["hash_match"] = True
            print(f"ok    {name} ({len(got)} rows)")
            n_ok += 1
    if json_out:
        with open(json_out, "w") as f:
            json.dump(record, f, indent=1)
        print(f"wrote {json_out} ({len(record)} rows)")
    print(f"== {n_ok} ok, {n_bad} failing")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()

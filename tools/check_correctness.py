#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a given
scale factor, then execute each oracle SQL in DuckDB over the same parquet
tables and compare (schema by sorted column names, values by sorted-row hash).

Usage: python3 tools/check_correctness.py [sfdir] [outdir] [--skip-verify]
"""
import sys, os, json, glob, subprocess
import duckdb
import pandas as pd

# the checkout this script belongs to, wherever it is run from
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

if "--skip-verify" not in sys.argv:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
        capture_output=True, text=True, cwd=ROOT,
        env={**os.environ, "SPARK_GRAFT_CPUS": "8"})
    if r.returncode != 0:
        print(r.stdout[-4000:]); print(r.stderr[-4000:]); sys.exit(1)
    for line in r.stderr.splitlines():
        if "[verify]" in line:
            print(line)

con = duckdb.connect()
for t in TABLES:
    p = f"{SF}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize types for comparison
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

fails, passes, skips = [], [], []
for name in sorted(json.load(open(f"{OUT}/oracle_sql.json")).keys() | set(
        os.path.basename(p) for p in glob.glob(f"{OUT}/*") if os.path.isdir(p))):
    pq = f"{OUT}/{name}"
    if not os.path.isdir(pq):
        fails.append((name, "no spark output")); continue
    spark_df = con.sql(f"SELECT * FROM '{pq}/*.parquet'").df()
    if name not in oracle:
        skips.append((name, len(spark_df))); continue
    try:
        ora_df = con.sql(oracle[name]).df()
    except Exception as e:
        fails.append((name, f"oracle error: {e}")); continue
    a, b = canon(spark_df), canon(ora_df)
    if list(a.columns) != list(b.columns):
        fails.append((name, f"schema: spark={list(a.columns)} oracle={list(b.columns)}")); continue
    if len(a) != len(b):
        fails.append((name, f"rows: spark={len(a)} oracle={len(b)}")); continue
    try:
        eq = a.equals(b)
        if not eq:
            neq = (a != b) & ~(a.isna() & b.isna())
            bad = neq.any(axis=1)
            diff = pd.concat([a[bad].head(3).add_suffix("_spark"),
                              b[bad].head(3).add_suffix("_oracle")], axis=1)
            fails.append((name, f"values differ on {bad.sum()} rows:\n{diff}"))
            continue
    except Exception as e:
        fails.append((name, f"compare error: {e}")); continue
    passes.append((name, len(a)))

for n, c in passes: print(f"PASS {n} ({c} rows)")
for n, c in skips: print(f"SKIP {n} (rows-only: {c} rows)")
for n, msg in fails: print(f"FAIL {n}: {msg}")
print(f"\n{len(passes)} pass, {len(skips)} rows-only, {len(fails)} fail")
sys.exit(1 if fails else 0)

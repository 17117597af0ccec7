#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate: run each
oracle SQL over the sf parquet tables, compare to the Spark dump in
outDir (columns sorted by name, rows sorted, values compared).

Dtype-strict (round 7): the driver's hash is dtype-sensitive, so a
DuckDB HUGEINT (int128) oracle column — what bare sum() over an
integer returns — fails the driver even when every value matches.
Two guards reproduce that locally: (1) an arrow probe flags any
oracle column whose physical type can't round-trip the driver's
hash (decimal128/int128); (2) after canon, the pandas dtype KIND
(integer vs float vs other) must match between Spark and oracle —
exactly what HUGEINT->float64 coercion would otherwise hide.

`compare.py --sql-only <sf_dir> <dir>` runs only the oracles in
<dir>/oracle_sql.json, with no Spark dump: it fails (exit 1) on any
oracle that errors or emits a decimal column."""
import sys, json, glob, os
import duckdb
import pandas as pd
import pyarrow as pa

sql_only = "--sql-only" in sys.argv
if sql_only:
    sys.argv.remove("--sql-only")
sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        try:
            df[c] = pd.to_numeric(df[c])
        except (ValueError, TypeError):
            pass
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def kind_group(dtype):
    if dtype.kind in "iu":
        return "int"
    if dtype.kind == "f":
        return "float"
    return "other"

def arrow_dtype_errors(sql):
    """Columns whose arrow type the driver's dtype-sensitive hash
    rejects: DuckDB HUGEINT surfaces as decimal128(38,0)."""
    tbl = con.execute(sql).arrow()
    return [(f.name, str(f.type)) for f in tbl.schema
            if pa.types.is_decimal(f.type)]

def oracle_error(sql):
    """Why the gate rejects this oracle before comparing values, or None."""
    try:
        dtype_errs = arrow_dtype_errors(sql)
    except Exception as e:
        return f"ORACLE SQL ERROR: {e}"
    if dtype_errs:
        return (f"oracle emits hash-hostile dtype "
                f"{dtype_errs} — wrap in CAST(... AS BIGINT)")
    return None

if sql_only:
    errors = {name: oracle_error(oracle[name]) for name in sorted(oracle)}
    bad = [name for name, err in errors.items() if err]
    for name in bad:
        print(f"✗ {name}: {errors[name]}")
    print(f"\n{len(oracle) - len(bad)} ok, {len(bad)} bad, {len(oracle)} oracles run")
    sys.exit(1 if bad else 0)

n_ok = n_bad = 0
for name in sorted(os.listdir(out_dir)):
    qdir = os.path.join(out_dir, name)
    if not os.path.isdir(qdir):
        continue
    spark_df = duckdb.sql(f"SELECT * FROM read_parquet('{qdir}/*.parquet')").df()
    if name not in oracle:
        print(f"  [rows-only] {name}: {len(spark_df)} rows")
        continue
    err = oracle_error(oracle[name])
    if err:
        print(f"✗ {name}: {err}")
        n_bad += 1
        continue
    ora_df = con.execute(oracle[name]).df()
    a, b = canon(spark_df), canon(ora_df)
    if list(a.columns) != list(b.columns):
        print(f"✗ {name}: column mismatch spark={list(a.columns)} oracle={list(b.columns)}")
        n_bad += 1
        continue
    kind_bad = [(c, str(a[c].dtype), str(b[c].dtype)) for c in a.columns
                if kind_group(a[c].dtype) != kind_group(b[c].dtype)]
    if kind_bad:
        print(f"✗ {name}: dtype-kind mismatch (spark vs oracle) {kind_bad}")
        n_bad += 1
        continue
    if len(a) != len(b):
        print(f"✗ {name}: row count spark={len(a)} oracle={len(b)}")
        n_bad += 1
        continue
    diff_cols = []
    for c in a.columns:
        if a[c].dtype.kind == 'f' or b[c].dtype.kind == 'f':
            # driver hashes exact values: demand bit-equality for floats
            same = (a[c] == b[c]) | (a[c].isna() & b[c].isna())
            if not same.all():
                md = (a[c] - b[c]).abs().max()
                print(f"   [float drift] {name}.{c}: max abs diff {md}")
        else:
            same = (a[c].astype(str) == b[c].astype(str))
        if not same.all():
            diff_cols.append((c, int((~same).sum())))
    if diff_cols:
        print(f"✗ {name}: value mismatch {diff_cols}")
        for c, _ in diff_cols[:1]:
            bad = (a[c].astype(str) != b[c].astype(str))
            print("   spark:", a[bad][c].head(3).tolist(),
                  " oracle:", b[bad][c].head(3).tolist())
        n_bad += 1
    else:
        n_ok += 1
print(f"\n{n_ok} ok, {n_bad} bad, {len(oracle)} oracled")

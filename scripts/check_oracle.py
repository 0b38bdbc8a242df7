#!/usr/bin/env python3
"""Local driver-equivalent correctness check.

Usage: check_oracle.py <sfDir> <verifyOutDir>

Replays what the round driver does: for every query dumped by
graft.Verify (parquet in <outDir>/<name>/), run the matching SQL from
<outDir>/oracle_sql.json in DuckDB over the same parquet tables, then
compare after sorting columns by name and rows by all values.

Exit 0 iff every query with an oracle matches exactly. A key of
oracle_sql.json with no result dir fails (its query threw, or was not
dumped). Queries without an oracle entry are listed as rows-only
(count shown).
"""
import glob
import json
import math
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def dtype_mismatches(out_dir, name, con, sql):
    """Driver-equivalent dtype audit: the round driver compares pandas
    frames (spark parquet via pyarrow vs duckdb .df()), so a value-equal
    pair still hash-mismatches when dtypes differ (decimal→object vs
    float64, int32 vs int64, datetime64[ns] vs [us]). Returns
    [(col, spark_dtype, oracle_dtype), ...]."""
    parts = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    spark_df = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
    oracle_df = con.sql(sql).df()
    mism = []
    for c in sorted(spark_df.columns):
        if c not in oracle_df.columns:
            continue
        sd, od = str(spark_df[c].dtype), str(oracle_df[c].dtype)
        if sd == od == "object":
            sv = next((v for v in spark_df[c] if v is not None), None)
            ov = next((v for v in oracle_df[c] if v is not None), None)
            if sv is not None and ov is not None and type(sv) is not type(ov):
                mism.append((c, f"object[{type(sv).__name__}]",
                             f"object[{type(ov).__name__}]"))
        elif sd != od:
            mism.append((c, sd, od))
    return mism


def frame(rel):
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [[norm_cell(r[i]) for i in order] for r in rel.fetchall()]
    return [cols[i] for i in order], rows


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    import os
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(f"{out_dir}/{d}"))
    failed = sorted(k for k in oracle if k not in names)
    for name in failed:
        print(f"  ✗ {name}: no result dir (the query failed or was not dumped)")
    for name in names:
        got_rel = con.sql(f"select * from read_parquet('{out_dir}/{name}/*.parquet')")
        if name not in oracle:
            print(f"  ~ {name}: rows-only ({len(got_rel.fetchall())} rows, no oracle)")
            continue
        try:
            exp_rel = con.sql(oracle[name])
        except Exception as e:
            print(f"  ✗ {name}: oracle SQL failed: {e}")
            failed.append(name)
            continue
        gc, gr = frame(got_rel)
        ec, er = frame(exp_rel)
        if gc != ec:
            print(f"  ✗ {name}: column mismatch spark={gc} oracle={ec}")
            failed.append(name)
            continue
        # row order must match too (queries are written totally ordered)
        if gr == er:
            dt = dtype_mismatches(out_dir, name, con, oracle[name])
            if dt:
                print(f"  ✗ {name}: values match but DTYPES differ: {dt}")
                failed.append(name)
            else:
                print(f"  ✓ {name}: {len(gr)} rows")
            continue
        gs, es = sorted(gr), sorted(er)
        if gs == es:
            print(f"  ✗ {name}: values match but ORDER differs ({len(gr)} rows)")
        else:
            diffs = [(a, b) for a, b in zip(gs, es) if a != b][:3]
            print(f"  ✗ {name}: value mismatch ({len(gr)} vs {len(er)} rows); first diffs: {diffs}")
        failed.append(name)
    print(f"{'FAIL: ' + ','.join(failed) if failed else 'ALL MATCH'}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

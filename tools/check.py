#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs the
matching SQL from oracle_sql.json in DuckDB with the sfDir tables registered
as views, sorts columns by name and rows by value, and compares.

Fails closed: every query graft.Verify recorded as thrown in
verify_errors.json is a FAIL, and on a full run (no subset argument) so is
any query with no output dir. Subset runs skip the others, with the count
printed.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize ints to int64, floats to float64 where possible
    for c in df.columns:
        if str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def verify_errors(out_dir):
    """(errors, full_run) from graft.Verify's verify_errors.json: the map of
    queries that threw to their messages, and whether the run covered every
    query (no subset argument). A missing file fails: the dir is not a
    complete graft.Verify run."""
    path = f"{out_dir}/verify_errors.json"
    if not os.path.exists(path):
        sys.exit(f"FAIL: {path} missing -- not a complete graft.Verify run")
    doc = json.load(open(path))
    return doc["errors"], doc["subset"] is None


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    errors, full_run = verify_errors(out_dir)
    n_ok = n_bad = n_skip = 0
    for name, msg in sorted(errors.items()):
        print(f"FAIL {name}: graft.Verify threw: {msg}"); n_bad += 1
    for name, sql in sorted(oracle.items()):
        if name in errors:
            continue
        # graft.Verify always dumps the FULL oracle map (so a subset re-run
        # never truncates a full-sweep record); on a subset run a query
        # with no output DIR simply wasn't part of it — skip it, with a
        # visible count (a full run fails on any skip below). A dir that
        # exists but holds no parquet is still a FAIL (the query ran and
        # produced nothing / crashed mid-write).
        if not os.path.isdir(f"{out_dir}/{name}"):
            n_skip += 1; continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_bad += 1; continue
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        try:
            want = canon(con.sql(sql).df())
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_bad += 1; continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}")
            n_bad += 1; continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}"); n_bad += 1; continue
        eq = got.equals(want)
        if not eq:
            # tolerate dtype mismatch but exact values
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                              check_exact=True)
                eq = True
            except AssertionError as e:
                msg = str(e).split("\n")[0]
                print(f"FAIL {name}: values differ: {msg}")
                diff = got.compare(want) if got.shape == want.shape else None
                if diff is not None and len(diff):
                    print(diff.head(5))
        if eq:
            print(f"OK   {name} ({len(got)} rows)"); n_ok += 1
        else:
            n_bad += 1
    print(f"== {n_ok} ok, {n_bad} bad, {n_skip} skipped (no output dir) ==")
    if n_ok == 0:
        print("ZERO queries checked OK — wrong outDir or empty run; failing.")
    skip_fails = full_run and n_skip > 0
    if skip_fails:
        print(f"FULL run skipped {n_skip} queries (no output dir); failing.")
    sys.exit(1 if n_bad or n_ok == 0 or skip_fails else 0)

if __name__ == "__main__":
    main()

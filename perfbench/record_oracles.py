#!/usr/bin/env python3
"""Records the DuckDB oracle results the batch workload is checked against.

    python3 perfbench/record_oracles.py

Run once, from the root of a checkout, whenever BatchBench.Queries or the
fixture copy in perfbench/data/sf0.01 changes. It runs each query's oracle
SQL (graft.SparkEntry.oracleSql) in DuckDB over the fixture copy and
writes the canonical result (run.canon, the form tools/check.py compares)
to perfbench/data/oracle/<query>.parquet, plus the row counts in rows.json.
"""
import json
import os
import subprocess

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    classpath = run.build()
    sql_path = os.path.join(run.HERE, "work", "oracle_sql.json")
    subprocess.run(["java", "-cp", classpath, "perfbench.Main", "--dump-oracles", sql_path],
                   check=True, cwd=run.HERE)
    oracle = json.load(open(sql_path))
    data = os.path.join(run.HERE, "data", "sf0.01")
    out = os.path.join(run.HERE, "data", "oracle")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    rows = {}
    for name, sql in oracle.items():
        df = run.canon(con.sql(sql).df())
        df.to_parquet(os.path.join(out, f"{name}.parquet"), index=False)
        rows[name] = len(df)
        print(f"{name}: {len(df)} rows")
    with open(os.path.join(out, "rows.json"), "w") as fh:
        json.dump(rows, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()

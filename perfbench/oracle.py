#!/usr/bin/env python3
"""Derive the expected result digests of the `queries` workload from the
DuckDB oracle, once, and store them in perfbench/expected/queries.json.

Usage (from the root of a checkout): python3 perfbench/oracle.py

Builds the harness if needed, asks it for the oracle SQL of the timed
subset (perfbench.OracleSql, i.e. SparkEntry.oracleSql), runs each statement
in DuckDB over perfbench/data, and digests the rows the way results.py
digests the Spark results. Needs the duckdb Python module.
"""
import json
import os
import subprocess

import duckdb

import results
import run

DATA = os.path.join(run.BENCH, "data")
OUT = os.path.join(run.BENCH, "expected", "queries.json")


def main():
    run.build()
    with open(run.CLASSPATH) as f:
        cp = f.read().strip()
    sql = json.loads(subprocess.run(
        ["java", "-cp", cp, "perfbench.OracleSql"], check=True,
        stdout=subprocess.PIPE, text=True).stdout.strip().splitlines()[-1])
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(DATA, f)}')")
    expected = {}
    for name, q in sql.items():
        rows, digest = results.digest(con.execute(q).df())
        expected[name] = {"rows": rows, "sha256": digest}
        print(f"{name}: {rows} rows {digest}")
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(expected, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()

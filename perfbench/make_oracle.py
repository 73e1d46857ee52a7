#!/usr/bin/env python3
"""Freezes the digests the query workloads are checked against.

Usage (from the root of a checkout): python3 perfbench/make_oracle.py

For every workload query at its scale factor:
  1. runs the query's DuckDB oracle SQL (from the engine's registry) over
     perfbench/data/<sf>/ and digests the rows as tools/check.py compares
     them;
  2. runs the query in the engine once (the query workloads' warm pass),
     writing its result as Parquet and taking the Dataset.observe digest
     the timed executions also take;
  3. freezes the engine digest only if the Parquet result matches the
     DuckDB oracle. A query that does not match is reported and left out.

Writes perfbench/oracle/digests.json ({sf: {query: {"oracle", "rows",
"spark"}}}). Every run checks its warm pass's Parquet results against
"oracle" and every timed execution against "spark". Re-run only when the data or a query's oracle changes.
"""
import json
import os
import sys
import time

import duckdb

import metrics
import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    with open(os.path.join(run.BENCH, "workloads.json")) as fh:
        workloads = json.load(fh)
    wanted = {}
    for w in workloads.values():
        cfg = w["cfg"]
        for q in cfg.get("queries", []):
            name, _, sf = q.partition("@")
            wanted.setdefault(sf or cfg["sf"], set()).add(name)
    classpath = run.build()["classpath"]
    work = os.path.join(run.OUT, "work", "oracle")
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "oracle_sql.json")
    names = sorted(n for ns in wanted.values() for n in ns)
    rc = run.run_jvm(classpath, ["--workload", "oracle-sql", "--seed", "0", "--seconds", "0",
                                 "--work", work, "--out", out, "--data", "-",
                                 "--cfg.queries", ",".join(names)],
                     work, os.path.join(work, "log"), time.time() + 120)
    if rc != 0:
        raise SystemExit("could not read the oracle SQL")
    with open(out) as fh:
        sql = json.load(fh)
    specs = [f"{n}@{sf}" for sf, ns in sorted(wanted.items()) for n in sorted(ns)]
    res_path = os.path.join(work, "freeze.json")
    rc = run.run_jvm(classpath, ["--workload", "freeze", "--seed", "0", "--seconds", "0",
                                 "--work", work, "--out", res_path,
                                 "--data", os.path.join(run.BENCH, "data"),
                                 "--cfg.sf", "-", "--cfg.queries", ",".join(specs)],
                     work, os.path.join(work, "freeze.log"), time.time() + 3000)
    if rc != 0:
        raise SystemExit("engine run failed; see " + os.path.join(work, "freeze.log"))
    with open(res_path) as fh:
        spark_digests = json.load(fh)["digests"]
    digests = {}
    bad = 0
    for sf, ns in sorted(wanted.items()):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(run.BENCH, 'data', sf, t)}.parquet'")
        digests[sf] = {}
        for n in sorted(ns):
            t0 = time.time()
            rel = con.sql(sql[n])
            want, rows = metrics.digest_rows(con, rel)
            rel = con.sql(f"SELECT * FROM '{work}/results/{sf}/{n}/*.parquet'")
            got, _ = metrics.digest_rows(con, rel)
            if got != want:
                print(f"MISMATCH {sf} {n}: engine result differs from the DuckDB oracle",
                      file=sys.stderr)
                bad += 1
                continue
            digests[sf][n] = {"oracle": want, "rows": rows, "spark": spark_digests[f"{n}@{sf}"]}
            print(f"{sf} {n}: {rows} rows ({time.time() - t0:.1f} s)", file=sys.stderr)
    os.makedirs(os.path.join(run.BENCH, "oracle"), exist_ok=True)
    with open(os.path.join(run.BENCH, "oracle", "digests.json"), "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

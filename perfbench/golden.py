#!/usr/bin/env python3
"""Derives perfbench/golden.json: the expected result digest of every
workload query, computed once from the query's DuckDB oracle SQL over the
same input tables, plus the hashes of those tables.

    python3 perfbench/golden.py [--only q1,q2]

The harness first runs each query once (mode `golden`) so that queries whose
oracle reads files the query landed find them, and returns the oracle SQL
map as built against that landing root. Each oracle then runs in DuckDB; the
Spark result's digest is recorded beside it (`spark_agrees`). The expected
digest is always the oracle's. An oracle that does not finish within its
timeout (TIMEOUT_S) is recorded without a digest, so that query fails its
check in every run until a longer derivation supplies one. Queries listed in
workloads.json under `long_oracles` (brute-force pair joins) get
LONG_TIMEOUT_S. `--only` re-derives the named queries and keeps the other
entries of an existing golden.json.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

import build  # noqa: E402
import canon  # noqa: E402
import run  # noqa: E402

TIMEOUT_S = 120
LONG_TIMEOUT_S = 3600
DUCKDB_THREADS = 4


def oracle_digest(con, sql, timeout):
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        return canon.digest_sql(con, sql)
    finally:
        timer.cancel()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="")
    a = ap.parse_args()

    spec = json.loads((run.HERE / "workloads.json").read_text())
    queries = sorted({q for w in spec["workloads"].values() for q in w["queries"]})
    path = run.HERE / "golden.json"
    out = {}
    if a.only:
        out = json.loads(path.read_text())["queries"] if path.exists() else {}
        queries = sorted(a.only.split(","))
    long_oracles = set(spec.get("long_oracles", []))
    cp = build.build()
    run_dir = run.RUN_ROOT / ("golden-" + a.only.replace(",", "-") if a.only else "golden")
    shutil.rmtree(run_dir, ignore_errors=True)
    res = run.jvm(cp, "golden", run_dir, "golden", 3600, queries=",".join(queries))
    check_dir = run_dir / "golden" / "check"

    import duckdb
    con = canon.connect(run.DATA, run_dir / "duckdb-tmp", threads=DUCKDB_THREADS)
    for q in queries:
        entry = {}
        t0 = time.time()
        try:
            entry["digest"], entry["rows"] = oracle_digest(
                con, res["oracle_sql"][q],
                LONG_TIMEOUT_S if q in long_oracles else TIMEOUT_S)
        except Exception as e:  # noqa: BLE001 - recorded, never dropped
            entry["oracle_error"] = f"{type(e).__name__}: {e}"[:300]
        entry["oracle_s"] = round(time.time() - t0, 1)
        if q in res["check_errors"]:
            entry["spark_error"] = res["check_errors"][q]
        else:
            spark_digest, _ = canon.digest_parquet(con, check_dir / q)
            entry["spark_agrees"] = spark_digest == entry.get("digest")
        out[q] = entry
        print(q, json.dumps(entry), flush=True)

    golden = {
        "inputs": {p.name: run.sha256_file(p) for p in sorted(run.DATA.glob("*.parquet"))},
        "derived_with": {"duckdb": duckdb.__version__, "spark": res["spark"],
                         "src_sha256": build.tree_hash(build.sources()[0])},
        "queries": out,
    }
    path.write_text(json.dumps(golden, indent=1, sort_keys=True) + "\n")
    agree = sum(1 for e in out.values() if e.get("spark_agrees"))
    print(f"== {agree}/{len(out)} queries: Spark result matches the oracle digest")


if __name__ == "__main__":
    main()

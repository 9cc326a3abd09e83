#!/usr/bin/env python
"""Driver-style correctness gate, run locally.

Simulates what the round driver does: run ``entry(spark)`` as a smoke
check, then every ``queries()[name]`` at the given scale factor against
its ``oracle_sql()[name]`` via DuckDB — comparing row count, column
names, and an order-insensitive value fingerprint.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

# The recall probes ARE the correctness gate for the approximate
# queries - a stray SPARK_GRAFT_RECALL_PROBE=0 inherited from a bench
# shell must not vacuously green them (the oracle expects TRUE).
os.environ["SPARK_GRAFT_RECALL_PROBE"] = "1"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb
    from pyspark.sql import SparkSession

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from hbase_snapshotter_spark.testing import (
        compare,
        compare_types,
        register_duckdb_views,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    register_duckdb_views(con, sf_dir)

    n = entrymod.entry(spark).count()
    print(f"[smoke] entry() rows={n}", flush=True)

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"[rows-only] {name}: rows={len(srows)} ({spark_s:.1f}s)")
            continue
        t0 = time.time()
        rel = con.sql(oracles[name])
        ocols, otypes = list(rel.columns), list(rel.types)
        orows = rel.fetchall()
        duck_s = time.time() - t0
        ok, msg = compare(sdf.columns, srows, ocols, orows)
        type_issues = compare_types(sdf.dtypes, ocols, otypes)
        if ok and type_issues:
            ok, msg = False, f"dtype mismatch: {type_issues}"
        status = "OK" if ok else "FAIL"
        print(f"[{status}] {name}: rows {len(srows)}/{len(orows)} "
              f"(spark {spark_s:.1f}s, duckdb {duck_s:.1f}s)" + ("" if ok else f"\n    {msg}"))
        if not ok:
            failed.append(name)
    print("FAILED: " + ",".join(failed) if failed else "ALL OK")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())

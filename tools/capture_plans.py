#!/usr/bin/env python
"""Capture .explain('formatted') output for named queries into
plans/r13/<query>_<tag>.txt — the before/after evidence the
optimization round commits next to the code.

Usage: python tools/capture_plans.py <before|after> [query ...]
       (no query names = the round's touched-query list below)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

#: Queries examined this round (kept in sync with OPTIMIZATION_r13.md).
DEFAULT_QUERIES: list[str] = []


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:] or DEFAULT_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # plans must reflect the BENCH shape (audit lanes off), like the
    # timed path — oracle runs keep probes on separately
    os.environ.setdefault("SPARK_GRAFT_RECALL_PROBE", "0")

    from pyspark.sql import SparkSession

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from hbase_snapshotter_spark.queries.registry import SESSION_DEFAULTS
    from hbase_snapshotter_spark.testing import resolve

    builder = (
        SparkSession.builder.master("local[4]")
        .appName("capture-plans")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in SESSION_DEFAULTS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r13")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        query = resolve(name)
        fn = getattr(query, "__wrapped__", query)
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path} ({len(buf.getvalue())} chars)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python
"""Time a subset of queries with the bench methodology (noop sink,
min-of-reps, probes off) — the per-change A/B loop of the optimization
rounds without paying for the full three-section bench.

Usage: python tools/quick_bench.py [-r REPS] query [query ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
       SPARK_GRAFT_CPUS (default 32)
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    args = sys.argv[1:]
    reps = 3
    if args and args[0] == "-r":
        reps = int(args[1])
        args = args[2:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_RECALL_PROBE", "0")

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import bench as benchmod

    from hbase_snapshotter_spark.cache import release_caches
    from hbase_snapshotter_spark.testing import resolve, session

    spark = session("quick-bench")

    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir

    out = {}
    for name in names:
        query = resolve(name)
        fn = getattr(query, "__wrapped__", query)
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        fn(spark, warm_dir).write.mode("overwrite").format("noop").save()
        release_caches(keep_shared=True)
        best, best_cpu = float("inf"), float("inf")
        walls = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"{name}:rep{r}")
            c0 = benchmod._proc_cpu_s()
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            wall = time.time() - t0
            cpu = max(benchmod._proc_cpu_s() - c0, 0.0)
            walls.append(round(wall, 3))
            if wall < best:
                best, best_cpu = wall, cpu
            release_caches(keep_shared=True)
        out[name] = {"wall": round(best, 3), "cpu": round(best_cpu, 2),
                     "walls": walls}
        print(f"{name:35s} wall {best:7.3f}  cpu {best_cpu:8.2f}  "
              f"reps {walls}", flush=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

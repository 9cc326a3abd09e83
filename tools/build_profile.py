#!/usr/bin/env python
"""Time queries with the bench methodology (noop sink, min-of-reps,
probes off) and split each rep's wall into BUILD (Python plan
construction) vs EXECUTE (noop save of the prebuilt frame).  Prints the
per-rep wall (build + execute) and process-tree CPU minima next to the
split; optionally cProfiles the build to attribute it (py4j vs Python vs
analysis).

Usage: python tools/build_profile.py [-r REPS] [--cprofile] q [q ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
       SPARK_GRAFT_CPUS (default 32)
"""

from __future__ import annotations

import cProfile
import io
import json
import os
import pstats
import sys
import time


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("-r", "--reps", type=int, default=3)
    ap.add_argument("--cprofile", action="store_true")
    ap.add_argument("names", nargs="+", metavar="q")
    ns = ap.parse_args()
    reps = ns.reps
    do_prof = ns.cprofile
    names = ns.names
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_RECALL_PROBE", "0")

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import bench as benchmod

    from hbase_snapshotter_spark.cache import release_caches
    from hbase_snapshotter_spark.testing import resolve, session

    spark = session("build-profile")

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
        builds, execs, walls, cpus = [], [], [], []
        prof = cProfile.Profile() if do_prof else None
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"{name}:rep{r}")
            c0 = benchmod._proc_cpu_s()
            t0 = time.time()
            if prof is not None:
                prof.enable()
            df = fn(spark, sf_dir)
            if prof is not None:
                prof.disable()
            t1 = time.time()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.time()
            cpus.append(round(max(benchmod._proc_cpu_s() - c0, 0.0), 2))
            builds.append(round(t1 - t0, 3))
            execs.append(round(t2 - t1, 3))
            walls.append(round(t2 - t0, 3))
            release_caches(keep_shared=True)
        out[name] = {"wall": min(walls), "cpu": min(cpus),
                     "build": min(builds), "exec": min(execs),
                     "walls": walls, "cpus": cpus,
                     "builds": builds, "execs": execs}
        print(f"{name:35s} wall {min(walls):7.3f}  cpu {min(cpus):8.2f}"
              f"  build {min(builds):7.3f}  exec {min(execs):7.3f}"
              f"  walls {walls}  builds {builds}  execs {execs}",
              flush=True)
        if prof is not None:
            s = io.StringIO()
            ps = pstats.Stats(prof, stream=s).sort_stats("cumulative")
            ps.print_stats(18)
            print(s.getvalue())
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

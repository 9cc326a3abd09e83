"""The benchmark's one SparkSession builder and its process-tree CPU clock."""

from __future__ import annotations

import os

#: Driver heap: the job's working set is a few hundred MB, and the machine
#: the benchmark was sized on has 15 GB shared with other tenants.
DRIVER_MEMORY = "3g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def build(work_dir: str, *, event_log_dir: str | None = None):
    """``local[cores]`` session whose scratch space (warehouse, shuffle
    files, JVM temp files, event log) lives under ``work_dir``.  The
    warehouse directory is fresh per process: with the in-memory catalog a
    second process overwriting the same table would fail with
    ``LOCATION_ALREADY_EXISTS`` (see README.md)."""
    from pyspark.sql import SparkSession

    from hbase_snapshotter_spark.queries.registry import SESSION_DEFAULTS

    n = cores()
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.sql.shuffle.partitions": str(2 * n),
        "spark.driver.memory": DRIVER_MEMORY,
        # no hsperfdata files outside the work directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        **SESSION_DEFAULTS,
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            # Spark 4 compresses event logs with zstd by default
            "spark.eventLog.compress": "false",
        })
    builder = SparkSession.builder.master(f"local[{n}]").appName("perfbench")
    for key, value in confs.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def proc_tree_cpu_s() -> float:
    """utime+stime of this process and every live descendant (the JVM and
    the Python workers), plus the cutime/cstime each has collected from
    reaped children, so a worker that exits between two reads keeps its
    CPU in the total."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0.0
    seen: set[str] = set()
    frontier = {str(os.getpid())}
    while frontier:
        pid = frontier.pop()
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(f) for f in fields[11:15]) / tick
            for task in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{task}/children") as fh:
                    frontier.update(c for c in fh.read().split() if c not in seen)
        except OSError:  # the process ended while being read
            continue
    return total

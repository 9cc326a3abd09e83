#!/usr/bin/env python3
"""End-to-end benchmark of the snapshot job (``pipeline.run_snapshot``).

    python3 perfbench/run.py --workload snapshot_history --seed 1 --seconds 15 --trace 0

One closed-loop client in one process on ``local[cores]``: each op loads the
JSON config and runs the snapshot into the warehouse, and the written table
is checked against a DuckDB as-of snapshot outside the timed region.  With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` Spark's event log is on, every layer call is a span, and the
last line carries the per-layer metrics (a per-op ledger is written under
``.perfbench/ledger/``).  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("snapshot_history", "snapshot_initial_load")
SETUP_REPS = 7     # setup_s is their median; the first also starts the JVM
WARMUP_OPS = 4     # warm ops after the cold op that are run and checked, not timed
MIN_TIMED_OPS = 3

UNITS = {"setup_s": "s", "cold_op_s": "s", "op_s_p50": "s", "cpu_s_per_op": "s"}
LAYER_UNITS = {
    "config.load_s": "s", "plans.schema.resolve_s": "s", "plans.schema.jobs": "count",
    "operators.snapshot.build_s": "s", "driver.idle_s": "s",
    "sources.scan.task_s": "s", "sources.scan.cpu_s": "s", "sources.scan.rows": "count",
    "sources.pyds.regions_read": "count", "sources.pyds.regions_total": "count",
    "sources.pyds.regions_pruned_ratio": "ratio",
    "operators.snapshot.agg.task_s": "s", "operators.snapshot.shuffle_write_bytes": "bytes",
    "operators.snapshot.shuffle_read_bytes": "bytes", "operators.snapshot.reduction_ratio": "ratio",
    "sources.warehouse.write_s": "s", "sources.warehouse.task_s": "s",
    "sources.warehouse.bytes_written": "bytes", "sources.warehouse.files_written": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count", "spark.gc_s": "s",
    "spark.spill_bytes": "bytes", "spark.peak_exec_memory_mb": "MB", "spark.busy_ratio": "ratio",
    "spark.task_skew": "ratio", "ledger.coverage": "ratio", "trace.op_s_p50": "s",
    "cold.operators.snapshot.build_s": "s", "cold.driver.idle_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="how long the timed warm ops run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the small JVM spark-submit starts to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


class Run:
    """One benchmark process: set-up, the cold op, warm ops, checks."""

    def __init__(self, args, manifest: dict, work: str) -> None:
        self.args = args
        self.manifest = manifest
        self.work = work
        self.table_dir = os.path.join(work, "warehouse", args.workload)
        self.event_log_dir = os.path.join(work, "events") if args.trace else None
        self.spark = None
        self.tracer = None
        self.ops: list[dict] = []

    def setup(self) -> list[float]:
        import session
        from hbase_snapshotter_spark.sources import pyds

        times = []
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = session.build(self.work, event_log_dir=self.event_log_dir)
            if self.manifest["format"] == "changelog":
                pyds.register(self.spark)
            times.append(time.perf_counter() - t0)
        if self.args.trace:
            import ledger

            self.tracer = ledger.Tracer(self.spark.sparkContext)
            self.undo = ledger.instrument(self.tracer)
        return times

    def op(self, oracle) -> dict:
        """Run one snapshot; time it, then check the written table."""
        import session
        from hbase_snapshotter_spark.config import SnapshotSettings
        from hbase_snapshotter_spark.pipeline import run_snapshot

        rec = {"n": len(self.ops), "error": None, "span": None}
        cpu0 = session.proc_tree_cpu_s()
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                run_snapshot(self.spark, SnapshotSettings.from_json(self.manifest["config"]))
            else:
                with self.tracer.span("op") as root:
                    rec["span"] = root["id"]
                    with self.tracer.span("config.load"):
                        settings = SnapshotSettings.from_json(self.manifest["config"])
                    with self.tracer.span("pipeline.run_snapshot"):
                        run_snapshot(self.spark, settings)
        except Exception:  # a failed op is counted, and the loop goes on
            rec["error"] = traceback.format_exc(limit=3)
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = max(session.proc_tree_cpu_s() - cpu0, 0.0)
        if rec["error"] is None:
            rec["error"] = oracle.check(self.table_dir)
        if rec["error"] is None:
            rec["files"] = len([f for f in os.listdir(self.table_dir) if f.endswith(".parquet")])
        if rec["error"]:
            print(f"op {rec['n']} failed: {rec['error']}", file=sys.stderr)
        self.ops.append(rec)
        return rec

    def close(self) -> None:
        import session

        if self.spark is not None:
            if self.tracer is not None:
                self.undo()
            self.app_id = self.spark.sparkContext.applicationId
            session.shutdown(self.spark)
            self.spark = None


def layer_metrics(run: Run, oracle, timed: list[dict]) -> tuple[dict, list[dict]]:
    """Per-layer metrics (medians over the timed ops; ``cold.*`` from the
    cold op) and the per-op ledger rows."""
    import session
    import ledger

    log = ledger.read_event_log(run.event_log_dir, run.app_id)
    rows = []
    for rec in run.ops:
        if rec["span"] is None or rec["error"]:
            continue
        led = ledger.op_ledger(rec["span"], run.tracer.spans, log,
                              wall_s=rec["wall_s"], cores=session.cores())
        m = led["metrics"]
        regions_total = run.manifest["regions"] if run.manifest["format"] == "changelog" else 0
        regions_read = led["scan_tasks"] if regions_total else 0
        m.update({
            "sources.pyds.regions_read": regions_read,
            "sources.pyds.regions_total": regions_total,
            "sources.pyds.regions_pruned_ratio":
                1 - regions_read / regions_total if regions_total else 0.0,
            "operators.snapshot.reduction_ratio": oracle.latest_cells / oracle.cells_in,
            "sources.warehouse.files_written": rec["files"],
        })
        rows.append({"op": rec["n"], "wall_s": rec["wall_s"], "self_s": led["self_s"],
                     "metrics": m})
    by_op = {r["op"]: r["metrics"] for r in rows}
    timed_rows = [by_op[r["n"]] for r in timed if r["n"] in by_op]
    if not timed_rows or 0 not in by_op:
        raise RuntimeError("no traced op to build the ledger from")
    out = {k: statistics.median(float(r[k]) for r in timed_rows) for k in timed_rows[0]}
    out["trace.op_s_p50"] = statistics.median(r["wall_s"] for r in timed)
    out["cold.operators.snapshot.build_s"] = by_op[0]["operators.snapshot.build_s"]
    out["cold.driver.idle_s"] = by_op[0]["driver.idle_s"]
    return out, rows


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hbase_snapshotter_spark")):
        print(f"perfbench: package hbase_snapshotter_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(STATE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    sys.path.insert(0, HERE)
    import gen
    import oracle as oracle_mod

    try:
        manifest = gen.inputs(os.path.join(STATE, "inputs"), args.workload, args.seed)
        oracle = oracle_mod.Oracle(manifest, os.path.join(work, "duckdb"))
        result, detail = measure(args, manifest, oracle, work)
        oracle.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


def measure(args, manifest: dict, oracle, work: str) -> tuple[dict, dict]:
    """Set up, run the cold, warm-up and timed ops; returns the result line
    and a detail record."""
    run = Run(args, manifest, work)
    try:
        setup_s = run.setup()
        cold = run.op(oracle)
        for _ in range(WARMUP_OPS):
            run.op(oracle)
        timed = []
        deadline = time.perf_counter() + args.seconds
        while len(timed) < MIN_TIMED_OPS or time.perf_counter() < deadline:
            timed.append(run.op(oracle))
    finally:
        run.close()
    ok = [r for r in timed if not r["error"]]
    if not ok:
        raise RuntimeError("every timed op failed")
    failed = sum(1 for r in run.ops if r["error"])
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "attempted": len(run.ops), "failed": failed,
        "failed_ratio": failed / len(run.ops),
        "timed_ops": len(timed), "expected_rows": oracle.rows,
        "op_s": [round(r["wall_s"], 4) for r in run.ops],
        "cpu_s": [round(r["cpu_s"], 3) for r in run.ops],
        "setup_s": [round(s, 4) for s in setup_s],
    }
    if args.trace:
        metrics, rows = layer_metrics(run, oracle, ok)
        ledger_dir = os.path.join(STATE, "ledger")
        os.makedirs(ledger_dir, exist_ok=True)
        path = os.path.join(ledger_dir, f"{args.workload}-s{args.seed}.jsonl")
        with open(path, "w") as fh:
            for row in rows:
                fh.write(json.dumps(row, sort_keys=True) + "\n")
        detail["ledger"] = os.path.relpath(path, ROOT)
        detail["ledger_coverage"] = [round(r["metrics"]["ledger.coverage"], 4) for r in rows]
        off = [r["op"] for r in rows if abs(r["metrics"]["ledger.coverage"] - 1) > 0.1]
        if off:
            raise RuntimeError(f"layer self times of ops {off} are more than 10 % off their wall time")
        units = LAYER_UNITS
    else:
        metrics = {
            "setup_s": statistics.median(setup_s),
            "cold_op_s": cold["wall_s"],
            "op_s_p50": statistics.median(r["wall_s"] for r in ok),
            "cpu_s_per_op": statistics.median(r["cpu_s"] for r in ok),
        }
        units = UNITS
    result = {
        "correct": failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return result, detail


if __name__ == "__main__":
    sys.exit(main())

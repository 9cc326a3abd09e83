"""Benchmark-side tracing: spans around the package's layer calls, Spark's
own event log, and the per-op layer ledger built from both.

Each span sets the Spark job group to its own id, so every job the event
log records names the innermost span that submitted it.  The ledger then
splits an op's wall time into layer self times: while a stage runs, the
time belongs to the layer of the most recently submitted running stage;
otherwise it belongs to the innermost open span (driver-side work).  The
pieces partition the op's window, so their sum is checked against the
op's separately measured wall time.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time

GROUP_PREFIX = "perfbench:"

# Stage kinds of the job the write span submits (the snapshot's action).
SCAN, AGG, WRITE = "sources.scan", "operators.snapshot.agg", "sources.warehouse"


class Tracer:
    """Spans (name, parent, start, end) kept in memory for one run."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[int] = []

    def _group(self) -> None:
        if self._open:
            sid = self._open[-1]
            self.sc.setJobGroup(GROUP_PREFIX + str(sid), self.spans[sid]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._open[-1] if self._open else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._open.append(sid)
        self._group()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self._group()

    def wrap(self, owner, attr: str, name: str):
        """Record a span around every call of ``owner.attr``; returns the
        undo callable.  A missing attribute is skipped, so a refactor of the
        package moves that layer's time into its caller's self time instead
        of breaking the traced run."""
        original = owner.__dict__.get(attr)
        if original is None:
            return lambda: None

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, original)


def instrument(tracer: Tracer):
    """Wrap the layer entry points ``pipeline.run_snapshot`` calls; returns
    a callable that restores them."""
    import hbase_snapshotter_spark.pipeline as pipeline
    from hbase_snapshotter_spark.config import SnapshotSettings
    from hbase_snapshotter_spark.sources import pyds

    undo = [
        tracer.wrap(pyds, "register", "sources.pyds.register"),
        tracer.wrap(pipeline, "read_changelog", "sources.changelog.read"),
        tracer.wrap(SnapshotSettings, "resolve_schema", "plans.schema.resolve"),
        tracer.wrap(pipeline, "snapshot_as_of", "operators.snapshot.build"),
        tracer.wrap(pipeline, "write_snapshot", "sources.warehouse.write"),
    ]

    def restore() -> None:
        for u in reversed(undo):
            u()

    return restore


def read_event_log(event_log_dir: str, app_id: str) -> dict:
    """Jobs, completed stages and task metrics of one application's
    uncompressed event log (a single file, or a rolling ``eventlog_v2_``
    directory)."""
    paths = sorted(glob.glob(os.path.join(event_log_dir, f"eventlog_v2_{app_id}", "events_*")))
    if not paths:
        paths = glob.glob(os.path.join(event_log_dir, app_id))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} under {event_log_dir}")
    jobs, stages, tasks = {}, {}, {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jobs[ev["Job ID"]] = {"group": group, "stages": ev["Stage IDs"]}
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages[info["Stage ID"]] = {
                        "start": info["Submission Time"] / 1000,
                        "end": info["Completion Time"] / 1000}
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(ev["Stage ID"], []).append(ev["Task Metrics"])
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _stage_totals(metrics: list[dict]) -> dict:
    def total(get):
        return sum(get(m) for m in metrics)

    return {
        "tasks": len(metrics),
        "run_s": total(lambda m: m["Executor Run Time"]) / 1000,
        "run_times": [m["Executor Run Time"] / 1000 for m in metrics],
        "cpu_s": total(lambda m: m["Executor CPU Time"]) / 1e9,
        "gc_s": total(lambda m: m["JVM GC Time"]) / 1000,
        "spill": total(lambda m: m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]),
        "peak_mem": max((m["Peak Execution Memory"] for m in metrics), default=0),
        "input_rows": total(lambda m: m["Input Metrics"]["Records Read"]),
        "shuffle_read": total(lambda m: m["Shuffle Read Metrics"]["Local Bytes Read"]
                              + m["Shuffle Read Metrics"]["Remote Bytes Read"]),
        "shuffle_write": total(lambda m: m["Shuffle Write Metrics"]["Shuffle Bytes Written"]),
        "output_bytes": total(lambda m: m["Output Metrics"]["Bytes Written"]),
        "output_rows": total(lambda m: m["Output Metrics"]["Records Written"]),
    }


def _write_stage_kind(t: dict) -> str:
    if t["output_bytes"] or t["output_rows"]:
        return WRITE
    if t["shuffle_read"]:
        return AGG
    return SCAN


def op_ledger(op_id: int, spans: list[dict], log: dict, *, wall_s: float,
              cores: int) -> dict:
    """Layer metrics and self-time ledger of the op whose root span is
    ``op_id``."""
    root = spans[op_id]
    mine = {op_id}
    for s in spans[op_id + 1:]:
        if s["parent"] in mine:
            mine.add(s["id"])
    by_name = {spans[i]["name"]: spans[i] for i in mine}

    # completed stages of this op's jobs, each with the span that ran it
    stage_span: dict[int, int] = {}
    n_jobs = 0
    span_jobs: dict[str, int] = {}
    for job in sorted(log["jobs"]):
        group = log["jobs"][job]["group"]
        if not group.startswith(GROUP_PREFIX):
            continue
        sid = int(group[len(GROUP_PREFIX):])
        if sid not in mine:
            continue
        n_jobs += 1
        span_jobs[spans[sid]["name"]] = span_jobs.get(spans[sid]["name"], 0) + 1
        for st in log["jobs"][job]["stages"]:
            if st in log["stages"] and st not in stage_span:
                stage_span[st] = sid
    totals = {st: _stage_totals(log["tasks"].get(st, [])) for st in stage_span}
    layer = {}
    for st, sid in stage_span.items():
        name = spans[sid]["name"]
        layer[st] = _write_stage_kind(totals[st]) if name == "sources.warehouse.write" else name

    # sweep the op window: stage time to the newest running stage, the
    # rest to the innermost open span
    lo, hi = root["start"], root["end"]
    cuts = {lo, hi}
    for i in mine:
        cuts.update((spans[i]["start"], spans[i]["end"]))
    for st in stage_span:
        cuts.update(min(max(t, lo), hi) for t in (log["stages"][st]["start"], log["stages"][st]["end"]))
    cuts = sorted(cuts)
    self_s: dict[str, float] = {}
    busy = 0.0
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        running = [st for st in stage_span
                   if log["stages"][st]["start"] <= mid < log["stages"][st]["end"]]
        if running:
            newest = max(running, key=lambda st: (log["stages"][st]["start"], st))
            key = layer[newest]
            busy += b - a
        else:
            open_spans = [i for i in mine if spans[i]["start"] <= mid < spans[i]["end"]]
            key = spans[max(open_spans)]["name"] + ".driver"  # the root is always open
        self_s[key] = self_s.get(key, 0.0) + (b - a)

    def kind_sum(kind: str, field: str) -> float:
        return sum(totals[st][field] for st in stage_span if layer[st] == kind)

    def span_s(name: str) -> float:
        s = by_name.get(name)
        return s["end"] - s["start"] if s else 0.0

    heavy = max(totals.values(), key=lambda t: t["run_s"], default=None)
    skew = 0.0
    if heavy and heavy["run_times"] and statistics.median(heavy["run_times"]) > 0:
        skew = max(heavy["run_times"]) / statistics.median(heavy["run_times"])
    return {
        "metrics": {
            "config.load_s": span_s("config.load"),
            "plans.schema.resolve_s": span_s("plans.schema.resolve"),
            "plans.schema.jobs": span_jobs.get("plans.schema.resolve", 0),
            "operators.snapshot.build_s": span_s("operators.snapshot.build"),
            "driver.idle_s": (hi - lo) - busy,
            "sources.scan.task_s": kind_sum(SCAN, "run_s"),
            "sources.scan.cpu_s": kind_sum(SCAN, "cpu_s"),
            "sources.scan.rows": kind_sum(SCAN, "input_rows"),
            "operators.snapshot.agg.task_s": kind_sum(AGG, "run_s"),
            "operators.snapshot.shuffle_write_bytes": sum(
                kind_sum(k, "shuffle_write") for k in (SCAN, AGG, WRITE)),
            "operators.snapshot.shuffle_read_bytes": sum(
                kind_sum(k, "shuffle_read") for k in (SCAN, AGG, WRITE)),
            "sources.warehouse.write_s": span_s("sources.warehouse.write"),
            "sources.warehouse.task_s": kind_sum(WRITE, "run_s"),
            "sources.warehouse.bytes_written": kind_sum(WRITE, "output_bytes"),
            "spark.jobs": n_jobs,
            "spark.stages": len(stage_span),
            "spark.tasks": sum(t["tasks"] for t in totals.values()),
            "spark.gc_s": sum(t["gc_s"] for t in totals.values()),
            "spark.spill_bytes": sum(t["spill"] for t in totals.values()),
            "spark.peak_exec_memory_mb": max((t["peak_mem"] for t in totals.values()),
                                             default=0) / 2 ** 20,
            "spark.busy_ratio": sum(t["run_s"] for t in totals.values()) / (wall_s * cores),
            "spark.task_skew": skew,
            "ledger.coverage": sum(self_s.values()) / wall_s,
        },
        "self_s": self_s,
        "scan_tasks": kind_sum(SCAN, "tasks"),
    }

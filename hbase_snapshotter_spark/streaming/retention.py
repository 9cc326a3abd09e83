"""The one foreachBatch state maintainer (:class:`StateMaintainer`) and
its bounded batch-dir retention (:class:`BatchDirCompactor`).

Every streaming state family writes one ``batch=<id>`` directory per
micro-batch through :class:`StateMaintainer`, which owns the
exactly-once protocol.  Layout under a maintainer root::

    batch=<id>/<sub>/...      the batch's tables, one named subdir each
    batch=<id>/_DONE          batch complete (lands last)
    compact=<wm>/<sub>/...    ONE merged generation of the history
                              tables of every completed batch id <= wm
    compact=<wm>/_DONE        generation complete (lands last)

``process_batch`` returns at once when the batch id is compacted or its
``_DONE`` exists, so a re-delivered batch changes no bytes.  Otherwise
it runs the family's ``step``, which writes its tables through
``write(sub, df)`` (returning the re-read table), lands ``_DONE``, then
compacts.  A crash before ``_DONE`` leaves a dir that every read and
the compactor ignore; the re-delivered batch re-runs whole and
overwrites its tables.

Two reads serve every family:

- ``latest(spark, sub)``: ``sub`` of the newest complete batch dir (a
  full state, a running summary, an open-session buffer);
- ``history(spark, sub)``: the union of ``sub`` over the generation and
  every complete live dir (appended verdicts, per-batch histograms,
  seen keys).

A step that writes no rows for a table may skip its write; both reads
and the compactor skip a missing subdir.

Families:

- **full state** (``topk_stream.topk_apply``,
  ``sketch_stream.sketch_apply``, ``frontier_stream.frontier_apply``,
  ``session_stream.session_apply``, ``index_stream.bm25_feed_apply`` /
  ``pq_feed_apply`` / ``graph_feed_apply``): ``apply(prior | None,
  batch) -> new full state`` closures, run through
  :func:`full_state_step`.  Each batch dir holds the whole ``state``, so
  retention deletes expired dirs outright (no history tables: the
  generation holds just ``_DONE``; every newer state subsumes them);
- **union read** (``ewma_stream.ewma_step``, ``drift_stream.drift_step``,
  ``freq_stream.heavy_hitters_step``, ``funnel_stream.funnel_step``,
  ``novelty_stream.novelty_step``, ``neardup_stream.neardup_step``):
  each factory returns the maintainer keywords: its ``step``, the
  ``history`` tables retention carries into the generation and, for
  drift, the lossless ``aggregate`` pre-merge.  Family reads beyond
  ``latest``/``history`` are module functions next to each step.

Retention applies the N40 compaction economics to batch dirs: the
directory COUNT would otherwise grow without bound over months of
micro-batches (every history read lists and opens O(# batches) dirs).
Periodically the dirs older than the retention window merge into ONE
``compact=<wm>`` generation and are deleted.  Invariants:

- **Reads are unchanged**: ``table_dirs(sub)`` = the newest complete
  generation + every live completed batch dir with id > watermark —
  their union holds exactly the rows of all completed batches (an
  optional per-table ``aggregate`` may pre-merge rows whose consumers
  re-aggregate anyway, e.g. bucket-sum histograms — lossless by the
  N58/N65 argument).
- **Re-delivery stays a no-op**: batch ids never repeat after the
  compaction watermark (Spark batch ids are monotone), so
  ``is_compacted(batch_id)`` guards exactly where ``_DONE`` did; a
  re-delivered compacted batch changes no bytes.
- **Crash-safe**: the generation is built in a temp dir, ``_DONE``
  lands last, and the atomic rename publishes it; old generations and
  expired batch dirs are deleted only AFTER publication, and a crash
  between publication and cleanup is healed by the next compaction
  (stale generations are swept, expired dirs sit at <= watermark and
  are ignored by every reader).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hbase_snapshotter_spark.streaming.windows import start_foreach_batch

ApplyFn = Callable[[DataFrame | None, DataFrame], DataFrame]
WriteFn = Callable[[str, DataFrame], DataFrame]
StepFn = Callable[["StateMaintainer", DataFrame, int, WriteFn], None]


class BatchDirCompactor:
    """Retention policy over one maintainer root directory.

    ``subtables``: the per-batch tables to carry into the generation.
    ``retention``: live completed batch dirs to keep out of the
    generation (>= 1 so latest-state readers keep a live dir);
    ``None``/``0`` turns :meth:`compact` into a no-op.
    ``aggregate``: optional ``{subtable: df -> df}`` pre-merge applied
    when building the generation — only for tables whose consumers
    re-aggregate (lossless merges).
    """

    def __init__(self, root: str, *, subtables: tuple[str, ...] = (),
                 retention: int | None = None,
                 aggregate: dict[str, Callable[[DataFrame], DataFrame]]
                 | None = None):
        if retention is not None and retention < 0:
            raise ValueError(f"retention must be >= 0, got {retention}")
        self.root = root
        self.subtables = tuple(subtables)
        self.retention = retention
        self.aggregate = aggregate or {}

    def _entries(self, prefix: str) -> list[tuple[int, str]]:
        out = []
        for d in os.listdir(self.root):
            if d.startswith(prefix):
                try:
                    out.append((int(d.split("=", 1)[1]),
                                os.path.join(self.root, d)))
                except ValueError:
                    continue
        return sorted(out)

    def _generations(self) -> list[tuple[int, str]]:
        return [(i, p) for i, p in self._entries("compact=")
                if os.path.exists(os.path.join(p, "_DONE"))]

    def watermark(self) -> int:
        """Highest batch id inside the newest complete generation
        (-1 when none)."""
        gens = self._generations()
        return gens[-1][0] if gens else -1

    def is_compacted(self, batch_id: int) -> bool:
        return batch_id <= self.watermark()

    def _live_done(self) -> list[tuple[int, str]]:
        wm = self.watermark()
        return [(i, p) for i, p in self._entries("batch=")
                if i > wm and os.path.exists(os.path.join(p, "_DONE"))]

    def live_done_dirs(self) -> list[str]:
        """Completed batch dirs past the watermark, id order."""
        return [p for _, p in self._live_done()]

    def table_dirs(self, sub: str) -> list[str]:
        """Every parquet dir holding subtable ``sub``: the newest
        generation + live completed batch dirs (each if it has one)."""
        bases = [p for _, p in self._generations()[-1:]]
        bases += self.live_done_dirs()
        return [p for p in (os.path.join(b, sub) for b in bases)
                if os.path.exists(p)]

    def compact(self, spark: SparkSession) -> int:
        """Fold completed batch dirs beyond the retention window into a
        new generation; returns how many batch dirs were folded."""
        if not self.retention:
            return 0
        wm = self.watermark()
        # Heal earlier crashes FIRST (a crash between generation publish
        # and the deletion loop below leaves batch dirs at ids <= the
        # watermark, which no reader consults and — without this sweep —
        # no later compaction would ever delete, silently unbounding the
        # directory count; likewise a __compact_tmp=<wm'> from a crash
        # before publish would only be removed if wm' exactly recurred).
        for i, p in self._entries("batch="):
            if i <= wm:
                shutil.rmtree(p, ignore_errors=True)
        for d in os.listdir(self.root):
            if d.startswith("__compact_tmp"):
                shutil.rmtree(os.path.join(self.root, d),
                              ignore_errors=True)
        expired = self._live_done()[:-self.retention]
        if not expired:
            return 0
        new_wm = expired[-1][0]
        gens = self._entries("compact=")  # incl. incomplete/stale
        tmp = os.path.join(self.root, f"__compact_tmp={new_wm}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        # subtables may be empty (full-state maintainers retain by
        # deletion only) — the generation dir then holds just _DONE
        os.makedirs(tmp, exist_ok=True)
        bases = [p for _, p in self._generations()[-1:] + expired]
        for sub in self.subtables:
            srcs = [p for p in (os.path.join(b, sub) for b in bases)
                    if os.path.exists(p)]
            if not srcs:
                continue
            df = spark.read.parquet(*srcs)
            agg = self.aggregate.get(sub)
            if agg is not None:
                df = agg(df)
            df.write.mode("overwrite").parquet(os.path.join(tmp, sub))
        with open(os.path.join(tmp, "_DONE"), "w") as fh:
            fh.write("")
        final = os.path.join(self.root, f"compact={new_wm}")
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        # publication done — cleanup is safe to lose to a crash (the
        # next compaction re-sweeps anything stale)
        for _, p in expired:
            shutil.rmtree(p, ignore_errors=True)
        for _, p in gens:
            if p != final:
                shutil.rmtree(p, ignore_errors=True)
        return len(expired)


class StateMaintainer:
    """foreachBatch sink running one family's ``step(maintainer, batch,
    batch_id, write)`` per micro-batch under ``root/batch=<id>``,
    ``_DONE`` last.  ``history`` names the tables retention carries into
    the generation; ``aggregate`` is their optional lossless
    pre-merge."""

    def __init__(self, root: str, step: StepFn, *,
                 history: tuple[str, ...] = (),
                 aggregate: dict[str, Callable[[DataFrame], DataFrame]]
                 | None = None,
                 retention: int | None = None):
        self.root = root
        self.step = step
        self._compactor = BatchDirCompactor(
            root, subtables=history, retention=retention,
            aggregate=aggregate)
        os.makedirs(root, exist_ok=True)

    def latest(self, spark: SparkSession, sub: str) -> DataFrame | None:
        """``sub`` of the newest complete batch dir."""
        done = self._compactor.live_done_dirs()
        if not done or not os.path.exists(os.path.join(done[-1], sub)):
            return None
        return spark.read.parquet(os.path.join(done[-1], sub))

    def history(self, spark: SparkSession, sub: str) -> DataFrame | None:
        """``sub`` over the generation and every complete live dir."""
        dirs = self._compactor.table_dirs(sub)
        return spark.read.parquet(*dirs) if dirs else None

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        out = os.path.join(self.root, f"batch={batch_id}")
        if self._compactor.is_compacted(batch_id) \
                or os.path.exists(os.path.join(out, "_DONE")):
            return  # re-delivered batch: the step must not re-run

        def write(sub: str, df: DataFrame) -> DataFrame:
            path = os.path.join(out, sub)
            df.write.mode("overwrite").parquet(path)
            return spark.read.schema(df.schema).parquet(path)

        self.step(self, batch, batch_id, write)
        # _DONE lands last: a crash mid-step leaves the dir incomplete
        # and the batch re-delivers cleanly
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, "_DONE"), "w") as fh:
            fh.write("")
        self._compactor.compact(spark)


def full_state_step(apply: ApplyFn) -> StepFn:
    """Step for a full-state family: ``apply(prior | None, batch)``
    advances the newest complete ``state`` table."""

    def step(m: StateMaintainer, batch: DataFrame, batch_id: int,
             write: WriteFn) -> None:
        write("state", apply(m.latest(batch.sparkSession, "state"), batch))

    return step


def maintain_state(stream_df: DataFrame, root: str, step: StepFn, *,
                   history: tuple[str, ...] = (),
                   aggregate: dict[str, Callable[[DataFrame], DataFrame]]
                   | None = None,
                   retention: int | None = None, **start_kwargs):
    """Start a maintenance query.  Returns (StreamingQuery,
    StateMaintainer)."""
    maintainer = StateMaintainer(root, step, history=history,
                                 aggregate=aggregate, retention=retention)
    query = start_foreach_batch(
        stream_df, maintainer.process_batch, **start_kwargs)
    return query, maintainer

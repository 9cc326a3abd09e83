"""Bounded state-dir retention for the foreachBatch maintainer family,
and the family's one full-state maintainer (:class:`StateMaintainer`).

Every maintainer (:class:`StateMaintainer` and the union-read ones in
`ewma_stream`, `drift_stream`, `freq_stream`, `funnel_stream`,
`neardup_stream`, `novelty_stream`) writes one ``batch=<id>``
directory per micro-batch —
idempotent and restart-safe, but the directory COUNT grows without
bound over months of micro-batches (every read lists and opens O(#
batches) dirs, and small-file pressure grows with it).  This module
applies the N40 compaction economics to batch dirs: periodically merge
the dirs older than the retention window into ONE ``compact=<wm>``
generation, then delete them — bounded directory count, identical
reads.

Layout under a maintainer root::

    batch=<id>/<sub>/...      live per-batch tables (unchanged)
    compact=<wm>/<sub>/...    ONE merged generation: every completed
                              batch id <= wm
    compact=<wm>/_DONE        generation complete (lands last)

Invariants:

- **Reads are unchanged**: ``table_dirs(sub)`` = the newest complete
  generation + every live completed batch dir with id > watermark —
  their union holds exactly the rows of all completed batches (an
  optional per-subtable ``aggregate`` may pre-merge rows whose
  consumers re-aggregate anyway, e.g. bucket-sum histograms — lossless
  by the N58/N65 argument).
- **Re-delivery stays a no-op**: batch ids never repeat after the
  compaction watermark (Spark batch ids are monotone), so maintainers
  guard ``is_compacted(batch_id)`` exactly where they guarded the
  per-dir done marker; a re-delivered compacted batch changes no
  bytes.
- **Crash-safe**: the generation is built in a temp dir, ``_DONE``
  lands last, and the atomic rename publishes it; old generations and
  expired batch dirs are deleted only AFTER publication, and a crash
  between publication and cleanup is healed by the next compaction
  (stale generations are swept, expired dirs sit at <= watermark and
  are ignored by every reader).

Full-state maintainers hold the WHOLE advanced state in every batch
dir, so a read touches only the newest complete dir and retention
deletes expired dirs outright (``subtables=()``: the generation holds
just ``_DONE``; every newer state subsumes them).  One class serves
them all: :class:`StateMaintainer` takes an ``apply(prior | None,
batch) -> new full state`` closure, and each state family ships its
closure beside its docstring (``topk_stream.topk_apply``,
``sketch_stream.sketch_apply``, ``frontier_stream.frontier_apply``,
``session_stream.session_apply``, ``index_stream.bm25_feed_apply`` /
``pq_feed_apply`` / ``graph_feed_apply``).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hbase_snapshotter_spark.streaming.windows import start_foreach_batch

ApplyFn = Callable[[DataFrame | None, DataFrame], DataFrame]


class BatchDirCompactor:
    """Retention policy over one maintainer root directory.

    ``subtables``: the per-batch table sub-paths to carry into the
    generation (``""`` means the batch dir itself IS the table).
    ``done_subpath``: the path inside a batch dir whose existence marks
    it complete (the maintainer's own marker convention).
    ``retention``: live completed batch dirs to keep out of the
    generation (>= 1 so latest-state readers keep a live dir);
    ``None``/``0`` turns :meth:`compact` into a no-op.
    ``aggregate``: optional ``{subtable: df -> df}`` pre-merge applied
    when building the generation — only for tables whose consumers
    re-aggregate (lossless merges).
    """

    def __init__(self, root: str, *, subtables: tuple[str, ...] = ("verdict",),
                 done_subpath: str = "verdict/_DONE",
                 retention: int | None = None,
                 aggregate: dict[str, Callable[[DataFrame], DataFrame]]
                 | None = None):
        if retention is not None and retention < 0:
            raise ValueError(f"retention must be >= 0, got {retention}")
        self.root = root
        self.subtables = tuple(subtables)
        self.done_subpath = done_subpath
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

    def _sub(self, base: str, sub: str) -> str:
        return os.path.join(base, sub) if sub else base

    def live_done_dirs(self) -> list[str]:
        """Completed batch dirs past the watermark, id order."""
        wm = self.watermark()
        return [p for i, p in self._entries("batch=")
                if i > wm
                and os.path.exists(os.path.join(p, self.done_subpath))]

    def table_dirs(self, sub: str) -> list[str]:
        """Every parquet dir holding subtable ``sub``: the newest
        generation (if it carries the subtable) + live batch dirs."""
        dirs = []
        gens = self._generations()
        if gens:
            p = self._sub(gens[-1][1], sub or "data")
            if os.path.exists(p):
                dirs.append(p)
        dirs += [self._sub(d, sub) for d in self.live_done_dirs()]
        return dirs

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
        done = [(i, p) for i, p in self._entries("batch=")
                if i > wm
                and os.path.exists(os.path.join(p, self.done_subpath))]
        expired = done[:-self.retention]
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
        prev_gen = self._generations()
        for sub in self.subtables:
            srcs = []
            if prev_gen:
                prev = self._sub(prev_gen[-1][1], sub or "data")
                if os.path.exists(prev):
                    srcs.append(prev)
            srcs += [self._sub(p, sub) for _, p in expired]
            df = spark.read.parquet(*srcs)
            agg = self.aggregate.get(sub)
            if agg is not None:
                df = agg(df)
            df.write.mode("overwrite") \
                .parquet(self._sub(tmp, sub or "data"))
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
    """foreachBatch sink advancing one full state with ``apply(prior |
    None, batch)``; the advanced state lands in
    ``state_dir/batch=<id>/state``, ``_DONE`` last."""

    def __init__(self, state_dir: str, apply: ApplyFn,
                 retention: int | None = None):
        self.state_dir = state_dir
        self.apply = apply
        self._compactor = BatchDirCompactor(
            state_dir, subtables=(), done_subpath="_DONE",
            retention=retention)
        os.makedirs(state_dir, exist_ok=True)

    def state(self, spark: SparkSession) -> DataFrame | None:
        """The latest completed batch's full state."""
        done = self._compactor.live_done_dirs()
        if not done:
            return None
        return spark.read.parquet(os.path.join(done[-1], "state"))

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        out = os.path.join(self.state_dir, f"batch={batch_id}")
        if self._compactor.is_compacted(batch_id) \
                or os.path.exists(os.path.join(out, "_DONE")):
            return  # re-delivered batch: apply must not re-run
        new = self.apply(self.state(spark), batch)
        new.write.mode("overwrite").parquet(os.path.join(out, "state"))
        # _DONE lands last: a crash mid-write leaves the dir incomplete
        # and the batch re-delivers cleanly
        with open(os.path.join(out, "_DONE"), "w") as fh:
            fh.write("")
        self._compactor.compact(spark)


def maintain_state(stream_df: DataFrame, state_dir: str, apply: ApplyFn,
                   retention: int | None = None, **start_kwargs):
    """Start a full-state maintenance query.  Returns (StreamingQuery,
    StateMaintainer)."""
    maintainer = StateMaintainer(state_dir, apply, retention=retention)
    query = start_foreach_batch(
        stream_df, maintainer.process_batch, **start_kwargs)
    return query, maintainer

"""Continuous funnel matching over watermark-closed sessions (SURVEY
§2.3 N98) — the streaming form of the N96 pattern matcher, composed
with the N95 session state.

Exact pattern matching needs a session's EVENTS (order, states,
inter-event positions), so unlike N95 — whose interval merge never
re-reads events — this maintainer buffers events for OPEN sessions
only, and converts sessions to immutable match rows the moment the
watermark proves them closed:

    wm          = max(event time seen) − allowed_lateness  (monotone)
    closed      = session.end_ms + gap < wm     (no on-time event can
                                                 extend it)
    per batch:  drop events below wm (standard lateness semantics) →
                union with the open-session buffer → re-sessionize →
                match N96 patterns over CLOSED sessions → append match
                rows; buffer only the still-open sessions' events.

Matching a closed session in isolation is EXACT: its event set is
complete (nothing on time can join it), re-sessionization of the
retained events reproduces it verbatim, and the match statistics are
session-internal (position differences and timestamps are invariant
under renumbering).  The pytest pins the composition: streamed match
rows ∪ matches of the leftover open buffer ≡ the batch
:func:`~.operators.timeseries.pattern_matches` over all events,
bit-for-bit.

State discipline (the maintainer family): each batch dir holds the
FULL open-event buffer + a one-row meta (max event ms) — newest
complete dir is the state — plus the batch's appended ``matches``
(union-read across dirs, like the verdict histories); ``_DONE`` lands
last; re-delivery is guarded (the append is not idempotent); N78
retention folds expired dirs' matches into a compact generation while
their subsumed open/meta tables delete with them.

Scale shape: the buffer holds open sessions only — active keys × their
in-flight events, the bound every production session store carries;
closed-session matching is one N96 pass over buffer+batch-sized input;
match rows are append-only and compact away.  Lateness beyond
``allowed_lateness`` is dropped, the standard streaming contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hbase_snapshotter_spark.operators.timeseries import pattern_matches
from hbase_snapshotter_spark.streaming.retention import BatchDirCompactor
from hbase_snapshotter_spark.streaming.windows import start_foreach_batch


class FunnelStateMaintainer:
    """foreachBatch sink matching funnel patterns on watermark-closed
    sessions; per batch dir: ``open`` (full buffer), ``meta`` (one-row
    max ms), ``matches`` (this batch's closed-session match rows)."""

    def __init__(self, state_dir: str, *, key_col: str, state_col: str,
                 ts_col: str, id_col: str,
                 patterns: list[tuple[str, str]], gap_ms: int,
                 allowed_lateness_ms: int = 0,
                 retention: int | None = None):
        self.state_dir = state_dir
        self.key_col = key_col
        self.state_col = state_col
        self.ts_col = ts_col
        self.id_col = id_col
        self.patterns = patterns
        self.gap_ms = gap_ms
        self.allowed_lateness_ms = allowed_lateness_ms
        self._compactor = BatchDirCompactor(
            state_dir, subtables=("matches",), done_subpath="_DONE",
            retention=retention)
        os.makedirs(state_dir, exist_ok=True)

    def _latest(self, spark: SparkSession, sub: str) -> DataFrame | None:
        done = self._compactor.live_done_dirs()
        if not done:
            return None
        return spark.read.parquet(os.path.join(done[-1], sub))

    def open_events(self, spark: SparkSession) -> DataFrame | None:
        """The full open-session event buffer (newest complete dir)."""
        return self._latest(spark, "open")

    def watermark_ms(self, spark: SparkSession) -> int | None:
        meta = self._latest(spark, "meta")
        if meta is None:
            return None
        row = meta.collect()[0]  # one row by construction
        return int(row.max_ms) - self.allowed_lateness_ms

    def matches(self, spark: SparkSession) -> DataFrame | None:
        """Every closed-session match row appended so far (generation
        + live batch dirs)."""
        dirs = self._compactor.table_dirs("matches")
        return spark.read.parquet(*dirs) if dirs else None

    def _closed_rows(self, closed: DataFrame) -> DataFrame:
        """Immutable rows derived from a batch of closed sessions —
        the one step subclasses specialize (N98 matches funnel
        patterns; the attribution maintainer credits conversions).
        Exactness argument is shared: a closed session's event set is
        complete and re-sessionization reproduces it verbatim, so any
        session-internal computation over closed sessions equals its
        batch form."""
        return pattern_matches(
            closed, key_col=self.key_col, state_col=self.state_col,
            ts_col=self.ts_col, id_col=self.id_col,
            patterns=self.patterns, gap_ms=self.gap_ms)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        out = os.path.join(self.state_dir, f"batch={batch_id}")
        if self._compactor.is_compacted(batch_id) \
                or os.path.exists(os.path.join(out, "_DONE")):
            return  # re-delivered batch: the match append must not re-run
        cols = [self.key_col, self.state_col, self.ts_col, self.id_col]
        ms = F.unix_millis(F.col(self.ts_col))
        prior_open = self.open_events(spark)
        prior_wm = self.watermark_ms(spark)
        fresh = batch.select(*cols)
        if prior_wm is not None:
            fresh = fresh.filter(ms >= F.lit(prior_wm))  # late data drops
        events = (fresh if prior_open is None
                  else prior_open.select(*cols).unionByName(fresh))
        # one pass computes the new watermark and buffers the frame —
        # events is consumed 3x below (max agg, closed matches, open cut)
        events = events.persist()
        batch_max = events.agg(F.max(ms).alias("max_ms")).collect()[0].max_ms
        # the watermark is MONOTONE over everything ever seen: closed
        # sessions leave the buffer, so their (possibly maximal) event
        # times survive only in the prior meta — max with it, or an
        # empty-ish batch would regress the watermark and re-open the
        # closed-session frontier
        prior_max = None if prior_wm is None \
            else prior_wm + self.allowed_lateness_ms
        candidates = [v for v in (batch_max, prior_max) if v is not None]
        if not candidates:  # empty batch over empty state: nothing to do
            events.unpersist()
            return
        new_max = max(int(v) for v in candidates)
        wm = new_max - self.allowed_lateness_ms
        # sessionize to find each event's session END; a session is
        # closed when no on-time event (ms >= wm) can land within gap
        w = (F.col(self.key_col),)
        win = Window.partitionBy(*w).orderBy(
            F.col(self.ts_col).asc(), F.col(self.id_col).asc())
        wr = win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        prev = F.lag("__ms").over(win)
        tagged = (events.withColumn("__ms", ms)
                  .withColumn("__open", F.when(
                      prev.isNull() | ((F.col("__ms") - prev) > self.gap_ms),
                      1).otherwise(0))
                  .withColumn("__sid", F.sum("__open").over(wr)))
        ends = Window.partitionBy(*w, "__sid")
        tagged = tagged.withColumn("__end", F.max("__ms").over(ends))
        closed = tagged.filter(F.col("__end") + self.gap_ms < wm)
        still_open = tagged.filter(~(F.col("__end") + self.gap_ms < wm))
        new_matches = self._closed_rows(closed.select(*cols))
        new_matches.write.mode("overwrite") \
            .parquet(os.path.join(out, "matches"))
        still_open.select(*cols).write.mode("overwrite") \
            .parquet(os.path.join(out, "open"))
        spark.createDataFrame([(int(new_max),)], "max_ms long") \
            .write.mode("overwrite").parquet(os.path.join(out, "meta"))
        events.unpersist()
        with open(os.path.join(out, "_DONE"), "w") as fh:
            fh.write("")
        self._compactor.compact(spark)


def maintain_funnels(stream_df: DataFrame, state_dir: str, *,
                     key_col: str, state_col: str, ts_col: str,
                     id_col: str, patterns: list[tuple[str, str]],
                     gap_ms: int, allowed_lateness_ms: int = 0,
                     retention: int | None = None, **start_kwargs):
    """Start the funnel-matching query.  Returns (StreamingQuery,
    FunnelStateMaintainer)."""
    maintainer = FunnelStateMaintainer(
        state_dir, key_col=key_col, state_col=state_col, ts_col=ts_col,
        id_col=id_col, patterns=patterns, gap_ms=gap_ms,
        allowed_lateness_ms=allowed_lateness_ms, retention=retention)
    query = start_foreach_batch(
        stream_df, maintainer.process_batch, **start_kwargs)
    return query, maintainer

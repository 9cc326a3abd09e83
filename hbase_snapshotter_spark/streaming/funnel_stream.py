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
under renumbering).  The same holds for ANY session-internal
computation, so :func:`funnel_step` takes the closed-session function:
N98 funnels pass a :func:`~.operators.timeseries.pattern_matches`
closure, N102 attribution (``attribution_stream``) a
:func:`~.operators.timeseries.session_attribution` one.  The pytest
pins the composition: streamed match rows ∪ matches of the leftover
open buffer ≡ the batch ``pattern_matches`` over all events,
bit-for-bit.

State discipline (the one batch-dir protocol of
:class:`~.streaming.retention.StateMaintainer`): each batch dir holds
the FULL open-event buffer ``open`` + a one-row ``meta`` (max event ms)
— ``latest`` is the state — plus the batch's appended ``matches``
(``history``, like the verdict histories); ``_DONE`` lands last;
re-delivery is guarded (the append is not idempotent); N78 retention
folds expired dirs' matches into a compact generation while their
subsumed open/meta tables delete with them.

Scale shape: the buffer holds open sessions only — active keys × their
in-flight events, the bound every production session store carries;
closed-session matching is one N96 pass over buffer+batch-sized input;
match rows are append-only and compact away.  Lateness beyond
``allowed_lateness`` is dropped, the standard streaming contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hbase_snapshotter_spark.streaming.retention import (
    StateMaintainer,
    WriteFn,
)


def funnel_watermark_ms(m: StateMaintainer, spark: SparkSession,
                        allowed_lateness_ms: int = 0) -> int | None:
    """The event-time watermark: max event ms seen − lateness."""
    meta = m.latest(spark, "meta")
    if meta is None:
        return None
    row = meta.collect()[0]  # one row by construction
    return int(row.max_ms) - allowed_lateness_ms


def funnel_step(closed_rows: Callable[[DataFrame], DataFrame], *,
                key_col: str, state_col: str, ts_col: str, id_col: str,
                gap_ms: int, allowed_lateness_ms: int = 0) -> dict:
    """Maintainer keywords running ``closed_rows`` over watermark-closed
    sessions; per batch dir: ``open`` (full buffer), ``meta`` (one-row
    max ms), ``matches`` (this batch's closed-session rows)."""
    cols = [key_col, state_col, ts_col, id_col]

    def step(m: StateMaintainer, batch: DataFrame, batch_id: int,
             write: WriteFn) -> None:
        spark = batch.sparkSession
        ms = F.unix_millis(F.col(ts_col))
        prior_open = m.latest(spark, "open")
        prior_wm = funnel_watermark_ms(m, spark, allowed_lateness_ms)
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
            else prior_wm + allowed_lateness_ms
        candidates = [v for v in (batch_max, prior_max) if v is not None]
        if not candidates:  # empty batch over empty state: nothing to do
            events.unpersist()
            return
        new_max = max(int(v) for v in candidates)
        wm = new_max - allowed_lateness_ms
        # sessionize to find each event's session END; a session is
        # closed when no on-time event (ms >= wm) can land within gap
        win = Window.partitionBy(key_col).orderBy(
            F.col(ts_col).asc(), F.col(id_col).asc())
        wr = win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        prev = F.lag("__ms").over(win)
        tagged = (events.withColumn("__ms", ms)
                  .withColumn("__open", F.when(
                      prev.isNull() | ((F.col("__ms") - prev) > gap_ms),
                      1).otherwise(0))
                  .withColumn("__sid", F.sum("__open").over(wr)))
        ends = Window.partitionBy(key_col, "__sid")
        tagged = tagged.withColumn("__end", F.max("__ms").over(ends))
        closed = tagged.filter(F.col("__end") + gap_ms < wm)
        still_open = tagged.filter(~(F.col("__end") + gap_ms < wm))
        write("matches", closed_rows(closed.select(*cols)))
        write("open", still_open.select(*cols))
        write("meta", spark.createDataFrame([(int(new_max),)],
                                            "max_ms long"))
        events.unpersist()

    return {"step": step, "history": ("matches",)}

"""Continuous sessionization (SURVEY §2.3 N95 — the streaming form of
the N93 batch economics).

The streaming suite's session WINDOW (``windows.py``) aggregates each
session's rows under a watermark; what it cannot produce is the
CROSS-session economics over everything seen (bounce share, mean
events/span), because closed sessions leave the state store.  :func:`session_apply`,
run through :func:`~.streaming.retention.full_state_step`, keeps the N93
semantics exactly: per micro-batch, sessionize the batch alone (events-sized work), then merge the resulting session
INTERVALS into the prior interval state
(:func:`~.operators.timeseries.merge_session_intervals` — sessions-
sized work).  Because events only ever JOIN sessions and each
interval's interior is already gap-chained, the merge is lossless for
ANY split of the events in ANY arrival order::

    merge(intervals(A) ∪ intervals(B)) = intervals(A ⊎ B)

so the maintained state — and the economics derived from it on read,
``session_economics(maintainer.latest(spark, "state"))`` — equals
the batch form over all delivered events BIT FOR BIT (the pytest pins
exactly that on a shuffled split, no tolerance).

Exactly-once/state contract (the one batch-dir protocol): each
batch dir holds the FULL merged state (a read needs only the newest
complete dir), the ``_DONE`` marker lands last, a re-delivered complete
or compacted batch returns before reading anything (interval-merge is
NOT idempotent under re-application of the same delta — the guard is
the correctness line), and N78 retention deletes expired dirs outright:
the newest state subsumes them, nothing to compact.

Scale shape: the per-batch sessionization rides the per-key window
bound (partition = one key's batch events); the merge input is
sessions-sized, not events-sized; state is ≤ one row per (key,
session).  Production bounds state further by closing sessions older
than a watermark into an immutable "closed" economics accumulator —
the same N78/N40 compaction economics, orthogonal to the merge
algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from hbase_snapshotter_spark.operators.timeseries import (
    merge_session_intervals,
    session_intervals,
)
from hbase_snapshotter_spark.streaming.retention import ApplyFn


def session_apply(*, key_col: str, ts_col: str, id_col: str,
                  gap_ms: int) -> ApplyFn:
    """Apply closure for the merged session-interval state: sessionize
    the batch alone, then merge its intervals into the prior."""

    def apply(prior: DataFrame | None, batch: DataFrame) -> DataFrame:
        delta = session_intervals(batch, key_col=key_col, ts_col=ts_col,
                                  id_col=id_col, gap_ms=gap_ms)
        return (delta if prior is None
                else merge_session_intervals(prior.unionByName(delta),
                                             key_col=key_col,
                                             gap_ms=gap_ms))

    return apply

"""Continuous conversion attribution over watermark-closed sessions
(SURVEY §2.3 N102 streaming form) — the N98 closed-session harness
specialized to credit assignment.

Attribution is session-internal (a conversion's touches live in ITS
session) and its per-channel output is SUM-DECOMPOSABLE across
sessions (each conversion belongs to exactly one session; counts and
micro-credits add).  So the N98 machinery carries it unchanged: run
:func:`~.streaming.funnel_stream.funnel_step` with a
:func:`~.operators.timeseries.session_attribution` closure as its
closed-session function (``state_col`` = the event-type column), and
each batch appends the per-(rule, channel) rows of the sessions the
watermark just closed under ``matches``.  The running total
(:func:`attribution_totals`) is a sum-group over the appended rows —
and streamed totals (plus the leftover open buffer's attribution)
equal the batch form over all events BIT FOR BIT, which the pytest
pins.

State/exactly-once discipline is the funnel step's (full open buffer +
one-row meta per batch dir, ``_DONE`` last, re-delivery guard, N78
retention with match-row compaction)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_snapshotter_spark.streaming.retention import StateMaintainer


def attribution_totals(m: StateMaintainer,
                       spark: SparkSession) -> DataFrame | None:
    """Running per-(rule, channel) totals over every closed session so
    far — a sum-group over the appended rows."""
    rows = m.history(spark, "matches")
    if rows is None:
        return None
    return (rows.groupBy("rule", "channel")
            .agg(F.sum("n_conversions").cast("long")
                 .alias("n_conversions"),
                 F.sum("credit_micros").cast("long")
                 .alias("credit_micros")))

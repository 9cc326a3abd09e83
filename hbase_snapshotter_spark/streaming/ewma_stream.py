"""Continuous EWMA monitoring (N72's streaming form — the alerting
smoother run as data lands).

The batch operator (:func:`~.operators.timeseries.ewma_smooth`) folds a
finished grid; a monitoring deployment wants the EWMA ADVANCED as each
micro-batch delivers newly-finalized buckets (e.g. the output of the
streaming tumbling aggregation): fold only the new buckets from the
saved per-group state, alarm on excursions, save the new state.

    readStream(bucket rows) → foreachBatch:
        new buckets (> saved last_bucket, per group)
        seeded integer EWMA fold (exactly continues the batch chain)
        batch=<id>/ ← verdicts + per-group state (skip if done)

Exactness: the EWMA recurrence depends only on the previous smoothed
value and the new inputs, and every step is pure integer arithmetic
(the N72 posture) — so the streamed fold is BIT-IDENTICAL to the batch
fold over the concatenated grid (pytest-pinned), not approximately
equal.  The seed trick: the saved state enters the fold as a pseudo
row whose value IS the saved ewma (making ``e_seed = ewma_prior``),
and seed rows are dropped from the emitted verdicts.

Exactly-once/state contract (the one batch-dir protocol of
:class:`~.streaming.retention.StateMaintainer`):

- each batch dir holds ``verdict`` (the batch's smoothed buckets,
  union-read as the verdict history) and ``state``; ``_DONE`` lands
  after BOTH writes, so a re-delivered batch no-ops and a crash
  mid-batch re-runs the whole batch;
- ``state`` is a tiny per-group snapshot ``(group, last_bucket,
  ewma_micro)``; recovery reads the newest complete dir
  (``latest(spark, "state")``, no separate mutable state file to
  corrupt), and retention compacts only the verdict history;
- buckets at or before a group's ``last_bucket`` are dropped
  (re-delivery safety; genuinely late buckets are the upstream
  watermark's contract, as in the batch N59/N60 lanes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hbase_snapshotter_spark.operators.timeseries import ewma_smooth
from hbase_snapshotter_spark.streaming.retention import (
    StateMaintainer,
    WriteFn,
)


def ewma_step(value_col: str, group_cols: list[str]) -> dict:
    """Maintainer keywords advancing per-group integer EWMA state with
    each micro-batch's newly-finalized bucket rows."""
    gc = group_cols

    def step(m: StateMaintainer, batch: DataFrame, batch_id: int,
             write: WriteFn) -> None:
        prior = m.latest(batch.sparkSession, "state")
        rows = batch.select(
            *gc, "bucket", F.col(value_col).cast("double").alias("__v"))
        if prior is not None:
            rows = (rows.join(F.broadcast(prior), gc, "left")
                    .filter(F.col("last_bucket").isNull()
                            | (F.col("bucket") > F.col("last_bucket")))
                    .select(*gc, "bucket", "__v"))
            # the saved state enters as a pseudo row valued AT the
            # saved ewma, so the fold's init equals the prior ewma and
            # the chain continues exactly
            seed = prior.select(
                *gc, F.col("last_bucket").alias("bucket"),
                (F.col("ewma_micro").cast("double") / 1e6).alias("__v"))
            folded = ewma_smooth(
                rows.unionByName(seed), group_cols=gc, value_col="__v")
            folded = folded.join(F.broadcast(prior), gc, "left") \
                .filter(F.col("last_bucket").isNull()
                        | (F.col("bucket") > F.col("last_bucket"))) \
                .drop("last_bucket", "ewma_micro")
        else:
            folded = ewma_smooth(rows, group_cols=gc, value_col="__v")
        folded = write("verdict", folded)
        new_state = folded.groupBy(*gc).agg(
            F.max(F.struct(F.col("bucket").alias("b"),
                           F.round(F.col("ewma") * 1e6, 0).cast("long")
                           .alias("m"))).alias("__s"))
        new_state = new_state.select(
            *gc, F.col("__s.b").alias("last_bucket"),
            F.col("__s.m").alias("ewma_micro"))
        if prior is not None:
            # groups silent this batch carry their state forward
            carried = prior.join(new_state.select(*gc), gc, "left_anti")
            new_state = new_state.unionByName(carried)
        write("state", new_state)

    return {"step": step, "history": ("verdict",)}

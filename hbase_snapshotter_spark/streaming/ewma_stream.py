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

Exactly-once/state contract (the maintainer-family discipline):

- per-batch output is keyed by batch id and written once, with a
  ``_DONE`` marker landing after BOTH the verdict and state writes —
  a re-delivered batch no-ops and every directory reproduces
  byte-for-byte, and a crash mid-batch re-runs the whole batch;
- state is a tiny per-group snapshot ``(group, last_bucket,
  ewma_micro)`` written INTO each batch dir; recovery reads the latest
  completed dir (no separate mutable state file to corrupt);
- buckets at or before a group's ``last_bucket`` are dropped
  (re-delivery safety; genuinely late buckets are the upstream
  watermark's contract, as in the batch N59/N60 lanes).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_snapshotter_spark.operators.timeseries import ewma_smooth
from hbase_snapshotter_spark.streaming.windows import start_foreach_batch


class EwmaMonitor:
    """foreachBatch sink advancing per-group integer EWMA state with
    each micro-batch's newly-finalized bucket rows."""

    def __init__(self, state_dir: str, value_col: str,
                 group_cols: list[str], retention: int | None = None):
        from hbase_snapshotter_spark.streaming.retention import (
            BatchDirCompactor,
        )

        self.state_dir = state_dir
        self.value_col = value_col
        self.group_cols = group_cols
        # retention: batch dirs to keep live (None: no compaction).
        # Verdicts of compacted batches stay readable from the
        # generation; the latest per-group STATE always lives in a
        # kept batch dir.
        self._compactor = BatchDirCompactor(
            state_dir, subtables=("verdict",),
            done_subpath=os.path.join("verdict", "_DONE"),
            retention=retention)
        os.makedirs(state_dir, exist_ok=True)

    def _done_dirs(self) -> list[str]:
        return self._compactor.live_done_dirs()

    def verdicts(self, spark: SparkSession) -> DataFrame | None:
        dirs = self._compactor.table_dirs("verdict")
        return spark.read.parquet(*dirs) if dirs else None

    def state(self, spark: SparkSession) -> DataFrame | None:
        """Latest completed batch's per-group state snapshot."""
        done = self._done_dirs()
        if not done:
            return None
        return spark.read.parquet(os.path.join(done[-1], "state"))

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        out = os.path.join(self.state_dir, f"batch={batch_id}")
        if self._compactor.is_compacted(batch_id) \
                or os.path.exists(os.path.join(out, "verdict", "_DONE")):
            return  # re-delivered batch: already complete
        gc = self.group_cols
        prior = self.state(spark)
        rows = batch.select(
            *gc, "bucket",
            F.col(self.value_col).cast("double").alias("__v"))
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
        folded.write.mode("overwrite").parquet(os.path.join(out, "verdict"))
        folded = spark.read.parquet(os.path.join(out, "verdict"))
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
        new_state.write.mode("overwrite") \
            .parquet(os.path.join(out, "state"))
        # the _DONE marker lands LAST: a crash between the verdict and
        # state writes leaves the dir incomplete and the re-delivered
        # batch re-runs the whole thing
        with open(os.path.join(out, "verdict", "_DONE"), "w") as fh:
            fh.write("")
        self._compactor.compact(spark)


def maintain_ewma(stream_df: DataFrame, state_dir: str, value_col: str,
                  group_cols: list[str], retention: int | None = None,
                  **start_kwargs):
    """Start the EWMA-monitoring query.  Returns (StreamingQuery,
    EwmaMonitor)."""
    monitor = EwmaMonitor(state_dir, value_col, group_cols,
                          retention=retention)
    query = start_foreach_batch(
        stream_df, monitor.process_batch, **start_kwargs)
    return query, monitor

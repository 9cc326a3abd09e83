"""Continuous distribution-drift monitoring (N66's streaming form —
the production-monitoring shape).

The batch operator (:func:`~.operators.profile.psi_drift`) compares two
finished eras; a pipeline ingesting micro-batches all day wants the
drift CHECKED as data lands: score each micro-batch's value
distribution against a materialized reference histogram and alarm the
moment PSI crosses the threshold — per batch ("is THIS batch weird?")
and cumulatively ("has the run as a whole wandered off the
reference?").

    build_drift_reference(reference_df) → ref_dir (bucket histogram)
    readStream(values) → foreachBatch:
        batch → value_histogram (groups × buckets rows, never raw rows)
        verdicts: PSI(ref, batch) + PSI(ref, Σ batch hists so far)
        batch=<id>/ ← histogram + verdicts (skip if dir already done)

Exactly-once/state contract (the maintainer-family discipline):

- per-batch output is keyed by batch id and written ONCE — a
  re-delivered batch sees its verdict file exists and does nothing, so
  re-delivery reproduces every directory byte-for-byte (no
  double-counted cumulative state);
- the cumulative histogram is DERIVED state — the sum of the per-batch
  histograms already on disk (bucket-sum merge is lossless/associative,
  the N58/N65 argument), so a restart needs no recovery step and a
  crash between the two writes re-runs the whole batch;
- the reference histogram is immutable input, shared by any number of
  concurrent monitors.

Scale shape: only HISTOGRAMS move — the reference is groups × buckets
rows regardless of the reference corpus size, each batch contributes
one map-side-combined hash agg over its own rows, and the PSI fold is
arithmetic over bucket rows.  At high batch counts the per-batch
histogram directory union grows linearly; production compacts it the
same way the N25 state buckets compact (sum-merge old dirs — lossless).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_snapshotter_spark.operators.profile import (
    psi_from_histograms,
    value_histogram,
)
from hbase_snapshotter_spark.streaming.windows import start_foreach_batch


def build_drift_reference(
    df: DataFrame,
    value_col: str,
    ref_dir: str,
    *,
    group_cols: list[str],
) -> None:
    """Materialize the reference histogram (``(*group_cols, bucket,
    cnt)``) the monitor scores against — built once from a trusted era,
    KBs at any corpus scale."""
    value_histogram(df, value_col, group_cols=group_cols) \
        .write.mode("overwrite").parquet(ref_dir)


class DriftMonitor:
    """foreachBatch sink scoring each micro-batch's value distribution
    against the reference histogram under ``ref_dir``; per-batch
    histograms + verdicts land in ``state_dir/batch=<id>``."""

    def __init__(self, state_dir: str, ref_dir: str, value_col: str,
                 group_cols: list[str], retention: int | None = None):
        from hbase_snapshotter_spark.streaming.retention import (
            BatchDirCompactor,
        )

        self.state_dir = state_dir
        self.ref_dir = ref_dir
        self.value_col = value_col
        self.group_cols = group_cols
        # retention: batch dirs to keep live (None: no compaction).
        # The generation pre-sums expired histograms (lossless — the
        # only consumer re-aggregates) and carries verdicts as-is.
        self._compactor = BatchDirCompactor(
            state_dir, subtables=("hist", "verdict"),
            done_subpath=os.path.join("verdict", "_DONE"),
            retention=retention,
            aggregate={"hist": lambda df: df
                       .groupBy(*group_cols, "bucket")
                       .agg(F.sum("cnt").alias("cnt"))})
        os.makedirs(state_dir, exist_ok=True)

    def verdicts(self, spark: SparkSession) -> DataFrame | None:
        dirs = self._compactor.table_dirs("verdict")
        return spark.read.parquet(*dirs) if dirs else None

    def cumulative_histogram(self, spark: SparkSession) -> DataFrame | None:
        """Derived state: bucket-sum of every completed batch's
        histogram (lossless merge — equals the histogram of all rows
        seen, the N58/N65 argument; a compacted generation's pre-sum
        folds into the same total)."""
        dirs = self._compactor.table_dirs("hist")
        if not dirs:
            return None
        return (spark.read.parquet(*dirs)
                .groupBy(*self.group_cols, "bucket")
                .agg(F.sum("cnt").alias("cnt")))

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        out = os.path.join(self.state_dir, f"batch={batch_id}")
        # The re-delivery guard keys on verdict/_DONE, which lands LAST
        # (below) — never on the verdict dir itself, which Spark creates
        # at write START, so a crash mid-verdict-write must look
        # incomplete and re-deliver (ADVICE r8): the batch then re-runs
        # end-to-end and overwrites both tables byte-for-byte.
        if self._compactor.is_compacted(batch_id) \
                or os.path.exists(os.path.join(out, "verdict", "_DONE")):
            return  # re-delivered batch: state already complete, no-op
        hist = value_histogram(batch, self.value_col,
                               group_cols=self.group_cols)
        hist.write.mode("overwrite").parquet(os.path.join(out, "hist"))
        hist = spark.read.parquet(os.path.join(out, "hist"))
        ref = spark.read.parquet(self.ref_dir)
        prior = self.cumulative_histogram(spark)
        cum = (hist if prior is None else
               prior.unionByName(hist)
               .groupBy(*self.group_cols, "bucket")
               .agg(F.sum("cnt").alias("cnt")))
        batch_v = psi_from_histograms(ref, hist, group_cols=self.group_cols) \
            .select(*self.group_cols,
                    F.col("n_b").alias("n_batch"),
                    F.col("psi").alias("psi_batch"),
                    F.col("drifted").alias("drifted_batch"))
        cum_v = psi_from_histograms(ref, cum, group_cols=self.group_cols) \
            .select(*self.group_cols,
                    F.col("n_b").alias("n_cum"),
                    F.col("psi").alias("psi_cum"),
                    F.col("drifted").alias("drifted_cum"))
        verdict = (
            batch_v.join(cum_v, self.group_cols, "full")
            .withColumn("batch_id", F.lit(batch_id)))
        verdict.write.mode("overwrite") \
            .parquet(os.path.join(out, "verdict"))
        # _DONE lands last: only now is the batch complete for the
        # re-delivery guard AND the compactor's done check (a partial
        # verdict dir is never folded into a permanent generation).
        with open(os.path.join(out, "verdict", "_DONE"), "w") as fh:
            fh.write("")
        self._compactor.compact(spark)


def maintain_drift(stream_df: DataFrame, state_dir: str, ref_dir: str,
                   value_col: str, group_cols: list[str],
                   retention: int | None = None, **start_kwargs):
    """Start the drift-monitoring query.  Returns (StreamingQuery,
    DriftMonitor)."""
    monitor = DriftMonitor(state_dir, ref_dir, value_col, group_cols,
                           retention=retention)
    query = start_foreach_batch(
        stream_df, monitor.process_batch, **start_kwargs)
    return query, monitor

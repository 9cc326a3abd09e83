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

Exactly-once/state contract (the one batch-dir protocol of
:class:`~.streaming.retention.StateMaintainer`):

- each batch dir holds ``hist`` and ``verdict``, ``_DONE`` last — a
  re-delivered batch returns before reading anything, so re-delivery
  reproduces every directory byte-for-byte (no double-counted
  cumulative state), and a crash between the two writes re-runs the
  whole batch;
- the cumulative histogram is DERIVED state — the sum of the per-batch
  histograms already on disk (bucket-sum merge is lossless/associative,
  the N58/N65 argument), so a restart needs no recovery step;
- the reference histogram is immutable input, shared by any number of
  concurrent monitors.

Scale shape: only HISTOGRAMS move — the reference is groups × buckets
rows regardless of the reference corpus size, each batch contributes
one map-side-combined hash agg over its own rows, and the PSI fold is
arithmetic over bucket rows.  Retention sum-merges expired histograms
into the generation (lossless — the only consumer re-aggregates) and
carries verdicts as-is, so the history union stays bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_snapshotter_spark.operators.profile import (
    psi_from_histograms,
    value_histogram,
)
from hbase_snapshotter_spark.streaming.retention import (
    StateMaintainer,
    WriteFn,
)


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


def _bucket_sum(df: DataFrame, group_cols: list[str]) -> DataFrame:
    return df.groupBy(*group_cols, "bucket").agg(F.sum("cnt").alias("cnt"))


def cumulative_histogram(m: StateMaintainer, spark: SparkSession,
                         group_cols: list[str]) -> DataFrame | None:
    """Derived state: bucket-sum of every completed batch's histogram
    (lossless merge — equals the histogram of all rows seen, the
    N58/N65 argument; a compacted generation's pre-sum folds into the
    same total)."""
    hists = m.history(spark, "hist")
    return None if hists is None else _bucket_sum(hists, group_cols)


def drift_step(ref_dir: str, value_col: str, group_cols: list[str]) -> dict:
    """Maintainer keywords scoring each micro-batch's value distribution
    against the reference histogram under ``ref_dir``."""

    def step(m: StateMaintainer, batch: DataFrame, batch_id: int,
             write: WriteFn) -> None:
        spark = batch.sparkSession
        prior = cumulative_histogram(m, spark, group_cols)
        hist = write("hist", value_histogram(batch, value_col,
                                             group_cols=group_cols))
        ref = spark.read.parquet(ref_dir)
        cum = (hist if prior is None
               else _bucket_sum(prior.unionByName(hist), group_cols))
        batch_v = psi_from_histograms(ref, hist, group_cols=group_cols) \
            .select(*group_cols,
                    F.col("n_b").alias("n_batch"),
                    F.col("psi").alias("psi_batch"),
                    F.col("drifted").alias("drifted_batch"))
        cum_v = psi_from_histograms(ref, cum, group_cols=group_cols) \
            .select(*group_cols,
                    F.col("n_b").alias("n_cum"),
                    F.col("psi").alias("psi_cum"),
                    F.col("drifted").alias("drifted_cum"))
        write("verdict", batch_v.join(cum_v, group_cols, "full")
              .withColumn("batch_id", F.lit(batch_id)))

    return {"step": step, "history": ("hist", "verdict"),
            "aggregate": {"hist": lambda df: _bucket_sum(df, group_cols)}}

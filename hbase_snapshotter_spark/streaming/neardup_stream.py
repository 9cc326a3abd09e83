"""Continuous near-dup detection over a streaming corpus (N57's
streaming form — the incremental-crawl shape for the flagship dedup
lane).

The batch operator answers "is this delta near-dup of history?" against
a state the CALLER materialized; a crawl ingesting batches all day
wants the index MAINTAINED: each micro-batch is checked against the
band index of every PRIOR batch, its verdicts land in one directory per
batch, and its own band rows advance the index — steady-state cost is
the batch's signatures + a band join against index rows + exact
verification of only the colliding docs.  Text for verification is
fetched from the caller's corpus table (the warehouse the crawl also
lands in) by one id semi-join — the index itself never stores text.

    readStream(docs) → foreachBatch:
        index = band rows of every complete batch (document-wins)
        verdicts = neardup_novelty(index, corpus, batch) → verdict
        band rows of this batch (tagged __batch) → bands

Exactly-once/state contract (the one batch-dir protocol of
:class:`~.streaming.retention.StateMaintainer`):

- each batch dir holds ``verdict`` and ``bands``, ``_DONE`` last; a
  re-delivered complete or compacted batch is a no-op (re-adding a
  compacted batch's band rows would double them), and a crash
  mid-batch re-runs the whole batch over the same index;
- novelty for batch B reads only the band rows of batches complete
  before it, so it never collides with its own band rows;
- document-wins across batches: a doc re-ingested in a later batch
  (an edit) contributes only its LATEST batch's band rows to every
  subsequent novelty check — resolved at read time by a max-batch
  join over the index (index-sized, never corpus-sized,
  :func:`neardup_index`).  Band rows keep their ``__batch`` tag
  through the retention generation, so compaction changes no read.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_snapshotter_spark.operators.dedup import (
    build_neardup_state,
    neardup_novelty,
)
from hbase_snapshotter_spark.streaming.retention import (
    StateMaintainer,
    WriteFn,
)


def neardup_index(m: StateMaintainer, spark: SparkSession,
                  id_col: str = "doc_id") -> DataFrame | None:
    """The band index, document-wins: only each doc's latest-batch band
    rows participate."""
    df = m.history(spark, "bands")
    if df is None:
        return None
    latest = df.groupBy(id_col).agg(F.max("__batch").alias("__batch"))
    return df.join(latest, [id_col, "__batch"]).drop("__batch")


def neardup_step(corpus: Callable[[SparkSession], DataFrame],
                 id_col: str = "doc_id", text_col: str = "text",
                 threshold: float = 0.7) -> dict:
    """Maintainer keywords maintaining the banded-MinHash index under
    ``bands`` and per-batch novelty verdicts under ``verdict``.
    ``corpus`` resolves the id→text table used to verify candidates
    (the warehouse view; only COLLIDING ids are ever fetched from
    it)."""

    def step(m: StateMaintainer, batch: DataFrame, batch_id: int,
             write: WriteFn) -> None:
        spark = batch.sparkSession
        docs = (batch.select(id_col, text_col)
                .filter(F.col(id_col).isNotNull()))
        prior = neardup_index(m, spark, id_col)
        if prior is not None and not prior.isEmpty():
            out = neardup_novelty(prior, corpus(spark), docs, id_col,
                                  text_col, threshold=threshold)
        else:  # empty history: everything is novel by definition
            out = docs.select(
                id_col,
                F.lit(0).alias("n_candidates"), F.lit(0).alias("n_matches"),
                F.lit(None).cast("long").alias("best_match_id"),
                F.lit(None).cast("double").alias("best_jaccard"),
                F.lit(True).alias("is_novel"))
        write("verdict", out)
        write("bands", build_neardup_state(docs, id_col, text_col)
              .withColumn("__batch", F.lit(batch_id)))

    return {"step": step, "history": ("bands", "verdict")}

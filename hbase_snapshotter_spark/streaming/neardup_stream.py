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
        state = band rows of batches < this one (document-wins)
        verdicts = neardup_novelty(state, corpus, batch) → verdict dir
        band rows of this batch (tagged __batch) → state dir

Exactly-once/state contract (the `NoveltyMaintainer` discipline):

- state dirs are keyed by batch id and OVERWRITTEN on re-delivery with
  identical rows (content-derived signatures are pure functions of the
  text), so a re-delivered batch is a byte-level no-op;
- novelty for batch B reads ONLY ``__batch < B`` rows — a re-delivered
  batch therefore reproduces its first delivery's verdicts exactly
  instead of colliding with its own first-delivery band rows;
- document-wins across batches: a doc re-ingested in a later batch
  (an edit) contributes only its LATEST batch's band rows to every
  subsequent novelty check — resolved at read time by a max-batch
  join over the index (index-sized, never corpus-sized).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_snapshotter_spark.operators.dedup import (
    build_neardup_state,
    neardup_novelty,
)
from hbase_snapshotter_spark.streaming.windows import start_foreach_batch


class NearDupMaintainer:
    """foreachBatch sink maintaining the banded-MinHash index under
    ``state_dir`` and per-batch novelty verdicts under
    ``verdict_dir/batch=<id>``.  ``corpus`` resolves the id→text table
    used to verify candidates (the warehouse view; only COLLIDING ids
    are ever fetched from it)."""

    def __init__(self, state_dir: str, verdict_dir: str,
                 corpus: Callable[[SparkSession], DataFrame],
                 id_col: str = "doc_id", text_col: str = "text",
                 threshold: float = 0.7, retention: int | None = None):
        from hbase_snapshotter_spark.streaming.retention import (
            BatchDirCompactor,
        )

        self.state_dir = state_dir
        self.verdict_dir = verdict_dir
        self.corpus = corpus
        self.id_col, self.text_col = id_col, text_col
        self.threshold = threshold
        # retention: batch dirs to keep live per root (None: no
        # compaction).  Band rows keep their ``__batch`` tag through
        # the generation, so document-wins and the ``__batch < B``
        # novelty read are unchanged; compacted batch ids are
        # re-delivery no-ops via the watermark (they must be —
        # re-adding a compacted batch's live dir would double its band
        # rows).
        self._state_c = BatchDirCompactor(
            state_dir, subtables=("",), done_subpath="_SUCCESS",
            retention=retention)
        self._verdict_c = BatchDirCompactor(
            verdict_dir, subtables=("",), done_subpath="_SUCCESS",
            retention=retention)
        os.makedirs(state_dir, exist_ok=True)
        os.makedirs(verdict_dir, exist_ok=True)

    def state(self, spark: SparkSession,
              before: int | None = None) -> DataFrame | None:
        """The index as of ``before`` (exclusive): document-wins —
        only each doc's latest-batch band rows participate."""
        dirs = self._state_c.table_dirs("")
        if not dirs:
            return None
        df = spark.read.parquet(*dirs)
        if before is not None:
            df = df.filter(F.col("__batch") < before)
        latest = df.groupBy(self.id_col).agg(F.max("__batch").alias("__batch"))
        return df.join(latest, [self.id_col, "__batch"]).drop("__batch")

    def verdicts(self, spark: SparkSession) -> DataFrame | None:
        dirs = self._verdict_c.table_dirs("")
        return spark.read.parquet(*dirs) if dirs else None

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if self._state_c.is_compacted(batch_id) \
                or self._verdict_c.is_compacted(batch_id):
            return  # compacted batch id: re-delivery is a no-op
        docs = (batch.select(self.id_col, self.text_col)
                .filter(F.col(self.id_col).isNotNull()))
        prior = self.state(spark, before=batch_id)
        if prior is not None and not prior.isEmpty():
            out = neardup_novelty(
                prior, self.corpus(spark), docs,
                self.id_col, self.text_col, threshold=self.threshold)
        else:  # empty history: everything is novel by definition
            out = docs.select(
                self.id_col,
                F.lit(0).alias("n_candidates"), F.lit(0).alias("n_matches"),
                F.lit(None).cast("long").alias("best_match_id"),
                F.lit(None).cast("double").alias("best_jaccard"),
                F.lit(True).alias("is_novel"))
        out.write.mode("overwrite").parquet(
            os.path.join(self.verdict_dir, f"batch={batch_id}"))
        bands = build_neardup_state(docs, self.id_col, self.text_col) \
            .withColumn("__batch", F.lit(batch_id))
        bands.write.mode("overwrite").parquet(
            os.path.join(self.state_dir, f"batch={batch_id}"))
        # verdicts first: the state watermark gates re-delivery, so it
        # must advance last (crash between the two heals on the next
        # compaction)
        self._verdict_c.compact(spark)
        self._state_c.compact(spark)


def maintain_neardup(stream_df: DataFrame, state_dir: str, verdict_dir: str,
                     corpus: Callable[[SparkSession], DataFrame],
                     retention: int | None = None, **start_kwargs):
    """Start the near-dup maintenance query.  Returns (StreamingQuery,
    NearDupMaintainer)."""
    maintainer = NearDupMaintainer(state_dir, verdict_dir, corpus,
                                   retention=retention)
    query = start_foreach_batch(
        stream_df, maintainer.process_batch, **start_kwargs)
    return query, maintainer

"""Continuous novelty detection over a streaming corpus (N34's
streaming form — the incremental-crawl shape).

The batch operator (:func:`~.operators.bloom.novel_keys`) rebuilds its
bloom from the full prior on every call; a crawl ingesting batches all
day wants the filter MAINTAINED: probe each micro-batch against the
running bitmap, verify the hits exactly, then OR only the batch's
novel keys into the bitmap — steady-state cost is probe + a verify
join against the (sparse) hit set, never a corpus rescan.

    readStream(docs) → foreachBatch:
        distinct batch keys → bloom probe (misses definitely novel)
        hits → left-anti verify against the seen-key state (exact)
        novel keys → seen-key state dir `batch=<id>` + OR'd into bitmap

Exactly-once/state contract (the `SnapshotMaintainer` discipline):

- the seen-key STATE is a set, stored as one directory per batch and
  read as a union — a re-delivered batch recomputes novel = ∅ against
  the state its first delivery wrote, so nothing is appended twice and
  an empty overwrite never clobbers earlier state (empty novels skip
  the write);
- each batch dir is planned from the dirs existing BEFORE the write,
  so the self-referential read-modify-write the snapshot maintainer
  versions around cannot occur;
- the bitmap is derived state: a restart rebuilds it from the seen
  dirs (constructor), so a crash between state write and bitmap OR
  never yields a false negative.  Within one run the two updates are
  sequential in-process.

All bitmap increments build at the SAME ``m_bits`` (sized once from
``expected_keys``) so they OR together; growing past the planned
capacity degrades fpp (never correctness — the verify join stays) and
is the point where production swaps in a scalable-bloom chain.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_snapshotter_spark.streaming.windows import (
    start_foreach_batch,
)
from hbase_snapshotter_spark.operators.bloom import (
    bloom_bits_for,
    build_bloom,
    might_contain,
)


class NoveltyMaintainer:
    """foreachBatch sink maintaining a seen-key set + running bloom
    under ``state_dir``; per-batch novel keys land in
    ``state_dir/batch=<id>``."""

    def __init__(self, state_dir: str, key_col: str, expected_keys: int,
                 retention: int | None = None):
        from hbase_snapshotter_spark.streaming.retention import (
            BatchDirCompactor,
        )

        self.state_dir = state_dir
        self.key_col = key_col
        self.m_bits = bloom_bits_for(expected_keys)
        # retention: batch dirs to keep live (None: no compaction).
        # The seen-key SET is the union of the compact generation and
        # the live dirs — novel keys are disjoint across batches by
        # construction, so the merge is trivially lossless and the
        # bitmap recovery is unchanged.
        self._compactor = BatchDirCompactor(
            state_dir, subtables=("",), done_subpath="_SUCCESS",
            retention=retention)
        os.makedirs(state_dir, exist_ok=True)
        self.bitmap: bytes | None = None

    def seen_keys(self, spark: SparkSession) -> DataFrame | None:
        dirs = self._compactor.table_dirs("")
        return spark.read.parquet(*dirs).distinct() if dirs else None

    def _recover_bitmap(self, spark: SparkSession) -> None:
        """Rebuild the derived bitmap from the durable seen-key state
        (restart, or first batch of a run over pre-existing state)."""
        seen = self.seen_keys(spark)
        self.bitmap = (
            build_bloom(seen, self.key_col, m_bits=self.m_bits)
            if seen is not None
            else bytes(self.m_bits // 8))

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if self._compactor.is_compacted(batch_id):
            # re-delivered batch at-or-below the compaction watermark:
            # its novel keys (if any) already live in the generation,
            # so the probe below would find novel = ∅ anyway — skip it
            return
        if self.bitmap is None:
            self._recover_bitmap(spark)
        keys = (batch.select(self.key_col)
                .filter(F.col(self.key_col).isNotNull()).distinct())
        probed = keys.withColumn(
            "__hit", might_contain(self.bitmap, self.key_col))
        misses = probed.filter(~F.col("__hit")).drop("__hit")
        seen = self.seen_keys(spark)
        hits = probed.filter(F.col("__hit")).drop("__hit")
        verified = (hits.join(seen, self.key_col, "left_anti")
                    if seen is not None else hits)
        novel = misses.unionByName(verified)
        out = os.path.join(self.state_dir, f"batch={batch_id}")
        # plan reads only pre-existing dirs; empty novels skip the
        # write so a re-delivered batch can never erase its first
        # delivery's keys.  isEmpty is a take(1) probe — it stops at the
        # first row instead of counting the whole batch, so the
        # emptiness check stays O(1) at high batch rates.
        if novel.isEmpty():
            return
        novel.write.mode("overwrite").parquet(out)
        inc = build_bloom(spark.read.parquet(out), self.key_col,
                          m_bits=self.m_bits)
        self.bitmap = (
            np.frombuffer(self.bitmap, dtype=np.uint8)
            | np.frombuffer(inc, dtype=np.uint8)).tobytes()
        self._compactor.compact(spark)


def maintain_novelty(stream_df: DataFrame, state_dir: str, key_col: str,
                     expected_keys: int, retention: int | None = None,
                     **start_kwargs):
    """Start the novelty-maintenance query.  Returns (StreamingQuery,
    NoveltyMaintainer)."""
    maintainer = NoveltyMaintainer(state_dir, key_col, expected_keys,
                                   retention=retention)
    query = start_foreach_batch(
        stream_df, maintainer.process_batch, **start_kwargs)
    return query, maintainer

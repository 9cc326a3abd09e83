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

Exactly-once/state contract (the one batch-dir protocol of
:class:`~.streaming.retention.StateMaintainer`):

- the seen-key STATE is a set, stored as each batch's novel keys under
  ``batch=<id>/seen`` and read as the ``history`` union; ``_DONE``
  lands last, so a re-delivered complete batch returns before reading
  anything and a crash mid-batch re-runs the whole batch (an empty
  novel set writes no ``seen`` table);
- each batch is planned from the dirs complete BEFORE it, so the
  self-referential read-modify-write cannot occur;
- the bitmap is derived state held in the step closure: a fresh step
  (restart) rebuilds it from the seen keys, so a crash between the
  state write and the bitmap OR never yields a false negative.
  Within one run the two updates are sequential in-process.

All bitmap increments build at the SAME ``m_bits`` (sized once from
``expected_keys``) so they OR together; growing past the planned
capacity degrades fpp (never correctness — the verify join stays) and
is the point where production swaps in a scalable-bloom chain.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_snapshotter_spark.operators.bloom import (
    bloom_bits_for,
    build_bloom,
    might_contain,
)
from hbase_snapshotter_spark.streaming.retention import (
    StateMaintainer,
    WriteFn,
)


def seen_keys(m: StateMaintainer, spark: SparkSession) -> DataFrame | None:
    """Every key reported novel so far (distinct)."""
    seen = m.history(spark, "seen")
    return None if seen is None else seen.distinct()


def novelty_step(key_col: str, expected_keys: int) -> dict:
    """Maintainer keywords maintaining a seen-key set + running bloom;
    per-batch novel keys land under ``seen``.  One step per maintainer:
    the bitmap lives in the closure."""
    m_bits = bloom_bits_for(expected_keys)
    bitmap: bytes | None = None

    def step(m: StateMaintainer, batch: DataFrame, batch_id: int,
             write: WriteFn) -> None:
        nonlocal bitmap
        seen = seen_keys(m, batch.sparkSession)
        if bitmap is None:  # restart, or a run over pre-existing state
            bitmap = (build_bloom(seen, key_col, m_bits=m_bits)
                      if seen is not None else bytes(m_bits // 8))
        keys = (batch.select(key_col)
                .filter(F.col(key_col).isNotNull()).distinct())
        probed = keys.withColumn("__hit", might_contain(bitmap, key_col))
        misses = probed.filter(~F.col("__hit")).drop("__hit")
        hits = probed.filter(F.col("__hit")).drop("__hit")
        verified = (hits.join(seen, key_col, "left_anti")
                    if seen is not None else hits)
        novel = misses.unionByName(verified)
        # isEmpty is a take(1) probe — it stops at the first row instead
        # of counting the whole batch, so the emptiness check stays O(1)
        # at high batch rates
        if novel.isEmpty():
            return
        inc = build_bloom(write("seen", novel), key_col, m_bits=m_bits)
        bitmap = (np.frombuffer(bitmap, dtype=np.uint8)
                  | np.frombuffer(inc, dtype=np.uint8)).tobytes()

    return {"step": step, "history": ("seen",)}

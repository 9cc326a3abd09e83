"""Continuous heavy hitters over a streaming corpus (N41's streaming
form, SURVEY §2.3 N81 — the "what is hot RIGHT NOW" shape: trending
tokens, hot join keys, runaway crawl domains).

The batch operator (:func:`~.operators.freq.heavy_hitters`) restores
exactness with a second full pass over the data — a luxury a stream
does not have.  The maintainer keeps the mergeable Misra-Gries state
instead: per micro-batch, one distributed MG pass over the batch
(:func:`~.operators.freq.mg_summaries`), then a sketch-sized merge
into the running (counters, decrement, n) state — steady-state cost
is one batch scan plus KB-sized state IO, never a history rescan.

What the state buys, with hard guarantees instead of exactness
(pytest-pinned):

- for every tracked item: ``cnt ≤ true ≤ cnt + dec``;
- for every untracked item: ``true ≤ dec``;
- ``dec ≤ n/(k+1)`` — so with ``k ≥ 1000/support_permille`` every
  true heavy hitter is tracked and flagged (zero false negatives);
- ``confirmed`` rows (``cnt·1000 ≥ permille·n``) are GUARANTEED
  hitters (the lower bound already clears the threshold).

Exactly-once/state contract (the maintainer-family discipline,
`ewma_stream` shape): per-batch dirs ``batch=<id>/{verdict,state}``
with the ``verdict/_DONE`` marker landing last; a re-delivered
complete batch returns before reading anything; retention via
:class:`~.streaming.retention.BatchDirCompactor` compacts verdict
history while the latest STATE always lives in a kept live dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_snapshotter_spark.operators.freq import mg_merge, mg_summaries
from hbase_snapshotter_spark.streaming.retention import BatchDirCompactor
from hbase_snapshotter_spark.streaming.windows import start_foreach_batch

_STATE_SCHEMA = "item string, cnt long"
_META_SCHEMA = "n_total long, decrement long"


class HeavyHittersMaintainer:
    """foreachBatch sink advancing a mergeable Misra-Gries summary;
    per-batch hitter verdicts land in ``state_dir/batch=<id>/verdict``,
    the advanced (counters, meta) state next to them under ``state``
    and ``meta``."""

    def __init__(self, state_dir: str, item_col: str, *,
                 k: int, support_permille: int,
                 retention: int | None = None):
        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        if not 1 <= support_permille <= 1000:
            raise ValueError(
                f"support_permille must be in [1, 1000], "
                f"got {support_permille}")
        self.state_dir = state_dir
        self.item_col = item_col
        self.k = k
        self.support_permille = support_permille
        # retention: batch dirs to keep live (None: no compaction).
        # Only the verdict history compacts — the latest state/meta
        # always live in a kept dir, so reads never need expired dirs.
        self._compactor = BatchDirCompactor(
            state_dir, subtables=("verdict",),
            done_subpath=os.path.join("verdict", "_DONE"),
            retention=retention)
        os.makedirs(state_dir, exist_ok=True)

    # -- reads ---------------------------------------------------------

    def _done_dirs(self) -> list[str]:
        return self._compactor.live_done_dirs()

    def verdicts(self, spark: SparkSession) -> DataFrame | None:
        dirs = self._compactor.table_dirs("verdict")
        return spark.read.parquet(*dirs) if dirs else None

    def state(self, spark: SparkSession) -> DataFrame | None:
        """Latest completed batch's MG counters ``(item, cnt)``."""
        done = self._done_dirs()
        if not done:
            return None
        return spark.read.parquet(os.path.join(done[-1], "state"))

    def meta(self, spark: SparkSession) -> tuple[int, int]:
        """``(n_total, decrement)`` of the latest completed batch."""
        done = self._done_dirs()
        if not done:
            return 0, 0
        row = spark.read.parquet(os.path.join(done[-1], "meta")).head()
        return row.n_total, row.decrement

    def hitters(self, spark: SparkSession) -> DataFrame | None:
        """Latest verdict rows: every CANDIDATE at the support
        threshold, with bounds and the confirmed flag."""
        done = self._done_dirs()
        if not done:
            return None
        return spark.read.parquet(os.path.join(done[-1], "verdict"))

    # -- advance -------------------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        out = os.path.join(self.state_dir, f"batch={batch_id}")
        if self._compactor.is_compacted(batch_id) \
                or os.path.exists(os.path.join(out, "verdict", "_DONE")):
            return  # re-delivered batch: already complete

        # distributed: one MG pass over the batch; everything after is
        # ≤ (k+2)·partitions rows
        parts = mg_summaries(batch, self.item_col, self.k).collect()
        new = [(r[self.item_col], r["cnt"])
               for r in parts if r["kind"] == "counter"]
        batch_dec = sum(r["cnt"] for r in parts if r["kind"] == "dec")
        batch_n = sum(r["cnt"] for r in parts if r["kind"] == "total")

        prior = self.state(spark)
        counters = ({r["item"]: r["cnt"] for r in prior.collect()}
                    if prior is not None else {})
        n0, dec0 = self.meta(spark)
        counters, dec = mg_merge(counters, dec0 + batch_dec, new, self.k)
        n = n0 + batch_n

        thresh = self.support_permille * n
        verdict_rows = [
            (item, cnt, cnt + dec,
             cnt * 1000 >= thresh, (cnt + dec) * 1000 >= thresh, n)
            for item, cnt in sorted(counters.items())]
        verdict = spark.createDataFrame(
            [r for r in verdict_rows if r[4]],
            "item string, cnt_lower long, cnt_upper long, "
            "confirmed boolean, candidate boolean, n_total long")
        verdict.write.mode("overwrite") \
            .parquet(os.path.join(out, "verdict"))
        spark.createDataFrame(
            sorted(counters.items()) or [(None, None)], _STATE_SCHEMA) \
            .filter(F.col("item").isNotNull()) \
            .write.mode("overwrite").parquet(os.path.join(out, "state"))
        spark.createDataFrame([(n, dec)], _META_SCHEMA) \
            .write.mode("overwrite").parquet(os.path.join(out, "meta"))
        # _DONE lands LAST: a crash mid-write leaves the dir incomplete
        # and the re-delivered batch re-runs the whole advance
        with open(os.path.join(out, "verdict", "_DONE"), "w") as fh:
            fh.write("")
        self._compactor.compact(spark)


def maintain_heavy_hitters(stream_df: DataFrame, state_dir: str,
                           item_col: str, *, k: int,
                           support_permille: int,
                           retention: int | None = None,
                           **start_kwargs):
    """Start the heavy-hitters maintenance query.  Returns
    (StreamingQuery, HeavyHittersMaintainer)."""
    maintainer = HeavyHittersMaintainer(
        state_dir, item_col, k=k, support_permille=support_permille,
        retention=retention)
    query = start_foreach_batch(
        stream_df, maintainer.process_batch, **start_kwargs)
    return query, maintainer

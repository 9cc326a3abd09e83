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

Exactly-once/state contract (the one batch-dir protocol of
:class:`~.streaming.retention.StateMaintainer`): per-batch dirs
``batch=<id>/{verdict,state,meta}`` with ``_DONE`` landing last; a
re-delivered complete batch returns before reading anything; retention
compacts the verdict history while the latest ``state``/``meta`` always
live in a kept live dir.  ``latest(spark, "verdict")`` is the current
hitter list, ``history(spark, "verdict")`` every batch's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_snapshotter_spark.operators.freq import mg_merge, mg_summaries
from hbase_snapshotter_spark.streaming.retention import (
    StateMaintainer,
    WriteFn,
)

_STATE_SCHEMA = "item string, cnt long"
_META_SCHEMA = "n_total long, decrement long"


def heavy_hitters_meta(m: StateMaintainer,
                       spark: SparkSession) -> tuple[int, int]:
    """``(n_total, decrement)`` of the latest completed batch."""
    meta = m.latest(spark, "meta")
    if meta is None:
        return 0, 0
    row = meta.head()
    return row.n_total, row.decrement


def heavy_hitters_step(item_col: str, *, k: int,
                       support_permille: int) -> dict:
    """Maintainer keywords advancing a mergeable Misra-Gries summary:
    per-batch hitter verdicts under ``verdict``, the advanced counters
    ``(item, cnt)`` under ``state`` and ``(n_total, decrement)`` under
    ``meta``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 1 <= support_permille <= 1000:
        raise ValueError(
            f"support_permille must be in [1, 1000], "
            f"got {support_permille}")

    def step(m: StateMaintainer, batch: DataFrame, batch_id: int,
             write: WriteFn) -> None:
        spark = batch.sparkSession
        # distributed: one MG pass over the batch; everything after is
        # ≤ (k+2)·partitions rows
        parts = mg_summaries(batch, item_col, k).collect()
        new = [(r[item_col], r["cnt"])
               for r in parts if r["kind"] == "counter"]
        batch_dec = sum(r["cnt"] for r in parts if r["kind"] == "dec")
        batch_n = sum(r["cnt"] for r in parts if r["kind"] == "total")

        prior = m.latest(spark, "state")
        counters = ({r["item"]: r["cnt"] for r in prior.collect()}
                    if prior is not None else {})
        n0, dec0 = heavy_hitters_meta(m, spark)
        counters, dec = mg_merge(counters, dec0 + batch_dec, new, k)
        n = n0 + batch_n

        thresh = support_permille * n
        verdict_rows = [
            (item, cnt, cnt + dec,
             cnt * 1000 >= thresh, (cnt + dec) * 1000 >= thresh, n)
            for item, cnt in sorted(counters.items())]
        write("verdict", spark.createDataFrame(
            [r for r in verdict_rows if r[4]],
            "item string, cnt_lower long, cnt_upper long, "
            "confirmed boolean, candidate boolean, n_total long"))
        write("state", spark.createDataFrame(
            sorted(counters.items()) or [(None, None)], _STATE_SCHEMA)
            .filter(F.col("item").isNotNull()))
        write("meta", spark.createDataFrame([(n, dec)], _META_SCHEMA))

    return {"step": step, "history": ("verdict",)}

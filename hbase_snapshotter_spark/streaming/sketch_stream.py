"""Continuous sketch-state maintenance (SURVEY §2.3 N85) — ONE
apply closure for the whole bucket-sum sketch family.

The mergeable sketch states (N58 DDSketch quantiles, N65 count-min)
share a shape: ``(*keys, cnt)`` histogram rows whose merge is a
bucket-wise count sum — associative, commutative, and LOSSLESS
(``merge(state(A), state(B)) = state(A ⊎ B)`` exactly).  That makes
their streaming form almost free: per micro-batch, build the batch's
delta state (the only data-sized work) and bucket-sum it into the
prior — and because the merge is lossless, the streamed chain equals
the batch-built state over everything seen BIT FOR BIT, which is
exactly what the pytest pins (no tolerance, no weaker rows-only
check).

:func:`sketch_apply` is generic over the state builder: pass
``quantile_state`` / ``cms_state`` (or any builder producing
bucket-sum-mergeable ``(*merge_keys, cnt)`` rows) and the merge keys,
and run the closure through
:func:`~.streaming.retention.full_state_step`.
Every downstream consumer that reads these states — rank-normalize
(N74), winsorize (N75), point estimates, PSI reference — refreshes
continuously without a history rescan.

Exactly-once/state contract (the one batch-dir protocol): each
batch dir holds the FULL advanced state (so a read needs only the
newest complete dir, never a union), the ``_DONE`` marker lands last,
a re-delivered complete or compacted batch returns before reading
anything (bucket-sum is NOT idempotent — the guard is the
correctness line, same contract as the batch advance), and N78
retention deletes expired dirs outright: unlike union-read verdict
histories there is nothing to compact — the newest state subsumes
them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hbase_snapshotter_spark.streaming.retention import ApplyFn


def sketch_apply(build_state: Callable[[DataFrame], DataFrame],
                 merge_keys: list[str]) -> ApplyFn:
    """Apply closure for a bucket-sum sketch state: build the batch's
    delta state and bucket-sum it into the prior."""

    def apply(prior: DataFrame | None, batch: DataFrame) -> DataFrame:
        delta = build_state(batch)
        return (delta if prior is None
                else prior.unionByName(delta)
                .groupBy(*merge_keys)
                .agg(F.sum("cnt").cast("long").alias("cnt")))

    return apply

"""Continuous per-group top-k maintenance — N88's streaming form.

Per micro-batch, the k×groups-row state unions with the batch and the
top-k is re-taken (:func:`~.operators.timeseries.advance_topk_state`,
WindowGroupLimit map-side partial top-k); :func:`topk_apply` is that
step as an apply closure, run by the one state maintainer through
:func:`~.streaming.retention.full_state_step`.  Two properties make
this the LIGHTEST state in the family:

- **monotone**: under insert-only streams the k-row state is
  sufficient — no history rescan, ever (deletes are documented out;
  recompute from the N50 changefeed's before-images);
- **idempotent**: re-applying a delta already reflected in the state
  changes nothing (every delta row is either IN the top-k or dominated
  by k rows that stay), so a re-delivered micro-batch is harmless by
  ALGEBRA, not just by the done-marker guard — pinned by pytest, which
  re-runs a full replay over the existing state and asserts
  bit-identical output.  The guard is still kept: it saves the wasted
  recompute and keeps expired-dir retention sound.

State layout and retention follow the N85 full-state discipline: each
batch dir holds the FULL advanced state (reads touch one dir), the
``_DONE`` marker lands last, and N78 retention deletes expired dirs
outright — every newer state subsumes them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from hbase_snapshotter_spark.operators.timeseries import (
    advance_topk_state,
    topk_state,
)
from hbase_snapshotter_spark.streaming.retention import ApplyFn


def topk_apply(*, group_cols: list[str], id_col: str, score_col: str,
               k: int) -> ApplyFn:
    """Apply closure for a per-group top-k state: the batch's
    ``(*group_cols, id, score)`` rows advance the prior top-k."""
    kw = dict(group_cols=group_cols, id_col=id_col, score_col=score_col,
              k=k)

    def apply(prior: DataFrame | None, batch: DataFrame) -> DataFrame:
        delta = batch.select(*group_cols, id_col, score_col)
        return (topk_state(delta, **kw) if prior is None
                else advance_topk_state(prior, delta, **kw))

    return apply

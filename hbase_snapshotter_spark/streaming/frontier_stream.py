"""Continuous Pareto-frontier maintenance (SURVEY §2.3 N107 streaming
form) — the skyline joins the engine's maintained-state family.

The skyline-merge algebra that makes the batch advance exact
(``skyline(C ∪ D) = skyline(skyline(C) ∪ skyline(D))``, with duplicate
coordinate pairs merging associatively by count sum + min
representative) also makes the streaming form exact for ANY split of
the rows into micro-batches in ANY order: per batch, sweep the batch
alone (the only data-sized work — output is batch-frontier-sized),
then advance the prior frontier state with it — :func:`frontier_apply`,
run through :func:`~.streaming.retention.full_state_step`.  The streamed chain
equals the batch-built frontier over everything seen BIT FOR BIT,
which is what the pytest pins.

State is tiny (per group, frontier-sized), so each batch dir holds the
FULL advanced frontier and a read needs only the newest complete dir.
The one batch-dir protocol: ``_DONE`` lands last, a re-delivered
complete or compacted batch returns before reading anything (count
merging is NOT idempotent — the guard is the correctness line), and
N78 retention deletes expired dirs outright (the newest state subsumes
every older one)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from hbase_snapshotter_spark.operators.sampling import (
    advance_pareto_frontier,
    pareto_frontier,
)
from hbase_snapshotter_spark.streaming.retention import ApplyFn


def frontier_apply(*, group_cols: list[str], max_col: str, min_col: str,
                   id_col: str) -> ApplyFn:
    """Apply closure for a materialized Pareto frontier: the batch's
    own frontier advances the prior one."""
    kw = dict(group_cols=group_cols, max_col=max_col, min_col=min_col,
              id_col=id_col)

    def apply(prior: DataFrame | None, batch: DataFrame) -> DataFrame:
        return (pareto_frontier(batch, **kw) if prior is None
                else advance_pareto_frontier(prior, batch, **kw))

    return apply

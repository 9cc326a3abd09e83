"""Partition-pruned incremental snapshot maintenance (N25, scale form).

:func:`~hbase_snapshotter_spark.operators.snapshot.advance_latest_cells`
is sound for any delta, but its one shuffle carries the WHOLE live-cell
state every advance — at a 100 TB state table that is the dominant cost
even when the delta touches a sliver of the key space.  The production
answer is a transactional MERGE (Delta/Iceberg) whose join keys align
with the state table's layout; this module implements the same
input-pruning idea with nothing but parquet + hive-style partitions,
so it runs anywhere Spark runs:

1. The state table is PARTITIONED by a deterministic hash bucket of
   ``row_key`` (``state_bucket = hash_bucket(row_key) % n_buckets`` —
   the same md5 bucketing as :mod:`~.sampling`, so bucket membership is
   content-determined and stable across runs, engines, and data
   growth).
2. An advance first reduces the delta and derives its TOUCHED bucket
   set (≤ ``n_buckets`` values — an index-sized driver collect, like
   the centroid table in :mod:`~.similarity`).
3. Only the touched partitions are read: the ``state_bucket IN (...)``
   predicate is a partition filter, so Spark's file listing skips every
   untouched directory — untouched state is never read, never
   shuffled, never rewritten.
4. The merged result is written back with DYNAMIC partition overwrite
   (``partitionOverwriteMode=dynamic``): only partitions present in
   the output — exactly the touched ones — are replaced; the rest of
   the table is untouched on disk (pinned by file-mtime equality in
   ``tests/test_snapshot_state.py``).

Work per advance is therefore ∝ (state rows in touched buckets +
delta), not ∝ total state: with uniformly hashed keys a delta touching
``t`` of ``n_buckets`` buckets reads ``t/n_buckets`` of the state
(measured in SCALE.md's N25 row).  Correctness is NOT traded for this:
the merged subset is produced by the same associative
``advance_latest_cells`` merge, and rows outside the touched buckets
cannot change (no delta cell hashes into them — bucket is a pure
function of ``row_key``), so pruned-advance state ≡ full-advance state
byte-for-byte (pytest-pinned).

Crash safety: dynamic overwrite replaces partitions via the Hadoop
output committer, but a multi-partition replace is not atomic as a
whole — a production deployment layers the marker-file versioning of
:mod:`~.streaming.snapshot_stream` (or a table format) on top; this
module is the pruning engine, not the transaction log.

Reference lineage: the reference rescans ``[0, ts]`` per snapshot
(``HBaseSnapshotter.scala:123-137``); its docs describe delta imports
merged by "group by k_hbase_row_key and select the latest"
(``Schema.scala:123-127``) — this is that merge, with the input pruned
to the delta's key range.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_snapshotter_spark.operators.sampling import hash_bucket
from hbase_snapshotter_spark.operators.snapshot import (
    CELL_KEY,
    QUALIFIER_KEY,
    advance_latest_cells,
    advance_scd2,
    as_of,
    compact_cells,
    latest_cells,
    scd2_history,
)

#: Partition column of the bucketed state table.
STATE_BUCKET_COL = "state_bucket"

#: Default bucket count.  Size so one bucket ≈ a few GB at the target
#: state size (100 TB state → O(10⁴–10⁵) buckets); 64 keeps the fixture
#: layout readable.
DEFAULT_STATE_BUCKETS = 64


def state_bucket(row_key: Column | str, n_buckets: int = DEFAULT_STATE_BUCKETS) -> Column:
    """Deterministic state bucket for a row key — md5-derived via
    :func:`~.sampling.hash_bucket` (mod 1000) folded to ``n_buckets``,
    so assignment is engine-independent and NULL-total."""
    return (hash_bucket(row_key) % n_buckets).cast("int")


def write_state(
    cells: DataFrame,
    path: str,
    *,
    n_buckets: int = DEFAULT_STATE_BUCKETS,
) -> None:
    """Materialize a latest-cells state table partitioned by
    :func:`state_bucket` of ``row_key`` — the layout every pruned
    advance relies on."""
    (cells.withColumn(STATE_BUCKET_COL, state_bucket("row_key", n_buckets))
     .write.mode("overwrite").partitionBy(STATE_BUCKET_COL).parquet(path))


def read_state(spark: SparkSession, path: str) -> DataFrame:
    """Full state read (all buckets), bucket column dropped — the shape
    ``snapshot_as_of`` consumes."""
    return spark.read.parquet(path).drop(STATE_BUCKET_COL)


def init_state(
    changelog: DataFrame,
    path: str,
    ts: int | None = None,
    *,
    n_buckets: int = DEFAULT_STATE_BUCKETS,
) -> None:
    """Bootstrap the bucketed state table from a change log: one full
    ``latest_cells`` reduction (the reference's rescan — paid once),
    written in the pruned-advance layout."""
    write_state(latest_cells(changelog, ts), path, n_buckets=n_buckets)


def advance_state_pruned(
    spark: SparkSession,
    path: str,
    delta_log: DataFrame,
    ts: int | None = None,
    *,
    n_buckets: int = DEFAULT_STATE_BUCKETS,
    compact: dict | None = None,
) -> list[int]:
    """Advance the bucketed state table at ``path`` by ``delta_log``,
    reading and rewriting ONLY the delta-touched buckets.  Returns the
    sorted touched-bucket list (the unit the caller can assert/monitor
    pruning with).

    The delta is pre-reduced (``latest_cells`` — map-side partials
    collapse re-deliveries before the wire) and persisted: it feeds the
    touched-bucket probe and the merge.  The touched-bucket collect is
    ≤ ``n_buckets`` ints — index-sized, never data.  The state read
    carries ``state_bucket IN (touched)`` so partition pruning keeps
    untouched directories out of the file listing entirely; the write
    uses dynamic partition overwrite so they are not rewritten either.

    ``compact`` (VERDICT r6 task 5) piggybacks major compaction on the
    same cycle: a dict of
    :func:`~hbase_snapshotter_spark.operators.snapshot.compact_cells`
    kwargs (``horizon_ts`` and ``ttl_cutoff_ts``) applied to
    the merged cells BEFORE the write, keeping only ``cell_fate =
    'kept'`` rows.  Each touched bucket is then read once and written
    once per cycle — there is no second compaction rewrite (measured in
    ``tools/pruned_state_io.py`` — fused vs two-step bucket writes).  The tombstone join stays
    bucket-local because every cell of a row hashes to that row's
    bucket.  Untouched buckets keep their expired cells until a delta
    next touches them — compaction here is opportunistic (exactly
    HBase's own minor/major compaction economics: collection rides the
    writes); a full sweep is ``compact_cells`` over the whole state.
    Fused-path state ≡ advance-then-compact two-step state,
    byte-for-byte (pytest-pinned)."""
    from hbase_snapshotter_spark.cache import scoped_persist

    delta = scoped_persist(latest_cells(
        as_of(delta_log, ts).select(*CELL_KEY, "value", "cell_ts"), None))
    touched = sorted(
        r[0] for r in delta.select(
            state_bucket("row_key", n_buckets).alias("b")).distinct().collect())
    if not touched:
        return []
    prev = (
        spark.read.parquet(path)
        .filter(F.col(STATE_BUCKET_COL).isin(touched))
        .drop(STATE_BUCKET_COL)
    )
    merged = advance_latest_cells(prev, delta, None)
    if compact is not None:
        merged = (
            compact_cells(merged, **compact)
            .filter(F.col("cell_fate") == "kept")
            .drop("cell_fate", "row_deleted")
        )
    (merged.withColumn(STATE_BUCKET_COL, state_bucket("row_key", n_buckets))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(STATE_BUCKET_COL).parquet(path))
    return touched


def init_scd2_state(
    changelog: DataFrame,
    path: str,
    *,
    n_buckets: int = DEFAULT_STATE_BUCKETS,
) -> None:
    """Bootstrap a bucketed SCD2 history table (N54 scale form): one
    full :func:`~.snapshot.scd2_history` reconstruction — paid once —
    written in the same hash-bucket layout as the latest-cells state,
    so advances prune to delta-touched buckets."""
    write_state(scd2_history(changelog), path, n_buckets=n_buckets)


def advance_scd2_pruned(
    spark: SparkSession,
    path: str,
    delta_log: DataFrame,
    *,
    n_buckets: int = DEFAULT_STATE_BUCKETS,
) -> list[int]:
    """Advance a bucketed SCD2 history table by ``delta_log``, reading
    and rewriting ONLY the delta-touched buckets (VERDICT r6 task 6 —
    the partition-pruned treatment :func:`advance_state_pruned` gives
    latest-cells, applied to N54).  Returns the sorted touched-bucket
    list.

    The pruning argument is the same and strictly cell-local: every
    interval row of a cell lives in its ``row_key``'s bucket (the
    partition function ignores ts/value), a delta cell can only extend
    or re-window intervals of ITS OWN cell, so rows outside the touched
    buckets cannot change.  Within the touched subset
    :func:`~.snapshot.advance_scd2`'s untouched-cell anti-join and
    tail re-window run co-partitioned against bucket-resident state —
    the ``state_bucket IN (touched)`` predicate is a PartitionFilter
    (plan-pinned in ``tests/test_snapshot_state.py``), untouched
    directories never enter the file listing and keep their exact bytes
    (mtime-pinned), and re-delivered deltas are no-ops end-to-end."""
    from hbase_snapshotter_spark.cache import scoped_persist

    cols = [*QUALIFIER_KEY, "cell_ts", "value"]
    delta = scoped_persist(delta_log.select(*cols).dropDuplicates(cols))
    touched = sorted(
        r[0] for r in delta.select(
            state_bucket("row_key", n_buckets).alias("b")).distinct().collect())
    if not touched:
        return []
    prev = (
        spark.read.parquet(path)
        .filter(F.col(STATE_BUCKET_COL).isin(touched))
        .drop(STATE_BUCKET_COL)
    )
    merged = advance_scd2(prev, delta)
    (merged.withColumn(STATE_BUCKET_COL, state_bucket("row_key", n_buckets))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(STATE_BUCKET_COL).parquet(path))
    return touched

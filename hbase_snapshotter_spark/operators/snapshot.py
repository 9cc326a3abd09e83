"""Point-in-time snapshot of a versioned change-log table.

The flagship pipeline — the reference's whole reason to exist
(``HBaseSnapshotter.scala:108-138``) re-expressed as one Catalyst-planned
DataFrame DAG:

    read change log → filter(cell_ts <= ts)          # S2, Parquet-pushed
      → latest version per CELL                      # HBase VERSIONS semantics
      → pivot qualifiers into columns                # row materialization
      → typed decode with NULL sentinel              # S7/S8
      → k_hbase_row_key / k_replicator_row_status    # S9/S10

Change-log input model (``FIXTURES.md`` B1, mirroring the HBase cell
layout of ``HBaseSnapshotter.scala:39-41``)::

    row_key: string, family: string, qualifier: string,
    value: string, cell_ts: long (epoch millis)

Scale design (100 TB):

- The time-range predicate is a plain ``cell_ts <= ts`` filter that
  Catalyst pushes into the Parquet scan (min/max pruning; partition
  pruning when the log is date-partitioned) — same effect as the
  reference's server-side ``Scan.setTimeRange`` (HBaseSnapshotter.scala:124).
- Latest-per-cell + pivot is ONE hash aggregation (``groupBy(row_key)
  .pivot(...).agg(max(struct(cell_ts, value)))``): partial aggregation
  runs map-side before the single shuffle by ``row_key``, so shuffle
  volume is ~one row per key per partition, not the raw change volume.
  No window sort is needed anywhere on this path.
- All decode logic is column expressions → whole-stage codegen; there is
  no Python on the data path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, DateType, StructType, TimestampType

from hbase_snapshotter_spark.plans.schema import (
    DEFAULT_FAMILY,
    KEY_COLUMN,
    STATUS_COLUMN,
)


def decode_expr(col: Column, dtype: DataType, *, strict: bool = False) -> Column:
    """Stringified cell value → typed column (``transformMapToRow``,
    ``HBaseSnapshotter.scala:58-106``):

    - literal ``"NULL"`` (any case) → SQL NULL (HBaseSnapshotter.scala:75-76);
    - timestamps are epoch-millis strings (HBaseSnapshotter.scala:82);
    - dates are ``yyyy-MM-dd`` strings (HBaseSnapshotter.scala:87-90);
    - everything else is a plain cast (int/long/double/string).

    ``strict=True`` reproduces the reference's error mode — a malformed
    value FAILS the job (decode errors are logged and rethrown,
    ``HBaseSnapshotter.scala:95-102``) instead of Spark's silent
    cast-to-NULL.
    """
    non_null = F.when(F.upper(col) == F.lit("NULL"), F.lit(None)).otherwise(col)
    # Spark 4 runs ANSI mode by default, where a plain cast throws on
    # malformed input — exactly the reference's strict behavior.  The
    # lenient (Spark-idiomatic) default therefore uses try_cast.
    cast = (lambda c, t: c.cast(t)) if strict else (lambda c, t: c.try_cast(t))
    if isinstance(dtype, TimestampType):
        decoded = F.timestamp_millis(cast(non_null, "long"))
    elif isinstance(dtype, DateType):
        decoded = F.try_to_date(non_null, "yyyy-MM-dd") if not strict \
            else F.to_date(non_null, "yyyy-MM-dd")
    else:
        decoded = cast(non_null, dtype)
    if strict:
        err = F.concat(F.lit(f"cannot decode value to {dtype.simpleString()}: "), col)
        return F.when(non_null.isNotNull() & decoded.isNull(), F.raise_error(err)) \
            .otherwise(decoded)
    return decoded


def as_of(changelog: DataFrame, ts: int | None, *, ts_col: str = "cell_ts") -> DataFrame:
    """Time-range predicate ``[0, ts]``; ``ts`` < 0 / ``None`` = "now".

    Deliberate divergence from the reference: HBase's
    ``Scan.setTimeRange(0, ts)`` (``HBaseSnapshotter.scala:123-124``)
    has an EXCLUSIVE ``maxStamp``, so a cell written exactly at ``ts``
    is invisible there but visible here.  SURVEY.md pins the inclusive
    bound ("state at time ts" reads naturally as ≤ ts, matching SQL
    ``BETWEEN``/time-travel conventions); callers needing HBase-exact
    semantics pass ``ts - 1``."""
    if ts is None or ts < 0:
        return changelog
    return changelog.filter(F.col(ts_col) <= F.lit(ts))


def latest_cells(
    changelog: DataFrame,
    ts: int | None = None,
    *,
    key_cols: tuple[str, ...] = ("row_key", "family", "qualifier"),
    ts_col: str = "cell_ts",
    value_col: str = "value",
) -> DataFrame:
    """Latest version ≤ ts of every cell — HBase per-CELL visibility
    (a reconstructed row may mix cell versions; pinned by fixtures).

    A single aggregation, not a window: ``max(struct(cell_ts, value))``
    gives the latest value with a deterministic tie-break on value, with
    map-side PARTIAL aggregation before the one shuffle — so shuffle
    volume is ~one row per live cell per map partition, not the raw
    change volume.  (Physically Spark plans a SortAggregate — struct
    buffers aren't hash-aggregable — but the partial/final split and the
    shuffle-volume bound are identical to the hash form; no sort of the
    FULL history by any window key ever happens.)
    """
    agg = F.max(F.struct(F.col(ts_col), F.col(value_col))).alias("__latest")
    return (
        as_of(changelog, ts, ts_col=ts_col)
        .groupBy(*key_cols)
        .agg(agg)
        .select(
            *key_cols,
            F.col(f"__latest.{value_col}").alias(value_col),
            F.col(f"__latest.{ts_col}").alias(ts_col),
        )
    )


def latest_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    *,
    tie_break: list[str] | None = None,
) -> DataFrame:
    """Latest-row-per-key dedup (S18) — the documented downstream contract
    of ``k_hbase_row_key`` ("group by k_hbase_row_key and select the
    latest", ``Schema.scala:123-127``), as a first-class operator.

    Window + ``row_number`` keeps whole rows; deterministic via explicit
    tie-break columns.  For very hot keys prefer aggregating
    ``max(struct(order, *row))`` instead; this variant is the general one.
    """
    order = [F.desc(order_col)] + [F.desc(c) for c in (tie_break or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def advance_latest_cells(
    prev_cells: DataFrame,
    delta_log: DataFrame,
    ts: int | None = None,
    *,
    key_cols: tuple[str, ...] = ("row_key", "family", "qualifier"),
    ts_col: str = "cell_ts",
    value_col: str = "value",
) -> DataFrame:
    """Incremental snapshot maintenance — the 100 TB upgrade over the
    reference's full-rescan pipeline (`HBaseSnapshotter.scala:123-137`
    rescans `[0, ts]` for every snapshot): advance a MATERIALIZED
    latest-cells state to a later timestamp from only the delta change
    log.

    Sound because the latest-cell aggregate ``max(struct(ts, value))``
    is associative and commutative::

        latest(log ≤ T2)  ==  latest( latest(log ≤ T1) ∪ log(T1, T2] )

    Re-delivered or overlapping delta cells are harmless (idempotent
    max) — the caller bounds the delta below (``ts > T1``) for
    efficiency, not correctness; ``ts`` bounds it above.  Work is
    ∝ live cells + delta, never total history: the one shuffle carries
    the (bounded) live-cell state plus the delta, measured 11.6× less
    input than the rescan at the 100× fixture (SCALE.md).  Removing the
    state-side shuffle entirely needs a storage-level merge — a
    transactional table MERGE with join keys aligned to the state
    table's bucketing (plain ``bucketBy`` does NOT survive the union
    aggregate: Spark re-partitions the unioned stream, verified in the
    physical plan) — which production gets from Delta/Iceberg with the
    same merge logic.  Short of a table format,
    :mod:`~.snapshot_state` prunes the state-side INPUT instead: a
    hash-bucket-partitioned state table advanced only in the
    delta-touched partitions (dynamic partition overwrite), state read
    ∝ touched buckets — measured proportional in SCALE.md.  The
    registered ``snapshot_diff`` query folds the equality above into
    its driver hash (``incremental_consistent``)."""
    cols = [*key_cols, value_col, ts_col]
    delta = as_of(delta_log, ts, ts_col=ts_col).select(*cols)
    return latest_cells(
        prev_cells.select(*cols).unionByName(delta), None,
        key_cols=key_cols, ts_col=ts_col, value_col=value_col)


def latest_cells_multi(
    changelog: DataFrame,
    timestamps: list[int],
    *,
    key_cols: tuple[str, ...] = ("row_key", "family", "qualifier"),
    ts_col: str = "cell_ts",
    value_col: str = "value",
) -> DataFrame:
    """Latest cell version at EACH of N snapshot timestamps, in one scan
    and one shuffle — batch time travel.

    Each change row fans out to the snapshots it's visible in (explode of
    the qualifying ts list), then one hash aggregation per (snapshot_ts,
    cell) picks the latest.  Cost: one pass over the log + shuffle of
    ≤ N × live-cells rows — versus N separate scans for N point queries.
    Output adds a leading ``snapshot_ts`` column.
    """
    ts_arr = F.array(*[F.lit(int(t)) for t in sorted(timestamps)])
    fanned = changelog.select(
        F.explode(F.filter(ts_arr, lambda t: F.col(ts_col) <= t)).alias("snapshot_ts"),
        *[F.col(c) for c in changelog.columns],
    )
    agg = F.max(F.struct(F.col(ts_col), F.col(value_col))).alias("__latest")
    return (
        fanned.groupBy("snapshot_ts", *key_cols)
        .agg(agg)
        .select(
            "snapshot_ts", *key_cols,
            F.col(f"__latest.{value_col}").alias(value_col),
            F.col(f"__latest.{ts_col}").alias(ts_col),
        )
    )


def snapshot_as_of(
    changelog: DataFrame,
    schema: StructType,
    ts: int | None = None,
    *,
    row_key_col: str = "row_key",
    family_col: str = "family",
    qualifier_col: str = "qualifier",
    value_col: str = "value",
    ts_col: str = "cell_ts",
    strict_decode: bool = False,
) -> DataFrame:
    """Materialize the typed table as it existed at ``ts``.

    ``schema`` is the snapshot ``StructType`` with per-field cell bindings
    in metadata (from ``plans.schema``).  Columns present in the schema
    but absent from the log resolve to NULL; cells in the log but not in
    the schema (columns added after ts) are simply not pivoted — schema
    drift both ways is handled.

    Two-stage aggregation, both with map-side partials:

    1. latest-per-cell: plain ``groupBy(key, family, qualifier)
       .agg(max(struct(ts, value)))`` — the hot stage, one narrow
       expression per row;
    2. row materialization: pivot over the already-reduced cells (one
       row per live cell) with a trivial ``first`` aggregate.

    The fused single-shuffle form (``groupBy(key).pivot(cell)
    .agg(max(struct))``) was measured 7× slower at 10M cells: PivotFirst
    evaluates every pivot slot per input row, so its per-row CPU dwarfs
    the second (live-cell-sized) shuffle this version adds.  Cells not
    named by the schema are filtered out before stage 1 — the scan-side
    projection the reference did with ``Scan.addColumn``.
    """
    data_fields = [f for f in schema.fields if f.metadata.get("qualifier")]
    cells = [f"{f.metadata.get('family', DEFAULT_FAMILY)}:{f.metadata['qualifier']}"
             for f in data_fields]

    fam_quals: dict[str, list[str]] = {}
    for f in data_fields:
        fam_quals.setdefault(f.metadata.get("family", DEFAULT_FAMILY), []) \
            .append(f.metadata["qualifier"])
    keep = None
    for fam, quals in fam_quals.items():
        cond = (F.col(family_col) == fam) & F.col(qualifier_col).isin(quals)
        keep = cond if keep is None else (keep | cond)
    if keep is None:
        raise ValueError(
            "schema binds no cells: no field carries a family/qualifier "
            "binding (explicit_schema([]) or a schema of synthetic columns "
            "only) — nothing to snapshot")

    latest = (
        as_of(changelog, ts, ts_col=ts_col)
        .filter(keep)
        .groupBy(F.col(row_key_col), F.col(family_col), F.col(qualifier_col))
        .agg(F.max(F.struct(F.col(ts_col), F.col(value_col))).alias("__latest"))
    )
    pivoted = (
        latest.withColumn(
            "__cell", F.concat_ws(":", F.col(family_col), F.col(qualifier_col)))
        .groupBy(F.col(row_key_col))
        .pivot("__cell", list(dict.fromkeys(cells)))
        .agg(F.first(F.col(f"__latest.{value_col}")))
    )

    out: list[Column] = []
    for f in schema.fields:
        if f.metadata.get("key"):
            out.append(F.col(row_key_col).alias(KEY_COLUMN))
            continue
        cell = f"{f.metadata.get('family', DEFAULT_FAMILY)}:{f.metadata['qualifier']}"
        raw = F.col(f"`{cell}`")
        if f.metadata.get("status"):
            out.append(raw.alias(STATUS_COLUMN))
        else:
            out.append(decode_expr(raw, f.dataType, strict=strict_decode).alias(f.name))
    return pivoted.select(*out)


def compact_cells(
    cells: DataFrame,
    *,
    horizon_ts: int,
    ttl_cutoff_ts: int,
    key_col: str = "row_key",
    qualifier_col: str = "qualifier",
    ts_col: str = "cell_ts",
    value_col: str = "value",
    status_qualifier: str = "row_status",
    delete_marker: str = "D",
) -> DataFrame:
    """Major-compaction classification of a latest-cells state (N40) —
    the retention half the reference leaves to HBase itself: its
    replicator writes ``d:row_status`` delete markers
    (``Schema.scala:135-147`` — "denotes whether the row is the result
    of a schema change (deletion, update, etc)") and relies on HBase
    major compaction to eventually collect tombstoned rows and
    TTL-expired cells.  A warehouse-side state table
    (:func:`advance_latest_cells` / :mod:`~.snapshot_state`) must do
    its own collection or grow monotonically.

    Every input cell comes back with ``row_deleted`` and a ``cell_fate``:

    - ``deleted`` — the row's ``row_status`` cell is ``delete_marker``
      with ``cell_ts <= horizon_ts`` (the tombstone is old enough that
      no snapshot newer than the horizon can resurrect the row), so ALL
      the row's cells are collectible, marker included;
    - ``expired``  — not deleted, but ``cell_ts < ttl_cutoff_ts`` (TTL);
    - ``kept``     — everything else.  The compacted state is
      ``filter(cell_fate = 'kept')``.

    Scale shape: the tombstone set is a narrow filter of the state
    itself; classification is ONE left join keyed on ``key_col`` plus
    pure column expressions — no aggregation, no window.  Run against
    the hash-bucket-partitioned state table the join is co-partitioned
    (both sides derive from the same bucket), so compacting N buckets
    is N independent narrow jobs — the same pruning story as the
    partition-pruned advance, and at 100 TB compaction piggybacks on
    the buckets an advance already rewrites."""
    tombstones = (
        cells.filter((F.col(qualifier_col) == status_qualifier)
                     & (F.col(value_col) == delete_marker)
                     & (F.col(ts_col) <= F.lit(horizon_ts)))
        # distinct: a raw (non-latest-cells) input can carry several
        # qualifying marker VERSIONS for one key — without the dedup
        # the left join would fan out every cell of that key
        .select(F.col(key_col)).distinct()
        .withColumn("__row_deleted", F.lit(True))
    )
    classified = (
        cells.join(tombstones, key_col, "left")
        .withColumn("row_deleted", F.coalesce("__row_deleted", F.lit(False)))
        .drop("__row_deleted")
    )
    fate = (
        F.when(F.col("row_deleted"), F.lit("deleted"))
        .when(F.col(ts_col) < F.lit(ttl_cutoff_ts), F.lit("expired"))
        .otherwise(F.lit("kept"))
    )
    return classified.withColumn("cell_fate", fate)


def scd2_history(
    changelog: DataFrame,
    *,
    key_cols: tuple[str, ...] = ("row_key", "qualifier"),
    ts_col: str = "cell_ts",
    value_col: str = "value",
) -> DataFrame:
    """SCD2 reconstruction (N49): every cell VERSION with its validity
    interval — ``(*key_cols, value, valid_from, valid_to, version,
    is_current)``, ``valid_to`` exclusive and NULL on the live version.

    The snapshot lane answers "state AT ts" (one version per cell);
    operating a change-captured warehouse also needs "state OVER time"
    — the slowly-changing-dimension view every BI layer builds from a
    CDC log (Kimball type-2: new row per change, close the old row's
    interval).  The change log IS the SCD source; reconstruction is one
    ``lead`` window per cell: ``valid_to = next version's ts``.

    Scale shape: the window partitions by CELL, so partition sizes are
    per-cell version counts (bounded by retention policy — dozens, not
    data-sized), never a global sort; one shuffle by key.  Ties (two
    versions at one ts) order deterministically by value — the same
    tie-break as :func:`latest_cells` — producing a zero-length
    interval for the shadowed write."""
    w = Window.partitionBy(*[F.col(c) for c in key_cols]) \
        .orderBy(F.col(ts_col), F.col(value_col))
    return (
        changelog.select(*key_cols, value_col, ts_col)
        .withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w))
        .withColumn("version", F.row_number().over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop(ts_col)
    )


def advance_scd2(
    state: DataFrame,
    delta: DataFrame,
    *,
    key_cols: tuple[str, ...] = ("row_key", "qualifier"),
    ts_col: str = "cell_ts",
    value_col: str = "value",
) -> DataFrame:
    """Incremental SCD2 maintenance (N54): advance a materialized
    :func:`scd2_history` table with ONLY the delta change log — the
    SCD2 member of the incremental-state family (N25 latest-cells, N43
    PQ codes, N48 sketches).  At 100 TB the history table is rebuilt by
    nobody; the delta is the only affordable input.

    Sound because a delta row's ``ts`` is strictly after every closed
    interval of its cell: the open (current) version is the latest
    ≤ T1, the delta carries ``(T1, T2]``, so closed rows' ``lead``
    values — already determined by their successor — can never change.
    Only the per-cell TAIL (the open row + the cell's delta versions)
    needs the window re-run, and version numbers continue from the open
    row's.  Re-delivered delta rows are exact ``(key, ts, value)``
    duplicates, dropped before the window — exactly-once STATE from
    at-least-once delivery, like :func:`advance_latest_cells`.

    Shuffle shape: untouched cells move through ONE anti-join keyed on
    the cell (against the bucket-partitioned state of
    :mod:`~.snapshot_state` it co-partitions and prunes to touched
    buckets); the re-windowed set is |touched open rows| + |delta| —
    bounded by the delta, not the history."""
    keys = list(key_cols)
    touched = delta.select(*keys).distinct()
    untouched = state.join(touched, keys, "left_anti")
    touched_state = state.join(touched, keys)
    closed = touched_state.filter(~F.col("is_current"))
    open_rows = touched_state.filter(F.col("is_current"))
    # a delta row at or before its cell's open-row start is already
    # incorporated (fresh deltas are strictly after the horizon T1 ≥
    # every open valid_from) — dropping them makes RE-DELIVERED deltas,
    # including ones spanning several past advances, exact no-ops
    open_from = open_rows.select(
        *keys, F.col("valid_from").alias("__open_from"))
    fresh = (delta.join(open_from, keys, "left")
             .filter(F.col("__open_from").isNull()
                     | (F.col(ts_col) > F.col("__open_from")))
             .select(*keys, ts_col, value_col))
    tail_src = (
        open_rows.select(*keys, F.col("valid_from").alias(ts_col),
                         F.col(value_col))
        .unionByName(fresh)
        .dropDuplicates([*keys, ts_col, value_col]))
    tail = scd2_history(tail_src, key_cols=key_cols, ts_col=ts_col,
                        value_col=value_col)
    base = open_rows.select(*keys, (F.col("version") - 1).alias("__base"))
    renumbered = (
        tail.join(base, keys, "left")
        .withColumn("version",
                    (F.col("version") + F.coalesce("__base", F.lit(0)))
                    .cast("integer"))
        .drop("__base"))
    return untouched.unionByName(closed).unionByName(
        renumbered.select(*untouched.columns))


def state_changefeed(
    state_a: DataFrame,
    state_b: DataFrame,
    *,
    key_cols: tuple[str, ...] = ("row_key", "qualifier"),
    value_col: str = "value",
) -> DataFrame:
    """Changefeed generation (N50) — the INVERSE of the reference's
    pipeline: the reference replays a change log into a snapshot; this
    derives the change log BETWEEN two snapshots — ``(*key_cols, op,
    old_value, new_value)`` with ``op`` ∈ I (insert: only in B) /
    U (update: in both, value differs) / D (delete: only in A).
    Unchanged cells are omitted (a changefeed carries changes).

    The reverse-ETL primitive: publishing a warehouse table's delta to
    downstream consumers (cache invalidation, search-index refresh,
    subscription feeds) without the upstream CDC stream.  ONE full
    outer join keyed on the cell — run against two bucket-partitioned
    state tables (:mod:`~.snapshot_state`) the join co-partitions and
    the feed is computable bucket-by-bucket, pruned to buckets whose
    content hash moved."""
    # presence is tracked explicitly — a cell PRESENT with a NULL value
    # is not the same as an ABSENT cell (inferring presence from value
    # nullness would misclassify NULL-valued cells as inserts/deletes
    # and re-emit NULL↔NULL cells forever); value comparison is
    # null-safe for the same reason
    a = state_a.select(*key_cols, F.col(value_col).alias("__old")) \
        .withColumn("__in_a", F.lit(True))
    b = state_b.select(*key_cols, F.col(value_col).alias("__new")) \
        .withColumn("__in_b", F.lit(True))
    joined = a.join(b, list(key_cols), "full_outer")
    op = (
        F.when(F.col("__in_a").isNull(), F.lit("I"))
        .when(F.col("__in_b").isNull(), F.lit("D"))
        .when(~F.col("__old").eqNullSafe(F.col("__new")), F.lit("U"))
    )
    return (
        joined.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(*key_cols, "op",
                F.col("__old").alias("old_value"),
                F.col("__new").alias("new_value"))
    )


def aggregate_view(
    state: DataFrame,
    *,
    group_col: str = "qualifier",
    value_col: str = "value",
) -> DataFrame:
    """Materialized aggregate view over a cell-state table (SURVEY
    §2.3 N84): per group, the cell count, the numeric-cell count, and
    the exact 4-dp micro-unit sum — the algebraic aggregates that stay
    maintainable under DELETES (min/max are not: a deleted extremum
    needs history to replace; production recomputes those or keeps
    insert-only).  Sums live in BIGINT micro-units so the incremental
    merge (:func:`advance_aggregate_view`) and the SQL oracle are
    exact — no float accumulation order can split the engines.  One
    hash aggregation with map-side partials; output is group-sized."""
    num = F.expr(f"try_cast({value_col} as double)")
    micro = F.round(num * 10000).cast("long")
    return state.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.count(num).alias("n_numeric"),
        F.coalesce(F.sum(micro), F.lit(0)).cast("long").alias("sum_micro"))


def advance_aggregate_view(
    view: DataFrame,
    feed: DataFrame,
    *,
    group_col: str = "qualifier",
) -> DataFrame:
    """Advance a materialized aggregate view with ONLY a changefeed
    (N50 shape: ``op`` ∈ I/U/D with ``old_value``/``new_value``) — the
    classic incremental-view-maintenance step: inserts add their
    contribution, deletes subtract the OLD one, updates do both.
    Because the feed carries before-images, no history rescan is ever
    needed: cost is feed-sized, however large the view's base table.

    Groups whose count reaches zero leave the view (a full rebuild
    would not contain them); a group first seen in the feed enters it.
    The merge is a union + one group-sized hash agg — associative, so
    feeds compose: advancing by f1 then f2 equals advancing by the
    concatenated feed (count/sum algebra)."""
    num_old = F.expr("try_cast(old_value as double)")
    num_new = F.expr("try_cast(new_value as double)")
    rm = feed.filter(F.col("op").isin("D", "U")).select(
        F.col(group_col),
        F.lit(-1).cast("long").alias("n_cells"),
        F.when(num_old.isNotNull(), F.lit(-1).cast("long"))
        .otherwise(F.lit(0).cast("long")).alias("n_numeric"),
        F.coalesce(-F.round(num_old * 10000).cast("long"),
                   F.lit(0).cast("long")).alias("sum_micro"))
    ad = feed.filter(F.col("op").isin("I", "U")).select(
        F.col(group_col),
        F.lit(1).cast("long").alias("n_cells"),
        F.when(num_new.isNotNull(), F.lit(1).cast("long"))
        .otherwise(F.lit(0).cast("long")).alias("n_numeric"),
        F.coalesce(F.round(num_new * 10000).cast("long"),
                   F.lit(0).cast("long")).alias("sum_micro"))
    return (
        view.select(group_col, "n_cells", "n_numeric", "sum_micro")
        .unionByName(rm).unionByName(ad)
        .groupBy(group_col)
        .agg(F.sum("n_cells").cast("long").alias("n_cells"),
             F.sum("n_numeric").cast("long").alias("n_numeric"),
             F.sum("sum_micro").cast("long").alias("sum_micro"))
        .filter(F.col("n_cells") > 0))


def recompute_affected_groups(
    view: DataFrame,
    base: DataFrame,
    feed: DataFrame,
    *,
    group_cols: list[str],
    rebuild,
    ops: tuple[str, ...] = ("D", "U"),
) -> DataFrame:
    """Deletion-capable view maintenance (SURVEY §2.3 N94) — the step
    the algebraic advances cannot take: NON-algebraic per-group views
    (min/max, top-k, any order statistic) lose information under
    deletes, so a deleted extremum needs the base table to replace.
    This closes that gap without a full rebuild:

    - groups the feed touches with an op in ``ops`` are recomputed from
      ``base`` (the post-feed state) restricted to those groups;
    - every other group passes through from ``view`` unchanged via an
      anti-join on the touched-group set.

    ``rebuild``: ``df -> view rows`` — the same function that built the
    view from the full base (e.g. a :func:`~.operators.timeseries.
    topk_state` closure).  Default ``ops=("D","U")`` composes with the
    cheap monotone insert path (``advance_topk_state`` /
    ``advance_aggregate_view``): run the insert advance first, then
    this pass overwrites exactly the delete/update-touched groups, so
    the base re-read is paid only where inserts-only algebra is
    unsound.  Pass ``ops=("I","U","D")`` to recompute every touched
    group when no insert path exists.

    Scale shape: the touched-group set is feed-sized (distinct of the
    delete/update keys — broadcast when small, the common purge shape),
    the anti-join never shuffles the view when the set broadcasts, and
    the base scan prunes to touched groups via the semi-join — with a
    group-partitioned/bucketed base table that is partition pruning,
    i.e. base I/O ∝ touched groups, never the view's full domain.
    """
    touched = (feed.filter(F.col("op").isin(*ops))
               .select(*group_cols).distinct())
    kept = view.join(F.broadcast(touched), group_cols, "left_anti")
    rebuilt = rebuild(base.join(F.broadcast(touched), group_cols,
                                "left_semi"))
    return kept.unionByName(rebuilt)


def scd2_lookup(
    facts: DataFrame,
    history: DataFrame,
    *,
    key_cols: tuple[str, ...] = ("row_key", "qualifier"),
    fact_ts_col: str = "cell_ts",
    how: str = "left",
) -> DataFrame:
    """Temporal dimension lookup (SURVEY §2.3 N99): join each fact row
    to the :func:`scd2_history` VERSION that was valid at the fact's
    event time — the Kimball "as-was" join every change-captured
    warehouse serves (`fact JOIN dim ON key AND valid_from <= ts <
    valid_to`), and the interval mirror of the event-pair as-of join
    (N6 `asof_join` picks the latest EVENT ≤ t; this picks the
    enclosing VERSION, version attributes attached).

    Spark-first shape: the join is an EQUI join on the dimension key
    with the interval predicate as a residual condition — Catalyst
    plans a hash/sort-merge join on the key (broadcast when the
    history is dim-sized, the common case), never a
    BroadcastNestedLoop, because the equality conjunct is extractable.
    Versions of one key never overlap (`valid_to` = next version's
    `valid_from`, exclusive), so each fact matches AT MOST one version
    — no dedup pass needed, and ``how="left"`` keeps facts older than
    their key's first version (dimension columns NULL), the audit
    posture; ``how="inner"`` drops them.

    Scale shape: shuffle/broadcast carries the (bounded per key —
    retention-policy-sized) version table and the fact keys; the
    residual interval filter evaluates inside the join, so no
    fact × versions blow-up materializes.  At 100 TB both sides
    bucket by the key and the join is co-located."""
    if how not in ("left", "inner"):
        raise ValueError(f"scd2_lookup: how must be left|inner, got {how}")
    h = history.select(
        *key_cols, F.col("value").alias("dim_value"), "valid_from",
        "valid_to", "version", "is_current")
    ts = F.col(f"__f.{fact_ts_col}")
    cond = F.lit(True)
    for c in key_cols:
        cond = cond & (F.col(f"__f.{c}") == F.col(f"__h.{c}"))
    cond = cond & (F.col("__h.valid_from") <= ts) \
        & (F.col("__h.valid_to").isNull()
           | (ts < F.col("__h.valid_to")))
    out = facts.alias("__f").join(h.alias("__h"), cond, how)
    return out.select(
        *[F.col(f"__f.{c}") for c in facts.columns],
        F.col("__h.dim_value").alias("dim_value"),
        F.col("__h.valid_from").alias("dim_valid_from"),
        F.col("__h.version").alias("dim_version"),
        F.col("__h.is_current").alias("dim_is_current"))


def bucket_fingerprints(
    state: DataFrame,
    *,
    content_cols: list[str],
    bucket_key: str = "row_key",
    n_buckets: int = 16,
) -> DataFrame:
    """Per-bucket anti-entropy fingerprints (SURVEY §2.3 N117): hash
    every row's content to 60 bits and BIT-XOR them per hash bucket —
    ``(bucket, n_rows, fp)``.  XOR is commutative, associative, and
    overflow-free, so the fingerprint is order- and
    partitioning-independent; two table states agree on a bucket iff
    (fp, n_rows) match, up to md5-xor collision (astronomically
    unlikely, and deterministic for any fixed dataset).

    This is the Merkle/repair-tree primitive (Cassandra anti-entropy,
    DynamoDB replica sync): when the delta log is unavailable (a
    restored backup, a foreign copy, a suspected corruption), comparing
    two states costs one scan each + a ``n_buckets``-row exchange —
    then the expensive row-level diff/merge runs ONLY on the buckets
    that disagree, the same pruned-bucket shape the incremental
    advance (N25) exploits when the delta IS known."""
    content = F.concat_ws("|", *[F.col(c) for c in content_cols])
    fp64 = F.conv(F.substring(F.md5(content), 1, 15), 16, 10).cast("long")
    bucket = (F.conv(F.substring(F.md5(F.col(bucket_key)), 1, 8), 16, 10)
              .cast("long") % n_buckets)
    return (state.select(bucket.alias("bucket"), fp64.alias("__h"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.bit_xor("__h").alias("fp")))

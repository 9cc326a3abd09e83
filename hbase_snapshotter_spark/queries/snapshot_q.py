"""Snapshot queries over the driver-provided ``events`` fixture.

``events`` is replayed as a versioned change log (user → row, event
type → qualifier/column, event time → cell version), so the reference's
point-in-time semantics are exercised on real driver data and are fully
replayable by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_snapshotter_spark.operators.snapshot import latest_cells, snapshot_as_of
from hbase_snapshotter_spark.plans.schema import (
    INITIAL_SNAPSHOT_KEY,
    explicit_schema,
    schema_as_of,
)
from hbase_snapshotter_spark.sources.changelog import events_as_changelog, read_table

#: Snapshot boundary used by the flagship query: 2024-01-15T00:00:00Z,
#: mid-range of the events fixture (2024-01-01 … 2024-01-30) so the
#: time-travel filter actually cuts history.
SNAPSHOT_TS_MS = 1_705_276_800_000

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_snapshot_schema():
    return explicit_schema([f"d:{q}:double" for q in EVENT_TYPES])


def q_snapshot_events_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: point-in-time snapshot of the events change log as a
    typed wide table — one row per user, one column per event type
    holding the latest value at the snapshot timestamp."""
    log = events_as_changelog(
        read_table(spark, sf_dir, "events", events_as_of_ms=SNAPSHOT_TS_MS))
    return snapshot_as_of(log, events_snapshot_schema(), SNAPSHOT_TS_MS)


def oracle_snapshot_events_wide() -> str:
    cols = ",\n      ".join(
        f"CASE WHEN upper(MAX(CASE WHEN qualifier = '{q}' THEN value END)) = 'NULL' "
        f"THEN NULL ELSE CAST(MAX(CASE WHEN qualifier = '{q}' THEN value END) AS DOUBLE) "
        f"END AS {q}"
        for q in EVENT_TYPES
    )
    return f"""
    WITH log AS (
      SELECT CAST(user_id AS VARCHAR) AS row_key,
             event_type AS qualifier,
             CAST(value AS VARCHAR) AS value,
             epoch_ms(ts) AS cell_ts
      FROM events
    ),
    latest AS (
      SELECT row_key, qualifier, value,
             ROW_NUMBER() OVER (PARTITION BY row_key, qualifier
                                ORDER BY cell_ts DESC, value DESC) AS rn
      FROM log WHERE cell_ts <= {SNAPSHOT_TS_MS}
    )
    SELECT row_key AS k_hbase_row_key,
      {cols}
    FROM latest WHERE rn = 1
    GROUP BY row_key
    """


#: Compaction policy for the registered snapshot-compaction lane (N40):
#: tombstones at or before the snapshot boundary (Jan 15) are
#: collectible, cells before Jan 8 are TTL-expired.  (The
#: pending-tombstone branch — a 'D' marker NEWER than the horizon that
#: must survive collection — is pinned by pytest on the synthetic
#: changelog; at the fixture's event density every row stays active to
#: the boundary, so an earlier horizon would collect nothing.)  Delete markers are injected deterministically
#: (rows of users with ``user_id % 11 == 3`` carry a ``row_status`` =
#: 'D' marker at the row's latest cell version, everyone else 'U') —
#: the CORRUPT_MOD pattern, fully oracle-replayable.
COMPACT_HORIZON_MS = SNAPSHOT_TS_MS      # 2024-01-15
COMPACT_TTL_CUTOFF_MS = 1_704_672_000_000  # 2024-01-08
DELETE_MOD, DELETE_RESIDUE = 11, 3


def _state_with_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-cells state ≤ the snapshot ts, plus one synthetic
    ``row_status`` marker cell per row (value 'D'/'U' by the
    deterministic injection, version = the row's latest cell ts) —
    the shape the replicator's ``d:row_status`` column gives a real
    state table (``Schema.scala:135-147``)."""
    from pyspark.sql import functions as F

    log = events_as_changelog(
        read_table(spark, sf_dir, "events", events_as_of_ms=SNAPSHOT_TS_MS))
    state = latest_cells(log, SNAPSHOT_TS_MS).select(
        "row_key", "qualifier", "value", "cell_ts")
    markers = state.groupBy("row_key").agg(F.max("cell_ts").alias("cell_ts")) \
        .select(
            "row_key",
            F.lit("row_status").alias("qualifier"),
            F.when(F.col("row_key").cast("long") % DELETE_MOD == DELETE_RESIDUE,
                   F.lit("D")).otherwise(F.lit("U")).alias("value"),
            "cell_ts")
    return state.unionByName(markers)


def q_latest_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tall form: latest version ≤ ts of every (row_key, qualifier) cell
    — the HBase ``Scan.setTimeRange`` read (S1+S2) before pivoting.

    Round 6 extends the recorded key in place (the r4/r5 pattern) with
    the COMPACTION lane (N40): the state gains per-row ``row_status``
    marker cells (deterministic injection) and every cell carries its
    major-compaction verdict — ``row_deleted`` plus ``cell_fate`` ∈
    deleted/expired/kept (operators.snapshot.compact_cells; the oracle
    replays tombstone collection and TTL exactly)."""
    from hbase_snapshotter_spark.operators.snapshot import compact_cells

    return compact_cells(
        _state_with_markers(spark, sf_dir),
        horizon_ts=COMPACT_HORIZON_MS,
        ttl_cutoff_ts=COMPACT_TTL_CUTOFF_MS,
    ).select("row_key", "qualifier", "value", "cell_ts",
             "row_deleted", "cell_fate")


def _sql_state_with_markers() -> str:
    """CTEs shared by the latest-cells and compaction oracles: the
    bounded latest-cells state, injected markers, tombstone set, and
    per-cell fates."""
    return f"""
    log AS (
      SELECT CAST(user_id AS VARCHAR) AS row_key,
             event_type AS qualifier,
             CAST(value AS VARCHAR) AS value,
             epoch_ms(ts) AS cell_ts
      FROM events
    ),
    state0 AS (
      SELECT row_key, qualifier, value, cell_ts FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY row_key, qualifier
                                     ORDER BY cell_ts DESC, value DESC) AS rn
        FROM log WHERE cell_ts <= {SNAPSHOT_TS_MS}
      ) WHERE rn = 1
    ),
    state AS (
      SELECT * FROM state0
      UNION ALL
      SELECT row_key, 'row_status' AS qualifier,
             CASE WHEN CAST(row_key AS BIGINT) % {DELETE_MOD} = {DELETE_RESIDUE}
                  THEN 'D' ELSE 'U' END AS value,
             MAX(cell_ts) AS cell_ts
      FROM state0 GROUP BY row_key
    ),
    tomb AS (
      SELECT DISTINCT row_key FROM state
      WHERE qualifier = 'row_status' AND value = 'D'
        AND cell_ts <= {COMPACT_HORIZON_MS}
    ),
    fates AS (
      SELECT s.*, (t.row_key IS NOT NULL) AS row_deleted,
             CASE WHEN t.row_key IS NOT NULL THEN 'deleted'
                  WHEN s.cell_ts < {COMPACT_TTL_CUTOFF_MS} THEN 'expired'
                  ELSE 'kept' END AS cell_fate
      FROM state s LEFT JOIN tomb t ON t.row_key = s.row_key
    )"""


def oracle_latest_cells() -> str:
    return f"""
    WITH {_sql_state_with_markers()}
    SELECT row_key, qualifier, value, cell_ts, row_deleted, cell_fate
    FROM fates
    """


def q_snapshot_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row compaction audit (N40 standalone form): how much of the
    state table a major compaction reclaims — cells tombstone-collected
    (the whole row when its delete marker predates the horizon), cells
    TTL-expired, cells kept.  ``filter(cell_fate = 'kept')`` IS the
    compacted state; this query hashes the full accounting so a
    mis-collected row (resurrection or over-collection) turns the row
    red."""
    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.operators.snapshot import compact_cells

    classified = compact_cells(
        _state_with_markers(spark, sf_dir),
        horizon_ts=COMPACT_HORIZON_MS,
        ttl_cutoff_ts=COMPACT_TTL_CUTOFF_MS,
    )
    one_if = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("int")  # noqa: E731
    return classified.groupBy("row_key").agg(
        F.count(F.lit(1)).cast("int").alias("n_cells"),
        one_if(F.col("cell_fate") == "deleted").alias("n_deleted"),
        one_if(F.col("cell_fate") == "expired").alias("n_expired"),
        one_if(F.col("cell_fate") == "kept").alias("n_kept"),
        F.bool_or("row_deleted").alias("row_deleted"),
    )


def oracle_snapshot_compaction() -> str:
    return f"""
    WITH {_sql_state_with_markers()}
    SELECT row_key,
           CAST(COUNT(*) AS INTEGER) AS n_cells,
           CAST(SUM(CASE WHEN cell_fate = 'deleted' THEN 1 ELSE 0 END) AS INTEGER) AS n_deleted,
           CAST(SUM(CASE WHEN cell_fate = 'expired' THEN 1 ELSE 0 END) AS INTEGER) AS n_expired,
           CAST(SUM(CASE WHEN cell_fate = 'kept' THEN 1 ELSE 0 END) AS INTEGER) AS n_kept,
           BOOL_OR(row_deleted) AS row_deleted
    FROM fates GROUP BY row_key
    """


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff via set ops (N10): cells whose latest value changed
    between the mid-month snapshot and "now" — PLUS the incremental-
    maintenance proof: the T2 state is also rebuilt by advancing the
    materialized T1 state with only the delta log
    (operators.snapshot.advance_latest_cells), and the full-vs-
    incremental equality is folded into the driver hash as a one-row
    ``incremental_consistent`` flag (the recall-flag pattern — no
    driver collect).  The oracle expects TRUE: if the associative-merge
    path ever diverges from the full rescan, this row turns red.

    A NULL-keyed SENTINEL row carrying the flag is unioned
    unconditionally, so the consistency check survives an EMPTY diff —
    without it, a divergence would be unobservable exactly when the
    diff set is empty (zero rows on both sides compare vacuously)."""
    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.cache import scoped_persist
    from hbase_snapshotter_spark.operators.snapshot import advance_latest_cells

    log = scoped_persist(events_as_changelog(read_table(spark, sf_dir, "events")))
    grain = ["row_key", "family", "qualifier", "value", "cell_ts"]
    t1_cells = scoped_persist(latest_cells(log, SNAPSHOT_TS_MS))
    t2_cells = scoped_persist(latest_cells(log, None))
    t1 = t1_cells.select("row_key", "qualifier", "value")
    t2 = t2_cells.select("row_key", "qualifier", "value")
    diff = t2.exceptAll(t1).select("row_key", "qualifier", "value")

    from hbase_snapshotter_spark.queries.gating import audit_enabled, null_flag
    if audit_enabled(sf_dir):
        delta = log.filter(F.col("cell_ts") > SNAPSHOT_TS_MS)
        t2_inc = advance_latest_cells(t1_cells, delta).select(*grain)
        full = t2_cells.select(*grain)
        sym = t2_inc.exceptAll(full).unionByName(full.exceptAll(t2_inc))
        flag = sym.agg(
            (F.count(F.lit(1)) == 0).alias("incremental_consistent"))
    else:  # production/bench: the diff alone (audit lane gated out)
        flag = spark.range(1).select(null_flag("incremental_consistent"))
    sentinel = flag.select(
        F.lit(None).cast("string").alias("row_key"),
        F.lit(None).cast("string").alias("qualifier"),
        F.lit(None).cast("string").alias("value"),
        "incremental_consistent")
    return diff.crossJoin(F.broadcast(flag)).unionByName(sentinel)


def oracle_snapshot_diff() -> str:
    def latest(pred: str) -> str:
        return f"""
        SELECT row_key, qualifier, value FROM (
          SELECT CAST(user_id AS VARCHAR) AS row_key,
                 event_type AS qualifier,
                 CAST(value AS VARCHAR) AS value,
                 ROW_NUMBER() OVER (PARTITION BY CAST(user_id AS VARCHAR), event_type
                                    ORDER BY epoch_ms(ts) DESC, CAST(value AS VARCHAR) DESC) AS rn
          FROM events WHERE {pred}
        ) WHERE rn = 1
        """
    return f"""
SELECT *, TRUE AS incremental_consistent FROM (
  ({latest('epoch_ms(ts) <= 9223372036854775807')})
  EXCEPT ALL
  ({latest(f'epoch_ms(ts) <= {SNAPSHOT_TS_MS}')}))
UNION ALL
SELECT CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       TRUE AS incremental_consistent"""


TS_LIST = (1_704_672_000_000, 1_705_276_800_000, 1_705_881_600_000)  # Jan 8/15/22


#: Deterministic malformed-cell injection: rows of users with
#: ``user_id % 23 == 7`` get a non-numeric prefix, so the permissive
#: decode fails on exactly that replayable subset.
CORRUPT_MOD, CORRUPT_RESIDUE = 23, 7


def q_snapshot_multi_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch time travel + decode-error accounting.

    Latest cell state at three snapshot timestamps from ONE scan + ONE
    shuffle (operators.snapshot.latest_cells_multi), over a change log
    with deterministically injected malformed cells.  Each surviving
    cell carries its permissive typed decode (``decoded_value``) and
    every snapshot carries its ``decode_error_count`` — the errors-as-
    data form of the reference's fail-the-job contract on malformed
    cells (``HBaseSnapshotter.scala:95-102``): at 100 TB you count and
    quarantine bad cells in the same pass instead of killing the job;
    the raising ``strict_decode=True`` mode stays pinned by pytest
    (``test_strict_decode_fails_on_malformed``).  The count is one
    broadcast-joined 3-row aggregate — no second scan."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    from hbase_snapshotter_spark.cache import scoped_persist
    from hbase_snapshotter_spark.operators.snapshot import (
        decode_expr,
        latest_cells_multi,
    )

    log = events_as_changelog(read_table(spark, sf_dir, "events"))
    corrupted = log.withColumn(
        "value",
        F.when(
            F.col("row_key").cast("long") % CORRUPT_MOD == CORRUPT_RESIDUE,
            F.concat(F.lit("x"), F.col("value")),
        ).otherwise(F.col("value")),
    )
    # persisted: consumed by the output AND the error aggregate — without
    # the cache cut the scan + latest-cell shuffle would run twice
    cells = scoped_persist(latest_cells_multi(corrupted, list(TS_LIST)).select(
        "snapshot_ts", "row_key", "qualifier", "value", "cell_ts",
        decode_expr(F.col("value"), DoubleType()).alias("decoded_value"),
    ))
    errs = cells.groupBy("snapshot_ts").agg(
        F.sum(
            (F.col("value").isNotNull()
             & (F.upper("value") != "NULL")
             & F.col("decoded_value").isNull()).cast("int")
        ).alias("decode_error_count"))
    return cells.join(F.broadcast(errs), "snapshot_ts").select(
        "snapshot_ts", "row_key", "qualifier", "value", "cell_ts",
        "decoded_value", "decode_error_count",
    )


# ------------------------- schema-as-of + strict (Decimal) decode (N2/S5/S13-S15)
JAN10_MS = 1_704_844_800_000
JAN20_MS = 1_705_708_800_000

import json as _json

#: The 3-version schema-history change log shared by the schema-as-of
#: and schema-diff lanes (``initial-snapshot`` + two timestamped
#: revisions, replaying ``Schema.scala:162-218``).
SCHEMA_HIST_V0 = _json.dumps({"events": {
    "columnIndexToNameMap": {"0": "click", "1": "view"},
    "columnsSchema": {"click": {"columnType": "double"},
                      "view": {"columnType": "double"}}}})
SCHEMA_HIST_V1 = _json.dumps({"events": {
    "columnIndexToNameMap": {"0": "click", "1": "purchase", "2": "signup_total",
                             "3": "signup", "4": "last_seen"},
    "columnsSchema": {"click": {"columnType": "decimal(14,4)"},
                      "purchase": {"columnType": "double"},
                      "signup_total": {"columnType": "int(10) unsigned"},
                      "signup": {"columnType": "bigint(20) unsigned"},
                      "last_seen": {"columnType": "date"}}}})
SCHEMA_HIST_V2 = _json.dumps({"events": {
    "columnIndexToNameMap": {"0": "click"},
    "columnsSchema": {"click": {"columnType": "varchar(255)"}}}})
SCHEMA_HIST_ROWS = [
    (INITIAL_SNAPSHOT_KEY, 0, SCHEMA_HIST_V0),
    (str(JAN10_MS), JAN10_MS, SCHEMA_HIST_V1),
    (str(JAN20_MS), JAN20_MS, SCHEMA_HIST_V2),
]


def _schema_history_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        SCHEMA_HIST_ROWS,
        "change_key string, cell_ts long, schema_json string")


def q_schema_history_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MySQL-schema pipeline at a point in time: a 3-version
    schema-history change log (``initial-snapshot`` + two timestamped
    revisions, replaying ``Schema.scala:162-218``) is resolved as-of the
    snapshot ts — exercising the ``initial-snapshot``→0 ordering (S5),
    the MySQL DDL parser (S13), strict-mode type mapping incl. the
    ``int unsigned``→Long promotion (S14) and ``decimal(p,s)``→
    DecimalType, and the schema-JSON→StructType IR (S15) — then applied
    to the events change log with strict (fail-on-malformed) decode.

    The as-of pick must select revision 2 of 3: the Jan-20 revision is
    in history but after the snapshot ts, so its (varchar) schema must
    NOT win.  ``signup_total`` is in the schema but absent from the log
    — schema drift surfaces as an all-NULL typed column.

    The v1 schema exercises EVERY strict-mode S14 mapping end-to-end
    with real cell values: ``decimal(p,s)``→DecimalType (``click``),
    ``int unsigned``→Long (``signup_total``), ``bigint unsigned``→
    DecimalType(20,0) (``signup`` — 64-bit-unsigned range exceeds Long,
    ``functions/mysql_types.py``), and ``date``→DateType (``last_seen``
    — a derived cell carrying the date of the user's latest event,
    produced by a per-row explode so the change log is still read in
    ONE scan)."""
    history = _schema_history_df(spark)
    schema = schema_as_of(history, SNAPSHOT_TS_MS, mode="strict")
    from pyspark.sql import functions as F

    log = events_as_changelog(
        read_table(spark, sf_dir, "events", events_as_of_ms=SNAPSHOT_TS_MS))
    # derive the `last_seen` date cell per change row via explode —
    # still ONE scan of the log (no self-union, which would scan twice)
    cells = F.array(
        F.struct(F.col("qualifier"), F.col("value")),
        F.struct(
            F.lit("last_seen").alias("qualifier"),
            F.date_format(F.timestamp_millis("cell_ts"), "yyyy-MM-dd").alias("value")),
    )
    log = log.select(
        "row_key", "family", F.explode(cells).alias("__c"), "cell_ts"
    ).select("row_key", "family",
             F.col("__c.qualifier").alias("qualifier"),
             F.col("__c.value").alias("value"), "cell_ts")
    snap = snapshot_as_of(log, schema, SNAPSHOT_TS_MS, strict_decode=True)
    # The snapshot's `click`/`signup`/`last_seen` columns are
    # DecimalType(14,4) / DecimalType(20,0) / DateType internally (the
    # strict S14 mappings) — pinned in tests.  DECIMAL and DATE cross
    # the Python seam differently per engine (Spark collect →
    # fixed-scale Decimal / datetime.date, DuckDB→pandas → float64 /
    # datetime64), so for the driver's value hash each is serialized in
    # the one form both engines render identically: →string keeps fixed
    # scale ('3.7000', '22', '2024-01-12') in Spark AND DuckDB.
    return (snap.withColumn("click", F.col("click").cast("string"))
            .withColumn("signup", F.col("signup").cast("string"))
            .withColumn("last_seen", F.col("last_seen").cast("string")))


def oracle_schema_history_snapshot() -> str:
    def typed(qual: str, rendering: str) -> str:
        raw = (f"CASE WHEN upper(MAX(CASE WHEN qualifier = '{qual}' THEN value END)) = 'NULL' "
               f"THEN NULL ELSE MAX(CASE WHEN qualifier = '{qual}' THEN value END) END")
        return rendering.format(raw=raw)

    return f"""
    WITH base AS (
      SELECT CAST(user_id AS VARCHAR) AS row_key,
             event_type AS qualifier,
             CAST(value AS VARCHAR) AS value,
             epoch_ms(ts) AS cell_ts
      FROM events
    ),
    log AS (
      SELECT row_key, qualifier, value, cell_ts FROM base
      UNION ALL
      SELECT row_key, 'last_seen' AS qualifier,
             strftime(make_timestamp(cell_ts * 1000), '%Y-%m-%d') AS value,
             cell_ts
      FROM base
    ),
    latest AS (
      SELECT row_key, qualifier, value,
             ROW_NUMBER() OVER (PARTITION BY row_key, qualifier
                                ORDER BY cell_ts DESC, value DESC) AS rn
      FROM log
      WHERE cell_ts <= {SNAPSHOT_TS_MS}
        AND qualifier IN ('click', 'purchase', 'signup', 'last_seen')
    )
    SELECT row_key AS k_hbase_row_key,
      CAST(NULL AS VARCHAR) AS k_replicator_row_status,
      {typed('click', "CAST(CAST({raw} AS DECIMAL(14,4)) AS VARCHAR)")} AS click,
      {typed('purchase', "CAST({raw} AS DOUBLE)")} AS purchase,
      CAST(NULL AS BIGINT) AS signup_total,
      {typed('signup', "CAST(CAST({raw} AS DECIMAL(20,0)) AS VARCHAR)")} AS signup,
      {typed('last_seen', "CAST(CAST({raw} AS DATE) AS VARCHAR)")} AS last_seen
    FROM latest WHERE rn = 1
    GROUP BY row_key
    """


def oracle_snapshot_multi_ts() -> str:
    def one(ts: int) -> str:
        return f"""
        SELECT {ts} AS snapshot_ts, row_key, qualifier, value, cell_ts FROM (
          SELECT CAST(user_id AS VARCHAR) AS row_key, event_type AS qualifier,
                 CASE WHEN user_id % {CORRUPT_MOD} = {CORRUPT_RESIDUE}
                      THEN 'x' || CAST(value AS VARCHAR)
                      ELSE CAST(value AS VARCHAR) END AS value,
                 epoch_ms(ts) AS cell_ts,
                 ROW_NUMBER() OVER (PARTITION BY CAST(user_id AS VARCHAR), event_type
                                    ORDER BY epoch_ms(ts) DESC,
                                             CASE WHEN user_id % {CORRUPT_MOD} = {CORRUPT_RESIDUE}
                                                  THEN 'x' || CAST(value AS VARCHAR)
                                                  ELSE CAST(value AS VARCHAR) END DESC) AS rn
          FROM events WHERE epoch_ms(ts) <= {ts}
        ) WHERE rn = 1
        """
    multi = " UNION ALL ".join(f"({one(t)})" for t in TS_LIST)
    return f"""
    WITH cells AS (
      SELECT *, CASE WHEN upper(value) = 'NULL' THEN NULL
                     ELSE TRY_CAST(value AS DOUBLE) END AS decoded_value
      FROM ({multi})),
    errs AS (
      SELECT snapshot_ts,
             COUNT(*) FILTER (WHERE value IS NOT NULL AND upper(value) <> 'NULL'
                              AND decoded_value IS NULL) AS decode_error_count
      FROM cells GROUP BY snapshot_ts)
    SELECT snapshot_ts, row_key, qualifier, value, cell_ts,
           decoded_value, decode_error_count
    FROM cells JOIN errs USING (snapshot_ts)
    """


def q_schema_evolution_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema EVOLUTION diff (N46) over the shared 3-version history:
    which columns were added / dropped / retyped across the
    initial→Jan-10 and Jan-10→now transitions — the ALTER-window
    question next to the reference's single point-in-time
    reconstruction.  Metadata-sized by design (two one-row lookups per
    transition + a dict diff); the oracle replays the as-of pick, the
    JSON extraction, and the classification entirely in SQL."""
    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.plans.schema import schema_diff

    hist = _schema_history_df(spark)
    d1 = schema_diff(hist, 0, JAN10_MS).withColumn(
        "transition", F.lit("to_v1"))
    d2 = schema_diff(hist, JAN10_MS, None).withColumn(
        "transition", F.lit("to_now"))
    cols = ["transition", "col_name", "change",
            "old_type", "new_type", "old_index", "new_index"]
    return d1.select(*cols).unionByName(d2.select(*cols))


def oracle_schema_evolution_diff() -> str:
    hist_values = ", ".join(
        f"('{k}', {ts}, '{j}')" for k, ts, j in SCHEMA_HIST_ROWS)

    def cols_cte(label: str, ts: int | None) -> str:
        bound = 9_223_372_036_854_775_807 if ts is None else ts
        return f"""
pick_{label} AS (
  SELECT j FROM hist WHERE cell_ts <= {bound}
  ORDER BY CASE WHEN change_key = 'initial-snapshot' THEN 0
                ELSE CAST(change_key AS BIGINT) END DESC
  LIMIT 1),
cols_{label} AS (
  SELECT CAST(u.idx AS INT) AS idx,
         json_extract_string(p.j,
           '$.events.columnIndexToNameMap."' || u.idx || '"') AS name,
         json_extract_string(p.j, '$.events.columnsSchema.'
           || json_extract_string(p.j,
                '$.events.columnIndexToNameMap."' || u.idx || '"')
           || '.columnType') AS typ
  FROM pick_{label} p,
       UNNEST(json_keys(p.j, '$.events.columnIndexToNameMap')) AS u(idx))"""

    def diff_select(label: str, a: str, b: str) -> str:
        return f"""
SELECT '{label}' AS transition,
       COALESCE(a.name, b.name) AS col_name,
       CASE WHEN a.name IS NULL THEN 'added'
            WHEN b.name IS NULL THEN 'dropped'
            WHEN a.typ <> b.typ THEN 'retyped'
            WHEN a.idx <> b.idx THEN 'moved'
            ELSE 'unchanged' END AS change,
       a.typ AS old_type, b.typ AS new_type,
       a.idx AS old_index, b.idx AS new_index
FROM cols_{a} a FULL OUTER JOIN cols_{b} b ON a.name = b.name"""

    return f"""
WITH hist(change_key, cell_ts, j) AS (VALUES {hist_values}),
{cols_cte("v0", 0)},
{cols_cte("v1", JAN10_MS)},
{cols_cte("now", None)}
{diff_select("to_v1", "v0", "v1")}
UNION ALL
{diff_select("to_now", "v1", "now")}
"""


def q_sketch_distinct_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketch state (N48) — the aggregate-state
    mirror of the incremental snapshot lane: per-event-type HLL
    sketches of the distinct-user set, materialized and advanced
    without re-reading history.  The hash pins (the equality-flag
    pattern — DuckDB's own HLL differs bit-wise, so estimates
    themselves are not portable):

    - per-type ``exact_distinct_users`` (oracle-replayed exactly);
    - ``est_within_tolerance`` — |estimate − exact| ≤ 15 % of exact;
    - ``merged_within_tolerance`` — the union of per-(type, user-shard)
      sketch state clears the SAME error envelope;
    - ``advance_within_tolerance`` — so does the ≤ T1 state advanced
      with only the > T1 delta (the N25 argument for aggregate state;
      re-delivery idempotency is pytest-pinned).

    Why the merge/advance pins are an error ENVELOPE, not estimate
    equality (the r9 sf0.1 lesson): register-max union is lossless at
    the register level, but DataSketches sketches carry exact
    LIST/SET modes below a threshold and a union's gadget promotes to
    the approximate HLL mode early — so a direct single-pass sketch
    (still exact at 1.5 k distinct) and a union result (promoted) give
    slightly different ESTIMATES while both honor the sketch's error
    bound.  Estimate equality across build paths is therefore not a
    portable invariant of the library; the envelope and idempotency
    are, and they are what production relies on."""
    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.cache import scoped_persist
    from hbase_snapshotter_spark.operators.sketches import (
        advance_sketches,
        distinct_sketches,
        sketch_estimates,
    )

    ev = scoped_persist(
        read_table(spark, sf_dir, "events")
        .select("event_type", "user_id",
                (F.unix_millis("ts") <= SNAPSHOT_TS_MS).alias("__prior"),
                (F.col("user_id") % 8).alias("__shard")))
    g = ["event_type"]
    full = scoped_persist(distinct_sketches(ev, "user_id", group_cols=g))
    full_est = sketch_estimates(full, group_cols=g)

    from hbase_snapshotter_spark.queries.gating import audit_enabled, null_flag

    if not audit_enabled(sf_dir):
        # production/bench: the sketch state alone — ``distinct_users``
        # is the HLL estimate (exact at fixture, where the audit below
        # verifies the envelope); no exact countDistinct, no merge or
        # advance replay
        return full_est.select(
            *g, F.round("estimate").cast("long").alias("distinct_users"),
            null_flag("est_within_tolerance")) \
            .crossJoin(F.broadcast(spark.range(1).select(
                null_flag("merged_within_tolerance"),
                null_flag("advance_within_tolerance"))))

    sharded = distinct_sketches(ev, "user_id",
                                group_cols=["event_type", "__shard"])
    merged_est = sketch_estimates(
        sharded.groupBy(*g).agg(F.hll_union_agg("sketch").alias("sketch")),
        group_cols=g).withColumnRenamed("estimate", "__m")

    advanced = advance_sketches(
        distinct_sketches(ev.filter("__prior"), "user_id", group_cols=g),
        ev.filter("NOT __prior"), "user_id", group_cols=g)
    adv_est = sketch_estimates(advanced, group_cols=g) \
        .withColumnRenamed("estimate", "__a")

    exact = ev.groupBy(*g).agg(
        F.countDistinct("user_id").alias("distinct_users"))
    per_type = (
        exact.join(full_est, g)
        .withColumn(
            "est_within_tolerance",
            F.abs(F.col("estimate") - F.col("distinct_users"))
            <= 0.15 * F.col("distinct_users"))
    )
    merged_flag = (
        exact.join(merged_est, g)
        .agg(F.bool_and(
            F.abs(F.col("__m") - F.col("distinct_users"))
            <= 0.15 * F.col("distinct_users"))
            .alias("merged_within_tolerance")))
    adv_flag = (
        exact.join(adv_est, g)
        .agg(F.bool_and(
            F.abs(F.col("__a") - F.col("distinct_users"))
            <= 0.15 * F.col("distinct_users"))
            .alias("advance_within_tolerance")))
    # scalar attach x2: ONE-row equality flags, broadcast cross
    return (per_type.select(*g, "distinct_users",
                            "est_within_tolerance")
            .crossJoin(F.broadcast(merged_flag))
            .crossJoin(F.broadcast(adv_flag)))


def oracle_sketch_distinct_maintenance() -> str:
    return """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS distinct_users,
           TRUE AS est_within_tolerance,
           TRUE AS merged_within_tolerance,
           TRUE AS advance_within_tolerance
    FROM events GROUP BY event_type
    """


def q_quantile_sketch_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile-sketch state (N58) — the quantile mirror of
    the N48 distinct-count lane: per-event-type DDSketch log-bucket
    histograms of ``value``, materialized as ``(type, bucket, cnt)``
    rows and advanced/merged by bucket-wise count sum.  Unlike HLL the
    estimates ARE cross-engine portable (deterministic bucket
    arithmetic), so the oracle replays ``n_values`` and the
    q50/q95/q99 estimates bit-for-bit.  The hash additionally pins:

    - ``est_within_tolerance`` — every estimate within α·(1+slack)
      relative error of the EXACT value at rank ⌈q·n⌉ (α = 1 %, the
      DDSketch guarantee; 20 % slack covers the 6-dp boundary rounding
      that keeps the bucket index engine-portable);
    - ``merged_equals_full`` — summing per-(type, shard) states equals
      the single-pass state EXACTLY (bucket-sum is lossless);
    - ``advance_equals_full`` — advancing the ≤ T1 state with only the
      > T1 delta equals the full state exactly.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.cache import scoped_persist
    from hbase_snapshotter_spark.operators.sketches import (
        DD_ALPHA,
        advance_quantile_state,
        dd_quantile_estimates,
        merge_quantile_states,
        quantile_state,
    )

    QS = [0.5, 0.95, 0.99]
    g = ["event_type"]
    ev = scoped_persist(
        read_table(spark, sf_dir, "events")
        .select("event_type", "value",
                (F.unix_millis("ts") <= SNAPSHOT_TS_MS).alias("__prior"),
                (F.col("event_id") % 8).alias("__shard")))
    full = scoped_persist(quantile_state(ev, "value", group_cols=g))
    est = dd_quantile_estimates(full, QS, group_cols=g)

    from hbase_snapshotter_spark.queries.gating import audit_enabled

    if not audit_enabled(sf_dir):  # production/bench: state + serving
        return est.select(
            *g, "n_values", "q50_est", "q95_est", "q99_est",
            F.lit(None).cast("boolean").alias("est_within_tolerance"),
            F.lit(None).cast("boolean").alias("merged_equals_full"),
            F.lit(None).cast("boolean").alias("advance_equals_full"))

    # exact rank values (check-time structure: one per-group sort of
    # the fixture; production audits a sampled subset on a schedule)
    pos = ev.filter(F.col("value").isNotNull() & (F.col("value") > 0))
    wv = Window.partitionBy(*g).orderBy("value")
    wn = Window.partitionBy(*g)
    ranked = pos.select(
        *g, "value", F.row_number().over(wv).alias("__rn"),
        F.count(F.lit(1)).over(wn).alias("__n"))
    exact = ranked.groupBy(*g).agg(*[
        F.min(F.when(F.col("__rn") == F.ceil(F.lit(q) * F.col("__n")),
                     F.col("value"))).alias(f"__x{int(q * 100)}")
        for q in QS])
    tol = DD_ALPHA * 1.2
    with_flag = est.join(exact, g).withColumn(
        "est_within_tolerance",
        (F.abs(F.col("q50_est") - F.col("__x50")) <= tol * F.col("__x50"))
        & (F.abs(F.col("q95_est") - F.col("__x95")) <= tol * F.col("__x95"))
        & (F.abs(F.col("q99_est") - F.col("__x99")) <= tol * F.col("__x99")))

    from functools import reduce

    sharded = scoped_persist(quantile_state(
        ev, "value", group_cols=["event_type", "__shard"]))
    merged = reduce(
        lambda acc, i: merge_quantile_states(
            acc, sharded.filter(F.col("__shard") == i).drop("__shard"),
            group_cols=g),
        range(1, 8),
        sharded.filter(F.col("__shard") == 0).drop("__shard"))
    merged_flag = (merged.exceptAll(full).unionAll(full.exceptAll(merged))
                   .agg((F.count(F.lit(1)) == 0).alias("merged_equals_full")))
    advanced = advance_quantile_state(
        quantile_state(ev.filter("__prior"), "value", group_cols=g),
        ev.filter("NOT __prior"), "value", group_cols=g)
    adv_flag = (advanced.exceptAll(full).unionAll(full.exceptAll(advanced))
                .agg((F.count(F.lit(1)) == 0).alias("advance_equals_full")))
    # scalar attach x2: ONE-row equality flags, broadcast cross
    return (with_flag.select(*g, "n_values", "q50_est", "q95_est",
                             "q99_est", "est_within_tolerance")
            .crossJoin(F.broadcast(merged_flag))
            .crossJoin(F.broadcast(adv_flag))
            )


def oracle_quantile_sketch_maintenance() -> str:
    from hbase_snapshotter_spark.operators.sketches import (
        DD_GAMMA,
        DD_LN_GAMMA,
    )

    est = ("ROUND(2.0 * POWER({G}, MIN(CASE WHEN cum >= CEIL({q} * n) "
           "THEN bucket END)) / {GP1}, 4)")
    cols = ",\n           ".join(
        est.format(G=repr(DD_GAMMA), GP1=repr(DD_GAMMA + 1), q=repr(q))
        + f" AS q{int(q * 100)}_est"
        for q in [0.5, 0.95, 0.99])
    return f"""
    WITH v AS (SELECT event_type, value FROM events
               WHERE value IS NOT NULL AND value > 0),
    b AS (SELECT event_type,
                 CAST(CEIL(ROUND(LN(value) / {repr(DD_LN_GAMMA)}, 6))
                      AS BIGINT) AS bucket,
                 COUNT(*) AS cnt
          FROM v GROUP BY 1, 2),
    c AS (SELECT event_type, bucket, cnt,
                 SUM(cnt) OVER (PARTITION BY event_type
                                ORDER BY bucket) AS cum,
                 SUM(cnt) OVER (PARTITION BY event_type) AS n
          FROM b)
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_values,
           {cols},
           TRUE AS est_within_tolerance,
           TRUE AS merged_equals_full,
           TRUE AS advance_equals_full
    FROM c GROUP BY event_type ORDER BY event_type
    """


def q_scd2_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history (N49) of the events change log: per-cell version
    chains with exclusive validity intervals — the state-OVER-time
    companion to the state-AT-ts snapshot queries.  The oracle replays
    the lead window, version numbering, and tie-break exactly.

    Round 6 adds the incremental lane (N54): every row also carries
    ``advance_consistent`` — TRUE iff rebuilding the history as-of the
    mid-month boundary and advancing it with only the (T1, now] delta
    (:func:`~hbase_snapshotter_spark.operators.snapshot.advance_scd2`)
    reproduces this full rebuild row-for-row (both ``exceptAll``
    directions empty).  The oracle expects TRUE — the equality-flag
    pattern (DuckDB cannot replay the advance), so an advance
    divergence turns the whole driver row red."""
    from hbase_snapshotter_spark.cache import scoped_persist
    from hbase_snapshotter_spark.operators.snapshot import (
        advance_scd2,
        scd2_history,
    )

    from hbase_snapshotter_spark.queries.gating import audit_enabled

    log = scoped_persist(
        events_as_changelog(read_table(spark, sf_dir, "events")))
    cols = ["row_key", "qualifier", "value",
            "valid_from", "valid_to", "version", "is_current"]
    full = scd2_history(log).select(*cols)
    if not audit_enabled(sf_dir):  # production/bench: rebuild alone
        return full.withColumn("advance_consistent", F.lit(None).cast("boolean"))
    state = scd2_history(
        log.filter(F.col("cell_ts") <= SNAPSHOT_TS_MS)).select(*cols)
    adv = advance_scd2(
        state, log.filter(F.col("cell_ts") > SNAPSHOT_TS_MS)).select(*cols)
    flag = (adv.exceptAll(full).unionAll(full.exceptAll(adv))
            .agg((F.count(F.lit(1)) == 0).alias("advance_consistent")))
    return full.crossJoin(F.broadcast(flag))


def oracle_scd2_event_history() -> str:
    return """
    WITH log AS (
      SELECT CAST(user_id AS VARCHAR) AS row_key,
             event_type AS qualifier,
             CAST(value AS VARCHAR) AS value,
             epoch_ms(ts) AS cell_ts
      FROM events
    )
    SELECT row_key, qualifier, value,
           cell_ts AS valid_from,
           LEAD(cell_ts) OVER w AS valid_to,
           CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
           (LEAD(cell_ts) OVER w IS NULL) AS is_current,
           TRUE AS advance_consistent
    FROM log
    WINDOW w AS (PARTITION BY row_key, qualifier
                 ORDER BY cell_ts, value)
    """


def q_state_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changefeed between the mid-month and now states (N50): the
    snapshots→changelog inverse of the reference's changelog→snapshot
    pipeline — I/U/D rows with old/new values, unchanged cells
    omitted.  One full outer join on the cell key; the oracle replays
    the join and the op classification exactly."""
    from hbase_snapshotter_spark.cache import scoped_persist
    from hbase_snapshotter_spark.operators.snapshot import state_changefeed

    log = scoped_persist(
        events_as_changelog(read_table(spark, sf_dir, "events")))
    t1 = latest_cells(log, SNAPSHOT_TS_MS).select(
        "row_key", "qualifier", "value")
    t2 = latest_cells(log, None).select("row_key", "qualifier", "value")
    return state_changefeed(t1, t2)


def oracle_state_changefeed() -> str:
    def latest(pred: str) -> str:
        return f"""
        SELECT row_key, qualifier, value FROM (
          SELECT CAST(user_id AS VARCHAR) AS row_key,
                 event_type AS qualifier,
                 CAST(value AS VARCHAR) AS value,
                 ROW_NUMBER() OVER (PARTITION BY CAST(user_id AS VARCHAR), event_type
                                    ORDER BY epoch_ms(ts) DESC, CAST(value AS VARCHAR) DESC) AS rn
          FROM events WHERE {pred}
        ) WHERE rn = 1
        """
    return f"""
    WITH a AS ({latest(f'epoch_ms(ts) <= {SNAPSHOT_TS_MS}')}),
    b AS ({latest('TRUE')})
    SELECT COALESCE(a.row_key, b.row_key) AS row_key,
           COALESCE(a.qualifier, b.qualifier) AS qualifier,
           CASE WHEN a.value IS NULL THEN 'I'
                WHEN b.value IS NULL THEN 'D'
                WHEN a.value <> b.value THEN 'U' END AS op,
           a.value AS old_value, b.value AS new_value
    FROM a FULL OUTER JOIN b
      ON a.row_key = b.row_key AND a.qualifier = b.qualifier
    WHERE (CASE WHEN a.value IS NULL THEN 'I'
                WHEN b.value IS NULL THEN 'D'
                WHEN a.value <> b.value THEN 'U' END) IS NOT NULL
    """


def q_sketch_set_cardinalities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra (N51) across the snapshot boundary:
    per event type, how many users are early-only (churned), late-only
    (new), retained (intersection) — computed entirely on KB-sized
    sketch state.  At fixture scale every set is below the sketch's
    nominal capacity, so estimates are exact and the oracle replays
    them as exact distinct-set algebra; at 100 TB the same plan
    degrades gracefully to ±~2% estimates."""
    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.cache import scoped_persist
    from hbase_snapshotter_spark.operators.sketches import (
        theta_set_cardinalities,
    )

    ev = scoped_persist(
        read_table(spark, sf_dir, "events")
        .select("event_type", "user_id",
                (F.unix_millis("ts") <= SNAPSHOT_TS_MS).alias("__early")))
    return theta_set_cardinalities(
        ev.filter("__early"), ev.filter("NOT __early"),
        "user_id", group_cols=["event_type"])


def oracle_sketch_set_cardinalities() -> str:
    return f"""
    WITH a AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE epoch_ms(ts) <= {SNAPSHOT_TS_MS}),
    b AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE epoch_ms(ts) > {SNAPSHOT_TS_MS}),
    types AS (SELECT event_type FROM a UNION SELECT event_type FROM b)
    SELECT t.event_type,
           (SELECT COUNT(*) FROM a WHERE a.event_type = t.event_type) AS n_a,
           (SELECT COUNT(*) FROM b WHERE b.event_type = t.event_type) AS n_b,
           (SELECT COUNT(DISTINCT user_id) FROM (
              SELECT user_id FROM a WHERE a.event_type = t.event_type
              UNION ALL
              SELECT user_id FROM b WHERE b.event_type = t.event_type)) AS n_union,
           (SELECT COUNT(*) FROM a JOIN b
              ON a.user_id = b.user_id AND b.event_type = t.event_type
              WHERE a.event_type = t.event_type) AS n_intersection,
           (SELECT COUNT(*) FROM a WHERE a.event_type = t.event_type
              AND a.user_id NOT IN (SELECT user_id FROM b
                                    WHERE b.event_type = t.event_type)) AS n_a_only,
           (SELECT COUNT(*) FROM b WHERE b.event_type = t.event_type
              AND b.user_id NOT IN (SELECT user_id FROM a
                                    WHERE a.event_type = t.event_type)) AS n_b_only
    FROM types t
    """


def q_agg_view_advance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate-view maintenance (N84): the per-qualifier
    aggregate view (cell count, numeric count, exact micro-unit sum)
    materialized at the mid-month snapshot, then ADVANCED to "now"
    using only the N50 changefeed between the two states — no rescan
    of the T2 base table.  The full-rebuild-vs-advanced equality rides
    in-hash as ``advance_consistent`` (the ``incremental_consistent``
    flag pattern, sentinel row included so an empty view could not
    hide a divergence).  The oracle replays the FULL rebuild at T2 —
    matching values prove the IVM algebra, the flag proves the
    advance path produced them."""
    from hbase_snapshotter_spark.cache import scoped_persist
    from hbase_snapshotter_spark.operators.snapshot import (
        advance_aggregate_view,
        aggregate_view,
        state_changefeed,
    )

    log = scoped_persist(
        events_as_changelog(read_table(spark, sf_dir, "events")))
    t1 = scoped_persist(latest_cells(log, SNAPSHOT_TS_MS).select(
        "row_key", "qualifier", "value"))
    t2 = scoped_persist(latest_cells(log, None).select(
        "row_key", "qualifier", "value"))
    feed = state_changefeed(t1, t2)
    advanced = scoped_persist(
        advance_aggregate_view(aggregate_view(t1), feed))
    full = aggregate_view(t2)

    from hbase_snapshotter_spark.queries.gating import audit_enabled, null_flag
    if audit_enabled(sf_dir):
        cols = ["qualifier", "n_cells", "n_numeric", "sum_micro"]
        sym = advanced.select(*cols).exceptAll(full.select(*cols)) \
            .unionByName(full.select(*cols)
                         .exceptAll(advanced.select(*cols)))
        flag = sym.agg(
            (F.count(F.lit(1)) == 0).alias("advance_consistent"))
    else:  # production/bench: the advanced view alone
        flag = spark.range(1).select(null_flag("advance_consistent"))
    out = advanced.select(
        "qualifier", "n_cells", "n_numeric",
        (F.col("sum_micro").cast("double") / 10000).alias("sum_value"))
    sentinel = flag.select(
        F.lit(None).cast("string").alias("qualifier"),
        F.lit(None).cast("long").alias("n_cells"),
        F.lit(None).cast("long").alias("n_numeric"),
        F.lit(None).cast("double").alias("sum_value"),
        "advance_consistent")
    return (out.crossJoin(F.broadcast(flag)).unionByName(sentinel)
            )


def oracle_agg_view_advance() -> str:
    return """
WITH t2 AS (
  SELECT row_key, qualifier, value FROM (
    SELECT CAST(user_id AS VARCHAR) AS row_key,
           event_type AS qualifier,
           CAST(value AS VARCHAR) AS value,
           ROW_NUMBER() OVER (PARTITION BY CAST(user_id AS VARCHAR), event_type
                              ORDER BY epoch_ms(ts) DESC, CAST(value AS VARCHAR) DESC) AS rn
    FROM events
  ) WHERE rn = 1)
SELECT qualifier,
       COUNT(*) AS n_cells,
       COUNT(TRY_CAST(value AS DOUBLE)) AS n_numeric,
       CAST(COALESCE(SUM(CAST(ROUND(TRY_CAST(value AS DOUBLE) * 10000) AS BIGINT)), 0)
            AS DOUBLE) / 10000 AS sum_value,
       TRUE AS advance_consistent
FROM t2 GROUP BY qualifier
UNION ALL
SELECT CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE), TRUE
ORDER BY qualifier
"""


def q_topk_delete_advance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-capable top-k view maintenance (N94): the per-qualifier
    top-5 numeric cells materialized at the mid-month snapshot, then
    advanced to "now" through a changefeed that carries genuine DELETES
    — a purge of every ``user_id % 7 == 3`` (the GDPR/retention shape)
    lands as ``D`` ops next to the organic ``I``/``U`` traffic.  The
    advance composes the two paths: inserts ride the cheap monotone
    :func:`~.operators.timeseries.advance_topk_state`, then
    :func:`~.operators.snapshot.recompute_affected_groups` overwrites
    exactly the delete/update-touched groups from the post-feed base
    (top-k is NOT algebraic under deletes — a deleted leader needs base
    rows to replace).  The advanced-vs-full-rebuild equality rides
    in-hash as ``advance_consistent`` (sentinel row included); the
    oracle replays the full rebuild at the purged T2 state."""
    from hbase_snapshotter_spark.cache import scoped_persist
    from hbase_snapshotter_spark.operators.snapshot import (
        recompute_affected_groups,
        state_changefeed,
    )
    from hbase_snapshotter_spark.operators.timeseries import (
        advance_topk_state,
        topk_state,
    )

    log = scoped_persist(
        events_as_changelog(read_table(spark, sf_dir, "events")))
    t1 = scoped_persist(latest_cells(log, SNAPSHOT_TS_MS).select(
        "row_key", "qualifier", "value"))
    purged = F.col("row_key").cast("long") % 7 == 3
    t2 = scoped_persist(
        latest_cells(log, None).select("row_key", "qualifier", "value")
        .filter(~purged))

    def score(df: DataFrame) -> DataFrame:
        return (df.withColumn("score", F.expr("try_cast(value as double)"))
                .filter(F.col("score").isNotNull())
                .select("qualifier", "row_key", "score"))

    def rebuild(df: DataFrame) -> DataFrame:
        return topk_state(df, group_cols=["qualifier"], id_col="row_key",
                          score_col="score", k=5)

    feed = scoped_persist(state_changefeed(t1, t2))
    inserts = (feed.filter(F.col("op") == "I")
               .select("qualifier", "row_key",
                       F.expr("try_cast(new_value as double)").alias("score"))
               .filter(F.col("score").isNotNull()))
    ins_advanced = advance_topk_state(
        rebuild(score(t1)), inserts, group_cols=["qualifier"],
        id_col="row_key", score_col="score", k=5)
    advanced = scoped_persist(recompute_affected_groups(
        ins_advanced, score(t2), feed, group_cols=["qualifier"],
        rebuild=rebuild))
    from hbase_snapshotter_spark.queries.gating import audit_enabled, null_flag
    if audit_enabled(sf_dir):
        full = rebuild(score(t2))
        cols = ["qualifier", "row_key", "score", "rank"]
        sym = advanced.select(*cols).exceptAll(full.select(*cols)) \
            .unionByName(full.select(*cols)
                         .exceptAll(advanced.select(*cols)))
        flag = sym.agg(
            (F.count(F.lit(1)) == 0).alias("advance_consistent"))
    else:  # production/bench: the advanced state alone
        flag = spark.range(1).select(null_flag("advance_consistent"))
    out = advanced.select(
        "qualifier", "row_key", F.round("score", 4).alias("score"),
        F.col("rank").cast("integer").alias("rk"))
    sentinel = flag.select(
        F.lit(None).cast("string").alias("qualifier"),
        F.lit(None).cast("string").alias("row_key"),
        F.lit(None).cast("double").alias("score"),
        F.lit(None).cast("integer").alias("rk"),
        "advance_consistent")
    return (out.crossJoin(F.broadcast(flag)).unionByName(sentinel)
            )


def oracle_topk_delete_advance() -> str:
    return """
WITH t2 AS (
  SELECT row_key, qualifier, value FROM (
    SELECT CAST(user_id AS VARCHAR) AS row_key,
           event_type AS qualifier,
           CAST(value AS VARCHAR) AS value,
           ROW_NUMBER() OVER (PARTITION BY CAST(user_id AS VARCHAR), event_type
                              ORDER BY epoch_ms(ts) DESC, CAST(value AS VARCHAR) DESC) AS rn
    FROM events
  ) WHERE rn = 1),
scored AS (
  SELECT qualifier, row_key, TRY_CAST(value AS DOUBLE) AS score
  FROM t2
  WHERE TRY_CAST(row_key AS BIGINT) % 7 <> 3
    AND TRY_CAST(value AS DOUBLE) IS NOT NULL),
ranked AS (
  SELECT qualifier, row_key, score,
         ROW_NUMBER() OVER (PARTITION BY qualifier
                            ORDER BY score DESC, row_key ASC) AS rk
  FROM scored)
SELECT qualifier, row_key, ROUND(score, 4) AS score,
       CAST(rk AS INTEGER) AS rk, TRUE AS advance_consistent
FROM ranked WHERE rk <= 5
UNION ALL
SELECT CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
       CAST(NULL AS INTEGER), TRUE
ORDER BY qualifier, rk
"""


def q_scd2_lookup_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension lookup (N99): every purchase event joined to
    the SCD2 version of its user's ``signup`` cell that was valid AT
    the purchase time — the Kimball "as-was" fact join (attribute each
    purchase to the plan the user was on at that moment, not the
    current one).  Purchases before the user's first signup keep NULL
    dimension columns (the ``how="left"`` audit posture).  The oracle
    replays the interval reconstruction and the as-was join."""
    from hbase_snapshotter_spark.operators.snapshot import (
        scd2_history,
        scd2_lookup,
    )

    log = events_as_changelog(read_table(spark, sf_dir, "events"))
    dim = scd2_history(log.filter(F.col("qualifier") == "signup"))
    facts = (log.filter(F.col("qualifier") == "purchase")
             .select("row_key", "cell_ts",
                     F.col("value").alias("fact_value")))
    return scd2_lookup(facts, dim)


def oracle_scd2_lookup_purchases() -> str:
    return """
WITH log AS (
  SELECT CAST(user_id AS VARCHAR) AS row_key, event_type AS qualifier,
         CAST(value AS VARCHAR) AS value, epoch_ms(ts) AS cell_ts
  FROM events),
dim AS (
  -- is_current computed INSIDE the dimension: after the left join,
  -- "valid_to IS NULL" would also be true for UNMATCHED facts
  SELECT row_key, value, valid_from, valid_to, version,
         valid_to IS NULL AS is_current
  FROM (
    SELECT row_key, value,
           cell_ts AS valid_from,
           LEAD(cell_ts) OVER (PARTITION BY row_key, qualifier
                               ORDER BY cell_ts, value) AS valid_to,
           ROW_NUMBER() OVER (PARTITION BY row_key, qualifier
                              ORDER BY cell_ts, value) AS version
    FROM log WHERE qualifier = 'signup')),
facts AS (
  SELECT row_key, cell_ts, value AS fact_value
  FROM log WHERE qualifier = 'purchase')
SELECT f.row_key, f.cell_ts, f.fact_value,
       d.value AS dim_value,
       d.valid_from AS dim_valid_from,
       CAST(d.version AS INTEGER) AS dim_version,
       d.is_current AS dim_is_current
FROM facts f
LEFT JOIN dim d
  ON d.row_key = f.row_key
 AND d.valid_from <= f.cell_ts
 AND (d.valid_to IS NULL OR f.cell_ts < d.valid_to)
"""


def q_snapshot_bucket_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy bucket diff (N117): the mid-month and current
    latest-cells states fingerprinted per row-key hash bucket (60-bit
    content XOR — order- and partitioning-independent), full-outer
    compared, and CROSS-CHECKED against the exact per-bucket changed-
    row counts: ``fingerprint_detects`` is TRUE iff the fingerprint
    verdict matches reality for that bucket (an md5-xor collision
    would turn it false and hash-fail the row).  At 100 TB only the
    two fingerprint scans run; the row diff here is the audit lane —
    production runs it only on the flagged buckets."""
    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.cache import scoped_persist
    from hbase_snapshotter_spark.operators.snapshot import (
        bucket_fingerprints,
        latest_cells,
    )

    log = scoped_persist(
        events_as_changelog(read_table(spark, sf_dir, "events")))
    cols = ["row_key", "qualifier", "value"]
    t1 = scoped_persist(latest_cells(log, SNAPSHOT_TS_MS).select(*cols))
    t2 = scoped_persist(latest_cells(log, None).select(*cols))
    fp1 = bucket_fingerprints(t1, content_cols=cols)
    fp2 = bucket_fingerprints(t2, content_cols=cols)
    cmp_ = (fp1.withColumnRenamed("n_rows", "n_t1")
            .withColumnRenamed("fp", "fp_t1")
            .join(fp2.withColumnRenamed("n_rows", "n_t2")
                  .withColumnRenamed("fp", "fp_t2"), "bucket", "full")
            .select("bucket",
                    F.coalesce("n_t1", F.lit(0)).alias("n_t1"),
                    F.coalesce("n_t2", F.lit(0)).alias("n_t2"),
                    # verdict = (fp, n_rows) agreement: an XOR-cancel
                    # of added+removed rows can't hide when the bucket
                    # counts differ (ADVICE r9)
                    ((F.coalesce("fp_t1", F.lit(0))
                      != F.coalesce("fp_t2", F.lit(0)))
                     | (F.coalesce("n_t1", F.lit(0))
                        != F.coalesce("n_t2", F.lit(0))))
                    .alias("fp_changed")))
    bucket = (F.conv(F.substring(F.md5(F.col("row_key")), 1, 8), 16, 10)
              .cast("long") % 16)
    # The symmetric multiset diff |t2 ∖ t1| + |t1 ∖ t2| as ONE signed-
    # count aggregation instead of two exceptAll shuffles over both
    # sides (r13, guide §2.4): each state holds at most one row per
    # (row_key, qualifier) — latest_cells output — so per distinct
    # full row the side counts are 0/1 and a row is "changed" iff the
    # +1/−1 sum is non-zero.  Same rows, half the exchanges.
    diff_rows = (t2.withColumn("__s", F.lit(1))
                 .unionAll(t1.withColumn("__s", F.lit(-1)))
                 .groupBy(*cols).agg(F.sum("__s").alias("__d"))
                 .filter(F.col("__d") != 0)
                 .select(bucket.alias("bucket"))
                 .groupBy("bucket")
                 .agg(F.count(F.lit(1)).cast("long").alias("n_changed")))
    return (cmp_.join(diff_rows, "bucket", "left")
            .select("bucket", "n_t1", "n_t2",
                    F.coalesce("n_changed", F.lit(0).cast("long"))
                    .alias("n_changed_rows"),
                    "fp_changed",
                    ((F.coalesce("n_changed", F.lit(0)) > 0)
                     == F.col("fp_changed"))
                    .alias("fingerprint_detects")))


def oracle_snapshot_bucket_diff() -> str:
    def latest(pred: str) -> str:
        return f"""
        SELECT row_key, qualifier, value FROM (
          SELECT CAST(user_id AS VARCHAR) AS row_key,
                 event_type AS qualifier,
                 CAST(value AS VARCHAR) AS value,
                 ROW_NUMBER() OVER (
                   PARTITION BY CAST(user_id AS VARCHAR), event_type
                   ORDER BY epoch_ms(ts) DESC,
                            CAST(value AS VARCHAR) DESC) AS rn
          FROM events WHERE {pred}
        ) WHERE rn = 1
        """

    fp = ("CAST('0x' || substr(md5(row_key || '|' || qualifier"
          " || '|' || value), 1, 15) AS BIGINT)")
    bkt = ("CAST('0x' || substr(md5(row_key), 1, 8) AS BIGINT) % 16")
    return f"""
WITH t1 AS ({latest(f'epoch_ms(ts) <= {SNAPSHOT_TS_MS}')}),
t2 AS ({latest('epoch_ms(ts) <= 9223372036854775807')}),
f1 AS (SELECT {bkt} AS bucket, CAST(COUNT(*) AS BIGINT) AS n_t1,
              bit_xor({fp}) AS fp1
       FROM t1 GROUP BY 1),
f2 AS (SELECT {bkt} AS bucket, CAST(COUNT(*) AS BIGINT) AS n_t2,
              bit_xor({fp}) AS fp2
       FROM t2 GROUP BY 1),
d AS (SELECT {bkt} AS bucket, CAST(COUNT(*) AS BIGINT) AS n_changed
      FROM ((SELECT * FROM t2 EXCEPT ALL SELECT * FROM t1)
            UNION ALL
            (SELECT * FROM t1 EXCEPT ALL SELECT * FROM t2))
      GROUP BY 1)
SELECT COALESCE(f1.bucket, f2.bucket) AS bucket,
       COALESCE(n_t1, 0) AS n_t1, COALESCE(n_t2, 0) AS n_t2,
       COALESCE(d.n_changed, 0) AS n_changed_rows,
       (COALESCE(fp1, 0) <> COALESCE(fp2, 0)
        OR COALESCE(n_t1, 0) <> COALESCE(n_t2, 0)) AS fp_changed,
       (COALESCE(d.n_changed, 0) > 0)
         = (COALESCE(fp1, 0) <> COALESCE(fp2, 0)
            OR COALESCE(n_t1, 0) <> COALESCE(n_t2, 0))
         AS fingerprint_detects
FROM f1 FULL JOIN f2 USING (bucket)
LEFT JOIN d ON d.bucket = COALESCE(f1.bucket, f2.bucket)
"""


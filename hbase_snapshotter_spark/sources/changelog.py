"""Change-log and fixture-table sources.

The reference reads its versioned KV table through a distributed HBase
scan, one partition per region (``HBaseSnapshotter.scala:126-129``).  The
rebuild's source model is a **change-log DataFrame**
``(row_key, family, qualifier, value, cell_ts)`` — read from Parquet in
tests/benchmarks, or from any DataSource (an hbase-spark connector, a
Kafka CDC topic compacted to Parquet, …) in production.  Everything
downstream only sees the DataFrame, so the source swaps freely.

Scale notes: a production change log should be written date-partitioned
on ``cell_ts`` (e.g. ``dt=yyyy-MM-dd``) so the snapshot's ``cell_ts <= ts``
filter prunes whole partitions before any I/O; within files, Parquet
row-group min/max statistics prune further.  Both happen automatically
from the declarative filter — see ``operators.snapshot``.

A change log split into **regions** (one Parquet file per HBase region
store file or CDC chunk) is listed and pruned by :func:`select_regions`:
a region whose footer statistics put every ``cell_ts`` outside the time
range is never opened — the analogue of the reference not scanning a
region at all.  :func:`read_regions` serves the snapshot job from the kept
regions with Spark's native Parquet scan; ``sources.pyds`` applies the
same rule in its Python data source.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHANGELOG_COLUMNS = ("row_key", "family", "qualifier", "value", "cell_ts")
CHANGELOG_DDL = (
    "row_key string, family string, qualifier string, value string, cell_ts long"
)


def read_table(
    spark: SparkSession, sf_dir: str, name: str, *, events_as_of_ms: int | None = None
) -> DataFrame:
    """Read one fixture table (``TESTDATA.md``).

    ``events.ts`` arrives in whatever physical Parquet form the fixture
    generator used — TIMESTAMP(NANOS) (readable only via the
    nanos-as-long legacy conf) or TIMESTAMP(MICROS) without timezone
    (read as TIMESTAMP_NTZ) — and is normalized to a proper
    session-timezone TimestampType so downstream code always sees the
    documented schema.  Both normalizations are lossless: nanosecond
    fractions are zero in the fixtures, and the NTZ→TZ cast under the
    UTC session maps wall-clock to the identical instant DuckDB's naive
    read produces.

    ``events_as_of_ms`` applies a snapshot time bound on the RAW column
    *before* the conversion — a predicate on the converted column is an
    expression and cannot reach the Parquet scan, while the raw-column
    comparison (against a constant-folded literal of the raw type)
    pushes down and prunes row groups.  Bound is ``cell_ts <= T`` under
    millis-floor semantics, i.e. ``ts < T+1ms``.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        want_bound = events_as_of_ms is not None and events_as_of_ms >= 0
        if ts_type == "bigint":  # TIMESTAMP(NANOS) via the legacy conf
            if want_bound:
                df = df.filter(F.col("ts") < F.lit((events_as_of_ms + 1) * 1_000_000))
            # integer division — `/` would round-trip through double and
            # lose sub-µs exactness (ns epoch values exceed 2^53)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            if want_bound:
                bound = F.timestamp_millis(
                    F.lit(events_as_of_ms + 1)).cast("timestamp_ntz")
                df = df.filter(F.col("ts") < bound)
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif want_bound:
            df = df.filter(F.col("ts") < F.timestamp_millis(F.lit(events_as_of_ms + 1)))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_changelog(spark: SparkSession, path: str) -> DataFrame:
    """Read a change-log table and validate its shape."""
    df = spark.read.parquet(path)
    missing = set(CHANGELOG_COLUMNS) - set(df.columns)
    if missing:
        raise ValueError(f"change log at {path} missing columns {sorted(missing)}")
    return df


def region_files(path: str) -> list[str]:
    """The region files of a region-split change log, sorted: a
    directory's ``*.parquet`` files, or else the files ``path`` matches
    as a glob.  Empty when nothing matches."""
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.parquet")))
    return sorted(glob.glob(path))


def _region_overlaps(path: str, lo: float, hi: float) -> bool:
    """Whether region ``path`` may hold a cell with ``lo <= cell_ts <= hi``,
    from its Parquet footer alone.  A region without complete ``cell_ts``
    statistics is kept.  Raises ``ValueError`` naming the file when a
    change-log column is missing: an explicit read schema would otherwise
    fill it with NULL and drop the region's cells without an error."""
    import pyarrow.parquet as pq

    meta = pq.read_metadata(path)
    names = [meta.schema.column(i).name for i in range(meta.num_columns)]
    missing = set(CHANGELOG_COLUMNS) - set(names)
    if missing:
        raise ValueError(f"change-log region {path} missing columns {sorted(missing)}")
    idx = names.index("cell_ts")
    stats = [meta.row_group(rg).column(idx).statistics for rg in range(meta.num_row_groups)]
    if not stats or any(st is None or st.min is None for st in stats):
        return True
    return min(st.min for st in stats) <= hi and max(st.max for st in stats) >= lo


def select_regions(
    path: str, lo: float = float("-inf"), hi: float = float("inf")
) -> tuple[list[str], list[str]]:
    """List the region files under ``path`` and prune them to the time
    range ``[lo, hi]`` by footer statistics.  Returns ``(all, kept)``;
    raises ``FileNotFoundError`` when ``path`` holds no region file."""
    files = region_files(path)
    if not files:
        raise FileNotFoundError(f"no region files under {path}")
    return files, [f for f in files if _region_overlaps(f, lo, hi)]


def read_regions(spark: SparkSession, path: str, ts: int | None = None) -> DataFrame:
    """The change log as of ``ts`` from a directory (or glob) of region
    files: regions that hold no cell at or before ``ts`` are pruned on
    the driver, and the kept ones are read with Spark's native Parquet
    scan, where the snapshot's ``cell_ts <= ts`` filter reaches the row
    groups.  ``ts`` < 0 / ``None`` = "now" (no pruning)."""
    hi = float("inf") if ts is None or ts < 0 else ts
    _, kept = select_regions(path, hi=hi)
    # with an explicit schema, no paths reads as an empty change log
    return spark.read.schema(CHANGELOG_DDL).parquet(*kept)


def events_as_changelog(events: DataFrame, *, as_of_ms: int | None = None) -> DataFrame:
    """Project the ``events`` fixture into change-log shape.

    Treats each event as a cell write: the user is the row key, the event
    type is the qualifier, the event value (stringified) is the cell
    value, and the event time (epoch millis) is the cell timestamp.  This
    gives a real, driver-provided dataset with genuine multi-version
    cells for snapshot queries that the DuckDB oracle can replay.

    ``as_of_ms`` applies the snapshot time bound on the RAW ``ts`` column
    — ``cell_ts`` is a derived expression, so a filter on it cannot reach
    the Parquet scan; the equivalent raw-column predicate pushes down and
    prunes row groups (and, on a date-partitioned log, whole partitions).
    The downstream ``snapshot_as_of`` filter on ``cell_ts`` is then a
    no-op re-check, keeping operator semantics source-independent.
    """
    if as_of_ms is not None and as_of_ms >= 0:
        # cell_ts floors ts to millis: cell_ts <= T  ⟺  ts < T+1ms
        events = events.filter(F.col("ts") < F.timestamp_millis(F.lit(as_of_ms + 1)))
    return events.select(
        F.col("user_id").cast("string").alias("row_key"),
        F.lit("d").alias("family"),
        F.col("event_type").alias("qualifier"),
        F.col("value").cast("string").alias("value"),
        F.unix_millis(F.col("ts")).alias("cell_ts"),
    )

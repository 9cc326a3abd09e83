"""End-to-end snapshot job — the rebuild of ``HBaseSnapshotter.main``
(``HBaseSnapshotter.scala:108-138``).

Reference stages → this function:

1. config load + strategy dispatch (``Settings``)   → ``SnapshotSettings``
2. schema resolution (explicit or as-of)            → ``settings.resolve_schema``
3. scan definition + time range                     → ``cell_ts <= T`` filter in
                                                      ``snapshot_as_of``, pushed
                                                      into the Parquet scan
4. distributed read                                 → Spark's native Parquet scan:
                                                      ``read_changelog``, or
                                                      ``read_regions`` (regions
                                                      pruned by footer stats)
5. typed decode                                     → ``snapshot_as_of``
6. Hive write (SaveMode.Overwrite)                  → ``write_snapshot``

Where the reference hand-stages 4 jobs, here the whole thing is one
Catalyst-planned DAG with a single action (the write), plus at most one
tiny driver job for the schema-as-of lookup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hbase_snapshotter_spark.config import SnapshotSettings
from hbase_snapshotter_spark.operators.snapshot import snapshot_as_of
from hbase_snapshotter_spark.sources.changelog import read_changelog, read_regions
from hbase_snapshotter_spark.sources.warehouse import write_snapshot


def run_snapshot(
    spark: SparkSession,
    settings: SnapshotSettings,
    *,
    changelog: DataFrame | None = None,
    history: DataFrame | None = None,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Materialize the snapshot described by ``settings`` into the
    warehouse table and return the written DataFrame.

    ``changelog``/``history`` default to reading ``settings.source_table``
    / ``settings.mysql_schema_history`` as Parquet paths (a directory of
    region files when ``source_format`` is ``"changelog"``); pass
    DataFrames directly to source from any connector.
    """
    if changelog is None:
        if settings.source_format == "changelog":
            changelog = read_regions(spark, settings.source_table, settings.timestamp)
        else:
            changelog = read_changelog(spark, settings.source_table)
    if history is None and settings.mysql_schema_history:
        history = spark.read.parquet(settings.mysql_schema_history)

    schema = settings.resolve_schema(history)
    snapshot = snapshot_as_of(changelog, schema, settings.timestamp)
    write_snapshot(snapshot, settings.sink_table, partition_by=partition_by)
    return snapshot

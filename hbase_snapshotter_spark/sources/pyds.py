"""Python Data Source (Spark 4 ``spark.dataSource.register``) that tails
a region-split change log: ``spark.readStream.format("changelog")``,
which feeds ``streaming.snapshot_stream``.  Batch reads of the same
layout go through ``sources.changelog.read_regions`` (Spark's native
Parquet scan); this source has no batch reader.

The reference reads its KV table with ``hbaseContext.hbaseRDD`` — one
Spark partition per HBase region (``HBaseSnapshotter.scala:123-129``).
This rebuild has no HBase, so the stream keeps the *shape* of that
integration against pluggable region files (listed by
``sources.changelog.region_files``): every region file new since the
last offset becomes one ``InputPartition``, read on an executor.  It
yields the standard change-log schema
``(row_key, family, qualifier, value, cell_ts)``, so everything
downstream runs unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from hbase_snapshotter_spark.sources.changelog import (
    CHANGELOG_COLUMNS,
    CHANGELOG_DDL,
    region_files,
)


@dataclass
class RegionPartition(InputPartition):
    path: str


class ChangelogPartitionedStreamReader(DataSourceStreamReader):
    """Streaming tail of the region directory: the driver only *lists*
    files (``latestOffset``); every new region file becomes one
    ``InputPartition`` whose rows are read **on an executor**, so a
    micro-batch of R new regions scans with R-way parallelism and the
    driver never holds row data — the reference's one-Spark-partition-
    per-HBase-region scan (``HBaseSnapshotter.scala:126-129``) on the
    streaming side.

    Region files are immutable once written (an HBase flush/compaction
    product, a CDC chunk, …), so the offset is the sorted list of
    consumed region files: a committed range replays deterministically
    from the checkpoint and delivery is exactly-once into any idempotent
    sink.
    """

    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("changelog stream requires option 'path'")
        self.path = path
        # test/debug side-channel: read() runs in an executor's python
        # worker (invisible to driver module state), so it drops one
        # marker file per region scanned into this directory instead
        self.debug_dir = options.get("debugstreamdir")

    def initialOffset(self) -> dict:
        return {"seen": []}

    def latestOffset(self) -> dict:
        # metadata-only listing; equal start/end offsets (same sorted
        # file list) make Spark skip planning an empty micro-batch
        return {"seen": region_files(self.path)}

    def partitions(self, start: dict, end: dict) -> list[RegionPartition]:
        seen = set(start.get("seen", []))
        return [RegionPartition(f) for f in end.get("seen", []) if f not in seen]

    def read(self, partition: RegionPartition) -> Iterator:
        """Executor-side scan of one new region file; yields Arrow
        batches straight into Spark's vectorized reader."""
        import pyarrow.parquet as pq

        if self.debug_dir:
            marker = os.path.basename(partition.path) + ".read"
            with open(os.path.join(self.debug_dir, marker), "a") as fh:
                fh.write(str(os.getpid()) + "\n")
        table = pq.read_table(partition.path, columns=list(CHANGELOG_COLUMNS))
        yield from table.to_batches()

    def commit(self, end: dict) -> None:
        # region files are immutable and retained; nothing to clean up
        pass


class ChangelogDataSource(DataSource):
    """``spark.readStream.format("changelog").option("path", dir).load()``
    tails new region files under ``dir``."""

    @classmethod
    def name(cls) -> str:
        return "changelog"

    def schema(self) -> str:
        return CHANGELOG_DDL

    def streamReader(self, schema) -> ChangelogPartitionedStreamReader:
        return ChangelogPartitionedStreamReader(dict(self.options))


def register(spark) -> None:
    """Register the ``changelog`` source with ``spark``."""
    spark.dataSource.register(ChangelogDataSource)

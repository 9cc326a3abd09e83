"""Python Data Source (Spark 4 ``spark.dataSource.register``) serving the
change-log schema from region-split storage — the architectural stand-in
for the reference's distributed HBase scan.

The snapshot job (``pipeline.run_snapshot``) does not read through this
source: it prunes regions with the same rule
(``sources.changelog.select_regions``) and reads the kept ones with
Spark's native Parquet scan (``sources.changelog.read_regions``), so no
Python runs on its data path.  What still reads through here is the
public ``spark.read.format("changelog")`` source and the streaming tail
(``spark.readStream.format("changelog")``), which feeds
``streaming.snapshot_stream``.

The reference reads its KV table with ``hbaseContext.hbaseRDD`` — one
Spark partition per HBase region, server-side time-range and column
filters (``HBaseSnapshotter.scala:123-129``).  No HBase exists in this
sandbox, so this source reproduces the *shape* of that integration
against pluggable region files:

- **partition-per-region**: every file under ``path`` is one "region"
  (an HBase region's store file); ``partitions()`` emits one
  ``InputPartition`` per region, so scan parallelism = region count,
  exactly like the reference's RDD.  Files are listed by
  ``sources.changelog.region_files``.
- **time-range pushdown** (``Scan.setTimeRange``): comparison filters on
  ``cell_ts`` arrive via ``pushFilters`` and are (a) applied
  region-side through pyarrow dataset predicates (row-group min/max
  pruning inside each file) and (b) used to SKIP whole regions whose
  ``cell_ts`` range is disjoint — the analogue of not scanning a region
  at all (``sources.changelog.select_regions``).
- **column filters** (``Scan.addColumn``): equality/IN filters on
  ``family``/``qualifier``/``row_key`` are likewise applied
  region-side.

Everything downstream is unchanged: the source yields the standard
change-log DataFrame ``(row_key, family, qualifier, value, cell_ts)``,
so ``snapshot_as_of`` runs identically over parquet fixtures, this
source, or a real hbase-spark connector (``sources/changelog.py``'s
source-abstraction contract, proven by ``tests/test_sources.py``).

Requires ``spark.sql.python.filterPushdown.enabled=true`` (off by
default in Spark 4.1) for ``pushFilters`` to be called; without it the
source still works, Spark just re-applies every filter post-scan.

Swapping in a live HBase backend means re-implementing ``partitions()``
(list regions via the HBase client) and ``read()`` (scan one region with
the pushed time range) — the Spark-facing surface stays byte-identical.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterable, Iterator

from pyspark.errors import PySparkNotImplementedError
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)

from hbase_snapshotter_spark.sources.changelog import (
    CHANGELOG_COLUMNS,
    CHANGELOG_DDL,
    region_files,
    select_regions,
)

_PUSHABLE_COLS = {"row_key", "family", "qualifier", "cell_ts"}
_COMPARISONS = (EqualTo, LessThan, LessThanOrEqual, GreaterThan, GreaterThanOrEqual, In)


@dataclass
class RegionPartition(InputPartition):
    path: str


def _attr_name(f: Filter) -> str:
    return ".".join(f.attribute)


def _to_arrow_expr(filters: list[Filter]):
    """Accepted Spark filters → one conjunctive pyarrow dataset predicate
    (evaluated against row-group statistics first, then per-batch)."""
    import pyarrow.dataset as pds

    expr = None
    for f in filters:
        field = pds.field(_attr_name(f))
        if isinstance(f, EqualTo):
            e = field == f.value
        elif isinstance(f, LessThan):
            e = field < f.value
        elif isinstance(f, LessThanOrEqual):
            e = field <= f.value
        elif isinstance(f, GreaterThan):
            e = field > f.value
        elif isinstance(f, GreaterThanOrEqual):
            e = field >= f.value
        elif isinstance(f, In):
            e = field.isin(list(f.value))
        else:  # pragma: no cover - pushFilters only accepts the above
            continue
        expr = e if expr is None else (expr & e)
    return expr


def _ts_bounds(filters: list[Filter]) -> tuple[float, float]:
    """[lo, hi] bounds on cell_ts implied by the accepted filters."""
    lo, hi = float("-inf"), float("inf")
    for f in filters:
        if _attr_name(f) != "cell_ts":
            continue
        if isinstance(f, LessThan):
            hi = min(hi, f.value - 1)
        elif isinstance(f, LessThanOrEqual):
            hi = min(hi, f.value)
        elif isinstance(f, GreaterThan):
            lo = max(lo, f.value + 1)
        elif isinstance(f, GreaterThanOrEqual):
            lo = max(lo, f.value)
        elif isinstance(f, EqualTo):
            lo, hi = max(lo, f.value), min(hi, f.value)
    return lo, hi


class ChangelogReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("changelog source requires option 'path' "
                             "(directory of region parquet files)")
        self.path = path
        # planning runs in a Python worker process, so tests can't observe
        # pushdown via module state; this option dumps what was pushed and
        # pruned to a JSON file instead (debug/test only)
        self.debug_log = options.get("debugscanlog")
        self.accepted: list[Filter] = []

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        """Accept comparisons/IN on the KV columns (the HBase server-side
        filter surface); everything else is returned for Spark to apply."""
        for f in filters:
            if isinstance(f, _COMPARISONS) and _attr_name(f) in _PUSHABLE_COLS:
                self.accepted.append(f)
            else:
                yield f

    def partitions(self) -> list[RegionPartition]:
        """One partition per region file; regions whose cell_ts min/max
        (parquet footer stats) are disjoint from the pushed time range
        are skipped entirely — the 'don't scan that region' analogue."""
        lo, hi = _ts_bounds(self.accepted)
        files, kept = select_regions(self.path, lo, hi)
        parts = [RegionPartition(path) for path in kept]
        if self.debug_log:
            import json

            with open(self.debug_log, "w") as fh:
                json.dump({"pushed": [str(f) for f in self.accepted],
                           "regions_total": len(files),
                           "regions_read": len(parts)}, fh)
        return parts

    def read(self, partition: RegionPartition) -> Iterator:
        """Scan one region, applying the pushed predicate region-side;
        yields Arrow batches (zero-copy into Spark's vectorized reader)."""
        import pyarrow.dataset as pds

        dataset = pds.dataset(partition.path, format="parquet")
        table = dataset.to_table(
            filter=_to_arrow_expr(self.accepted),
            columns=list(CHANGELOG_COLUMNS),
        )
        yield from table.to_batches()


class ChangelogStreamReader(SimpleDataSourceStreamReader):
    """Streaming tail of the region directory: each micro-batch is the
    set of region files that appeared since the last offset.

    Region files are immutable once written (an HBase flush/compaction
    product, a CDC chunk, …), so "new files since offset" is an exact,
    replayable offset model: the offset is the sorted list of consumed
    files, and ``readBetweenOffsets`` re-reads a committed range
    deterministically for recovery.  This is the continuous feed for
    ``streaming.snapshot_stream`` (live snapshot maintenance over the
    same change-log schema).

    A ``SimpleDataSourceStreamReader`` reads on the driver — right for
    tailing metadata-sized batches.  The default streaming path is
    :class:`ChangelogPartitionedStreamReader` (executor-side reads);
    this driver-side variant stays selectable with
    ``.option("streamReader", "simple")`` for tiny control-plane feeds
    where a per-file Spark task costs more than the rows are worth.
    """

    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("changelog stream requires option 'path'")
        self.path = path

    def initialOffset(self) -> dict:
        return {"seen": []}

    @staticmethod
    def _rows(files: list[str]):
        # a LIST ITERATOR, not a generator: the runner both pickles the
        # batch (generators can't pickle) and advances it with next()
        # (a bare list fails); CPython list iterators do both
        import pyarrow.parquet as pq

        cols = list(CHANGELOG_COLUMNS)
        out: list[tuple] = []
        for path in files:
            table = pq.read_table(path, columns=cols)
            out.extend(zip(*(table.column(c).to_pylist() for c in cols)))
        return iter(out)

    def read(self, start: dict):
        seen = set(start.get("seen", []))
        files = region_files(self.path)
        new = [f for f in files if f not in seen]
        return self._rows(new), {"seen": files}

    def readBetweenOffsets(self, start: dict, end: dict):
        seen = set(start.get("seen", []))
        return self._rows([f for f in end.get("seen", []) if f not in seen])


class ChangelogPartitionedStreamReader(DataSourceStreamReader):
    """Partition-planning streaming tail of the region directory — the
    scale path (and default): the driver only *lists* files
    (``latestOffset``); every new region file becomes one
    ``InputPartition`` whose rows are read **on an executor**, so a
    micro-batch of R new regions scans with R-way parallelism and the
    driver never holds row data.  This mirrors the batch reader's
    partition-per-region contract (and the reference's one-Spark-
    partition-per-HBase-region scan, ``HBaseSnapshotter.scala:126-129``)
    on the streaming side.

    Offset model is identical to the simple reader — the offset is the
    sorted list of consumed region files (immutable once written), so a
    committed range replays deterministically from the checkpoint and
    delivery is exactly-once into any idempotent sink.
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
    """``spark.read.format("changelog").option("path", dir).load()`` —
    batch scan with region partitions/pushdown, or
    ``spark.readStream.format("changelog")`` to tail new region files
    (executor-side partitioned reads by default; pass
    ``.option("streamReader", "simple")`` for the driver-side reader)."""

    @classmethod
    def name(cls) -> str:
        return "changelog"

    def schema(self) -> str:
        return CHANGELOG_DDL

    def reader(self, schema) -> ChangelogReader:
        return ChangelogReader(dict(self.options))

    def streamReader(self, schema) -> ChangelogPartitionedStreamReader:
        # raising NOT_IMPLEMENTED makes Spark fall back to
        # simpleStreamReader() — the documented dispatch contract
        if dict(self.options).get("streamreader", "").lower() == "simple":
            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "streamReader (simple requested)"},
            )
        return ChangelogPartitionedStreamReader(dict(self.options))

    def simpleStreamReader(self, schema) -> ChangelogStreamReader:
        return ChangelogStreamReader(dict(self.options))


def register(spark) -> None:
    """Register the source and enable Python filter pushdown (off by
    default in Spark 4.1)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ChangelogDataSource)

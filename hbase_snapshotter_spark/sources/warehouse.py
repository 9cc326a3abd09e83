"""Warehouse sink — the reference's Hive write (S12).

``df.write.mode(Overwrite).saveAsTable`` (``HBaseSnapshotter.scala:
134-137``) is already the idiomatic PySpark API; this wrapper fixes the
format to Parquet and adds the options that matter at 100 TB: optional
partitioning, and optional bucketing so repeated snapshot⋈snapshot /
delta-merge joins co-locate without a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_snapshot(
    df: DataFrame,
    table: str,
    *,
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
) -> None:
    writer = df.write.mode("overwrite").format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        writer = writer.bucketBy(n, *cols).sortBy(*cols)
    writer.saveAsTable(table)


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    shard_key: str,
    num_shards: int,
    sort_by: list[str] | None = None,
    format: str = "parquet",
) -> None:
    """Fixed-count, deterministic shard layout for training consumption.

    Data loaders want a known shard count with STABLE membership (so
    resumable / distributed reads see the same shard ↔ row mapping on
    every run): rows route to shards by hash of ``shard_key`` (Spark's
    HashPartitioning — content-determined, not round-robin, so
    membership survives reruns, cluster resizes, and input
    repartitioning), at most one output file per shard.  ``sort_by``
    additionally fixes the intra-shard row order (sequential shard
    streaming is deterministic end-to-end).  At 100 TB pick
    ``num_shards`` ≈ total_bytes / desired_shard_bytes; the write's
    only shuffle is the routing exchange.

    Contract detail loaders must honor: an EMPTY shard writes no part
    file (Spark emits nothing for an empty non-zero partition), so with
    skewed or low-cardinality keys fewer than ``num_shards`` files can
    appear.  The intended count is therefore recorded in a
    ``_SHARDS.json`` manifest next to the data — enumerate shards from
    the manifest (:func:`read_training_shards`), treat a missing ordinal
    as empty, never glob and assume density.

    The manifest goes through the Hadoop FileSystem API, so it lands
    next to the data on ANY supported scheme (hdfs://, s3a://, file:)
    — a driver-local ``open()`` would break on every non-local path.
    It is written after the data and the two are not atomic together: a
    crash in between leaves data without a manifest, which loaders must
    treat as an incomplete write (same contract as a missing _SUCCESS)."""
    out = df.repartition(num_shards, F.col(shard_key))
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    out.write.mode("overwrite").format(format).save(path)
    import json

    manifest = {"num_shards": num_shards, "shard_key": shard_key,
                "sort_by": sort_by or [], "format": format}
    _write_text_via_hadoop_fs(
        df.sparkSession, f"{path}/{SHARDS_MANIFEST}", json.dumps(manifest))


SHARDS_MANIFEST = "_SHARDS.json"


def _write_text_via_hadoop_fs(spark, path: str, text: str) -> None:
    """Small-file write through the JVM Hadoop FileSystem (scheme-aware:
    file:, hdfs://, s3a://, …) — the sanctioned way to place sidecar
    metadata next to Spark output."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def _read_text_via_hadoop_fs(spark, path: str) -> str:
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    stream = fs.open(p)
    try:
        # py4j passes byte[] by value, so read-into-buffer can't mutate a
        # Python bytearray — drain the stream JVM-side instead
        raw = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        return bytes(raw).decode("utf-8")
    finally:
        stream.close()


def read_training_shards(spark, path: str, *, format: str | None = None):
    """Loader-side twin of :func:`write_training_shards`: reads the
    ``_SHARDS.json`` manifest (REQUIRED — its absence means the write
    never completed) and returns ``(manifest, DataFrame)``.  The
    manifest is the source of truth for the intended shard count; a
    missing part-file ordinal is an empty shard, not an error, so
    loaders size their read plan from ``manifest['num_shards']`` and
    tolerate sparse files."""
    import json

    manifest = json.loads(
        _read_text_via_hadoop_fs(spark, f"{path}/{SHARDS_MANIFEST}"))
    fmt = format or manifest.get("format", "parquet")
    return manifest, spark.read.format(fmt).load(path)


# ---------------------------------------------------------------------------
# N128 at the SINK (round 11): zone-map statistics collected on write +
# a file-pruning reader — the poor-man's Iceberg/Delta file-stats layer
# on plain parquet.  Because parquet part-files are IMMUTABLE, the
# per-file stats table advances trivially: appends ADD files (stats
# computed for the new files only), deletes REMOVE files (stats rows
# dropped) — no per-file merge is ever needed, which is exactly why
# real table formats keep stats at file granularity.
# ---------------------------------------------------------------------------

ZONE_STATS_DIR = "_zone_stats"  # underscore-prefixed: invisible to
#                                 Spark's FileIndex, like _SUCCESS


def _file_stats(df: DataFrame, stat_cols: list[str]) -> DataFrame:
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in stat_cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"min_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"max_{c}")]
    return (df.groupBy(F.input_file_name().alias("file_path"))
            .agg(*aggs))


def write_with_zone_stats(
    df: DataFrame,
    path: str,
    *,
    stat_cols: list[str],
    format: str = "parquet",
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` and collect per-FILE zone-map statistics
    (``n_rows`` + min/max of each ``stat_cols`` entry) into the
    ``_zone_stats`` sidecar next to the data.  One stats pass over the
    fresh files (map-side-combined, files-sized output) — the write-
    side half of the N124/N128 pruning story, so
    :func:`read_with_zone_pruning` can skip files by range predicate
    without any table-format dependency."""
    writer = df.write.mode(mode).format(format)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
    spark = df.sparkSession
    back = spark.read.format(format).option("basePath", path).load(path)
    _file_stats(back, stat_cols).write.mode("overwrite") \
        .parquet(f"{path}/{ZONE_STATS_DIR}")


def refresh_zone_stats(spark, path: str, *, stat_cols: list[str],
                       format: str = "parquet") -> dict:
    """Incrementally advance the sidecar after appends/deletes: stats
    are computed ONLY for files not yet in the table (parquet files
    are immutable, so existing rows never change) and rows for
    vanished files are dropped.  Returns ``{"added": n, "removed": m,
    "total": k}``.  The only data scan is over the NEW files."""
    stats_path = f"{path}/{ZONE_STATS_DIR}"
    old = spark.read.parquet(stats_path)
    back = spark.read.format(format).option("basePath", path).load(path)
    live = {r.f for r in
            back.select(F.input_file_name().alias("f")).distinct()
            .collect()}  # files-sized metadata collect
    known = {r.file_path for r in old.select("file_path").collect()}
    new_files = sorted(live - known)
    dead = known - live
    kept = old.filter(~F.col("file_path").isin(*dead)) if dead else old
    if new_files:
        fresh = _file_stats(
            spark.read.format(format).option("basePath", path)
            .load(new_files), stat_cols)
        out = kept.unionByName(fresh)
    else:
        out = kept
    # overwrite via a temp materialization (the sidecar is its own input)
    rows = out.collect()  # files-sized
    spark.createDataFrame(rows, out.schema).coalesce(1) \
        .write.mode("overwrite").parquet(stats_path)
    return {"added": len(new_files), "removed": len(dead),
            "total": len(live)}


def read_with_zone_pruning(
    spark,
    path: str,
    stat_col: str,
    lo: float,
    hi: float,
    *,
    format: str = "parquet",
):
    """Range-predicate reader over a :func:`write_with_zone_stats`
    table: consult the files-sized sidecar, read ONLY the part-files
    whose ``[min, max]`` span intersects ``[lo, hi]``, and return
    ``(DataFrame, {"files_total", "files_scanned"})``.  Sound by the
    zone-map invariant (every matching row lives in a scanned file —
    pytest-verified); the caller still applies the row-level filter,
    which this reader pre-applies.  The stats consult is a
    metadata-sized collect, never the data."""
    stats = spark.read.parquet(f"{path}/{ZONE_STATS_DIR}")
    rows = stats.select(
        "file_path",
        ((F.col(f"max_{stat_col}") >= lo)
         & (F.col(f"min_{stat_col}") <= hi)).alias("scan")).collect()
    files = sorted(r.file_path for r in rows if r.scan)
    meta = {"files_total": len(rows), "files_scanned": len(files)}
    base = spark.read.format(format).option("basePath", path)
    if not files:  # schema-stable empty frame
        return (base.load(path).filter(F.lit(False)), meta)
    return (base.load(files).filter(F.col(stat_col).between(lo, hi)),
            meta)

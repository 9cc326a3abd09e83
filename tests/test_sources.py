"""Source/sink format breadth (N3/S12): the change-log model reads from
any DataSource; round-trip csv/json/orc and partitioned snapshot writes."""

import pytest
from pyspark.sql import functions as F

from hbase_snapshotter_spark.operators.snapshot import snapshot_as_of
from hbase_snapshotter_spark.queries.snapshot_q import events_snapshot_schema
from hbase_snapshotter_spark.sources.changelog import events_as_changelog, read_table
from hbase_snapshotter_spark.sources.warehouse import write_snapshot


@pytest.fixture(scope="module")
def log(spark, sf_dir):
    return events_as_changelog(read_table(spark, sf_dir, "events"))


@pytest.mark.parametrize("fmt", ["csv", "json", "orc"])
def test_changelog_roundtrip_any_format(spark, log, fmt, tmp_path):
    path = str(tmp_path / fmt)
    writer = log.write.mode("overwrite")
    if fmt == "csv":
        writer = writer.option("header", True)
    getattr(writer, fmt)(path)

    reader = spark.read
    if fmt == "csv":
        reader = reader.option("header", True).schema(log.schema)
    back = getattr(reader, fmt)(path)
    # snapshot over the round-tripped log matches the parquet original
    want = {tuple(r) for r in snapshot_as_of(log, events_snapshot_schema(), None).collect()}
    got = {tuple(r) for r in snapshot_as_of(back, events_snapshot_schema(), None).collect()}
    assert got == want


def test_partitioned_snapshot_write(spark, log, tmp_path):
    snap = snapshot_as_of(log, events_snapshot_schema(), None)
    write_snapshot(snap.withColumn("bucket", snap.k_hbase_row_key.substr(1, 1)),
                   "snap_part", partition_by=["bucket"])
    try:
        t = spark.table("snap_part")
        assert t.count() == snap.count()
        # partition pruning: filtering the partition column prunes files
        plan = t.filter(t.bucket == "1")._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
    finally:
        spark.sql("DROP TABLE snap_part")


# ------------------- region-split change log (S1): batch read + stream tail
@pytest.fixture(scope="module")
def region_dir(spark, log, tmp_path_factory):
    """The change log written as 4 'region' files split by row-key hash
    — the layout of an HBase table's regions."""
    import pyspark.sql.functions as F

    path = str(tmp_path_factory.mktemp("regions"))
    for r in range(4):
        (log.filter(F.crc32(F.col("row_key")) % 4 == r)
         .coalesce(1).write.mode("overwrite").parquet(f"{path}/region={r}.parquet"))
    # flatten: move the single part file up as region file
    import glob
    import os
    import shutil
    final = str(tmp_path_factory.mktemp("regions_flat"))
    for r in range(4):
        part = glob.glob(f"{path}/region={r}.parquet/part-*.parquet")[0]
        shutil.copy(part, os.path.join(final, f"region-{r}.parquet"))
    return final


def test_read_regions_serves_identical_changelog(spark, log, region_dir):
    from hbase_snapshotter_spark.sources.changelog import read_regions

    got = read_regions(spark, region_dir)
    assert [f.simpleString() for f in got.schema.fields] == \
           [f.simpleString() for f in log.schema.fields]
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in log.collect()}


def test_pyds_register_changes_no_session_conf(spark):
    """Registering the streaming source is all ``register`` does: no
    session conf is set as a side effect."""
    from hbase_snapshotter_spark.sources import pyds

    spark.conf.unset("spark.sql.python.filterPushdown.enabled")
    before = spark.conf.getAll
    pyds.register(spark)
    assert spark.conf.getAll == before


def test_pyds_streaming_tails_new_region_files(spark, log, tmp_path_factory):
    """readStream over the changelog source: first run consumes the
    existing region files; a file appearing later is delivered exactly
    once on the next run from the same checkpoint (offset = consumed
    file set).  Reads run on executors, proven by per-region marker
    files dropped from the executor python worker."""
    import glob
    import os
    import shutil

    import pyspark.sql.functions as F

    from hbase_snapshotter_spark.sources import pyds

    pyds.register(spark)
    tmp = str(tmp_path_factory.mktemp("stream_raw"))
    regions = str(tmp_path_factory.mktemp("stream_regions"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    dbg = str(tmp_path_factory.mktemp("stream_dbg"))

    early = log.filter(F.col("qualifier") == "click").limit(100)
    late = log.filter(F.col("qualifier") == "purchase").limit(50)
    for name, df in (("r0", early), ("r1", late)):
        df.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/{name}")

    def add_region(name):
        part = glob.glob(f"{tmp}/{name}/part-*.parquet")[0]
        shutil.copy(part, os.path.join(regions, f"{name}.parquet"))

    out = str(tmp_path_factory.mktemp("stream_out"))

    def run_batch():
        q = (spark.readStream.format("changelog").option("path", regions)
             .option("debugStreamDir", dbg).load()
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    add_region("r0")
    run_batch()
    assert spark.read.parquet(out).count() == early.count()

    add_region("r1")
    run_batch()
    got = spark.read.parquet(out)
    assert got.count() == early.count() + late.count()   # exactly once
    assert got.filter("qualifier = 'purchase'").count() == late.count()

    markers = sorted(os.path.basename(p) for p in glob.glob(f"{dbg}/*.read"))
    # one executor-side read per region file, none re-scanned
    assert markers == ["r0.parquet.read", "r1.parquet.read"]
    for m in markers:
        with open(os.path.join(dbg, m)) as fh:
            assert len(fh.read().splitlines()) == 1


def test_pyds_stream_feeds_snapshot_maintenance(spark, log, region_dir, tmp_path):
    """The reference's production loop, end-to-end on the rebuilt stack:
    region-split source (custom DataSource) streamed into continuous
    latest-cell state, then the ordinary typed snapshot over the
    maintained state — equal to the one-shot batch snapshot."""
    from hbase_snapshotter_spark.sources import pyds
    from hbase_snapshotter_spark.streaming.snapshot_stream import maintain_snapshot

    pyds.register(spark)
    stream = spark.readStream.format("changelog").option("path", region_dir).load()
    q, maintainer = maintain_snapshot(
        stream, str(tmp_path / "state"),
        checkpointLocation=str(tmp_path / "ckpt"), availableNow=True,
    )
    q.awaitTermination(120)

    cells = maintainer.current_cells(spark)
    schema = events_snapshot_schema()
    got = {tuple(r) for r in snapshot_as_of(cells, schema, None).collect()}
    want = {tuple(r) for r in snapshot_as_of(log, schema, None).collect()}
    assert got == want


def test_training_shards_stable_membership_and_order(spark, tmp_path):
    """write_training_shards: a fixed number of shard files, hash-routed
    (content-determined) membership that is identical across reruns and
    input partitionings, and a deterministic intra-shard row order."""
    import os

    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.sources.warehouse import write_training_shards

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 7 % 13).alias("payload"))

    def shard_map(path, src):
        write_training_shards(src, path, shard_key="doc_id", num_shards=4,
                              sort_by=["doc_id"])
        files = [f for f in os.listdir(path) if f.startswith("part-")]
        assert len(files) == 4
        rows = (spark.read.parquet(path)
                .select("doc_id", F.input_file_name().alias("f")).collect())
        # part-00003-<uuid>… -> the stable partition ordinal "part-00003"
        name = {r.doc_id: r.f.rsplit("/", 1)[-1][:10] for r in rows}
        assert len(name) == 200
        return name

    a = shard_map(str(tmp_path / "a"), df)
    b = shard_map(str(tmp_path / "b"), df.repartition(11))
    # membership is content-determined: same doc -> same shard ordinal
    assert a == b

    # intra-shard order is the sort key
    one = spark.read.parquet(str(tmp_path / "a"))
    got = [r.doc_id for r in one.select(
        "doc_id", F.input_file_name().alias("f")).collect()]
    per_file = {}
    for r in one.select("doc_id", F.input_file_name().alias("f")).collect():
        per_file.setdefault(r.f, []).append(r.doc_id)
    assert all(ids == sorted(ids) for ids in per_file.values())
    assert got  # non-empty read-back

    # the manifest records the INTENDED shard count
    import json
    with open(tmp_path / "a" / "_SHARDS.json") as f:
        manifest = json.load(f)
    assert manifest["num_shards"] == 4 and manifest["shard_key"] == "doc_id"

    # sparse keys: an empty shard writes NO part file — loaders must
    # enumerate from the manifest, not glob-and-assume-density (with a
    # single key value, exactly one shard file appears out of 8)
    sparse_path = str(tmp_path / "sparse")
    sparse = spark.range(50).select(F.lit(1).alias("doc_id"),
                                    F.col("id").alias("payload"))
    write_training_shards(sparse, sparse_path, shard_key="doc_id",
                          num_shards=8)
    sparse_files = [f for f in os.listdir(sparse_path)
                    if f.startswith("part-")]
    # the one data-bearing shard, plus Spark's empty part-00000 artifact
    # (partition 0 always writes a file; other empty partitions don't)
    assert 1 <= len(sparse_files) <= 2 < 8
    with open(os.path.join(sparse_path, "_SHARDS.json")) as f:
        assert json.load(f)["num_shards"] == 8
    assert spark.read.parquet(sparse_path).count() == 50


def test_training_shards_read_back_round_trip(spark, tmp_path):
    """read_training_shards: the loader enumerates from the manifest and
    sees a STABLE shard↔row mapping across two writes with different
    input partitioning, including a skewed key that leaves ordinals
    empty (missing part files are empty shards, not errors)."""
    import os

    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.sources.warehouse import (
        read_training_shards,
        write_training_shards,
    )

    # skewed: 3 distinct key values over 8 shards -> most ordinals empty
    df = spark.range(120).select(
        (F.col("id") % 3 * 1000).alias("doc_id"),
        F.col("id").alias("payload"))

    def run(path, src):
        write_training_shards(src, path, shard_key="doc_id", num_shards=8,
                              sort_by=["payload"])
        manifest, back = read_training_shards(spark, path)
        assert manifest["num_shards"] == 8
        assert manifest["shard_key"] == "doc_id"
        assert manifest["sort_by"] == ["payload"]
        rows = back.select(
            "doc_id", "payload", F.input_file_name().alias("f")).collect()
        assert len(rows) == 120
        return {(r.doc_id, r.payload): r.f.rsplit("/", 1)[-1][:10]
                for r in rows}

    a = run(str(tmp_path / "a"), df)
    b = run(str(tmp_path / "b"), df.repartition(17))
    assert a == b  # shard ordinal is content-determined, not layout-determined

    # fewer part files than shards (skew), loader still reads everything
    files = [f for f in os.listdir(tmp_path / "a") if f.startswith("part-")]
    assert len(files) < 8

    # a missing manifest means the write never completed -> loader raises
    import pytest

    os.remove(tmp_path / "a" / "_SHARDS.json")
    with pytest.raises(Exception):
        read_training_shards(spark, str(tmp_path / "a"))


def test_zone_stats_write_prune_roundtrip(spark, tmp_path):
    """N128 at the sink: write_with_zone_stats collects per-file
    (n_rows, min, max) into the _zone_stats sidecar; the pruning
    reader returns EXACTLY the rows a full-scan filter returns while
    reading strictly fewer files; an out-of-range band reads zero
    files with a stable schema."""
    from hbase_snapshotter_spark.sources.warehouse import (
        ZONE_STATS_DIR,
        read_with_zone_pruning,
        write_with_zone_stats,
    )

    path = str(tmp_path / "zs_table")
    # 4 partitions by bucket => at least 4 files with disjoint v spans
    src = spark.range(0, 400).select(
        F.col("id"),
        (F.col("id") % 4).alias("bucket"),
        (F.col("id") % 4 * 1000 + F.col("id")).cast("double").alias("v"))
    write_with_zone_stats(src, path, stat_cols=["v"],
                          partition_by=["bucket"])

    stats = spark.read.parquet(f"{path}/{ZONE_STATS_DIR}")
    assert stats.count() >= 4
    assert stats.agg(F.sum("n_rows")).collect()[0][0] == 400

    # bucket-2 band: [2000, 2399] lives in exactly one bucket's files
    pruned, meta = read_with_zone_pruning(spark, path, "v", 2000.0, 2399.0)
    full = (spark.read.option("basePath", path).parquet(path)
            .filter(F.col("v").between(2000.0, 2399.0)))
    assert sorted(r.id for r in pruned.collect()) == \
        sorted(r.id for r in full.collect())
    assert 0 < meta["files_scanned"] < meta["files_total"]
    # partition column survives the file-list read (basePath)
    assert {r.bucket for r in pruned.collect()} == {2}

    # out-of-range band: zero files read, schema stable, zero rows
    empty, meta0 = read_with_zone_pruning(spark, path, "v", 1e7, 2e7)
    assert meta0["files_scanned"] == 0
    assert empty.columns == pruned.columns
    assert empty.count() == 0


def test_zone_stats_refresh_appends_and_deletes(spark, tmp_path):
    """refresh_zone_stats advances the sidecar from file immutability:
    appended files gain stats rows (only the NEW files are scanned),
    vanished files lose theirs, surviving rows are byte-identical to
    the originals, and the refreshed sidecar equals a from-scratch
    rebuild."""
    import os
    import shutil

    from hbase_snapshotter_spark.sources.warehouse import (
        ZONE_STATS_DIR,
        _file_stats,
        refresh_zone_stats,
        write_with_zone_stats,
    )

    path = str(tmp_path / "zs_incr")
    src = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 2).alias("bucket"),
        F.col("id").cast("double").alias("v"))
    write_with_zone_stats(src, path, stat_cols=["v"],
                          partition_by=["bucket"])
    before = {r.file_path: r for r in
              spark.read.parquet(f"{path}/{ZONE_STATS_DIR}").collect()}

    # append new files (new bucket) + delete one existing bucket dir
    spark.range(100, 150).select(
        F.col("id"), F.lit(7).alias("bucket"),
        (F.col("id") + 9000).cast("double").alias("v")) \
        .write.mode("append").partitionBy("bucket").parquet(path)
    shutil.rmtree(os.path.join(path, "bucket=1"))

    res = refresh_zone_stats(spark, path, stat_cols=["v"])
    assert res["added"] >= 1 and res["removed"] >= 1

    after = {r.file_path: r for r in
             spark.read.parquet(f"{path}/{ZONE_STATS_DIR}").collect()}
    # surviving files keep their original stats rows verbatim
    for f, row in after.items():
        if f in before:
            assert row == before[f]
    # refreshed sidecar == from-scratch rebuild over the live table
    live = spark.read.option("basePath", path).parquet(path)
    want = {r.file_path: r for r in
            _file_stats(live, ["v"]).collect()}
    assert set(after) == set(want)
    for f in after:
        assert after[f] == want[f]

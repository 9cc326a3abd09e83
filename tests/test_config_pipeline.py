"""Config loading/validation/dispatch (S17) and the end-to-end snapshot
job (config → schema → snapshot → warehouse table), mirroring the
reference's entry path (Settings.scala, HBaseSnapshotter.main)."""

import datetime
import json
import os
import re

import pytest

from hbase_snapshotter_spark.config import ConfigError, SnapshotSettings
from hbase_snapshotter_spark.pipeline import run_snapshot
from hbase_snapshotter_spark.plans.schema import KEY_COLUMN, explicit_schema
from hbase_snapshotter_spark.sources.changelog import CHANGELOG_COLUMNS, read_regions
from tests.conftest import CHANGELOG_ROWS, T1, T2


def test_from_json_mysql_shape(tmp_path):
    cfg = tmp_path / "app.json"
    cfg.write_text(json.dumps({
        "hbase": {"zookeeper_quorum": ["zk1"], "table": "/data/changelog",
                  "timestamp": 12345},
        "mysql": {"table": "/data/schema_history"},
        "hive": {"table": "warehouse.snapshot"},
    }))
    s = SnapshotSettings.from_json(cfg)
    assert s.source_table == "/data/changelog"
    assert s.mysql_schema_history == "/data/schema_history"
    assert s.timestamp == 12345


def test_from_json_hbase_shape_defaults_now():
    s = SnapshotSettings.from_json(json.dumps({
        "hbase": {"table": "t", "schema": ["d:a:integer", "d:b"]},
        "hive": {"table": "out"},
    }))
    assert s.timestamp == -1 and s.hbase_schema == ["d:a:integer", "d:b"]


@pytest.mark.parametrize("doc", [
    {"hbase": {"table": "t"}, "hive": {"table": "o"}},           # no schema source
    {"hbase": {"table": "t", "schema": ["d:a:integer"]},
     "mysql": {"table": "h"}, "hive": {"table": "o"}},            # both
    {"hive": {"table": "o"}},                                     # no source table
])
def test_invalid_configs_rejected(doc):
    with pytest.raises(ConfigError):
        SnapshotSettings.from_json(json.dumps(doc))


def test_explicit_schema_two_part_defaults_string():
    s = SnapshotSettings(source_table="t", sink_table="o",
                         hbase_schema=["d:a:integer", "d:b"])
    schema = s.resolve_schema()
    assert schema["a"].dataType.typeName() == "integer"
    assert schema["b"].dataType.typeName() == "string"
    assert schema.fields[0].name == KEY_COLUMN


def test_run_snapshot_end_to_end(spark, changelog, schema_history, tmp_path):
    settings = SnapshotSettings(
        source_table="unused", sink_table="snap_t2", timestamp=T2,
        mysql_schema_history="inline",
    )
    out = run_snapshot(spark, settings, changelog=changelog, history=schema_history)
    assert out.count() == 3
    # the sink table exists in the catalog with identical contents
    persisted = spark.table("snap_t2")
    assert persisted.count() == 3
    assert [f.name for f in persisted.schema.fields][:2] == \
        [KEY_COLUMN, "k_replicator_row_status"]
    spark.sql("DROP TABLE snap_t2")


def test_cli_main_end_to_end(spark, changelog, schema_history, tmp_path):
    """python -m hbase_snapshotter_spark <config.json> — the reference's
    launcher path (bin/hbase-snapshotter) driven through main()."""
    from hbase_snapshotter_spark.__main__ import main

    log_path = str(tmp_path / "changelog")
    hist_path = str(tmp_path / "history")
    changelog.write.parquet(log_path)
    schema_history.write.parquet(hist_path)
    cfg = tmp_path / "app.json"
    cfg.write_text(json.dumps({
        "hbase": {"table": log_path, "timestamp": T2},
        "mysql": {"table": hist_path},
        "hive": {"table": "cli_snap"},
    }))
    try:
        assert main([str(cfg)]) == 0
        assert spark.table("cli_snap").count() == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS cli_snap")


def test_run_snapshot_via_changelog_source(spark, changelog, schema_history, tmp_path):
    """format='changelog' in the config reads the change log from a
    directory of region files; the written table matches the
    parquet-path run exactly."""
    import glob
    import os
    import shutil

    raw = str(tmp_path / "raw")
    regions = str(tmp_path / "regions")
    os.makedirs(regions)
    changelog.repartition(2).write.parquet(raw)
    for i, part in enumerate(sorted(glob.glob(f"{raw}/part-*.parquet"))):
        shutil.copy(part, os.path.join(regions, f"region-{i}.parquet"))

    settings = SnapshotSettings(
        source_table=regions, sink_table="snap_pyds", timestamp=T2,
        mysql_schema_history="inline", source_format="changelog",
    )
    try:
        out = run_snapshot(spark, settings, history=schema_history)
        want = {tuple(r) for r in run_snapshot(
            spark, SnapshotSettings(
                source_table="unused", sink_table="snap_plain", timestamp=T2,
                mysql_schema_history="inline"),
            changelog=changelog, history=schema_history).collect()}
        assert {tuple(r) for r in out.collect()} == want
    finally:
        spark.sql("DROP TABLE IF EXISTS snap_pyds")
        spark.sql("DROP TABLE IF EXISTS snap_plain")


def write_regions(path, rows_per_region):
    """Write each list of change-log rows as one region file; returns
    ``{file name: smallest cell_ts}``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([(c, pa.int64() if c == "cell_ts" else pa.string())
                        for c in CHANGELOG_COLUMNS])
    os.makedirs(path, exist_ok=True)
    mins = {}
    for i, rows in enumerate(rows_per_region):
        name = f"region-{i:03d}.parquet"
        pq.write_table(pa.Table.from_pylist(
            [dict(zip(CHANGELOG_COLUMNS, r)) for r in rows], schema),
            os.path.join(path, name))
        mins[name] = min(r[-1] for r in rows)
    return mins


@pytest.fixture
def time_regions(tmp_path):
    """The change log in 5 time-ordered regions of 4 cells; at T1 the
    last two regions start after T and the third is cut by it."""
    rows = sorted(CHANGELOG_ROWS, key=lambda r: r[-1])
    path = str(tmp_path / "time_regions")
    mins = write_regions(path, [rows[i:i + 4] for i in range(0, len(rows), 4)])
    return path, mins


def region_settings(path, sink, ts, **kw):
    kw.setdefault("mysql_schema_history", "inline")
    return SnapshotSettings(source_table=path, sink_table=sink, timestamp=ts,
                            source_format="changelog", **kw)


def test_region_read_prunes_regions_after_t(spark, changelog, schema_history, time_regions):
    """Regions whose smallest cell_ts is after T are left out of the
    native read, and the written table equals the parquet-path run."""
    path, mins = time_regions
    read = {os.path.basename(f) for f in read_regions(spark, path, T1).inputFiles()}
    want = {name for name, lo in mins.items() if lo <= T1}
    assert read == want and len(want) == 3 and len(mins) == 5

    try:
        run_snapshot(spark, region_settings(path, "snap_regions", T1), history=schema_history)
        run_snapshot(spark, SnapshotSettings(
            source_table="unused", sink_table="snap_regions_plain", timestamp=T1,
            mysql_schema_history="inline"), changelog=changelog, history=schema_history)
        got = spark.table("snap_regions")
        plain = spark.table("snap_regions_plain")
        assert got.columns == plain.columns
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, plain.collect()))
        assert got.count() == 2  # r1, r2; r3 is first written after T1
    finally:
        spark.sql("DROP TABLE IF EXISTS snap_regions")
        spark.sql("DROP TABLE IF EXISTS snap_regions_plain")


def test_region_read_all_pruned_writes_empty_table(spark, time_regions):
    """T before every region: nothing is scanned and the job writes an
    empty table with the schema's columns."""
    path, _ = time_regions
    fields = ["d:name", "d:amount:double"]
    settings = region_settings(path, "snap_before", 100, mysql_schema_history=None,
                               hbase_schema=fields)
    try:
        run_snapshot(spark, settings)
        table = spark.table("snap_before")
        assert table.columns == explicit_schema(fields).fieldNames()
        assert table.count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS snap_before")


def test_region_missing_column_is_an_error(spark, schema_history, tmp_path):
    """A region without one of the change-log columns fails the job with
    its file name, instead of reading the column as NULL."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "regions")
    write_regions(path, [CHANGELOG_ROWS[:4]])
    bad = os.path.join(path, "region-001.parquet")
    pq.write_table(pa.table({"row_key": ["r9"], "family": ["d"],
                             "qualifier": ["name"], "cell_ts": [700]}), bad)
    with pytest.raises(ValueError, match=re.escape(bad) + r".*'value'"):
        run_snapshot(spark, region_settings(path, "snap_bad", T2), history=schema_history)
    with pytest.raises(FileNotFoundError):
        read_regions(spark, str(tmp_path / "empty"), T2)


def test_region_read_plan_is_native_parquet(spark, schema_history, time_regions):
    """The job's plan scans the regions with Spark's Parquet reader, the
    time range pushed into it, and has no Python node."""
    path, _ = time_regions
    try:
        out = run_snapshot(spark, region_settings(path, "snap_plan", T1),
                           history=schema_history)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.sql("DROP TABLE IF EXISTS snap_plan")
    assert "FileScan parquet" in plan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)", plan)  # may be cut with "..."
    assert any("cell_ts" in p for p in pushed), plan
    for node in ("BatchScan", "Python", "ArrowEval", "Pandas"):
        assert node not in plan, node


def test_run_snapshot_strict_decodes_date_column(spark):
    """type_mode='strict' maps a MySQL date column to DateType, and the
    job decodes it (the lenient date decode builds and runs)."""
    doc = {"t": {"columnIndexToNameMap": {"0": "day"},
                 "columnsSchema": {"day": {"columnType": "date"}}}}
    history = spark.createDataFrame(
        [("initial-snapshot", 100, json.dumps(doc))],
        "change_key string, cell_ts long, schema_json string")
    log = spark.createDataFrame(
        [("r1", "d", "row_status", "I", 500), ("r1", "d", "day", "2020-01-02", 500),
         ("r2", "d", "row_status", "I", 600), ("r2", "d", "day", "NULL", 600),
         ("r3", "d", "row_status", "I", 700), ("r3", "d", "day", "bad", 700)],
        "row_key string, family string, qualifier string, value string, cell_ts long")
    settings = SnapshotSettings(source_table="unused", sink_table="snap_strict_date",
                                timestamp=T2, mysql_schema_history="inline",
                                type_mode="strict")
    try:
        run_snapshot(spark, settings, changelog=log, history=history)
        table = spark.table("snap_strict_date")
        assert dict(table.dtypes)["day"] == "date"
        assert {r[KEY_COLUMN]: r["day"] for r in table.collect()} == \
            {"r1": datetime.date(2020, 1, 2), "r2": None, "r3": None}
    finally:
        spark.sql("DROP TABLE IF EXISTS snap_strict_date")


def test_config_rejects_unknown_source_format():
    import pytest as _pytest

    from hbase_snapshotter_spark.config import ConfigError

    with _pytest.raises(ConfigError, match="source_format"):
        SnapshotSettings(source_table="x", sink_table="y",
                         hbase_schema=["d:a:string"], source_format="kafka")

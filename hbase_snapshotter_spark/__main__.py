"""CLI launcher — parity with ``bin/hbase-snapshotter <config.json>``
(the reference's spark-submit wrapper, ``bin/hbase-snapshotter:34``).

    python -m hbase_snapshotter_spark conf/application.json

Reads the same config layout as the reference's examples
(``conf/application-{mysql,hbase}-example.json``), with table fields
interpreted as Parquet paths (or catalog table names for the sink).
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession

from hbase_snapshotter_spark.config import SnapshotSettings
from hbase_snapshotter_spark.pipeline import run_snapshot


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print("usage: python -m hbase_snapshotter_spark <config.json>", file=sys.stderr)
        return 2
    settings = SnapshotSettings.from_json(argv[0])
    spark = (
        SparkSession.builder.appName("hbase-snapshotter-spark")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    run_snapshot(spark, settings)
    # count the written table: the returned plan would re-run the whole job
    rows = spark.table(settings.sink_table).count()
    print(f"snapshot written to {settings.sink_table}: {rows} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

from hbase_snapshotter_spark.sources.changelog import (  # noqa: F401
    events_as_changelog,
    read_table,
)
from hbase_snapshotter_spark.sources.warehouse import write_snapshot  # noqa: F401

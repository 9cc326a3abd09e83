"""Snapshot-job configuration: load, validate, dispatch.

Rebuilds ``Settings.scala:8-56`` + the two config shapes in
``src/main/resources/reference.conf:1-17`` as a plain dataclass.  The
reference dispatches between a ``MySQLSchema`` and an ``HBaseSchema``
strategy based on which keys are present (``Settings.scala:16-46``); here
the strategy is the :meth:`SnapshotSettings.resolve_schema` closure.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from hbase_snapshotter_spark.plans.schema import explicit_schema, schema_as_of


class ConfigError(ValueError):
    pass


@dataclass
class SnapshotSettings:
    """Validated settings for one snapshot run.

    Exactly one of ``mysql_schema_history`` (as-of reconstruction,
    shape 1 of ``reference.conf``) or ``hbase_schema`` (explicit
    ``family:qualifier:type`` list, shape 2) must be set.
    """

    source_table: str                      # change-log input (hbase.table in the reference)
    sink_table: str                        # warehouse output (hive.table)
    timestamp: int = -1                    # snapshot boundary; -1 = "now" (Settings.scala:51)
    mysql_schema_history: str | None = None  # schema-history table (mysql.table path)
    hbase_schema: list[str] = field(default_factory=list)
    type_mode: str = "compat"              # 'compat' | 'strict' (see functions.mysql_types)

    def __post_init__(self) -> None:
        if bool(self.mysql_schema_history) == bool(self.hbase_schema):
            raise ConfigError(
                "exactly one of mysql_schema_history / hbase_schema is required"
            )
        if self.type_mode not in ("compat", "strict"):
            raise ConfigError(f"unknown type_mode {self.type_mode!r}")

    @classmethod
    def from_json(cls, path_or_str: str | Path) -> "SnapshotSettings":
        """Load from a JSON config file, or from literal JSON: a string
        whose first non-blank character is ``{``.

        Accepts the reference's config layout
        (``conf/application-{mysql,hbase}-example.json``)::

            {"hbase": {"zookeeper_quorum": ..., "table": ..., "timestamp": N,
                       "schema": [...]},
             "mysql": {"table": ...},
             "hive":  {"table": ...}}

        ``hbase.zookeeper_quorum`` and ``hbase.format`` are ignored: the
        change log is always read as region files (``read_regions``).
        """
        literal = isinstance(path_or_str, str) and path_or_str.lstrip().startswith("{")
        doc = json.loads(path_or_str if literal else Path(path_or_str).read_text())
        hbase = doc.get("hbase", {})
        if "table" not in hbase or "table" not in doc.get("hive", {}):
            raise ConfigError("config requires hbase.table and hive.table")
        return cls(
            source_table=hbase["table"],
            sink_table=doc["hive"]["table"],
            timestamp=int(hbase.get("timestamp", -1)),
            mysql_schema_history=doc.get("mysql", {}).get("table"),
            hbase_schema=list(hbase.get("schema", [])),
            type_mode=doc.get("type_mode", "compat"),
        )

    def resolve_schema(self, history: DataFrame | None = None) -> StructType:
        """Strategy dispatch (Settings.scala:16-46): explicit list → parse
        on the driver; schema-history → as-of lookup job."""
        if self.hbase_schema:
            return explicit_schema(self.hbase_schema)
        if history is None:
            raise ConfigError("mysql_schema_history mode needs the history DataFrame")
        return schema_as_of(history, self.timestamp, mode=self.type_mode)

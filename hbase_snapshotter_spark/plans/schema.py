"""Snapshot schema strategies.

Rebuilds the reference's two schema providers (``Schema.scala``):

- :func:`explicit_schema` — explicit ``"family:qualifier:type"`` config
  entries (``HBaseSchema``, ``Schema.scala:34-61``).
- :func:`transform_schema` + :func:`schema_as_of` — schema reconstructed
  *as of the snapshot timestamp* from a schema-history change log
  (``MySQLSchema``, ``Schema.scala:64-218``).

The central IR is the same as the reference's: a ``StructType`` whose
fields carry their KV-cell binding in ``StructField.metadata`` — keys
``family``/``qualifier`` for data columns, ``key``/``status`` markers for
the two synthetic columns (``Schema.scala:45,50,132,143-147``).

Where the reference needed two HBase scan jobs with server-side filters
to find the latest schema row ≤ ts (``Schema.scala:180-215``), the Spark
rebuild is one Catalyst-planned job: ``filter(cell_ts <= ts) → orderBy →
limit(1)`` (planned as ``TakeOrderedAndProject`` — no full sort), then a
single driver-side JSON parse.  The "scan everything to find one row"
shape is exactly what a 1000-executor cluster does well when the filter
and projection push down to the Parquet scan.
"""

from __future__ import annotations

import json
import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StringType, StructField, StructType

from hbase_snapshotter_spark.functions.mysql_types import mysql_to_spark_type

logger = logging.getLogger(__name__)

#: Synthetic leading column carrying the change-log row key; "meant to be
#: used for deduplicating rows in delta imports (group by k_hbase_row_key
#: and select the latest)" (Schema.scala:123-133).
KEY_COLUMN = "k_hbase_row_key"

#: Synthetic column exposing the replicator cell ``d:row_status``
#: ("whether the row is the result of a deletion/update/…",
#: Schema.scala:135-147).
STATUS_COLUMN = "k_replicator_row_status"

#: Replicator tables store every column under family "d" (Schema.scala:152).
DEFAULT_FAMILY = "d"

#: Schema-history rows are keyed by epoch-millis strings except the first,
#: which is literally this (ordering edge case, Schema.scala:165-175).
INITIAL_SNAPSHOT_KEY = "initial-snapshot"


def _type_from_name(name: str) -> DataType:
    """Spark DataType from its JSON/DDL name ("integer", "double",
    "decimal(10,2)", …) — pure Python, no live SparkContext needed
    (schema resolution runs on the driver before any job).  Mirrors the
    reference's ``DataType.fromJson`` usage (``Schema.scala:37``)."""
    import re

    from pyspark.sql import types as T

    simple = {
        "string": T.StringType(), "integer": T.IntegerType(), "int": T.IntegerType(),
        "long": T.LongType(), "bigint": T.LongType(), "short": T.ShortType(),
        "byte": T.ByteType(), "double": T.DoubleType(), "float": T.FloatType(),
        "boolean": T.BooleanType(), "timestamp": T.TimestampType(),
        "timestamp_ntz": T.TimestampNTZType(), "date": T.DateType(),
        "binary": T.BinaryType(),
    }
    key = name.strip().lower()
    if key in simple:
        return simple[key]
    m = re.fullmatch(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", key)
    if m:
        from pyspark.sql.types import DecimalType

        return DecimalType(int(m.group(1)), int(m.group(2)))
    raise ValueError(f"unknown Spark type name {name!r}")


def _synthetic_fields() -> list[StructField]:
    return [
        StructField(KEY_COLUMN, StringType(), nullable=False, metadata={"key": True}),
        StructField(
            STATUS_COLUMN,
            StringType(),
            nullable=False,
            metadata={"status": True, "family": DEFAULT_FAMILY, "qualifier": "row_status"},
        ),
    ]


def explicit_schema(fields: list[str]) -> StructType:
    """Explicit schema from ``"family:qualifier:type"`` strings.

    ``type`` is a Spark DataType JSON name (``integer``/``string``/…,
    parsed via ``DataType.fromJson`` in the reference, ``Schema.scala:37``).
    A 2-part entry defaults to string with a warning (``Schema.scala:48-52``).
    """
    out: list[StructField] = [_synthetic_fields()[0]]  # key column only, like Schema.scala:58
    for entry in fields:
        parts = entry.split(":")
        if len(parts) == 3:
            family, qualifier, type_name = parts
            dtype = _type_from_name(type_name)
        elif len(parts) == 2:
            family, qualifier = parts
            dtype = StringType()
            logger.warning("schema entry %r has no type; defaulting to string", entry)
        else:
            raise ValueError(f"malformed schema entry {entry!r}; want family:qualifier[:type]")
        out.append(
            StructField(qualifier, dtype, nullable=True,
                        metadata={"family": family, "qualifier": qualifier})
        )
    return StructType(out)


def transform_schema(schema_json: str, *, mode: str = "compat") -> StructType:
    """Replicator schema-dump JSON → snapshot ``StructType``.

    Input shape (``Schema.scala:88-92``)::

        {"<table>": {"columnIndexToNameMap": {"0": "col_a", ...},
                     "columnsSchema": {"col_a": {"columnType": "int(10)"}, ...}}}

    Fields are emitted in original MySQL column-index order
    (``Schema.scala:112-121``) with the two synthetic columns prepended
    (``Schema.scala:128-150``).
    """
    doc = json.loads(schema_json)
    if len(doc) != 1:
        raise ValueError(f"schema dump must contain exactly one table, got {list(doc)}")
    (table_doc,) = doc.values()
    index_to_name = table_doc["columnIndexToNameMap"]
    columns_schema = table_doc["columnsSchema"]

    fields = list(_synthetic_fields())
    for idx in sorted(index_to_name, key=int):
        name = index_to_name[idx]
        ddl = columns_schema[name]["columnType"]
        fields.append(
            StructField(
                name,
                mysql_to_spark_type(ddl, mode=mode),
                nullable=True,
                metadata={"family": DEFAULT_FAMILY, "qualifier": name,
                          "mysql_type": ddl, "column_index": int(idx)},
            )
        )
    return StructType(fields)


def history_order_key():
    """Column expression ordering schema-history ``change_key`` values:
    the literal ``"initial-snapshot"`` sorts as 0, every other key as its
    numeric value (``Schema.scala:169-175``)."""
    c = F.col("change_key")
    return F.when(c == INITIAL_SNAPSHOT_KEY, F.lit(0)).otherwise(c.cast("long"))


def schema_as_of(history: DataFrame, ts: int | None, *, mode: str = "compat") -> StructType:
    """Latest schema version at-or-before ``ts`` → ``StructType``.

    ``history`` is the schema-history log ``(change_key, cell_ts,
    schema_json)``.  One job replacing the reference's two-scan dance
    (``Schema.scala:180-215``): time-range filter (Parquet-pushed) →
    ``TakeOrderedAndProject`` top-1 under :func:`history_order_key` →
    single-row driver collect.  ``ts`` < 0 or ``None`` means "now"
    (``Schema.scala:181``).
    """
    return transform_schema(schema_json_as_of(history, ts), mode=mode)


def schema_json_as_of(history: DataFrame, ts: int | None) -> str:
    """The raw schema-dump JSON at-or-before ``ts`` — the
    :func:`schema_as_of` lookup without the StructType transform
    (shared by the as-of and diff lanes)."""
    df = history
    if ts is not None and ts >= 0:
        df = df.filter(F.col("cell_ts") <= F.lit(ts))
    rows = (
        df.select(F.col("schema_json"), history_order_key().alias("__k"))
        .orderBy(F.desc("__k"))
        .limit(1)
        .collect()
    )
    if not rows:
        raise LookupError(f"no schema version at or before ts={ts}")
    return rows[0]["schema_json"]


def schema_diff(history: DataFrame, ts_from: int | None, ts_to: int | None) -> DataFrame:
    """Schema EVOLUTION diff (N46): what changed between the schema
    as-of ``ts_from`` and as-of ``ts_to`` — one row per column seen in
    either version: ``(col_name, change, old_type, new_type,
    old_index, new_index)``, ``change`` ∈ added / dropped / retyped /
    moved / unchanged (classification priority in that order; a column
    both retyped and moved reports ``retyped`` — the type change is
    what breaks readers).

    The reference reconstructs ONE point-in-time schema
    (``Schema.scala:162-218``); operating a change-captured warehouse
    also needs the delta between two points — which ALTERs happened in
    a window, which snapshot columns will appear/disappear across a
    re-snapshot boundary.  Like schema-as-of this is metadata-sized
    driver work by design: two TakeOrdered one-row lookups, a
    dict diff, and a ``createDataFrame`` of column-count rows —
    never a data-path job."""
    def cols(dump: str) -> dict[str, tuple[int, str]]:
        doc = json.loads(dump)
        (table_doc,) = doc.values()
        idx_map = table_doc["columnIndexToNameMap"]
        types = table_doc["columnsSchema"]
        return {name: (int(idx), types[name]["columnType"])
                for idx, name in idx_map.items()}

    a = cols(schema_json_as_of(history, ts_from))
    b = cols(schema_json_as_of(history, ts_to))
    rows = []
    for name in sorted(set(a) | set(b)):
        old = a.get(name)
        new = b.get(name)
        if old is None:
            change = "added"
        elif new is None:
            change = "dropped"
        elif old[1] != new[1]:
            change = "retyped"
        elif old[0] != new[0]:
            change = "moved"
        else:
            change = "unchanged"
        rows.append((name, change,
                     old[1] if old else None, new[1] if new else None,
                     old[0] if old else None, new[0] if new else None))
    return history.sparkSession.createDataFrame(
        rows,
        "col_name string, change string, old_type string, "
        "new_type string, old_index int, new_index int")

"""Cross-engine comparison helpers shared by tools/oracle_check.py and
the pytest suite: normalize values (float fuzz → 6 dp, timestamps →
ISO), sort columns by name and rows lexicographically, fingerprint.
Also :func:`resolve`, the query lookup the bench and the tools share,
and :func:`session`, the Spark session they time queries in."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

DUCKDB_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, decimal.Decimal):
        return norm_cell(float(v))
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def norm_lines(cols: list[str], rows: list[tuple]) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)


def fingerprint(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for line in norm_lines(cols, rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def register_duckdb_views(con, sf_dir: str) -> None:
    con.execute("SET TimeZone='UTC'")
    for t in DUCKDB_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


def duck_type_to_spark(t: str) -> str:
    """Normalize a DuckDB column type to Spark dtype vocabulary."""
    t = str(t).upper()
    if t.startswith("DECIMAL"):
        return t.lower()
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    return {
        "BIGINT": "bigint", "INTEGER": "int", "SMALLINT": "smallint",
        "TINYINT": "tinyint", "HUGEINT": "hugeint", "DOUBLE": "double",
        "FLOAT": "float", "VARCHAR": "string", "BOOLEAN": "boolean",
        "DATE": "date", "BLOB": "binary",
    }.get(t, t.lower())


def compare_types(spark_dtypes, duck_names, duck_types) -> list[str]:
    """Cross-engine dtype mismatches (after name alignment); Spark
    timestamp_ntz vs timestamp is tolerated (session-TZ artifact)."""
    sp = dict(spark_dtypes)
    issues = []
    for name, dt in zip(duck_names, duck_types):
        s = sp.get(name)
        if s is None:
            continue
        d = duck_type_to_spark(dt)
        if s.replace("_ntz", "") != d.replace("_ntz", ""):
            issues.append(f"{name}: spark={s} duckdb={d}")
    return issues


def compare(scols, srows, ocols, orows) -> tuple[bool, str]:
    if sorted(scols) != sorted(ocols):
        return False, f"columns differ: {sorted(scols)} vs {sorted(ocols)}"
    if len(srows) != len(orows):
        return False, f"row counts differ: {len(srows)} vs {len(orows)}"
    ls, lo = norm_lines(scols, srows), norm_lines(ocols, orows)
    if ls != lo:
        diffs = [(a, b) for a, b in zip(ls, lo) if a != b]
        a, b = diffs[0]
        return False, f"{len(diffs)} differing rows; first: spark={a[:160]} oracle={b[:160]}"
    return True, "ok"


def resolve(name: str):
    """The query function named ``name``: its registry entry, else the
    lane function of that name in ``queries.llm``/``streaming_q``/
    ``relational`` (lanes folded into union suites keep their module
    function but lose their registry key, and the bench still times
    them).  Raises ``KeyError`` when neither exists."""
    from hbase_snapshotter_spark.queries import llm, relational, streaming_q
    from hbase_snapshotter_spark.queries.registry import QUERIES

    if name in QUERIES:
        return QUERIES[name]
    for mod in (llm, streaming_q, relational):
        fn = getattr(mod, name, None)
        if callable(fn):
            return fn
    raise KeyError(name)


def session(app_name: str):
    """The bench's Spark session: ``local[$SPARK_GRAFT_CPUS]`` (default
    32) with 2× that many shuffle partitions, AQE with partition
    coalescing, UTC, ``$SPARK_GRAFT_DRIVER_MEM`` (default 16g) of driver
    memory, no UI, the registry's ``SESSION_DEFAULTS`` (callers run
    unwrapped query functions) and ERROR-level logging."""
    from pyspark.sql import SparkSession

    from hbase_snapshotter_spark.queries.registry import SESSION_DEFAULTS

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in SESSION_DEFAULTS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark

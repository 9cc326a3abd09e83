"""DuckDB oracle: the as-of snapshot computed independently of the package.

The expected table is built once per run from the generated files; each
op's written table is then compared to it with a symmetric ``EXCEPT ALL``.
The MySQL -> column-type mapping below is written out separately from the
package's parser, in the reference's ``compat`` mode (the mode the
workloads run).
"""

from __future__ import annotations

import glob
import json
import os
import re

KEY_COLUMN = "k_hbase_row_key"
STATUS_COLUMN = "k_replicator_row_status"
FAMILY = "d"
STATUS_QUALIFIER = "row_status"


def compat_type(ddl: str) -> str:
    """MySQL column DDL -> DuckDB type of the snapshot column (compat mode:
    integers keep width, unsigned widens, the other numerics are DOUBLE,
    TIMESTAMP is a timestamp and everything else, DATE included, text)."""
    name = re.match(r"\s*([a-zA-Z]+)", ddl).group(1).upper()
    if name in ("TINYINT", "SMALLINT", "MEDIUMINT", "INT", "INTEGER"):
        return "BIGINT" if "UNSIGNED" in ddl.upper() else "INTEGER"
    if name == "TIMESTAMP":
        return "TIMESTAMP"
    if name in ("BIGINT", "NUMERIC", "DECIMAL", "FLOAT", "DOUBLE", "REAL"):
        return "DOUBLE"
    return "VARCHAR"


def _quote(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _lit(value: str) -> str:
    return "'" + value.replace("'", "''") + "'"


def _decode(raw: str, dtype: str) -> str:
    value = f"CASE WHEN upper({raw}) = 'NULL' THEN NULL ELSE {raw} END"
    if dtype == "TIMESTAMP":
        return f"epoch_ms(TRY_CAST({value} AS BIGINT))"
    if dtype == "VARCHAR":
        return value
    return f"TRY_CAST({value} AS {dtype})"


class Oracle:
    """Expected snapshot of one generated input, and the per-op check."""

    def __init__(self, manifest: dict, temp_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        self.con.execute(f"SET temp_directory={_lit(temp_dir)}")
        ts = int(manifest["timestamp"])
        (doc,) = self.con.execute(
            "SELECT schema_json FROM read_parquet(?) WHERE cell_ts <= ? "
            "ORDER BY CASE WHEN change_key = 'initial-snapshot' THEN 0 "
            "ELSE CAST(change_key AS BIGINT) END DESC LIMIT 1",
            [manifest["history"], ts]).fetchone()
        (table,) = json.loads(doc).values()
        index = table["columnIndexToNameMap"]
        names = [index[i] for i in sorted(index, key=int)]
        types = {n: compat_type(table["columnsSchema"][n]["columnType"]) for n in names}
        self.columns = [KEY_COLUMN, STATUS_COLUMN] + names
        quals = [STATUS_QUALIFIER] + names
        pivot = ", ".join(
            f"max(value) FILTER (WHERE qualifier = {_lit(q)}) AS {_quote('q_' + q)}"
            for q in quals)
        decoded = ", ".join(
            f"{_decode(_quote('q_' + n), types[n])} AS {_quote(n)}" for n in names)
        files = os.path.join(manifest["source"], "*.parquet")
        self.con.execute(f"""
            CREATE TABLE cells AS
            SELECT row_key, qualifier, value, cell_ts FROM read_parquet({_lit(files)})
            WHERE cell_ts <= {ts} AND family = {_lit(FAMILY)}
              AND qualifier IN ({", ".join(_lit(q) for q in quals)})""")
        self.con.execute(f"""
            CREATE TABLE expected AS
            WITH latest AS (
              SELECT row_key, qualifier, value FROM cells
              QUALIFY row_number() OVER (PARTITION BY row_key, qualifier
                                         ORDER BY cell_ts DESC, value DESC) = 1),
            wide AS (SELECT row_key, {pivot} FROM latest GROUP BY row_key)
            SELECT row_key AS {KEY_COLUMN}, {_quote('q_' + STATUS_QUALIFIER)}
                   AS {STATUS_COLUMN}, {decoded}
            FROM wide""")
        self.cells_in = self.con.execute("SELECT count(*) FROM cells").fetchone()[0]
        self.latest_cells = self.con.execute(
            "SELECT count(*) FROM (SELECT DISTINCT row_key, qualifier FROM cells)").fetchone()[0]
        self.rows = self.con.execute("SELECT count(*) FROM expected").fetchone()[0]

    def check(self, table_dir: str) -> str | None:
        """None if the parquet table under ``table_dir`` equals the expected
        snapshot (same columns in order, same multiset of rows), else the
        reason it does not."""
        files = sorted(glob.glob(os.path.join(table_dir, "*.parquet")))
        if not files:
            return f"no parquet files under {table_dir}"
        actual = f"read_parquet({_lit(os.path.join(table_dir, '*.parquet'))})"
        got = [r[0] for r in self.con.execute(f"DESCRIBE SELECT * FROM {actual}").fetchall()]
        if got != self.columns:
            return f"columns {got} != expected {self.columns}"
        cols = ", ".join(_quote(c) for c in self.columns)
        (diff,) = self.con.execute(f"""
            SELECT count(*) FROM (
              (SELECT {cols} FROM {actual} EXCEPT ALL SELECT {cols} FROM expected)
              UNION ALL
              (SELECT {cols} FROM expected EXCEPT ALL SELECT {cols} FROM {actual}))
            """).fetchone()
        if diff:
            return f"{diff} rows differ from the DuckDB as-of snapshot"
        return None

    def close(self) -> None:
        self.con.close()

"""Seeded input generator for the snapshot workloads (numpy + pyarrow, no Spark).

Each workload's inputs are a change log in the shape the snapshot job reads
(``row_key, family, qualifier, value, cell_ts``), a MySQL schema-history
table (``change_key, cell_ts, schema_json``) and a JSON config for
``SnapshotSettings.from_json``.  The same seed gives byte-identical files;
finished inputs are cached per (workload, seed) under the cache root.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: Bumped whenever the generated data changes, so stale caches are ignored.
GEN_VERSION = 2

#: Cached inputs kept per workload; older seeds are deleted.
CACHE_KEEP = 6

FAMILY = "d"
STATUS_QUALIFIER = "row_status"
NULL_SHARE = 0.05
T0_MS = 1_600_000_000_000  # 2020-09-13, start of the change log
DAY_MS = 86_400_000

#: MySQL column DDL per generated value kind.
DDL = {
    "int": "int(11)",
    "uint": "int(10) unsigned",
    "tinyint": "tinyint(4)",
    "bigint": "bigint(20)",
    "decimal": "decimal(12,2)",
    "double": "double",
    "varchar": "varchar(64)",
    "date": "date",
    "timestamp": "timestamp",
}

_WORDS = pa.array([f"w{i:04d}{chr(97 + i % 26)}" for i in range(2048)])

# snapshot_history: 14 qualifiers over four schema revisions.  Revision 3
# (the one in force at T) drops c03 and retypes c05 int -> varchar;
# revision 4, after T, adds c14 and retypes c07 timestamp -> varchar.  A
# wrong as-of pick therefore changes the output's columns or values.
HISTORY_KINDS = {
    "c01": "int", "c02": "varchar", "c03": "double", "c04": "decimal",
    "c05": "int", "c06": "date", "c07": "timestamp", "c08": "uint",
    "c09": "bigint", "c10": "varchar", "c11": "tinyint", "c12": "double",
    "c13": "varchar", "c14": "int",
}
_R1 = [f"c{i:02d}" for i in range(1, 12)]
_R2 = _R1 + ["c12", "c13"]
_R3 = [c for c in _R2 if c != "c03"]
_R4 = _R3 + ["c14"]
#: (share of the time span where the revision starts, columns, retypes)
HISTORY_REVISIONS = [
    (0.00, _R1, {}),
    (0.30, _R2, {}),
    (0.60, _R3, {"c05": "varchar"}),
    (0.90, _R4, {"c05": "varchar", "c07": "varchar"}),
]
HISTORY_AS_OF = 0.74  # region 11 of 16 is cut by T; regions 12-15 are pruned

INITIAL_KIND_CYCLE = ["int", "uint", "decimal", "double", "varchar", "date",
                      "timestamp", "bigint"]


def _values(rng: np.random.Generator, kind: str, n: int) -> pa.Array:
    """``n`` cell values of one MySQL kind, stringified as the replicator
    stores them, with ~5 % ``"NULL"`` sentinels."""
    if kind == "int":
        v = pc.cast(pa.array(rng.integers(-2_000_000_000, 2_000_000_000, n)), pa.string())
    elif kind == "uint":
        v = pc.cast(pa.array(rng.integers(0, 4_000_000_000, n)), pa.string())
    elif kind == "tinyint":
        v = pc.cast(pa.array(rng.integers(-128, 128, n)), pa.string())
    elif kind == "bigint":
        v = pc.cast(pa.array(rng.integers(-(2 ** 52), 2 ** 52, n)), pa.string())
    elif kind == "decimal":
        cents = rng.integers(0, 10 ** 11, n)
        frac = pc.utf8_lpad(pc.cast(pa.array(cents % 100), pa.string()), 2, "0")
        v = pc.binary_join_element_wise(
            pc.cast(pa.array(cents // 100), pa.string()), frac, ".")
    elif kind == "double":
        v = pc.cast(pa.array(np.round(rng.normal(0, 1e4, n), 4)), pa.string())
    elif kind == "varchar":
        v = _WORDS.take(pa.array(rng.integers(0, len(_WORDS), n)))
    elif kind == "date":
        days = pa.array(rng.integers(0, 20_000, n).astype(np.int32)).cast(pa.date32())
        v = pc.cast(days, pa.string())
    elif kind == "timestamp":
        v = pc.cast(pa.array(T0_MS + rng.integers(-10 ** 11, 10 ** 11, n)), pa.string())
    else:
        raise ValueError(f"unknown kind {kind!r}")
    return pc.if_else(pa.array(rng.random(n) < NULL_SHARE), pa.scalar("NULL"), v)


def _row_keys(ids: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(
        "r", pc.utf8_lpad(pc.cast(pa.array(ids), pa.string()), 8, "0"), "")


def _schema_json(table: str, columns: list[str], kinds: dict[str, str]) -> str:
    return json.dumps({table: {
        "columnIndexToNameMap": {str(i): c for i, c in enumerate(columns)},
        "columnsSchema": {c: {"columnType": DDL[kinds[c]]} for c in columns},
    }}, sort_keys=True)


def _write_history(path: str, table: str, revisions: list[tuple[int, list[str], dict]]) -> None:
    keys, ts, docs = [], [], []
    for i, (rev_ts, cols, kinds) in enumerate(revisions):
        keys.append("initial-snapshot" if i == 0 else str(rev_ts))
        ts.append(rev_ts)
        docs.append(_schema_json(table, cols, kinds))
    pq.write_table(pa.table({"change_key": pa.array(keys),
                             "cell_ts": pa.array(ts, pa.int64()),
                             "schema_json": pa.array(docs)}), path)


def _cells_table(keys: pa.Array, quals: pa.Array, values: pa.Array,
                 ts: np.ndarray) -> pa.Table:
    return pa.table({
        "row_key": keys,
        "family": pa.array(np.full(len(keys), FAMILY)),
        "qualifier": quals,
        "value": values,
        "cell_ts": pa.array(ts, pa.int64()),
    })


def gen_snapshot_history(out: str, seed: int, *, keys: int = 5_000,
                         updates: int = 140_000, regions: int = 16) -> dict:
    """Deep CDC history: one insert per key (every column of the schema in
    force) plus Zipf-skewed updates of 1-3 columns, in time-ordered region
    files.  Returns the run parameters (``T``, file paths, counts)."""
    rng = np.random.default_rng([seed, 1])
    span = 90 * DAY_MS
    # event times: inserts spread over 90 % of the span, updates over all
    n_ev = keys + updates
    ins_key = rng.permutation(keys)
    rank = np.arange(1, keys + 1, dtype=np.float64)
    cdf = np.cumsum(rank ** -1.1)
    hot = rng.permutation(keys)  # hot ranks land on scattered keys
    upd_key = hot[np.searchsorted(cdf / cdf[-1], rng.random(updates))]
    ev_key = np.concatenate([ins_key, upd_key])
    ev_frac = np.concatenate([rng.random(keys) * 0.9, rng.random(updates)])
    order = np.argsort(ev_frac, kind="stable")
    step = span // n_ev
    ev_ts = np.empty(n_ev, dtype=np.int64)
    ev_ts[order] = T0_MS + np.arange(n_ev, dtype=np.int64) * step \
        + rng.integers(0, step, n_ev)  # strictly increasing, unique per event
    is_insert = np.arange(n_ev) < keys
    n_cols = np.where(is_insert, 0, rng.integers(1, 4, n_ev))

    rev_ts = [T0_MS + int(start * span) for start, _, _ in HISTORY_REVISIONS]
    era = np.searchsorted(np.array(rev_ts), ev_ts, side="right") - 1
    all_q = list(HISTORY_KINDS) + [STATUS_QUALIFIER]
    kinds = sorted(set(HISTORY_KINDS.values()) | {"status"})  # retypes are to varchar
    # kind of each (era, qualifier): the retypes change it between eras
    kind_of = np.array([[kinds.index(retype.get(q, HISTORY_KINDS.get(q, "status")))
                         for q in all_q] for _, _, retype in HISTORY_REVISIONS])
    cell_ev, cell_q = [np.arange(n_ev)], [np.full(n_ev, len(all_q) - 1)]
    for e, (_, cols, _) in enumerate(HISTORY_REVISIONS):
        col_idx = np.array([all_q.index(c) for c in cols])
        in_era = np.nonzero(era == e)[0]
        ins = in_era[is_insert[in_era]]
        upd = in_era[~is_insert[in_era]]
        rep = np.repeat(upd, n_cols[upd])
        cell_ev += [np.repeat(ins, len(cols)), rep]
        cell_q += [np.tile(col_idx, len(ins)), col_idx[rng.integers(0, len(cols), len(rep))]]
    cell_ev, cell_q = np.concatenate(cell_ev), np.concatenate(cell_q)
    # an update may draw the same column twice; keep one cell per (event, column)
    _, first = np.unique(cell_ev * len(all_q) + cell_q, return_index=True)
    cell_ev, cell_q = cell_ev[first], cell_q[first]
    kind = kind_of[era[cell_ev], cell_q]

    chunks, pos = [], []
    for k in np.unique(kind):
        m = np.nonzero(kind == k)[0]
        if kinds[k] == "status":  # I for inserts, U (or 2 % D) for updates
            chunks.append(pa.array(np.where(is_insert[cell_ev[m]], "I", np.where(
                rng.random(len(m)) < 0.02, "D", "U"))))
        else:
            chunks.append(_values(rng, kinds[k], len(m)))
        pos.append(m)
    to_value = np.argsort(np.concatenate(pos))  # cell index -> value position

    ts = ev_ts[cell_ev]
    by_ts = np.argsort(ts, kind="stable")
    tbl = _cells_table(_row_keys(ev_key[cell_ev][by_ts]),
                       pa.array(all_q).take(pa.array(cell_q[by_ts])),
                       pa.concat_arrays(chunks).take(pa.array(to_value[by_ts])),
                       ts[by_ts])
    log_dir = os.path.join(out, "changelog")
    os.makedirs(log_dir)
    bounds = np.linspace(0, tbl.num_rows, regions + 1).astype(int)
    for r in range(regions):
        pq.write_table(tbl.slice(bounds[r], bounds[r + 1] - bounds[r]),
                       os.path.join(log_dir, f"region-{r:03d}.parquet"))
    history = os.path.join(out, "schema_history.parquet")
    _write_history(history, "orders", [
        (rev_ts[i] if i else 0, cols,
         {c: retype.get(c, HISTORY_KINDS[c]) for c in cols})
        for i, (_, cols, retype) in enumerate(HISTORY_REVISIONS)])
    as_of = T0_MS + int(HISTORY_AS_OF * span)
    return {"source": log_dir, "format": "changelog", "history": history,
            "timestamp": as_of, "cells": tbl.num_rows, "regions": regions}


def gen_snapshot_initial_load(out: str, seed: int, *, rows: int = 16_000,
                              columns: int = 24, files: int = 8) -> dict:
    """First import of a wide MySQL table: one version of every cell, rows
    imported in key order, split into ``files`` parquet files by key range."""
    rng = np.random.default_rng([seed, 2])
    cols = [f"col{i:02d}" for i in range(1, columns + 1)]
    kinds = {c: INITIAL_KIND_CYCLE[i % len(INITIAL_KIND_CYCLE)] for i, c in enumerate(cols)}
    quals = cols + [STATUS_QUALIFIER]
    n = rows * len(quals)
    row = np.repeat(np.arange(rows), len(quals))
    chunks = [pa.array(np.full(rows, "I")) if q == STATUS_QUALIFIER else
              _values(rng, kinds[q], rows) for q in quals]
    # column-major chunks -> row-major cells (row i, qualifier j at i*Q + j)
    to_value = (np.arange(n) % len(quals)) * rows + row
    ts = T0_MS + row.astype(np.int64) * 3 + rng.integers(0, 3, n)
    tbl = _cells_table(_row_keys(rng.permutation(rows)[row]),
                       pa.array(quals).take(pa.array(np.arange(n) % len(quals))),
                       pa.concat_arrays(chunks).take(pa.array(to_value)), ts)
    log_dir = os.path.join(out, "changelog")
    os.makedirs(log_dir)
    bounds = np.linspace(0, rows, files + 1).astype(int) * len(quals)
    for f in range(files):
        pq.write_table(tbl.slice(bounds[f], bounds[f + 1] - bounds[f]),
                       os.path.join(log_dir, f"part-{f:03d}.parquet"))
    # revision 2 (after T) adds a column; the import ran under revision 1
    import_end = int(ts.max())
    history = os.path.join(out, "schema_history.parquet")
    extra = cols + ["col25"]
    _write_history(history, "customers", [
        (0, cols, kinds),
        (import_end + DAY_MS, extra, {**kinds, "col25": "int"}),
    ])
    return {"source": log_dir, "format": "parquet", "history": history,
            "timestamp": import_end + 60_000, "cells": tbl.num_rows, "regions": files}


GENERATORS = {
    "snapshot_history": gen_snapshot_history,
    "snapshot_initial_load": gen_snapshot_initial_load,
}


def inputs(cache_root: str, workload: str, seed: int) -> dict:
    """Generate (or reuse) the inputs of ``workload`` for ``seed``; returns
    the manifest, whose ``config`` is the path of the job's JSON config."""
    name = f"{workload}-s{seed}-v{GEN_VERSION}"
    final = os.path.join(cache_root, name)
    manifest_path = os.path.join(final, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            return json.load(fh)
    os.makedirs(cache_root, exist_ok=True)
    tmp = os.path.join(cache_root, f".tmp-{name}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = GENERATORS[workload](tmp, seed)
    # paths inside the manifest point at the final location
    meta = {k: (v.replace(tmp, final) if isinstance(v, str) else v)
            for k, v in meta.items()}
    config = {
        "hbase": {"table": meta["source"], "timestamp": meta["timestamp"],
                  "format": meta["format"]},
        "mysql": {"table": meta["history"]},
        "hive": {"table": workload},
        "type_mode": "compat",
    }
    meta["config"] = os.path.join(final, "config.json")
    meta["workload"], meta["seed"] = workload, seed
    with open(os.path.join(tmp, "config.json"), "w") as fh:
        json.dump(config, fh, indent=1, sort_keys=True)
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
    try:
        os.rename(tmp, final)
    except OSError:  # another process finished the same seed first
        shutil.rmtree(tmp, ignore_errors=True)
    _prune(cache_root, workload, keep=final)
    with open(manifest_path) as fh:
        return json.load(fh)


def _prune(cache_root: str, workload: str, keep: str) -> None:
    mine = [os.path.join(cache_root, d) for d in os.listdir(cache_root)
            if d.startswith(workload + "-s")]
    mine.sort(key=os.path.getmtime)
    for d in mine[:-CACHE_KEEP]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)

"""Snapshot-semantics goldens (FIXTURES.md §B4): point-in-time reads at
T0 < T1 < T2 over the synthesized change log + schema history, pinning
per-CELL as-of semantics, the NULL sentinel, the "initial-snapshot" key
ordering, unsigned promotion, and schema drift in both directions.
"""

import pytest

from pyspark.sql.types import LongType, StringType, TimestampType

from hbase_snapshotter_spark.operators.snapshot import (
    latest_cells,
    latest_per_key,
    snapshot_as_of,
)
from hbase_snapshotter_spark.plans.schema import KEY_COLUMN, STATUS_COLUMN, schema_as_of
from tests.conftest import T0, T1, T2


def snap(changelog, schema_history, ts, **kw):
    schema = schema_as_of(schema_history, ts, **kw)
    return snapshot_as_of(changelog, schema, ts)


def by_key(df):
    return {r[KEY_COLUMN]: r.asDict() for r in df.collect()}


def test_schema_as_of_initial_snapshot_ordering(schema_history):
    # at T0 only the "initial-snapshot" row qualifies → sorts as 0, found
    s = schema_as_of(schema_history, T0)
    assert [f.name for f in s.fields] == [
        KEY_COLUMN, STATUS_COLUMN, "name", "amount", "big_id"]


def test_schema_as_of_picks_latest_not_first(schema_history):
    s = schema_as_of(schema_history, T1)  # v1 (key "1800") beats initial-snapshot
    assert [f.name for f in s.fields] == [
        KEY_COLUMN, STATUS_COLUMN, "name", "amount", "big_id", "created"]


def test_schema_as_of_now(schema_history):
    s = schema_as_of(schema_history, -1)  # -1 = "now" → latest version
    assert "note" in [f.name for f in s.fields]


def test_schema_as_of_missing(spark, schema_history):
    with pytest.raises(LookupError):
        schema_as_of(schema_history, 100)


def test_unsigned_promotion_and_types(schema_history):
    s = schema_as_of(schema_history, T0)
    assert s["big_id"].dataType == LongType()
    assert s["name"].dataType == StringType()


def test_snapshot_t0(changelog, schema_history):
    rows = by_key(snap(changelog, schema_history, T0))
    assert set(rows) == {"r1", "r2"}
    r1 = rows["r1"]
    assert r1["name"] == "alpha" and r1["amount"] == 10.5
    assert r1["big_id"] == 3_000_000_000          # > int32: needs Long
    assert r1[STATUS_COLUMN] == "I"
    assert rows["r2"]["name"] is None             # "NULL" sentinel → SQL NULL
    assert "created" not in r1                    # column not in T0 schema


def test_snapshot_t1_mixes_cell_versions(changelog, schema_history):
    rows = by_key(snap(changelog, schema_history, T1))
    r1 = rows["r1"]
    # name was updated at 1500 but amount not until 2500: per-CELL as-of
    assert r1["name"] == "alpha2" and r1["amount"] == 10.5
    assert r1["created"] is not None              # T1 schema has `created`
    assert isinstance(type(r1["created"]), type)  # decoded from epoch-millis string


def test_snapshot_t2(changelog, schema_history):
    rows = by_key(snap(changelog, schema_history, T2))
    r1, r2, r3 = rows["r1"], rows["r2"], rows["r3"]
    assert r1["amount"] == 99.25 and r1[STATUS_COLUMN] == "U"
    assert r1["note"] == "added-late"             # column added by SCHEMA_V2
    assert r2["name"] == "beta" and r2["amount"] is None  # lowercase sentinel
    assert r3[STATUS_COLUMN] == "D"               # deletion visible via status
    assert r3["big_id"] is None                   # never written → NULL


def test_timestamp_decode_epoch_millis(changelog, schema_history):
    s = schema_as_of(schema_history, T2)
    assert s["created"].dataType == TimestampType()
    rows = by_key(snapshot_as_of(changelog, s, T2))
    assert rows["r1"]["created"].timestamp() * 1000 == 1000


def test_strict_mode_types(changelog, schema_history):
    s = schema_as_of(schema_history, -1, mode="strict")
    assert s["amount"].dataType.typeName() == "decimal"
    assert s["big_id"].dataType.typeName() == "decimal"  # unsigned bigint


def test_latest_cells(changelog):
    out = latest_cells(changelog, T1)
    cells = {(r.row_key, r.qualifier): r.value for r in out.collect()}
    assert cells[("r1", "name")] == "alpha2"
    assert cells[("r1", "amount")] == "10.5"


def test_advance_latest_cells_matches_full_rescan(changelog):
    """Incremental snapshot maintenance: advancing the materialized T1
    state with only the delta log reproduces the full rescan at any T2,
    and re-delivered (overlapping) delta cells are idempotent under the
    associative max-struct merge."""
    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.operators.snapshot import advance_latest_cells

    ts_list = sorted({r.cell_ts for r in changelog.collect()})
    t1 = ts_list[len(ts_list) // 2]
    prev = latest_cells(changelog, t1)

    def cells(df):
        return sorted((r.row_key, r.family, r.qualifier, r.value, r.cell_ts)
                      for r in df.collect())

    for t2 in [ts_list[-2], ts_list[-1], None]:
        full = latest_cells(changelog, t2)
        delta = changelog.filter(F.col("cell_ts") > t1)
        assert cells(advance_latest_cells(prev, delta, t2)) == cells(full)
        # overlapping delta (no lower bound) — idempotent, same answer
        assert cells(advance_latest_cells(prev, changelog, t2)) == cells(full)


def test_latest_per_key(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 2, "y"), ("b", 1, "z")], "k string, v long, p string"
    )
    out = {r.k: r.p for r in latest_per_key(df, ["k"], "v").collect()}
    assert out == {"a": "y", "b": "z"}


def test_snapshot_plan_is_one_shuffle(changelog, schema_history):
    schema = schema_as_of(schema_history, T2)
    plan = snapshot_as_of(changelog, schema, T2)._jdf.queryExecution().executedPlan().toString()
    # latest cell and row layout share the only shuffle, on row_key
    # (see operator docstring)
    assert plan.count("Exchange") == 1
    assert "Exchange hashpartitioning(row_key#" in plan


def test_snapshot_equals_latest_cells_row_assembly(spark):
    """``snapshot_as_of`` (one shuffle on row_key) equals the latest
    cells laid out row by row in Python: equal-ts versions keep the
    larger value, sentinels and SQL NULLs decode to NULL, a second
    family binds its own cell, unbound cells and an unlogged schema
    column are handled, and a ts before every cell gives no rows."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    log = spark.createDataFrame(
        [("k1", "d", "row_status", "I", 100),
         ("k1", "d", "x", "5", 100),
         ("k1", "d", "x", "10", 200),
         ("k1", "d", "x", "9", 200),             # equal ts: larger value wins
         ("k1", "e", "y", "hello", 100),          # second family binding
         ("k1", "d", "y", "wrong-family", 150),   # d:y is not bound
         ("k2", "d", "row_status", "I", 100),
         ("k2", "d", "x", "NULL", 100),
         ("k2", "e", "y", "null", 100),
         ("k2", "d", "name", "bob", 50),
         ("k2", "d", "name", None, 100),          # SQL NULL is the latest
         ("k3", "d", "unbound", "z", 100),        # no bound cell: no row
         ("k4", "d", "x", "12", 300)],
        "row_key string, family string, qualifier string, value string, cell_ts long",
    )
    cols = [("d", "row_status", StringType()), ("d", "x", LongType()),
            ("e", "y", StringType()), ("d", "name", StringType()),
            ("d", "absent", DoubleType())]      # never logged
    schema = StructType(
        [StructField(KEY_COLUMN, StringType(), False, {"key": True})]
        + [StructField(STATUS_COLUMN if q == "row_status" else q, t, True,
                       {"family": fam, "qualifier": q, "status": q == "row_status"})
           for fam, q, t in cols])
    py_type = {LongType(): int, StringType(): str, DoubleType(): float}

    def reference(ts):
        latest: dict = {}
        for r in latest_cells(log, ts).collect():
            latest.setdefault(r.row_key, {})[(r.family, r.qualifier)] = r.value
        rows = []
        for key, got in latest.items():
            if not got.keys() & {(fam, q) for fam, q, _ in cols}:
                continue
            row = [key]
            for fam, q, t in cols:
                v = got.get((fam, q))
                if q != "row_status" and v is not None:
                    v = None if v.upper() == "NULL" else py_type[t](v)
                row.append(v)
            rows.append(tuple(row))
        return sorted(rows)

    for ts in (None, 150, 10):
        out = snapshot_as_of(log, schema, ts)
        assert out.columns == schema.fieldNames()
        assert [(f.dataType, f.nullable) for f in out.schema.fields] == \
            [(f.dataType, True) for f in schema.fields]
        got = sorted(tuple(r) for r in out.collect())
        assert got == reference(ts)
        assert bool(got) == (ts != 10)
    assert by_key(snapshot_as_of(log, schema, None))["k1"]["x"] == 9

    bad = log.union(spark.createDataFrame(
        [("k5", "d", "x", "not-a-long", 100)], log.schema))
    assert by_key(snapshot_as_of(bad, schema, None))["k5"]["x"] is None
    with pytest.raises(Exception, match="cannot decode|USER_RAISED|CAST_INVALID"):
        snapshot_as_of(bad, schema, None, strict_decode=True).collect()


def test_strict_decode_fails_on_malformed(spark, schema_history):
    bad = spark.createDataFrame(
        [("r9", "d", "amount", "not-a-number", 900),
         ("r9", "d", "row_status", "I", 900)],
        "row_key string, family string, qualifier string, value string, cell_ts long",
    )
    schema = schema_as_of(schema_history, T0)
    # default (Spark-idiomatic): malformed value → NULL
    assert by_key(snapshot_as_of(bad, schema, T0))["r9"]["amount"] is None
    # strict (reference parity, HBaseSnapshotter.scala:95-102): job fails
    with pytest.raises(Exception, match="cannot decode|USER_RAISED|CAST_INVALID"):
        snapshot_as_of(bad, schema, T0, strict_decode=True).collect()


def test_lenient_date_decode(spark):
    """Dates decode from ``yyyy-MM-dd``; the NULL sentinel and malformed
    values decode to NULL."""
    import datetime

    from pyspark.sql import functions as F
    from pyspark.sql.types import DateType

    from hbase_snapshotter_spark.operators.snapshot import decode_expr

    df = spark.createDataFrame([("2020-01-02",), ("NULL",), ("bad",)], "v string")
    got = {r.v: r.d for r in df.select("v", decode_expr(F.col("v"), DateType()).alias("d"))
           .collect()}
    assert got == {"2020-01-02": datetime.date(2020, 1, 2), "NULL": None, "bad": None}


def test_empty_schema_raises_clear_error(spark, changelog):
    """A schema binding no cells must fail with a meaningful message,
    not a TypeError from filter(None)."""
    import pytest

    from hbase_snapshotter_spark.operators.snapshot import snapshot_as_of
    from hbase_snapshotter_spark.plans.schema import explicit_schema

    with pytest.raises(ValueError, match="binds no cells"):
        snapshot_as_of(changelog, explicit_schema([]), None)


def test_compact_cells_tombstone_ttl_and_pending(changelog):
    """Major-compaction semantics (N40) on the synthetic changelog's
    REAL delete marker (r3 row_status=D @2900): a horizon at/after the
    marker collects the whole row; a horizon before it leaves the
    tombstone pending (no resurrection, no over-collection); TTL
    expires strictly-older cells of non-deleted rows, boundary cell
    kept."""
    from hbase_snapshotter_spark.operators.snapshot import (
        compact_cells,
        latest_cells,
    )

    state = latest_cells(changelog, None)

    collected = compact_cells(state, horizon_ts=2900, ttl_cutoff_ts=0).collect()
    by_key = {}
    for r in collected:
        by_key.setdefault(r.row_key, set()).add(r.cell_fate)
    assert by_key["r3"] == {"deleted"}          # marker included
    assert by_key["r1"] == {"kept"} and by_key["r2"] == {"kept"}

    pending = compact_cells(state, horizon_ts=2899, ttl_cutoff_ts=1000).collect()
    fates = {(r.row_key, r.qualifier): r.cell_fate for r in pending}
    deleted_flags = {r.row_key for r in pending if r.row_deleted}
    assert deleted_flags == set()               # tombstone not yet collectible
    assert fates[("r3", "row_status")] == "kept"
    # TTL: r1 big_id/created latest @500 expire; boundary not crossed by
    # cells at exactly the cutoff
    assert fates[("r1", "big_id")] == "expired"
    assert fates[("r1", "created")] == "expired"
    assert fates[("r1", "amount")] == "kept"    # @2500
    at_cutoff = compact_cells(state, horizon_ts=2899, ttl_cutoff_ts=500).collect()
    f2 = {(r.row_key, r.qualifier): r.cell_fate for r in at_cutoff}
    assert f2[("r1", "big_id")] == "kept"       # cell_ts == cutoff survives


def test_compact_cells_duplicate_markers_no_fanout(spark):
    """A RAW (non-latest-cells) input carrying two qualifying delete
    markers for one key must not fan out the key's cells through the
    tombstone join."""
    from hbase_snapshotter_spark.operators.snapshot import compact_cells

    cells = spark.createDataFrame(
        [("r1", "row_status", "D", 100), ("r1", "row_status", "D", 200),
         ("r1", "name", "x", 150), ("r2", "name", "y", 150)],
        "row_key string, qualifier string, value string, cell_ts long")
    out = compact_cells(cells, horizon_ts=300, ttl_cutoff_ts=0).collect()
    assert len(out) == 4  # one verdict per input cell, no duplication
    fates = {(r.row_key, r.qualifier, r.cell_ts): r.cell_fate for r in out}
    assert fates[("r1", "name", 150)] == "deleted"
    assert fates[("r2", "name", 150)] == "kept"


def test_schema_diff_all_change_classes(spark):
    """schema_diff classifies every branch — added, dropped, retyped,
    moved, unchanged — with retyped taking priority over moved, and
    resolves both endpoints through the as-of pick (initial-snapshot
    ordering included)."""
    import json

    from hbase_snapshotter_spark.plans.schema import schema_diff

    va = json.dumps({"t": {
        "columnIndexToNameMap": {"0": "keep", "1": "gone", "2": "shift",
                                 "3": "retype_and_move"},
        "columnsSchema": {"keep": {"columnType": "int"},
                          "gone": {"columnType": "int"},
                          "shift": {"columnType": "text"},
                          "retype_and_move": {"columnType": "int"}}}})
    vb = json.dumps({"t": {
        "columnIndexToNameMap": {"0": "keep", "1": "shift", "2": "fresh",
                                 "3": "retype_and_move"},
        "columnsSchema": {"keep": {"columnType": "int"},
                          "shift": {"columnType": "text"},
                          "fresh": {"columnType": "double"},
                          "retype_and_move": {"columnType": "bigint"}}}})
    hist = spark.createDataFrame(
        [("initial-snapshot", 0, va), ("1000", 1000, vb)],
        "change_key string, cell_ts long, schema_json string")
    out = {r.col_name: r for r in schema_diff(hist, 0, 1000).collect()}
    assert out["keep"].change == "unchanged"
    assert out["gone"].change == "dropped" and out["gone"].new_type is None
    assert out["shift"].change == "moved"
    assert (out["shift"].old_index, out["shift"].new_index) == (2, 1)
    assert out["fresh"].change == "added" and out["fresh"].old_index is None
    assert out["retype_and_move"].change == "retyped"  # priority over moved
    # same endpoint twice -> everything unchanged
    same = schema_diff(hist, 1000, 1000).collect()
    assert {r.change for r in same} == {"unchanged"}


@pytest.mark.parametrize("n", [10_000, 100_000, 1_000_000])
def test_sketch_error_envelope_above_capacity(spark, n):
    """VERDICT r6 task 8: the documented degradation envelopes above the
    sketches' nominal capacity (2¹² retained hashes), measured — not
    cited — across three cardinality decades.  HLL estimates stay
    within ±2% of the true distinct count; theta per-side estimates
    within ±2%; theta union within ±3% (a union inherits the smaller
    theta of its inputs, so its error tops the single-sketch bound —
    measured 2.24% at 1.5M true union); the theta intersection and
    differences (the documented weak spot — error grows with
    disjointness, and a difference compounds both inputs' errors)
    within ±6% at 50% overlap (measured max 5.7% at n=10⁶).  Deterministic: same item
    set ⇒ same hashes ⇒ same estimate, so these are pinned bounds, not
    flaky statistics."""
    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.operators.sketches import (
        distinct_sketches,
        sketch_estimates,
        theta_set_cardinalities,
    )

    g = ["g"]
    df = spark.range(n).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v"))
    est = sketch_estimates(
        distinct_sketches(df, "v", group_cols=g), group_cols=g
    ).collect()[0].estimate
    assert abs(est - n) <= 0.02 * n, f"HLL {est} vs {n}"

    # theta algebra: A = [0, n), B = [n/2, 3n/2) -> 50% overlap
    a = spark.range(n).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v"))
    b = spark.range(n // 2, n + n // 2).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v"))
    row = theta_set_cardinalities(a, b, "v", group_cols=g).collect()[0]
    true_union, true_inter = n + n // 2, n - n // 2
    assert abs(row.n_a - n) <= 0.02 * n
    assert abs(row.n_b - n) <= 0.02 * n
    assert abs(row.n_union - true_union) <= 0.03 * true_union
    assert abs(row.n_intersection - true_inter) <= 0.06 * true_inter
    assert abs(row.n_a_only - true_inter) <= 0.06 * true_inter
    assert abs(row.n_b_only - true_inter) <= 0.06 * true_inter


def test_sketch_state_merge_advance_idempotent(spark):
    """HLL sketch state (N48): the delta advance clears the same error
    envelope as the single-pass sketch, and re-delivering the delta is
    a no-op — the exactly-once-from-at-least-once argument for
    aggregate state.  Estimate EQUALITY across build paths is not
    asserted: DataSketches unions promote exact LIST/SET-mode gadgets
    to approximate HLL mode early, so a direct sketch and a union
    result can differ in estimate while both honor the error bound
    (observed at 1.5 k distinct on the sf0.1 fixture)."""
    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.operators.sketches import (
        advance_sketches,
        distinct_sketches,
        sketch_estimates,
    )

    df = spark.range(2000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 311).alias("v"),
        (F.col("id") < 1200).alias("early"))
    g = ["g"]
    full = {r.g: r.estimate for r in sketch_estimates(
        distinct_sketches(df, "v", group_cols=g), group_cols=g).collect()}
    exact = {r.g: r.c for r in
             df.groupBy("g").agg(F.countDistinct("v").alias("c")).collect()}
    assert all(abs(full[k] - exact[k]) <= 0.15 * exact[k] for k in exact)

    prior = distinct_sketches(df.filter("early"), "v", group_cols=g)
    delta = df.filter("NOT early")
    adv = advance_sketches(prior, delta, "v", group_cols=g)
    got = {r.g: r.estimate for r in
           sketch_estimates(adv, group_cols=g).collect()}
    assert all(abs(got[k] - exact[k]) <= 0.15 * exact[k] for k in exact)
    again = {r.g: r.estimate for r in sketch_estimates(
        advance_sketches(adv, delta, "v", group_cols=g),
        group_cols=g).collect()}
    assert again == got  # re-delivered delta is a no-op
    # a group newborn in the delta appears
    newg = spark.range(5).select(F.lit(99).alias("g"), F.col("id").alias("v"))
    withnew = {r.g: r.estimate for r in sketch_estimates(
        advance_sketches(adv, newg, "v", group_cols=g),
        group_cols=g).collect()}
    assert withnew[99] == 5 and withnew[0] == got[0]


@pytest.mark.parametrize("n", [1_000, 10_000, 100_000])
def test_quantile_sketch_guarantee_and_state_algebra(spark, n):
    """DDSketch quantile state (N58) across three cardinality decades:
    every estimate lands within the α=1% relative-error GUARANTEE
    (+25% slack for the engine-portable 6-dp bucket rounding) of the
    exact value at rank ⌈q·n⌉; the state stays O(log(max/min)/log γ)
    buckets regardless of n; merge is lossless (shard-merged ==
    single-pass, exact row equality) and the delta advance reproduces
    the full state exactly.  Deterministic — pinned bounds, not
    statistics."""
    import math

    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.operators.sketches import (
        DD_ALPHA,
        DD_GAMMA,
        advance_quantile_state,
        dd_quantile_estimates,
        merge_quantile_states,
        quantile_state,
    )

    # heavy-tailed positives spanning ~5 decades: (id+1)^1.7 / 50
    df = spark.range(n).select(
        F.lit("g").alias("g"),
        (F.pow(F.col("id") + 1, 1.7) / 50.0).alias("v"),
        (F.col("id") % 2 == 0).alias("early"),
        (F.col("id") % 4).alias("shard"))
    g = ["g"]
    state = quantile_state(df, "v", group_cols=g)

    # bucket count bounded by the value-range geometry, not by n
    n_buckets = state.count()
    vmin, vmax = 1.0 / 50.0, (n ** 1.7) / 50.0
    assert n_buckets <= math.log(vmax / vmin) / math.log(DD_GAMMA) + 2

    qs = [0.5, 0.9, 0.99]
    est = dd_quantile_estimates(state, qs, group_cols=g).collect()[0]
    assert est.n_values == n
    vals = sorted(r.v for r in df.select("v").collect())
    for q, col in zip(qs, ["q50_est", "q90_est", "q99_est"]):
        exact = vals[math.ceil(q * n) - 1]
        assert abs(est[col] - exact) <= DD_ALPHA * 1.25 * exact, (n, q)

    rows = lambda d: sorted(tuple(r) for r in d.collect())  # noqa: E731
    full = rows(state)
    merged = rows(
        merge_quantile_states(
            merge_quantile_states(
                quantile_state(df.filter("shard = 0"), "v", group_cols=g),
                quantile_state(df.filter("shard = 1"), "v", group_cols=g),
                group_cols=g),
            merge_quantile_states(
                quantile_state(df.filter("shard = 2"), "v", group_cols=g),
                quantile_state(df.filter("shard = 3"), "v", group_cols=g),
                group_cols=g),
            group_cols=g))
    assert merged == full
    adv = advance_quantile_state(
        quantile_state(df.filter("early"), "v", group_cols=g),
        df.filter("NOT early"), "v", group_cols=g)
    assert rows(adv) == full

    # non-positives and NULLs are outside DDSketch's domain: dropped
    dirty = df.unionByName(spark.createDataFrame(
        [("g", -1.0, True, 0), ("g", 0.0, True, 0), ("g", None, True, 0)],
        "g string, v double, early boolean, shard long"))
    assert rows(quantile_state(dirty, "v", group_cols=g)) == full


def test_scd2_history_interval_chain(changelog):
    """SCD2 reconstruction: per-cell version chains are contiguous
    (valid_to == next valid_from), exactly one current version per
    cell, version numbers dense from 1, and the known r1.name chain
    (alpha@500 -> alpha2@1500) closes the first interval at 1500."""
    from hbase_snapshotter_spark.operators.snapshot import scd2_history

    out = scd2_history(changelog).collect()
    by_cell = {}
    for r in sorted(out, key=lambda r: (r.row_key, r.qualifier, r.version)):
        by_cell.setdefault((r.row_key, r.qualifier), []).append(r)
    for chain in by_cell.values():
        assert [r.version for r in chain] == list(range(1, len(chain) + 1))
        assert sum(r.is_current for r in chain) == 1
        assert chain[-1].is_current and chain[-1].valid_to is None
        for a, b in zip(chain, chain[1:]):
            assert a.valid_to == b.valid_from
    name_chain = by_cell[("r1", "name")]
    assert [(r.value, r.valid_from, r.valid_to) for r in name_chain] == \
        [("alpha", 500, 1500), ("alpha2", 1500, None)]


def test_state_changefeed_ops(changelog):
    """Changefeed between T1=1000 and T2=3000 states on the synthetic
    changelog: updates carry old/new, inserts only new, cells stable
    across the window are absent; feeding the changefeed's new values
    back over T1 reproduces T2 (round-trip)."""
    from hbase_snapshotter_spark.operators.snapshot import (
        latest_cells,
        state_changefeed,
    )

    t1 = latest_cells(changelog, 1000).select("row_key", "qualifier", "value")
    t2 = latest_cells(changelog, 3000).select("row_key", "qualifier", "value")
    feed = {(r.row_key, r.qualifier): (r.op, r.old_value, r.new_value)
            for r in state_changefeed(t1, t2).collect()}
    assert feed[("r1", "name")] == ("U", "alpha", "alpha2")
    assert feed[("r3", "name")][0] == "I"          # r3 born after T1
    assert ("r1", "big_id") not in feed            # unchanged
    # round-trip: T1 patched by the feed == T2
    t1_map = {(r.row_key, r.qualifier): r.value for r in t1.collect()}
    for k, (op, old, new) in feed.items():
        if op == "D":
            t1_map.pop(k)
        else:
            t1_map[k] = new
    t2_map = {(r.row_key, r.qualifier): r.value for r in t2.collect()}
    assert t1_map == t2_map


def test_state_changefeed_null_values(spark):
    """Presence is explicit: NULL-valued cells present in both states
    are unchanged (omitted); NULL→x is U (not I), x→NULL is U (not D);
    genuinely absent cells classify I/D."""
    from hbase_snapshotter_spark.operators.snapshot import state_changefeed

    a = spark.createDataFrame(
        [("r1", "q1", None), ("r1", "q2", None), ("r1", "q3", "x"),
         ("r1", "q4", "gone")],
        "row_key string, qualifier string, value string")
    b = spark.createDataFrame(
        [("r1", "q1", None), ("r1", "q2", "x"), ("r1", "q3", None),
         ("r1", "q5", None)],
        "row_key string, qualifier string, value string")
    feed = {(r.row_key, r.qualifier): (r.op, r.old_value, r.new_value)
            for r in state_changefeed(a, b).collect()}
    assert ("r1", "q1") not in feed                      # NULL == NULL
    assert feed[("r1", "q2")] == ("U", None, "x")
    assert feed[("r1", "q3")] == ("U", "x", None)
    assert feed[("r1", "q4")] == ("D", "gone", None)
    assert feed[("r1", "q5")] == ("I", None, None)       # born with NULL


def test_theta_set_cardinalities_exact_below_capacity(spark):
    """Theta set algebra (N51): below sketch capacity estimates are
    exact — verified against hand sets including overlap, disjoint
    values, a one-sided group, and partition independence."""
    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.operators.sketches import (
        theta_set_cardinalities,
    )

    a = spark.createDataFrame(
        [("g1", v) for v in range(100)] + [("g2", v) for v in range(50)]
        + [("only_a", 1)], "g string, v long")
    b = spark.createDataFrame(
        [("g1", v) for v in range(60, 160)] + [("g2", v) for v in range(50, 80)]
        + [("only_b", 1), ("only_b", 2)], "g string, v long")
    for aa, bb in ((a, b), (a.repartition(7), b.repartition(3))):
        out = {r.g: r for r in theta_set_cardinalities(
            aa, bb, "v", group_cols=["g"]).collect()}
        g1 = out["g1"]
        assert (g1.n_a, g1.n_b, g1.n_union, g1.n_intersection,
                g1.n_a_only, g1.n_b_only) == (100, 100, 160, 40, 60, 60)
        g2 = out["g2"]
        assert (g2.n_a, g2.n_b, g2.n_union, g2.n_intersection) == (50, 30, 80, 0)
        assert (out["only_a"].n_a, out["only_a"].n_b,
                out["only_a"].n_union, out["only_a"].n_intersection,
                out["only_a"].n_a_only) == (1, 0, 1, 0, 1)
        assert (out["only_b"].n_b, out["only_b"].n_b_only) == (2, 2)


def test_advance_scd2_equals_full_rebuild(changelog):
    """Incremental SCD2 maintenance (N54): advancing the T1 history
    with only the (T1, T2] delta equals the full rebuild at T2 —
    including new cells born in the delta, multi-version delta cells,
    and untouched cells passing through bit-identically; re-delivered
    delta rows are a no-op (exactly-once state from at-least-once
    delivery)."""
    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.operators.snapshot import (
        advance_scd2,
        scd2_history,
    )

    t1 = 1000
    state = scd2_history(changelog.filter(F.col("cell_ts") <= t1))
    delta = changelog.filter(F.col("cell_ts") > t1)
    full = scd2_history(changelog)

    cols = full.columns
    adv = advance_scd2(state, delta).select(*cols)
    assert adv.exceptAll(full).count() == 0
    assert full.exceptAll(adv).count() == 0

    # delta actually exercises the interesting branches
    state_keys = {(r.row_key, r.qualifier)
                  for r in state.select("row_key", "qualifier").collect()}
    delta_keys = {(r.row_key, r.qualifier)
                  for r in delta.select("row_key", "qualifier").collect()}
    assert delta_keys - state_keys, "delta should birth at least one new cell"
    assert state_keys - delta_keys, "at least one cell must be untouched"
    assert state_keys & delta_keys, "at least one cell must advance"

    # idempotency: a re-delivered delta changes nothing
    adv2 = advance_scd2(adv, delta.unionAll(delta)).select(*cols)
    assert adv2.exceptAll(full).count() == 0
    assert full.exceptAll(adv2).count() == 0


@pytest.mark.parametrize("n_distinct", [1_000, 10_000, 100_000])
def test_cms_error_envelope_across_decades(spark, n_distinct):
    """N65 count-min envelope, measured across three cardinality
    decades (vocabularies far above the 256-bucket width): the
    never-underestimate theorem holds for EVERY probe, and the
    documented (3/W)·N overestimate bound holds for ≥ 95% of probes
    (the theorem guarantees it per hash row with prob 1 − 1/3; three
    independent rows push failures below (1/3)³ ≈ 4% — measured, not
    cited).  Deterministic: md5 hashing, so these are pinned bounds,
    not flaky statistics."""
    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.operators.sketches import (
        CMS_BOUND_NUM,
        CMS_WIDTH,
        cms_estimates,
        cms_state,
    )

    # Zipf-ish: item i appears 1 + (i % 7) times; N = n_distinct * 4
    df = spark.range(n_distinct).select(
        F.lit("g").alias("g"),
        F.concat(F.lit("tok"), F.col("id")).alias("v"),
        (F.col("id") % 7 + 1).alias("reps"))
    items = df.select("g", "v", F.explode(
        F.sequence(F.lit(1), F.col("reps"))).alias("_"))
    n_total = items.count()
    state = cms_state(items, "v", group_cols=["g"])

    probes = df.filter(F.col("id") % 97 == 0).select("g", "v")
    est = cms_estimates(state, probes, "v", group_cols=["g"])
    truth = items.groupBy("g", "v").agg(F.count(F.lit(1)).alias("t"))
    j = est.join(truth.withColumnRenamed("v", "item"), ["g", "item"],
                 "left")
    rows = j.collect()
    assert all(r["est_cnt"] >= (r["t"] or 0) for r in rows)
    within = sum(
        1 for r in rows
        if (r["est_cnt"] - (r["t"] or 0)) * CMS_WIDTH
        <= CMS_BOUND_NUM * n_total)
    assert within / len(rows) >= 0.95, f"{within}/{len(rows)}"


def test_aggregate_view_advance_hand_computed(spark):
    """N84 IVM algebra on a hand-built feed: insert adds, delete
    subtracts the OLD contribution, update does both, a group whose
    count hits zero LEAVES the view, a group first seen in the feed
    ENTERS it, non-numeric values count cells but not sums — and
    advancing by two feeds sequentially equals advancing by their
    concatenation (associativity, the property that lets feeds
    batch)."""
    from hbase_snapshotter_spark.operators.snapshot import (
        advance_aggregate_view,
        aggregate_view,
    )

    state = spark.createDataFrame(
        [("r1", "click", "2.5"), ("r2", "click", "1.5"),
         ("r1", "buy", "10.0"), ("r1", "note", "hello")],
        "row_key string, qualifier string, value string")
    view0 = aggregate_view(state)
    got0 = {r.qualifier: (r.n_cells, r.n_numeric, r.sum_micro)
            for r in view0.collect()}
    assert got0 == {"click": (2, 2, 40000), "buy": (1, 1, 100000),
                    "note": (1, 0, 0)}

    feed_schema = ("row_key string, qualifier string, op string, "
                   "old_value string, new_value string")
    f1 = spark.createDataFrame(
        [("r3", "click", "I", None, "4.0"),      # insert
         ("r1", "click", "U", "2.5", "3.0"),     # update
         ("r1", "buy", "D", "10.0", None),       # delete → group exits
         ("r9", "view", "I", None, "7.25")],     # new group enters
        feed_schema)
    f2 = spark.createDataFrame(
        [("r2", "click", "D", "1.5", None),
         ("r9", "view", "U", "7.25", "not_a_number")],  # numeric → not
        feed_schema)

    v1 = advance_aggregate_view(view0, f1)
    v2 = advance_aggregate_view(v1, f2)
    got = {r.qualifier: (r.n_cells, r.n_numeric, r.sum_micro)
           for r in v2.collect()}
    assert got == {
        "click": (2, 2, 70000),   # 3.0 + 4.0
        "note": (1, 0, 0),
        "view": (1, 0, 0),        # value became non-numeric
    }
    assert "buy" not in got       # count reached zero → left the view

    both = advance_aggregate_view(view0, f1.unionByName(f2))
    assert sorted(map(tuple, both.collect())) == \
        sorted(map(tuple, v2.collect()))


def test_recompute_affected_groups_topk_deletes(spark):
    """N94: advancing a top-k view through a feed with deletes —
    delete/update-touched groups are recomputed from base, groups the
    feed never touches pass through from the prior view UNCHANGED (the
    anti-join path), and the composed insert-path + recompute equals a
    full rebuild."""
    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.operators.snapshot import (
        recompute_affected_groups,
        state_changefeed,
    )
    from hbase_snapshotter_spark.operators.timeseries import (
        advance_topk_state,
        topk_state,
    )

    def rebuild(df):
        return topk_state(df, group_cols=["g"], id_col="id",
                          score_col="s", k=2)

    a = spark.createDataFrame(
        [("g1", "a", "5"), ("g1", "b", "4"), ("g1", "c", "3"),
         ("g2", "a", "9"), ("g2", "b", "8"),
         ("g3", "a", "1")],  # untouched group
        "g string, id string, value string")
    # b: g1 loses its leader (D) and gets an insert; g2 updates b DOWN
    # (the case the monotone upsert-by-max advance cannot express)
    b = spark.createDataFrame(
        [("g1", "b", "4"), ("g1", "c", "3"), ("g1", "d", "6"),
         ("g2", "a", "9"), ("g2", "b", "2"),
         ("g3", "a", "1")],
        "g string, id string, value string")
    feed = state_changefeed(a, b, key_cols=("g", "id"))
    ops = {(r.g, r.id): r.op for r in feed.collect()}
    assert ops == {("g1", "a"): "D", ("g1", "d"): "I", ("g2", "b"): "U"}

    def score(df):
        return df.select("g", "id", F.expr(
            "try_cast(value as double)").alias("s"))

    inserts = feed.filter(F.col("op") == "I").select(
        "g", "id", F.expr("try_cast(new_value as double)").alias("s"))
    ins_adv = advance_topk_state(rebuild(score(a)), inserts,
                                 group_cols=["g"], id_col="id",
                                 score_col="s", k=2)
    advanced = recompute_affected_groups(
        ins_adv, score(b), feed, group_cols=["g"], rebuild=rebuild)
    want = sorted(map(tuple, rebuild(score(b)).collect()))
    assert sorted(map(tuple, advanced.collect())) == want
    got = {(r.g, r.id): r.rank for r in advanced.collect()}
    assert got == {("g1", "d"): 1, ("g1", "b"): 2,   # leader deleted
                   ("g2", "a"): 1, ("g2", "b"): 2,   # b demoted by U
                   ("g3", "a"): 1}                   # pass-through

    # the pass-through row really came from the prior view, not a
    # rebuild: poison g3 in the base — an anti-join pass-through keeps
    # the prior (correct) row, a silent rebuild would pick up the poison
    poisoned = score(b).withColumn(
        "s", F.when(F.col("g") == "g3", F.lit(99.0)).otherwise(F.col("s")))
    kept = recompute_affected_groups(
        ins_adv, poisoned, feed, group_cols=["g"], rebuild=rebuild)
    assert {(r.g, r.id, r.s) for r in
            kept.filter(F.col("g") == "g3").collect()} == {("g3", "a", 1.0)}


def test_scd2_lookup_as_was_semantics(spark):
    """N99 hand-computed: each fact joins the version valid AT its ts —
    boundary fact at a version change takes the NEW version
    (valid_from <= ts, old closed exclusively), facts before the key's
    first version keep NULL dimension columns under how='left' and
    drop under how='inner', and at most one version ever matches."""
    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.operators.snapshot import (
        scd2_history,
        scd2_lookup,
    )

    dim_log = spark.createDataFrame(
        [("u1", "plan", "free", 100), ("u1", "plan", "pro", 200),
         ("u2", "plan", "pro", 150)],
        "row_key string, qualifier string, value string, cell_ts long")
    hist = scd2_history(dim_log)
    facts = spark.createDataFrame(
        [("u1", 50, "a"),    # before first version → NULL dim
         ("u1", 150, "b"),   # inside [100, 200) → free v1
         ("u1", 200, "c"),   # boundary → pro v2 (valid_to exclusive)
         ("u1", 999, "d"),   # open interval → pro v2, is_current
         ("u2", 151, "e")],
        "row_key string, cell_ts long, fact_value string")
    out = scd2_lookup(facts, hist)
    got = {r.fact_value: (r.dim_value, r.dim_version, r.dim_is_current)
           for r in out.collect()}
    assert out.count() == 5  # at most one version per fact
    assert got == {"a": (None, None, None),
                   "b": ("free", 1, False),
                   "c": ("pro", 2, True),
                   "d": ("pro", 2, True),
                   "e": ("pro", 1, True)}
    inner = scd2_lookup(facts, hist, how="inner")
    assert {r.fact_value for r in inner.collect()} == {"b", "c", "d", "e"}


def test_bucket_fingerprints_anti_entropy(spark):
    """N117: fingerprints are order/partitioning-independent (XOR of
    per-row 60-bit hashes), identical states agree on every bucket, a
    one-row change flips exactly its bucket's fingerprint, and a
    swap of two rows ACROSS buckets flips both."""
    import pyspark.sql.functions as F

    from hbase_snapshotter_spark.operators.snapshot import (
        bucket_fingerprints,
    )

    rows = [(str(i), "q", f"v{i}") for i in range(40)]
    cols = ["row_key", "qualifier", "value"]
    a = spark.createDataFrame(rows, "row_key string, qualifier string, value string")
    kw = dict(content_cols=cols)
    fa = {r.bucket: (r.n_rows, r.fp) for r in
          bucket_fingerprints(a, **kw).collect()}
    fa2 = {r.bucket: (r.n_rows, r.fp) for r in
           bucket_fingerprints(a.repartition(7), **kw).collect()}
    assert fa == fa2  # partitioning-independent
    # one-row value change: exactly that row's bucket flips
    b = a.withColumn("value", F.when(F.col("row_key") == "5",
                                     "CHANGED").otherwise(F.col("value")))
    fb = {r.bucket: (r.n_rows, r.fp) for r in
          bucket_fingerprints(b, **kw).collect()}
    changed = [k for k in fa if fa[k] != fb.get(k)]
    import hashlib
    bkt5 = int(hashlib.md5(b"5").hexdigest()[:8], 16) % 16
    assert changed == [bkt5]
    assert all(fa[k][0] == fb[k][0] for k in fa)  # counts unchanged


def test_sliding_distinct_union_semantics(spark):
    """N119 on a hand timeline: trailing-7-day windows carry the
    exact set-union distincts (users active on several days counted
    once per window), n_days counts only OBSERVED days inside the
    window, and windows ending on sparse days still see earlier
    days' users."""
    import pyspark.sql.functions as F

    from hbase_snapshotter_spark.queries.streaming_q import (
        events_sliding_distinct,
    )

    rows = [
        # day 0: users 1,2 ; day 3: users 2,3 ; day 9: user 1
        (1, 1, 0), (2, 2, 0), (3, 2, 3), (4, 3, 3), (5, 1, 9),
    ]
    import os
    import tempfile

    # basename must look like a fixture sf dir: the exact audit lane
    # this test exercises is FIXTURE-GATED (queries/gating.py, r10)
    d = os.path.join(tempfile.mkdtemp(), "sf0.0")
    os.makedirs(d)
    spark.createDataFrame(
        rows, "event_id long, user_id long, day long"
    ).select("event_id", "user_id",
             F.timestamp_millis(F.col("day") * 86_400_000).alias("ts"),
             F.lit("view").alias("event_type"), F.lit(1.0).alias("value"),
             F.lit("{}").alias("props")) \
     .write.parquet(f"{d}/events.parquet")
    out = {r.window_end_day: r for r in
           events_sliding_distinct(spark, d).collect()}
    assert set(out) == {0, 3, 9}
    assert (out[0].n_days_in_window, out[0].distinct_users) == (1, 2)
    # window ending day 3 spans days 0 and 3: users {1,2,3} (2 once)
    assert (out[3].n_days_in_window, out[3].distinct_users) == (2, 3)
    # day 9's window spans 3..9: observed days 3 and 9; users {2,3}∪{1}
    assert (out[9].n_days_in_window, out[9].distinct_users) == (2, 3)
    assert all(r.est_within_15pct for r in out.values())

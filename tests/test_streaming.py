"""Real Structured Streaming runs (file-source replay → memory sink)
proving the batch-equivalence the registry's stream_* oracles rely on,
plus the stateful operators that have no SQL shadow."""

import pytest
from pyspark.sql import functions as F

from hbase_snapshotter_spark.sources.changelog import read_table
from hbase_snapshotter_spark.streaming.windows import (
    replay_stream,
    running_max_per_key,
    streaming_dedup,
    tumbling_window_agg,
)


@pytest.fixture(scope="module")
def event_stream_dir(spark, sf_dir, tmp_path_factory):
    """events sf0.001 re-written as 4 parquet files for multi-batch replay."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    read_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(path)
    return path


def run_to_memory(stream_df, name, mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_tumbling_equals_batch(spark, sf_dir, event_stream_dir):
    batch_src = spark.read.parquet(event_stream_dir)
    stream_src = replay_stream(spark, event_stream_dir, batch_src.schema,
                               max_files_per_trigger=2)
    aggs = [F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value")]

    run_to_memory(
        tumbling_window_agg(stream_src, "ts", "1 hour", ["event_type"], aggs,
                            watermark="1 hour"),
        "tumbling_stream", "complete",
    )
    got = {tuple(r) for r in spark.sql("SELECT * FROM tumbling_stream").collect()}
    want = {tuple(r) for r in
            tumbling_window_agg(batch_src, "ts", "1 hour", ["event_type"], aggs).collect()}
    assert got == want and len(got) > 0


def test_streaming_dedup_first_arrival(spark, event_stream_dir, tmp_path):
    # duplicate every event once → stream dedup must restore exact count
    src = spark.read.parquet(event_stream_dir)
    dup_dir = str(tmp_path / "dups")
    src.unionAll(src).repartition(3).write.parquet(dup_dir)

    stream = replay_stream(spark, dup_dir, src.schema, max_files_per_trigger=3)
    deduped = streaming_dedup(stream, ["event_id"], "ts", "10 minutes")
    run_to_memory(deduped, "dedup_stream", "append")
    n = spark.sql("SELECT COUNT(DISTINCT event_id) AS n FROM dedup_stream").head().n
    total = spark.sql("SELECT COUNT(*) AS n FROM dedup_stream").head().n
    assert n == src.count()
    # NB: dropDuplicatesWithinWatermark guarantees no dups *within* the
    # watermark horizon; replay batches are minutes apart so exact here.
    assert total == n


def test_streaming_running_max_state(spark, event_stream_dir):
    src = spark.read.parquet(event_stream_dir)
    stream = replay_stream(spark, event_stream_dir, src.schema, max_files_per_trigger=1)
    run_to_memory(
        running_max_per_key(stream, "user_id", "value", "ts", "1 hour"),
        "runmax_stream", "update",
    )
    # last emitted running_max per user == batch max(value) per user
    got = {
        r.user_id: r.running_max
        for r in spark.sql("""
            SELECT user_id, running_max FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn DESC) AS rk
              FROM (SELECT *, monotonically_increasing_id() AS rn FROM runmax_stream))
            WHERE rk = 1
        """).collect()
    }
    want = {r.user_id: r.mx for r in
            src.groupBy("user_id").agg(F.max("value").alias("mx")).collect()}
    assert got == want

    # ... and ties the REGISTERED batch shadow (stream_running_max /
    # running_max_trace) to the stateful operator: the trace's last row
    # per key IS the final streaming state
    from pyspark.sql import Window

    from hbase_snapshotter_spark.streaming.windows import running_max_trace

    trace = running_max_trace(src, "user_id", "value", "ts", "1 hour")
    last = {
        r.user_id: r.running_max
        for r in trace.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("window_start")))
        ).filter("rk = 1").collect()
    }
    assert last == got


def test_funnel_keeps_user_with_only_pre_signup_purchases(spark):
    """A user whose purchases all precede their first signup must appear
    with converted = false / NULL first_purchase_ts — the predicate
    belongs in the join condition, not a post-join filter (which would
    drop the user entirely)."""
    from hbase_snapshotter_spark.queries.streaming_q import signup_purchase_funnel

    ev = spark.createDataFrame(
        [
            ("u1", "purchase", "2024-01-01 10:00:00"),   # before signup
            ("u1", "signup",   "2024-01-02 10:00:00"),
            ("u2", "signup",   "2024-01-01 09:00:00"),
            ("u2", "purchase", "2024-01-03 09:00:00"),   # after signup
            ("u3", "signup",   "2024-01-01 08:00:00"),   # never purchases
        ],
        "user_id string, event_type string, ts_s string",
    ).select("user_id", "event_type", F.col("ts_s").cast("timestamp").alias("ts"))

    rows = {r.user_id: r for r in signup_purchase_funnel(ev).collect()}
    assert set(rows) == {"u1", "u2", "u3"}
    assert rows["u1"].converted is False and rows["u1"].first_purchase_ts is None
    assert rows["u2"].converted is True
    assert rows["u3"].converted is False


def test_stream_stream_interval_join_equals_batch(spark, event_stream_dir):
    """Stream-stream inner join (clicks -> purchases by the same user
    within 2 hours) over a multi-batch file replay equals the batch join
    of the same condition — state bridging across micro-batches works
    and nothing is dropped under a generous watermark."""
    from hbase_snapshotter_spark.streaming.windows import interval_stream_join

    src = spark.read.parquet(event_stream_dir)
    clicks_b = src.filter("event_type = 'click'") \
        .select("user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id"))
    buys_b = src.filter("event_type = 'purchase'") \
        .select(F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"),
                F.col("event_id").alias("b_id"))

    want = sorted(
        (r.c_id, r.b_id) for r in clicks_b.join(
            buys_b, (clicks_b.user_id == buys_b.b_user)
            & (buys_b.b_ts >= clicks_b.c_ts)
            & (buys_b.b_ts <= F.expr("c_ts + INTERVAL 2 HOURS"))).collect())

    stream = replay_stream(spark, event_stream_dir, src.schema, max_files_per_trigger=1)
    clicks_s = stream.filter("event_type = 'click'") \
        .select("user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id"))
    buys_s = stream.filter("event_type = 'purchase'") \
        .select(F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"),
                F.col("event_id").alias("b_id"))
    joined = interval_stream_join(
        clicks_s.withColumnRenamed("user_id", "key"),
        buys_s.withColumnRenamed("b_user", "key"),
        "key", left_ts="c_ts", right_ts="b_ts",
        watermark="30 days", within="2 HOURS",
    )
    run_to_memory(joined.select("c_id", "b_id"), "ssj_out", "append")
    got = sorted((r.c_id, r.b_id) for r in spark.table("ssj_out").collect())
    assert got == want and len(got) > 0


def test_snapshot_maintenance_idempotent_under_redelivery(
        spark, sf_dir, event_stream_dir, tmp_path):
    """The flagship path, streaming: 4 replayed micro-batches of the
    change log advance the maintained latest-cells state; the final
    state equals the batch full-rescan exactly.  Then the exactly-once-
    state guarantee: running the WHOLE stream again over the existing
    state (fresh checkpoint → every batch re-delivered) changes
    nothing, because the advance_latest_cells merge is idempotent."""
    from hbase_snapshotter_spark.operators.snapshot import latest_cells
    from hbase_snapshotter_spark.sources.changelog import events_as_changelog
    from hbase_snapshotter_spark.streaming.snapshot_stream import (
        maintain_snapshot,
    )

    batch_src = spark.read.parquet(event_stream_dir)
    state = str(tmp_path / "snapshot_state")
    cols = ["row_key", "family", "qualifier", "value", "cell_ts"]

    def run(checkpoint: str):
        stream = events_as_changelog(
            replay_stream(spark, event_stream_dir, batch_src.schema,
                          max_files_per_trigger=1))
        q, maintainer = maintain_snapshot(
            stream, state,
            checkpointLocation=str(tmp_path / checkpoint),
            availableNow=True)
        q.awaitTermination(120)
        return maintainer

    m = run("ckpt1")
    want = sorted(map(tuple, latest_cells(
        events_as_changelog(batch_src), None).select(*cols).collect()))
    got = sorted(map(tuple,
                     m.current_cells(spark).select(*cols).collect()))
    assert got == want and len(got) > 0

    m2 = run("ckpt2")  # full re-delivery over existing state
    again = sorted(map(tuple,
                       m2.current_cells(spark).select(*cols).collect()))
    assert again == want


def test_novelty_maintenance_streaming_equals_batch_and_redelivers(
        spark, tmp_path):
    """Continuous novelty (N34 streaming form): 4 replayed micro-batches
    probe the maintained bloom + verify exactly; the union of per-batch
    novel keys equals the distinct key set, each key is reported novel
    exactly once (in its first-arrival file), and a full re-delivery
    run over the existing state changes nothing."""
    from hbase_snapshotter_spark.streaming.novelty_stream import (
        novelty_step,
        seen_keys,
    )
    from hbase_snapshotter_spark.streaming.retention import maintain_state
    from hbase_snapshotter_spark.streaming.windows import replay_stream

    src = str(tmp_path / "doc_stream")
    # 4 files with overlapping keys: k0..k9 | k5..k14 | k0..k4 | k15..k19
    slices = [range(0, 10), range(5, 15), range(0, 5), range(15, 20)]
    for i, keys in enumerate(slices):
        spark.createDataFrame([(f"k{k}",) for k in keys], "key string") \
            .coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")
    import glob
    import shutil
    for i in range(4):
        part = glob.glob(f"{src}/f{i}/part-*.parquet")[0]
        shutil.move(part, f"{src}/file{i}.parquet")
        shutil.rmtree(f"{src}/f{i}")
    schema = spark.read.parquet(f"{src}/file0.parquet").schema

    state = str(tmp_path / "novelty_state")

    def run(ckpt):
        stream = replay_stream(spark, src, schema, max_files_per_trigger=1)
        q, m = maintain_state(
            stream, state, **novelty_step("key", expected_keys=100),
            checkpointLocation=str(tmp_path / ckpt), availableNow=True)
        q.awaitTermination(120)
        return m

    m = run("ckpt1")
    seen = {r["key"] for r in seen_keys(m, spark).collect()}
    assert seen == {f"k{k}" for k in range(20)}
    # each key novel exactly ONCE across all batch dirs (no dup
    # reports; r8: dirs listed through the retention compactor — same
    # dirs while nothing has been compacted)
    all_novel = [r["key"] for d in m._compactor.table_dirs("seen")
                 for r in spark.read.parquet(d).collect()]
    assert sorted(all_novel) == sorted(seen)

    dirs_before = {d: sorted(r["key"] for r in spark.read.parquet(d).collect())
                   for d in m._compactor.table_dirs("seen")}
    m2 = run("ckpt2")  # full re-delivery over existing state
    dirs_after = {d: sorted(r["key"] for r in spark.read.parquet(d).collect())
                  for d in m2._compactor.table_dirs("seen")}
    assert dirs_after == dirs_before


def test_neardup_maintenance_streaming_verdicts_and_redelivery(
        spark, tmp_path):
    """Continuous near-dup detection (N57 streaming form): three
    replayed micro-batches check against the maintained band index —
    batch 0 is all-novel, batch 1's copy matches its batch-0 twin
    (doc 2, whose text never changes — verification reads the CURRENT
    corpus, so the copied doc must be one the later edit leaves alone),
    batch 2's edit of doc 1 is checked against OTHERS only and its
    band rows replace doc 1's in the index (document-wins); a full
    re-delivery run over the existing state reproduces every verdict
    directory exactly."""
    import glob
    import shutil

    from hbase_snapshotter_spark.operators.dedup import build_neardup_state
    from hbase_snapshotter_spark.streaming.neardup_stream import (
        neardup_index,
        neardup_step,
    )
    from hbase_snapshotter_spark.streaming.retention import maintain_state
    from hbase_snapshotter_spark.streaming.windows import replay_stream

    batches = [
        [(1, "a b c d e f g h"), (2, "p q r s t u v w")],
        [(3, "p q r s t u v w"), (4, "zz yy xx ww vv uu tt")],
        [(1, "m n o p q r s t")],
    ]
    src = str(tmp_path / "doc_stream")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")
        part = glob.glob(f"{src}/f{i}/part-*.parquet")[0]
        shutil.move(part, f"{src}/file{i}.parquet")
        shutil.rmtree(f"{src}/f{i}")
    schema = spark.read.parquet(f"{src}/file0.parquet").schema

    # the "warehouse" the crawl lands in: latest text per doc id
    corpus_rows = [(2, "p q r s t u v w"), (3, "p q r s t u v w"),
                   (4, "zz yy xx ww vv uu tt"), (1, "m n o p q r s t")]

    def corpus(s):
        return s.createDataFrame(corpus_rows, "doc_id long, text string")

    state = str(tmp_path / "nd_state")

    def run(ckpt):
        stream = replay_stream(spark, src, schema, max_files_per_trigger=1)
        q, m = maintain_state(
            stream, state, **neardup_step(corpus),
            checkpointLocation=str(tmp_path / ckpt), availableNow=True)
        q.awaitTermination(120)
        return m

    m = run("ckpt1")
    v = {r.doc_id: r for r in m.history(spark, "verdict").collect()}
    assert v[1].is_novel and v[2].is_novel          # batch 0: empty history
    assert not v[3].is_novel and v[3].best_match_id == 2 \
        and v[3].best_jaccard == 1.0                # copy of doc 2
    assert v[4].is_novel                            # disjoint text
    # batch 2's edit of doc 1 never matches itself; its neighbors are
    # far (jaccard 1/3 vs doc 2) so it reports novel
    assert v[1].n_matches == 0

    # document-wins: the index now carries the EDITED doc-1 band rows
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    edited = spark.createDataFrame([(1, "m n o p q r s t")],
                                   "doc_id long, text string")
    assert rows(neardup_index(m, spark).filter("doc_id = 1")) == \
        rows(build_neardup_state(edited, "doc_id"))

    # (r8: per-batch dirs are now listed through the retention
    # compactor — same dirs while nothing has been compacted)
    before = {d: rows(spark.read.parquet(d)) for d in
              m._compactor.table_dirs("verdict")}
    m2 = run("ckpt2")  # full re-delivery over existing state
    after = {d: rows(spark.read.parquet(d)) for d in
             m2._compactor.table_dirs("verdict")}
    assert after == before


def test_streaming_changefeed_reconstructs_state_and_redelivery_empty(
        spark, event_stream_dir, tmp_path):
    """N50 run continuously: each micro-batch publishes its I/U/D feed;
    applying the per-batch feeds in order onto an empty table
    reconstructs the final maintained state exactly, and a full
    re-delivery run (no-op state advances) publishes EMPTY feeds."""
    import os

    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.sources.changelog import events_as_changelog
    from hbase_snapshotter_spark.streaming.snapshot_stream import (
        maintain_snapshot,
    )

    batch_src = spark.read.parquet(event_stream_dir)
    state = str(tmp_path / "state")
    feeds = str(tmp_path / "feeds")

    def run(checkpoint: str):
        stream = events_as_changelog(
            replay_stream(spark, event_stream_dir, batch_src.schema,
                          max_files_per_trigger=1))
        q, m = maintain_snapshot(
            stream, state, feed_dir=feeds,
            checkpointLocation=str(tmp_path / checkpoint),
            availableNow=True)
        q.awaitTermination(120)
        return m

    m = run("ck1")
    final = {(r.row_key, r.family, r.qualifier): r.value
             for r in m.current_cells(spark).collect()}
    # apply feeds in batch order onto an empty table
    applied = {}
    batch_dirs = sorted(os.listdir(feeds), key=lambda n: int(n[1:]))
    assert len(batch_dirs) > 1
    for b in batch_dirs:
        for r in spark.read.parquet(f"{feeds}/{b}").collect():
            k = (r.row_key, r.family, r.qualifier)
            if r.op == "D":
                applied.pop(k, None)
            else:
                applied[k] = r.new_value
    assert applied == final and len(final) > 0

    run("ck2")  # full re-delivery: every batch advance is a no-op
    for b in sorted(os.listdir(feeds)):
        assert spark.read.parquet(f"{feeds}/{b}").count() == 0


def test_drift_monitor_streaming_verdicts_and_redelivery(spark, tmp_path):
    """Continuous drift monitoring (N66 streaming form): three replayed
    micro-batches score against a materialized reference histogram —
    batch 0 matches the reference shape (undrifted), batch 1 is a
    shifted distribution (drifted, both per-batch and cumulative),
    batch 2 is clean again (per-batch undrifted, cumulative still
    poisoned by batch 1).  Every PSI is python-replayed exactly; a full
    re-delivery run over the existing state reproduces every verdict
    directory."""
    import glob
    import math
    import shutil

    from hbase_snapshotter_spark.operators.profile import PSI_DRIFT_THRESHOLD
    from hbase_snapshotter_spark.operators.sketches import DD_LN_GAMMA
    from hbase_snapshotter_spark.streaming.drift_stream import (
        build_drift_reference,
        cumulative_histogram,
        drift_step,
    )
    from hbase_snapshotter_spark.streaming.retention import maintain_state
    from hbase_snapshotter_spark.streaming.windows import replay_stream

    def bkt(v):
        return math.ceil(round(math.log(v) / DD_LN_GAMMA, 6))

    def py_psi(ref_hist, obs_hist):
        buckets = set(ref_hist) | set(obs_hist)
        na, nb, nk = (sum(ref_hist.values()), sum(obs_hist.values()),
                      len(buckets))
        micro = 0
        for k in buckets:
            p = (ref_hist.get(k, 0) + 0.5) / (na + 0.5 * nk)
            q = (obs_hist.get(k, 0) + 0.5) / (nb + 0.5 * nk)
            micro += int(round((p - q) * math.log(p / q) * 1e6))
        return (20000 * micro + 1_000_000) // 2_000_000 / 10000

    ref_vals = [1.0] * 30 + [2.0] * 30
    ref_hist = {bkt(1.0): 30, bkt(2.0): 30}
    ref_dir = str(tmp_path / "ref")
    build_drift_reference(
        spark.createDataFrame([("g", v) for v in ref_vals], ["grp", "v"]),
        "v", ref_dir, group_cols=["grp"])

    batches = [
        [1.0] * 5 + [2.0] * 5,   # reference shape
        [8.0] * 10,               # shifted
        [1.0] * 3 + [2.0] * 3,   # clean again
    ]
    hists = [
        {bkt(1.0): 5, bkt(2.0): 5},
        {bkt(8.0): 10},
        {bkt(1.0): 3, bkt(2.0): 3},
    ]
    src = str(tmp_path / "value_stream")
    for i, vals in enumerate(batches):
        spark.createDataFrame([("g", v) for v in vals], ["grp", "v"]) \
            .coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")
        part = glob.glob(f"{src}/f{i}/part-*.parquet")[0]
        shutil.move(part, f"{src}/file{i}.parquet")
        shutil.rmtree(f"{src}/f{i}")
    schema = spark.read.parquet(f"{src}/file0.parquet").schema

    state = str(tmp_path / "drift_state")

    def run(ckpt):
        stream = replay_stream(spark, src, schema, max_files_per_trigger=1)
        q, m = maintain_state(
            stream, state, **drift_step(ref_dir, "v", ["grp"]),
            checkpointLocation=str(tmp_path / ckpt), availableNow=True)
        q.awaitTermination(120)
        return m

    m = run("ckpt1")
    got = {r["batch_id"]: r.asDict()
           for r in m.history(spark, "verdict").collect()}
    assert set(got) == {0, 1, 2}

    cum = {}
    for i, h in enumerate(hists):
        for k, c in h.items():
            cum[k] = cum.get(k, 0) + c
        expect_b = py_psi(ref_hist, hists[i])
        expect_c = py_psi(ref_hist, dict(cum))
        assert got[i]["psi_batch"] == expect_b, i
        assert got[i]["psi_cum"] == expect_c, i
        assert got[i]["drifted_batch"] is bool(expect_b > PSI_DRIFT_THRESHOLD)
        assert got[i]["drifted_cum"] is bool(expect_c > PSI_DRIFT_THRESHOLD)
    assert got[0]["drifted_batch"] is False
    assert got[1]["drifted_batch"] is True      # the shifted batch alarms
    assert got[2]["drifted_batch"] is False     # clean batch, but ...
    assert got[2]["drifted_cum"] is True        # ... the run stays poisoned

    # cumulative histogram equals the histogram of everything seen
    ch = {r["bucket"]: r["cnt"]
          for r in cumulative_histogram(m, spark, ["grp"]).collect()}
    assert ch == cum

    # (r8: per-batch verdict dirs are now listed through the retention
    # compactor — same dirs while nothing has been compacted)
    dirs_before = {d: sorted(map(str, spark.read.parquet(d).collect()))
                   for d in m._compactor.table_dirs("verdict")}
    m2 = run("ckpt2")  # full re-delivery over existing state
    dirs_after = {d: sorted(map(str, spark.read.parquet(d).collect()))
                  for d in m2._compactor.table_dirs("verdict")}
    assert dirs_after == dirs_before


def test_ewma_monitor_streaming_equals_batch_and_redelivers(spark, tmp_path):
    """Continuous EWMA (N72 streaming form): three replayed
    micro-batches of finalized bucket rows fold from saved state; the
    concatenated streamed verdicts equal the batch ewma_smooth over
    the full grid BIT-FOR-BIT (integer recurrence), a group silent in
    one batch carries state forward, and a full re-delivery run
    reproduces every directory."""
    import glob
    import shutil

    from hbase_snapshotter_spark.operators.timeseries import ewma_smooth
    from hbase_snapshotter_spark.streaming.ewma_stream import ewma_step
    from hbase_snapshotter_spark.streaming.retention import maintain_state
    from hbase_snapshotter_spark.streaming.windows import replay_stream

    batches = [
        [("g", 0, 1.0), ("g", 1, 2.0), ("h", 0, 4.0)],
        [("g", 2, 10.0), ("g", 3, 3.0)],            # h silent
        [("g", 4, 2.5), ("h", 5, 8.0)],             # h resumes
    ]
    src = str(tmp_path / "bucket_stream")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, ["grp", "bucket", "v"]) \
            .coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")
        part = glob.glob(f"{src}/f{i}/part-*.parquet")[0]
        shutil.move(part, f"{src}/file{i}.parquet")
        shutil.rmtree(f"{src}/f{i}")
    schema = spark.read.parquet(f"{src}/file0.parquet").schema

    state = str(tmp_path / "ewma_state")

    def run(ckpt):
        stream = replay_stream(spark, src, schema, max_files_per_trigger=1)
        q, m = maintain_state(
            stream, state, **ewma_step("v", ["grp"]),
            checkpointLocation=str(tmp_path / ckpt), availableNow=True)
        q.awaitTermination(120)
        return m

    m = run("ckpt1")
    streamed = {(r["grp"], r["bucket"]): (r["ewma"], r["dev_micro"],
                                          r["is_excursion"])
                for r in m.history(spark, "verdict").collect()}
    full = spark.createDataFrame(
        [r for b in batches for r in b], ["grp", "bucket", "v"])
    expect = {(r["grp"], r["bucket"]): (r["ewma"], r["dev_micro"],
                                        r["is_excursion"])
              for r in ewma_smooth(full, group_cols=["grp"],
                                   value_col="v").collect()}
    assert streamed == expect  # bit-identical chain continuation

    # h's state survived its silent batch
    st = {r["grp"]: (r["last_bucket"], r["ewma_micro"])
          for r in m.latest(spark, "state").collect()}
    assert st["h"][0] == 5 and st["g"][0] == 4

    dirs_before = {d: sorted(map(str, spark.read.parquet(
        f"{d}/verdict").collect())) for d in m._compactor.live_done_dirs()}
    m2 = run("ckpt2")  # full re-delivery over existing state
    dirs_after = {d: sorted(map(str, spark.read.parquet(
        f"{d}/verdict").collect())) for d in m2._compactor.live_done_dirs()}
    assert dirs_after == dirs_before


def test_ewma_retention_bounds_dirs_and_preserves_reads(spark, tmp_path):
    """Maintainer retention (VERDICT r7 task 5): a long run of
    micro-batches holds the directory count bounded (<= keep_last live
    batch dirs + ONE compact generation), reads are unchanged vs the
    unbounded r7 behavior, the EWMA chain still equals the batch fold
    bit-for-bit, and a re-delivered compacted batch id is a no-op."""
    import os

    from hbase_snapshotter_spark.operators.timeseries import ewma_smooth
    from hbase_snapshotter_spark.streaming.ewma_stream import ewma_step
    from hbase_snapshotter_spark.streaming.retention import StateMaintainer

    N, KEEP = 24, 5
    batches = [[("g", i, float(1 + (i * 7) % 5)),
                ("h", i, float(2 + (i * 3) % 4))] for i in range(N)]

    state = str(tmp_path / "ewma_ret")
    m = StateMaintainer(state, **ewma_step("v", ["grp"]), retention=KEEP)
    for i, rows in enumerate(batches):
        m.process_batch(
            spark.createDataFrame(rows, ["grp", "bucket", "v"]), i)

    entries = os.listdir(state)
    live = [d for d in entries if d.startswith("batch=")]
    gens = [d for d in entries if d.startswith("compact=")]
    assert len(live) <= KEEP + 1      # bounded, not O(N)
    assert len(gens) == 1             # exactly one generation
    assert not any(d.startswith("__compact_tmp") for d in entries)

    # reads unchanged: every batch's verdicts present exactly once,
    # and the chain equals the batch fold over the full grid
    streamed = {(r["grp"], r["bucket"]): (r["ewma"], r["is_excursion"])
                for r in m.history(spark, "verdict").collect()}
    full = spark.createDataFrame(
        [r for b in batches for r in b], ["grp", "bucket", "v"])
    expect = {(r["grp"], r["bucket"]): (r["ewma"], r["is_excursion"])
              for r in ewma_smooth(full, group_cols=["grp"],
                                   value_col="v").collect()}
    assert streamed == expect
    # no dup rows from compaction
    assert m.history(spark, "verdict").count() == 2 * N

    # re-delivery of a compacted batch id: watermark no-op, zero new dirs
    wm = m._compactor.watermark()
    assert 0 <= wm < N - KEEP + 1
    before = sorted(os.listdir(state))
    m.process_batch(
        spark.createDataFrame(batches[0], ["grp", "bucket", "v"]), 0)
    assert sorted(os.listdir(state)) == before
    assert {(r["grp"], r["bucket"]): (r["ewma"], r["is_excursion"])
            for r in m.history(spark, "verdict").collect()} == expect

    # a fresh monitor over the same dirs (restart) reads identically
    m2 = StateMaintainer(state, **ewma_step("v", ["grp"]), retention=KEEP)
    assert {(r["grp"], r["bucket"]): (r["ewma"], r["is_excursion"])
            for r in m2.history(spark, "verdict").collect()} == expect


def test_neardup_retention_preserves_document_wins(spark, tmp_path):
    """NearDup maintainer retention: band rows keep their __batch tag
    through the generation, so document-wins and verdicts match the
    unbounded run; compacted batch ids no-op on re-delivery (re-adding
    one would double its band rows)."""
    import os

    from hbase_snapshotter_spark.streaming.neardup_stream import (
        neardup_index,
        neardup_step,
    )
    from hbase_snapshotter_spark.streaming.retention import StateMaintainer

    N, KEEP = 12, 3
    corpus_rows = [(b * 10 + j, f"doc {b} {j} text body filler")
                   for b in range(N) for j in range(2)]
    # batch 5 RE-INGESTS doc 1 (an edit) — document-wins must keep
    # only its latest band rows through compaction
    batches = {b: [(b * 10 + j, f"doc {b} {j} text body filler")
                   for j in range(2)] for b in range(N)}
    batches[5].append((1, "doc 0 1 text body filler EDITED"))
    corpus = lambda s: s.createDataFrame(  # noqa: E731
        corpus_rows + [(1, "doc 0 1 text body filler EDITED")],
        ["doc_id", "text"])

    def run(root, retention):
        m = StateMaintainer(str(root), **neardup_step(corpus),
                            retention=retention)
        for b in range(N):
            m.process_batch(
                spark.createDataFrame(batches[b], ["doc_id", "text"]), b)
        return m

    m_ret = run(tmp_path / "ret", KEEP)
    m_ref = run(tmp_path / "ref", None)

    key = lambda r: (r["doc_id"],)  # noqa: E731
    got = sorted(map(str, m_ret.history(spark, "verdict").collect()))
    ref = sorted(map(str, m_ref.history(spark, "verdict").collect()))
    assert got == ref
    got_state = sorted(map(str, neardup_index(m_ret, spark).collect()))
    ref_state = sorted(map(str, neardup_index(m_ref, spark).collect()))
    assert got_state == ref_state  # document-wins identical

    sdir = str(tmp_path / "ret")
    live = [d for d in os.listdir(sdir) if d.startswith("batch=")]
    assert len(live) <= KEEP + 1

    # compacted re-delivery: no new dirs, state unchanged
    before = sorted(os.listdir(sdir))
    m_ret.process_batch(
        spark.createDataFrame(batches[0], ["doc_id", "text"]), 0)
    assert sorted(os.listdir(sdir)) == before


def test_novelty_retention_bounds_dirs_and_preserves_seen_set(
        spark, tmp_path):
    """N78 applied to the novelty maintainer: a long run with a small
    keep-window holds the directory count bounded, the seen-key set and
    once-per-key novelty reports are unchanged vs an unbounded run, a
    restart over compacted state rebuilds the bitmap correctly (novel
    keys still detected), and a re-delivered compacted batch is a
    no-op."""
    import os

    from hbase_snapshotter_spark.streaming.novelty_stream import (
        novelty_step,
        seen_keys,
    )
    from hbase_snapshotter_spark.streaming.retention import StateMaintainer

    N, KEEP = 16, 3
    # each batch: 4 fresh keys + 2 re-sent from the previous batch
    batches = [
        [(f"k{4 * i + j}",) for j in range(4)]
        + ([(f"k{4 * (i - 1) + j}",) for j in range(2)] if i else [])
        for i in range(N)]

    def run(root, retention):
        m = StateMaintainer(str(root), **novelty_step(
            "key", expected_keys=256), retention=retention)
        for i, rows in enumerate(batches):
            m.process_batch(spark.createDataFrame(rows, "key string"), i)
        return m

    m_ret = run(tmp_path / "ret", KEEP)
    m_ref = run(tmp_path / "ref", None)

    seen_ret = sorted(r["key"] for r in seen_keys(m_ret, spark).collect())
    seen_ref = sorted(r["key"] for r in seen_keys(m_ref, spark).collect())
    assert seen_ret == seen_ref == sorted(f"k{k}" for k in range(4 * N))

    # once-per-key novelty reports survive compaction (the generation
    # holds the compacted union, live dirs the rest — no dup, no loss)
    all_novel = sorted(r["key"] for d in m_ret._compactor.table_dirs("seen")
                       for r in spark.read.parquet(d).collect())
    assert all_novel == seen_ref

    live = [d for d in os.listdir(str(tmp_path / "ret"))
            if d.startswith("batch=")]
    assert len(live) <= KEEP + 1  # keep-window (+1 in-flight slack)

    # restart over compacted state: bitmap recovery reads through the
    # generation; an already-seen key is NOT novel, a fresh key is
    m2 = StateMaintainer(str(tmp_path / "ret"), **novelty_step(
        "key", expected_keys=256), retention=KEEP)
    m2.process_batch(
        spark.createDataFrame([("k0",), ("fresh",)], "key string"), N)
    assert sorted(r["key"] for r in spark.read.parquet(
        str(tmp_path / "ret" / f"batch={N}" / "seen")).collect()) == ["fresh"]

    # re-delivered compacted batch id: no new dirs, nothing rewritten
    before = sorted(os.listdir(str(tmp_path / "ret")))
    m2.process_batch(spark.createDataFrame(batches[0], "key string"), 0)
    assert sorted(os.listdir(str(tmp_path / "ret"))) == before


def test_heavy_hitters_maintenance_guarantees_and_redelivery(
        spark, tmp_path):
    """Continuous heavy hitters (N81): a real readStream replay
    advances the mergeable Misra-Gries state batch by batch; at the
    end every MG guarantee holds against the EXACT histogram of
    everything streamed — tracked items bracketed by
    [cnt, cnt + dec], untracked items bounded by dec,
    dec ≤ n/(k+1), zero false negatives at the support threshold,
    and every confirmed row is a true hitter — and a full re-delivery
    run over the existing state changes nothing."""
    import os
    from collections import Counter

    from hbase_snapshotter_spark.streaming.freq_stream import (
        heavy_hitters_meta,
        heavy_hitters_step,
    )
    from hbase_snapshotter_spark.streaming.retention import maintain_state
    from hbase_snapshotter_spark.streaming.windows import replay_stream

    # 4 replay files: two persistent hot items + per-file cold tails
    files = [
        ["hot_a"] * 40 + ["hot_b"] * 25 + [f"cold{i}_{j}" for j in range(30)]
        for i in range(4)]
    src = str(tmp_path / "tok_stream")
    os.makedirs(src)
    for i, toks in enumerate(files):
        spark.createDataFrame([(t,) for t in toks], "item string") \
            .coalesce(1).write.parquet(f"{src}/f{i}")
    import glob
    import shutil
    for i in range(4):
        part = glob.glob(f"{src}/f{i}/part-*.parquet")[0]
        shutil.move(part, f"{src}/file{i}.parquet")
        shutil.rmtree(f"{src}/f{i}")
    schema = spark.read.parquet(f"{src}/file0.parquet").schema

    K, SUPPORT = 12, 100  # 10% support; k > 1000/support for safety
    state = str(tmp_path / "hh_state")

    def run(ckpt):
        stream = replay_stream(spark, src, schema, max_files_per_trigger=1)
        q, m = maintain_state(
            stream, state,
            **heavy_hitters_step("item", k=K, support_permille=SUPPORT),
            checkpointLocation=str(tmp_path / ckpt), availableNow=True)
        q.awaitTermination(120)
        return m

    m = run("ckpt1")

    true = Counter(t for toks in files for t in toks)
    n = sum(true.values())
    n_state, dec = heavy_hitters_meta(m, spark)
    assert n_state == n
    assert dec <= n // (K + 1)

    tracked = {r["item"]: r["cnt"] for r in m.latest(spark, "state").collect()}
    for item, cnt in tracked.items():
        assert cnt <= true[item] <= cnt + dec, item
    for item, t in true.items():
        if item not in tracked:
            assert t <= dec, item

    hit_rows = {r["item"]: r
                for r in m.latest(spark, "verdict").collect()}
    exact_hitters = {i for i, t in true.items() if t * 1000 >= SUPPORT * n}
    assert exact_hitters == {"hot_a", "hot_b"}
    assert exact_hitters <= set(hit_rows)          # zero false negatives
    for item, r in hit_rows.items():
        assert r["cnt_lower"] <= true[item] <= r["cnt_upper"]
        if r["confirmed"]:
            assert item in exact_hitters           # confirmed ⇒ true hitter

    # full re-delivery over existing state: byte-identical verdicts
    before = sorted(map(str, m.history(spark, "verdict").collect()))
    m2 = run("ckpt2")
    assert sorted(map(str, m2.history(spark, "verdict").collect())) == before


def test_heavy_hitters_retention_bounds_dirs(spark, tmp_path):
    """N78 applied to the heavy-hitters maintainer: a long direct-call
    run with a small keep-window bounds the dir count, the latest
    hitter verdict and state equal the unbounded run's, and a
    re-delivered compacted batch id is a no-op."""
    import os

    from hbase_snapshotter_spark.streaming.freq_stream import (
        heavy_hitters_meta,
        heavy_hitters_step,
    )
    from hbase_snapshotter_spark.streaming.retention import StateMaintainer

    N, KEEP, K = 15, 3, 8
    batches = [["hot"] * 10 + [f"c{i}_{j}" for j in range(12)]
               for i in range(N)]

    def run(root, retention):
        m = StateMaintainer(str(root), **heavy_hitters_step(
            "item", k=K, support_permille=200), retention=retention)
        for i, toks in enumerate(batches):
            m.process_batch(
                spark.createDataFrame([(t,) for t in toks], "item string"),
                i)
        return m

    m_ret = run(tmp_path / "ret", KEEP)
    m_ref = run(tmp_path / "ref", None)

    assert sorted(map(str, m_ret.latest(spark, "verdict").collect())) == \
        sorted(map(str, m_ref.latest(spark, "verdict").collect()))
    assert sorted(map(str, m_ret.latest(spark, "state").collect())) == \
        sorted(map(str, m_ref.latest(spark, "state").collect()))
    assert heavy_hitters_meta(m_ret, spark) == \
        heavy_hitters_meta(m_ref, spark)

    live = [d for d in os.listdir(str(tmp_path / "ret"))
            if d.startswith("batch=")]
    assert len(live) <= KEEP + 1

    before = sorted(os.listdir(str(tmp_path / "ret")))
    m_ret.process_batch(
        spark.createDataFrame([(t,) for t in batches[0]], "item string"), 0)
    assert sorted(os.listdir(str(tmp_path / "ret"))) == before


def test_sketch_state_maintenance_streamed_equals_batch_bit_for_bit(
        spark, event_stream_dir, tmp_path):
    """Continuous sketch-state maintenance (N85): advancing the
    DDSketch quantile state AND the CMS state through a real
    readStream replay yields, after the last micro-batch, EXACTLY the
    state a single batch build over everything produces — bit for bit,
    because the bucket-sum merge is lossless — and a full re-delivery
    run over the existing state changes nothing (bucket-sum is not
    idempotent; the done-marker guard is the correctness line)."""
    from hbase_snapshotter_spark.operators.sketches import (
        cms_state,
        quantile_state,
    )
    from hbase_snapshotter_spark.streaming.retention import (
        full_state_step,
        maintain_state,
    )
    from hbase_snapshotter_spark.streaming.sketch_stream import sketch_apply
    from hbase_snapshotter_spark.streaming.windows import replay_stream

    src = spark.read.parquet(event_stream_dir)
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731

    lanes = {
        "dd": (lambda df: quantile_state(df, "value",
                                         group_cols=["event_type"]),
               ["event_type", "bucket"],
               quantile_state(src, "value", group_cols=["event_type"])),
        "cms": (lambda df: cms_state(df, "event_type", group_cols=[]),
                ["depth", "bucket"],
                cms_state(src, "event_type", group_cols=[])),
    }
    for name, (builder, keys, batch_state) in lanes.items():
        state_dir = str(tmp_path / f"{name}_state")

        def run(ckpt):
            stream = replay_stream(spark, event_stream_dir, src.schema,
                                   max_files_per_trigger=1)
            q, m = maintain_state(
                stream, state_dir,
                full_state_step(sketch_apply(builder, keys)),
                checkpointLocation=str(tmp_path / ckpt), availableNow=True)
            q.awaitTermination(120)
            return m

        m = run(f"{name}_ckpt1")
        assert rows(m.latest(spark, "state")) == rows(batch_state), name
        m2 = run(f"{name}_ckpt2")  # full re-delivery: no re-application
        assert rows(m2.latest(spark, "state")) == rows(batch_state), name


def test_sketch_state_retention_bounds_dirs(spark, tmp_path):
    """N78 on the sketch maintainer: expired full-state dirs delete
    outright (each is subsumed by every newer state), the dir count
    stays bounded, the final state equals the unbounded run's, and a
    re-delivered expired batch id is a no-op."""
    import os

    from hbase_snapshotter_spark.operators.sketches import quantile_state
    from hbase_snapshotter_spark.streaming.retention import (
        StateMaintainer,
        full_state_step,
    )
    from hbase_snapshotter_spark.streaming.sketch_stream import sketch_apply

    N, KEEP = 14, 3
    batches = [
        spark.createDataFrame(
            [("g", float(1 + (7 * i + j) % 9)) for j in range(6)],
            "event_type string, value double")
        for i in range(N)]
    builder = lambda df: quantile_state(  # noqa: E731
        df, "value", group_cols=["event_type"])
    keys = ["event_type", "bucket"]

    def run(root, retention):
        m = StateMaintainer(
            str(root), full_state_step(sketch_apply(builder, keys)),
            retention=retention)
        for i, b in enumerate(batches):
            m.process_batch(b, i)
        return m

    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    m_ret = run(tmp_path / "ret", KEEP)
    m_ref = run(tmp_path / "ref", None)
    assert rows(m_ret.latest(spark, "state")) == \
        rows(m_ref.latest(spark, "state"))

    live = [d for d in os.listdir(str(tmp_path / "ret"))
            if d.startswith("batch=")]
    assert len(live) <= KEEP + 1

    before_state = rows(m_ret.latest(spark, "state"))
    before_dirs = sorted(os.listdir(str(tmp_path / "ret")))
    m_ret.process_batch(batches[0], 0)  # re-delivered expired id
    assert rows(m_ret.latest(spark, "state")) == before_state
    assert sorted(os.listdir(str(tmp_path / "ret"))) == before_dirs


def test_topk_maintenance_streamed_equals_batch_and_idempotent(
        spark, event_stream_dir, tmp_path):
    """N88 streaming form: a readStream replay advances the per-group
    top-k state; the final state equals the batch top-k over
    everything, a full re-delivery changes nothing, and — the
    algebraic claim — re-applying an ALREADY-REFLECTED delta directly
    (guard bypassed) is a no-op by idempotence, not just by marker."""
    from pyspark.sql import functions as F

    from hbase_snapshotter_spark.operators.timeseries import (
        advance_topk_state,
        topk_state,
    )
    from hbase_snapshotter_spark.streaming.retention import (
        full_state_step,
        maintain_state,
    )
    from hbase_snapshotter_spark.streaming.topk_stream import topk_apply
    from hbase_snapshotter_spark.streaming.windows import replay_stream

    src = spark.read.parquet(event_stream_dir) \
        .filter(F.col("value").isNotNull())
    kw = dict(group_cols=["event_type"], id_col="event_id",
              score_col="value", k=4)
    state_dir = str(tmp_path / "topk_state")
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731

    def run(ckpt):
        stream = replay_stream(spark, event_stream_dir, src.schema,
                               max_files_per_trigger=1) \
            .filter(F.col("value").isNotNull())
        q, m = maintain_state(
            stream, state_dir, full_state_step(topk_apply(**kw)),
            checkpointLocation=str(tmp_path / ckpt), availableNow=True)
        q.awaitTermination(120)
        return m

    m = run("ckpt1")
    want = rows(topk_state(
        src.select("event_type", "event_id", "value"), **kw))
    assert rows(m.latest(spark, "state")) == want
    m2 = run("ckpt2")  # full re-delivery through the maintainer
    assert rows(m2.latest(spark, "state")) == want

    # idempotence proper: re-advance the final state by a slice it
    # already contains — bit-identical, no guard involved
    readv = advance_topk_state(
        m.latest(spark, "state"),
        src.select("event_type", "event_id", "value").limit(200), **kw)
    assert rows(readv) == want


def test_streamed_sessionization_equals_batch(spark, event_stream_dir,
                                              tmp_path):
    """N95: the continuous sessionization maintainer — streamed over a
    TIME-SHUFFLED 4-file replay (each micro-batch holds a random slice
    of every key's timeline, so sessions split and merge across
    batches in arrival order ≠ event order) — reproduces the batch
    N93 form bit-for-bit: the interval state equals
    session_intervals(all events) and the derived economics equals
    session_stats(all events).  A full re-delivery changes nothing."""
    from hbase_snapshotter_spark.operators.timeseries import (
        session_economics,
        session_intervals,
        session_stats,
    )
    from hbase_snapshotter_spark.streaming.retention import (
        full_state_step,
        maintain_state,
    )
    from hbase_snapshotter_spark.streaming.session_stream import (
        session_apply,
    )
    from hbase_snapshotter_spark.streaming.windows import replay_stream

    GAP_MS = 6 * 3600 * 1000
    src = spark.read.parquet(event_stream_dir)
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    want_state = rows(session_intervals(
        src, key_col="user_id", ts_col="ts", id_col="event_id",
        gap_ms=GAP_MS))
    want_econ = rows(session_stats(
        src, key_col="user_id", ts_col="ts", id_col="event_id",
        gap_ms=GAP_MS))
    state_dir = str(tmp_path / "sess_state")

    def run(ckpt):
        stream = replay_stream(spark, event_stream_dir, src.schema,
                               max_files_per_trigger=1)
        q, m = maintain_state(
            stream, state_dir, full_state_step(session_apply(
                key_col="user_id", ts_col="ts", id_col="event_id",
                gap_ms=GAP_MS)),
            checkpointLocation=str(tmp_path / ckpt), availableNow=True)
        q.awaitTermination(120)
        return m

    m = run("sess_ckpt1")
    assert rows(m.latest(spark, "state")) == want_state
    assert rows(session_economics(m.latest(spark, "state"))) == want_econ
    m2 = run("sess_ckpt2")  # full re-delivery: merge must not re-apply
    assert rows(m2.latest(spark, "state")) == want_state
    assert rows(session_economics(m2.latest(spark, "state"))) == want_econ


def test_session_state_retention_bounds_dirs(spark, tmp_path):
    """N78 on the sessionization maintainer: expired full-state dirs
    delete outright, the dir count stays bounded, and the final state
    equals the unbounded run's."""
    import os

    from hbase_snapshotter_spark.streaming.retention import (
        StateMaintainer,
        full_state_step,
    )
    from hbase_snapshotter_spark.streaming.session_stream import (
        session_apply,
    )

    N, KEEP = 12, 3
    batches = [
        spark.createDataFrame(
            [(f"u{j % 3}", (17 * i + 5 * j) % 240, i * 100 + j)
             for j in range(8)],
            "k string, mins long, eid long")
        .selectExpr("k", "timestamp_millis(mins * 60000) AS ts", "eid")
        for i in range(N)]

    def run(root, retention):
        m = StateMaintainer(
            str(root), full_state_step(session_apply(
                key_col="k", ts_col="ts", id_col="eid", gap_ms=10 * 60000)),
            retention=retention)
        for i, b in enumerate(batches):
            m.process_batch(b, i)
        return m

    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    bounded = run(tmp_path / "bounded", KEEP)
    unbounded = run(tmp_path / "unbounded", None)
    assert rows(bounded.latest(spark, "state")) == \
        rows(unbounded.latest(spark, "state"))
    n_dirs = len([d for d in os.listdir(tmp_path / "bounded")
                  if d.startswith("batch=")])
    assert n_dirs <= KEEP + 1
    # re-delivering an expired (compacted-away) batch id is a no-op
    bounded.process_batch(batches[0], 0)
    assert rows(bounded.latest(spark, "state")) == \
        rows(unbounded.latest(spark, "state"))


def test_streamed_funnel_matches_equal_batch(spark, tmp_path):
    """N98: funnel matching over watermark-closed sessions — streamed
    match rows plus a final batch pass over the leftover open buffer
    reproduce the batch pattern_matches over all delivered events
    BIT-FOR-BIT; watermark-closed sessions never re-open; a
    below-watermark late event is dropped (the documented lateness
    contract); full re-delivery is a no-op."""
    import pyspark.sql.functions as F

    from hbase_snapshotter_spark.operators.timeseries import pattern_matches
    from hbase_snapshotter_spark.streaming.funnel_stream import (
        funnel_step,
        funnel_watermark_ms,
    )
    from hbase_snapshotter_spark.streaming.retention import StateMaintainer

    GAP = 10 * 60000
    PATS = [("A", "C")]
    # two keys, sessions interleaved across time-ordered batches; every
    # match shape: within-batch, cross-batch (open session spans the
    # boundary), and a session that closes only via watermark advance
    rows = [
        # batch 0 (minutes 0-14)
        ("u1", 0, "A"), ("u1", 2, "B"), ("u2", 1, "A"), ("u2", 9, "C"),
        ("u1", 11, "C"),
        # batch 1 (minutes 30-49): u1 session 1 closes (gap from 11),
        # new sessions open; u2's A@31 stays pending across the batch
        ("u1", 30, "A"), ("u2", 31, "A"), ("u1", 38, "C"),
        # batch 2 (minutes 60-80): closes everything before 60-10-gap
        ("u2", 65, "C"), ("u1", 70, "A"), ("u1", 78, "C"),
    ]
    batches = [rows[:5], rows[5:8], rows[8:]]

    def df_of(i, batch):  # deterministic unique ids across batches
        return spark.createDataFrame(
            [(k, m, s, i * 100 + j) for j, (k, m, s) in enumerate(batch)],
            "k string, mins long, s string, eid long"
        ).select("k", F.expr("timestamp_millis(mins * 60000)").alias("ts"),
                 "s", "eid")

    m = StateMaintainer(str(tmp_path / "funnel"), **funnel_step(
        lambda ev: pattern_matches(
            ev, key_col="k", state_col="s", ts_col="ts", id_col="eid",
            patterns=PATS, gap_ms=GAP),
        key_col="k", state_col="s", ts_col="ts", id_col="eid", gap_ms=GAP))
    all_events = None
    for i, b in enumerate(batches):
        bdf = df_of(i, b)
        all_events = bdf if all_events is None else all_events.unionByName(bdf)
        m.process_batch(bdf, i)

    rows_of = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    want = rows_of(pattern_matches(
        all_events, key_col="k", state_col="s", ts_col="ts", id_col="eid",
        patterns=PATS, gap_ms=GAP))
    streamed = m.history(spark, "matches")
    leftover = pattern_matches(
        m.latest(spark, "open"), key_col="k", state_col="s", ts_col="ts",
        id_col="eid", patterns=PATS, gap_ms=GAP)
    got = rows_of(streamed.unionByName(leftover))
    assert got == want
    assert len(rows_of(streamed)) >= 2  # real closed-session matches

    # re-delivery of every batch: nothing re-appends
    for i, b in enumerate(batches):
        m.process_batch(df_of(i, b), i)
    assert rows_of(m.history(spark, "matches")
                   .unionByName(leftover)) == want

    # a below-watermark late event is dropped: replay an ancient event
    # as a NEW batch id — matches and open buffer stay unchanged
    wm_before = funnel_watermark_ms(m, spark)
    late = df_of(9, [("u1", 1, "C")])
    m.process_batch(late, 9)
    assert funnel_watermark_ms(m, spark) == wm_before  # monotone, no regress
    assert rows_of(m.history(spark, "matches").unionByName(leftover)) == want
    # and the late event never entered the open buffer
    assert m.latest(spark, "open").filter("eid >= 900").count() == 0


def test_index_feed_maintainer_bm25_and_pq(spark, sf_dir, tmp_path):
    """N100: the CDC-driven index maintainer — after a chain of
    insert/update/delete feed batches, the maintained BM25 postings
    state and the maintained PQ code table each equal the batch-built
    index over the NET corpus, bit-for-bit; re-delivering every batch
    changes nothing."""
    import pyspark.sql.functions as F

    from hbase_snapshotter_spark.operators.retrieval import build_bm25_index
    from hbase_snapshotter_spark.operators.similarity import (
        pq_codebook,
        pq_encode,
    )
    from hbase_snapshotter_spark.streaming.index_stream import (
        bm25_feed_apply,
        pq_feed_apply,
    )
    from hbase_snapshotter_spark.streaming.retention import (
        StateMaintainer,
        full_state_step,
    )

    rows_of = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731

    # ---- BM25 lane ----
    fs = "op string, doc_id long, text string"
    feeds = [
        spark.createDataFrame(
            [("I", 1, "red fox ran"), ("I", 2, "red dog"),
             ("I", 3, "blue fox fox"), ("I", 4, "green bird")], fs),
        spark.createDataFrame(
            [("U", 2, "red red whale"), ("D", 3, None),
             ("I", 5, "blue bird")], fs),
        spark.createDataFrame(
            [("D", 5, None), ("U", 1, "orange fox")], fs),
    ]
    m = StateMaintainer(str(tmp_path / "bm25"),
                        full_state_step(bm25_feed_apply()))
    for i, f in enumerate(feeds):
        m.process_batch(f, i)
    net = spark.createDataFrame(
        [(1, "orange fox"), (2, "red red whale"), (4, "green bird")],
        "doc_id long, text string")
    want, _ = build_bm25_index(net)
    cols = ["term", "doc_id", "dl", "tf"]
    assert rows_of(m.latest(spark, "state").select(*cols)) == \
        rows_of(want.select(*cols))
    for i, f in enumerate(feeds):  # re-delivery: apply must not re-run
        m.process_batch(f, i)
    assert rows_of(m.latest(spark, "state").select(*cols)) == \
        rows_of(want.select(*cols))

    # ---- PQ lane (frozen codebook from the fixture corpus) ----
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _cids, C = pq_codebook(emb)
    vec = lambda i: emb.filter(f"vec_id = {i}")  # noqa: E731
    neg = lambda df: df.withColumn(  # noqa: E731
        "embedding", F.transform("embedding", lambda x: -x))
    tag = lambda df, op: df.select(  # noqa: E731
        F.lit(op).alias("op"), "vec_id", "embedding")
    pq_feeds = [
        tag(emb.filter("vec_id < 6"), "I"),
        tag(neg(vec(2)), "U").unionByName(tag(vec(3), "D"))
        .unionByName(tag(vec(8), "I")),
        tag(vec(8), "D"),
    ]
    mp = StateMaintainer(str(tmp_path / "pq"),
                         full_state_step(pq_feed_apply(C)))
    for i, f in enumerate(pq_feeds):
        mp.process_batch(f, i)
    net_corpus = emb.filter("vec_id < 6 and vec_id not in (2, 3)") \
        .unionByName(neg(vec(2)))
    snap = lambda df: {r["vec_id"]: (list(r["__codes"]), r["__rn2"])  # noqa: E731
                       for r in df.collect()}
    assert snap(mp.latest(spark, "state")) == snap(pq_encode(net_corpus, C))


def test_frontier_maintenance_equals_batch(spark, event_stream_dir,
                                           tmp_path):
    """N107 streaming form: advancing the Pareto frontier through a
    real readStream replay (4 micro-batch files, arbitrary row split)
    yields exactly the batch-built frontier over everything — the
    skyline-merge algebra holds per batch boundary — and a full
    re-delivery over existing state changes nothing (count merge is
    not idempotent; the done-marker guard is the correctness line)."""
    import pyspark.sql.functions as F

    from hbase_snapshotter_spark.operators.sampling import pareto_frontier
    from hbase_snapshotter_spark.streaming.frontier_stream import (
        frontier_apply,
    )
    from hbase_snapshotter_spark.streaming.retention import (
        full_state_step,
        maintain_state,
    )
    from hbase_snapshotter_spark.streaming.windows import replay_stream

    src = spark.read.parquet(event_stream_dir)
    axes = lambda df: df.select(  # noqa: E731
        "event_type", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        F.unix_millis("ts").alias("ms"))
    kw = dict(group_cols=["event_type"], max_col="value_cents",
              min_col="ms", id_col="event_id")
    batch_frontier = pareto_frontier(axes(src), **kw)
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    state_dir = str(tmp_path / "frontier_state")

    def run(ckpt):
        stream = replay_stream(spark, event_stream_dir, src.schema,
                               max_files_per_trigger=1)
        q, m = maintain_state(
            axes(stream), state_dir, full_state_step(frontier_apply(**kw)),
            checkpointLocation=str(tmp_path / ckpt), availableNow=True)
        q.awaitTermination(120)
        return m

    m = run("ckpt1")
    assert rows(m.latest(spark, "state")) == rows(batch_frontier)
    m2 = run("ckpt2")  # full re-delivery: no re-application
    assert rows(m2.latest(spark, "state")) == rows(batch_frontier)


def test_attribution_maintenance_equals_batch(spark, sf_dir, tmp_path):
    """N102 streaming form: crediting conversions in watermark-closed
    sessions across TIME-ORDERED micro-batches (the streaming
    contract; N98 lateness semantics drop out-of-order stragglers),
    summed with the leftover open buffer's attribution, equals the
    batch session_attribution over all events bit-for-bit
    (attribution is session-internal and sum-decomposable across
    sessions); re-delivering a processed batch is a no-op."""
    import pyspark.sql.functions as F

    from hbase_snapshotter_spark.operators.timeseries import (
        session_attribution,
    )
    from hbase_snapshotter_spark.sources.changelog import read_table
    from hbase_snapshotter_spark.streaming.attribution_stream import (
        attribution_totals,
    )
    from hbase_snapshotter_spark.streaming.funnel_stream import funnel_step
    from hbase_snapshotter_spark.streaming.retention import StateMaintainer

    GAP = 30 * 60 * 1000
    kw = dict(key_col="user_id", ts_col="ts", id_col="event_id",
              type_col="event_type", conversion_type="purchase",
              touch_types=["view", "click"], gap_ms=GAP)
    src = read_table(spark, sf_dir, "events") \
        .select("user_id", "event_type", "ts", "event_id")
    # four time-ordered micro-batches (quartiles of the timeline)
    qs = src.select(F.unix_millis("ts").alias("ms")).approxQuantile(
        "ms", [0.25, 0.5, 0.75], 0.0)
    ms = F.unix_millis("ts")
    batches = [
        src.filter(ms < qs[0]),
        src.filter((ms >= qs[0]) & (ms < qs[1])),
        src.filter((ms >= qs[1]) & (ms < qs[2])),
        src.filter(ms >= qs[2]),
    ]
    m = StateMaintainer(str(tmp_path / "attr"), **funnel_step(
        lambda ev: session_attribution(ev, **kw), key_col="user_id",
        state_col="event_type", ts_col="ts", id_col="event_id", gap_ms=GAP))
    for i, b in enumerate(batches):
        m.process_batch(b, i)

    def total(df):
        return sorted(tuple(r) for r in df.groupBy("rule", "channel")
                      .agg(F.sum("n_conversions").cast("long").alias("n"),
                           F.sum("credit_micros").cast("long").alias("c"))
                      .collect())

    closed_part = attribution_totals(m, spark)
    leftover = session_attribution(m.latest(spark, "open"), **kw)
    streamed = total(closed_part.unionByName(leftover))
    assert streamed == total(session_attribution(src, **kw))
    assert closed_part.count() > 0  # the watermark closed sessions
    m.process_batch(batches[1], 1)  # re-delivery: append must not re-run
    streamed2 = total(attribution_totals(m, spark).unionByName(
        session_attribution(m.latest(spark, "open"), **kw)))
    assert streamed2 == streamed


def test_frontier_retention_bounds_dirs(spark, tmp_path):
    """N78 on the frontier maintainer: expired full-state dirs delete
    outright (the newest frontier subsumes every older one), the dir
    count stays bounded, the final frontier equals the unbounded
    run's, and a re-delivered expired batch id is a no-op."""
    import os

    from hbase_snapshotter_spark.streaming.frontier_stream import (
        frontier_apply,
    )
    from hbase_snapshotter_spark.streaming.retention import (
        StateMaintainer,
        full_state_step,
    )

    N, KEEP = 12, 3
    batches = [
        spark.createDataFrame(
            [("g", 100 + i * 10 + j, (7 * i + 3 * j) % 50 + 1,
              (11 * i + j) % 40 + 1) for j in range(5)],
            "grp string, doc_id long, x long, y long")
        for i in range(N)]
    kw = dict(group_cols=["grp"], max_col="x", min_col="y",
              id_col="doc_id")

    def run(root, retention):
        m = StateMaintainer(str(root), full_state_step(frontier_apply(**kw)),
                            retention=retention)
        for i, b in enumerate(batches):
            m.process_batch(b, i)
        return m

    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    m_ret = run(tmp_path / "ret", KEEP)
    m_ref = run(tmp_path / "ref", None)
    assert rows(m_ret.latest(spark, "state")) == \
        rows(m_ref.latest(spark, "state"))
    live = [d for d in os.listdir(str(tmp_path / "ret"))
            if d.startswith("batch=")]
    assert len(live) <= KEEP + 1
    before_state = rows(m_ret.latest(spark, "state"))
    before_dirs = sorted(os.listdir(str(tmp_path / "ret")))
    m_ret.process_batch(batches[0], 0)  # re-delivered expired id
    assert rows(m_ret.latest(spark, "state")) == before_state
    assert sorted(os.listdir(str(tmp_path / "ret"))) == before_dirs


def test_index_feed_maintainer_similarity_graph(spark, tmp_path):
    """N122 streaming form: the CDC-driven maintainer over the
    similarity-graph state — after insert/update/delete feed batches
    the maintained (shingle index, edge list) equals the batch build
    over the NET corpus bit-for-bit (including a deletion that pulls a
    shingle's df back under the cap), and re-delivering every batch
    changes nothing."""
    from hbase_snapshotter_spark.operators.dedup import (
        doc_shingles,
        shared_shingle_edges,
    )
    from hbase_snapshotter_spark.streaming.index_stream import (
        graph_feed_apply,
    )
    from hbase_snapshotter_spark.streaming.retention import (
        StateMaintainer,
        full_state_step,
    )

    base = "alpha beta gamma delta epsilon zeta"
    fs = "op string, doc_id long, text string"
    feeds = [
        spark.createDataFrame(
            [("I", i, f"{base} tail{i} end{i}") for i in range(4)]
            + [("I", 6, "common one two three x y z"),
               ("I", 7, "common one two three p q r")], fs),
        # push 'common one two' df over cap=4, replace doc 1
        spark.createDataFrame(
            [("I", 9, "common one two three j k l"),
             ("I", 10, "common one two three m n o"),
             ("U", 1, "totally different replacement text here")], fs),
        # delete doc 9: df falls back under the cap
        spark.createDataFrame([("D", 9, None)], fs),
    ]
    cap, ms = 4, 2
    m = StateMaintainer(
        str(tmp_path / "graph"),
        full_state_step(graph_feed_apply(min_shared=ms, max_df=cap)))
    for i, f in enumerate(feeds):
        m.process_batch(f, i)

    net = spark.createDataFrame(
        [(i, f"{base} tail{i} end{i}") for i in (0, 2, 3)]
        + [(1, "totally different replacement text here"),
           (6, "common one two three x y z"),
           (7, "common one two three p q r"),
           (10, "common one two three m n o")],
        "doc_id long, text string")
    state = m.latest(spark, "state")
    got_sh = {(r.doc_id, r.shingle)
              for r in state.filter("kind = 'sh'").collect()}
    want_sh = {(r.doc_id, r.shingle)
               for r in doc_shingles(net, "doc_id", "text", 3).collect()}
    assert got_sh == want_sh
    got_e = {(r.id_a, r.id_b, r.n_shared)
             for r in state.filter("kind = 'e'").collect()}
    want_e = {(r.id_a, r.id_b, r.n_shared)
              for r in shared_shingle_edges(
                  net, "doc_id", min_shared=ms, max_df=cap).collect()}
    assert got_e == want_e
    for i, f in enumerate(feeds):    # re-delivery: apply must not re-run
        m.process_batch(f, i)
    state2 = m.latest(spark, "state")
    assert {tuple(r) for r in state2.collect()} == \
        {tuple(r) for r in state.collect()}


def test_partial_batch_dir_is_ignored_and_redelivery_reruns_it(
        spark, tmp_path):
    """The one batch-dir protocol under a crash mid-step, for a
    multi-table union-read family (drift: ``hist`` + ``verdict``) and a
    full-state family (sketch): the crash leaves ``batch=<id>`` holding
    a table but no ``_DONE``; ``latest``/``history`` ignore that dir,
    re-delivering the batch id re-runs it, and the final reads equal an
    uninterrupted run's (bucket-sum is not idempotent, so reading the
    partial table as prior state would show)."""
    import os

    from hbase_snapshotter_spark.operators.sketches import quantile_state
    from hbase_snapshotter_spark.streaming.drift_stream import (
        build_drift_reference,
        cumulative_histogram,
        drift_step,
    )
    from hbase_snapshotter_spark.streaming.retention import (
        StateMaintainer,
        full_state_step,
    )
    from hbase_snapshotter_spark.streaming.sketch_stream import sketch_apply

    rows = lambda df: sorted(map(str, df.collect()))  # noqa: E731
    ref_dir = str(tmp_path / "ref_hist")
    build_drift_reference(
        spark.createDataFrame([("g", v) for v in [1.0] * 30 + [2.0] * 30],
                              ["grp", "v"]),
        "v", ref_dir, group_cols=["grp"])
    drift_batches = [
        spark.createDataFrame([("g", v) for v in vals], ["grp", "v"])
        for vals in ([1.0] * 5 + [2.0] * 5, [8.0] * 10,
                     [1.0] * 3 + [2.0] * 3)]
    sketch_batches = [
        spark.createDataFrame(
            [("g", float(1 + (7 * i + j) % 9)) for j in range(6)],
            "event_type string, value double")
        for i in range(3)]
    sketch = full_state_step(sketch_apply(
        lambda df: quantile_state(df, "value", group_cols=["event_type"]),
        ["event_type", "bucket"]))

    lanes = {
        "drift": (lambda: drift_step(ref_dir, "v", ["grp"]), drift_batches,
                  lambda m: (rows(m.history(spark, "verdict")),
                             rows(m.history(spark, "hist")),
                             rows(m.latest(spark, "verdict")),
                             rows(cumulative_histogram(m, spark, ["grp"])))),
        "sketch": (lambda: {"step": sketch}, sketch_batches,
                   lambda m: rows(m.latest(spark, "state"))),
    }

    def crash_after_first_write(step):
        def crashing(m, batch, batch_id, write):
            def write_then_crash(sub, df):
                write(sub, df)
                raise RuntimeError("crash mid-step")
            step(m, batch, batch_id, write_then_crash)
        return crashing

    for name, (family, batches, reads) in lanes.items():
        ref = StateMaintainer(str(tmp_path / name / "ref"), **family())
        for i, b in enumerate(batches):
            ref.process_batch(b, i)

        root = str(tmp_path / name / "crash")
        m = StateMaintainer(root, **family())
        for i, b in enumerate(batches[:-1]):
            m.process_batch(b, i)
        before = reads(m)
        last = len(batches) - 1
        crashing = {**family()}
        crashing["step"] = crash_after_first_write(crashing["step"])
        with pytest.raises(RuntimeError, match="crash mid-step"):
            StateMaintainer(root, **crashing).process_batch(
                batches[last], last)
        partial = os.path.join(root, f"batch={last}")
        assert len(os.listdir(partial)) == 1, name  # one table, no _DONE
        assert not os.path.exists(os.path.join(partial, "_DONE")), name

        # a restarted maintainer reads as if the batch never ran
        m = StateMaintainer(root, **family())
        assert reads(m) == before, name
        # re-delivery re-runs the batch whole and completes it
        m.process_batch(batches[last], last)
        assert os.path.exists(os.path.join(partial, "_DONE")), name
        assert reads(m) == reads(ref), name

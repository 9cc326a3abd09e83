"""Physical-plan assertions — the 100 TB design contract.

These tests pin the plan shapes that matter at scale: predicate pushdown
reaching the Parquet scan, broadcast joins for dimension tables, shuffle
counts, and whole-stage codegen coverage.  A refactor that silently
turns a broadcast into a sort-merge join or un-pushes a filter fails
here long before it would show up as a 100× regression on a cluster.
"""

import re

import pytest

from hbase_snapshotter_spark.queries.registry import QUERIES


def explain(spark, name, sf_dir):
    if name in QUERIES:
        df = QUERIES[name](spark, sf_dir)
    else:
        # r10: lanes folded into union suites keep their module
        # functions but lose their registry key — these tests keep
        # pinning the LANE's plan shape (asserting on the suite plan
        # would mix lanes: one lane's intended SMJ would fail another
        # lane's no-SMJ contract)
        import hbase_snapshotter_spark.queries.llm as llm
        import hbase_snapshotter_spark.queries.relational as rel
        import hbase_snapshotter_spark.queries.streaming_q as stq

        fn = next(getattr(mod, name) for mod in (llm, stq, rel)
                  if callable(getattr(mod, name, None)))
        df = fn(spark, sf_dir)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def exchange_args(plan: str) -> list[str]:
    """The partitioning of every Exchange in a formatted plan."""
    return re.findall(r"\(\d+\) Exchange\s*\nInput .*\nArguments: (.*)", plan)


def pushed_filters(plan: str) -> str:
    return " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))


def test_q1_filter_pushdown_and_column_pruning(spark, sf_dir):
    plan = explain(spark, "q1_pricing_summary", sf_dir)
    assert "LessThanOrEqual(l_shipdate" in pushed_filters(plan)
    # 7-column projection reaches the scan (no full-row read)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "l_orderkey" not in m.group(1)


def test_q3_broadcasts_dimensions(spark, sf_dir):
    plan = explain(spark, "q3_shipping_priority", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in pushed_filters(plan)
    assert "TakeOrderedAndProject" in plan          # limit without global sort


def test_q5_all_dim_joins_broadcast(spark, sf_dir):
    plan = explain(spark, "q5_local_supplier", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_snapshot_time_range_pushed_to_scan(spark, sf_dir):
    """The rebuild's equivalent of Scan.setTimeRange (reference:
    HBaseSnapshotter.scala:124) must prune at the Parquet scan."""
    plan = explain(spark, "snapshot_events_wide", sf_dir)
    # the pushed literal's physical form tracks the fixture's ts type:
    # raw int64 nanos (legacy NANOS files) or a timestamp (MICROS files)
    assert re.search(r"LessThan\(ts,(\d+|[\d:T.\-]+)\)", pushed_filters(plan))


def test_snapshot_is_one_shuffle(spark, sf_dir):
    """Latest cell and row layout share one exchange, hashed on row_key:
    both aggregations are keyed by row_key, so its partitioning serves
    them (see operators.snapshot docstring)."""
    plan = explain(spark, "snapshot_events_wide", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert exchange_args(plan)[0].startswith("hashpartitioning(row_key#")


def test_semi_anti_join_strategies(spark, sf_dir):
    # r8: semi/anti live as flag lanes of the customer-orders suite —
    # the physical LeftSemi and LeftAnti joins must survive the merge
    plan = explain(spark, "join_customer_orders_suite", sf_dir)
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_agg_partial_pushdown(spark, sf_dir):
    """Partial aggregation must run map-side before the shuffle."""
    plan = explain(spark, "agg_approx_distinct", sf_dir)
    assert "partial_count" in plan or "HashAggregate" in plan
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_topk_plans_as_take_ordered(spark, sf_dir):
    plan = explain(spark, "q3_shipping_priority", sf_dir)
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


@pytest.mark.parametrize(
    "name", ["similarity_topk_ivf_suite", "similarity_topk_suite"]
)
def test_topk_plans_are_window_free(spark, sf_dir, name):
    """All three top-k variants rank via the topk_by_group hash
    aggregation (collect_list/sort_array with map-side partials, and for
    IVF a max_by-style struct-max assignment argmax) — no Window sort of
    the scored candidate set anywhere in any plan."""
    plan = explain(spark, name, sf_dir)
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_embedding_pairs_have_no_driver_collect(spark, sf_dir):
    """The registered exact near-dup path is the distributed block-
    matrix join: its plan contains the fan-out + grouped-map stages and
    planning it must not trigger a driver-side collect (building the
    plan of a collect-based implementation would scan the corpus at
    plan time; FlatMapGroupsInPandas proves the distributed shape)."""
    plan = explain(spark, "embedding_near_dup_suite", sf_dir)
    assert "FlatMapGroupsInPandas" in plan


def test_multi_ts_snapshot_single_shuffle(spark, sf_dir):
    """N snapshots from one scan: the fan-out explode stays narrow; the
    per-(ts, cell) aggregation is the only data-sized shuffle and runs
    ONCE (the cells are persisted for the decode-error probe — both
    consumers read the InMemoryRelation); the error count adds only a
    3-row aggregate exchange."""
    plan = explain(spark, "snapshot_multi_ts", sf_dir)
    assert "InMemoryRelation" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2


def test_funnel_cohort_all_joins_broadcast_no_window(spark, sf_dir):
    """The merged funnel+cohort plan: joins broadcast at fixture sizes
    by the planner's OWN size estimates (no hint — the funnel side is
    per-user, so a forced broadcast would be a scale hazard), and there
    is no window sort anywhere — min-aggregates only."""
    plan = explain(spark, "funnel_cohort_retention", sf_dir)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_rollup_cube_plan_is_expand_aggregate(spark, sf_dir):
    """ROLLUP, CUBE, and the GROUPING SETS branch (r7 merge) each plan
    as Expand + hash aggregate with map-side partials — exactly one
    shuffle per branch; the pivot branch (r8 merge) adds its pivot
    aggregate plus the unpivot-side re-aggregate (2 more exchanges,
    both map-side-combined).  Five exchanges total, no join, no
    window — the pivot lane planned as aggregates, not a sort."""
    plan = explain(spark, "agg_rollup_cube", sf_dir)
    assert plan.count("Expand") >= 3
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 5
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_sample_split_shuffle_inventory(spark, sf_dir):
    """Hash-mod sampling/splitting is narrow per-row work; every
    exchange in the plan is accounted for: the (split, pack_shard)
    packing window (1), the countDistinct(pack_id) two-exchange
    expand-agg (2), and the DSIR importance branch's vocabulary-keyed
    corpus/target frequency aggregates (2), one-row totals aggregate
    (1), and per-doc score aggregate (1), plus (r6) the per-domain-cap
    count aggregate (2: partial/final of the domain-keyed count).
    The r8 folds add their own accounted exchanges: the weighted-
    sample lane's per-lang sizing count + A-ES top-K aggregate (2),
    the stratified lane's per-stratum counts, allocation re-aggs, and
    hash-band window (≈6 — the exact-allocation carve re-aggregates
    the count table at each in-plan fallback step), and the epoch
    lane's group-level copy count (1).  Total observed: 18 — and none
    of them is a global one-partition sort (the scale hazard
    pack_sequences exists to avoid); the only nested-loop join is the
    sanctioned one-row totals broadcast cross.  (The absolute count
    can shift by one or two with how the planner splits the frequency
    aggregates — observed across session configs — so the pin is a
    tight range plus structural invariants.)"""
    plan = explain(spark, "sample_split_assignments", sf_dir)
    assert 16 <= len(re.findall(r"\(\d+\) Exchange", plan)) <= 20
    # the packing window is keyed by the hash shard (parallel cumsum),
    # not a global ORDER BY
    assert "pack_shard" in plan
    # the scalar attach is the only BNLJ, and there is exactly one;
    # every other join broadcasts (freq tables are vocabulary-sized)
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "SortMergeJoin" not in plan


def test_schema_history_snapshot_one_shuffle(spark, sf_dir):
    """The full schema pipeline keeps the flagship's one-exchange shape:
    schema resolution is driver-side (one tiny TakeOrdered job), the
    data path is one shuffle on row_key."""
    plan = explain(spark, "schema_history_snapshot", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert exchange_args(plan)[0].startswith("hashpartitioning(row_key#")
    assert "Window" not in plan


def test_schema_history_snapshot_decimal_internal_string_external(spark, sf_dir):
    """The strict S14 mappings keep `click` as DecimalType(14,4),
    `signup` (bigint unsigned) as DecimalType(20,0) and `last_seen` as
    DateType internally; only the final driver-facing serialization is
    STRING (the one form Spark and DuckDB render identically —
    '3.7000' / '22' / '2024-01-12' — so the cross-engine value hash is
    stable)."""
    from hbase_snapshotter_spark.queries.registry import QUERIES

    df = QUERIES["schema_history_snapshot"](spark, sf_dir)
    dtypes = dict(df.dtypes)
    assert dtypes["click"] == dtypes["signup"] == dtypes["last_seen"] == "string"
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # pre-cast types survive inside the plan
    assert "decimal(14,4)" in analyzed
    assert "decimal(20,0)" in analyzed
    assert "to_date" in analyzed or "cast(last_seen" in analyzed


def test_skew_salted_agg_plan_has_salted_join_and_agg(spark, sf_dir):
    """The registered skew query exercises BOTH skew tools: the plan
    joins on (key, __salt) — the salted join — and aggregates through
    the two-stage salt (salt stage + combine stage)."""
    plan = explain(spark, "skew_salted_agg", sf_dir)
    assert "HashJoin" in plan                    # equi-join, not BNLJ
    # the join's key lists include the salt column
    assert re.search(r"keys \[\d+\]: \[[^\]]*__salt", plan)
    # combine stage re-aggregates without the salt key — two hash-agg
    # layers beyond the join
    assert plan.count("HashAggregate") >= 4


def test_stream_tumbling_plan_has_interval_join_condition(spark, sf_dir):
    """The batch form of the stream-stream interval join: an equi-join
    on the key with the time-interval range as residual condition —
    NOT a nested-loop — feeding the tumbling-window aggregation."""
    plan = explain(spark, "stream_window_suite", sf_dir)
    assert "NestedLoop" not in plan
    # lower bound: purchase at-or-after the click
    assert re.search(r"purchase_ts.*>=.*click_ts|click_ts.*<=.*purchase_ts", plan)
    # upper bound: within click_ts + 1 hour — the state-bounding half of
    # the interval condition must survive into the join
    assert re.search(r"click_ts[^\n]*\+ INTERVAL '01' HOUR", plan)


def test_ann_topk_no_corpus_shuffle_before_scoring(spark, sf_dir):
    """Multi-table ANN: the corpus side reaches scoring via a broadcast
    join on the band keys — no sort-merge join, no window sort; the
    only nested loop allowed is the ONE-row recall-flag attach."""
    plan = explain(spark, "similarity_topk_suite", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    # nested loops in this plan are only the intended broadcast crosses
    # (brute-force baseline scoring + the 1-row recall-flag attach) —
    # every one must be a Cross over a broadcast side, never an SMJ/BNLJ
    # fallback of an equi-join.  The r8 lane union reuses the persisted
    # brute subtree (output rows AND recall denominator), so a Cross
    # may appear in the TREE more often than in the numbered detail
    # section; the invariant is that every tree occurrence carries the
    # Cross join type: total mentions = Cross tree lines + detail lines.
    n_detail = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
    assert plan.count("BroadcastNestedLoopJoin") == \
        plan.count("BroadcastNestedLoopJoin Cross") + n_detail
    assert n_detail == 2  # brute scoring + the 1-row flag attach


def test_profile_prunes_scan_to_profiled_columns(spark, sf_dir):
    """The one-scan profiler must not read lineitem columns it doesn't
    profile (l_orderkey/l_partkey/l_suppkey stay out of ReadSchema)."""
    plan = explain(spark, "profile_lineitem", sf_dir)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "l_orderkey" not in m.group(1)
    assert "l_partkey" not in m.group(1)
    # exact multi-column distinct → Expand is the documented price
    assert "Expand" in plan


def test_domain_rebalance_counts_join_is_broadcast(spark, sf_dir):
    """The per-domain count table is domain-cardinality-sized and MUST
    broadcast — an SMJ here would shuffle the whole corpus by domain
    (the very skew the operator avoids)."""
    plan = explain(spark, "domain_rebalance", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_curriculum_no_window_no_range_shuffle(spark, sf_dir):
    """Curriculum bucketing's point: no global sort — no Window node,
    no rangepartitioning exchange anywhere in the plan."""
    plan = explain(spark, "curriculum_length_buckets", sf_dir)
    assert not re.search(r"\(\d+\) Window", plan)
    assert "rangepartitioning" not in plan.lower()


def test_bpe_pairs_single_corpus_scan(spark, sf_dir):
    """BPE pair mining reads the corpus ONCE (word counting); the pair
    histogram runs over the vocab-sized word table, and the head is a
    TakeOrderedAndProject, not a global sort."""
    plan = explain(spark, "bpe_pair_mining", sf_dir)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "TakeOrderedAndProject" in plan


def test_pq_topk_window_free_and_broadcast_rerank(spark, sf_dir):
    """PQ: ADC scoring + both top-k stages are the hash-agg form (no
    Window sort anywhere), and the exact re-rank joins the tiny
    candidate/query tables by broadcast — the corpus is never shuffled
    by a join key."""
    plan = explain(spark, "similarity_topk_pq", sf_dir)
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_compaction_classification_single_keyed_join(spark, sf_dir):
    """Cell-fate classification is one left join on row_key plus column
    expressions — no Window, no extra aggregation beyond the state
    build and the audit rollup."""
    plan = explain(spark, "snapshot_compaction", sf_dir)
    assert "Window" not in plan
    assert " LeftOuter" in plan or "BuildRight" in plan


def test_heavy_hitters_candidates_broadcast(spark, sf_dir):
    """The exact verification pass joins the MG candidate set by
    broadcast (candidates are k-bounded); the only data-sized shuffle
    is the candidate-pruned count aggregation."""
    plan = explain(spark, "token_heavy_hitters", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_bpe_encode_word_join_is_broadcast(spark, sf_dir):
    """The word→encoding table is vocabulary-sized and must broadcast
    back onto the token stream; no SMJ, no Window."""
    plan = explain(spark, "bpe_encode_stats", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_context_chunks_plan_is_narrow(spark, sf_dir):
    """Chunking is pure column expressions over a sequence explode —
    the only Exchange is spread()'s round-robin scan-parallelism
    repartition (no keyed shuffle), zero Window, zero Python."""
    plan = explain(spark, "doc_context_chunks", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1
    assert "hashpartitioning" not in plan.lower()
    assert "rangepartitioning" not in plan.lower()
    assert "Window" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bm25_plan_take_ordered_no_shuffle_no_python(spark, sf_dir):
    """BM25: tf as column exprs, one-row broadcast stats attach,
    TakeOrderedAndProject ranking — no keyed shuffle of the corpus, no
    Window, no Python."""
    plan = explain(spark, "bm25_keyword_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan and "Window" not in plan
    assert "hashpartitioning" not in plan.lower()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bm25_indexed_plan_serves_from_pruned_postings(spark, sf_dir):
    """Index-backed BM25: each query-set branch filters the persisted
    postings by `term IN (...)` (the pruning predicate that becomes
    partition pruning under the term-bucketed layout), broadcasts the
    tiny df table and header, aggregates per doc, and ranks via
    TakeOrderedAndProject — no SMJ, no Window, no Python, no global
    sort."""
    plan = explain(spark, "bm25_indexed_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 3   # df table per branch
    assert "SortMergeJoin" not in plan and "Window" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the term pruning predicate reaches the postings scan side
    assert "term" in plan and "IN (" in plan.replace("in (", "IN (")


def test_topk_state_plans_as_window_group_limit(spark, sf_dir):
    """N88's scale claim, plan-pinned: the rank-≤-k filter rewrites to
    WindowGroupLimit — a MAP-SIDE partial top-k per input partition
    BEFORE the shuffle — so the exchange carries ≤ partitions × k rows
    per group, never the group's events.  The one BNLJ is the 1-row
    advance_consistent flag attach."""
    plan = explain(spark, "events_topk_advance", sf_dir)
    assert "WindowGroupLimit" in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1


def test_top_paths_plans_as_take_ordered(spark, sf_dir):
    """N92: the ordered limit plans as TakeOrderedAndProject —
    per-partition top-k, no global sort materialization — and the
    only window is the per-key lead pass."""
    plan = explain(spark, "event_top_paths", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_subquery_suite_decorrelated_shape(spark, sf_dir):
    """N101: the q17 lane's brand restriction must reach both sides as a
    broadcast LEFT SEMI before the per-part aggregate (the decorrelated
    form Catalyst would produce), the brand filter must push to the part
    scan, and the only nested-loop join is the sanctioned one-row q22
    global-mean attach."""
    plan = explain(spark, "subquery_suite", sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "EqualTo(p_brand,Brand#23)" in pushed_filters(plan)
    # exactly the one-row scalar attach may nest-loop (each physical
    # node appears twice in formatted output: tree line + detail header)
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "CartesianProduct" not in plan


def _prod_view(tmp_path, sf_dir):
    """A non-fixture-named directory over the same parquet files —
    what a production table path looks like to the gate."""
    import os

    prod = tmp_path / "warehouse_prod_table"
    prod.mkdir()
    for f in os.listdir(sf_dir):
        os.symlink(os.path.join(sf_dir, f), prod / f)
    return str(prod)


def test_sliding_distinct_exact_lane_gated(spark, sf_dir, tmp_path):
    """VERDICT r9 task 4: the ×7 exact windowed recount in
    events_sliding_distinct is a fixture-sf audit lane — at a
    production path the registered plan is the sketch path alone (no
    corpus-wide count_distinct, no second windowed explode of raw
    events), and the output is the HLL estimate itself."""
    from hbase_snapshotter_spark.queries.gating import exact_audit_enabled
    from hbase_snapshotter_spark.queries.streaming_q import (
        events_sliding_distinct,
    )

    assert exact_audit_enabled(sf_dir)
    prod = _prod_view(tmp_path, sf_dir)
    assert not exact_audit_enabled(prod)

    gated = events_sliding_distinct(spark, prod)
    audited = events_sliding_distinct(spark, sf_dir)
    # stable schema across shapes (ADVICE r10): same columns, the
    # value column carries the estimate at prod / the exact count at
    # fixture, the tolerance flag is NULL at prod
    assert gated.columns == audited.columns == [
        "window_end_day", "n_days_in_window", "distinct_users",
        "est_within_15pct"]
    plan = spark._jvm.PythonSQLUtils.explainString(
        gated._jdf.queryExecution(), "formatted")
    assert "count(distinct user_id)" not in plan
    assert "hll_union_agg" in plan

    # same windows, and the gated estimate honors the audited 15%
    # envelope (the flag the fixture lane hashes)
    g = {r.window_end_day: r.distinct_users for r in gated.collect()}
    for r in audited.collect():
        assert r.est_within_15pct
        assert abs(g[r.window_end_day] - r.distinct_users) * 100 \
            <= 15 * r.distinct_users


def test_join_size_estimate_exact_lane_gated(spark, sf_dir, tmp_path):
    """VERDICT r9 task 4: join_size_estimate's exact join aggregation
    and per-key group-bys are fixture-sf audit lanes — at a production
    path the plan is two scans + D×W sketch algebra, the max
    multiplicity is the CMS upper bound, and the estimate column is
    bit-identical to the audited shape's."""
    from hbase_snapshotter_spark.queries.gating import exact_audit_enabled
    from hbase_snapshotter_spark.queries.relational import (
        join_size_estimate,
    )

    prod = _prod_view(tmp_path, sf_dir)
    assert not exact_audit_enabled(prod)
    gated = join_size_estimate(spark, prod)
    # stable schema across shapes (ADVICE r10): audit columns NULL at
    # prod, CMS max-bound columns NULL at fixture
    assert gated.columns == ["pair", "n_left", "n_right",
                             "max_rows_left", "max_rows_right",
                             "est_max_rows_left", "est_max_rows_right",
                             "exact_rows", "est_rows",
                             "never_underestimates", "within_bound",
                             "strategy"]
    plan = spark._jvm.PythonSQLUtils.explainString(
        gated._jdf.queryExecution(), "formatted")
    # the only aggregations keyed on data values are the bounded
    # (depth, bucket) sketch cells — no exact per-join-key grouping
    assert "ca#" not in plan and "cb#" not in plan
    grows = {r.pair: r for r in gated.collect()}

    audited = {r.pair: r for r in join_size_estimate(spark, sf_dir)
               .collect()}
    for pair, a in audited.items():
        gr = grows[pair]
        assert gr.est_rows == a.est_rows            # same sketch math
        assert gr.n_left == a.n_left and gr.n_right == a.n_right
        # CMS bound really bounds the exact max multiplicity
        assert gr.est_max_rows_left >= a.max_rows_left
        assert gr.est_max_rows_right >= a.max_rows_right


def test_zone_map_audit_plan_shape(spark, sf_dir):
    """N124: the zone map is a map-side-combined aggregate; the
    predicate table is a broadcast literal join (no shuffle keyed on
    predicates); no sort-merge join anywhere — every join side is
    files- or preds-sized."""
    plan = explain(spark, "zone_map_pruning", sf_dir)
    assert "SortMergeJoin" not in plan
    assert "HashAggregate" in plan
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_quality_eval_plan_shape(spark, sf_dir):
    """N125/N126: the AUC lane's only data-sized pass is the
    per-(source, score) aggregate (map-side partials before its
    exchange); the prefix windows run over score-table / sources-sized
    partitions; no Cartesian product (the 1-row water-level attaches
    are whitelisted broadcasts)."""
    plan = explain(spark, "quality_eval_suite", sf_dir)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" in plan
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_fixture_heuristic_false_positive_warns(tmp_path, caplog):
    """VERDICT r11 task 3: a production directory that merely LOOKS
    fixture-shaped (``.../sf2024``) still trips the basename heuristic
    — but now loudly: exact_audit_enabled WARNs once per directory
    naming the escape hatch, and SPARK_GRAFT_EXACT_AUDIT=0 both
    silences it and forces the audit off."""
    import logging
    import os

    from hbase_snapshotter_spark.queries import gating

    trap = tmp_path / "sf2024"
    trap.mkdir()
    path = str(trap)
    gating._warned_dirs.discard(path)
    old = os.environ.pop("SPARK_GRAFT_EXACT_AUDIT", None)
    try:
        with caplog.at_level(logging.WARNING,
                             logger="hbase_snapshotter_spark.queries.gating"):
            assert gating.exact_audit_enabled(path)  # the false positive
        warns = [r for r in caplog.records if path in r.getMessage()]
        assert len(warns) == 1
        assert "SPARK_GRAFT_EXACT_AUDIT=0" in warns[0].getMessage()
        # once per directory, not once per query build
        caplog.clear()
        with caplog.at_level(logging.WARNING,
                             logger="hbase_snapshotter_spark.queries.gating"):
            assert gating.exact_audit_enabled(path)
        assert not [r for r in caplog.records if path in r.getMessage()]
        # the documented override: explicit env var, no heuristic, no WARN
        gating._warned_dirs.discard(path)
        os.environ["SPARK_GRAFT_EXACT_AUDIT"] = "0"
        caplog.clear()
        with caplog.at_level(logging.WARNING,
                             logger="hbase_snapshotter_spark.queries.gating"):
            assert not gating.exact_audit_enabled(path)
        assert not caplog.records
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_EXACT_AUDIT", None)
        else:
            os.environ["SPARK_GRAFT_EXACT_AUDIT"] = old


# ---------------- advance≡rebuild audit gating (VERDICT r10 task 1) --

#: (query key, flag column) for every lane whose in-query
#: advance≡rebuild (or exact-baseline) audit is fixture-gated: at a
#: production path the flag is a typed NULL and the rebuild subtree —
#: whose exceptAll compiles to Generate(replicaterows) — never enters
#: the physical plan.
_AUDIT_GATED = [
    ("snapshot_diff", "incremental_consistent"),
    ("scd2_event_history", "advance_consistent"),
    ("agg_view_advance", "advance_consistent"),
    ("topk_delete_advance", "advance_consistent"),
    ("events_topk_advance", "advance_consistent"),
    ("pareto_frontier_docs", "advance_consistent"),
    ("neardup_novelty_delta", "advance_consistent"),
    ("doc_link_rank", "advance_equals_rebuild"),
    ("doc_triangle_stats", "advance_equals_rebuild"),
]

#: Queries whose audit flag is a SHARED STAGE (r13: shared_stage
#: eagerly localCheckpoints, so the fixture-side exceptAll runs in the
#: stage-materialization job and the final plan sees a leaf scan — the
#: replicaterows marker can no longer appear in the FIXTURE plan; the
#: flag VALUE being TRUE proves the audit ran).  The production
#: contract stays plan-level: zero replicaterows generators.
_SHARED_FLAG = {"doc_link_rank", "doc_triangle_stats"}


@pytest.mark.parametrize("name,flag", _AUDIT_GATED,
                         ids=[n for n, _ in _AUDIT_GATED])
def test_advance_rebuild_audit_gated(spark, sf_dir, tmp_path, name, flag):
    """Both plan shapes, pinned per query: at fixture sfs the
    equality flag is computed (and TRUE); at a production path the
    flag is NULL, the schema is unchanged, the non-flag values are
    bit-identical, and the rebuild subtree is gone from the physical
    plan (strictly fewer replicaterows generators — zero for queries
    whose only exceptAll was the audit)."""
    prod = _prod_view(tmp_path, sf_dir)
    fix_df = QUERIES[name](spark, sf_dir)
    prod_df = QUERIES[name](spark, prod)
    assert fix_df.columns == prod_df.columns

    fix_plan = fix_df._jdf.queryExecution().executedPlan().toString()
    prod_plan = prod_df._jdf.queryExecution().executedPlan().toString()
    n_fix = fix_plan.lower().count("replicaterows")
    n_prod = prod_plan.lower().count("replicaterows")
    if name not in _SHARED_FLAG:
        assert n_prod < n_fix, (n_prod, n_fix)
    if name != "snapshot_diff":  # its OUTPUT diff is itself exceptAll
        assert n_prod == 0, (name, n_prod)

    other = [c for c in fix_df.columns if c != flag]
    fix_rows = fix_df.select(other).collect()
    prod_rows = prod_df.select(other).collect()
    assert sorted(map(str, fix_rows)) == sorted(map(str, prod_rows))
    fix_flags = {r[0] for r in fix_df.select(flag).distinct().collect()}
    prod_flags = {r[0] for r in prod_df.select(flag).distinct().collect()}
    assert fix_flags == {True}
    assert prod_flags == {None}


def test_bitext_margin_plan_shape(spark, sf_dir):
    """N129: the query batch is the BROADCAST side of the one corpus
    scan (never a corpus×corpus join), the k-NN denominators attach as
    broadcast joins, no sort-merge join appears anywhere, AND the
    corpus-side denominator path is candidate-pruned: a broadcast
    LeftSemi against best's neighbor set sits upstream of the den_b
    aggregation, so den_b is batch-sized at any corpus size (the r11
    VERDICT scale-killer)."""
    from hbase_snapshotter_spark.queries.llm import bitext_margin_mining

    df = bitext_margin_mining(spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # the candidate prune on the den_b path: broadcast semi-join
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan)
    # the only nested-loop is the sanctioned batch-broadcast cross
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1


#: (query key, flag columns) for every remaining audit_enabled call
#: site NOT already value-pinned by test_advance_rebuild_audit_gated /
#: the dedicated gated-lane tests: the ANN recall-probe carriers
#: (VERDICT r11 task 4) plus the sketch/stats/layout suites whose
#: audit flags ride inside union lanes.  Suites mix EARNED flags
#: (audit lanes — NULL at prod) with CONSTRUCTED constants (e.g. the
#: brute lane's lit(True) — present in both shapes), so the pin is:
#: fixture non-null flags are all True, prod keeps strictly fewer
#: non-null flag values (every earned one went NULL, never a literal
#: TRUE the run did not earn), and all non-flag columns bit-identical.
_PROBE_GATED = [
    ("similarity_topk_suite", ["recall_within_tolerance"]),
    ("embedding_near_dup_suite", ["recall_within_tolerance"]),
    ("similarity_topk_ivf_suite",
     ["recall_within_tolerance", "kmeans_recall_ok",
      "kmeans_ge_sampled", "pq_recall_ok"]),
    ("similarity_topk_pq", ["recall_within_tolerance"]),
    ("mmr_topk_suite", ["recall_within_tolerance"]),
    ("sketch_maintenance_suite",
     ["est_within_tolerance", "merged_equals_full",
      "advance_equals_full", "overestimate_ok", "within_bound",
      "true_cnt"]),  # true_cnt: the cms lane's EXACT audit count
    ("events_stats_suite", ["advance_consistent"]),
    ("layout_audit_suite",
     ["advance_equals_rebuild", "retighten_equals_rebuild",
      "sound_after_deletes"]),
]


@pytest.mark.parametrize("name,flags", _PROBE_GATED,
                         ids=[n for n, _ in _PROBE_GATED])
def test_probe_gated_values_identical_across_shapes(spark, sf_dir,
                                                    tmp_path, name,
                                                    flags):
    """VERDICT r11 task 4: the recall-probe / in-suite audit carriers
    get the same both-shapes VALUE check as the advance≡rebuild
    carriers — at a production path the schema is unchanged, every
    non-flag column is bit-identical to the fixture shape (the
    approximate path itself never changes), earned flags are NULL
    (strictly fewer non-null flag values than the fixture shape), and
    every non-null flag value in either shape is True."""
    prod = _prod_view(tmp_path, sf_dir)
    fix_df = QUERIES[name](spark, sf_dir)
    prod_df = QUERIES[name](spark, prod)
    assert fix_df.columns == prod_df.columns
    # same names and types; nullability may differ (a computed flag is
    # non-nullable where its typed-NULL stand-in is nullable)
    assert [(f.name, f.dataType) for f in fix_df.schema] \
        == [(f.name, f.dataType) for f in prod_df.schema]

    other = [c for c in fix_df.columns if c not in flags]
    fix_rows = fix_df.collect()
    prod_rows = prod_df.collect()
    assert len(fix_rows) == len(prod_rows)

    def proj(rows, cols):
        return sorted(str(tuple(r[c] for c in cols)) for r in rows)

    assert proj(fix_rows, other) == proj(prod_rows, other)
    dtypes = dict(fix_df.dtypes)
    for c in flags:
        fix_vals = [r[c] for r in fix_rows if r[c] is not None]
        prod_vals = [r[c] for r in prod_rows if r[c] is not None]
        if dtypes[c] == "boolean":  # never a literal TRUE unearned
            assert set(fix_vals) <= {True}, (c, set(fix_vals))
            assert set(prod_vals) <= {True}, (c, set(prod_vals))
        # the earned audit values really went NULL at prod
        assert len(prod_vals) < len(fix_vals), (c, len(prod_vals),
                                                len(fix_vals))

#!/usr/bin/env python
"""Physical-plan audit across the whole query registry.

Prints one line per registered query with the plan features that matter
at 100 TB — exchange count, join strategies, window sorts, Python
(Arrow) stages, pushed filters — and flags the red-flag combinations
(BroadcastNestedLoopJoin anywhere; CartesianProduct without an explicit
broadcast intent).  `tests/test_plans.py` pins the important shapes;
this tool is the quick whole-surface sweep when something changes.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import SparkSession

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from hbase_snapshotter_spark.queries.registry import QUERIES

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # queries whose nested-loop join is the POINT: an explicit Cartesian
    # (cross-join demo), a deliberate broadcast-side cross (scoring a
    # streamed corpus against a broadcast query set / centroid table —
    # linear, not quadratic, because the broadcast side is tiny), or a
    # ONE-row broadcast scalar attach (the in-query recall flags — a
    # constant-key equi-join constant-folds back to the same shape)
    INTENDED_CROSS = {
        "scalar_map_suite",            # r7: the explicit Cartesian demo
                                       # (nation × region) now lives in
                                       # the map-suite's base relation
        "similarity_topk_suite",      # r8: brute lane broadcast scoring
                                      # + ANN 1-row recall flag attach
        "similarity_topk_ivf_suite",  # r8: ivf+ivfpq lanes — broadcast
                                      # probe scoring + 1-row recall /
                                      # kmeans / pq flag attaches
        "embedding_near_dup_suite",   # 1-row recall_within_tolerance attach
        "sample_split_assignments",   # 1-row DSIR totals attach (pinned to
                                      # exactly one BNLJ in test_plans)
        "snapshot_diff",              # 1-row incremental_consistent attach
        "similarity_topk_ivf_kmeans",  # broadcast query/centroid scoring +
                                       # 1-row recall/kmeans-vs-sampled flag
                                       # attaches (the equality-flag row)
        "lm_perplexity_filter",        # 1-row vocab-size attach (the |V|
                                       # smoothing constant in bigram_lm_xent)
        "curriculum_length_buckets",   # 1-row boundary attach + 1-row
                                       # approx_assign_ok flag attach
        "cluster_aware_splits",        # 1-row zero-leaks flag attach
        "dedup_cluster_suite",         # 1-row leak-count/flag attach
                                       # (clusters lane) + 1-row totals
                                       # attach (component-stats lane)
        "pipeline_quality_filter",     # 1-row vocab-size attach via the
                                       # r6 bigram-LM fluency cut
        "similarity_topk_pq",          # 1-row recall_within_tolerance
                                       # attach (same flag as ANN/IVF)
        "text_mining_suite",           # 1-row instance-total attach
                                       # (heavy-hitters lane) + 1-row
                                       # bigram-total attach
                                       # (collocations lane)
        "bm25_keyword_topk",           # 1-row corpus-stats attach (N,
                                       # avgdl, per-term df)
        "bm25_indexed_topk",           # 1-row index header attach per
                                       # query-set branch (N, avgdl)
        "neardup_novelty_delta",       # 1-row advance-equals-rebuild
                                       # flag attach
        "sketch_maintenance_suite",     # 1-row merged/advance equality
                                        # flag attach x2 (quantile lane)
                                        # + langs × literal-probe cross
                                        # (cms lane probe table build)
        "hybrid_rrf_topk",             # broadcast-side scoring: ONE
                                       # query vector against the
                                       # corpus (exact cosine lane) +
                                       # 1-row index header attach
        "sketch_cardinality_suite",     # 1-row merged/advance equality
                                        # flag attaches (HLL lane)
        "layout_audit_suite",           # 1-row grid-bounds attach (the
                                        # zorder lane's Morton span)
        "agg_view_advance",             # 1-row advance_consistent flag
                                        # attach (N84 IVM equality)
        "events_topk_advance",          # 1-row advance_consistent flag
                                        # attach (N88 top-k equality)
        "topk_delete_advance",          # 1-row advance_consistent flag
                                        # attach (N94 delete-advance
                                        # equality)
        "mixture_temperature_rates",    # 1-row totals attach onto the
                                        # sources-sized table (N89)
        "scd2_event_history",           # 1-row advance_consistent flag
                                        # attach (N54 equality flag)
        "mmr_topk_suite",               # broadcast query/probe scoring
                                        # (brute + ivfpq candidate
                                        # lanes) + 1-row recall flag
        "hard_negative_mining",         # broadcast query scoring (same
                                        # brute-force lane) + per-query
                                        # positive-row attach (r7 N64)
        "retrieval_eval_metrics",       # broadcast query scoring (the
                                        # brute + ANN ranker lanes
                                        # under evaluation — r7 N67)
        "source_vocab_drift",           # sources × bounded-bucket-table
                                        # grid cross (the leave-one-out
                                        # reference — r7 N68)
        "embedding_analysis_suite",     # broadcast query scoring on
                                        # both ranking sides (the
                                        # truncation-audit lane)
        "subquery_suite",               # 1-row global-mean attach (the
                                        # q22 scalar subquery — N101)
        "join_size_estimate",           # 1-row × 1-row attaches (counts,
                                        # exact audit, estimate — N103)
        "pareto_frontier_docs",         # 1-row advance_consistent flag
                                        # attach (N107 advance equality)
        "events_stats_suite",           # 1-row advance_consistent flag
                                        # attach (trend-ols lane IVM)
        "quality_threshold_sweep",      # 1-row vocab-size attach inside
                                        # bigram_lm_xent (same as
                                        # lm_perplexity_filter — N118)
        "event_cooccurrence_lift",      # 1-row user-total attach (the
                                        # lift denominator — N120)
        "doc_link_rank",                # 1-row advance_equals_rebuild
                                        # flag attach (N122)
        "doc_triangle_stats",           # 1-row advance_equals_rebuild
                                        # flag attach (N122)
        "quality_eval_suite",           # 1-row totals + water-level
                                        # attaches onto the sources-
                                        # sized table (N126)
    }

    flags_total = 0
    header = f"{'query':34s} {'exch':>4} {'bhj':>3} {'smj':>3} {'win':>3} {'py':>3} {'push':>4}  flags"
    print(header)
    print("-" * len(header))
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as exc:  # noqa: BLE001 - audit must not die mid-sweep
            print(f"{name:34s} PLAN ERROR: {exc}")
            flags_total += 1
            continue
        n_exch = len(re.findall(r"\(\d+\) Exchange", plan))
        n_bhj = plan.count("BroadcastHashJoin")
        n_smj = plan.count("SortMergeJoin")
        n_win = len(re.findall(r"\(\d+\) Window", plan))
        n_py = (plan.count("ArrowEvalPython") + plan.count("FlatMapGroupsInPandas")
                + plan.count("MapInPandas") + plan.count("BatchEvalPython"))
        n_push = len(re.findall(r"PushedFilters: \[[^\]]", plan))
        flags = []
        if "BroadcastNestedLoopJoin" in plan and name not in INTENDED_CROSS:
            flags.append("BNLJ")
        if "CartesianProduct" in plan and name not in INTENDED_CROSS:
            flags.append("CARTESIAN")
        if "BatchEvalPython" in plan:
            flags.append("ROW_PYTHON_UDF")
        flags_total += len(flags)
        print(f"{name:34s} {n_exch:>4} {n_bhj:>3} {n_smj:>3} {n_win:>3} "
              f"{n_py:>3} {n_push:>4}  {','.join(flags)}")
    print(f"\nred flags: {flags_total}")
    return 1 if flags_total else 0


if __name__ == "__main__":
    raise SystemExit(main())

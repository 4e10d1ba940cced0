"""Scale-evidence run: time the most expensive registered queries at
sf0.1 and at the ~10x replica (tools/make_scale_replica.py), print a
markdown table for BENCH_SCALE.md.

One cold pass per (query, scale) — the point is the growth FACTOR
under a 10x data scale-up, not absolute numbers: a scan-bound plan
should grow ~linearly, a fixed-cost-dominated plan (streaming
micro-batch cycles, Python-worker spin-up) sublinearly, and anything
superlinear is a red flag unless the operator is superlinear by design
(duplicate-pair emission under a 10x-replicated corpus).

Usage: python tools/bench_scale.py [base_sf_dir] [replica_dir]
"""

from __future__ import annotations

import pathlib
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parents[1]

TARGETS = [
    "column_profile",
    "column_profile_approx",
    "ngram_jaccard_pairs",
    "stream_purchase_view_join",
    "kmeans_ivf_assign",
    "user_value_trend",
    "quantized_ivf_topk",
    "ann_recall_report",
    # round-6 additions: the new heavyweights
    "winnow_fingerprint_pairs",
    "simhash_hamming_pairs",
    "pq_adc_search",
    "bloom_pruned_join",
    "supplier_pagerank",
    "hourly_interpolated_series",
    # round-7 additions: the two heavy composed pipelines the r6 sweep
    # missed (judge item 4), the restart/maintenance carriers, and the
    # decimal-native Expand queries
    "neardup_prune",
    "cluster_topic_terms",
    "checkpoint_restart_strikes",
    "checkpoint_restart_windowed",
    "stream_left_join_events",
    "compact_parquet_roundtrip",
    "cube_order_stats",
    "rollup_revenue",
    # round-7 late additions (queued for the round-8 sweep)
    "ann_rank_quality",
    "incremental_agg_refresh",
    "constraint_quarantine",
    "supplier_communities",
    "multi_touch_attribution",
    "snapshot_time_travel",
    "event_transitions",
    "value_winsorized_stats",
    "join_key_skew_report",
    # round-6 late additions
    "pq_ivf_search",
    "fuzzy_name_pairs",
    "revenue_cube_report",
    "funnel_conversion_report",
    "weekly_cohort_retention",
    "balanced_strata_sample",
    "zorder_layout_stats",
    "supplier_triangles",
    "boilerplate_scrub_stats",
    "stream_static_enrich",
    # round-8 additions: the new operators' scale evidence
    "incremental_agg_refresh_minmax",
    "frequent_shingles",
    "purchase_error_overlap",
    "cdc_log_replay",
    "user_path_topk",
    "value_outliers_mad",
    "snapshot_vacuum",
    "strike_stream_from_wire",
    "neardup_admission",
    "feature_drift_psi",
    # round-8 extended-window additions (X125-X134)
    "cluster_safe_split",
    "weighted_sample_topk",
    "brand_price_regression",
    "feature_woe_iv",
    "fd_violation_report",
    "rolling_user_features",
    "lineitem_corr_matrix",
    "calendar_completeness_report",
    "benford_digit_audit",
    "weighted_median_by_flag",
    "part_covisitation_topk",
    "revenue_cusum_shift",
    "salted_revenue_join",
    "hard_negative_mining",
    "k_anonymity_report",
    "column_entropy_profile",
    # round-13 additions (X178-X181)
    "gate_trained_eval",
    "bpe_merge_batched",
    "dedup_recall_sampled",
    "dedup_recall_curve",
    # round-11 additions (X167-X174)
    "bpe_merge_table",
    "unicode_script_profile",
    "ann_incremental_admission",
    "benchmark_decontamination",
    "gopher_repetition_report",
    "cross_split_leakage",
    "embedding_dim_profile",
    "token_mixture_plan",
    # round-12 additions (X175-X177)
    "bpe_encode_stats",
    "dedup_recall_report",
    "gate_training_rounds",
]


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replica = sys.argv[2] if len(sys.argv) > 2 else str(ROOT / ".scale_sf1")
    if len(sys.argv) > 3:  # subset run: argv[3:] name the targets
        global TARGETS
        TARGETS = sys.argv[3:]
    sys.path.insert(0, str(ROOT))
    from __spark_entry__ import queries
    from employee_data_management_system_data_engineering_solution_spark import get_session

    # a realistic heap for a 10x local run: the default 1g driver heap
    # models nothing (a real executor gets GBs); 8g keeps 32 concurrent
    # tasks' transient array allocations out of GC death spirals while
    # still far below the machine's memory
    spark = get_session(
        "bench-scale",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.driver.memory": "8g"},
    )
    qs = queries()
    # warm-up: run every target once at the smoke sf so codegen JIT,
    # committer/metastore init, and streaming-session setup are not
    # billed to whichever (query, scale) pair happens to run first —
    # same methodology as bench.py
    for name in TARGETS:
        qs[name](spark, "/root/testdata/sf0.001").count()
    rows = []
    for name in TARGETS:
        times = {}
        counts = {}
        for label, sf in (("sf0.1", base), ("sf1", replica)):
            t0 = time.time()
            counts[label] = qs[name](spark, sf).count()
            times[label] = time.time() - t0
        ratio = times["sf1"] / times["sf0.1"]
        rows.append((name, times["sf0.1"], times["sf1"], ratio, counts["sf0.1"], counts["sf1"]))
        print(
            f"DONE {name}: {times['sf0.1']:.2f}s -> {times['sf1']:.2f}s "
            f"(x{ratio:.1f}); rows {counts['sf0.1']} -> {counts['sf1']}"
        )
    print()
    print("| query | sf0.1 (s) | ~sf1 (s) | time ratio | rows sf0.1 | rows ~sf1 |")
    print("|---|---|---|---|---|---|")
    for name, t1, t10, r, c1, c10 in rows:
        print(f"| {name} | {t1:.2f} | {t10:.2f} | {r:.1f}x | {c1} | {c10} |")


if __name__ == "__main__":
    main()

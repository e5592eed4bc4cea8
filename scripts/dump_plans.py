#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the headline queries,
so plan quality (pushdown, pruning, broadcasts, partial aggregation,
single-shuffle shapes) can be reviewed without running Spark.

Usage: python scripts/dump_plans.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINERS = [
    "filter_project",
    "agg_pricing_summary",
    "join_revenue_by_nation",
    "top_orders",
    "word_count",
    "range_join_price_bands",
    "asof_view_before_purchase",
    "events_tumbling_hour",
    "dedup_minhash_lsh",
    "similarity_topk_ivf",
    "pipeline_clean_corpus",
    "tpch_q3_shipping_priority",
    "knn_join_ann",
    "triangle_counts_cosupply",
    "tpch_q4_priority_returns",
    "tpch_q22_dormant_capital",
    "events_variant_stats",
    "assemble_training_set",
    "interval_join_error_sessions",
    "events_sessions_dynamic_gap",
    # round-3 additions (second wave)
    "dedup_jaccard_prefix_filter",
    "tpch_q2_min_cost_supplier",
    "tpch_q21_waiting_supplier",
    "multimodal_patchify",
    "events_ewma_value",
    "embedding_pq_codes",
    "similarity_topk_pq",
    "semantic_decontam_pairs",
    "training_batches_bucketed",
    "doc_feature_vectors",
    "graph_components_cosupply",
    "events_anomaly_flags",
    "global_rank_orders",
    "quantile_normalize_lengths",
    "assemble_contrastive_pairs",
    "sketch_theta_retention",
    "contrastive_negative_samples",
    # round-5 additions
    "dedup_exact_substrings",
    "similarity_topk_ivfpq",
    "similarity_topk_sq8",
    "events_twap_daily",
    "train_test_split_leakage_safe",
    "doc_novelty_scores",
    "multimodal_png_roundtrip",
    # round-3 additions
    "dedup_passages",
    "shuffle_shards",
    "bpe_merge_pairs",
    "pack_contiguous",
    "embedding_quantize_int8",
    "sketch_theta_distinct_users",
    "tpch_q5_local_supplier_volume",
    "tpch_q19_disjunctive_brackets",
    "pagerank_trade_graph",
    "multimodal_header_probe",
    # round-4 additions
    "dedup_incremental_crawl",
    "dedup_duplicate_spans",
    "dsir_bucket_stats",
    "dsir_select_topk",
    "bm25_stats",
    "hard_negative_mining",
    "events_context_pairs",
    "assemble_training_set_v4",
    # round-7 additions
    "assemble_training_set_v5",
    "search_phrase_positions",
    "sketch_hll_rolling_7d",
    "events_attribution_position",
    "embedding_label_centroids",
    "weighted_median_price",
    "term_pmi_top",
    "dedup_containment_pairs",
    "abtest_value_welch",
    "sketch_cms_registers_exact",
    "tokenizer_fertility_by_source",
    "search_hybrid_rrf",
    "dedup_embedding_clusters_lsh",
    # round-10 third wave
    "contingency_chi_square",
    "psi_value_drift",
    "graph_label_propagation",
    "events_shapley_attribution",
    "text_kn_bigram_score",
    "assemble_training_set_v7",
    # round-10 fourth wave
    "simpson_paradox_audit",
    "classifier_lift_deciles",
    "events_km_survival",
    "events_cross_correlation",
    "forecast_backtest_mase",
    "clustering_silhouette",
    "ivf_nprobe_recall_curve",
    "join_size_preflight",
    "events_burst_detection",
    "abtest_report_card",
    # round-12
    "text_tfidf_cosine_pairs_lsh",
    "lsh_width_ladder_sampled",
    "graph_betweenness_sampled",
    "correctness_trend_report",
    # round-13 (the D300/D301 cadence catch-up, VERDICT r12 task 3)
    "similarity_topk_mips",
    "graph_hits_bipartite",
    "pagerank_personalized_seeded",
    "gdpr_delete_audit",
    "bench_trend_report",
    "lsh_param_planner",
    "assemble_preference_pairs",
]

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    from mapreduce_project_spark.plans.inspect import formatted_plan
    from mapreduce_project_spark.queries_registry import ALL_QUERIES as QUERIES
    from mapreduce_project_spark.session import get_spark

    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        f"Generated by `scripts/dump_plans.py` at sf_dir={SF_DIR}. Regenerate after",
        "plan-affecting changes; `tests/test_plans.py` asserts the load-bearing",
        "properties (pushdown, pruning, broadcast, partial agg, top-k strategy) in CI.",
        "",
    ]
    for name in HEADLINERS:
        plan = formatted_plan(QUERIES[name](spark, SF_DIR))
        out += [f"## {name}", "", "```", plan.rstrip(), "```", ""]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINERS)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()

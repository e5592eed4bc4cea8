"""Plan-quality tests: assert the physical plans have the shape that
survives a 100x scale-up — filters pushed to the scan, columns pruned,
small dimensions broadcast, aggregates partial+final, global top-k as
TakeOrderedAndProject (never a full sort).
"""

from __future__ import annotations

from mapreduce_project_spark.plans.inspect import (
    count_node,
    has_node,
    pushed_filters,
    read_schemas,
)
from mapreduce_project_spark.queries_registry import ALL_QUERIES as QUERIES, DECLARED
from tests.conftest import SF_DIR


def test_filter_project_pushdown_and_pruning(spark):
    df = QUERIES["filter_project"](spark, SF_DIR)
    pf = pushed_filters(df)
    assert any("l_discount" in f or "l_shipdate" in f for f in pf), pf
    schemas = read_schemas(df)
    # scan must read only the 4 projected + 2 filter columns, not all 11
    assert schemas and all("l_returnflag" not in s and "l_tax" not in s for s in schemas), schemas


def test_revenue_join_broadcasts_dimensions(spark):
    df = QUERIES["join_revenue_by_nation"](spark, SF_DIR)
    assert count_node(df, "BroadcastHashJoin") >= 2  # nation and region
    # orders joins customer on the shuffle; fact side never broadcast as build


def test_word_count_partial_aggregation(spark):
    df = QUERIES["word_count"](spark, SF_DIR)
    # partial (map-side) + final HashAggregate around one exchange
    assert count_node(df, "HashAggregate") >= 2
    assert count_node(df, "Exchange") == 1


def test_top_orders_takeordered(spark):
    df = QUERIES["top_orders"](spark, SF_DIR)
    assert has_node(df, "TakeOrderedAndProject")
    assert not has_node(df, "GlobalSort")


def test_semi_join_prunes_right_columns(spark):
    df = QUERIES["join_semi_customers"](spark, SF_DIR)
    # the orders scan must read only the join key + filter column
    schemas = [s for s in read_schemas(df) if "o_" in s]
    assert schemas and all("o_totalprice" not in s for s in schemas), schemas


def test_tumbling_window_single_shuffle(spark):
    df = QUERIES["events_tumbling_hour"](spark, SF_DIR)
    assert count_node(df, "Exchange") == 1
    assert count_node(df, "HashAggregate") >= 2  # partial+final


def test_range_join_broadcasts_band_table(spark):
    df = QUERIES["range_join_price_bands"](spark, SF_DIR)
    # non-equi join against the broadcast band table: the fact side is
    # scanned once with zero pre-join shuffle
    assert has_node(df, "BroadcastNestedLoopJoin")
    assert count_node(df, "Exchange") == 1  # only the final aggregation


def test_asof_join_single_shuffle(spark):
    df = QUERIES["asof_view_before_purchase"](spark, SF_DIR)
    # union + carry-forward window: exactly one exchange (on user_id),
    # one window, no join operator at all
    assert count_node(df, "Exchange") == 1
    assert count_node(df, "Window") == 1
    assert not has_node(df, "SortMergeJoin")
    assert not has_node(df, "BroadcastNestedLoopJoin")


def test_ivf_topk_plan_shape(spark):
    df = QUERIES["similarity_topk_ivf"](spark, SF_DIR)
    # per-query top-k rank is pushed down as WindowGroupLimit
    assert has_node(df, "WindowGroupLimit")
    # every join (quantizer assignment, probe, candidates) is broadcast —
    # the corpus itself is never shuffle-joined
    assert not has_node(df, "SortMergeJoin")
    assert not has_node(df, "ShuffledHashJoin")
    # the Lloyd-updated centroid table is cached (two consumers:
    # final assignment + probe selection), so its partial+final
    # aggregates may appear as an InMemoryRelation instead of inline
    # HashAggregates depending on cache-manager state
    assert has_node(df, "InMemoryTableScan") or count_node(df, "HashAggregate") >= 4
    # broadcast exchanges (quantizer/probes) + centroid-scale hash
    # exchanges; a corpus-wide pre-join shuffle would add more
    assert count_node(df, "Exchange") <= 8


def test_kmeans_assignment_broadcast_no_corpus_shuffle(spark):
    df = QUERIES["kmeans_embeddings"](spark, SF_DIR)
    # per-round assignment is a broadcast of the centroid row — the
    # corpus is never shuffle-joined in any iteration
    assert not has_node(df, "SortMergeJoin")
    assert not has_node(df, "ShuffledHashJoin")
    assert count_node(df, "BroadcastNestedLoopJoin") >= 2  # one per round
    # each round's mean is partial+final aggregated on (cid, dim)
    assert count_node(df, "HashAggregate") >= 4


def test_downsample_no_shuffle(spark):
    df = QUERIES["multimodal_downsample"](spark, SF_DIR)
    # feature extraction is a narrow Arrow-batched map — zero exchanges
    assert count_node(df, "Exchange") == 0
    assert has_node(df, "MapInPandas")


def test_tpch_q3_scale_shape(spark):
    df = QUERIES["tpch_q3_shipping_priority"](spark, SF_DIR)
    pf = pushed_filters(df)
    assert any("l_shipdate" in f for f in pf), pf
    assert any("o_orderdate" in f for f in pf), pf
    assert count_node(df, "BroadcastHashJoin") >= 1  # customer dim
    assert has_node(df, "TakeOrderedAndProject")  # top-10, never a global sort


def test_tpch_q6_all_predicates_pushed(spark):
    df = QUERIES["tpch_q6_revenue_forecast"](spark, SF_DIR)
    pf = pushed_filters(df)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(col in f for f in pf), (col, pf)
    schemas = read_schemas(df)
    # scan reads only the 4 referenced columns
    assert schemas and all("l_orderkey" not in s for s in schemas), schemas


def test_knn_join_ann_no_cartesian(spark):
    # the ANN kNN graph must never fall back to a cartesian/nested-loop
    # product of the corpus with itself
    df = QUERIES["knn_join_ann"](spark, SF_DIR)
    assert not has_node(df, "CartesianProduct")
    assert not has_node(df, "BroadcastNestedLoopJoin")


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    # row-level runtime filtering: with a selective filtered dimension
    # on the build side of a shuffle join, the optimizer injects a bloom
    # filter into the fact side's scan (might_contain over xxhash64) —
    # at 100 TB this skips most fact rows before the shuffle. Thresholds
    # are lowered only because the test tables are tiny; production
    # defaults (10 MB creation side) fire on real dimension sizes.
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_join_strategy_hints_are_honored(spark):
    # explicit strategy control for when AQE/stats mis-pick at scale:
    # merge hint -> SortMergeJoin even under the broadcast threshold;
    # shuffle_hash hint -> ShuffledHashJoin (no sort of either side)
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    merged = li.join(orders.hint("merge"), li["l_orderkey"] == orders["o_orderkey"])
    assert "SortMergeJoin" in merged._jdf.queryExecution().executedPlan().toString()
    hashed = li.join(
        orders.hint("shuffle_hash"), li["l_orderkey"] == orders["o_orderkey"]
    )
    assert "ShuffledHashJoin" in hashed._jdf.queryExecution().executedPlan().toString()


def test_tpch_q4_decorrelates_to_semi_join(spark):
    df = QUERIES["tpch_q4_priority_returns"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan  # EXISTS never executes per-row
    pf = pushed_filters(df)
    assert any("o_orderdate" in f for f in pf), pf
    assert any("l_returnflag" in f for f in pf), pf


def test_tpch_q22_decorrelates_to_anti_join(spark):
    df = QUERIES["tpch_q22_dormant_capital"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan  # NOT EXISTS never executes per-row


def test_triangle_counts_no_cartesian(spark):
    # every join in the oriented wedge/closure pipeline is an equi-join
    df = QUERIES["triangle_counts_cosupply"](spark, SF_DIR)
    assert not has_node(df, "CartesianProduct")
    assert not has_node(df, "BroadcastNestedLoopJoin")


def test_variant_stats_two_shuffles_max(spark):
    # parse_json + variant_get are scan-side projections; the only
    # exchanges are the two-phase aggregation the exact COUNT(DISTINCT)
    # requires (partial on (event_type, k), final on event_type) —
    # nothing shuffles the raw props strings
    df = QUERIES["events_variant_stats"](spark, SF_DIR)
    assert count_node(df, "Exchange") == 2
    assert count_node(df, "HashAggregate") >= 2  # partial + final


def test_interval_join_is_equi_bucketized(spark):
    # two large interval sets must join via exploded-bucket equi-keys,
    # never a nested loop / cartesian of the interval sets
    df = QUERIES["interval_join_error_sessions"](spark, SF_DIR)
    assert not has_node(df, "BroadcastNestedLoopJoin")
    assert not has_node(df, "CartesianProduct")


import pytest as _pytest


@_pytest.mark.parametrize("qname", sorted(DECLARED))
def test_no_declared_query_plans_cartesian(spark, qname):
    # blanket scale guard: a CartesianProduct (non-broadcast physical
    # cross join) in any declared query is always a bug at 100 TB —
    # broadcast nested loops against constant-size sides are allowed,
    # unbroadcast products are not
    df = QUERIES[qname](spark, SF_DIR)
    assert not has_node(df, "CartesianProduct")


@_pytest.mark.parametrize(
    "qname",
    [
        "dedup_passages",
        "shuffle_shards",
        "bpe_merge_pairs",
        "pack_contiguous",
        "embedding_quantize_int8",
        "sketch_theta_distinct_users",
        "sketch_hll_distinct_users",
        "sketch_quantiles_price",
        # round-3 second wave
        "tpch_q8_market_share",
        "tpch_q9_product_profit",
        "tpch_q11_important_stock",
        "tpch_q12_shipmode_priority",
        "tpch_q15_top_supplier",
        "tpch_q16_supplier_variety",
        "tpch_q17_small_quantity_revenue",
        "tpch_q20_excess_suppliers",
        "graph_components_cosupply",
        "embedding_pq_codes",
        "doc_feature_vectors",
        # round-4 additions
        "dedup_incremental_crawl",
        "dedup_duplicate_spans",
        "dsir_bucket_stats",
        "dsir_select_topk",
        "bm25_stats",
        "hard_negative_mining",
        "events_context_pairs",
        "assemble_training_set_v4",
    ],
)
def test_new_extras_plan_no_cartesian(spark, qname):
    # the round-3 additions obey the same blanket scale guard as the
    # declared set (extras are exempt only when deliberately quadratic)
    df = QUERIES[qname](spark, SF_DIR)
    assert not has_node(df, "CartesianProduct")


def test_quantize_is_zero_shuffle(spark):
    # int8 quantization must stay a pure per-row projection: no
    # Exchange anywhere in the plan
    df = QUERIES["embedding_quantize_int8"](spark, SF_DIR)
    assert count_node(df, "Exchange") == 0


def test_bpe_merge_pairs_is_takeordered(spark):
    # top-k never materializes a global sort
    df = QUERIES["bpe_merge_pairs"](spark, SF_DIR)
    assert has_node(df, "TakeOrderedAndProject")
    assert count_node(df, "HashAggregate") >= 2  # partial + final count


def test_sketch_distinct_is_partial_agg_only(spark):
    # the point of the sketch: ONE exchange carrying fixed-size sketch
    # bytes (partial+final object agg), never a (type, user) expansion
    df = QUERIES["sketch_theta_distinct_users"](spark, SF_DIR)
    assert count_node(df, "Exchange") == 1


def test_lateral_decorrelates_to_window(spark):
    # the dependent LIMIT must rewrite to a ranked window over one
    # join — no per-row subquery execution may survive in the plan
    df = QUERIES["lateral_recent_orders"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "Subquery" not in plan


def test_snapshot_diff_joins_hashes_not_rows(spark):
    # both sides must reduce to (key, xxhash64) BEFORE the full-outer
    # join: the join's output columns carry only keys and the two hashes
    df = QUERIES["snapshot_diff_orders"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" in plan
    assert "xxhash64" in plan
    assert not has_node(df, "CartesianProduct")


def test_dq_audit_referential_is_anti_join(spark):
    df = QUERIES["dq_audit_orders"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert not has_node(df, "CartesianProduct")


def test_assemble_v2_no_cartesian_and_broadcast_rates(spark):
    df = QUERIES["assemble_training_set_v2"](spark, SF_DIR)
    assert not has_node(df, "CartesianProduct")
    # the temperature-rate table joins broadcast, never shuffling the corpus
    assert count_node(df, "BroadcastHashJoin") >= 1


def test_prefix_filter_jaccard_no_cartesian_and_equi_joins(spark):
    # the scalable exact-Jaccard path must be pure equi-joins: prefix
    # self-join on shingle, verification join on candidate ids — never
    # a nested-loop/cartesian fallback
    df = QUERIES["dedup_jaccard_prefix_filter"](spark, SF_DIR)
    assert not has_node(df, "CartesianProduct")
    assert not has_node(df, "BroadcastNestedLoopJoin")


def test_tpch_q2_correlated_min_decorrelates(spark):
    # the correlated scalar MIN must become an aggregate joined back,
    # not per-row subquery execution (no nested-loop machinery)
    df = QUERIES["tpch_q2_min_cost_supplier"](spark, SF_DIR)
    assert not has_node(df, "CartesianProduct")
    assert count_node(df, "HashAggregate") >= 2


def test_tpch_q21_self_references_are_hash_joins(spark):
    # EXISTS / NOT EXISTS self-references to lineitem must plan as
    # semi/anti hash joins keyed on l_orderkey
    df = QUERIES["tpch_q21_waiting_supplier"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan[:2000]
    assert not has_node(df, "CartesianProduct")


def test_patchify_no_shuffle(spark):
    # patch extraction is a narrow mapInPandas stage: payloads must
    # never shuffle
    df = QUERIES["multimodal_patchify"](spark, SF_DIR)
    assert count_node(df, "Exchange") == 0


def test_ewma_single_keyed_shuffle(spark):
    # the per-key recursion costs exactly one exchange (the keyed
    # shuffle into applyInPandas)
    df = QUERIES["events_ewma_value"](spark, SF_DIR)
    assert count_node(df, "Exchange") == 1


def test_global_rank_uses_range_partitioning_no_global_sort(spark):
    # the distributed total order must come from a RANGE exchange with
    # in-partition sorts — never a single-task global Sort. The range
    # exchange lives inside the operator's cached subplan, whose
    # rendering inside executedPlan varies with cache-manager state —
    # the optimized plan always shows it.
    df = QUERIES["global_rank_orders"](spark, SF_DIR)
    qe = df._jdf.queryExecution()
    opt = qe.optimizedPlan().toString()
    assert "repartitionbyexpression" in opt.lower() or "rangepartitioning" in opt.lower(), opt[:1500]
    phys = qe.executedPlan().toString()
    # any Sort present must be within-partition (global=false)
    assert "global=true" not in phys, phys[:1500]


def test_quantile_normalize_no_cartesian(spark):
    df = QUERIES["quantile_normalize_lengths"](spark, SF_DIR)
    assert not has_node(df, "CartesianProduct")
    assert not has_node(df, "BroadcastNestedLoopJoin")


def test_cogroup_plans_flatmap_cogroups(spark):
    # the cogrouped applyInPandas must plan the dedicated cogroup
    # operator (one keyed exchange per side), not a join
    df = QUERIES["cogroup_view_purchase_pairs"](spark, SF_DIR)
    assert has_node(df, "FlatMapCoGroupsInPandas")
    assert count_node(df, "Exchange") == 2


def test_cbo_statistics_change_join_order(spark):
    # cost-based-optimizer evidence: ANALYZE TABLE column statistics
    # plus CBO join reordering produce a DIFFERENT (cost-chosen) join
    # order for a TPC-H q9-shaped 5-way join than the syntactic order
    # the rule-based planner keeps without stats. At fixture scale AQE
    # already re-plans at runtime; this pins that the COMPILE-TIME cost
    # path is wired too (stats → CBO → reorder), which is what moves
    # first at 100 TB where a wrong initial order materializes terabyte
    # intermediates before AQE can react.
    import re

    import uuid

    sfx = uuid.uuid4().hex[:8]
    q = f"""
    SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS profit
    FROM cbo_part_{sfx}, cbo_supplier_{sfx}, cbo_lineitem_{sfx},
         cbo_orders_{sfx}, cbo_nation_{sfx}
    WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      AND p_name LIKE '%green%'
    GROUP BY n_name
    """

    def leaf_order():
        plan = spark.sql(q)._jdf.queryExecution().optimizedPlan().toString()
        return re.findall(rf"Relation.*?cbo_(\w+)_{sfx}", plan)

    tables = ["part", "supplier", "lineitem", "orders", "nation"]
    saved = {
        k: spark.conf.get(k)
        for k in ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    }
    try:
        for t in tables:
            spark.read.parquet(f"{SF_DIR}/{t}.parquet").write.mode(
                "overwrite"
            ).saveAsTable(f"cbo_{t}_{sfx}")
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
        without_stats = leaf_order()
        for t in tables:
            spark.sql(
                f"ANALYZE TABLE cbo_{t}_{sfx} COMPUTE STATISTICS FOR ALL COLUMNS"
            )
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        with_stats = leaf_order()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS cbo_{t}_{sfx}")
    assert len(without_stats) == 5 and len(with_stats) == 5
    assert with_stats != without_stats, (
        f"stats+CBO left the join order unchanged: {with_stats}"
    )


def test_dsir_select_is_takeordered_with_broadcast_model(spark):
    # the DSIR render must rank via TakeOrdered (never a global sort)
    # and join the 256-row model by broadcast, never shuffled
    df = QUERIES["dsir_select_topk"](spark, SF_DIR)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in phys, phys[:1200]
    assert "BroadcastHashJoin" in phys or "BroadcastExchange" in phys, phys[:1200]


def test_duplicate_spans_ground_truth_on_planted_docs(spark):
    # exact semantics on a constructed corpus: doc 1 and 2 share one
    # 16-token run (offset by different prefixes), doc 3 is unrelated —
    # exactly the overlapping-window positions that contain the shared
    # run must be reported, with the true first occurrence
    from mapreduce_project_spark.operators.dedup import duplicate_spans

    # tokenizer is [a-z]+ — tokens must be purely alphabetic and
    # distinct or windows collapse
    run = " ".join(f"w{chr(97 + i)}" for i in range(16))
    docs = [
        (1, "alpha " + run + " omega"),
        (2, "beta gamma " + run),
        (3, " ".join(f"z{chr(97 + i)}" for i in range(20))),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = duplicate_spans(df, "doc_id", "text").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["span"] == run
    assert r["n_docs"] == 2 and r["n_occ"] == 2
    # doc 1 has tokens [alpha, w0..w15, omega]: the run starts at pos 2
    # (1-based); doc 2 at pos 3 — first occurrence is doc 1
    assert (r["first_doc"], r["first_pos"]) == (1, 2)


def test_incremental_crawl_streams_index_no_shuffle_join(spark):
    # the incremental premise is crawl ≪ corpus: every join in the
    # probe (band candidates + both verification sides) must broadcast
    # the crawl-derived side so the index is only streamed — a single
    # sort-merge/shuffled-hash join here re-shuffles the corpus on
    # every probe, the cost the operator exists to avoid (the only
    # exchanges allowed come from the in-query index BUILD, which
    # production runs once offline)
    df = QUERIES["dedup_incremental_crawl"](spark, SF_DIR)
    assert not has_node(df, "SortMergeJoin")
    assert not has_node(df, "ShuffledHashJoin")

"""Relational query inventory — SURVEY.md §2.B rows B3-B14 as declared,
oracle-checked queries over the TPC-H-ish fixtures.

Each query pairs a Spark callable with a DuckDB SQL twin; aliases and
arithmetic (decimal-exact money math) are kept identical on both sides
so the driver's order-insensitive value hash matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_project_spark.operators.relational import dec, dec_avg, dec_sum, sorted_set_str
from mapreduce_project_spark.operators.windows import running_dec_sum, top_k_per_group
from mapreduce_project_spark.queries_registry import query, t


@query(
    "filter_project",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount <= 0.05
    """,
)
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: predicate + projection; both push into the parquet scan."""
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        .filter(F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
        .filter(F.col("l_discount") <= 0.05)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


@query(
    "agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 (TPC-H Q1 analog): multi-agg groupBy; Catalyst plans partial +
    final HashAggregate (the map-side combiner the reference lacks)."""
    return t(spark, sf_dir, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        dec_sum("l_quantity").alias("sum_qty"),
        dec_sum("l_extendedprice").alias("sum_base_price"),
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
        .cast("double")
        .alias("sum_disc_price"),
        dec_avg("l_quantity").alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "group_collect_set",
    """
    SELECT o_custkey,
           array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    """,
)
def q_group_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7: per-key set collection, deterministically serialized."""
    return t(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        sorted_set_str("o_orderpriority").alias("priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query("distinct_segments", "SELECT DISTINCT c_mktsegment FROM customer")
def q_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: distinct (projection first, so only the key column shuffles)."""
    return t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@query(
    "count_distinct_parts",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_count_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14: exact distinct counts (expand + two-phase agg in Spark). At
    100 TB prefer approx_count_distinct (see rows-only query)."""
    return t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "join_revenue_by_nation",
    """
    SELECT r_name, n_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8: FK-chain join. nation/region are broadcast (no shuffle);
    orders⋈customer shuffles on the customer key once."""
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(dec_sum("o_totalprice").alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "join_semi_customers",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
)
def q_join_semi_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 left-semi (EXISTS): only the key column of orders shuffles."""
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@query(
    "join_anti_customers",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    """,
)
def q_join_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 left-anti (NOT EXISTS): customers with no pending ('P')
    orders. (The unfiltered variant is empty at sf>=0.01 — every
    customer has orders — so the filter keeps the check non-trivial.)"""
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "outer_join_order_counts",
    """
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def q_outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 outer join: zero-order customers kept with count 0."""
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "top_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10 global top-k: TakeOrderedAndProject (per-partition k + driver
    merge, never a full sort). Tie-break on the unique key."""
    # the order must be total, or which rows of a tie survive the limit
    # depends on the partitioning
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "top_lineitems_per_supplier",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rk FROM (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_suppkey
                                ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
      FROM lineitem
    ) WHERE rk <= 3
    """,
)
def q_top_lineitems_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10 per-group top-k via row_number window."""
    return top_k_per_group(
        t(spark, sf_dir, "lineitem").select(
            "l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice"
        ),
        ["l_suppkey"],
        [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")],
        3,
    ).select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        F.col("rk").cast("bigint").alias("rk"),
    )


@query(
    "union_party_keys",
    """
    SELECT c_custkey AS party_key, 'customer' AS src FROM customer
    UNION ALL
    SELECT s_suppkey AS party_key, 'supplier' AS src FROM supplier
    """,
)
def q_union_party_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11 union-all of two sources with a provenance tag."""
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("party_key"), F.lit("customer").alias("src")
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("party_key"), F.lit("supplier").alias("src")
    )
    return c.unionByName(s)


@query(
    "string_funcs",
    """
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           length(p_name) AS name_len,
           regexp_extract(lower(p_type), '^([a-z]+)', 1) AS type_head,
           concat_ws('/', p_brand, p_type) AS brand_type,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded
    FROM part
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13 scalar string functions (all JVM-side, codegen'd)."""
    return t(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.regexp_extract(F.lower(F.col("p_type")), "^([a-z]+)", 1).alias("type_head"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
    )


@query(
    "running_order_total",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total
    FROM orders
    """,
)
def q_running_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative sum per customer (window frame), exact math.
    Pytest-only slot: running-frame window machinery is driver-checked
    by `pack_sequences` (exclusive running sum) and `event_gaps`
    (lag); this exact-decimal variant keeps its oracle in tests."""
    return running_dec_sum(
        t(spark, sf_dir, "orders"),
        ["o_custkey"],
        [F.col("o_orderdate"), F.col("o_orderkey")],
        "o_totalprice",
        "run_total",
    ).select("o_custkey", "o_orderkey", "run_total")


@query(
    "event_gaps",
    """
    SELECT user_id, event_id,
           epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
    FROM events
    """,
)
def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics: ms since previous event per user (integer
    epoch math — no float drift)."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    ms = F.unix_millis(F.col("ts"))
    return ev.select(
        "user_id", "event_id", (ms - F.lag(ms).over(w)).alias("gap_ms")
    )


@query(
    "approx_distinct_parts",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct,
           TRUE AS hll_within_bound
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14 at scale, BOUND-CERTIFIED (round-8 upgrade of the r1
    rows-only demo): HyperLogLog++ distinct count per group, validated
    IN-ENGINE against the exact count. The sketch estimate itself is
    engine-specific (no SQL oracle can replay Spark's HLL++ registers),
    so what crosses the comparator is the CERTIFICATE: the exact count
    plus a boolean asserting |hll − exact| ≤ 2.5·rsd·exact (rsd 0.02,
    measured max relative error ≤ 0.95% on these fixtures — 5× margin;
    HLL++ merge is elementwise register MAX, so the estimate is
    deterministic for a given dataset regardless of partitioning —
    if the sketch path regresses, the boolean flips and the driver
    hash-mismatches). rsd 0.02 rather than 0.01 is a PLAN-SIZE choice,
    not an accuracy concession: rsd 0.01 means 2¹⁴ registers whose
    partial-agg state codegen materializes as thousands of plan
    columns — measured 7.1 s at sf0.1 vs ~1 s at rsd 0.02 for the
    same TRUE certificate. Exact-register twin with full oracle
    replay: ``sketch_hll_registers_exact`` (D176). Scale: both
    aggregates are algebraic (partial+final, bounded memory) in ONE
    pass — the exact count-distinct here is the certification harness,
    not the production path; at 100 TB only the sketch side runs."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").cast("bigint").alias("exact_distinct"),
            F.approx_count_distinct("l_partkey", 0.02).alias("hll"),
        )
        .select(
            "l_returnflag",
            "exact_distinct",
            (
                F.abs(F.col("hll") - F.col("exact_distinct"))
                <= F.lit(0.05) * F.col("exact_distinct")
            ).alias("hll_within_bound"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "approx_quantiles_price",
    """
    WITH q AS (
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderstatus,
           CAST(floor(quantile_cont(cents, 0.5) + 0.5) AS BIGINT) AS p50_cents,
           CAST(floor(quantile_cont(cents, 0.95) + 0.5) AS BIGINT) AS p95_cents,
           TRUE AS approx_within_band
    FROM q GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q_approx_quantiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentiles at scale, BOUND-CERTIFIED (round-8 upgrade of the r1
    rows-only demo): ``approx_percentile`` is an algebraic KLL-style
    sketch (partial+final agg, bounded memory) where exact
    ``percentile`` is holistic. The sketch value is engine-specific, so
    the comparator sees the CERTIFICATE: the exact interpolated p50/p95
    over PRE-QUANTIZED integer cents (round-9 hardening — interpolating
    exact integers makes the even-count p50 midpoint an exact .5 IEEE
    value, so the final floor(x + 0.5) can never flip on a 1-ulp
    difference between Spark ``percentile``'s and DuckDB
    ``quantile_cont``'s interpolation expression order; both share the
    (n−1)·p rank formula, and the residual p95 risk is a fractional
    rank landing within 1 ulp of a half-integer ON integer operands —
    vanishingly smaller than the interpolate-then-quantize form the r8
    advisor flagged) plus a boolean asserting the approx value sits
    within 1% of the exact (accuracy 10000 ⇒ rank error ≤ n/10000;
    cents are smooth, so the value band is far looser than the rank
    guarantee). A sketch regression flips the boolean → driver
    hash-mismatch. Exact twin holding a driver slot:
    ``percentile_quantity``."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    exact = o.groupBy("o_orderstatus").agg(
        F.expr("percentile(cents, 0.5)").alias("e50"),
        F.expr("percentile(cents, 0.95)").alias("e95"),
        F.approx_percentile("cents", F.lit(0.5), F.lit(10000)).alias("a50"),
        F.approx_percentile("cents", F.lit(0.95), F.lit(10000)).alias("a95"),
    )
    return exact.select(
        "o_orderstatus",
        F.floor(F.col("e50") + 0.5).cast("bigint").alias("p50_cents"),
        F.floor(F.col("e95") + 0.5).cast("bigint").alias("p95_cents"),
        (
            (F.abs(F.col("a50") - F.col("e50")) <= F.lit(0.01) * F.col("e50"))
            & (F.abs(F.col("a95") - F.col("e95")) <= F.lit(0.01) * F.col("e95"))
        ).alias("approx_within_band"),
    ).orderBy("o_orderstatus")

@query(
    "window_rank_family",
    """
    SELECT o_custkey, o_orderkey,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cum_dist,
           first_value(o_orderkey) OVER w AS top_key,
           nth_value(o_orderkey, 2) OVER w AS second_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-window family beyond row_number/rank (D9):
    ntile quartiles, percent_rank, cume_dist, first/nth_value with the
    standard running frame — one keyed shuffle + one sort serves all
    five expressions (a reference user would need one reduce job per
    statistic). percent_rank/cume_dist are single IEEE divisions of
    small integers — bit-identical cross-engine; the (price, key) sort
    is tie-free so every function is deterministic."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
        F.first("o_orderkey").over(w).alias("top_key"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
    )

@query(
    "histogram_equi_depth",
    """
    SELECT o_orderpriority, CAST(bucket AS BIGINT) AS bucket,
           COUNT(*) AS n_rows,
           CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
           CAST(MAX(o_totalprice) AS DOUBLE) AS hi
    FROM (
      SELECT o_orderpriority, o_totalprice,
             ntile(8) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    GROUP BY o_orderpriority, bucket
    """,
)
def q_histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-count) histogram of order value per priority
    class: 8 ntile buckets per key, then (count, lo, hi) per bucket —
    the optimizer-statistics / drift-monitoring primitive. The window
    partitions BY KEY, so no global sort exists anywhere (per-key
    sorted windows are the scale-safe shape); a GLOBAL equi-depth
    histogram at 100 TB should instead take boundaries from
    `approx_percentile` (D24) and bucket by range — ntile's exactness
    is what makes this one hash-matchable."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice"), F.col("o_orderkey")
    )
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            "o_totalprice",
            F.ntile(8).over(w).cast("bigint").alias("bucket"),
        )
        .groupBy("o_orderpriority", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_totalprice").cast("double").alias("lo"),
            F.max("o_totalprice").cast("double").alias("hi"),
        )
    )

@query(
    "skew_profile_custkey",
    """
    WITH c AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey)
    SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
           COUNT(*) AS n_keys,
           CAST(MAX(n) AS BIGINT) AS max_key_rows,
           CAST(MAX(n) AS DOUBLE) / SUM(n) AS top_share,
           CAST(SUM(n) AS DOUBLE) / COUNT(*) AS avg_key_rows
    FROM c
    """,
)
def q_skew_profile_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic for orders.o_custkey
    (`operators/relational.py:key_skew_profile`) — the measurement that
    decides between a plain join, AQE skew splitting, and `salted_join`
    before any 100 TB shuffle is launched."""
    from mapreduce_project_spark.operators.relational import key_skew_profile

    return key_skew_profile(t(spark, sf_dir, "orders"), ["o_custkey"])

@query(
    "unpivot_part_metrics",
    """
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric,
           CAST(p_retailprice AS DOUBLE) AS value
    FROM part
    """,
)
def q_unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) — wide metric columns to long (key, metric, value)
    rows, the inverse of `pivot_priority_status`: one narrow Expand
    node, no shuffle at all (the oracle spells it as the equivalent
    UNION ALL, which is what the reference would run as two map-only
    jobs)."""
    return t(spark, sf_dir, "part").unpivot(
        ["p_partkey"],
        ["p_size", "p_retailprice"],
        "metric",
        "value",
    ).select("p_partkey", "metric", F.col("value").cast("double").alias("value"))


@query(
    "map_event_type_counts",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchases,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS views,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS errors
    FROM events GROUP BY user_id
    """,
)
def q_map_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: per user, build a map event_type → count
    (`map_from_entries` over sorted collected entries) and look keys up
    with `element_at` (missing key → NULL, which the oracle mirrors
    with SUM(CASE) — never COUNT FILTER, whose empty result is 0). The
    map is the engine-visible nested type the reference can only fake
    as stringified reprs (SURVEY §1.2); output projects scalars so the
    check stays engine-portable."""
    per_type = (
        t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    mapped = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    return mapped.select(
        "user_id",
        F.element_at("m", "purchase").alias("purchases"),
        F.element_at("m", "view").alias("views"),
        F.element_at("m", "error").alias("errors"),
    )


@query(
    "dq_audit_orders",
    """
    WITH corrupt AS (
      SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders
      UNION ALL
      SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(0 AS BIGINT), 100.0),
        (CAST(90001 AS BIGINT), CAST(-999 AS BIGINT), 50.0),
        (CAST(90002 AS BIGINT), CAST(NULL AS BIGINT), 75.0),
        (CAST(90003 AS BIGINT), CAST(5 AS BIGINT), -5.0)
      ) AS v(o_orderkey, o_custkey, o_totalprice)
    )
    SELECT 'nonpositive_totalprice' AS rule,
           CAST(count(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT) AS n_violations
    FROM corrupt
    UNION ALL
    SELECT 'null_custkey',
           CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
    FROM corrupt
    UNION ALL
    SELECT 'dup_orderkey',
           CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
    FROM (SELECT count(*) AS n FROM corrupt GROUP BY o_orderkey)
    UNION ALL
    SELECT 'orphan_custkey',
           CAST(count(*) AS BIGINT)
    FROM corrupt c
    WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = c.o_custkey)
    """,
)
def q_dq_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit (`operators/relational.py:dq_audit`) over the
    orders table with four PLANTED violations (a duplicate key, an
    orphan foreign key, a NULL key, a nonpositive amount) unioned in-
    query — so every rule family is exercised against known-bad rows,
    not vacuously green on clean synthetic data. Rule families map to
    their cheapest plans: predicate rules share one scan (map-side
    conditional counts), uniqueness is one partial-agg groupBy,
    referential is a broadcast left-anti join. NULL foreign keys count
    as orphans in BOTH engines (left_anti ≡ NOT EXISTS: a NULL key
    never matches)."""
    from mapreduce_project_spark.operators.relational import dq_audit

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )
    bad = spark.createDataFrame(
        [(1, 0, 100.0), (90001, -999, 50.0), (90002, None, 75.0), (90003, 5, -5.0)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    corrupt = orders.unionByName(bad)
    return dq_audit(
        corrupt,
        rules={
            "nonpositive_totalprice": F.col("o_totalprice") <= 0,
            "null_custkey": F.col("o_custkey").isNull(),
        },
        unique_keys={"dup_orderkey": ["o_orderkey"]},
        referential={
            "orphan_custkey": (
                t(spark, sf_dir, "customer"),
                ["o_custkey"],
                ["c_custkey"],
            )
        },
    )


@query(
    "snapshot_diff_orders",
    """
    SELECT 'removed' AS change, o_orderkey FROM orders WHERE o_orderkey % 101 = 0
    UNION ALL
    SELECT 'changed', o_orderkey FROM orders
    WHERE o_orderkey % 97 = 0 AND o_orderkey % 101 <> 0
    UNION ALL
    SELECT 'added', o_orderkey + 1000000 FROM orders WHERE o_orderkey % 103 = 0
    """,
)
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CDC (`operators/relational.py:table_diff`): tomorrow's
    orders snapshot is simulated in-query by a deterministic rule
    (delete keys ≡0 mod 101, reprice keys ≡0 mod 97, insert fresh keys
    for ≡0 mod 103), and the diff must recover EXACTLY the rule — the
    oracle derives the expected change set straight from the
    arithmetic, a completely independent path from the hash-compare
    full-outer join. Each side shrinks to (key, 64-bit hash) before the
    join, so the diff shuffles 16 B/row however wide the table is."""
    from mapreduce_project_spark.operators.relational import table_diff

    orders = t(spark, sf_dir, "orders")
    survived = orders.filter(F.col("o_orderkey") % 101 != 0)
    new = (
        survived.withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 10
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 103 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 1000000
            )
        )
    )
    return table_diff(orders, new, ["o_orderkey"])


@query(
    "profile_orders_columns",
    """
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders)
    SELECT col AS column, n_rows, n_nulls, n_distinct
    FROM (
      SELECT 'o_orderkey' AS col,
             CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS n_nulls,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
      FROM orders
      UNION ALL
      SELECT 'o_custkey',
             CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT),
             CAST(count(DISTINCT o_custkey) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus',
             CAST(count(*) FILTER (WHERE o_orderstatus IS NULL) AS BIGINT),
             CAST(count(DISTINCT o_orderstatus) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority',
             CAST(count(*) FILTER (WHERE o_orderpriority IS NULL) AS BIGINT),
             CAST(count(DISTINCT o_orderpriority) AS BIGINT)
      FROM orders
    ), n
    """,
)
def q_profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (`operators/relational.py:profile_columns`):
    row count, null count, and exact distinct cardinality for four
    orders columns in ONE aggregation over one scan (the oracle spells
    it as four scans — same answer, deliberately different shape)."""
    from mapreduce_project_spark.operators.relational import profile_columns

    return profile_columns(
        t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )


@query(
    "spatial_radius_join",
    """
    WITH c AS (
      SELECT c_custkey, CAST(c_custkey % 1000 AS BIGINT) AS x,
             CAST((c_custkey // 7) % 1000 AS BIGINT) AS y
      FROM customer
    ),
    s AS (
      SELECT s_suppkey, CAST((s_suppkey * 13) % 1000 AS BIGINT) AS x,
             CAST((s_suppkey * 29 // 3) % 1000 AS BIGINT) AS y
      FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey,
           CAST((c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS BIGINT)
             AS dist_sq
    FROM c, s
    WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) < 400
    """,
)
def q_spatial_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial point-radius join (`operators/join.py:radius_join`):
    customers within distance 20 of each supplier on a synthetic
    integer grid derived deterministically from the keys. The engine
    runs the grid-blocked equi-join (right side exploded to its 3×3
    cell neighborhood, every true pair meets in exactly one cell); the
    oracle runs the naive quadratic scan — two entirely different
    algorithms that must produce the identical pair set, which also
    proves the blocking is lossless. Integer coordinates end-to-end:
    no floating-point boundary ambiguity on either side."""
    from mapreduce_project_spark.operators.join import radius_join

    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") % 1000).cast("bigint").alias("x"),
        F.expr("(c_custkey div 7) % 1000").cast("bigint").alias("y"),
    )
    supp = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 13) % 1000).cast("bigint").alias("x"),
        F.expr("(s_suppkey * 29 div 3) % 1000").cast("bigint").alias("y"),
    )
    joined = radius_join(cust, supp, ("x", "y"), 20)
    dx = F.col("x_l") - F.col("x_r")
    dy = F.col("y_l") - F.col("y_r")
    return joined.select(
        "c_custkey", "s_suppkey", (dx * dx + dy * dy).cast("bigint").alias("dist_sq")
    )


@query(
    "histogram_price_equiwidth",
    """
    SELECT CAST(floor(CAST(l_extendedprice AS DOUBLE) / 5000.0) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(l_extendedprice) AS DOUBLE) AS lo,
           CAST(max(l_extendedprice) AS DOUBLE) AS hi
    FROM lineitem GROUP BY bucket
    """,
)
def q_histogram_price_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-WIDTH histogram (fixed 5000-unit bins) — the distribution
    summary dashboards bin on, complementing D61's equi-DEPTH (equal
    count) histogram: one partial-agg shuffle of (bucket, partial
    stats), bucket = floor(v / width) in one pinned IEEE division both
    engines evaluate identically. Bin edges are data-independent, so
    histograms from different partitions/days merge by adding counts —
    the same mergeability argument as the sketch family, exact here."""
    li = t(spark, sf_dir, "lineitem")
    v = F.col("l_extendedprice").cast("double")
    return li.groupBy(
        F.floor(v / F.lit(5000.0)).cast("bigint").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min(v).alias("lo"),
        F.max(v).alias("hi"),
    )


@query(
    "corr_quantity_discount",
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sy,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sxy,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
             CAST(SUM(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
                      * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS corr
    FROM s
    """,
)
def q_corr_quantity_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-arithmetic Pearson correlation per group (quantity vs
    discount-in-percent): the five moment sums are EXACT BIGINT
    (order-independent — unlike float accumulation, which is why
    engine-native corr()/covar() can't hash-match across engines), and
    the final formula is one pinned IEEE expression over exact inputs —
    sqrt is correctly rounded, so the result is bit-identical. One
    partial-agg shuffle; the drift/leakage detector for any numeric
    feature pair."""
    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("bigint")
    # floor(x+0.5), never round(): engine tie rules differ (half-up
    # vs half-even) — the fixed-point formula is IEEE-exact both sides
    y = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n, sx, sy = F.col("n").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    num = n * F.col("sxy") - sx * F.col("sy")
    den = F.sqrt(n * F.col("sxx") - sx * F.col("sx")) * F.sqrt(
        n * F.col("syy") - sy * F.col("sy")
    )
    return s.select("l_returnflag", "n", (num / den).alias("corr"))


@query(
    "weighted_avg_udaf",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS BIGINT)
                    * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS wavg_disc_pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_weighted_avg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas GROUPED_AGG UDAF surface (the third Python-UDF shape
    beside mapInPandas and applyInPandas — a reference user's
    ``reduce_fn`` that returns ONE value per group): quantity-weighted
    mean discount per returnflag, computed by an Arrow-batched numpy
    aggregation. Exactness despite numpy: both sums are int64 over
    integral inputs (order-independent), and the single double
    division matches the SQL oracle bit-wise. Scale note: unlike
    native aggregates, a pandas UDAF is NOT algebraic — the full group
    shuffles to its reducer (no map-side combine), so this is the
    escape hatch for genuinely non-decomposable statistics; anything
    expressible as partial sums (this weighted mean included) should
    use native aggregates in production — the point here is the API
    surface and its differential check."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def wavg(q, d):
        import numpy as np

        num = int((q.to_numpy(dtype=np.int64) * d.to_numpy(dtype=np.int64)).sum())
        den = int(q.to_numpy(dtype=np.int64).sum())
        return float(num) / float(den)

    wavg.__annotations__ = {"q": pd.Series, "d": pd.Series, "return": float}
    wavg_udaf = pandas_udf(wavg, "double")

    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("q"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint").alias("d"),
    )
    return li.groupBy("l_returnflag").agg(
        wavg_udaf("q", "d").alias("wavg_disc_pct")
    )


@query(
    "trend_revenue_by_nation",
    """
    WITH yearly AS (
      SELECT n_name AS nation,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) - 1997 AS x,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM orders JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name, x
    ),
    s AS (
      SELECT nation, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM yearly GROUP BY nation
    )
    SELECT nation, n,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS slope,
           (CAST(sy AS DOUBLE)
              - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
                * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS intercept
    FROM s
    """,
)
def q_trend_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend lines (closed form): yearly revenue-cents
    per customer nation regressed on (year − 1997) — slope/intercept
    from the same EXACT BIGINT moment sums as `corr_quantity_discount`
    (order-independent; engine-native regr_slope float-accumulates and
    cannot hash-match), with the final formulas as pinned IEEE
    expressions. Two partial-agg shuffles (yearly rollup, then the
    5-moment aggregation); the per-segment trend detector behind drift
    dashboards."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    yearly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(nat), c["c_nationkey"] == nat["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year("o_orderdate").cast("bigint") - F.lit(1997)).alias("x"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    s = yearly.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    n, sx = F.col("n").cast("double"), F.col("sx").cast("double")
    slope = (n * F.col("sxy") - sx * F.col("sy")) / (n * F.col("sxx") - sx * F.col("sx"))
    intercept = (F.col("sy").cast("double") - slope * sx) / n
    return s.select("nation", "n", slope.alias("slope"), intercept.alias("intercept"))


@query(
    "argmax_order_per_segment",
    """
    SELECT c_mktsegment AS segment,
           arg_max(o_orderkey,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 10000000
                     + o_orderkey) AS top_orderkey,
           CAST(MAX(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100 AS top_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_argmax_order_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The argmax-aggregate surface (`max_by` ≡ DuckDB `arg_max`): the
    highest-priced order per market segment in ONE aggregation — no
    window, no self-join (the single-row-per-group degenerate of
    top-k). Determinism under price ties: the ordering key is the
    composite ``price_cents · 10^7 + orderkey`` (orderkey < 10^7 at
    these SFs), unique per row, so both engines pick the identical
    witness — bare max_by on a tied key is engine-arbitrary."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    composite = cents * F.lit(10000000) + F.col("o_orderkey")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.expr(
                "max_by(o_orderkey, cast(floor(o_totalprice * 100 + 0.5) AS bigint) "
                "* 10000000 + o_orderkey)"
            ).alias("top_orderkey"),
            (F.max(cents).cast("double") / 100).alias("top_price"),
        )
    )


@query(
    "global_rank_orders",
    """
    SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
           CAST(ROW_NUMBER() OVER (
             ORDER BY CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT), o_orderkey
           ) AS BIGINT) AS rank
    FROM orders
    """,
)
def q_global_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global ranking of every order by (price-cents, orderkey)
    WITHOUT the single-task global window: range partition + in-
    partition sort + per-partition count offsets (metadata-scale
    collect), positions assigned partition-wise
    (`operators/windows.py:global_rank`). The ranks are deterministic
    for ANY partition-boundary placement because the offsets adapt —
    the scalable form of ``ROW_NUMBER() OVER (ORDER BY ...)``, which
    is exactly what the oracle runs."""
    from mapreduce_project_spark.operators.windows import global_rank

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    return global_rank(o, ["cents", "o_orderkey"], "rank")


@query(
    "k_anonymity_audit",
    """
    WITH cells AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT CAST((SELECT COUNT(*) FROM cells) AS BIGINT) AS n_cells,
           CAST((SELECT COALESCE(SUM(n), 0) FROM cells WHERE n < 5) AS BIGINT)
             AS n_rows_below_k,
           CAST((SELECT COUNT(*) FROM cells WHERE n < 5) AS BIGINT)
             AS n_cells_below_k,
           CAST((SELECT MIN(n) FROM cells) AS BIGINT) AS min_cell
    """,
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy governance for shareable training data: k-anonymity
    audit over the quasi-identifier tuple (segment, nation, coarse
    balance band) — how many equivalence cells exist, how many
    rows/cells sit below k = 5, and the worst cell size. One grouped
    count + a four-scalar summary (the dq_audit pattern applied to
    re-identification risk); rows below k are the ones a release
    would need to generalize or suppress. Integer-only ⇒ hash-matched."""
    c = t(spark, sf_dir, "customer")
    cells = (
        c.groupBy(
            "c_mktsegment",
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .cache()
    )
    return cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.coalesce(
            F.sum(F.when(F.col("n") < 5, F.col("n"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_rows_below_k"),
        F.sum(F.when(F.col("n") < 5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_cells_below_k"),
        F.min("n").cast("bigint").alias("min_cell"),
    )


_CHECKSUM_ORACLE = """
    SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
           bit_xor(CAST('0x' || substr(md5(
             CAST(o_orderkey AS VARCHAR) || '|' || o_orderpriority || '|'
               || CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)
           ), 1, 15) AS BIGINT)) AS checksum
    FROM orders
    UNION ALL
    SELECT 'customer', CAST(COUNT(*) AS BIGINT),
           bit_xor(CAST('0x' || substr(md5(
             CAST(c_custkey AS VARCHAR) || '|' || c_mktsegment
           ), 1, 15) AS BIGINT))
    FROM customer
    """


@query("table_checksums", _CHECKSUM_ORACLE)
def q_table_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprints — the cheap cross-replica /
    post-migration verification every lakehouse runs: XOR-fold of a
    60-bit md5 digest over each row's canonical serialization. XOR is
    commutative and associative, so ANY partitioning/replica computes
    the identical checksum with one partial-agg shuffle of a single
    BIGINT per partition (the whole-table sibling of `table_diff`'s
    per-key hash compare — this answers "are these equal", that one
    answers "what changed"). The canonical serialization pins the
    columns and a fixed-point money rendering so both engines hash
    identical bytes."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")

    def digest(concat_col):
        return F.expr(
            f"cast(conv(substr(md5(cast({concat_col} AS binary)), 1, 15), 16, 10) AS bigint)"
        )

    orders_sum = o.withColumn(
        "_r",
        F.concat(
            F.col("o_orderkey").cast("string"),
            F.lit("|"),
            F.col("o_orderpriority"),
            F.lit("|"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").cast("string"),
        ),
    ).agg(
        F.lit("orders").alias("tbl"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.expr(
            "bit_xor(cast(conv(substr(md5(cast(_r AS binary)), 1, 15), 16, 10) AS bigint))"
        ).alias("checksum"),
    )
    cust_sum = c.withColumn(
        "_r",
        F.concat(F.col("c_custkey").cast("string"), F.lit("|"), F.col("c_mktsegment")),
    ).agg(
        F.lit("customer").alias("tbl"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.expr(
            "bit_xor(cast(conv(substr(md5(cast(_r AS binary)), 1, 15), 16, 10) AS bigint))"
        ).alias("checksum"),
    )
    return orders_sum.unionByName(cust_sum)


# D304 (round 13, VERDICT r12 task 7): GDPR-style cascading delete
# AUDIT — the read side of a right-to-erasure request: given the data
# subjects, enumerate every row in every reachable artifact that the
# erasure must remove, with an order-independent fingerprint per
# artifact so the post-delete re-run can prove emptiness by value
# (n_rows = 0, checksum = 0), not by trust. The WRITE side
# (apply_changelog deletes + D299 signed view deltas) is exercised
# end-to-end in tests/test_round13_ops.py against this audit.
_GDPR_ORACLE = """
    WITH s AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 997 = 1),
    cust AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             COALESCE(bit_xor(CAST('0x' || substr(md5(
               CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT)), 0) AS checksum
      FROM customer JOIN s ON c_custkey = s.k
    ),
    ords AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             COALESCE(bit_xor(CAST('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT)), 0) AS checksum
      FROM orders JOIN s ON o_custkey = s.k
    ),
    li AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             COALESCE(bit_xor(CAST('0x' || substr(md5(
               CAST(l_orderkey AS VARCHAR) || '|' ||
               CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT)), 0)
               AS checksum
      FROM lineitem
      JOIN (SELECT o_orderkey FROM orders JOIN s ON o_custkey = s.k) o
        ON l_orderkey = o.o_orderkey
    ),
    ev AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             COALESCE(bit_xor(CAST('0x' || substr(md5(
               CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT)), 0) AS checksum
      FROM events JOIN s ON user_id = s.k
    )
    SELECT 'customer' AS artifact, n_rows, checksum FROM cust
    UNION ALL SELECT 'orders', n_rows, checksum FROM ords
    UNION ALL SELECT 'lineitem', n_rows, checksum FROM li
    UNION ALL SELECT 'events', n_rows, checksum FROM ev
    """


@query("gdpr_delete_audit", _GDPR_ORACLE)
def q_gdpr_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure cascade audit (D304): one deterministic data-
    subject set (c_custkey % 997 = 1 — in production, the request's id
    list) fans out to every artifact its data reaches — the customer
    rows themselves, their orders, those orders' lineitems (a
    TWO-hop cascade through a foreign key), and their event history —
    and each artifact reports (row count, XOR-fold of a 60-bit md5
    key digest). Running the audit before the erasure scopes the
    delete; running it after proves completion by VALUE (0, 0).

    Scale: the subject set and its order keys are broadcast semi-join
    sides (an erasure request is thousands of ids, never table-scale),
    so each artifact costs ONE scan with a map-side join and a
    single-row partial agg — no global shuffle anywhere; XOR's
    commutativity makes the fingerprint partitioning-invariant."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    ev = t(spark, sf_dir, "events")
    s = c.filter(F.col("c_custkey") % 997 == 1).select(
        F.col("c_custkey").alias("k")
    )

    def fold(df, key_expr, label):
        return df.withColumn("_r", F.expr(key_expr)).agg(
            F.lit(label).alias("artifact"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.coalesce(
                F.expr(
                    "bit_xor(cast(conv(substr(md5(cast(_r AS binary)),"
                    " 1, 15), 16, 10) AS bigint))"
                ),
                F.lit(0),
            ).alias("checksum"),
        )

    cust = fold(
        c.join(F.broadcast(s), c["c_custkey"] == s["k"]),
        "cast(c_custkey as string)",
        "customer",
    )
    subj_orders = o.join(F.broadcast(s), o["o_custkey"] == s["k"])
    ords = fold(subj_orders, "cast(o_orderkey as string)", "orders")
    okeys = subj_orders.select("o_orderkey")
    lis = fold(
        l.join(F.broadcast(okeys), l["l_orderkey"] == okeys["o_orderkey"]),
        "concat(cast(l_orderkey as string), '|', cast(l_linenumber as string))",
        "lineitem",
    )
    evs = fold(
        ev.join(F.broadcast(s), ev["user_id"] == s["k"]),
        "cast(event_id as string)",
        "events",
    )
    return cust.unionByName(ords).unionByName(lis).unionByName(evs)


@query(
    "fulfillment_latency_histogram",
    """
    WITH first_ship AS (
      SELECT l_orderkey, MIN(l_shipdate) AS first_ship
      FROM lineitem GROUP BY l_orderkey
    ),
    lat AS (
      SELECT CAST(date_diff('day', CAST(o_orderdate AS DATE),
                            CAST(first_ship AS DATE)) AS BIGINT) AS days
      FROM orders JOIN first_ship ON o_orderkey = l_orderkey
    )
    SELECT days // 7 AS week_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(days) AS BIGINT) AS min_days,
           CAST(MAX(days) AS BIGINT) AS max_days
    FROM lat GROUP BY 1
    """,
)
def q_fulfillment_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-shipment latency distribution in week buckets —
    the operational-latency readout (order placed → first line item
    shipped) every fulfillment dashboard carries. One partial-agg MIN
    per order, one key-carrying join, integer day arithmetic
    (`datediff` ≡ DuckDB `date_diff('day')` on DATEs), data-independent
    bucket edges so per-partition histograms merge by addition (the
    D102 equi-width discipline on a derived duration)."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("first_ship"))
    lat = (
        o.join(first_ship, o["o_orderkey"] == first_ship["l_orderkey"])
        .select(
            F.datediff(
                F.col("first_ship").cast("date"), F.col("o_orderdate").cast("date")
            )
            .cast("bigint")
            .alias("days")
        )
    )
    return (
        lat.groupBy(F.expr("days div 7").alias("week_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("days").cast("bigint").alias("min_days"),
            F.max("days").cast("bigint").alias("max_days"),
        )
    )


_DP_NOISY_ORACLE = """
    WITH g AS (
      SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY source, lang
    ),
    u AS (
      SELECT source, lang, n,
             (CAST(CAST('0x' || substr(md5('dp1:' || source || ':' || lang), 1, 8)
                        AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS uu
      FROM g
    )
    SELECT source, lang,
           CAST(1000000 AS BIGINT) AS epsilon_micro,
           CAST(n * 1000000
                + CAST(round((-sign(uu - 0.5)
                              * ln(1.0 - 2.0 * abs(uu - 0.5))) * 1000000.0)
                       AS BIGINT) AS BIGINT) AS noisy_count_micro
    FROM u
    """


@query("dp_noisy_source_counts", _DP_NOISY_ORACLE)
def q_dp_noisy_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP-SHAPED noisy release of the per-(source, lang) document
    histogram — the governance sibling of the k-anonymity audit and the
    pseudonymized release: counts get Laplace(sensitivity/epsilon = 1/1)
    noise via the inverse-CDF transform of a SEEDED md5 uniform (u from
    the engine-portable hex bridge, noise = -sign(u-1/2)·ln(1-2|u-1/2|)).

    PRIVACY SEMANTICS (what this does and does NOT provide): with the
    public constant seed 'dp1' the noise is exactly recomputable by
    anyone — and therefore SUBTRACTABLE — so this pipeline demonstrates
    the Laplace MECHANISM (correct distribution, sensitivity-calibrated
    scale, true counts absent from the output) but provides NO actual
    differential privacy. Determinism against a known seed and the DP
    guarantee are fundamentally incompatible: a real deployment MUST
    draw the seed from a secret, non-logged source, which necessarily
    forfeits oracle replay. Correspondingly, the DuckDB oracle here
    proves the mechanism's TRANSFORM is implemented exactly (uniform →
    inverse-CDF → micro-unit quantization, cross-engine bit-equal); it
    cannot and does not certify a privacy property of a randomized
    release — see tests/test_governance_sketches.py for the planted
    epsilon-sensitivity pin (noise scale halves when epsilon doubles).

    The noise lands as micro-unit BIGINTs (the micro-log fixed-point
    trick: one ln per GROUP — a handful of rows — quantized before any
    further arithmetic), so the released column is integer-exact
    cross-engine. One partial-agg shuffle over (source, lang); noise is
    a per-group projection."""
    return dp_noisy_source_counts(spark, sf_dir, epsilon=1.0)


def dp_noisy_source_counts(spark: SparkSession, sf_dir: str, epsilon: float = 1.0) -> DataFrame:
    """Parameterized Laplace mechanism over the (source, lang) counts —
    scale b = sensitivity/epsilon = 1/epsilon. Same seeded-uniform
    caveats as the registered query (see q_dp_noisy_source_counts);
    epsilon is exposed so the scale calibration is testable: with the
    one seed 'dp1', noise(2*eps) is exactly noise(eps)/2 pre-quantization."""
    g = (
        t(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    uu = (
        F.expr(
            "cast(conv(substr(md5(cast(concat('dp1:', source, ':', lang)"
            " AS binary)), 1, 8), 16, 10) AS bigint)"
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    lap = (
        -F.signum(uu - F.lit(0.5))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(uu - F.lit(0.5)))
        / F.lit(float(epsilon))
    )
    return g.select(
        "source",
        "lang",
        F.lit(int(round(epsilon * 1000000))).cast("bigint").alias("epsilon_micro"),
        (
            F.col("n") * F.lit(1000000)
            + F.round(lap * F.lit(1000000.0), 0).cast("bigint")
        )
        .cast("bigint")
        .alias("noisy_count_micro"),
    )


_WMEDIAN_ORACLE = """
    WITH c AS (
      SELECT l_returnflag AS grp,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS w,
             l_orderkey * 10 + l_linenumber AS rid
      FROM lineitem
    ),
    cum AS (
      SELECT grp, cents, w,
             SUM(w) OVER (PARTITION BY grp ORDER BY cents, rid
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY grp) AS wt
      FROM c
    )
    SELECT grp AS l_returnflag,
           CAST(MIN(wt) AS BIGINT) AS w_total,
           CAST(MIN(CASE WHEN 2 * cw >= wt THEN cents END) AS BIGINT)
             AS wmedian_cents,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM cum GROUP BY grp
    """


@query("weighted_median_price", _WMEDIAN_ORACLE)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped WEIGHTED median — the robust location estimate when
    rows carry unequal mass (here: price weighted by quantity, the
    "median dollar-weighted unit price" a pricing analyst wants, which
    neither D8's exact percentiles nor D123's MAD computes): the lower
    weighted median is the smallest value whose cumulative weight
    reaches half the group total, decided entirely in BIGINT (cents via
    the half-up floor(x*100+0.5) fixed-point bridge, integer weights,
    2*cum >= total avoids any division). Plan — the scale-critical
    move: rows first collapse to DISTINCT (group, value) cells with a
    partial-agg weight sum (map-side combine), and only the cell table
    rides the cumulative-sum window — the per-group sort is bounded by
    the VALUE DOMAIN (<= 10^7 distinct cents here), not the row count,
    so a 3-group corpus cannot serialize a 100 TB sort onto 3 tasks.
    (The first cut windowed the raw rows: the sf~1 decade measured it
    at 6.7x/decade precisely because partitionBy(3 groups) caps the
    window's parallelism at 3; the cell-level rewrite is ~1x.)
    Crossing the half-total mid-tie still selects that value, so the
    cell-level cumsum gives exactly the row-level answer."""
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem")
    c = li.select(
        F.col("l_returnflag").alias("grp"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    cells = c.groupBy("grp", "cents").agg(
        F.sum("w").alias("w"), F.count(F.lit(1)).alias("cnt")
    )
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("grp")
    cum = cells.select(
        "grp", "cents", "cnt",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_all).alias("wt"),
    )
    return cum.groupBy(F.col("grp").alias("l_returnflag")).agg(
        F.min("wt").cast("bigint").alias("w_total"),
        F.min(F.when(2 * F.col("cw") >= F.col("wt"), F.col("cents")))
        .cast("bigint")
        .alias("wmedian_cents"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
    )


_ASSOC_ORACLE = """
    WITH li AS (
      SELECT DISTINCT l_orderkey AS bid, l_partkey AS item FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT bid) AS BIGINT) AS nb FROM li),
    l1 AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS supp
      FROM li GROUP BY item HAVING COUNT(*) >= 2
    ),
    f AS (SELECT li.bid, li.item FROM li JOIN l1 USING (item)),
    p AS (
      SELECT a.item AS ia, b.item AS ib, CAST(COUNT(*) AS BIGINT) AS supp_ab
      FROM f a JOIN f b ON a.bid = b.bid AND a.item < b.item
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    rules AS (
      SELECT ia AS antecedent, ib AS consequent, supp_ab,
             la.supp AS supp_a, lb.supp AS supp_b
      FROM p JOIN l1 la ON la.item = ia JOIN l1 lb ON lb.item = ib
      UNION ALL
      SELECT ib, ia, supp_ab, lb.supp, la.supp
      FROM p JOIN l1 la ON la.item = ia JOIN l1 lb ON lb.item = ib
    )
    SELECT antecedent, consequent, supp_ab, supp_a, supp_b,
           CAST(supp_ab * 1000000 // supp_a AS BIGINT) AS conf_fp,
           CAST(supp_ab * (SELECT nb FROM n) * 1000000
                // (supp_a * supp_b) AS BIGINT) AS lift_fp
    FROM rules
    ORDER BY lift_fp DESC, conf_fp DESC, antecedent, consequent
    LIMIT 50
    """


@query("basket_association_rules", _ASSOC_ORACLE)
def q_basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket ASSOCIATION RULES (the A-priori classic, order =
    basket, part = item): directional A -> B with exact integer
    support / confidence / lift, top-50 by lift — the other half of
    co-occurrence analytics next to D104's session lift (different
    granularity, and CONFIDENCE — an asymmetric, rule-shaped metric —
    is the point). A-priori discipline at scale: items below min
    support (2) are pruned BEFORE pairing (L1 filter — the frequent-
    itemset lattice's antimonotonicity), and pair generation is a
    basket-keyed self-join bounded by the basket alphabet (<= 13 items
    per order here), never corpus-quadratic. Ratios land as truncating
    micro-unit divisions over exact BIGINT counts; the top-50 cut
    orders by integers only. One distinct-projection, two partial
    aggs, one bounded self-join."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("bid"), F.col("l_partkey").alias("item")
    ).distinct()
    nb = li.agg(F.countDistinct("bid").cast("bigint").alias("nb"))
    l1 = (
        li.groupBy("item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("supp"))
        .filter(F.col("supp") >= 2)
    )
    f = li.join(F.broadcast(l1.select("item")), "item")
    a, b = f.alias("a"), f.alias("b")
    p = (
        a.join(b, (F.col("a.bid") == F.col("b.bid"))
               & (F.col("a.item") < F.col("b.item")))
        .groupBy(F.col("a.item").alias("ia"), F.col("b.item").alias("ib"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("supp_ab"))
        .filter(F.col("supp_ab") >= 2)
    )
    la = l1.select(F.col("item").alias("ia"), F.col("supp").alias("supp_ia"))
    lb = l1.select(F.col("item").alias("ib"), F.col("supp").alias("supp_ib"))
    pj = p.join(F.broadcast(la), "ia").join(F.broadcast(lb), "ib")
    fwd = pj.select(
        F.col("ia").alias("antecedent"), F.col("ib").alias("consequent"),
        "supp_ab", F.col("supp_ia").alias("supp_a"), F.col("supp_ib").alias("supp_b"),
    )
    rev = pj.select(
        F.col("ib").alias("antecedent"), F.col("ia").alias("consequent"),
        "supp_ab", F.col("supp_ib").alias("supp_a"), F.col("supp_ia").alias("supp_b"),
    )
    rules = fwd.unionByName(rev).crossJoin(F.broadcast(nb)).select(
        "antecedent", "consequent", "supp_ab", "supp_a", "supp_b",
        F.expr("supp_ab * 1000000 div supp_a").cast("bigint").alias("conf_fp"),
        F.expr("supp_ab * nb * 1000000 div (supp_a * supp_b)")
        .cast("bigint")
        .alias("lift_fp"),
    )
    return rules.orderBy(
        F.desc("lift_fp"), F.desc("conf_fp"), "antecedent", "consequent"
    ).limit(50)


_SKYLINE_ORACLE = """
    WITH o AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS date_ed
      FROM orders
    )
    SELECT b.o_orderkey, b.price_cents, b.date_ed
    FROM o b
    WHERE NOT EXISTS (
      SELECT 1 FROM o a
      WHERE a.price_cents <= b.price_cents AND a.date_ed <= b.date_ed
        AND (a.price_cents < b.price_cents OR a.date_ed < b.date_ed)
    )
    """


@query("skyline_orders", _SKYLINE_ORACLE)
def q_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D SKYLINE (Pareto frontier) — the multi-objective operator
    (Börzsönyi et al., ICDE'01) the relational tier lacked: orders not
    DOMINATED on (price minimize, order date minimize) — no other
    order is at-most-equal on both and strictly better on one. The
    scale insight (same discipline as the weighted-median rewrite): in
    2-D the quadratic NOT-EXISTS is unnecessary, AND the global sort
    never has to see the rows — only the per-price MIN date matters
    for dominance, so rows first collapse to (price, min_date) CELLS
    with a partial agg (cell count bounded by the price DOMAIN, not
    the row count), the cell skyline falls out of one cummin window
    over that tiny table (a cell survives iff its date beats every
    strictly-cheaper cell's running min), and survivors join back by
    the exact (price, date) pair — a broadcast join against the
    frontier, which is at most |skyline| rows. All BIGINT (half-up
    cents, epoch days) ⇒ hash-exact; the oracle is the definitional
    quadratic NOT EXISTS, so the rewrite itself is what the hash
    proves."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("price_cents"),
        F.unix_date(F.col("o_orderdate").cast("date")).cast("bigint").alias("date_ed"),
    )
    cells = o.groupBy("price_cents").agg(F.min("date_ed").alias("min_d"))
    w_cheaper = (
        Window.orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    sky = (
        cells.select(
            "price_cents", "min_d",
            F.min("min_d").over(w_cheaper).alias("min_d_cheaper"),
        )
        .filter(
            F.col("min_d_cheaper").isNull()
            | (F.col("min_d_cheaper") > F.col("min_d"))
        )
        .select("price_cents", F.col("min_d").alias("date_ed"))
    )
    return o.join(F.broadcast(sky), ["price_cents", "date_ed"]).select(
        "o_orderkey", "price_cents", "date_ed"
    )


_RFM_ORACLE = """
    WITH maxd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d FROM orders),
    cust AS (
      SELECT o_custkey AS c,
             CAST(datediff('day', MAX(CAST(o_orderdate AS DATE)),
                           (SELECT d FROM maxd)) AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cust),
    ranked AS (
      SELECT recency_days, cents,
             row_number() OVER (ORDER BY -recency_days, c) AS rn_r,
             row_number() OVER (ORDER BY n_orders, c) AS rn_f,
             row_number() OVER (ORDER BY cents, c) AS rn_m
      FROM cust
    ),
    scored AS (
      SELECT recency_days, cents,
             ((rn_r - 1) * 5) // (SELECT n FROM n) + 1 AS r_s,
             ((rn_f - 1) * 5) // (SELECT n FROM n) + 1 AS f_s,
             ((rn_m - 1) * 5) // (SELECT n FROM n) + 1 AS m_s
      FROM ranked
    )
    SELECT CAST(r_s * 100 + f_s * 10 + m_s AS BIGINT) AS rfm_cell,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS sum_monetary_cents,
           CAST(MIN(recency_days) AS BIGINT) AS min_recency_days,
           CAST(MAX(recency_days) AS BIGINT) AS max_recency_days
    FROM scored GROUP BY rfm_cell
    """


@query("rfm_segmentation", _RFM_ORACLE)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (Hughes' recency/frequency/monetary
    scoring — the classic CRM workhorse) with EXACT balanced quintiles
    at any scale: each dimension is scored 1-5 by the explicit rank
    formula score = (rank-1)*5 div n + 1 over a deterministic total
    order ((metric, custkey); recency ranked on the NEGATED day count
    so most-recent earns 5) — NOT the engines' NTILE, whose tie/bucket
    conventions differ, and NOT a single-task global window: all three
    ranks come from `operators/windows.py:global_rank` (range partition
    + per-partition offsets, the D129 machinery) chained so no join
    reassembles the scores. Output is the 125-cell RFM lattice with
    customer counts, monetary mass and recency spread per cell — the
    segment-sizing table a CRM ships. Recency anchor = corpus max
    order date (deterministic, replayable). One grouped agg over
    orders, three range-partitioned rank passes over ~#customers rows,
    one 125-cell partial agg."""
    from mapreduce_project_spark.operators.windows import global_rank

    o = t(spark, sf_dir, "orders")
    maxd = o.agg(F.max(F.to_date("o_orderdate")).alias("maxd"))
    cust = (
        o.groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_date"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "c",
            F.datediff("maxd", "last_date").cast("bigint").alias("recency_days"),
            "n_orders",
            "cents",
        )
        .withColumn("neg_rec", -F.col("recency_days"))
    )
    nrow = cust.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = global_rank(
        global_rank(global_rank(cust, ["neg_rec", "c"], "rn_r"),
                    ["n_orders", "c"], "rn_f"),
        ["cents", "c"], "rn_m",
    )
    scored = ranked.crossJoin(F.broadcast(nrow)).select(
        "recency_days",
        "cents",
        F.expr("(rn_r - 1) * 5 div n + 1").alias("r_s"),
        F.expr("(rn_f - 1) * 5 div n + 1").alias("f_s"),
        F.expr("(rn_m - 1) * 5 div n + 1").alias("m_s"),
    )
    return scored.groupBy(
        (F.col("r_s") * 100 + F.col("f_s") * 10 + F.col("m_s"))
        .cast("bigint")
        .alias("rfm_cell")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("sum_monetary_cents"),
        F.min("recency_days").cast("bigint").alias("min_recency_days"),
        F.max("recency_days").cast("bigint").alias("max_recency_days"),
    )


# log10(1 + 1/d) in micro-units for d = 1..9, baked identically into
# both engines (no libm at query time).
_BENFORD_MICRO = [301030, 176091, 124939, 96910, 79181, 66947, 57992,
                  51153, 45757]

_BENFORD_ORACLE = f"""
    WITH cents AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders
      WHERE o_totalprice > 0
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM cents),
    obs AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM cents GROUP BY 1
    ),
    exp AS (
      SELECT * FROM (VALUES
        {', '.join(f'({d}, {m})' for d, m in enumerate(_BENFORD_MICRO, 1))})
        AS t(digit, expected_micro)
    )
    SELECT exp.digit, COALESCE(obs.n_obs, 0) AS n_obs,
           CAST(COALESCE(obs.n_obs, 0) * 1000000 // (SELECT nt FROM n)
                AS BIGINT) AS share_micro,
           CAST(exp.expected_micro AS BIGINT) AS expected_micro,
           CAST(COALESCE(obs.n_obs, 0) * 1000000 // (SELECT nt FROM n)
                - exp.expected_micro AS BIGINT) AS dev_micro
    FROM exp LEFT JOIN obs ON obs.digit = exp.digit
    """


@query("benford_first_digit_audit", _BENFORD_ORACLE)
def q_benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    fabrication/anomaly screen auditors run on financial columns
    (Newcomb 1881 / Benford 1938; genuine multi-scale amounts follow
    P(d) = log10(1 + 1/d), synthetic or tampered ones usually don't):
    per leading digit, observed count, exact micro-unit share and the
    deviation from the baked-in Benford expectation (constants
    pre-quantized in Python — no libm at query time, so every output
    cell is an exact integer). TPC-H prices are uniform-ish, so the
    fixture SHOWS a strong deviation — that's the audit working, not
    failing. One scan, one 9-cell partial agg, one broadcast join
    against the 9-row expectation table; digits with zero mass still
    emit a row (LEFT join from the expectation side)."""
    cents = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0).select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("c")
    )
    n = cents.agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    obs = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("bigint").alias("digit")
    ).groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    exp = spark.createDataFrame(
        [(d, m) for d, m in enumerate(_BENFORD_MICRO, 1)],
        "digit bigint, expected_micro bigint",
    )
    return (
        exp.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint").alias("n_obs"),
            F.expr("coalesce(n_obs, 0) * 1000000 div nt")
            .cast("bigint")
            .alias("share_micro"),
            "expected_micro",
            F.expr("coalesce(n_obs, 0) * 1000000 div nt - expected_micro")
            .cast("bigint")
            .alias("dev_micro"),
        )
    )


_LDIV_ORACLE = """
    WITH cells AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
                  AS BIGINT) AS l
      FROM customer
      GROUP BY 1, 2
    )
    SELECT CAST((SELECT COUNT(*) FROM cells) AS BIGINT) AS n_cells,
           CAST((SELECT MIN(l) FROM cells) AS BIGINT) AS min_l,
           CAST((SELECT COUNT(*) FROM cells WHERE l < 3) AS BIGINT)
             AS n_cells_below_l3,
           CAST((SELECT COALESCE(SUM(n), 0) FROM cells WHERE l < 3) AS BIGINT)
             AS n_rows_below_l3
    """


@query("l_diversity_audit", _LDIV_ORACLE)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al., ICDE'06) — the
    governance check k-anonymity (D131) cannot make: a cell can be
    k-anonymous yet leak its sensitive attribute when every member
    shares one value (the homogeneity attack). Quasi-identifiers =
    (segment, nation); sensitive = the coarse balance band; per cell,
    l = distinct sensitive values; report the cell count, worst l and
    the cells/rows below l = 3 that a release would generalize or
    suppress. One grouped count-distinct + a four-scalar summary —
    the D93/D131 audit shape; integer-only ⇒ hash-matched."""
    c = t(spark, sf_dir, "customer")
    cells = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / 1000).cast("bigint")
        )
        .cast("bigint")
        .alias("l"),
    )
    return cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.min("l").cast("bigint").alias("min_l"),
        F.sum(F.when(F.col("l") < 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_cells_below_l3"),
        F.coalesce(
            F.sum(F.when(F.col("l") < 3, F.col("n"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_rows_below_l3"),
    )


_ITEMCF_ORACLE = """
    WITH ui AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    bsz AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS bs FROM ui GROUP BY u),
    hist AS (SELECT bs, CAST(COUNT(*) AS BIGINT) AS c FROM bsz GROUP BY bs),
    cum AS (
      SELECT bs,
             CAST(SUM(c) OVER (ORDER BY bs) AS BIGINT) AS cum,
             (SELECT CAST(SUM(c) AS BIGINT) FROM hist) AS n
      FROM hist
    ),
    cap AS (
      SELECT greatest(8, 4 * MIN(bs)) AS cap FROM cum WHERE 10 * cum >= 9 * n
    ),
    capped AS (
      SELECT ui.u, ui.i FROM ui JOIN bsz USING (u) CROSS JOIN cap
      WHERE bsz.bs <= cap.cap
    ),
    ni AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM capped GROUP BY i),
    ab AS (
      SELECT a.i AS ia, b.i AS ib, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM capped a JOIN capped b ON a.u = b.u AND a.i <> b.i
      GROUP BY a.i, b.i
      HAVING COUNT(*) >= 2
    ),
    scored AS (
      SELECT ab.ia AS part, ab.ib AS neighbor, ab.n_ab,
             na.n AS n_a, nb.n AS n_b,
             CAST((ab.n_ab * 1000000 // na.n) * ab.n_ab // nb.n AS BIGINT)
               AS sim2_micro
      FROM ab JOIN ni na ON na.i = ab.ia JOIN ni nb ON nb.i = ab.ib
    )
    SELECT part, neighbor, n_ab, n_a, n_b, sim2_micro, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY part
                                   ORDER BY sim2_micro DESC, neighbor) AS rk
      FROM scored
    ) WHERE rk <= 5
    """


@query("itemcf_topk", _ITEMCF_ORACLE)
def q_itemcf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item COLLABORATIVE FILTERING (D216, the Amazon-classic
    co-purchase kNN; Linden et al., IEEE IC 2003): per part, the top-5
    most-similar parts by cosine² over binary customer-purchase
    vectors — sim²(a,b) = n_ab² / (n_a·n_b), computed as the pinned
    truncating two-step ((n_ab·10⁶ div n_a)·n_ab div n_b) so every
    cell is an exact BIGINT in both engines (squaring avoids sqrt; the
    ranking is identical since x ↦ x² is monotone on non-negatives,
    and the two-step div order also bounds intermediates ≤ 10⁶·n_ab at
    ANY corpus size where the naive n_ab²·10⁶ overflows 64 bits).

    Scale discipline: baskets are CUSTOMER-keyed distinct (customer,
    part) rows; pair generation is the within-basket self-join, so
    candidate mass is Σ basket² — bounded by the DATA-DEPENDENT whale
    cap (round-11, the D206 auto-width pattern replacing the static
    ≤100 constant): whale = basket > 4× the exact 90th-percentile
    basket size, floored at 8. The percentile comes from the basket-
    size HISTOGRAM (domain = distinct basket sizes, metadata-scale at
    any corpus — the one unpartitioned running-sum window is over that
    tiny domain, never over customers), discrete type-1 semantics via
    pure integer comparison (cum·10 ≥ n·9 ⇔ cum ≥ ceil(0.9n)), so the
    DuckDB twin replays the cap bit-exactly. A regular distribution
    (max < 4·p90) drops nothing; one institutional buyer with 10⁶
    parts (10¹² pairs) is cut wherever the corpus's own p90 sits —
    the guard now scales with the basket-size distribution instead of
    asserting 100 is always the right knee. Capped customers drop out
    of the similarity evidence entirely, the standard CF treatment of
    degenerate users. Per-item top-5 is a keyed window over the pair
    aggregate. Hash-matched at three SFs; planted co-purchase geometry
    + planted whale-drop pinned in tests/test_advanced.py."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ui = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
    )
    bsz = ui.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("bs"))
    hist = bsz.groupBy("bs").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    cum = hist.select(
        "bs",
        F.sum("c")
        .over(Window.orderBy("bs").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    ).crossJoin(F.broadcast(hist.agg(F.sum("c").cast("bigint").alias("n"))))
    cap = cum.filter(F.col("cum") * 10 >= F.col("n") * 9).agg(
        F.greatest(F.lit(8), F.lit(4) * F.min("bs")).cast("bigint").alias("cap")
    )
    capped = (
        ui.join(bsz, "u")
        .crossJoin(F.broadcast(cap))
        .filter(F.col("bs") <= F.col("cap"))
        .select("u", "i")
        .cache()
    )
    ni = capped.groupBy("i").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a, b = capped.alias("a"), capped.alias("b")
    # n_ab is symmetric: generate each unordered pair ONCE (i < i'),
    # aggregate, then mirror — halves the within-basket join output and
    # the pair shuffle vs the original i != i' form (round-10 retune;
    # outputs hash-equal by construction).
    half = (
        a.join(
            b,
            (F.col("a.u") == F.col("b.u")) & (F.col("a.i") < F.col("b.i")),
        )
        .groupBy(F.col("a.i").alias("ia"), F.col("b.i").alias("ib"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)  # single co-purchases are pair noise
    )
    # mirror in the SAME pass (explode of both orientations) — a union
    # of two selects over `half` would re-run the whole pair pipeline
    # twice (Spark does not CSE a DataFrame feeding two consumers)
    ab = half.select(
        F.explode(
            F.array(
                F.struct("ia", "ib", "n_ab"),
                F.struct(
                    F.col("ib").alias("ia"),
                    F.col("ia").alias("ib"),
                    F.col("n_ab"),
                ),
            )
        ).alias("p")
    ).select("p.ia", "p.ib", "p.n_ab")
    na = ni.select(F.col("i").alias("ia"), F.col("n").alias("n_a"))
    nb = ni.select(F.col("i").alias("ib"), F.col("n").alias("n_b"))
    scored = (
        ab.join(F.broadcast(na), "ia")
        .join(F.broadcast(nb), "ib")
        .select(
            F.col("ia").alias("part"),
            F.col("ib").alias("neighbor"),
            "n_ab",
            "n_a",
            "n_b",
            F.expr("(n_ab * 1000000 div n_a) * n_ab div n_b")
            .cast("bigint")
            .alias("sim2_micro"),
        )
    )
    w = Window.partitionBy("part").orderBy(F.desc("sim2_micro"), "neighbor")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 5)
        .select("part", "neighbor", "n_ab", "n_a", "n_b", "sim2_micro", "rk")
    )


# The schema's FK edges: (edge label, child table, child key col,
# parent table, parent key col). partsupp is absent from the fixture
# set, so lineitem's part/supplier references are validated directly.
_FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)

_FK_ORACLE = " UNION ALL ".join(
    f"""
    SELECT '{label}' AS fk_edge,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS child_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}
             WHERE {ckey} IS NULL) AS null_fk_rows,
           CAST(COUNT(*) AS BIGINT) AS distinct_fk_keys,
           CAST(COALESCE(SUM(CASE WHEN p.{pkey} IS NULL THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS orphan_keys,
           CAST(COALESCE(SUM(CASE WHEN p.{pkey} IS NULL THEN cnt ELSE 0 END), 0)
                AS BIGINT) AS orphan_rows,
           CAST(COALESCE(SUM(CASE WHEN p.{pkey} IS NULL THEN cnt ELSE 0 END), 0)
                * 1000000
                // greatest(1, (SELECT COUNT(*) FROM {child}))
                AS BIGINT) AS orphan_ppm
    FROM (SELECT {ckey} AS k, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM {child} WHERE {ckey} IS NOT NULL GROUP BY 1) c
    LEFT JOIN {parent} p ON p.{pkey} = c.k
    """
    for label, child, ckey, parent, pkey in _FK_EDGES
)


@query("fk_integrity_audit", _FK_ORACLE)
def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit (D227) across every FK edge of the
    schema — the ingest gate a warehouse runs before trusting joins:
    per edge, child cardinality, NULL foreign keys, distinct key count,
    and orphan keys/rows (child keys with no parent) plus the orphan
    rate in ppm. A broken upstream export shows up here as a nonzero
    orphan row BEFORE it silently drops revenue from every inner join
    downstream (the D93 data-quality audit checks value ranges; this
    checks the join graph itself).

    Exactness: pure integer counts and one truncating ppm division.
    Plan per edge: the child aggregates to DISTINCT FK keys first (one
    partial-agg shuffle collapses any child to ≤ |parent-domain| keys),
    then a LEFT join against the parent key column detects orphans —
    counts ride along, so no second pass over the child. Parent sides
    prune to their key column at scan. The seven per-edge one-row
    results union into a fixed 7-row report — metadata-scale output at
    any corpus size."""
    frames = []
    for label, child, ckey, parent, pkey in _FK_EDGES:
        c = t(spark, sf_dir, child)
        p = t(spark, sf_dir, parent).select(F.col(pkey).alias("__pk"))
        totals = c.agg(
            F.count(F.lit(1)).cast("bigint").alias("child_rows"),
            F.sum(F.col(ckey).isNull().cast("bigint"))
            .cast("bigint")
            .alias("null_fk_rows"),
        )
        keyed = (
            c.filter(F.col(ckey).isNotNull())
            .groupBy(F.col(ckey).alias("k"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .join(p, F.col("k") == F.col("__pk"), "left")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("distinct_fk_keys"),
                F.coalesce(
                    F.sum(F.col("__pk").isNull().cast("bigint")), F.lit(0)
                )
                .cast("bigint")
                .alias("orphan_keys"),
                F.coalesce(
                    F.sum(F.when(F.col("__pk").isNull(), F.col("cnt")).otherwise(0)),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("orphan_rows"),
            )
        )
        frames.append(
            totals.crossJoin(keyed).select(
                F.lit(label).alias("fk_edge"),
                "child_rows",
                "null_fk_rows",
                "distinct_fk_keys",
                "orphan_keys",
                "orphan_rows",
                F.expr("orphan_rows * 1000000 div greatest(1, child_rows)")
                .cast("bigint")
                .alias("orphan_ppm"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# DuckDB twin of the t-closeness audit: identical QI cells and balance
# bands as the l-diversity audit (D205), identical cumulative-ppm EMD.
_TCLOSE_ORACLE = """
    WITH rows_b AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS band
      FROM customer
    ),
    bands AS (SELECT DISTINCT band FROM rows_b),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM bands),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM rows_b),
    gband AS (
      SELECT band, CAST(COUNT(*) AS BIGINT) AS g FROM rows_b GROUP BY 1
    ),
    cells AS (
      SELECT seg, nat, CAST(COUNT(*) AS BIGINT) AS n FROM rows_b GROUP BY 1, 2
    ),
    cband AS (
      SELECT seg, nat, band, CAST(COUNT(*) AS BIGINT) AS c
      FROM rows_b GROUP BY 1, 2, 3
    ),
    grid AS (
      SELECT cells.seg, cells.nat, cells.n, bands.band,
             COALESCE(cband.c, 0) AS c, gband.g
      FROM cells CROSS JOIN bands
      LEFT JOIN cband ON cband.seg = cells.seg AND cband.nat = cells.nat
                     AND cband.band = bands.band
      JOIN gband ON gband.band = bands.band
    ),
    cum AS (
      SELECT seg, nat, n, band,
             SUM(c) OVER (PARTITION BY seg, nat ORDER BY band
                          ROWS UNBOUNDED PRECEDING) AS cc,
             SUM(g) OVER (PARTITION BY seg, nat ORDER BY band
                          ROWS UNBOUNDED PRECEDING) AS cg
      FROM grid
    )
    SELECT seg AS c_mktsegment, nat AS c_nationkey, n AS n_rows,
           CAST(SUM(abs(cc * 1000000 // n
                        - cg * 1000000 // (SELECT n_total FROM total)))
                // ((SELECT m FROM m) - 1) AS BIGINT) AS t_emd_ppm,
           CAST(CASE WHEN SUM(abs(cc * 1000000 // n
                        - cg * 1000000 // (SELECT n_total FROM total)))
                // ((SELECT m FROM m) - 1) > 200000
                THEN 1 ELSE 0 END AS BIGINT) AS above_t02
    FROM cum
    GROUP BY seg, nat, n
    """


@query("t_closeness_audit", _TCLOSE_ORACLE)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (D237, Li et al., ICDE'07) — the third leg of
    the release-governance triad: k-anonymity (D131) bounds cell size,
    l-diversity (D205) bounds value homogeneity, and t-closeness bounds
    how far a cell's SENSITIVE-VALUE DISTRIBUTION may drift from the
    corpus distribution (a cell can be k-anonymous AND l-diverse yet
    still leak — e.g. 90% of its members in the top balance band when
    the corpus has 10%; the skew IS the disclosure). Same QI cells
    (segment, nation) and balance bands as D205; distance = the Earth
    Mover's Distance on the ORDERED band domain — Σ|cumQ − cumP| over
    bands div (m−1), the classic ordered-attribute EMD.

    Exactness: cumulative counts are exact integers, cumulative shares
    are truncating ppm, the EMD is one truncating division — zero
    floats. Plan: three partial aggs (global bands, cells, cell×band),
    a cells × bands grid (m ≈ a dozen bands, so the grid is ~m× the
    cell table — metadata-scale), one bounded per-cell window for the
    two cumsums, one final partial agg. Output: one row per QI cell
    with its t in ppm and the t > 0.2 release flag."""
    from pyspark.sql import Window

    c = t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("band"),
    )
    bands = c.select("band").distinct()
    m = bands.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    total = c.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    gband = c.groupBy("band").agg(F.count(F.lit(1)).cast("bigint").alias("g"))
    cells = c.groupBy("seg", "nat").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    cband = c.groupBy("seg", "nat", "band").agg(
        F.count(F.lit(1)).cast("bigint").alias("cc0")
    )
    grid = (
        cells.crossJoin(F.broadcast(bands))
        .join(cband, ["seg", "nat", "band"], "left")
        .join(F.broadcast(gband), "band")
        .select(
            "seg",
            "nat",
            "n",
            "band",
            F.coalesce("cc0", F.lit(0)).alias("c"),
            "g",
        )
    )
    w = Window.partitionBy("seg", "nat").orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grid.select(
        "seg",
        "nat",
        "n",
        F.sum("c").over(w).alias("cc"),
        F.sum("g").over(w).alias("cg"),
    )
    emd = "sum(abs(cc * 1000000 div n - cg * 1000000 div n_total)) div (m - 1)"
    return (
        cum.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(m))
        .groupBy("seg", "nat", "n", "n_total", "m")
        .agg(F.expr(emd).cast("bigint").alias("t_emd_ppm"))
        .select(
            F.col("seg").alias("c_mktsegment"),
            F.col("nat").alias("c_nationkey"),
            F.col("n").alias("n_rows"),
            "t_emd_ppm",
            (F.col("t_emd_ppm") > 200000).cast("bigint").alias("above_t02"),
        )
    )


# DuckDB twin of the Lorenz/Gini pass: identical per-user cents,
# identical (x, user) rank order, identical integer Gini and decile
# cumulative shares.
_GINI_ORACLE = """
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT user_id, x,
             row_number() OVER (ORDER BY x, user_id) AS rk
      FROM per_user
    ),
    scal AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(rk * x) AS BIGINT) AS srx
      FROM ranked
    ),
    dec AS (
      SELECT CAST((rk - 1) * 10 // (SELECT n FROM scal) + 1 AS BIGINT)
               AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(x) AS BIGINT) AS x_sum_cents
      FROM ranked GROUP BY 1
    ),
    cum AS (
      SELECT decile, n_users, x_sum_cents,
             SUM(x_sum_cents) OVER (ORDER BY decile
                                    ROWS UNBOUNDED PRECEDING) AS cum_x
      FROM dec
    )
    SELECT c.decile, c.n_users, c.x_sum_cents,
           CAST(CAST(c.cum_x AS HUGEINT) * 1000000 // greatest(1, s.sx)
                AS BIGINT) AS cum_share_ppm,
           CAST(CAST(2 * s.srx - (s.n + 1) * s.sx AS HUGEINT) * 1000000
                // greatest(1, s.n * s.sx) AS BIGINT) AS gini_ppm
    FROM cum c CROSS JOIN scal s
    """


@query("events_lorenz_gini", _GINI_ORACLE)
def q_events_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration profile (D239): the Lorenz decile table
    and exact Gini coefficient of per-user event value — the whale
    analysis behind monetization dashboards AND the skew statistic a
    partitioner wants before keying a shuffle by user (Gini ≈ 0 ⇒
    uniform keys; high Gini ⇒ the same heavy-hitter mass the D65 skew
    diagnostic samples, here as one closed-form number).

    Exactness: the classic rank formula G = (2·Σi·x₍ᵢ₎ − (n+1)·Σx)
    / (n·Σx) over the ASCENDING (x, user_id)-ordered ranks — every
    term an exact BIGINT, the final value one truncating ppm division;
    decile cumulative shares are truncating ppm over the same sums.
    Overflow honesty: Σi·x is bounded by n²·x̄, which exceeds int64
    near ~10⁹ users × $10⁵ lifetime — the docstring's documented
    widen-to-DECIMAL(38,0) point; fixture magnitudes sit ~10⁴× below
    it. Plan: one user-keyed partial agg, one range-partitioned global
    rank (the D129/D209 machinery, never a single-task window), one
    scalar agg + a 10-row decile agg. Output: 10 rows."""
    from mapreduce_project_spark.operators.windows import global_rank

    ev = t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    per_user = ev.groupBy("user_id").agg(F.sum(cents).cast("bigint").alias("x"))
    ranked = global_rank(per_user, ["x", "user_id"], "rk")
    scal = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.expr("sum(rk * x)").cast("bigint").alias("srx"),
    )
    dec = (
        ranked.crossJoin(F.broadcast(scal))
        .groupBy(F.expr("(rk - 1) * 10 div n + 1").cast("bigint").alias("decile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("x").cast("bigint").alias("x_sum_cents"),
        )
    )
    from pyspark.sql import Window

    # 10-row table: metadata-scale single-task window licensed.
    cum = dec.withColumn(
        "cum_x",
        F.sum("x_sum_cents").over(
            Window.orderBy("decile").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    return cum.crossJoin(F.broadcast(scal)).select(
        "decile",
        "n_users",
        "x_sum_cents",
        # cum_x <= sx ~ total corpus cents: the x1e6 form wraps int64
        # near ~9e12 total cents, so widen (same fix as gini_ppm)
        F.expr("cast(cum_x as decimal(38,0)) * 1000000 div greatest(1, sx)")
        .cast("bigint")
        .alias("cum_share_ppm"),
        # srx ~ n*sx can reach ~5e14 at sf~1, so the x1e6 numerator
        # must widen to DECIMAL(38,0) (HUGEINT on the oracle side)
        F.expr(
            "cast(2 * srx - (n + 1) * sx as decimal(38,0)) * 1000000"
            " div greatest(1, n * sx)"
        )
        .cast("bigint")
        .alias("gini_ppm"),
    )


# DuckDB twin of the ABC classification: identical revenue cents,
# identical (rev DESC, suppkey) rank, identical inclusive-cumulative
# class cut-offs.
_ABC_ORACLE = """
    WITH rev AS (
      SELECT l_suppkey AS supp,
             CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100
                                 + 0.5) AS BIGINT)) AS BIGINT) AS r
      FROM lineitem GROUP BY 1
    ),
    ranked AS (
      SELECT supp, r,
             row_number() OVER (ORDER BY r DESC, supp) AS rk
      FROM rev
    ),
    tot AS (SELECT CAST(SUM(r) AS BIGINT) AS tr FROM rev),
    cum AS (
      SELECT supp, r, rk,
             SUM(r) OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING) AS cr
      FROM ranked
    ),
    classed AS (
      -- exact rational cut-offs: cr/tr <= 0.80 <=> cr*5 <= 4*tr and
      -- cr/tr <= 0.95 <=> cr*20 <= 19*tr — no x1e6 blowup on the
      -- cumulative cents (which alone can reach ~1e13 at sf~1)
      SELECT supp, r, rk,
             CASE WHEN cr * 5 <= 4 * (SELECT tr FROM tot) THEN 'A'
                  WHEN cr * 20 <= 19 * (SELECT tr FROM tot) THEN 'B'
                  ELSE 'C' END AS abc
      FROM cum
    )
    SELECT abc,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(r) AS BIGINT) AS rev_cents,
           CAST(CAST(SUM(r) AS HUGEINT) * 1000000 // (SELECT tr FROM tot)
                AS BIGINT) AS rev_share_ppm,
           CAST(MIN(rk) AS BIGINT) AS first_rank,
           CAST(MAX(rk) AS BIGINT) AS last_rank
    FROM classed GROUP BY abc
    """


@query("abc_classification_suppliers", _ABC_ORACLE)
def q_abc_classification_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification (D240) — the inventory-management
    classic (Pareto's 80/15/5 cut on cumulative revenue): suppliers
    ranked by revenue DESC, classed A while the INCLUSIVE cumulative
    share stays ≤ 80%, B to 95%, C after — the segmentation that
    decides which dimension members deserve exact treatment and which
    can be sketched/sampled (the supplier-side sibling of RFM D198,
    which segments customers by behavior rather than mass).

    Exactness: revenue per row is floor(ext·(1−disc)·100 + 0.5) —
    each step IEEE-exact and identical cross-engine (the verified
    fixed-point money convention) — summed as BIGINT; the cumulative
    share is truncating ppm; rank order (rev DESC, suppkey) is total.
    Plan: one supplier-keyed partial agg, one range-partitioned global
    rank, one running sum OVER the rank order (range-partitioned
    prefix sum), a 3-row class agg. Output: 3 rows at any scale."""
    from mapreduce_project_spark.operators.windows import (
        global_prefix_sum,
        global_rank,
    )

    li = t(spark, sf_dir, "lineitem")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("bigint")
    rev = li.groupBy(F.col("l_suppkey").alias("supp")).agg(
        F.sum(cents).cast("bigint").alias("r")
    )
    ranked = global_rank(
        rev.select("supp", "r", (-F.col("r")).alias("neg_r")),
        ["neg_r", "supp"],
        "rk",
    ).select("supp", "r", "rk")
    tot = rev.agg(F.sum("r").cast("bigint").alias("tr"))
    cum = global_prefix_sum(ranked, ["rk"], "r", "cr")
    # exact rational cut-offs (cr*5 <= 4*tr / cr*20 <= 19*tr): the
    # x1e6 form wrapped int64 at sf~1 where cumulative cents pass 1e13
    classed = cum.crossJoin(F.broadcast(tot)).withColumn(
        "abc",
        F.expr(
            "case when cr * 5 <= 4 * tr then 'A' "
            "when cr * 20 <= 19 * tr then 'B' else 'C' end"
        ),
    )
    return (
        classed.groupBy("abc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.sum("r").cast("bigint").alias("rev_cents"),
            F.expr(
                "cast(sum(r) as decimal(38,0)) * 1000000 div first(tr)"
            )
            .cast("bigint")
            .alias("rev_share_ppm"),
            F.min("rk").cast("bigint").alias("first_rank"),
            F.max("rk").cast("bigint").alias("last_rank"),
        )
    )


# DuckDB twin of the Spearman pass: identical cents quantization,
# identical (value, part) tie-broken ranks, identical HUGEINT-widened
# closed-form rho.
_SPEARMAN_ORACLE = """
    WITH demand AS (
      SELECT l_partkey AS pk, CAST(SUM(l_quantity) AS BIGINT) AS qty
      FROM lineitem GROUP BY 1
    ),
    base AS (
      SELECT p.p_partkey AS pk,
             CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT) AS x,
             COALESCE(d.qty, 0) AS y
      FROM part p LEFT JOIN demand d ON d.pk = p.p_partkey
    ),
    rx AS (SELECT pk, row_number() OVER (ORDER BY x, pk) AS r FROM base),
    ry AS (SELECT pk, row_number() OVER (ORDER BY y, pk) AS r FROM base),
    dd AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((rx.r - ry.r) * (rx.r - ry.r)) AS BIGINT) AS sum_d2
      FROM rx JOIN ry USING (pk)
    )
    SELECT n, sum_d2,
           CAST(1000000 - CAST(6 AS HUGEINT) * sum_d2 * 1000000
                // (CAST(n AS HUGEINT) * (n * n - 1)) AS BIGINT) AS rho_ppm
    FROM dd
    """


@query("corr_spearman_price_demand", _SPEARMAN_ORACLE)
def q_corr_spearman_price_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (D241) between part price and total
    ordered quantity — the robust sibling of the exact-moment Pearson
    (D107): rank-based, so heavy tails and monotone transforms cannot
    fake or hide an association — the drift detector of choice for
    skewed columns (price/demand/latency), and the classic screen for
    "does price actually move demand in this corpus".

    Exactness: ALL-INTEGER — cents quantization (the verified money
    convention), two tie-broken total orders ((value, part_key) —
    the pinned unique-tie-break Spearman variant; fractional average
    ranks would reintroduce floats), Σd² an exact BIGINT, and the
    closed form ρ = 1 − 6Σd²/(n(n²−1)) as ONE truncating ppm division
    widened to DECIMAL(38,0)/HUGEINT (6Σd² ~ n³ wraps int64 near
    n ≈ 10⁶ rows). Demand-less parts enter at qty 0 (their absence
    from lineitem IS data). Plan: one part-keyed partial agg, TWO
    range-partitioned global ranks (`operators/windows.py:global_rank`
    — never a single-task window), one key join, one scalar agg.
    Output: ONE row at any scale."""
    from mapreduce_project_spark.operators.windows import global_rank

    part = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"),
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
    )
    demand = (
        t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(F.sum("l_quantity").cast("bigint").alias("qty"))
    )
    base = part.join(demand, "pk", "left").select(
        "pk", "x", F.coalesce("qty", F.lit(0)).alias("y")
    )
    rx = global_rank(base.select("pk", "x"), ["x", "pk"], "r").select(
        "pk", F.col("r").alias("rx")
    )
    ry = global_rank(base.select("pk", "y"), ["y", "pk"], "r").select(
        "pk", F.col("r").alias("ry")
    )
    dd = (
        rx.join(ry, "pk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr("sum((rx - ry) * (rx - ry))").cast("bigint").alias("sum_d2"),
        )
    )
    return dd.select(
        "n",
        "sum_d2",
        F.expr(
            "cast(1000000 - cast(6 as decimal(38,0)) * sum_d2 * 1000000"
            " div (cast(n as decimal(38,0)) * (n * n - 1)) as bigint)"
        ).alias("rho_ppm"),
    )


# DuckDB twin of the chi-square contingency pass: identical 25-cell
# (segment, priority) table, identical HUGEINT-widened per-cell
# truncating micro contributions, identical Cramer's V' (phi2/min-1).
_CHI2_ORACLE = """
    WITH cells AS (
      SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    rt AS (SELECT segment, CAST(SUM(o) AS BIGINT) AS row_tot,
                  CAST(COUNT(*) AS BIGINT) AS n_pri FROM cells GROUP BY 1),
    ct AS (SELECT priority, CAST(SUM(o) AS BIGINT) AS col_tot,
                  CAST(COUNT(*) AS BIGINT) AS n_seg FROM cells GROUP BY 1),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT segment) AS BIGINT) AS r,
                   CAST(COUNT(DISTINCT priority) AS BIGINT) AS c
            FROM cells),
    grid AS (
      -- the FULL r x c grid: an unobserved (segment, priority) cell
      -- has O = 0 but still contributes E to the statistic — dropping
      -- it understates chi2 (planted diagonal fixture pins this)
      SELECT rt.segment, ct.priority, rt.row_tot, ct.col_tot,
             COALESCE(cells.o, 0) AS o
      FROM rt CROSS JOIN ct
      LEFT JOIN cells ON cells.segment = rt.segment
                     AND cells.priority = ct.priority
    ),
    contrib AS (
      SELECT grid.segment, grid.priority, grid.o,
             grid.row_tot, grid.col_tot, tot.n, tot.r, tot.c,
             CAST(CAST(grid.row_tot AS HUGEINT) * grid.col_tot * 1000
                  // tot.n AS BIGINT) AS exp_milli,
             CAST((CAST(grid.o AS HUGEINT) * tot.n
                   - CAST(grid.row_tot AS HUGEINT) * grid.col_tot)
                  * (CAST(grid.o AS HUGEINT) * tot.n
                     - CAST(grid.row_tot AS HUGEINT) * grid.col_tot)
                  * 1000000
                  // (CAST(tot.n AS HUGEINT) * grid.row_tot * grid.col_tot)
                  AS BIGINT) AS cell_chi2_micro
      FROM grid CROSS JOIN tot
    ),
    total AS (
      SELECT CAST(SUM(cell_chi2_micro) AS BIGINT) AS chi2_micro FROM contrib
    )
    SELECT segment, priority, o, row_tot, col_tot, exp_milli,
           cell_chi2_micro, n,
           (r - 1) * (c - 1) AS dof,
           total.chi2_micro,
           CAST(total.chi2_micro
                // (n * CASE WHEN r < c THEN r - 1 ELSE c - 1 END)
                AS BIGINT) AS cramers_v2_ppm
    FROM contrib CROSS JOIN total
    """


@query("contingency_chi_square", _CHI2_ORACLE)
def q_contingency_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence + Cramer's V (D243) over the
    (market segment x order priority) contingency table — the
    r x c-categorical member of the experimentation/audit family
    (two-proportion z D135 and Welch t D186 compare TWO arms on one
    metric; this asks whether two whole categorical columns are
    associated at all — the screen that catches a biased traffic
    split, a segment-skewed priority queue, or a leaky stratification
    before any downstream per-arm readout is trusted). Reference
    parity: composed from the same grouped-aggregation surface as the
    reference's reducers (reference worker.py reduce loop); the
    statistic itself is standard Pearson 1900.

    Exactness: per-cell contribution ((O*N - R*C)^2 * 1e6) div
    (N*R*C) is computed entirely in DECIMAL(38,0)/HUGEINT (O*N ~ N^2
    wraps int64 near N = 3e9 rows; the squared numerator ~ N^4 stays
    inside 38 digits up to N ~ 1e9 — the raise_error guard pins that
    documented widening point), each cell truncates independently so
    the global sum is order-free, and Cramer's V^2 = chi2/(N*min(r-1,
    c-1)) is ONE more truncating integer division (ppm). Expected
    counts ship as exact milli (R*C*1000 div N). Plan: one
    orders-customer equi-join (both sides corpus-scale — a plain
    shuffle join AQE can re-plan) collapses into ONE (segment,
    priority) partial agg; every total/expected/contribution join
    runs on the <=25-row cell table (metadata license). 25 rows at
    any scale."""
    orders = t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    rt = cells.groupBy("segment").agg(F.sum("o").cast("bigint").alias("row_tot"))
    ct = cells.groupBy("priority").agg(F.sum("o").cast("bigint").alias("col_tot"))
    tot = cells.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("segment").cast("bigint").alias("r"),
        F.countDistinct("priority").cast("bigint").alias("c"),
    )
    # the FULL r x c grid: an unobserved cell has O = 0 but still
    # contributes E to the statistic — dropping it understates chi2
    # (planted diagonal fixture pins this). ct is BROADCAST explicitly:
    # both sides are metadata-scale aggregate outputs, but without the
    # hint Catalyst plans an unbroadcast CartesianProduct (no size
    # stats on aggregates) — the node the declared-slate plan lint
    # rightly bans (round-11, caught when D243 rotated into a slot).
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .join(cells, ["segment", "priority"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)).cast("bigint"))
    )
    contrib = (
        grid.crossJoin(F.broadcast(tot))
        .withColumn(
            "exp_milli",
            F.expr(
                "cast(cast(row_tot as decimal(38,0)) * col_tot * 1000 div n"
                " as bigint)"
            ),
        )
        .withColumn(
            "cell_chi2_micro",
            F.expr(
                "case when n > 1000000000 then"
                " raise_error('contingency_chi_square: N^4 exceeds"
                " DECIMAL(38,0) headroom — shard the table or rescale') "
                "else cast("
                " (cast(o as decimal(38,0)) * n"
                "  - cast(row_tot as decimal(38,0)) * col_tot)"
                " * (cast(o as decimal(38,0)) * n"
                "    - cast(row_tot as decimal(38,0)) * col_tot)"
                " * 1000000"
                " div (cast(n as decimal(38,0)) * row_tot * col_tot)"
                " as bigint) end"
            ),
        )
    )
    total = contrib.agg(
        F.sum("cell_chi2_micro").cast("bigint").alias("chi2_micro")
    )
    return contrib.crossJoin(F.broadcast(total)).select(
        "segment",
        "priority",
        "o",
        "row_tot",
        "col_tot",
        "exp_milli",
        "cell_chi2_micro",
        "n",
        F.expr("(r - 1) * (c - 1)").cast("bigint").alias("dof"),
        "chi2_micro",
        F.expr(
            "chi2_micro div (n * case when r < c then r - 1 else c - 1 end)"
        )
        .cast("bigint")
        .alias("cramers_v2_ppm"),
    )


# DuckDB twin of the PSI pass: identical cents quantization, identical
# rank-extracted reference decile edges, identical +1/+10 Laplace
# smoothing and micro-ln (round(ln(int)*1e6), the pinned PMI/entropy
# convention) and the sign-safe truncating micro product.
_PSI_ORACLE = """
    WITH base AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN o_orderdate < DATE '1996-01-01' THEN 'a' ELSE 'b' END
               AS side
      FROM orders
    ),
    ref AS (
      SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey) AS rk
      FROM base WHERE side = 'a'
    ),
    nref AS (SELECT CAST(COUNT(*) AS BIGINT) AS na0 FROM ref),
    edges AS (
      SELECT k.k, r.cents AS e
      FROM range(1, 10) AS k(k)
      JOIN nref ON TRUE
      JOIN ref r ON r.rk = (k.k * nref.na0 + 9) // 10
    ),
    earr AS (SELECT list_sort(list(e)) AS ea FROM edges),
    binned AS (
      SELECT side,
             1 + len(list_filter(earr.ea, x -> x < cents)) AS bin
      FROM base CROSS JOIN earr
    ),
    cnt AS (
      SELECT side, bin, CAST(COUNT(*) AS BIGINT) AS c
      FROM binned GROUP BY 1, 2
    ),
    grid AS (
      SELECT b.bin,
             COALESCE(ca.c, 0) + 1 AS ca1,
             COALESCE(cb.c, 0) + 1 AS cb1,
             COALESCE(ca.c, 0) AS ca,
             COALESCE(cb.c, 0) AS cb
      FROM range(1, 11) AS b(bin)
      LEFT JOIN cnt ca ON ca.bin = b.bin AND ca.side = 'a'
      LEFT JOIN cnt cb ON cb.bin = b.bin AND cb.side = 'b'
    ),
    tot AS (
      SELECT CAST(SUM(ca) + 10 AS BIGINT) AS na10,
             CAST(SUM(cb) + 10 AS BIGINT) AS nb10
      FROM grid
    ),
    term AS (
      SELECT bin, ca, cb,
             CAST(ca1 * 1000000 // na10 AS BIGINT) AS pa_ppm,
             CAST(cb1 * 1000000 // nb10 AS BIGINT) AS pb_ppm,
             CAST(round(ln(CAST(ca1 AS DOUBLE)) * 1000000) AS BIGINT)
             - CAST(round(ln(CAST(na10 AS DOUBLE)) * 1000000) AS BIGINT)
             - CAST(round(ln(CAST(cb1 AS DOUBLE)) * 1000000) AS BIGINT)
             + CAST(round(ln(CAST(nb10 AS DOUBLE)) * 1000000) AS BIGINT)
               AS ln_ratio_micro
      FROM grid CROSS JOIN tot
    ),
    contrib AS (
      SELECT bin, ca, cb, pa_ppm, pb_ppm, ln_ratio_micro,
             CASE WHEN (pa_ppm - pb_ppm) * ln_ratio_micro >= 0
                  THEN ((pa_ppm - pb_ppm) * ln_ratio_micro) // 1000000
                  ELSE -((-(pa_ppm - pb_ppm) * ln_ratio_micro) // 1000000)
             END AS psi_bin_micro
      FROM term
    )
    SELECT c.bin, c.ca, c.cb, c.pa_ppm, c.pb_ppm, c.ln_ratio_micro,
           c.psi_bin_micro,
           (SELECT na10 - 10 FROM tot) AS n_ref,
           (SELECT nb10 - 10 FROM tot) AS n_cur,
           (SELECT CAST(SUM(psi_bin_micro) AS BIGINT) FROM contrib)
             AS psi_micro
    FROM contrib c
    """


@query("psi_value_drift", _PSI_ORACLE)
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (D244) of the order-value
    distribution between a reference window (orders before 1996) and
    the current window — the model-monitoring classic that tells a
    scoring pipeline whether the feature distribution it was
    calibrated on still holds (PSI < 0.1 stable, > 0.25 re-train), and
    the DISTRIBUTION-shape sibling of the per-token KL drift monitor
    (D153) and the seasonal baseline (D214): decile bins are learned
    from the REFERENCE side only (rank-extracted edges — the D61
    equi-depth convention), then BOTH sides are scored against that
    frozen binning, which is exactly how PSI is deployed (the bins are
    part of the model artifact).

    Exactness: cents quantization; edges are the reference values at
    ranks ceil(k*Na/10) via the range-partitioned global rank (never a
    single-task window); bin assignment is a 9-element broadcast
    array probe (1 + #edges < cents — ties pinned by strict <); +1
    per-bin / +10 total Laplace smoothing keeps empty bins finite and
    IDENTICAL on both engines; shares in truncating ppm; ln(pa/pb)
    decomposes into FOUR micro-lns of integers (the pinned
    PMI/entropy convention — round(ln(int)*1e6) is bit-stable across
    libm) so the per-bin product is one BIGINT multiply and ONE
    sign-safe truncating micro division (Spark div truncates toward
    zero, DuckDB // floors — they agree only on non-negative operands,
    so the negative branch mirrors -((-x) div 1e6) explicitly). Plan:
    corpus-scale work is one filter + one global rank over the
    reference side and ONE (side, bin) partial agg over everything;
    the 10-row grid and totals are metadata-scale. 10 rows at any
    scale."""
    from mapreduce_project_spark.operators.windows import global_rank

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias("cents"),
        F.when(F.col("o_orderdate") < F.lit("1996-01-01"), F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("side"),
    )
    ref = base.filter(F.col("side") == "a").select("cents", "o_orderkey")
    ranked = global_rank(ref, ["cents", "o_orderkey"], "rk")
    na0 = ref.agg(F.count(F.lit(1)).cast("bigint").alias("na0"))
    ks = spark.range(1, 10).select(F.col("id").alias("k"))
    edges = (
        ranked.crossJoin(F.broadcast(na0))
        .join(
            F.broadcast(ks),
            F.col("rk") == F.expr("(k * na0 + 9) div 10"),
        )
        .select("k", F.col("cents").alias("e"))
    )
    earr = edges.agg(F.sort_array(F.collect_list("e")).alias("ea"))
    binned = base.crossJoin(F.broadcast(earr)).select(
        "side",
        (F.lit(1) + F.expr("size(filter(ea, x -> x < cents))"))
        .cast("bigint")
        .alias("bin"),
    )
    cnt = binned.groupBy("side", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    bins = spark.range(1, 11).select(F.col("id").alias("bin"))
    ca = cnt.filter(F.col("side") == "a").select("bin", F.col("c").alias("ca"))
    cb = cnt.filter(F.col("side") == "b").select("bin", F.col("c").alias("cb"))
    grid = (
        bins.join(ca, "bin", "left")
        .join(cb, "bin", "left")
        .select(
            "bin",
            F.coalesce("ca", F.lit(0)).cast("bigint").alias("ca"),
            F.coalesce("cb", F.lit(0)).cast("bigint").alias("cb"),
        )
    )
    tot = grid.agg(
        (F.sum("ca") + 10).cast("bigint").alias("na10"),
        (F.sum("cb") + 10).cast("bigint").alias("nb10"),
    )
    lnu = lambda c: F.round(F.log(c.cast("double")) * 1000000, 0).cast("bigint")  # noqa: E731
    term = (
        grid.crossJoin(F.broadcast(tot))
        .withColumn("ca1", F.expr("ca + 1"))
        .withColumn("cb1", F.expr("cb + 1"))
        .select(
            "bin", "ca", "cb", "na10", "nb10",
            F.expr("ca1 * 1000000 div na10").cast("bigint").alias("pa_ppm"),
            F.expr("cb1 * 1000000 div nb10").cast("bigint").alias("pb_ppm"),
            (
                lnu(F.col("ca1")) - lnu(F.col("na10"))
                - lnu(F.col("cb1")) + lnu(F.col("nb10"))
            ).alias("ln_ratio_micro"),
        )
    )
    contrib = term.withColumn(
        "psi_bin_micro",
        F.expr(
            "case when (pa_ppm - pb_ppm) * ln_ratio_micro >= 0"
            " then ((pa_ppm - pb_ppm) * ln_ratio_micro) div 1000000"
            " else -((-(pa_ppm - pb_ppm) * ln_ratio_micro) div 1000000) end"
        ).cast("bigint"),
    )
    total = contrib.agg(F.sum("psi_bin_micro").cast("bigint").alias("psi_micro"))
    return contrib.crossJoin(F.broadcast(total)).select(
        "bin", "ca", "cb", "pa_ppm", "pb_ppm", "ln_ratio_micro",
        "psi_bin_micro",
        (F.col("na10") - 10).alias("n_ref"),
        (F.col("nb10") - 10).alias("n_cur"),
        "psi_micro",
    )


# DuckDB twin of the brand-HHI pass: identical (customer, brand)
# counts, identical truncating ppm Herfindahl and the (count DESC,
# brand ASC) row_number champion.
_HHI_ORACLE = """
    WITH cb AS (
      SELECT o.o_custkey AS custkey, p.p_brand AS brand,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    top AS (
      SELECT custkey, brand AS top_brand, c AS top_c
      FROM cb
      QUALIFY row_number() OVER (
        PARTITION BY custkey ORDER BY c DESC, brand ASC) = 1
    )
    SELECT cb.custkey,
           CAST(SUM(cb.c) AS BIGINT) AS n_items,
           CAST(COUNT(*) AS BIGINT) AS n_brands,
           CAST(SUM(cb.c * cb.c) * 1000000 // (SUM(cb.c) * SUM(cb.c))
                AS BIGINT) AS hhi_ppm,
           ANY_VALUE(t.top_brand) AS top_brand,
           CAST(ANY_VALUE(t.top_c) * 1000000 // SUM(cb.c) AS BIGINT)
             AS top_share_ppm
    FROM cb JOIN top t ON t.custkey = cb.custkey
    GROUP BY cb.custkey
    """


@query("customer_brand_hhi", _HHI_ORACLE)
def q_customer_brand_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer brand-concentration Herfindahl index (D253) — the
    loyalty/concentration statistic completing the segmentation family
    (RFM D198 scores recency/frequency/monetary, ABC D240 classes the
    SUPPLIER mass, Lorenz/Gini D239 profiles revenue skew; HHI answers
    "is this customer brand-loyal or a basket diversifier" — the
    antitrust-economics index repurposed the way recommender and
    assortment teams actually use it, and per-key Σshare² is also
    EXACTLY the collision-probability statistic a partitioner reads as
    key-skew risk): per customer, item count, distinct brands,
    HHI = Σ c_i²·10⁶ div n² in truncating ppm (10⁶ = single-brand
    monopoly, 10⁶/k = uniform over k brands), and the champion brand
    pinned by (count DESC, brand ASC) row_number.

    Exactness: all-integer — Σc² and n² are exact BIGINTs (wrap needs
    a single customer with > 3·10⁹ line items; headroom documented),
    one truncating ppm division per customer, champion tie-break
    total-ordered. Plan: two corpus-scale equi-joins (lineitem→orders
    on orderkey, lineitem→part on partkey — both plain shuffle joins
    AQE re-plans; part side broadcasts when it fits) → ONE
    (customer, brand) partial agg → one customer-partitioned top-1
    window (bounded by brands-per-customer) + ONE customer partial
    agg. One row per purchasing customer."""
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cb = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("p_brand").alias("brand"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = Window.partitionBy("custkey").orderBy(
        F.col("c").desc(), F.col("brand").asc()
    )
    top = (
        cb.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("custkey", F.col("brand").alias("top_brand"),
                F.col("c").alias("top_c"))
    )
    return (
        cb.groupBy("custkey")
        .agg(
            F.sum("c").cast("bigint").alias("n_items"),
            F.count(F.lit(1)).cast("bigint").alias("n_brands"),
            F.expr("cast(sum(c * c) * 1000000 div (sum(c) * sum(c)) as bigint)")
            .alias("hhi_ppm"),
        )
        .join(top, "custkey")
        .select(
            "custkey", "n_items", "n_brands", "hhi_ppm", "top_brand",
            F.expr("cast(top_c * 1000000 div n_items as bigint)")
            .alias("top_share_ppm"),
        )
    )


# DuckDB twin of the join preflight: identical per-key count tables,
# identical exact product-sum cardinality and (rows DESC, key ASC)
# champion key.
_PREFLIGHT_ORACLE = """
    WITH lo AS (
      SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cl
      FROM lineitem GROUP BY 1
    ),
    oo AS (
      SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cr
      FROM orders GROUP BY 1
    ),
    j1 AS (
      SELECT lo.k, lo.cl * oo.cr AS rows_k FROM lo JOIN oo USING (k)
    ),
    oc AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS cl
      FROM orders GROUP BY 1
    ),
    cc AS (
      SELECT c_custkey AS k, CAST(COUNT(*) AS BIGINT) AS cr
      FROM customer GROUP BY 1
    ),
    j2 AS (
      SELECT oc.k, oc.cl * cc.cr AS rows_k FROM oc JOIN cc USING (k)
    ),
    s1 AS (
      SELECT 'lineitem_orders' AS join_name,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_left,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_right,
             CAST(COUNT(*) AS BIGINT) AS n_keys_common,
             CAST(SUM(rows_k) AS BIGINT) AS predicted_rows,
             CAST((SELECT k FROM j1 ORDER BY rows_k DESC, k ASC LIMIT 1)
                  AS BIGINT) AS top_key,
             CAST(MAX(rows_k) AS BIGINT) AS top_key_rows
      FROM j1
    ),
    s2 AS (
      SELECT 'orders_customer' AS join_name,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_left,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_right,
             CAST(COUNT(*) AS BIGINT) AS n_keys_common,
             CAST(SUM(rows_k) AS BIGINT) AS predicted_rows,
             CAST((SELECT k FROM j2 ORDER BY rows_k DESC, k ASC LIMIT 1)
                  AS BIGINT) AS top_key,
             CAST(MAX(rows_k) AS BIGINT) AS top_key_rows
      FROM j2
    )
    SELECT join_name, n_left, n_right, n_keys_common, predicted_rows,
           top_key, top_key_rows,
           CAST(top_key_rows * 1000000 // predicted_rows AS BIGINT)
             AS top_share_ppm
    FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
    """


@query("join_size_preflight", _PREFLIGHT_ORACLE)
def q_join_size_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact join-size preflight (D277) — the number a planner (or an
    engineer about to launch a 100 TB join) wants BEFORE the shuffle
    runs: |A ⋈ B| = Σ_k c_A(k)·c_B(k) computed EXACTLY from the two
    per-key count tables, which cost one partial agg each — orders of
    magnitude cheaper than the join they predict (the skew diagnostic
    D65 profiles ONE side's key distribution; this multiplies both
    sides, which is what actually explodes: a key modest on each side
    alone can dominate the product). Reported for the two fixture
    join shapes (lineitem⋈orders 1:N, orders⋈customer N:1) with the
    champion key and its output share — a top_share_ppm near 1e6
    says one key IS the join and the plan needs salting (D17) or an
    AQE skew split before launch.

    Exactness: counts and the product-sum are exact BIGINT (per-key
    products bounded by the fanout square; the sum wraps int64 only
    past ~9e18 output rows — a join nobody should run unsalted — with
    the natural DuckDB HUGEINT widening on the oracle side); the
    champion is pinned by (rows DESC, key ASC) via max_by struct
    ordering. Plan: ONE partial agg per table side + one full outer
    equi-join of the two key tables (one bigint per distinct key
    shuffled) + one singleton agg that yields both side totals, the
    common-key count, the product-sum and the champion; nothing
    corpus-width moves and no second pass counts a table. Two rows
    out."""
    li = t(spark, sf_dir, "lineitem")
    od = t(spark, sf_dir, "orders")
    cu = t(spark, sf_dir, "customer")

    def preflight(left, lkey, right, rkey, name):
        lo = left.groupBy(F.col(lkey).alias("k")).agg(
            F.count(F.lit(1)).cast("bigint").alias("cl")
        )
        ro = right.groupBy(F.col(rkey).alias("k")).agg(
            F.count(F.lit(1)).cast("bigint").alias("cr")
        )
        # one full outer join of the two count tables gives both side
        # totals too; a NULL key never matches, so it counts in its
        # side's total and nowhere else, as in the inner join predicted
        rows_k = (F.col("cl") * F.col("cr")).cast("bigint")
        return (
            lo.join(ro, "k", "full")
            .agg(
                F.coalesce(F.sum("cl"), F.lit(0)).cast("bigint").alias("n_left"),
                F.coalesce(F.sum("cr"), F.lit(0)).cast("bigint").alias("n_right"),
                F.count(rows_k).cast("bigint").alias("n_keys_common"),
                F.sum(rows_k).cast("bigint").alias("predicted_rows"),
                F.max_by(
                    "k", F.when(rows_k.isNotNull(), F.struct(rows_k, -F.col("k")))
                ).cast("bigint").alias("top_key"),
                F.max(rows_k).cast("bigint").alias("top_key_rows"),
            )
            .select(
                F.lit(name).alias("join_name"),
                "n_left", "n_right", "n_keys_common", "predicted_rows",
                "top_key", "top_key_rows",
                F.expr(
                    "cast(top_key_rows * 1000000 div predicted_rows"
                    " as bigint)"
                ).alias("top_share_ppm"),
            )
        )

    return preflight(li, "l_orderkey", od, "o_orderkey", "lineitem_orders").unionByName(
        preflight(od, "o_custkey", cu, "c_custkey", "orders_customer")
    )


_ADVISOR_ORACLE = """
    WITH cf AS (
      SELECT c_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY 1
    ),
    ofil AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_orderdate < DATE '1995-03-15'
    ),
    lf AS (
      SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem WHERE l_shipdate > DATE '1995-03-15' GROUP BY 1
    ),
    oc AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c
           FROM ofil GROUP BY 1),
    ok AS (SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
           FROM ofil GROUP BY 1),
    i1 AS (SELECT CAST(COALESCE(SUM(cf.c * oc.c), 0) AS BIGINT) AS rows_
           FROM cf JOIN oc ON oc.k = cf.k),
    i2 AS (SELECT CAST(COALESCE(SUM(ok.c * lf.c), 0) AS BIGINT) AS rows_
           FROM ok JOIN lf ON lf.k = ok.k),
    fin AS (
      SELECT CAST(COALESCE(SUM(cf.c * lf.c), 0) AS BIGINT) AS rows_
      FROM ofil o
      JOIN cf ON cf.k = o.o_custkey
      JOIN lf ON lf.k = o.o_orderkey
    ),
    cand AS (
      SELECT 'customer_orders_first' AS join_order,
             (SELECT rows_ FROM i1) AS intermediate_rows,
             (SELECT rows_ FROM fin) AS final_rows
      UNION ALL
      SELECT 'orders_lineitem_first',
             (SELECT rows_ FROM i2), (SELECT rows_ FROM fin)
    )
    SELECT join_order, intermediate_rows, final_rows,
           CAST(intermediate_rows + final_rows AS BIGINT) AS pipeline_cost_rows,
           CAST(rk AS BIGINT) AS rank,
           CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS chosen
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY intermediate_rows, join_order) AS rk
      FROM cand
    )
    """


@query("join_order_advisor", _ADVISOR_ORACLE)
def q_join_order_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join-ORDER advisor (D288) — D277's exact preflight
    turned into the decision a planner actually makes (VERDICT r10
    task 7 candidate): for TPC-H Q3's three-way join under its real
    filters (BUILDING segment, the 1995-03-15 date cuts), predict
    EXACTLY what each left-deep order would materialize —
    |σC ⋈ σO| via Σ_k c_C(k)·c_O(k) against |σO ⋈ σL| via
    Σ_k c_O(k)·c_L(k) — plus the shared exact final size
    (Σ_{o∈σO} c_C(o.custkey)·c_L(o.orderkey), one pass over filtered
    orders with two count-table joins), and rank the orders by
    intermediate mass. Unlike an NDV-based estimator this is not a
    model: the numbers are the true row counts, so the chosen order
    is provably optimal among the candidates for shuffle mass — the
    pre-launch advisory for a 100 TB join pipeline at the cost of
    three partial aggs (the D65→D277→D288 diagnostic ladder:
    one-side skew → pairwise size → order choice).

    Exactness: every figure is an exact BIGINT count or product-sum
    (the D277 overflow argument: the sum wraps only past ~9e18 output
    rows); rank pinned by (intermediate ASC, name ASC). Plan: nothing
    corpus-width shuffles — filters reach the scans, count tables
    shuffle one BIGINT per distinct key, the final-size pass is
    orders-scale with two broadcastable count joins. Two rows out at
    any scale."""
    cf = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .groupBy(F.col("c_custkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    ofil = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("date")
    ).select("o_orderkey", "o_custkey")
    lf = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("date"))
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    oc = ofil.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    okt = ofil.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    i1 = (
        cf.join(oc.withColumnRenamed("c", "c2"), "k")
        .agg(F.coalesce(F.sum(F.col("c") * F.col("c2")), F.lit(0))
             .cast("bigint").alias("intermediate_rows"))
        .withColumn("join_order", F.lit("customer_orders_first"))
    )
    i2 = (
        okt.join(lf.withColumnRenamed("c", "c2"), "k")
        .agg(F.coalesce(F.sum(F.col("c") * F.col("c2")), F.lit(0))
             .cast("bigint").alias("intermediate_rows"))
        .withColumn("join_order", F.lit("orders_lineitem_first"))
    )
    fin = (
        ofil.join(
            F.broadcast(cf.withColumnRenamed("k", "o_custkey")
                        .withColumnRenamed("c", "cc")),
            "o_custkey",
        )
        .join(
            F.broadcast(lf.withColumnRenamed("k", "o_orderkey")
                        .withColumnRenamed("c", "cl")),
            "o_orderkey",
        )
        .agg(F.coalesce(F.sum(F.col("cc") * F.col("cl")), F.lit(0))
             .cast("bigint").alias("final_rows"))
    )
    cand = i1.unionByName(i2).crossJoin(F.broadcast(fin))
    from pyspark.sql import Window

    w = Window.orderBy("intermediate_rows", "join_order")
    return cand.select(
        "join_order",
        "intermediate_rows",
        "final_rows",
        (F.col("intermediate_rows") + F.col("final_rows"))
        .cast("bigint")
        .alias("pipeline_cost_rows"),
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.expr(
            "cast(case when row_number() over"
            " (order by intermediate_rows, join_order) = 1"
            " then 1 else 0 end as bigint)"
        ).alias("chosen"),
    )


# Logical row-byte conventions for the layout advisor, pinned
# identically on both engines: 8 B for BIGINT/DOUBLE/TIMESTAMP, 4 B
# for INTEGER, VARCHAR = utf-8 octet_length (+4 B offset entry, NULL
# counted as the bare offset). These are LOGICAL planning bytes (what
# a shuffle row costs), not parquet-encoded bytes.
_LAYOUT_TABLES = (
    ("lineitem", 8 * 3 + 4 + 8 * 4 + 8 + 4 * 2,
     ("l_returnflag", "l_linestatus")),
    ("orders", 8 * 2 + 8 + 8 + 4 * 2, ("o_orderstatus", "o_orderpriority")),
    ("events", 8 * 3 + 8 + 4 * 2, ("event_type", "props")),
)

_TARGET_PART_BYTES = 134217728  # 128 MiB, the maxPartitionBytes default


def _layout_varbytes(cols: tuple) -> str:
    # DuckDB's utf-8 byte length is strlen() (octet_length is
    # BLOB-only there); Spark's is octet_length() — same value.
    return " + ".join(f"COALESCE(strlen({c}), 0)" for c in cols)


_LAYOUT_ORACLE = " UNION ALL ".join(
    f"""
    SELECT '{name}' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM({fixed} + {_layout_varbytes(cols)}), 0) AS BIGINT)
             AS logical_bytes,
           CAST((COALESCE(SUM({fixed} + {_layout_varbytes(cols)}), 0)
                 + {_TARGET_PART_BYTES - 1}) // {_TARGET_PART_BYTES}
                AS BIGINT) AS recommended_partitions,
           CAST(CASE WHEN COUNT(*) = 0 THEN 0 ELSE
             COUNT(*) // ((COALESCE(SUM({fixed} + {_layout_varbytes(cols)}), 0)
                 + {_TARGET_PART_BYTES - 1}) // {_TARGET_PART_BYTES}) END
                AS BIGINT) AS rows_per_partition,
           CAST(CASE WHEN COUNT(*) = 0 THEN 0 ELSE
             COALESCE(SUM({fixed} + {_layout_varbytes(cols)}), 0) // COUNT(*) END
                AS BIGINT) AS avg_row_bytes
    FROM {name}
    """
    for name, fixed, cols in _LAYOUT_TABLES
)


@query("partition_layout_advisor", _LAYOUT_ORACLE)
def q_partition_layout_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-LAYOUT advisor (D290) — the ops-side number that sizes
    `spark.sql.shuffle.partitions` / `maxPartitionBytes` BEFORE a 100 TB
    job runs (the brief's spill-aware mandate, turned into a query):
    per fact table, the exact logical byte mass under a pinned
    row-cost convention (8 B fixed-width numerics/timestamps, 4 B
    INTEGER, VARCHAR = octet_length + 4 B offset — the cost of a row
    crossing a shuffle, NOT its parquet-encoded size), the partition
    count that hits the 128 MiB default target, and the resulting
    rows-per-partition — the three numbers that decide whether a
    stage spills at the target SF. Exactness: every figure is an
    exact BIGINT sum of integer widths (ceil via the add-then-div
    trick); both engines agree because octet_length is UTF-8 bytes in
    each. Plan: ONE partial agg per table (count + one SUM of a
    per-row integer expression at the scan — zero shuffle beyond the
    final singleton), three rows out at any corpus size."""
    frames = []
    for name, fixed, cols in _LAYOUT_TABLES:
        var = " + ".join(f"coalesce(octet_length({c}), 0)" for c in cols)
        df = t(spark, sf_dir, name).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.coalesce(F.expr(f"sum({fixed} + {var})"), F.lit(0))
            .cast("bigint")
            .alias("logical_bytes"),
        )
        frames.append(
            df.select(
                F.lit(name).alias("table_name"),
                "n_rows",
                "logical_bytes",
                F.expr(
                    f"cast((logical_bytes + {_TARGET_PART_BYTES - 1})"
                    f" div {_TARGET_PART_BYTES} as bigint)"
                ).alias("recommended_partitions"),
                # n_rows = 0 ⇒ recommended_partitions = 0: both ratios
                # would divide by zero (NULL with ANSI off, raise with
                # ANSI on) — pin the empty-table answer to 0 explicitly.
                F.expr(
                    "cast(case when n_rows = 0 then 0 else"
                    f" n_rows div ((logical_bytes + {_TARGET_PART_BYTES - 1})"
                    f" div {_TARGET_PART_BYTES}) end as bigint)"
                ).alias("rows_per_partition"),
                F.expr(
                    "cast(case when n_rows = 0 then 0"
                    " else logical_bytes div n_rows end as bigint)"
                ).alias("avg_row_bytes"),
            )
        )
    out = frames[0]
    for f2 in frames[1:]:
        out = out.unionByName(f2)
    return out


# D298: the engine pointed at its own round telemetry. REPO_ROOT is
# derived, not hardcoded; both engines glob the same artifact files at
# compare time, so parity holds whatever the artifact contents are.
import pathlib as _pathlib

_REPO_ROOT = str(_pathlib.Path(__file__).resolve().parents[2])

_CORRECTNESS_REC = (
    "rows_match boolean, schema_match boolean, hash_match boolean,"
    " spark_rows bigint, oracle_rows bigint"
)

_TREND_ORACLE = f"""
    WITH f AS (
      SELECT filename, content
      FROM read_text('{_REPO_ROOT}/CORRECTNESS_r*.json')
    ),
    k AS (
      SELECT CAST(regexp_extract(filename, 'CORRECTNESS_r(\\d+)', 1) AS BIGINT)
               AS rnd,
             UNNEST(json_keys(content)) AS q, content
      FROM f
    ),
    rec AS (
      SELECT rnd, q,
             CAST(json_extract(content, '$."' || q || '".hash_match')
                  AS BOOLEAN) AS hm,
             CAST(json_extract(content, '$."' || q || '".rows_match')
                  AS BOOLEAN) AS rm
      FROM k
    ),
    fr AS (SELECT q, MIN(rnd) AS first_rnd FROM rec GROUP BY q),
    per AS (
      SELECT rnd,
             CAST(COUNT(*) AS BIGINT) AS n_checked,
             CAST(SUM(CASE WHEN hm THEN 1 ELSE 0 END) AS BIGINT) AS n_hash_green,
             CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_rows_green
      FROM rec GROUP BY rnd
    ),
    ft AS (
      SELECT first_rnd AS rnd, CAST(COUNT(*) AS BIGINT) AS n_first_time
      FROM fr GROUP BY first_rnd
    )
    SELECT per.rnd AS round, per.n_checked, per.n_hash_green, per.n_rows_green,
           CAST(COALESCE(ft.n_first_time, 0) AS BIGINT) AS n_first_time,
           CAST(SUM(COALESCE(ft.n_first_time, 0))
                OVER (ORDER BY per.rnd) AS BIGINT) AS cum_distinct_queries,
           CAST(per.n_hash_green * 1000000 // per.n_checked AS BIGINT)
             AS green_ppm
    FROM per LEFT JOIN ft ON ft.rnd = per.rnd
    """


@query("correctness_trend_report", _TREND_ORACLE)
def q_correctness_trend_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-round CORRECTNESS trend (D298) — the engine dogfooding its
    own telemetry (VERDICT r11 task 7 candidate): the per-round driver
    verdicts (`CORRECTNESS_r*.json`, a JSON object of query → {rows/
    schema/hash match}) become a queryable table, answering the
    questions the round process itself asks — how many queries held a
    driver slot each round, how many hash-matched, how many were
    FIRST-TIME slots (min round per query), and the cumulative
    distinct-query coverage curve. Semi-structured ingestion with
    DYNAMIC keys (the D52 VARIANT lesson at file scope): Spark reads
    each artifact as ONE wholetext row and `from_json`s it to a
    map<query, struct>, exploding map entries; DuckDB walks
    `json_keys` + per-key `json_extract` — two different engines'
    idioms over the same files, value-identical.

    Exactness: every figure is an integer count, a MIN, a running SUM
    over a pinned order, or a truncating ppm. `sf_dir` is deliberately
    unused — the telemetry corpus IS the repo's committed artifact
    set, identical for both engines at compare time (the path is
    derived from the module location, not hardcoded). Plan: the input
    is one row per ROUND (file) fanned to one row per (round, query)
    — bounded by 50·rounds, metadata scale; at a real deployment this
    is the shape of any manifest/run-ledger audit over thousands of
    runs: one wholetext scan, two partial aggs, one bounded window."""
    # wholetext must be the reader kwarg — the .option() spelling is
    # silently ignored by the text source and yields per-LINE rows
    files = spark.read.text(
        f"{_REPO_ROOT}/CORRECTNESS_r*.json", wholetext=True
    )
    rec = (
        files.select(
            F.regexp_extract(
                F.input_file_name(), r"CORRECTNESS_r(\d+)", 1
            )
            .cast("bigint")
            .alias("rnd"),
            F.explode(
                F.from_json(
                    F.col("value"), f"map<string, struct<{_CORRECTNESS_REC}>>"
                )
            ).alias("q", "r"),
        )
        .select(
            "rnd",
            "q",
            F.col("r.hash_match").alias("hm"),
            F.col("r.rows_match").alias("rm"),
        )
    )
    per = rec.groupBy("rnd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        F.expr("cast(sum(case when hm then 1 else 0 end) as bigint)").alias(
            "n_hash_green"
        ),
        F.expr("cast(sum(case when rm then 1 else 0 end) as bigint)").alias(
            "n_rows_green"
        ),
    )
    ft = (
        rec.groupBy("q")
        .agg(F.min("rnd").alias("rnd"))
        .groupBy("rnd")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_first_time"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("rnd").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.join(ft, "rnd", "left")
        .select(
            F.col("rnd").alias("round"),
            "n_checked",
            "n_hash_green",
            "n_rows_green",
            F.coalesce("n_first_time", F.lit(0)).cast("bigint").alias(
                "n_first_time"
            ),
            F.sum(F.coalesce("n_first_time", F.lit(0)))
            .over(w)
            .cast("bigint")
            .alias("cum_distinct_queries"),
            F.expr(
                "cast(n_hash_green * 1000000 div n_checked as bigint)"
            ).alias("green_ppm"),
        )
    )


# D302: the BENCH sibling of D298 (VERDICT r12 task 6) — the engine
# answering "did we get faster?" from its own committed benchmark
# ledger, with the round-12 calibration probes folded in so host speed
# and plan quality separate mechanically. BENCH_r*.json ships in two
# formats (builder: plain JSON; round driver: {n, rc, tail} where tail
# is the truncated stdout line with escaped quotes), so both engines
# extract fields from the RAW file text with the same optional-
# backslash regex rather than parsing JSON.
#
# Exactness: decimal seconds are parsed to integer MICROseconds by
# string surgery (split on '.', rpad the fraction) — no float parse —
# and every derived figure is integer (truncating div on non-negative
# operands; the signed delta uses the sign-safe -((-x) div k) form).
_BENCH_NUM = r'\\?"{field}\\?":\s*([0-9]+\.?[0-9]*)'


def _bench_micro_sql(expr: str) -> str:
    """SQL rendering EXPR (a decimal-string column) as integer micros;
    '' (regex miss) maps to NULL. Identical text runs in both engines."""
    return (
        f"case when {expr} = '' then cast(null as bigint) else "
        f"cast(split_part({expr}, '.', 1) as bigint) * 1000000 + "
        f"cast(substr(rpad(coalesce(nullif(split_part({expr}, '.', 2), ''),"
        f" '0'), 6, '0'), 1, 6) as bigint) end"
    )


_BENCH_TREND_ORACLE = f"""
    WITH f AS (
      SELECT filename, content
      FROM read_text('{_REPO_ROOT}/BENCH_r*.json')
    ),
    ex AS (
      -- one row per ROUND: ONLY the bare driver artifact
      -- BENCH_r<digits>.json is the round's record. Any suffixed twin
      -- (BENCH_r*_builder, _opt, _final, _c8, ...) would duplicate the
      -- round key and make the lag window order-ambiguous (VERDICT r13
      -- item 1), so the filter is an exact-name match, not a denylist.
      SELECT CAST(regexp_extract(filename, 'BENCH_r(\\d+)', 1) AS BIGINT)
               AS round,
             regexp_extract(content, '{_BENCH_NUM.format(field="panel_total")}', 1) AS p,
             regexp_extract(content, '{_BENCH_NUM.format(field="cpu_probe_sec")}', 1) AS c,
             regexp_extract(content, '{_BENCH_NUM.format(field="shuffle_probe_sec")}', 1) AS s,
             regexp_extract(content, '{_BENCH_NUM.format(field="loadavg_1m_start")}', 1) AS l
      FROM f
      WHERE regexp_matches(filename, 'BENCH_r\\d+\\.json$')
    ),
    m AS (
      SELECT round,
             {_bench_micro_sql("p")} AS panel_total_us,
             {_bench_micro_sql("c")} AS cpu_probe_us,
             {_bench_micro_sql("s")} AS shuffle_probe_us,
             {_bench_micro_sql("l")} AS loadavg_upm
      FROM ex
      WHERE p <> ''
    ),
    ref AS (
      SELECT cpu_probe_us AS ref_cpu_us FROM m
      WHERE cpu_probe_us IS NOT NULL
      ORDER BY round LIMIT 1
    )
    SELECT round, panel_total_us, cpu_probe_us, shuffle_probe_us, loadavg_upm,
           CAST(CASE WHEN cpu_probe_us IS NULL THEN NULL
                ELSE cpu_probe_us * 1000000 // (SELECT ref_cpu_us FROM ref)
                END AS BIGINT) AS host_ratio_ppm,
           CAST(CASE WHEN cpu_probe_us IS NULL THEN NULL
                ELSE panel_total_us * (SELECT ref_cpu_us FROM ref)
                     // cpu_probe_us
                END AS BIGINT) AS panel_norm_us,
           CAST(CASE
                WHEN lag(panel_total_us) OVER (ORDER BY round) IS NULL
                  THEN NULL
                WHEN panel_total_us >= lag(panel_total_us) OVER (ORDER BY round)
                  THEN (panel_total_us - lag(panel_total_us) OVER (ORDER BY round))
                       * 1000000 // lag(panel_total_us) OVER (ORDER BY round)
                ELSE -((lag(panel_total_us) OVER (ORDER BY round) - panel_total_us)
                       * 1000000 // lag(panel_total_us) OVER (ORDER BY round))
                END AS BIGINT) AS delta_vs_prev_ppm
    FROM m
    """


@query("bench_trend_report", _BENCH_TREND_ORACLE)
def q_bench_trend_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-round BENCH trend with probe normalization (D302, VERDICT
    r12 task 6) — the performance twin of D298: the committed
    `BENCH_r*.json` ledger becomes a queryable table with one row per
    round, carrying the raw panel time, the in-artifact host
    calibration probes (round-12), the host ratio vs the FIRST probed
    round, the PROBE-NORMALIZED panel time (panel x ref_cpu / cpu —
    "how fast would this round's plans be on the reference host"),
    and the signed per-round delta. This is the query the round
    process itself asks ("did we get faster, or did the host get
    slower?") answered from the engine's own ledger instead of git
    archaeology.

    Cross-format, cross-engine: driver-format artifacts hold the
    fields inside an escaped-JSON `tail` string, builder-format ones
    at top level; one optional-backslash regex reads both, evaluated
    on raw file text by BOTH engines (no JSON parse). Seconds become
    integer MICROseconds via string surgery, so every output cell is
    exact integer arithmetic (sign-safe truncating div for the
    delta). `sf_dir` is deliberately unused — the ledger IS the
    corpus, metadata-scale (one row per round); at deployment scale
    this is the manifest-audit shape: wholetext scan, regex project,
    one bounded window."""
    files = spark.read.text(f"{_REPO_ROOT}/BENCH_r*.json", wholetext=True)
    # one row per round: ONLY the bare BENCH_r<digits>.json driver
    # artifact counts; suffixed twins (_builder, _opt, _final, _c8)
    # would duplicate the round key and make the lag window
    # order-ambiguous (VERDICT r13 item 1) — exact-name match, not a
    # denylist, mirroring the oracle's regexp_matches
    files = files.filter(F.input_file_name().rlike(r"BENCH_r\d+\.json$"))
    ex = files.select(
        F.regexp_extract(F.input_file_name(), r"BENCH_r(\d+)", 1)
        .cast("bigint")
        .alias("round"),
        F.regexp_extract(
            F.col("value"), _BENCH_NUM.format(field="panel_total"), 1
        ).alias("p"),
        F.regexp_extract(
            F.col("value"), _BENCH_NUM.format(field="cpu_probe_sec"), 1
        ).alias("c"),
        F.regexp_extract(
            F.col("value"), _BENCH_NUM.format(field="shuffle_probe_sec"), 1
        ).alias("s"),
        F.regexp_extract(
            F.col("value"), _BENCH_NUM.format(field="loadavg_1m_start"), 1
        ).alias("l"),
    )
    m = ex.filter(F.col("p") != "").select(
        "round",
        F.expr(_bench_micro_sql("p")).alias("panel_total_us"),
        F.expr(_bench_micro_sql("c")).alias("cpu_probe_us"),
        F.expr(_bench_micro_sql("s")).alias("shuffle_probe_us"),
        F.expr(_bench_micro_sql("l")).alias("loadavg_upm"),
    )
    # agg (not limit-1 + crossJoin of a possibly-EMPTY frame): with no
    # probed round yet, DuckDB's scalar subquery is NULL while an empty
    # cross join would erase every row — min_by over a one-row agg gives
    # the same NULL semantics in both engines.
    ref = (
        m.filter(F.col("cpu_probe_us").isNotNull())
        .agg(F.expr("min_by(cpu_probe_us, round)").alias("ref_cpu_us"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("round")
    return (
        m.crossJoin(F.broadcast(ref))
        .withColumn("prev_us", F.lag("panel_total_us").over(w))
        .select(
            "round",
            "panel_total_us",
            "cpu_probe_us",
            "shuffle_probe_us",
            "loadavg_upm",
            F.expr(
                "cast(case when cpu_probe_us is null then null"
                " else cpu_probe_us * 1000000 div ref_cpu_us end as bigint)"
            ).alias("host_ratio_ppm"),
            F.expr(
                "cast(case when cpu_probe_us is null then null"
                " else panel_total_us * ref_cpu_us div cpu_probe_us end"
                " as bigint)"
            ).alias("panel_norm_us"),
            F.expr(
                "cast(case"
                " when prev_us is null then null"
                " when panel_total_us >= prev_us then"
                "   (panel_total_us - prev_us) * 1000000 div prev_us"
                " else -((prev_us - panel_total_us) * 1000000 div prev_us)"
                " end as bigint)"
            ).alias("delta_vs_prev_ppm"),
        )
    )

"""Classic warehouse analytics (TPC-H-shaped) — the canonical
multi-join decision-support shapes a reference user would write as
chained map/reduce jobs (each join is one reduce stage in the MR idiom,
`design.md:48-49`); here each is ONE declarative plan Catalyst
optimizes end to end: filters pushed into every parquet scan, dims
broadcast, partial aggregation before the shuffle, top-k via
TakeOrderedAndProject instead of a total sort.

Q3/Q6/Q10/Q18 certify COMPOSED plans whose individual operators are
checked on their own. The correlated-subquery shapes (Q4/Q22) prove the
semi/anti decorrelation surface beside the plain join twins
`join_semi_customers`/`join_anti_customers`. Only Q5 holds a driver
slot (`queries_registry.DECLARED`). Money arithmetic uses the module-wide
DECIMAL(18,2) convention (`relational.dec*` — exact, associative,
engine-identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_project_spark.operators.relational import dec, dec_sum
from mapreduce_project_spark.queries_registry import query, t
from mapreduce_project_spark.sources import register_tables

# revenue term used by Q3/Q5/Q10-shaped queries
_REV_SQL = "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))))"


def _rev() -> "F.Column":
    return F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast("double")


@query(
    "tpch_q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           CAST({_REV_SQL} AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape — segment filter on the dim side, date filters pushed
    into both fact scans, two equi-joins (customer broadcast), grouped
    revenue, top-10 by revenue with a deterministic tie-break.
    The plan to check: both l_shipdate and o_orderdate appear under
    PushedFilters; customer side is a BroadcastHashJoin;
    TakeOrderedAndProject caps the sort at k."""
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_rev().alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "tpch_q6_revenue_forecast",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape — pure scan+filter+agg, no join, no groupBy key: the
    predicate-pushdown showcase. Every predicate reaches the parquet
    reader (row-group stats skip non-matching chunks at scale); the
    aggregation is a two-row partial/final exchange."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "tpch_q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           CAST({_REV_SQL} AS DOUBLE) AS revenue,
           n_name
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1995-10-01'
      AND o_orderdate < TIMESTAMP '1996-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape — returned-item revenue by customer: three joins
    (nation broadcast), quarter filter pushed to the orders scan,
    returnflag filter pushed to the lineitem scan, top-20."""
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-10-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_rev().alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "tpch_q18_large_orders",
    """
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    )
    SELECT c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(o_totalprice AS DOUBLE) AS totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                JOIN customer ON c_custkey = o_custkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape — large-volume orders: the grouped-HAVING subquery
    becomes a semi-join against an aggregated key set (one extra
    shuffle, no correlated execution); quantity re-aggregated per
    (customer, order) on the joined stream."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dec_sum("l_quantity").alias("s"))
        .filter(F.col("s") > 250)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "b_orderkey"),
                F.col("l_orderkey") == F.col("b_orderkey"), "left_semi")
        .join(orders, F.col("l_orderkey") == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dec_sum("l_quantity").alias("sum_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
        .limit(20)
    )


# Correlated-subquery shapes: ONE engine-neutral SQL string serves as
# both the Spark query (via temp views) and the DuckDB oracle — the
# point is the SQL surface itself: Catalyst decorrelates EXISTS into a
# left-semi join and NOT EXISTS into a left-anti join (check the plan:
# no per-row subquery execution survives), exactly what a reference
# user would hand-write as a tagged reduce-side presence check.

_Q4_SQL = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-07-01'
      AND o_orderdate < TIMESTAMP '1995-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
      )
    GROUP BY o_orderpriority
    """

_Q22_SQL = """
    WITH pos AS (
      SELECT CAST(c_acctbal AS DECIMAL(18,2)) AS b FROM customer
      WHERE c_acctbal > 0
    ),
    stats AS (SELECT COUNT(*) AS n, SUM(b) AS s FROM pos)
    SELECT c_mktsegment AS segment, COUNT(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer
    WHERE CAST(c_acctbal AS DECIMAL(18,2)) * (SELECT n FROM stats)
            > (SELECT s FROM stats)
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c_mktsegment
    """


@query("tpch_q4_priority_returns", _Q4_SQL)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape — correlated EXISTS: orders in a quarter with at least
    one returned line item, counted per priority. Catalyst rewrites the
    EXISTS into a left-semi hash join on l_orderkey (no per-row
    execution); the date filter still pushes into the orders scan. The
    identical SQL text is the oracle."""
    register_tables(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(_Q4_SQL)


@query("tpch_q22_dormant_capital", _Q22_SQL)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape — scalar subquery + NOT EXISTS: above-average-balance
    customers dormant since 2000, rolled up by segment. The average
    threshold is compared in exact decimal cross-multiplied form
    (``bal * n > sum`` — no float average, engine-identical); the
    NOT EXISTS decorrelates to a left-anti join; the scalar aggregates
    broadcast as one-row subquery results."""
    register_tables(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_Q22_SQL)


@query(
    "tpch_q14_promo_share",
    """
    SELECT CAST(100.0 * promo / total AS DOUBLE) AS promo_revenue_pct,
           CAST(promo AS DOUBLE) AS promo_revenue,
           CAST(total AS DOUBLE) AS total_revenue
    FROM (
      SELECT SUM(CASE WHEN p_type = 'PROMO'
                      THEN CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(18,2)))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS promo,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1995-09-01'
        AND l_shipdate < TIMESTAMP '1995-10-01'
    )
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape — conditional aggregation over a fact⋈dim join: promo
    revenue share for one ship-month. The CASE rides inside the sum
    (one pass, no second scan per condition), the month filter pushes
    to the lineitem scan, part broadcasts; the division happens once on
    exact decimal totals, so the percentage is engine-identical."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-09-01") & (F.col("l_shipdate") < "1995-10-01")
    )
    part = t(spark, sf_dir, "part")
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    agg = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(
                    F.lit(0).cast("decimal(18,2)")
                )
            ).alias("promo"),
            F.sum(rev).alias("total"),
        )
    )
    return agg.select(
        (F.lit(100.0) * F.col("promo") / F.col("total"))
        .cast("double")
        .alias("promo_revenue_pct"),
        F.col("promo").cast("double").alias("promo_revenue"),
        F.col("total").cast("double").alias("total_revenue"),
    )


# Engine-neutral SQL (Spark temp views + DuckDB oracle run the same
# text), like Q4/Q22 above.

_Q5_SQL = f"""
    SELECT n_name,
           CAST({_REV_SQL} AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """

_Q7_SQL = """
    WITH vol AS (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        AND n1.n_name <> n2.n_name
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
    )
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM vol GROUP BY supp_nation, cust_nation, l_year
    """

_Q19_SQL = f"""
    SELECT p_brand,
           CAST({_REV_SQL} AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
             AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
             AND l_quantity BETWEEN 20 AND 30)
    GROUP BY p_brand
    """


@query("tpch_q5_local_supplier_volume", _Q5_SQL)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape — the 6-way join-ordering stress: region gates nation
    gates supplier, customer joins orders joins lineitem, and the extra
    c_nationkey = s_nationkey equi-condition closes the cycle ("local"
    trade only). Catalyst's join reordering keeps the three dims
    broadcast and the two facts on one shuffle; region/nation filters
    prune before any fact row moves."""
    register_tables(
        spark, sf_dir,
        ["customer", "orders", "lineitem", "supplier", "nation", "region"],
    )
    return spark.sql(_Q5_SQL)


@query("tpch_q7_volume_shipping", _Q7_SQL)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape — self-joined dimension (nation appears twice under two
    aliases as supplier-side and customer-side), cross-nation trade
    volumes by ship year. The nation name IN-filters push into both
    broadcast sides; EXTRACT(YEAR ...) stays a codegen'd projection."""
    register_tables(
        spark, sf_dir,
        ["supplier", "lineitem", "orders", "customer", "nation"],
    )
    return spark.sql(_Q7_SQL)


@query("tpch_q19_disjunctive_brackets", _Q19_SQL)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape — disjunctive multi-bracket predicate across BOTH join
    sides (part attributes AND lineitem quantity per branch). The
    OR-of-ANDs cannot push below the join as-is, but each branch's
    part-side conjuncts (brand, size) derive a pushable
    OR-of-part-conjuncts into the broadcast side scan — the classic
    test that the optimizer extracts common single-side filters from a
    disjunction."""
    register_tables(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(_Q19_SQL)


_LATERAL_SQL = """
    SELECT c_custkey, c_mktsegment, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS totalprice
    FROM customer, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c_custkey
      ORDER BY o_orderdate DESC, o_orderkey LIMIT 2
    )
    """


@query("lateral_recent_orders", _LATERAL_SQL)
def q_lateral_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery — each customer's two most recent
    orders via a per-row dependent subquery (the SQL:1999 lateral-join
    surface; a reference user would write a reduce over order lists).
    Catalyst DECORRELATES the lateral limit into a ranked window over
    one join (check the plan: no per-customer subquery execution) —
    semantically the per-group top-k pattern, but expressed in the
    standard SQL form users port from other warehouses. Customers with
    no orders drop out (inner lateral). Same engine-neutral SQL text
    runs on Spark temp views and as the DuckDB oracle."""
    register_tables(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_LATERAL_SQL)


_Q13_SQL = """
    WITH per_cust AS (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    """


@query("tpch_q13_customer_distribution", _Q13_SQL)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape — the double aggregation: orders per customer
    (LEFT join so zero-order customers keep their c_count = 0 bucket —
    count(o_orderkey) ignores the null-extended rows), then the
    distribution of customers over those counts. Two shuffles total
    (join+first agg share one); the join-condition filter (non-urgent)
    must evaluate AS PART OF the join, not before the left join's
    null-extension — the classic outer-join-predicate-placement trap,
    pinned by the shared SQL."""
    register_tables(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_Q13_SQL)

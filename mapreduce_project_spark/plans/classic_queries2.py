"""Classic warehouse analytics, part 2 — the remaining TPC-H query
shapes, completing 22/22 shape coverage (Q1 ≡ `agg_pricing_summary`;
Q3-Q7/Q10/Q13/Q14/Q18/Q19/Q22 live in `classic_queries.py`).

The synthetic star schema has no `partsupp` table and lineitem carries
no shipmode/commitdate/receiptdate, so the shapes that depend on them
are adapted faithfully rather than transliterated (each docstring
states the substitution):

- Q2/Q11/Q16/Q20 use lineitem as the supply relation (who supplied
  which part at what price/quantity) in place of partsupp;
- Q12 classifies by `l_returnflag` with a cross-table lateness
  predicate (`l_shipdate > o_orderdate`) standing in for the
  commit/receipt comparison;
- Q21's "failed delivery" predicate is `l_returnflag = 'R'` instead of
  `l_receiptdate > l_commitdate`.

What each shape certifies is unchanged: Q2 correlated MIN against a
derived supply relation, Q8 two-level share-of-total, Q9 multi-join
profit expression, Q11 HAVING vs a global scalar, Q12 conditional
aggregation with a join-level predicate, Q15 view + scalar MAX, Q16
NOT IN + COUNT(DISTINCT), Q17 correlated AVG via exact cross-multiply,
Q20 nested IN over grouped supply/demand, Q21 EXISTS + NOT EXISTS
self-joins. Correlated/scalar-subquery shapes run ONE engine-neutral
SQL text on both engines (the decorrelation surface is the point);
the join/aggregation shapes are DataFrame plans with SQL oracles.

Money arithmetic follows the module-wide DECIMAL(18,2) convention
(exact, associative, engine-identical); every ratio is a single IEEE
double division over exact totals, so values hash-match bit-wise.
Reference parity: a reference user would chain each join/agg as one
map/reduce stage per `design.md:48-49`; here every shape is ONE
declarative plan Catalyst optimizes end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_project_spark.operators.relational import dec
from mapreduce_project_spark.queries_registry import query, t
from mapreduce_project_spark.sources import register_tables

_Q2_SQL = """
    WITH offers AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT p_partkey, p_brand, s_name, n_name, CAST(cost AS DOUBLE) AS best_cost
    FROM part JOIN offers ON pk = p_partkey
         JOIN supplier ON sk = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE' AND p_size BETWEEN 10 AND 30
      AND cost = (SELECT MIN(o2.cost) FROM offers o2
                  JOIN supplier s2 ON o2.sk = s2.s_suppkey
                  JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
                  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
                  WHERE o2.pk = p_partkey AND r2.r_name = 'EUROPE')
    """


@query("tpch_q2_min_cost_supplier", _Q2_SQL)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape — minimum-cost supplier: for each mid-size part, the
    EU supplier(s) whose best observed price equals the part's regional
    minimum. The supply relation is derived from lineitem (no partsupp
    in this schema) — itself a grouped MIN, so the correlated scalar
    ranges over an AGGREGATED subquery. Catalyst decorrelates the MIN
    into a per-part aggregate joined back (no per-row execution);
    region/nation prune the supplier side before any fact row moves.
    Ties on the minimum keep all witnesses, exactly as in TPC-H Q2."""
    register_tables(spark, sf_dir, ["part", "supplier", "nation", "region", "lineitem"])
    return spark.sql(_Q2_SQL)


_Q8_ORACLE = """
    WITH alln AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
             n2.n_name AS supp_nation
      FROM part JOIN lineitem ON p_partkey = l_partkey
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n1 ON c_nationkey = n1.n_nationkey
           JOIN region ON n1.n_regionkey = r_regionkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01' AND p_type = 'ECONOMY'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
           CAST(SUM(volume) AS DOUBLE) AS total_volume
    FROM alln GROUP BY o_year
    """


@query("tpch_q8_market_share", _Q8_ORACLE)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape — national market share: one nation's fraction of a
    region's ECONOMY-part import volume per order year. Seven joins
    with nation appearing TWICE (customer side gates the market via
    region, supplier side labels the origin); the share is a
    conditional sum over the same exact-decimal volume term, divided
    ONCE in IEEE double over exact totals — engine-identical."""
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = t(spark, sf_dir, "customer")
    n1 = t(spark, sf_dir, "nation").alias("n1")
    n2 = t(spark, sf_dir, "nation").alias("n2")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    volume = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    joined = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n1), cust["c_nationkey"] == F.col("n1.n_nationkey"))
        .join(F.broadcast(region), F.col("n1.n_regionkey") == region["r_regionkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(n2), supp["s_nationkey"] == F.col("n2.n_nationkey"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            volume.alias("volume"),
            F.col("n2.n_name").alias("supp_nation"),
        )
    )
    agg = joined.groupBy("o_year").agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_7", F.col("volume")).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        ).alias("nat"),
        F.sum("volume").alias("tot"),
    )
    return agg.select(
        "o_year",
        (F.col("nat").cast("double") / F.col("tot").cast("double")).alias("mkt_share"),
        F.col("tot").cast("double").alias("total_volume"),
    )


_Q9_ORACLE = """
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    - CAST(p_retailprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
    FROM lineitem JOIN part ON p_partkey = l_partkey
         JOIN supplier ON s_suppkey = l_suppkey
         JOIN orders ON o_orderkey = l_orderkey
         JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, o_year
    """


@query("tpch_q9_product_profit", _Q9_ORACLE)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape — product-type profit by supplier nation and year.
    Cost proxy is retail price × quantity (no ps_supplycost in this
    schema); the profit expression (revenue − cost) stays inside ONE
    exact-decimal SUM, so partial aggregation is associative and the
    result engine-identical. Name-substring filter prunes the part
    (broadcast) side before the fact join."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    supp = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders")
    nation = t(spark, sf_dir, "nation")
    profit = dec("l_extendedprice") * (F.lit(1) - dec("l_discount")) - dec(
        "p_retailprice"
    ) * dec("l_quantity")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


_Q11_SQL = """
    WITH sup_val AS (
      SELECT l_partkey AS pk, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_3','NATION_4','NATION_5')
      GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(val) AS s, COUNT(*) AS n FROM sup_val)
    SELECT pk AS partkey, CAST(val AS DOUBLE) AS value
    FROM sup_val
    WHERE val * (SELECT n FROM tot) > 2 * (SELECT s FROM tot)
    """


@query("tpch_q11_important_stock", _Q11_SQL)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape — important stock: parts whose supply value from a
    nation group exceeds twice the group's MEAN part value. TPC-H's
    fixed 0.0001 fraction is scale-DEPENDENT (SF×10 → 0 survivors);
    the mean-relative threshold keeps survivors at every SF while
    preserving the shape: a grouped value filtered against global
    scalar aggregates, compared in the exact cross-multiplied form
    ``val * n > 2 * total`` (no float division, engine-identical).
    The supply value is derived from lineitem (no partsupp); the
    global scalars broadcast as one-row subquery results — the
    per-group-vs-global two-pass shape a reference user would write
    as two chained reduces."""
    register_tables(spark, sf_dir, ["lineitem", "supplier", "nation"])
    return spark.sql(_Q11_SQL)


_Q12_ORACLE = """
    SELECT l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """


@query("tpch_q12_shipmode_priority", _Q12_ORACLE)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape — priority counts per shipping class: conditional
    aggregation (urgent vs not, both counted in one pass) grouped by a
    lineitem attribute (l_returnflag stands in for the absent
    l_shipmode). The lateness predicate ``l_shipdate > o_orderdate``
    compares columns from BOTH join sides — it cannot push below the
    join and must evaluate as a join-level filter, while the ship-year
    window still pushes into the lineitem scan."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).alias("low_line_count"),
        )
    )


_Q15_SQL = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """


@query("tpch_q15_top_supplier", _Q15_SQL)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape — top supplier: quarterly revenue per supplier as a
    named view, then the supplier(s) attaining the maximum — the
    classic view + uncorrelated scalar-MAX pattern (ties keep all
    witnesses, which is why it is not a LIMIT 1). Exact-decimal revenue
    makes the equality comparison safe across engines; the MAX
    broadcasts as a one-row subquery against the same cached view."""
    register_tables(spark, sf_dir, ["lineitem", "supplier"])
    return spark.sql(_Q15_SQL)


_Q16_ORACLE = """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13' AND p_size IN (5,10,15,20,25,30)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """


@query("tpch_q16_supplier_variety", _Q16_ORACLE)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape — supplier variety per part profile: distinct supplier
    counts by (brand, type, size), excluding an unwanted brand and a
    complained-about supplier set (negative account balance stands in
    for the comment scan). The NOT IN over non-null keys is a left-anti
    join against a broadcast exclusion list; COUNT(DISTINCT) plans the
    two-phase Expand + partial-agg shuffle carrying only (profile,
    suppkey) pairs."""
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13") & F.col("p_size").isin(5, 10, 15, 20, 25, 30)
    )
    li = t(spark, sf_dir, "lineitem")
    bad = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q17_SQL = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_small
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#13'
      AND l_quantity * 5 * (SELECT COUNT(*) FROM lineitem l2
                            WHERE l2.l_partkey = p_partkey)
          < (SELECT SUM(l2.l_quantity) FROM lineitem l2
             WHERE l2.l_partkey = p_partkey)
    """


@query("tpch_q17_small_quantity_revenue", _Q17_SQL)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape — small-quantity-order revenue: lineitems under 20% of
    their part's average quantity. The correlated AVG is expressed as
    the exact cross-multiplied form ``q * 5 * n < sum`` (quantities are
    integral, so both sides are exact in any summation order — no float
    average, engine-identical). Catalyst decorrelates both correlated
    scalars into ONE per-part aggregate joined back; /7.0 happens once
    on the exact total."""
    register_tables(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(_Q17_SQL)


_Q20_SQL = """
    WITH widget AS (
      SELECT l_suppkey AS sk, l_partkey AS pk,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%widget%'
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey, l_partkey
    ),
    demand AS (SELECT pk, SUM(sq) AS total_qty FROM widget GROUP BY pk)
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (
      SELECT sk FROM widget JOIN demand USING (pk) WHERE sq * 4 > total_qty
    )
    """


@query("tpch_q20_excess_suppliers", _Q20_SQL)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape — dominant suppliers: suppliers who covered more than
    a quarter of some widget part's annual demand (lineitem supply
    totals stand in for partsupp availqty vs half-year demand). The
    nested IN re-uses ONE grouped CTE at two granularities
    ((supp, part) supply vs per-part demand) before the semi-join back
    to supplier; quantities ride as exact BIGINTs and the threshold is
    the cross-multiplied ``sq * 4 > total`` — no division anywhere."""
    register_tables(spark, sf_dir, ["lineitem", "part", "supplier"])
    return spark.sql(_Q20_SQL)


_Q21_SQL = """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
         JOIN orders ON o_orderkey = l1.l_orderkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND r_name IN ('ASIA','EUROPE')
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    """


@query("tpch_q21_waiting_supplier", _Q21_SQL)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape — suppliers who kept orders waiting: within finished
    multi-supplier orders, the supplier who was the ONLY one to fail
    (returnflag 'R' stands in for receipt-after-commit). The EXISTS and
    NOT EXISTS are SELF-references to the fact table with inequality
    correlation (same order, different supplier) — Catalyst plans a
    semi- and an anti-join against lineitem keyed on l_orderkey, both
    co-partitioned with the probe side after one shuffle; no per-row
    subquery survives."""
    register_tables(
        spark, sf_dir, ["supplier", "lineitem", "orders", "nation", "region"]
    )
    return spark.sql(_Q21_SQL)

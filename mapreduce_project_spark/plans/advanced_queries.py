"""Advanced relational query inventory — multi-level aggregation
(rollup/cube/grouping sets), set operations, pivot, scalar date/array
functions, range and as-of joins, exact percentiles, and the IVF ANN
variant.

None of these exist in the reference in any form (SURVEY.md §2.B "not
present" list) — they extend the §2.B capability surface the same way a
user of the reference would have to hand-write them as map/reduce jobs
(mechanism ``design.md:48-49``), and each SQL-expressible one carries a
DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_project_spark.operators.join import asof_join, range_join
from mapreduce_project_spark.operators.relational import (
    cube_agg,
    dec_sum,
    except_rows,
    grouping_sets_agg,
    intersect_rows,
    percentiles,
    pivot_count,
    rollup_agg,
)
from mapreduce_project_spark.operators.similarity import topk_ivf
from mapreduce_project_spark.queries_registry import query, t


@query(
    "rollup_customer_balance",
    """
    SELECT c_mktsegment, c_nationkey,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer
    GROUP BY ROLLUP(c_mktsegment, c_nationkey)
    """,
)
def q_rollup_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals (segment → segment×nation → grand total)
    in one Expand + one shuffle. Pytest-only slot: rollup is a special
    case of grouping sets — `cube_order_stats` and
    `grouping_sets_lineitem` carry the driver signal for the same
    Expand-based multi-level aggregation machinery."""
    return rollup_agg(
        t(spark, sf_dir, "customer"),
        ["c_mktsegment", "c_nationkey"],
        n_customers=F.count(F.lit(1)),
        total_bal=dec_sum("c_acctbal"),
    )


@query(
    "cube_order_stats",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def q_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^2 subtotal combinations in one pass."""
    return cube_agg(
        t(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority"],
        n_orders=F.count(F.lit(1)),
        revenue=dec_sum("o_totalprice"),
    )


@query(
    "grouping_sets_lineitem",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets — only the requested subtotals."""
    return grouping_sets_agg(
        t(spark, sf_dir, "lineitem"),
        [["l_returnflag"], ["l_linestatus"], []],
        ["l_returnflag", "l_linestatus"],
        n_rows=F.count(F.lit(1)),
        sum_qty=dec_sum("l_quantity"),
    )


@query(
    "intersect_nation_keys",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_intersect_nation_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection: nations with both customers and suppliers."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return intersect_rows(c, s)


@query(
    "except_order_keys",
    """
    SELECT o_orderkey FROM orders WHERE o_totalprice > 300000
    EXCEPT
    SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_except_order_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference: high-value orders that are not finished."""
    orders = t(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_totalprice") > 300000).select("o_orderkey")
    fin = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    return except_rows(hi, fin)


@query(
    "date_functions",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           quarter(o_orderdate) AS qtr,
           month(o_orderdate) AS mo,
           dayofweek(o_orderdate) + 1 AS dow,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_95
    FROM orders
    """,
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13-adjacent scalar date functions (all JVM-side, codegen'd).
    Spark's dayofweek is 1-based Sunday; DuckDB's is 0-based — the
    oracle shifts by one."""
    od = F.col("o_orderdate")
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year(od).cast("bigint").alias("yr"),
        F.quarter(od).cast("bigint").alias("qtr"),
        F.month(od).cast("bigint").alias("mo"),
        F.dayofweek(od).cast("bigint").alias("dow"),
        F.date_format(F.date_trunc("month", od), "yyyy-MM-dd").alias("month_start"),
        F.datediff(od, F.lit("1995-01-01")).cast("bigint").alias("days_since_95"),
    )


@query(
    "array_functions",
    """
    SELECT p_partkey,
           len(words) AS n_words,
           words[1] AS first_word,
           array_to_string(list_sort(words), ',') AS sorted_words,
           list_contains(words, 'red') AS has_red
    FROM (SELECT p_partkey, string_split(p_name, ' ') AS words FROM part)
    """,
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13-adjacent array functions over tokenized part names."""
    words = F.split(F.col("p_name"), " ")
    return t(spark, sf_dir, "part").select(
        "p_partkey",
        F.size(words).cast("bigint").alias("n_words"),
        F.element_at(words, 1).alias("first_word"),
        F.array_join(F.array_sort(words), ",").alias("sorted_words"),
        F.array_contains(words, "red").alias("has_red"),
    )


@query(
    "pivot_priority_status",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_pivot_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status into columns; explicit value list → single
    shuffle, no distinct-collection pre-job."""
    return pivot_count(
        t(spark, sf_dir, "orders"), "o_orderpriority", "o_orderstatus", ["F", "O", "P"]
    )


@query(
    "range_join_price_bands",
    """
    SELECT band,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    JOIN (VALUES ('lt100k', 0.0, 100000.0),
                 ('100k-200k', 100000.0, 200000.0),
                 ('200k-300k', 200000.0, 300000.0),
                 ('300k-400k', 300000.0, 400000.0),
                 ('ge400k', 400000.0, 1e12)) AS b(band, lo, hi)
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def q_range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi band join: the band table is broadcast, so the fact
    side is scanned once with zero shuffle before the aggregation.

    The band table is a SQL ``VALUES`` LocalRelation, NOT
    ``spark.createDataFrame`` — the latter plans as ``Scan
    ExistingRDD`` (a pickled Python-RDD scan that pays a Python worker
    roundtrip on every execution; measured ~2 s of pure overhead for 5
    rows)."""
    bands = spark.sql(
        """
        SELECT band, CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi
        FROM VALUES ('lt100k', 0.0, 100000.0),
                    ('100k-200k', 100000.0, 200000.0),
                    ('200k-300k', 200000.0, 300000.0),
                    ('300k-400k', 300000.0, 400000.0),
                    ('ge400k', 400000.0, 1e12) AS b(band, lo, hi)
        """
    )
    orders = t(spark, sf_dir, "orders")
    joined = range_join(
        orders, bands, F.col("o_totalprice") >= F.col("lo"), F.col("o_totalprice") < F.col("hi")
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"), dec_sum("o_totalprice").alias("revenue")
    )


@query(
    "asof_view_before_purchase",
    """
    SELECT p.event_id, p.user_id,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           epoch_ms(p.ts) - epoch_ms(v.ts) AS gap_ms
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
)
def q_asof_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase matched to the user's most
    recent view at-or-before it (null if none). Single shuffle on
    user_id via the union + carry-forward window — no correlated
    subquery, no per-pair work."""
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    joined = asof_join(purchases, views, ["user_id"], "ts", "ts", [])
    return joined.select(
        "event_id",
        "user_id",
        F.date_format(F.col("ts_matched"), "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        (F.unix_millis(F.col("ts")) - F.unix_millis(F.col("ts_matched"))).alias("gap_ms"),
    )


@query(
    "percentile_quantity",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.50) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_percentile_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles per return flag. Quantity values are
    small integers, so the interpolation arithmetic is exact in double
    on both engines. At 100 TB swap for approx_percentile."""
    return percentiles(
        t(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        "l_quantity",
        {"p25": 0.25, "p50": 0.50, "p75": 0.75},
    )


# DuckDB twin of operators.similarity.topk_ivf — replays the ENTIRE
# deterministic IVF build and search: seed centroids = 16 smallest ids,
# one Lloyd step over the id%10 sample with the shared fixed-point mean
# formula, full-corpus assignment, 4-probe selection, left-fold cosine
# re-rank. Every float op mirrors the Spark operand order (sq_dist and
# cosine are left folds with 0.0 init ≡ list_reduce whose implicit init
# is the first element; 0.0+x == x), ties break on lowest cid /
# neighbor_id — so the oracle is bit-identical, not merely close.
_SQDIST = (
    "list_reduce(list_transform(generate_series(1, 64),"
    " i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])), (x,y) -> x+y)"
)
_IVF_ORACLE = f"""
    WITH base AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
    ), seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cid, v AS cv
      FROM (SELECT * FROM base ORDER BY id LIMIT 16)
    ), assign0 AS (
      SELECT id, v, cid FROM (
        SELECT s.id, s.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY s.id
                 ORDER BY {_SQDIST.format(a='s.v', b='c.cv')}, c.cid) AS rk
        FROM (SELECT * FROM base WHERE id % 10 = 0) s CROSS JOIN seeds c
      ) WHERE rk = 1
    ), cents1 AS (
      SELECT cid, list(val ORDER BY dim) AS cv FROM (
        SELECT cid, i - 1 AS dim,
               CAST(SUM(CAST(floor(v[i] * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9
                 / COUNT(v[i]) AS val
        FROM assign0, (SELECT unnest(generate_series(1, 64)) AS i)
        GROUP BY cid, i
      ) GROUP BY cid
    ), cells AS (
      SELECT id, v, cid FROM (
        SELECT b.id, b.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY b.id
                 ORDER BY {_SQDIST.format(a='b.v', b='c.cv')}, c.cid) AS rk
        FROM base b CROSS JOIN cents1 c
      ) WHERE rk = 1
    ), probes AS (
      SELECT query_id, qv, cid FROM (
        SELECT q.id AS query_id, q.v AS qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.id
                 ORDER BY {_SQDIST.format(a='q.v', b='c.cv')}, c.cid) AS rk
        FROM (SELECT * FROM base WHERE id < 10) q CROSS JOIN cents1 c
      ) WHERE rk <= 4
    ), scored AS (
      SELECT p.query_id, l.id AS neighbor_id,
             list_reduce(list_transform(generate_series(1, 64),
               i -> p.qv[i]*l.v[i]), (x,y) -> x+y)
             / (sqrt(list_reduce(list_transform(p.qv, x -> x*x), (x,y) -> x+y))
              * sqrt(list_reduce(list_transform(l.v, x -> x*x), (x,y) -> x+y))) AS cos
      FROM cells l JOIN probes p USING (cid)
      WHERE l.id != p.query_id
    )
    SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, cos FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 5
    """


@query("similarity_topk_ivf", _IVF_ORACLE)
def q_similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 IVF ANN top-5 (16 cells, 4 probes): zero-shuffle quantizer
    assignment + probe join + exact re-rank within probed cells.
    HASH-CHECKED: the quantizer build is deterministic end-to-end (seed
    cells = smallest ids, fixed-point Lloyd means, lowest-cid/-id tie
    breaks, left-fold float arithmetic), so the DuckDB oracle replays
    the identical index build + search and matches by value — the
    strongest possible external check for an ANN operator. Tests
    additionally measure recall vs the exact `similarity_topk`."""
    emb = t(spark, sf_dir, "embeddings")
    out = topk_ivf(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", 5
    )
    return out.withColumn("rk", F.col("rk").cast("bigint"))


@query(
    "pagerank_trade_graph",
    """
    WITH raw AS (
      SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    e AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY src),
    params AS (SELECT 1000000000000 // COUNT(*) AS r0 FROM deg),
    in1 AS (
      SELECT e.dst AS node, CAST(SUM((SELECT r0 FROM params) // d) AS BIGINT) AS inflow
      FROM e JOIN deg ON e.src = deg.node GROUP BY e.dst
    ),
    r1 AS (
      SELECT deg.node,
             (15 * (SELECT r0 FROM params)) // 100
               + (85 * COALESCE(in1.inflow, 0)) // 100 AS fx
      FROM deg LEFT JOIN in1 USING (node)
    ),
    in2 AS (
      SELECT e.dst AS node, CAST(SUM(r1.fx // deg.d) AS BIGINT) AS inflow
      FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.node
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT deg.node,
             (15 * (SELECT r0 FROM params)) // 100
               + (85 * COALESCE(in2.inflow, 0)) // 100 AS fx
      FROM deg LEFT JOIN in2 USING (node)
    )
    SELECT node, CAST(fx AS BIGINT) AS rank_fx,
           CAST(fx AS DOUBLE) / 1000000000000 AS rank
    FROM r2
    """,
)
def q_pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two damped PageRank rounds over the customer–supplier trade
    graph (who-buys-from-whom via orders ⋈ lineitem, symmetrized) —
    `operators/graph.py:pagerank_fixed`. Every update is BIGINT
    integer math, so this iterative algorithm is fully hash-matched by
    an unrolled SQL oracle (same discipline as `kmeans_embeddings`)."""
    from mapreduce_project_spark.operators.graph import pagerank_fixed, symmetrize

    # Nodes are computed as BIGINT (even = customer, odd = supplier) and
    # rendered to the 'c…'/'s…' strings only at the very end: every
    # shuffle in the edge-dedup and the per-round join/agg then carries
    # an 8-byte key instead of a string — the never-shuffle-string-keys
    # discipline; output is byte-identical to the string-keyed form.
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    raw = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    # parity-split bipartite ids (even customers / odd suppliers):
    # no reversed edge can equal a forward one, so the symmetrize dedup
    # runs on the forward list alone (half the shuffle bytes).
    ranks = pagerank_fixed(symmetrize(raw, disjoint_reverse=True), n_iter=2)
    return ranks.select(
        F.when(
            F.col("node") % 2 == 0, F.concat(F.lit("c"), F.expr("node div 2"))
        )
        .otherwise(F.concat(F.lit("s"), F.expr("(node - 1) div 2")))
        .alias("node"),
        "rank_fx",
        "rank",
    )


# D303 (round 13, VERDICT r12 task 7): personalized / seeded PageRank —
# the teleport-vector completion of D49. Unrolled 2-round oracle with
# the identical integer fixed-point updates; seeds = NATION_7's customers
# present in the trade graph.
_PPR_ORACLE = """
    WITH raw AS (
      SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    e AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY src),
    cn AS (
      SELECT DISTINCT 2 * c_custkey AS node
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE n_name = 'NATION_7'
    ),
    s AS (SELECT cn.node FROM cn JOIN deg ON deg.node = cn.node),
    params AS (SELECT 1000000000000 // COUNT(*) AS r0 FROM s),
    in1 AS (
      SELECT e.dst AS node,
             CAST(SUM((SELECT r0 FROM params) // deg.d) AS BIGINT) AS inflow
      FROM e JOIN deg ON e.src = deg.node JOIN s ON s.node = e.src
      GROUP BY e.dst
    ),
    r1 AS (
      SELECT n.node,
             (CASE WHEN s.node IS NOT NULL
                   THEN (15 * (SELECT r0 FROM params)) // 100 ELSE 0 END
              + (85 * COALESCE(in1.inflow, 0)) // 100) AS fx
      FROM (SELECT node FROM deg) n
      LEFT JOIN s ON s.node = n.node
      LEFT JOIN in1 ON in1.node = n.node
    ),
    r1p AS (SELECT node, fx FROM r1 WHERE fx > 0),
    in2 AS (
      SELECT e.dst AS node, CAST(SUM(r1p.fx // deg.d) AS BIGINT) AS inflow
      FROM e JOIN r1p ON e.src = r1p.node JOIN deg ON e.src = deg.node
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT n.node,
             (CASE WHEN s.node IS NOT NULL
                   THEN (15 * (SELECT r0 FROM params)) // 100 ELSE 0 END
              + (85 * COALESCE(in2.inflow, 0)) // 100) AS fx
      FROM (SELECT node FROM deg) n
      LEFT JOIN s ON s.node = n.node
      LEFT JOIN in2 ON in2.node = n.node
    ),
    ranked AS (
      SELECT node, fx,
             row_number() OVER (ORDER BY fx DESC, node) AS rk
      FROM r2 WHERE fx > 0
    )
    SELECT CAST(rk AS BIGINT) AS rk,
           CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
                ELSE 's' || CAST((node - 1) // 2 AS VARCHAR) END AS node,
           CAST(fx AS BIGINT) AS rank_fx,
           CAST(fx AS DOUBLE) / 1000000000000 AS rank
    FROM ranked WHERE rk <= 100
    """


@query("pagerank_personalized_seeded", _PPR_ORACLE)
def q_pagerank_personalized_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized (seeded-teleport) PageRank over the trade graph
    (D303) — the recommender-graph sibling of `pagerank_trade_graph`:
    restart mass concentrates on ONE nation's customers, so the
    ranking answers "which suppliers/customers matter to NATION_7's
    buyers", not "who matters globally". Same integer fixed-point
    discipline as D49 (`operators/graph.py:pagerank_personalized`),
    hash-matched by an unrolled 2-round oracle.

    Scale: the Spark loop carries the rank vector SPARSELY (only the
    seed set's k-hop frontier holds mass — each round shuffles
    O(frontier x degree), not O(V)); top-100 is a
    TakeOrderedAndProject, never a global sort."""
    from mapreduce_project_spark.operators.graph import (
        pagerank_personalized,
        symmetrize,
    )

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    raw = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    nat = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    seeds = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select((F.col("c_custkey") * 2).alias("node"))
        .distinct()
    )
    # same parity-disjoint split as pagerank_trade_graph (see there)
    ranks = pagerank_personalized(
        symmetrize(raw, disjoint_reverse=True), seeds, n_iter=2
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("rank_fx").desc(), F.col("node"))
    return (
        ranks.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 100)
        .select(
            "rk",
            F.when(
                F.col("node") % 2 == 0,
                F.concat(F.lit("c"), F.expr("node div 2")),
            )
            .otherwise(F.concat(F.lit("s"), F.expr("(node - 1) div 2")))
            .alias("node"),
            "rank_fx",
            "rank",
        )
    )


@query(
    "triangle_counts_cosupply",
    """
    WITH o AS (
      SELECT o_orderkey FROM orders
      WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
    ),
    raw AS (
      SELECT x.l_suppkey AS s1, y.l_suppkey AS s2
      FROM lineitem x
      JOIN lineitem y ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
      JOIN o ON x.l_orderkey = o.o_orderkey
    ),
    e AS (SELECT DISTINCT s1 AS a, s2 AS b FROM raw),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1 JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT node, COUNT(*) AS n_tri FROM corners GROUP BY node
    """,
)
def q_triangle_counts_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier triangle counts over the Q1-1995 co-supply graph
    (suppliers joined by an edge when they supplied the same order) —
    `operators/graph.py:triangle_counts`. The Spark plan orients edges
    by (degree, id) so the wedge join is O(E^1.5)-bounded; the oracle
    counts the identical triangle set with the naive id-ordered 3-way
    join (feasible at oracle scale, ruinous at 100 TB)."""
    from mapreduce_project_spark.operators.graph import triangle_counts

    o = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-04-01"))
        )
        .select("o_orderkey")
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    x, y = li.alias("x"), li.alias("y")
    raw = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
        )
        .join(o, F.col("x.l_orderkey") == F.col("o_orderkey"))
        .select(F.col("x.l_suppkey").alias("src"), F.col("y.l_suppkey").alias("dst"))
    )
    # Materialize the canonical edge set once so the triangle pipeline's
    # three `oriented` consumers replay a checkpointed edge table, not
    # the lineitem self-join (same discipline as
    # `graph_clustering_coefficient`; src < dst already holds, so the
    # canonical form equals the operator's internal normalization).
    e = (
        raw.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return triangle_counts(e, src="a", dst="b", canonical=True)


_RCTE_SQL = """
    WITH RECURSIVE chain(suppkey, node, depth) AS (
      SELECT s_suppkey AS suppkey, s_suppkey AS node, CAST(0 AS BIGINT) AS depth
      FROM supplier
      UNION ALL
      SELECT suppkey, CAST(FLOOR(node / 2) AS BIGINT) AS node, depth + 1 AS depth
      FROM chain WHERE node > 1
    )
    SELECT suppkey, CAST(MAX(depth) AS BIGINT) AS depth_to_root,
           COUNT(*) AS chain_len
    FROM chain GROUP BY suppkey
    """


@query("recursive_supplier_chain", _RCTE_SQL)
def q_recursive_supplier_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (new SQL surface in Spark 4) — hierarchical
    reachability declared IN SQL instead of a driver-side loop: walk
    each supplier key up its implicit binary-tree ancestry to the root
    and report path depth. The engine executes the fixpoint as repeated
    self-union rounds (bounded by `spark.sql.cteRecursionLevelLimit`);
    contrast `pagerank_trade_graph`/`dedup_clusters`, whose driver
    `for`-loops implement the same iterate-to-fixpoint pattern with
    per-round persistence control — recursive CTEs trade that control
    for declarativity. One SQL text serves both engines; the division
    is FLOOR over exact small ints, so the walk is engine-identical."""
    from mapreduce_project_spark.sources import register_tables

    register_tables(spark, sf_dir, ["supplier"])
    return spark.sql(_RCTE_SQL)


@query(
    "asof_purchase_after_view",
    """
    WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    m AS (
      SELECT v.event_id, v.user_id, v.ts, MIN(p.ts) AS pts
      FROM v LEFT JOIN p ON p.user_id = v.user_id AND p.ts >= v.ts
      GROUP BY v.event_id, v.user_id, v.ts
    )
    SELECT event_id, user_id,
           strftime(pts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           epoch_ms(pts) - epoch_ms(ts) AS wait_ms
    FROM m
    """,
)
def q_asof_purchase_after_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of (`operators/join.py:asof_join_forward`): each view
    matched to the same user's NEXT purchase — the time-to-convert
    metric, D7's mirror. Single keyed shuffle, no join operator; the
    oracle expresses the identical semantics as a MIN-over-candidates
    outer join (fine at oracle scale, quadratic per key at 100 TB —
    which is exactly why the union-carry form exists)."""
    from mapreduce_project_spark.operators.join import asof_join_forward

    ev = t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    joined = asof_join_forward(views, purchases, ["user_id"], "ts", "ts", [])
    return joined.select(
        "event_id",
        "user_id",
        F.date_format(F.col("ts_matched"), "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        (F.unix_millis(F.col("ts_matched")) - F.unix_millis(F.col("ts"))).alias("wait_ms"),
    )


@query(
    "rollup_with_grouping_id",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT)
             AS gid,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def q_rollup_with_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup with GROUPING disambiguation: a NULL grouping key is
    ambiguous between "subtotal row" and "the data really was NULL";
    `grouping_id` (bitmask of which keys are rolled up) makes subtotal
    levels machine-readable — required the moment a rollup feeds
    anything downstream. Same one-Expand plan as `cube_order_stats`."""
    return (
        t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders")
    )


@query(
    "shortest_paths_trade",
    """
    WITH raw AS (
      SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
             CAST(min(l_quantity) AS BIGINT) AS w
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY src, dst
    ),
    e AS (
      SELECT src, dst, min(w) AS w FROM (
        SELECT src, dst, w FROM raw
        UNION ALL SELECT dst AS src, src AS dst, w FROM raw
      ) GROUP BY src, dst
    ),
    d0 AS (
      SELECT c_custkey * 2 AS node, CAST(0 AS BIGINT) AS dist
      FROM customer WHERE c_custkey % 50 = 0
    ),
    d1 AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d0
        UNION ALL SELECT e.dst AS node, d0.dist + e.w AS dist
        FROM e JOIN d0 ON e.src = d0.node
      ) GROUP BY node
    ),
    d2 AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d1
        UNION ALL SELECT e.dst AS node, d1.dist + e.w AS dist
        FROM e JOIN d1 ON e.src = d1.node
      ) GROUP BY node
    )
    SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
                ELSE 's' || CAST((node - 1) // 2 AS VARCHAR) END AS node,
           CAST(dist AS BIGINT) AS dist
    FROM d2
    """,
)
def q_shortest_paths_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded weighted shortest paths
    (`operators/graph.py:bounded_shortest_paths`): cheapest 2-hop trade
    cost from every 50th customer over the symmetrized customer—supplier
    graph, edge weight = the cheapest connecting line quantity
    (multi-edges collapsed to MIN at build). BIGINT node ids and
    weights end-to-end (strings rendered only at output, like
    PageRank); the oracle is the 2-round relaxation unrolled in SQL —
    the same exact arithmetic on a different engine."""
    from mapreduce_project_spark.operators.graph import bounded_shortest_paths

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity")
    raw = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .agg(F.min("l_quantity").cast("bigint").alias("w"))
    )
    edges = (
        raw.select("src", "dst", "w")
        .unionByName(
            raw.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    )
    sources = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 50 == 0)
        .select((F.col("c_custkey") * 2).alias("node"))
    )
    dist = bounded_shortest_paths(edges, sources, rounds=2)
    return dist.select(
        F.when(F.col("node") % 2 == 0, F.concat(F.lit("c"), F.expr("node div 2")))
        .otherwise(F.concat(F.lit("s"), F.expr("(node - 1) div 2")))
        .alias("node"),
        "dist",
    )


_COMPONENTS_ORACLE = """
    WITH RECURSIVE o AS (
      SELECT o_orderkey FROM orders
      WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-02-01'
    ),
    raw AS (
      SELECT x.l_suppkey AS s1, y.l_suppkey AS s2
      FROM lineitem x
      JOIN lineitem y ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
      JOIN o ON x.l_orderkey = o.o_orderkey
    ),
    e0 AS (SELECT DISTINCT s1 AS a, s2 AS b FROM raw),
    edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
    ),
    comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id)
    SELECT c.id AS node, c.comp, s.n AS comp_size
    FROM comp c
    JOIN (SELECT comp, COUNT(*) AS n FROM comp GROUP BY comp) s USING (comp)
    """


@query("graph_components_cosupply", _COMPONENTS_ORACLE)
def q_graph_components_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the January-1995 co-supply graph
    (suppliers joined when they supplied the same order) — the
    reachability member of the graph family beside `pagerank_trade_graph`,
    `triangle_counts_cosupply` and `shortest_paths_trade`. Reuses the
    SAME two-phase union-find that powers `dedup_clusters`
    (`operators/dedup.py:connected_components` — partition-local star
    contraction, then min-label propagation with a scalar-only
    convergence read); the oracle is the transitive closure as a
    recursive CTE over the identical edge SQL. Output: every supplier
    in the graph with its component representative (min id) and
    component size."""
    from mapreduce_project_spark.operators.dedup import connected_components

    o = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-02-01"))
        )
        .select("o_orderkey")
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    x, y = li.alias("x"), li.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
        )
        .join(o, F.col("x.l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("x.l_suppkey").alias("id_a"), F.col("y.l_suppkey").alias("id_b")
        )
        .distinct()
    )
    comp = connected_components(pairs)
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).cast("bigint").alias("comp_size"))
    return comp.select(F.col("id").alias("node"), "comp").join(sizes, "comp").select(
        "node", "comp", "comp_size"
    )


@query(
    "mad_quantity_by_flag",
    """
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_quantity, 0.50) AS med
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag, m.med,
           quantile_cont(abs(l.l_quantity - m.med), 0.50) AS mad
    FROM lineitem l JOIN med m USING (l_returnflag)
    GROUP BY l.l_returnflag, m.med
    """,
)
def q_mad_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion: median absolute deviation of quantity per
    return flag — two exact grouped medians with the tiny per-group
    median table broadcast back for the deviation pass (the
    outlier-resistant spread statistic behind data-drift monitors;
    stddev is already covered by `zscore_doc_length`'s machinery).
    Quantities are small integers so the interpolated medians and
    |x − med| deviations are exact doubles on both engines. At 100 TB
    swap both passes for approx_percentile."""
    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.50)").alias("med")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag", "med")
        .agg(
            F.expr("percentile(abs(l_quantity - med), 0.50)").alias("mad")
        )
    )


@query(
    "winsorize_quantity",
    """
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.05) AS lo,
             quantile_cont(l_quantity, 0.95) AS hi
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_orderkey, l_linenumber, l.l_returnflag,
           CAST(l_quantity AS DOUBLE) AS quantity,
           CASE WHEN l_quantity < lo THEN lo
                WHEN l_quantity > hi THEN hi
                ELSE CAST(l_quantity AS DOUBLE) END AS winsorized,
           CAST(l_quantity < lo OR l_quantity > hi AS BOOLEAN) AS clipped
    FROM lineitem l JOIN b USING (l_returnflag)
    """,
)
def q_winsorize_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the outlier-clipping feature transform: each
    quantity clamped to its group's exact [p05, p95] band, with a
    clipped flag for drift monitoring. The per-group band table is
    tiny and broadcasts; clamping is a codegen projection, so the fact
    side never shuffles. Integral quantities make the interpolated
    percentiles exact doubles on both engines (the `percentile_quantity`
    guarantee); at 100 TB swap the band pass for approx_percentile."""
    li = t(spark, sf_dir, "lineitem")
    bands = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.05)").alias("lo"),
        F.expr("percentile(l_quantity, 0.95)").alias("hi"),
    )
    q = F.col("l_quantity").cast("double")
    return (
        li.join(F.broadcast(bands), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            q.alias("quantity"),
            F.when(q < F.col("lo"), F.col("lo"))
            .when(q > F.col("hi"), F.col("hi"))
            .otherwise(q)
            .alias("winsorized"),
            ((q < F.col("lo")) | (q > F.col("hi"))).alias("clipped"),
        )
    )


# DuckDB twin of the assortativity moments: identical edge SQL
# (January-1995 co-supply, the D114/D49 graph), identical symmetrized
# moment sums, identical pinned Pearson-over-edges expression.
_ASSORT_ORACLE = """
    WITH o AS (
      SELECT o_orderkey FROM orders
      WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-02-01'
    ),
    e0 AS (
      SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
      FROM lineitem x
      JOIN lineitem y ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
      JOIN o ON x.l_orderkey = o.o_orderkey
    ),
    edges AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
    deg AS (SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(da.d) AS BIGINT) AS sx,
             CAST(SUM(da.d * da.d) AS BIGINT) AS sxx,
             CAST(SUM(da.d * db.d) AS BIGINT) AS sxy
      FROM edges e
      JOIN deg da ON da.id = e.a
      JOIN deg db ON db.id = e.b
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           n // 2 AS n_edges, sx, sxx, sxy,
           CASE WHEN n * sxx - sx * sx = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(n * sxy - sx * sx AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) END AS assortativity
    FROM m
    """


@query("graph_degree_assortativity", _ASSORT_ORACLE)
def q_graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (D233, Newman 2002) of the January-1995
    co-supply graph — the one-number structural fingerprint the graph
    family was missing (components D114 say how many pieces, triangles
    D50 how clustered, PageRank D49 who matters; assortativity says
    whether hubs attach to hubs (r > 0, social-network shape) or to
    leaves (r < 0, internet/supply-chain shape)) — the statistic that
    tells a partitioner whether degree-based salting will face
    hub-hub edge concentration.

    Exactness: Pearson over the SYMMETRIZED edge list (each edge
    contributes both directions, the standard estimator), so Sy = Sx
    and Syy = Sxx and r collapses to (n·Sxy − Sx²)/(n·Sxx − Sx²) —
    four exact BIGINT moment sums and ONE pinned IEEE division (the
    D107 discipline; int64→double casts round identically in both
    engines), zero-denominator (regular graph) pinned to 0. Plan: one
    distinct-edge self-join (bounded by per-order line counts), one
    node-keyed degree partial agg, two broadcast-friendly degree
    probes, one scalar agg — output is ONE row at any scale."""
    o = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-02-01"))
        )
        .select("o_orderkey")
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    x, y = li.alias("x"), li.alias("y")
    e0 = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
        )
        .join(o, F.col("x.l_orderkey") == F.col("o_orderkey"))
        .select(F.col("x.l_suppkey").alias("a"), F.col("y.l_suppkey").alias("b"))
        .distinct()
    )
    edges = e0.unionByName(
        e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = edges.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    da = deg.select(F.col("id").alias("a"), F.col("d").alias("dda"))
    db = deg.select(F.col("id").alias("b"), F.col("d").alias("ddb"))
    m = (
        edges.join(da, "a")
        .join(db, "b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("dda").cast("bigint").alias("sx"),
            F.expr("sum(dda * dda)").cast("bigint").alias("sxx"),
            F.expr("sum(dda * ddb)").cast("bigint").alias("sxy"),
        )
    )
    nn = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    # Headroom guard (CUPED discipline): n·Sxy and Sx² must stay
    # inside int64 before the pinned IEEE division can be trusted.
    r = F.expr(
        "case when n * sxx - sx * sx = 0 then cast(0.0 as double) "
        "when greatest(sxx, sxy) >= (4611686018427387904L div n) "
        "  then raise_error('graph_degree_assortativity: moment sums exceed"
        " 64-bit headroom — widen to DECIMAL(38,0)') "
        "else cast(n * sxy - sx * sx as double)"
        " / cast(n * sxx - sx * sx as double) end"
    )
    return m.crossJoin(F.broadcast(nn)).select(
        "n_nodes",
        F.expr("n div 2").cast("bigint").alias("n_edges"),
        "sx",
        "sxx",
        "sxy",
        r.alias("assortativity"),
    )


# DuckDB twin of the label-propagation rounds: identical January-1995
# co-supply edges (the D233/D114/D49 graph), identical 4 synchronous
# rounds with the (count DESC, label ASC) argmax pinned via QUALIFY
# row_number, identical final community-size join.
_LPA_ROUND = """
    l{i} AS (
      SELECT e.a AS id, l.lbl
      FROM edges e JOIN l{h} l ON l.id = e.b
      GROUP BY e.a, l.lbl
      QUALIFY row_number() OVER (
        PARTITION BY e.a ORDER BY COUNT(*) DESC, l.lbl ASC) = 1
    )"""

_LPA_ORACLE = (
    """
    WITH o AS (
      SELECT o_orderkey FROM orders
      WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-02-01'
    ),
    e0 AS (
      SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
      FROM lineitem x
      JOIN lineitem y ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
      JOIN o ON x.l_orderkey = o.o_orderkey
    ),
    edges AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
    l0 AS (SELECT DISTINCT a AS id, a AS lbl FROM edges),
    """
    + ",\n    ".join(_LPA_ROUND.format(i=i, h=i - 1) for i in range(1, 5))
    + """,
    sizes AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size
              FROM l4 GROUP BY 1)
    SELECT l4.id AS supplier, l4.lbl AS community, sizes.community_size
    FROM l4 JOIN sizes ON sizes.lbl = l4.lbl
    """
)


@query("graph_label_propagation", _LPA_ORACLE)
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation community detection (D245,
    Raghavan 2007) over the January-1995 co-supply graph — the
    community-structure member completing the graph family
    (components D114 find CONNECTIVITY islands, assortativity D233
    scores hub attachment, PageRank D49 ranks; LPA finds the densely
    intra-connected clusters INSIDE one component — which is what a
    partitioner actually wants for edge-cut-minimizing layout, and
    what a dedup pipeline wants when near-dup pairs form soft
    neighborhoods rather than hard components).

    Determinism (vanilla LPA is notoriously order-dependent —
    unusable as a hash-checked operator): FOUR fully SYNCHRONOUS
    rounds (every node updates from the PREVIOUS round's labels
    simultaneously — no in-round drift), argmax pinned as (count
    DESC, label ASC) via per-node row_number (a window PARTITIONED BY
    node, bounded by the node's distinct neighbor labels — never a
    global window), labels initialised to the node id. Bounded
    rounds, not convergence: like PageRank D49, the round count is
    the contract — oracle-replayable as unrolled CTEs, and at 100 TB
    four node-keyed join+argmax rounds are four bounded shuffle
    stages with O(V) state, no convergence-test collect. Per round:
    one edge-label equi-join (fan-out = edge count) + one (node,
    label) partial agg + one node-partitioned top-1 window. Output is
    one row per participating supplier with its community and the
    community size (one more metadata-side partial agg)."""
    o = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-02-01"))
        )
        .select("o_orderkey")
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    x, y = li.alias("x"), li.alias("y")
    e0 = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
        )
        .join(o, F.col("x.l_orderkey") == F.col("o_orderkey"))
        .select(F.col("x.l_suppkey").alias("a"), F.col("y.l_suppkey").alias("b"))
        .distinct()
    )
    edges = e0.unionByName(
        e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).cache()
    labels = edges.select(F.col("a").alias("id")).distinct().select(
        "id", F.col("id").alias("lbl")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.col("cnt").desc(), F.col("lbl").asc())
    for _ in range(4):
        nbr = edges.join(
            labels.select(F.col("id").alias("b"), "lbl"), "b"
        ).select(F.col("a").alias("id"), "lbl")
        cnt = nbr.groupBy("id", "lbl").agg(F.count(F.lit(1)).alias("cnt"))
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", "lbl")
        )
    sizes = labels.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("community_size")
    )
    return labels.join(sizes, "lbl").select(
        F.col("id").alias("supplier"),
        F.col("lbl").alias("community"),
        "community_size",
    )


# DuckDB twin of the k-core peel: identical January-1995 co-supply
# edges, identical 6 synchronous peel rounds at k = 3 (degree counted
# over the REMAINING node set each round), identical removal-round
# bookkeeping and final survivor degrees.
_KCORE_ROUND = """
    r{i} AS MATERIALIZED (
      SELECT e.a AS id
      FROM edges e JOIN r{h} x ON x.id = e.a
      JOIN r{h} y ON y.id = e.b
      GROUP BY e.a HAVING COUNT(*) >= 3
    )"""

_KCORE_ORACLE = (
    """
    WITH o AS (
      SELECT o_orderkey FROM orders
      WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-02-01'
    ),
    e0 AS (
      SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
      FROM lineitem x
      JOIN lineitem y ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
      JOIN o ON x.l_orderkey = o.o_orderkey
    ),
    edges AS MATERIALIZED (
      SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
    r0 AS MATERIALIZED (SELECT DISTINCT a AS id FROM edges),
    """
    + ",\n    ".join(_KCORE_ROUND.format(i=i, h=i - 1) for i in range(1, 7))
    + """,
    rounds AS (
      SELECT r0.id,
             CASE
               WHEN r6.id IS NOT NULL THEN 0
               WHEN r1.id IS NULL THEN 1
               WHEN r2.id IS NULL THEN 2
               WHEN r3.id IS NULL THEN 3
               WHEN r4.id IS NULL THEN 4
               WHEN r5.id IS NULL THEN 5
               ELSE 6
             END AS removed_round
      FROM r0
      LEFT JOIN r1 ON r1.id = r0.id
      LEFT JOIN r2 ON r2.id = r0.id
      LEFT JOIN r3 ON r3.id = r0.id
      LEFT JOIN r4 ON r4.id = r0.id
      LEFT JOIN r5 ON r5.id = r0.id
      LEFT JOIN r6 ON r6.id = r0.id
    ),
    coredeg AS (
      SELECT e.a AS id, CAST(COUNT(*) AS BIGINT) AS core_degree
      FROM edges e JOIN r6 x ON x.id = e.a JOIN r6 y ON y.id = e.b
      GROUP BY e.a
    )
    SELECT r.id AS supplier,
           CAST(CASE WHEN r.removed_round = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS in_core,
           CAST(r.removed_round AS BIGINT) AS removed_round,
           CAST(COALESCE(c.core_degree, 0) AS BIGINT) AS core_degree
    FROM rounds r LEFT JOIN coredeg c ON c.id = r.id
    """
)


@query("graph_kcore_membership", _KCORE_ORACLE)
def q_graph_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peel (D255, k = 3, six synchronous rounds) over
    the January-1995 co-supply graph — the density-tier member of the
    graph family (components D114: connectivity; LPA D245: community
    assignment; assortativity D233: attachment style; k-core answers
    WHICH NODES sit in the densely-supported backbone — the classic
    spam/bot-subgraph and nucleus-extraction primitive, and the
    pruning pass a graph-sampling pipeline runs before expensive
    per-node work): synchronously remove every node whose degree
    among REMAINING nodes is < 3, six times; report per original
    node the membership flag, the round it was peeled (0 = survivor
    — the peel ROUND is the "onion layer" index, itself a useful
    centrality-lite signal), and the survivor's within-core degree.

    Determinism: peeling is synchronous (each round's degrees are
    computed against the previous round's full survivor set — no
    order dependence), and the round count is the CONTRACT (the
    D49/D245 bounded-rounds discipline): oracle-replayable as six
    unrolled HAVING CTEs; at 100 TB six degree-filter rounds are six
    bounded (node-keyed partial agg + semi-join) stages with O(V)
    state. A converged fixture (no removals in round 6) makes the
    bounded answer THE 3-core exactly — the planted fixture pins
    both a cascade (a tail whose removal triggers the next peel) and
    convergence."""
    o = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-02-01"))
        )
        .select("o_orderkey")
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    x, y = li.alias("x"), li.alias("y")
    e0 = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
        )
        .join(o, F.col("x.l_orderkey") == F.col("o_orderkey"))
        .select(F.col("x.l_suppkey").alias("a"), F.col("y.l_suppkey").alias("b"))
        .distinct()
    )
    edges = e0.unionByName(
        e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).cache()
    all_nodes = edges.select(F.col("a").alias("id")).distinct()
    remaining = all_nodes
    removed = all_nodes.select("id").limit(0).withColumn(
        "removed_round", F.lit(0).cast("bigint")
    )
    for rnd in range(1, 7):
        ra = remaining.select(F.col("id").alias("a"))
        rb = remaining.select(F.col("id").alias("b"))
        deg = (
            edges.join(ra, "a")
            .join(rb, "b")
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        # localCheckpoint each round's survivor set: `remaining` fans
        # out THREE ways per round (two degree-join probes + the
        # anti-join), so without lineage truncation the logical plan
        # grows 3^rounds and Catalyst planning dominates (measured
        # 234 s uncached, 39 s cached-but-unbroken, ~3 s with the
        # checkpoint at sf0.1); the survivor set is O(V) ids, so the
        # materialization is cheap at any scale
        survivors = (
            deg.filter(F.col("d") >= 3)
            .select(F.col("a").alias("id"))
            .localCheckpoint()
        )
        peeled = remaining.join(survivors, "id", "left_anti").select(
            "id", F.lit(rnd).cast("bigint").alias("removed_round")
        )
        removed = removed.unionByName(peeled)
        remaining = survivors
    ra = remaining.select(F.col("id").alias("a"))
    rb = remaining.select(F.col("id").alias("b"))
    coredeg = (
        edges.join(ra, "a")
        .join(rb, "b")
        .groupBy(F.col("a").alias("id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
    )
    survivors_out = remaining.select(
        "id", F.lit(0).cast("bigint").alias("removed_round")
    )
    status = survivors_out.unionByName(removed)
    return (
        status.join(coredeg, "id", "left")
        .select(
            F.col("id").alias("supplier"),
            (F.col("removed_round") == 0).cast("bigint").alias("in_core"),
            "removed_round",
            F.coalesce("core_degree", F.lit(0)).cast("bigint").alias(
                "core_degree"
            ),
        )
    )


# DuckDB twin of the nprobe ladder: the identical deterministic index
# build as _IVF_ORACLE (smallest-id seeds, one sampled Lloyd step,
# fixed-point means, lowest-cid/-id ties), then the SAME probed search
# at every rung, scored against the exact brute-force top-5.
_NPROBE_ORACLE = f"""
    WITH base AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
    ), seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cid, v AS cv
      FROM (SELECT * FROM base ORDER BY id LIMIT 16)
    ), assign0 AS (
      SELECT id, v, cid FROM (
        SELECT s.id, s.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY s.id
                 ORDER BY {_SQDIST.format(a='s.v', b='c.cv')}, c.cid) AS rk
        FROM (SELECT * FROM base WHERE id % 10 = 0) s CROSS JOIN seeds c
      ) WHERE rk = 1
    ), cents1 AS (
      SELECT cid, list(val ORDER BY dim) AS cv FROM (
        SELECT cid, i - 1 AS dim,
               CAST(SUM(CAST(floor(v[i] * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9
                 / COUNT(v[i]) AS val
        FROM assign0, (SELECT unnest(generate_series(1, 64)) AS i)
        GROUP BY cid, i
      ) GROUP BY cid
    ), cells AS (
      SELECT id, v, cid FROM (
        SELECT b.id, b.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY b.id
                 ORDER BY {_SQDIST.format(a='b.v', b='c.cv')}, c.cid) AS rk
        FROM base b CROSS JOIN cents1 c
      ) WHERE rk = 1
    ), pranked AS (
      SELECT query_id, qv, cid, rk AS prk FROM (
        SELECT q.id AS query_id, q.v AS qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.id
                 ORDER BY {_SQDIST.format(a='q.v', b='c.cv')}, c.cid) AS rk
        FROM (SELECT * FROM base WHERE id < 10) q CROSS JOIN cents1 c
      ) WHERE rk <= 8
    ), rungs AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
    cand AS (
      SELECT r.nprobe, p.query_id, p.qv, l.id AS neighbor_id, l.v
      FROM rungs r
      JOIN pranked p ON p.prk <= r.nprobe
      JOIN cells l USING (cid)
      WHERE l.id != p.query_id
    ), ivf5 AS (
      SELECT nprobe, query_id, neighbor_id FROM (
        SELECT nprobe, query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
                 ORDER BY list_reduce(list_transform(generate_series(1, 64),
                            i -> qv[i]*v[i]), (x,y) -> x+y)
                          / (sqrt(list_reduce(list_transform(qv, x -> x*x),
                                              (x,y) -> x+y))
                           * sqrt(list_reduce(list_transform(v, x -> x*x),
                                              (x,y) -> x+y))) DESC,
                          neighbor_id) AS rk
        FROM cand
      ) WHERE rk <= 5
    ), exact5 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.id AS query_id, b.id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.id
                 ORDER BY list_reduce(list_transform(generate_series(1, 64),
                            i -> q.v[i]*b.v[i]), (x,y) -> x+y)
                          / (sqrt(list_reduce(list_transform(q.v, x -> x*x),
                                              (x,y) -> x+y))
                           * sqrt(list_reduce(list_transform(b.v, x -> x*x),
                                              (x,y) -> x+y))) DESC,
                          b.id) AS rk
        FROM (SELECT * FROM base WHERE id < 10) q
        JOIN base b ON b.id != q.id
      ) WHERE rk <= 5
    ), denom AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM exact5),
    costs AS (
      SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS candidates_scanned
      FROM cand GROUP BY nprobe
    ),
    hits AS (
      SELECT i.nprobe, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM ivf5 i JOIN exact5 e
        ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
      GROUP BY i.nprobe
    )
    SELECT CAST(c.nprobe AS BIGINT) AS nprobe,
           c.candidates_scanned,
           COALESCE(h.n_hits, 0) AS n_hits,
           (SELECT nd FROM denom) AS n_exact,
           CAST(COALESCE(h.n_hits, 0) * 1000000 // (SELECT nd FROM denom)
                AS BIGINT) AS recall_ppm
    FROM costs c LEFT JOIN hits h ON h.nprobe = c.nprobe
    """


@query("ivf_nprobe_recall_curve", _NPROBE_ORACLE)
def q_ivf_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe recall-vs-cost ladder (D276) — the ANN-serving
    counterpart of the LSH width ladder (D221 audits the DEDUP
    family's knob; this audits the SERVING family's: how many of the
    16 IVF cells must a query probe before recall against the exact
    brute-force top-5 is acceptable, and what does each rung cost in
    candidates scanned? — the exact curve every vector-store
    deployment reads to set nprobe, produced from the real index
    instead of guessed). One row per rung (1/2/4/8 probes): total
    candidates scanned (the cost), exact-top-5 hits, and recall ppm.

    Exactness: the index build is byte-identical to the registered
    `similarity_topk_ivf` (smallest-id seeds, one sampled Lloyd step,
    fixed-point means, lowest-cid/-id tie-breaks, left-fold float
    arithmetic), built ONCE and shared by all four rungs (a ladder
    re-building per rung would be a benchmark artifact); recall
    counts are exact integers over pinned (cos DESC, id) top-5 sets;
    by construction each rung's candidate set contains the previous
    rung's (probe ranks are nested), so recall is monotone in nprobe
    — the planted test pins exactly that. Plan: quantizer = 2
    broadcast-assign passes + one partial-agg mean; the ladder adds
    ONE cells-to-probes join fanned 4× by the rung lattice and two
    bounded top-5 windows; exact5 is the same broadcast-queries scan
    as `similarity_topk`. Four rows out."""
    from pyspark.sql import Window

    from mapreduce_project_spark.operators.similarity import (
        _cents_row,
        _nearest_cid,
        as_double,
        cluster_centroid_means,
        cosine,
        sq_dist,
        topk_bruteforce,
    )

    emb = t(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("id"), as_double(F.col("embedding")).alias("v")
    )
    seed_w = Window.orderBy("id")
    seed_cents = (
        base.orderBy("id")
        .limit(16)
        .select(
            (F.row_number().over(seed_w) - 1).alias("cid"),
            F.col("v").alias("cv"),
        )
    )
    sample = base.filter(F.col("id") % 10 == 0)
    assign0 = sample.crossJoin(F.broadcast(_cents_row(seed_cents))).select(
        "id", "v", _nearest_cid(F.col("v")).alias("cid")
    )
    cents1 = cluster_centroid_means(assign0, 64).cache()
    cells = base.crossJoin(F.broadcast(_cents_row(cents1))).select(
        "id", "v", _nearest_cid(F.col("v")).alias("cid")
    )
    q = base.filter(F.col("id") < 10).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv")
    )
    qscored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            sq_dist(F.col("qv"), c.getField("cv")).alias("d"),
            c.getField("cid").alias("cid"),
        ),
    )
    pranked = (
        q.crossJoin(F.broadcast(_cents_row(cents1)))
        .select(
            "query_id", "qv",
            F.posexplode(F.slice(F.array_sort(qscored), 1, 8)).alias(
                "pos", "p"
            ),
        )
        .select(
            "query_id", "qv",
            F.col("p.cid").alias("cid"),
            (F.col("pos") + 1).alias("prk"),
        )
    )
    rungs = spark.createDataFrame([(1,), (2,), (4,), (8,)], "nprobe bigint")
    cand = (
        cells.join(
            F.broadcast(pranked.crossJoin(F.broadcast(rungs)).filter(
                F.col("prk") <= F.col("nprobe")
            )),
            "cid",
        )
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "nprobe", "query_id", "qv",
            F.col("id").alias("neighbor_id"), "v",
        )
    )
    w5 = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )
    # NOTE (r13): caching a narrow (nprobe, query_id, neighbor_id, cos)
    # projection of `cand` for the two consumers (rank + tally) was
    # tried and measured SLOWER in interleaved A/B reps (+31% min-of-6,
    # positive in every instrument): the candidate subtree is
    # broadcast-join-only and its recompute is cheaper than the cache
    # materialization barrier. Left uncached per guide §1.1/§5.
    ivf5 = (
        cand.withColumn("cos", cosine(F.col("qv"), F.col("v")))
        .withColumn("rk", F.row_number().over(w5))
        .filter(F.col("rk") <= 5)
        .select("nprobe", "query_id", "neighbor_id")
    )
    # NOTE (r14): caching this 50-row table for its two consumers
    # (denominator + hit join) was tried and measured SLOWER in 3 of 3
    # interleaved A/B cycles (pooled min 4.18 s uncached vs 4.43 s
    # cached): both consumers live in ONE final plan, so the
    # brute-force subtree's exchanges are deduplicated at runtime by
    # AQE ReusedExchange and the cache only adds a materialization
    # barrier — the same counter-lesson as the r13 cand-cache attempt
    # below. Left uncached.
    exact5 = topk_bruteforce(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", 5
    ).select("query_id", "neighbor_id")
    denom = exact5.agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    costs = cand.groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("bigint").alias("candidates_scanned")
    )
    hits = (
        ivf5.join(exact5, ["query_id", "neighbor_id"])
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    return (
        costs.join(hits, "nprobe", "left")
        .crossJoin(F.broadcast(denom))
        .select(
            F.col("nprobe").cast("bigint").alias("nprobe"),
            "candidates_scanned",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.col("nd").alias("n_exact"),
            F.expr(
                "cast(coalesce(n_hits, 0) * 1000000 div nd as bigint)"
            ).alias("recall_ppm"),
        )
    )


@query(
    "graph_clustering_coefficient",
    """
    WITH o AS (
      SELECT o_orderkey FROM orders
      WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
    ),
    raw AS (
      SELECT x.l_suppkey AS s1, y.l_suppkey AS s2
      FROM lineitem x
      JOIN lineitem y ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
      JOIN o ON x.l_orderkey = o.o_orderkey
    ),
    e AS (SELECT DISTINCT s1 AS a, s2 AS b FROM raw),
    deg AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS n FROM e UNION ALL SELECT b FROM e
      ) GROUP BY n
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1 JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pt AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY node
    )
    SELECT deg.n AS node, deg.d AS degree,
           CAST(COALESCE(pt.n_tri, 0) AS BIGINT) AS n_tri,
           CAST(CASE WHEN deg.d < 2 THEN 0
                     ELSE 2 * COALESCE(pt.n_tri, 0) * 1000000
                          // (deg.d * (deg.d - 1)) END AS BIGINT) AS cc_ppm
    FROM deg LEFT JOIN pt ON pt.node = deg.n
    """,
)
def q_graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node LOCAL CLUSTERING COEFFICIENT (D291) — the density
    member completing the graph family's node-level statistics
    (components D114: which island; LPA D245: which community; k-core
    D255: how deeply supported; assortativity D233: one corpus-level
    mixing number; this: HOW CLIQUE-LIKE each node's neighborhood is,
    cc(v) = 2·tri(v)/(deg(v)·(deg(v)−1)) — the per-node signal behind
    'friends-of-friends know each other', and in curation the screen
    that separates organic co-occurrence neighborhoods (high cc) from
    hub-spam stars (high degree, cc ≈ 0)): over the Q1-1995 co-supply
    graph, every node's degree, triangle count, and cc as a truncating
    ppm; deg < 2 nodes pinned to 0 (no wedge exists).

    Exactness: triangle counts ride the proven degree-ordered
    compact-forward operator (`operators/graph.py:triangle_counts`,
    O(E^1.5) wedge bound — the oracle counts the identical triangle
    set with the naive id-ordered 3-way join, feasible at oracle
    scale); degrees are one partial agg over the distinct edge set;
    cc_ppm is one integer multiply-then-div (2·tri·1e6 ≤ int64 until
    tri ~ 4.6e12 — a node in 4.6e12 triangles implies degree ≥ 3e6,
    far past where the audit would have flagged the hub). Plan: the
    wedge join is the only superlinear step and carries the
    documented orientation cap; everything else is partial aggs +
    one node-keyed left join. One row per node at any scale."""
    from mapreduce_project_spark.operators.graph import triangle_counts

    o = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-04-01"))
        )
        .select("o_orderkey")
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    x, y = li.alias("x"), li.alias("y")
    raw = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
        )
        .join(o, F.col("x.l_orderkey") == F.col("o_orderkey"))
        .select(F.col("x.l_suppkey").alias("src"), F.col("y.l_suppkey").alias("dst"))
    )
    # Materialize the canonical distinct edge set ONCE: it feeds the
    # degree union (2 branches) AND the whole triangle pipeline (which
    # previously re-ran the lineitem self-join + re-deduplicated via
    # its own internal distinct). `canonical=True` skips that second
    # dedup shuffle outright (guide §2.4/§5 — the betweenness/HITS
    # edge-materialization discipline). `raw` already has src < dst per
    # orderkey pair, so least/greatest+distinct here equals the
    # operator's internal normalization — triangle set unchanged.
    e = (
        raw.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    tri = triangle_counts(e, src="a", dst="b", canonical=True)
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("n_tri"),
            F.expr(
                "cast(case when degree < 2 then 0"
                " else 2 * coalesce(n_tri, 0) * 1000000"
                " div (degree * (degree - 1)) end as bigint)"
            ).alias("cc_ppm"),
        )
    )


# Sampled-pair betweenness (D296): generated level-synchronous BFS SQL
# shared with the Spark driver loop — R rounds, K sources + K targets.
_BTW_R, _BTW_K = 4, 4
# ADVICE r12: the guard must bound the AGGREGATED score, not just each
# ss*st product — SUM(paths) per node runs over up to K*K sampled pairs,
# so the input cap is sqrt(int64max / K^2): 16 * 7.5e8^2 = 9.0e18 < 2^63-1.
# (The old 3e9 cap kept each product under int64max but let the sum wrap
# Spark-side while DuckDB raised on the HUGEINT->BIGINT cast.)
_BTW_GUARD = 750_000_000


def _btw_bfs_ctes() -> str:
    parts = [
        """l0 AS (SELECT root, kind, root AS node, 0 AS dist,
             CAST(1 AS BIGINT) AS sigma FROM roots),
    v0 AS (SELECT root, kind, node, dist, sigma FROM l0)"""
    ]
    for k in range(1, _BTW_R + 1):
        parts.append(
            f"""f{k} AS (
      SELECT p.root, p.kind, adj.v AS node, CAST(SUM(p.sigma) AS BIGINT) AS sigma
      FROM v{k - 1} p JOIN adj ON adj.u = p.node
      WHERE p.dist = {k - 1}
      GROUP BY 1, 2, 3
    ),
    l{k} AS (
      SELECT f.root, f.kind, f.node, {k} AS dist, f.sigma FROM f{k} f
      WHERE NOT EXISTS (SELECT 1 FROM v{k - 1} v WHERE v.root = f.root
                        AND v.kind = f.kind AND v.node = f.node)
    ),
    v{k} AS (SELECT * FROM v{k - 1} UNION ALL SELECT * FROM l{k})"""
        )
    return ",\n    ".join(parts)


_BTW_ORACLE = f"""
    WITH o AS (SELECT o_orderkey FROM orders
      WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-01-15'),
    raw AS (
      SELECT x.l_suppkey AS s1, y.l_suppkey AS s2
      FROM lineitem x
      JOIN lineitem y ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
      JOIN o ON x.l_orderkey = o.o_orderkey
    ),
    e AS (SELECT DISTINCT s1 AS a, s2 AS b FROM raw),
    adj AS MATERIALIZED (
      SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
    ),
    nodes AS (SELECT DISTINCT u AS n FROM adj),
    rk AS (SELECT n, row_number() OVER (ORDER BY n) AS rna,
                  row_number() OVER (ORDER BY n DESC) AS rnd FROM nodes),
    roots AS MATERIALIZED (
      SELECT n AS root, 's' AS kind FROM rk WHERE rna <= {_BTW_K}
      UNION ALL
      SELECT n AS root, 't' AS kind FROM rk WHERE rnd <= {_BTW_K} AND rna > {_BTW_K}
    ),
    {_btw_bfs_ctes()},
    bfs AS MATERIALIZED (SELECT * FROM v{_BTW_R}),
    src AS (SELECT root AS s, node, dist AS ds, sigma AS ss FROM bfs WHERE kind = 's'),
    tgt AS (SELECT root AS t, node, dist AS dt, sigma AS st FROM bfs WHERE kind = 't'),
    pairdist AS (
      SELECT src.s, src.node AS t, src.ds AS d
      FROM src JOIN roots r ON r.kind = 't' AND r.root = src.node
      WHERE src.ds > 0
    ),
    mid AS (
      SELECT a.node,
             CASE WHEN greatest(a.ss, b.st) > {_BTW_GUARD} THEN
               error('graph_betweenness_sampled: path counts exceed 64-bit'
                     || ' product headroom — widen to DECIMAL(38,0)')
             ELSE a.ss * b.st END AS paths
      FROM pairdist p
      JOIN src a ON a.s = p.s
      JOIN tgt b ON b.t = p.t AND b.node = a.node
      WHERE a.ds + b.dt = p.d AND a.node <> p.s AND a.node <> p.t
    ),
    sc AS (SELECT node, CAST(SUM(paths) AS BIGINT) AS score,
                  CAST(COUNT(*) AS BIGINT) AS n_pairs FROM mid GROUP BY node)
    SELECT * FROM (
      SELECT CAST(row_number() OVER (ORDER BY score DESC, node) AS BIGINT) AS rank,
             node, score, n_pairs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM pairdist) AS pairs_counted
      FROM sc
    ) WHERE rank <= 20
    """


@query("graph_betweenness_sampled", _BTW_ORACLE)
def q_graph_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-pair BETWEENNESS centrality (D296) — the bridge/broker
    statistic completing the graph family's centrality axis
    (clustering coefficient D291: how clique-like a neighborhood;
    PageRank D49: global influence; this: WHO SITS ON THE SHORTEST
    PATHS — the node whose removal disconnects flows, in curation the
    screen for broker/bridge suppliers and in dedup-graph hygiene the
    cut vertices that chain unrelated near-dup families together).
    Exact Brandes betweenness is all-pairs (O(V·E) — not a 100 TB
    shape); the published scale path is PAIR SAMPLING, and integer
    exactness picks the numerator form: for a PINNED deterministic
    root sample (the K smallest node ids as sources, the K largest as
    targets — replayable from each engine's own node set, no RNG),
    score(v) = Σ over sampled (s,t) pairs of σ_s(v)·σ_t(v) for nodes
    with d_s(v)+d_t(v) = d(s,t) — the exact COUNT of shortest s→t
    paths through v, an integer (no σ_st division, so no rationals;
    the Brandes dependency δ needs exactly that division, which is
    why the sampled-NUMERATOR form is the hash-checkable one).

    Plan shape (the D106/D255 bounded-round discipline): all 2K BFS
    frontiers advance SIMULTANEOUSLY as one (root, kind)-keyed state
    table — per level ONE frontier⋈adjacency join + ONE (root, node)
    partial-agg σ-sum + ONE anti-join against the visited set, R = 4
    levels, localCheckpoint per round; pairs whose true distance
    exceeds R are excluded from the audit (bounded horizon — for every
    counted pair the numerator is EXACT, since any on-path node sits
    within d ≤ R of both ends). Graph: the first-two-weeks-of-Jan-1995
    co-supply graph (the quarter graph is near-complete at small SF —
    all-adjacent roots make betweenness vacuously zero). Headroom:
    σ products guarded at inputs ≤ 3e9 (raise, never wrap — both
    engines). Top-20 by (score DESC, node). Reference: the reference
    engine has no graph surface; capability class per SURVEY §2 D296
    (Brandes 2001 numerators + Brandes-Pich 2007 pair sampling, made
    bounded-round and oracle-replayable)."""
    o = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-01-15"))
        )
        .select("o_orderkey")
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    x, y = li.alias("x"), li.alias("y")
    # The lineitem self-join + distinct is the expensive subtree and is
    # consumed by SEVEN separate actions (two root TakeOrdereds + four
    # per-level eager checkpoints + the final job); exchange reuse never
    # applies across actions, so materialize it ONCE (guide §2.4 /
    # §5 — the `pagerank_fixed` edge-cache discipline, which this query
    # predated). The symmetrized adj view stays a narrow union over the
    # checkpointed edges — computed per action but shuffle-free.
    e = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
        )
        .join(o, F.col("x.l_orderkey") == F.col("o_orderkey"))
        .select(F.col("x.l_suppkey").alias("a"), F.col("y.l_suppkey").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    adj = e.selectExpr("a AS u", "b AS v").unionAll(
        e.selectExpr("b AS u", "a AS v")
    )
    nodes = adj.select(F.col("u").alias("n")).distinct()
    # pinned deterministic roots: TakeOrdered head/tail of the node id
    # set — a 2K-row driver list (metadata-scale, like the D286 COUNT).
    # Both TakeOrdereds ride ONE action (union of the two limits): the
    # node-set distinct underneath is a shuffle over 2|E| rows, and two
    # separate collects ran it twice; in one plan the second branch
    # reuses the first's exchange (ReusedExchange), and one job
    # round-trip disappears. Row order after unionAll is not
    # guaranteed, but only SET equality with the prior two-collect
    # form matters: lo/hi are consumed as membership sets and `roots`
    # is rebuilt from them (ADVICE r13).
    picked = (
        nodes.orderBy("n").limit(_BTW_K)
        .select("n", F.lit("s").alias("kind"))
        .unionAll(
            nodes.orderBy(F.col("n").desc()).limit(_BTW_K)
            .select("n", F.lit("t").alias("kind"))
        )
        .collect()
    )
    lo = [r["n"] for r in picked if r["kind"] == "s"]
    hi = [r["n"] for r in picked if r["kind"] == "t" and r["n"] not in lo]
    roots = spark.createDataFrame(
        [(n, "s") for n in lo] + [(n, "t") for n in hi], "root bigint, kind string"
    )
    # Cumulative BFS state, one localCheckpoint per level.
    # NOTE (r14, VERDICT r13 item 7 — the §16 increment-checkpoint keep
    # REVERTED on quiet-host confirmation): checkpointing only each
    # level's increment (cumulative view as a lazy union over the R
    # increment RDDs) writes O(state) instead of O(R·state) checkpoint
    # rows, but it measured consistently SLOWER here — 5 of 5
    # interleaved A/B cycles in both orderings, pooled min 4.07 s
    # cumulative vs 4.77 s increments (+8–17% per paired cycle): with
    # R=4 tiny levels, the per-round anti-join and the final state view
    # each fan into k RDD leaves, and the extra task/scheduler ticks
    # cost more than the duplicated checkpoint rows save. At a scale
    # where state is large and R deep, the increment form wins on
    # bytes; re-evaluate there rather than carrying a measured local
    # regression in the driver bench.
    state = roots.select(
        "root", "kind", F.col("root").alias("node"),
        F.lit(0).cast("int").alias("dist"), F.lit(1).cast("bigint").alias("sigma"),
    ).localCheckpoint(eager=True)
    for k in range(1, _BTW_R + 1):
        frontier = state.filter(F.col("dist") == k - 1)
        cand = (
            frontier.join(adj, frontier["node"] == adj["u"])
            .groupBy("root", "kind", "v")
            .agg(F.sum("sigma").cast("bigint").alias("sigma"))
            .withColumnRenamed("v", "node")
        )
        new = cand.join(
            state.select("root", "kind", "node"), ["root", "kind", "node"], "left_anti"
        ).select(
            "root", "kind", "node", F.lit(k).cast("int").alias("dist"), "sigma"
        )
        state = state.unionByName(new).localCheckpoint(eager=True)
    src = state.filter(F.col("kind") == "s").select(
        F.col("root").alias("s"), "node",
        F.col("dist").alias("ds"), F.col("sigma").alias("ss"),
    )
    tgt = state.filter(F.col("kind") == "t").select(
        F.col("root").alias("t"), "node",
        F.col("dist").alias("dt"), F.col("sigma").alias("st"),
    )
    pairdist = (
        src.join(
            F.broadcast(roots.filter(F.col("kind") == "t").select(
                F.col("root").alias("node"))),
            "node",
        )
        .filter(F.col("ds") > 0)
        .select("s", F.col("node").alias("t"), F.col("ds").alias("d"))
    )
    mid = (
        F.broadcast(pairdist)
        .join(src, "s")
        .join(tgt, ["t", "node"])
        .filter(
            (F.col("ds") + F.col("dt") == F.col("d"))
            & (F.col("node") != F.col("s"))
            & (F.col("node") != F.col("t"))
        )
        .select(
            "node",
            F.expr(
                f"case when greatest(ss, st) > {_BTW_GUARD} then"
                " raise_error('graph_betweenness_sampled: path counts exceed"
                " 64-bit product headroom — widen to DECIMAL(38,0)')"
                " else ss * st end"
            ).alias("paths"),
        )
    )
    sc = mid.groupBy("node").agg(
        F.sum("paths").cast("bigint").alias("score"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    npairs = pairdist.agg(
        F.count(F.lit(1)).cast("bigint").alias("pairs_counted")
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("score").desc(), F.col("node"))
    return (
        sc.crossJoin(F.broadcast(npairs))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 20)
        .select("rank", "node", "score", "n_pairs", "pairs_counted")
    )


# HITS (D301): 4 synchronous rounds, milli max-normalization, unrolled
# for the oracle exactly like the PageRank/LPA/k-core discipline.
_HITS_ROUNDS = 4


def _hits_oracle() -> str:
    ctes = [
        """h0 AS (SELECT c, CAST(1000 AS BIGINT) AS h FROM cust)"""
    ]
    for t in range(1, _HITS_ROUNDS + 1):
        # every CTE MATERIALIZED: DuckDB re-evaluates plain CTEs at
        # each reference, and this 4-deep chain with double references
        # blows up exponentially without it (the k-core lesson)
        ctes.append(
            f"""ar{t} AS MATERIALIZED (
      SELECT e.s, CAST(SUM(h.h) AS BIGINT) AS raw
      FROM e JOIN h{t - 1} h ON h.c = e.c GROUP BY e.s
    ),
    am{t} AS MATERIALIZED (SELECT MAX(raw) AS m FROM ar{t}),
    a{t} AS MATERIALIZED (
      SELECT s, CAST(raw * 1000 // (SELECT m FROM am{t}) AS BIGINT)
             AS a FROM ar{t}),
    hr{t} AS MATERIALIZED (
      SELECT e.c, CAST(SUM(a.a) AS BIGINT) AS raw
      FROM e JOIN a{t} a ON a.s = e.s GROUP BY e.c
    ),
    hm{t} AS MATERIALIZED (SELECT MAX(raw) AS m FROM hr{t}),
    h{t} AS MATERIALIZED (
      SELECT c, CAST(raw * 1000 // (SELECT m FROM hm{t}) AS BIGINT)
             AS h FROM hr{t})"""
        )
    r = _HITS_ROUNDS
    return f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-02-01'
    ),
    e AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    cust AS (SELECT DISTINCT c FROM e),
    {','.join(ctes)}
    SELECT * FROM (
      SELECT 'authority' AS kind,
             CAST(row_number() OVER (ORDER BY a DESC, s) AS BIGINT) AS rank,
             s AS node, a AS score_milli
      FROM a{r}
    ) WHERE rank <= 20
    UNION ALL
    SELECT * FROM (
      SELECT 'hub' AS kind,
             CAST(row_number() OVER (ORDER BY h DESC, c) AS BIGINT) AS rank,
             c AS node, h AS score_milli
      FROM h{r}
    ) WHERE rank <= 20
    """


@query("graph_hits_bipartite", _hits_oracle())
def q_graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (D301, Kleinberg 1999) over the
    January-1995 customer→supplier bipartite order graph — the
    DIRECTED-centrality member the graph family lacked (PageRank D49
    ranks by random-walk mass on one node set; betweenness D296 by
    path brokerage; HITS answers the two-sided question a bipartite
    relation actually poses: which suppliers are endorsed by the
    best-connected customers — authorities — and which customers
    concentrate their orders on those suppliers — hubs; on a
    user-item graph this is the classic co-ranking recommender
    primitive). FOUR fully synchronous mutual-reinforcement rounds
    (a ← Σ h over in-edges, h ← Σ a over out-edges), the bounded-round
    contract of D49/D245/D255: the round count IS the spec, no
    convergence collect, oracle-replayable as unrolled CTEs.

    Exactness: the float HITS L2 normalization is replaced by MAX
    milli-normalization (score·1000 div max — integer, truncating,
    scale-equivalent ranking: both normalizations are positive
    scalings, and HITS rank order is invariant to per-round positive
    scaling); all sums exact BIGINTs (h ≤ 1000, so a_raw ≤ 1000·deg —
    int64 headroom to degree ~9e15); ties pinned (score DESC, node).
    Plan: per round one edge⋈score equi-join + one node-keyed partial
    agg + one singleton MAX broadcast — 4 bounded shuffle stages with
    O(V) state each side, localCheckpoint per round (the k-core
    lineage discipline). Top-20 per side at any scale. Reference: no
    graph surface in the reference; capability class per SURVEY §2
    D301."""
    o = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-02-01"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    h = e.select("c").distinct().withColumn(
        "h", F.lit(1000).cast("bigint")
    )
    # Checkpoint the RAW per-round sums, not the normalized scores: the
    # singleton MAX and the normalized projection both consume the raw
    # table, so materializing `ar`/`hr` runs the edge⋈score join+agg
    # ONCE per half-round, whereas checkpointing `a`/`h` ran it twice
    # (once to build the max broadcast, once for the checkpoint —
    # guide §5: materialize the subtree every consumer shares).
    # Lineage stays bounded: each round's scores are one crossJoin
    # projection above a checkpoint. Arithmetic unchanged.
    # NOTE (r14): dropping the `ar` checkpoint (one checkpoint per
    # round instead of two, betting on AQE ReusedExchange to dedup the
    # max-broadcast and projection branches inside the hr action) was
    # tried and measured SLOWER in 3 of 3 interleaved cycles (pooled
    # min 2.84 vs 3.56 s) with MORE jobs (57 -> 70): the agg-over-ar
    # broadcast branch materializes its own stages and the reuse does
    # not cover them. The r13 two-checkpoint form stands.
    for _ in range(_HITS_ROUNDS):
        ar = (
            e.join(h, "c")
            .groupBy("s")
            .agg(F.sum("h").cast("bigint").alias("raw"))
            .localCheckpoint(eager=True)
        )
        am = ar.agg(F.max("raw").alias("m"))
        a = ar.crossJoin(F.broadcast(am)).select(
            "s", F.expr("cast(raw * 1000 div m as bigint)").alias("a")
        )
        hr = (
            e.join(a, "s")
            .groupBy("c")
            .agg(F.sum("a").cast("bigint").alias("raw"))
            .localCheckpoint(eager=True)
        )
        hm = hr.agg(F.max("raw").alias("m"))
        h = hr.crossJoin(F.broadcast(hm)).select(
            "c", F.expr("cast(raw * 1000 div m as bigint)").alias("h")
        )
    from pyspark.sql import Window

    wa = Window.orderBy(F.col("a").desc(), F.col("s"))
    wh = Window.orderBy(F.col("h").desc(), F.col("c"))
    auth = (
        a.withColumn("rank", F.row_number().over(wa).cast("bigint"))
        .filter(F.col("rank") <= 20)
        .select(
            F.lit("authority").alias("kind"), "rank",
            F.col("s").alias("node"), F.col("a").alias("score_milli"),
        )
    )
    hubs = (
        h.withColumn("rank", F.row_number().over(wh).cast("bigint"))
        .filter(F.col("rank") <= 20)
        .select(
            F.lit("hub").alias("kind"), "rank",
            F.col("c").alias("node"), F.col("h").alias("score_milli"),
        )
    )
    return auth.unionByName(hubs)

"""Mergeable-sketch queries (Apache DataSketches, built into Spark 4) —
the 100 TB summary primitives: a sketch is a fixed-size, MERGEABLE
synopsis, so every one of these runs as a partial-agg shuffle carrying
kilobytes per group regardless of input size, and yesterday's sketches
union with today's without rescanning (the same incremental contract as
`merge_partitioned_rollup`, but for distinct counts and quantiles —
which plain partial aggregation cannot maintain incrementally).

Correctness signals by sketch family:
- **theta** is EXACT below its nominal-entries capacity (it only starts
  sampling past 2^lgNomEntries retained hashes), so with lgk=14 and
  fixture cardinalities ≤ 1.5k the estimate IS the true distinct count
  and the query carries a full SQL oracle. At 100 TB it degrades
  gracefully to a ±~2% estimate with the identical plan.
- **HLL** and **KLL** are approximate at every size (no exactness
  window), so their queries are rows-only for the driver and
  pinned by error-bound tests (`tests/test_sketches.py`) instead:
  HLL within the lgk=14 relative-error envelope of exact distinct
  counts, KLL within its rank-error guarantee of exact percentiles,
  and merged sketches consistent with their parts.

The reference has no sketch analog at all; a reference user would emit
full key streams and count in the reduce (`design.md:48-49`), which is
exactly the shuffle these avoid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_project_spark.queries_registry import ROWS_ONLY_RTOL, query, t

# 2^14 nominal entries: theta stays exact to 16384 distincts (10× the
# sf0.1 fixture cardinality), HLL's relative standard error is ~0.8%.
_LGK = 14


@query(
    "sketch_theta_distinct_users",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def q_sketch_theta_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch distinct users per event type. Oracle = exact
    COUNT(DISTINCT): theta is provably exact below 2^14 retained
    entries, which covers every fixture scale (see module docstring) —
    the sketch path gets a hard value-level signal, not a tolerance.
    One partial-agg shuffle of constant-size sketch bytes per group; at
    100 TB the same plan returns a ±2% estimate while exact
    COUNT(DISTINCT) would shuffle every (type, user) pair."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.theta_sketch_estimate(F.theta_sketch_agg("user_id", _LGK))
        .cast("bigint")
        .alias("n_users")
    )


@query("sketch_hll_distinct_users", None)
def q_sketch_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct users per event type PLUS the '__all__' row built by
    UNIONING the per-group sketches (`hll_union_agg`) — the mergeability
    demo: the global estimate is derived from the already-aggregated
    group sketches without touching the input again (cross-day /
    cross-partition rollup of distincts, impossible with plain counts).
    Rows-only for the driver (HLL has no exactness window);
    `tests/test_sketches.py` pins the error envelope vs exact."""
    ev = t(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", _LGK).alias("sk")
    )
    est = per.select(
        "event_type", F.hll_sketch_estimate("sk").alias("approx_users")
    )
    glob = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk", True)).alias("approx_users")
    ).select(F.lit("__all__").alias("event_type"), "approx_users")
    return est.unionByName(glob)


# KLL compaction depends on the partial-agg merge order, so repeated
# runs differ by up to the sketch's rank error — the determinism check
# compares within that envelope; the hard value signal is
# tests/test_sketches.py's rank-error pin vs exact percentiles.
ROWS_ONLY_RTOL["sketch_quantiles_price"] = 0.02


@query("sketch_quantiles_price", None)
def q_sketch_quantiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketches of lineitem extended price per return flag,
    plus the '__ALL' row from MERGING the per-flag sketches (pairwise
    `kll_sketch_merge_double` folded over the collected group sketches —
    3 groups, so the fold is constant-size driver-free work). The
    mergeable twin of D8's exact `percentile` / D24's `approx_percentile`:
    unlike either, these sketches can be stored per partition/day and
    re-merged incrementally. Rows-only; KLL's rank-error guarantee
    (~±0.8% at k=2048) is pinned in `tests/test_sketches.py`."""
    li = t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_returnflag").agg(
        F.kll_sketch_agg_double(F.col("l_extendedprice").cast("double"), 2048)
        .alias("sk")
    )
    # collect_list order follows partial-agg arrival — sort by group key
    # so the merge fold is deterministic run-to-run (KLL merge output
    # depends on operand order)
    merged = per.agg(
        F.array_sort(F.collect_list(F.struct("l_returnflag", "sk"))).alias("gs")
    ).select(
        F.lit("__ALL").alias("l_returnflag"),
        F.aggregate(
            F.expr("slice(gs, 2, size(gs) - 1)"),
            F.expr("gs[0].sk"),
            lambda acc, x: F.kll_sketch_merge_double(acc, x["sk"]),
        ).alias("sk"),
    )
    return per.unionByName(merged).select(
        "l_returnflag",
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("p50"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.9)).alias("p90"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.99)).alias("p99"),
    )


@query(
    "sketch_theta_retention",
    """
    WITH a AS (SELECT DISTINCT user_id FROM events
               WHERE ts < TIMESTAMP '2024-01-30'),
    b AS (SELECT DISTINCT user_id FROM events
          WHERE ts >= TIMESTAMP '2024-01-30')
    SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_first_half,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS n_second_half,
           CAST((SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
                AS BIGINT) AS n_retained,
           CAST((SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
                AS BIGINT) AS n_churned
    """,
)
def q_sketch_theta_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA — theta's defining capability over HLL:
    retained (A∩B) and churned (A∖B) distinct users across the two
    halves of the event window via `theta_intersection` /
    `theta_difference` over per-period sketches. ONE scan builds both
    period sketches (conditional agg), KB-sized state, and the set
    algebra happens on sketches — at 100 TB this answers
    cohort-overlap questions that exact COUNT(DISTINCT) would need a
    full self-join for. Oracle = exact INTERSECT/EXCEPT counts: theta
    is exact below 2^14 retained entries (10× every fixture scale), so
    the sketch path earns a hard value-level signal."""
    ev = t(spark, sf_dir, "events")
    split = F.col("ts") < F.lit("2024-01-30").cast("timestamp")
    sk = ev.agg(
        F.theta_sketch_agg(F.when(split, F.col("user_id")), _LGK).alias("ska"),
        F.theta_sketch_agg(F.when(~split, F.col("user_id")), _LGK).alias("skb"),
    )
    return sk.select(
        F.theta_sketch_estimate(F.col("ska")).cast("bigint").alias("n_first_half"),
        F.theta_sketch_estimate(F.col("skb")).cast("bigint").alias("n_second_half"),
        F.theta_sketch_estimate(F.theta_intersection(F.col("ska"), F.col("skb")))
        .cast("bigint")
        .alias("n_retained"),
        F.theta_sketch_estimate(F.theta_difference(F.col("ska"), F.col("skb")))
        .cast("bigint")
        .alias("n_churned"),
    )


_HLL_EXACT_ORACLE = """
    WITH h AS (
      SELECT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
               AS hv
      FROM events
    ),
    r AS (SELECT event_type, hv % 256 AS reg, hv // 256 AS w FROM h),
    rr AS (
      SELECT event_type, reg,
             MAX(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS m
      FROM r GROUP BY event_type, reg
    ),
    z AS (
      SELECT event_type,
             CAST(SUM(CAST(1 AS BIGINT) << (53 - m))
                  + (256 - COUNT(*)) * (CAST(1 AS BIGINT) << 53) AS BIGINT)
               AS z_scaled,
             CAST(COUNT(*) AS BIGINT) AS n_regs
      FROM rr GROUP BY event_type
    ),
    ex AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type
    ),
    raw AS (
      SELECT z.event_type, n_regs, z_scaled,
             ((CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
                 + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))
              * CAST(65536.0 AS DOUBLE)
              * CAST(9007199254740992.0 AS DOUBLE)) / CAST(z_scaled AS DOUBLE)
               AS raw_est,
             n_exact
      FROM z JOIN ex USING (event_type)
    )
    SELECT event_type, n_regs, z_scaled,
           CASE WHEN raw_est <= CAST(640.0 AS DOUBLE) AND n_regs < 256
                THEN CAST(256.0 AS DOUBLE)
                     * ln(CAST(256.0 AS DOUBLE)
                          / CAST(256 - n_regs AS DOUBLE))
                ELSE raw_est END AS hll_est,
           n_exact
    FROM raw
    """


@query("sketch_hll_registers_exact", _HLL_EXACT_ORACLE)
def q_sketch_hll_registers_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-rolled HyperLogLog whose REGISTERS are engine-exact — the
    hash-checkable complement of the built-in DataSketches HLL (which
    is rows-only by necessity: its hashing is library-internal).
    Flajolet's estimator from first principles on an engine-portable
    hash: 60 md5 bits split into an 8-bit register index and a 52-bit
    pattern w with rho = leading-zeros(w)+1 via integer bit-length
    (string-free of floats), per-register MAX is order-independent,
    and the harmonic denominator is accumulated as the EXACT BIGINT
    Z·2^53 = Σ 2^(53-rho) (+ 2^53 per empty register), so the only
    float anywhere is the final pinned alpha·m²·2^53/Z division per
    row, plus the mandatory small-range LinearCounting branch
    (E <= 2.5m and V empty registers > 0 => E = m*ln(m/V)) without
    which the raw estimator returns ~alpha*m for tiny groups.
    m = 256 registers (~6.5% RSE); the plan — one
    (key, reg)-keyed partial-agg MAX then one key-keyed integer sum —
    is the mergeable-sketch shape at any m, and yesterday's register
    table unions with today's by the same MAX. Exact distinct count
    joined alongside makes the estimator's error visible and the
    oracle non-vacuous."""
    ev = t(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        F.expr(
            "cast(conv(substr(md5(cast(cast(user_id AS string) AS binary)),"
            " 1, 15), 16, 10) AS bigint)"
        ).alias("hv"),
    )
    r = h.select(
        "event_type",
        F.expr("hv % 256").alias("reg"),
        F.expr("hv div 256").alias("w"),
    )
    rr = r.groupBy("event_type", "reg").agg(
        F.max(
            F.when(F.col("w") == 0, F.lit(53)).otherwise(
                F.lit(53) - F.length(F.conv(F.col("w").cast("string"), 10, 2))
            )
        ).alias("m")
    )
    z = rr.groupBy("event_type").agg(
        (
            F.sum(F.expr("shiftleft(cast(1 AS bigint), 53 - m)"))
            + (F.lit(256) - F.count(F.lit(1))) * F.expr("shiftleft(cast(1 AS bigint), 53)")
        )
        .cast("bigint")
        .alias("z_scaled"),
        F.count(F.lit(1)).cast("bigint").alias("n_regs"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    raw = z.join(ex, "event_type").select(
        "event_type",
        "n_regs",
        "z_scaled",
        (
            (F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0)))
            * F.lit(65536.0)
            * F.lit(9007199254740992.0)
            / F.col("z_scaled").cast("double")
        ).alias("raw_est"),
        "n_exact",
    )
    # HLL small-range correction (Flajolet §4): when most registers are
    # empty the raw estimator degenerates toward alpha*m, so switch to
    # LinearCounting E = m*ln(m/V) for raw <= 2.5m (=640) with V>0 empty
    # registers.  One ln per row; the 9-decimal hash comparator absorbs
    # libm last-ulp differences vs the oracle's ln.
    return raw.select(
        "event_type",
        "n_regs",
        "z_scaled",
        F.when(
            (F.col("raw_est") <= F.lit(640.0)) & (F.col("n_regs") < F.lit(256)),
            F.lit(256.0) * F.log(F.lit(256.0) / (F.lit(256) - F.col("n_regs")).cast("double")),
        )
        .otherwise(F.col("raw_est"))
        .alias("hll_est"),
        "n_exact",
    )


_HLL_ROLLING_ORACLE = """
    WITH pd AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS ed
      FROM events
    ),
    days AS (SELECT DISTINCT ed FROM pd),
    h AS (
      SELECT ed,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
               AS hv
      FROM pd
    ),
    r AS (
      SELECT ed, hv % 256 AS reg,
             MAX(CASE WHEN hv // 256 = 0 THEN 53
                      ELSE 53 - length(bin(hv // 256)) END) AS m
      FROM h GROUP BY ed, reg
    ),
    win AS (
      SELECT d.ed AS wd, r.reg, MAX(r.m) AS m
      FROM r JOIN days d ON r.ed BETWEEN d.ed - 6 AND d.ed
      GROUP BY d.ed, r.reg
    ),
    z AS (
      SELECT wd,
             CAST(SUM(CAST(1 AS BIGINT) << (53 - m))
                  + (256 - COUNT(*)) * (CAST(1 AS BIGINT) << 53) AS BIGINT)
               AS z_scaled,
             CAST(COUNT(*) AS BIGINT) AS n_regs
      FROM win GROUP BY wd
    ),
    ex AS (
      SELECT d.ed AS wd, CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_exact
      FROM pd p JOIN days d ON p.ed BETWEEN d.ed - 6 AND d.ed
      GROUP BY d.ed
    ),
    raw AS (
      SELECT z.wd, n_regs, z_scaled,
             ((CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
                 + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))
              * CAST(65536.0 AS DOUBLE)
              * CAST(9007199254740992.0 AS DOUBLE)) / CAST(z_scaled AS DOUBLE)
               AS raw_est,
             n_exact
      FROM z JOIN ex USING (wd)
    )
    SELECT strftime(DATE '1970-01-01' + CAST(wd AS INT), '%Y-%m-%d') AS day,
           n_regs, z_scaled,
           CASE WHEN raw_est <= CAST(640.0 AS DOUBLE) AND n_regs < 256
                THEN CAST(256.0 AS DOUBLE)
                     * ln(CAST(256.0 AS DOUBLE)
                          / CAST(256 - n_regs AS DOUBLE))
                ELSE raw_est END AS hll_est,
           n_exact
    FROM raw
    """


@query("sketch_hll_rolling_7d", _HLL_ROLLING_ORACLE)
def q_sketch_hll_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day via HLL REGISTER MERGE —
    the operation that justifies keeping registers at all (D176's
    mergeability contract exercised as a query): per-day register
    tables are tiny (256 rows/day), and a trailing window's sketch is
    just the elementwise MAX of its days' registers — no rescan of the
    raw events, which is how a 100 TB event store answers "7-day
    uniques, daily" (per-day sketches roll up incrementally; the naive
    exact form rescans each day 7x). Replication is bounded by the
    window length: each (day, reg) row serves <= 7 window-days (the
    D69 bounded interval-join discipline), and the exact companion
    replicates only the DISTINCT (user, day) pairs the same bounded
    way. Estimator = the D176 two-branch form (raw + LinearCounting);
    z_scaled/n_regs/n_exact are the hash-checked integers, the
    estimate is one pinned expression per row."""
    ev = t(spark, sf_dir, "events")
    pd_ = ev.select(
        "user_id", F.unix_date(F.col("ts").cast("date")).cast("bigint").alias("ed")
    ).distinct()
    days = pd_.select("ed").distinct()
    h = pd_.select(
        "ed",
        F.expr(
            "cast(conv(substr(md5(cast(cast(user_id AS string) AS binary)),"
            " 1, 15), 16, 10) AS bigint)"
        ).alias("hv"),
    )
    r = (
        h.select(
            "ed",
            F.expr("hv % 256").alias("reg"),
            F.expr("hv div 256").alias("w"),
        )
        .groupBy("ed", "reg")
        .agg(
            F.max(
                F.when(F.col("w") == 0, F.lit(53)).otherwise(
                    F.lit(53)
                    - F.length(F.conv(F.col("w").cast("string"), 10, 2))
                )
            ).alias("m")
        )
    )
    # bounded replication: each register row serves its <=7 window-days
    rw = r.select(
        "reg", "m",
        F.explode(F.expr("sequence(ed, ed + 6)")).alias("wd"),
    ).join(days.withColumnRenamed("ed", "wd"), "wd")
    win = rw.groupBy("wd", "reg").agg(F.max("m").alias("m"))
    z = win.groupBy("wd").agg(
        (
            F.sum(F.expr("shiftleft(cast(1 AS bigint), 53 - m)"))
            + (F.lit(256) - F.count(F.lit(1)))
            * F.expr("shiftleft(cast(1 AS bigint), 53)")
        )
        .cast("bigint")
        .alias("z_scaled"),
        F.count(F.lit(1)).cast("bigint").alias("n_regs"),
    )
    exw = (
        pd_.select(
            "user_id", F.explode(F.expr("sequence(ed, ed + 6)")).alias("wd")
        )
        .join(days.withColumnRenamed("ed", "wd"), "wd")
        .groupBy("wd")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    )
    raw = z.join(exw, "wd").select(
        "wd", "n_regs", "z_scaled",
        (
            (F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0)))
            * F.lit(65536.0)
            * F.lit(9007199254740992.0)
            / F.col("z_scaled").cast("double")
        ).alias("raw_est"),
        "n_exact",
    )
    return raw.select(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("wd").cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        "n_regs",
        "z_scaled",
        F.when(
            (F.col("raw_est") <= F.lit(640.0)) & (F.col("n_regs") < F.lit(256)),
            F.lit(256.0)
            * F.log(F.lit(256.0) / (F.lit(256) - F.col("n_regs")).cast("double")),
        )
        .otherwise(F.col("raw_est"))
        .alias("hll_est"),
        "n_exact",
    )


_CMS_ORACLE = """
    WITH posting AS (
      SELECT user_id, j,
             CAST('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':'
                                      || CAST(user_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 256 AS col
      FROM events, UNNEST([0, 1, 2, 3]) AS t(j)
    ),
    cells AS (
      SELECT j, col, CAST(COUNT(*) AS BIGINT) AS cell
      FROM posting GROUP BY j, col
    ),
    exact AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM events GROUP BY user_id
    ),
    top AS (SELECT user_id, n_exact FROM exact
            ORDER BY n_exact DESC, user_id LIMIT 10),
    probe AS (
      SELECT DISTINCT t.user_id, t.n_exact, p.j, p.col
      FROM top t JOIN posting p USING (user_id)
    )
    SELECT p.user_id, p.n_exact,
           CAST(MIN(c.cell) AS BIGINT) AS cms_est
    FROM probe p JOIN cells c ON c.j = p.j AND c.col = p.col
    GROUP BY p.user_id, p.n_exact
    """


@query("sketch_cms_registers_exact", _CMS_ORACLE)
def q_sketch_cms_registers_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-rolled COUNT-MIN sketch with engine-exact registers — the
    frequency-sketch member completing the mergeable family (theta D81
    / HLL D176 / KLL D24 cover distincts and quantiles; CMS covers
    per-key COUNTS in fixed memory): a 4x256 integer cell matrix from
    seeded md5 row hashes, estimate(u) = min over u's four cells —
    never an underestimate (each cell upper-bounds the key's true
    count; pinned in tests), overestimate bounded by collisions
    (~N/256 per row, min over 4 rows). The cell matrix is mergeable by
    plain ADDITION (unlike HLL's MAX), so per-partition/per-day CMS
    tables fold with a sum — the partial-agg shape Spark already
    plans. Query output: the top-10 exact-frequency users with their
    CMS estimates alongside the truth — the estimator's bias is
    VISIBLE and the whole thing is integers, so the DuckDB oracle
    hash-matches every cell-derived value. Plan: one 4x explode, one
    (j, col) partial agg (<=1024 cells), one broadcast probe."""
    ev = t(spark, sf_dir, "events").select("user_id")
    posting = ev.select(
        "user_id",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), j -> struct(j AS j,"
                " cast(conv(substr(md5(cast(concat('cms', cast(j AS string),"
                " ':', cast(user_id AS string)) AS binary)), 1, 8), 16, 10)"
                " AS bigint) % 256 AS col))"
            )
        ).alias("g"),
    ).select("user_id", F.col("g.j").alias("j"), F.col("g.col").alias("col"))
    cells = posting.groupBy("j", "col").agg(
        F.count(F.lit(1)).cast("bigint").alias("cell")
    )
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    top = exact.orderBy(F.desc("n_exact"), "user_id").limit(10)
    probe = top.join(posting, "user_id").select(
        "user_id", "n_exact", "j", "col"
    ).distinct()
    return (
        probe.join(F.broadcast(cells), ["j", "col"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("cell").cast("bigint").alias("cms_est"))
        .select("user_id", "n_exact", "cms_est")
    )


@query(
    "join_preflight_sketch_audit",
    """
    WITH lk AS (SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS c
                FROM lineitem GROUP BY 1),
    sk AS (SELECT s_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS c
           FROM supplier GROUP BY 1),
    cm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(COALESCE(SUM(lk.c * sk.c), 0) AS BIGINT) AS rows_
           FROM lk JOIN sk USING (k))
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lk) AS n_keys_left,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM sk) AS n_keys_right,
           (SELECT n FROM cm) AS n_keys_common,
           (SELECT n FROM cm) AS n_common_sketch,
           CAST(0 AS BIGINT) AS sketch_err_ppm,
           (SELECT rows_ FROM cm) AS predicted_rows
    """,
)
def q_join_preflight_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join preflight, AUDITED against the exact preflight
    (D289) — the KB-state form of D277 for when even the per-key count
    tables are too big to join eagerly: the common-key cardinality of
    lineitem ⋈ supplier estimated by a theta-sketch INTERSECTION (two
    constant-size sketch aggs, one driver-free set operation — the
    D126 set-algebra capability pointed at planning), side by side
    with the exact count-table numbers and the estimation error in
    ppm. The oracle pins the sketch columns to the EXACT values — the
    D81 discipline: theta at lgk=14 is provably exact below 2^14
    retained keys (suppliers are 100 at sf0.1, 1k at sf≈1 — an order
    of magnitude inside the window at every measured scale), so the
    sketch path earns a hard value-level signal, and a theta
    regression would surface as a hash mismatch, not a tolerance
    drift. At 100 TB the same plan estimates common keys within ±2%
    without ever joining the key tables; the exact product-sum
    (D277) remains the tool once the order is shortlisted.

    Plan: one partial agg per side for the exact counts (the D277
    machinery), one constant-size sketch agg per side, one broadcast
    combine — nothing corpus-width shuffles. One row out."""
    li = t(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("k"))
    su = t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("k"))
    lk = li.groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("cl"))
    sk = su.groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("cr"))
    exact = lk.join(sk, "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys_common"),
        F.coalesce(F.sum(F.col("cl") * F.col("cr")), F.lit(0))
        .cast("bigint")
        .alias("predicted_rows"),
    )
    nl = lk.agg(F.count(F.lit(1)).cast("bigint").alias("n_keys_left"))
    nr = sk.agg(F.count(F.lit(1)).cast("bigint").alias("n_keys_right"))
    sketches = li.agg(F.theta_sketch_agg("k", _LGK).alias("ska")).crossJoin(
        su.agg(F.theta_sketch_agg("k", _LGK).alias("skb"))
    )
    est = sketches.select(
        F.theta_sketch_estimate(F.theta_intersection(F.col("ska"), F.col("skb")))
        .cast("bigint")
        .alias("n_common_sketch")
    )
    return (
        exact.crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(est))
        .select(
            "n_keys_left",
            "n_keys_right",
            "n_keys_common",
            "n_common_sketch",
            F.expr(
                "cast(abs(n_common_sketch - n_keys_common) * 1000000"
                " div greatest(1, n_keys_common) as bigint)"
            ).alias("sketch_err_ppm"),
            "predicted_rows",
        )
    )

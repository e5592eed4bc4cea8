"""Join operators — B8/B9 (SURVEY.md §2.B).

The reference expresses joins as the classic MR idiom (map tags records
by source table, reduce pairs them per key — mechanism ``design.md:48-49``
over ``worker.py:134-207``); here plain equi, semi and anti joins are
direct ``df.join`` calls at each query and Catalyst picks
broadcast-hash / sort-merge / shuffle-hash. This module holds the joins
that need an algorithm: salting, range, interval, as-of and radius.

Scale notes:
- dimension tables (region/nation/supplier and any side < ~32 MB after
  filters) get an explicit ``broadcast()`` hint → no shuffle of the fact
  side at all;
- fact-fact joins shuffle on the join key; with AQE skew-join enabled a
  hot key is split at runtime. For repeated joins on the same key at
  100 TB, bucket both sides on the key at write time
  (``write.bucketBy(n, key)``) to eliminate the exchange entirely;
- semi/anti joins ship only the key column of the right side — prefer
  them over join+filter+distinct for existence checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: the left (skewed/fact) side gets a
    random salt in [0, n_salt); the right side is replicated once per
    salt value; the join key becomes (key, salt), splitting each hot
    key's rows across ``n_salt`` reducers. Output is identical to
    ``left.join(right, key, how)`` for every salt assignment — for the
    supported ``how`` values: ``inner``/``left``/``left_semi`` only.
    Right/full outer would emit each unmatched *right* row once per
    replica (n_salt duplicate null-extended rows), so they are rejected;
    to salt a right-outer, swap the sides and use ``left``.

    Prefer AQE's skew-join handling (on by default here) — salting is
    for the cases AQE can't split: skewed *aggregation* inputs feeding
    the join, or engines/paths where AQE is off. Cost: right side
    ×n_salt (keep the replicated side the smaller one).
    """
    if how not in ("inner", "left", "left_outer", "left_semi"):
        raise ValueError(
            f"salted_join supports inner/left/left_semi, got {how!r}: outer "
            "joins would duplicate unmatched right rows once per salt replica"
        )
    salted_left = left.withColumn(
        "_salt", F.floor(F.rand(seed=42) * n_salt).cast("int")
    )
    salts = left.sparkSession.range(n_salt).select(F.col("id").cast("int").alias("_salt"))
    replicated_right = right.crossJoin(F.broadcast(salts))
    return salted_left.join(replicated_right, [key, "_salt"], how).drop("_salt")


def range_join(left: DataFrame, right: DataFrame, *conds: Column) -> DataFrame:
    """Non-equi (interval/band) join: match rows on inequality predicates
    (e.g. ``lo <= x < hi``). With no equi-key Catalyst would plan a
    cartesian product; broadcasting the small side (the band/dimension
    table — the common case) turns it into BroadcastNestedLoopJoin: the
    fact side is scanned once with zero shuffle.

    At 100 TB never range-join two fact tables directly — bucket one side
    into equi-join keys first (e.g. truncate timestamps to the bucket
    width and equi-join on the bucket, then refine with the inequality).
    """
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    return left.join(F.broadcast(right), cond)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_range: tuple[str, str],
    right_range: tuple[str, str],
    bucket_seconds: int,
    keys: list[str] | None = None,
) -> DataFrame:
    """Fact-to-fact interval OVERLAP join — the bucketized equi-join
    strategy `range_join`'s docstring prescribes for 100 TB, made
    concrete: two large interval sets are matched on
    ``a.start <= b.end AND b.start <= a.end`` without any nested-loop
    or cartesian plan.

    How: each interval explodes into the fixed-width time buckets it
    covers (``sequence(floor(start/w), floor(end/w))`` — a narrow
    map-side op), the sides equi-join on (bucket[, keys]), and the
    exact overlap predicate refines the candidates. A matching pair
    shares every co-covered bucket, so the match would surface once per
    shared bucket; the pair is kept only in its FIRST shared bucket —
    ``_bkt == greatest(floor(start_l/w), floor(start_r/w))`` (the later
    of the two start buckets, which both intervals cover whenever they
    overlap). That filter is evaluated inside the join stage: no
    post-join distinct, hence no second shuffle over the full payload,
    and two genuinely identical input rows still yield two matches
    (a ``distinct`` would collapse them). Cost: rows x avg buckets per
    interval (bounded when ``bucket_seconds`` ~ typical interval
    length) + ONE equi-shuffle — vs the quadratic nested loop. The
    output carries every column of both inputs; timestamps compare at
    full microsecond precision (the bucket floor uses integer micros —
    same discipline as `trailing_time_agg`)."""
    ls, le = left_range
    rs, re_ = right_range
    w = bucket_seconds * 1_000_000

    def buckets(s: str, e: str) -> Column:
        # integer `div` keeps the bucket exact at epoch-micro magnitudes
        return F.sequence(
            F.expr(f"unix_micros({s}) div {w}"), F.expr(f"unix_micros({e}) div {w}")
        )

    a = left.withColumn("_bkt", F.explode(buckets(ls, le)))
    b = right.withColumn("_bkt", F.explode(buckets(rs, re_)))
    on = ["_bkt", *(keys or [])]
    first_shared = F.greatest(
        F.expr(f"unix_micros({ls}) div {w}"), F.expr(f"unix_micros({rs}) div {w}")
    )
    joined = a.join(b, on).filter(
        (F.col(ls) <= F.col(re_))
        & (F.col(rs) <= F.col(le))
        & (F.col("_bkt") == first_shared)
    )
    out_cols = [c for c in joined.columns if c != "_bkt"]
    return joined.select(*out_cols)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Backward as-of join: for each left row, the right row with the
    greatest ``right_ts <= left_ts`` within the same key group (or nulls
    when none exists) — the point-in-time lookup the reference could only
    express as a reduce over the full per-key value list
    (``worker.py:198-207``).

    Implementation is the scalable union trick, not a correlated
    subquery: tag left/right rows, union them (``allowMissingColumns``
    fills the other side's columns with nulls), sort each key group by
    (ts, side) with a single window, and carry the last non-null right
    payload forward with ``last(ignorenulls=True)``. One shuffle on
    ``keys``, linear work per row — survives any data volume whose
    single-key timeline fits a partition (salt the key by coarse time
    ranges with boundary duplication if even that is too hot).

    Right rows sort *before* left rows at equal timestamps, giving the
    inclusive ``<=`` semantics; ties among right rows at the same ts are
    broken by the payload struct ordering (largest wins), so the result
    is deterministic.
    """
    return _asof(left, right, keys, left_ts, right_ts, value_cols, forward=False)


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Forward as-of join — `asof_join`'s mirror: for each left row,
    the right row with the SMALLEST ``right_ts >= left_ts`` in the key
    group (nulls when none follows). "Next event after": time-to-next-
    purchase, next sensor reading, next deploy after an alert.

    Same union-sort-carry skeleton and cost (one shuffle on ``keys``,
    linear per row); the carry just flips direction: the window frame
    looks FORWARD (current row → unbounded following) and takes the
    first non-null right payload. Left rows sort before right rows at
    equal timestamps, giving inclusive ``>=``; ties among right rows at
    one ts resolve to the smallest payload struct — deterministic."""
    return _asof(left, right, keys, left_ts, right_ts, value_cols, forward=True)


def _asof(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    forward: bool,
) -> DataFrame:
    """The union-sort-carry skeleton of both as-of joins. Backward: right
    rows sort first at equal ts and the last payload is carried forward.
    Forward: left rows sort first and the first payload is carried back.
    The matched right columns come out as ``<name>_matched``."""
    from pyspark.sql import Window

    right_side, left_side = (1, 0) if forward else (0, 1)
    payload = F.struct(
        F.col(right_ts).alias("_ts"), *[F.col(c) for c in value_cols]
    )
    right_tagged = right.select(
        *keys,
        F.col(right_ts).alias("_evt_ts"),
        payload.alias("_payload"),
        F.lit(right_side).alias("_side"),
    )
    left_cols = left.columns
    left_tagged = left.withColumn("_evt_ts", F.col(left_ts)).withColumn(
        "_side", F.lit(left_side)
    )
    unioned = left_tagged.unionByName(right_tagged, allowMissingColumns=True)
    w = Window.partitionBy(*keys).orderBy(
        F.col("_evt_ts"), F.col("_side"), F.col("_payload")
    )
    if forward:
        carry = F.first("_payload", ignorenulls=True).over(
            w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
    else:
        carry = F.last("_payload", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    matched = unioned.withColumn("_m", carry)
    return matched.filter(F.col("_side") == left_side).select(
        *left_cols,
        F.col("_m._ts").alias(f"{right_ts}_matched"),
        *[F.col(f"_m.{c}").alias(f"{c}_matched") for c in value_cols],
    )


def radius_join(
    left: DataFrame,
    right: DataFrame,
    coords: tuple[str, str],
    radius: int,
) -> DataFrame:
    """Spatial radius join via grid blocking: all (left, right) pairs
    with squared euclidean distance < radius² on integer coordinates —
    the point-radius join every geo/embedding-2D workload needs,
    without a cartesian product.

    Plan: each point maps to its ``radius``-sized grid cell (integer
    division); the LEFT side joins its own cell, the RIGHT side is
    exploded to its 3×3 cell neighborhood, so every true pair meets in
    EXACTLY the left point's cell (no post-join dedup) and the join is
    a plain equi-join on (cellx, celly) — shuffle keys are two ints.
    Candidates are verified with the exact integer squared distance.
    Cost: O(|right| × 9) explode + one equi-join; the quadratic scan
    exists only in the oracle. Lossless by construction: |dx| < radius
    implies adjacent-or-same cells — exact with integer arithmetic.
    Skewed cells (urban hotspots) split under AQE like any hot key.
    """
    x, y = coords
    lx, ly, rx, ry = x + "_l", y + "_l", x + "_r", y + "_r"
    l = left.select(
        *left.columns,
        F.expr(f"{x} div {radius}").alias("_cx"),
        F.expr(f"{y} div {radius}").alias("_cy"),
    ).withColumnsRenamed({x: lx, y: ly})
    r = (
        right.select(
            *right.columns,
            F.explode(F.expr("sequence(-1, 1)")).alias("_dx"),
        )
        .select("*", F.explode(F.expr("sequence(-1, 1)")).alias("_dy"))
        .select(
            *right.columns,
            (F.expr(f"{x} div {radius}") + F.col("_dx")).alias("_cx"),
            (F.expr(f"{y} div {radius}") + F.col("_dy")).alias("_cy"),
        )
        .withColumnsRenamed({x: rx, y: ry})
    )
    dx = F.col(lx) - F.col(rx)
    dy = F.col(ly) - F.col(ry)
    return (
        l.join(r, ["_cx", "_cy"])
        .filter(dx * dx + dy * dy < radius * radius)
        .drop("_cx", "_cy")
    )

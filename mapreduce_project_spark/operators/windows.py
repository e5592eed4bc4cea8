"""Window-function operators (top-k per group, running aggregates,
lag/lead) — B10's per-group variant plus the analytic surface a
reference user would emulate with a single-reducer sort
(``master.py:257-263`` num_reducers=1 path).

Scale notes: a window partitioned by a key shuffles once on that key
and sorts within partitions — same cost shape as a groupBy on the key.
Never use a global (unpartitioned) window at scale; for global top-k use
``orderBy(...).limit(k)`` (TakeOrderedAndProject) instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_project_spark.operators.relational import dec


def top_k_per_group(
    df: DataFrame, partition_by: list[str], order: list[Column], k: int
) -> DataFrame:
    """Top-k rows per group via ``row_number``, numbered in ``rk``.
    ``order`` must include a unique tie-breaker for determinism."""
    w = Window.partitionBy(*partition_by).orderBy(*order)
    return df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def running_dec_sum(
    df: DataFrame, partition_by: list[str], order: list[Column], value_col: str, alias: str
) -> DataFrame:
    """Running (cumulative) exact sum of a money column per group —
    decimal arithmetic then double, so the prefix sums are deterministic
    and engine-independent."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(alias, F.sum(dec(value_col)).over(w).cast("double"))


def trailing_time_agg(
    df: DataFrame,
    partition_by: list[str],
    ts_col: str,
    lookback_seconds: int,
    **aggs: Column,
) -> DataFrame:
    """Per-row aggregates over the partition's trailing event-time
    interval ``[ts - lookback, ts]`` — "this user's activity in the
    last hour, as of each event" (rate limiting, velocity features,
    rolling health counters). A RANGE frame over integer epoch
    MICROseconds: unlike a ROWS frame, rows land in the frame by TIME
    distance, so irregular event spacing is handled exactly. Micros —
    not ``unix_timestamp``'s truncated whole seconds — because
    truncation silently widens the frame by up to a second at its
    lower edge (an event 3600.4 s back truncates into range), which
    both changes the semantics and diverges from any engine comparing
    at full precision (caught by the sf0.1 differential sweep; oracle
    twin: ``ORDER BY epoch_us(ts) RANGE <secs>*1000000 PRECEDING``).

    Shuffles once on the partition key and sorts within partitions —
    identical cost shape to the other keyed windows here; Spark
    evaluates the sliding frame incrementally (add/remove at the frame
    edges), not per-row-rescan. ``aggs`` are built by the caller over
    the frame (e.g. ``F.count(F.lit(1))``, ``F.sum(dec(...))``)."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(F.unix_micros(F.col(ts_col)))
        .rangeBetween(-lookback_seconds * 1_000_000, 0)
    )
    out = df
    for alias, expr in aggs.items():
        out = out.withColumn(alias, expr.over(w))
    return out


# ------------------------------------------------------------------
# Previous-OUTPUT recursions, written once. Each fold is Spark-free:
# ``fold(state, values) -> (state, outputs)`` runs the recursion over
# one key's values in order, starting from the carried ``state`` (None
# for a fresh key) and returning the state to carry on plus one output
# per value. The batch queries fold a whole sorted group from None; the
# streaming twins (`streaming/events.py`) fold each micro-batch from the
# checkpointed state, so folding a series in one call or cut anywhere
# gives the same outputs — stream ≡ batch by construction.
# ------------------------------------------------------------------


def _half_trunc(v: int) -> int:
    """``v div 2`` truncating toward zero, as SQL ``div`` does; Python's
    ``//`` floors, which differs on negative values."""
    q = abs(v) // 2
    return q if v >= 0 else -q


def ewma_fold(state: int | None, xs) -> tuple[int | None, list[int]]:
    """Fixed-point EWMA with α = 1/2: ``s_1 = x_1``, ``s_i = (x_i +
    s_{i−1}) div 2`` truncating toward zero. State: the last smoothed
    value. Outputs: each step's smoothed value."""
    s, out = state, []
    for x in xs:
        x = int(x)
        s = x if s is None else _half_trunc(x + s)
        out.append(s)
    return s, out


def cusum_fold(
    state: tuple[int, int] | None, ns, mean_fp: int, slack_fp: int
) -> tuple[tuple[int, int], list[tuple[int, int]]]:
    """Page's one-sided CUSUM over milli-unit counts: ``S⁺_i = max(0,
    S⁺_{i−1} + n_i·1000 − mean_fp − slack_fp)`` and ``S⁻_i = max(0,
    S⁻_{i−1} + mean_fp − n_i·1000 − slack_fp)`` from (0, 0). State and
    outputs: the ``(S⁺, S⁻)`` pair."""
    s_up, s_dn = state or (0, 0)
    out = []
    for n in ns:
        n = int(n)
        s_up = max(0, s_up + n * 1000 - mean_fp - slack_fp)
        s_dn = max(0, s_dn + mean_fp - n * 1000 - slack_fp)
        out.append((s_up, s_dn))
    return (s_up, s_dn), out


def holt_fold(
    state: tuple[int, int, int] | None, ys
) -> tuple[tuple[int, int, int], list[tuple[int, int, int]]]:
    """Holt linear-trend smoothing with α = β = 1/4 and FLOOR division
    (``//``, the batch SQL's ``floor(x/4.0)``): ``l_1 = y_1, b_1 = 0``;
    then ``l_i = (y_i + 3(l + b)) // 4`` and ``b_i = (l_i − l + 3b) //
    4``. State: ``(l, b, started)``. Outputs: ``(l, b, resid)`` per day,
    ``resid = y_i − (l + b)`` the one-step error (0 on the first day)."""
    l, b, started = state or (0, 0, 0)
    out = []
    for y in ys:
        y = int(y)
        if not started:
            l, b, r, started = y, 0, 0, 1
        else:
            lp, bp = l, b
            r = y - (lp + bp)
            l = (y + 3 * (lp + bp)) // 4
            b = (l - lp + 3 * bp) // 4
        out.append((l, b, r))
    return (l, b, started), out


def holt_winters_fold(state: tuple | None, ys) -> tuple[tuple, list]:
    """Holt-Winters additive seasonal smoothing, m = 7, α = β = γ = 1/4,
    FLOOR division. The first 7 values are buffered; then ``l = sum //
    7``, ``b = 0`` and the seasonals are the buffer's deviations from
    ``l``. Each later value updates ``l = (y − s_old + 3(l + b)) // 4``,
    ``b = (l_new − l + 3b) // 4``, ``s = (y − l_new + 3 s_old) // 4``,
    where ``s_old`` is the seasonal 7 steps back. State: ``(l, b, buffer,
    last-7 seasonals)``. Outputs: None during the warm-up, else ``(l, b,
    s, resid, fc)`` with ``resid = y − (l + b + s_old)`` and the next-day
    forecast ``fc = l + b + s_{t−6}``."""
    l, b, buf, slist = state or (0, 0, [], [])
    buf, slist = list(buf), list(slist)
    out = []
    for y in ys:
        y = int(y)
        if len(slist) < 7:
            buf.append(y)
            if len(buf) == 7:
                l = sum(buf) // 7
                b = 0
                slist = [v - l for v in buf]
            out.append(None)
            continue
        s_old = slist[0]
        resid = y - (l + b + s_old)
        l_new = (y - s_old + 3 * (l + b)) // 4
        b_new = (l_new - l + 3 * b) // 4
        s_new = (y - l_new + 3 * s_old) // 4
        slist = slist[1:] + [s_new]
        l, b = l_new, b_new
        out.append((l, b, s_new, resid, l + b + slist[0]))
    return (l, b, buf, slist), out


def ewma_fixed(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Exact fixed-point exponentially-weighted moving average (α = 1/2)
    per key: `ewma_fold` over each key's rows in ``order_cols`` order,
    ``s_1 = x_1;  s_i = (x_i + s_{i−1}) div 2`` (truncating integral
    division each step — the truncation IS the spec, making this
    order-dependent RECURSION hash-matchable by a recursive-CTE oracle).

    EWMA is the one windowed statistic a frame cannot express: each
    output depends on the previous OUTPUT, not on a frame of inputs
    (the closed form Σ x_j·α·(1−α)^(i−j) underflows/denormalizes in
    floats and is not exact under per-step truncation). So this is the
    canonical custom per-key stateful operator: one keyed shuffle into
    a partition-wise ``mapInPandas``, the recursion running
    sequentially within each key — exactly how a reference user's
    reduce-side loop would compute it (reduce(fn) over the sorted
    group), and the batch twin of `streaming/events.py:ewma_stream`,
    which folds the same `ewma_fold` from its carried state.

    ``value_col`` must be integral (BIGINT-safe); negative values
    truncate toward zero, as SQL ``div`` does in both engines.
    ``order_cols`` must be a deterministic total order within each key.

    Output: (key, *order_cols, x, ewma_fx) — one row per input row.
    """
    import pandas as pd

    _types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = (
        f"{key_col} long, "
        + ", ".join(f"{c} {_types[c]}" for c in order_cols)
        + ", x long, ewma_fx long"
    )

    # PARTITION-WISE, not per-group (the `events_sessions_pandas`
    # discipline): hash-repartition on the key so each key's rows land
    # whole in one partition, then ONE mapInPandas pass sorts the
    # partition and folds each key's slice of the sorted arrays. A
    # per-group applyInPandas, or a frame built per key, pays
    # pandas-frame overhead per key — measured ~6x slower on 10k small
    # keys at sf0.1.
    def smooth(batches):
        import numpy as np

        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs).sort_values(
            [key_col, *order_cols], kind="mergesort"
        )
        keys = pdf[key_col].to_numpy()
        xs = pdf["_x"].to_numpy()
        out = np.empty_like(xs)
        cuts = [0, *(np.flatnonzero(keys[1:] != keys[:-1]) + 1), len(xs)]
        for lo, hi in zip(cuts, cuts[1:]):
            out[lo:hi] = ewma_fold(None, xs[lo:hi].tolist())[1]
        res = pdf[[key_col, *order_cols]].copy()
        res["x"] = xs
        res["ewma_fx"] = out
        yield res

    prepped = df.select(
        F.col(key_col).cast("bigint").alias(key_col),
        *[F.col(c) for c in order_cols],
        F.col(value_col).cast("bigint").alias("_x"),
    )
    return prepped.repartition(key_col).mapInPandas(smooth, out_schema)


def _partition_scan(df, order_cols, out_col, part_agg, fold, scan):
    """The distributed total-order scan shared by `global_rank`,
    `global_prefix_sum` and `global_prefix_max`, free of the single-task
    trap of ``Window.orderBy`` with no partition key (the one window
    shape this module's header forbids at scale).

    Range-partition on ``order_cols``, sort within partitions, tag each
    row with its partition id ``_pid`` and cache. One ``part_agg`` value
    per partition is collected — a metadata-scale driver collect, the
    same license as `pagerank_fixed`'s scalar — and ``fold`` turns the
    ``{pid: agg}`` map into each partition's carry-in. One Arrow-batched
    ``mapInPandas`` pass then runs ``scan(pdf, carry)`` over each
    partition's batches in order: it writes ``out_col`` into a copy of
    the batch and returns the carry for the next batch. There is no
    second shuffle (a window keyed on ``_pid`` would re-shuffle). The
    results are exact for any partitioning, because the carries adapt
    to wherever the sampled range boundaries fall; ``order_cols`` must
    be a unique total order (include a tie-breaker id).

    Output: input columns + ``out_col`` (BIGINT).
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    rp = (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    rp = rp.cache()
    aggs = {
        r["_pid"]: r["a"]
        for r in rp.groupBy("_pid").agg(part_agg.alias("a")).collect()
    }
    carry_in = fold(aggs)

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in rp.schema.fields
    ) + f", {out_col} long"

    def scan_batches(batches):
        started, carry = False, None
        for pdf in batches:
            if not len(pdf):
                continue
            if not started:
                started, carry = True, carry_in.get(int(pdf["_pid"].iloc[0]))
            pdf = pdf.copy()
            carry = scan(pdf, carry)
            yield pdf

    return rp.mapInPandas(scan_batches, out_schema).drop("_pid")


def _exclusive_sums(aggs: dict) -> dict:
    """Each partition's carry-in: the sum over every EARLIER partition."""
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(aggs):
        offsets[pid] = acc
        acc += int(aggs[pid])
    return offsets


def global_rank(
    df: DataFrame, order_cols: list[str], rank_col: str = "rank"
) -> DataFrame:
    """EXACT global row rank over a total order: the classic
    distributed construction ``global = partition_offset +
    local_position``, where the offsets are the exclusive prefix sums
    of per-partition counts (see `_partition_scan`). ``order_cols``
    must be a unique total order (include a tie-breaker id).

    Output: input columns + ``rank_col`` (1-based BIGINT).
    """
    import pandas as pd

    def number(pdf, base):
        pdf[rank_col] = pd.RangeIndex(base + 1, base + 1 + len(pdf))
        return base + len(pdf)

    return _partition_scan(
        df, order_cols, rank_col, F.count(F.lit(1)), _exclusive_sums, number
    )


def global_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "prefix_sum",
) -> DataFrame:
    """EXACT inclusive running sum of ``value_col`` over a global total
    order — the prefix-sum sibling of `global_rank`: a per-partition
    local cumsum plus the exclusive prefix of PER-PARTITION TOTALS (see
    `_partition_scan`). ``value_col`` must be integral (BIGINT-safe);
    ``order_cols`` must be a unique total order.

    Output: input columns + ``out_col`` (BIGINT). Reference semantics:
    SUM(value) OVER (ORDER BY order_cols ROWS UNBOUNDED PRECEDING)."""

    def accumulate(pdf, run):
        cs = pdf[value_col].astype("int64").cumsum() + run
        pdf[out_col] = cs
        return int(cs.iloc[-1])

    return _partition_scan(
        df, order_cols, out_col,
        F.coalesce(F.sum(value_col), F.lit(0)), _exclusive_sums, accumulate,
    )


def global_prefix_max(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "prefix_max",
) -> DataFrame:
    """EXACT inclusive running MAX of ``value_col`` over a global total
    order — the max sibling of `global_prefix_sum`: a per-partition
    local cummax, then the max of every EARLIER partition's total folded
    in (see `_partition_scan`). ``value_col`` must be integral and
    non-NULL; ``order_cols`` must be a unique total order.

    Output: input columns + ``out_col`` (BIGINT). Reference semantics:
    MAX(value) OVER (ORDER BY order_cols ROWS UNBOUNDED PRECEDING)."""

    def earlier_max(maxes):
        offsets: dict[int, int | None] = {}
        acc = None
        for pid in sorted(maxes):
            if maxes[pid] is None:  # an all-NULL partition
                continue
            offsets[pid] = acc
            acc = int(maxes[pid]) if acc is None else max(acc, int(maxes[pid]))
        return offsets

    def accumulate(pdf, run):
        # contract check BEFORE the int64 cast: nulls would otherwise
        # surface as an obscure pandas astype error; the sum sibling
        # tolerates nulls-as-0 but a running max has no principled
        # null fill
        if pdf[value_col].isna().any():
            raise ValueError(
                f"global_prefix_max: {value_col!r} contains NULL —"
                " the running max is undefined over nulls; filter"
                " or coalesce upstream"
            )
        cm = pdf[value_col].astype("int64").cummax()
        if run is not None:
            cm = cm.clip(lower=run)
        pdf[out_col] = cm
        return int(cm.iloc[-1])

    return _partition_scan(
        df, order_cols, out_col, F.max(value_col), earlier_max, accumulate
    )

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


def ewma_fixed(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha_num: int = 1,
    alpha_den: int = 2,
) -> DataFrame:
    """Exact fixed-point exponentially-weighted moving average per key:
    ``s_1 = x_1;  s_i = (alpha_num·x_i + (alpha_den−alpha_num)·s_{i−1})
    div alpha_den`` (truncating integral division each step — the
    truncation IS the spec, making this order-dependent RECURSION
    hash-matchable by a recursive-CTE oracle).

    EWMA is the one windowed statistic a frame cannot express: each
    output depends on the previous OUTPUT, not on a frame of inputs
    (the closed form Σ x_j·α·(1−α)^(i−j) underflows/denormalizes in
    floats and is not exact under per-step truncation). So this is the
    canonical custom per-key stateful operator: one keyed shuffle into
    a partition-wise ``mapInPandas``, the recursion running
    sequentially within each key — exactly how a reference user's
    reduce-side loop would compute it (reduce(fn) over the sorted
    group), and the batch twin of `streaming/events.py:ewma_stream`'s
    carried state.

    ``value_col`` must be integral (BIGINT-safe) and the recursion
    assumes it non-negative OR callers accept truncation-toward-zero
    semantics (matched by SQL ``//`` in both engines). ``order_cols``
    must be a deterministic total order within each key.

    Output: (key, *order_cols, x, ewma_fx) — one row per input row.
    """
    import pandas as pd

    a_n, a_d = alpha_num, alpha_den
    carry = a_d - a_n

    _types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = (
        f"{key_col} long, "
        + ", ".join(f"{c} {_types[c]}" for c in order_cols)
        + ", x long, ewma_fx long"
    )

    # PARTITION-WISE, not per-group (the `events_sessions_pandas`
    # discipline): hash-repartition on the key so each key's rows land
    # whole in one partition, then ONE mapInPandas pass runs the
    # recursion over the partition with state resets at key boundaries.
    # A per-group applyInPandas pays pandas-frame overhead per key —
    # measured ~6x slower on 10k small keys at sf0.1.
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
        prev_key = None
        s = 0
        for i in range(len(xs)):
            x = int(xs[i])
            if keys[i] != prev_key:
                s = x
                prev_key = keys[i]
            else:
                v = a_n * x + carry * s
                q = abs(v) // a_d
                s = q if v >= 0 else -q
            out[i] = s
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

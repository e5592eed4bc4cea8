"""Event-time windowing operators (SURVEY.md §2.C C6).

The reference is batch-only (one-shot jobs, ``master.py:164-208``); the
driver's ``events`` fixture mandates the streaming-shaped surface:
tumbling / sliding / session windows over event time. These operators
run in batch here and are written so the identical expressions drop
into Structured Streaming (see ``streaming/``) — ``F.window`` and
``F.session_window`` are the same function in both modes.

Scale notes: windowed aggregation shuffles on (window, keys) — at
100 TB bound the shuffle with a coarse enough window and pre-filter;
session windows shuffle on the session key (user) which is naturally
high-cardinality and well-distributed. In streaming, add
``withWatermark`` before these aggs to bound state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TS_FMT = "yyyy-MM-dd HH:mm:ss"


def fmt_ts(col: Column, alias: str) -> Column:
    """Engine-portable string form of a timestamp (session TZ is UTC)."""
    return F.date_format(col, TS_FMT).alias(alias)


def tumbling_window_agg(
    df: DataFrame, ts_col: str, duration: str, keys: list[str], **aggs: Column
) -> DataFrame:
    """Fixed (tumbling) windows: one bucket per ``duration`` per key."""
    win = F.window(F.col(ts_col), duration)
    return (
        df.groupBy(win.alias("w"), *keys)
        .agg(*[v.alias(k) for k, v in aggs.items()])
        .select(fmt_ts(F.col("w.start"), "window_start"), *keys, *aggs.keys())
    )


def sliding_window_agg(
    df: DataFrame, ts_col: str, duration: str, slide: str, keys: list[str], **aggs: Column
) -> DataFrame:
    """Overlapping (sliding) windows: each event lands in
    duration/slide windows."""
    win = F.window(F.col(ts_col), duration, slide)
    return (
        df.groupBy(win.alias("w"), *keys)
        .agg(*[v.alias(k) for k, v in aggs.items()])
        .select(fmt_ts(F.col("w.start"), "window_start"), *keys, *aggs.keys())
    )


def session_window_agg(
    df: DataFrame, ts_col: str, gap: str, keys: list[str], **aggs: Column
) -> DataFrame:
    """Session windows: events closer than ``gap`` merge into one
    session; session end = last event + gap (Spark semantics).

    Batch twin of the streaming sessionization; the DuckDB oracle mirrors
    it with gaps-and-islands (lag + cumulative flag sum).
    """
    win = F.session_window(F.col(ts_col), gap)
    return (
        df.groupBy(win.alias("w"), *keys)
        .agg(*[v.alias(k) for k, v in aggs.items()])
        .select(
            *keys,
            fmt_ts(F.col("w.start"), "session_start"),
            fmt_ts(F.col("w.end"), "session_end"),
            *aggs.keys(),
        )
    )


def extract_json_field(df: DataFrame, json_col: str, path: str, alias: str) -> DataFrame:
    """Scalar JSON extraction (``get_json_object``, JVM-side). For full
    document parsing use ``from_json`` with an explicit schema instead —
    schema inference on 100 TB of JSON is a full extra pass."""
    return df.withColumn(alias, F.get_json_object(F.col(json_col), path))


def latest_state(
    changelog: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    tombstone: Column | None = None,
) -> DataFrame:
    """CDC changelog compaction: collapse an upsert/delete stream to
    its latest state — one row per key (the winner under ``order_cols``,
    last wins), keys whose winning row satisfies ``tombstone`` dropped
    entirely. The materialize-a-table half of lakehouse MERGE; the
    reference would need a reduce job whose user function sorts each
    key's records (`design.md:48-49`).

    Plan shape: groupBy(key).agg(max_by over a (order, payload) struct)
    — ONE shuffle with map-side partial aggregation, so each mapper
    forwards at most one candidate row per key it saw. Deliberately not
    a row_number() window: windows sort whole partitions and have no
    partial agg, so at 100 TB the agg form shuffles a fraction of the
    data. Ordering must be made total (append a unique id to
    ``order_cols``) or the winner is tie-arbitrary."""
    payload = [c for c in changelog.columns if c not in key_cols]
    winner = F.max(
        F.struct(*[F.col(c) for c in order_cols],
                 F.struct(*[F.col(c) for c in payload]).alias("_row"))
    ).alias("_w")
    out = changelog.groupBy(*key_cols).agg(winner).select(
        *key_cols, F.col("_w._row.*")
    )
    if tombstone is not None:
        out = out.filter(~tombstone)
    return out


def funnel_users(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: per user, the first time each step was
    reached STRICTLY AFTER the previous step was first reached (the
    product-analytics "view → click → purchase" question). Output is
    one row per user who reached step 0, with nullable ``t0..t{k}``
    reach times — aggregate for stage counts / conversion rates.

    Plan shape: per step, filter(type = step) → join on the previous
    frontier → grouped min. Every join and agg keys on the user id, so
    after the first shuffle all stages are co-partitioned (AQE reuses
    the partitioning) and each step's frontier only shrinks. The step
    filters push to the scan; there is no window sort and no self-join
    on the raw stream. The reference would chain k reduce jobs keyed by
    user (`design.md:48-49`)."""
    if not steps:
        raise ValueError("funnel needs at least one step")
    u, ts, ty = F.col(user_col), F.col(ts_col), F.col(type_col)
    frontier = (
        events.filter(ty == steps[0]).groupBy(user_col).agg(F.min(ts).alias("t0"))
    )
    out = frontier
    for i, step in enumerate(steps[1:], 1):
        frontier = (
            events.filter(ty == step)
            .join(frontier.select(user_col, f"t{i-1}"), user_col)
            .where(ts > F.col(f"t{i-1}"))
            .groupBy(user_col)
            .agg(F.min(ts).alias(f"t{i}"))
        )
        out = out.join(frontier, user_col, "left")
    return out


def funnel_counts(events: DataFrame, steps: list[str], **kw) -> DataFrame:
    """Stage totals + step-to-step conversion rates for `funnel_users`
    (single-row DataFrame: ``n_<step>`` counts, ``rate_<a>_<b>``
    ratios). Counts are exact bigints; rates are one IEEE division of
    those bigints — engine-portable."""
    per_user = funnel_users(events, steps, **kw)
    counts = [
        F.count(F.col(f"t{i}")).alias(f"n_{s}") for i, s in enumerate(steps)
    ]
    rates = [
        (
            F.count(F.col(f"t{i+1}")).cast("double") / F.count(F.col(f"t{i}"))
        ).alias(f"rate_{a}_{b}")
        for i, (a, b) in enumerate(zip(steps, steps[1:]))
    ]
    return per_user.agg(*counts, *rates)


def cohort_retention(events: DataFrame) -> DataFrame:
    """Cohort retention matrix: users are cohorted by their first
    active day; output is ``(cohort_day, day_offset, n_users)`` =
    how many of each cohort's users were active ``day_offset`` days
    after joining (offset 0 row = cohort size).

    Plan: grouped min (cohort per user) ⋈ distinct (user, day)
    activity — both keyed on the user, so the join is co-partitioned
    after the first shuffle — then a (cohort, offset) count-distinct.
    Day truncation collapses the stream BEFORE any shuffle: the
    distinct activity set is bounded by users × days, not by events."""
    u, day = F.col("user_id"), F.to_date(F.col("ts")).alias("_day")
    first = events.groupBy("user_id").agg(F.min(F.to_date(F.col("ts"))).alias("_cohort"))
    activity = events.select(u, day).distinct()
    return (
        activity.join(first, "user_id")
        .groupBy(
            F.col("_cohort").alias("cohort_day"),
            F.datediff(F.col("_day"), F.col("_cohort")).alias("day_offset"),
        )
        .agg(F.count_distinct(u).alias("n_users"))
    )


def scd2_from_changelog(
    changes: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    attr_col: str,
) -> DataFrame:
    """Slowly-changing-dimension (type 2) build from a changelog: one
    validity interval per (key, attribute run) — the warehouse-side
    complement of `latest_state` (which keeps only the last run).

    Two window passes over ONE keyed sort (same partitioning, Spark
    plans a single shuffle+sort):
    1. change detection — keep a record iff its ``attr_col`` differs
       from the key's previous record (lag), collapsing no-change
       updates;
    2. interval stitching — ``valid_to`` = the NEXT change's
       ``valid_from`` (lead), NULL while current; ``version`` numbers
       the runs per key.

    Order must be total per key (pass a tie-breaker in ``order_cols``)
    or run boundaries are nondeterministic. At 100 TB both passes are
    the same key-partitioned shuffle — state per key is one row in
    flight, and the output is the dimension table joined by
    ``key BETWEEN valid_from AND valid_to`` range joins downstream.

    ``attr_col`` may be NULL: change detection is null-safe
    (``eqNullSafe``, ≡ SQL ``IS DISTINCT FROM``), so a value→NULL
    transition opens a new version and a NULL→NULL run collapses —
    plain ``!=``/``lag`` would do neither, because lag's NULL is
    ambiguous between "first row" and "previous value was NULL"
    (round-2 advisor finding); the first row is therefore detected by
    row number, not by prev-is-null."""
    from pyspark.sql import Window

    order = [F.col(c) for c in order_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    changed = (
        changes.withColumn("_prev", F.lag(attr_col).over(w))
        .withColumn("_rn", F.row_number().over(w))
        .filter(
            (F.col("_rn") == 1)
            | ~F.col(attr_col).eqNullSafe(F.col("_prev"))
        )
        .drop("_prev", "_rn")
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return changed.select(
        *key_cols,
        F.col(attr_col).alias("attr_value"),
        *[F.col(c) for c in order_cols],
        F.lead(order[0]).over(w2).alias("_next"),
        F.row_number().over(w2).alias("version"),
    )

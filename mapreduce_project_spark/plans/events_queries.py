"""Event windowing queries (C6) with DuckDB oracles.

Window starts are epoch-aligned in both engines (Spark windows align to
the epoch; DuckDB ``time_bucket`` to 2000-01-01, which coincides for
divisors of a day), and are emitted as UTC strings. Sums go through
decimals for cross-engine exactness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_project_spark.operators.events import (
    extract_json_field,
    fmt_ts,
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)
from mapreduce_project_spark.operators.relational import dec, dec_sum
from mapreduce_project_spark.queries_registry import query, t


def _sessions_30min(ev: DataFrame, *cols: str) -> DataFrame:
    """``(user_id, event_type, *cols, sid)``: every event with its user's
    30-minute gap-island session number — lag plus a running sum over
    µs-exact epochs, ``(ts, event_id)`` tie-break, first session 1."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 1800000000
            ),
            1,
        ).otherwise(0).alias("new_s"),
    )
    return seq.select(
        "user_id", "event_type", *cols,
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("sid"),
    )


def _daily_cents_grid(ev: DataFrame) -> DataFrame:
    """``(event_type, d, y)``: every event type crossed with every UTC day
    number ``d`` from the corpus's first to last event day, ``y`` the
    day's value total in whole cents (half-up), 0 on days without events."""
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(date_trunc('day', ts)) div 86400000000").alias("d"),
    ).agg(F.sum(cents).cast("bigint").alias("y"))
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    types = ev.select("event_type").distinct()
    return (
        types.crossJoin(F.broadcast(bounds))
        .select("event_type", F.explode(F.sequence("d0", "d1")).alias("d"))
        .join(daily, ["event_type", "d"], "left")
        .select("event_type", "d", F.coalesce("y", F.lit(0)).alias("y"))
    )


def _converted() -> Column:
    """Per-user aggregate: 1 when the user made a purchase over 250, else 0."""
    return F.max(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("value") > 250), 1
        ).otherwise(0)
    )


def _arm_stratum_users(ev: DataFrame) -> DataFrame:
    """``(arm, stratum, conv)`` per user: the md5-pinned A/B arm (first
    hex digit 0-7 is A), the activity stratum (< 62 events low, < 70
    mid, else high) and the conversion flag."""
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), _converted().alias("conv"))
        .select(
            F.when(
                F.substring(
                    F.md5(F.col("user_id").cast("string").cast("binary")), 1, 1
                ).isin(*"01234567"),
                F.lit("A"),
            )
            .otherwise(F.lit("B"))
            .alias("arm"),
            F.expr(
                "case when n_events < 62 then 'low'"
                " when n_events < 70 then 'mid' else 'high' end"
            ).alias("stratum"),
            "conv",
        )
    )


def _activity_scores(ev: DataFrame) -> DataFrame:
    """``(score, cnt, np)``: users grouped by their event count ``score``,
    with the number of users and of converted users at each score."""
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("score"), _converted().alias("pos")
    )
    return u.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("pos").cast("bigint").alias("np"),
    )


@query(
    "events_tumbling_hour",
    """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: 1-hour tumbling windows per event type. Pytest-only slot: a
    tumbling window is the slide == duration special case of
    `events_sliding_hour`, which carries the driver signal for the
    same `window()` machinery (plus the streaming twins in
    tests/test_streaming.py)."""
    return tumbling_window_agg(
        t(spark, sf_dir, "events"),
        "ts",
        "1 hour",
        ["event_type"],
        n_events=F.count(F.lit(1)),
        sum_value=dec_sum("value"),
    )


@query(
    "events_sliding_hour",
    """
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM (
      SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS win_start,
             value, ts
      FROM events, (SELECT unnest([0,1,2,3]) AS k)
    )
    WHERE ts >= win_start AND ts < win_start + INTERVAL '1 hour'
    GROUP BY 1
    """,
)
def q_events_sliding_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: 1-hour windows sliding by 15 min (each event in 4 windows).
    The oracle expands the 4 covering windows per event explicitly."""
    return sliding_window_agg(
        t(spark, sf_dir, "events"),
        "ts",
        "1 hour",
        "15 minutes",
        [],
        n_events=F.count(F.lit(1)),
        sum_value=dec_sum("value"),
    )


@query(
    "events_sessions",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                       OVER (PARTITION BY user_id ORDER BY ts) >= 1800000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: session windows per user, 30-minute gap. Spark semantics:
    a new session starts when the gap is >= 30 min (window end is
    exclusive); session end = last event + gap. The oracle mirrors this
    with gaps-and-islands. Pytest-only slot: `events_sessions_pandas`
    carries the driver signal for the identical sessionization (same
    oracle core), and the native `session_window` operator is further
    exercised by the streaming twins (tests/test_streaming.py)."""
    return session_window_agg(
        t(spark, sf_dir, "events"),
        "ts",
        "30 minutes",
        ["user_id"],
        n_events=F.count(F.lit(1)),
        sum_value=dec_sum("value"),
    )


@query(
    "events_sessions_pandas",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                       OVER (PARTITION BY user_id ORDER BY ts) >= 1800000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def q_events_sessions_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B12: arbitrary per-group logic in pandas — gap-based
    sessionization written as imperative code (the reference's
    ``reduce_fn(k, values)`` contract, `worker.py:198-207`, with Arrow
    batches instead of Python lists). Oracle-checked against the same
    gaps-and-islands SQL as the native `events_sessions`; the native
    `session_window` version is the preferred scale path — this one
    demonstrates that the escape hatch is still exactly correct.

    PARTITION-WISE, not per-group: ``repartition(user_id)`` guarantees a
    user's rows land in one partition, then ONE ``mapInPandas`` pass
    sessionizes every user in the partition with vectorized groupby-diff
    — a per-group ``applyInPandas`` pays pandas frame overhead per user
    (~9x slower on 10k user groups; same trick as the facade reduce,
    `mapreduce.py` reduce_stage)."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts")
    return sessionize_partitionwise(ev)


def sessionize_partitionwise(ev: DataFrame) -> DataFrame:
    """Gap-based (30 min) sessionization of a (user_id, ts) frame as
    imperative pandas code over hash-partitioned complete user groups —
    the reusable body of `events_sessions_pandas` (also driven by the
    hot-key skew stress in tests/test_skew_and_tokens.py). A single
    pathological user's timeline lands on ONE task here; at extreme
    skew route to the declarative twin (`events_sessions` /
    gaps-and-islands window), which AQE can split."""
    import pandas as pd
    from collections.abc import Iterator

    def sessionize_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = list(batches)
        if not pdfs:
            return
        # the partition holds complete user groups (hash repartition on
        # user_id), so concatenating its batches is safe and bounded by
        # partition size
        pdf = pd.concat(pdfs).sort_values(["user_id", "ts"], kind="mergesort")
        gap_ms = pdf.groupby("user_id")["ts"].diff().dt.total_seconds() * 1000
        new_session = (gap_ms >= 1800000).fillna(False)
        session_id = new_session.groupby(pdf["user_id"]).cumsum()
        g = pdf.groupby([pdf["user_id"], session_id])["ts"]
        out = pd.DataFrame(
            {
                "session_start": g.min().dt.strftime("%Y-%m-%d %H:%M:%S"),
                "n_events": g.count(),
            }
        )
        out.index.names = ["user_id", "_session"]
        yield out.reset_index()[["user_id", "session_start", "n_events"]]

    return ev.repartition("user_id").mapInPandas(
        sessionize_partition, "user_id long, session_start string, n_events long"
    )


@query(
    "events_rollup_day_hour",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           hour(ts) AS hr,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY GROUPING SETS ((date_trunc('day', ts), hour(ts)), (date_trunc('day', ts)))
    """,
)
def q_events_rollup_day_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: hourly and daily
    aggregates of the event stream in ONE pass (grouping sets → one
    Expand + one shuffle), the batch form of a continuous-aggregate
    hierarchy. Exact distinct-user counts per bucket; swap for
    approx_count_distinct at 100 TB."""
    ev = t(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    hr = F.hour(F.col("ts")).cast("bigint").alias("hr")
    return (
        ev.select(day, hr, "user_id", "value")
        .groupingSets([["day", "hr"], ["day"]], "day", "hr")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dec_sum("value").alias("sum_value"),
        )
    )


@query(
    "events_json_extract",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
)
def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar JSON extraction from the props payload (B13-adjacent)."""
    df = extract_json_field(t(spark, sf_dir, "events"), "props", "$.k", "k_raw")
    return df.select(
        "event_id", "event_type", F.col("k_raw").cast("bigint").alias("k_val")
    )


@query(
    "events_variant_stats",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS n_distinct_k
    FROM events
    GROUP BY event_type
    """,
)
def q_events_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion via the VARIANT type (the Spark-4-native
    scale path for JSON: ``parse_json`` once into the binary variant
    encoding, then typed ``variant_get`` extractions — repeated field
    reads cost O(field), not O(re-parse), and the variant column is
    columnar-shreddable in parquet). The reference can only treat JSON
    as opaque strings inside user functions (`worker.py:137-138`); the
    string-path twin is `events_json_extract` (get_json_object). Oracle
    extracts the same field with DuckDB's JSON functions."""
    ev = t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
    )


@query(
    "cdc_latest_state",
    """
    SELECT user_id,
           event_id AS last_event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           event_type AS last_type,
           value AS last_value
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def q_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction (`operators/events.py:latest_state`): the
    events stream read as a CDC feed keyed by user — last writer wins
    under (ts, event_id), and a key whose latest record is an 'error'
    tombstone disappears from the state. One partial-agg shuffle (the
    oracle's row_number window is the semantic spec, not the plan)."""
    from mapreduce_project_spark.operators.events import latest_state

    ev = t(spark, sf_dir, "events")
    st = latest_state(
        ev, ["user_id"], ["ts", "event_id"],
        tombstone=F.col("event_type") == "error",
    )
    return st.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        fmt_ts(F.col("ts"), "last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


@query(
    "events_funnel",
    """
    WITH s0 AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s1 AS (
      SELECT e.user_id, MIN(e.ts) AS t1
      FROM events e JOIN s0 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s0.t0
      GROUP BY e.user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s1.t1
      GROUP BY e.user_id
    )
    SELECT CAST(COUNT(t0) AS BIGINT) AS n_view,
           CAST(COUNT(t1) AS BIGINT) AS n_click,
           CAST(COUNT(t2) AS BIGINT) AS n_purchase,
           CAST(COUNT(t1) AS DOUBLE) / COUNT(t0) AS rate_view_click,
           CAST(COUNT(t2) AS DOUBLE) / COUNT(t1) AS rate_click_purchase
    FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel (`operators/events.py:
    funnel_users`): stage totals and conversion rates where each stage
    must happen strictly after the user's first previous-stage event.
    All stages key on user_id — co-partitioned joins, no window sort,
    step filters pushed to the scan."""
    from mapreduce_project_spark.operators.events import funnel_counts

    return funnel_counts(
        t(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


@query(
    "events_trailing_hour",
    """
    SELECT event_id,
           user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def q_events_trailing_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour per-user activity as of every event
    (`operators/windows.py:trailing_time_agg`): a RANGE frame over
    epoch seconds, the velocity-feature / rate-limit primitive. One
    shuffle on user_id; the frame slides incrementally."""
    from mapreduce_project_spark.operators.relational import dec
    from mapreduce_project_spark.operators.windows import trailing_time_agg

    ev = t(spark, sf_dir, "events")
    out = trailing_time_agg(
        ev,
        ["user_id"],
        "ts",
        3600,
        n_last_hour=F.count(F.lit(1)),
        sum_last_hour=F.sum(dec("value")),
    )
    return out.select(
        "event_id", "user_id", fmt_ts(F.col("ts"), "ts_s"),
        F.col("n_last_hour").cast("bigint").alias("n_last_hour"),
        F.col("sum_last_hour").cast("double").alias("sum_last_hour"),
    )


@query(
    "events_cohort_retention",
    """
    WITH first AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    )
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
           CAST(datediff('day', cohort, day) AS BIGINT) AS day_offset,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM activity a JOIN first USING (user_id)
    GROUP BY cohort, datediff('day', cohort, day)
    """,
)
def q_events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (`operators/events.py:cohort_retention`):
    first-active-day cohorts × day offsets → distinct active users.
    The activity set collapses to (user, day) before any join."""
    from mapreduce_project_spark.operators.events import cohort_retention

    out = cohort_retention(t(spark, sf_dir, "events"))
    return out.select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        F.col("day_offset").cast("bigint").alias("day_offset"),
        "n_users",
    )


@query(
    "scd2_user_state",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ),
    changed AS (
      -- null-safe change detection, in lockstep with the Spark side's
      -- eqNullSafe (value->NULL opens a version; NULL->NULL collapses)
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE rn = 1 OR event_type IS DISTINCT FROM prev
    )
    SELECT user_id, event_type AS attr_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version
    FROM changed
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from the events changelog
    (`operators/events.py:scd2_from_changelog`): per user, one validity
    interval per run of equal event_type — change detection (lag) +
    interval stitching (lead) off a single keyed sort. valid_to is NULL
    for the open current row; `cdc_latest_state` is the degenerate
    keep-only-last form."""
    from mapreduce_project_spark.operators.events import scd2_from_changelog

    out = scd2_from_changelog(
        t(spark, sf_dir, "events"), ["user_id"], ["ts", "event_id"], "event_type"
    )
    return out.select(
        "user_id",
        "attr_value",
        fmt_ts(F.col("ts"), "valid_from"),
        fmt_ts(F.col("_next"), "valid_to"),
        F.col("version").cast("bigint").alias("version"),
    )


@query(
    "interval_join_error_sessions",
    """
    WITH sess_flag AS (
      SELECT user_id, ts,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                       OVER (PARTITION BY user_id ORDER BY ts) >= 1800000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ), sess_num AS (
      SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM sess_flag
    ), sess AS (
      SELECT user_id, MIN(ts) AS s_start, MAX(ts) + INTERVAL '30 minutes' AS s_end
      FROM sess_num GROUP BY user_id, sid
    ), err_flag AS (
      SELECT ts,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (ORDER BY ts) >= 600000
                  THEN 1 ELSE 0 END AS new_i
      FROM events WHERE event_type = 'error'
    ), err_num AS (
      SELECT ts, SUM(new_i) OVER (ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
      FROM err_flag
    ), inc AS (
      SELECT MIN(ts) AS i_start, MAX(ts) + INTERVAL '10 minutes' AS i_end
      FROM err_num GROUP BY iid
    )
    SELECT s.user_id,
           strftime(s.s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(i.i_start, '%Y-%m-%d %H:%M:%S') AS incident_start
    FROM sess s JOIN inc i
      ON s.s_start <= i.i_end AND i.i_start <= s.s_end
    """,
)
def q_interval_join_error_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact interval OVERLAP join, bucketized
    (`operators/join.py:interval_join`): which user sessions overlapped
    an error incident (global 10-min-gap sessions over error events)?
    Both interval sets are large, so no side can broadcast — the naive
    plan is a nested loop; here each interval explodes into its covered
    1-hour buckets and the sides EQUI-join on the bucket before the
    exact overlap refine + distinct. The oracle runs the naive overlap
    join (DuckDB's IEJoin keeps it feasible at oracle scale)."""
    from mapreduce_project_spark.operators.join import interval_join

    ev = t(spark, sf_dir, "events")
    sess = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select("user_id", F.col("w.start").alias("s_start"), F.col("w.end").alias("s_end"))
    )
    inc = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("_m"))
        .select(F.col("w.start").alias("i_start"), F.col("w.end").alias("i_end"))
    )
    joined = interval_join(
        sess, inc, ("s_start", "s_end"), ("i_start", "i_end"), 3600
    )
    return joined.select(
        "user_id",
        fmt_ts(F.col("s_start"), "session_start"),
        fmt_ts(F.col("i_start"), "incident_start"),
    ).distinct()


@query(
    "events_sessions_dynamic_gap",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN event_type = 'error' THEN 600000 ELSE 1800000 END AS gap_ms
      FROM events
    ), flagged AS (
      SELECT user_id, ts, gap_ms,
             CASE WHEN MAX(epoch_ms(ts) + gap_ms) OVER w1 IS NULL
                  OR epoch_ms(ts) >= MAX(epoch_ms(ts) + gap_ms) OVER w1
                  THEN 1 ELSE 0 END AS new_s
      FROM g
      WINDOW w1 AS (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), numbered AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(to_timestamp(MAX(epoch_ms(ts) + gap_ms) / 1000.0),
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
)
def q_events_sessions_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows: each event extends its session by
    its OWN inactivity timeout (error events cool off in 10 minutes,
    everything else in 30) — `session_window` with a per-row gap
    COLUMN, the form fraud/ops sessionization actually needs. The
    oracle is gaps-and-islands generalized to variable gaps: a new
    session starts when the event time passes the running MAX of every
    previous event's (ts + its gap) — a prefix-max window, still one
    keyed sort. Session end = max(ts + gap), matching Spark's merge
    semantics exactly."""
    ev = t(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "error", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


@query(
    "trailing_distinct_users",
    """
    SELECT event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           CAST(COUNT(DISTINCT user_id) OVER w AS BIGINT) AS n_distinct_users
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def q_trailing_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct actors in the trailing hour, as of every event — the
    unique-cardinality velocity signal (abuse/fanout detection). Spark
    has no COUNT(DISTINCT) OVER; the composable workaround is
    ``size(array_distinct(collect_list(...)))`` over the same RANGE
    frame — exact, deterministic (a set size), memory bounded by the
    frame's row count. At 100 TB swap the exact set for an HLL sketch
    column merged over the frame if frames grow unbounded; frames here
    are time-bounded by construction. Same integer-microsecond frame
    discipline as `trailing_time_agg`."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "event_type",
        fmt_ts(F.col("ts"), "ts_s"),
        F.size(F.array_distinct(F.collect_list("user_id").over(w)))
        .cast("bigint")
        .alias("n_distinct_users"),
    )


@query(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events
    )
    SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over per-user event
    sequences (lead() within user, deterministic (ts, event_id) order)
    — the next-event-prediction label join and the behavioral-model
    summary in one: P(next | current) ∝ n. One keyed window shuffle +
    one partial-agg count; at 100 TB both shuffle narrow (type pairs,
    not payloads)."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    return seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


@query(
    "events_context_pairs",
    """
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             list(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS ctx
      FROM events WHERE event_type IS NOT NULL
    )
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           array_to_string(ctx, '>') AS context,
           event_type AS next_type
    FROM seq WHERE len(ctx) = 3
    """,
)
def q_events_context_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event-prediction DATASET BUILDER — the supervised-pair
    generalization of `event_transition_matrix`'s first-order counts:
    per user, each event becomes one (context, next_type) training
    example where context is the previous 3 event types in exact
    (ts, event_id) order (kept only when the full window exists, so
    every example has identical context length — the fixed-shape
    contract batch assembly downstream expects). One keyed window
    shuffle; context strings are built from the bounded 3-row frame,
    so shuffle width is type names, never payloads. Deterministic
    strings + ints ⇒ hash-matched. NULL event types are filtered
    up front in BOTH engines — Spark's collect_list silently drops
    NULLs where DuckDB's list() keeps them, so an unfiltered NULL
    inside a frame would make the two sides disagree on context
    length."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, -1)
    )
    ctx = F.collect_list("event_type").over(w)
    return (
        ev.select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            ctx.alias("_ctx"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.size("_ctx") == 3)
        .select(
            "user_id",
            "event_id",
            "ts",
            F.concat_ws(">", "_ctx").alias("context"),
            "next_type",
        )
    )


@query(
    "events_gapfill_daily",
    """
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS spend
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, day
    ),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
    spine AS (
      SELECT u.user_id, d.day
      FROM (SELECT DISTINCT user_id FROM daily) u,
           (SELECT unnest(generate_series((SELECT lo FROM bounds),
                                          (SELECT hi FROM bounds),
                                          INTERVAL 1 DAY))::DATE AS day) d
    )
    SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
           COALESCE(daily.n, 0) AS n_purchases,
           daily.n IS NOT NULL AS observed,
           last_value(daily.spend IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_spend
    FROM spine s
    LEFT JOIN daily ON s.user_id = daily.user_id AND s.day = daily.day
    """,
)
def q_events_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification + forward fill: every (user, day) cell of
    the observed purchase range exists — absent days appear with
    n_purchases = 0 and the most recent day's spend carried forward
    (`last(ignorenulls)`) — the gap-filling every daily-metric consumer
    (charts, ML feature frames, SLA monitors) needs before windowed
    math is meaningful. The date spine is `sequence(min, max)` exploded
    against the distinct keys (spine size = keys × days, data-
    independent of event count); the fill join is one shuffle; the
    ffill window runs per key. Non-vacuous on the fixture: purchases
    cover ~1/3 of user-day cells."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("spend"),
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = (
        daily.select("user_id").distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_purchases"),
            F.col("n").isNotNull().alias("observed"),
            F.last("spend", ignorenulls=True).over(w).alias("last_spend"),
        )
    )


@query(
    "session_cooccurrence_lift",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq
    ),
    st AS (SELECT DISTINCT user_id, sid, event_type FROM sess),
    n_s AS (SELECT CAST(count(DISTINCT (user_id, sid)) AS BIGINT) AS total FROM st),
    singles AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM st GROUP BY 1),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM st a JOIN st b ON a.user_id = b.user_id AND a.sid = b.sid
            AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_ab,
           (CAST(n_ab AS DOUBLE) * (SELECT total FROM n_s))
             / (CAST(sa.n AS DOUBLE) * sb.n) AS lift
    FROM pairs JOIN singles sa ON sa.event_type = type_a
               JOIN singles sb ON sb.event_type = type_b
    """,
)
def q_session_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level association mining: within-session co-occurrence
    counts and LIFT for every event-type pair — the market-basket /
    item-affinity primitive (lift = P(a,b)/(P(a)P(b)), the log-free
    PMI: one pinned multiply-then-divide on exact integer counts, so
    no cross-engine libm log). Sessions are 30-minute gap islands
    (lag + running sum, µs-exact epochs, (ts, event_id) tie-break);
    the pair join runs WITHIN (user, session) — cost bounded by the
    session alphabet (distinct types/session), never corpus-quadratic."""
    ev = t(spark, sf_dir, "events")
    sess = _sessions_30min(ev)
    st = sess.select("user_id", "sid", "event_type").distinct()
    total = st.agg(
        F.countDistinct("user_id", "sid").cast("bigint").alias("total")
    )
    singles = st.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a, b = st.alias("a"), st.alias("b")
    pairs = (
        a.join(
            b,
            F.expr(
                "a.user_id = b.user_id AND a.sid = b.sid "
                "AND a.event_type < b.event_type"
            ),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    sa = singles.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = singles.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(total))
        .select(
            "type_a", "type_b", "n_ab",
            (
                (F.col("n_ab").cast("double") * F.col("total"))
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("lift"),
        )
    )


_EWMA_ORACLE = """
    WITH RECURSIVE seq AS (
      SELECT user_id, ts, CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      FROM events
    ),
    ew AS (
      SELECT user_id, ts, x, rn, x AS s FROM seq WHERE rn = 1
      UNION ALL
      SELECT q.user_id, q.ts, q.x, q.rn, (q.x + e.s) // 2
      FROM seq q JOIN ew e ON q.user_id = e.user_id AND q.rn = e.rn + 1
    )
    SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, x,
           CAST(s AS BIGINT) AS ewma_fx
    FROM ew
    """


@query("events_ewma_value", _EWMA_ORACLE)
def q_events_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-point EWMA (α = 1/2) of event value-cents per user —
    the one windowed statistic no frame can express: each output
    depends on the previous OUTPUT (`operators/windows.py:ewma_fixed`,
    applyInPandas with ONE keyed shuffle, recursion sequential inside
    the group). Per-step truncating division makes the recursion
    engine-exact, so the oracle is a recursive CTE replaying
    ``s_i = (x_i + s_{i-1}) // 2`` — an iterative per-row algorithm
    hash-matched end to end (the recursion-depth analog of the
    unrolled-round oracles used by pagerank/kmeans/linear-GD)."""
    from mapreduce_project_spark.operators.windows import ewma_fixed

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("x_cents"),
    )
    out = ewma_fixed(ev, "user_id", ["ts"], "x_cents")
    return out.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "x",
        "ewma_fx",
    )


_COGROUP_ORACLE = """
    SELECT e.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_quick_purchases
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') e
    JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id
     AND p.ts > e.ts
     AND epoch_us(p.ts) - epoch_us(e.ts) <= CAST(3600000000 AS BIGINT)
    GROUP BY e.user_id
    """


@query("cogroup_view_purchase_pairs", _COGROUP_ORACLE)
def q_cogroup_view_purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COGROUPED applyInPandas surface — the fourth and last
    Python-UDF shape (after mapInPandas, per-group applyInPandas, and
    the grouped-agg pandas UDAF): two DataFrames cogrouped on user_id
    arrive as two pandas frames per key, and imperative numpy code
    counts (view, purchase) pairs within one hour — the reference's
    two-tagged-inputs reduce (a map/reduce user unions tagged streams
    and branches in reduce_fn). Exactness: integer microsecond
    arithmetic only. The declarative twin IS the oracle's interval
    join — at scale prefer it (`interval_join`); cogroup is the escape
    hatch when per-key logic won't factor into joins/windows."""
    ev = t(spark, sf_dir, "events")
    return quick_purchases_cogrouped(ev)


def quick_purchases_cogrouped(ev: DataFrame) -> DataFrame:
    """Count purchases within one hour after a view, per user, via
    cogrouped ``applyInPandas`` — the reusable body of
    `cogroup_view_purchase_pairs` (also driven by the hot-key skew
    stress in tests/test_skew_and_tokens.py). One pathological user's
    two timelines land on ONE task; at extreme skew route to the
    declarative `interval_join` twin (the oracle), which AQE can
    skew-split."""
    import pandas as pd

    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("us")
    )

    def count_pairs(key, vdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if not len(vdf) or not len(bdf):
            return pd.DataFrame({"user_id": [], "n_quick_purchases": []}).astype(
                {"user_id": "int64", "n_quick_purchases": "int64"}
            )
        v = np.sort(vdf["us"].to_numpy())
        b = np.sort(bdf["us"].to_numpy())
        # for each view, purchases in (view, view + 1h]: two binary
        # searches per view over the sorted purchase timeline
        lo = np.searchsorted(b, v, side="right")
        hi = np.searchsorted(b, v + 3_600_000_000, side="right")
        n = int((hi - lo).sum())
        if n == 0:
            return pd.DataFrame({"user_id": [], "n_quick_purchases": []}).astype(
                {"user_id": "int64", "n_quick_purchases": "int64"}
            )
        return pd.DataFrame({"user_id": [key[0]], "n_quick_purchases": [n]})

    return (
        views.groupBy("user_id")
        .cogroup(buys.groupBy("user_id"))
        .applyInPandas(count_pairs, "user_id long, n_quick_purchases long")
    )


_ANOMALY_ORACLE = """
    WITH RECURSIVE seq AS (
      SELECT user_id, ts, CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      FROM events
    ),
    ew AS (
      SELECT user_id, ts, x, rn, x AS s FROM seq WHERE rn = 1
      UNION ALL
      SELECT q.user_id, q.ts, q.x, q.rn, (q.x + e.s) // 2
      FROM seq q JOIN ew e ON q.user_id = e.user_id AND q.rn = e.rn + 1
    ),
    resid AS (
      SELECT user_id, ts, x,
             x - lag(s) OVER (PARTITION BY user_id ORDER BY rn) AS r
      FROM ew
    ),
    med AS (SELECT quantile_cont(r, 0.50) AS m FROM resid WHERE r IS NOT NULL),
    mad AS (
      SELECT quantile_cont(abs(r - (SELECT m FROM med)), 0.50) AS d
      FROM resid WHERE r IS NOT NULL
    )
    SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, x,
           CAST(r AS BIGINT) AS resid
    FROM resid
    WHERE r IS NOT NULL
      AND abs(r - (SELECT m FROM med)) > 5 * (SELECT d FROM mad)
    """


@query("events_anomaly_flags", _ANOMALY_ORACLE)
def q_events_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection on metric streams — the composition
    the EWMA + MAD primitives exist for: each event's residual against
    its user's PREVIOUS smoothed value (the one-step-ahead prediction
    error; `operators/windows.py:ewma_fixed` + one lag), flagged when
    it deviates from the global residual median by more than 5×MAD
    (outlier-resistant — a single spike cannot inflate its own
    threshold the way stddev-based z-scores do). Exactness: integer
    residuals, exact interpolated medians, one broadcast of two global
    scalars; the recursive-CTE oracle replays the smoothing chain."""
    from pyspark.sql import Window

    from mapreduce_project_spark.operators.windows import ewma_fixed

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("x_cents"),
    )
    sm = ewma_fixed(ev, "user_id", ["ts"], "x_cents")
    w = Window.partitionBy("user_id").orderBy("ts")
    resid = sm.withColumn("r", F.col("x") - F.lag("ewma_fx").over(w)).filter(
        F.col("r").isNotNull()
    )
    med = resid.agg(F.expr("percentile(r, 0.50)").alias("m"))
    mad = (
        resid.crossJoin(F.broadcast(med))
        .agg(F.expr("percentile(abs(r - m), 0.50)").alias("d"))
    )
    thresh = med.crossJoin(mad)
    return (
        resid.crossJoin(F.broadcast(thresh))
        .filter(F.abs(F.col("r") - F.col("m")) > 5 * F.col("d"))
        .select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            "x",
            F.col("r").alias("resid"),
        )
    )


_ABTEST_ORACLE = """
    WITH assign AS (
      SELECT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(MAX(CASE WHEN event_type = 'purchase' AND value > 250 THEN 1 ELSE 0 END)
                  AS BIGINT) AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS conv
      FROM assign GROUP BY arm
    ),
    wide AS (
      SELECT MAX(CASE WHEN arm = 'A' THEN n END) AS n1,
             MAX(CASE WHEN arm = 'A' THEN conv END) AS c1,
             MAX(CASE WHEN arm = 'B' THEN n END) AS n2,
             MAX(CASE WHEN arm = 'B' THEN conv END) AS c2
      FROM arms
    )
    SELECT n1, c1, n2, c2,
           CAST(c1 AS DOUBLE) / n1 AS rate_a,
           CAST(c2 AS DOUBLE) / n2 AS rate_b,
           (CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
             / sqrt((CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                    * (1 - CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                    * (1.0 / n1 + 1.0 / n2)) AS z_score
    FROM wide
    """


@query("abtest_conversion_z", _ABTEST_ORACLE)
def q_abtest_conversion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation analytics: a two-proportion z-test on high-value
    purchase conversion (value > 250 — rare enough that neither arm
    saturates, keeping the pooled variance nonzero at every fixture
    scale) between deterministic md5 arms (the same hash-split
    discipline as `hash_split` — assignment is a pure function of
    user_id, reproducible across engines). Counts are exact integers,
    the pooled-variance z-score is ONE pinned IEEE expression over
    them (correctly-rounded sqrt, fixed operand order) — bit-identical
    across engines, so even the test statistic hash-matches. Two
    partial-agg shuffles (user collapse, arm rollup) then a two-row
    pivot; the experiment-readout shape every product analytics
    pipeline runs."""
    ev = t(spark, sf_dir, "events")
    assign = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when((F.col("event_type") == "purchase") & (F.col("value") > 250), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("converted")
        )
        .withColumn(
            "arm",
            F.when(
                F.substring(
                    F.md5(F.col("user_id").cast("string").cast("binary")), 1, 1
                ).isin(*"01234567"),
                F.lit("A"),
            ).otherwise(F.lit("B")),
        )
    )
    arms = assign.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("conv"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == "A", F.col("conv"))).alias("c1"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("arm") == "B", F.col("conv"))).alias("c2"),
    )
    n1, c1 = F.col("n1"), F.col("c1")
    n2, c2 = F.col("n2"), F.col("c2")
    ra = c1.cast("double") / n1
    rb = c2.cast("double") / n2
    pooled = (c1 + c2).cast("double") / (n1 + n2)
    z = (ra - rb) / F.sqrt(
        pooled * (1 - pooled) * (F.lit(1.0) / n1 + F.lit(1.0) / n2)
    )
    return wide.select(
        "n1", "c1", "n2", "c2",
        ra.alias("rate_a"), rb.alias("rate_b"), z.alias("z_score"),
    )


_PSEUDO_ORACLE = """
    SELECT event_id,
           substr(md5('pepper-v1:' || CAST(user_id AS VARCHAR)), 1, 16)
             AS user_pseudonym,
           event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ts_hour
    FROM events
    """


@query("events_pseudonymized", _PSEUDO_ORACLE)
def q_events_pseudonymized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-preserving event export — the pseudonymization +
    generalization pass a GDPR-style pipeline runs before sharing
    analytics data: user ids become keyed md5 pseudonyms (the
    'pepper-v1' prefix stands in for a secret pepper — JOINABLE across
    exports under the same pepper, unlinkable to raw ids without it;
    rotate the pepper to break linkage), and timestamps generalize to
    the hour (the k-anonymity-style coarsening for quasi-identifiers,
    see `k_anonymity_audit`). Zero shuffle — a codegen projection the
    optimizer fuses into the scan. Completes the governance family:
    detection (`PiiSpans`), redaction (`text_redact_pii`), risk audit
    (`k_anonymity_audit`), pseudonymized release (this)."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.substring(
            F.md5(
                F.concat(F.lit("pepper-v1:"), F.col("user_id").cast("string")).cast(
                    "binary"
                )
            ),
            1,
            16,
        ).alias("user_pseudonym"),
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "ts_hour"
        ),
    )


_DAU_WAU_ORACLE = """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day),
    wau AS (
      SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
      FROM days d JOIN ud u
        ON u.day <= d.day AND u.day >= d.day - INTERVAL 6 DAY
      GROUP BY d.day
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
           CAST(dau.dau AS DOUBLE) / wau.wau AS stickiness
    FROM days d JOIN dau USING (day) JOIN wau USING (day)
    """


@query("events_dau_wau", _DAU_WAU_ORACLE)
def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per calendar day — the
    product-analytics headline series. The corpus first collapses to
    distinct (user, day) pairs (the only shuffle that sees user ids);
    WAU then rides D76's trailing-distinct RANGE frame over the
    per-day USER SETS (collect_set of a day's users, union'd across
    the 7-day frame — never re-touching events), and stickiness is one
    exact division. The day-level window is unpartitioned but its
    input is ONE ROW PER DAY — bounded like the Zipf curve's top-k.
    Scale caveat: a day's exact user set is itself O(DAU) wide; at
    100 TB swap the sets for per-day HLL sketches and `hll_union`
    across the frame (`merge_sketch_rollup` is that machinery) —
    the exact-set form is the oracle-checkable specification. The
    oracle computes the same trailing window as an interval
    self-join."""
    from pyspark.sql import Window

    ud = (
        t(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", "ts").cast("date").alias("day"))
        .distinct()
    )
    day_sets = ud.groupBy("day").agg(
        F.collect_set("user_id").alias("users"),
        F.count(F.lit(1)).cast("bigint").alias("dau"),
    )
    w = (
        Window.orderBy(F.col("day").cast("timestamp").cast("long"))
        .rangeBetween(-6 * 86400, 0)
    )
    return (
        day_sets.withColumn(
            "wau",
            F.size(F.array_distinct(F.flatten(F.collect_list("users").over(w))))
            .cast("bigint"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
        )
    )


_TWAP_ORACLE = """
    WITH s AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             epoch_us(ts) AS us,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    seq AS (
      SELECT user_id, day, cents, us,
             lead(us) OVER (PARTITION BY user_id, day ORDER BY us) AS next_us
      FROM s
    ),
    agg AS (
      SELECT user_id, day,
             CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(SUM(CASE WHEN next_us IS NULL THEN 0
                           ELSE cents * (next_us - us) END) AS BIGINT) AS wsum,
             CAST(max(us) - min(us) AS BIGINT) AS span_us,
             min(cents) AS first_only
      FROM seq GROUP BY user_id, day
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n_samples, span_us,
           CASE WHEN span_us = 0 THEN CAST(first_only AS DOUBLE) / 100.0
                ELSE CAST(wsum AS DOUBLE) / CAST(span_us AS DOUBLE) / 100.0
           END AS twap
    FROM agg
    """


@query("events_twap_daily", _TWAP_ORACLE)
def q_events_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-WEIGHTED average price per (user, day) — the
    irregular-sample integral (TimescaleDB's `time_weight('LOCF')`)
    that a plain AVG gets wrong whenever sampling is bursty: each
    observation holds its value until the next one (left-constant
    interpolation over [first_ts, last_ts]), so
    ``twap = Σ cents_i·(t_{i+1}−t_i) / (t_n − t_1)``. Exactness: the
    weighted sum is BIGINT cents × BIGINT microseconds (≤ 8.6e15 per
    sample-day — no overflow), so the only float is the final one
    pinned division per output row; a single-sample day (span 0)
    degenerates to the sample itself. One (user, day)-keyed window +
    one partial-agg shuffle of four integers; values never shuffle
    twice. Unique corpus timestamps make the lead() order total."""
    from pyspark.sql import Window

    s = t(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id", "day").orderBy("us")
    seq = s.withColumn("next_us", F.lead("us").over(w))
    agg = seq.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
        F.sum(
            F.when(F.col("next_us").isNull(), F.lit(0)).otherwise(
                F.col("cents") * (F.col("next_us") - F.col("us"))
            )
        )
        .cast("bigint")
        .alias("wsum"),
        (F.max("us") - F.min("us")).cast("bigint").alias("span_us"),
        F.min("cents").alias("first_only"),
    )
    return agg.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_samples",
        "span_us",
        F.when(
            F.col("span_us") == 0, F.col("first_only").cast("double") / F.lit(100.0)
        )
        .otherwise(
            F.col("wsum").cast("double") / F.col("span_us").cast("double") / F.lit(100.0)
        )
        .alias("twap"),
    )


_OHLC_ORACLE = """
    WITH s AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             epoch_us(ts) AS us,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    seq AS (
      SELECT user_id, day, cents,
             first_value(cents) OVER (PARTITION BY user_id, day ORDER BY us
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS open_c,
             last_value(cents) OVER (PARTITION BY user_id, day ORDER BY us
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close_c
      FROM s
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_trades,
           max(open_c) AS open_c, max(cents) AS high_c,
           min(cents) AS low_c, max(close_c) AS close_c,
           CAST(SUM(cents) AS BIGINT) AS volume_c
    FROM seq GROUP BY user_id, day
    """


@query("events_ohlc_daily", _OHLC_ORACLE)
def q_events_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars per (user, day) — the canonical
    time-series downsample every market/telemetry store ships
    (TimescaleDB `candlestick_agg`, kdb/InfluxDB OHLC): open = value at
    the earliest tick, close = at the latest, high/low/volume over the
    bar. Values travel as BIGINT cents end to end, so the whole row is
    integer-exact (hash-green with no float convention needed).
    Plan shape: ONE window sort per (user, day) partition computes both
    open and close via full-frame first/last (no second descending
    sort, no self-join), then one partial-aggregated shuffle collapses
    the bar; unique per-user timestamps make the frame order total. At
    100 TB the events scan parallelizes on (user, day) hash — no
    skew hazard beyond the per-user tick rate itself, and AQE splits
    any hot user-day since the window key equals the agg key."""
    from pyspark.sql import Window

    s = t(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    w_full = (
        Window.partitionBy("user_id", "day")
        .orderBy("us")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    seq = s.select(
        "user_id",
        "day",
        "cents",
        F.first("cents").over(w_full).alias("open_c"),
        F.last("cents").over(w_full).alias("close_c"),
    )
    return seq.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trades"),
        F.max("open_c").alias("open_c"),
        F.max("cents").alias("high_c"),
        F.min("cents").alias("low_c"),
        F.max("close_c").alias("close_c"),
        F.sum("cents").cast("bigint").alias("volume_c"),
    ).select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_trades", "open_c", "high_c", "low_c", "close_c", "volume_c",
    )


_ATTRIB_ORACLE = """
    WITH touches AS (
      SELECT event_id, user_id, event_type,
             epoch_us(ts) AS tus
      FROM events WHERE event_type IN ('view', 'click')
    ),
    purch AS (
      SELECT event_id AS p_id, user_id, epoch_us(ts) AS pus
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT p.p_id, t.event_id, t.event_type, t.tus
      FROM purch p JOIN touches t USING (user_id)
      WHERE t.tus >= p.pus - 86400000000 AND t.tus < p.pus
    ),
    ranked AS (
      SELECT p_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY tus, event_id) AS pos,
             COUNT(*) OVER (PARTITION BY p_id) AS n
      FROM j
    ),
    credited AS (
      SELECT event_type,
             CASE
               WHEN n = 1 THEN 10000
               WHEN n = 2 THEN 5000
               WHEN pos = 1 OR pos = n THEN 4000
               ELSE 2000 // (n - 2)
                    + CASE WHEN pos - 1 <= 2000 % (n - 2) THEN 1 ELSE 0 END
             END AS credit_bp,
             p_id
      FROM ranked
    )
    SELECT event_type AS channel,
           CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_conversions_touched,
           CAST(SUM(credit_bp) AS BIGINT) AS credit_bp_total
    FROM credited GROUP BY event_type
    """


@query("events_attribution_position", _ATTRIB_ORACLE)
def q_events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) MULTI-TOUCH ATTRIBUTION — the marketing
    analytics workhorse beyond D45's ordered funnel: each purchase's
    credit (10000 basis points) splits over its preceding 24 h of
    view/click touchpoints as 40% first touch / 40% last touch / 20%
    spread over the middles — in EXACT integer arithmetic (floor share
    + one extra bp to the earliest middles, so every conversion's
    credit sums to exactly 10000; n=1 takes all, n=2 splits 50/50).

    Plan: the purchase↔touch pairing is the D69 bounded-interval-join
    discipline — each touch replicates to exactly TWO day buckets (its
    own and the next: a 24 h lookback spans at most two), the join key
    is (user_id, purchase-day bucket), and each qualifying pair meets
    in exactly one bucket, so the shuffle is 2x touches, never
    users x days. Per-purchase ranking windows partition on the
    conversion id (small groups by construction); credit is a pure
    projection. Integers end-to-end ⇒ hash-matched at three SFs."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("tus"),
        F.unix_date(F.col("ts").cast("date")).cast("bigint").alias("d"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.unix_micros("ts").alias("pus"),
        F.unix_date(F.col("ts").cast("date")).cast("bigint").alias("bucket"),
    )
    tr = touches.select(
        "event_id", "user_id", "event_type", "tus",
        F.explode(F.expr("sequence(d, d + 1)")).alias("bucket"),
    )
    j = tr.join(purch, ["user_id", "bucket"]).filter(
        (F.col("tus") >= F.col("pus") - F.lit(86400000000))
        & (F.col("tus") < F.col("pus"))
    )
    wp = Window.partitionBy("p_id")
    w = wp.orderBy("tus", "event_id")
    ranked = j.select(
        "p_id", "event_type",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(10000))
        .when(F.col("n") == 2, F.lit(5000))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), F.lit(4000))
        .otherwise(
            F.expr("2000 div (n - 2)")
            + F.when(
                F.col("pos") - 1 <= F.expr("2000 % (n - 2)"), F.lit(1)
            ).otherwise(F.lit(0))
        )
    )
    return (
        ranked.select("p_id", "event_type", credit.alias("credit_bp"))
        .groupBy("event_type")
        .agg(
            F.countDistinct("p_id").cast("bigint").alias("n_conversions_touched"),
            F.sum("credit_bp").cast("bigint").alias("credit_bp_total"),
        )
        .select(
            F.col("event_type").alias("channel"),
            "n_conversions_touched",
            "credit_bp_total",
        )
    )


_WELCH_ORACLE = """
    WITH px AS (
      SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(round(value * 1000) AS BIGINT) AS x_fp
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x_fp) AS BIGINT) AS sx,
             CAST(SUM(x_fp * x_fp) AS BIGINT) AS sxx
      FROM px GROUP BY arm
    ),
    w AS (
      SELECT MAX(CASE WHEN arm = 'A' THEN n END) AS n1,
             MAX(CASE WHEN arm = 'A' THEN sx END) AS sx1,
             MAX(CASE WHEN arm = 'A' THEN sxx END) AS sxx1,
             MAX(CASE WHEN arm = 'B' THEN n END) AS n2,
             MAX(CASE WHEN arm = 'B' THEN sx END) AS sx2,
             MAX(CASE WHEN arm = 'B' THEN sxx END) AS sxx2
      FROM m
    )
    SELECT n1, sx1, sxx1, n2, sx2, sxx2,
           (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE))
           / sqrt(
               ((CAST(sxx1 AS DOUBLE)
                 - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                / CAST(n1 - 1 AS DOUBLE)) / CAST(n1 AS DOUBLE)
               + ((CAST(sxx2 AS DOUBLE)
                   - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                  / CAST(n2 - 1 AS DOUBLE)) / CAST(n2 AS DOUBLE)
             ) AS t_welch
    FROM w
    """


@query("abtest_value_welch", _WELCH_ORACLE)
def q_abtest_value_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on a CONTINUOUS metric (purchase
    value) between the same deterministic md5 arms as the D135
    two-proportion z-test — the other half of every experimentation
    readout (conversion moves vs revenue-per-event moves). Exactness
    discipline: values quantize to milli-unit BIGINTs, so n/Σx/Σx² are
    order-independent EXACT integer moments (the D107 correlation
    trick; x ≤ ~5·10⁵ milli ⇒ Σx² headroom to ~10⁵ rows per arm at
    fixture scales — at 100 TB promote the two sums to DECIMAL(38)
    with the same pinned render); the t statistic is ONE pinned IEEE
    expression over the six integers (divisions, one correctly-rounded
    sqrt — no libm), so even the float hash-matches. Plan: one
    filtered scan, one 2-group partial agg, a 1-row pivot."""
    ev = t(spark, sf_dir, "events")
    px = ev.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.substring(
                F.md5(F.col("user_id").cast("string").cast("binary")), 1, 1
            ).isin(*"01234567"),
            F.lit("A"),
        )
        .otherwise(F.lit("B"))
        .alias("arm"),
        F.round(F.col("value") * 1000, 0).cast("bigint").alias("x_fp"),
    )
    m = px.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x_fp").cast("bigint").alias("sx"),
        F.sum(F.col("x_fp") * F.col("x_fp")).cast("bigint").alias("sxx"),
    )
    w = m.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == "A", F.col("sx"))).alias("sx1"),
        F.max(F.when(F.col("arm") == "A", F.col("sxx"))).alias("sxx1"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("arm") == "B", F.col("sx"))).alias("sx2"),
        F.max(F.when(F.col("arm") == "B", F.col("sxx"))).alias("sxx2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    var1 = (d("sxx1") - d("sx1") * d("sx1") / d("n1")) / (d("n1") - F.lit(1.0))
    var2 = (d("sxx2") - d("sx2") * d("sx2") / d("n2")) / (d("n2") - F.lit(1.0))
    return w.select(
        "n1", "sx1", "sxx1", "n2", "sx2", "sxx2",
        (
            (d("sx1") / d("n1") - d("sx2") / d("n2"))
            / F.sqrt(var1 / d("n1") + var2 / d("n2"))
        ).alias("t_welch"),
    )


_CUSUM_ORACLE = """
    WITH RECURSIVE daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS ed,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT ed, n, ROW_NUMBER() OVER (ORDER BY ed) AS i,
             CAST(COUNT(*) OVER () AS BIGINT) AS nd,
             CAST(SUM(n) OVER () AS BIGINT) AS tot
      FROM daily
    ),
    base AS (
      SELECT ed, n, i, tot * 1000 // nd AS mean_fp,
             (tot * 1000 // nd) // 4 AS slack_fp
      FROM idx
    ),
    rec(i, ed, n, mean_fp, s_up, s_dn) AS (
      SELECT i, ed, n, mean_fp,
             GREATEST(CAST(0 AS BIGINT), n * 1000 - mean_fp - slack_fp),
             GREATEST(CAST(0 AS BIGINT), mean_fp - n * 1000 - slack_fp)
      FROM base WHERE i = 1
      UNION ALL
      SELECT b.i, b.ed, b.n, b.mean_fp,
             GREATEST(CAST(0 AS BIGINT),
                      r.s_up + b.n * 1000 - b.mean_fp - b.slack_fp),
             GREATEST(CAST(0 AS BIGINT),
                      r.s_dn + b.mean_fp - b.n * 1000 - b.slack_fp)
      FROM rec r JOIN base b ON b.i = r.i + 1
    )
    SELECT strftime(DATE '1970-01-01' + CAST(ed AS INT), '%Y-%m-%d') AS day,
           n, s_up, s_dn,
           CAST(CASE WHEN s_up > mean_fp OR s_dn > mean_fp
                THEN 1 ELSE 0 END AS BIGINT) AS changepoint
    FROM rec
    """


@query("events_cusum_changepoints", _CUSUM_ORACLE)
def q_events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM CHANGE-POINT detection on the daily event-count series —
    the classic sequential drift detector (Page 1954) the monitoring
    family lacked next to D134's pointwise MAD outliers: one-sided
    cumulative sums S⁺/S⁻ of milli-unit deviations from the global
    mean (slack k = mean/4, alarm h = mean), all BIGINT so the
    recursion is engine-exact — each output depends on the previous
    OUTPUT, the D112 recursion class no window frame expresses, so the
    oracle replays it as a recursive CTE over the day index. Plan: one
    partial-agg shuffle to ~#days rows, then the recursion
    (`operators/windows.py:cusum_fold`, which `cusum_stream` folds per
    micro-batch) runs in ONE pandas group — state is calendar-bounded
    (≤365·years rows), which is the honest scale story for a GLOBAL
    series; per-key series would reuse the D112 keyed shape
    unchanged."""
    from collections.abc import Iterator

    import pandas as pd

    from mapreduce_project_spark.operators.windows import cusum_fold

    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.unix_date(F.col("ts").cast("date")).cast("bigint").alias("ed"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = daily.agg(
        F.sum("n").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("nd"),
    )
    base = daily.crossJoin(F.broadcast(tot)).select(
        "ed", "n",
        F.expr("tot * 1000 div nd").alias("mean_fp"),
        F.expr("(tot * 1000 div nd) div 4").alias("slack_fp"),
    )

    def cusum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(batches)).sort_values("ed").reset_index(drop=True)
        # every row carries the same broadcast (mean_fp, slack_fp) pair
        mean_fp, slack_fp = (int(pdf[c].iloc[0]) for c in ("mean_fp", "slack_fp"))
        out = cusum_fold(None, pdf["n"], mean_fp, slack_fp)[1]
        pdf["s_up"] = [u for u, _ in out]
        pdf["s_dn"] = [d for _, d in out]
        yield pdf

    out = base.repartition(1).mapInPandas(
        cusum, "ed long, n long, mean_fp long, slack_fp long, s_up long, s_dn long"
    )
    return out.select(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("ed").cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        "n", "s_up", "s_dn",
        (
            (F.col("s_up") > F.col("mean_fp")) | (F.col("s_dn") > F.col("mean_fp"))
        )
        .cast("bigint")
        .alias("changepoint"),
    )


_PATHS_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type, ts, event_id,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq
    ),
    per AS (
      SELECT user_id, sid,
             array_to_string(
               (array_agg(event_type ORDER BY ts, event_id))[1:5], '>') AS path,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM sess GROUP BY user_id, sid
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM per),
    agg AS (
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
             CAST(SUM(conv) AS BIGINT) AS n_converted
      FROM per GROUP BY path
    )
    SELECT path, n_sessions, n_converted,
           CAST(n_sessions * 1000000 // (SELECT t FROM tot) AS BIGINT)
             AS share_micro
    FROM agg ORDER BY n_sessions DESC, path LIMIT 20
    """


@query("session_path_mining", _PATHS_ORACLE)
def q_session_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user-journey PATHS (clickstream path / Sankey analysis —
    the sequence-shaped sibling of D45's fixed funnel and D88's
    one-step transition matrix): each 30-minute session (the D104 gap
    islands, µs-exact, (ts, event_id) tie-broken) renders its first
    five event types as an ordered '>'-joined path; paths are counted,
    conversion-tagged (did the session ever purchase), and ranked by
    frequency with corpus share in exact micro-units. The path string
    is built by one array_sort over per-session structs — deterministic
    where a bare collect_list is not — so the oracle's ORDER BY
    array_agg replays it byte-identically (ASCII paths compare binary
    in both engines). Scale: one user-keyed window pass + one
    (user, session) partial agg + one path-keyed count — session
    alphabet bounds the path string, never corpus-quadratic; top-20 is
    a TakeOrdered, not a global sort."""
    ev = t(spark, sf_dir, "events")
    sess = _sessions_30min(ev, "ts", "event_id")
    per = sess.groupBy("user_id", "sid").agg(
        F.concat_ws(
            ">",
            F.slice(
                F.expr(
                    "transform(array_sort(collect_list(struct(ts, event_id,"
                    " event_type))), x -> x.event_type)"
                ),
                1,
                5,
            ),
        ).alias("path"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    tot = per.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    agg = per.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("conv").cast("bigint").alias("n_converted"),
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "path", "n_sessions", "n_converted",
            F.expr("n_sessions * 1000000 div t").cast("bigint")
            .alias("share_micro"),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


_MK_ORACLE = """
    WITH daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS ed,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM daily),
    pairs AS (
      SELECT CASE WHEN b.cents > a.cents THEN 1
                  WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn,
             CAST((b.cents - a.cents) * 1000000 // (b.ed - a.ed) AS BIGINT)
               AS slope_micro
      FROM daily a JOIN daily b ON a.ed < b.ed
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS np FROM pairs),
    s AS (SELECT CAST(SUM(sgn) AS BIGINT) AS s_stat FROM pairs),
    ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t
            FROM daily GROUP BY cents HAVING COUNT(*) >= 2)
    ),
    var18 AS (
      SELECT CAST((SELECT nd FROM n) * ((SELECT nd FROM n) - 1)
                  * (2 * (SELECT nd FROM n) + 5)
                  - (SELECT tie_term FROM ties) AS BIGINT) AS v18
    ),
    cells AS (
      SELECT slope_micro, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY 1
    ),
    cum AS (
      SELECT slope_micro,
             SUM(c) OVER (ORDER BY slope_micro ROWS UNBOUNDED PRECEDING)
               AS cw
      FROM cells
    ),
    sen AS (
      SELECT CAST(MIN(CASE WHEN 2 * cw >= (SELECT np FROM m)
                           THEN slope_micro END) AS BIGINT) AS sen_micro
      FROM cum
    )
    SELECT (SELECT nd FROM n) AS n_days,
           (SELECT np FROM m) AS n_pairs,
           (SELECT s_stat FROM s) AS s_stat,
           (SELECT v18 FROM var18) AS var_x18,
           CASE WHEN (SELECT s_stat FROM s) > 0 THEN
                  (CAST((SELECT s_stat FROM s) AS DOUBLE) - 1.0)
                  / sqrt(CAST((SELECT v18 FROM var18) AS DOUBLE) / 18.0)
                WHEN (SELECT s_stat FROM s) < 0 THEN
                  (CAST((SELECT s_stat FROM s) AS DOUBLE) + 1.0)
                  / sqrt(CAST((SELECT v18 FROM var18) AS DOUBLE) / 18.0)
                ELSE 0.0 END AS z_score,
           (SELECT sen_micro FROM sen) AS sen_slope_micro
    """


@query("trend_mann_kendall", _MK_ORACLE)
def q_trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test + Sen's slope over the daily
    revenue series — the nonparametric trend detector (Mann 1945,
    Kendall's tau family; Sen 1968 robust slope) that completes the
    monitoring family next to D195's CUSUM (level shifts) and D134's
    MAD outliers (points): S = Σ sign(later − earlier) over all day
    pairs, tie-corrected variance, and the Sen slope = exact lower
    median of all pairwise slopes in truncating micro-units/day.

    The scale insight: the corpus collapses to ≤ one row per CALENDAR
    DAY before anything quadratic — the pair join is bounded by the
    date domain (~2.4k days ⇒ ≤ 3M pairs) FOREVER, independent of row
    count, so the O(days²) definition is safe at 100 TB. The Sen
    median is a TWO-LEVEL distributed selection (round-9 rewrite of
    the single cells-first cumsum, whose unpartitioned window moved
    all ~2.9M distinct slope cells through one task — the only
    single-partition sort in the slate): arithmetic-shift buckets
    (shift chosen from the measured slope range so ≤ 4096 buckets;
    shiftright ≡ floor-div 2^s, order-preserving on negatives where
    ``div`` truncation is not) → a cumsum over the TINY bucket table
    locates the median bucket → only that bucket's cells ride an
    ordered window, offset by the preceding buckets' mass. Both
    passes are partial aggs over the cached pair table; identical
    output by construction. S, the tie term and the variance are
    exact BIGINTs; z is ONE pinned IEEE expression over them.
    Hash-matched at three SFs; planted monotone / tied / alternating
    fixtures pin S, ties and the Sen median."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
            .cast("bigint")
            .alias("ed")
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("cents")
        )
        .cache()
    )
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.ed") < F.col("b.ed")).select(
        F.when(F.col("b.cents") > F.col("a.cents"), 1)
        .when(F.col("b.cents") < F.col("a.cents"), -1)
        .otherwise(0)
        .alias("sgn"),
        F.expr("(b.cents - a.cents) * 1000000 div (b.ed - a.ed)")
        .cast("bigint")
        .alias("slope_micro"),
    ).cache()
    ms = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum("sgn").cast("bigint").alias("s_stat"),
    ).cache()
    m = ms.select("np")
    ties = (
        daily.groupBy("cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(F.col("t") >= 2)
        .agg(
            F.coalesce(
                F.sum(F.expr("t * (t - 1) * (2 * t + 5)")), F.lit(0)
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    # two-level distributed selection of the lower median slope: the
    # bucket shift is picked from the MEASURED slope range (one
    # two-bigint driver action on the cached pair table) so the bucket
    # table stays ≤ 4096 rows whatever the value scale — a fixed shift
    # can't know that the micro-slope range spans ~±3·10¹⁴ here.
    # shiftright is an arithmetic shift ≡ floor-division by 2^shift,
    # monotone on NEGATIVE slopes too (BIGINT `div` truncates toward
    # zero, which would fold -x and +x into the same bucket 0).
    lo_hi = pairs.agg(
        F.min("slope_micro").alias("lo"), F.max("slope_micro").alias("hi")
    ).collect()[0]
    span = max(int(lo_hi["hi"]) - int(lo_hi["lo"]), 1)
    shift = max(0, span.bit_length() - 12)  # ≤ 2^12 = 4096 buckets
    bcnt = (
        pairs.groupBy(F.expr(f"shiftright(slope_micro, {shift})").alias("bk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    wb = Window.orderBy("bk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bcum = bcnt.select("bk", "c", F.sum("c").over(wb).alias("bcw"))
    target = (
        bcum.crossJoin(F.broadcast(m))
        .filter(2 * F.col("bcw") >= F.col("np"))
        .orderBy("bk")
        .limit(1)
        .select("bk", (F.col("bcw") - F.col("c")).alias("prev_mass"))
    )
    in_bucket = pairs.join(
        F.broadcast(target),
        F.expr(f"shiftright(slope_micro, {shift})") == F.col("bk"),
    )
    cells = in_bucket.groupBy("slope_micro", "prev_mass").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.orderBy("slope_micro").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.select(
        "slope_micro", (F.sum("c").over(w) + F.col("prev_mass")).alias("cw")
    )
    sen = cum.crossJoin(F.broadcast(m)).agg(
        F.min(
            F.when(2 * F.col("cw") >= F.col("np"), F.col("slope_micro"))
        )
        .cast("bigint")
        .alias("sen_slope_micro")
    )
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat").cast("double") - F.lit(1.0))
            / F.sqrt(F.col("var_x18").cast("double") / F.lit(18.0)),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat").cast("double") + F.lit(1.0))
            / F.sqrt(F.col("var_x18").cast("double") / F.lit(18.0)),
        )
        .otherwise(F.lit(0.0))
    )
    return (
        nd.crossJoin(F.broadcast(ms))
        .crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(sen))
        .select(
            F.col("nd").alias("n_days"),
            F.col("np").alias("n_pairs"),
            "s_stat",
            F.expr("nd * (nd - 1) * (2 * nd + 5) - tie_term")
            .cast("bigint")
            .alias("var_x18"),
            "sen_slope_micro",
        )
        .select(
            "n_days", "n_pairs", "s_stat", "var_x18",
            z.alias("z_score"), "sen_slope_micro",
        )
    )


def _markov_oracle() -> str:
    """DuckDB twin of `events_markov_attribution`: identical
    sessionization (the D199 window), identical transition extraction,
    and the absorption solve UNROLLED as ``k_iters`` CTE iterations of
    the same truncating fixed-point recurrence the Spark side runs in
    driver Python — v_{k+1}(s) = (Σ_t p_micro(s,t)·v_k(t)) // 10⁶ with
    v(CONV) ≡ 10⁹, v(NULL) ≡ 0, transitions into the removed channel
    zeroed. Integer end-to-end, so every cell hash-matches."""
    k_iters = 12
    # AS MATERIALIZED on every iteration is load-bearing (the MMR/D165
    # lesson): inlined, v12's reference chain re-expands the whole
    # upstream pipeline per step — measured 90 s at sf0.1 vs ~2 s
    # materialized.
    vs = ["""v0 AS MATERIALIZED (
      SELECT r.r, st.s, CAST(0 AS BIGINT) AS v
      FROM removals r CROSS JOIN states st)"""]
    for i in range(k_iters):
        vs.append(f"""v{i + 1} AS MATERIALIZED (
      SELECT rm.r, tr.s,
             CAST(SUM(CASE WHEN tr.t = rm.r THEN 0
                           WHEN tr.t = 'CONV' THEN tr.p * 1000000000
                           WHEN tr.t = 'NULL' THEN 0
                           ELSE tr.p * COALESCE(v.v, 0) END) // 1000000
                  AS BIGINT) AS v
      FROM removals rm CROSS JOIN trans tr
      LEFT JOIN v{i} v ON v.r = rm.r AND v.s = tr.t
      GROUP BY rm.r, tr.s)""")
    v_chain = ",\n    ".join(vs)
    return f"""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq
    ),
    pos AS (
      SELECT user_id, sid, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                ORDER BY ts, event_id) AS pos
      FROM sess
    ),
    fp AS (
      SELECT user_id, sid,
             MIN(CASE WHEN event_type = 'purchase' THEN pos END) AS fpos
      FROM pos GROUP BY user_id, sid
    ),
    kept AS (
      SELECT p.user_id, p.sid, p.event_type, p.pos, f.fpos
      FROM pos p JOIN fp f USING (user_id, sid)
      WHERE f.fpos IS NULL OR p.pos < f.fpos
    ),
    kt AS (
      SELECT *, lead(event_type) OVER (PARTITION BY user_id, sid
                                       ORDER BY pos) AS nxt,
             MIN(pos) OVER (PARTITION BY user_id, sid) AS minpos
      FROM kept
    ),
    trans_raw AS (
      SELECT event_type AS s,
             COALESCE(nxt, CASE WHEN fpos IS NOT NULL THEN 'CONV'
                                ELSE 'NULL' END) AS t
      FROM kt
      UNION ALL
      SELECT 'START', event_type FROM kt WHERE pos = minpos
      UNION ALL
      SELECT 'START', 'CONV' FROM fp WHERE fpos = 1
    ),
    c AS (SELECT s, t, CAST(COUNT(*) AS BIGINT) AS c
          FROM trans_raw GROUP BY s, t),
    ctot AS (SELECT s, SUM(c) AS n FROM c GROUP BY s),
    trans AS MATERIALIZED (
      SELECT c.s, c.t, CAST(c.c * 1000000 // ctot.n AS BIGINT) AS p
      FROM c JOIN ctot USING (s)),
    ch AS MATERIALIZED (SELECT DISTINCT s FROM trans WHERE s <> 'START'),
    removals AS MATERIALIZED (
      SELECT '__none__' AS r UNION ALL SELECT s FROM ch),
    states AS MATERIALIZED (SELECT DISTINCT s FROM trans),
    {v_chain}
    SELECT ch.s AS channel,
           b.v AS p_base_fp,
           rv.v AS p_removed_fp,
           CAST(CASE WHEN b.v > 0 THEN (b.v - rv.v) * 1000000 // b.v
                     ELSE 0 END AS BIGINT) AS removal_micro
    FROM ch
    JOIN v{k_iters} b ON b.r = '__none__' AND b.s = 'START'
    JOIN v{k_iters} rv ON rv.r = ch.s AND rv.s = 'START'
    ORDER BY channel
    """


@query("events_markov_attribution", _markov_oracle())
def q_events_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov REMOVAL-EFFECT attribution (D211, Anderl et al. 2014) —
    the data-driven counterpart of D181's heuristic U-shaped credits:
    model journeys as a first-order chain START → channels →
    {CONV, NULL} (30-min sessions, the D199 window; a session's first
    'purchase' absorbs into CONV, later events discarded; sessions
    without one absorb into NULL), then credit each channel by how
    much total conversion probability disappears when that channel's
    node is removed (transitions into it redirected to NULL — the
    standard removal-effect construction).

    Exactness across three runtimes: absorption probabilities are the
    truncating fixed-point recurrence v_{k+1}(s) = (Σ_t
    p_micro(s,t)·v_k(t)) // 10⁶ (v(CONV) ≡ 10⁹), run k = 12
    iterations — Python // ≡ DuckDB // on non-negative BIGINTs, and
    removal is monotone (every term is ≤ its baseline term, so the
    removal effect can never go negative under truncation). Scale
    split: sessionization + transition counting is the corpus-scale
    Spark work (two keyed windows + one partial agg — the D199
    shape); the chain itself is |channels|² ≤ ~100 integer cells, so
    the 12-iteration solve runs on COLLECTED counts in driver Python
    (the BPE-winner/GD-weights metadata-scale license) and the oracle
    replays it as 12 unrolled relational CTE iterations. Planted
    two-path fixture pins the removal ranking in
    tests/test_timeseries_and_quality.py."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    sess = _sessions_30min(ev, "ts", "event_id")
    ws = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    pos = sess.select(
        "user_id", "sid", "event_type",
        F.row_number().over(ws).alias("pos"),
    )
    fp = pos.groupBy("user_id", "sid").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("pos"))
        ).alias("fpos")
    )
    kept = pos.join(fp, ["user_id", "sid"]).filter(
        F.col("fpos").isNull() | (F.col("pos") < F.col("fpos"))
    )
    wk = Window.partitionBy("user_id", "sid").orderBy("pos")
    kt = kept.select(
        "user_id", "sid", "event_type", "pos", "fpos",
        F.lead("event_type").over(wk).alias("nxt"),
        F.min("pos").over(Window.partitionBy("user_id", "sid")).alias("minpos"),
    )
    t1 = kt.select(
        F.col("event_type").alias("s"),
        F.coalesce(
            F.col("nxt"),
            F.when(F.col("fpos").isNotNull(), F.lit("CONV")).otherwise(
                F.lit("NULL")
            ),
        ).alias("t"),
    )
    t2 = kt.filter(F.col("pos") == F.col("minpos")).select(
        F.lit("START").alias("s"), F.col("event_type").alias("t")
    )
    t3 = fp.filter(F.col("fpos") == 1).select(
        F.lit("START").alias("s"), F.lit("CONV").alias("t")
    )
    counts = (
        t1.unionByName(t2).unionByName(t3)
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .collect()  # |states|² <= ~100 integer cells — metadata scale
    )
    ctot: dict[str, int] = {}
    for r in counts:
        ctot[r["s"]] = ctot.get(r["s"], 0) + r["c"]
    p = {(r["s"], r["t"]): r["c"] * 1000000 // ctot[r["s"]] for r in counts}
    states = sorted(ctot)
    channels = sorted(s for s in states if s != "START")

    def absorb(removed: str | None) -> int:
        v = {s: 0 for s in states}
        for _ in range(12):
            nv = {}
            for s in states:
                acc = 0
                for (src, dst), pm in p.items():
                    if src != s or dst == removed or dst == "NULL":
                        continue
                    acc += pm * (1000000000 if dst == "CONV" else v.get(dst, 0))
                nv[s] = acc // 1000000
            v = nv
        return v.get("START", 0)

    base = absorb(None)
    rows = []
    for ch in channels:
        rem = absorb(ch)
        rows.append(
            (
                ch,
                base,
                rem,
                (base - rem) * 1000000 // base if base > 0 else 0,
            )
        )
    return spark.createDataFrame(
        rows,
        "channel string, p_base_fp long, p_removed_fp long, removal_micro long",
    ).orderBy("channel")


_SEASONAL_ORACLE = """
    WITH daily AS (
      SELECT CAST(CAST(date_trunc('day', ts) AS DATE) - DATE '1970-01-01'
                  AS BIGINT) AS ed,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    dw AS (SELECT ed, n, ed % 7 AS dow FROM daily),
    prof AS (
      SELECT dow, CAST(SUM(n) * 1000000 // COUNT(*) AS BIGINT) AS dow_mean_micro
      FROM dw GROUP BY dow
    )
    SELECT strftime(DATE '1970-01-01' + INTERVAL (d.ed) DAY, '%Y-%m-%d') AS day,
           CAST(d.dow AS BIGINT) AS dow, d.n, p.dow_mean_micro,
           CAST(d.n * 1000000 - p.dow_mean_micro AS BIGINT) AS resid_micro,
           CAST(CASE WHEN abs(d.n * 1000000 - p.dow_mean_micro) * 2
                          > p.dow_mean_micro
                     THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM dw d JOIN prof p USING (dow)
    """


@query("events_seasonal_baseline", _SEASONAL_ORACLE)
def q_events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive DECOMPOSITION of the daily event series (D214) —
    the weekday-profile baseline every ops dashboard subtracts before
    calling something an anomaly (a quiet Sunday is not an incident;
    CUSUM D195 and MAD D134 both fire on raw level shifts that are
    just seasonality): day-of-week as the engine-free ``epoch_day %
    7`` (the engines' dayofweek() conventions differ — Spark 1=Sunday,
    DuckDB 0=Sunday — so neither is used), per-dow mean in truncating
    micro-units, per-day residual, and a ±50%-of-baseline anomaly
    flag. One partial-agg to ~#days rows, one 7-row broadcast profile
    join; integer end-to-end. Hash-matched at three SFs; planted
    weekday-pattern fixture pinned in
    tests/test_timeseries_and_quality.py."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            F.unix_date(F.date_trunc("day", "ts").cast("date"))
            .cast("bigint")
            .alias("ed")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    dw = daily.select("ed", "n", (F.col("ed") % 7).alias("dow"))
    prof = dw.groupBy("dow").agg(
        F.expr("sum(n) * 1000000 div count(1)")
        .cast("bigint")
        .alias("dow_mean_micro")
    )
    resid = F.col("n") * F.lit(1000000) - F.col("dow_mean_micro")
    return dw.join(F.broadcast(prof), "dow").select(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("ed").cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        F.col("dow").cast("bigint").alias("dow"),
        "n",
        "dow_mean_micro",
        resid.cast("bigint").alias("resid_micro"),
        (F.abs(resid) * 2 > F.col("dow_mean_micro"))
        .cast("bigint")
        .alias("is_anomaly"),
    )


_SEQPAIR_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq
    ),
    pos AS (
      SELECT user_id, sid, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                ORDER BY ts, event_id) AS pos
      FROM sess
    ),
    spans AS (
      SELECT user_id, sid, event_type,
             MIN(pos) AS minp, MAX(pos) AS maxp
      FROM pos GROUP BY user_id, sid, event_type
    ),
    tot AS (SELECT CAST(COUNT(DISTINCT (user_id, sid)) AS BIGINT) AS ns
            FROM spans),
    peritem AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sess
                FROM spans GROUP BY event_type),
    ab AS (
      SELECT a.event_type AS antecedent, b.event_type AS consequent,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM spans a JOIN spans b
        ON a.user_id = b.user_id AND a.sid = b.sid
       AND a.event_type <> b.event_type AND a.minp < b.maxp
      GROUP BY 1, 2
    )
    SELECT ab.antecedent, ab.consequent, ab.n_ab,
           pa.n_sess AS n_a, pb.n_sess AS n_b,
           CAST(ab.n_ab * 1000000 // t.ns AS BIGINT) AS support_micro,
           CAST(ab.n_ab * 1000000 // pa.n_sess AS BIGINT) AS conf_micro
    FROM ab
    JOIN peritem pa ON pa.event_type = ab.antecedent
    JOIN peritem pb ON pb.event_type = ab.consequent
    CROSS JOIN tot t
    """


@query("events_sequential_pairs", _SEQPAIR_ORACLE)
def q_events_sequential_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED sequential patterns with gaps (D215, the length-2
    PrefixSpan/SPADE cell) — the third co-occurrence geometry: D88
    counts ADJACENT transitions, D104 counts unordered same-session
    presence; this counts "a occurs anywhere BEFORE b" per session
    ("a then eventually b" — funnel mining without D45's fixed
    template). Support decision is span-based: a session supports
    (a → b) iff min_pos(a) < max_pos(b) — exactly "some occurrence of
    a precedes some occurrence of b" — so the corpus collapses to ONE
    (session, type) span row (min/max positions) before the pairing
    join, which is bounded by the per-session type alphabet, never
    event-quadratic. Exact integer support/confidence in truncating
    micro-units. Hash-matched at three SFs; planted
    order-vs-presence fixture pinned in
    tests/test_timeseries_and_quality.py."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    sess = _sessions_30min(ev, "ts", "event_id")
    ws = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    pos = sess.select(
        "user_id", "sid", "event_type", F.row_number().over(ws).alias("pos")
    )
    spans = pos.groupBy("user_id", "sid", "event_type").agg(
        F.min("pos").alias("minp"), F.max("pos").alias("maxp")
    )
    tot = spans.select("user_id", "sid").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("ns")
    )
    peritem = spans.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sess")
    )
    a, b = spans.alias("a"), spans.alias("b")
    ab = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.event_type") != F.col("b.event_type"))
            & (F.col("a.minp") < F.col("b.maxp")),
        )
        .groupBy(
            F.col("a.event_type").alias("antecedent"),
            F.col("b.event_type").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    pa = peritem.select(
        F.col("event_type").alias("antecedent"), F.col("n_sess").alias("n_a")
    )
    pb = peritem.select(
        F.col("event_type").alias("consequent"), F.col("n_sess").alias("n_b")
    )
    return (
        ab.join(F.broadcast(pa), "antecedent")
        .join(F.broadcast(pb), "consequent")
        .crossJoin(F.broadcast(tot))
        .select(
            "antecedent", "consequent", "n_ab", "n_a", "n_b",
            F.expr("n_ab * 1000000 div ns").cast("bigint").alias("support_micro"),
            F.expr("n_ab * 1000000 div n_a").cast("bigint").alias("conf_micro"),
        )
    )


_CUPED_ORACLE = """
    WITH per_user AS (
      SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
               THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END), 0)
               AS BIGINT) AS x,
             CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
               THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END), 0)
               AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    armed AS (
      SELECT user_id, x, y,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 'A' ELSE 'B' END AS arm
      FROM per_user
    ),
    firstpass AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy
      FROM armed
    ),
    centers AS (
      SELECT n, sx, sy, CAST(sx // n AS BIGINT) AS cx,
             CAST(sy // n AS BIGINT) AS cy
      FROM firstpass
    ),
    pooled AS (
      SELECT c.n, c.sx, c.sy,
             CAST(c.sx - c.n * c.cx AS BIGINT) AS sxc,
             CAST(c.sy - c.n * c.cy AS BIGINT) AS syc,
             CAST(SUM((a.x - c.cx) * (a.x - c.cx)) AS BIGINT) AS sxx,
             CAST(SUM((a.x - c.cx) * (a.y - c.cy)) AS BIGINT) AS sxy,
             CAST(SUM((a.y - c.cy) * (a.y - c.cy)) AS BIGINT) AS syy
      FROM armed a CROSS JOIN centers c
      GROUP BY c.n, c.sx, c.sy, c.cx, c.cy
    ),
    theta AS (
      SELECT n, sx, sy,
             CAST(n * sxy - sxc * syc AS DOUBLE)
               / CAST(n * sxx - sxc * sxc AS DOUBLE) AS th,
             (CAST(n * sxy - sxc * syc AS DOUBLE)
               * CAST(n * sxy - sxc * syc AS DOUBLE))
               / (CAST(n * sxx - sxc * sxc AS DOUBLE)
                  * CAST(n * syy - syc * syc AS DOUBLE)) AS r2
      FROM pooled
    ),
    per_arm AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(x) AS BIGINT) AS sx_a, CAST(SUM(y) AS BIGINT) AS sy_a
      FROM armed GROUP BY arm
    )
    SELECT a.arm, a.n_users, a.sx_a AS x_sum_cents, a.sy_a AS y_sum_cents,
           CAST(a.sy_a AS DOUBLE) / a.n_users AS mean_y,
           CAST(a.sy_a AS DOUBLE) / a.n_users
             - t.th * (CAST(a.sx_a AS DOUBLE) / a.n_users
                       - CAST(t.sx AS DOUBLE) / t.n) AS mean_y_adj,
           t.th AS theta, t.r2 AS var_reduction
    FROM per_arm a CROSS JOIN theta t
    ORDER BY a.arm
    """


@query("abtest_cuped_adjust", _CUPED_ORACLE)
def q_abtest_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (D217, Deng et al., WSDM 2013) — the
    modern experimentation technique beyond D135's z-test and D186's
    Welch t: regress the experiment-period metric on each user's OWN
    pre-period covariate (θ = cov(x,y)/var(x) over the pooled
    population) and report the θ-adjusted arm means — the adjustment
    removes the between-user variance the covariate explains (r² of
    the regression = the variance-reduction fraction, also reported),
    shrinking confidence intervals without touching the treatment
    effect. Period split at 2024-01-16 (the fixture month's midpoint);
    arms by the D135 md5 hash split.

    Exactness: per-user cents are BIGINT sums; the second moments are
    computed on CENTERED values x−⌊Sx/n⌋, y−⌊Sy/n⌋ (round-10 ADVICE
    hardening — the covariance combinations n·Sxy − Sx·Sy are
    shift-invariant as exact integer identities, so θ/r² are unchanged
    while the intermediates shrink from Σx² magnitude to Σ(x−x̄)²
    spread, keeping 64-bit arithmetic honest at production scale; a
    raise_error guard asserts the remaining headroom where ANSI-off
    Spark would otherwise silently wrap). θ, r² and the adjusted means
    are single pinned IEEE expressions over those integers, identical
    operand order in both engines. Two user-keyed partial aggs (mean
    pass + centered moment pass) + a 2-row arm rollup + broadcast
    scalars.
    Hash-matched at three SFs; planted correlated-covariate fixture
    pins θ and the variance-reduction direction in
    tests/test_timeseries_and_quality.py."""
    ev = t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), cents)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("ts") >= F.lit("2024-01-16").cast("timestamp"), cents)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("y"),
    )
    armed = per_user.withColumn(
        "arm",
        F.when(
            F.substring(
                F.md5(F.col("user_id").cast("string").cast("binary")), 1, 1
            ).isin(*"01234567"),
            F.lit("A"),
        ).otherwise(F.lit("B")),
    )
    centers = armed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
    ).select(
        "n", "sx", "sy",
        F.expr("sx div n").cast("bigint").alias("cx"),
        F.expr("sy div n").cast("bigint").alias("cy"),
    )
    pooled = (
        armed.crossJoin(F.broadcast(centers))
        .groupBy("n", "sx", "sy", "cx", "cy")
        .agg(
            F.sum((F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx")))
            .cast("bigint")
            .alias("sxx"),
            F.sum((F.col("x") - F.col("cx")) * (F.col("y") - F.col("cy")))
            .cast("bigint")
            .alias("sxy"),
            F.sum((F.col("y") - F.col("cy")) * (F.col("y") - F.col("cy")))
            .cast("bigint")
            .alias("syy"),
        )
        .select(
            "n", "sx", "sy", "sxx", "sxy", "syy",
            (F.col("sx") - F.col("n") * F.col("cx")).cast("bigint").alias("sxc"),
            (F.col("sy") - F.col("n") * F.col("cy")).cast("bigint").alias("syc"),
        )
    )
    # Headroom guard (round-10 ADVICE): with ANSI off Spark WRAPS on
    # int64 overflow where DuckDB raises — assert the centered moments
    # leave room for the n·m combination instead of silently wrapping.
    _guard = (
        "greatest(sxx, syy, abs(sxy)) < (4611686018427387904L div n)"  # 2^62
    )
    theta = pooled.select(
        "n",
        "sx",
        F.expr(
            f"if({_guard}, "
            "cast(n * sxy - sxc * syc AS double) / cast(n * sxx - sxc * sxc AS double),"
            " raise_error('abtest_cuped_adjust: centered pooled moments exceed"
            " 64-bit headroom — widen to DECIMAL(38,0) before trusting theta'))"
        ).alias("th"),
        F.expr(
            "(cast(n * sxy - sxc * syc AS double) * cast(n * sxy - sxc * syc AS double))"
            " / (cast(n * sxx - sxc * sxc AS double) * cast(n * syy - syc * syc AS double))"
        ).alias("r2"),
    )
    per_arm = armed.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("sx_a"),
        F.sum("y").cast("bigint").alias("sy_a"),
    )
    return (
        per_arm.crossJoin(F.broadcast(theta))
        .select(
            "arm",
            "n_users",
            F.col("sx_a").alias("x_sum_cents"),
            F.col("sy_a").alias("y_sum_cents"),
            (F.col("sy_a").cast("double") / F.col("n_users")).alias("mean_y"),
            (
                F.col("sy_a").cast("double") / F.col("n_users")
                - F.col("th")
                * (
                    F.col("sx_a").cast("double") / F.col("n_users")
                    - F.col("sx").cast("double") / F.col("n")
                )
            ).alias("mean_y_adj"),
            F.col("th").alias("theta"),
            F.col("r2").alias("var_reduction"),
        )
        .orderBy("arm")
    )


_BOT_ORACLE = """
    WITH ordered AS (
      SELECT user_id, event_type, epoch_us(ts) AS us,
             epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    base AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
             CAST((MAX(us) - MIN(us)) // 1000000 AS BIGINT) AS span_s,
             CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
             CAST(COALESCE(SUM(gap_us // 1000000), 0) AS BIGINT) AS sum_gap_s
      FROM ordered GROUP BY user_id
    ),
    mean AS (
      SELECT user_id, n_events, n_types, span_s, n_gaps,
             CASE WHEN n_gaps = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(sum_gap_s // n_gaps AS BIGINT) END AS mean_gap_s
      FROM base
    ),
    var AS (
      SELECT o.user_id,
             CAST(SUM((o.gap_us // 1000000 - m.mean_gap_s)
                      * (o.gap_us // 1000000 - m.mean_gap_s)) AS BIGINT) AS var_sum
      FROM ordered o JOIN mean m ON m.user_id = o.user_id
      WHERE o.gap_us IS NOT NULL
      GROUP BY o.user_id
    ),
    topshare AS (
      SELECT user_id,
             CAST(MAX(cnt) AS BIGINT) AS top_cnt
      FROM (SELECT user_id, event_type, COUNT(*) AS cnt
            FROM events GROUP BY user_id, event_type)
      GROUP BY user_id
    )
    SELECT m.user_id, m.n_events, m.n_types, m.span_s, m.n_gaps,
           m.mean_gap_s,
           CAST(COALESCE(v.var_sum, 0) //
                CASE WHEN m.n_gaps = 0 THEN 1 ELSE m.n_gaps END AS BIGINT)
             AS gap_var_mean,
           CASE WHEN m.mean_gap_s = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(COALESCE(v.var_sum, 0) //
                     CASE WHEN m.n_gaps = 0 THEN 1 ELSE m.n_gaps END AS DOUBLE)
                     * 1000000.0
                     / (CAST(m.mean_gap_s AS DOUBLE) * CAST(m.mean_gap_s AS DOUBLE))
           END AS cv2_ppm,
           CAST(t.top_cnt * 1000000 // m.n_events AS BIGINT) AS top_type_share_ppm,
           CAST(CASE WHEN (m.mean_gap_s > 0
                           AND CAST(COALESCE(v.var_sum, 0) //
                               CASE WHEN m.n_gaps = 0 THEN 1 ELSE m.n_gaps END AS DOUBLE)
                               * 1000000.0
                               / (CAST(m.mean_gap_s AS DOUBLE) * CAST(m.mean_gap_s AS DOUBLE))
                               < 700000.0)
                     OR t.top_cnt * 1000000 // m.n_events > 900000
                THEN 1 ELSE 0 END AS BIGINT) AS is_bot_suspect
    FROM mean m
    LEFT JOIN var v ON v.user_id = m.user_id
    JOIN topshare t ON t.user_id = m.user_id
    """


@query("events_bot_scores", _BOT_ORACLE)
def q_events_bot_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user AUTOMATION/BOT telemetry (D223) — the abuse screen a
    behavioral-data pipeline runs before events become training signal
    (a scripted client poisons session/funnel/attribution statistics
    the way boilerplate poisons text corpora): per user, the
    inter-event gap regularity (squared coefficient of variation of
    gap seconds, in ppm — human arrivals are bursty with CV² ≈ 10⁶+;
    schedulers sit near 0), the dominant-event-type concentration, and
    a suspect flag (too-regular OR >90% one event type).

    Exactness: gaps in whole seconds (truncating µs→s), the variance
    pass centers on the TRUNCATING per-user mean (exact shift, same
    int64-headroom discipline as the CUPED fix — devs are bounded by
    the observation span, so dev² sums stay ≪ 2⁶³ for any plausible
    per-user history), and CV² is ONE multiply + ONE divide on
    int64-exact doubles (< 2⁵³, so IEEE-identical across engines).
    Plan: two user-keyed partial-agg shuffles (gap moments, type
    counts) + one lag window — no corpus-wide key anywhere, so the
    whole audit is embarrassingly parallel in users. Non-vacuous on
    the fixtures (planted regular-beacon fixture + a flag-liveness
    probe pinned in tests/test_round10_ops.py, so a datagen change
    that empties the flag column fails with a diagnosis)."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    ordered = ev.select(
        "user_id",
        "event_type",
        us.alias("us"),
        (us - F.lag(us).over(w)).alias("gap_us"),
    )
    base = ordered.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        F.expr("(max(us) - min(us)) div 1000000").cast("bigint").alias("span_s"),
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        F.coalesce(F.expr("sum(gap_us div 1000000)"), F.lit(0))
        .cast("bigint")
        .alias("sum_gap_s"),
    )
    mean = base.withColumn(
        "mean_gap_s",
        F.when(F.col("n_gaps") == 0, F.lit(0))
        .otherwise(F.expr("sum_gap_s div n_gaps"))
        .cast("bigint"),
    )
    var = (
        ordered.filter(F.col("gap_us").isNotNull())
        .join(mean.select("user_id", "mean_gap_s"), "user_id")
        .groupBy("user_id")
        .agg(
            F.expr(
                "sum((gap_us div 1000000 - mean_gap_s)"
                " * (gap_us div 1000000 - mean_gap_s))"
            )
            .cast("bigint")
            .alias("var_sum")
        )
    )
    topshare = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("user_id")
        .agg(F.max("cnt").cast("bigint").alias("top_cnt"))
    )
    gvm = F.expr(
        "coalesce(var_sum, 0) div (case when n_gaps = 0 then 1 else n_gaps end)"
    ).cast("bigint")
    joined = (
        mean.join(var, "user_id", "left")
        .join(topshare, "user_id")
        .withColumn("gap_var_mean", gvm)
    )
    cv2 = F.when(F.col("mean_gap_s") == 0, F.lit(0.0)).otherwise(
        F.col("gap_var_mean").cast("double")
        * F.lit(1000000.0)
        / (F.col("mean_gap_s").cast("double") * F.col("mean_gap_s").cast("double"))
    )
    top_ppm = F.expr("top_cnt * 1000000 div n_events").cast("bigint")
    return joined.select(
        "user_id", "n_events", "n_types", "span_s", "n_gaps", "mean_gap_s",
        "gap_var_mean",
        cv2.alias("cv2_ppm"),
        top_ppm.alias("top_type_share_ppm"),
        (
            ((F.col("mean_gap_s") > 0) & (cv2 < 700000.0))
            | (top_ppm > 900000)
        )
        .cast("bigint")
        .alias("is_bot_suspect"),
    )


_ACF_LAGS = (1, 2, 3, 24, 168)

_ACF_ORACLE = f"""
    WITH hourly AS (
      SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
    grid AS (
      SELECT g.h, COALESCE(hourly.n, 0) AS n
      FROM (SELECT unnest(generate_series(h0, h1)) AS h FROM bounds) g
      LEFT JOIN hourly ON hourly.h = g.h
    ),
    mstat AS (SELECT CAST(SUM(n) // COUNT(*) AS BIGINT) AS m,
                     CAST(COUNT(*) AS BIGINT) AS n_hours FROM grid),
    dev AS (SELECT h, n - (SELECT m FROM mstat) AS d FROM grid),
    den AS (SELECT CAST(SUM(d * d) AS BIGINT) AS den FROM dev),
    lags AS (SELECT unnest(ARRAY{list(_ACF_LAGS)}) AS lag),
    num AS (
      SELECT l.lag, CAST(SUM(a.d * b.d) AS BIGINT) AS num,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM lags l
      JOIN dev a ON TRUE
      JOIN dev b ON b.h = a.h + l.lag
      GROUP BY l.lag
    )
    SELECT CAST(n.lag AS BIGINT) AS lag, n.n_pairs, n.num, d.den,
           m.n_hours, m.m AS hourly_mean,
           CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE) AS acf
    FROM num n CROSS JOIN den d CROSS JOIN mstat m
    """


@query("events_hourly_acf", _ACF_ORACLE)
def q_events_hourly_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the HOURLY event-count series (D224) at the
    seasonality lags {1, 2, 3, 24, 168} — the statistic that DECIDES
    whether the seasonal-naive baseline (D214) is the right model
    before anyone subtracts it: a 24-hour (and 168-hour) ACF spike is
    daily (weekly) seasonality; a flat ACF says the CUSUM/MAD
    detectors (D195/D134) can run on raw levels. Zero-filled over the
    full [first, last] hour grid (missing hours ARE data — skipping
    them would splice non-adjacent hours into adjacent pairs and
    silently corrupt every lag product).

    Exactness: the series centers on the TRUNCATING grid mean and all
    moment sums are int64 (hourly counts are bounded by ingest rate —
    devs ≤ ~10⁶/hour keep dev² sums < 2⁶³ through ~10⁶ grid hours; the
    docstring bound is asserted nowhere because the fixture sits 6
    orders below it); acf is ONE division of int64-exact doubles
    (|num|, den < 2⁵³), bit-identical across engines. Plan: one
    hour-keyed partial agg collapses the corpus to ≤ #hours integer
    rows — a bounded, metadata-scale series at ANY corpus size (a
    century is < 10⁶ hours) — then grid/devs/lag joins all run on that
    bounded table."""
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.expr("unix_micros(date_trunc('hour', ts)) div 3600000000").alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    bounds = hourly.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = (
        bounds.select(F.explode(F.sequence("h0", "h1")).alias("h"))
        .join(hourly, "h", "left")
        .select("h", F.coalesce("n", F.lit(0)).alias("n"))
    )
    mstat = grid.agg(
        F.expr("sum(n) div count(1)").cast("bigint").alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
    )
    dev = grid.crossJoin(F.broadcast(mstat)).select(
        "h", (F.col("n") - F.col("m")).alias("d"), "m", "n_hours"
    )
    den = dev.agg(F.expr("sum(d * d)").cast("bigint").alias("den"))
    lags = spark.createDataFrame(
        [(lag,) for lag in _ACF_LAGS], "lag bigint"
    )
    a = dev.select(F.col("h").alias("ha"), F.col("d").alias("da"))
    b = dev.select(F.col("h").alias("hb"), F.col("d").alias("db"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("hb") == F.col("ha") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.expr("sum(da * db)").cast("bigint").alias("num"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(mstat))
        .select(
            F.col("lag").cast("bigint").alias("lag"),
            "n_pairs",
            "num",
            "den",
            "n_hours",
            F.col("m").alias("hourly_mean"),
            (F.col("num").cast("double") / F.col("den").cast("double")).alias("acf"),
        )
    )


# DuckDB twin of the concurrency sweep: identical 30-min gaps-and-
# islands sessionization, identical µs day clipping, identical
# (+1 at start / −1 at end, starts-first) prefix-sum ordering.
_CONCURRENCY_ORACLE = """
    WITH marked AS (
      SELECT user_id, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts) >= 1800000000
                  OR lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    numbered AS (
      SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS UNBOUNDED PRECEDING) AS sess
      FROM marked
    ),
    sessions AS (
      SELECT user_id, sess, MIN(us) AS s_us, MAX(us) AS e_us
      FROM numbered GROUP BY 1, 2
    ),
    slices AS (
      SELECT CAST(d AS BIGINT) AS day,
             greatest(s_us, d * 86400000000) AS a_us,
             least(e_us, (d + 1) * 86400000000 - 1) AS b_us
      FROM sessions,
           unnest(generate_series(s_us // 86400000000,
                                  e_us // 86400000000)) AS g(d)
    ),
    deltas AS (
      SELECT day, a_us AS us, 1 AS delta FROM slices
      UNION ALL
      SELECT day, b_us AS us, -1 AS delta FROM slices
    ),
    swept AS (
      SELECT day,
             SUM(delta) OVER (PARTITION BY day ORDER BY us, delta DESC
                              ROWS UNBOUNDED PRECEDING) AS running
      FROM deltas
    )
    SELECT strftime(make_timestamp(s.day * 86400000000), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_session_slices,
           CAST(p.peak AS BIGINT) AS peak_concurrent
    FROM slices s
    JOIN (SELECT day, MAX(running) AS peak FROM swept GROUP BY day) p
      USING (day)
    GROUP BY s.day, p.peak
    """


@query("events_concurrency_profile", _CONCURRENCY_ORACLE)
def q_events_concurrency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-concurrency profile (D229) — the capacity-planning statistic
    behind connection pools, rate limits and autoscaling targets: per
    day, how many 30-minute-gap sessions (the C6 sessionization,
    identical gaps-and-islands) were EVER active simultaneously. The
    classic interval sweep: +1 at session start, −1 at session end,
    prefix-sum, max. Sessions crossing midnight are clipped into
    per-day slices (a capacity question is asked per day), so the
    sweep state never crosses a partition boundary.

    Exactness: all arithmetic is integer µs; at equal timestamps
    starts order before ends (delta DESC — touching sessions COUNT as
    concurrent, the conservative capacity answer), and permuting equal
    (us, delta) rows cannot change any prefix maximum, so the sweep is
    deterministic on both engines. Plan: one user-keyed window
    (sessionize), one partial-agg (session bounds), a bounded
    day-explode (span of a 30-min-gap session is days only when a user
    never pauses 30 min — still bounded by span), then ONE day-
    partitioned ordered prefix sum — a range-partitioned sort per day,
    never a global single-task window. Output is ≤ #days rows."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    marked = ev.select(
        "user_id",
        us.alias("us"),
        (
            (us - F.lag(us).over(w) >= 1800000000)
            | F.lag(us).over(w).isNull()
        )
        .cast("bigint")
        .alias("new_s"),
    )
    wsum = Window.partitionBy("user_id").orderBy("us").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    numbered = marked.withColumn("sess", F.sum("new_s").over(wsum))
    sessions = numbered.groupBy("user_id", "sess").agg(
        F.min("us").alias("s_us"), F.max("us").alias("e_us")
    )
    slices = sessions.select(
        F.explode(
            F.sequence(
                F.expr("s_us div 86400000000"), F.expr("e_us div 86400000000")
            )
        ).alias("day"),
        "s_us",
        "e_us",
    ).select(
        "day",
        F.expr("greatest(s_us, day * 86400000000)").alias("a_us"),
        F.expr("least(e_us, (day + 1) * 86400000000 - 1)").alias("b_us"),
    )
    deltas = slices.select(
        "day", F.col("a_us").alias("us"), F.lit(1).alias("delta")
    ).unionByName(
        slices.select("day", F.col("b_us").alias("us"), F.lit(-1).alias("delta"))
    )
    wd = Window.partitionBy("day").orderBy(
        F.col("us"), F.col("delta").desc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    peaks = (
        deltas.withColumn("running", F.sum("delta").over(wd))
        .groupBy("day")
        .agg(F.max("running").cast("bigint").alias("peak_concurrent"))
    )
    counts = slices.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_session_slices")
    )
    return counts.join(peaks, "day").select(
        F.date_format(
            F.timestamp_micros(F.expr("day * 86400000000")), "yyyy-MM-dd"
        ).alias("day"),
        "n_session_slices",
        "peak_concurrent",
    )


# Cumulative Poisson(1) thresholds in millionths (floor), pinned as
# integer constants so both engines draw the IDENTICAL deterministic
# bootstrap weights: P(X<=k) for k=0..8.
_POIS1_CUM = (367879, 735758, 919698, 981011, 996340, 999405, 999916, 999989, 999998)
_BOOT_B = 200

_BOOT_W_SQL = " + ".join(
    f"CASE WHEN u >= {c} THEN 1 ELSE 0 END" for c in _POIS1_CUM
)
_BOOT_W_SPARK = " + ".join(f"cast(u >= {c} as int)" for c in _POIS1_CUM)

_BOOT_ORACLE = f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    armed AS (
      SELECT user_id, y,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 'A' ELSE 'B' END AS arm
      FROM per_user
    ),
    obs AS (
      SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS BIGINT) AS ya,
             CAST(SUM(CASE WHEN arm = 'B' THEN y ELSE 0 END) AS BIGINT) AS yb
      FROM armed
    ),
    drawn AS (
      SELECT b, arm, y,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':'
                                     || CAST(b AS VARCHAR)), 1, 8) AS BIGINT)
               % 1000000 AS u
      FROM armed, unnest(generate_series(0, {_BOOT_B - 1})) AS g(b)
    ),
    weighted AS (SELECT b, arm, y, {_BOOT_W_SQL} AS w FROM drawn),
    resampled AS (
      SELECT b,
             CAST(SUM(CASE WHEN arm = 'A' THEN w ELSE 0 END) AS BIGINT) AS wa,
             CAST(SUM(CASE WHEN arm = 'B' THEN w ELSE 0 END) AS BIGINT) AS wb,
             CAST(SUM(CASE WHEN arm = 'A' THEN w * y ELSE 0 END) AS BIGINT) AS wya,
             CAST(SUM(CASE WHEN arm = 'B' THEN w * y ELSE 0 END) AS BIGINT) AS wyb
      FROM weighted GROUP BY b
    ),
    diffs AS (
      SELECT b,
             CAST(wyb AS DOUBLE) / greatest(1, wb)
               - CAST(wya AS DOUBLE) / greatest(1, wa) AS diff,
             row_number() OVER (
               ORDER BY CAST(wyb AS DOUBLE) / greatest(1, wb)
                          - CAST(wya AS DOUBLE) / greatest(1, wa), b) AS rn
      FROM resampled
    )
    SELECT o.n_a AS n_users_a, o.n_b AS n_users_b,
           CAST(o.yb AS DOUBLE) / greatest(1, o.n_b)
             - CAST(o.ya AS DOUBLE) / greatest(1, o.n_a) AS diff_cents,
           lo.diff AS ci_lo_cents, hi.diff AS ci_hi_cents,
           CAST({_BOOT_B} AS BIGINT) AS n_resamples,
           CAST(CASE WHEN lo.diff <= 0 AND hi.diff >= 0 THEN 1 ELSE 0 END
                AS BIGINT) AS ci_covers_zero
    FROM obs o
    CROSS JOIN (SELECT diff FROM diffs WHERE rn = 5) lo
    CROSS JOIN (SELECT diff FROM diffs WHERE rn = 196) hi
    """


@query("abtest_bootstrap_ci", _BOOT_ORACLE)
def q_abtest_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the A/B mean difference
    (D230) — the nonparametric member of the experimentation family
    (z-test D135, Welch t D186, CUPED D217): the Poisson bootstrap
    (the STREAMING-friendly resampling scheme — each user draws an
    independent Poisson(1) multiplicity per resample, so no resample
    ever needs the full population in one place, which is why it is
    the standard bootstrap at fleet scale), B=200 resamples, and the
    95% percentile interval of the resampled mean differences.

    Determinism: the Poisson draws are md5-hash inverse-CDF lookups —
    u = md5(user:b) mod 1e6 against PINNED cumulative thresholds
    (millionth-precision floor of P(X≤k), k≤8) — so both engines
    draw byte-identical weights; the per-resample means are IEEE
    divisions of int64-exact sums; interval endpoints are EXACT order
    statistics (ranks ⌈αB/2⌉ = 5 and B+1−5 = 196, diff-then-b tie
    order pinned). Plan: one user-keyed partial agg, a ×B map-side
    explode (no shuffle growth — the explode feeds straight into a
    (b, arm)-keyed partial agg of B·2 rows), and the order statistics
    run on the B-row table (metadata-scale, documented single-task
    license). Arm split and cents quantization identical to D135/D217."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    per_user = ev.groupBy("user_id").agg(
        F.sum(cents).cast("bigint").alias("y")
    )
    armed = per_user.withColumn(
        "arm",
        F.when(
            F.substring(
                F.md5(F.col("user_id").cast("string").cast("binary")), 1, 1
            ).isin(*"01234567"),
            F.lit("A"),
        ).otherwise(F.lit("B")),
    )
    obs = armed.agg(
        F.sum((F.col("arm") == "A").cast("bigint")).cast("bigint").alias("n_a"),
        F.sum((F.col("arm") == "B").cast("bigint")).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm") == "A", F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("ya"),
        F.sum(F.when(F.col("arm") == "B", F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("yb"),
    )
    drawn = armed.select(
        "arm",
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        F.col("user_id"),
    ).withColumn(
        "u",
        F.expr(
            "cast(conv(substr(md5(cast(concat(cast(user_id as string), ':',"
            " cast(b as string)) AS binary)), 1, 8), 16, 10) AS bigint)"
            " % 1000000"
        ),
    )
    weighted = drawn.withColumn("w", F.expr(_BOOT_W_SPARK))
    resampled = weighted.groupBy("b").agg(
        F.sum(F.when(F.col("arm") == "A", F.col("w")).otherwise(0))
        .cast("bigint")
        .alias("wa"),
        F.sum(F.when(F.col("arm") == "B", F.col("w")).otherwise(0))
        .cast("bigint")
        .alias("wb"),
        F.sum(F.when(F.col("arm") == "A", F.col("w") * F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("wya"),
        F.sum(F.when(F.col("arm") == "B", F.col("w") * F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("wyb"),
    )
    diff = F.expr(
        "cast(wyb as double) / greatest(1, wb)"
        " - cast(wya as double) / greatest(1, wa)"
    )
    # B=200 rows: metadata-scale, single-task window licensed.
    diffs = resampled.select("b", diff.alias("diff")).withColumn(
        "rn", F.row_number().over(Window.orderBy("diff", "b"))
    )
    lo = diffs.filter(F.col("rn") == 5).select(F.col("diff").alias("ci_lo_cents"))
    hi = diffs.filter(F.col("rn") == _BOOT_B - 4).select(
        F.col("diff").alias("ci_hi_cents")
    )
    return (
        obs.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.col("n_a").alias("n_users_a"),
            F.col("n_b").alias("n_users_b"),
            F.expr(
                "cast(yb as double) / greatest(1, n_b)"
                " - cast(ya as double) / greatest(1, n_a)"
            ).alias("diff_cents"),
            "ci_lo_cents",
            "ci_hi_cents",
            F.lit(_BOOT_B).cast("bigint").alias("n_resamples"),
            ((F.col("ci_lo_cents") <= 0) & (F.col("ci_hi_cents") >= 0))
            .cast("bigint")
            .alias("ci_covers_zero"),
        )
    )


# DuckDB twin of the Holt fit: identical zero-filled day grid and the
# recursion replayed as a recursive CTE. The /4.0-then-floor form is
# deliberate: 4 is a power of two, so the double division is EXACT for
# |x| < 2^53 and floor() gives both engines the identical FLOOR
# division (integer div/// disagree between engines on negatives,
# and the trend term goes negative on any declining series).
_HOLT_ORACLE = """
    WITH RECURSIVE daily AS (
      SELECT event_type,
             epoch_us(date_trunc('day', ts)) // 86400000000 AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
    grid AS (
      SELECT t.event_type, g.d,
             row_number() OVER (PARTITION BY t.event_type ORDER BY g.d) AS rn,
             COALESCE(dy.y, 0) AS y
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series((SELECT d0 FROM bounds),
                                                (SELECT d1 FROM bounds))) AS d) g
      LEFT JOIN daily dy ON dy.event_type = t.event_type AND dy.d = g.d
    ),
    fit AS (
      SELECT event_type, rn, d, y,
             y AS l, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS resid
      FROM grid WHERE rn = 1
      UNION ALL
      SELECT g.event_type, g.rn, g.d, g.y,
             CAST(floor((g.y + 3 * (f.l + f.b)) / 4.0) AS BIGINT),
             CAST(floor((CAST(floor((g.y + 3 * (f.l + f.b)) / 4.0) AS BIGINT)
                         - f.l + 3 * f.b) / 4.0) AS BIGINT),
             g.y - (f.l + f.b)
      FROM fit f JOIN grid g
        ON g.event_type = f.event_type AND g.rn = f.rn + 1
    )
    SELECT event_type,
           strftime(make_timestamp(d * 86400000000), '%Y-%m-%d') AS day,
           y AS y_cents, l AS level_cents, b AS trend_cents,
           resid AS resid_cents,
           l + b AS forecast_next_cents
    FROM fit
    """


@query("events_holt_forecast", _HOLT_ORACLE)
def q_events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend double exponential smoothing (D232) — the
    trend-aware member of the forecasting family (EWMA D112 tracks
    level only; seasonal-naive D214 assumes a pure cycle; ACF D224
    DECIDES which model applies): per event type over the zero-filled
    daily cents series, the classic recursion with α = β = 1/4 —
    l_t = ⌊(y_t + 3(l+b))/4⌋, b_t = ⌊(l_t − l_{t−1} + 3b)/4⌋ — plus
    the one-step residual y_t − (l+b) (the forecast-error stream an
    anomaly monitor consumes) and the next-day forecast l+b.

    Exactness: the recursion divides by 4 via floor(x/4.0) — a power
    of two, so the double division is exact below 2⁵³ and FLOOR gives
    both engines identical semantics where integer div (toward zero)
    and // (toward −∞) would diverge on the negative trend values any
    declining series produces. The oracle replays the recursion as a
    recursive CTE (the D112 discipline). Plan: corpus-scale work is
    ONE (type, day)-keyed partial agg; the recursion runs per type
    over the ≤#days grid (a century < 40k rows/key) inside one
    applyInPandas with Python ints (`operators/windows.py:holt_fold`,
    which `holt_stream` folds per micro-batch) — sequential because
    each output depends on the previous OUTPUT, the one shape no
    window frame expresses."""
    import pandas as pd

    from mapreduce_project_spark.operators.windows import holt_fold

    grid = _daily_cents_grid(t(spark, sf_dir, "events"))

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        out = holt_fold(None, pdf["y"])[1]
        pdf["l"], pdf["b"], pdf["resid"] = (list(c) for c in zip(*out))
        return pdf

    fit = grid.groupBy("event_type").applyInPandas(
        holt, "event_type string, d long, y long, l long, b long, resid long"
    )
    return fit.select(
        "event_type",
        F.date_format(
            F.timestamp_micros(F.expr("d * 86400000000")), "yyyy-MM-dd"
        ).alias("day"),
        F.col("y").alias("y_cents"),
        F.col("l").alias("level_cents"),
        F.col("b").alias("trend_cents"),
        F.col("resid").alias("resid_cents"),
        (F.col("l") + F.col("b")).cast("bigint").alias("forecast_next_cents"),
    )


# DuckDB twin of the hazard table: identical per-user entry/conversion
# /censor days, identical k-grid at-risk suffix counts, identical
# truncating ppm hazard.
_HAZARD_ORACLE = """
    WITH per_user AS (
      SELECT user_id,
             MIN(epoch_us(date_trunc('day', ts)) // 86400000000) AS entry_d,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(date_trunc('day', ts)) // 86400000000
                 END) AS conv_d
      FROM events GROUP BY user_id
    ),
    horizon AS (
      SELECT MAX(epoch_us(date_trunc('day', ts)) // 86400000000) AS end_d
      FROM events
    ),
    spans AS (
      SELECT user_id,
             conv_d - entry_d AS conv_k,
             COALESCE(conv_d - entry_d,
                      (SELECT end_d FROM horizon) - entry_d) AS risk_end
      FROM per_user
    ),
    grid AS (SELECT unnest(generate_series(0, 29)) AS k)
    SELECT CAST(g.k AS BIGINT) AS k,
           CAST(SUM(CASE WHEN s.risk_end >= g.k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_at_risk,
           CAST(SUM(CASE WHEN s.conv_k = g.k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted,
           CAST(SUM(CASE WHEN s.conv_k = g.k THEN 1 ELSE 0 END) * 1000000
                // greatest(1, SUM(CASE WHEN s.risk_end >= g.k THEN 1 ELSE 0 END))
                AS BIGINT) AS hazard_ppm
    FROM grid g CROSS JOIN spans s
    GROUP BY g.k
    """


@query("events_retention_hazard", _HAZARD_ORACLE)
def q_events_retention_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time conversion hazard table (D234) — survival analysis
    without the float product: for each day k since a user's first
    event, how many users were still AT RISK (not yet converted, not
    yet censored by the observation horizon) and how many converted
    exactly on day k; hazard(k) = converted/at-risk in truncating ppm.
    This is the Kaplan-Meier sufficient-statistics table — the
    survival curve is Π(1 − h(k)), derivable downstream, but the
    hazard table itself is all-integer and therefore hash-exact where
    the cumulative product would be order-dependent float. Censoring
    is handled the way the estimator requires: a user observed for
    only c days leaves the risk set at k > c instead of polluting the
    denominator (the D48 retention matrix counts raw cohort returns;
    this is the censoring-correct version).

    Plan: ONE user-keyed partial agg (entry day, first-purchase day)
    collapses the corpus to one row per user; the 30-row k-grid then
    cross-joins that per-user table with the at-risk/converted
    predicates folded into ONE partial agg — no explode, no window.
    At 100 TB the per-user table is the only corpus-scale shuffle.
    Non-vacuous at all SFs (30 rows always; purchase events are ~20%
    of the fixture mix)."""
    ev = t(spark, sf_dir, "events")
    day = F.expr("unix_micros(date_trunc('day', ts)) div 86400000000")
    per_user = ev.groupBy("user_id").agg(
        F.min(day).alias("entry_d"),
        F.min(F.when(F.col("event_type") == "purchase", day)).alias("conv_d"),
    )
    horizon = ev.agg(F.max(day).alias("end_d"))
    spans = per_user.crossJoin(F.broadcast(horizon)).select(
        (F.col("conv_d") - F.col("entry_d")).alias("conv_k"),
        F.coalesce(
            F.col("conv_d") - F.col("entry_d"),
            F.col("end_d") - F.col("entry_d"),
        ).alias("risk_end"),
    )
    grid = spark.range(30).select(F.col("id").cast("bigint").alias("k"))
    return (
        spans.crossJoin(F.broadcast(grid))
        .groupBy("k")
        .agg(
            F.sum((F.col("risk_end") >= F.col("k")).cast("bigint"))
            .cast("bigint")
            .alias("n_at_risk"),
            F.sum((F.col("conv_k") == F.col("k")).cast("bigint"))
            .cast("bigint")
            .alias("n_converted"),
        )
        .select(
            "k",
            "n_at_risk",
            "n_converted",
            F.expr("n_converted * 1000000 div greatest(1, n_at_risk)")
            .cast("bigint")
            .alias("hazard_ppm"),
        )
    )


# DuckDB twin of the behavioral-release flagship: identical bot gates,
# identical bands, identical k-anonymity suppression, identical
# pseudonymization.
_BEHAVE_ORACLE = """
    WITH per_user AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents,
             CAST((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000
                  AS BIGINT) AS span_s,
             CAST(MAX(cnt) AS BIGINT) AS top_cnt
      FROM (
        SELECT user_id, event_type, ts, value,
               COUNT(*) OVER (PARTITION BY user_id, event_type) AS cnt
        FROM events
      ) GROUP BY user_id
    ),
    screened AS (
      SELECT *,
             CASE WHEN top_cnt * 1000000 // n_events > 900000
                       AND n_events >= 10 THEN 1
                  WHEN n_events * 86400 > 200 * greatest(1, span_s)
                       AND n_events >= 10 THEN 1
                  ELSE 0 END AS is_bot
      FROM per_user
    ),
    banded AS (
      SELECT user_id, n_events, n_purchases, value_cents,
             CASE WHEN n_events < 3 THEN 0 WHEN n_events < 10 THEN 1
                  WHEN n_events < 30 THEN 2 ELSE 3 END AS activity_band,
             least(CAST(value_cents // 10000 AS BIGINT), 10) AS value_band
      FROM screened WHERE is_bot = 0
    ),
    cells AS (
      SELECT activity_band, value_band, CAST(COUNT(*) AS BIGINT) AS cell_n
      FROM banded GROUP BY 1, 2
    )
    SELECT substr(md5('rel10:' || CAST(b.user_id AS VARCHAR)), 1, 16)
             AS pseudo_uid,
           b.activity_band, b.value_band, c.cell_n,
           b.n_purchases,
           CAST(b.value_cents // 100 AS BIGINT) AS value_dollars
    FROM banded b
    JOIN cells c USING (activity_band, value_band)
    WHERE c.cell_n >= 5
    """


@query("assemble_behavioral_dataset", _BEHAVE_ORACLE)
def q_assemble_behavioral_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-data RELEASE flagship (D242) — the events-side
    sibling of the text flagships v1–v6 (D207 gates documents; this
    gates PEOPLE): per-user features screened, banded, k-anonymity-
    suppressed and pseudonymized, i.e. the exact pipeline that turns
    raw clickstream into a shareable modeling table. Stages: (1) BOT
    SCREEN — drop users whose dominant event type exceeds 90% or whose
    average rate exceeds 200 events/day (both D223 criteria in their
    integer forms, applied only at n ≥ 10 so thin histories are not
    auto-flagged); (2) BANDING — activity (4 bands) and capped value
    deciles replace raw counts (the generalization step); (3)
    K-ANONYMITY — cells of (activity_band, value_band) under 5 users
    are suppressed entirely (D131's gate applied, not just audited);
    (4) PSEUDONYMIZATION — salted md5 ids (D141's convention) and
    dollar-quantized value. Every released row still carries its cell
    size, so a downstream consumer can verify the k-gate held.

    Exactness: pure integer counts, truncating ppm/band divisions, the
    rate gate as an exact integer cross-multiplication (n·86400 >
    200·span — no division at all). Plan: one user-keyed window +
    partial agg (features), one metadata-scale cell agg broadcast
    back, pure map-side release projection — the whole flagship is
    TWO shuffles. Non-vacuous at all three SFs."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window

    cnt_w = Window.partitionBy("user_id", "event_type")
    base = ev.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        F.count(F.lit(1)).over(cnt_w).alias("cnt"),
    )
    per_user = base.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum((F.col("event_type") == "purchase").cast("bigint"))
        .cast("bigint")
        .alias("n_purchases"),
        F.sum("cents").cast("bigint").alias("value_cents"),
        F.expr("(max(us) - min(us)) div 1000000").cast("bigint").alias("span_s"),
        F.max("cnt").cast("bigint").alias("top_cnt"),
    )
    screened = per_user.withColumn(
        "is_bot",
        F.expr(
            "case when top_cnt * 1000000 div n_events > 900000"
            " and n_events >= 10 then 1 "
            "when n_events * 86400 > 200 * greatest(1, span_s)"
            " and n_events >= 10 then 1 else 0 end"
        ),
    )
    banded = screened.filter(F.col("is_bot") == 0).select(
        "user_id",
        "n_events",
        "n_purchases",
        "value_cents",
        F.expr(
            "case when n_events < 3 then 0 when n_events < 10 then 1"
            " when n_events < 30 then 2 else 3 end"
        )
        .cast("bigint")
        .alias("activity_band"),
        F.expr("least(value_cents div 10000, 10)")
        .cast("bigint")
        .alias("value_band"),
    )
    cells = banded.groupBy("activity_band", "value_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("cell_n")
    )
    return (
        banded.join(F.broadcast(cells), ["activity_band", "value_band"])
        .filter(F.col("cell_n") >= 5)
        .select(
            F.expr(
                "substr(md5(cast(concat('rel10:', cast(user_id as string))"
                " as binary)), 1, 16)"
            ).alias("pseudo_uid"),
            "activity_band",
            "value_band",
            "cell_n",
            "n_purchases",
            F.expr("value_cents div 100").cast("bigint").alias("value_dollars"),
        )
    )


# DuckDB twin of the Shapley pass: identical 4-bit exposure masks,
# identical subset-containment coalition values v(S), identical
# s!(n-1-s)! integer weights (x24) and the truncating micro render.
_SHAPLEY_ORACLE = """
    WITH peru AS (
      SELECT user_id,
             CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                + 2 * MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                + 4 * MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                + 8 * MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS mask,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS conv
      FROM events GROUP BY user_id
    ),
    mcnt AS (
      SELECT mask, CAST(SUM(conv) AS BIGINT) AS conv
      FROM peru GROUP BY mask
    ),
    v AS (
      SELECT s.s, CAST(COALESCE(SUM(m.conv), 0) AS BIGINT) AS v
      FROM range(0, 16) AS s(s)
      LEFT JOIN mcnt m ON (m.mask & s.s) = m.mask
      GROUP BY s.s
    ),
    phi AS (
      SELECT i.i AS ch,
             CAST(SUM(
               CASE bit_count(s.s)
                 WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END
               * (vi.v - vs.v)) AS BIGINT) AS phi_x24
      FROM range(0, 4) AS i(i)
      JOIN range(0, 16) AS s(s) ON (s.s & (1 << i.i)) = 0
      JOIN v vs ON vs.s = s.s
      JOIN v vi ON vi.s = (s.s | (1 << i.i))
      GROUP BY i.i
    ),
    tot AS (
      SELECT CAST(SUM(phi_x24) AS BIGINT) AS sum_phi FROM phi
    ),
    scalars AS (
      SELECT (SELECT v FROM v WHERE s = 15) AS v_full,
             (SELECT v FROM v WHERE s = 0) AS v_empty,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM peru) AS n_users,
             (SELECT CAST(SUM(conv) AS BIGINT) FROM peru) AS n_converted
    )
    SELECT ['click', 'error', 'signup', 'view'][phi.ch + 1] AS channel,
           phi.phi_x24,
           phi.phi_x24 * 1000000 // 24 AS phi_micro,
           CASE WHEN tot.sum_phi = 0 THEN 0
                ELSE phi.phi_x24 * 1000000 // tot.sum_phi END
             AS phi_share_ppm,
           scalars.v_full, scalars.v_empty, scalars.n_users,
           scalars.n_converted
    FROM phi CROSS JOIN tot CROSS JOIN scalars
    """


@query("events_shapley_attribution", _SHAPLEY_ORACLE)
def q_events_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution (D249) — the
    game-theoretic member completing the attribution family
    (position-based D181 is a fixed heuristic, Markov removal-effect
    D211 is path-model-based; Shapley is the axiomatically fair split
    marketing science actually argues for, and with a SMALL fixed
    channel universe it is exactly computable — no sampling): the
    coalition game is v(S) = conversions among users whose whole
    exposure set fits inside S (a user needing an absent channel is
    unreachable), phi_i = sum over S not containing i of
    s!(n-1-s)!/n! * (v(S+i) - v(S)).

    Exactness: n = 4 channels (click/error/signup/view; purchase is
    the conversion), so the factorial weights x24 are the integers
    {6,2,2,6} by |S| and phi_x24 is an exact BIGINT; v is MONOTONE
    (mask-containment), so every marginal is >= 0 and the micro/ppm
    renders are plain truncating divisions; efficiency (sum phi =
    v(full) - v(empty), with v(empty) = organic conversions Shapley
    correctly refuses to attribute) is pinned by the planted fixture.
    Plan: ONE user-keyed partial agg collapses the corpus to <= 16
    exposure-mask rows; the 16-subset coalition table, the 32-row
    (channel, subset) join and the weights all live on metadata-scale
    tables — the classic sufficient-statistics shape (the D230
    bootstrap discipline): corpus work is one shuffle, game theory is
    free. 4 rows at any scale."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_type")
    peru = ev.groupBy("user_id").agg(
        F.expr(
            "cast(max(case when event_type = 'click' then 1 else 0 end)"
            " + 2 * max(case when event_type = 'error' then 1 else 0 end)"
            " + 4 * max(case when event_type = 'signup' then 1 else 0 end)"
            " + 8 * max(case when event_type = 'view' then 1 else 0 end)"
            " as bigint)"
        ).alias("mask"),
        F.expr(
            "cast(max(case when event_type = 'purchase' then 1 else 0 end)"
            " as bigint)"
        ).alias("conv"),
    )
    mcnt = peru.groupBy("mask").agg(F.sum("conv").cast("bigint").alias("conv"))
    subsets = spark.range(0, 16).select(F.col("id").alias("s"))
    v = (
        subsets.join(
            F.broadcast(mcnt), F.expr("(mask & s) = mask"), "left"
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("conv"), F.lit(0)).cast("bigint").alias("v"))
    )
    chans = spark.range(0, 4).select(F.col("id").alias("ch"))
    vs = v.select(F.col("s").alias("s0"), F.col("v").alias("v_s"))
    vi = v.select(F.col("s").alias("s1"), F.col("v").alias("v_si"))
    phi = (
        chans.join(F.broadcast(vs), F.expr("(s0 & shiftleft(1, ch)) = 0"))
        .join(
            F.broadcast(vi),
            F.expr("s1 = (s0 | shiftleft(1, ch))"),
        )
        .groupBy("ch")
        .agg(
            F.expr(
                "cast(sum(case bit_count(s0)"
                " when 0 then 6 when 1 then 2 when 2 then 2 else 6 end"
                " * (v_si - v_s)) as bigint)"
            ).alias("phi_x24")
        )
    )
    tot = phi.agg(F.sum("phi_x24").cast("bigint").alias("sum_phi"))
    scalars = (
        v.filter(F.col("s") == 15)
        .select(F.col("v").alias("v_full"))
        .crossJoin(v.filter(F.col("s") == 0).select(F.col("v").alias("v_empty")))
        .crossJoin(
            peru.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_users"),
                F.sum("conv").cast("bigint").alias("n_converted"),
            )
        )
    )
    return (
        phi.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(scalars))
        .select(
            F.expr(
                "element_at(array('click', 'error', 'signup', 'view'), "
                "cast(ch as int) + 1)"
            ).alias("channel"),
            "phi_x24",
            F.expr("phi_x24 * 1000000 div 24").cast("bigint").alias("phi_micro"),
            F.expr(
                "case when sum_phi = 0 then 0"
                " else phi_x24 * 1000000 div sum_phi end"
            )
            .cast("bigint")
            .alias("phi_share_ppm"),
            "v_full", "v_empty", "n_users", "n_converted",
        )
    )


# DuckDB twin of the Holt-Winters fit: identical zero-filled daily
# grid (the D232 construction), identical first-7-day init (l0 =
# truncating mean, seasonals = deviations, b0 = 0), identical
# floor(x/4.0) power-of-two recursion carrying the last-7 seasonals
# as a LIST through the recursive CTE.
_HW_LT = (
    "CAST(floor((g.y - f.slist[1] + 3 * (f.l + f.b)) / 4.0) AS BIGINT)"
)
_HW_ORACLE = f"""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             epoch_us(date_trunc('day', ts)) // 86400000000 AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
    grid AS (
      SELECT t.event_type, g.d,
             row_number() OVER (PARTITION BY t.event_type ORDER BY g.d) AS rn,
             COALESCE(dy.y, 0) AS y
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series((SELECT d0 FROM bounds),
                                                (SELECT d1 FROM bounds))) AS d) g
      LEFT JOIN daily dy ON dy.event_type = t.event_type AND dy.d = g.d
    ),
    init AS (
      SELECT event_type,
             CAST(SUM(y) // 7 AS BIGINT) AS l0,
             list(y ORDER BY rn) AS y7
      FROM grid WHERE rn <= 7 GROUP BY event_type
    ),
    fit AS (
      SELECT g.event_type, g.rn, g.d, g.y,
             i.l0 AS l, CAST(0 AS BIGINT) AS b,
             CAST(0 AS BIGINT) AS s, CAST(0 AS BIGINT) AS resid,
             list_transform(i.y7, v -> CAST(v - i.l0 AS BIGINT)) AS slist
      FROM grid g JOIN init i ON i.event_type = g.event_type
      WHERE g.rn = 7
      UNION ALL
      SELECT g.event_type, g.rn, g.d, g.y,
             {_HW_LT},
             CAST(floor(({_HW_LT} - f.l + 3 * f.b) / 4.0) AS BIGINT),
             CAST(floor((g.y - {_HW_LT} + 3 * f.slist[1]) / 4.0) AS BIGINT),
             g.y - (f.l + f.b + f.slist[1]),
             list_append(f.slist[2:],
               CAST(floor((g.y - {_HW_LT} + 3 * f.slist[1]) / 4.0) AS BIGINT))
      FROM fit f JOIN grid g
        ON g.event_type = f.event_type AND g.rn = f.rn + 1
    )
    SELECT event_type,
           strftime(make_timestamp(d * 86400000000), '%Y-%m-%d') AS day,
           y AS y_cents, l AS level_cents, b AS trend_cents,
           s AS seasonal_cents, resid AS resid_cents,
           l + b + slist[1] AS forecast_next_cents
    FROM fit WHERE rn >= 8
    """


@query("events_holt_winters", _HW_ORACLE)
def q_events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE SEASONAL smoothing (D250, m = 7 days) —
    the model the forecasting family was converging on (EWMA D112:
    level; Holt D232: level+trend; seasonal-naive D214: cycle only;
    ACF D224 says WHEN a weekly cycle exists; Holt-Winters fits level
    + trend + the 7-day seasonal profile SIMULTANEOUSLY — the
    capacity-planning forecast for any weekly-periodic event stream):
    per event type over the zero-filled daily cents grid, with
    alpha = beta = gamma = 1/4 —
      l_t = floor((y_t - s_{{t-7}} + 3(l+b))/4),
      b_t = floor((l_t - l_{{t-1}} + 3b)/4),
      s_t = floor((y_t - l_t + 3 s_{{t-7}})/4),
    the one-step residual y_t - (l + b + s_{{t-7}}) and the next-day
    forecast l_t + b_t + s_{{t-6}}.

    Exactness: every division is by the power of two 4 via
    floor(x/4.0) — exact below 2^53 and FLOOR-identical across
    engines on the negative seasonals/trends any real series produces
    (the D232 discipline); init is pinned (l0 = truncating mean of
    the first 7 days — non-negative so // is floor, b0 = 0, seasonals
    = first-week deviations), and the oracle carries the rolling
    last-7 seasonals as a LIST through a recursive CTE, so the whole
    fit is replayable in SQL. Plan: corpus-scale work is ONE (type,
    day)-keyed partial agg; the recursion runs per type over the
    <=#days grid inside one applyInPandas with Python ints
    (`operators/windows.py:holt_winters_fold`, which
    `holt_winters_stream` folds per micro-batch; each
    output depends on the previous OUTPUT and the output 7 steps back
    — the doubly-stateful shape no window frame expresses). Rows:
    (#days - 7) per type."""
    import pandas as pd

    from mapreduce_project_spark.operators.windows import holt_winters_fold

    ev = t(spark, sf_dir, "events")
    grid = _daily_cents_grid(ev)

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        out = holt_winters_fold(None, pdf["y"])[1]
        return pd.DataFrame(
            [
                (et, int(d), int(y), *o)
                for et, d, y, o in zip(pdf["event_type"], pdf["d"], pdf["y"], out)
                if o is not None
            ],
            columns=["event_type", "d", "y", "l", "b", "s", "resid", "fc"],
        )

    fit = grid.groupBy("event_type").applyInPandas(
        hw,
        "event_type string, d long, y long, l long, b long, s long,"
        " resid long, fc long",
    )
    return fit.select(
        "event_type",
        F.date_format(
            F.timestamp_micros(F.expr("d * 86400000000")), "yyyy-MM-dd"
        ).alias("day"),
        F.col("y").alias("y_cents"),
        F.col("l").alias("level_cents"),
        F.col("b").alias("trend_cents"),
        F.col("s").alias("seasonal_cents"),
        F.col("resid").alias("resid_cents"),
        F.col("fc").alias("forecast_next_cents"),
    )


# DuckDB twin of the drawdown pass: identical zero-filled daily cents
# grid (the D232/D250 construction), identical running-peak window and
# integer drawdown, identical (drawdown DESC, day ASC) champion.
_DRAWDOWN_ORACLE = """
    WITH daily AS (
      SELECT event_type,
             epoch_us(date_trunc('day', ts)) // 86400000000 AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
    grid AS (
      SELECT t.event_type, g.d, COALESCE(dy.y, 0) AS y
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series((SELECT d0 FROM bounds),
                                                (SELECT d1 FROM bounds))) AS d) g
      LEFT JOIN daily dy ON dy.event_type = t.event_type AND dy.d = g.d
    ),
    cum AS (
      SELECT event_type, d, y,
             CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY d) AS BIGINT)
               AS equity
      FROM grid
    ),
    dd AS (
      SELECT event_type, d, y, equity,
             CAST(MAX(equity) OVER (PARTITION BY event_type ORDER BY d)
                  AS BIGINT) AS peak,
             CAST(MAX(equity) OVER (PARTITION BY event_type ORDER BY d)
                  - equity AS BIGINT) AS drawdown
      FROM cum
    ),
    worst AS (
      SELECT event_type, d AS worst_day, drawdown AS max_drawdown,
             peak AS peak_at_worst
      FROM dd
      QUALIFY row_number() OVER (
        PARTITION BY event_type ORDER BY drawdown DESC, d ASC) = 1
    )
    SELECT w.event_type,
           strftime(make_timestamp(w.worst_day * 86400000000), '%Y-%m-%d')
             AS worst_day,
           w.max_drawdown, w.peak_at_worst,
           CASE WHEN w.peak_at_worst = 0 THEN 0
                ELSE CAST(w.max_drawdown * 1000000 // w.peak_at_worst
                     AS BIGINT) END AS drawdown_ppm,
           (SELECT CAST(MAX(equity) AS BIGINT) FROM dd x
            WHERE x.event_type = w.event_type) AS peak_equity,
           (SELECT CAST(equity AS BIGINT) FROM dd x
            WHERE x.event_type = w.event_type
            ORDER BY d DESC LIMIT 1) AS final_equity
    FROM worst w
    """


@query("events_max_drawdown", _DRAWDOWN_ORACLE)
def q_events_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per event type (D259) — the risk statistic
    completing the financial/time-series family (OHLC D172 bars, TWAP
    D160, Lorenz/Gini D239 concentration; drawdown answers "how far
    below its best-ever cumulative level did this series fall, and
    when" — for a revenue stream it is the worst cumulative shortfall
    an anomaly post-mortem hunts for, and the same running-peak shape
    prices any high-water-mark contract): over each type's zero-filled
    daily cents grid, the cumulative equity curve, its running peak,
    the max (peak - equity) gap with a (drawdown DESC, day ASC)
    champion, and the relative drawdown in truncating ppm.

    Exactness: all-integer cents; the equity curve and running peak
    are per-type ORDER BY day windows over the <=#days grid (bounded
    per key — never a global window; a century is < 40k rows/key), and
    the champion tie-break is total-ordered. Plan: ONE (type, day)
    partial agg collapses the corpus; everything after runs on the
    bounded grid. One row per event type."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    grid = _daily_cents_grid(ev)
    wcum = Window.partitionBy("event_type").orderBy("d")
    dd = (
        grid.withColumn("equity", F.sum("y").over(wcum).cast("bigint"))
        .withColumn("peak", F.max("equity").over(wcum).cast("bigint"))
        .withColumn("drawdown", (F.col("peak") - F.col("equity")).cast("bigint"))
    )
    wpick = Window.partitionBy("event_type").orderBy(
        F.col("drawdown").desc(), F.col("d").asc()
    )
    worst = (
        dd.withColumn("rn", F.row_number().over(wpick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.date_format(
                F.timestamp_micros(F.expr("d * 86400000000")), "yyyy-MM-dd"
            ).alias("worst_day"),
            F.col("drawdown").alias("max_drawdown"),
            F.col("peak").alias("peak_at_worst"),
        )
    )
    summary = dd.groupBy("event_type").agg(
        F.max("equity").cast("bigint").alias("peak_equity"),
        F.expr("max_by(equity, d)").cast("bigint").alias("final_equity"),
    )
    return worst.join(summary, "event_type").select(
        "event_type", "worst_day", "max_drawdown", "peak_at_worst",
        F.expr(
            "case when peak_at_worst = 0 then 0"
            " else cast(max_drawdown * 1000000 div peak_at_worst as bigint) end"
        ).alias("drawdown_ppm"),
        "peak_equity", "final_equity",
    )


# DuckDB twin of the conversion-lag table: identical first-signup /
# first-purchase-after-signup per user, identical month cohorts,
# identical 4x-scaled exact quartiles over converted users and the
# -1 no-conversion sentinel.
_CONVLAG_ORACLE = """
    WITH s AS (
      SELECT user_id, MIN(ts) AS s_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.s_ts
      GROUP BY e.user_id
    ),
    u AS (
      SELECT s.user_id,
             strftime(date_trunc('month', s.s_ts), '%Y-%m') AS cohort,
             CASE WHEN p.p_ts IS NULL THEN NULL
                  ELSE (epoch_us(p.p_ts) - epoch_us(s.s_ts)) // 1000000
             END AS lag_s
      FROM s LEFT JOIN p ON p.user_id = s.user_id
    ),
    q AS (
      SELECT cohort,
             CAST(4 * quantile_cont(lag_s, 0.25) AS BIGINT) AS q1_4,
             CAST(4 * quantile_cont(lag_s, 0.50) AS BIGINT) AS q2_4,
             CAST(4 * quantile_cont(lag_s, 0.75) AS BIGINT) AS q3_4
      FROM u WHERE lag_s IS NOT NULL GROUP BY cohort
    )
    SELECT u.cohort,
           CAST(COUNT(*) AS BIGINT) AS n_signups,
           CAST(COUNT(u.lag_s) AS BIGINT) AS n_converted,
           CAST(COUNT(u.lag_s) * 1000000 // COUNT(*) AS BIGINT) AS conv_ppm,
           COALESCE(q.q1_4, -1) AS lag_q1_4x,
           COALESCE(q.q2_4, -1) AS lag_q2_4x,
           COALESCE(q.q3_4, -1) AS lag_q3_4x
    FROM u LEFT JOIN q ON q.cohort = u.cohort
    GROUP BY u.cohort, q.q1_4, q.q2_4, q.q3_4
    """


@query("events_conversion_lag", _CONVLAG_ORACLE)
def q_events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-purchase conversion-lag quartiles by cohort (D262) —
    the TIME dimension the funnel family was missing (funnel D45
    counts who converts, retention matrix D48 counts when users
    return, hazard D234 gives the per-day rate; this answers HOW LONG
    conversion takes — the quartile table growth teams read to set
    trial lengths and nudge timing, per signup-month cohort so
    product changes show up as cohort-over-cohort shifts).

    Exactness: first signup and first purchase-AFTER-signup per user
    (two user-keyed partial aggs — the purchase MIN is conditioned on
    the user's own signup time, so a pre-signup purchase never
    counts); lag in whole seconds (truncating µs div); quartiles over
    converted users only, 4x-scaled so the quarter-integer
    interpolation is an exact BIGINT in both engines (the D235
    convention; swap for approx_percentile at 100 TB), and cohorts
    with zero conversions carry the pinned -1 sentinel instead of a
    NULL-vs-0 ambiguity. Plan: two user-keyed partial aggs + ONE
    cohort agg; one row per signup-month cohort."""
    ev = t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    u = (
        s.join(p, "user_id", "left")
        .select(
            F.date_format(F.date_trunc("month", "s_ts"), "yyyy-MM").alias(
                "cohort"
            ),
            F.expr(
                "case when p_ts is null then null"
                " else (unix_micros(p_ts) - unix_micros(s_ts)) div 1000000 end"
            ).alias("lag_s"),
        )
    )
    q = (
        u.filter(F.col("lag_s").isNotNull())
        .groupBy("cohort")
        .agg(
            F.expr("cast(4 * percentile(lag_s, 0.25) as bigint)").alias("q1_4"),
            F.expr("cast(4 * percentile(lag_s, 0.50) as bigint)").alias("q2_4"),
            F.expr("cast(4 * percentile(lag_s, 0.75) as bigint)").alias("q3_4"),
        )
    )
    return (
        u.groupBy("cohort")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_signups"),
            F.count("lag_s").cast("bigint").alias("n_converted"),
            F.expr("cast(count(lag_s) * 1000000 div count(*) as bigint)").alias(
                "conv_ppm"
            ),
        )
        .join(q, "cohort", "left")
        .select(
            "cohort", "n_signups", "n_converted", "conv_ppm",
            F.coalesce("q1_4", F.lit(-1)).cast("bigint").alias("lag_q1_4x"),
            F.coalesce("q2_4", F.lit(-1)).cast("bigint").alias("lag_q2_4x"),
            F.coalesce("q3_4", F.lit(-1)).cast("bigint").alias("lag_q3_4x"),
        )
    )


# DuckDB twin of the watermark audit: identical ingest-order running
# max (event_id IS the ingest sequence), identical whole-second
# lateness, identical 100x-scaled exact percentiles per type.
_WATERMARK_ORACLE = """
    WITH o AS (
      SELECT event_type, event_id, epoch_us(ts) AS us FROM events
    ),
    r AS (
      SELECT event_type, us,
             MAX(us) OVER (ORDER BY event_id
                           ROWS UNBOUNDED PRECEDING) AS rm
      FROM o
    ),
    l AS (
      SELECT event_type, (rm - us) // 1000000 AS late_s FROM r
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE late_s = 0) * 1000000 // COUNT(*)
                AS BIGINT) AS on_time_ppm,
           CAST(100 * quantile_cont(late_s, 0.50) AS BIGINT) AS p50_100x,
           CAST(100 * quantile_cont(late_s, 0.95) AS BIGINT) AS p95_100x,
           CAST(100 * quantile_cont(late_s, 0.99) AS BIGINT) AS p99_100x,
           CAST(MAX(late_s) AS BIGINT) AS max_late_s
    FROM l GROUP BY event_type
    """


@query("events_watermark_audit", _WATERMARK_ORACLE)
def q_events_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arrival (watermark-sizing) audit (D263) — the number every
    Structured Streaming deployment needs BEFORE it exists: treating
    event_id as the ingest sequence, how far behind the
    max-event-time-seen-so-far does each event arrive? The p95/p99 of
    that lateness IS the `withWatermark` delay that would have
    admitted 95/99% of this corpus's events — measured from the batch
    history instead of guessed, which is how the streaming twins'
    watermark parameters (D55/D62) should be chosen in production;
    the on-time share says how much of the stream a zero-delay
    watermark would drop.

    Exactness: the running max rides the new
    `operators/windows.py:global_prefix_max` (range-partition on
    event_id + per-partition Arrow cummax + a one-BIGINT-per-partition
    offset fold — the prefix-MAX sibling of `global_prefix_sum`, so
    NO single-task Window.orderBy over the corpus); lateness in whole
    truncating seconds; percentiles 100x-scaled so the hundredth-
    integer interpolation of quantile_cont at 0.50/0.95/0.99 is an
    exact BIGINT in both engines (the D235 4x convention extended to
    the p99 grid; swap for approx_percentile at 100 TB). Plan: one
    range-partitioned prefix pass + ONE (type) partial agg... the
    grouped exact percentile is domain-bounded (lateness seconds).
    One row per event type."""
    from mapreduce_project_spark.operators.windows import global_prefix_max

    ev = t(spark, sf_dir, "events").select(
        "event_type", "event_id", F.unix_micros("ts").alias("us")
    )
    r = global_prefix_max(ev, ["event_id"], "us", "rm")
    late = r.select(
        "event_type", F.expr("(rm - us) div 1000000").alias("late_s")
    )
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.expr(
            "cast(sum(case when late_s = 0 then 1 else 0 end) * 1000000"
            " div count(*) as bigint)"
        ).alias("on_time_ppm"),
        F.expr("cast(100 * percentile(late_s, 0.50) as bigint)").alias(
            "p50_100x"
        ),
        F.expr("cast(100 * percentile(late_s, 0.95) as bigint)").alias(
            "p95_100x"
        ),
        F.expr("cast(100 * percentile(late_s, 0.99) as bigint)").alias(
            "p99_100x"
        ),
        F.max("late_s").cast("bigint").alias("max_late_s"),
    )


# DuckDB twin of the Simpson audit: identical md5 arms, identical
# activity strata, identical exact cross-multiplied directions and
# truncating ppm rates; the __ALL__ row is an aggregate OF the
# per-stratum aggregates (no second corpus pass on either engine).
_SIMPSON_ORACLE = """
    WITH u AS (
      SELECT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 'A' ELSE 'B' END AS arm,
             COUNT(*) AS n_events,
             MAX(CASE WHEN event_type = 'purchase' AND value > 250
                      THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    per AS (
      SELECT CASE WHEN n_events < 62 THEN 'low'
                  WHEN n_events < 70 THEN 'mid' ELSE 'high' END AS stratum,
             arm, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(conv) AS BIGINT) AS c
      FROM u GROUP BY 1, 2
    ),
    b AS (
      SELECT stratum, arm, n, c FROM per
      UNION ALL
      SELECT '__ALL__', arm, CAST(SUM(n) AS BIGINT), CAST(SUM(c) AS BIGINT)
      FROM per GROUP BY arm
    ),
    w AS (
      SELECT stratum,
             COALESCE(MAX(CASE WHEN arm = 'A' THEN n END), 0) AS n_a,
             COALESCE(MAX(CASE WHEN arm = 'A' THEN c END), 0) AS conv_a,
             COALESCE(MAX(CASE WHEN arm = 'B' THEN n END), 0) AS n_b,
             COALESCE(MAX(CASE WHEN arm = 'B' THEN c END), 0) AS conv_b
      FROM b GROUP BY stratum
    ),
    d AS (
      SELECT stratum, n_a, conv_a, n_b, conv_b,
             CASE WHEN n_a = 0 THEN -1
                  ELSE conv_a * 1000000 // n_a END AS rate_a_ppm,
             CASE WHEN n_b = 0 THEN -1
                  ELSE conv_b * 1000000 // n_b END AS rate_b_ppm,
             CASE WHEN conv_a * n_b > conv_b * n_a THEN 1
                  WHEN conv_a * n_b < conv_b * n_a THEN -1
                  ELSE 0 END AS direction
      FROM w
    )
    SELECT d.stratum, d.n_a, d.conv_a, d.n_b, d.conv_b,
           d.rate_a_ppm, d.rate_b_ppm,
           CAST(d.direction AS BIGINT) AS direction,
           CAST(g.direction AS BIGINT) AS agg_direction,
           CAST(CASE WHEN d.stratum <> '__ALL__' AND d.direction <> 0
                      AND g.direction <> 0 AND d.direction <> g.direction
                     THEN 1 ELSE 0 END AS BIGINT) AS flipped
    FROM d CROSS JOIN (SELECT direction FROM d WHERE stratum = '__ALL__') g
    """


@query("simpson_paradox_audit", _SIMPSON_ORACLE)
def q_simpson_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox (confounding) audit (D264) — the validity
    screen the experimentation family was missing (z-test D135 scores
    the aggregate difference, Welch D186 the continuous metric, CUPED
    D217 shrinks its variance, chi-square D243 scores association;
    NONE of them notice when the aggregate direction REVERSES inside
    every stratum — the classic kidney-stone/Berkeley failure, and on
    a data-curation pipeline the exact mechanism by which a quality
    gate that helps every source can still hurt the mixed corpus).
    Per user-activity stratum (events-per-user tier: the canonical
    confounder, since heavy users both convert more and can be
    unevenly exposed) it reports both arms' exact counts, truncating
    ppm rates, the stratum direction, the aggregate direction, and a
    flipped flag; a readout whose strata disagree with its __ALL__
    row must not ship.

    Exactness: arms are the deterministic md5 hash split (the D135
    discipline); directions compare rates by exact BIGINT
    cross-multiplication sign(conv_a*n_b - conv_b*n_a) — no division,
    no float, no truncation-order hazard — with a raise_error
    headroom guard at 3e9 users/arm (3e9 squared is the int64 edge;
    widen to DECIMAL(38,0) past it); empty-arm rates carry a pinned
    -1 sentinel. Plan: ONE user-keyed partial agg over the corpus,
    ONE (stratum, arm) agg on user rows, then the __ALL__ row is an
    aggregate OF those six cells (zero extra corpus passes) and the
    agg-direction join broadcasts one row. Four rows out."""
    ev = t(spark, sf_dir, "events")
    u = _arm_stratum_users(ev)
    per = u.groupBy("stratum", "arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("c"),
    )
    b = per.unionByName(
        per.groupBy("arm")
        .agg(F.sum("n").cast("bigint").alias("n"), F.sum("c").cast("bigint").alias("c"))
        .select(F.lit("__ALL__").alias("stratum"), "arm", "n", "c")
    )
    w = b.groupBy("stratum").agg(
        F.coalesce(F.max(F.when(F.col("arm") == "A", F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("n_a"),
        F.coalesce(F.max(F.when(F.col("arm") == "A", F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("conv_a"),
        F.coalesce(F.max(F.when(F.col("arm") == "B", F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("n_b"),
        F.coalesce(F.max(F.when(F.col("arm") == "B", F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    d = w.select(
        "stratum", "n_a", "conv_a", "n_b", "conv_b",
        F.expr(
            "case when n_a = 0 then -1"
            " else conv_a * 1000000 div n_a end"
        )
        .cast("bigint")
        .alias("rate_a_ppm"),
        F.expr(
            "case when n_b = 0 then -1"
            " else conv_b * 1000000 div n_b end"
        )
        .cast("bigint")
        .alias("rate_b_ppm"),
        F.expr(
            "case when greatest(n_a, n_b) > 3000000000 then"
            " raise_error('simpson_paradox_audit: arm sizes exceed 64-bit"
            " cross-multiplication headroom — widen to DECIMAL(38,0)')"
            " when conv_a * n_b > conv_b * n_a then 1"
            " when conv_a * n_b < conv_b * n_a then -1 else 0 end"
        )
        .cast("bigint")
        .alias("direction"),
    )
    g = d.filter(F.col("stratum") == "__ALL__").select(
        F.col("direction").alias("agg_direction")
    )
    return d.crossJoin(F.broadcast(g)).select(
        "stratum", "n_a", "conv_a", "n_b", "conv_b",
        "rate_a_ppm", "rate_b_ppm", "direction", "agg_direction",
        F.expr(
            "cast(case when stratum <> '__ALL__' and direction <> 0"
            " and agg_direction <> 0 and direction <> agg_direction"
            " then 1 else 0 end as bigint)"
        ).alias("flipped"),
    )


# DuckDB twin of the AUC readout: identical per-score tie groups,
# identical doubled average ranks (r2 = 2*cum - cnt + 1), identical
# truncating ppm AUC and sign-safe Gini.
_AUC_ORACLE = """
    WITH u AS (
      SELECT user_id, COUNT(*) AS score,
             MAX(CASE WHEN event_type = 'purchase' AND value > 250
                      THEN 1 ELSE 0 END) AS pos
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(pos) AS BIGINT) AS np
      FROM u GROUP BY score
    ),
    r AS (
      SELECT score, cnt, np,
             CAST(SUM(cnt) OVER (ORDER BY score
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM s
    ),
    agg AS (
      SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
             CAST(SUM(cnt - np) AS BIGINT) AS n_neg,
             CAST(SUM(np * (2 * cum - cnt + 1)) AS BIGINT) AS sum_r2_pos
      FROM r
    )
    SELECT n_pos, n_neg, sum_r2_pos,
           CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN -1
                ELSE (sum_r2_pos - n_pos * (n_pos + 1)) * 1000000
                     // (2 * n_pos * n_neg) END AS BIGINT) AS auc_ppm,
           CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0
                WHEN sum_r2_pos - n_pos * (n_pos + 1) - n_pos * n_neg >= 0
                THEN (sum_r2_pos - n_pos * (n_pos + 1) - n_pos * n_neg)
                     * 1000000 // (n_pos * n_neg)
                ELSE -((n_pos * (n_pos + 1) + n_pos * n_neg - sum_r2_pos)
                       * 1000000 // (n_pos * n_neg))
                END AS BIGINT) AS gini_ppm
    FROM agg
    """


@query("classifier_auc_activity", _AUC_ORACLE)
def q_classifier_auc_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary-classifier AUC via the Mann-Whitney rank statistic
    (D265) — the model-eval member the retrieval metrics can't cover
    (MRR D136 and nDCG D260 score RANKINGS against relevance; AUC
    scores a BINARY classifier's ordering of positives over negatives
    — the first number read off any propensity/quality/toxicity
    scorer before its threshold is chosen). Here the scorer is
    per-user activity and the label is high-value conversion: AUC =
    P(random converter out-ranks random non-converter) — the
    propensity readout behind D135's arms.

    Exactness: ties (integer activity scores collide heavily) get
    textbook AVERAGE ranks, kept integral by doubling — for the tie
    group at score s with cnt members ending at cumulative position
    cum, r2 = 2*cum - cnt + 1 is twice the average rank, so
    2U = sum_r2_pos - n_pos*(n_pos+1) is an exact BIGINT and
    auc_ppm = 2U*1e6 div (2*n_pos*n_neg) one truncating division;
    Gini = 2*AUC - 1 goes through the sign-safe -((-x) div k) form
    since DuckDB floors negative division while Spark truncates.
    Guard rails: class sizes past 2e6 raise (their product's *1e6
    numerator would pass the int64 edge; the guard tests the INPUTS
    so the check itself cannot wrap — widen to DECIMAL(38,0)
    there); an empty
    class yields the pinned -1/-0 sentinels, never a zero division.
    Plan: ONE user-keyed partial agg over the corpus, ONE per-score
    agg (domain-bounded: distinct activity counts, not users), a
    window over THAT metadata-scale table, and a single-row fold —
    for continuous scores swap the per-score table for the D129
    global-ranking machinery. One row out."""
    ev = t(spark, sf_dir, "events")
    s = _activity_scores(ev)
    r = s.withColumn(
        "cum",
        F.expr(
            "sum(cnt) over (order by score rows between unbounded preceding"
            " and current row)"
        ).cast("bigint"),
    )
    agg = r.agg(
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("np")).cast("bigint").alias("n_neg"),
        F.sum(F.col("np") * (2 * F.col("cum") - F.col("cnt") + 1))
        .cast("bigint")
        .alias("sum_r2_pos"),
    )
    return agg.select(
        "n_pos", "n_neg", "sum_r2_pos",
        F.expr(
            "cast(case when n_pos = 0 or n_neg = 0 then -1"
            " when greatest(n_pos, n_neg) > 2000000 then"
            " raise_error('classifier_auc_activity: class sizes exceed 64-bit"
            " ppm headroom — widen to DECIMAL(38,0)')"
            " else (sum_r2_pos - n_pos * (n_pos + 1)) * 1000000"
            " div (2 * n_pos * n_neg) end as bigint)"
        ).alias("auc_ppm"),
        F.expr(
            "cast(case when n_pos = 0 or n_neg = 0 then 0"
            " when sum_r2_pos - n_pos * (n_pos + 1) - n_pos * n_neg >= 0"
            " then (sum_r2_pos - n_pos * (n_pos + 1) - n_pos * n_neg)"
            " * 1000000 div (n_pos * n_neg)"
            " else -((n_pos * (n_pos + 1) + n_pos * n_neg - sum_r2_pos)"
            " * 1000000 div (n_pos * n_neg)) end as bigint)"
        ).alias("gini_ppm"),
    )


# DuckDB twin of the lift table: identical (score DESC, user_id ASC)
# total order, identical floor-decile assignment, identical truncating
# ppm rates/capture/lift.
_LIFT_ORACLE = """
    WITH u AS (
      SELECT user_id, COUNT(*) AS score,
             MAX(CASE WHEN event_type = 'purchase' AND value > 250
                      THEN 1 ELSE 0 END) AS pos
      FROM events GROUP BY user_id
    ),
    r AS (
      SELECT pos,
             ROW_NUMBER() OVER (ORDER BY score DESC, user_id ASC) AS rnk,
             COUNT(*) OVER () AS n_total
      FROM u
    ),
    d AS (
      SELECT CAST((10 * (rnk - 1)) // n_total AS BIGINT) AS decile,
             pos, n_total
      FROM r
    ),
    g AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(MAX(n_total) AS BIGINT) AS n_total
      FROM d GROUP BY decile
    ),
    c AS (
      SELECT decile, n_users, n_pos, n_total,
             CAST(SUM(n_pos) OVER (ORDER BY decile
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_pos,
             CAST(SUM(n_pos) OVER () AS BIGINT) AS pos_total
      FROM g
    )
    SELECT decile, n_users, n_pos,
           CAST(n_pos * 1000000 // n_users AS BIGINT) AS rate_ppm,
           cum_pos,
           CAST(CASE WHEN pos_total = 0 THEN -1
                ELSE cum_pos * 1000000 // pos_total END AS BIGINT)
             AS capture_ppm,
           CAST(CASE WHEN pos_total = 0 THEN -1
                ELSE n_pos * n_total * 1000000 // (n_users * pos_total) END
                AS BIGINT) AS lift_ppm
    FROM c
    """


@query("classifier_lift_deciles", _LIFT_ORACLE)
def q_classifier_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains/lift table (D266) — the threshold-choosing
    companion to D265's AUC (AUC scores the ORDERING; the lift table
    says what acting on the top decile actually buys — the
    credit-scoring/campaign-targeting readout, and on a curation
    pipeline the answer to 'if we can only afford to keep/review the
    top 10% by this quality score, what fraction of the good
    documents do we capture?'). Users ranked by activity score;
    per decile: exact counts, conversion rate, cumulative capture
    (gains) and lift vs the base rate.

    Exactness: the rank is the (score DESC, user_id ASC) TOTAL order
    — ntile over ties straddling a decile edge is engine-dependent,
    a pinned tiebreak is not — and decile = (10·(rank−1)) div N, the
    floor split (first N%10 deciles get the extra user). The global
    rank is DISTRIBUTED, not a single-task window: per-score tie
    groups get a partitioned row_number (keyed by score), offset by
    the per-score cumulative counts computed on the metadata-scale
    distinct-score table and broadcast back (the D129 discipline).
    All rates truncating ppm; lift's n_pos·n_total·1e6 numerator is
    exact int64 to ~3e6 users (the triple product — widen to
    DECIMAL(38,0) past it; the guard tests n_total so the check
    cannot wrap); a zero-conversion corpus carries -1 capture/lift
    sentinels. Plan: ONE user agg → tiny score-table window +
    broadcast join → ONE decile agg → 10-row window. Ten rows out."""
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("score"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 250), 1
            ).otherwise(0)
        ).alias("pos"),
    )
    s = u.groupBy("score").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    s = s.withColumn(
        "before",
        F.expr(
            "sum(cnt) over (order by score desc rows between unbounded"
            " preceding and 1 preceding)"
        ).cast("bigint"),
    ).select(
        "score",
        F.coalesce("before", F.lit(0)).alias("before"),
        F.expr("cast(sum(cnt) over () as bigint)").alias("n_total"),
    )
    ranked = (
        u.withColumn(
            "rn_in",
            F.expr(
                "row_number() over (partition by score order by user_id asc)"
            ),
        )
        .join(F.broadcast(s), "score")
        .select(
            "pos",
            (F.col("before") + F.col("rn_in")).alias("rnk"),
            "n_total",
        )
    )
    g = (
        ranked.select(
            F.expr("cast((10 * (rnk - 1)) div n_total as bigint)").alias(
                "decile"
            ),
            "pos", "n_total",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.max("n_total").cast("bigint").alias("n_total"),
        )
    )
    c = g.select(
        "decile", "n_users", "n_pos", "n_total",
        F.expr(
            "cast(sum(n_pos) over (order by decile rows between unbounded"
            " preceding and current row) as bigint)"
        ).alias("cum_pos"),
        F.expr("cast(sum(n_pos) over () as bigint)").alias("pos_total"),
    )
    return c.select(
        "decile", "n_users", "n_pos",
        F.expr("cast(n_pos * 1000000 div n_users as bigint)").alias(
            "rate_ppm"
        ),
        "cum_pos",
        F.expr(
            "cast(case when pos_total = 0 then -1"
            " else cum_pos * 1000000 div pos_total end as bigint)"
        ).alias("capture_ppm"),
        F.expr(
            "cast(case when pos_total = 0 then -1"
            " when n_total > 3000000 then"
            " raise_error('classifier_lift_deciles: corpus exceeds 64-bit"
            " lift headroom — widen to DECIMAL(38,0)')"
            " else n_pos * n_total * 1000000 div (n_users * pos_total) end"
            " as bigint)"
        ).alias("lift_ppm"),
    )


# DuckDB twin of the KM curve: identical death/censor day attribution,
# identical at-risk prefix counts, identical truncating ppm product
# replayed through a recursive CTE, identical ppb Greenwood terms.
_KM_ORACLE = """
    WITH RECURSIVE per_user AS (
      SELECT user_id,
             MIN(epoch_us(date_trunc('day', ts)) // 86400000000) AS entry_d,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(date_trunc('day', ts)) // 86400000000
                 END) AS conv_d,
             MAX(epoch_us(date_trunc('day', ts)) // 86400000000) AS last_d
      FROM events GROUP BY user_id
    ),
    spans AS (
      SELECT CASE WHEN conv_d IS NOT NULL THEN conv_d - entry_d END AS dk,
             CASE WHEN conv_d IS NULL THEN last_d - entry_d END AS ck
      FROM per_user
    ),
    days AS (
      SELECT t, CAST(SUM(d) AS BIGINT) AS d, CAST(SUM(c) AS BIGINT) AS c
      FROM (
        SELECT dk AS t, 1 AS d, 0 AS c FROM spans WHERE dk IS NOT NULL
        UNION ALL
        SELECT ck AS t, 0 AS d, 1 AS c FROM spans WHERE ck IS NOT NULL
      ) GROUP BY t
    ),
    ord AS (
      SELECT t, d, c,
             CAST(ROW_NUMBER() OVER (ORDER BY t) AS BIGINT) AS rn,
             CAST((SELECT SUM(d + c) FROM days)
                  - COALESCE(SUM(d + c) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
      FROM days
    ),
    km AS (
      SELECT rn, t, d, c, n_risk,
             CAST((n_risk - d) * 1000000 // n_risk AS BIGINT) AS s_ppm,
             CAST(CASE WHEN d > 0 AND n_risk > d
                  THEN d * 1000000000 // (n_risk * (n_risk - d))
                  ELSE 0 END AS BIGINT) AS g_ppb
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.rn, o.t, o.d, o.c, o.n_risk,
             CAST(km.s_ppm * (o.n_risk - o.d) // o.n_risk AS BIGINT),
             CAST(km.g_ppb + CASE WHEN o.d > 0 AND o.n_risk > o.d
                  THEN o.d * 1000000000 // (o.n_risk * (o.n_risk - o.d))
                  ELSE 0 END AS BIGINT)
      FROM ord o JOIN km ON o.rn = km.rn + 1
    )
    SELECT CAST(t AS BIGINT) AS t_day, n_risk,
           d AS d_events, c AS c_censored, s_ppm AS surv_ppm,
           g_ppb AS greenwood_ppb
    FROM km
    """


@query("events_km_survival", _KM_ORACLE)
def q_events_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival curve (D267) — the estimator
    D234's hazard table is the sufficient statistics FOR, now a
    hash-checked query of its own (hazard D234 gives the per-day
    rate on a fixed 30-day grid; this walks every observed
    death/censor day and carries the survival PRODUCT, the curve a
    retention/time-to-convert readout actually plots, censoring
    handled the way the estimator requires — a user observed for c
    days leaves the risk set after c without polluting later
    denominators). Death = first purchase day since entry; censor =
    last observed day for non-converters.

    Exactness: S(t) is the TRUNCATING ppm product s ← s·(n−d) div n
    applied uniformly (a censor-only day multiplies by (n−0)/n,
    which is exactly s — no branch needed); each step is int64-safe
    (s ≤ 1e6, n ≤ 9e12) and the sequential recursion replays in
    DuckDB as a recursive CTE (the D112/D250 discipline). The
    Greenwood variance accumulator Σ d·1e9 div (n(n−d)) rides along
    in exact ppb (n(n−d) passes int64 at ~3e9 users — widen to
    DECIMAL(38,0) there; terms for n=d are pinned 0 since S has hit
    zero). At-risk counts come from the prefix sum of (d+c) — every
    user leaves the risk set exactly once, so n_risk(1) = N needs no
    second corpus pass. Plan: ONE user-keyed partial agg collapses
    the corpus; the day table is bounded by the observation span, so
    the recursion runs in ONE applyInPandas group with Python ints
    (metadata-scale, like D250's per-type fit). One row per distinct
    death-or-censor day."""
    import pandas as pd

    ev = t(spark, sf_dir, "events")
    day = F.expr("unix_micros(date_trunc('day', ts)) div 86400000000")
    per_user = ev.groupBy("user_id").agg(
        F.min(day).alias("entry_d"),
        F.min(F.when(F.col("event_type") == "purchase", day)).alias("conv_d"),
        F.max(day).alias("last_d"),
    )
    deaths = per_user.filter(F.col("conv_d").isNotNull()).select(
        (F.col("conv_d") - F.col("entry_d")).alias("t"),
        F.lit(1).alias("d"), F.lit(0).alias("c"),
    )
    censors = per_user.filter(F.col("conv_d").isNull()).select(
        (F.col("last_d") - F.col("entry_d")).alias("t"),
        F.lit(0).alias("d"), F.lit(1).alias("c"),
    )
    days = (
        deaths.unionByName(censors)
        .groupBy("t")
        .agg(
            F.sum("d").cast("bigint").alias("d"),
            F.sum("c").cast("bigint").alias("c"),
        )
        .withColumn("_g", F.lit(0))
    )

    def km(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t").reset_index(drop=True)
        total = int(pdf["d"].sum() + pdf["c"].sum())
        out, cum, s, g = [], 0, 1000000, 0
        for t_day, d, c in zip(pdf["t"], pdf["d"], pdf["c"]):
            t_day, d, c = int(t_day), int(d), int(c)
            n = total - cum
            s = s * (n - d) // n
            if d > 0 and n > d:
                g += d * 1000000000 // (n * (n - d))
            out.append((t_day, n, d, c, s, g))
            cum += d + c
        return pd.DataFrame(
            out,
            columns=[
                "t_day", "n_risk", "d_events", "c_censored",
                "surv_ppm", "greenwood_ppb",
            ],
        )

    return days.groupBy("_g").applyInPandas(
        km,
        "t_day long, n_risk long, d_events long, c_censored long, "
        "surv_ppm long, greenwood_ppb long",
    )


# DuckDB twin of the Hill estimator: identical positive-cents domain,
# identical rank-extracted k, identical (cents DESC, event_id ASC)
# top-(k+1) selection, identical micro-ln sums.
_HILL_ORACLE = """
    WITH v AS (
      SELECT event_type, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
      WHERE CAST(floor(value * 100 + 0.5) AS BIGINT) >= 1
    ),
    n AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_values,
             CAST(greatest(10, least(500, COUNT(*) // 20)) AS BIGINT) AS k
      FROM v GROUP BY event_type
    ),
    r AS (
      SELECT v.event_type, v.cents, n.n_values, n.k,
             ROW_NUMBER() OVER (PARTITION BY v.event_type
                                ORDER BY v.cents DESC, v.event_id ASC) AS rn
      FROM v JOIN n ON n.event_type = v.event_type
    ),
    top AS (
      SELECT event_type, n_values, k, rn,
             CAST(round(ln(CAST(cents AS DOUBLE)) * 1000000) AS BIGINT)
               AS mln,
             cents
      FROM r WHERE rn <= k + 1
    ),
    th AS (
      SELECT event_type, mln AS mln_k1, cents AS thresh_cents
      FROM top WHERE rn = k + 1
    )
    SELECT t.event_type,
           CAST(MAX(t.n_values) AS BIGINT) AS n_values,
           CAST(MAX(t.k) AS BIGINT) AS k,
           CAST(MAX(th.thresh_cents) AS BIGINT) AS thresh_cents,
           CAST(SUM(t.mln - th.mln_k1) // MAX(t.k) AS BIGINT)
             AS inv_alpha_micro,
           CAST(CASE WHEN SUM(t.mln - th.mln_k1) // MAX(t.k) <= 0 THEN -1
                ELSE 1000000000000 // (SUM(t.mln - th.mln_k1) // MAX(t.k))
                END AS BIGINT) AS alpha_micro
    FROM top t JOIN th ON th.event_type = t.event_type
    WHERE t.rn <= t.k
    GROUP BY t.event_type
    """


@query("events_tail_index_hill", _HILL_ORACLE)
def q_events_tail_index_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator (D268) — the heavy-tail audit the
    value-distribution family was missing (winsorize D142 and MAD
    D123 TREAT outliers, Benford D203 audits digits, Lorenz/Gini
    D239 measures inequality; the Hill α answers the PRIOR question:
    does this column even have finite moments? α ≤ 2 means infinite
    variance — every mean/stddev/z-score downstream is then
    statistically meaningless, and a 100 TB aggregation pipeline
    should be told so before it averages). Per event type over
    positive value cents: α̂⁻¹ = (1/k) Σ_{i≤k} ln(X_(i)/X_(k+1)),
    the classic top-order-statistics estimator.

    Exactness: ln goes through the micro-ln convention
    (round(ln(cents)·1e6) — identical libm doubles on both engines,
    pinned at D148/D153), so the Hill sum is an exact BIGINT
    difference of micro-lns and α̂ = 1e12 div inv_alpha_micro one
    truncating division (≤0 inverse — a flat top — carries the -1
    sentinel). k is RANK-EXTRACTED per type, clamp(n div 20, 10,
    500) (the D206 auto-width discipline: fixed k would drift out of
    the tail as N grows); ties straddling the k-edge are harmless by
    construction (equal cents ⇒ equal micro-ln ⇒ zero term), and the
    selection is still pinned by (cents DESC, event_id ASC). Plan:
    ONE type-keyed count, broadcast back, per-type top-(k+1) via
    partitioned row_number (k ≤ 500 — a two-phase per-partition
    pre-top-k is the 100 TB refinement), ONE type agg. One row per
    event type."""
    ev = t(spark, sf_dir, "events")
    v = ev.select(
        "event_type", "event_id",
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
    ).filter(F.col("cents") >= 1)
    n = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        F.expr(
            "cast(greatest(10, least(500, count(*) div 20)) as bigint)"
        ).alias("k"),
    )
    r = (
        v.join(F.broadcast(n), "event_type")
        .withColumn(
            "rn",
            F.expr(
                "row_number() over (partition by event_type"
                " order by cents desc, event_id asc)"
            ),
        )
        .filter(F.col("rn") <= F.col("k") + 1)
        .withColumn(
            "mln",
            F.expr(
                "cast(round(ln(cast(cents as double)) * 1000000) as bigint)"
            ),
        )
    )
    th = r.filter(F.col("rn") == F.col("k") + 1).select(
        "event_type",
        F.col("mln").alias("mln_k1"),
        F.col("cents").alias("thresh_cents"),
    )
    return (
        r.filter(F.col("rn") <= F.col("k"))
        .join(F.broadcast(th), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_values").cast("bigint").alias("n_values"),
            F.max("k").cast("bigint").alias("k"),
            F.max("thresh_cents").cast("bigint").alias("thresh_cents"),
            F.expr("cast(sum(mln - mln_k1) div max(k) as bigint)").alias(
                "inv_alpha_micro"
            ),
            F.expr(
                "cast(case when sum(mln - mln_k1) div max(k) <= 0 then -1"
                " else 1000000000000 div (sum(mln - mln_k1) div max(k))"
                " end as bigint)"
            ).alias("alpha_micro"),
        )
    )


# DuckDB twin of the lead-lag table: identical zero-filled daily
# grids, identical per-type truncating means, identical int64 moment
# sums and the one pinned IEEE ccf expression.
_CCF_ORACLE = """
    WITH daily AS (
      SELECT event_type,
             epoch_us(date_trunc('day', ts)) // 86400000000 AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
    grid AS (
      SELECT t.event_type, g.d, COALESCE(daily.n, 0) AS n
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series((SELECT d0 FROM bounds),
                                                (SELECT d1 FROM bounds))) AS d) g
      LEFT JOIN daily ON daily.event_type = t.event_type AND daily.d = g.d
    ),
    mstat AS (
      SELECT event_type, CAST(SUM(n) // COUNT(*) AS BIGINT) AS m
      FROM grid GROUP BY event_type
    ),
    dev AS (
      SELECT g.event_type, g.d, g.n - m.m AS dv
      FROM grid g JOIN mstat m ON m.event_type = g.event_type
    ),
    den AS (
      SELECT event_type, CAST(SUM(dv * dv) AS BIGINT) AS den
      FROM dev GROUP BY event_type
    ),
    lags AS (SELECT unnest(generate_series(-7, 7)) AS lag),
    num AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
             CAST(SUM(a.dv * b.dv) AS BIGINT) AS num,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM lags l
      JOIN dev a ON TRUE
      JOIN dev b ON b.d = a.d + l.lag AND a.event_type < b.event_type
      GROUP BY 1, 2, 3
    )
    SELECT n.type_a, n.type_b, CAST(n.lag AS BIGINT) AS lag,
           n.n_pairs, n.num,
           da.den AS den_a, db.den AS den_b,
           CASE WHEN da.den = 0 OR db.den = 0 THEN 0.0
                ELSE CAST(n.num AS DOUBLE)
                     / sqrt(CAST(da.den AS DOUBLE) * CAST(db.den AS DOUBLE))
           END AS ccf
    FROM num n
    JOIN den da ON da.event_type = n.type_a
    JOIN den db ON db.event_type = n.type_b
    """


@query("events_cross_correlation", _CCF_ORACLE)
def q_events_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily lead-lag cross-correlation between event-type pairs
    (D269) — the CROSS-series member of the forecasting family (ACF
    D224 answers 'does this series echo ITSELF at lag k'; this
    answers 'does click lead purchase by k days' — the
    marketing-mix/causal-ordering readout, and on a pipeline
    dashboard the statistic that says which upstream signal is an
    early-warning proxy for which downstream one). For every ordered
    type pair (a < b) and lag in [-7, 7]: positive-lag ccf means a's
    deviations lead b's by that many days.

    Exactness: the D224 discipline pair-wise — both series zero-fill
    the SHARED [first, last] day grid (missing days are data;
    skipping them splices non-adjacent days into adjacent pairs),
    center on their own truncating grid means, all moment sums are
    exact int64, and ccf = num / sqrt(den_a · den_b) is ONE pinned
    IEEE expression over int64-exact doubles (constant series carry
    a pinned 0.0). Plan: ONE (type, day) partial agg collapses the
    corpus; grids, deviations, the 15-lag band join and the moment
    sums all run on the ≤ #types × #days metadata-scale table. One
    row per (pair, lag) with any grid overlap."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(date_trunc('day', ts)) div 86400000000").alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    types = ev.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(bounds))
        .select("event_type", F.explode(F.sequence("d0", "d1")).alias("d"))
        .join(daily, ["event_type", "d"], "left")
        .select("event_type", "d", F.coalesce("n", F.lit(0)).alias("n"))
    )
    mstat = grid.groupBy("event_type").agg(
        F.expr("sum(n) div count(1)").cast("bigint").alias("m")
    )
    dev = grid.join(F.broadcast(mstat), "event_type").select(
        "event_type", "d", (F.col("n") - F.col("m")).alias("dv")
    )
    den = dev.groupBy("event_type").agg(
        F.expr("sum(dv * dv)").cast("bigint").alias("den")
    )
    lags = spark.range(-7, 8).select(F.col("id").cast("bigint").alias("lag"))
    a = dev.select(
        F.col("event_type").alias("type_a"),
        F.col("d").alias("da"),
        F.col("dv").alias("dva"),
    )
    b = dev.select(
        F.col("event_type").alias("type_b"),
        F.col("d").alias("db"),
        F.col("dv").alias("dvb"),
    )
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("db") == F.col("da") + F.col("lag"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "lag")
        .agg(
            F.expr("sum(dva * dvb)").cast("bigint").alias("num"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    dena = den.select(
        F.col("event_type").alias("type_a"), F.col("den").alias("den_a")
    )
    denb = den.select(
        F.col("event_type").alias("type_b"), F.col("den").alias("den_b")
    )
    return (
        num.join(F.broadcast(dena), "type_a")
        .join(F.broadcast(denb), "type_b")
        .select(
            "type_a", "type_b", "lag", "n_pairs", "num", "den_a", "den_b",
            F.expr(
                "case when den_a = 0 or den_b = 0 then 0.0"
                " else cast(num as double)"
                " / sqrt(cast(den_a as double) * cast(den_b as double)) end"
            ).alias("ccf"),
        )
    )


# DuckDB twin of the backtest: the HOLT and HW sub-oracles are nested
# verbatim as subqueries (the v7-flagship composition discipline —
# backtest parity transitively re-verifies both fits), the naive and
# seasonal-naive competitors are grid self-joins, and the common eval
# window is whatever the inner joins leave (targets [d0+8, d1]).
_BACKTEST_ORACLE = (
    """
    WITH ag AS (
      SELECT t.event_type, g.d, COALESCE(dy.y, 0) AS y
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series(
          (SELECT MIN(epoch_us(date_trunc('day', ts)) // 86400000000)
           FROM events),
          (SELECT MAX(epoch_us(date_trunc('day', ts)) // 86400000000)
           FROM events))) AS d) g
      LEFT JOIN (
        SELECT event_type,
               epoch_us(date_trunc('day', ts)) // 86400000000 AS d,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS y
        FROM events GROUP BY 1, 2) dy
        ON dy.event_type = t.event_type AND dy.d = g.d
    ),
    h AS (
      SELECT event_type,
             CAST(CAST(day AS DATE) - DATE '1970-01-01' AS BIGINT) + 1 AS td,
             forecast_next_cents AS fc_holt
      FROM ("""
    + _HOLT_ORACLE
    + """) hh
    ),
    w AS (
      SELECT event_type,
             CAST(CAST(day AS DATE) - DATE '1970-01-01' AS BIGINT) + 1 AS td,
             forecast_next_cents AS fc_hw
      FROM ("""
    + _HW_ORACLE
    + """) ww
    ),
    wide AS (
      SELECT a.event_type, a.d AS td, a.y,
             n.y AS fc_naive, s.y AS fc_snaive, h.fc_holt, w.fc_hw
      FROM ag a
      JOIN ag n ON n.event_type = a.event_type AND n.d = a.d - 1
      JOIN ag s ON s.event_type = a.event_type AND s.d = a.d - 7
      JOIN h ON h.event_type = a.event_type AND h.td = a.d
      JOIN w ON w.event_type = a.event_type AND w.td = a.d
    ),
    per AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_evals,
             CAST(SUM(abs(y - fc_naive)) AS BIGINT) AS sae_naive,
             CAST(SUM(abs(y - fc_snaive)) AS BIGINT) AS sae_snaive,
             CAST(SUM(abs(y - fc_holt)) AS BIGINT) AS sae_holt,
             CAST(SUM(abs(y - fc_hw)) AS BIGINT) AS sae_hw
      FROM wide GROUP BY event_type
    ),
    long AS (
      SELECT event_type, n_evals, 'naive' AS model,
             sae_naive AS sae_cents, sae_naive FROM per
      UNION ALL SELECT event_type, n_evals, 'snaive', sae_snaive, sae_naive
      FROM per
      UNION ALL SELECT event_type, n_evals, 'holt', sae_holt, sae_naive
      FROM per
      UNION ALL SELECT event_type, n_evals, 'holt_winters', sae_hw, sae_naive
      FROM per
    )
    SELECT event_type, model, n_evals, sae_cents,
           CAST(sae_cents // n_evals AS BIGINT) AS mae_cents,
           CAST(CASE WHEN sae_naive = 0 THEN -1
                ELSE sae_cents * 1000000 // sae_naive END AS BIGINT)
             AS mase_ppm
    FROM long
    """
)


@query("forecast_backtest_mase", _BACKTEST_ORACLE)
def q_forecast_backtest_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward forecast backtest with MASE (D271) — the
    EVALUATION the forecasting family was missing (seasonal-naive
    D214, Holt D232, Holt-Winters D250 each produce one-step
    forecasts; nothing says WHICH to deploy per series — the
    capacity-planning question is never 'fit a model', it is 'which
    model earns its keep over the naive baselines on THIS stream'):
    per event type, the one-step-ahead absolute errors of four
    competitors — random-walk naive y_t, seasonal-naive y_{t-6},
    Holt, Holt-Winters — on the COMMON eval window where all four are
    defined (targets [d0+8, d1]; comparing models on different
    windows is the classic backtest sin), with MASE against the naive
    error mass.

    Exactness: actuals and forecasts are exact BIGINT cents; error
    sums are exact; mae = sae div n truncating; mase_ppm =
    sae_model·1e6 div sae_naive one truncating division on SUMS (the
    shared n cancels — no double-division drift), with the naive row
    pinned at exactly 1000000 and a zero-naive-error corpus carrying
    the -1 sentinel. The Spark side CALLS the registered D232/D250
    queries and joins their DataFrames; the oracle nests both
    sub-oracles verbatim as subqueries — backtest parity transitively
    re-verifies both fits (the v7-flagship composition discipline).
    Plan: sub-model cost dominates (ONE (type,day) partial agg each +
    metadata-scale recursions); the backtest itself is four
    metadata-scale grid joins + ONE type agg. Four rows per type."""
    ag = _daily_cents_grid(t(spark, sf_dir, "events"))
    naive = ag.select(
        "event_type", (F.col("d") + 1).alias("td"), F.col("y").alias("fc_naive")
    )
    snaive = ag.select(
        "event_type", (F.col("d") + 7).alias("td"),
        F.col("y").alias("fc_snaive"),
    )
    holt = q_events_holt_forecast(spark, sf_dir).select(
        "event_type",
        (F.unix_date(F.to_date("day")).cast("bigint") + 1).alias("td"),
        F.col("forecast_next_cents").alias("fc_holt"),
    )
    hw = q_events_holt_winters(spark, sf_dir).select(
        "event_type",
        (F.unix_date(F.to_date("day")).cast("bigint") + 1).alias("td"),
        F.col("forecast_next_cents").alias("fc_hw"),
    )
    wide = (
        ag.select("event_type", F.col("d").alias("td"), "y")
        .join(naive, ["event_type", "td"])
        .join(snaive, ["event_type", "td"])
        .join(holt, ["event_type", "td"])
        .join(hw, ["event_type", "td"])
    )
    per = wide.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_evals"),
        F.expr("cast(sum(abs(y - fc_naive)) as bigint)").alias("sae_naive"),
        F.expr("cast(sum(abs(y - fc_snaive)) as bigint)").alias("sae_snaive"),
        F.expr("cast(sum(abs(y - fc_holt)) as bigint)").alias("sae_holt"),
        F.expr("cast(sum(abs(y - fc_hw)) as bigint)").alias("sae_hw"),
    )
    long = per.selectExpr(
        "event_type",
        "n_evals",
        "sae_naive",
        "stack(4, 'naive', sae_naive, 'snaive', sae_snaive,"
        " 'holt', sae_holt, 'holt_winters', sae_hw) as (model, sae_cents)",
    )
    return long.select(
        "event_type", "model", "n_evals", "sae_cents",
        F.expr("cast(sae_cents div n_evals as bigint)").alias("mae_cents"),
        F.expr(
            "cast(case when sae_naive = 0 then -1"
            " when sae_cents > 9000000000000 then"
            " raise_error('forecast_backtest_mase: error mass exceeds 64-bit"
            " ppm headroom — widen to DECIMAL(38,0)')"
            " else sae_cents * 1000000 div sae_naive end as bigint)"
        ).alias("mase_ppm"),
    )


# DuckDB twin of the isotonic fit: identical per-score prefix table,
# identical minimax interval selection (IEEE-deterministic double
# ordering, (j,k) ASC tie-breaks), identical exact ppm render of the
# SELECTED interval's rational mean.
_ISO_ORACLE = """
    WITH u AS (
      SELECT user_id, COUNT(*) AS score,
             MAX(CASE WHEN event_type = 'purchase' AND value > 250
                      THEN 1 ELSE 0 END) AS pos
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(pos) AS BIGINT) AS np
      FROM u GROUP BY score
    ),
    pre AS (
      SELECT score, cnt, np,
             CAST(ROW_NUMBER() OVER (ORDER BY score) AS BIGINT) AS rn,
             CAST(SUM(cnt) OVER (ORDER BY score
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ccnt,
             CAST(SUM(np) OVER (ORDER BY score
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cnp
      FROM s
    ),
    iv AS (
      SELECT j.rn AS jrn, k.rn AS krn,
             CAST(k.cnp - (j.cnp - j.np) AS BIGINT) AS s_jk,
             CAST(k.ccnt - (j.ccnt - j.cnt) AS BIGINT) AS c_jk
      FROM pre j JOIN pre k ON k.rn >= j.rn
    ),
    minj AS (
      SELECT jrn, s_jk, c_jk
      FROM (
        SELECT jrn, s_jk, c_jk,
               ROW_NUMBER() OVER (
                 PARTITION BY jrn
                 ORDER BY CAST(s_jk AS DOUBLE) / CAST(c_jk AS DOUBLE) ASC,
                          krn ASC) AS r
        FROM iv
      ) WHERE r = 1
    ),
    fit AS (
      SELECT rn, s_jk, c_jk
      FROM (
        SELECT i.rn AS rn, m.jrn, m.s_jk, m.c_jk,
               ROW_NUMBER() OVER (
                 PARTITION BY i.rn
                 ORDER BY CAST(m.s_jk AS DOUBLE) / CAST(m.c_jk AS DOUBLE)
                          DESC, m.jrn ASC) AS r
        FROM pre i JOIN minj m ON m.jrn <= i.rn
      ) WHERE r = 1
    )
    SELECT CAST(p.score AS BIGINT) AS score, p.cnt, p.np,
           CAST(p.np * 1000000 // p.cnt AS BIGINT) AS raw_ppm,
           CAST(f.s_jk * 1000000 // f.c_jk AS BIGINT) AS iso_ppm
    FROM pre p JOIN fit f ON f.rn = p.rn
    """


@query("calibration_isotonic", _ISO_ORACLE)
def q_calibration_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAVA) probability calibration (D273) — the third
    member of the model-eval trio (AUC D265 scores the ORDERING, the
    lift table D266 scores TARGETING; isotonic regression turns the
    raw score into a CALIBRATED probability — the reliability curve a
    propensity consumer needs before treating scores as
    probabilities, and the standard post-hoc calibrator shipped with
    production scorers). Per distinct activity score: exact counts,
    the raw conversion rate, and the monotone-nondecreasing fitted
    rate.

    Exactness: instead of the sequential pool-adjacent-violators
    merge (whose backtracking no recursive CTE expresses cleanly),
    the fit uses the exact MINIMAX characterization iso(i) =
    max_{j<=i} min_{k>=j} mean(y[j..k]): interval means come from
    prefix-sum differences (exact BIGINT), the argmin/argmax SELECT
    an interval by IEEE-deterministic double ordering with pinned
    (k ASC)/(j ASC) tie-breaks — identical on both engines — and the
    emitted iso_ppm is the exact truncating render of the SELECTED
    interval's rational mean, so no float ever reaches the output.
    Plan: ONE user-keyed partial agg over the corpus, ONE per-score
    agg; the O(n²) interval lattice lives on the metadata-scale
    distinct-score table (n = distinct activity counts, not users —
    the same domain-boundedness as D265). One row per distinct
    score."""
    ev = t(spark, sf_dir, "events")
    s = _activity_scores(ev)
    pre = s.select(
        "score", "cnt", "np",
        F.expr("cast(row_number() over (order by score) as bigint)").alias(
            "rn"
        ),
        F.expr(
            "cast(sum(cnt) over (order by score rows unbounded preceding)"
            " as bigint)"
        ).alias("ccnt"),
        F.expr(
            "cast(sum(np) over (order by score rows unbounded preceding)"
            " as bigint)"
        ).alias("cnp"),
    )
    j = pre.select(
        F.col("rn").alias("jrn"),
        (F.col("cnp") - F.col("np")).alias("cnp0"),
        (F.col("ccnt") - F.col("cnt")).alias("ccnt0"),
    )
    k = pre.select(
        F.col("rn").alias("krn"),
        F.col("cnp").alias("kcnp"),
        F.col("ccnt").alias("kccnt"),
    )
    iv = j.join(k, F.col("krn") >= F.col("jrn")).select(
        "jrn", "krn",
        (F.col("kcnp") - F.col("cnp0")).cast("bigint").alias("s_jk"),
        (F.col("kccnt") - F.col("ccnt0")).cast("bigint").alias("c_jk"),
    )
    minj = (
        iv.withColumn(
            "r",
            F.expr(
                "row_number() over (partition by jrn order by"
                " cast(s_jk as double) / cast(c_jk as double) asc, krn asc)"
            ),
        )
        .filter(F.col("r") == 1)
        .select("jrn", "s_jk", "c_jk")
    )
    fit = (
        pre.select(F.col("rn"))
        .join(minj, F.col("jrn") <= F.col("rn"))
        .withColumn(
            "r",
            F.expr(
                "row_number() over (partition by rn order by"
                " cast(s_jk as double) / cast(c_jk as double) desc, jrn asc)"
            ),
        )
        .filter(F.col("r") == 1)
        .select("rn", "s_jk", "c_jk")
    )
    return pre.join(fit, "rn").select(
        F.col("score").cast("bigint").alias("score"), "cnt", "np",
        F.expr("cast(np * 1000000 div cnt as bigint)").alias("raw_ppm"),
        F.expr("cast(s_jk * 1000000 div c_jk as bigint)").alias("iso_ppm"),
    )


# DuckDB twin of the CMH table: identical strata/arms (the D264
# construction), identical truncating per-stratum micro terms and the
# pooled Mantel-Haenszel ratio of their sums.
_CMH_ORACLE = """
    WITH u AS (
      SELECT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 'A' ELSE 'B' END AS arm,
             COUNT(*) AS n_events,
             MAX(CASE WHEN event_type = 'purchase' AND value > 250
                      THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CASE WHEN n_events < 62 THEN 'low'
                  WHEN n_events < 70 THEN 'mid' ELSE 'high' END AS stratum,
             arm, conv FROM u
    ),
    cell AS (
      SELECT stratum,
             CAST(SUM(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT)
               AS a,
             CAST(SUM(CASE WHEN arm = 'A' THEN 1 - conv ELSE 0 END) AS BIGINT)
               AS b,
             CAST(SUM(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS BIGINT)
               AS c,
             CAST(SUM(CASE WHEN arm = 'B' THEN 1 - conv ELSE 0 END) AS BIGINT)
               AS d
      FROM s GROUP BY stratum
    ),
    term AS (
      SELECT stratum, a, b, c, d,
             CAST(a * d * 1000000 // (a + b + c + d) AS BIGINT) AS r_micro,
             CAST(b * c * 1000000 // (a + b + c + d) AS BIGINT) AS s_micro
      FROM cell
    ),
    strata_rows AS (
      SELECT stratum, a, b, c, d,
             CAST(CASE WHEN b * c = 0 THEN -1
                  ELSE a * d * 1000000 // (b * c) END AS BIGINT) AS or_ppm,
             CAST(-1 AS BIGINT) AS cmh_or_ppm
      FROM term
    ),
    pooled AS (
      SELECT '__POOLED__' AS stratum,
             CAST(SUM(a) AS BIGINT) AS a, CAST(SUM(b) AS BIGINT) AS b,
             CAST(SUM(c) AS BIGINT) AS c, CAST(SUM(d) AS BIGINT) AS d,
             CAST(CASE WHEN SUM(b) * SUM(c) = 0 THEN -1
                  ELSE SUM(a) * SUM(d) * 1000000 // (SUM(b) * SUM(c)) END
                  AS BIGINT) AS or_ppm,
             CAST(CASE WHEN SUM(s_micro) = 0 THEN -1
                  ELSE SUM(r_micro) * 1000000 // SUM(s_micro) END AS BIGINT)
               AS cmh_or_ppm
      FROM term
    )
    SELECT * FROM strata_rows
    UNION ALL
    SELECT * FROM pooled
    """


@query("abtest_cmh_pooled", _CMH_ORACLE)
def q_abtest_cmh_pooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel pooled odds ratio (D275) — the FIX for
    what the Simpson audit detects (D264 flags that the marginal
    direction disagrees with the strata; CMH is what you report
    INSTEAD of the confounded marginal: the strata-weighted common
    odds ratio, the epidemiology-standard way to pool 2×2 tables
    without letting unequal arm exposure across strata fabricate an
    effect). Same strata (activity tiers) and md5 arms as D264; per
    stratum the 2×2 cells and raw odds ratio, plus a __POOLED__ row
    carrying BOTH the naive marginal OR and the CMH estimate — their
    disagreement is the Simpson distortion, quantified.

    Exactness: per-stratum CMH terms a·d·1e6 div n and b·c·1e6 div n
    are truncating micro-units in a PINNED order (sum-of-truncated,
    not truncated-sum); the pooled ratio is one more truncating
    division of their exact BIGINT sums; raw ORs carry a -1 sentinel
    on empty cells (b·c = 0), as does a zero CMH denominator;
    products stay inside int64 to ~3e6 conversions per stratum cell
    with a raise_error guard (widen to DECIMAL(38,0) past it). Plan:
    ONE user-keyed partial agg → ONE (stratum) cell agg (the arms
    fold into conditional sums — narrower than D264's (stratum, arm)
    shuffle); everything after runs on ≤4 rows. Four rows out."""
    ev = t(spark, sf_dir, "events")
    u = _arm_stratum_users(ev)
    cell = u.groupBy("stratum").agg(
        F.expr("cast(sum(case when arm = 'A' then conv else 0 end) as bigint)")
        .alias("a"),
        F.expr(
            "cast(sum(case when arm = 'A' then 1 - conv else 0 end) as bigint)"
        ).alias("b"),
        F.expr("cast(sum(case when arm = 'B' then conv else 0 end) as bigint)")
        .alias("c"),
        F.expr(
            "cast(sum(case when arm = 'B' then 1 - conv else 0 end) as bigint)"
        ).alias("d"),
    )
    term = cell.select(
        "stratum", "a", "b", "c", "d",
        F.expr(
            "case when greatest(a, b, c, d) > 3000000 then"
            " raise_error('abtest_cmh_pooled: cell counts exceed 64-bit"
            " micro headroom — widen to DECIMAL(38,0)')"
            " else cast(a * d * 1000000 div (a + b + c + d) as bigint) end"
        ).alias("r_micro"),
        F.expr("cast(b * c * 1000000 div (a + b + c + d) as bigint)").alias(
            "s_micro"
        ),
    )
    strata_rows = term.select(
        "stratum", "a", "b", "c", "d",
        F.expr(
            "cast(case when b * c = 0 then -1"
            " else a * d * 1000000 div (b * c) end as bigint)"
        ).alias("or_ppm"),
        F.lit(-1).cast("bigint").alias("cmh_or_ppm"),
    )
    pooled = term.agg(
        F.sum("a").cast("bigint").alias("a"),
        F.sum("b").cast("bigint").alias("b"),
        F.sum("c").cast("bigint").alias("c"),
        F.sum("d").cast("bigint").alias("d"),
        F.sum("r_micro").cast("bigint").alias("rs"),
        F.sum("s_micro").cast("bigint").alias("ss"),
    ).select(
        F.lit("__POOLED__").alias("stratum"), "a", "b", "c", "d",
        F.expr(
            "cast(case when b * c = 0 then -1"
            " else a * d * 1000000 div (b * c) end as bigint)"
        ).alias("or_ppm"),
        F.expr(
            "cast(case when ss = 0 then -1"
            " else rs * 1000000 div ss end as bigint)"
        ).alias("cmh_or_ppm"),
    )
    return strata_rows.unionByName(pooled)


# DuckDB twin of the burst detector: identical zero-filled grid,
# identical integer micro-nat Poisson costs, the forward Viterbi
# recursion (normalized per step, predecessor bits materialized per
# row) replayed in one recursive CTE and the backtrack in a second —
# the first backward-walking recursion in the oracle suite.
_BURST_ORACLE = """
    WITH RECURSIVE daily AS (
      SELECT event_type,
             epoch_us(date_trunc('day', ts)) // 86400000000 AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
    grid AS MATERIALIZED (
      SELECT t.event_type, g.d,
             row_number() OVER (PARTITION BY t.event_type ORDER BY g.d)
               AS rn,
             COALESCE(dy.y, 0) AS y
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series((SELECT d0 FROM bounds),
                                                (SELECT d1 FROM bounds))) AS d) g
      LEFT JOIN daily dy ON dy.event_type = t.event_type AND dy.d = g.d
    ),
    consts AS MATERIALIZED (
      SELECT event_type,
             greatest(1, CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT)) AS l0,
             CAST(round(ln(greatest(1, CAST(SUM(y) * 1000000 // COUNT(*)
                  AS BIGINT))) * 1000000) AS BIGINT) - 13815511 AS c0,
             CAST(round(ln(3 * greatest(1, CAST(SUM(y) * 1000000 // COUNT(*)
                  AS BIGINT))) * 1000000) AS BIGINT) - 13815511 AS c1,
             CAST(round(ln(COUNT(*)) * 1000000) AS BIGINT) AS tr
      FROM grid GROUP BY event_type
    ),
    fwd AS (
      SELECT g.event_type, g.rn, g.d, g.y,
             CAST((c.l0 - g.y * c.c0)
                  - least(c.l0 - g.y * c.c0, 3 * c.l0 - g.y * c.c1 + c.tr)
                  AS BIGINT) AS d0,
             CAST((3 * c.l0 - g.y * c.c1 + c.tr)
                  - least(c.l0 - g.y * c.c0, 3 * c.l0 - g.y * c.c1 + c.tr)
                  AS BIGINT) AS d1,
             0 AS pred0, 0 AS pred1
      FROM grid g JOIN consts c USING (event_type) WHERE g.rn = 1
      UNION ALL
      SELECT g.event_type, g.rn, g.d, g.y,
             CAST((least(f.d0, f.d1) + c.l0 - g.y * c.c0)
                  - least(least(f.d0, f.d1) + c.l0 - g.y * c.c0,
                          least(f.d0 + c.tr, f.d1) + 3 * c.l0 - g.y * c.c1)
                  AS BIGINT),
             CAST((least(f.d0 + c.tr, f.d1) + 3 * c.l0 - g.y * c.c1)
                  - least(least(f.d0, f.d1) + c.l0 - g.y * c.c0,
                          least(f.d0 + c.tr, f.d1) + 3 * c.l0 - g.y * c.c1)
                  AS BIGINT),
             CASE WHEN f.d0 <= f.d1 THEN 0 ELSE 1 END,
             CASE WHEN f.d0 + c.tr <= f.d1 THEN 0 ELSE 1 END
      FROM fwd f
      JOIN grid g ON g.event_type = f.event_type AND g.rn = f.rn + 1
      JOIN consts c ON c.event_type = g.event_type
    ),
    last AS (SELECT event_type, MAX(rn) AS rt FROM fwd GROUP BY 1),
    bwd AS (
      SELECT f.event_type, f.rn,
             CASE WHEN f.d0 <= f.d1 THEN 0 ELSE 1 END AS state
      FROM fwd f JOIN last l ON l.event_type = f.event_type AND f.rn = l.rt
      UNION ALL
      SELECT fb.event_type, b.rn - 1,
             CASE WHEN b.state = 0 THEN fb.pred0 ELSE fb.pred1 END
      FROM bwd b
      JOIN fwd fb ON fb.event_type = b.event_type AND fb.rn = b.rn
      WHERE b.rn > 1
    ),
    lab AS (
      SELECT g.event_type, g.rn, g.d, g.y, b.state,
             CASE WHEN b.state = 1
                  AND COALESCE(lag(b.state) OVER (PARTITION BY g.event_type
                                                  ORDER BY g.rn), 0) = 0
             THEN 1 ELSE 0 END AS starts
      FROM grid g JOIN bwd b ON b.event_type = g.event_type AND b.rn = g.rn
    )
    SELECT event_type,
           strftime(make_timestamp(d * 86400000000), '%Y-%m-%d') AS day,
           y, CAST(state AS BIGINT) AS state,
           CAST(CASE WHEN state = 1
                THEN SUM(starts) OVER (PARTITION BY event_type ORDER BY rn)
                ELSE 0 END AS BIGINT) AS burst_id
    FROM lab
    """


@query("events_burst_detection", _BURST_ORACLE)
def q_events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg-style two-state burst detection (D278) — the
    INTERVAL-shaped member of the anomaly family (CUSUM D195 finds a
    mean SHIFT point, MAD D134 flags single outlier days,
    seasonal-naive D214 explains cycles; bursts are different: a
    sustained elevated-rate EPISODE with a start and an end — the
    enumerate-bursts primitive behind trending-topic and incident
    detection): a 2-state automaton (base rate λ, burst rate 3λ) with
    Poisson day costs and a ln(n)-scaled entry penalty, solved
    EXACTLY by Viterbi over the zero-filled daily grid per type; each
    day gets its optimal-path state and a burst id.

    Exactness: day costs λ_micro − y·(µln(λ_micro) − ln(1e6)·1e6)
    are exact micro-nat integers (the D252 baked-constant
    discipline; the state-independent ln(y!) term cancels and is
    dropped, as Kleinberg does); the DP normalizes per step
    (subtract the running min — argmin-preserving, keeps int64
    bounded on any horizon); ALL ties prefer the base state (pinned
    in min-order); the oracle replays the forward recursion in one
    recursive CTE (predecessor bits materialized per row) and the
    BACKTRACK in a second, backward-walking recursion — stream order
    cannot drift. Plan: ONE (type, day) partial agg collapses the
    corpus; the Viterbi runs per type over the ≤#days grid inside
    applyInPandas with Python ints (the D250 shape — each output
    depends on the previous output). One row per (type, day)."""
    import math

    import pandas as pd

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(date_trunc('day', ts)) div 86400000000").alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    types = ev.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(bounds))
        .select("event_type", F.explode(F.sequence("d0", "d1")).alias("d"))
        .join(daily, ["event_type", "d"], "left")
        .select("event_type", "d", F.coalesce("y", F.lit(0)).alias("y"))
    )

    def viterbi(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        ys = [int(v) for v in pdf["y"]]
        n = len(ys)
        l0 = max(1, sum(ys) * 1000000 // n)
        c0 = round(math.log(l0) * 1000000) - 13815511
        c1 = round(math.log(3 * l0) * 1000000) - 13815511
        tr = round(math.log(n) * 1000000)
        preds = []
        f0 = l0 - ys[0] * c0
        f1 = 3 * l0 - ys[0] * c1 + tr
        m = min(f0, f1)
        d0, d1 = f0 - m, f1 - m
        preds.append((0, 0))
        for y in ys[1:]:
            p0 = 0 if d0 <= d1 else 1
            p1 = 0 if d0 + tr <= d1 else 1
            f0 = min(d0, d1) + l0 - y * c0
            f1 = min(d0 + tr, d1) + 3 * l0 - y * c1
            m = min(f0, f1)
            d0, d1 = f0 - m, f1 - m
            preds.append((p0, p1))
        states = [0] * n
        states[n - 1] = 0 if d0 <= d1 else 1
        for i in range(n - 1, 0, -1):
            states[i - 1] = preds[i][states[i]]
        burst_ids, bid = [], 0
        prev = 0
        for s in states:
            if s == 1 and prev == 0:
                bid += 1
            burst_ids.append(bid if s == 1 else 0)
            prev = s
        pdf["state"] = states
        pdf["burst_id"] = burst_ids
        return pdf

    fit = grid.groupBy("event_type").applyInPandas(
        viterbi,
        "event_type string, d long, y long, state long, burst_id long",
    )
    return fit.select(
        "event_type",
        F.date_format(
            F.timestamp_micros(F.expr("d * 86400000000")), "yyyy-MM-dd"
        ).alias("day"),
        "y", "state", "burst_id",
    )


# DuckDB twin of the FDR readout: identical per-type 2x2 counts,
# identical pinned-literal normal-CDF polynomial (A&S 26.2.17) and
# micro renders, identical step-up rule on the 5-row table.
_PHI_TAIL = (
    "(exp(-({z}) * ({z}) / 2.0) / 2.5066282746310002"
    " * (0.319381530 * (1.0 / (1.0 + 0.2316419 * ({z})))"
    "  - 0.356563782 * pow(1.0 / (1.0 + 0.2316419 * ({z})), 2)"
    "  + 1.781477937 * pow(1.0 / (1.0 + 0.2316419 * ({z})), 3)"
    "  - 1.821255978 * pow(1.0 / (1.0 + 0.2316419 * ({z})), 4)"
    "  + 1.330274429 * pow(1.0 / (1.0 + 0.2316419 * ({z})), 5)))"
)

_BH_ORACLE = f"""
    WITH u AS (
      SELECT user_id, event_type,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(MAX(CASE WHEN value > 250 THEN 1 ELSE 0 END) AS BIGINT)
               AS conv
      FROM events GROUP BY user_id, event_type
    ),
    cell AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT)
               AS c1,
             CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS BIGINT)
               AS c2
      FROM u GROUP BY event_type
    ),
    zt AS (
      SELECT event_type, n1, c1, n2, c2,
             CASE WHEN n1 = 0 OR n2 = 0 OR c1 + c2 = 0
                       OR c1 + c2 = n1 + n2 THEN 0.0
                  ELSE (CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
                       / sqrt((CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                              * (1 - CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                              * (1.0 / n1 + 1.0 / n2))
             END AS z
      FROM cell
    ),
    pt AS (
      SELECT event_type, n1, c1, n2, c2, z,
             CAST(round(least(1000000.0,
                  2000000.0 * {_PHI_TAIL.format(z='abs(z)')})) AS BIGINT)
               AS p_micro
      FROM zt
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p_micro, event_type)
                     AS BIGINT) AS rank,
             CAST(COUNT(*) OVER () AS BIGINT) AS m
      FROM pt
    ),
    cutoff AS (
      SELECT COALESCE(MAX(rank), 0) AS kmax
      FROM ranked WHERE p_micro * m <= rank * 50000
    )
    SELECT event_type, n1, c1, n2, c2, z, p_micro, rank,
           CAST(rank * 50000 // m AS BIGINT) AS bh_threshold_micro,
           CAST(CASE WHEN rank <= (SELECT kmax FROM cutoff)
                THEN 1 ELSE 0 END AS BIGINT) AS reject
    FROM ranked
    """


@query("abtest_bh_fdr", _BH_ORACLE)
def q_abtest_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction (D279) — the multiple-testing
    closer the experimentation family needs the moment it tests MORE
    THAN ONE metric (z D135, Welch D186, CUPED D217, CMH D275 each
    score one hypothesis; a dashboard testing conversion per event
    type runs five at once, and at α=0.05 a naive per-test readout
    fabricates one 'winner' per twenty metrics — BH is the standard
    step-up control of the false-discovery rate): per event type the
    high-value-conversion two-proportion z, its two-sided p, the BH
    rank, the i·α/m threshold, and the step-up reject flag (ALL
    hypotheses up to the LARGEST rank whose p clears its threshold —
    the part naive thresholding gets wrong).

    Exactness: counts exact BIGINT; z is the pinned pooled-variance
    IEEE expression (degenerate cells — empty arm, zero or saturated
    conversions — pin z = 0); the normal tail goes through the
    Abramowitz-Stegun 26.2.17 polynomial with its five literal
    coefficients and sqrt(2π) baked to 17 digits, written identically
    in both engines, rendered once to p_micro (capped at 1e6); the
    step-up comparison p·m ≤ rank·α·1e6 is pure integer (α = 0.05 →
    50000), rank ties break by event_type. Plan: ONE (user, type)
    partial agg over the corpus, ONE type rollup; ranking and the
    step-up scan run on the ≤#types-row table. One row per type."""
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id", "event_type").agg(
        F.expr(
            "cast(max(case when value > 250 then 1 else 0 end) as bigint)"
        ).alias("conv")
    ).withColumn(
        "arm",
        F.when(
            F.substring(
                F.md5(F.col("user_id").cast("string").cast("binary")), 1, 1
            ).isin(*"01234567"),
            F.lit("A"),
        ).otherwise(F.lit("B")),
    )
    cell = u.groupBy("event_type").agg(
        F.expr("cast(sum(case when arm = 'A' then 1 else 0 end) as bigint)")
        .alias("n1"),
        F.expr("cast(sum(case when arm = 'A' then conv else 0 end) as bigint)")
        .alias("c1"),
        F.expr("cast(sum(case when arm = 'B' then 1 else 0 end) as bigint)")
        .alias("n2"),
        F.expr("cast(sum(case when arm = 'B' then conv else 0 end) as bigint)")
        .alias("c2"),
    )
    zt = cell.withColumn(
        "z",
        F.expr(
            "case when n1 = 0 or n2 = 0 or c1 + c2 = 0"
            " or c1 + c2 = n1 + n2 then 0.0"
            " else (cast(c1 as double) / n1 - cast(c2 as double) / n2)"
            " / sqrt((cast(c1 + c2 as double) / (n1 + n2))"
            " * (1 - cast(c1 + c2 as double) / (n1 + n2))"
            " * (1.0 / n1 + 1.0 / n2)) end"
        ),
    )
    pt = zt.withColumn(
        "p_micro",
        F.expr(
            "cast(round(least(1000000.0, 2000000.0 * "
            + _PHI_TAIL.format(z="abs(z)")
            + ")) as bigint)"
        ),
    )
    ranked = pt.withColumn(
        "rank",
        F.expr(
            "cast(row_number() over (order by p_micro, event_type) as bigint)"
        ),
    ).withColumn("m", F.expr("cast(count(*) over () as bigint)"))
    kmax = ranked.filter(
        F.expr("p_micro * m <= rank * 50000")
    ).agg(F.coalesce(F.max("rank"), F.lit(0)).alias("kmax"))
    return ranked.crossJoin(F.broadcast(kmax)).select(
        "event_type", "n1", "c1", "n2", "c2", "z", "p_micro", "rank",
        F.expr("cast(rank * 50000 div m as bigint)").alias(
            "bh_threshold_micro"
        ),
        F.expr(
            "cast(case when rank <= kmax then 1 else 0 end as bigint)"
        ).alias("reject"),
    )


# DuckDB twin of the report card: the D279/D264/D275 sub-oracles are
# nested verbatim as subqueries (v7 composition discipline — report
# parity transitively re-verifies all three), joined on the BH panel
# spine with the overall confounding columns broadcast to every row.
_REPORT_ORACLE = (
    """
    WITH bh AS ("""
    + _BH_ORACLE
    + """),
    sp AS ("""
    + _SIMPSON_ORACLE
    + """),
    cmh AS ("""
    + _CMH_ORACLE
    + """),
    flips AS (
      SELECT CAST(SUM(flipped) AS BIGINT) AS simpson_flips FROM sp
    ),
    pooled AS (
      SELECT or_ppm AS marginal_or_ppm, cmh_or_ppm
      FROM cmh WHERE stratum = '__POOLED__'
    )
    SELECT b.event_type, b.z, b.p_micro, b.rank, b.reject,
           f.simpson_flips, p.marginal_or_ppm, p.cmh_or_ppm,
           CASE WHEN b.reject = 1 AND f.simpson_flips > 0
                THEN 'investigate-confounding'
                WHEN b.reject = 1 THEN 'ship'
                ELSE 'no-effect' END AS verdict
    FROM bh b CROSS JOIN flips f CROSS JOIN pooled p
    """
)


@query("abtest_report_card", _REPORT_ORACLE)
def q_abtest_report_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation report card (D280) — the one-table readout the
    whole A/B family exists to produce (an analyst never reads D135's
    z, D279's FDR panel, D264's confounding screen and D275's CMH
    separately — the REPORT joins them, and its verdict column is the
    ship/no-ship decision): one row per event-type metric off the BH
    panel spine (z, p, rank, step-up reject), with the corpus-level
    confounding columns on every row — Simpson flip count, naive
    marginal OR, CMH pooled OR — and a pinned three-way verdict:
    'ship' (FDR-significant, no stratified reversal),
    'investigate-confounding' (significant but the Simpson audit
    flipped — the marginal effect may be exposure mix, read the CMH
    column instead), or 'no-effect'.

    Exactness: the Spark side CALLS the registered D279/D264/D275
    queries and joins their DataFrames; the oracle nests all three
    sub-oracles verbatim — report parity transitively re-verifies the
    z/p polynomial, the cross-multiplied directions and the CMH micro
    sums in one hash (the v7-flagship composition discipline, applied
    to the experimentation family). Plan: sub-query cost dominates
    (each is ONE user-keyed partial agg + metadata-scale folds); the
    report adds two single-row broadcast cross joins. One row per
    event type."""
    bh = q_abtest_bh_fdr(spark, sf_dir).select(
        "event_type", "z", "p_micro", "rank", "reject"
    )
    flips = q_simpson_paradox_audit(spark, sf_dir).agg(
        F.sum("flipped").cast("bigint").alias("simpson_flips")
    )
    pooled = (
        q_abtest_cmh_pooled(spark, sf_dir)
        .filter(F.col("stratum") == "__POOLED__")
        .select(
            F.col("or_ppm").alias("marginal_or_ppm"),
            "cmh_or_ppm",
        )
    )
    return (
        bh.crossJoin(F.broadcast(flips))
        .crossJoin(F.broadcast(pooled))
        .select(
            "event_type", "z", "p_micro", "rank", "reject",
            "simpson_flips", "marginal_or_ppm", "cmh_or_ppm",
            F.expr(
                "case when reject = 1 and simpson_flips > 0"
                " then 'investigate-confounding'"
                " when reject = 1 then 'ship'"
                " else 'no-effect' end"
            ).alias("verdict"),
        )
    )


# DuckDB twin of the conformal intervals: identical md5 three-way
# split, truncating train mean, exact type-1 calibration quantile at
# rank ceil(0.9*(n+1)) clamped to n, identical coverage ppm.
_CONFORMAL_ORACLE = """
    WITH ev AS (
      SELECT event_type, event_id,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
             substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS h
      FROM events
    ),
    tr AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_train,
             CAST(SUM(cents) AS BIGINT) AS s
      FROM ev WHERE h >= '80000000' GROUP BY event_type
    ),
    pred AS (
      SELECT event_type, n_train,
             CASE WHEN s >= 0 THEN CAST(s // n_train AS BIGINT)
                  ELSE -CAST((-s) // n_train AS BIGINT) END AS pred_cents
      FROM tr
    ),
    cal AS (
      SELECT ev.event_type, abs(ev.cents - p.pred_cents) AS r
      FROM ev JOIN pred p USING (event_type)
      WHERE ev.h < '40000000'
    ),
    caln AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cal
      FROM cal GROUP BY event_type
    ),
    qhat AS (
      SELECT c.event_type, c.r AS qhat_cents, n.n_cal
      FROM (SELECT event_type, r,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY r, event_type) AS rk
            FROM cal) c
      JOIN caln n ON n.event_type = c.event_type
      WHERE c.rk = LEAST(n.n_cal, (9 * (n.n_cal + 1) + 9) // 10)
    ),
    tst AS (
      SELECT ev.event_type,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(COUNT(*) FILTER (
               WHERE abs(ev.cents - p.pred_cents) <= q.qhat_cents
             ) AS BIGINT) AS n_covered
      FROM ev
      JOIN pred p USING (event_type)
      JOIN qhat q ON q.event_type = ev.event_type
      WHERE ev.h >= '40000000' AND ev.h < '80000000'
      GROUP BY ev.event_type
    )
    SELECT p.event_type, p.n_train, q.n_cal, t.n_test, p.pred_cents,
           q.qhat_cents,
           CAST(p.pred_cents - q.qhat_cents AS BIGINT) AS lo_cents,
           CAST(p.pred_cents + q.qhat_cents AS BIGINT) AS hi_cents,
           CAST(t.n_covered * 1000000 // t.n_test AS BIGINT) AS coverage_ppm
    FROM pred p
    JOIN qhat q ON q.event_type = p.event_type
    JOIN tst t ON t.event_type = p.event_type
    """


@query("conformal_value_intervals", _CONFORMAL_ORACLE)
def q_conformal_value_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL prediction intervals (D293, Vovk / Lei et al.) —
    the distribution-free interval member completing the model-eval
    family (AUC D265 ranks, lift D266 targets, isotonic D273
    calibrates probabilities; conformal wraps ANY point predictor in
    an interval with finite-sample coverage ≥ 1−α, no distributional
    assumption — the modern pre-deployment wrapper): per event type,
    a truncating-mean point model fit on the md5 TRAIN split (50%),
    the calibration residual quantile q̂ at rank ⌈0.9·(n+1)⌉ (exact
    type-1, clamped to n — the finite-sample conformal rank, NOT an
    interpolated percentile), the resulting ±q̂ interval, and the
    EMPIRICAL coverage on the held-out test split in ppm — the
    conformal guarantee made a measurable artifact (coverage ≈ 900k
    ppm up to binomial noise; systematic undercoverage = leakage or a
    broken split).

    Exactness: cents quantization, truncating sign-safe mean, exact
    rank selection via the (r ASC) row_number with the ceil computed
    as (9(n+1)+9) div 10, integer coverage ppm — every figure BIGINT.
    The md5 split is the D28 convention (hex prefix thirds at
    '40000000'/'80000000'), bit-replayable in DuckDB. Plan: one
    narrow scan pass (split tag + cents are per-row expressions), one
    partial agg per split, one per-type rank window over calibration
    residuals (bounded by the type's calibration count), one
    broadcast-joined coverage agg. One row per event type."""
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("cents"),
        F.expr("substr(md5(cast(event_id as string)), 1, 8)").alias("h"),
    )
    tr = ev.filter(F.col("h") >= "80000000").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    pred = tr.select(
        "event_type",
        "n_train",
        F.expr(
            "case when s >= 0 then cast(s div n_train as bigint)"
            " else -cast((-s) div n_train as bigint) end"
        ).alias("pred_cents"),
    )
    cal = (
        ev.filter(F.col("h") < "40000000")
        .join(F.broadcast(pred), "event_type")
        .select("event_type", F.expr("abs(cents - pred_cents)").alias("r"))
    )
    caln = cal.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cal")
    )
    from pyspark.sql import Window

    wq = Window.partitionBy("event_type").orderBy("r", "event_type")
    qhat = (
        cal.withColumn("rk", F.row_number().over(wq))
        .join(F.broadcast(caln), "event_type")
        .filter(F.expr("rk = least(n_cal, (9 * (n_cal + 1) + 9) div 10)"))
        .select("event_type", F.col("r").alias("qhat_cents"), "n_cal")
    )
    tst = (
        ev.filter((F.col("h") >= "40000000") & (F.col("h") < "80000000"))
        .join(F.broadcast(pred.select("event_type", "pred_cents")), "event_type")
        .join(F.broadcast(qhat.select("event_type", "qhat_cents")), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.expr(
                "cast(sum(case when abs(cents - pred_cents) <= qhat_cents"
                " then 1 else 0 end) as bigint)"
            ).alias("n_covered"),
        )
    )
    return (
        pred.join(qhat, "event_type")
        .join(tst, "event_type")
        .select(
            "event_type",
            "n_train",
            "n_cal",
            "n_test",
            "pred_cents",
            "qhat_cents",
            (F.col("pred_cents") - F.col("qhat_cents"))
            .cast("bigint")
            .alias("lo_cents"),
            (F.col("pred_cents") + F.col("qhat_cents"))
            .cast("bigint")
            .alias("hi_cents"),
            F.expr("cast(n_covered * 1000000 div n_test as bigint)").alias(
                "coverage_ppm"
            ),
        )
    )

"""Event, experiment and forecasting queries (`plans/events_queries.py`,
plus `events_lorenz_gini`) on planted event tables: each test constructs
the condition the query's docstring claims to handle and pins the exact
output, so a regression fails with a diagnosis instead of an opaque
oracle hash mismatch."""

from __future__ import annotations

import datetime
import hashlib

import duckdb
import pytest

import mapreduce_project_spark.queries_registry as R
from tests.conftest import SF_DIR, _write_events, rows_of


# ---------------------------------------------------------------- D223


def test_bot_scores_flags_regular_beacon_not_bursty_human(spark, tmp_path):
    base = datetime.datetime(2024, 5, 1, 0, 0, 0)
    rows, eid = [], 0
    # user 1: metronome — exactly 600 s between every event → CV² = 0
    for i in range(50):
        rows.append((eid, str(base + datetime.timedelta(seconds=600 * i)), 1, "ping", 1.0))
        eid += 1
    # user 2: bursty human — alternating 5 s / 7200 s gaps, mixed types
    gap, t = [5, 7200], base
    for i in range(50):
        t = t + datetime.timedelta(seconds=gap[i % 2])
        rows.append((eid, str(t), 2, ["view", "click", "buy"][i % 3], 1.0))
        eid += 1
    # user 3: irregular gaps but 95% one event type → concentration flag
    t = base
    for i in range(40):
        t = t + datetime.timedelta(seconds=100 + (i * i * 37) % 5000)
        rows.append((eid, str(t), 3, "scrape" if i < 38 else "view", 1.0))
        eid += 1
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["events_bot_scores"](spark, str(tmp_path))
        .toPandas()
        .set_index("user_id")
    )
    assert got.loc[1].cv2_ppm == 0.0 and got.loc[1].is_bot_suspect == 1
    assert got.loc[1].mean_gap_s == 600 and got.loc[1].gap_var_mean == 0
    # alternating 5/7200 gaps: variance ≈ mean² ⇒ CV² ≈ 10⁶ ≫ threshold
    assert got.loc[2].cv2_ppm > 700000 and got.loc[2].is_bot_suspect == 0
    assert got.loc[3].top_type_share_ppm == 38 * 1_000_000 // 40
    assert got.loc[3].is_bot_suspect == 1


def test_bot_flag_is_live_on_the_fixtures(spark):
    # the suspect flag must not be vacuously constant on the shipped
    # testdata (a datagen change that empties it should fail HERE,
    # with this diagnosis, not as an opaque oracle diff)
    got = R.ALL_QUERIES["events_bot_scores"](spark, SF_DIR).toPandas()
    flagged = int(got.is_bot_suspect.sum())
    assert 0 < flagged < len(got), (
        f"bot flag degenerate: {flagged}/{len(got)} users flagged — "
        "retune the CV² threshold to the new gap distribution"
    )


# ---------------------------------------------------------------- D224


def test_hourly_acf_detects_planted_period_and_zero_fills(spark, tmp_path):
    # 8 days of hourly events with a strict period-24 pattern: hour-of
    # -day h gets (h % 24 < 12 ? 4 : 1) events, EXCEPT one hour with
    # zero events (must be zero-filled, not skipped).
    base = datetime.datetime(2024, 5, 1, 0, 0, 0)
    rows, eid = [], 0
    for h in range(24 * 8):
        n = 4 if h % 24 < 12 else 1
        if h == 50:
            continue  # the hole: ACF grid must carry n=0 here
        for i in range(n):
            rows.append(
                (eid, str(base + datetime.timedelta(hours=h, minutes=i)), 1 + i, "e", 1.0)
            )
            eid += 1
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["events_hourly_acf"](spark, str(tmp_path))
        .toPandas()
        .set_index("lag")
    )
    assert int(got.loc[1].n_hours) == 24 * 8  # hole zero-filled, not dropped
    # period 24: strong positive; lag 1 also positive (12-hour blocks);
    # the planted signal must dominate at the period
    assert got.loc[24].acf > 0.75
    assert got.loc[24].acf > got.loc[3].acf
    # exact integer moments: den is Σdev² of the known series
    import numpy as np

    series = np.array(
        [(4 if h % 24 < 12 else 1) if h != 50 else 0 for h in range(24 * 8)]
    )
    m = series.sum() // len(series)
    dev = series - m
    assert int(got.loc[1].den) == int((dev * dev).sum())
    assert int(got.loc[24].num) == int((dev[:-24] * dev[24:]).sum())


# ---------------------------------------------------------------- D229


def test_concurrency_profile_peak_and_midnight_split(spark, tmp_path):
    rows = [
        # u1: one session 00:00-00:10; u2 single event inside it -> peak 2
        (1, "2024-01-01 00:00:00", 1, "view", 0.0),
        (2, "2024-01-01 00:10:00", 1, "view", 0.0),
        (3, "2024-01-01 00:05:00", 2, "view", 0.0),
        # u3: isolated later -> doesn't raise the peak
        (4, "2024-01-01 02:00:00", 3, "view", 0.0),
        # u4: session crossing midnight (15-min gap < 30) -> sliced
        # into both days
        (5, "2024-01-02 23:50:00", 4, "view", 0.0),
        (6, "2024-01-03 00:05:00", 4, "view", 0.0),
    ]
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["events_concurrency_profile"](spark, str(tmp_path))
        .toPandas()
        .set_index("day")
    )
    d1 = got.loc["2024-01-01"]
    assert d1.peak_concurrent == 2 and d1.n_session_slices == 3
    # the midnight session contributes one slice to EACH day
    assert got.loc["2024-01-02"].n_session_slices == 1
    assert got.loc["2024-01-03"].n_session_slices == 1
    assert got.loc["2024-01-02"].peak_concurrent == 1


# ---------------------------------------------------------------- D230


def _arm(uid: int) -> str:
    return "A" if hashlib.md5(str(uid).encode()).hexdigest()[0] in "01234567" else "B"


def test_bootstrap_ci_separates_a_clear_effect(spark, tmp_path):
    # 40 users per arm (selected by the real md5 split), arm B's
    # per-user total is 100 cents higher -> the 95% CI must sit
    # strictly above zero and bracket the observed diff.
    a_users = [u for u in range(1, 500) if _arm(u) == "A"][:40]
    b_users = [u for u in range(1, 500) if _arm(u) == "B"][:40]
    rows = []
    eid = 0
    for u in a_users:
        rows.append((eid, "2024-01-05 00:00:00", u, "purchase", 1.00))
        eid += 1
    for u in b_users:
        rows.append((eid, "2024-01-05 00:00:00", u, "purchase", 2.00))
        eid += 1
    _write_events(spark, tmp_path, rows)
    got = R.ALL_QUERIES["abtest_bootstrap_ci"](spark, str(tmp_path)).toPandas()
    assert len(got) == 1
    row = got.iloc[0]
    assert row.n_users_a == 40 and row.n_users_b == 40
    assert abs(row.diff_cents - 100.0) < 1e-9
    assert row.ci_lo_cents > 0 and row.ci_covers_zero == 0
    assert row.ci_lo_cents <= row.diff_cents <= row.ci_hi_cents
    assert row.n_resamples == 200


def test_bootstrap_ci_covers_zero_under_the_null(spark, tmp_path):
    # identical arms -> observed diff 0, CI must cover it.
    users = list(range(1, 120))
    rows = [
        (i, "2024-01-05 00:00:00", u, "purchase", 1.00)
        for i, u in enumerate(users)
    ]
    _write_events(spark, tmp_path, rows)
    got = R.ALL_QUERIES["abtest_bootstrap_ci"](spark, str(tmp_path)).toPandas()
    row = got.iloc[0]
    assert row.diff_cents == 0.0
    assert row.ci_covers_zero == 1
    assert row.ci_lo_cents <= 0.0 <= row.ci_hi_cents


# ---------------------------------------------------------------- D232


def test_holt_declining_series_pins_floor_semantics(spark, tmp_path):
    # 300, 200, 100 cents daily: the trend term goes NEGATIVE, where
    # floor(x/4.0) (pinned) and integer-div-toward-zero diverge:
    # b_2 = floor(-25/4) = -7 (truncation would say -6).
    rows = [
        (1, "2024-01-01 00:00:00", 1, "view", 3.00),
        (2, "2024-01-02 00:00:00", 1, "view", 2.00),
        (3, "2024-01-03 00:00:00", 1, "view", 1.00),
    ]
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["events_holt_forecast"](spark, str(tmp_path))
        .toPandas()
        .set_index("day")
    )
    assert got.loc["2024-01-01"].level_cents == 300
    assert got.loc["2024-01-01"].trend_cents == 0
    d2 = got.loc["2024-01-02"]
    assert d2.level_cents == 275 and d2.trend_cents == -7
    assert d2.resid_cents == -100
    d3 = got.loc["2024-01-03"]
    assert d3.level_cents == 226 and d3.trend_cents == -18
    assert d3.resid_cents == -168
    assert d3.forecast_next_cents == 226 - 18


# ---------------------------------------------------------------- D234


def test_retention_hazard_censoring_and_conversion(spark, tmp_path):
    # u1 converts on day 2; u2 never converts (at risk to the day-5
    # horizon); u3 enters AT the horizon (censored at 0, so it leaves
    # the risk set after k=0). at_risk must shrink by censoring, not
    # just conversion.
    rows = [
        (1, "2024-01-01 00:00:00", 1, "view", 0.0),
        (2, "2024-01-03 00:00:00", 1, "purchase", 5.0),
        (3, "2024-01-01 00:00:00", 2, "view", 0.0),
        (4, "2024-01-06 00:00:00", 3, "view", 0.0),
    ]
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["events_retention_hazard"](spark, str(tmp_path))
        .toPandas()
        .set_index("k")
    )
    assert got.loc[0].n_at_risk == 3 and got.loc[0].n_converted == 0
    assert got.loc[1].n_at_risk == 2
    k2 = got.loc[2]
    assert k2.n_at_risk == 2 and k2.n_converted == 1
    assert k2.hazard_ppm == 500000
    assert got.loc[3].n_at_risk == 1 and got.loc[5].n_at_risk == 1
    assert got.loc[6].n_at_risk == 0 and got.loc[6].hazard_ppm == 0
    assert len(got) == 30


# ---------------------------------------------------------------- D239


def test_lorenz_gini_pins_uniform_and_whale_extremes(spark, tmp_path):
    # all-equal spend -> Gini 0; then one whale holding all value ->
    # the rank formula gives exactly (2n - (n+1))/n = 0.9 at n=10.
    rows = [
        (i, "2024-01-05 00:00:00", u, "purchase", 1.00)
        for i, u in enumerate(range(1, 11))
    ]
    _write_events(spark, tmp_path, rows)
    got = R.ALL_QUERIES["events_lorenz_gini"](spark, str(tmp_path)).toPandas()
    assert (got.gini_ppm == 0).all()
    assert got[got.decile == 10].iloc[0].cum_share_ppm == 1000000

    rows = [
        (i, "2024-01-05 00:00:00", u, "purchase", 0.00)
        for i, u in enumerate(range(1, 10))
    ] + [(99, "2024-01-05 00:00:00", 10, "purchase", 100.00)]
    _write_events(spark, tmp_path, rows)
    got = R.ALL_QUERIES["events_lorenz_gini"](spark, str(tmp_path)).toPandas()
    assert (got.gini_ppm == 900000).all()
    lo = got[got.decile < 10]
    assert (lo.cum_share_ppm == 0).all()
    assert got[got.decile == 10].iloc[0].cum_share_ppm == 1000000


# ---------------------------------------------------------------- D242


def test_behavioral_release_gates_bots_and_small_cells(spark, tmp_path):
    import hashlib as _h

    rows = []
    eid = 0
    # six normal users: 3 mixed events, $1 each -> same (band, cell)
    for u in range(1, 7):
        for j, et in enumerate(("view", "click", "purchase")):
            rows.append((eid, f"2024-01-0{j + 1} 10:00:00", u, et, 1.00))
            eid += 1
    # dominant-type bot: 20 clicks spread over 20 days (rate is fine,
    # concentration is not)
    for j in range(20):
        rows.append((eid, f"2024-01-{j + 1:02d} 09:00:00", 100, "click", 1.00))
        eid += 1
    # rate bot: 15 mixed events inside one minute (concentration is
    # fine, 86400*15/60s >> 200/day is not)
    for j in range(15):
        et = "view" if j % 2 else "click"
        rows.append((eid, f"2024-01-05 10:00:{j:02d}", 101, et, 1.00))
        eid += 1
    # value outlier: lands alone in cell (1, 10) -> k-gate suppresses
    for j in range(3):
        rows.append((eid, f"2024-01-0{j + 1} 11:00:00", 102, "purchase", 500.00))
        eid += 1
    _write_events(spark, tmp_path, rows)
    got = R.ALL_QUERIES["assemble_behavioral_dataset"](spark, str(tmp_path)).toPandas()
    # exactly the six normal users survive, in one 6-strong cell
    assert len(got) == 6
    assert (got.cell_n == 6).all()
    assert (got.activity_band == 1).all() and (got.value_band == 0).all()
    assert (got.n_purchases == 1).all() and (got.value_dollars == 3).all()
    expect = {_h.md5(f"rel10:{u}".encode()).hexdigest()[:16] for u in range(1, 7)}
    assert set(got.pseudo_uid) == expect


# ---------------------------------------------------------------- D249


def test_shapley_attribution_closed_form_and_efficiency(spark, tmp_path):
    # Hand-computed game: converting users u1 (view), u2 (view+click),
    # u4 (organic, no channel), u5 (signup); u3 (click, no purchase).
    # Closed form (x24): click=12, error=0, signup=24, view=36;
    # efficiency: sum = 72 = 24*(v_full - v_empty) = 24*(4-1).
    rows = [
        (1, "2024-01-01 10:00:00", 1, "view", 1.0),
        (2, "2024-01-01 10:01:00", 1, "purchase", 1.0),
        (3, "2024-01-01 10:00:00", 2, "view", 1.0),
        (4, "2024-01-01 10:01:00", 2, "click", 1.0),
        (5, "2024-01-01 10:02:00", 2, "purchase", 1.0),
        (6, "2024-01-01 10:00:00", 3, "click", 1.0),
        (7, "2024-01-01 10:00:00", 4, "purchase", 1.0),
        (8, "2024-01-01 10:00:00", 5, "signup", 1.0),
        (9, "2024-01-01 10:01:00", 5, "purchase", 1.0),
    ]
    _write_events(spark, tmp_path, rows)
    got = R.ALL_QUERIES["events_shapley_attribution"](
        spark, str(tmp_path)
    ).toPandas()
    phi = dict(zip(got.channel, got.phi_x24))
    assert phi == {"click": 12, "error": 0, "signup": 24, "view": 36}
    assert int(got.v_full.iloc[0]) == 4 and int(got.v_empty.iloc[0]) == 1
    # efficiency axiom: attributed mass = v(full) - v(empty), organic
    # conversions are refused attribution
    assert int(got.phi_x24.sum()) == 24 * 3
    assert dict(zip(got.channel, got.phi_micro))["view"] == 1500000


# ---------------------------------------------------------------- D250


def test_holt_winters_periodic_series_has_zero_residuals(spark, tmp_path):
    # Exactly period-7 series (pattern repeats 5 weeks, zero trend):
    # closed form — init l0 = floor(mean(week1)) and s_j = y_j - l0
    # makes every forecast l+b+s_old == y, so ALL residuals are 0,
    # the level stays at l0 = floor(10300 cents / 7) = 1471 and the
    # one-step forecast
    # always equals the NEXT day's actual. A wrong seasonal-list
    # rotation or an off-by-one in the t-7 lookup breaks this
    # instantly while the cross-engine hash could stay twin-wrong.
    pattern = [100, 3, 0, 0, 0, 0, 0]
    rows = []
    k = 0
    for d in range(35):
        v = pattern[d % 7]
        rows.append((k, f"2024-01-{d+1:02d} 12:00:00" if d < 31
                     else f"2024-02-{d-30:02d} 12:00:00",
                     1, "view", float(v)))
        k += 1
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["events_holt_winters"](spark, str(tmp_path))
        .orderBy("day")
        .toPandas()
    )
    assert len(got) == 28  # 35 days - 7 init
    assert set(got.resid_cents) == {0}
    assert set(got.level_cents) == {1471}
    assert set(got.trend_cents) == {0}
    # forecast_next equals the next actual for every row but the last
    ys = list(got.y_cents)
    fc = list(got.forecast_next_cents)
    assert fc[:-1] == ys[1:]
    # seasonal profile repeats exactly with period 7
    s = list(got.seasonal_cents)
    assert s[:7] == s[7:14] == s[14:21]


# ---------------------------------------------------------------- D259


def test_max_drawdown_pins_peak_trough_and_tiebreak(spark, tmp_path):
    # One type, 10 days of daily net dollars: equity curve peaks at
    # 150 (day 2), troughs at 30 on day 5 AND stays there on the flat
    # day 6 — max drawdown = 120 against peak 150 on BOTH days, so the
    # (drawdown DESC, day ASC) champion must pick the EARLIEST (day
    # 5); recovery never re-reaches the peak, final equity 130.
    deltas = [100, 50, -30, -40, -50, 0, 20, 30, 40, 10]
    rows = []
    for i, dv in enumerate(deltas):
        rows.append((i, f"2024-02-{i+1:02d} 09:00:00", 1, "view", float(dv)))
    _write_events(spark, tmp_path, rows)
    got = R.ALL_QUERIES["events_max_drawdown"](spark, str(tmp_path)).toPandas()
    assert len(got) == 1
    r = got.iloc[0]
    assert int(r.max_drawdown) == 12000  # cents
    assert r.worst_day == "2024-02-05"
    assert int(r.peak_at_worst) == 15000
    assert int(r.drawdown_ppm) == 800000
    assert int(r.peak_equity) == 15000
    assert int(r.final_equity) == 13000


# ---------------------------------------------------------------- D262


def test_conversion_lag_quartiles_and_sentinels(spark, tmp_path):
    # Cohort 2024-01: 4 signups, 3 convert with lags 100s/200s/400s
    # (exact 4x quartiles: q1=600, q2=800, q3=1200) — and one user's
    # PRE-signup purchase must NOT count (they convert later at 400s).
    # Cohort 2024-02: 1 signup, 0 conversions -> -1 sentinels.
    rows = [
        (1, "2024-01-05 10:00:00", 1, "signup", 1.0),
        (2, "2024-01-05 10:01:40", 1, "purchase", 1.0),   # lag 100
        (3, "2024-01-06 10:00:00", 2, "signup", 1.0),
        (4, "2024-01-06 10:03:20", 2, "purchase", 1.0),   # lag 200
        (5, "2024-01-07 09:00:00", 3, "purchase", 1.0),   # PRE-signup!
        (6, "2024-01-07 10:00:00", 3, "signup", 1.0),
        (7, "2024-01-07 10:06:40", 3, "purchase", 1.0),   # lag 400
        (8, "2024-01-08 10:00:00", 4, "signup", 1.0),     # never converts
        (9, "2024-02-01 10:00:00", 5, "signup", 1.0),     # empty cohort
    ]
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["events_conversion_lag"](spark, str(tmp_path))
        .orderBy("cohort")
        .toPandas()
    )
    jan = got.iloc[0]
    assert (int(jan.n_signups), int(jan.n_converted)) == (4, 3)
    assert int(jan.conv_ppm) == 750000
    # lags {100,200,400}: quantile_cont 4x -> q1 = 4*150=600,
    # q2 = 4*200=800, q3 = 4*300=1200
    assert (int(jan.lag_q1_4x), int(jan.lag_q2_4x), int(jan.lag_q3_4x)) == (
        600, 800, 1200)
    feb = got.iloc[1]
    assert (int(feb.n_signups), int(feb.n_converted)) == (1, 0)
    assert (int(feb.lag_q1_4x), int(feb.lag_q2_4x), int(feb.lag_q3_4x)) == (
        -1, -1, -1)


# ---------------------------------------------------------------- D263


def test_watermark_audit_measures_ingest_lateness(spark, tmp_path):
    # Ingest order (event_id) vs event time: events 1-3 arrive in
    # time order (late 0); event 4 carries a timestamp 100 s BEHIND
    # the running max (late 100); event 5 is 10 s behind (late 10);
    # event 6 advances the clock again (late 0). Exact 100x
    # percentiles over lates {0,0,0,100,10,0}: p50 = 0,
    # p95 = 100*(0.75*100 + 0.25*... ) — pin via closed form below.
    rows = [
        (1, "2024-01-01 10:00:00", 1, "view", 1.0),
        (2, "2024-01-01 10:01:00", 1, "view", 1.0),
        (3, "2024-01-01 10:05:00", 1, "view", 1.0),
        (4, "2024-01-01 10:03:20", 1, "view", 1.0),  # 100 s late
        (5, "2024-01-01 10:04:50", 1, "view", 1.0),  # 10 s late
        (6, "2024-01-01 10:06:00", 1, "view", 1.0),
    ]
    _write_events(spark, tmp_path, rows)
    got = R.ALL_QUERIES["events_watermark_audit"](spark, str(tmp_path)).toPandas()
    assert len(got) == 1
    r = got.iloc[0]
    assert int(r.n_events) == 6
    assert int(r.on_time_ppm) == 4 * 1000000 // 6
    assert int(r.max_late_s) == 100
    # lates sorted: [0,0,0,0,10,100]; quantile_cont positions on n=6:
    # p50 -> idx 2.5 -> 0; p95 -> idx 4.75 -> 10 + 0.75*90 = 77.5
    # (x100 = 7750); p99 -> idx 4.95 -> 10 + 0.95*90 = 95.5 (9550)
    assert int(r.p50_100x) == 0
    assert int(r.p95_100x) == 7750
    assert int(r.p99_100x) == 9550


# ---------------------------------------------------------------- D264


def test_simpson_audit_flags_aggregate_reversal(spark, tmp_path):
    # Classic Simpson geometry: A beats B inside BOTH strata, yet B
    # beats A in the aggregate, because A's users concentrate in the
    # low-converting high-activity stratum.
    #   low  (5 events/user):  A 2/2 (1.0)   B 6/8 (0.75)  -> A ahead
    #   high (70 events/user): A 2/8 (0.25)  B 0/2 (0.0)   -> A ahead
    #   all:                   A 4/10 (0.4)  B 6/10 (0.6)  -> B ahead
    # md5-arm ids (first hex 0-7 => A): A = [6, 9, 11, 17, 18, 19, 21,
    # 23, 24, 26], B = [1, 2, 3, 4, 5, 7, 8, 10, 12, 13].
    arm_a = [6, 9, 11, 17, 18, 19, 21, 23, 24, 26]
    arm_b = [1, 2, 3, 4, 5, 7, 8, 10, 12, 13]
    plan = (
        [(u, 5, True) for u in arm_a[:2]]
        + [(u, 70, True) for u in arm_a[2:4]]
        + [(u, 70, False) for u in arm_a[4:]]
        + [(u, 5, True) for u in arm_b[:6]]
        + [(u, 5, False) for u in arm_b[6:8]]
        + [(u, 70, False) for u in arm_b[8:]]
    )
    rows, eid = [], 0
    for user, n_events, converted in plan:
        for i in range(n_events):
            etype = "purchase" if converted and i == 0 else "view"
            value = 300.0 if etype == "purchase" else 1.0
            rows.append((eid, "2024-01-01 00:00:00", user, etype, value))
            eid += 1
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["simpson_paradox_audit"](spark, str(tmp_path))
        .orderBy("stratum")
        .toPandas()
        .set_index("stratum")
    )
    assert set(got.index) == {"__ALL__", "low", "high"}
    low, high, allr = got.loc["low"], got.loc["high"], got.loc["__ALL__"]
    # exact counts per cell
    assert (low.n_a, low.conv_a, low.n_b, low.conv_b) == (2, 2, 8, 6)
    assert (high.n_a, high.conv_a, high.n_b, high.conv_b) == (8, 2, 2, 0)
    assert (allr.n_a, allr.conv_a, allr.n_b, allr.conv_b) == (10, 4, 10, 6)
    # truncating ppm rates
    assert (low.rate_a_ppm, low.rate_b_ppm) == (1000000, 750000)
    assert (high.rate_a_ppm, high.rate_b_ppm) == (250000, 0)
    assert (allr.rate_a_ppm, allr.rate_b_ppm) == (400000, 600000)
    # A wins every stratum, B wins the aggregate => both strata flip
    assert (low.direction, high.direction, allr.direction) == (1, 1, -1)
    assert (got.agg_direction == -1).all()
    assert (low.flipped, high.flipped, allr.flipped) == (1, 1, 0)


def test_simpson_audit_empty_arm_sentinel(spark, tmp_path):
    # A stratum whose B arm is empty must carry the -1 rate sentinel
    # and a direction decided by cross-multiplication (0*n_a vs
    # conv_a*0 => 0), never a divide-by-zero.
    rows = [
        (i, "2024-01-01 00:00:00", 6, "view", 1.0) for i in range(5)
    ]
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["simpson_paradox_audit"](spark, str(tmp_path))
        .toPandas()
        .set_index("stratum")
    )
    low = got.loc["low"]
    assert (low.n_a, low.n_b) == (1, 0)
    assert low.rate_b_ppm == -1
    assert low.direction == 0 and low.flipped == 0


# ---------------------------------------------------------------- D265


def test_auc_tie_averaged_ranks_closed_form(spark, tmp_path):
    # neg scores {1,1,2}, pos scores {2,3}: the score-2 tie straddles
    # the classes, so naive (non-averaged) ranking is off by the tie
    # correction. Doubled average ranks: score1 r2=3, score2 r2=7,
    # score3 r2=10 => sum_r2_pos = 17, 2U = 17 - 2*3 = 11,
    # AUC = 11/12 -> 916666 ppm, Gini = 5/6 -> 833333 ppm.
    rows, eid = [], 0
    plan = [(1, 1, False), (2, 1, False), (3, 2, False),
            (4, 2, True), (5, 3, True)]
    for user, n_ev, converted in plan:
        for i in range(n_ev):
            etype = "purchase" if converted and i == 0 else "view"
            rows.append((eid, "2024-01-01 00:00:00", user, etype,
                         300.0 if etype == "purchase" else 1.0))
            eid += 1
    _write_events(spark, tmp_path, rows)
    got = R.ALL_QUERIES["classifier_auc_activity"](
        spark, str(tmp_path)
    ).toPandas()
    assert len(got) == 1
    row = got.iloc[0]
    assert (row.n_pos, row.n_neg, row.sum_r2_pos) == (2, 3, 17)
    assert row.auc_ppm == 916666
    assert row.gini_ppm == 833333


def test_auc_single_class_sentinel(spark, tmp_path):
    # every user converts: n_neg = 0 must yield the -1 AUC sentinel
    # and zero Gini, never a divide-by-zero
    rows = [(0, "2024-01-01 00:00:00", 1, "purchase", 300.0),
            (1, "2024-01-01 00:00:00", 2, "purchase", 300.0)]
    _write_events(spark, tmp_path, rows)
    got = R.ALL_QUERIES["classifier_auc_activity"](
        spark, str(tmp_path)
    ).toPandas()
    assert got.iloc[0].auc_ppm == -1 and got.iloc[0].gini_ppm == 0


# ---------------------------------------------------------------- D266


def test_lift_deciles_closed_form_gains(spark, tmp_path):
    # 20 users with unique scores 20..1 (2 per decile); converters at
    # scores {20, 19, 18, 2}. Base rate 4/20 => top-decile lift
    # = 1.0/0.2 = 5.0 -> 5000000 ppm; capture after decile 1 = 3/4.
    pos_scores = {20, 19, 18, 2}
    rows, eid = [], 0
    for user in range(1, 21):
        score = user  # user 20 has 20 events, ranks first
        converted = score in pos_scores
        for i in range(score):
            etype = "purchase" if converted and i == 0 else "view"
            rows.append((eid, "2024-01-01 00:00:00", user, etype,
                         300.0 if etype == "purchase" else 1.0))
            eid += 1
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["classifier_lift_deciles"](spark, str(tmp_path))
        .orderBy("decile")
        .toPandas()
        .set_index("decile")
    )
    assert list(got.index) == list(range(10))
    assert (got.n_users == 2).all()
    d0, d1, d9 = got.loc[0], got.loc[1], got.loc[9]
    assert (d0.n_pos, d0.rate_ppm, d0.cum_pos) == (2, 1000000, 2)
    assert (d0.capture_ppm, d0.lift_ppm) == (500000, 5000000)
    assert (d1.n_pos, d1.cum_pos, d1.capture_ppm) == (1, 3, 750000)
    assert d1.lift_ppm == 2500000
    assert (d9.cum_pos, d9.capture_ppm) == (4, 1000000)
    assert got.loc[range(2, 9)].n_pos.sum() == 0


def test_lift_deciles_tie_straddle_is_pinned_by_user_id(spark, tmp_path):
    # ALL 20 users share one score: every decile edge falls inside the
    # tie, so only the pinned user_id ASC tiebreak makes the split
    # deterministic. The single converter is user 1 => decile 0.
    rows, eid = [], 0
    for user in range(1, 21):
        for i in range(3):
            etype = "purchase" if user == 1 and i == 0 else "view"
            rows.append((eid, "2024-01-01 00:00:00", user, etype,
                         300.0 if etype == "purchase" else 1.0))
            eid += 1
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["classifier_lift_deciles"](spark, str(tmp_path))
        .orderBy("decile")
        .toPandas()
        .set_index("decile")
    )
    assert (got.n_users == 2).all()
    assert got.loc[0].n_pos == 1 and got.n_pos.sum() == 1
    assert got.loc[0].lift_ppm == 10000000  # 1.0 / (1/20) = 10x


# ---------------------------------------------------------------- D267


def test_km_survival_textbook_walk(spark, tmp_path):
    # 5 users entering day 0: death d1, censor d2, death d3, censor
    # d4, death d5 — the textbook interleave. S: 4/5 -> (censor holds)
    # -> *2/3 -> (holds) -> *0/1; truncating ppm 800000, 800000,
    # 533333, 533333, 0. Greenwood ppb: 1e9/20, +1e9/6, then the n=d
    # terminal term is pinned 0.
    rows = [
        (0, "2024-01-01 00:00:00", 1, "view", 1.0),
        (1, "2024-01-02 00:00:00", 1, "purchase", 10.0),
        (2, "2024-01-01 00:00:00", 2, "view", 1.0),
        (3, "2024-01-03 00:00:00", 2, "view", 1.0),
        (4, "2024-01-01 00:00:00", 3, "view", 1.0),
        (5, "2024-01-04 00:00:00", 3, "purchase", 10.0),
        (6, "2024-01-01 00:00:00", 4, "view", 1.0),
        (7, "2024-01-05 00:00:00", 4, "view", 1.0),
        (8, "2024-01-01 00:00:00", 5, "view", 1.0),
        (9, "2024-01-06 00:00:00", 5, "purchase", 10.0),
    ]
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["events_km_survival"](spark, str(tmp_path))
        .orderBy("t_day")
        .toPandas()
    )
    assert list(got.t_day) == [1, 2, 3, 4, 5]
    assert list(got.n_risk) == [5, 4, 3, 2, 1]
    assert list(got.d_events) == [1, 0, 1, 0, 1]
    assert list(got.c_censored) == [0, 1, 0, 1, 0]
    assert list(got.surv_ppm) == [800000, 800000, 533333, 533333, 0]
    assert list(got.greenwood_ppb) == (
        [50000000, 50000000, 216666666, 216666666, 216666666]
    )


# ---------------------------------------------------------------- D268


def test_hill_tail_index_two_level_closed_form(spark, tmp_path):
    # 10 values at 2000 cents over an 11th at 1000: every Hill term is
    # micro-ln(2000) - micro-ln(1000) (~ ln 2), so inv_alpha is that
    # difference exactly and alpha = 1e12 div it.
    import math

    rows = []
    for i in range(10):
        rows.append((i, "2024-01-01 00:00:00", i, "buy", 20.0))
    for i in range(11):
        rows.append((100 + i, "2024-01-01 00:00:00", 100 + i, "buy", 10.0))
    _write_events(spark, tmp_path, rows)
    got = R.ALL_QUERIES["events_tail_index_hill"](
        spark, str(tmp_path)
    ).toPandas()
    assert len(got) == 1
    row = got.iloc[0]
    mln = lambda c: int(round(math.log(c) * 1000000))  # noqa: E731
    want_inv = mln(2000) - mln(1000)
    assert (row.n_values, row.k, row.thresh_cents) == (21, 10, 1000)
    assert row.inv_alpha_micro == want_inv
    assert row.alpha_micro == 10**12 // want_inv


def test_hill_flat_top_sentinel(spark, tmp_path):
    # all values identical: zero Hill sum must carry the -1 alpha
    # sentinel (infinite-alpha / no tail), never a zero division
    rows = [(i, "2024-01-01 00:00:00", i, "buy", 5.0) for i in range(15)]
    _write_events(spark, tmp_path, rows)
    got = R.ALL_QUERIES["events_tail_index_hill"](
        spark, str(tmp_path)
    ).toPandas()
    assert got.iloc[0].inv_alpha_micro == 0
    assert got.iloc[0].alpha_micro == -1


# ---------------------------------------------------------------- D269


def test_ccf_planted_two_day_lead(spark, tmp_path):
    # click spikes day 0, purchase spikes day 2; a third type anchors
    # the grid to 4 days. Devs: click [3,-1,-1,-1], purchase
    # [-1,-1,3,-1], den 12 each. Lag +2 num = 3*3 + 1 = 10 ->
    # ccf = 10/12; lag 0 num = -3+1-3+1 = -4 -> -1/3.
    rows, eid = [], 0
    for _ in range(4):
        rows.append((eid, "2024-01-01 00:00:00", 1, "click", 1.0)); eid += 1
    for _ in range(4):
        rows.append((eid, "2024-01-03 00:00:00", 2, "purchase", 1.0)); eid += 1
    rows.append((eid, "2024-01-01 00:00:00", 3, "zanchor", 1.0)); eid += 1
    rows.append((eid, "2024-01-04 00:00:00", 3, "zanchor", 1.0)); eid += 1
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["events_cross_correlation"](spark, str(tmp_path))
        .filter("type_a = 'click' and type_b = 'purchase'")
        .orderBy("lag")
        .toPandas()
        .set_index("lag")
    )
    # lags with zero grid overlap (|lag| > 3) emit no row
    assert list(got.index) == list(range(-3, 4))
    assert (got.den_a == 12).all() and (got.den_b == 12).all()
    lag2, lag0 = got.loc[2], got.loc[0]
    assert (lag2.num, lag2.n_pairs) == (10, 2)
    assert abs(lag2.ccf - 10 / 12) < 1e-15
    assert (lag0.num, lag0.n_pairs) == (-4, 4)
    assert abs(lag0.ccf - (-4 / 12)) < 1e-15
    # the champion lag IS the planted lead
    assert got.ccf.idxmax() == 2


def test_ccf_constant_series_sentinel(spark, tmp_path):
    # a constant series has zero deviation energy: ccf is the pinned
    # 0.0, never a zero division
    rows = []
    for d in range(3):
        rows.append((d, f"2024-01-0{d+1} 00:00:00", 1, "flat", 1.0))
        rows.append((10 + d, f"2024-01-0{d+1} 00:00:00", 2, "vary", 1.0))
    rows.append((20, "2024-01-01 00:00:00", 3, "vary", 1.0))
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["events_cross_correlation"](spark, str(tmp_path))
        .filter("type_a = 'flat' and type_b = 'vary' and lag = 0")
        .toPandas()
    )
    assert got.iloc[0].den_a == 0 and got.iloc[0].ccf == 0.0


# ---------------------------------------------------------------- D271


def test_backtest_exactly_periodic_ranks_seasonal_models(spark, tmp_path):
    # 21 days of an exactly period-7 series (k_d events of value 1.00,
    # k cycling 1..7): seasonal-naive and Holt-Winters are exact
    # (sae = 0, mase = 0), the naive row is pinned at exactly 1e6,
    # and trend-only Holt pays for missing the cycle.
    rows, eid = [], 0
    for d in range(21):
        k = (d % 7) + 1
        day = f"2024-01-{d+1:02d}"
        for _ in range(k):
            rows.append((eid, f"{day} 12:00:00", 1, "beat", 1.0))
            eid += 1
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["forecast_backtest_mase"](spark, str(tmp_path))
        .toPandas()
        .set_index("model")
    )
    assert set(got.index) == {"naive", "snaive", "holt", "holt_winters"}
    assert (got.n_evals == 13).all()  # targets day 8..20
    assert got.loc["naive"].mase_ppm == 1000000
    assert got.loc["snaive"].sae_cents == 0
    assert got.loc["snaive"].mase_ppm == 0
    assert got.loc["holt_winters"].sae_cents == 0
    assert got.loc["holt_winters"].mase_ppm == 0
    assert got.loc["holt"].sae_cents > 0


# ---------------------------------------------------------------- D273


def test_isotonic_pools_the_planted_violator(spark, tmp_path):
    # scores 1..4 with raw rates [0, 1.0, 0.5, 1.0]: PAVA pools the
    # (1.0, 0.5) violator at scores 2-3 into 2/3 while leaving the
    # ends alone => iso = [0, 666666, 666666, 1000000], monotone.
    plan = [
        (1, 1, False), (2, 1, False),          # score 1: 0/2
        (3, 2, True),                          # score 2: 1/1
        (4, 3, True), (5, 3, False),           # score 3: 1/2
        (6, 4, True),                          # score 4: 1/1
    ]
    rows, eid = [], 0
    for user, n_ev, converted in plan:
        for i in range(n_ev):
            etype = "purchase" if converted and i == 0 else "view"
            rows.append((eid, "2024-01-01 00:00:00", user, etype,
                         300.0 if etype == "purchase" else 1.0))
            eid += 1
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["calibration_isotonic"](spark, str(tmp_path))
        .orderBy("score")
        .toPandas()
    )
    assert list(got.score) == [1, 2, 3, 4]
    assert list(got.raw_ppm) == [0, 1000000, 500000, 1000000]
    assert list(got.iso_ppm) == [0, 666666, 666666, 1000000]
    assert list(got.iso_ppm) == sorted(got.iso_ppm)  # monotone by def


def test_isotonic_identity_on_already_monotone(spark, tmp_path):
    # already-nondecreasing rates must pass through untouched
    plan = [(1, 1, False), (2, 2, True), (3, 2, False), (4, 3, True)]
    rows, eid = [], 0
    for user, n_ev, converted in plan:
        for i in range(n_ev):
            etype = "purchase" if converted and i == 0 else "view"
            rows.append((eid, "2024-01-01 00:00:00", user, etype,
                         300.0 if etype == "purchase" else 1.0))
            eid += 1
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["calibration_isotonic"](spark, str(tmp_path))
        .orderBy("score")
        .toPandas()
    )
    assert list(got.raw_ppm) == [0, 500000, 1000000]
    assert list(got.iso_ppm) == [0, 500000, 1000000]


# ---------------------------------------------------------------- D275


def test_cmh_pools_confounded_strata_exactly(spark, tmp_path):
    # low: a=2,b=1,c=4,d=4 (OR 2.0); high: a=2,b=6,c=1,d=2 (OR 0.667).
    # Per-stratum micro terms: r = ad*1e6//11, s = bc*1e6//11 =>
    # CMH = (727272+363636)*1e6 // (363636+545454) = EXACTLY 1200000,
    # while the naive marginal OR = 24e6//35 = 685714 — the Simpson
    # distortion, quantified on one row.
    arm_a = [6, 9, 11, 17, 18, 19, 21, 23, 24, 26, 27]
    arm_b = [1, 2, 3, 4, 5, 7, 8, 10, 12, 13, 14]
    plan = (
        [(u, 5, True) for u in arm_a[:2]]          # low A conv
        + [(arm_a[2], 5, False)]                   # low A non
        + [(u, 70, True) for u in arm_a[3:5]]      # high A conv
        + [(u, 70, False) for u in arm_a[5:11]]    # high A non
        + [(u, 5, True) for u in arm_b[:4]]        # low B conv
        + [(u, 5, False) for u in arm_b[4:8]]      # low B non
        + [(arm_b[8], 70, True)]                   # high B conv
        + [(u, 70, False) for u in arm_b[9:11]]    # high B non
    )
    rows, eid = [], 0
    for user, n_ev, converted in plan:
        for i in range(n_ev):
            etype = "purchase" if converted and i == 0 else "view"
            rows.append((eid, "2024-01-01 00:00:00", user, etype,
                         300.0 if etype == "purchase" else 1.0))
            eid += 1
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["abtest_cmh_pooled"](spark, str(tmp_path))
        .toPandas()
        .set_index("stratum")
    )
    low, high, pooled = got.loc["low"], got.loc["high"], got.loc["__POOLED__"]
    assert (low.a, low.b, low.c, low.d) == (2, 1, 4, 4)
    assert (high.a, high.b, high.c, high.d) == (2, 6, 1, 2)
    assert low.or_ppm == 2000000 and high.or_ppm == 666666
    assert (pooled.a, pooled.b, pooled.c, pooled.d) == (4, 7, 5, 6)
    assert pooled.or_ppm == 685714
    assert pooled.cmh_or_ppm == 1200000
    assert (low.cmh_or_ppm, high.cmh_or_ppm) == (-1, -1)


# ---------------------------------------------------------------- D278


def test_burst_detection_brackets_the_spike_exactly(spark, tmp_path):
    # 14 flat days of 2 events with days 6-8 at 20: the optimal path
    # enters the burst state exactly at the spike and leaves exactly
    # after it — no smearing into neighbors — and labels it burst 1.
    rows, eid = [], 0
    for d in range(14):
        k = 20 if d in (5, 6, 7) else 2
        for _ in range(k):
            rows.append((eid, f"2024-01-{d+1:02d} 12:00:00", 1, "spike", 1.0))
            eid += 1
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["events_burst_detection"](spark, str(tmp_path))
        .orderBy("day")
        .toPandas()
    )
    want = [0, 0, 0, 0, 0, 1, 1, 1, 0, 0, 0, 0, 0, 0]
    assert list(got.state) == want
    assert list(got.burst_id) == [0 if s == 0 else 1 for s in want]


def test_burst_detection_flat_series_never_bursts(spark, tmp_path):
    rows, eid = [], 0
    for d in range(10):
        for _ in range(3):
            rows.append((eid, f"2024-01-{d+1:02d} 12:00:00", 1, "flat", 1.0))
            eid += 1
    _write_events(spark, tmp_path, rows)
    got = R.ALL_QUERIES["events_burst_detection"](
        spark, str(tmp_path)
    ).toPandas()
    assert (got.state == 0).all() and (got.burst_id == 0).all()


# ---------------------------------------------------------------- D279


def test_bh_fdr_rejects_planted_effect_only(spark, tmp_path):
    # 'sig': arm A converts 8/8, arm B 0/8 (z = 4.0 exactly, p ~ 6e-5)
    # 'nul': nobody converts (pinned z = 0, p = 1.0). BH at alpha=0.05
    # over m=2 must reject 'sig' (rank 1) and keep 'nul'.
    arm_a = [6, 9, 11, 17, 18, 19, 21, 23]
    arm_b = [1, 2, 3, 4, 5, 7, 8, 10]
    rows, eid = [], 0
    for u in arm_a:
        rows.append((eid, "2024-01-01 00:00:00", u, "sig", 300.0)); eid += 1
    for u in arm_b:
        rows.append((eid, "2024-01-01 00:00:00", u, "sig", 1.0)); eid += 1
    for u in arm_a + arm_b:
        rows.append((eid, "2024-01-01 00:00:00", u, "nul", 1.0)); eid += 1
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["abtest_bh_fdr"](spark, str(tmp_path))
        .toPandas()
        .set_index("event_type")
    )
    sig, nul = got.loc["sig"], got.loc["nul"]
    assert (sig.n1, sig.c1, sig.n2, sig.c2) == (8, 8, 8, 0)
    assert sig.z == 4.0
    assert sig["rank"] == 1 and sig.p_micro < 25000  # clears alpha/2
    assert sig.reject == 1
    assert nul.z == 0.0 and nul.p_micro == 1000000
    assert nul.reject == 0
    assert (got.bh_threshold_micro == got["rank"] * 50000 // 2).all()


# ---------------------------------------------------------------- D280


def test_report_card_verdict_routes_on_confounding(spark, tmp_path):
    # The D279 planted effect ('sig' 8/8 vs 0/8) with activity uniform
    # (everyone low-tier => no stratified reversal possible): the
    # report must say 'ship' for sig and 'no-effect' for nul, with
    # zero Simpson flips and consistent CMH columns on every row.
    arm_a = [6, 9, 11, 17, 18, 19, 21, 23]
    arm_b = [1, 2, 3, 4, 5, 7, 8, 10]
    rows, eid = [], 0
    for u in arm_a:
        rows.append((eid, "2024-01-01 00:00:00", u, "sig", 300.0)); eid += 1
    for u in arm_b:
        rows.append((eid, "2024-01-01 00:00:00", u, "sig", 1.0)); eid += 1
    for u in arm_a + arm_b:
        rows.append((eid, "2024-01-01 00:00:00", u, "nul", 1.0)); eid += 1
    _write_events(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["abtest_report_card"](spark, str(tmp_path))
        .toPandas()
        .set_index("event_type")
    )
    assert (got.simpson_flips == 0).all()
    assert got.loc["sig"].verdict == "ship"
    assert got.loc["nul"].verdict == "no-effect"
    # CMH: a=8 conv, b=0 nonconv... b*c = 0 -> -1 sentinel marginal OR
    assert (got.marginal_or_ppm == got.marginal_or_ppm.iloc[0]).all()


# ---------------------------------------------------------------- D293


def test_conformal_intervals_cover_and_partition(spark, duck):
    # Properties on the real fixture: the three md5 splits partition
    # each type's events; intervals are symmetric around the point
    # prediction; empirical test coverage sits near the 90% target
    # (binomial noise band) — the conformal guarantee as a number.
    rows = R.ALL_QUERIES["conformal_value_intervals"](spark, SF_DIR).collect()
    assert rows, "no event types scored"
    totals = {
        r[0]: r[1]
        for r in duck.sql(
            "SELECT event_type, CAST(COUNT(*) AS BIGINT) FROM events GROUP BY 1"
        ).fetchall()
    }
    for r in rows:
        assert r["n_train"] + r["n_cal"] + r["n_test"] == totals[r["event_type"]]
        assert r["lo_cents"] == r["pred_cents"] - r["qhat_cents"]
        assert r["hi_cents"] == r["pred_cents"] + r["qhat_cents"]
        assert 800000 <= r["coverage_ppm"] <= 1000000, (
            r["event_type"], r["coverage_ppm"],
        )


# The CUPED tests plant `ts` as datetimes and carry the `props` column.
_CUPED_EVENTS = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string,"
    " value double, props string"
)


def test_cuped_centered_moments_survive_large_cents(spark, tmp_path):
    # ADVICE low: the uncentered pooled moments (Σx², Σxy, Σy² and the
    # n·Sxy − Sx·Sy combos) exceed int64 well below production scale —
    # per-user cent sums are SQUARED and summed; ANSI-off Spark wraps
    # silently (wrong θ with no signal) while DuckDB raises. Plant
    # exactly that: 40 users whose per-period cents sit near 10^9
    # (Σx² ≈ 40·10^18 ≈ 4.3×2^63 — the old form wraps on BOTH engines'
    # BIGINT) with a small, correlated spread. Centering makes the
    # moment pass operate on the spread (≤10^4 cents), so θ/r² are
    # exact and the two engines still hash-match.
    import datetime as dt

    pre = dt.datetime(2024, 1, 10)
    post = dt.datetime(2024, 1, 20)
    rows = []
    eid = 0
    for u in range(40):
        spread = (u % 9 - 4) * 25.0  # correlated x/y deviation, ±100 $
        x_val = 1.0e7 + spread  # dollars -> ~1e9 cents
        y_val = 1.0e7 + 0.5 * spread + (u % 3) * 1.0
        rows.append((eid, pre, u, "purchase", x_val, "{}"))
        eid += 1
        rows.append((eid, post, u, "purchase", y_val, "{}"))
        eid += 1
    _write_events(spark, tmp_path, rows, _CUPED_EVENTS)

    got = R.ALL_QUERIES["abtest_cuped_adjust"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    want = con.sql(R.ALL_ORACLES["abtest_cuped_adjust"]).df()
    assert rows_of(got) == rows_of(want)
    # the planted covariate is genuinely informative: θ ≈ 0.5, r² > 0.5,
    # and both are FINITE — the wrapped-int64 symptom is a garbage θ
    theta = float(got["theta"].iloc[0])
    r2 = float(got["var_reduction"].iloc[0])
    assert 0.3 < theta < 0.7, theta
    assert 0.3 < r2 <= 1.0, r2


def test_cuped_guard_raises_instead_of_wrapping(spark, tmp_path):
    # The residual hazard after centering: centered moments fit int64
    # but the n·moment combination would not. The Spark side must RAISE
    # (mirroring DuckDB's native overflow error), never wrap silently —
    # under ANSI (this session's default) the multiplication itself
    # raises ARITHMETIC_OVERFLOW; with ANSI off the explicit
    # raise_error('… 64-bit headroom …') guard fires instead.
    import datetime as dt

    pre = dt.datetime(2024, 1, 10)
    post = dt.datetime(2024, 1, 20)
    rows = []
    # 10 users, centered spread ~7e8 cents each -> sxx ≈ 10·4.9e17
    # ≈ 4.9e18 (fits int64) but n·sxx ≈ 4.9e19 > 2^63 (would wrap)
    for u in range(10):
        dev = 7.0e6 if u % 2 == 0 else -7.0e6  # dollars -> ±7e8 cents
        rows.append((2 * u, pre, u, "purchase", 1.0e7 + dev, "{}"))
        rows.append((2 * u + 1, post, u, "purchase", 1.0e7 + dev / 2, "{}"))
    _write_events(spark, tmp_path, rows, _CUPED_EVENTS)
    with pytest.raises(
        Exception, match="64-bit headroom|ARITHMETIC_OVERFLOW|long overflow"
    ):
        R.ALL_QUERIES["abtest_cuped_adjust"](spark, str(tmp_path)).collect()

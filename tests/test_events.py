"""Event and experiment queries (`plans/events_queries.py`): conformal
intervals at the fixture scale and CUPED on planted event tables, each
pinned so a regression fails with a diagnosis instead of an opaque
oracle hash mismatch."""

from __future__ import annotations

import duckdb
import pytest

import mapreduce_project_spark.queries_registry as R
from tests.conftest import SF_DIR, _write_events, rows_of


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

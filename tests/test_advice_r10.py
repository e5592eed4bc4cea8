"""Round-10 ADVICE regressions — each test PLANTS the failure condition
the round-9 advisor reported and pins the fixed behavior."""

import duckdb
import pytest

import mapreduce_project_spark.queries_registry as R
from tests.conftest import SF_DIR, rows_of


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))


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
    _write_events(spark, tmp_path, rows)

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
    _write_events(spark, tmp_path, rows)
    with pytest.raises(
        Exception, match="64-bit headroom|ARITHMETIC_OVERFLOW|long overflow"
    ):
        R.ALL_QUERIES["abtest_cuped_adjust"](spark, str(tmp_path)).collect()


def test_top_pc_ignores_null_and_short_embeddings(spark, tmp_path):
    # ADVICE low: q_embedding_top_pc used docs.count() for n while the
    # oracle counted DISTINCT vec_id over the exploded components — a
    # NULL or short embedding row diverged the two scatters. Plant one
    # NULL row and one 3-component row among clean 64-dim vectors: both
    # engines must agree (they now count the SAME filtered population).
    rows = []
    for i in range(12):
        vec = [((i * 37 + j * 11) % 19 - 9) / 10.0 for j in range(64)]
        rows.append((i, vec, i % 3))
    rows.append((100, None, 0))
    rows.append((101, [1.0, 2.0, 3.0], 1))
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    got = R.ALL_QUERIES["embedding_top_pc"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
    )
    want = con.sql(R.ALL_ORACLES["embedding_top_pc"]).df()
    assert rows_of(got) == rows_of(want)
    assert len(got) == 64


def test_top_pc_asserts_matvec_overflow_bound(spark, tmp_path):
    # ADVICE low: the documented matvec bound 64·|S|·10³ < 2^63 grows
    # ~n² and silently breaks around n≈2e4 — DuckDB errors there but
    # the collected-driver iteration (Python bigints) kept "working" on
    # an unreplayable premise. Plant large-magnitude components whose
    # scatter breaches the bound and pin the explicit ValueError.
    rows = []
    for i in range(100):
        vec = [300.0 if (i * 31 + j * 7) % 2 == 0 else -300.0 for j in range(64)]
        rows.append((i, vec, 0))
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    with pytest.raises(ValueError, match="matvec bound"):
        R.ALL_QUERIES["embedding_top_pc"](spark, str(tmp_path)).collect()


def test_jl_projection_emits_no_array_columns(spark, duck):
    # Round-9's only red driver row: `proj` as a raw array<bigint>
    # crashed the driver's canonicalizer. The projection must render as
    # ONE comma-joined string (the inverted_index convention) and stay
    # hash-equal to the oracle.
    got = R.ALL_QUERIES["embedding_jl_projection"](spark, SF_DIR).toPandas()
    want = duck.sql(R.ALL_ORACLES["embedding_jl_projection"]).df()
    assert rows_of(got) == rows_of(want)
    assert "proj_csv" in got.columns
    sample = got["proj_csv"].iloc[0]
    assert isinstance(sample, str) and len(sample.split(",")) == 16


def test_snm_recall_measured_with_missed_pair_diagnosis(spark, duck):
    # ADVICE low: dedup_snm_pairs is hash-gated against the exact
    # quadratic oracle, but SNM recall (every >=0.8 pair within rank
    # distance `window` of the 24-char prefix sort) is a property of
    # the CURRENT fixtures, not the operator. Measure recall explicitly
    # and report the missed-pair set, so a datagen change fails with a
    # recall diagnosis instead of an opaque hash mismatch.
    exact = {
        (r[0], r[1])
        for r in duck.sql(R.ALL_ORACLES["dedup_snm_pairs"]).fetchall()
    }
    assert exact, "fixture lost its planted near-dup pairs"
    got = {
        (r["id_a"], r["id_b"])
        for r in R.ALL_QUERIES["dedup_snm_pairs"](spark, SF_DIR).collect()
    }
    missed = exact - got
    recall = 1.0 - len(missed) / len(exact)
    assert not missed, (
        f"SNM recall dropped to {recall:.3f} on this fixture: the sort-key "
        f"window no longer covers these exact >=0.8 pairs: {sorted(missed)}. "
        "This is the documented SNM miss class (changed openings) showing "
        "up in the datagen — either widen `window`/`key_chars` or move the "
        "driver slot to the MinHash family; do NOT chase the hash mismatch."
    )
    # SNM must also never emit a pair the exact oracle rejects
    assert got - exact == set()

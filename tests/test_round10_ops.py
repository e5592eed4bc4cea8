"""Planted-fixture tests for the round-10 operators (D220-D225):
each test constructs the specific condition the operator's docstring
claims to handle and pins the exact expected output, so a regression
fails with a diagnosis instead of an opaque oracle hash mismatch."""

from __future__ import annotations

import datetime

import mapreduce_project_spark.queries_registry as R
from tests.conftest import SF_DIR, _write_docs, _write_events


# ---------------------------------------------------------------- D220


def test_source_drift_isolates_the_changed_source(spark, tmp_path):
    # Source "stable" has identical token mix on both parities; source
    # "drifted" gains a token that exists ONLY in snapshot B (odd
    # doc_ids). The drift report must rank that token first for
    # "drifted" and show ~zero top drift for "stable".
    rows = []
    did = 0
    for i in range(8):
        rows.append((did, "alpha beta gamma", "en", "stable", 16))
        did += 1
    for i in range(4):
        rows.append((did, "alpha beta gamma", "en", "drifted", 16))
        did += 1
    # odd ids (parity B) for "drifted" carry the new token
    for i in range(4):
        rows.append(
            (did if did % 2 == 1 else did + 1, "spampocalypse alpha", "en", "drifted", 18)
        )
        did += 2
    _write_docs(spark, tmp_path, rows)
    got = R.ALL_QUERIES["source_quality_drift"](spark, str(tmp_path)).toPandas()
    drifted_top = got[(got.source == "drifted") & (got.rnk == 1)].iloc[0]
    assert drifted_top.token == "spampocalypse"
    assert drifted_top.cnt_a == 0 and drifted_top.cnt_b > 0
    # a token absent from one side shows its full per-million share as drift
    assert drifted_top.drift_ppm == drifted_top.share_b_ppm
    stable_top = got[(got.source == "stable") & (got.rnk == 1)].iloc[0]
    # the stable source's token shares are identical on both parities
    # up to the doc-count split, so its top drift is far below the
    # drifted source's
    assert stable_top.drift_ppm < drifted_top.drift_ppm / 2


# ---------------------------------------------------------------- D221


def test_width_ladder_is_nested_and_monotone(spark):
    got = (
        R.ALL_QUERIES["lsh_width_ladder"](spark, SF_DIR)
        .toPandas()
        .sort_values("width")
        .reset_index(drop=True)
    )
    assert list(got.width) == [8, 12, 16]
    # one truth set serves every rung
    assert got.n_true.nunique() == 1 and got.n_true.iloc[0] > 0
    # prefix-consistent masking ⇒ candidate sets are NESTED: counts and
    # catches can only shrink as the width grows
    assert list(got.n_candidates) == sorted(got.n_candidates, reverse=True)
    assert list(got.n_caught) == sorted(got.n_caught, reverse=True)
    assert (got.n_caught <= got.n_candidates).all()
    assert (got.n_caught <= got.n_true).all()
    # the audited story: recall COLLAPSES with width at the
    # near-orthogonal threshold (strict on the fixtures)
    assert got.recall_ppm.iloc[0] > got.recall_ppm.iloc[2]
    assert got.cand_ppm.iloc[0] > got.cand_ppm.iloc[2]


# ---------------------------------------------------------------- D222


def test_longest_repeat_ladder_picks_max_width_and_champion(spark, tmp_path):
    rows = [
        # doc 0: "a b c d e" repeated → has repeating 2/3/5-grams
        (0, "a b c d e a b c d e a b c d e", "en", "s", 30),
        # doc 1: repeated bigram only ("x y ... x y")
        (1, "x y q w e r t x y", "en", "s", 18),
        # doc 2: all distinct tokens → no repeat at any width
        (2, "one two three four five six", "en", "s", 27),
        # doc 3: two bigrams repeat ("m n" x3, "z z" x2) but no longer
        # gram does; champion = more occurrences
        (3, "m n x m n y m n z z w z z", "en", "s", 26),
    ]
    _write_docs(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["text_longest_repeat"](spark, str(tmp_path))
        .toPandas()
        .set_index("doc_id")
    )
    assert got.loc[0].max_rep_k == 5
    assert got.loc[0].rep_gram == "a b c d e"  # 3 occurrences, ties to smallest
    assert got.loc[1].max_rep_k == 2 and got.loc[1].rep_gram == "x y"
    assert got.loc[2].max_rep_k == 0 and got.loc[2].rep_gram == ""
    assert got.loc[2].rep_count == 0
    # doc 3 at k=2: "m n" x3, "n m" x2, "z z" x2 → champion "m n"
    assert got.loc[3].max_rep_k == 2 and got.loc[3].rep_gram == "m n"
    assert got.loc[3].rep_count == 3


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


# ---------------------------------------------------------------- D225


def test_gt_spectrum_exact_small_corpus(spark, tmp_path):
    # planted bigram counts {1, 2, 3}: every rung occupied once, so
    # every mass share and GT smoothed count is hand-checkable.
    rows = [
        (0, "a b", "en", "s", 3),      # "a b" x1
        (1, "c d c d c d", "en", "s", 11),  # "c d" x3, "d c" x2
    ]
    _write_docs(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["vocab_gt_spectrum"](spark, str(tmp_path))
        .toPandas()
        .set_index("r")
    )
    # spectrum: r=1 → {"a b"}; r=2 → {"d c"}; r=3 → {"c d"}
    assert int(got.loc[1].n_r) == 1 and int(got.loc[2].n_r) == 1
    assert int(got.loc[3].n_r) == 1
    n_mass = 1 + 2 + 3
    assert int(got.loc[1].mass_ppm) == 1 * 1_000_000 // n_mass
    # GT smoothed r*: r=1 → 2·n₂/n₁ = 2; r=2 → 3·n₃/n₂ = 3; r=3 → 0 (no n₄)
    assert int(got.loc[1].gt_smoothed_micro) == 2 * 1_000_000
    assert int(got.loc[2].gt_smoothed_micro) == 3 * 1_000_000
    assert int(got.loc[3].gt_smoothed_micro) == 0


def test_gt_spectrum_empty_rung_via_gap(spark, tmp_path):
    # counts {1, 3, 4} only: r=1's neighbor n₂ is an EMPTY rung → the
    # smoothed count must be 0, while a lead() would have grabbed the
    # next OBSERVED rung (n₃) and silently inflated it.
    rows = [
        (0, "p q", "en", "s", 3),                 # "p q" x1
        (1, "k l k l k l k l", "en", "s", 15),    # "k l" x4, "l k" x3
    ]
    _write_docs(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["vocab_gt_spectrum"](spark, str(tmp_path))
        .toPandas()
        .set_index("r")
    )
    # spectrum: r=1 → 1 type, r=3 → 1, r=4 → 1; r=2 EMPTY
    assert sorted(got.index.tolist()) == [1, 3, 4]
    assert int(got.loc[1].gt_smoothed_micro) == 0  # n₂ empty ⇒ 0, NOT 3·n₃
    # r=3: (r+1)·n₄·10⁶ div n₃ = 4·1·10⁶ div 1
    assert int(got.loc[3].gt_smoothed_micro) == 4 * 1_000_000

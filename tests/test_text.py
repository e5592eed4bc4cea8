"""Text, corpus-statistics and search queries (`plans/text_queries.py`)
on planted documents, plus the 64-bit headroom guards of the KN, G2 and
TF-IDF LSH scores, pinned on both engines."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

import mapreduce_project_spark.queries_registry as R
from tests.conftest import SF_DIR, _write_docs, rows_of


# ---------------------------------------------------------------- D295


def test_tfidf_lsh_finds_planted_near_dup_with_exact_arithmetic(
    spark, tmp_path
):
    # 60 docs ⇒ df cap = max(2, 60 div 50) = 2 and idf = 60 div df.
    # Docs 1/2 share 7 of their 8 trigrams (all df = 2 ⇒ weight 30);
    # each has one private trigram (df = 1 ⇒ weight 60). Closed form:
    # dot = 7·30² = 6300, norm² = 7·900 + 3600 = 9900 each,
    # cos = 6300/9900 ≈ 0.636 ≥ 0.6. Every other doc is vocabulary-
    # disjoint (no shared shingle ⇒ no candidate, no dot). The LSH
    # form must output EXACTLY this one pair — candidate generation
    # included (capped-space J = 7/9, band-hit deterministic under the
    # pinned hash constants).
    base = "alpha beta gamma delta epsilon zeta eta theta iota"
    rows = [
        (1, base + " kappa", "en", "s0", 60),
        (2, base + " lam", "en", "s0", 60),
    ]
    for i in range(3, 61):
        rows.append(
            (i, f"w{i}a w{i}b w{i}c w{i}d w{i}e", "en", "s0", 30)
        )
    _write_docs(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["text_tfidf_cosine_pairs_lsh"](spark, str(tmp_path))
        .toPandas()
    )
    assert len(got) == 1
    r = got.iloc[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["shared_terms"] == 7
    # r["dot"], not r.dot — .dot is the pandas Series method
    assert r["dot"] == 6300
    assert r["norm_a_sq"] == 9900 and r["norm_b_sq"] == 9900
    assert r["cosine"] == 6300 / (9900**0.5 * 9900**0.5)
    # and the exact Σdf² twin agrees row-for-row on this fixture
    exact = (
        R.ALL_QUERIES["text_tfidf_cosine_pairs"](spark, str(tmp_path))
        .toPandas()
    )
    assert rows_of(got) == rows_of(exact)


def test_tfidf_lsh_real_fixture_recall_vs_exact_twin(spark):
    # On the sf0.001 corpus the LSH form must reproduce the exact
    # twin's full pair set (measured 28/28 — the documented misses
    # only appear at larger SFs on J ≈ 0.02 idf-artifact pairs).
    lsh = R.ALL_QUERIES["text_tfidf_cosine_pairs_lsh"](spark, SF_DIR).toPandas()
    exact = R.ALL_QUERIES["text_tfidf_cosine_pairs"](spark, SF_DIR).toPandas()
    assert len(lsh) == len(exact) == 28
    assert rows_of(lsh) == rows_of(exact)


# --- text_tfidf_cosine_pairs_lsh — the 2^53 exact-double
# headroom raise existed only Spark-side; the DuckDB oracle computed
# silently past it.


def test_tflsh_oracle_mirrors_headroom_guard():
    oracle = R.ALL_ORACLES["text_tfidf_cosine_pairs_lsh"]
    assert "9007199254740992" in oracle
    assert "error(" in oracle


def test_tflsh_oracle_guard_raises_past_headroom(duck):
    oracle = R.ALL_ORACLES["text_tfidf_cosine_pairs_lsh"]
    # lift the exact guarded CASE shape and evaluate it at dot = 2^53:
    # the oracle must raise, exactly like the Spark raise_error branch.
    with pytest.raises(Exception, match="exact-double range"):
        duck.sql(
            """
            SELECT CASE WHEN greatest(dot, na, nb) >= 9007199254740992
              THEN error('text_tfidf_cosine_pairs_lsh: sums exceed'
                         || ' exact-double range — rescale idf before'
                         || ' trusting cosine')
              ELSE CAST(dot AS DOUBLE) END
            FROM (SELECT 9007199254740992 AS dot, 1 AS na, 1 AS nb)
            """
        ).fetchall()
    assert "exact-double range" in oracle


# ---------------------------------------------------------------- D252


INT64_MAX = (1 << 63) - 1


_TEXT_QUERIES_SRC = (
    Path(__file__).resolve().parents[1]
    / "mapreduce_project_spark"
    / "plans"
    / "text_queries.py"
).read_text()


def _source_constant(pattern: str) -> int:
    m = re.search(pattern, _TEXT_QUERIES_SRC)
    assert m, f"guard constant not found via {pattern!r}"
    return int(m.group(1))


def test_kn_guard_threshold_leaves_no_overflow_band():
    # ADVICE medium: the KN guard constant was 2305843009213693 (~2.3e15),
    # 1000x looser than the safe bound — for c(vw) or N1+(v.) in
    # (2.3e12, 2.3e15] the terms (4*c-3)*1e6 and 3*n1f*pcont_ppm overflow
    # int64 BELOW the guard. Pin the invariant against the constant as
    # committed: at the threshold every product in the else-branch fits
    # int64; the OLD constant must fail this check (the band existed).
    thr = _source_constant(r"greatest\(c, n1f\) > (\d+) then")

    def worst_terms(c):
        # worst case per the expression shape at text_queries.py
        # q_text_kn_bigram_score: pcont_ppm = n1b*1e6 div t <= 1e6
        return max(4 * c * 1_000_000, 3 * c * 1_000_000)

    assert worst_terms(thr) <= INT64_MAX, (
        f"guard admits an overflow band: at c = threshold = {thr} the "
        f"else-branch peaks at {worst_terms(thr)} > int64max"
    )
    # threshold is tight to within 2x (not pointlessly conservative)
    assert worst_terms(2 * thr) > INT64_MAX
    # and the round-10 constant genuinely had the band the advisor found
    assert worst_terms(2305843009213693) > INT64_MAX


def test_kn_guard_raises_cleanly_in_former_overflow_band(spark):
    # Evaluate the guard expression (same shape and threshold as the
    # query plants it — reconstructed here because planting 2.3e12
    # bigram OCCURRENCES is not materializable in a test) at a count
    # inside the FORMER band (1e13): the fixed guard must fire the
    # clean raise_error, not ANSI ARITHMETIC_OVERFLOW and not a silent
    # wrap.
    thr = _source_constant(r"greatest\(c, n1f\) > (\d+) then")
    expr = (
        f"case when greatest(c, n1f) > {thr} then"
        " raise_error('text_kn_bigram_score: bigram counts exceed"
        " 64-bit ppm headroom — widen to DECIMAL(38,0)') "
        "else greatest(1,"
        " (4 * c - 3) * 1000000 div (4 * cv)"
        " + (3 * n1f * (n1b * 1000000 div t)) div (4 * cv)) end"
    )
    df = spark.createDataFrame(
        [(10_000_000_000_000, 10_000_000_000_001, 7, 3, 11)],
        "c bigint, cv bigint, n1f bigint, n1b bigint, t bigint",
    )
    with pytest.raises(Exception, match="64-bit ppm headroom"):
        df.selectExpr(f"{expr} AS p_ppm").collect()
    # just UNDER the threshold the same expression evaluates (no ANSI
    # overflow) — the band is closed from both sides
    ok = spark.createDataFrame(
        [(thr, 4 * thr, thr, 1, 10)],
        "c bigint, cv bigint, n1f bigint, n1b bigint, t bigint",
    )
    assert ok.selectExpr(f"{expr} AS p_ppm").collect()[0][0] >= 1


# --- the KN / G2 headroom guards existed only Spark-side;
# past the threshold one engine raised while the other computed.


def test_kn_oracle_mirrors_guard_constant_and_raises(duck):
    oracle = R.ALL_ORACLES["text_kn_bigram_score"]
    assert "2305843009213" in oracle and "error(" in oracle
    # the oracle's CASE shape fires DuckDB error() inside the band
    with pytest.raises(Exception, match="ppm headroom"):
        duck.sql(
            "SELECT CASE WHEN greatest(10000000000000, 1) > 2305843009213"
            " THEN error('text_kn_bigram_score: bigram counts exceed 64-bit"
            " ppm headroom') ELSE 1 END"
        ).fetchall()


# ---------------------------------------------------------------- D283


def test_g2_guard_threshold_covers_left_associated_peak():
    # ADVICE low: the G2 xlnx partial sum peaks near 2*n*uln(n) (d ~ n
    # for rare terms), which fits int64 only for n <= ~1.75e11, but the
    # old guard allowed n up to 3e11. Pin: at the committed threshold
    # the peak fits; at the old 3e11 it did not.
    import math

    thr = _source_constant(r"case when n > (\d+) then")

    def peak(n):
        uln = round(math.log(n) * 1_000_000)
        return 2 * n * uln

    assert peak(thr) <= INT64_MAX, (
        f"G2 guard admits an overflow band: peak({thr}) = {peak(thr)}"
    )
    assert peak(300_000_000_000) > INT64_MAX  # the old constant's band
    assert peak(2 * thr) > INT64_MAX  # tight to within 2x


def test_g2_oracle_mirrors_guard_constant_and_raises(duck):
    oracle = R.ALL_ORACLES["text_keyness_g2"]
    assert "150000000000" in oracle and "error(" in oracle
    with pytest.raises(Exception, match="micro-ln headroom"):
        duck.sql(
            "SELECT CASE WHEN 150000000001 > 150000000000"
            " THEN error('text_keyness_g2: corpus token count exceeds 64-bit"
            " micro-ln headroom') ELSE 1 END"
        ).fetchall()


# ---------------------------------------------------------------- D294


def test_zipf_slope_planted_power_law(spark, tmp_path):
    # Plant an exact power law f(rk) = 640 // rk over 8 distinct terms
    # in one source: the log-log fit must recover slope ~= -1000
    # (alpha = 1) with near-perfect r2; a flat source (all terms equal
    # frequency) must fit slope 0.
    words = ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]
    text_zipf = " ".join(
        " ".join([w] * (640 // (i + 1))) for i, w in enumerate(words)
    )
    text_flat = " ".join(" ".join([w] * 10) for w in words)
    docs = [
        (0, text_zipf, "en", "zipf", len(text_zipf)),
        (1, text_flat, "en", "flat", len(text_flat)),
    ]
    spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["source"]: r
        for r in R.ALL_QUERIES["source_zipf_slope"](spark, str(tmp_path)).collect()
    }
    z = got["zipf"]
    assert z["n_terms"] == 8
    # 640//rk deviates from the ideal power law only by floor rounding
    assert -1050 <= z["slope_milli"] <= -950, z["slope_milli"]
    assert z["r2_ppm"] > 990000, z["r2_ppm"]
    f = got["flat"]
    assert f["slope_milli"] == 0 and f["r2_ppm"] == 0


# ---------------------------------------------------------------- D284


def test_phrase_positions_short_docs_do_not_crash(spark, tmp_path):
    # ADVICE high: sequence(1, size-2) descends to [1, 0] for <3-token
    # docs, so tk[i+1] indexed out of bounds under ANSI (pyspark 4.1.2
    # default). Plant 0/1/2-token docs next to real ones: the query
    # must run and must emit NO rows for the short docs (DuckDB's
    # oracle emits none — a 2-token doc has no trigram).
    rows = [
        (1, "alpha beta gamma delta alpha beta gamma"),
        (2, "alpha beta gamma"),
        (3, ""),            # 0 tokens
        (4, "alpha"),        # 1 token
        (5, "alpha beta"),   # 2 tokens
        (6, None),           # null text
    ]
    spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))

    out = R.ALL_QUERIES["search_phrase_positions"](spark, str(tmp_path)).collect()
    assert out, "phrase query must still match the long docs"
    assert {r["doc_id"] for r in out} <= {1, 2}
    assert all(r["phrase"].count(" ") == 2 for r in out)
    # doc 1 holds the winning trigram twice ("alpha beta gamma")
    d1 = next(r for r in out if r["doc_id"] == 1)
    assert d1["phrase"] == "alpha beta gamma"
    assert d1["n_matches"] == 2 and d1["first_pos"] == 1


# ---------------------------------------------------------------- D292


def test_query_likelihood_replays_closed_form(spark, tmp_path):
    # Three docs: one with all three query terms, one with one term,
    # one with none. Replay the exact integer Dirichlet arithmetic in
    # Python and pin scores AND order.
    import math

    texts = {
        0: "spark shuffle vector spark pipeline",
        1: "shuffle only here with filler words",
        2: "nothing relevant at all whatsoever",
    }
    docs = [(i, t2, "en", "s", len(t2)) for i, t2 in texts.items()]
    spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: (r["dlen"], r["score_micro"], r["rank"])
        for r in R.ALL_QUERIES["search_query_likelihood"](
            spark, str(tmp_path)
        ).collect()
    }
    toks = {i: t2.split() for i, t2 in texts.items()}
    T = sum(len(v) for v in toks.values())
    cf = {
        q: sum(v.count(q) for v in toks.values())
        for q in ("spark", "shuffle", "vector")
    }

    def uln(x):
        return round(math.log(x) * 1000000)

    want = {}
    for i, v in toks.items():
        dlen = len(v)
        s = 0
        for q in ("spark", "shuffle", "vector"):
            a = max(1, v.count(q) * T + 2000 * cf[q])
            s += uln(a) - uln((dlen + 2000) * T)
        want[i] = (dlen, s)
    for i in texts:
        assert got[i][0] == want[i][0] and got[i][1] == want[i][1], (i, got[i], want[i])
    ranks = {i: got[i][2] for i in texts}
    assert ranks[0] == 1  # all three terms
    assert ranks[1] == 2  # one term
    assert ranks[2] == 3  # none

"""Text, corpus-statistics and search queries (`plans/text_queries.py`)
on planted documents, plus the 64-bit headroom guards of the KN, G2 and
TF-IDF LSH scores, pinned on both engines."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

import mapreduce_project_spark.queries_registry as R
from tests.conftest import SF_DIR, _write, _write_docs, rows_of


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


# ---------------------------------------------------------------- D226


def test_tfidf_cosine_keeps_raredup_pair_and_prunes_boilerplate(spark, tmp_path):
    # docs 1/2 share their RARE trigrams (df=2, kept, high idf); docs
    # 3..6 share ONLY a boilerplate phrase whose trigrams hit df=4 >
    # cap=max(2, 6//50)=2 and are pruned, so the boilerplate quartet
    # produces NO candidate pair at all — the df-cap is the whole
    # point of the operator.
    rare = (
        "quantum ferrite osmosis lattice harmonic zephyr cobalt "
        "marrow glacier"
    )
    boiler = "click here to subscribe now"
    rows = [
        (1, rare + " alpha", "en", "s", 1),
        (2, rare + " gamma", "en", "s", 1),
        (3, boiler + " one", "en", "s", 1),
        (4, boiler + " two", "en", "s", 1),
        (5, boiler + " three", "en", "s", 1),
        (6, boiler + " four", "en", "s", 1),
    ]
    _write_docs(spark, tmp_path, rows)
    got = R.ALL_QUERIES["text_tfidf_cosine_pairs"](spark, str(tmp_path)).toPandas()
    assert set(zip(got.doc_a, got.doc_b)) == {(1, 2)}
    row = got.iloc[0]
    # 7 shared trigrams of the 9-token rare stem (the one unique
    # trailing trigram per doc carries the max-idf weight, so a short
    # stem would fall below the 0.6 gate — that is the operator
    # weighting rare divergence MORE than rare agreement, by design)
    assert row.shared_terms == 7
    assert row.cosine > 0.6


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


# ---------------------------------------------------------------- D228


def test_rouge_adjacent_pins_half_overlap_and_zero_rows(spark, tmp_path):
    # sort keys: "abcde..." < "abcxy..." < "zzz..." so the pair order
    # is fixed; ref/cand share exactly 2 of 4 bigrams -> P=R=F1=50%.
    rows = [
        (1, "aa bb cc dd ee", "en", "s", 1),
        (2, "aa bb cc xx yy", "en", "s", 1),
        (3, "zz zz zz zz", "en", "s", 1),
    ]
    _write_docs(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["text_rouge_adjacent"](spark, str(tmp_path))
        .toPandas()
        .set_index(["ref_id", "cand_id"])
    )
    top = got.loc[(1, 2)]
    assert top.overlap == 2 and top.n_ref_bigrams == 4 and top.n_cand_bigrams == 4
    assert top.rouge2_recall_ppm == 500000
    assert top.rouge2_precision_ppm == 500000
    assert top.rouge2_f1_ppm == 500000
    # disjoint neighbors stay in the report as explicit zero rows
    zero = got.loc[(2, 3)]
    assert zero.overlap == 0 and zero.rouge2_f1_ppm == 0
    assert len(got) == 2


# ---------------------------------------------------------------- D231


def test_burrows_delta_flags_the_stylistic_outlier_source(spark, tmp_path):
    # "balanced" docs use a normal function-word mix; "botty" docs are
    # one word repeated — its rate z-deviation must dominate, and the
    # doc x vocab grid must produce rows for words botty never uses.
    rows = []
    did = 0
    for _ in range(6):
        rows.append((did, "the cat sat on the mat", "en", "balanced", 22))
        did += 1
    for _ in range(4):
        rows.append((did, "the the the the the the", "en", "botty", 23))
        did += 1
    _write_docs(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["stylometry_burrows_delta"](spark, str(tmp_path))
        .toPandas()
        .set_index(["source", "word"])
    )
    assert got.loc[("botty", "the")].delta_milli > got.loc[("balanced", "the")].delta_milli
    assert got.loc[("balanced", "the")].delta_milli == 0
    # zero-rate grid: botty never says "cat" but still gets a row with
    # a nonzero deviation from the corpus median rate
    assert got.loc[("botty", "cat")].n_docs == 4
    assert got.loc[("botty", "cat")].delta_milli > 0


# ---------------------------------------------------------------- D246


def test_mutual_information_diagonal_pins_nmi_one(spark, tmp_path):
    # Perfect dependence: 4 sources, each monolingual, equal mass.
    # MI = H(source) = H(lang) = ln 4, so nmi_ppm lands on exactly
    # 1e6 (numerator and denominator are the SAME truncated sum).
    rows = []
    k = 0
    for i, (src, lg) in enumerate(
        [("s0", "en"), ("s1", "de"), ("s2", "fr"), ("s3", "zh")]
    ):
        for _ in range(5):
            rows.append((k, "w", lg, src, 1))
            k += 1
    _write(
        spark, tmp_path, "documents",
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
        rows,
    )
    got = R.ALL_QUERIES["mutual_information_source_lang"](
        spark, str(tmp_path)
    ).toPandas()
    assert len(got) == 4  # only the diagonal cells are observed
    assert int(got.nmi_ppm.iloc[0]) == 1000000
    assert int(got.mi_micro.iloc[0]) == int(got.h_source_micro.iloc[0])


def test_mutual_information_independent_is_zero(spark, tmp_path):
    # Uniform 2x2 grid: every ln term is exactly 0 micro, so MI and
    # NMI are 0 while both marginal entropies stay positive.
    rows = []
    k = 0
    for src in ("s0", "s1"):
        for lg in ("en", "de"):
            for _ in range(3):
                rows.append((k, "w", lg, src, 1))
                k += 1
    _write(
        spark, tmp_path, "documents",
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
        rows,
    )
    got = R.ALL_QUERIES["mutual_information_source_lang"](
        spark, str(tmp_path)
    ).toPandas()
    assert len(got) == 4
    assert set(got.mi_micro) == {0}
    assert set(got.nmi_ppm) == {0}
    assert int(got.h_source_micro.iloc[0]) > 0


# ---------------------------------------------------------------- D247


def test_readability_pins_formula_floors_and_bands(spark, tmp_path):
    # doc 1: "the cat sat. it ran!" -> W=5, S=2, Syl=5 (all
    #   single-vowel-group words): FRE = 206835 - 1015*5//2 - 84600
    #   = 206835 - 2537 - 84600 = 119698 (very_easy);
    #   FKGL = 390*5//2 + 11800*5//5 - 15590 = 975 + 11800 - 15590
    #   = -2815 (negative grade is the published behavior for baby text)
    # doc 2: vowel-less token "zzz" -> syllable floor max(1,.) fires:
    #   W=1, S=1 (no punctuation -> floor), Syl=1
    # doc 3: polysyllabic run pushes FRE under 30000 (very_confusing):
    #   "unbelievable organization international" W=3 S=1
    #   syl: u-n-b-e-l-ie-v-a-b-l-e: groups u,e,ie,a,e =5; o,a,i,a,io=5
    #   wait—count via regex: organization -> o,a,i,a,io = 5;
    #   international -> i,e,a,io,a = 5; total 15
    #   FRE = 206835 - 1015*3 - 84600*15//3 = 206835-3045-423000 < 0
    _write(
        spark, tmp_path, "documents",
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
        [(1, "the cat sat. it ran!", "en", "s", 1),
         (2, "zzz", "en", "s", 1),
         (3, "unbelievable organization international", "en", "s", 1)],
    )
    got = (
        R.ALL_QUERIES["text_readability_scores"](spark, str(tmp_path))
        .orderBy("doc_id")
        .toPandas()
    )
    d1 = got.iloc[0]
    assert (int(d1.n_words), int(d1.n_sentences), int(d1.n_syllables)) == (5, 2, 5)
    assert int(d1.fre_milli) == 119698
    assert int(d1.fkgl_milli) == -2815
    assert d1.band == "very_easy"
    d2 = got.iloc[1]
    assert (int(d2.n_words), int(d2.n_sentences), int(d2.n_syllables)) == (1, 1, 1)
    d3 = got.iloc[2]
    assert int(d3.fre_milli) < 0
    assert d3.band == "very_confusing"


# ---------------------------------------------------------------- D252


def test_kn_score_rewards_many_context_completions(spark, tmp_path):
    # The Kneser-Ney signature: two singleton bigrams (a,york) and
    # (a,dog) share c(vw)=1 and the same context total c(a)=2, so the
    # discounted term is identical — but "dog" completes bigrams in 5
    # distinct contexts while "york" only ever follows "new" (plus our
    # probe), so the CONTINUATION term makes p(a,dog) > p(a,york) and
    # the dog doc scores a strictly lower NLL. A backoff that used raw
    # unigram frequency instead of continuation counts (both words
    # appear 5-6 times) would tie them — exactly what this pins.
    import math

    rows = [(1, "a york", "en", "s", 1), (2, "a dog", "en", "s", 1)]
    for i, ctx in enumerate(["ua", "ub", "uc", "ud"]):
        rows.append((10 + i, "new york", "en", "s", 1))
        rows.append((20 + i, f"{ctx} dog", "en", "s", 1))
    _write(
        spark, tmp_path, "documents",
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
        rows,
    )
    got = (
        R.ALL_QUERIES["text_kn_bigram_score"](spark, str(tmp_path))
        .orderBy("doc_id")
        .toPandas()
    )
    nll = dict(zip(got.doc_id, got.avg_nll_micro))
    assert nll[2] < nll[1]
    # closed-form ppm probabilities (T=7 distinct bigrams, c(a)=2,
    # n1f(a)=2, n1b(york)=2, n1b(dog)=5)
    p_york = (4 * 1 - 3) * 10**6 // 8 + (3 * 2 * (2 * 10**6 // 7)) // 8
    p_dog = (4 * 1 - 3) * 10**6 // 8 + (3 * 2 * (5 * 10**6 // 7)) // 8
    assert p_york == 339285 and p_dog == 660713

    def nll_of(p):
        return 13815511 - round(math.log(p) * 1000000)

    assert int(nll[1]) == nll_of(p_york)
    assert int(nll[2]) == nll_of(p_dog)


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


def test_keyness_g2_closed_form_and_direction(spark, tmp_path):
    # Source X: 8x zebra + 8x filler; source Y: 16x filler. Both X
    # terms share the SAME symmetric 2x2 (zebra over-, filler
    # under-represented), so g2 = 2*(8µln8 + 32µln32 - 24µln24
    # - 16µln16) = 13808736 for BOTH (the b=0 cell exercising the
    # 0*ln0 = 0 pin) and the tie breaks by term ASC.
    docs = [
        (1, " ".join(["zebra"] * 8), "en", "X", 1),
        (2, " ".join(["filler"] * 8), "en", "X", 1),
        (3, " ".join(["filler"] * 16), "en", "Y", 1),
    ]
    _write(
        spark, tmp_path, "documents",
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
        docs,
    )
    got = (
        R.ALL_QUERIES["text_keyness_g2"](spark, str(tmp_path))
        .toPandas()
    )
    x = got[got.source == "X"].set_index("term")
    assert x.loc["filler"]["rank"] == 1 and x.loc["zebra"]["rank"] == 2
    assert (x.loc["zebra"].n_in_source, x.loc["zebra"].n_elsewhere) == (8, 0)
    assert x.loc["zebra"].g2_micro == 13808736
    assert x.loc["filler"].g2_micro == 13808736
    assert x.loc["zebra"].direction == 1
    assert x.loc["filler"].direction == -1


def test_keyness_g2_support_floor_prunes_rare_terms(spark, tmp_path):
    # a term with a < 5 occurrences in a source never reaches the
    # table (the G2 small-count validity rule), though its tokens
    # still count in the margins
    docs = [
        (1, " ".join(["rare"] * 4 + ["common"] * 8), "en", "X", 1),
        (2, " ".join(["common"] * 8), "en", "Y", 1),
    ]
    _write(
        spark, tmp_path, "documents",
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
        docs,
    )
    got = R.ALL_QUERIES["text_keyness_g2"](spark, str(tmp_path)).toPandas()
    assert "rare" not in set(got.term)
    assert "common" in set(got.term)


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


# ---------------------------------------------------------------- D256


def test_template_prefix_flags_header_source(spark, tmp_path):
    # source "scraped": 6 of 10 docs share the same 16-char header ->
    # share 600000 ppm, suspect. source "clean": all distinct
    # prefixes -> share 1/10, not suspect. Champion tie (2-2) in
    # source "tied" resolves to the lexicographically first prefix.
    rows = []
    k = 0
    header = "COOKIE NOTICE | please accept"
    for i in range(6):
        rows.append((k, header + f" page {i}", "en", "scraped", 1)); k += 1
    for i in range(4):
        rows.append((k, f"unique{i} body text here", "en", "scraped", 1)); k += 1
    for i in range(10):
        rows.append((k, f"doc number {i} of the clean source", "en", "clean", 1))
        k += 1
    rows += [(100, "aaaa" + "x" * 20, "en", "tied", 1),
             (101, "aaaa" + "x" * 20, "en", "tied", 1),
             (102, "bbbb" + "x" * 20, "en", "tied", 1),
             (103, "bbbb" + "x" * 20, "en", "tied", 1)]
    _write(
        spark, tmp_path, "documents",
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
        rows,
    )
    got = R.ALL_QUERIES["source_template_prefixes"](spark, str(tmp_path)).toPandas()
    g = {r.source: r for r in got.itertuples()}
    assert g["scraped"].top_share_ppm == 600000
    assert g["scraped"].template_suspect == 1
    assert g["scraped"].top_prefix == header[:16]
    assert g["clean"].template_suspect == 0
    assert g["clean"].top_share_ppm == 100000
    assert g["tied"].top_prefix == ("aaaa" + "x" * 20)[:16]


# ---------------------------------------------------------------- D257


def test_vocab_growth_first_occurrence_attribution(spark, tmp_path):
    # 10 docs, one token each: docs 1-5 all say "alpha" (vocab stops
    # growing), docs 6-10 each introduce a brand-new word (vocab grows
    # again). V(k) by decile edge k must be [1,1,1,1,1,2,3,4,5,6] and
    # the Heaps slope must be 0 over the flat stretch and positive on
    # the discovery stretch.
    words = ["alpha"] * 5 + ["beta", "gamma", "delta", "eps", "zeta"]
    rows = [(i + 1, w, "en", "s", 1) for i, w in enumerate(words)]
    _write(
        spark, tmp_path, "documents",
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
        rows,
    )
    got = (
        R.ALL_QUERIES["vocab_growth_curve"](spark, str(tmp_path))
        .orderBy("k")
        .toPandas()
    )
    assert list(got.vocab_k) == [1, 1, 1, 1, 1, 2, 3, 4, 5, 6]
    assert list(got.tokens_k) == list(range(1, 11))
    flat = got[(got.k >= 2) & (got.k <= 5)]
    assert set(flat.heaps_beta_milli) == {0}
    disc = got[got.k >= 6]
    assert (disc.heaps_beta_milli > 1000).all()  # super-linear discovery


# ---------------------------------------------------------------- D258


def test_dup_rates_split_internal_vs_cross(spark, tmp_path):
    # source A: 2 canonical + 1 internal dup (A repeats its own text).
    # source B: 2 canonical + 2 cross dups (B mirrors A's text — the
    # keeper lives in A, so B's copies are CROSS, licensing problem).
    rows = [
        (1, "original one", "en", "A", 1),
        (2, "original two", "en", "A", 1),
        (3, "original one", "en", "A", 1),   # internal dup of 1
        (4, "b exclusive", "en", "B", 1),
        (5, "b second", "en", "B", 1),
        (6, "original one", "en", "B", 1),   # cross dup (keeper in A)
        (7, "original two", "en", "B", 1),   # cross dup (keeper in A)
    ]
    _write(
        spark, tmp_path, "documents",
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
        rows,
    )
    got = R.ALL_QUERIES["source_dup_rates"](spark, str(tmp_path)).toPandas()
    g = {r.source: r for r in got.itertuples()}
    assert (g["A"].n_docs, g["A"].n_canonical, g["A"].n_dup_internal,
            g["A"].n_dup_cross) == (3, 2, 1, 0)
    assert (g["B"].n_docs, g["B"].n_canonical, g["B"].n_dup_internal,
            g["B"].n_dup_cross) == (4, 2, 0, 2)
    assert g["A"].dup_ppm == 333333 and g["B"].dup_ppm == 500000


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


def test_textrank_ranks_the_hub_sentence(spark, tmp_path):
    # s1 shares 2 tokens with each of s2/s3, s2-s3 share 1, s4 is
    # isolated. Hand-rolled two integer rounds: r2 = [1122777, 938610,
    # 938610, 150000] => the hub s1 ranks 1, the s2/s3 tie breaks by
    # sidx, the isolated s4 holds the teleport floor and misses top-3.
    docs = [
        (
            1,
            "alpha beta gamma. alpha beta delta. gamma epsilon alpha? "
            "zulu yankee xray.",
            "en", "s", 1,
        ),
    ]
    _write(
        spark, tmp_path, "documents",
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
        docs,
    )
    got = (
        R.ALL_QUERIES["text_textrank_summary"](spark, str(tmp_path))
        .orderBy("rank")
        .toPandas()
    )
    assert list(got.sidx) == [1, 2, 3]
    assert list(got.score_micro) == [1122777, 938610, 938610]
    assert got.iloc[0].sentence == "alpha beta gamma"


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


# ---------------------------------------------------------------- D270


def test_rm3_expansion_closed_form_and_seed_exclusion(spark, tmp_path):
    # Two seed-matching feedback docs both containing 'cluster':
    # rm_ppm(cluster) = (250000 + 500000) // 2 = 375000; the 125000
    # tie between 'io' and 'tuning' breaks by term ASC; seed terms and
    # the seedless doc never appear.
    docs = [
        (1, "spark spark cluster tuning", "en", "s", 26),
        (2, "shuffle cluster cluster io", "en", "s", 26),
        (3, "noise words here", "en", "s", 16),
    ]
    _write(
        spark, tmp_path, "documents",
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
        docs,
    )
    got = (
        R.ALL_QUERIES["search_rm3_expansion"](spark, str(tmp_path))
        .orderBy("rank")
        .toPandas()
    )
    assert list(got.term[:3]) == ["cluster", "io", "tuning"]
    assert list(got.rm_ppm[:3]) == [375000, 125000, 125000]
    assert list(got.fb_docs[:3]) == [2, 1, 1]
    assert not set(got.term) & {"spark", "shuffle", "vector"}
    assert "noise" not in set(got.term)


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

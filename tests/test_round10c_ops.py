"""Planted-fixture tests for the round-10 third-wave operators
(D243+): each test constructs the specific condition the operator's
docstring claims to handle and pins the expected output, so a
regression fails with a diagnosis instead of an opaque oracle hash
mismatch."""

from __future__ import annotations

import mapreduce_project_spark.queries_registry as R
from tests.conftest import _write, _write_events


# ---------------------------------------------------------------- D243


def test_chi_square_perfect_dependence_pins_v2_at_one(spark, tmp_path):
    # 2x2 diagonal: segment A orders ONLY urgent, segment B ONLY low.
    # Closed form: chi2 = N  =>  chi2_micro = N*1e6 and V^2 = 1
    # (v2_ppm = 1e6) exactly — the association ceiling.
    _write(
        spark, tmp_path, "customer",
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
        [(1, "a", 0, 0.0, "SEG_A"), (2, "b", 0, 0.0, "SEG_A"),
         (3, "c", 0, 0.0, "SEG_B"), (4, "d", 0, 0.0, "SEG_B")],
    )
    orders = []
    for i, ck in enumerate([1, 2, 1, 2]):
        orders.append((100 + i, ck, "O", 1.0, "1995-01-01", "1-URGENT"))
    for i, ck in enumerate([3, 4, 3, 4]):
        orders.append((200 + i, ck, "O", 1.0, "1995-01-01", "5-LOW"))
    _write(
        spark, tmp_path, "orders",
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
        orders,
    )
    got = (
        R.ALL_QUERIES["contingency_chi_square"](spark, str(tmp_path))
        .orderBy("segment", "priority")
        .toPandas()
    )
    # the FULL 2x2 grid ships, including the two O=0 off-diagonal
    # cells (each contributes E = 2 to chi2 — dropping them is the
    # classic understatement bug this fixture plants)
    assert len(got) == 4
    assert int(got.chi2_micro.iloc[0]) == 8 * 1000000
    assert int(got.cramers_v2_ppm.iloc[0]) == 1000000
    assert int(got.dof.iloc[0]) == 1
    diag = got[(got.segment == "SEG_A") & (got.priority == "1-URGENT")]
    assert int(diag.o.iloc[0]) == 4
    # expected count under independence = 4*4/8 = 2  => 2000 milli
    assert int(diag.exp_milli.iloc[0]) == 2000


def test_chi_square_exact_independence_is_zero(spark, tmp_path):
    # Balanced 2x2 with identical priority mix in both segments:
    # every O equals E exactly, so chi2_micro = 0 and V^2 = 0.
    _write(
        spark, tmp_path, "customer",
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
        [(1, "a", 0, 0.0, "SEG_A"), (2, "b", 0, 0.0, "SEG_B")],
    )
    orders = []
    k = 0
    for ck in (1, 2):
        for pri in ("1-URGENT", "5-LOW"):
            for _ in range(3):
                orders.append((k, ck, "O", 1.0, "1995-01-01", pri))
                k += 1
    _write(
        spark, tmp_path, "orders",
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
        orders,
    )
    got = R.ALL_QUERIES["contingency_chi_square"](spark, str(tmp_path)).toPandas()
    assert len(got) == 4
    assert set(got.chi2_micro) == {0}
    assert set(got.cramers_v2_ppm) == {0}


# ---------------------------------------------------------------- D244


def _psi_orders(spark, tmp_path, ref_prices, cur_prices):
    rows = []
    k = 0
    for p in ref_prices:
        rows.append((k, 1, "O", float(p), "1995-06-01", "1-URGENT"))
        k += 1
    for p in cur_prices:
        rows.append((k, 1, "O", float(p), "1997-06-01", "1-URGENT"))
        k += 1
    _write(
        spark, tmp_path, "orders",
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
        rows,
    )


def test_psi_identical_mix_is_zero(spark, tmp_path):
    # Current side replays the reference distribution exactly (2x the
    # mass, same shape): every bin has pa_ppm == pb_ppm, so every
    # sign-safe product is 0 and psi_micro == 0.
    ref = list(range(100, 400, 10))  # 30 distinct values
    _psi_orders(spark, tmp_path, ref, ref * 2)
    got = R.ALL_QUERIES["psi_value_drift"](spark, str(tmp_path)).toPandas()
    assert len(got) == 10
    assert set(got.psi_micro) == {0}
    assert set(got.psi_bin_micro) == {0}


def test_psi_shifted_mass_alerts(spark, tmp_path):
    # Current mass sits entirely ABOVE the reference's top decile edge:
    # bins 1-9 empty on the current side, bin 10 holds everything.
    # PSI must blow far past the classic 0.25 re-train alert.
    ref = list(range(100, 400, 10))
    cur = [10000 + i for i in range(30)]
    _psi_orders(spark, tmp_path, ref, cur)
    got = R.ALL_QUERIES["psi_value_drift"](spark, str(tmp_path)).toPandas()
    assert len(got) == 10
    assert int(got.psi_micro.iloc[0]) > 250000
    top = got[got.bin == 10]
    assert int(top.cb.iloc[0]) == 30
    # the drained bins contribute positively too (sign-safe product)
    assert (got.psi_bin_micro >= 0).all()


# ---------------------------------------------------------------- D245


def test_label_propagation_separates_bridged_cliques(spark, tmp_path):
    # Two K4 cliques (suppliers 1-4 and 10-13, each clique = one
    # shared order) joined by ONE bridge order {4, 10}: four sync
    # rounds must converge each clique to its min supplier id and the
    # single bridge edge must NOT merge them (simulated closed form:
    # communities {1,2,3,4}->1 and {10,11,12,13}->10, both size 4).
    _write(
        spark, tmp_path, "orders",
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
        [(1, 1, "O", 1.0, "1995-01-10", "1-URGENT"),
         (2, 1, "O", 1.0, "1995-01-11", "1-URGENT"),
         (3, 1, "O", 1.0, "1995-01-12", "1-URGENT")],
    )
    li = []
    ln = 1
    for sk in (1, 2, 3, 4):
        li.append((1, 1, sk, ln)); ln += 1
    for sk in (10, 11, 12, 13):
        li.append((2, 1, sk, ln)); ln += 1
    for sk in (4, 10):
        li.append((3, 1, sk, ln)); ln += 1
    _write(
        spark, tmp_path, "lineitem",
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int",
        li,
    )
    got = R.ALL_QUERIES["graph_label_propagation"](spark, str(tmp_path)).toPandas()
    lbl = dict(zip(got.supplier, got.community))
    assert lbl == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 13: 10}
    assert set(got.community_size) == {4}


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


# ---------------------------------------------------------------- D248


def test_embedding_hygiene_flags_every_poison_class(spark, tmp_path):
    # One label, every poison class planted exactly once: NULL column,
    # wrong dim (3), NaN component, +Inf component, exact-zero vector,
    # one low-norm and one high-norm outlier among 12 identical valid
    # vectors (degenerate IQR=0 fence -> any deviating norm flags).
    valid = [0.1] * 64
    rows = [(i, valid, 7) for i in range(12)]
    rows += [
        (100, None, 7),
        (101, [0.1, 0.2, 0.3], 7),
        (102, [float("nan")] + [0.1] * 63, 7),
        (103, [float("inf")] + [0.1] * 63, 7),
        (104, [0.0] * 64, 7),
        (105, [0.01] * 64, 7),   # norm2q 6400  << 640000
        (106, [0.2] * 64, 7),    # norm2q 2560000 >> 640000
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = R.ALL_QUERIES["embedding_hygiene_audit"](spark, str(tmp_path)).toPandas()
    assert len(got) == 1
    r = got.iloc[0]
    assert int(r.n_vecs) == 19
    assert int(r.n_null) == 1
    assert int(r.n_wrong_dim) == 1
    assert int(r.n_nonfinite) == 2
    assert int(r.n_zero) == 1
    assert int(r.n_valid) == 14
    assert int(r.n_low_outlier) == 1
    assert int(r.n_high_outlier) == 1
    assert int(r.q1_4) == 4 * 640000 and int(r.q3_4) == 4 * 640000


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


# ---------------------------------------------------------------- D253


def test_brand_hhi_pins_monopoly_uniform_and_tiebreak(spark, tmp_path):
    # cust 1: 4 items, one brand  -> HHI = 1e6 (monopoly)
    # cust 2: 4 items over 4 brands -> HHI = 250000 (uniform), and the
    #   4-way count tie must pick the lexicographically FIRST brand
    # cust 3: 3 items split 2/1   -> HHI = (4+1)*1e6 // 9 = 555555
    _write(spark, tmp_path, "part",
           "p_partkey bigint, p_name string, p_brand string",
           [(1, "x", "BrandA"), (2, "x", "BrandB"),
            (3, "x", "BrandC"), (4, "x", "BrandD")])
    _write(spark, tmp_path, "orders",
           "o_orderkey bigint, o_custkey bigint",
           [(10, 1), (20, 2), (30, 3)])
    li = []
    ln = 1
    for pk in (1, 1, 1, 1):
        li.append((10, pk, 1, ln)); ln += 1
    for pk in (1, 2, 3, 4):
        li.append((20, pk, 1, ln)); ln += 1
    for pk in (2, 2, 3):
        li.append((30, pk, 1, ln)); ln += 1
    _write(spark, tmp_path, "lineitem",
           "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
           "l_linenumber int", li)
    got = (
        R.ALL_QUERIES["customer_brand_hhi"](spark, str(tmp_path))
        .orderBy("custkey")
        .toPandas()
    )
    assert list(got.hhi_ppm) == [1000000, 250000, 555555]
    assert list(got.top_brand) == ["BrandA", "BrandA", "BrandB"]
    assert list(got.top_share_ppm) == [1000000, 250000, 666666]
    assert list(got.n_brands) == [1, 4, 2]


# ---------------------------------------------------------------- D254


def test_v7_flagship_gates_dup_and_lm_outlier(spark, tmp_path):
    # 9 near-identical easy docs + 1 gibberish doc (every bigram a
    # singleton -> worst KN NLL) + 1 EXACT duplicate of doc 1.
    # Chain must: drop the duplicate (digest dedup), set the p90 edge
    # at rank ceil(0.9*10) = 9 over the 10 unique docs, drop ONLY the
    # gibberish doc at rank 10, and stage all 9 released docs as
    # curriculum stage 1 (monosyllabic short sentences).
    base = "the cat sat. the cat sat. the cat ran"
    rows = [(i, f"{base} w{c}", "en", "s", 1)
            for i, c in zip(range(1, 10), "abcdefghi")]
    rows.append((10, "zyx qwv plk mnb vcx", "en", "s", 1))
    rows.append((11, rows[0][1], "en", "s", 1))  # exact dup of doc 1
    _write(
        spark, tmp_path, "documents",
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
        rows,
    )
    got = R.ALL_QUERIES["assemble_training_set_v7"](spark, str(tmp_path)).toPandas()
    assert int(got.n_docs.sum()) == 9
    assert set(got.stage) == {1}
    assert (got.max_nll_micro <= got.edge_nll_micro).all()
    # the checksum pins the released SET: recompute from doc ids 1-9
    import hashlib

    want = 0
    for i in range(1, 10):
        want ^= int(hashlib.md5(f"v7:{i}".encode()).hexdigest()[:15], 16)
    assert int(got.release_checksum.iloc[0]) == want


# ---------------------------------------------------------------- D255


def test_kcore_peel_cascades_and_converges(spark, tmp_path):
    # K4 clique {1,2,3,4} + node 5 hanging off {1,2,6} + leaf 6:
    # round 1 peels 6 (degree 1), which drops 5 to degree 2 so round
    # 2 peels 5 (the CASCADE), and the K4 survives as the exact
    # 3-core with within-core degree 3 — converged well inside the
    # 6-round bound.
    _write(
        spark, tmp_path, "orders",
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
        [(1, 1, "O", 1.0, "1995-01-10", "1-URGENT"),
         (2, 1, "O", 1.0, "1995-01-11", "1-URGENT"),
         (3, 1, "O", 1.0, "1995-01-12", "1-URGENT"),
         (4, 1, "O", 1.0, "1995-01-13", "1-URGENT")],
    )
    li = []
    ln = 1
    for sk in (1, 2, 3, 4):
        li.append((1, 1, sk, ln)); ln += 1
    for sk in (5, 1):
        li.append((2, 1, sk, ln)); ln += 1
    for sk in (5, 2):
        li.append((3, 1, sk, ln)); ln += 1
    for sk in (5, 6):
        li.append((4, 1, sk, ln)); ln += 1
    _write(
        spark, tmp_path, "lineitem",
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int",
        li,
    )
    got = (
        R.ALL_QUERIES["graph_kcore_membership"](spark, str(tmp_path))
        .orderBy("supplier")
        .toPandas()
    )
    rr = dict(zip(got.supplier, got.removed_round))
    assert rr == {1: 0, 2: 0, 3: 0, 4: 0, 5: 2, 6: 1}
    core = got[got.in_core == 1]
    assert set(core.supplier) == {1, 2, 3, 4}
    assert set(core.core_degree) == {3}
    assert set(got[got.in_core == 0].core_degree) == {0}


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


# ---------------------------------------------------------------- D260


def test_ndcg_discount_and_corpus_ideal(spark, tmp_path):
    # One query (vec 0, label 1). Corpus: relevant A at cos 1 (rank
    # 1), irrelevant C at cos 0.894 (rank 2), relevant B at cos 0.707
    # (rank 3), three orthogonal fillers. Closed form with the baked
    # discount table: DCG = t[1] + t[3]; the IDEAL uses the
    # CORPUS-wide relevant count (2), not the top-k hit count, so
    # IDCG = t[1] + t[2] and nDCG < 1e6 exactly because the miss at
    # rank 2 costs the t[2]-t[3] discount gap.
    import math

    def vec(*head):
        v = list(head) + [0.0] * (64 - len(head))
        return [float(x) for x in v]

    rows = [
        (0, vec(1.0), 1),                       # the query
        (20, vec(1.0), 1),                      # A: relevant, cos 1
        (21, vec(2.0, 1.0), 9),                 # C: irrelevant, cos .894
        (22, vec(1.0, 1.0), 1),                 # B: relevant, cos .707
        (23, vec(0.0, 0.0, 1.0), 8),
        (24, vec(0.0, 0.0, 2.0), 8),
        (25, vec(0.0, 0.0, 3.0), 8),
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = R.ALL_QUERIES["search_ndcg"](spark, str(tmp_path)).toPandas()
    assert len(got) == 1
    r = got.iloc[0]
    t = [None] + [10**12 // round(math.log2(i + 1) * 10**6) for i in range(1, 21)]
    assert int(r.n_rel_corpus) == 2 and int(r.n_rel_topk) == 2
    assert int(r.dcg_micro) == t[1] + t[3]
    assert int(r.idcg_micro) == t[1] + t[2]
    assert int(r.ndcg_ppm) == (t[1] + t[3]) * 10**6 // (t[1] + t[2])
    assert int(r.ndcg_ppm) < 1000000


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


def test_global_prefix_max_crosses_partition_boundaries(spark):
    # 500 rows over 32 range partitions, values deliberately DECREASING
    # so the running max is pinned early and must be carried across
    # every partition boundary by the offset fold: max(v) over rows
    # 0..i of v = 1000 - i is always 1000. Then a late spike re-raises
    # it and the carry must update.
    from mapreduce_project_spark.operators.windows import global_prefix_max

    rows = [(i, 1000 - i) for i in range(400)]
    rows += [(400, 5000)]
    rows += [(400 + i, 100 + i) for i in range(1, 100)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        (r["k"], r["pm"])
        for r in global_prefix_max(df, ["k"], "v", "pm").collect()
    }
    want = set()
    run = None
    for k, v in sorted(rows):
        run = v if run is None else max(run, v)
        want.add((k, run))
    assert got == want


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


# ---------------------------------------------------------------- D274


def _write_embeddings(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))


def test_silhouette_perfect_separation_scores_one(spark, tmp_path):
    # 8 scaled one-hot seed vectors, each duplicated: Lloyd's seeds ARE
    # the 8 cluster modes, every point sits ON its centroid (a = 0)
    # with the nearest other centroid at sqrt(200) => s = 1 exactly
    # for all 16 points.
    rows = []
    for i in range(8):
        v = [0.0] * 64
        v[i] = 10.0
        rows.append((i, list(v), i))
        rows.append((100 + i, list(v), i))
    _write_embeddings(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["clustering_silhouette"](spark, str(tmp_path))
        .orderBy("cid")
        .toPandas()
    )
    assert list(got.cid) == list(range(8))
    assert (got.n_points == 2).all()
    assert (got.mean_s_ppm == 1000000).all()
    assert (got.min_s_ppm == 1000000).all()


def test_silhouette_collapsed_fit_pins_zero(spark, tmp_path):
    # 10 identical vectors: every seed centroid coincides, the fit
    # collapses to one populated cluster, and the undefined
    # second-nearest distance is pinned to s = 0 (not NULL, not a
    # zero division).
    v = [1.0] * 64
    rows = [(i, list(v), 0) for i in range(10)]
    _write_embeddings(spark, tmp_path, rows)
    got = R.ALL_QUERIES["clustering_silhouette"](
        spark, str(tmp_path)
    ).toPandas()
    assert got.n_points.sum() == 10
    assert (got.mean_s_ppm == 0).all() and (got.max_s_ppm == 0).all()


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


# ---------------------------------------------------------------- D276


def test_nprobe_ladder_knee_closed_form(spark, tmp_path):
    # 16 orthogonal cells (seeds = one-hot ids 0..15), an exact-copy
    # anchor (id 20+10j, sampled so every cell survives the Lloyd
    # step) and a near-dup (id 1001+2i) per queried cell. Exact top-5
    # per query = [anchor, near-dup, three cos-0 fillers by id ASC].
    # Probe ties at d2=2 break by cid ASC, so the rungs pin EXACTLY:
    # nprobe=1 finds anchor+near-dup (recall 0.4), nprobe=2 adds one
    # filler (0.6), nprobe=4 probes cells {0..3} and saturates (1.0).
    rows = []
    for i in range(16):
        v = [0.0] * 64
        v[i] = 1.0
        rows.append((i, list(v), i))            # one-hot / seed / query
        rows.append((20 + 10 * i, list(v), i))  # sampled anchor copy
    for i in range(10):
        v = [0.0] * 64
        v[i] = 1.0
        v[i + 10] = 0.1
        rows.append((1001 + 2 * i, list(v), i))  # near-dup, never sampled
    _write_embeddings(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["ivf_nprobe_recall_curve"](spark, str(tmp_path))
        .orderBy("nprobe")
        .toPandas()
    )
    assert list(got.nprobe) == [1, 2, 4, 8]
    assert (got.n_exact == 50).all()
    assert list(got.recall_ppm) == [400000, 600000, 1000000, 1000000]
    # nested probe sets => strictly more candidates per rung
    assert list(got.candidates_scanned) == sorted(
        got.candidates_scanned
    ) and got.candidates_scanned.is_unique


# ---------------------------------------------------------------- D277


def _write_trio(spark, tmp_path, lineitems, orders, customers):
    _write(
        spark, tmp_path, "lineitem",
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate string",
        [(k, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-01")
         for k in lineitems],
    )
    _write(
        spark, tmp_path, "orders",
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
        [(k, c, "O", 1.0, "1995-01-01", "3-MEDIUM") for k, c in orders],
    )
    _write(
        spark, tmp_path, "customer",
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
        [(c, "n", 0, 0.0, "S") for c in customers],
    )


def test_join_preflight_exact_cardinality_and_skew(spark, tmp_path):
    # lineitem keys {1 x3, 2 x2}, orders {1, 2, 3(orphan)}:
    # predicted = 3+2 = 5 over 2 common keys, champion key 1 at 60%.
    # orders custkeys {10 x2, 20 x1}: predicted 3, champion 10 at 2/3.
    _write_trio(
        spark, tmp_path,
        lineitems=[1, 1, 1, 2, 2],
        orders=[(1, 10), (2, 10), (3, 20)],
        customers=[10, 20],
    )
    got = (
        R.ALL_QUERIES["join_size_preflight"](spark, str(tmp_path))
        .toPandas()
        .set_index("join_name")
    )
    lo = got.loc["lineitem_orders"]
    assert (lo.n_left, lo.n_right, lo.n_keys_common) == (5, 3, 2)
    assert (lo.predicted_rows, lo.top_key, lo.top_key_rows) == (5, 1, 3)
    assert lo.top_share_ppm == 600000
    oc = got.loc["orders_customer"]
    assert (oc.predicted_rows, oc.top_key, oc.top_share_ppm) == (3, 10, 666666)


def test_join_preflight_champion_tie_breaks_low_key(spark, tmp_path):
    # equal per-key products must pick the SMALLEST key
    _write_trio(
        spark, tmp_path,
        lineitems=[2, 2, 1, 1],
        orders=[(1, 10), (2, 10)],
        customers=[10],
    )
    got = (
        R.ALL_QUERIES["join_size_preflight"](spark, str(tmp_path))
        .toPandas()
        .set_index("join_name")
    )
    assert got.loc["lineitem_orders"].top_key == 1


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


# ---------------------------------------------------------------- D281


def test_geometric_median_resists_the_outlier(spark, tmp_path):
    # 9 copies of e0 plus one outlier at 100*e1: the mean lands at
    # (0.9, 10.0, ...) — dragged 10 units up dim 1 by one point —
    # while two Weiszfeld steps pull the robust center back to the
    # cluster (dim-1 coordinate collapses by >10x, dim 0 approaches 1).
    rows = []
    v = [0.0] * 64
    v[0] = 1.0
    for i in range(9):
        rows.append((i, list(v), 0))
    o = [0.0] * 64
    o[1] = 100.0
    rows.append((9, list(o), 0))
    # a degenerate label: all points coincident => estimate stays put
    u = [0.5] * 64
    for i in range(5):
        rows.append((100 + i, list(u), 1))
    _write_embeddings(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["embedding_geometric_median"](spark, str(tmp_path))
        .toPandas()
    )
    g0 = got[got.label == 0].set_index("dim")
    assert abs(g0.loc[0].mean_val - 0.9) < 1e-9
    assert abs(g0.loc[1].mean_val - 10.0) < 1e-9
    assert g0.loc[1].gmedian_val < 1.0          # outlier influence collapsed
    assert g0.loc[0].gmedian_val > 0.95         # pulled back to the cluster
    assert g0.loc[1].shift_micro > 9000000      # the influence signal
    g1 = got[got.label == 1]
    assert (g1.shift_micro == 0).all()          # degenerate label pinned


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

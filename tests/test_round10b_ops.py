"""Planted-fixture tests for the round-10 continuation operators
(D226-D230): each test constructs the specific condition the operator's
docstring claims to handle and pins the expected output, so a
regression fails with a diagnosis instead of an opaque oracle hash
mismatch."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F

import mapreduce_project_spark.queries_registry as R
from tests.conftest import _write_docs, _write_events


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


# ---------------------------------------------------------------- D227


def test_fk_audit_counts_planted_orphans_and_nulls(spark, tmp_path):
    def w(name, schema, rows):
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            str(tmp_path / f"{name}.parquet")
        )

    w("region", "r_regionkey bigint", [(0,)])
    w("nation", "n_nationkey bigint, n_regionkey bigint", [(0, 0)])
    w("customer", "c_custkey bigint, c_nationkey bigint", [(10, 0), (11, 0)])
    w("supplier", "s_suppkey bigint, s_nationkey bigint", [(20, 0)])
    w("part", "p_partkey bigint", [(30,)])
    # one NULL o_custkey and one orphan o_custkey=99
    w(
        "orders",
        "o_orderkey bigint, o_custkey bigint",
        [(100, 10), (101, None), (102, 99)],
    )
    # l_orderkey=999 is an orphan key appearing TWICE (1 key, 2 rows)
    w(
        "lineitem",
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint",
        [(100, 30, 20), (999, 30, 20), (999, 30, 20)],
    )
    got = (
        R.ALL_QUERIES["fk_integrity_audit"](spark, str(tmp_path))
        .toPandas()
        .set_index("fk_edge")
    )
    li = got.loc["lineitem.l_orderkey->orders"]
    assert li.child_rows == 3 and li.orphan_keys == 1 and li.orphan_rows == 2
    assert li.orphan_ppm == 2 * 1000000 // 3
    oc = got.loc["orders.o_custkey->customer"]
    assert oc.null_fk_rows == 1 and oc.orphan_keys == 1 and oc.orphan_rows == 1
    clean = got.loc["customer.c_nationkey->nation"]
    assert clean.orphan_rows == 0 and clean.orphan_ppm == 0
    assert len(got) == 7


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


# ---------------------------------------------------------------- D233


def test_assortativity_star_graph_is_exactly_minus_one(spark, tmp_path):
    # hub supplier 1 co-supplies with leaves 2..5 (one 2-line order per
    # pair, all in Jan-1995): a star's degree assortativity is -1.
    def w(name, schema, rows):
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            str(tmp_path / f"{name}.parquet")
        )

    spark.createDataFrame(
        [(k, "1995-01-15 00:00:00") for k in (1, 2, 3, 4)],
        "o_orderkey bigint, o_orderdate string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "orders.parquet"))
    li = []
    for k, leaf in zip((1, 2, 3, 4), (2, 3, 4, 5)):
        li.append((k, 1))
        li.append((k, leaf))
    w("lineitem", "l_orderkey bigint, l_suppkey bigint", li)
    got = R.ALL_QUERIES["graph_degree_assortativity"](spark, str(tmp_path)).toPandas()
    row = got.iloc[0]
    assert row.n_nodes == 5 and row.n_edges == 4
    assert row.assortativity == -1.0


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


# ---------------------------------------------------------------- D235


def test_sq2_codebook_floor_reconstruction_on_negative_bin(spark, tmp_path):
    # dim 1 carries {-9,-8,1,2,3,4,5,6} milli: bin 0 holds {-9,-8},
    # whose mean -8.5 must FLOOR to -9 (toward-zero truncation would
    # say -8 — the shift-then-divide trick is what this pins), with
    # SSE (0^2 + 1^2) = 1.
    vals = [-0.009, -0.008, 0.001, 0.002, 0.003, 0.004, 0.005, 0.006]
    rows = []
    for i, v in enumerate(vals):
        emb = [0.0] * 64
        emb[0] = v
        rows.append((i, emb, "x"))
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label string"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = R.ALL_QUERIES["embedding_sq2_codebook"](spark, str(tmp_path)).toPandas()
    d1 = got[got.dim == 1].set_index("code")
    assert d1.loc[0].n_vecs == 2
    assert d1.loc[0].recon_milli == -9
    assert d1.loc[0].sse_milli2 == 1
    # an all-constant dimension collapses into the single >= -all code
    d2 = got[got.dim == 2]
    assert len(d2) == 1 and d2.iloc[0].code == 3 and d2.iloc[0].sse_milli2 == 0


# ---------------------------------------------------------------- D236


def test_audio_resample_pins_block_mean_framing_and_tail_drop(spark, tmp_path):
    # "abcdefgh" -> int16LE samples (25185, 25699, 26213, 26727) ->
    # one 4-sample block, boxcar mean 25956. "abcdefghi" gains a
    # zero-padded 5th sample, which the full-block rule must DROP.
    rows = [
        (1, "abcdefgh", "en", "s", 8),
        (2, "abcdefghi", "en", "s", 9),
        (3, "ab", "en", "s", 2),
    ]
    _write_docs(spark, tmp_path, rows)
    got = (
        R.ALL_QUERIES["multimodal_audio_resample"](spark, str(tmp_path))
        .toPandas()
        .set_index("doc_id")
    )
    d1 = got.loc[1]
    assert d1.n_in_samples == 4 and d1.n_out_samples == 1
    assert d1.out_sum == 25956 and d1.out_wsum == 25956 and d1.peak_out == 25956
    d2 = got.loc[2]
    assert d2.n_in_samples == 5 and d2.n_out_samples == 1
    assert d2.out_sum == 25956  # identical first block; padded tail dropped
    d3 = got.loc[3]
    assert d3.n_in_samples == 1 and d3.n_out_samples == 0
    assert d3.out_sum == 0 and d3.peak_out == 0


# ---------------------------------------------------------------- D237


def test_t_closeness_flags_the_skewed_cell(spark, tmp_path):
    # two cells share the corpus band mix (t small); one cell holds a
    # single band (t large, above the 0.2 release threshold).
    rows = []
    cid = 0

    def add(seg, nat, bal, n):
        nonlocal cid
        for _ in range(n):
            rows.append((cid, seg, nat, bal))
            cid += 1

    add("A", 0, 500.0, 9)   # band 0
    add("A", 0, 1500.0, 3)  # band 1
    add("B", 1, 500.0, 6)
    add("B", 1, 1500.0, 2)
    add("C", 2, 1500.0, 8)  # band 1 ONLY — the skewed cell
    spark.createDataFrame(
        rows, "c_custkey bigint, c_mktsegment string, c_nationkey bigint, c_acctbal double"
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    got = (
        R.ALL_QUERIES["t_closeness_audit"](spark, str(tmp_path))
        .toPandas()
        .set_index(["c_mktsegment", "c_nationkey"])
    )
    # global: 15/28 band0, 13/28 band1; cum P at band0 = 535714 ppm
    skew = got.loc[("C", 2)]
    # cell C: cum Q at band0 = 0 -> t = |0 - 535714| = 535714 ppm
    assert skew.t_emd_ppm == 535714 and skew.above_t02 == 1
    a = got.loc[("A", 0)]
    # cell A: cum Q at band0 = 750000 -> t = |750000 - 535714|
    assert a.t_emd_ppm == 750000 - 535714
    assert a.above_t02 == 1  # 214286 > 200000: still above the gate
    b = got.loc[("B", 1)]
    assert b.t_emd_ppm == 750000 - 535714
    assert len(got) == 3


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


# ---------------------------------------------------------------- D240


def test_abc_classification_pins_inclusive_cut_offs(spark, tmp_path):
    # revenues 79/16/5 -> inclusive cumulative shares 79% / 95% / 100%:
    # the 95% row must still be B (inclusive <=), the last one C.
    spark.createDataFrame(
        [
            (1, 1, 79.0, 0.0),
            (2, 2, 16.0, 0.0),
            (3, 3, 5.0, 0.0),
        ],
        "l_orderkey bigint, l_suppkey bigint, l_extendedprice double, l_discount double",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    got = (
        R.ALL_QUERIES["abc_classification_suppliers"](spark, str(tmp_path))
        .toPandas()
        .set_index("abc")
    )
    assert got.loc["A"].n_suppliers == 1 and got.loc["A"].rev_share_ppm == 790000
    assert got.loc["B"].n_suppliers == 1 and got.loc["B"].rev_share_ppm == 160000
    assert got.loc["C"].n_suppliers == 1 and got.loc["C"].rev_share_ppm == 50000
    assert got.loc["A"].first_rank == 1 and got.loc["C"].last_rank == 3


# ---------------------------------------------------------------- D241


def _write_parts_demand(spark, tmp_path, demand_by_price):
    parts = [(k, f"part{k}", "b", "t", 1, float(k)) for k in range(1, 6)]
    spark.createDataFrame(
        parts,
        "p_partkey bigint, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    li = [
        (i, k, float(demand_by_price(k)))
        for i, k in enumerate(range(1, 6))
    ]
    spark.createDataFrame(
        li, "l_orderkey bigint, l_partkey bigint, l_quantity double"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))


def test_spearman_pins_perfect_monotone_and_inverse(spark, tmp_path):
    # demand rises with price -> identical ranks -> rho = +1 exactly
    _write_parts_demand(spark, tmp_path, lambda k: 10 * k)
    got = R.ALL_QUERIES["corr_spearman_price_demand"](spark, str(tmp_path)).toPandas()
    assert got.iloc[0].sum_d2 == 0 and got.iloc[0].rho_ppm == 1000000
    # demand falls with price -> reversed ranks -> rho = -1 exactly
    _write_parts_demand(spark, tmp_path, lambda k: 10 * (6 - k))
    got = R.ALL_QUERIES["corr_spearman_price_demand"](spark, str(tmp_path)).toPandas()
    assert got.iloc[0].sum_d2 == 40 and got.iloc[0].rho_ppm == -1000000


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

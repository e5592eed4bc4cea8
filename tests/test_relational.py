"""Relational audit and advisor queries (`plans/relational_queries.py`)
on planted TPC-H tables: integrity, contingency, drift, concentration,
join-size and layout advisors, pinned against hand-computed answers."""

from __future__ import annotations

from pathlib import Path

import duckdb
from pyspark.sql import functions as F

import mapreduce_project_spark.queries_registry as R
from tests.conftest import SF_DIR, _write, rows_of


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


def test_join_preflight_null_keys_one_sided_keys_and_a_hot_key(spark, tmp_path):
    # lineitem keys {1 x3, 2 x2, 5 (left only), NULL x2}; orders keys
    # {1 x2, 2, 3 (right only), NULL}: key 1 is hot on both sides, so
    # predicted = 3*2 + 2*1 = 8 over 2 common keys, champion 1 at 6/8.
    # orders custkeys {10 x3, 20 (left only), NULL}; customers {10, 30
    # (right only), NULL}: predicted 3 over 1 common key, champion 10.
    # NULL keys count in their side's total and never match.
    _write_trio(
        spark, tmp_path,
        lineitems=[1, 1, 1, 2, 2, 5, None, None],
        orders=[(1, 10), (1, 10), (2, 20), (3, None), (None, 10)],
        customers=[10, 30, None],
    )
    got = (
        R.ALL_QUERIES["join_size_preflight"](spark, str(tmp_path))
        .toPandas()
        .set_index("join_name")
    )
    n = {name: spark.read.parquet(str(tmp_path / f"{name}.parquet")).count()
         for name in ("lineitem", "orders", "customer")}
    lo = got.loc["lineitem_orders"]
    assert (lo.n_left, lo.n_right) == (n["lineitem"], n["orders"]) == (8, 5)
    assert (lo.n_keys_common, lo.predicted_rows, lo.top_key) == (2, 8, 1)
    assert (lo.top_key_rows, lo.top_share_ppm) == (6, 750000)
    oc = got.loc["orders_customer"]
    assert (oc.n_left, oc.n_right) == (n["orders"], n["customer"]) == (5, 3)
    assert (oc.n_keys_common, oc.predicted_rows, oc.top_key) == (1, 3, 10)
    assert (oc.top_key_rows, oc.top_share_ppm) == (3, 1000000)


# ---------------------------------------------------------------- D288


def test_join_order_advisor_predictions_equal_actual_join_sizes(spark, duck):
    # The advisor's numbers are EXACT counts, not estimates: audit by
    # running the actual filtered joins and comparing row counts.
    from pyspark.sql import functions as F

    got = {
        r["join_order"]: r
        for r in R.ALL_QUERIES["join_order_advisor"](spark, SF_DIR).collect()
    }
    assert set(got) == {"customer_orders_first", "orders_lineitem_first"}
    cu = spark.read.parquet(f"{SF_DIR}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    od = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("date")
    )
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("date")
    )
    i1 = cu.join(od, cu["c_custkey"] == od["o_custkey"]).count()
    i2 = od.join(li, od["o_orderkey"] == li["l_orderkey"]).count()
    fin = (
        cu.join(od, cu["c_custkey"] == od["o_custkey"])
        .join(li, od["o_orderkey"] == li["l_orderkey"])
        .count()
    )
    assert got["customer_orders_first"]["intermediate_rows"] == i1
    assert got["orders_lineitem_first"]["intermediate_rows"] == i2
    assert got["customer_orders_first"]["final_rows"] == fin
    assert got["orders_lineitem_first"]["final_rows"] == fin
    # the chosen order is the provable minimum
    chosen = [r for r in got.values() if r["chosen"] == 1]
    assert len(chosen) == 1
    assert chosen[0]["intermediate_rows"] == min(i1, i2)
    ranks = sorted(r["rank"] for r in got.values())
    assert ranks == [1, 2]


# ---------------------------------------------------------------- D290


def test_layout_advisor_planted_row_bytes(spark, tmp_path):
    # events fixed width = 8*3 + 8 + 4*2 = 40; two rows with 2-byte
    # event_type and 2-byte props -> 44 B/row, 88 B total, 1 partition.
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1), 10, "ab", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 2), 11, "cd", 2.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    # the advisor also reads lineitem/orders; give it tiny ones
    spark.createDataFrame(
        [(1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "A", "F", dt.datetime(2024, 1, 1))],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        [(1, 1, "O", 1.0, dt.datetime(2024, 1, 1), "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))

    got = {
        r["table_name"]: r
        for r in R.ALL_QUERIES["partition_layout_advisor"](
            spark, str(tmp_path)
        ).collect()
    }
    ev = got["events"]
    assert ev["n_rows"] == 2
    assert ev["logical_bytes"] == 88
    assert ev["recommended_partitions"] == 1
    assert ev["rows_per_partition"] == 2
    assert ev["avg_row_bytes"] == 44
    # lineitem: fixed 8*3+4+8*4+8+4*2 = 76 + 1 + 1 = 78
    assert got["lineitem"]["logical_bytes"] == 78
    # orders: fixed 8+8+8+8+4*2 = 40 + 1 + 8 = 49
    assert got["orders"]["logical_bytes"] == 49


_PLANS = Path(__file__).resolve().parents[1] / "mapreduce_project_spark" / "plans"


_REL_SRC = (_PLANS / "relational_queries.py").read_text()


# --- partition_layout_advisor divides by zero on an empty
# table (n_rows = 0 ⇒ recommended_partitions = 0 ⇒ n_rows div 0).


def test_layout_advisor_guards_empty_table_both_engines(spark, duck):
    # The exact fixed expression shapes, evaluated at n_rows = 0: both
    # ratios must pin to 0 — not NULL, not a raise.
    tgt = 134217728
    row = spark.createDataFrame(
        [(0, 0)], "n_rows bigint, logical_bytes bigint"
    ).selectExpr(
        "cast(case when n_rows = 0 then 0 else"
        f" n_rows div ((logical_bytes + {tgt - 1}) div {tgt}) end as bigint)"
        " as rows_per_partition",
        "cast(case when n_rows = 0 then 0 else logical_bytes div n_rows end"
        " as bigint) as avg_row_bytes",
    ).collect()[0]
    assert row.rows_per_partition == 0 and row.avg_row_bytes == 0
    # DuckDB twin shape over a genuinely EMPTY relation (COUNT(*) = 0)
    got = duck.sql(
        f"""
        SELECT CAST(CASE WHEN COUNT(*) = 0 THEN 0 ELSE
                 COUNT(*) // ((COALESCE(SUM(x), 0) + {tgt - 1}) // {tgt}) END
               AS BIGINT) AS rows_per_partition,
               CAST(CASE WHEN COUNT(*) = 0 THEN 0 ELSE
                 COALESCE(SUM(x), 0) // COUNT(*) END AS BIGINT) AS avg_row_bytes
        FROM (SELECT 1 AS x WHERE false)
        """
    ).fetchone()
    assert got == (0, 0)


def test_layout_advisor_source_carries_guard_on_both_sides():
    # the registered query and its oracle both guard n_rows = 0
    assert "case when n_rows = 0 then 0" in _REL_SRC
    oracle = R.ALL_ORACLES["partition_layout_advisor"]
    assert oracle.count("CASE WHEN COUNT(*) = 0 THEN 0 ELSE") == 6  # 2 × 3 tables


def test_approx_quantiles_cents_midpoint_exact(spark, tmp_path, duck):
    # ADVICE low: the old interpolate-then-quantize form put the
    # even-count p50 on a half-CENT midpoint of an interpolated double,
    # where a 1-ulp cross-engine difference flips the output cent.
    # Plant exactly that boundary: two rows per group whose cents
    # midpoint is X.5 — pre-quantized integer inputs make it an exact
    # IEEE .5 on both engines, so floor(x + 0.5) agrees by construction.
    rows = [
        ("A", 10.00), ("A", 10.01),   # cents 1000/1001 -> median 1000.5
        ("B", 99.98), ("B", 99.99),   # cents 9998/9999 -> median 9998.5
        ("C", 5.55), ("C", 5.56), ("C", 5.57), ("C", 5.58),  # 556.5
    ]
    spark.createDataFrame(
        rows, "o_orderstatus string, o_totalprice double"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = R.ALL_QUERIES["approx_quantiles_price"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{tmp_path}/orders.parquet/*.parquet')"
    )
    want = con.sql(R.ALL_ORACLES["approx_quantiles_price"]).df()
    assert rows_of(got) == rows_of(want)
    by_status = {r["o_orderstatus"]: r["p50_cents"] for _, r in got.iterrows()}
    # half-cent midpoints round UP deterministically
    assert by_status == {"A": 1001, "B": 9999, "C": 557}


def test_gdpr_audit_zero_state_reads_zero(spark, duck):
    # the audit's emptiness contract: an empty subject match yields
    # (0, 0) in BOTH engines (bit_xor over no rows is NULL -> coalesced)
    drow = duck.sql(
        """
        SELECT CAST(COUNT(*) AS BIGINT),
               COALESCE(bit_xor(CAST('0x' || substr(md5(CAST(x AS VARCHAR)),
                 1, 15) AS BIGINT)), 0)
        FROM (SELECT 1 AS x WHERE false)
        """
    ).fetchone()
    assert drow == (0, 0)
    srow = (
        spark.createDataFrame([(1,)], "x bigint")
        .filter("x < 0")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(
                F.expr(
                    "bit_xor(cast(conv(substr(md5(cast(cast(x as string)"
                    " AS binary)), 1, 15), 16, 10) AS bigint))"
                ),
                F.lit(0),
            ).alias("c"),
        )
        .collect()[0]
    )
    assert (srow["n"], srow["c"]) == (0, 0)

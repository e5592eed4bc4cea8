"""Relational audit and advisor queries (`plans/relational_queries.py`)
on planted TPC-H tables: the join-size and layout advisors, quantiles
and the GDPR audit, pinned against hand-computed answers."""

from __future__ import annotations

from pathlib import Path

import duckdb
from pyspark.sql import functions as F

import mapreduce_project_spark.queries_registry as R
from tests.conftest import SF_DIR, rows_of


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

"""Error-bound + mergeability tests for the DataSketches queries
(`plans/sketch_queries.py`). Theta gets a value-exact oracle in
test_oracle.py; HLL and KLL have no exactness window, so their hard
signal is the published error envelope vs the exact answer, plus the
merge-consistency property that justifies using sketches at all."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_project_spark.queries_registry import ALL_QUERIES as ALL
from mapreduce_project_spark.sources import load_table
from tests.conftest import SF_DIR


def test_hll_within_error_envelope_and_union_consistent(spark):
    got = {
        r["event_type"]: r["approx_users"]
        for r in ALL["sketch_hll_distinct_users"](spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["__all__"] = ev.select("user_id").distinct().count()
    assert set(got) == set(exact)
    for k, est in got.items():
        # lgk=14 → RSE ~0.8%; 5% is > 6 sigma, and tiny cardinalities
        # are exact in HLL's sparse mode anyway
        assert abs(est - exact[k]) <= max(1, 0.05 * exact[k]), (k, est, exact[k])


def test_kll_quantiles_within_rank_error(spark):
    rows = ALL["sketch_quantiles_price"](spark, SF_DIR).collect()
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("double").alias("p")
    )
    eps = 0.02  # k=2048 guarantees ~0.8% rank error; 2% is generous
    for r in rows:
        flag = r["l_returnflag"]
        grp = li if flag == "__ALL" else li.filter(F.col("l_returnflag") == flag)
        for name, q in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            lo, hi = grp.agg(
                F.expr(f"percentile(p, {max(0.0, q - eps)})"),
                F.expr(f"percentile(p, {min(1.0, q + eps)})"),
            ).collect()[0]
            assert lo <= r[name] <= hi, (flag, name, r[name], lo, hi)


def test_theta_exact_at_fixture_cardinality(spark):
    # the oracle in test_oracle.py checks values; this pins the REASON
    # it may: fixture cardinality is far below the 2^14 exactness window
    ev = load_table(spark, SF_DIR, "events")
    n = ev.select("user_id").distinct().count()
    assert n < (1 << 14) // 2, (
        f"{n} distinct users approaches the theta nominal capacity — "
        "the exact oracle for sketch_theta_distinct_users no longer holds"
    )

"""Graph queries over the co-supply network (`plans/advanced_queries.py`)
and the personalized PageRank operator (`operators/graph.py`), pinned
against closed forms on planted graphs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import mapreduce_project_spark.queries_registry as R
from tests.conftest import _write


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


# ---------------------------------------------------------------- D291


def test_clustering_coefficient_triangle_vs_star(spark, tmp_path):
    # Co-supply fixture: order 1 supplied by {1,2,3} (a triangle —
    # each node deg 2, cc = 1e6); orders 2-4 form a star around
    # supplier 4 (deg 3, zero triangles -> cc 0; leaves deg 1 -> 0).
    import datetime as dt

    d = dt.datetime(1995, 2, 1)
    orders = [(k, k, "O", 1.0, d, "1-URGENT") for k in range(1, 5)]
    lines = [(1, 1), (1, 2), (1, 3), (2, 4), (2, 5), (3, 4), (3, 6), (4, 4), (4, 7)]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        lines, "l_orderkey long, l_suppkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    got = {
        r["node"]: (r["degree"], r["n_tri"], r["cc_ppm"])
        for r in R.ALL_QUERIES["graph_clustering_coefficient"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got[1] == (2, 1, 1000000)
    assert got[2] == (2, 1, 1000000)
    assert got[3] == (2, 1, 1000000)
    assert got[4] == (3, 0, 0)  # the star center: high degree, cc 0
    assert got[5] == (1, 0, 0) and got[6] == (1, 0, 0) and got[7] == (1, 0, 0)


# ---------------------------------------------------------------- D296


def _write_graph(spark, tmp_path, edges):
    # one order per edge, two lineitems (the co-supply construction),
    # dated inside the query's pinned [1995-01-01, 1995-01-15) window
    import datetime

    orders = [
        (1000 + i, datetime.date(1995, 1, 5)) for i in range(len(edges))
    ]
    lis = []
    for i, (a, b) in enumerate(edges):
        lis += [(1000 + i, a), (1000 + i, b)]
    spark.createDataFrame(
        orders, "o_orderkey bigint, o_orderdate date"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        lis, "l_orderkey bigint, l_suppkey bigint"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))


def test_betweenness_path_graph_closed_form(spark, tmp_path):
    # Path 1-2-3-4-5: sources {1,2,3,4}, target {5} (the 4 largest
    # minus the sources). All σ = 1; score(v) = number of sampled
    # pairs whose unique shortest path crosses v: node 4 → 3 pairs,
    # node 3 → 2, node 2 → 1; (4,5) are adjacent so node 4 gains
    # nothing from it. pairs_counted = 4.
    _write_graph(spark, tmp_path, [(1, 2), (2, 3), (3, 4), (4, 5)])
    got = (
        R.ALL_QUERIES["graph_betweenness_sampled"](spark, str(tmp_path))
        .toPandas().sort_values("rank").reset_index(drop=True)
    )
    assert [
        (r["rank"], r["node"], r["score"], r["n_pairs"], r["pairs_counted"])
        for _, r in got.iterrows()
    ] == [(1, 4, 3, 3, 4), (2, 3, 2, 2, 4), (3, 2, 1, 1, 4)]


def test_betweenness_multiplies_path_counts(spark, tmp_path):
    # Diamond 1-2-8, 1-3-8 plus tail 8-9: σ_1(8) = 2, so the pair
    # (1,9) contributes 2 paths THROUGH node 8 (σ_s·σ_t product, not
    # a flag): score(8) = 2 + 1 + 1 from pairs (1,9),(2,9),(3,9);
    # nodes 2 and 3 carry one path each for (1,9).
    _write_graph(spark, tmp_path, [(1, 2), (1, 3), (2, 8), (3, 8), (8, 9)])
    got = {
        (r["node"], r["score"], r["n_pairs"])
        for _, r in R.ALL_QUERIES["graph_betweenness_sampled"](
            spark, str(tmp_path)
        ).toPandas().iterrows()
    }
    assert got == {(8, 4, 3), (2, 1, 1), (3, 1, 1)}


# --- graph_betweenness_sampled — the 3e9 input guard kept
# each ss*st product under int64max but SUM(paths) over up to K*K
# sampled pairs could still wrap Spark-side (ANSI off) while DuckDB
# raised on the HUGEINT->BIGINT cast.


def test_btw_guard_bounds_the_aggregated_score():
    from mapreduce_project_spark.plans.advanced_queries import _BTW_GUARD, _BTW_K

    # worst case: every one of the K*K sampled (s,t) pairs routes through
    # one node with both sigmas at the guard — the summed score must
    # still fit int64 in BOTH engines.
    assert _BTW_K * _BTW_K * _BTW_GUARD * _BTW_GUARD <= 2**63 - 1


def test_btw_guard_same_constant_both_engines():
    from mapreduce_project_spark.plans.advanced_queries import _BTW_GUARD

    oracle = R.ALL_ORACLES["graph_betweenness_sampled"]
    assert f"> {_BTW_GUARD} THEN" in oracle


def test_btw_oracle_sum_at_guard_no_longer_overflows(duck):
    # 16 products of exactly GUARD^2 summed: the old 3e9 guard made this
    # cast raise in DuckDB (HUGEINT out of BIGINT range); the new guard
    # must let it through as a plain BIGINT.
    from mapreduce_project_spark.plans.advanced_queries import _BTW_GUARD, _BTW_K

    total = duck.sql(
        f"""
        SELECT CAST(SUM(p) AS BIGINT) FROM (
          SELECT CAST({_BTW_GUARD} AS BIGINT) * {_BTW_GUARD} AS p
          FROM range({_BTW_K * _BTW_K})
        )
        """
    ).fetchone()[0]
    assert total == _BTW_K * _BTW_K * _BTW_GUARD * _BTW_GUARD


# ---------------------------------------------------------------- D301


def test_hits_star_fixture_closed_form(spark, tmp_path):
    # Customers 1..5 all order from supplier 101; customer 1 also from
    # 102. Python replay of the exact 4-round integer recursion pins
    # every score (101 dominates authorities; customer 1 the hubs).
    import datetime

    edges = [(c, 101) for c in range(1, 6)] + [(1, 102)]
    orders, lis = [], []
    for i, (c, s) in enumerate(edges):
        orders.append((5000 + i, c, datetime.date(1995, 1, 7)))
        lis.append((5000 + i, s))
    spark.createDataFrame(
        orders, "o_orderkey bigint, o_custkey bigint, o_orderdate date"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        lis, "l_orderkey bigint, l_suppkey bigint"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))

    h = {c: 1000 for c in range(1, 6)}
    a = {}
    for _ in range(4):
        raw_a = {}
        for c, s in edges:
            raw_a[s] = raw_a.get(s, 0) + h[c]
        m = max(raw_a.values())
        a = {s: r * 1000 // m for s, r in raw_a.items()}
        raw_h = {}
        for c, s in edges:
            raw_h[c] = raw_h.get(c, 0) + a[s]
        m = max(raw_h.values())
        h = {c: r * 1000 // m for c, r in raw_h.items()}

    def rank(d):
        return {
            (i + 1, node, score)
            for i, (node, score) in enumerate(
                sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))
            )
        }

    got = R.ALL_QUERIES["graph_hits_bipartite"](spark, str(tmp_path)).collect()
    got_a = {(r["rank"], r["node"], r["score_milli"])
             for r in got if r["kind"] == "authority"}
    got_h = {(r["rank"], r["node"], r["score_milli"])
             for r in got if r["kind"] == "hub"}
    assert got_a == rank(a)
    assert got_h == rank(h)
    assert (1, 101, 1000) in got_a  # the endorsed supplier
    assert (1, 1, 1000) in got_h    # the concentrating customer


def test_hits_window_without_edges_is_empty(spark, tmp_path):
    # No order falls in January 1995, so there are no edges: every
    # round's MAX is None, which must stay a NULL literal, not SQL text.
    import datetime

    _write(
        spark, tmp_path, "orders",
        "o_orderkey bigint, o_custkey bigint, o_orderdate date",
        [(1, 1, datetime.date(1995, 3, 1))],
    )
    _write(spark, tmp_path, "lineitem", "l_orderkey bigint, l_suppkey bigint", [(1, 101)])
    assert R.ALL_QUERIES["graph_hits_bipartite"](spark, str(tmp_path)).collect() == []


def test_hits_job_count_on_benchmark_fixture(spark):
    # Each half-round costs 3 jobs and observes its MAX inside its
    # checkpoint job; with the two tables' schemas cached, the query is
    # 29 jobs.
    from mapreduce_project_spark.plans.inspect import run_noop
    from mapreduce_project_spark.sources.io import load_table
    from perfbench.fixture import BASE_DIR

    for name in ("orders", "lineitem"):
        load_table(spark, BASE_DIR, name)
    got = run_noop(lambda: R.ALL_QUERIES["graph_hits_bipartite"](spark, BASE_DIR))
    assert got["jobs"] == 29


# ---------------------------------------------------------------- D303


def test_pagerank_personalized_closed_form_path_graph(spark):
    # path 0-1-2 (symmetrized), seeds {0}: hand-computed fixed-point
    # values after 2 damped rounds (SCALE 1e12, base 0.15e12):
    #   r1: 0 -> 150_000_000_000, 1 -> 850_000_000_000
    #   r2: 0 -> 150e9 + 85%*(850e9 div 2) = 511_250_000_000
    #       1 -> 85%*150e9            = 127_500_000_000
    #       2 -> 85%*(850e9 div 2)    = 361_250_000_000
    # An oracle twin can't distinguish a shared mistake; this pins the
    # spec against closed-form arithmetic.
    from mapreduce_project_spark.operators.graph import (
        pagerank_personalized,
        symmetrize,
    )

    edges = spark.createDataFrame([(0, 1), (1, 2)], "src bigint, dst bigint")
    seeds = spark.createDataFrame([(0,)], "node bigint")
    got = {
        r["node"]: r["rank_fx"]
        for r in pagerank_personalized(symmetrize(edges), seeds, n_iter=2).collect()
    }
    assert got == {0: 511_250_000_000, 1: 127_500_000_000, 2: 361_250_000_000}


def test_pagerank_personalized_rejects_foreign_seeds(spark):
    from mapreduce_project_spark.operators.graph import pagerank_personalized

    edges = spark.createDataFrame([(0, 1), (1, 0)], "src bigint, dst bigint")
    seeds = spark.createDataFrame([(99,)], "node bigint")
    with pytest.raises(ValueError, match="no seed"):
        pagerank_personalized(edges, seeds)


def test_pagerank_personalized_mass_stays_on_seed_component(spark):
    # two disconnected 2-cycles; seeding one must leave the other at
    # zero mass (absent from the sparse output) — the locality property
    # the uniform variant cannot have.
    from mapreduce_project_spark.operators.graph import pagerank_personalized

    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (10, 11), (11, 10)], "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame([(0,)], "node bigint")
    got = {r["node"] for r in pagerank_personalized(edges, seeds, n_iter=3).collect()}
    assert got == {0, 1}

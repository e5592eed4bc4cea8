"""Advanced operators: as-of join semantics on a hand-built frame,
IVF ANN recall, multi-level aggregation oracle diffs, set ops, and the
global rank / prefix scans over range partitions."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mapreduce_project_spark.operators.join import asof_join
from mapreduce_project_spark.operators.similarity import topk_bruteforce, topk_ivf
from mapreduce_project_spark.queries_registry import ALL_ORACLES, ALL_QUERIES
from mapreduce_project_spark.sources import load_table
from tests.conftest import SF_DIR, assert_matches_oracle


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_join_semantics(spark):
    # trades/quotes classic: each trade gets the latest quote <= its ts
    trades = spark.createDataFrame(
        [
            (1, "A", _ts("2024-01-01 10:00:05")),
            (2, "A", _ts("2024-01-01 10:00:00")),  # equal-ts quote matches (<=)
            (3, "B", _ts("2024-01-01 09:00:00")),  # no quote yet -> nulls
        ],
        "trade_id int, sym string, ts timestamp",
    )
    quotes = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 10:00:00"), 100.0),
            ("A", _ts("2024-01-01 10:00:03"), 101.0),
            ("A", _ts("2024-01-01 10:00:07"), 102.0),  # after trade 1 -> ignored
            ("B", _ts("2024-01-01 12:00:00"), 50.0),
        ],
        "sym string, ts timestamp, px double",
    )
    out = {
        r["trade_id"]: (r["ts_matched"], r["px_matched"])
        for r in asof_join(trades, quotes, ["sym"], "ts", "ts", ["px"]).collect()
    }
    assert out[1] == (_ts("2024-01-01 10:00:03"), 101.0)
    assert out[2] == (_ts("2024-01-01 10:00:00"), 100.0)
    assert out[3] == (None, None)


try:
    from hypothesis import given, settings, strategies as st

    _key = st.integers(min_value=0, max_value=2)
    _t = st.integers(min_value=0, max_value=50)

    @settings(max_examples=12, deadline=None)
    @given(
        lefts=st.lists(st.tuples(_key, _t), min_size=1, max_size=8),
        rights=st.lists(st.tuples(_key, _t, st.integers(0, 99)), min_size=0, max_size=8),
    )
    def test_asof_join_property(spark, lefts, rights):
        """asof_join == per-row brute-force max(right_ts <= left_ts)."""
        base = dt.datetime(2024, 1, 1)
        left = spark.createDataFrame(
            [(i, k, base + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(lefts)],
            "lid int, k int, ts timestamp",
        )
        right = spark.createDataFrame(
            [(k, base + dt.timedelta(seconds=s), v) for k, s, v in rights],
            "k int, ts timestamp, v int",
        ) if rights else spark.createDataFrame([], "k int, ts timestamp, v int")
        got = {
            r["lid"]: r["ts_matched"]
            for r in asof_join(left, right, ["k"], "ts", "ts", ["v"]).collect()
        }
        assert set(got) == set(range(len(lefts)))
        for i, (k, s) in enumerate(lefts):
            cand = [rs for rk, rs, _ in rights if rk == k and rs <= s]
            want = base + dt.timedelta(seconds=max(cand)) if cand else None
            assert got[i] == want, (i, lefts, rights)
except ImportError:  # pragma: no cover - hypothesis is expected in this env
    pass


def test_ivf_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_bruteforce(emb, queries, "vec_id", "embedding", 5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_ivf(emb, queries, "vec_id", "embedding", 5).collect()
    }
    assert exact
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.4, f"IVF recall {recall} too low ({len(ivf)} rows)"


def test_multilevel_aggs_match_oracle(spark, duck):
    for name in ("rollup_customer_balance", "cube_order_stats", "grouping_sets_lineitem"):
        assert_matches_oracle(ALL_QUERIES[name](spark, SF_DIR), duck, ALL_ORACLES[name])


def test_setops_and_joins_match_oracle(spark, duck):
    for name in (
        "intersect_nation_keys",
        "except_order_keys",
        "range_join_price_bands",
        "asof_view_before_purchase",
        "pivot_priority_status",
        "percentile_quantity",
    ):
        assert_matches_oracle(ALL_QUERIES[name](spark, SF_DIR), duck, ALL_ORACLES[name])


def test_heavy_hitters_exact_when_budget_covers_distinct(spark):
    from mapreduce_project_spark.operators.relational import heavy_hitters

    # 10 values with frequency i+1 (total 55); phi=0.1 → threshold 5.5
    df = spark.createDataFrame(
        [(f"v{i}",) for i in range(10) for _ in range(i + 1)], "v string"
    )
    got = {(r["v"], r["cnt"]) for r in heavy_hitters(df, "v", phi=0.1, budget=64).collect()}
    assert got == {(f"v{i}", i + 1) for i in range(10) if (i + 1) >= 5.5}
    # phi=0 returns the full exact histogram when budget >= distinct
    full = {(r["v"], r["cnt"]) for r in heavy_hitters(df, "v", phi=0.0, budget=64).collect()}
    assert full == {(f"v{i}", i + 1) for i in range(10)}


def test_latest_state_compaction(spark):
    from pyspark.sql import functions as F

    from mapreduce_project_spark.operators.events import latest_state

    log = spark.createDataFrame(
        [
            # key 1: upsert, upsert — latest wins
            (1, 10, "upsert", "v1"),
            (1, 20, "upsert", "v2"),
            # key 2: upsert then delete — key disappears
            (2, 10, "upsert", "v1"),
            (2, 30, "delete", None),
            # key 3: delete then re-insert — key survives with new value
            (3, 10, "delete", None),
            (3, 40, "upsert", "v9"),
            # same ts tie on key 4: seq breaks it
            (4, 50, "upsert", "old"),
            (4, 50, "upsert", "new"),
        ],
        "k long, ts long, op string, val string",
    ).withColumn("seq", F.monotonically_increasing_id())
    out = latest_state(
        log, ["k"], ["ts", "seq"], tombstone=F.col("op") == "delete"
    )
    got = {r["k"]: (r["ts"], r["val"]) for r in out.collect()}
    assert got == {1: (20, "v2"), 3: (40, "v9"), 4: (50, "new")}
    # one partial-agg shuffle, no window sort of whole partitions
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_funnel_strict_ordering(spark):
    from datetime import datetime as dt

    from mapreduce_project_spark.operators.events import funnel_counts, funnel_users

    def row(u, m, typ):
        return (u, dt(2024, 1, 1, 0, m), typ)

    ev = spark.createDataFrame(
        [
            # user 1 completes in order
            row(1, 0, "view"), row(1, 5, "click"), row(1, 9, "purchase"),
            # user 2: click BEFORE first view — never reaches click stage
            row(2, 0, "click"), row(2, 3, "view"),
            # user 3: view then click; purchase at the same instant as
            # click is NOT strictly after → stops at click
            row(3, 0, "view"), row(3, 2, "click"), row(3, 2, "purchase"),
            # user 4 never views
            row(4, 1, "purchase"),
        ],
        "user_id long, ts timestamp, event_type string",
    )
    steps = ["view", "click", "purchase"]
    per_user = {r["user_id"]: r for r in funnel_users(ev, steps).collect()}
    assert set(per_user) == {1, 2, 3}
    assert per_user[1]["t2"] is not None
    assert per_user[2]["t1"] is None
    assert per_user[3]["t1"] is not None and per_user[3]["t2"] is None
    c = funnel_counts(ev, steps).collect()[0]
    assert (c["n_view"], c["n_click"], c["n_purchase"]) == (3, 2, 1)
    assert c["rate_view_click"] == 2 / 3


def test_trailing_time_agg_boundaries(spark):
    from datetime import datetime as dt

    from pyspark.sql import functions as F

    from mapreduce_project_spark.operators.windows import trailing_time_agg

    ev = spark.createDataFrame(
        [
            (1, dt(2024, 1, 1, 10, 0, 0)),
            (1, dt(2024, 1, 1, 10, 59, 59)),  # 3599s after → in frame
            (1, dt(2024, 1, 1, 11, 0, 0)),    # exactly 3600s after t0 → in frame
            (1, dt(2024, 1, 1, 12, 0, 1)),    # 3601s after t2 → t2 out
            (2, dt(2024, 1, 1, 10, 30, 0)),   # other user: own frame
        ],
        "user_id long, ts timestamp",
    )
    out = trailing_time_agg(ev, ["user_id"], "ts", 3600, n=F.count(F.lit(1)))
    got = {(r["user_id"], str(r["ts"])): r["n"] for r in out.collect()}
    assert got[(1, "2024-01-01 10:00:00")] == 1
    assert got[(1, "2024-01-01 10:59:59")] == 2
    assert got[(1, "2024-01-01 11:00:00")] == 3  # RANGE frame is inclusive
    assert got[(1, "2024-01-01 12:00:01")] == 1
    assert got[(2, "2024-01-01 10:30:00")] == 1


def test_pagerank_star_graph(spark):
    from mapreduce_project_spark.operators.graph import pagerank_fixed, symmetrize

    # star: hub 0 ↔ spokes 1..4 (after symmetrize) + isolated pair 8-9
    raw = spark.createDataFrame(
        [(0, i) for i in range(1, 5)] + [(8, 9)], "src long, dst long"
    )
    out = pagerank_fixed(symmetrize(raw), n_iter=3)
    ranks = {r["node"]: r["rank_fx"] for r in out.collect()}
    assert set(ranks) == {0, 1, 2, 3, 4, 8, 9}
    # hub collects its 4 spokes' full rank each round → strictly richest
    assert ranks[0] == max(ranks.values())
    assert ranks[0] > ranks[1] == ranks[2] == ranks[3] == ranks[4]
    # the isolated pair just swaps mass → stays at ~1/N each
    assert ranks[8] == ranks[9]
    # integer-division loss only ever shrinks total mass, never grows it
    assert sum(ranks.values()) <= 10**12
    # bit-determinism across runs
    again = {r["node"]: r["rank_fx"] for r in pagerank_fixed(symmetrize(raw), n_iter=3).collect()}
    assert again == ranks


def test_interval_join_with_blocking_keys(spark):
    """interval_join's optional equi-keys confine candidate pairs to
    equal key groups on top of the bucket — verified against a naive
    per-key overlap join on a hand-built fixture."""
    from pyspark.sql import functions as F

    from mapreduce_project_spark.operators.join import interval_join

    a = spark.createDataFrame(
        [("u1", "2024-01-01 10:00:00", "2024-01-01 11:00:00", "a1"),
         ("u1", "2024-01-01 12:00:00", "2024-01-01 13:00:00", "a2"),
         ("u2", "2024-01-01 10:30:00", "2024-01-01 10:45:00", "a3")],
        "k string, s string, e string, aid string",
    ).select("k", F.col("s").cast("timestamp").alias("s"),
             F.col("e").cast("timestamp").alias("e"), "aid")
    b = spark.createDataFrame(
        [("u1", "2024-01-01 10:30:00", "2024-01-01 10:40:00", "b1"),
         ("u2", "2024-01-01 10:30:00", "2024-01-01 10:40:00", "b2"),
         ("u1", "2024-01-01 12:59:00", "2024-01-01 14:00:00", "b3")],
        "k string, s2 string, e2 string, bid string",
    ).select("k", F.col("s2").cast("timestamp").alias("s2"),
             F.col("e2").cast("timestamp").alias("e2"), "bid")
    got = {
        (r["aid"], r["bid"])
        for r in interval_join(a, b, ("s", "e"), ("s2", "e2"), 1800, keys=["k"]).collect()
    }
    # same-key overlaps only: a1×b1 (u1), a2×b3 (u1), a3×b2 (u2) —
    # never a1×b2 (different key) despite identical times
    assert got == {("a1", "b1"), ("a2", "b3"), ("a3", "b2")}


def test_scd2_nullable_attribute_transitions(spark):
    """value→NULL opens a new version, NULL→NULL collapses, NULL→value
    opens a new version — the null-safe change detection the round-2
    advisor asked for (plain != silently absorbed NULL runs)."""
    from mapreduce_project_spark.operators.events import scd2_from_changelog

    rows = [
        ("u", 1, "a"),
        ("u", 2, None),   # a -> NULL: new version
        ("u", 3, None),   # NULL -> NULL: same run, collapsed
        ("u", 4, "b"),    # NULL -> b: new version
        ("u", 5, "b"),    # unchanged: collapsed
        ("v", 1, None),   # first row with NULL attr: version 1
    ]
    df = spark.createDataFrame(rows, "k string, o long, attr string")
    out = scd2_from_changelog(df, ["k"], ["o"], "attr")
    got = {(r["k"], r["version"]): (r["attr_value"], r["o"], r["_next"]) for r in out.collect()}
    assert got == {
        ("u", 1): ("a", 1, 2),
        ("u", 2): (None, 2, 4),
        ("u", 3): ("b", 4, None),
        ("v", 1): (None, 1, None),
    }


def test_interval_join_preserves_duplicate_input_rows(spark):
    """Two IDENTICAL left rows (no unique id column) must produce two
    matches — the old all-column distinct collapsed them (round-2
    advisor finding); the first-shared-bucket filter must not. The
    interval here spans several buckets so the filter is exercised."""
    from pyspark.sql import functions as F

    from mapreduce_project_spark.operators.join import interval_join

    a = spark.createDataFrame(
        [("2024-01-01 10:00:00", "2024-01-01 13:00:00")] * 2,
        "s string, e string",
    ).select(F.col("s").cast("timestamp").alias("s"), F.col("e").cast("timestamp").alias("e"))
    b = spark.createDataFrame(
        [("2024-01-01 11:00:00", "2024-01-01 14:00:00", "b1")],
        "s2 string, e2 string, bid string",
    ).select(F.col("s2").cast("timestamp").alias("s2"),
             F.col("e2").cast("timestamp").alias("e2"), "bid")
    out = interval_join(a, b, ("s", "e"), ("s2", "e2"), 1800).collect()
    assert len(out) == 2
    assert {r["bid"] for r in out} == {"b1"}


def test_dq_audit_counts_planted_violations(spark):
    # the audit must attribute each planted violation to the right rule
    from tests.conftest import SF_DIR as _SF

    got = {
        r["rule"]: r["n_violations"]
        for r in ALL_QUERIES["dq_audit_orders"](spark, _SF).collect()
    }
    assert got["nonpositive_totalprice"] == 1
    assert got["null_custkey"] == 1
    assert got["dup_orderkey"] == 1
    assert got["orphan_custkey"] == 2  # the -999 key AND the NULL key


def test_dq_audit_requires_rules(spark):
    import pytest as _p

    from mapreduce_project_spark.operators.relational import dq_audit

    with _p.raises(ValueError, match="at least one rule"):
        dq_audit(spark.range(3), rules={})


def test_ewma_fixed_matches_sequential_reference(spark):
    # replay the recursion in plain Python over the same sorted groups
    from mapreduce_project_spark.operators.windows import ewma_fixed
    from mapreduce_project_spark.sources import load_table
    from tests.conftest import SF_DIR
    from pyspark.sql import functions as F

    ev = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("user_id") < 20)
        .select(
            "user_id",
            "ts",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("x_cents"),
        )
    )
    got = {
        (r["user_id"], r["ts"]): r["ewma_fx"]
        for r in ewma_fixed(ev, "user_id", ["ts"], "x_cents").collect()
    }
    rows = sorted(ev.collect(), key=lambda r: (r["user_id"], r["ts"]))
    state: dict[int, int] = {}
    for r in rows:
        u, x = r["user_id"], int(r["x_cents"])
        s = x if u not in state else (x + state[u]) // 2
        state[u] = s
        assert got[(u, r["ts"])] == s
    assert len(got) == len(rows) and len(rows) > 0


def test_bpe_train_matches_sequential_reference(spark):
    # 3 rounds (one MORE than the oracle-checked query) against a pure
    # Python replay of count → adopt → greedy leftmost rewrite
    from collections import Counter

    from mapreduce_project_spark.functions import tokens
    from mapreduce_project_spark.operators.bpe import bpe_train
    from mapreduce_project_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").limit(200)
    got = [
        (r["rnd"], r["lhs"], r["rhs"], r["cnt"])
        for r in bpe_train(docs, tokens("text"), rounds=3)
        .orderBy("rnd")
        .collect()
    ]

    corpora = [
        [t for t in __import__("re").findall(r"[a-z]+", r["text"].lower())]
        for r in docs.select("text").collect()
    ]
    want = []
    for rnd in range(1, 4):
        counts = Counter()
        for seq in corpora:
            for i in range(len(seq) - 1):
                counts[(seq[i], seq[i + 1])] += 1
        if not counts:
            break
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rnd, l, r, c))
        merged = f"{l} {r}"
        for k, seq in enumerate(corpora):
            out = []
            for t_ in seq:
                if out and out[-1] == l and t_ == r:
                    out[-1] = merged
                else:
                    out.append(t_)
            corpora[k] = out
    assert got == want and len(got) == 3


def test_new_operator_edges(spark):
    # boundary behavior of the round-3 additions: single-element and
    # empty inputs must degrade cleanly, not error
    from pyspark.sql import functions as F

    from mapreduce_project_spark.operators.bpe import merge_pair
    from mapreduce_project_spark.operators.windows import ewma_fixed

    # EWMA of a single event per key is the value itself
    one = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 40)], "user_id long, ts string, x long"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "x")
    rows = ewma_fixed(one, "user_id", ["ts"], "x").collect()
    assert len(rows) == 1 and rows[0]["ewma_fx"] == 40

    # fold rewrite of empty and single-token arrays is the identity
    df = spark.createDataFrame([([],), (["a"],), (["a", "b"],)], "tk array<string>")
    out = [r["m"] for r in df.select(merge_pair(F.col("tk"), "a", "b").alias("m")).collect()]
    assert out == [[], ["a"], ["a b"]]

    # patchify: payload shorter than one image row still yields the
    # first patch band with correct real-byte accounting
    from mapreduce_project_spark.operators.multimodal import patchify

    tiny = spark.createDataFrame([(7, b"abc", 64)], "doc_id long, payload binary, w long")
    p = patchify(tiny, "w").collect()
    assert sum(r["n_real"] for r in p) == 3
    assert sum(r["byte_sum"] for r in p) == sum(b"abc")
    assert len(p) == 4  # one band, ceil(64/16) grid columns


def test_global_rank_all_ties(spark):
    # every row shares the same primary key value: ranks must still be
    # the exact 1..N permutation via the id tie-break
    from pyspark.sql import functions as F

    from mapreduce_project_spark.operators.windows import global_rank

    df = spark.range(500).select(
        F.lit(7).alias("v"), F.col("id").alias("k")
    )
    out = global_rank(df, ["v", "k"], "rank").collect()
    assert sorted(r["rank"] for r in out) == list(range(1, 501))
    assert all(r["rank"] == r["k"] + 1 for r in out)


def test_ewma_negative_values_match_duckdb_truncation(spark, duck):
    # the fixture's value-cents are all positive, so the declared query
    # never exercises truncation-toward-zero on NEGATIVE running
    # averages — pin it directly against DuckDB's `//` on a planted
    # mixed-sign series (both must truncate toward zero, not floor)
    from pyspark.sql import functions as F

    from mapreduce_project_spark.operators.windows import ewma_fixed

    rows = [(1, i, x) for i, x in enumerate([-7, 4, -9, 10, -3, -8, 5])]
    df = spark.createDataFrame(rows, "k long, i long, x long")
    got = {
        (r["k"], r["i"]): r["ewma_fx"]
        for r in ewma_fixed(df, "k", ["i"], "x").collect()
    }
    vals = ", ".join(f"(1, {i}, {x})" for _, i, x in rows)
    want = {
        (r[0], r[1]): r[2]
        for r in duck.sql(f"""
        WITH RECURSIVE seq(k, i, x) AS (VALUES {vals}),
        n AS (SELECT k, i, x, row_number() OVER (ORDER BY i) AS rn FROM seq),
        ew AS (
          SELECT k, i, x, rn, x AS s FROM n WHERE rn = 1
          UNION ALL
          SELECT q.k, q.i, q.x, q.rn, (q.x + e.s) // 2
          FROM n q JOIN ew e ON q.rn = e.rn + 1
        )
        SELECT k, i, CAST(s AS BIGINT) FROM ew
        """).fetchall()
    }
    assert got == want
    # sanity: the series really does hit a negative-odd-sum division
    # (where floor and truncation disagree), e.g. (4 + -7) // 2
    assert got[(1, 1)] == -1  # truncation; floor would give -2


def test_weighted_median_planted(spark, tmp_path):
    # lower weighted median: smallest value whose cumulative weight
    # reaches half the total — a heavy tail row drags the median to
    # itself, equal weights reduce to the ordinary lower median.
    rows = [
        # grp A: weights 1,1,98 -> median = the heavy 30.00
        (1, 1, 10.00, 1.0, "A"),
        (2, 1, 20.00, 1.0, "A"),
        (3, 1, 30.00, 98.0, "A"),
        # grp B: equal weights, even count -> lower median = 2nd value
        (4, 1, 1.00, 1.0, "B"),
        (5, 1, 2.00, 1.0, "B"),
        (6, 1, 3.00, 1.0, "B"),
        (7, 1, 4.00, 1.0, "B"),
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_linenumber bigint, l_extendedprice double,"
        " l_quantity double, l_returnflag string",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    got = {
        r["l_returnflag"]: r
        for r in ALL_QUERIES["weighted_median_price"](spark, str(tmp_path)).collect()
    }
    assert got["A"]["wmedian_cents"] == 3000 and got["A"]["w_total"] == 100
    assert got["B"]["wmedian_cents"] == 200 and got["B"]["w_total"] == 4


def test_skyline_planted_dominance_edges(spark, tmp_path):
    # (price, date) plants: duplicates of a frontier point BOTH survive
    # (dominance requires a strict inequality), equal-price-later-date
    # and equal-date-higher-price rows are dominated, and an
    # incomparable point (cheaper but later) stays on the frontier.
    import datetime as dt

    rows = [
        (1, 10.00, dt.datetime(2024, 1, 5)),   # frontier
        (2, 10.00, dt.datetime(2024, 1, 5)),   # duplicate -> survives
        (3, 10.00, dt.datetime(2024, 1, 9)),   # same price, later -> out
        (4, 12.00, dt.datetime(2024, 1, 5)),   # same date, pricier -> out
        (5, 8.00, dt.datetime(2024, 1, 20)),   # cheaper but later -> frontier
        (6, 9.00, dt.datetime(2024, 1, 30)),   # dominated by 5 -> out
        (7, 15.00, dt.datetime(2024, 1, 2)),   # earliest -> frontier
    ]
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_totalprice double, o_orderdate timestamp"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = {
        r["o_orderkey"]
        for r in ALL_QUERIES["skyline_orders"](spark, str(tmp_path)).collect()
    }
    assert got == {1, 2, 5, 7}


def test_rfm_segmentation_planted_quintiles(spark, tmp_path):
    # Customer k (1..10) gets k orders, all on day k, each priced
    # 100*k: every dimension ranks customers in the same order
    # (higher k = more recent, more frequent, higher spend), so all
    # three quintile scores agree -> exactly five diagonal cells
    # {111,222,333,444,555} with two customers each, and the explicit
    # (rank-1)*5 div n + 1 bucketing is pinned end to end.
    rows = []
    oid = 1
    for k in range(1, 11):
        for _ in range(k):
            rows.append((oid, k, float(100 * k), dt.datetime(2024, 1, k)))
            oid += 1
    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_totalprice double,"
        " o_orderdate timestamp",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = {
        r["rfm_cell"]: r
        for r in ALL_QUERIES["rfm_segmentation"](spark, str(tmp_path)).collect()
    }
    assert set(got) == {111, 222, 333, 444, 555}
    for s in (1, 2, 3, 4, 5):
        cell = got[s * 111]
        k_lo, k_hi = 2 * s - 1, 2 * s  # customers in this quintile
        assert cell["n_customers"] == 2
        # customer k spends k orders x (100*k dollars) = k^2 * 10000 cents
        assert cell["sum_monetary_cents"] == (k_lo**2 + k_hi**2) * 10000
        # recency anchored at day 10 (customer 10's last order)
        assert cell["min_recency_days"] == 10 - k_hi
        assert cell["max_recency_days"] == 10 - k_lo


def test_itemcf_planted_copurchase_geometry(spark, tmp_path):
    # D216: A and B co-purchased by 2 of A's 3 buyers -> B is A's top
    # neighbor; a single co-purchase (A,C) is pruned as pair noise.
    import mapreduce_project_spark.queries_registry as R
    import pyspark.sql.functions as F  # noqa: F401

    # customers: 1:{A,B}, 2:{A,B}, 3:{A,C}, 4:{C,D}, 5:{C,D}
    baskets = {1: [100, 200], 2: [100, 200], 3: [100, 300],
               4: [300, 400], 5: [300, 400]}
    orders, lines, ok = [], [], 0
    for cust, parts in baskets.items():
        ok += 1
        orders.append((ok, cust))
        for p in parts:
            lines.append((ok, p))
    spark.createDataFrame(orders, "o_orderkey long, o_custkey long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(lines, "l_orderkey long, l_partkey long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "lineitem.parquet"))

    rows = R.ALL_QUERIES["itemcf_topk"](spark, str(tmp_path)).collect()
    by_part = {}
    for r in rows:
        by_part.setdefault(r["part"], []).append(r)
    # A(100): only B(200) survives min-support (A-C seen once)
    a_rows = by_part[100]
    assert [r["neighbor"] for r in a_rows] == [200]
    r = a_rows[0]
    assert (r["n_ab"], r["n_a"], r["n_b"]) == (2, 3, 2)
    # sim2 = (2*1e6 // 3) * 2 // 2 = 666666
    assert r["sim2_micro"] == 666_666 and r["rk"] == 1
    # C(300): only D(400) survives; C-A pruned
    assert [r["neighbor"] for r in by_part[300]] == [400]


def test_itemcf_data_dependent_whale_cap_drops_outlier_basket(spark, tmp_path):
    # Round-11 auto-cap (the D206 pattern): whale = basket > 4 * exact
    # p90 basket size, floor 8. Plant 30 two-part baskets all
    # co-purchasing {A,B} (p90 = 2 -> cap = 8) plus ONE 20-part whale
    # that is the only co-purchase evidence for pair (C,D): the whale
    # exceeds the cap, so (C,D) must NOT appear, while (A,B) keeps all
    # 30 counts — and n_a/n_b exclude the whale's memberships too.
    import mapreduce_project_spark.queries_registry as R

    orders, lines, ok = [], [], 0
    for cust in range(1, 31):
        ok += 1
        orders.append((ok, cust))
        lines.append((ok, 100))
        lines.append((ok, 200))
    ok += 1
    orders.append((ok, 999))
    for p in [300, 400] + [500 + k for k in range(18)]:  # 20-part whale
        lines.append((ok, p))
    # a second (C,D) co-purchase from another whale-sized basket so the
    # pair would pass min-support if whales were admitted
    ok += 1
    orders.append((ok, 998))
    for p in [300, 400] + [600 + k for k in range(18)]:
        lines.append((ok, p))
    spark.createDataFrame(orders, "o_orderkey long, o_custkey long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(lines, "l_orderkey long, l_partkey long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "lineitem.parquet"))

    rows = R.ALL_QUERIES["itemcf_topk"](spark, str(tmp_path)).collect()
    parts_seen = {r["part"] for r in rows}
    assert 300 not in parts_seen and 400 not in parts_seen
    a_rows = [r for r in rows if r["part"] == 100]
    assert [r["neighbor"] for r in a_rows] == [200]
    assert (a_rows[0]["n_ab"], a_rows[0]["n_a"], a_rows[0]["n_b"]) == (30, 30, 30)
    assert a_rows[0]["sim2_micro"] == 1_000_000  # perfect co-purchase


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


def test_global_prefix_max_rejects_nulls_with_contract_error(spark):
    # ADVICE low: an all-NULL partition skipped the offsets fold, then
    # crashed in astype('int64') with an obscure pandas error. The
    # Arrow pass now raises the contract violation by name.
    from mapreduce_project_spark.operators.windows import global_prefix_max

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "k bigint, v bigint"
    )
    with pytest.raises(Exception, match="global_prefix_max.*NULL"):
        global_prefix_max(df, ["k"], "v", "pm").collect()


def test_global_prefix_max_copies_batch_and_matches_window(spark):
    # ADVICE low: global_prefix_max mutated the incoming Arrow batch in
    # place while its sum sibling copies first. Behavioral pin: results
    # equal the single-task window MAX ... ROWS UNBOUNDED PRECEDING on
    # a multi-partition input, and the input DataFrame re-collects
    # unchanged afterwards (no visible side effect).
    from pyspark.sql import functions as F

    from mapreduce_project_spark.operators.windows import global_prefix_max

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37) % 101).cast("bigint").alias("v"),
    )
    got = {
        r["k"]: r["pm"]
        for r in global_prefix_max(df, ["k"], "v", "pm").collect()
    }
    want = {
        r["k"]: r["pm"]
        for r in df.selectExpr(
            "k", "v", "max(v) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) pm"
        ).collect()
    }
    assert got == want
    assert df.count() == 1000 and "pm" not in df.columns

"""Round-13 operator tests.

Centerpiece: the zombie-attempt write fence (VERDICT r12 task 1).
`StreamingQuery.stop()` interrupts the JVM micro-batch thread but a
Python foreachBatch callback already executing keeps running on the
Py4J callback-server thread — so a same-process restart can re-run a
batch (possibly with re-grouped source files) while the superseded
attempt's late writes clobber the live run's directories. These tests
reproduce that interleaving DETERMINISTICALLY (a blocking injector
stands in for the load-dependent scheduling the r12 soak hit once in
~20 runs) and pin both halves: the unfenced choreography corrupts the
state, the fenced one refuses the stale write and stays consistent.
"""

import os
import threading

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _mk_batches(spark):
    from mapreduce_project_spark.sources import load_table

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(12)
        .collect()
    )
    corpus = [(r["doc_id"], r["text"]) for r in docs[:4]]
    f0 = [(1_000_000 + r["doc_id"], r["text"]) for r in docs[4:6]]
    # f1 contains a copy of a corpus doc (a cross-index pair must exist)
    f1 = [(2_000_000 + r["doc_id"], r["text"]) for r in docs[6:8]]
    f1.append((3_000_000, corpus[0][1]))
    f2 = [(4_000_000 + r["doc_id"], r["text"]) for r in docs[8:10]]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    return mk(corpus), mk(f0), mk(f1), mk(f2)


def _tree_state(spark, idx, pairs):
    from mapreduce_project_spark.streaming.events import read_signature_tree

    ps = {
        (r["new_id"], r["index_id"], round(r["jac"], 9))
        for r in read_signature_tree(spark, pairs).collect()
    }
    ids = {r["id"] for r in read_signature_tree(spark, idx).collect()}
    return ps, ids


def _zombie_choreography(spark, tmp_path, fenced: bool):
    """batch 0 commits; a gen-1 attempt of batch 1 (file f1 only) writes
    its pairs then stalls before the signature write; the 'restarted'
    gen-2 query re-runs batch 1 with COALESCED files {f1, f2}; the
    zombie then wakes and tries its stale signature write."""
    from mapreduce_project_spark.operators.dedup import minhash_index_build
    from mapreduce_project_spark.streaming.events import (
        StaleAttemptError,
        _crawl_dedup_batch,
        _fence_register,
    )

    corpus, f0, f1, f2 = _mk_batches(spark)
    base = str(tmp_path / ("fenced" if fenced else "raw"))
    idx, pairs, ck = f"{base}/idx", f"{base}/pairs", f"{base}/ck"
    minhash_index_build(corpus, "doc_id", "text", 3, 64).write.parquet(idx)

    gen1 = _fence_register(ck) if fenced else None
    _crawl_dedup_batch(spark, f0, 0, idx, pairs, fence_token=gen1)

    stall = threading.Event()
    release = threading.Event()
    zombie_err: list = []

    def injector(point, batch_id):
        if point == "after_pairs" and batch_id == 1:
            stall.set()
            assert release.wait(120), "choreography deadlock"

    def zombie():
        try:
            _crawl_dedup_batch(
                spark, f1, 1, idx, pairs,
                fault_injector=injector, fence_token=gen1,
            )
        except BaseException as e:  # noqa: BLE001 — recorded for assertion
            zombie_err.append(e)

    zt = threading.Thread(target=zombie)
    zt.start()
    assert stall.wait(120), "zombie never reached after_pairs"

    # the "restart": a new query generation re-runs batch 1, and the
    # file source legally coalesced f1+f2 into the one trigger
    gen2 = _fence_register(ck) if fenced else None
    coalesced = f1.unionAll(f2)
    _crawl_dedup_batch(spark, coalesced, 1, idx, pairs, fence_token=gen2)

    release.set()
    zt.join(120)
    assert not zt.is_alive()

    # the consistent reference: same boundaries, no zombie
    ref = str(tmp_path / ("ref_f" if fenced else "ref_r"))
    ridx, rpairs = f"{ref}/idx", f"{ref}/pairs"
    minhash_index_build(corpus, "doc_id", "text", 3, 64).write.parquet(ridx)
    _crawl_dedup_batch(spark, f0, 0, ridx, rpairs)
    _crawl_dedup_batch(spark, coalesced, 1, ridx, rpairs)

    got = _tree_state(spark, idx, pairs)
    want = _tree_state(spark, ridx, rpairs)
    return got, want, zombie_err, StaleAttemptError


def test_unfenced_zombie_write_corrupts_state(spark, tmp_path):
    # the planted bug: without fencing, the stale signature write lands
    # AFTER the restarted run's and the trees go inconsistent (f2's
    # signatures vanish from the index) — this is the r12 soak failure,
    # reproduced deterministically.
    got, want, zombie_err, _ = _zombie_choreography(spark, tmp_path, fenced=False)
    assert not zombie_err  # unfenced zombie completes "successfully"
    assert got != want
    assert not {i for i in want[1] if i >= 4_000_000} <= got[1]


def test_fence_refuses_stale_write_and_state_stays_consistent(spark, tmp_path):
    got, want, zombie_err, StaleAttemptError = _zombie_choreography(
        spark, tmp_path, fenced=True
    )
    assert len(zombie_err) == 1 and isinstance(zombie_err[0], StaleAttemptError)
    assert got == want
    assert got[0], "vacuous: no pairs found"


def test_fence_generations_are_monotonic_per_checkpoint(tmp_path):
    from mapreduce_project_spark.streaming.events import _fence_register

    ck_a, ck_b = str(tmp_path / "a"), str(tmp_path / "b")
    k1, g1 = _fence_register(ck_a)
    k2, g2 = _fence_register(ck_a)
    k3, g3 = _fence_register(ck_b)
    assert k1 == k2 and g2 == g1 + 1
    assert k3 != k1 and g3 >= 1


def test_fenced_write_noop_without_token(spark, tmp_path):
    # production path (no same-process restarts): token None must be a
    # pass-through, not a hidden global lock
    from mapreduce_project_spark.streaming.events import _fenced_write

    hit = []
    _fenced_write(None, "x", lambda: hit.append(1))
    assert hit == [1]


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


# ---------------------------------------------------------------- D304


def test_gdpr_cascade_delete_end_to_end(spark, tmp_path):
    # the WRITE side of gdpr_delete_audit: erase subject ck=1 from a
    # partitioned base table (apply_changelog delete) AND a derived
    # incremental join view (D299 signed deltas); prove absence by
    # value, survivors intact, and retry idempotence.
    from mapreduce_project_spark.sources.io import (
        apply_changelog,
        merge_join_view_delta,
        read_join_view_delta,
    )

    base = str(tmp_path / "cust")
    seed = spark.createDataFrame(
        [(1, "n1", "alice", "upsert"), (2, "n1", "bob", "upsert"),
         (3, "n2", "carol", "upsert")],
        "ck bigint, nat string, name string, op string",
    )
    apply_changelog(spark, base, seed, ["ck"], "nat")

    view = str(tmp_path / "view")
    a0 = spark.createDataFrame(
        [(1, "alice", "insert"), (2, "bob", "insert")],
        "ack bigint, aname string, op string",
    )
    b0 = spark.createDataFrame(
        [(1, 100, "insert"), (1, 101, "insert"), (2, 200, "insert")],
        "bck bigint, oid bigint, op string",
    )
    merge_join_view_delta(spark, view, 0, a0, b0, "ack", "bck")
    assert read_join_view_delta(spark, view).count() == 3

    # --- the erasure cascade for subject ck = 1 ---
    apply_changelog(
        spark, base,
        spark.createDataFrame(
            [(1, "n1", "alice", "delete")],
            "ck bigint, nat string, name string, op string",
        ),
        ["ck"], "nat",
    )
    a_del = spark.createDataFrame(
        [(1, "alice", "delete")], "ack bigint, aname string, op string"
    )
    merge_join_view_delta(spark, view, 1, a_del, None, "ack", "bck")

    rows = {(r["ck"], r["name"]) for r in spark.read.parquet(base).collect()}
    assert rows == {(2, "bob"), (3, "carol")}
    vrows = {
        (r["ack"], r["oid"]) for r in read_join_view_delta(spark, view).collect()
    }
    assert vrows == {(2, 200)}

    # retry idempotence: replaying the view-delete batch and re-issuing
    # the (now no-op) base delete changes nothing
    merge_join_view_delta(spark, view, 1, a_del, None, "ack", "bck")
    apply_changelog(
        spark, base,
        spark.createDataFrame(
            [(1, "n1", "alice", "delete")],
            "ck bigint, nat string, name string, op string",
        ),
        ["ck"], "nat",
    )
    assert {
        (r["ck"], r["name"]) for r in spark.read.parquet(base).collect()
    } == rows
    assert {
        (r["ack"], r["oid"]) for r in read_join_view_delta(spark, view).collect()
    } == vrows


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


# ---------------------------------------------------------------- D305


def test_edge_view_delta_centrality_tracks_full_recompute(spark, tmp_path):
    # incremental centrality over a delete-capable graph view: after
    # every batch of edge inserts/deletes (including delete-then-
    # reinsert), PageRank over the maintained view must equal PageRank
    # over the from-scratch edge set; a replayed batch is a no-op.
    from mapreduce_project_spark.operators.graph import (
        pagerank_fixed,
        symmetrize,
    )
    from mapreduce_project_spark.sources.io import (
        merge_edge_view_delta,
        read_edge_view,
    )

    state = str(tmp_path / "g")
    net: dict = {}

    def apply_net(rows):
        for s, d, op in rows:
            net[(s, d)] = net.get((s, d), 0) + (1 if op == "insert" else -1)

    def want_edges():
        return {k for k, m in net.items() if m > 0}

    def pr(edges_set):
        if not edges_set:
            return {}
        df = spark.createDataFrame(
            sorted(edges_set), "src bigint, dst bigint"
        )
        return {
            r["node"]: r["rank_fx"]
            for r in pagerank_fixed(symmetrize(df), n_iter=2).collect()
        }

    batches = [
        [(1, 2, "insert"), (2, 3, "insert"), (3, 1, "insert")],
        [(3, 4, "insert"), (1, 2, "insert")],   # duplicate insert (m=2)
        [(2, 3, "delete")],                      # edge leaves the view
        [(1, 2, "delete")],                      # m 2 -> 1: edge STAYS
        [(2, 3, "insert")],                      # delete-then-reinsert
    ]
    for i, rows in enumerate(batches):
        merge_edge_view_delta(
            spark, state, i,
            spark.createDataFrame(rows, "src bigint, dst bigint, op string"),
        )
        apply_net(rows)
        got = {
            (r["src"], r["dst"]) for r in read_edge_view(spark, state).collect()
        }
        assert got == want_edges(), f"edge view diverged after batch {i}"
        assert pr(got) == pr(want_edges())
    # the m=2 edge survived one delete
    assert (1, 2) in want_edges()
    # replay batch 2 (post-crash retry): identical final state
    final = {(r["src"], r["dst"]) for r in read_edge_view(spark, state).collect()}
    merge_edge_view_delta(
        spark, state, 2,
        spark.createDataFrame(batches[2], "src bigint, dst bigint, op string"),
    )
    assert {
        (r["src"], r["dst"]) for r in read_edge_view(spark, state).collect()
    } == final


def test_edge_view_delta_rejects_bad_and_null_ops(spark, tmp_path):
    from mapreduce_project_spark.sources.io import merge_edge_view_delta

    bad = spark.createDataFrame(
        [(1, 2, "upsert")], "src bigint, dst bigint, op string"
    )
    with pytest.raises(ValueError, match="unknown op"):
        merge_edge_view_delta(spark, str(tmp_path / "a"), 0, bad)
    nul = spark.createDataFrame(
        [(1, 2, None)], "src bigint, dst bigint, op string"
    )
    with pytest.raises(ValueError, match="unknown op"):
        merge_edge_view_delta(spark, str(tmp_path / "b"), 0, nul)


# ---------------------------------------------------------------- D306


def test_erase_ids_from_streaming_trees(spark, tmp_path):
    # GDPR erasure through the STREAMING artifacts: a subject's rows
    # must leave the signature index AND the IVF tree; untouched batch
    # dirs are never rewritten; a retried erasure is a no-op.
    from mapreduce_project_spark.operators.dedup import minhash_index_build
    from mapreduce_project_spark.streaming.events import (
        _crawl_dedup_batch,
        erase_ids_from_tree,
        read_ivf_tree,
        read_signature_tree,
    )

    corpus, f0, f1, f2 = _mk_batches(spark)
    base = str(tmp_path / "er")
    idx, pairs = f"{base}/idx", f"{base}/pairs"
    minhash_index_build(corpus, "doc_id", "text", 3, 64).write.parquet(idx)
    for i, b in enumerate((f0, f1, f2)):
        _crawl_dedup_batch(spark, b, i, idx, pairs)
    subject = f0.limit(1).collect()[0]["doc_id"]
    before_ids = {r["id"] for r in read_signature_tree(spark, idx).collect()}
    assert subject in before_ids

    import os

    other_dir = f"{idx}/batch-2"
    mt_before = {
        f: os.stat(os.path.join(other_dir, f)).st_mtime_ns
        for f in os.listdir(other_dir)
    }
    ids = spark.createDataFrame([(subject,)], "doc_id bigint")
    n = erase_ids_from_tree(spark, idx, ids, id_col="id")
    assert n >= 1
    after_ids = {r["id"] for r in read_signature_tree(spark, idx).collect()}
    assert subject not in after_ids
    assert after_ids == before_ids - {subject}
    # batch-2 (no subject rows) was never rewritten
    assert {
        f: os.stat(os.path.join(other_dir, f)).st_mtime_ns
        for f in os.listdir(other_dir)
    } == mt_before
    # retry is a no-op
    assert erase_ids_from_tree(spark, idx, ids, id_col="id") == 0
    assert {
        r["id"] for r in read_signature_tree(spark, idx).collect()
    } == after_ids


def test_erase_ids_from_ivf_tree(spark, tmp_path):
    from mapreduce_project_spark.streaming.events import (
        erase_ids_from_tree,
        read_ivf_tree,
    )

    tree = str(tmp_path / "ivf")
    spark.createDataFrame(
        [(1, [1.0], 0, 0), (2, [2.0], 1, 0)],
        "id bigint, v array<double>, cell int, src_batch bigint",
    ).write.parquet(f"{tree}/batch-0")
    spark.createDataFrame(
        [(3, [3.0], 0, 1)],
        "id bigint, v array<double>, cell int, src_batch bigint",
    ).write.parquet(f"{tree}/batch-1")
    ids = spark.createDataFrame([(2,), (99,)], "id bigint")
    assert erase_ids_from_tree(spark, tree, ids) == 1
    assert {r["id"] for r in read_ivf_tree(spark, tree).collect()} == {1, 3}


# ---------------------------------------------------------------- D307


def test_lsh_param_planner_matches_pure_python_fold(spark):
    # replay the exact truncating-ppm folds in python for the whole
    # lattice and pin the query's top-10 (twin-wrong protection: both
    # engines share the SQL shape, this does not)
    from mapreduce_project_spark.plans.similarity_queries import (
        _LSHP_THRESH_PCT,
        _lshp_pairs,
    )
    from mapreduce_project_spark.queries_registry import ALL_QUERIES

    def cost(b, r):
        fp = fn = 0
        for i in range(1, 100):
            sr = 1_000_000
            for _ in range(r):
                sr = sr * i // 100
            q = 1_000_000
            for _ in range(b):
                q = q * (1_000_000 - sr) // 1_000_000
            p = 1_000_000 - q
            if i < _LSHP_THRESH_PCT:
                fp += p
            else:
                fn += 1_000_000 - p
        return fp, fn

    lattice = sorted(
        ((b, r, *cost(b, r)) for b, r in _lshp_pairs()),
        key=lambda t: (t[2] + t[3], t[0], t[1]),
    )
    want = {
        (i + 1, b, r, b * r, fp, fn, fp + fn)
        for i, (b, r, fp, fn) in enumerate(lattice[:10])
    }
    got = {
        tuple(row)
        for row in ALL_QUERIES["lsh_param_planner"](spark, "unused").collect()
    }
    assert got == want
    # the winner uses (nearly) the full permutation budget and its
    # S-curve midpoint sits near the 0.8 threshold
    rank1 = lattice[0]
    b1, r1 = rank1[0], rank1[1]
    assert b1 * r1 >= 48
    mid = (1 / b1) ** (1 / r1)  # s where collision prob = ~0.5
    assert 0.7 < mid < 0.9


# ---------------------------------------------------------------- D308


def test_preference_pairs_planted_cohort(spark):
    # planted cohort of 5 docs with hand-computed alpha-ratio scores:
    # ranks pair 1<->5, 2<->4; the middle doc sits out; zero-margin
    # pairs drop.
    from mapreduce_project_spark.queries_registry import ALL_QUERIES
    import tempfile

    rows = [
        (1, "aaaaa", "s", "en", 5),       # score 1e6
        (2, "aaaa1", "s", "en", 5),       # 800000
        (3, "aaa11", "s", "en", 5),       # 600000
        (4, "aa111", "s", "en", 5),       # 400000
        (5, "a1111", "s", "en", 5),       # 200000
        (6, "bbbb", "t", "en", 4),        # lone-cohort pair partner
        (7, "b111", "t", "en", 4),
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "doc_id bigint, text string, source string, lang string, n_chars bigint"
        ).write.parquet(f"{td}/documents.parquet")
        got = {
            (r["chosen_id"], r["rejected_id"], r["margin_ppm"])
            for r in ALL_QUERIES["assemble_preference_pairs"](
                spark, td
            ).collect()
        }
    assert got == {
        (1, 5, 800000),
        (2, 4, 400000),
        (6, 7, 750000),
    }


def test_preference_pairs_each_doc_used_at_most_once(spark):
    from collections import Counter

    from mapreduce_project_spark.queries_registry import ALL_QUERIES
    from tests.conftest import SF_DIR

    rows = ALL_QUERIES["assemble_preference_pairs"](spark, SF_DIR).collect()
    assert rows, "vacuous"
    used = Counter()
    for r in rows:
        used[r["chosen_id"]] += 1
        used[r["rejected_id"]] += 1
    assert max(used.values()) == 1
    assert all(r["margin_ppm"] > 0 for r in rows)

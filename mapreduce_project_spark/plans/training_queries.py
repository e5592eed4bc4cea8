"""Training-data assembly queries (SURVEY.md §2.D D27-D30) — the steps
between a cleaned corpus and training shards: near-dup CLUSTER
formation (pairs → groups → representative), deterministic train/test
splits, stratified sampling, and token-budget sequence packing.

The reference has no analog for any of these (a reference user would
hand-write each as a chain of MR jobs: pair-emit, iterate-until-fixed,
hash-mod split — `design.md:48-49`'s contract makes every one a
multi-job pipeline); here each is one declarative plan."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_project_spark.functions import tokens
from mapreduce_project_spark.operators.dedup import dedup_clusters
from mapreduce_project_spark.operators.sampling import (
    hash_split,
    mix_sources,
    pack_sequences,
    stratified_sample_exact,
)
from mapreduce_project_spark.plans.text_queries import _JACCARD_PAIRS_ORACLE
from mapreduce_project_spark.queries_registry import query, t


@query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE jac AS ({_JACCARD_PAIRS_ORACLE}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM jac
      UNION
      SELECT id_b AS a, id_a AS b FROM jac
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
    ),
    comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id)
    SELECT c.id AS doc_id, c.rep AS rep_id, s.n AS cluster_size
    FROM comp c
    JOIN (SELECT rep, COUNT(*) AS n FROM comp GROUP BY rep) s ON c.rep = s.rep
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D27: near-dup clusters — MinHash+LSH verified pairs collapsed
    into connected components (min-id representative, one row per
    clustered doc). The Spark side iterates min-label propagation to a
    fixpoint (`operators/dedup.py:connected_components`); the oracle is
    the transitive closure as a recursive CTE over the exact-Jaccard
    pair SQL (LSH recall is full on the fixtures, so the pair sets —
    and hence the components — agree exactly)."""
    return dedup_clusters(t(spark, sf_dir, "documents"), "doc_id", "text")


_CANON_ORACLE = f"""
    WITH RECURSIVE jac AS ({_JACCARD_PAIRS_ORACLE}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM jac
      UNION
      SELECT id_b AS a, id_a AS b FROM jac
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
    ),
    comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id),
    csize AS (SELECT rep, COUNT(*) AS n FROM comp GROUP BY rep),
    ntok AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
               AS n_tok
      FROM documents
    ),
    canon AS (
      SELECT rep, id AS canon_id FROM (
        SELECT c.rep, c.id,
               ROW_NUMBER() OVER (PARTITION BY c.rep
                                  ORDER BY t.n_tok DESC, c.id) AS rn
        FROM comp c JOIN ntok t ON t.doc_id = c.id
      ) WHERE rn = 1
    )
    SELECT c.id AS doc_id, k.canon_id,
           CAST(s.n AS BIGINT) AS cluster_size,
           CAST(CASE WHEN c.id = k.canon_id THEN 1 ELSE 0 END AS BIGINT)
             AS is_canonical
    FROM comp c JOIN canon k ON c.rep = k.rep JOIN csize s ON c.rep = s.rep
    UNION ALL
    SELECT d.doc_id, d.doc_id, CAST(1 AS BIGINT), CAST(1 AS BIGINT)
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT id FROM comp)
    """


@query("dedup_canonical_map", _CANON_ORACLE)
def q_dedup_canonical_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative SELECTION (D210) — the survivorship
    step between cluster formation (D27) and a deduped corpus: every
    document maps to its cluster's canonical doc, chosen by QUALITY
    (longest token count, min-id tiebreak) rather than D27's min-id
    convention — dedup pipelines keep the best copy, not the earliest
    key (SemDeDup/Dolma-style curation keeps one representative per
    near-dup group). Output: one row per CORPUS document —
    (doc_id, canon_id, cluster_size, is_canonical); filtering
    is_canonical = 1 IS the deduped corpus, and the map is the
    provenance record joining duplicates to their survivor.

    Plan: the D27 cluster machinery unchanged (LSH pairs →
    components), one n_tok projection, one per-cluster argmax window
    (clusters are tiny — the window key is rep_id), singletons via one
    LEFT ANTI join keep themselves. Oracle replays the recursive-CTE
    closure + the same argmax. Planted ties and the
    quality-beats-min-id case pinned in tests/test_dedup.py."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    clusters = dedup_clusters(docs, "doc_id", "text")
    ntok = docs.select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tok")
    )
    w = Window.partitionBy("rep_id").orderBy(F.desc("n_tok"), "doc_id")
    canon = (
        clusters.join(ntok, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("rep_id", F.col("doc_id").alias("canon_id"))
    )
    clustered = clusters.join(canon, "rep_id").select(
        "doc_id",
        "canon_id",
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        (F.col("doc_id") == F.col("canon_id"))
        .cast("bigint")
        .alias("is_canonical"),
    )
    singles = docs.join(
        clusters.select("doc_id"), "doc_id", "left_anti"
    ).select(
        "doc_id",
        F.col("doc_id").alias("canon_id"),
        F.lit(1).cast("bigint").alias("cluster_size"),
        F.lit(1).cast("bigint").alias("is_canonical"),
    )
    return clustered.unionByName(singles)


@query(
    "train_test_split",
    """
    SELECT doc_id, source,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '20000000'
                THEN 'test' ELSE 'train' END AS split
    FROM documents
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D28: deterministic md5-bucket train/test assignment
    (test_frac = 0.125 = top-32-bit threshold 0x20000000) — a pure
    map-side projection: reproducible across runs, engines, and corpus
    growth; zero shuffle."""
    return hash_split(
        t(spark, sf_dir, "documents").select("doc_id", "source"),
        "doc_id",
        0.125,
    )


@query(
    "pack_sequences",
    """
    SELECT doc_id, source, n_tok,
           CAST(FLOOR(COALESCE(cum_before, 0) / 2048) AS BIGINT) AS bin
    FROM (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_tok,
             SUM(CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT))
               OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum_before
      FROM documents
    )
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D29: token-budget sequence packing — contiguous concat-and-chunk
    bins of 2048 tokens per source shard (exclusive running token sum /
    budget). Parallel across sources, ordered within; integer-only
    arithmetic, so cross-engine exact."""
    docs = t(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text")).cast("bigint")
    packed = pack_sequences(
        docs.select("doc_id", "source", n_tok.alias("n_tok")),
        "source",
        "doc_id",
        F.col("n_tok"),
        2048,
    )
    return packed.select("doc_id", "source", "n_tok", F.col("bin").cast("bigint").alias("bin"))


@query(
    "stratified_sample",
    """
    SELECT doc_id, lang, source
    FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (
               PARTITION BY lang, source
               ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
             ) AS rk
      FROM documents
    )
    WHERE rk <= 50
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D30: exact deterministic stratified sample — 50 docs per
    (lang, source) stratum, ranked by md5-hash order (uniform ⇒
    unbiased, reproducible, oracle-expressible). Pytest-only slot: the
    window-rank machinery already carries driver signal via
    `top_lineitems_per_supplier`; the md5 split determinism is
    driver-checked by `train_test_split`."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_sample_exact(docs, ["lang", "source"], "doc_id", 50)


@query(
    "source_mixture",
    """
    SELECT doc_id, source
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
          CASE source
            WHEN 'src0' THEN '00000000'
            WHEN 'src1' THEN 'g'
            WHEN 'src2' THEN '40000000'
            ELSE '80000000'
          END
    """,
)
def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus re-mixing (`sampling.mix_sources`): drop
    src0, keep all of src1, quarter src2, half everything else — the
    data-mixing stage of training assembly. Pure map-side md5-bucket
    filter: reproducible across engines/partitionings, stable under
    corpus growth, zero shuffle."""
    from mapreduce_project_spark.operators.sampling import mix_sources

    docs = t(spark, sf_dir, "documents")
    return mix_sources(
        docs.select("doc_id", "source"),
        "doc_id",
        "source",
        {"src0": 0.0, "src1": 1.0, "src2": 0.25},
        default_rate=0.5,
    )


@query(
    "decontam_hits",
    """
    WITH grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
            FROM documents)
    ),
    lab AS (
      SELECT doc_id,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '20000000' AS is_test
      FROM documents
    ),
    bench AS (
      SELECT DISTINCT gram FROM grams JOIN lab USING (doc_id) WHERE is_test
    )
    SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_ngrams
    FROM grams g
    JOIN lab USING (doc_id)
    JOIN bench USING (gram)
    WHERE NOT is_test
    GROUP BY g.doc_id
    """,
)
def q_decontam_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination evidence (`operators/decontam.py`):
    the held-out md5 'test' split plays the benchmark; every 'train'
    document sharing a token 3-gram with it is reported with its
    distinct-overlap count. The benchmark n-gram set is built once and
    BROADCAST, so the (huge) train side never shuffles its exploded
    n-grams — the join filters map-side and only actual hits reach the
    per-doc count."""
    from mapreduce_project_spark.operators.decontam import contamination_hits

    docs = hash_split(t(spark, sf_dir, "documents"), "doc_id", 0.125)
    train = docs.filter(F.col("split") == "train")
    test = docs.filter(F.col("split") == "test")
    return contamination_hits(train, test, 3)


@query(
    "source_epochs",
    """
    SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch
    FROM (
      SELECT doc_id, source, unnest(generate_series(1, n)) AS epoch
      FROM (
        SELECT doc_id, source,
               CASE source WHEN 'src1' THEN 2 WHEN 'src2' THEN 0 ELSE 1 END
               + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
                        CASE source WHEN 'src1' THEN '80000000'
                                    WHEN 'src2' THEN '40000000'
                                    ELSE '00000000' END
                 THEN 1 ELSE 0 END AS n
        FROM documents
      )
      WHERE n >= 1
    )
    """,
)
def q_source_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch replication (`sampling.repeat_sources`):
    2.5 epochs of src1, a quarter epoch of src2, one epoch of
    everything else — the upsampling half of training-mixture assembly
    (`source_mixture` is the downsampling half; the two share the md5
    threshold, so rate r<1 here keeps exactly `mix_sources`' rows).
    Map-side filter + tiny-sequence explode: zero shuffle, output
    volume bounded by the declared rates."""
    from mapreduce_project_spark.operators.sampling import repeat_sources

    docs = t(spark, sf_dir, "documents")
    return repeat_sources(
        docs.select("doc_id", "source"),
        "doc_id",
        "source",
        {"src1": 2.5, "src2": 0.25},
        default_rate=1.0,
    )


from mapreduce_project_spark.plans.text_queries import _LANG_CASE, _TOKS  # noqa: E402

# The assembly pipeline decontaminates on 5-grams, not 3-grams: short
# shingles over-fire on template-generated corpora (at every fixture
# scale EVERY train doc shares some 3-gram with the held-out split, so
# the composed pipeline would emit zero rows and its hash-match would be
# vacuous). Real-world decontamination uses longer windows for the same
# reason (GPT-3 used 13-grams); n=5 keeps BOTH signals non-trivial on
# the fixtures: contamination still removes docs (7/11/298 train docs at
# sf0.001/0.01/0.1) and survivors remain (> 0 at every checked scale).
_GRAMS5 = (
    "list_distinct(list_transform(generate_series(1, len(toks) - 4), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || "
    "toks[i+3] || ' ' || toks[i+4]))"
)

_ASSEMBLE_SQL = f"""
    WITH base AS (SELECT doc_id, source, text, {_TOKS} AS toks FROM documents),
    marked AS (
      SELECT doc_id, source, toks,
             len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS en,
             len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS de,
             len(list_filter(toks, x -> list_contains(['le','la','et','les','est'], x))) AS fr,
             len(list_filter(toks, x -> list_contains(['el','los','de','y','es'], x))) AS es
      FROM base
    ),
    scored AS (
      SELECT doc_id, source, toks,
             {_LANG_CASE} AS pred_lang,
             0.5 * least(CAST(len(toks) AS DOUBLE) / 100, 1.0)
           + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
           + 0.2 * least((CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)) / 8, 1.0)
             AS quality,
             md5(array_to_string(toks, ' ')) AS fp
      FROM marked
    ),
    clean AS (SELECT * FROM scored WHERE pred_lang = 'en' AND quality >= 0.5),
    keep AS (SELECT fp, MIN(doc_id) AS doc_id FROM clean GROUP BY fp),
    deduped AS (SELECT c.* FROM clean c JOIN keep USING (fp, doc_id)),
    lab AS (
      SELECT doc_id,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '20000000' AS is_test
      FROM documents
    ),
    bench AS (
      SELECT DISTINCT gram
      FROM (SELECT doc_id, unnest({_GRAMS5}) AS gram FROM base) g
      JOIN lab USING (doc_id) WHERE is_test
    ),
    contaminated AS (
      SELECT DISTINCT doc_id
      FROM (SELECT doc_id, unnest({_GRAMS5}) AS gram
            FROM (SELECT d.doc_id, d.toks FROM deduped d)) dg
      JOIN bench USING (gram)
    ),
    survivors AS (
      SELECT d.doc_id, d.source, CAST(len(d.toks) AS BIGINT) AS n_tok
      FROM deduped d JOIN lab USING (doc_id)
      WHERE NOT is_test
        AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
        AND substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
              CASE d.source WHEN 'src0' THEN '00000000'
                            WHEN 'src1' THEN 'g'
                            WHEN 'src2' THEN '40000000'
                            ELSE '80000000' END
    )
    SELECT doc_id, source, n_tok,
           CAST(FLOOR(COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048)
                AS BIGINT) AS bin
    FROM survivors
    """


@query("assemble_training_set", _ASSEMBLE_SQL)
def q_assemble_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAGSHIP composition — the whole training-data assembly line
    as ONE declarative plan: language-ID + quality gate (scan-fused
    projections) → exact near-dup collapse (digest-only shuffle) →
    benchmark decontamination (broadcast n-gram semi-join, corpus never
    shuffles its grams) → deterministic source re-mixing (map-side
    md5-bucket filter) → token-budget sequence packing (per-source
    running-sum window). Every stage is an already-driver-checked
    operator (`pipeline_clean_corpus`, `dedup_exact`, `decontam_hits`,
    `source_mixture`, `pack_sequences`); this query certifies their
    COMPOSITION end to end against one composed SQL oracle — the
    "could a reference user run their whole pipeline here" question in
    a single hash-match. Decontamination here uses 5-grams (see
    `_GRAMS5`): 3-grams over-fire on the template fixtures and would
    leave zero survivors at every checked scale, making the hash-match
    vacuous; with n=5 both the removal and the survivor set are
    non-empty at sf0.001/0.01/0.1 (asserted in
    `tests/test_training.py`). Scale: one corpus scan feeds the gate, one
    digest shuffle dedups, grams broadcast against the (small) held-out
    set, the mix is a pushed-down filter, and packing windows per
    source shard — no stage is quadratic or driver-bound."""
    from mapreduce_project_spark.operators.decontam import decontaminate
    from mapreduce_project_spark.operators.sampling import _hash_hex8
    from mapreduce_project_spark.operators.text import (
        doc_fingerprint,
        predicted_lang,
        quality_score,
    )

    docs = t(spark, sf_dir, "documents")
    is_test = _hash_hex8(F.col("doc_id")) < "20000000"
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        predicted_lang().alias("pred_lang"),
        quality_score().alias("quality"),
        doc_fingerprint().alias("fp"),
    ).filter((F.col("pred_lang") == "en") & (F.col("quality") >= 0.5))
    # survivor pick as ONE fp-keyed window instead of groupBy(min) +
    # join-back: the join form re-ran the scan+score subtree for the
    # second consumer and paid two exchanges ((fp) agg + (fp, doc_id)
    # join); rank-1-by-doc_id over the fp partition selects the
    # IDENTICAL min-doc_id survivor row in one exchange and one pass
    # (guide §2.4; doc_id is unique so the rank-1 row is exact).
    from pyspark.sql import Window as _W

    deduped = (
        scored.withColumn(
            "_rn",
            F.row_number().over(_W.partitionBy("fp").orderBy("doc_id")),
        )
        .filter(F.col("_rn") == 1)
        .select("doc_id", "source", "text")
    )
    cleaned = decontaminate(
        deduped.filter(~is_test), docs.filter(is_test), 5
    )
    mixed = mix_sources(
        cleaned, "doc_id", "source",
        {"src0": 0.0, "src1": 1.0, "src2": 0.25}, default_rate=0.5,
    )
    sized = mixed.select(
        "doc_id", "source", F.size(tokens("text")).cast("bigint").alias("n_tok")
    )
    packed = pack_sequences(sized, "source", "doc_id", F.col("n_tok"), 2048)
    return packed.select("doc_id", "source", "n_tok", "bin")


@query(
    "quality_weighted_sample",
    f"""
    WITH q AS (
      SELECT doc_id,
             0.5 * least(CAST(len(toks) AS DOUBLE) / 100, 1.0)
           + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
           + 0.2 * least((CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)) / 8, 1.0)
             AS quality
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    )
    SELECT doc_id, quality
    FROM q
    WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
            < CAST(quality * 4294967296.0 AS BIGINT)
    """,
)
def q_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ROW weighted sampling: each document's keep probability IS
    its quality score (the soft version of the hard quality gate —
    keeps a graded mix instead of a cliff at a threshold), decided by
    the same deterministic md5-bucket machinery as `source_mixture` but
    with a per-row threshold. Pure map-side filter: reproducible,
    growth-stable, zero shuffle. The hash's top 32 bits compare against
    floor(quality x 2^32) in exact integer space on both engines."""
    from mapreduce_project_spark.operators.text import quality_score

    docs = t(spark, sf_dir, "documents")
    hash_bits = F.expr(
        "cast(conv(substr(md5(cast(cast(doc_id AS string) AS binary)), 1, 8), 16, 10) AS bigint)"
    )
    q = quality_score()
    return (
        docs.select("doc_id", q.alias("quality"))
        .filter(hash_bits < (F.col("quality") * F.lit(4294967296.0)).cast("bigint"))
    )


@query(
    "shuffle_shards",
    """
    WITH keyed AS (
      SELECT doc_id, md5('seed42:' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents
    )
    SELECT CAST(CAST('0x' || substr(k, 1, 8) AS BIGINT) % 16 AS INT) AS shard,
           CAST(row_number() OVER (
             PARTITION BY CAST('0x' || substr(k, 1, 8) AS BIGINT) % 16
             ORDER BY k, doc_id) AS BIGINT) AS pos,
           doc_id
    FROM keyed
    """,
)
def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: every document gets a
    reproducible (shard, pos) address — shard = md5-bucket of
    (seed, doc_id), pos = hash-rank within the shard. The "shuffle the
    corpus before training" step as a pure function of the key: stable
    across runs/engines/partitionings, re-seedable for a fresh epoch
    order. One shard-keyed shuffle; per-shard windows parallelize
    across shards (at 100 TB: n_shards sized so a shard fits a task).
    See `operators/sampling.py:shuffle_shards`."""
    from mapreduce_project_spark.operators.sampling import shuffle_shards

    docs = t(spark, sf_dir, "documents").select("doc_id")
    return shuffle_shards(docs, "doc_id", n_shards=16).select(
        "shard", "pos", "doc_id"
    )


@query(
    "pack_contiguous",
    f"""
    WITH sized AS (
      SELECT doc_id, source,
             CAST(len({_TOKS}) AS BIGINT) + 1 AS n_tok
      FROM documents
    ),
    pref AS (
      SELECT doc_id, source, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS stream_offset
      FROM sized
    )
    SELECT doc_id, source, n_tok, stream_offset,
           CAST(stream_offset // 2048 AS BIGINT) AS chunk_start,
           CAST((stream_offset + n_tok - 1) // 2048 AS BIGINT) AS chunk_end
    FROM pref
    """,
)
def q_pack_contiguous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-stream sequence packing (the GPT-style sibling of
    `pack_sequences`' bin packing): per source, documents are laid out
    back-to-back in a deterministic order with an EOS token each
    (n_tok = tokens + 1), and every document gets its byte-exact stream
    address — offset = exclusive prefix sum, and the training chunks
    [chunk_start, chunk_end] it spans at a 2048-token window (documents
    crossing a boundary span several). One window shuffle per source
    stream; at 100 TB the per-source cumsum parallelizes across
    sources, and within a giant source the same plan runs per
    (source, day) sub-stream. Integer arithmetic end-to-end."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "source",
        (F.size(tokens("text")).cast("bigint") + F.lit(1)).alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = sized.withColumn(
        "stream_offset", F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    )
    return pref.select(
        "doc_id",
        "source",
        "n_tok",
        "stream_offset",
        F.floor(F.col("stream_offset") / 2048).cast("bigint").alias("chunk_start"),
        F.floor((F.col("stream_offset") + F.col("n_tok") - 1) / 2048)
        .cast("bigint")
        .alias("chunk_end"),
    )


@query(
    "temperature_sample_sources",
    """
    WITH tagged AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 < 4 THEN 'head'
                  WHEN doc_id % 7 < 6 THEN 'mid' ELSE 'tail' END AS src_class
      FROM documents
    ),
    counts AS (SELECT src_class, CAST(count(*) AS BIGINT) AS c
               FROM tagged GROUP BY src_class),
    stats AS (SELECT min(c) AS cmin FROM counts),
    rates AS (
      SELECT src_class, sqrt(CAST((SELECT cmin FROM stats) AS DOUBLE) / c) AS rate
      FROM counts
    )
    SELECT t.doc_id, t.src_class, r.rate
    FROM tagged t JOIN rates r USING (src_class)
    WHERE CAST('0x' || substr(md5('t2:' || CAST(t.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
            < CAST(r.rate * 4294967296.0 AS BIGINT)
    """,
)
def q_temperature_sample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source rebalancing (τ=2, the multilingual-LM
    mixing rule): keep-rate_s = sqrt(c_min / c_s), so over-represented
    classes are downsampled toward p_s ∝ f_s^(1/τ) while the smallest
    class keeps everything. Rates are DERIVED from the data (one tiny
    count agg + scalar min, broadcast back) rather than hand-tuned like
    `mix_sources`; the per-row keep decision is the same deterministic
    md5-bucket machinery. sqrt is correctly-rounded IEEE in both
    engines and the division order is pinned, so rates — and therefore
    the kept set — hash-match exactly. The fixture's real `source` is
    uniform by construction, so the query derives a skewed class from
    doc_id to exercise the math (the column is a parameter in the
    operator sense)."""
    docs = t(spark, sf_dir, "documents")
    tagged = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 < 4, F.lit("head"))
        .when(F.col("doc_id") % 7 < 6, F.lit("mid"))
        .otherwise(F.lit("tail"))
        .alias("src_class"),
    )
    counts = tagged.groupBy("src_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    stats = counts.agg(F.min("c").alias("cmin"))
    rates = counts.crossJoin(F.broadcast(stats)).select(
        "src_class",
        F.sqrt(F.col("cmin").cast("double") / F.col("c")).alias("rate"),
    )
    hash_bits = F.expr(
        "cast(conv(substr(md5(cast(concat('t2:', cast(doc_id AS string)) AS binary)"
        "), 1, 8), 16, 10) AS bigint)"
    )
    return (
        tagged.join(F.broadcast(rates), "src_class")
        .filter(hash_bits < (F.col("rate") * F.lit(4294967296.0)).cast("bigint"))
        .select("doc_id", "src_class", "rate")
    )


_ASSEMBLE_V2_SQL = f"""
    WITH base AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    marked AS (
      SELECT doc_id, toks,
             len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS en,
             len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS de,
             len(list_filter(toks, x -> list_contains(['le','la','et','les','est'], x))) AS fr,
             len(list_filter(toks, x -> list_contains(['el','los','de','y','es'], x))) AS es
      FROM base
    ),
    clean AS (
      SELECT doc_id, toks AS tk FROM (
        SELECT doc_id, toks, {_LANG_CASE} AS pred_lang,
               0.5 * least(CAST(len(toks) AS DOUBLE) / 100, 1.0)
             + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
             + 0.2 * least((CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)) / 8, 1.0)
               AS quality
        FROM marked
      ) WHERE pred_lang = 'en' AND quality >= 0.5
    ),
    pass AS (
      SELECT doc_id, i AS idx, array_to_string(tk[i*16+1 : i*16+16], ' ') AS p
      FROM clean, UNNEST(range(CAST(ceil(len(tk) / 16.0) AS BIGINT))) AS t(i)
    ),
    kept AS (
      SELECT doc_id, idx, p,
             row_number() OVER (PARTITION BY md5(p) ORDER BY doc_id, idx) AS rn
      FROM pass WHERE p <> ''
    ),
    dedup AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(array_to_string(list(p ORDER BY idx), ' ')), '[a-z]+')) AS BIGINT) + 1 AS n_tok
      FROM kept WHERE rn = 1 GROUP BY doc_id
    ),
    tagged AS (
      SELECT doc_id, n_tok,
             CASE WHEN doc_id % 7 < 4 THEN 'head'
                  WHEN doc_id % 7 < 6 THEN 'mid' ELSE 'tail' END AS src_class
      FROM dedup
    ),
    counts AS (SELECT src_class, CAST(count(*) AS BIGINT) AS c FROM tagged GROUP BY src_class),
    stats AS (SELECT min(c) AS cmin FROM counts),
    rates AS (
      SELECT src_class, sqrt(CAST((SELECT cmin FROM stats) AS DOUBLE) / c) AS rate
      FROM counts
    ),
    sampled AS (
      SELECT t.doc_id, t.n_tok, t.src_class
      FROM tagged t JOIN rates r USING (src_class)
      WHERE CAST('0x' || substr(md5('t2:' || CAST(t.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
              < CAST(r.rate * 4294967296.0 AS BIGINT)
    ),
    keyed AS (
      SELECT doc_id, n_tok, src_class,
             md5('seed42:' || CAST(doc_id AS VARCHAR)) AS k
      FROM sampled
    ),
    addressed AS (
      SELECT doc_id, n_tok, src_class,
             CAST(CAST('0x' || substr(k, 1, 8) AS BIGINT) % 16 AS INT) AS shard,
             CAST(row_number() OVER (
               PARTITION BY CAST('0x' || substr(k, 1, 8) AS BIGINT) % 16
               ORDER BY k, doc_id) AS BIGINT) AS pos
      FROM keyed
    )
    SELECT doc_id, src_class, shard, pos, n_tok,
           CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS stream_offset,
           CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048
                AS BIGINT) AS chunk_start
    FROM addressed
    """


@query("assemble_training_set_v2", _ASSEMBLE_V2_SQL)
def q_assemble_training_set_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composition, GENERATION 2 — the round-3 operator
    families composed end to end in one plan: language/quality gate →
    PASSAGE-level exact dedup (sub-document boilerplate removal, digest
    shuffle) → TEMPERATURE source rebalancing (rates derived from the
    data, md5-bucket filter) → deterministic SHARDED shuffle ((shard,
    pos) addresses) → CONTIGUOUS stream packing (per-shard prefix sums
    with an EOS token each). Each stage is individually oracle-green
    (`dedup_passages`, `temperature_sample_sources`, `shuffle_shards`,
    `pack_contiguous`); this certifies their composition in a single
    hash-match, complementing v1's gate→exact-dedup→decontam→mix→pack
    line. Scale: one corpus scan, one digest shuffle, one tiny
    broadcast rate table, one shard shuffle — the per-shard windows
    ARE the training-shard writes."""
    from mapreduce_project_spark.operators.dedup import passage_dedup
    from mapreduce_project_spark.operators.sampling import shuffle_shards
    from mapreduce_project_spark.operators.text import predicted_lang, quality_score
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    gated = docs.select(
        "doc_id", "text",
        predicted_lang().alias("pred_lang"),
        quality_score().alias("quality"),
    ).filter((F.col("pred_lang") == "en") & (F.col("quality") >= 0.5))
    pd_ = passage_dedup(gated.select("doc_id", "text"), "doc_id", "text", 16)
    tagged = pd_.select(
        "doc_id",
        (F.size(tokens("text_deduped")).cast("bigint") + F.lit(1)).alias("n_tok"),
        F.when(F.col("doc_id") % 7 < 4, F.lit("head"))
        .when(F.col("doc_id") % 7 < 6, F.lit("mid"))
        .otherwise(F.lit("tail"))
        .alias("src_class"),
    )
    counts = tagged.groupBy("src_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    stats = counts.agg(F.min("c").alias("cmin"))
    rates = counts.crossJoin(F.broadcast(stats)).select(
        "src_class", F.sqrt(F.col("cmin").cast("double") / F.col("c")).alias("rate")
    )
    hash_bits = F.expr(
        "cast(conv(substr(md5(cast(concat('t2:', cast(doc_id AS string)) AS binary)"
        "), 1, 8), 16, 10) AS bigint)"
    )
    sampled = tagged.join(F.broadcast(rates), "src_class").filter(
        hash_bits < (F.col("rate") * F.lit(4294967296.0)).cast("bigint")
    )
    addressed = shuffle_shards(
        sampled.select("doc_id", "n_tok", "src_class"), "doc_id", 16
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return addressed.select(
        "doc_id", "src_class", "shard", "pos", "n_tok",
        off.alias("stream_offset"),
        F.floor(off / 2048).cast("bigint").alias("chunk_start"),
    )


_LINEAR_GD_ORACLE = """
    WITH d AS (
      SELECT CAST(1 AS BIGINT) AS x0,
             CAST(l_quantity AS BIGINT) AS x1,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    nn AS (SELECT COUNT(*) AS n FROM d),
    gA AS (SELECT SUM(x0 * -y) AS g0, SUM(x1 * -y) AS g1,
                  SUM(x2 * -y) AS g2 FROM d),
    wA AS (
      SELECT 0 - (1000 * g0) // (SELECT n FROM nn) AS w0,
             0 - (1000 * g1) // (SELECT n FROM nn) AS w1,
             0 - (1000 * g2) // (SELECT n FROM nn) AS w2
      FROM gA
    ),
    eB AS (
      SELECT x0, x1, x2,
             (((SELECT w0 FROM wA) * x0 + (SELECT w1 FROM wA) * x1
               + (SELECT w2 FROM wA) * x2) - y * 1000000) // 1000000 AS e
      FROM d
    ),
    gB AS (SELECT SUM(x0 * e) AS g0, SUM(x1 * e) AS g1,
                  SUM(x2 * e) AS g2 FROM eB),
    wB AS (
      SELECT (SELECT w0 FROM wA) - (1000 * g0) // (SELECT n FROM nn) AS w0,
             (SELECT w1 FROM wA) - (1000 * g1) // (SELECT n FROM nn) AS w1,
             (SELECT w2 FROM wA) - (1000 * g2) // (SELECT n FROM nn) AS w2
      FROM gB
    )
    SELECT 'bias' AS feature, CAST(w0 AS BIGINT) AS w_fx,
           CAST(w0 AS DOUBLE) / 1000000 AS w FROM wB
    UNION ALL
    SELECT 'qty', CAST(w1 AS BIGINT), CAST(w1 AS DOUBLE) / 1000000 FROM wB
    UNION ALL
    SELECT 'disc_pct', CAST(w2 AS BIGINT), CAST(w2 AS DOUBLE) / 1000000 FROM wB
    """


@query("linear_gd_price_model", _LINEAR_GD_ORACLE)
def q_linear_gd_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed model training as a first-class pipeline op: two
    exact fixed-point batch-GD rounds fitting
    ``price_cents ≈ w·[1, quantity, discount_pct]`` over lineitem
    (`operators/ml.py:linear_gd_fixed`). Each round is ONE partial+
    final aggregation over the cached feature frame; the weight vector
    lives on the driver as k integers embedded into the next round's
    codegen'd expression (metadata-scale collect, like pagerank_fixed's
    convergence scalar). All-BIGINT arithmetic with truncating ``div``
    (verified identical in Spark and DuckDB, negatives included) makes
    this ITERATIVE algorithm hash-matchable by a fully unrolled SQL
    oracle — the same discipline as `pagerank_trade_graph` and
    `kmeans_embeddings`. lr = 1/1000 sits inside the stability bound
    2/λmax(E[xxᵀ]) ≈ 2.3e-3 for this feature scale."""
    from mapreduce_project_spark.operators.ml import linear_gd_fixed

    li = t(spark, sf_dir, "lineitem").select(
        F.lit(1).cast("bigint").alias("bias"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint").alias("disc_pct"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint").alias("y_cents"),
    )
    return linear_gd_fixed(
        li, ["bias", "qty", "disc_pct"], "y_cents", n_iter=2, lr_den=1000
    )


_SEM_DECONTAM_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    bench AS (SELECT vec_id AS bench_id, v AS bv FROM e WHERE vec_id % 50 = 0),
    corp AS (SELECT vec_id AS id, v AS cv FROM e WHERE vec_id % 50 <> 0)
    SELECT id, bench_id,
           list_reduce(list_transform(generate_series(1, len(cv)),
                                      i -> cv[i]*bv[i]), (x,y) -> x+y)
             / (sqrt(list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y))
                * sqrt(list_reduce(list_transform(bv, x -> x*x), (x,y) -> x+y)))
             AS cos
    FROM corp, bench
    WHERE list_reduce(list_transform(generate_series(1, len(cv)),
                                     i -> cv[i]*bv[i]), (x,y) -> x+y)
            / (sqrt(list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y))
               * sqrt(list_reduce(list_transform(bv, x -> x*x), (x,y) -> x+y)))
          >= 0.3
    """


@query("semantic_decontam_pairs", _SEM_DECONTAM_ORACLE)
def q_semantic_decontam_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination — the embedding-space sibling of
    `decontam_hits`: corpus vectors (vec_id % 50 ≠ 0) whose cosine to
    ANY benchmark vector (vec_id % 50 = 0) reaches 0.3, catching the
    paraphrased leakage n-gram overlap misses. Scale shape mirrors the
    n-gram path's asymmetry: the tiny benchmark side BROADCASTS with
    precomputed norms and the corpus is scanned once with zero shuffle
    (`operators/decontam.py:semantic_contamination_pairs`); left-fold
    cosine ⇒ hash-matches the quadratic oracle."""
    from mapreduce_project_spark.operators.decontam import (
        semantic_contamination_pairs,
    )

    emb = t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    bench = emb.filter(F.col("vec_id") % 50 == 0)
    return semantic_contamination_pairs(corpus, bench, "vec_id", "embedding", 0.3)


_BATCHES_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_tok
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_tok, n_tok // 64 AS bucket,
             (ROW_NUMBER() OVER (PARTITION BY n_tok // 64
                                 ORDER BY n_tok, doc_id) - 1) // 8 AS batch_id
      FROM toks
    )
    SELECT bucket, batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_seqs,
           MAX(n_tok) AS max_len,
           CAST(SUM(n_tok) AS BIGINT) AS sum_len,
           CASE WHEN COUNT(*) * MAX(n_tok) > 0
                THEN CAST(COUNT(*) * MAX(n_tok) - SUM(n_tok) AS DOUBLE)
                     / CAST(COUNT(*) * MAX(n_tok) AS DOUBLE)
                ELSE 0.0 END AS pad_frac
    FROM ranked GROUP BY bucket, batch_id
    """


@query("training_batches_bucketed", _BATCHES_ORACLE)
def q_training_batches_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-batching layout: 8-sequence training batches assembled
    within data-independent 64-token length buckets, with per-batch
    padding-waste fractions — the padded-batch alternative to sequence
    packing (`operators/sampling.py:length_bucketed_batches`). Every
    window partitions on the bucket key: no global sort anywhere, so
    buckets scale out independently at corpus size. Exact integer
    batch math + one double division ⇒ hash-matched."""
    from mapreduce_project_spark.functions import tokens
    from mapreduce_project_spark.operators.sampling import length_bucketed_batches

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tok")
    )
    return length_bucketed_batches(docs, "doc_id", "n_tok", 8)


_NEG_SAMPLES_ORACLE = """
    WITH cand AS (
      SELECT vec_id AS c,
             CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT)
               % 64 AS bkt
      FROM embeddings
    ),
    probes AS (
      SELECT a.vec_id AS anchor_id, j AS draw,
             CAST('0x' || substr(md5(CAST(a.vec_id AS VARCHAR) || ':'
                                     || CAST(j AS VARCHAR)), 1, 8) AS BIGINT)
               % 64 AS bkt
      FROM (SELECT vec_id FROM embeddings WHERE vec_id < 50) a,
           (SELECT unnest(generate_series(1, 4)) AS j)
    ),
    joined AS (
      SELECT anchor_id, draw, c,
             md5(CAST(anchor_id AS VARCHAR) || ':' || CAST(draw AS VARCHAR)
                 || ':' || CAST(c AS VARCHAR)) AS h
      FROM probes JOIN cand USING (bkt)
      WHERE c <> anchor_id
    )
    SELECT anchor_id, CAST(draw AS BIGINT) AS draw, c AS neg_id
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id, draw
                                       ORDER BY h, c) AS rk FROM joined)
    WHERE rk = 1
    """


@query("contrastive_negative_samples", _NEG_SAMPLES_ORACLE)
def q_contrastive_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: 4
    uniform pseudo-random negatives per anchor (vec_id < 50) WITHOUT
    joining anchors against the corpus — corpus rows hash into 64 md5
    buckets once, each anchor derives its draws' probe buckets, and
    the per-draw winner minimizes md5(anchor:draw:cand)
    (`operators/sampling.py:negative_samples`). The probe side
    broadcasts; the corpus is scanned once; work is anchors × draws ×
    bucket-size. Pure md5 arithmetic ⇒ hash-matched."""
    from mapreduce_project_spark.operators.sampling import negative_samples

    emb = t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 50)
    return negative_samples(emb, "vec_id", anchors, 4)


_CONTRASTIVE_ORACLE = f"""
    WITH jac AS ({_JACCARD_PAIRS_ORACLE}),
    pos AS (
      SELECT id_a AS anchor, id_b AS other, 'pos' AS label, jac FROM jac
    ),
    anchors AS (SELECT DISTINCT anchor FROM pos),
    cand AS (
      SELECT doc_id AS c,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % 64 AS bkt
      FROM documents
    ),
    probes AS (
      SELECT anchor AS anchor_id, j AS draw,
             CAST('0x' || substr(md5(CAST(anchor AS VARCHAR) || ':'
                                     || CAST(j AS VARCHAR)), 1, 8) AS BIGINT)
               % 64 AS bkt
      FROM anchors, (SELECT unnest(generate_series(1, 2)) AS j)
    ),
    joined AS (
      SELECT anchor_id, draw, c,
             md5(CAST(anchor_id AS VARCHAR) || ':' || CAST(draw AS VARCHAR)
                 || ':' || CAST(c AS VARCHAR)) AS h
      FROM probes JOIN cand USING (bkt)
      WHERE c <> anchor_id
    ),
    negs AS (
      SELECT anchor_id, c FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id, draw
                                     ORDER BY h, c) AS rk FROM joined
      ) WHERE rk = 1
    )
    SELECT anchor, other, label, jac FROM pos
    UNION ALL
    SELECT anchor_id AS anchor, c AS other, 'neg' AS label,
           CAST(NULL AS DOUBLE) AS jac
    FROM negs
    """


@query("assemble_contrastive_pairs", _CONTRASTIVE_ORACLE)
def q_assemble_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composition v3 — contrastive-pair dataset assembly
    from this round's families in ONE plan: POSITIVES are the exact
    near-duplicate pairs from the prefix-filtered Jaccard join (the
    label quality of exact dedup, at scale), NEGATIVES are two
    deterministic uniform hash-bucket draws per anchor
    (`negative_samples` — no anchors×corpus join). Output
    (anchor, other, label, jac): the (anchor, positive, negatives)
    triplets an embedding-model trainer consumes. The composed oracle
    replays both sub-oracles verbatim and the whole assembly
    hash-matches — the embedding-side sibling of
    `assemble_training_set` (cleaning) and `..._v2` (layout)."""
    from mapreduce_project_spark.operators.dedup import prefix_filter_jaccard_pairs
    from mapreduce_project_spark.operators.sampling import negative_samples

    docs = t(spark, sf_dir, "documents")
    # cached: the pair stream feeds BOTH the output union and the
    # anchor-id draw — without it the whole prefix-filter Jaccard join
    # runs twice (measured ~2x this query's wall time)
    pos = prefix_filter_jaccard_pairs(docs, "doc_id", "text").select(
        F.col("id_a").alias("anchor"),
        F.col("id_b").alias("other"),
        F.lit("pos").alias("label"),
        "jac",
    ).cache()
    anchors = pos.select(F.col("anchor").alias("doc_id")).distinct()
    negs = negative_samples(docs.select("doc_id"), "doc_id", anchors, 2).select(
        F.col("anchor_id").alias("anchor"),
        F.col("neg_id").alias("other"),
        F.lit("neg").alias("label"),
        F.lit(None).cast("double").alias("jac"),
    )
    return pos.unionByName(negs)


from mapreduce_project_spark.plans.text_queries import _DSIR_BK  # noqa: E402

_V4_ORACLE = f"""
    WITH {_DSIR_BK},
    tot AS (SELECT SUM(target_cnt) AS t_tot, SUM(raw_cnt) AS r_tot FROM stats),
    ratio AS (
      SELECT bucket,
             CAST(round(ln(CAST(target_cnt + 1 AS DOUBLE)) * 1000000) AS BIGINT)
             - CAST(round(ln(CAST((SELECT t_tot FROM tot) + 256 AS DOUBLE)) * 1000000) AS BIGINT)
             - CAST(round(ln(CAST(raw_cnt + 1 AS DOUBLE)) * 1000000) AS BIGINT)
             + CAST(round(ln(CAST((SELECT r_tot FROM tot) + 256 AS DOUBLE)) * 1000000) AS BIGINT)
               AS lr_fp
      FROM stats
    ),
    per_doc AS (
      SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM bk WHERE doc_id % 50 <> 0 GROUP BY 1, 2
    ),
    sel AS (
      SELECT doc_id FROM (
        SELECT doc_id, SUM(cnt * lr_fp) AS logw_fp
        FROM per_doc JOIN ratio USING (bucket) GROUP BY doc_id
      ) ORDER BY logw_fp DESC, doc_id LIMIT 200
    ),
    toks2 AS (
      SELECT d.doc_id, regexp_extract_all(lower(d.text), '[a-z]+') AS tk
      FROM documents d JOIN sel USING (doc_id)
    ),
    pass AS (
      SELECT doc_id, i AS idx, array_to_string(tk[i*16+1 : i*16+16], ' ') AS p
      FROM toks2, UNNEST(range(CAST(ceil(len(tk) / 16.0) AS BIGINT))) AS t(i)
    ),
    kept AS (
      SELECT doc_id, idx, p,
             row_number() OVER (PARTITION BY md5(p) ORDER BY doc_id, idx) AS rn
      FROM pass WHERE p <> ''
    ),
    dd AS (
      SELECT doc_id, array_to_string(list(p ORDER BY idx), ' ') AS text_deduped
      FROM kept WHERE rn = 1 GROUP BY doc_id
    ),
    sized AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text_deduped), '[a-z]+')) AS BIGINT)
               AS n_tok
      FROM dd
    ),
    rankd AS (
      SELECT doc_id, n_tok, n_tok // 64 AS bucket,
             (ROW_NUMBER() OVER (PARTITION BY n_tok // 64
                                 ORDER BY n_tok, doc_id) - 1) // 8 AS batch_id
      FROM sized
    )
    SELECT bucket, batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_seqs,
           MAX(n_tok) AS max_len,
           CAST(SUM(n_tok) AS BIGINT) AS sum_len,
           CASE WHEN COUNT(*) * MAX(n_tok) > 0
                THEN CAST(COUNT(*) * MAX(n_tok) - SUM(n_tok) AS DOUBLE)
                     / CAST(COUNT(*) * MAX(n_tok) AS DOUBLE)
                ELSE 0.0 END AS pad_frac
    FROM rankd GROUP BY bucket, batch_id
    """


@query("assemble_training_set_v4", _V4_ORACLE)
def q_assemble_training_set_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP composition, generation 4 — the TARGETED-selection
    pipeline: DSIR importance selection (top-200 most-target-like raw
    docs, D148) → passage-level exact dedup within the selected set
    (D78) → length-bucketed batch assembly (D118). Where v1 gates on
    intrinsic quality and v2 rebalances sources, v4 selects FOR a
    target distribution — the three generations are the three
    selection philosophies of LLM corpus construction (filter, mix,
    match). Composed oracle replays all three stages' sub-oracles
    verbatim; every stage is independently driver/oracle-proven.

    Scale: the 256-row DSIR model broadcasts; selection is one corpus
    scan + TakeOrdered; passage dedup shuffles digests; batching
    windows partition on the data-independent length bucket. Corpus
    text crosses the wire only in the passage-reassembly stage, on the
    selected subset only."""
    from mapreduce_project_spark.operators.dedup import passage_dedup
    from mapreduce_project_spark.operators.sampling import length_bucketed_batches
    from mapreduce_project_spark.operators.text import dsir_select_topk

    docs = t(spark, sf_dir, "documents")
    sel = dsir_select_topk(
        docs, "doc_id", "text", "doc_id % 50 = 0", 200
    ).select("doc_id")
    picked = docs.join(sel, "doc_id").select("doc_id", "text")
    dd = passage_dedup(picked, "doc_id", "text", 16)
    sized = dd.select(
        "doc_id", F.size(tokens("text_deduped")).cast("bigint").alias("n_tok")
    )
    return length_bucketed_batches(sized, "doc_id", "n_tok", 8)


_LEAKSAFE_ORACLE = f"""
    WITH RECURSIVE jac AS ({_JACCARD_PAIRS_ORACLE}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM jac
      UNION
      SELECT id_b AS a, id_a AS b FROM jac
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
    ),
    comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id)
    SELECT d.doc_id, d.source,
           CAST(COALESCE(c.rep, d.doc_id) AS BIGINT) AS rep_key,
           CASE WHEN substr(md5(CAST(COALESCE(c.rep, d.doc_id) AS VARCHAR)), 1, 8)
                     < '20000000'
                THEN 'test' ELSE 'train' END AS split
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    """


@query("train_test_split_leakage_safe", _LEAKSAFE_ORACLE)
def q_train_test_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/test split — the dedup-aware version of D28
    that evaluation hygiene actually requires: a near-duplicate of a
    test document sitting in train leaks the answer, so the split key
    is the document's near-dup CLUSTER representative (D27's connected
    components over MinHash-verified pairs), not the document id —
    every near-dup cluster lands wholly in one split by construction;
    unclustered documents fall back to their own id (identical
    assignment to the naive split). Same md5-bucket determinism and
    growth-stability as `train_test_split`; the cluster join is the
    only addition (id-keyed, cluster table ≪ corpus). The oracle
    composes the D27 recursive-CTE components with the split CASE;
    the straddle-prevention property is pinned in
    tests/test_training.py."""
    docs = t(spark, sf_dir, "documents")
    clusters = dedup_clusters(docs, "doc_id", "text").select("doc_id", "rep_id")
    keyed = (
        docs.select("doc_id", "source")
        .join(clusters, "doc_id", "left")
        .withColumn(
            "rep_key", F.coalesce(F.col("rep_id"), F.col("doc_id")).cast("bigint")
        )
        .drop("rep_id")
    )
    return hash_split(keyed, "rep_key", 0.125).select(
        "doc_id", "source", "rep_key", "split"
    )


_WATERFILL_ORACLE = """
    WITH dl AS (
      SELECT source,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS dlen
      FROM documents
    ),
    src AS (SELECT source, CAST(SUM(dlen) AS BIGINT) AS ti FROM dl GROUP BY source),
    tot AS (SELECT CAST(SUM(ti) AS BIGINT) AS total,
                   CAST(SUM(ti) // 2 AS BIGINT) AS budget,
                   CAST(count(*) AS BIGINT) AS m FROM src),
    ord AS (
      SELECT source, ti, 2 * ti AS cap,
             CAST(ROW_NUMBER() OVER (ORDER BY 2 * ti, source) AS BIGINT) AS k,
             CAST(COALESCE(SUM(2 * ti) OVER (ORDER BY 2 * ti, source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS pref
      FROM src
    ),
    feas AS (
      SELECT o.*, t.budget - o.pref AS rem, t.m - o.k + 1 AS cnt,
             o.cap * (t.m - o.k + 1) <= t.budget - o.pref AS is_full
      FROM ord o, tot t
    ),
    kstar AS (SELECT MIN(k) AS ks FROM feas WHERE NOT is_full),
    star AS (
      SELECT f.rem AS rem_s, f.cnt AS cnt_s,
             f.rem // f.cnt AS base, f.rem % f.cnt AS extra
      FROM feas f, kstar WHERE f.k = kstar.ks
    )
    SELECT f.source, f.ti AS tokens_available, f.cap,
           CAST(CASE
             WHEN (SELECT ks FROM kstar) IS NULL THEN f.cap
             WHEN f.k < (SELECT ks FROM kstar) THEN f.cap
             ELSE (SELECT base FROM star)
                  + CASE WHEN f.k - (SELECT ks FROM kstar) + 1
                              <= (SELECT extra FROM star)
                         THEN 1 ELSE 0 END
           END AS BIGINT) AS tokens_allocated,
           CAST(CASE
             WHEN (SELECT ks FROM kstar) IS NULL THEN f.cap
             WHEN f.k < (SELECT ks FROM kstar) THEN f.cap
             ELSE (SELECT base FROM star)
                  + CASE WHEN f.k - (SELECT ks FROM kstar) + 1
                              <= (SELECT extra FROM star)
                         THEN 1 ELSE 0 END
           END * 1000 // f.ti AS BIGINT) AS epochs_milli
    FROM feas f
    """


@query("source_token_allocation", _WATERFILL_ORACLE)
def q_source_token_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TOKEN-BUDGET allocation by exact integer
    WATER-FILLING — the data-mixture planning step every pretraining
    pipeline runs before sampling (how many tokens of each source fit
    a fixed compute budget without over-epoching any source): source i
    contributes min(cap_i, λ) tokens, cap_i = 2·T_i (max 2 epochs),
    with the level λ chosen so allocations sum to EXACTLY the budget
    (here: half the corpus' total tokens — small sources upsample to
    their cap, large sources clip at a common level). All arithmetic
    is BIGINT: sources sort by cap, the full-allocation prefix is
    {k : cap_k·(m-k+1) ≤ B - Σ_{j<k} cap_j} (a window expression —
    the standard water-filling prefix argument), the clipped tail gets
    floor(remaining/count) each with the remainder distributed one
    token apiece to the first rows in sort order, so Σ = B exactly and
    every engine agrees bit-for-bit. Plan shape: one groupBy(source)
    token count (map-side partial agg), then all decisions happen on
    the #sources-row table — window + two scalar subqueries; nothing
    corpus-sized shuffles twice."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    src = (
        docs.select("source", F.size(tokens("text")).cast("bigint").alias("dlen"))
        .groupBy("source")
        .agg(F.sum("dlen").cast("bigint").alias("ti"))
    )
    tot = src.agg(
        F.sum("ti").cast("bigint").alias("total"),
        F.expr("CAST(sum(ti) div 2 AS bigint)").alias("budget"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    w = Window.orderBy(F.col("cap"), F.col("source"))
    ordered = (
        src.withColumn("cap", F.lit(2) * F.col("ti"))
        .withColumn("k", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "pref",
            F.coalesce(
                F.sum("cap").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("bigint"),
        )
    )
    feas = ordered.crossJoin(F.broadcast(tot)).select(
        "source", "ti", "cap", "k",
        (F.col("budget") - F.col("pref")).alias("rem"),
        (F.col("m") - F.col("k") + 1).alias("cnt"),
        (F.col("cap") * (F.col("m") - F.col("k") + 1)
         <= F.col("budget") - F.col("pref")).alias("is_full"),
    )
    kstar = feas.filter(~F.col("is_full")).agg(F.min("k").alias("ks"))
    star = (
        feas.join(F.broadcast(kstar), feas["k"] == kstar["ks"])
        .select(
            F.expr("CAST(rem div cnt AS bigint)").alias("base"),
            (F.col("rem") % F.col("cnt")).alias("extra"),
            F.col("ks").alias("ks2"),
        )
    )
    alloc = (
        feas.crossJoin(F.broadcast(kstar))
        .join(F.broadcast(star), F.col("ks") == F.col("ks2"), "left")
        .select(
            "source",
            F.col("ti").alias("tokens_available"),
            "cap",
            F.when(F.col("ks").isNull(), F.col("cap"))
            .when(F.col("k") < F.col("ks"), F.col("cap"))
            .otherwise(
                F.col("base")
                + F.when(
                    F.col("k") - F.col("ks") + 1 <= F.col("extra"), F.lit(1)
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("tokens_allocated"),
        )
        .withColumn(
            "epochs_milli",
            F.expr("CAST((tokens_allocated * 1000) div tokens_available AS bigint)"),
        )
    )
    return alloc


_BLOOM_DECONTAM_ORACLE = """
    WITH grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
            FROM documents)
    ),
    lab AS (
      SELECT doc_id,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '20000000' AS is_test
      FROM documents
    ),
    bench AS (
      SELECT DISTINCT gram FROM grams JOIN lab USING (doc_id) WHERE is_test
    ),
    jj AS (SELECT unnest(generate_series(0, 2)) AS j),
    bbits AS (
      SELECT DISTINCT
             CAST('0x' || substr(md5(gram || '#' || CAST(j AS VARCHAR)), 1, 8)
                  AS BIGINT) % 262144 AS pos
      FROM bench, jj
    ),
    tg AS (
      SELECT g.doc_id, gram FROM grams g JOIN lab USING (doc_id)
      WHERE NOT is_test
    ),
    probe AS (
      SELECT doc_id, gram, COUNT(*) AS hits
      FROM (SELECT doc_id, gram,
                   CAST('0x' || substr(md5(gram || '#' || CAST(j AS VARCHAR)), 1, 8)
                        AS BIGINT) % 262144 AS pos
            FROM tg, jj) p
      JOIN bbits USING (pos)
      GROUP BY doc_id, gram
    ),
    flagged AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM probe
      WHERE hits = 3 GROUP BY doc_id
    ),
    truth AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt
      FROM tg JOIN bench USING (gram) GROUP BY doc_id
    ),
    tot AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM tg GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_grams,
           CAST(COALESCE(f.nf, 0) AS BIGINT) AS n_flagged,
           CAST(COALESCE(tr.nt, 0) AS BIGINT) AS n_true_hits
    FROM tot t
    LEFT JOIN flagged f USING (doc_id)
    LEFT JOIN truth tr USING (doc_id)
    """


@query("decontam_bloom_audit", _BLOOM_DECONTAM_ORACLE)
def q_decontam_bloom_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination audit (`operators/decontam.py:
    bloom_contamination_audit`): the constant-memory twin of D42's
    exact n-gram probe — the benchmark's 3-grams set k=3 md5-seeded
    positions in an m=262144-slot filter, every train document reports
    its total / bloom-flagged / truly-shared distinct 3-gram counts,
    and the flagged-minus-true gap IS the filter's false-positive mass,
    visible and deterministic (both engines compute identical
    positions, so even the false positives hash-match). Why it exists
    at scale: a 13-gram benchmark suite's string set can reach GBs —
    too wide to broadcast — while the bitset stays fixed-size; Spark's
    native bloom_filter_agg/might_contain is the production form, this
    formulation is its oracle-replayable audit. Same held-out md5
    split as `decontam_hits` plays the benchmark."""
    from mapreduce_project_spark.operators.decontam import (
        bloom_contamination_audit,
    )

    docs = hash_split(t(spark, sf_dir, "documents"), "doc_id", 0.125)
    train = docs.filter(F.col("split") == "train")
    test = docs.filter(F.col("split") == "test")
    return bloom_contamination_audit(train, test)


_V6_ORACLE = """
    WITH cells AS (
      SELECT c_mktsegment AS seg,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2
    ),
    kpass AS (SELECT seg, bal_band, n FROM cells WHERE n >= 5),
    lstat AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS l_bands,
             CAST(SUM(n) AS BIGINT) AS n_released
      FROM kpass GROUP BY seg
    ),
    segtot AS (SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n_total
               FROM customer GROUP BY 1),
    released AS (
      SELECT c.c_mktsegment AS seg,
             substr(md5('v6:' || CAST(c.c_custkey AS VARCHAR)), 1, 16) AS pseud
      FROM customer c
      JOIN kpass k ON k.seg = c.c_mktsegment
                 AND k.bal_band = CAST(floor(c.c_acctbal / 1000) AS BIGINT)
      JOIN lstat l ON l.seg = c.c_mktsegment AND l.l_bands >= 3
    ),
    chk AS (
      SELECT seg,
             bit_xor(CAST('0x' || substr(md5(pseud), 1, 15) AS BIGINT))
               AS release_checksum
      FROM released GROUP BY seg
    )
    SELECT l.seg AS segment, l.l_bands, l.n_released,
           CAST(t.n_total - l.n_released AS BIGINT) AS n_suppressed_k,
           CAST(1000000 AS BIGINT) AS epsilon_micro,
           CAST(l.n_released * 1000000
                + CAST(round((-sign(uu - 0.5)
                              * ln(1.0 - 2.0 * abs(uu - 0.5))) * 1000000.0)
                       AS BIGINT) AS BIGINT) AS noisy_released_micro,
           c.release_checksum
    FROM lstat l
    JOIN segtot t ON t.seg = l.seg
    JOIN chk c ON c.seg = l.seg,
    LATERAL (SELECT (CAST(CAST('0x' || substr(md5('v6dp:' || l.seg), 1, 8)
                              AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS uu) u
    WHERE l.l_bands >= 3
    ORDER BY segment
    """


@query("assemble_training_set_v6", _V6_ORACLE)
def q_assemble_training_set_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP composition, generation 6 — the GOVERNANCE-gated release
    the round-7/8 privacy operators were built for: where v5 certifies
    data HYGIENE, v6 certifies RELEASABILITY. Chain: k-anonymity gate
    (D131's cell discipline — QI = (segment, balance band), rows in
    cells below k = 5 suppressed) → l-diversity gate on the survivors
    (D205 — a segment whose released bands show l < 3 distinct
    sensitive values is wholly suppressed against the homogeneity
    attack) → pseudonymized release of the survivors (D141's keyed-md5
    pseudonyms, pepper 'v6:') → DP-shaped noisy release counts (D177's
    seeded Laplace transform, pepper 'v6dp:', with exactly that query's
    mechanism-not-privacy caveat) → dataset-card manifest (the output:
    one row per releasable segment with the gate evidence l_bands /
    n_released / n_suppressed_k, the noisy public count, and a
    D139-style order-independent XOR release checksum that pins the
    exact pseudonymized row SET without emitting it).

    Scale: the gate tables are DOMAIN-bounded (segments × ~12 balance
    bands) partial aggs, broadcast back against the customer scan — the
    full table shuffles only once, on the segment key, for the
    checksum partial agg; everything else is metadata-scale. Integer +
    md5 arithmetic end to end ⇒ hash-matched at three SFs, with the
    sf0.001 fixture exercising BOTH suppression paths for real (3 of 5
    segments l-suppressed, ~20 rows/segment k-suppressed) while
    sf0.01/0.1 release everything — the gates visibly bite only where
    the data is genuinely sparse. Composed oracle replays the D131 /
    D205 / D141 / D177 sub-oracle expressions verbatim over the same
    survivor chain; planted below-k and below-l fixtures pinned in
    tests/test_training.py."""
    c = t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_custkey").alias("custkey"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    )
    cells = c.groupBy("seg", "bal_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    kpass = cells.filter(F.col("n") >= 5)
    lstat = (
        kpass.groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("l_bands"),
            F.sum("n").cast("bigint").alias("n_released"),
        )
        .filter(F.col("l_bands") >= 3)
    )
    segtot = c.groupBy("seg").agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    released = (
        c.join(F.broadcast(kpass.select("seg", "bal_band")), ["seg", "bal_band"])
        .join(F.broadcast(lstat.select("seg")), "seg")
        .select(
            "seg",
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("v6:"), F.col("custkey").cast("string")
                    ).cast("binary")
                ),
                1,
                16,
            ).alias("pseud"),
        )
    )
    chk = released.groupBy("seg").agg(
        F.expr(
            "bit_xor(cast(conv(substr(md5(cast(pseud AS binary)), 1, 15),"
            " 16, 10) AS bigint))"
        ).alias("release_checksum")
    )
    uu = (
        F.expr(
            "cast(conv(substr(md5(cast(concat('v6dp:', seg) AS binary)),"
            " 1, 8), 16, 10) AS bigint)"
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    lap = -F.signum(uu - F.lit(0.5)) * F.log(
        F.lit(1.0) - F.lit(2.0) * F.abs(uu - F.lit(0.5))
    )
    return (
        lstat.join(segtot, "seg")
        .join(chk, "seg")
        .select(
            F.col("seg").alias("segment"),
            "l_bands",
            "n_released",
            (F.col("n_total") - F.col("n_released"))
            .cast("bigint")
            .alias("n_suppressed_k"),
            F.lit(1000000).cast("bigint").alias("epsilon_micro"),
            (
                F.col("n_released") * F.lit(1000000)
                + F.round(lap * F.lit(1000000.0), 0).cast("bigint")
            )
            .cast("bigint")
            .alias("noisy_released_micro"),
            "release_checksum",
        )
        .orderBy("segment")
    )


def _build_v5_oracle() -> str:
    from mapreduce_project_spark.plans.text_queries import (
        _MOJIBAKE_MARKER,
        _P_C1,
        _P_LATIN1,
        _P_PUNCT,
        _P_REPL,
    )

    return f"""
    WITH marked AS (
      SELECT doc_id, source, text,
             CASE WHEN doc_id % 7 = 0 THEN text || '{_MOJIBAKE_MARKER}'
                  ELSE text END AS s
      FROM documents
    ),
    clean AS (
      SELECT doc_id, source, text FROM marked
      WHERE len(regexp_extract_all(s, '{_P_LATIN1}')) = 0
        AND len(regexp_extract_all(s, '{_P_PUNCT}')) = 0
        AND len(regexp_extract_all(s, '{_P_REPL}')) = 0
        AND len(regexp_extract_all(s, '{_P_C1}')) = 0
    ),
    d AS (SELECT doc_id, source, lower(text) AS t FROM clean),
    bg AS (
      SELECT doc_id, substr(t, CAST(i AS INT), 2) AS bg
      FROM d, LATERAL unnest(generate_series(1, length(t) - 1)) AS g(i)
    ),
    bgc AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM bg GROUP BY doc_id, bg),
    counts AS (SELECT bg, SUM(cnt) AS c FROM bgc GROUP BY bg),
    scored AS (
      SELECT doc_id,
             CAST((SUM(cnt * c) * 1000000) // SUM(cnt) AS BIGINT) AS score_fp
      FROM bgc JOIN counts USING (bg)
      GROUP BY doc_id
    ),
    ranked AS (
      SELECT d.doc_id, d.source, s.score_fp,
             CAST(ntile(3) OVER (PARTITION BY d.source
                                 ORDER BY s.score_fp DESC, d.doc_id) AS BIGINT)
               AS tercile
      FROM d JOIN scored s USING (doc_id)
    )
    SELECT r.doc_id, r.source, r.score_fp,
           CASE r.tercile WHEN 1 THEN 'head' ELSE 'middle' END AS bucket,
           CAST(len(regexp_extract_all(lower(c.text), '[a-z]+')) AS BIGINT)
             AS n_tok,
           CAST('0x' || substr(md5('v5:' || CAST(r.doc_id AS VARCHAR)), 1, 8)
                AS BIGINT) % 16 AS shard
    FROM ranked r JOIN clean c ON c.doc_id = r.doc_id
    WHERE r.tercile <= 2
    """


@query("assemble_training_set_v5", _build_v5_oracle())
def q_assemble_training_set_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP composition, generation 5 — the HYGIENE-gated quality
    pipeline the round-6 operators were built for: mojibake audit
    (D174 — the planted-marker dirty docs, ~1/7 of the corpus, are
    dropped exactly as a crawl-hygiene gate would strike
    double-encoded pages) -> CCNet per-source quality terciles trained
    ON THE SURVIVORS (D173/D59 — the LM never sees the dirty text,
    which is the order CCNet itself runs its pipeline in) -> keep
    head+middle per source -> token counting + deterministic md5
    shard assignment (D79 machinery, seed 'v5'). Where v1 filters,
    v2 mixes, v4 matches a target, v5 certifies the DATA-HYGIENE
    composition: a doc reaches a shard only if it is byte-clean AND
    in its source's top two quality terciles.

    Scale: the audit is a zero-shuffle codegen'd regexp projection on
    the corpus scan; the bigram LM caches ONE per-(doc,bigram) count
    table (round-6 CSE lesson) whose frequency side broadcasts; the
    tercile window shuffles one integer row per doc on the source
    key; shard assignment is map-side md5. Text crosses the wire
    once, for the final n_tok projection. Composed oracle replays the
    D174 and D173 sub-oracles verbatim over the same survivor chain."""
    from pyspark.sql import Window

    from mapreduce_project_spark.plans.text_queries import (
        _MOJIBAKE_MARKER,
        _P_C1,
        _P_LATIN1,
        _P_PUNCT,
        _P_REPL,
    )

    docs = t(spark, sf_dir, "documents")
    s = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(_MOJIBAKE_MARKER))
    ).otherwise(F.col("text"))
    clean = (
        docs.select("doc_id", "source", "text", s.alias("s"))
        .filter(
            (F.regexp_count(F.col("s"), F.lit(_P_LATIN1)) == 0)
            & (F.regexp_count(F.col("s"), F.lit(_P_PUNCT)) == 0)
            & (F.regexp_count(F.col("s"), F.lit(_P_REPL)) == 0)
            & (F.regexp_count(F.col("s"), F.lit(_P_C1)) == 0)
        )
        .select("doc_id", "source", "text")
    )
    d = clean.select("doc_id", "source", F.lower(F.col("text")).alias("t"))
    bg = d.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(t) - 1), i -> substr(t, i, 2))")
        ).alias("bg"),
    )
    bgc = bg.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("cnt")).cache()
    counts = bgc.groupBy("bg").agg(F.sum("cnt").alias("c"))
    scored = (
        bgc.join(F.broadcast(counts), "bg")
        .groupBy("doc_id")
        .agg(F.expr("sum(cnt * c) * 1000000L div sum(cnt)").alias("score_fp"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("score_fp"), "doc_id")
    ranked = (
        d.select("doc_id", "source")
        .join(scored, "doc_id")
        .select(
            "doc_id", "source", "score_fp",
            F.ntile(3).over(w).cast("bigint").alias("tercile"),
        )
        .filter(F.col("tercile") <= 2)
    )
    shard = F.expr(
        "cast(conv(substr(md5(cast(concat('v5:', cast(doc_id AS string))"
        " AS binary)), 1, 8), 16, 10) AS bigint) % 16"
    )
    return (
        ranked.join(clean.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            "source",
            "score_fp",
            F.when(F.col("tercile") == 1, F.lit("head"))
            .otherwise(F.lit("middle"))
            .alias("bucket"),
            F.size(tokens("text")).cast("bigint").alias("n_tok"),
            shard.alias("shard"),
        )
    )


# DuckDB twin of the v7 curriculum release: replays the D252 KN and
# D247 readability sub-oracles verbatim as nested CTE subqueries over
# the identical digest-dedup -> NLL-p90-gate -> FKGL-stage chain.
def _v7_oracle() -> str:
    from mapreduce_project_spark.plans.text_queries import (
        _KN_ORACLE,
        _READABILITY_ORACLE,
    )

    return f"""
    WITH kn AS ({_KN_ORACLE}),
    rd AS ({_READABILITY_ORACLE}),
    keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    surv AS (
      SELECT d.doc_id, d.source, kn.avg_nll_micro, rd.n_words, rd.fkgl_milli
      FROM documents d
      JOIN keep ON keep.doc_id = d.doc_id
      JOIN kn ON kn.doc_id = d.doc_id
      JOIN rd ON rd.doc_id = d.doc_id
    ),
    ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM surv),
    ranked AS (
      SELECT doc_id, avg_nll_micro,
             row_number() OVER (ORDER BY avg_nll_micro, doc_id) AS rk
      FROM surv
    ),
    edge AS (
      SELECT r.avg_nll_micro AS edge_nll
      FROM ranked r CROSS JOIN ns
      WHERE r.rk = (9 * ns.n + 9) // 10
    ),
    kept AS (
      SELECT s.*,
             CASE WHEN s.fkgl_milli < 5000 THEN 1
                  WHEN s.fkgl_milli < 9000 THEN 2 ELSE 3 END AS stage
      FROM surv s CROSS JOIN edge
      WHERE s.avg_nll_micro <= edge.edge_nll
    )
    SELECT k.stage, k.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(k.n_words) AS BIGINT) AS n_tokens,
           CASE WHEN SUM(k.fkgl_milli) >= 0
                THEN CAST(SUM(k.fkgl_milli) // COUNT(*) AS BIGINT)
                ELSE -CAST((-SUM(k.fkgl_milli)) // COUNT(*) AS BIGINT)
           END AS avg_fkgl_milli,
           CAST(MAX(k.avg_nll_micro) AS BIGINT) AS max_nll_micro,
           (SELECT edge_nll FROM edge) AS edge_nll_micro,
           bit_xor(CAST('0x' || substr(md5('v7:' || CAST(k.doc_id AS VARCHAR)),
                        1, 15) AS BIGINT)) AS release_checksum
    FROM kept k
    GROUP BY k.stage, k.source
    """


# DuckDB twin of the v8 cross-modality release: nests the D252 KN and
# D247 readability sub-oracles verbatim, plus the D248 hygiene class
# ladder + Tukey fence (copied fragment, cited) as the vector gate.
def _v8_oracle() -> str:
    from mapreduce_project_spark.plans.text_queries import (
        _KN_ORACLE,
        _READABILITY_ORACLE,
    )

    return f"""
    WITH kn AS ({_KN_ORACLE}),
    rd AS ({_READABILITY_ORACLE}),
    keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    classed AS (
      -- the D248 hygiene ladder (similarity_queries._HYGIENE_ORACLE)
      SELECT vec_id,
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
    finalv AS (
      SELECT vec_id,
             CASE WHEN cls0 <> 'ok' THEN cls0
                  WHEN norm2q = 0 THEN 'zero' ELSE 'valid' END AS cls,
             norm2q
      FROM classed
    ),
    fence AS (
      SELECT CAST(4 * quantile_cont(norm2q, 0.25) AS BIGINT) AS q1_4,
             CAST(4 * quantile_cont(norm2q, 0.75) AS BIGINT) AS q3_4
      FROM finalv WHERE cls = 'valid'
    ),
    vec AS (
      SELECT vec_id AS doc_id,
             CASE WHEN cls <> 'valid' THEN 'invalid'
                  WHEN 8 * norm2q < 2 * q1_4 - 3 * (q3_4 - q1_4)
                    OR 8 * norm2q > 2 * q3_4 + 3 * (q3_4 - q1_4)
                    THEN 'outlier'
                  ELSE 'pass' END AS vstatus
      FROM finalv CROSS JOIN fence
    ),
    cand AS (
      SELECT d.doc_id, d.source, kn.avg_nll_micro, rd.n_words, rd.fkgl_milli,
             COALESCE(vec.vstatus, 'missing') AS vstatus
      FROM documents d
      JOIN keep ON keep.doc_id = d.doc_id
      JOIN kn ON kn.doc_id = d.doc_id
      JOIN rd ON rd.doc_id = d.doc_id
      LEFT JOIN vec ON vec.doc_id = d.doc_id
    ),
    drops AS (
      SELECT source,
             CAST(COUNT(*) FILTER (WHERE vstatus = 'missing') AS BIGINT)
               AS n_dropped_vec_missing,
             CAST(COUNT(*) FILTER (WHERE vstatus = 'invalid') AS BIGINT)
               AS n_dropped_vec_invalid,
             CAST(COUNT(*) FILTER (WHERE vstatus = 'outlier') AS BIGINT)
               AS n_dropped_vec_outlier
      FROM cand GROUP BY source
    ),
    passed AS (SELECT * FROM cand WHERE vstatus = 'pass'),
    ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM passed),
    ranked AS (
      SELECT doc_id, avg_nll_micro,
             row_number() OVER (ORDER BY avg_nll_micro, doc_id) AS rk
      FROM passed
    ),
    edge AS (
      SELECT r.avg_nll_micro AS edge_nll
      FROM ranked r CROSS JOIN ns
      WHERE r.rk = (9 * ns.n + 9) // 10
    ),
    kndrops AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dropped_kn
      FROM passed CROSS JOIN edge
      WHERE avg_nll_micro > edge_nll
      GROUP BY source
    ),
    kept AS (
      SELECT p.*,
             CASE WHEN p.fkgl_milli < 5000 THEN 1
                  WHEN p.fkgl_milli < 9000 THEN 2 ELSE 3 END AS stage
      FROM passed p CROSS JOIN edge
      WHERE p.avg_nll_micro <= edge.edge_nll
    )
    SELECT k.stage, k.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(k.n_words) AS BIGINT) AS n_tokens,
           CASE WHEN SUM(k.fkgl_milli) >= 0
                THEN CAST(SUM(k.fkgl_milli) // COUNT(*) AS BIGINT)
                ELSE -CAST((-SUM(k.fkgl_milli)) // COUNT(*) AS BIGINT)
           END AS avg_fkgl_milli,
           CAST(MAX(k.avg_nll_micro) AS BIGINT) AS max_nll_micro,
           (SELECT edge_nll FROM edge) AS edge_nll_micro,
           CAST(COALESCE(MIN(dr.n_dropped_vec_missing), 0) AS BIGINT)
             AS n_dropped_vec_missing,
           CAST(COALESCE(MIN(dr.n_dropped_vec_invalid), 0) AS BIGINT)
             AS n_dropped_vec_invalid,
           CAST(COALESCE(MIN(dr.n_dropped_vec_outlier), 0) AS BIGINT)
             AS n_dropped_vec_outlier,
           CAST(COALESCE(MIN(kd.n_dropped_kn), 0) AS BIGINT) AS n_dropped_kn,
           bit_xor(CAST('0x' || substr(md5('v8:' || CAST(k.doc_id AS VARCHAR)),
                        1, 15) AS BIGINT)) AS release_checksum
    FROM kept k
    LEFT JOIN drops dr ON dr.source = k.source
    LEFT JOIN kndrops kd ON kd.source = k.source
    GROUP BY k.stage, k.source
    """


def _kn_readability_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, source, avg_nll_micro, n_words, fkgl_milli)``: the
    digest-dedup survivors (min doc_id per md5 of the text) joined with
    their Kneser-Ney score (`text_kn_bigram_score`) and readability
    (`text_readability_scores`) — the shared head of the v7 and v8
    flagship compositions."""
    from pyspark.sql import Window

    from mapreduce_project_spark.plans.text_queries import (
        q_text_kn_bigram_score,
        q_text_readability_scores,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # digest-dedup survivors as ONE digest-keyed window instead of
    # groupBy(min) + join-back (same rewrite as `assemble_training_set`:
    # identical min-doc_id survivor set — doc_id unique — in one
    # exchange/one scan, and the join on `keep` disappears because the
    # windowed frame carries source directly).
    keep_docs = (
        docs.select(
            "doc_id", "source", F.md5(F.col("text").cast("binary")).alias("dg")
        )
        .withColumn(
            "_rn", F.row_number().over(Window.partitionBy("dg").orderBy("doc_id"))
        )
        .filter(F.col("_rn") == 1)
        .select("doc_id", "source")
    )
    kn = q_text_kn_bigram_score(spark, sf_dir).select("doc_id", "avg_nll_micro")
    rd = q_text_readability_scores(spark, sf_dir).select(
        "doc_id", "n_words", "fkgl_milli"
    )
    return keep_docs.join(kn, "doc_id").join(rd, "doc_id")


def _kn_p90_edge(pool: DataFrame) -> DataFrame:
    """One row, ``edge_nll``: the pool's p90 Kneser-Ney score, the
    ``avg_nll_micro`` at rank ceil(0.9 N) = (9N + 9) div 10 by
    (avg_nll_micro, doc_id)."""
    from mapreduce_project_spark.operators.windows import global_rank

    ns = pool.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = global_rank(
        pool.select("doc_id", "avg_nll_micro"), ["avg_nll_micro", "doc_id"], "rk"
    )
    return (
        ranked.crossJoin(F.broadcast(ns))
        .filter(F.expr("rk = (9 * n + 9) div 10"))
        .select(F.col("avg_nll_micro").alias("edge_nll"))
    )


def _curriculum_stages(pool: DataFrame, edge: DataFrame) -> DataFrame:
    """The pool's rows at or below the KN ``edge``, each with its
    Flesch-Kincaid curriculum ``stage``: 1 below grade 5, 2 below
    grade 9, else 3."""
    return (
        pool.crossJoin(F.broadcast(edge))
        .filter(F.col("avg_nll_micro") <= F.col("edge_nll"))
        .withColumn(
            "stage",
            F.expr(
                "case when fkgl_milli < 5000 then 1"
                " when fkgl_milli < 9000 then 2 else 3 end"
            ).cast("bigint"),
        )
    )


def _release_manifest(kept: DataFrame, pepper: str) -> DataFrame:
    """Per (stage, source) of the staged docs: doc and token budgets,
    the truncating sign-safe mean grade, the max KN score and the edge,
    and the order-independent XOR checksum of the doc ids salted with
    ``pepper``."""
    return kept.groupBy("stage", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_tokens"),
        F.expr(
            "case when sum(fkgl_milli) >= 0"
            " then cast(sum(fkgl_milli) div count(*) as bigint)"
            " else -cast((-sum(fkgl_milli)) div count(*) as bigint) end"
        ).alias("avg_fkgl_milli"),
        F.max("avg_nll_micro").cast("bigint").alias("max_nll_micro"),
        F.first("edge_nll").cast("bigint").alias("edge_nll_micro"),
        F.expr(
            f"bit_xor(cast(conv(substr(md5(cast(concat('{pepper}',"
            " cast(doc_id as string)) as binary)), 1, 15), 16, 10) as bigint))"
        ).alias("release_checksum"),
    )


@query("assemble_training_set_v8", _v8_oracle())
def q_assemble_training_set_v8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP composition, generation 8 — the first CROSS-MODALITY
    release (VERDICT r10 task 7): v7 certifies text learnability
    order; v8 requires BOTH modalities of a (document, embedding) row
    to pass their gates before a doc enters the curriculum, and
    reports per-gate drop attribution so the release manifest says
    WHY every excluded doc is out. Gate chain: exact digest dedup
    (min-doc_id survivor) → VECTOR hygiene (the D248 ladder on the
    doc's embedding joined vec_id = doc_id: class must be 'valid' AND
    inside the ×8-integer Tukey norm fence; docs with no embedding
    row drop as 'missing' — a multimodal release ships no
    text-only rows) → Kneser-Ney p90 perplexity gate (D252, edge
    rank-extracted over the JOINT-modality survivor pool) → FKGL
    curriculum staging (D247). Manifest per (stage, source): budgets,
    the truncating sign-safe mean grade, gate evidence (p90 edge, max
    NLL), per-source drop counts by cause (vec-missing / vec-invalid /
    vec-outlier / KN), and the D139 order-independent XOR checksum
    (pepper 'v8:') pinning the released doc SET.

    Composition discipline: the Spark side calls the registered D252
    and D247 queries and joins their outputs; the vector gate reuses
    the D248 class ladder + fence expressions verbatim; the oracle
    nests all three sub-oracles, so flagship parity transitively
    re-verifies each. Scale: every sub-operator is linear (their own
    SURVEY rows); the gate adds one global rank over survivors and
    ONE (stage, source) partial agg; drop accounting is one
    source-keyed partial agg over deduped candidates. The embedding
    payload never shuffles — the gate reduces each vector to a class
    string and one BIGINT norm at the scan."""
    # vector gate — the D248 hygiene ladder + fence, reduced to a
    # per-doc pass/invalid/outlier status (expressions cited from
    # q_embedding_hygiene_audit)
    nonfinite = (
        "exists(embedding, x -> isnan(cast(x as double))"
        " or cast(x as double) = cast('Infinity' as double)"
        " or cast(x as double) = cast('-Infinity' as double))"
    )
    classed = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "case when embedding is null then 'null'"
            " when size(embedding) <> 64 then 'wrong_dim'"
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
    finalv = classed.select(
        "vec_id",
        F.expr(
            "case when cls0 <> 'ok' then cls0"
            " when norm2q = 0 then 'zero' else 'valid' end"
        ).alias("cls"),
        "norm2q",
    )
    fence = finalv.filter(F.col("cls") == "valid").agg(
        F.expr("cast(4 * percentile(norm2q, 0.25) as bigint)").alias("q1_4"),
        F.expr("cast(4 * percentile(norm2q, 0.75) as bigint)").alias("q3_4"),
    )
    vec = (
        finalv.crossJoin(F.broadcast(fence))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.expr(
                "case when cls <> 'valid' then 'invalid'"
                " when 8 * norm2q < 2 * q1_4 - 3 * (q3_4 - q1_4)"
                "   or 8 * norm2q > 2 * q3_4 + 3 * (q3_4 - q1_4)"
                "   then 'outlier'"
                " else 'pass' end"
            ).alias("vstatus"),
        )
    )
    # Materialize the composition boundary ONCE with an eager
    # localCheckpoint instead of cache(): the five downstream consumers
    # (drops / ns / ranked / kndrops / kept) then plan against a flat
    # LogicalRDD leaf rather than re-analyzing the full kn+rd+vec
    # composition tree per action — cache() dedups the COMPUTATION but
    # leaves the 400+-Exchange logical plan to Catalyst on every
    # consumer, and planning time was a measured slice of this query's
    # wall-clock (guide §5 / §3.3: materializing an intermediate
    # truncates the plan). All columns are integer/string, so the
    # checkpointed rows are bit-identical to the lazy form.
    cand = (
        _kn_readability_survivors(spark, sf_dir)
        .join(vec, "doc_id", "left")
        .withColumn("vstatus", F.coalesce(F.col("vstatus"), F.lit("missing")))
        .localCheckpoint(eager=True)
    )
    drops = cand.groupBy("source").agg(
        F.expr("sum(case when vstatus = 'missing' then 1 else 0 end)")
        .cast("bigint")
        .alias("n_dropped_vec_missing"),
        F.expr("sum(case when vstatus = 'invalid' then 1 else 0 end)")
        .cast("bigint")
        .alias("n_dropped_vec_invalid"),
        F.expr("sum(case when vstatus = 'outlier' then 1 else 0 end)")
        .cast("bigint")
        .alias("n_dropped_vec_outlier"),
    )
    passed = cand.filter(F.col("vstatus") == "pass")
    edge = _kn_p90_edge(passed)
    kndrops = (
        passed.crossJoin(F.broadcast(edge))
        .filter(F.col("avg_nll_micro") > F.col("edge_nll"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dropped_kn"))
    )
    kept = _curriculum_stages(passed, edge)
    return (
        _release_manifest(kept, "v8:")
        .join(F.broadcast(drops), "source", "left")
        .join(F.broadcast(kndrops), "source", "left")
        .select(
            "stage",
            "source",
            "n_docs",
            "n_tokens",
            "avg_fkgl_milli",
            "max_nll_micro",
            "edge_nll_micro",
            F.coalesce("n_dropped_vec_missing", F.lit(0))
            .cast("bigint")
            .alias("n_dropped_vec_missing"),
            F.coalesce("n_dropped_vec_invalid", F.lit(0))
            .cast("bigint")
            .alias("n_dropped_vec_invalid"),
            F.coalesce("n_dropped_vec_outlier", F.lit(0))
            .cast("bigint")
            .alias("n_dropped_vec_outlier"),
            F.coalesce("n_dropped_kn", F.lit(0))
            .cast("bigint")
            .alias("n_dropped_kn"),
            "release_checksum",
        )
    )


@query("assemble_training_set_v7", _v7_oracle())
def q_assemble_training_set_v7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP composition, generation 7 — the CURRICULUM-ordered
    quality release built from this round's gates (v5 certifies
    hygiene, v6 releasability; v7 certifies LEARNABILITY ORDER — the
    curriculum-learning release a staged pre-training run consumes):
    exact digest dedup (md5 text, first-occurrence-wins MIN doc_id)
    → Kneser-Ney perplexity gate (D252's avg NLL; docs above the
    corpus p90 edge — rank-extracted like D244's PSI bins, ceil(0.9N)
    via (9N+9) div 10 — are dropped as LM-outlier noise) → Flesch-
    Kincaid curriculum staging (D247's fkgl_milli: stage 1 < grade 5,
    stage 2 < grade 9, stage 3 rest — easy-to-hard ordering) → a
    (stage, source) manifest with doc/token budgets, the truncating
    sign-safe mean grade, the gate evidence (p90 edge + per-cell max
    NLL ≤ edge by construction), and a D139-style order-independent
    XOR checksum (pepper 'v7:') pinning the exact released doc SET
    without emitting it.

    Composition discipline: the Spark side literally calls the D252
    and D247 registered queries and joins their outputs (operators
    compose as DataFrames — the point of the declarative surface);
    the oracle nests those operators' full sub-oracles as CTE
    subqueries, so flagship parity transitively re-verifies both.
    Scale: the sub-operators are linear (their own SURVEY rows); the
    gate adds one global rank over survivors and ONE (stage, source)
    partial agg; the manifest is metadata-scale. Docs with < 2 tokens
    have no bigram stream and are excluded by the KN join — the same
    <=1-token exclusion every LM-scoring member applies."""
    # Same composition-boundary materialization as v8: one eager
    # localCheckpoint so the three consumers (ns / ranked / kept) plan
    # against a LogicalRDD leaf instead of re-analyzing the kn+rd
    # composition subtree per action (guide §5 / §3.3).
    surv = _kn_readability_survivors(spark, sf_dir).localCheckpoint(eager=True)
    edge = _kn_p90_edge(surv)
    kept = _curriculum_stages(surv, edge)
    return _release_manifest(kept, "v7:")


# D308 (round 13): preference-PAIR assembly — the reward-model /
# DPO data-prep primitive: within each (source, lang) cohort, rank
# documents by a deterministic integer quality score and pair the
# top half against the mirrored bottom half (rank i vs rank n+1-i),
# emitting (chosen, rejected, margin). The score here is the
# alpha-character ratio (ppm) with doc_id tie-breaks — in production
# swap in any integer score column (D173 LM buckets, D247
# readability); the PAIRING algebra is what this operator owns.
_PREF_ORACLE = """
    WITH scored AS (
      SELECT source, lang, doc_id,
             CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                  * 1000000 // greatest(1, length(text)) AS BIGINT)
               AS score_ppm
      FROM documents
    ),
    ranked AS (
      SELECT source, lang, doc_id, score_ppm,
             row_number() OVER (PARTITION BY source, lang
                                ORDER BY score_ppm DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source, lang) AS n
      FROM scored
    ),
    pairs AS (
      SELECT hi.source, hi.lang,
             CAST(hi.rn AS BIGINT) AS pair_rank,
             hi.doc_id AS chosen_id, lo.doc_id AS rejected_id,
             hi.score_ppm AS chosen_score_ppm,
             lo.score_ppm AS rejected_score_ppm,
             hi.score_ppm - lo.score_ppm AS margin_ppm
      FROM ranked hi
      JOIN ranked lo ON lo.source = hi.source AND lo.lang = hi.lang
                    AND lo.rn = hi.n + 1 - hi.rn
      WHERE hi.rn * 2 <= hi.n
    )
    SELECT source, lang, pair_rank, chosen_id, rejected_id,
           chosen_score_ppm, rejected_score_ppm,
           CAST(margin_ppm AS BIGINT) AS margin_ppm
    FROM pairs
    WHERE margin_ppm > 0
    """


@query("assemble_preference_pairs", _PREF_ORACLE)
def q_assemble_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair assembly for reward-model / DPO training
    (D308) — the data-prep step between quality scoring and pairwise
    training: within each (source, lang) cohort, documents rank by a
    deterministic integer quality score (alpha-ratio ppm here; any
    integer score column plugs in) and rank i pairs with rank n+1−i —
    the mirrored-extremes scheme that maximizes per-pair margin while
    using each document at most once (no quadratic pair explosion,
    no repeated-chosen bias). Zero-margin pairs are dropped (a
    tie teaches nothing).

    Exactness: score = alpha_chars·10⁶ div total_chars (truncating;
    identical regex class both engines), pairing via two window
    functions and a self-join on the mirrored rank. Scale: one scan +
    ONE window shuffle keyed by (source, lang); the pair join is a
    self-equi-join on (source, lang, mirrored rank) — same key, so it
    reuses the window's partitioning; output is |docs|/2 rows max.
    At 100 TB the cohort cardinality bounds the window state, and a
    skewed cohort salts like any keyed window (SCALE.md)."""
    d = t(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        "lang",
        "doc_id",
        F.expr(
            "cast(length(regexp_replace(text, '[^a-zA-Z]', ''))"
            " * 1000000 div greatest(1, length(text)) as bigint)"
        ).alias("score_ppm"),
    )
    from pyspark.sql import Window

    wp = Window.partitionBy("source", "lang")
    w = wp.orderBy(F.col("score_ppm").desc(), F.col("doc_id"))
    ranked = scored.select(
        "source", "lang", "doc_id", "score_ppm",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    hi = ranked.filter(F.col("rn") * 2 <= F.col("n")).select(
        "source", "lang",
        F.col("rn").cast("bigint").alias("pair_rank"),
        F.col("doc_id").alias("chosen_id"),
        F.col("score_ppm").alias("chosen_score_ppm"),
        (F.col("n") + 1 - F.col("rn")).alias("_mirror"),
    )
    lo = ranked.select(
        F.col("source").alias("source"),
        F.col("lang").alias("lang"),
        F.col("rn").alias("_mirror"),
        F.col("doc_id").alias("rejected_id"),
        F.col("score_ppm").alias("rejected_score_ppm"),
    )
    return (
        hi.join(lo, ["source", "lang", "_mirror"])
        .select(
            "source", "lang", "pair_rank", "chosen_id", "rejected_id",
            "chosen_score_ppm", "rejected_score_ppm",
            (F.col("chosen_score_ppm") - F.col("rejected_score_ppm"))
            .cast("bigint")
            .alias("margin_ppm"),
        )
        .filter(F.col("margin_ppm") > 0)
    )

"""Text-analysis + dedup query inventory (C1/C2/C4) with DuckDB twins
for every query: MinHash+LSH hash-matches the exact-Jaccard SQL (its
verify step computes true Jaccard and band recall is total at oracle
scale), and SimHash's md5-derived sketch is recomputed verbatim by its
oracle — no rows-only checks left in this module.

Counts are cast to BIGINT on the Spark side (Spark ``size``/``length``
return INT; DuckDB ``len`` returns BIGINT — the driver compares schemas).
Score formulas avoid rounding entirely: identical operand order means
identical IEEE doubles in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_project_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from mapreduce_project_spark.operators.text import (
    bpe_token_count,
    doc_fingerprint,
    predicted_lang,
    quality_score,
    with_token_stats,
)
from mapreduce_project_spark.functions import tokens
from mapreduce_project_spark.queries_registry import query, t

_TOKS = "regexp_extract_all(lower(text), '[a-z]+')"


@query(
    "text_stats",
    f"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_measured,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS avg_token_len,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
    FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: per-document token statistics (pure codegen'd expressions)."""
    return with_token_stats(t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("bigint").alias("n_distinct_tokens"),
        F.col("n_chars_measured").cast("bigint").alias("n_chars_measured"),
        "avg_token_len",
        "ttr",
    )


@query(
    "text_quality",
    f"""
    SELECT doc_id,
           0.5 * least(CAST(len(toks) AS DOUBLE) / 100, 1.0)
         + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
         + 0.2 * least((CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)) / 8, 1.0)
           AS quality
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: deterministic quality score (length / diversity / word-length
    mix, Gopher-rule shaped). Pytest-only slot: the identical formula is
    driver-checked inside `pipeline_clean_corpus`'s oracle."""
    return t(spark, sf_dir, "documents").select(
        "doc_id", quality_score("text").alias("quality")
    )


_LANG_CASE = """
    CASE WHEN en > 0 AND en = greatest(en, de, fr, es) THEN 'en'
         WHEN de > 0 AND de = greatest(en, de, fr, es) THEN 'de'
         WHEN fr > 0 AND fr = greatest(en, de, fr, es) THEN 'fr'
         WHEN es > 0 AND es = greatest(en, de, fr, es) THEN 'es'
         ELSE 'und' END
"""


@query(
    "text_lang_id",
    f"""
    SELECT doc_id, lang, {_LANG_CASE} AS pred_lang
    FROM (
      SELECT doc_id, lang,
             len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS en,
             len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS de,
             len(list_filter(toks, x -> list_contains(['le','la','et','les','est'], x))) AS fr,
             len(list_filter(toks, x -> list_contains(['el','los','de','y','es'], x))) AS es
      FROM (SELECT doc_id, lang, {_TOKS} AS toks FROM documents)
    )
    """,
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: marker-stopword language ID with deterministic tie-break
    (placeholder for a pandas_udf fastText stage; same plumbing)."""
    return t(spark, sf_dir, "documents").select(
        "doc_id", "lang", predicted_lang("text").alias("pred_lang")
    )


@query(
    "text_token_count_bpe",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '([a-z]{1,4}|[0-9]|[^a-z0-9\\s])')) AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def q_text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: BPE-ish subword token count (regex proxy; leftmost-first
    alternation semantics agree between Java regex and RE2 here)."""
    return t(spark, sf_dir, "documents").select(
        "doc_id", bpe_token_count("text").cast("bigint").alias("n_bpe_tokens")
    )


@query(
    "doc_fingerprints",
    f"""
    SELECT doc_id, md5(array_to_string({_TOKS}, ' ')) AS fp
    FROM documents
    """,
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: canonical content fingerprint (md5 of normalized tokens)."""
    return t(spark, sf_dir, "documents").select(
        "doc_id", doc_fingerprint("text").alias("fp")
    )


@query(
    "dedup_exact",
    f"""
    SELECT md5(array_to_string({_TOKS}, ' ')) AS fp,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: exact dedup via content-digest hash-groupBy. Deterministic
    min-id representative (dropDuplicates keeps an arbitrary row). At
    100 TB the shuffle carries 32-byte digests, not documents."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", doc_fingerprint("text").alias("fp")
    )
    return exact_dedup(docs, ["fp"], "doc_id")


# The exact quadratic n-gram-Jaccard join in SQL — the ORACLE for the
# scalable LSH path: DuckDB can afford the all-pairs-sharing-a-shingle
# join at oracle scale; the declared Spark query must not run it.
_JACCARD_PAIRS_ORACLE = """
    WITH sh AS (
      SELECT doc_id AS id, unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents)
    ), sizes AS (
      SELECT id, COUNT(*) AS sz FROM sh GROUP BY id
    ), common AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jac
    FROM common
    JOIN sizes sa ON id_a = sa.id
    JOIN sizes sb ON id_b = sb.id
    WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.8
    """


@query("dedup_ngram_jaccard", _JACCARD_PAIRS_ORACLE)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 exact: all doc pairs with 3-gram Jaccard >= 0.8 via the
    quadratic shingle self-join. Pytest-only slot: quadratic in the
    hottest shingle's doc frequency, so it must never be the declared
    path — `dedup_minhash_lsh` holds the driver slot and hash-matches
    this very SQL (the fixture plants ~25 near-dup pairs at >=0.96 with
    a wide gap below, so the threshold is numerically safe
    cross-engine)."""
    return jaccard_pairs(t(spark, sf_dir, "documents"), "doc_id", "text", 3, 0.8)


@query("dedup_jaccard_prefix_filter", _JACCARD_PAIRS_ORACLE)
def q_dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 exact at scale: the SAME pair set as `dedup_ngram_jaccard`
    (identical quadratic SQL oracle, bit-wise) via the AllPairs/PPJoin
    prefix filter — each doc joins only on its globally rarest
    ``sz - ceil(0.8·sz) + 1`` shingles, so hot boilerplate shingles
    never drive the self-join fan-out. This is the 100 TB-shaped EXACT
    Jaccard path (`operators/dedup.py:prefix_filter_jaccard_pairs`);
    `dedup_minhash_lsh` remains the approximate/cheaper alternative."""
    from mapreduce_project_spark.operators.dedup import prefix_filter_jaccard_pairs

    return prefix_filter_jaccard_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", 3, 4, 5
    )


@query(
    "text_normalize",
    """
    SELECT doc_id,
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm_text,
           length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS norm_len,
           regexp_replace(text, '[0-9]+', '#', 'g') AS digits_masked
    FROM documents
    """,
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning pass: whitespace collapse + lowercasing + digit
    masking — the canonicalization step before fingerprinting (pure
    codegen'd regexp_replace, no shuffle)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("bigint").alias("norm_len"),
        F.regexp_replace(F.col("text"), "[0-9]+", "#").alias("digits_masked"),
    )


@query(
    "pipeline_clean_corpus",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    marked AS (
      SELECT doc_id, toks,
             len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS en,
             len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS de,
             len(list_filter(toks, x -> list_contains(['le','la','et','les','est'], x))) AS fr,
             len(list_filter(toks, x -> list_contains(['el','los','de','y','es'], x))) AS es
      FROM base
    ),
    scored AS (
      SELECT doc_id,
             {_LANG_CASE} AS pred_lang,
             0.5 * least(CAST(len(toks) AS DOUBLE) / 100, 1.0)
           + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
           + 0.2 * least((CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)) / 8, 1.0)
             AS quality,
             md5(array_to_string(toks, ' ')) AS fp
      FROM marked
    ),
    filt AS (SELECT * FROM scored WHERE pred_lang = 'en' AND quality >= 0.5),
    keep AS (SELECT fp, MIN(doc_id) AS doc_id FROM filt GROUP BY fp)
    SELECT f.doc_id, f.quality, f.fp FROM filt f JOIN keep USING (fp, doc_id)
    """,
)
def q_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data prep composition: language filter →
    quality threshold → exact near-dup collapse (min-id representative).
    One scan, one digest-only shuffle for the dedup, one key-join back —
    the whole chain stays declarative, so Catalyst fuses the scoring
    into the scan projection and prunes `text` before any exchange."""
    docs = t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        predicted_lang("text").alias("pred_lang"),
        quality_score("text").alias("quality"),
        doc_fingerprint("text").alias("fp"),
    ).filter((F.col("pred_lang") == "en") & (F.col("quality") >= 0.5))
    keep = scored.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return scored.join(keep, ["fp", "doc_id"]).select("doc_id", "quality", "fp")


@query(
    "tfidf_terms",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
    )
    SELECT doc_id, term, tf, df,
           CAST(tf AS DOUBLE) * (n_docs / CAST(df AS DOUBLE)) AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
    WHERE tf >= 3
    """,
)
def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: per-(doc, term) TF-IDF over the corpus. The IDF factor is the
    raw ratio n_docs/df rather than its log — IEEE division is exactly
    rounded so both engines agree bit-for-bit, where ln() is not
    correctly-rounded in either. Three shuffles (doc-term agg, term agg,
    term join) — all partial-aggregated; the corpus-size scalar joins as
    a broadcast."""
    from mapreduce_project_spark.functions import tokens

    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .filter(F.col("tf") >= 3)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.col("tf").cast("double") * (F.col("n_docs") / F.col("df").cast("double"))).alias(
                "tfidf"
            ),
        )
    )


@query("dedup_snm_pairs", _JACCARD_PAIRS_ORACLE)
def q_dedup_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 via SORTED NEIGHBORHOOD (D209) — the third candidate family
    beside LSH banding and PPJoin prefixes: sort on the first-24-char
    normalized key, compare each doc with its 3 successors, verify
    exact hashed-shingle Jaccard >= 0.8. Candidates are exactly 3·N —
    linear at ANY skew by construction. Hash-checked against the SAME
    exact quadratic SQL as `dedup_minhash_lsh` (two more different
    algorithms, one answer): measured full recall at all three SFs —
    every >=0.8 fixture pair sits within rank distance 4 of its twin
    (near-dups share openings; a doc whose FIRST LINE changed is the
    documented miss class, pinned in tests/test_dedup.py — that is
    what the MinHash family is for)."""
    from mapreduce_project_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    return sorted_neighborhood_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", 3, 24, 4, 0.8
    )


@query("dedup_minhash_lsh", _JACCARD_PAIRS_ORACLE)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 scalable near-dup path — the DECLARED one: MinHash(64) +
    LSH(16x4) band-bucket candidates, exact-Jaccard verified on the
    candidates only. No unbounded shingle self-join anywhere in the
    plan. HASH-CHECKED against the exact quadratic SQL: the verify step
    computes true Jaccard, so the result equals the exact join whenever
    band recall covers every >=0.8 pair — measured exact at sf0.01 AND
    sf0.1 (tests/test_dedup.py pins full recall; 16 bands x 4 rows
    ⇒ per-band match prob 0.8^4≈0.41, miss prob (1-0.41)^16 ≈ 2e-4
    per pair)."""
    return minhash_lsh_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", 3, 64, 16, 0.8
    ).select("id_a", "id_b", "jac")


_INCR_CRAWL_ORACLE = """
    WITH sh AS (
      SELECT doc_id AS id, unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents)
    ), sizes AS (
      SELECT id, COUNT(*) AS sz FROM sh GROUP BY id
    ), common AS (
      SELECT a.id AS new_id, b.id AS index_id, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle
      WHERE a.id % 5 = 0 AND b.id % 5 <> 0
      GROUP BY 1, 2
    )
    SELECT new_id, index_id,
           CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jac
    FROM common
    JOIN sizes sa ON new_id = sa.id
    JOIN sizes sb ON index_id = sb.id
    WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.8
    """


@query("dedup_incremental_crawl", _INCR_CRAWL_ORACLE)
def q_dedup_incremental_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 incremental: dedup a NEW crawl (doc_id ≡ 0 mod 5 plays the
    fresh snapshot) against the EXISTING corpus (the other 4/5) via the
    two-sided MinHash-LSH join (`operators/dedup.py:
    minhash_probe_pairs`). The corpus side is consumed as its
    signature index (`minhash_index_build` — in production read back
    from parquet, never rewritten; `tests/test_dedup.py` proves the
    persisted-index path byte-stable), the crawl is signed fresh with
    the same deterministic seeded family, and only band-bucket
    collisions are exact-Jaccard verified — work scales with |crawl|,
    never |corpus| text. HASH-CHECKED against the exact quadratic
    cross-corpus SQL (the same full-recall argument as
    `dedup_minhash_lsh`: 16×4 bands miss a ≥0.8 pair with p ≈ 2e-4,
    and verification computes true Jaccard)."""
    from mapreduce_project_spark.operators.dedup import (
        minhash_index_build,
        minhash_probe_pairs,
    )

    docs = t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    crawl = docs.filter(F.col("doc_id") % 5 == 0)
    index = minhash_index_build(corpus, "doc_id", "text", 3, 64)
    return minhash_probe_pairs(index, crawl, "doc_id", "text", 3, 64, 16, 0.8)


@query(
    "dedup_duplicate_spans",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk FROM documents
    ),
    w AS (
      SELECT doc_id, i AS pos, array_to_string(tk[i:i+15], ' ') AS span
      FROM toks, UNNEST(generate_series(1, len(tk) - 15)) AS t(i)
    )
    SELECT md5(span) AS digest, span,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occ,
           min(doc_id * 1000000 + pos) // 1000000 AS first_doc,
           min(doc_id * 1000000 + pos) % 1000000 AS first_pos
    FROM w
    GROUP BY md5(span), span
    HAVING count(DISTINCT doc_id) >= 2
    """,
)
def q_dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span detection (`operators/dedup.py:duplicate_spans`):
    every overlapping 16-token window fingerprinted, spans appearing in
    ≥2 distinct documents reported with counts and first occurrence —
    the boilerplate AUDIT that tells a pipeline owner what
    `dedup_passages` will remove and what stride-K passages would MISS
    (runs straddling passage boundaries). Digest-keyed shuffle with
    map-side combine; exact integer first-occurrence key ⇒
    hash-matched (~835 hot spans at sf0.01, ~8.7k at sf0.1)."""
    from mapreduce_project_spark.operators.dedup import duplicate_spans

    return duplicate_spans(t(spark, sf_dir, "documents"), "doc_id", "text", 16, 2)


@query(
    "dedup_exact_substrings",
    f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk FROM documents
    ),
    w AS (
      SELECT doc_id, i AS pos, md5(array_to_string(tk[i:i+15], ' ')) AS dg
      FROM toks, UNNEST(generate_series(1, len(tk) - 15)) AS t(i)
      WHERE len(tk) >= 16
    ),
    f AS (SELECT dg, min(doc_id * 1000000 + pos) AS fk FROM w GROUP BY dg),
    dup AS (
      SELECT doc_id, pos FROM w JOIN f USING (dg)
      WHERE doc_id * 1000000 + pos > fk
    ),
    cover AS (
      SELECT DISTINCT doc_id, pos + o AS j
      FROM dup, UNNEST(generate_series(0, 15)) AS t(o)
    ),
    tokpos AS (
      SELECT doc_id, j, tk[j] AS tok
      FROM toks, UNNEST(generate_series(1, len(tk))) AS t(j)
    ),
    kept AS (
      SELECT tp.doc_id, tp.j, tp.tok
      FROM tokpos tp LEFT JOIN cover c ON tp.doc_id = c.doc_id AND tp.j = c.j
      WHERE c.doc_id IS NULL
    ),
    reb AS (
      SELECT doc_id, array_to_string(list(tok ORDER BY j), ' ') AS text_clean,
             CAST(count(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           COALESCE(r.text_clean, '') AS text_clean,
           COALESCE(r.n_kept, 0) AS n_kept,
           CAST(len(t.tk) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
    FROM toks t LEFT JOIN reb r USING (doc_id)
    """,
)
def q_dedup_exact_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring REMOVAL (`operators/dedup.py:
    exact_substring_dedup`) — the Lee-et-al.-style transform that
    `dedup_duplicate_spans` only audits: every overlapping 16-token
    window whose content appeared earlier (corpus-wide exact integer
    first-occurrence key) is cut, survivors rejoin in order. Digest
    (32 B) and (id, pos) shuffles only — the text never crosses the
    wire until the final per-doc reassembly of KEPT tokens. Output in
    token space (doc_id, text_clean, n_kept, n_removed), fully
    integer/string ⇒ hash-matched."""
    from mapreduce_project_spark.operators.dedup import exact_substring_dedup

    return exact_substring_dedup(
        t(spark, sf_dir, "documents"), "doc_id", "text", 16
    ).withColumnRenamed("id", "doc_id")


_DSIR_BK = """
    toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk FROM documents
    ),
    bg AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
                                           i -> tk[i] || ' ' || tk[i+1])) AS bg
      FROM toks WHERE len(tk) >= 2
    ),
    bk AS (
      SELECT doc_id, CAST('0x' || substr(md5(bg), 1, 8) AS BIGINT) % 256 AS bucket
      FROM bg
    ),
    stats AS (
      SELECT bucket,
             CAST(SUM(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS target_cnt,
             CAST(SUM(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS raw_cnt
      FROM bk GROUP BY bucket
    )
    """


@query("dsir_bucket_stats", f"WITH {_DSIR_BK} SELECT * FROM stats")
def q_dsir_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection, part 1 — the hash-matchable INTEGER model
    (`operators/text.py:dsir_bucket_stats`): hashed-bigram counts of
    the target slice (doc_id ≡ 0 mod 50 plays the benchmark-like
    sample) vs the raw corpus, per md5 bucket. 256 BIGINT rows = the
    entire selection model, broadcast-sized whatever the corpus —
    the vocabulary-free importance-reweighting featurization of Xie
    et al.'s Data Selection via Importance Resampling."""
    from mapreduce_project_spark.operators.text import dsir_bucket_stats

    return dsir_bucket_stats(
        t(spark, sf_dir, "documents"), "doc_id", "text", "doc_id % 50 = 0", 256
    )


@query(
    "dsir_select_topk",
    f"""
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
    )
    SELECT doc_id, CAST(SUM(cnt * lr_fp) AS DOUBLE) / 1000000.0 AS logw
    FROM per_doc JOIN ratio USING (bucket)
    GROUP BY doc_id ORDER BY SUM(cnt * lr_fp) DESC, doc_id LIMIT 50
    """,
)
def q_dsir_select_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection, part 2 — the render
    (`operators/text.py:dsir_select_topk`): per raw document
    ``logw = Σ_b cnt·(ln p̂_target(b) − ln p̂_raw(b))`` (add-1
    smoothed), top-50 most-target-like documents. The 256-row model +
    two scalar totals broadcast; the corpus is scanned once, text
    never shuffles, TakeOrdered(50). Each ln() is quantized to a
    micro-log BIGINT before combination (operators/text.py:
    DSIR_LOG_SCALE), so the rank key is integer-exact and the query is
    hash-matchable — no float accumulation on the selection path."""
    from mapreduce_project_spark.operators.text import dsir_select_topk

    return dsir_select_topk(
        t(spark, sf_dir, "documents"), "doc_id", "text", "doc_id % 50 = 0", 256, 50
    )


# DuckDB twin of operators.dedup.simhash_chunks + simhash_pairs: the
# same md5-derived 64-bit sketch, but the ORACLE affords the all-pairs
# hamming join (O(n^2) at oracle scale) where the declared Spark plan
# uses the pigeonhole chunk join — exact for hamming <= 3 with 4 chunks
# (≤3 differing bits ⇒ ≥1 of the 4 16-bit chunks equal), so the two
# candidate generators provably produce the identical final pair set.
_SIMHASH_SUMS = ", ".join(
    f"SUM((({'hi' if b < 32 else 'lo'} >> {b % 32}) & 1) * 2 - 1) AS s{b}"
    for b in range(64)
)
_SIMHASH_CHUNKS = ", ".join(
    " + ".join(f"(CASE WHEN s{c * 16 + k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(16))
    + f" AS c{c}"
    for c in range(4)
)
_SIMHASH_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id AS id, unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents)
    ), words AS (
      SELECT id,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS hi,
             ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS lo
      FROM sh
    ), sums AS (
      SELECT id, {_SIMHASH_SUMS} FROM words GROUP BY id
    ), sk AS (
      SELECT id, {_SIMHASH_CHUNKS} FROM sums
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
              + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS INTEGER)
             AS hamming
    FROM sk a JOIN sk b ON a.id < b.id
    WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
        + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 3
    """


@query("dedup_simhash", _SIMHASH_ORACLE)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 sketch: SimHash64 pairs with Hamming <= 3 via pigeonhole chunk
    join. HASH-CHECKED: the sketch bits are md5-derived (engine-portable,
    see `simhash_chunks`), so the oracle recomputes the identical sketch
    and finds the same pairs with a plain all-pairs hamming join — the
    pigeonhole join is pure optimization, provably candidate-complete
    at hamming <= 3."""
    return simhash_pairs(t(spark, sf_dir, "documents"), "doc_id", "text", 3).select(
        "id_a", "id_b", "hamming"
    )


# --- PII redaction -------------------------------------------------
# The synthetic corpus contains no PII, so the query PLANTS a
# deterministic email/IP/phone per document (derived from doc_id) and
# then redacts it — the oracle builds the identical dirty text and
# applies the identical patterns, so the whole scrub stage is
# hash-checked end to end. The operator itself (`text.redact_pii`)
# is corpus-agnostic.
from mapreduce_project_spark.operators.text import PII_PATTERNS, pii_counts, redact_pii  # noqa: E402

_EMAIL_PAT, _IP_PAT, _PHONE_PAT = (p for _, p, _ in PII_PATTERNS)


@query(
    "text_redact_pii",
    f"""
    WITH dirty AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@mail.example.com or 10.0.'
                  || (doc_id % 256) || '.7 call +1-555-0' || (doc_id % 90 + 10)
               AS dirty
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(dirty,
               '{_EMAIL_PAT}', '<EMAIL>', 'g'),
               '{_IP_PAT}', '<IP>', 'g'),
               '{_PHONE_PAT}', '<PHONE>', 'g') AS clean,
           CAST(len(regexp_extract_all(dirty, '{_EMAIL_PAT}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(dirty, '{_IP_PAT}')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(dirty, '{_PHONE_PAT}')) AS BIGINT) AS n_phone
    FROM dirty
    """,
)
def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub stage: plant a deterministic email/IPv4/phone per doc,
    redact with `text.redact_pii` (chained codegen'd regexp_replace —
    scan-speed at 100 TB), and emit per-category audit counts."""
    docs = t(spark, sf_dir, "documents")
    dirty = docs.select(
        "doc_id",
        F.concat_ws(
            "",
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@mail.example.com or 10.0."),
            F.col("doc_id") % 256,
            F.lit(".7 call +1-555-0"),
            F.col("doc_id") % 90 + 10,
        ).alias("dirty"),
    )
    counts = pii_counts("dirty")
    return dirty.select(
        "doc_id",
        redact_pii("dirty").alias("clean"),
        counts["email"].cast("bigint").alias("n_email"),
        counts["ip"].cast("bigint").alias("n_ip"),
        counts["phone"].cast("bigint").alias("n_phone"),
    )


@query(
    "heavy_hitters_bigrams",
    """
    WITH bg AS (
      SELECT unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM (SELECT regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents)
    ),
    cnts AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY bigram)
    SELECT bigram, cnt FROM cnts
    WHERE cnt >= 0.00125 * (SELECT SUM(cnt) FROM cnts)
    """,
)
def q_heavy_hitters_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """φ=0.125% heavy-hitter token bigrams via the `approx_top_k` sketch
    (`operators/relational.py:heavy_hitters`) — the frequent-n-gram
    scan of corpus analysis (boilerplate detection, stopword-phrase
    mining). Unlike `word_count`'s full groupBy, the sketch shuffles
    one fixed-size summary per partition — at 100 TB that is KBs of
    shuffle instead of one row per distinct n-gram. Budget 65536 far
    exceeds the corpus bigram vocabulary (≤ 961 on the 31-token
    testdata vocab), so sketch counts are exact and the oracle is a
    hash match; at real scale the same plan degrades gracefully to the
    space-saving approximation."""
    from mapreduce_project_spark.functions.textfns import token_ngrams, tokens
    from mapreduce_project_spark.operators.relational import heavy_hitters

    docs = t(spark, sf_dir, "documents")
    bg = docs.select(F.explode(token_ngrams(tokens("text"), 2)).alias("bigram"))
    return heavy_hitters(bg, "bigram", phi=0.00125, k=2048, budget=65536)


@query(
    "text_repetition",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents
    ),
    tagged AS (
      SELECT doc_id, 1 AS n, unnest(t) AS gram FROM toks
      UNION ALL
      SELECT doc_id, 2, unnest(list_transform(
               generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]))
      FROM toks
      UNION ALL
      SELECT doc_id, 3, unnest(list_transform(
               generate_series(1, len(t) - 2),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      FROM toks
    ),
    counts AS (
      SELECT doc_id, n, gram, COUNT(*) AS c FROM tagged GROUP BY doc_id, n, gram
    ),
    per_n AS (
      SELECT doc_id, n, SUM(c) AS total,
             COALESCE(SUM(c) FILTER (c > 1), 0) AS dup,
             COUNT(*) AS n_distinct,
             MAX(c * length(gram)) AS max_char_mass,
             SUM(c * length(gram)) AS total_char_mass
      FROM counts GROUP BY doc_id, n
    )
    SELECT doc_id,
           MAX(CASE WHEN n = 1 THEN CAST(n_distinct AS DOUBLE) / total END)
             AS distinct_token_frac,
           MAX(CASE WHEN n = 3 THEN CAST(dup AS DOUBLE) / total END)
             AS dup_3gram_frac,
           MAX(CASE WHEN n = 2 THEN CAST(max_char_mass AS DOUBLE) / total_char_mass END)
             AS top_2gram_char_frac
    FROM per_n GROUP BY doc_id
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (`operators/text.py:
    repetition_stats`): distinct-token fraction, duplicate-3-gram mass,
    and max single-2-gram character mass per document — the "remove
    looping/boilerplate docs" stage that sits between quality scoring
    and dedup in a training pipeline. Integer-ratio metrics → IEEE-
    exact division in both engines, full hash match."""
    from mapreduce_project_spark.operators.text import repetition_stats

    return repetition_stats(t(spark, sf_dir, "documents"))


@query(
    "fuzzy_token_pairs",
    """
    WITH v AS (
      SELECT DISTINCT unnest(regexp_extract_all(lower(p_name), '[a-z]+')) AS tok
      FROM part
    )
    SELECT a.tok AS tok_a, b.tok AS tok_b,
           CAST(levenshtein(a.tok, b.tok) AS BIGINT) AS dist
    FROM v a JOIN v b ON a.tok < b.tok
    WHERE levenshtein(a.tok, b.tok) <= 1
    """,
)
def q_fuzzy_token_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 vocabulary pairs (`operators/fuzzy.py`): SymSpell
    deletion-key blocking + exact levenshtein verify — typo/variant
    mining over the part-name vocabulary (the one testdata vocabulary
    with true distance-1 neighbors, so the check is non-vacuous). The
    oracle is the quadratic cross-join spec; the Spark plan never goes
    all-pairs."""
    from mapreduce_project_spark.functions.textfns import tokens
    from mapreduce_project_spark.operators.fuzzy import fuzzy_pairs

    vocab = t(spark, sf_dir, "part").select(
        F.explode(tokens("p_name")).alias("tok")
    )
    return fuzzy_pairs(vocab, "tok")


@query(
    "text_bigram_lm_score",
    """
    WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
    bg AS (
      SELECT doc_id, substr(t, CAST(i AS INT), 2) AS bg
      FROM d, LATERAL unnest(generate_series(1, length(t) - 1)) AS g(i)
    ),
    counts AS (SELECT bg, COUNT(*) AS c FROM bg GROUP BY bg)
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS sum_freq,
           COUNT(*) AS n_bigrams,
           CAST(SUM(c) AS DOUBLE) / COUNT(*) AS avg_freq
    FROM bg JOIN counts USING (bg)
    GROUP BY doc_id
    """,
)
def q_text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical LM-style quality scoring: train corpus-level char
    bigram frequencies (pass 1), score each document by its mean bigram
    frequency (pass 2, broadcast of the ≤|alphabet|² count table) — the
    train-statistics-then-score shape of fasttext-style quality
    filters, kept in exact integer arithmetic (no float log-prob
    accumulation → order-independent, hash-matched cross-engine; a real
    deployment would swap in log-probs and tolerance-check instead).
    Bigram extraction is one codegen'd transform over a char sequence —
    no Python. At 100 TB: hash bigrams to ints before the count shuffle
    and the broadcast stays KBs."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("t")
    )
    bg = d.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(t) - 1), i -> substr(t, i, 2))")
        ).alias("bg"),
    )
    # per-(doc, bigram) counts ONCE, cached: both the corpus count
    # table and the scoring join derive from this (~docs x alphabet²
    # rows) instead of re-running the corpus-sized explode per branch
    bgc = bg.groupBy("doc_id", "bg").agg(
        F.count(F.lit(1)).alias("cnt")
    ).cache()
    counts = bgc.groupBy("bg").agg(F.sum("cnt").alias("c"))
    return (
        bgc.join(F.broadcast(counts), "bg")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("c")).alias("sum_freq"),
            F.sum("cnt").alias("n_bigrams"),
        )
        .select(
            "doc_id",
            "sum_freq",
            "n_bigrams",
            (F.col("sum_freq").cast("double") / F.col("n_bigrams")).alias("avg_freq"),
        )
    )


@query(
    "zscore_doc_length",
    f"""
    WITH sized AS (
      SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tok
      FROM documents
    ),
    stats AS (
      SELECT source,
             CAST(SUM(n_tok) AS BIGINT) AS s1,
             CAST(SUM(n_tok * n_tok) AS BIGINT) AS s2,
             COUNT(*) AS n
      FROM sized GROUP BY source
    )
    SELECT doc_id, sized.source, n_tok,
           (CAST(n_tok AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
             / sqrt(CAST(s2 AS DOUBLE) / n
                    - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
             AS z
    FROM sized JOIN stats ON sized.source = stats.source
    """,
)
def q_zscore_doc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise feature normalization: per-source z-scores of document
    token counts — the outlier/drift detector for length-based quality
    cuts. Engine-exact by construction: token counts are integers, so
    the per-group Σx and Σx² are EXACT BIGINT sums (order-independent,
    unlike float stddev accumulation); mean/variance/z then evaluate in
    one fixed IEEE operand order on exact inputs. One partial-agg
    shuffle for the stats, broadcast back onto the stream."""
    from mapreduce_project_spark.functions import tokens

    docs = t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "source", F.size(tokens("text")).cast("bigint").alias("n_tok")
    )
    stats = sized.groupBy("source").agg(
        F.sum("n_tok").alias("s1"),
        F.sum(F.col("n_tok") * F.col("n_tok")).alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    return (
        sized.join(F.broadcast(stats), "source")
        .select(
            "doc_id",
            "source",
            "n_tok",
            ((F.col("n_tok").cast("double") - mean) / F.sqrt(var)).alias("z"),
        )
    )


@query(
    "dedup_passages",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    pass AS (
      SELECT doc_id, i AS idx, array_to_string(tk[i*16+1 : i*16+16], ' ') AS p
      FROM toks, UNNEST(range(CAST(ceil(len(tk) / 16.0) AS BIGINT))) AS t(i)
    ),
    kept AS (
      SELECT doc_id, idx, p,
             row_number() OVER (PARTITION BY md5(p) ORDER BY doc_id, idx) AS rn
      FROM pass WHERE p <> ''
    )
    SELECT doc_id,
           array_to_string(list(p ORDER BY idx), ' ') AS text_deduped,
           CAST(count(*) AS BIGINT) AS n_passages_kept
    FROM kept WHERE rn = 1 GROUP BY doc_id
    """,
)
def q_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (sub-document C1): split each document
    into 16-token passages, keep only the globally-first occurrence of
    each passage (min (doc_id, idx) — deterministic), reassemble the
    surviving text per document. The "exact substring dedup" pass that
    removes repeated boilerplate across an LLM training corpus. One
    digest-keyed shuffle (md5, 32 B/row — never the passage text as
    key) + one reassembly groupBy; see `operators/dedup.py:passage_dedup`."""
    from mapreduce_project_spark.operators.dedup import passage_dedup

    return passage_dedup(t(spark, sf_dir, "documents"), "doc_id", "text", 16)


@query(
    "bpe_merge_pairs",
    f"""
    WITH toks AS (SELECT {_TOKS} AS tk FROM documents)
    SELECT a, b, CAST(count(*) AS BIGINT) AS cnt
    FROM (
      SELECT tk[i] AS a, tk[i+1] AS b
      FROM toks, UNNEST(range(1, len(tk))) AS t(i)
    )
    GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 20
    """,
)
def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: the top-20 most frequent ADJACENT token
    pairs across the corpus — the candidate-scoring step of one BPE
    merge round (at the word level; the same plan over char arrays is a
    real BPE trainer's inner loop). Explode → partial-agg groupBy →
    TakeOrdered(20): the corpus-wide count shuffles only (pair, partial
    count) rows, and the top-k never materializes a global sort —
    exactly the shape that survives 100 TB."""
    from mapreduce_project_spark.functions import tokens

    docs = t(spark, sf_dir, "documents")
    # materialize the token array in its own projection: referencing
    # the tokens() expression from size() + both transform lambdas
    # re-ran the regex per reference (measured ~2x on the sf0.1 bench)
    toks = docs.select(tokens("text").alias("tk"))
    pairs = F.when(
        F.size("tk") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("tk") - 1),
            lambda i: F.struct(
                F.element_at(F.col("tk"), i).alias("a"),
                F.element_at(F.col("tk"), i + 1).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    return (
        toks.select(F.explode(pairs).alias("pr"))
        .select("pr.a", "pr.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "a", "b")
        .limit(20)
    )


@query(
    "chunk_documents",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    sized AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0)
    SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           array_to_string(tk[i*24+1 : i*24+32], ' ') AS chunk_text,
           CAST(least(32, n - i*24) AS BIGINT) AS n_chunk_tokens
    FROM sized, UNNEST(range(CASE WHEN n <= 32 THEN 1
                             ELSE (n - 32 + 23) // 24 + 1 END)) AS t(i)
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/embedding chunking: overlapping 32-token windows at stride 24
    (8-token overlap so no boundary context is lost) — the
    document→passage explosion that precedes embedding at corpus scale.
    Pure per-row transform+explode (zero shuffle, codegen); the chunk
    count formula is closed-form integer math mirrored exactly by the
    oracle. Every chunk carries its index and true token length (the
    tail chunk is short, never padded)."""
    from mapreduce_project_spark.functions import tokens

    size, stride = 32, 24
    tok = tokens("text")
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", tok.alias("tk"), F.size(tok).alias("n")
    ).filter(F.col("n") > 0)
    n_chunks = F.when(F.col("n") <= size, F.lit(1)).otherwise(
        F.expr(f"(n - {size} + {stride - 1}) div {stride} + 1")
    )
    chunk = lambda i: F.struct(  # noqa: E731
        i.cast("int").alias("chunk_idx"),
        F.concat_ws(" ", F.slice(F.col("tk"), i * stride + 1, size)).alias(
            "chunk_text"
        ),
        F.least(F.lit(size), F.col("n") - i * stride)
        .cast("bigint")
        .alias("n_chunk_tokens"),
    )
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), (n_chunks - 1).cast("int")), chunk
                )
            ).alias("c"),
        )
        .select("doc_id", "c.chunk_idx", "c.chunk_text", "c.n_chunk_tokens")
    )


@query(
    "text_normalize_nfc",
    """
    SELECT doc_id,
           regexp_replace(
             nfc_normalize('cafe' || chr(769) || ' ' || text || chr(9)),
             '[\\x00-\\x1f\\x7f]', '', 'g') AS text_nfc
    FROM documents
    """,
)
def q_text_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode cleanup (`operators/text.py:normalize_nfc`): NFC
    composition + control-char strip — the encoding-repair step before
    any tokenizer. The fixture text is ASCII, so every row gets a
    decomposed sequence planted ('cafe' + U+0301 COMBINING ACUTE, which
    NFC must compose to 'café') plus a TAB control char (which the
    strip must remove). Python `unicodedata` and the oracle's ICU
    `nfc_normalize` implement the same standard algorithm, so outputs
    are byte-identical; the oracle strips the ASCII control range,
    matching the operator's Cc strip on this data."""
    from mapreduce_project_spark.operators.text import normalize_nfc

    docs = t(spark, sf_dir, "documents")
    planted = F.concat(
        F.lit("cafe"), F.lit("\u0301 "), F.col("text"), F.lit("\t")
    )
    return docs.select("doc_id", normalize_nfc(planted).alias("text_nfc"))


@query("text_compression_ratio", None)
def q_text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free redundancy signal (`operators/text.py:
    compression_ratio`): zlib-level-6 bytes-out/bytes-in per document —
    Gopher-style filters drop what compresses too well (template spam)
    or too poorly (binary junk). No SQL oracle (zlib is not expressible
    in DuckDB); the determinism check pins the fixed compression level,
    and the unit test pins the signal's direction on planted
    repetitive vs random text."""
    from mapreduce_project_spark.operators.text import compression_ratio

    return compression_ratio(t(spark, sf_dir, "documents"))


@query(
    "bm25_search",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dlen, tk FROM toks WHERE len(tk) > 0),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dlen) AS DOUBLE) / count(*) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf, any_value(dlen) AS dlen
      FROM (SELECT doc_id, dlen, unnest(tk) AS term FROM dl)
      WHERE term IN ('spark', 'shuffle', 'vector')
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             SUM(
               ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - df.df + 0.5)
                          / (CAST(df.df AS DOUBLE) + 0.5))
               * ((CAST(tf.tf AS DOUBLE) * 2.2)
                  / (CAST(tf.tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * (CAST(tf.dlen AS DOUBLE)
                                             / (SELECT avgdl FROM stats)))))
             ) AS score
      FROM tf JOIN df USING (term)
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed 3-term query —
    the search-scoring capability on top of the inverted-index family:
    corpus stats (N, avgdl) broadcast as scalars, per-(doc, term) TF
    from one explode+filter (the IN-list prunes before the count),
    document-frequency IDF per term, TakeOrdered top-10. PYTEST-ONLY
    comparator (never rotate into a driver slot): ln() is libm and the
    3-term float sum is order-dependent at the last ulp — both are
    absorbed by the test comparator's 1e-9 rounding, but not by a
    byte-level hash. The INTEGER sufficient statistics this render
    consumes are hash-matchable and carried by the slot-eligible
    twin `bm25_stats` below (which also pins, in pytest, that this
    query's scores are a pure function of those stats)."""
    from mapreduce_project_spark.functions import tokens

    terms = ("spark", "shuffle", "vector")
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    ).withColumn("dlen", F.size("tk").cast("bigint")).filter(F.col("dlen") > 0)
    stats = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dlen").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        docs.select("doc_id", "dlen", F.explode("tk").alias("term"))
        .filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.any_value("dlen").alias("dlen"),
        )
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tf_norm = (F.col("tf").cast("double") * F.lit(2.2)) / (
        F.col("tf").cast("double")
        + F.lit(1.2)
        * (F.lit(0.25) + F.lit(0.75) * (F.col("dlen").cast("double") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * tf_norm).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(10)
    )


@query(
    "bm25_stats",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dlen, tk FROM toks WHERE len(tk) > 0),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dlen) AS BIGINT) AS total_tokens FROM dl),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf, any_value(dlen) AS dlen
      FROM (SELECT doc_id, dlen, unnest(tk) AS term FROM dl)
      WHERE term IN ('spark', 'shuffle', 'vector')
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
    SELECT tf.doc_id, tf.term, tf.tf, tf.dlen, df.df,
           (SELECT n_docs FROM stats) AS n_docs,
           (SELECT total_tokens FROM stats) AS total_tokens
    FROM tf JOIN df USING (term)
    """,
)
def q_bm25_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INTEGER sufficient statistics behind `bm25_search` — one row
    per (doc, query-term) hit carrying everything a BM25 scorer needs:
    tf, dlen, per-term df, corpus n_docs and total_tokens (avgdl =
    total_tokens/n_docs). All BIGINT, so the whole retrieval DATA PATH
    (tokenize → explode+prune → partial-agg TF → DF roll-up → broadcast
    corpus scalars) is byte-hash-matchable and can hold a driver slot;
    only the final ln()/float render stays at pytest tolerance in
    `bm25_search`, and `tests/test_skew_and_tokens.py` pins that the
    rendered scores are a pure function of exactly these stats."""
    from mapreduce_project_spark.functions import tokens

    terms = ("spark", "shuffle", "vector")
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    ).withColumn("dlen", F.size("tk").cast("bigint")).filter(F.col("dlen") > 0)
    stats = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dlen").cast("bigint").alias("total_tokens"),
    )
    tf = (
        docs.select("doc_id", "dlen", F.explode("tk").alias("term"))
        .filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.any_value("dlen").alias("dlen"),
        )
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", "tf", "dlen", "df", "n_docs", "total_tokens")
    )


_BPE_TRAIN_ORACLE = f"""
    WITH toks0 AS (SELECT {_TOKS} AS tk FROM documents),
    pc1 AS (
      SELECT tk[i] AS l, tk[i+1] AS r, CAST(count(*) AS BIGINT) AS cnt
      FROM toks0, UNNEST(range(1, len(tk))) AS t(i)
      GROUP BY 1, 2
    ),
    top1 AS (SELECT l, r, cnt FROM pc1 ORDER BY cnt DESC, l, r LIMIT 1),
    toks1 AS (
      SELECT CASE WHEN len(tk) = 0 THEN tk
             ELSE list_reduce(
               list_transform(tk, t -> [t]),
               (acc, x) -> CASE WHEN acc[-1] = l AND x[1] = r
                           THEN list_concat(acc[1:len(acc)-1], [l || ' ' || r])
                           ELSE list_concat(acc, x) END) END AS tk
      FROM toks0, top1
    ),
    pc2 AS (
      SELECT tk[i] AS l, tk[i+1] AS r, CAST(count(*) AS BIGINT) AS cnt
      FROM toks1, UNNEST(range(1, len(tk))) AS t(i)
      GROUP BY 1, 2
    ),
    top2 AS (SELECT l, r, cnt FROM pc2 ORDER BY cnt DESC, l, r LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS rnd, l AS lhs, r AS rhs, cnt FROM top1
    UNION ALL
    SELECT CAST(2 AS BIGINT), l, r, cnt FROM top2
    """


@query("bpe_train_merges", _BPE_TRAIN_ORACLE)
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL iterative BPE training (2 rounds): count adjacent pairs →
    adopt the winner (count DESC, l, r tie-break) → greedy leftmost
    non-overlapping corpus rewrite via a pure-JVM `F.aggregate` fold →
    recount (`operators/bpe.py:bpe_train`). Returns the learned merge
    table. The rewrite needs no shuffle and no Python; only (pair,
    partial count) rows ever shuffle. The sequential fold semantics
    ("a a a" + (a,a) → ["a a", "a"]) are replayed exactly by the
    oracle's `list_reduce`, making the ITERATIVE rewrite hash-matched
    end to end — the corpus-rewrite analog of the unrolled-round
    pagerank/kmeans/linear-GD oracles. `bpe_merge_pairs` remains the
    single-round candidate-scoring view."""
    from mapreduce_project_spark.functions import tokens
    from mapreduce_project_spark.operators.bpe import bpe_train

    return bpe_train(t(spark, sf_dir, "documents"), tokens("text"), rounds=2)


@query(
    "doc_feature_vectors",
    """
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tk
      FROM documents
    ),
    b AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tk), 1, 8) AS BIGINT) % 32 AS dim
      FROM tok
    ),
    counts AS (
      SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS cnt
      FROM b GROUP BY 1, 2
    ),
    norms AS (
      SELECT doc_id, sqrt(CAST(SUM(cnt * cnt) AS DOUBLE)) AS nrm
      FROM counts GROUP BY 1
    )
    SELECT c.doc_id, c.dim, CAST(c.cnt AS DOUBLE) / n.nrm AS val
    FROM counts c JOIN norms n USING (doc_id)
    """,
)
def q_doc_feature_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing featurizer (documents → 32-dim L2-normalized
    hashed bag-of-words, sparse long form) — the vocabulary-free
    bridge from the text corpus to the C3 embedding operators
    (`operators/text.py:hashed_doc_vectors`). Integer counts + one
    correctly-rounded sqrt + one division per value make the whole
    featurization hash-match the md5-replaying oracle."""
    from mapreduce_project_spark.operators.text import hashed_doc_vectors

    return hashed_doc_vectors(t(spark, sf_dir, "documents"), "doc_id", "text", 32)


@query(
    "fuzzy_token_pairs_d2",
    """
    WITH v AS (
      SELECT DISTINCT unnest(regexp_extract_all(lower(p_name), '[a-z]+')) AS tok
      FROM part
    )
    SELECT a.tok AS tok_a, b.tok AS tok_b,
           CAST(levenshtein(a.tok, b.tok) AS BIGINT) AS dist
    FROM v a JOIN v b ON a.tok < b.tok
    WHERE levenshtein(a.tok, b.tok) <= 2
    """,
)
def q_fuzzy_token_pairs_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-2 fuzzy join via depth-2 SymSpell deletion
    neighborhoods — the same equi-join blocking as `fuzzy_token_pairs`
    with O(len²) keys per string buying distance-2 completeness
    (`operators/fuzzy.py:deletion_neighborhood`); the oracle remains
    the quadratic cross-join spec. The typo-tolerance radius most
    spell-correction and entity-resolution pipelines actually use."""
    from mapreduce_project_spark.operators.fuzzy import fuzzy_pairs

    toks = t(spark, sf_dir, "part").select(
        F.explode(F.expr("regexp_extract_all(lower(p_name), '[a-z]+', 0)")).alias("tok")
    )
    return fuzzy_pairs(toks, "tok", 2)


_BPE_ENCODE_ORACLE = f"""
    WITH toks0 AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    pc1 AS (
      SELECT tk[i] AS l, tk[i+1] AS r, CAST(count(*) AS BIGINT) AS cnt
      FROM toks0, UNNEST(range(1, len(tk))) AS t(i)
      GROUP BY 1, 2
    ),
    top1 AS (SELECT l, r FROM pc1 ORDER BY cnt DESC, l, r LIMIT 1),
    toks1 AS (
      SELECT doc_id, CASE WHEN len(tk) = 0 THEN tk
             ELSE list_reduce(
               list_transform(tk, t -> [t]),
               (acc, x) -> CASE WHEN acc[-1] = l AND x[1] = r
                           THEN list_concat(acc[1:len(acc)-1], [l || ' ' || r])
                           ELSE list_concat(acc, x) END) END AS tk
      FROM toks0, top1
    ),
    pc2 AS (
      SELECT tk[i] AS l, tk[i+1] AS r, CAST(count(*) AS BIGINT) AS cnt
      FROM toks1, UNNEST(range(1, len(tk))) AS t(i)
      GROUP BY 1, 2
    ),
    top2 AS (SELECT l, r FROM pc2 ORDER BY cnt DESC, l, r LIMIT 1),
    toks2 AS (
      SELECT doc_id, CASE WHEN len(tk) = 0 THEN tk
             ELSE list_reduce(
               list_transform(tk, t -> [t]),
               (acc, x) -> CASE WHEN acc[-1] = l AND x[1] = r
                           THEN list_concat(acc[1:len(acc)-1], [l || ' ' || r])
                           ELSE list_concat(acc, x) END) END AS tk
      FROM toks1, top2
    )
    SELECT a.doc_id,
           CAST(len(a.tk) AS BIGINT) AS n_raw,
           CAST(len(b.tk) AS BIGINT) AS n_encoded
    FROM toks0 a JOIN toks2 b USING (doc_id)
    """


@query("bpe_encode_corpus", _BPE_ENCODE_ORACLE)
def q_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer train + APPLY: the 2-round merge table from
    `bpe_train` re-applied to the corpus in learn order
    (`operators/bpe.py:bpe_apply` — k chained zero-shuffle fold
    rewrites, one generated stage), reporting per-document raw vs
    encoded token counts. The oracle replays both rewrites with
    `list_reduce`, so the entire train→encode round trip is
    hash-matched; every encoded length must shrink by exactly the
    per-doc merge occurrences."""
    from mapreduce_project_spark.functions import tokens
    from mapreduce_project_spark.operators.bpe import bpe_apply, bpe_train

    docs = t(spark, sf_dir, "documents")
    learned = bpe_train(docs, tokens("text"), rounds=2)
    merges = [(r["lhs"], r["rhs"]) for r in learned.orderBy("rnd").collect()]
    # n_raw rides the fold as a carried column: ONE corpus scan, zero
    # joins (a separate raw-count branch + doc_id join measured ~35%
    # of the query's wall time at sf0.1 for no semantic difference)
    base = docs.select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n_raw"),
        tokens("text").alias("_tk"),
    )
    enc = bpe_apply(base, F.col("_tk"), merges, carry=("doc_id", "n_raw"))
    return enc.select(
        "doc_id", "n_raw", F.size("tk").cast("bigint").alias("n_encoded")
    )


_QNORM_ORACLE = """
    WITH pooled AS (
      SELECT n_chars,
             CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS prank
      FROM documents
    ),
    per_source AS (
      SELECT doc_id, source, n_chars,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY n_chars, doc_id) AS BIGINT) AS r,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM documents
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS big_n FROM documents)
    SELECT p.doc_id, p.source, p.n_chars,
           (p.r * (SELECT big_n FROM total) + p.n - 1) // p.n AS pooled_idx,
           q.n_chars AS norm_chars
    FROM per_source p
    JOIN pooled q
      ON q.prank = (p.r * (SELECT big_n FROM total) + p.n - 1) // p.n
    """


@query("quantile_normalize_lengths", _QNORM_ORACLE)
def q_quantile_normalize_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources — map every document's
    length onto the POOLED length distribution so per-source length
    skews stop biasing mixing/packing decisions: source-local rank r
    of n maps to the pooled value at exact integer index
    ``ceil(r·N/n)``. The pooled total order comes from
    `operators/windows.py:global_rank` (range partition + offsets —
    no single-task window); the per-source rank is an ordinary keyed
    window; the mapping is one equi-join on the pooled rank. Every
    step is integer arithmetic, so the full normalization
    hash-matches."""
    from mapreduce_project_spark.operators.windows import global_rank

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    pooled = global_rank(docs.select("n_chars", "doc_id"), ["n_chars", "doc_id"], "prank")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    per_source = (
        docs.withColumn("r", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("source")).cast("bigint")
        )
    )
    big_n = docs.count()
    idx = F.expr(f"(r * {big_n}L + n - 1) div n")
    return (
        per_source.withColumn("pooled_idx", idx)
        .join(
            pooled.select(
                F.col("prank").alias("pooled_idx"),
                F.col("n_chars").alias("norm_chars"),
            ),
            "pooled_idx",
        )
        .select("doc_id", "source", "n_chars", "pooled_idx", "norm_chars")
    )


_OOV_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS tk FROM documents
    ),
    vocab AS (
      SELECT tk FROM (
        SELECT tk, count(*) AS c FROM tok GROUP BY tk
        ORDER BY c DESC, tk LIMIT 25
      )
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS oov_rate
    FROM tok LEFT JOIN vocab v USING (tk)
    GROUP BY doc_id
    """


@query("vocab_oov_rate", _OOV_ORACLE)
def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage scoring: per-document out-of-vocabulary
    rate against the corpus's own top-25 token vocabulary (count DESC,
    token tie-break — deterministic) — the coverage diagnostic run
    when sizing a tokenizer vocab or detecting domain-shifted
    documents. The vocabulary is TakeOrdered over a partial-agg count
    (never a global sort), broadcasts into a left join, and the rate
    is one exact integer division per document."""
    from mapreduce_project_spark.functions import tokens

    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tk"))
    vocab = (
        tok.groupBy("tk")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "tk")
        .limit(25)
        .select("tk", F.lit(1).alias("_in"))
    )
    return (
        tok.join(F.broadcast(vocab), "tk", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens")).alias("oov_rate"),
        )
    )


_ZIPF_ORACLE = f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS tk FROM documents),
    freq AS (SELECT tk, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tk),
    total AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM freq),
    top AS (
      SELECT tk, c, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tk) AS BIGINT) AS rnk
      FROM freq ORDER BY c DESC, tk LIMIT 30
    )
    SELECT rnk, tk, c,
           CAST(SUM(c) OVER (ORDER BY rnk) AS BIGINT) AS cum_freq,
           CAST(SUM(c) OVER (ORDER BY rnk) AS DOUBLE)
             / (SELECT t FROM total) AS cum_share
    FROM top
    """


@query(
    "corpus_drift_kl",
    """
    WITH tok AS (
      SELECT doc_id % 2 = 0 AS is_a,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tk
      FROM documents
    ),
    counts AS (
      SELECT tk AS token,
             CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
             CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
      FROM tok GROUP BY tk
    ),
    scal AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS ta,
                    CAST(SUM(cnt_b) AS BIGINT) AS tb,
                    CAST(COUNT(*) AS BIGINT) AS v FROM counts)
    SELECT token, cnt_a, cnt_b,
           (CAST(cnt_a + 1 AS DOUBLE) / (ta + v))
             * (ln(CAST(cnt_a + 1 AS DOUBLE) / (ta + v))
                - ln(CAST(cnt_b + 1 AS DOUBLE) / (tb + v))) AS contrib
    FROM counts, scal
    """,
)
def q_corpus_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus DRIFT monitor — per-token contributions to
    KL(snapshot A ‖ snapshot B) with add-1 smoothing over the union
    vocabulary (doc_id parity plays the two ingest days): the
    distribution-shift alarm a production data pipeline runs between
    crawls, and its per-token decomposition doubles as the "what
    changed" report (top |contrib| tokens = the drift explanation).
    One token-keyed partial-agg shuffle of integers; the three scalars
    broadcast; contrib is a single pinned IEEE expression per row (no
    float accumulation anywhere — the KL total is the reader's sum, so
    the report itself stays hash-checkable at comparator precision)."""
    from mapreduce_project_spark.functions import tokens

    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 2 == 0).alias("is_a"),
        F.explode(tokens("text")).alias("tk"),
    )
    counts = tok.groupBy(F.col("tk").alias("token")).agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("cnt_a"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).cast("bigint").alias("cnt_b"),
    )
    scal = counts.agg(
        F.sum("cnt_a").cast("bigint").alias("ta"),
        F.sum("cnt_b").cast("bigint").alias("tb"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    p_a = (F.col("cnt_a") + 1).cast("double") / (F.col("ta") + F.col("v"))
    p_b = (F.col("cnt_b") + 1).cast("double") / (F.col("tb") + F.col("v"))
    return counts.crossJoin(F.broadcast(scal)).select(
        "token", "cnt_a", "cnt_b", (p_a * (F.log(p_a) - F.log(p_b))).alias("contrib")
    )


@query("zipf_coverage_curve", _ZIPF_ORACLE)
def q_zipf_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf coverage curve: how much of the corpus's token mass the
    top-k vocabulary covers at each rank — the plot every tokenizer
    sizing decision reads. The frequency table reduces via partial-agg
    count; the top-30 cut is TakeOrdered (never a global sort of the
    vocabulary); the cumulative window then runs over a BOUNDED 30-row
    result, where an unpartitioned window is a constant-size driver
    concern, not a scale hazard (the module-header rule targets
    unbounded inputs). Integer cumulative sums; the share divides by
    one broadcast total."""
    from pyspark.sql import Window

    from mapreduce_project_spark.functions import tokens

    tok = t(spark, sf_dir, "documents").select(F.explode(tokens("text")).alias("tk"))
    freq = tok.groupBy("tk").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    total = freq.agg(F.sum("c").cast("bigint").alias("t"))
    top = (
        freq.orderBy(F.desc("c"), "tk")
        .limit(30)
        .withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.desc("c"), "tk")).cast("bigint"),
        )
    )
    w = Window.orderBy("rnk").rowsBetween(Window.unboundedPreceding, 0)
    return (
        top.withColumn("cum_freq", F.sum("c").over(w).cast("bigint"))
        .crossJoin(F.broadcast(total))
        .select(
            "rnk",
            "tk",
            "c",
            "cum_freq",
            (F.col("cum_freq").cast("double") / F.col("t")).alias("cum_share"),
        )
    )


_MANIFEST_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, lang, source,
             md5(array_to_string({_TOKS}, ' ')) AS fp,
             CAST(len({_TOKS}) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
           1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*) AS dup_rate,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS en_fraction,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) AS mean_tokens,
           quantile_cont(n_tok, 0.50) AS p50_tokens
    FROM d
    """


@query("corpus_manifest", _MANIFEST_ORACLE)
def q_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card readout: one row summarizing corpus health —
    document/unique-fingerprint counts and the dup rate, language and
    source coverage, token totals and central tendency — in ONE
    aggregation pass (canonical md5 fingerprints reuse `dedup_exact`'s
    digest; exact integer sums; each ratio is a single division).
    This is the summary block a corpus release publishes next to the
    data; every input to it is independently oracle-checked elsewhere,
    and here the COMPOSED readout is hash-matched too."""
    from mapreduce_project_spark.functions import tokens
    from mapreduce_project_spark.operators.text import doc_fingerprint

    d = t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        doc_fingerprint("text").alias("fp"),
        F.size(tokens("text")).cast("bigint").alias("n_tok"),
    )
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("fp").cast("bigint").alias("n_unique"),
        (
            F.lit(1.0)
            - F.countDistinct("fp").cast("double") / F.count(F.lit(1))
        ).alias("dup_rate"),
        (
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("en_fraction"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        (F.sum("n_tok").cast("double") / F.count(F.lit(1))).alias("mean_tokens"),
        F.expr("percentile(n_tok, 0.50)").alias("p50_tokens"),
    )


@query(
    "doc_novelty_scores",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk FROM documents
    ),
    w AS (
      SELECT doc_id, i AS pos, md5(array_to_string(tk[i:i+7], ' ')) AS dg
      FROM toks, UNNEST(generate_series(1, len(tk) - 7)) AS t(i)
      WHERE len(tk) >= 8
    ),
    f AS (SELECT dg, min(doc_id * 1000000 + pos) AS fk FROM w GROUP BY dg),
    j AS (
      SELECT w.doc_id,
             CASE WHEN f.fk // 1000000 = w.doc_id THEN 1 ELSE 0 END AS novel
      FROM w JOIN f USING (dg)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(novel) AS BIGINT) AS n_novel,
           CAST(SUM(novel) AS DOUBLE) / COUNT(*) AS novelty
    FROM j GROUP BY doc_id
    """,
)
def q_doc_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NOVELTY score — the data-quality signal between
    exact dedup and the drift monitor: the fraction of a document's
    overlapping 8-token windows whose content first appears in THIS
    document (corpus-wide exact integer first-occurrence key, the D147
    machinery pointed at a per-doc metric instead of a span report).
    Low novelty ⇒ the document is mostly assembled from text seen in
    earlier documents — the continuous version of "is this a dup",
    and the audit a curriculum/ordering decision reads. Digest-keyed
    MIN + one digest join; the text never shuffles; all-integer
    numerators ⇒ hash-matchable (the ratio is one division per row)."""
    return doc_novelty_frame(t(spark, sf_dir, "documents"))


def doc_novelty_frame(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", K: int = 8
) -> DataFrame:
    """Core of ``doc_novelty_scores``, factored out so the integer
    first-occurrence key guard (id < 9e12, pos < 1e6 — hard error, not
    silent collision) is testable on planted out-of-bounds fixtures."""
    from mapreduce_project_spark.functions import tokens

    base = docs.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("tk")
    ).filter(F.size("tk") >= K)
    wins = base.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tk) - {K} + 1), "
                f"i -> struct(i AS pos, md5(concat_ws(' ', slice(tk, i, {K}))) AS dg))"
            )
        ).alias("w"),
    ).select("id", F.col("w.pos").alias("pos"), F.col("w.dg").alias("dg"))
    key_guard = F.when(
        (F.col("pos") < 1000000)
        & (F.col("id") >= 0)
        & (F.col("id") < 9_000_000_000_000),
        F.col("id") * 1000000 + F.col("pos"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("doc_novelty_scores key out of bounds "
                      "(need 0 <= id < 9e12 and pos < 1e6): id="),
                F.col("id").cast("string"),
                F.lit(" pos="),
                F.col("pos").cast("string"),
            )
        )
    )
    wins = wins.withColumn("key", key_guard)
    firsts = wins.groupBy("dg").agg(F.min("key").alias("fk"))
    j = wins.join(firsts, "dg").select(
        "id",
        F.when(F.expr("fk div 1000000") == F.col("id"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("novel"),
    )
    return j.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        F.sum("novel").cast("bigint").alias("n_novel"),
        (F.sum("novel").cast("double") / F.count(F.lit(1))).alias("novelty"),
    ).withColumnRenamed("id", "doc_id")


_HYBRID_RRF_ORACLE = """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dlen, tk FROM toks WHERE len(tk) > 0),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dlen) AS DOUBLE) / count(*) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf, any_value(dlen) AS dlen
      FROM (SELECT doc_id, dlen, unnest(tk) AS term FROM dl)
      WHERE term IN ('spark', 'shuffle', 'vector')
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    lex AS (
      SELECT tf.doc_id,
             SUM(
               CAST(round(ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE)
                                    - df.df + 0.5) / (CAST(df.df AS DOUBLE) + 0.5))
                          * 1000000) AS BIGINT)
               *
               CAST(round(((CAST(tf.tf AS DOUBLE) * 2.2)
                           / (CAST(tf.tf AS DOUBLE)
                              + 1.2 * (0.25 + 0.75 * (CAST(tf.dlen AS DOUBLE)
                                                      / (SELECT avgdl FROM stats)))))
                          * 1000000) AS BIGINT)
             ) AS score_u
      FROM tf JOIN df USING (term)
      GROUP BY tf.doc_id
    ),
    lexrank AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY score_u DESC, doc_id) AS BIGINT) AS rank_lex
      FROM lex
    ),
    tok1 AS (SELECT doc_id, unnest(tk) AS tk FROM dl),
    b AS (
      SELECT doc_id, CAST('0x' || substr(md5(tk), 1, 8) AS BIGINT) % 32 AS dim
      FROM tok1
    ),
    counts AS (SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
    norms AS (SELECT doc_id, sqrt(CAST(SUM(cnt * cnt) AS DOUBLE)) AS nrm
              FROM counts GROUP BY 1),
    dv AS (SELECT c.doc_id, c.dim, CAST(c.cnt AS DOUBLE) / n.nrm AS val
           FROM counts c JOIN norms n USING (doc_id)),
    q AS (SELECT unnest(['spark', 'shuffle', 'vector']) AS term),
    qb AS (SELECT CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) % 32 AS dim FROM q),
    qc AS (SELECT dim, CAST(count(*) AS BIGINT) AS qcnt FROM qb GROUP BY 1),
    qn AS (SELECT sqrt(CAST(SUM(qcnt * qcnt) AS DOUBLE)) AS qnrm FROM qc),
    qv AS (SELECT dim, CAST(qcnt AS DOUBLE) / (SELECT qnrm FROM qn) AS qval FROM qc),
    dense AS (
      SELECT dv.doc_id,
             SUM(CAST(round(dv.val * qv.qval * 1000000000000) AS BIGINT)) AS dot_u
      FROM dv JOIN qv USING (dim)
      GROUP BY dv.doc_id
    ),
    densrank AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY dot_u DESC, doc_id) AS BIGINT) AS rank_dense
      FROM dense
    ),
    densetop AS (SELECT * FROM densrank WHERE rank_dense <= 50),
    fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             COALESCE(l.rank_lex, 0) AS rank_lex,
             COALESCE(d.rank_dense, 0) AS rank_dense,
             COALESCE(1.0 / (60 + l.rank_lex), 0.0)
               + COALESCE(1.0 / (60 + d.rank_dense), 0.0) AS rrf
      FROM lexrank l FULL OUTER JOIN densetop d ON l.doc_id = d.doc_id
    )
    SELECT doc_id, rank_lex, rank_dense, rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    """


@query("search_hybrid_rrf", _HYBRID_RRF_ORACLE)
def q_search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval with Reciprocal Rank Fusion (k=60) — the
    two-tower search shape every production stack runs (Elasticsearch
    8 / Vespa / pgvector hybrid queries): a LEXICAL ranking (BM25,
    k1=1.2, b=0.75) and a DENSE ranking (cosine against the hashed
    query vector in the D116 feature space) fused by
    rrf = 1/(60+rank_lex) + 1/(60+rank_dense), top-10.

    Hash-exactness engineering (this query CAN hold a driver slot,
    unlike the float-render `bm25_search`): both rankings order by
    INTEGERS — BM25 per-(doc,term) contributions quantize idf and the
    tf-saturation factor separately to micro-fixed-point (the proven
    micro-log trick: round(x*1e6) as BIGINT before any summation, so
    per-doc scores are exact integer sums and ranks can never flip on
    a libm ulp), and the dense dot quantizes each bucket product to
    1e-12 fixed point (<= 3 matched buckets; order-free integer sum).
    The fused rrf is one pinned two-term float expression over integer
    ranks — bit-identical across engines. Scale shape: stats
    broadcast, TF explode prunes on the term IN-list before counting,
    dense candidates are the docs sharing >= 1 of the query's <= 3
    hashed buckets (at 100 TB: an ANN candidate list instead), both
    rankings are candidate-set-sized windows, fusion is a tiny outer
    join."""
    from mapreduce_project_spark.functions import tokens as _tokens
    from mapreduce_project_spark.operators.text import hashed_doc_vectors
    from pyspark.sql import Window

    terms = ("spark", "shuffle", "vector")
    docs = t(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", _tokens("text").alias("tk"))
        .withColumn("dlen", F.size("tk").cast("bigint"))
        .filter(F.col("dlen") > 0)
    )
    stats = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dlen").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.select("doc_id", "dlen", F.explode("tk").alias("term"))
        .filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.any_value("dlen").alias("dlen"),
        )
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    idf_u = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
            / (F.col("df").cast("double") + F.lit(0.5))
        )
        * F.lit(1000000)
    ).cast("bigint")
    tfn_u = F.round(
        (F.col("tf").cast("double") * F.lit(2.2))
        / (
            F.col("tf").cast("double")
            + F.lit(1.2)
            * (F.lit(0.25) + F.lit(0.75) * (F.col("dlen").cast("double") / F.col("avgdl")))
        )
        * F.lit(1000000)
    ).cast("bigint")
    lex = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf_u * tfn_u).alias("score_u"))
    )
    lexrank = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score_u"), "doc_id"))
        .cast("bigint")
        .alias("rank_lex"),
    )
    dv = hashed_doc_vectors(docs, "doc_id", "text", 32)
    qv = (
        spark.createDataFrame([(tm,) for tm in terms], "term string")
        .select(
            F.expr(
                "cast(conv(substr(md5(cast(term AS binary)), 1, 8), 16, 10) AS bigint) % 32"
            ).alias("dim")
        )
        .groupBy("dim")
        .agg(F.count(F.lit(1)).cast("bigint").alias("qcnt"))
    )
    qn = qv.agg(F.sqrt(F.sum(F.col("qcnt") * F.col("qcnt")).cast("double")).alias("qnrm"))
    qvn = qv.crossJoin(F.broadcast(qn)).select(
        "dim", (F.col("qcnt").cast("double") / F.col("qnrm")).alias("qval")
    )
    dense = (
        dv.join(F.broadcast(qvn), "dim")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.round(F.col("val") * F.col("qval") * F.lit(1000000000000)).cast("bigint")
            ).alias("dot_u")
        )
    )
    densetop = dense.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("dot_u"), "doc_id"))
        .cast("bigint")
        .alias("rank_dense"),
    ).filter(F.col("rank_dense") <= 50)
    fused = (
        lexrank.join(densetop, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("rank_lex", F.lit(0)).cast("bigint").alias("rank_lex"),
            F.coalesce("rank_dense", F.lit(0)).cast("bigint").alias("rank_dense"),
            (
                F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rank_lex")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rank_dense")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(10)


_SPAN_CORRUPT_ORACLE = """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk FROM documents
    ),
    base AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) >= 8),
    flagged AS (
      SELECT doc_id, tk, n,
             list_transform(generate_series(1, n), i ->
               CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                                 || CAST(i AS VARCHAR)), 1, 8)
                          AS BIGINT) % 100 < 15
                    THEN 1 ELSE 0 END) AS f
      FROM base
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(list_sum(f) AS BIGINT) AS n_dropped,
           CAST(list_sum(list_transform(generate_series(1, n), i ->
                 CASE WHEN f[i] = 1 AND (i = 1 OR f[i - 1] = 0)
                      THEN 1 ELSE 0 END)) AS BIGINT) AS n_spans,
           COALESCE(array_to_string(flatten(list_transform(generate_series(1, n), i ->
             CASE WHEN f[i] = 0 THEN [tk[i]]
                  WHEN i = 1 OR f[i - 1] = 0 THEN ['<x>']
                  ELSE []::VARCHAR[] END)), ' '), '') AS corrupted_text,
           COALESCE(array_to_string(flatten(list_transform(generate_series(1, n), i ->
             CASE WHEN f[i] = 1 AND (i = 1 OR f[i - 1] = 0) THEN ['<x>', tk[i]]
                  WHEN f[i] = 1 THEN [tk[i]]
                  ELSE []::VARCHAR[] END)), ' '), '') AS target_text
    FROM flagged
    """


@query("denoise_span_corruption_pairs", _SPAN_CORRUPT_ORACLE)
def q_denoise_span_corruption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style SPAN-CORRUPTION pair builder — the denoising-objective
    training-data transform (Raffel et al. 2020): each document yields
    (corrupted_text, target_text) where a deterministic ~15% of tokens
    are dropped, each dropped RUN is replaced by one '<x>' sentinel in
    the input, and the target replays the dropped spans each prefixed
    by its sentinel. The drop decision for token i of doc d is
    md5(d:i) mod 100 < 15 — the engine-portable seeded-hash family, so
    the corruption is reproducible anywhere and the whole transform
    (strings + integers) hash-matches its SQL oracle. One projection,
    no shuffle, no Python: flags, run starts, and both renders are
    array transforms over the token sequence (run-start logic reads
    f[i-1], so consecutive drops collapse into a single span exactly
    like the T5 preprocessing). n_spans/n_dropped ship alongside for
    budget accounting."""
    from mapreduce_project_spark.functions import tokens as _tokens

    docs = t(spark, sf_dir, "documents")
    base = (
        docs.select("doc_id", _tokens("text").alias("tk"))
        .withColumn("n", F.size("tk"))
        .filter(F.col("n") >= 8)
    )
    hashi = (
        "cast(conv(substr(md5(cast(concat(cast(doc_id as string), ':', "
        "cast(i as string)) as binary)), 1, 8), 16, 10) as bigint) % 100"
    )
    flagged = base.withColumn(
        "f",
        F.expr(
            f"transform(sequence(1, n), i -> "
            f"CASE WHEN {hashi} < 15 THEN 1 ELSE 0 END)"
        ),
    )
    return flagged.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.expr("aggregate(f, 0L, (a, x) -> a + x)").alias("n_dropped"),
        F.expr(
            "aggregate(transform(sequence(1, n), i -> "
            "CASE WHEN element_at(f, i) = 1 AND (i = 1 OR element_at(f, i - 1) = 0) "
            "THEN 1 ELSE 0 END), 0L, (a, x) -> a + x)"
        ).alias("n_spans"),
        F.expr(
            "concat_ws(' ', flatten(transform(sequence(1, n), i -> "
            "CASE WHEN element_at(f, i) = 0 THEN array(element_at(tk, i)) "
            "WHEN i = 1 OR element_at(f, i - 1) = 0 THEN array('<x>') "
            "ELSE array() END)))"
        ).alias("corrupted_text"),
        F.expr(
            "concat_ws(' ', flatten(transform(sequence(1, n), i -> "
            "CASE WHEN element_at(f, i) = 1 AND (i = 1 OR element_at(f, i - 1) = 0) "
            "THEN array('<x>', element_at(tk, i)) "
            "WHEN element_at(f, i) = 1 THEN array(element_at(tk, i)) "
            "ELSE array() END)))"
        ).alias("target_text"),
    )


_SOURCE_OVERLAP_ORACLE = """
    WITH sh AS (
      SELECT doc_id AS id, unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents)
    ), sizes AS (
      SELECT id, COUNT(*) AS sz FROM sh GROUP BY id
    ), common AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ), prs AS (
      SELECT id_a, id_b
      FROM common
      JOIN sizes sa ON id_a = sa.id
      JOIN sizes sb ON id_b = sb.id
      WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.8
    ), lab AS (
      SELECT p.id_a, p.id_b,
             least(da.source, db.source) AS src_a,
             greatest(da.source, db.source) AS src_b
      FROM prs p
      JOIN documents da ON p.id_a = da.doc_id
      JOIN documents db ON p.id_b = db.doc_id
    ), grouped AS (
      SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
      FROM lab GROUP BY 1, 2
    ), dcnt AS (
      SELECT src_a, src_b, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
      FROM (SELECT src_a, src_b, unnest([id_a, id_b]) AS d FROM lab)
      GROUP BY 1, 2
    )
    SELECT g.src_a, g.src_b, g.n_pairs, d.n_docs
    FROM grouped g JOIN dcnt d USING (src_a, src_b)
    """


@query("source_overlap_matrix", _SOURCE_OVERLAP_ORACLE)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE near-dup overlap matrix — the corpus-composition
    audit run before mixing sources into a training set (which feeds
    contain copies of which, and how badly): MinHash/LSH-verified
    near-dup pairs (the C2 machinery, threshold 0.8) labeled with each
    side's source, canonicalized to an unordered source pair, with
    pair counts and the distinct documents involved. A diagonal cell
    (src, src) is internal duplication; an off-diagonal cell is
    cross-source contamination — the number a source-mixture planner
    (D169) reads before trusting per-source token counts. Pair stream
    is LSH-candidates-then-verify (never all-pairs); the source join
    broadcasts the (doc_id, source) projection; integers end-to-end ⇒
    hash-matched against the exact quadratic SQL at three SFs (same
    full-band-recall argument as `dedup_minhash_lsh`)."""
    from mapreduce_project_spark.operators.dedup import minhash_lsh_pairs

    docs = t(spark, sf_dir, "documents")
    prs = minhash_lsh_pairs(docs, "doc_id", "text", 3, 64, 16, 0.8).select(
        "id_a", "id_b"
    )
    srcs = docs.select("doc_id", "source")
    lab = (
        prs.join(
            F.broadcast(srcs.withColumnRenamed("doc_id", "id_a").withColumnRenamed("source", "sa")),
            "id_a",
        )
        .join(
            F.broadcast(srcs.withColumnRenamed("doc_id", "id_b").withColumnRenamed("source", "sb")),
            "id_b",
        )
        .select(
            "id_a", "id_b",
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
    )
    grouped = lab.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    dcnt = (
        lab.select("src_a", "src_b", F.explode(F.array("id_a", "id_b")).alias("d"))
        .groupBy("src_a", "src_b")
        .agg(F.countDistinct("d").cast("bigint").alias("n_docs"))
    )
    return grouped.join(dcnt, ["src_a", "src_b"])


_CCNET_ORACLE = """
    WITH d AS (SELECT doc_id, source, lower(text) AS t FROM documents),
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
    SELECT doc_id, source, score_fp, tercile,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                        ELSE 'tail' END AS bucket
    FROM ranked
    """


@query("ccnet_quality_buckets", _CCNET_ORACLE)
def q_ccnet_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-source quality terciles (Wenzek et al. 2020):
    score every document with the corpus-trained char-bigram LM
    (the D59 statistic — mean bigram frequency, higher = more typical
    text) and split EACH SOURCE into head/middle/tail thirds of the
    score distribution — the bucketing CCNet uses to keep head+middle
    and drop tail before LM pretraining. Per-source ntile (not a
    global cut) is the point: a clean source's tail is still dropped
    and a noisy source's head still kept, so no source dominates by
    its absolute perplexity range. Exactness: the score is quantized
    to BIGINT micro-units with truncating division (identical in both
    engines) BEFORE ranking, and the ntile order is totalized by
    doc_id — bucket boundaries can never flip on a float ulp. Plan:
    the per-(doc,bigram) count table is computed ONCE and cached
    (feeds both the corpus count table and the scoring join — the
    round-6 repeated-expression lesson), the ≤|alphabet|² frequency
    table broadcasts, and the tercile window shuffles one integer row
    per document on the source key."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.lower(F.col("text")).alias("t")
    )
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
        .agg(
            F.expr("sum(cnt * c) * 1000000L div sum(cnt)").alias("score_fp")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.desc("score_fp"), "doc_id")
    ranked = (
        d.select("doc_id", "source")
        .join(scored, "doc_id")
        .select(
            "doc_id", "source", "score_fp",
            F.ntile(3).over(w).cast("bigint").alias("tercile"),
        )
    )
    return ranked.select(
        "doc_id", "source", "score_fp", "tercile",
        F.when(F.col("tercile") == 1, F.lit("head"))
        .when(F.col("tercile") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


# In-query planted corruption: testdata text is pure ASCII, so the
# detector would be vacuous on it; docs with doc_id % 7 == 0 get a
# marker suffix carrying one of each artifact class (the same
# plant-then-detect pattern as the media decode roundtrips).
_MOJIBAKE_MARKER = " caff\u00c3\u00a8 \u00e2\u20ac\u0153quote\u00e2\u20ac\u009d \ufffd"
_P_LATIN1 = "\u00c3[^\\x00-\\x7F]"
_P_PUNCT = "\u00e2\u20ac"
_P_REPL = "\ufffd"
_P_C1 = "[\\x80-\\x9F]"

_MOJIBAKE_ORACLE = f"""
    WITH c AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || '{_MOJIBAKE_MARKER}'
                  ELSE text END AS s
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(s, '{_P_LATIN1}')) AS BIGINT) AS n_utf8_latin1,
           CAST(len(regexp_extract_all(s, '{_P_PUNCT}')) AS BIGINT) AS n_punct_mojibake,
           CAST(len(regexp_extract_all(s, '{_P_REPL}')) AS BIGINT) AS n_replacement,
           CAST(len(regexp_extract_all(s, '{_P_C1}')) AS BIGINT) AS n_c1_control,
           CAST(CASE WHEN len(regexp_extract_all(s, '{_P_LATIN1}')) = 0
                      AND len(regexp_extract_all(s, '{_P_PUNCT}')) = 0
                      AND len(regexp_extract_all(s, '{_P_REPL}')) = 0
                      AND len(regexp_extract_all(s, '{_P_C1}')) = 0
                THEN 1 ELSE 0 END AS BIGINT) AS clean
    FROM c
    """


@query("text_mojibake_audit", _MOJIBAKE_ORACLE)
def q_text_mojibake_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-artifact (mojibake) audit — the ftfy-class crawl-hygiene
    check every web corpus needs before training: per document, counts
    of (a) UTF-8-bytes-read-as-Latin-1/cp1252 artifacts (U+00C3 + a
    non-ASCII continuation, the 'caff\u00c3\u00a8' signature), (b) cp1252
    smart-punctuation mojibake (the U+00E2 U+20AC prefix family), (c)
    U+FFFD replacement characters (lossy prior transcodes), and (d)
    stray C1 control codepoints U+0080-U+009F (double-decode residue)
    — plus a per-doc clean flag. All counts are integers from single
    regexp passes over a pure projection (codegen'd, zero shuffle);
    the artifact classes compose into corpus-clean pipelines as one
    cheap map stage. Detection is the operator; the planted marker
    (docs \u2261 0 mod 7) makes the check non-vacuous on ASCII
    testdata, exactly like the media decode roundtrips plant payloads."""
    docs = t(spark, sf_dir, "documents")
    s = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(_MOJIBAKE_MARKER))
    ).otherwise(F.col("text"))
    c = docs.select("doc_id", s.alias("s"))
    n1 = F.regexp_count(F.col("s"), F.lit(_P_LATIN1))
    n2 = F.regexp_count(F.col("s"), F.lit(_P_PUNCT))
    n3 = F.regexp_count(F.col("s"), F.lit(_P_REPL))
    n4 = F.regexp_count(F.col("s"), F.lit(_P_C1))
    return c.select(
        "doc_id",
        n1.cast("bigint").alias("n_utf8_latin1"),
        n2.cast("bigint").alias("n_punct_mojibake"),
        n3.cast("bigint").alias("n_replacement"),
        n4.cast("bigint").alias("n_c1_control"),
        ((n1 == 0) & (n2 == 0) & (n3 == 0) & (n4 == 0))
        .cast("bigint")
        .alias("clean"),
    )


_PHRASE_ORACLE = f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    tg AS (
      SELECT doc_id,
             tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1]
               || ' ' || tk[CAST(i AS INT) + 2] AS ph,
             CAST(i AS BIGINT) AS pos
      FROM tk, LATERAL unnest(generate_series(1, len(tk) - 2)) AS g(i)
    ),
    top AS (
      SELECT ph FROM (SELECT ph, COUNT(*) AS c FROM tg GROUP BY ph)
      ORDER BY c DESC, ph LIMIT 1
    )
    SELECT doc_id, ph AS phrase,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(pos) AS BIGINT) AS first_pos
    FROM tg JOIN top USING (ph)
    GROUP BY doc_id, ph
    """


@query("search_phrase_positions", _PHRASE_ORACLE)
def q_search_phrase_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHRASE search over positional postings — the retrieval primitive
    BM25/RRF (D105/D167) cannot express: "these tokens, ADJACENT, in
    this order". The query phrase is corpus-derived for determinism
    (the exact most-frequent trigram, total order by count desc then
    phrase — the exact-argmax complement of D41's approximate heavy
    hitters); every document reports its match count and first match
    position (1-based), the (doc, positions) payload a highlighter or
    a proximity ranker consumes.

    Plan: positions materialize as a zero-shuffle array transform on
    the corpus scan (trigram struct per offset) — NOT a postings
    self-join: adjacent-pair matching inside the array needs no
    shuffle at all, so the only exchanges are the trigram count
    partial-agg and the 1-row broadcast of the winning phrase; at
    100 TB the corpus is scanned twice (count pass + match pass) and
    text never crosses the wire. Integers + strings end-to-end ⇒
    hash-matched at three SFs."""
    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id", tokens("text").alias("tk"))
        # size guard: sequence(1, size-2) DESCENDS to [1, 0] for <3-token
        # docs (ANSI: out-of-bounds tk[i+1] crash; non-ANSI: phantom short
        # "phrases" the oracle never emits) — same convention as
        # text_trigram_backoff_score.
        .filter(F.size("tk") >= 3)
    )
    tg = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tk) - 2), "
                "i -> struct(concat_ws(' ', tk[i-1], tk[i], tk[i+1]) AS ph,"
                " cast(i AS bigint) AS pos))"
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.ph").alias("ph"), F.col("g.pos").alias("pos"))
    top = (
        tg.groupBy("ph")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "ph")
        .limit(1)
        .select("ph")
    )
    return (
        tg.join(F.broadcast(top), "ph")
        .groupBy("doc_id", "ph")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matches"),
            F.min("pos").cast("bigint").alias("first_pos"),
        )
        .select(
            "doc_id", F.col("ph").alias("phrase"), "n_matches", "first_pos"
        )
    )


_PMI_ORACLE = f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, t.term
      FROM (SELECT doc_id, {_TOKS} AS tk FROM documents),
           LATERAL unnest(tk) AS t(term)
    ),
    dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY term),
    top AS (SELECT term, df FROM dfs ORDER BY df DESC, term LIMIT 100),
    tt AS (SELECT dt.doc_id, dt.term FROM dt JOIN top USING (term)),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd FROM dt),
    pairs AS (
      SELECT a.term AS term_a, b.term AS term_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM tt a JOIN tt b ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY a.term, b.term
    )
    SELECT term_a, term_b, n_ab, ta.df AS df_a, tb.df AS df_b,
           CAST(round(ln(CAST(n_ab AS DOUBLE)) * 1000000) AS BIGINT)
           + CAST(round(ln(CAST((SELECT nd FROM n) AS DOUBLE)) * 1000000) AS BIGINT)
           - CAST(round(ln(CAST(ta.df AS DOUBLE)) * 1000000) AS BIGINT)
           - CAST(round(ln(CAST(tb.df AS DOUBLE)) * 1000000) AS BIGINT)
             AS pmi_fp
    FROM pairs
    JOIN top ta ON ta.term = term_a
    JOIN top tb ON tb.term = term_b
    WHERE n_ab >= 5
    ORDER BY pmi_fp DESC, term_a, term_b
    LIMIT 20
    """


@query("term_pmi_top", _PMI_ORACLE)
def q_term_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLOCATION mining: top-20 term pairs by document-level pointwise
    mutual information — the statistic behind phrase induction and
    stop-pair lists (D104's session lift for CO-OCCURRING TERMS, but
    log-scored and vocabulary-pruned). Scale discipline: the pair space
    is pruned to the top-100 terms by document frequency BEFORE any
    pairing (deterministic cutoff: df desc, term asc), so the within-doc
    self-join generates <= C(100,2) pairs per doc regardless of corpus
    size — the vocabulary cutoff, not the corpus, bounds the quadratic.
    PMI ranks by the micro-log fixed-point convention (each ln of an
    integer quantized to BIGINT micro-units BEFORE the sum, so the
    top-20 cut can never flip on a libm ulp); min support n_ab >= 5.
    Plan: distinct (doc, term) explode -> df partial agg -> 100-row
    broadcast -> doc-keyed pair join -> pair partial agg; text never
    shuffles, only (doc_id, term) pairs of the pruned vocabulary."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("term")
    )
    dfs = d.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    top = dfs.orderBy(F.desc("df"), "term").limit(100)
    tt = d.join(F.broadcast(top.select("term")), "term")
    nd = d.agg(F.countDistinct("doc_id").cast("bigint").alias("nd"))
    a, b = tt.alias("a"), tt.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
               & (F.col("a.term") < F.col("b.term")))
        .groupBy(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    ta = top.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    tb = top.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    lnfp = lambda c: F.round(F.log(c.cast("double")) * 1000000, 0).cast("bigint")  # noqa: E731
    scored = (
        pairs.join(F.broadcast(ta), "term_a")
        .join(F.broadcast(tb), "term_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "term_a", "term_b", "n_ab", "df_a", "df_b",
            (
                lnfp(F.col("n_ab")) + lnfp(F.col("nd"))
                - lnfp(F.col("df_a")) - lnfp(F.col("df_b"))
            ).alias("pmi_fp"),
        )
    )
    return scored.orderBy(F.desc("pmi_fp"), "term_a", "term_b").limit(20)


_CONTAINMENT_ORACLE = """
    WITH sh AS (
      SELECT doc_id AS id, unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
            FROM documents)
    ), sizes AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id
    ), common AS (
      SELECT a.id AS ia, b.id AS ib, CAST(COUNT(*) AS BIGINT) AS o
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id <> b.id
      GROUP BY 1, 2
    )
    SELECT ia AS contained_id, ib AS container_id, o AS n_shared,
           sa.sz AS sz_contained, sb.sz AS sz_container
    FROM common
    JOIN sizes sa ON ia = sa.id
    JOIN sizes sb ON ib = sb.id
    WHERE sa.sz >= 5 AND 10 * o >= 7 * sa.sz
    """


@query("dedup_containment_pairs", _CONTAINMENT_ORACLE)
def q_dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional near-CONTAINMENT detection (|A∩B| ≥ 0.7·|A| over
    3-gram shingles, |A| ≥ 5): the asymmetric dedup question the C2
    Jaccard family cannot answer — a short doc pasted into a long one
    (quotes, boilerplate wrappers, doc inclusion) scores high
    containment but LOW Jaccard because the union is container-sized.
    Runs the PPJoin-C prefix+positional filter
    (`operators/dedup.py:containment_pairs`): the contained side joins
    on its rarest |A|−ceil(0.7|A|)+1 shingles, the container side
    indexes all of them (the asymmetry IS the semantics), every
    qualifying pair provably survives via its lowest-ordered shared
    shingle; one array_intersect verify per candidate; oracle = the
    quadratic string-shingle SQL. All-integer output, hash-matched at
    three SFs."""
    from mapreduce_project_spark.operators.dedup import containment_pairs

    return containment_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", 3, 7, 10, 5
    )


_FERTILITY_ORACLE = """
    WITH d AS (
      SELECT source,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
               AS n_words,
             CAST(len(regexp_extract_all(lower(text),
                  '([a-z]{1,4}|[0-9]|[^a-z0-9\\s])')) AS BIGINT) AS n_bpe
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(n_words) AS BIGINT) AS sum_words,
           CAST(SUM(n_bpe) AS BIGINT) AS sum_bpe,
           CAST(SUM(n_chars) * 1000 // SUM(n_bpe) AS BIGINT)
             AS chars_per_bpe_milli,
           CAST(SUM(n_bpe) * 1000 // SUM(n_words) AS BIGINT)
             AS fertility_milli
    FROM d GROUP BY source
    """


@query("tokenizer_fertility_by_source", _FERTILITY_ORACLE)
def q_tokenizer_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY audit per source — the compression telemetry
    every tokenizer/corpus pairing is judged by (tokens per word,
    chars per token): a source whose fertility spikes is either
    non-linguistic, mis-encoded, or out-of-domain for the tokenizer,
    and its COST per trained token is proportionally higher. Uses the
    same BPE-ish regex as D121's token counter and the word tokenizer
    the whole text family shares, so the ratios are comparable across
    queries; sums are exact integers, ratios land as truncating
    milli-unit divisions (engine-identical). One scan, one partial agg
    — the canonical map-side-combine shape."""
    docs = t(spark, sf_dir, "documents")
    from mapreduce_project_spark.operators.text import bpe_token_count

    d = docs.select(
        "source",
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(tokens("text")).cast("bigint").alias("n_words"),
        bpe_token_count("text").cast("bigint").alias("n_bpe"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum("n_words").cast("bigint").alias("sum_words"),
        F.sum("n_bpe").cast("bigint").alias("sum_bpe"),
        F.expr("sum(n_chars) * 1000 div sum(n_bpe)")
        .cast("bigint")
        .alias("chars_per_bpe_milli"),
        F.expr("sum(n_bpe) * 1000 div sum(n_words)")
        .cast("bigint")
        .alias("fertility_milli"),
    )


# Stupid Backoff (Brants et al., EMNLP 2007 "Large Language Models in
# Machine Translation") — the distributed-LM score designed FOR
# MapReduce-scale count tables: no discount normalization, so scoring
# needs only raw n-gram counts and a fixed 0.4 backoff penalty.
# Micro-log fixed point (each ln-of-an-integer-count quantized to
# BIGINT micro-units BEFORE summation) keeps every per-doc sum
# order-independent and hash-exact cross-engine.
_LN04_MICRO = -916291  # round(ln(0.4) * 1e6), baked identically both sides
_LNM = "CAST(round(ln(CAST({c} AS DOUBLE)) * 1000000) AS BIGINT)"

_BACKOFF_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
      FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w
    ),
    tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n FROM uni),
    big AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
      FROM (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
      ) GROUP BY w1, w2 HAVING COUNT(*) >= 2
    ),
    pos AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
      FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS s(i)
    ),
    tri AS (
      SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c3
      FROM pos GROUP BY w1, w2, w3 HAVING COUNT(*) >= 2
    ),
    grp AS (
      SELECT doc_id, w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS occ
      FROM pos GROUP BY doc_id, w1, w2, w3
    ),
    scored AS (
      SELECT g.doc_id, g.occ,
        CASE WHEN tri.c3 IS NOT NULL THEN 3
             WHEN bbo.c2 IS NOT NULL THEN 2 ELSE 1 END AS lvl,
        CASE WHEN tri.c3 IS NOT NULL THEN
               {_LNM.format(c='tri.c3')} - {_LNM.format(c='bctx.c2')}
             WHEN bbo.c2 IS NOT NULL THEN
               {_LN04_MICRO} + {_LNM.format(c='bbo.c2')}
               - {_LNM.format(c='u2.c1')}
             ELSE
               {2 * _LN04_MICRO} + {_LNM.format(c='u3.c1')}
               - {_LNM.format(c='(SELECT n FROM tot)')}
        END AS s_micro
      FROM grp g
      LEFT JOIN tri ON tri.w1 = g.w1 AND tri.w2 = g.w2 AND tri.w3 = g.w3
      LEFT JOIN big bctx ON bctx.w1 = g.w1 AND bctx.w2 = g.w2
      LEFT JOIN big bbo ON bbo.w1 = g.w2 AND bbo.w2 = g.w3
      JOIN uni u2 ON u2.w = g.w2
      JOIN uni u3 ON u3.w = g.w3
    )
    SELECT doc_id,
           CAST(SUM(occ) AS BIGINT) AS n_tri,
           CAST(SUM(occ * s_micro) AS BIGINT) AS sum_score_micro,
           CAST(SUM(occ * s_micro) // SUM(occ) AS BIGINT) AS avg_score_micro,
           CAST(SUM(CASE WHEN lvl = 3 THEN occ ELSE 0 END) AS BIGINT) AS n_hit3,
           CAST(SUM(CASE WHEN lvl = 2 THEN occ ELSE 0 END) AS BIGINT) AS n_hit2,
           CAST(SUM(CASE WHEN lvl = 1 THEN occ ELSE 0 END) AS BIGINT) AS n_hit1
    FROM scored GROUP BY doc_id
    """


@query("text_trigram_backoff_score", _BACKOFF_ORACLE)
def q_text_trigram_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-Backoff trigram LM scoring (Brants et al., EMNLP 2007) —
    the distributed-LM design point the bigram-frequency score (D59)
    and DSIR (D148) sit either side of: train trigram/bigram/unigram
    count tables from the corpus itself (trigrams and bigrams pruned
    at count >= 2 — the antimonotone lattice guarantees a surviving
    trigram's context bigram also survives), then score every document
    position with S(w3|w1,w2) = c3/c2 if the trigram is known, else
    0.4 * c2(w2,w3)/c1(w2) if the bigram is, else 0.4^2 * c1(w3)/N.
    Every term is a micro-quantized ln of an exact BIGINT count, so
    per-doc sums are order-independent integers and the oracle
    hash-matches (the D148 discipline); per-level hit counts keep the
    backoff distribution auditable. Scale shape: count tables are
    plain partial-agg shuffles; scoring is the per-doc DISTINCT
    trigram stream (occ-weighted, so repeated trigrams join once)
    hash-joined against the three count tables — at 100 TB the grams
    travel as xxhash64 bigints and the pruned tables shard-join;
    nothing is corpus-quadratic and no Python runs.
    Reference anchor: generalizes the reference's word-count pipeline
    (mapreduce-project `test.py` word_count) into its published
    descendant — n-gram LM training as pure count aggregation."""
    # Tokenize ONCE: five count/score branches consume this projection
    # (uni, ntot, big, tri, the per-doc stream); uncached, each branch
    # re-scans + re-regexes the corpus (measured 7 scans, 0 reused
    # exchanges). Same discipline as bgc above; sweeps/bench clear the
    # cache per query. At 100 TB this is the "tokenize, persist, then
    # count n-grams over it" staging every distributed LM build uses.
    d = t(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("t")
    ).cache()
    uni = (
        d.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    )
    ntot = uni.agg(F.sum("c1").cast("bigint").alias("n_total"))
    big = (
        d.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), i -> "
                    "struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
        .filter(F.col("c2") >= 2)
    )
    pos = (
        d.filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 2), i -> struct("
                    "element_at(t, i) AS w1, element_at(t, i + 1) AS w2, "
                    "element_at(t, i + 2) AS w3))"
                )
            ).alias("g"),
        )
        .select("doc_id", "g.w1", "g.w2", "g.w3")
    )
    tri = (
        pos.groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c3"))
        .filter(F.col("c3") >= 2)
    )
    grp = pos.groupBy("doc_id", "w1", "w2", "w3").agg(
        F.count(F.lit(1)).cast("bigint").alias("occ")
    )

    def lnm(c: str):
        return F.expr(_LNM.format(c=c))

    scored = (
        grp.join(tri, ["w1", "w2", "w3"], "left")
        .join(
            big.select("w1", "w2", F.col("c2").alias("c2ctx")),
            ["w1", "w2"],
            "left",
        )
        .join(
            big.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("c2").alias("c2bo"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1w2")), ["w2"])
        .join(uni.select(F.col("w").alias("w3"), F.col("c1").alias("c1w3")), ["w3"])
        .crossJoin(F.broadcast(ntot))
        .select(
            "doc_id",
            "occ",
            F.when(F.col("c3").isNotNull(), F.lit(3))
            .when(F.col("c2bo").isNotNull(), F.lit(2))
            .otherwise(F.lit(1))
            .alias("lvl"),
            F.when(F.col("c3").isNotNull(), lnm("c3") - lnm("c2ctx"))
            .when(
                F.col("c2bo").isNotNull(),
                F.lit(_LN04_MICRO) + lnm("c2bo") - lnm("c1w2"),
            )
            .otherwise(
                F.lit(2 * _LN04_MICRO) + lnm("c1w3") - lnm("n_total")
            )
            .alias("s_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("occ").cast("bigint").alias("n_tri"),
        F.sum(F.col("occ") * F.col("s_micro")).cast("bigint").alias("sum_score_micro"),
        F.expr("sum(occ * s_micro) div sum(occ)")
        .cast("bigint")
        .alias("avg_score_micro"),
        F.sum(F.when(F.col("lvl") == 3, F.col("occ")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_hit3"),
        F.sum(F.when(F.col("lvl") == 2, F.col("occ")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_hit2"),
        F.sum(F.when(F.col("lvl") == 1, F.col("occ")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_hit1"),
    )


_ENTROPY_ORACLE = f"""
    WITH tok AS (
      SELECT source, unnest({_TOKS}) AS w FROM documents
    ),
    counts AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, w
    ),
    agg AS (
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000)
                               AS BIGINT)) AS BIGINT) AS sum_c_lnc
      FROM counts GROUP BY source
    )
    SELECT source, n_tokens, n_types, sum_c_lnc,
           CAST(CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
                - sum_c_lnc // n_tokens AS BIGINT) AS entropy_micro,
           CAST(CASE WHEN n_types > 1 THEN
                  (CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
                   - sum_c_lnc // n_tokens) * 1000000
                  // CAST(round(ln(CAST(n_types AS DOUBLE)) * 1000000) AS BIGINT)
                ELSE 0 END AS BIGINT) AS evenness_micro
    FROM agg
    """


@query("token_entropy_by_source", _ENTROPY_ORACLE)
def q_token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon token entropy per source — the diversity telemetry next
    to the drift KL (D153) and fertility (D189) audits: a source whose
    entropy collapses is boilerplate/templated (low training value per
    token), one whose evenness H/ln(V) spikes toward 1 is noise-like.
    H = ln(N) − Σ c·ln(c) / N, computed entirely in micro-log fixed
    point (each ln-of-an-integer quantized to BIGINT micro-units
    BEFORE the Σ c·lnµ(c) sum — order-independent, hash-exact; the
    divisions are truncating BIGINT). One token explode + one
    (source, token) partial agg + one per-source rollup — the word-
    count shuffle shape, nothing quadratic. Hash-matched at three SFs;
    planted uniform (H = ln V exactly) and single-token (H = 0)
    corners pinned."""
    d = t(spark, sf_dir, "documents").select(
        "source", F.explode(tokens("text")).alias("w")
    )
    counts = d.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    lnm = lambda c: F.expr(  # noqa: E731
        f"CAST(round(ln(CAST({c} AS DOUBLE)) * 1000000) AS BIGINT)"
    )
    agg = counts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.col("c") * lnm("c")).cast("bigint").alias("sum_c_lnc"),
    )
    return agg.select(
        "source", "n_tokens", "n_types", "sum_c_lnc",
        (lnm("n_tokens") - F.expr("sum_c_lnc div n_tokens"))
        .cast("bigint")
        .alias("entropy_micro"),
        F.expr(
            "CASE WHEN n_types > 1 THEN"
            " (CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)"
            " - sum_c_lnc div n_tokens) * 1000000"
            " div CAST(round(ln(CAST(n_types AS DOUBLE)) * 1000000) AS BIGINT)"
            " ELSE 0 END"
        )
        .cast("bigint")
        .alias("evenness_micro"),
    )


# The k-gram hash shared by both engines (round-11, replacing the md5
# hex-bridge that dominated the query's sf0.1 wall — VERDICT r10 task
# 5): the normalized alphabet is exactly [a-z], so the 8-gram encodes
# INJECTIVELY as base-26 (code < 26^8 ~ 2.09e11), then one
# multiply-mod-Mersenne61 scrambles the order the min-selection sees.
# max(code)*M = 9.1889e18 < 2^63-1, so the product never overflows;
# both operands non-negative, so Spark % and DuckDB % agree. Pure
# integer codegen on both engines — no digest, no hex parse.
_WINNOW_MIX = 44002859
_WINNOW_MOD = 2305843009213693951  # 2^61 - 1


def _winnow_hash(s: str, j: str, cast_int: bool) -> str:
    """The unrolled base-26 encode + mix, rendered for either engine
    (DuckDB substr needs INT positions; Spark takes BIGINT). Every
    digit weight is CAST to BIGINT explicitly: ascii() is INT and the
    small powers of 26 parse as INT32, so an uncast product would run
    in 32-bit arithmetic and overflow at d >= 6 (25 * 26^6 > 2^31)."""
    pos = (f"CAST({j} + {{d}} AS INT)" if cast_int else f"{j} + {{d}}")
    code = " + ".join(
        f"(ascii(substr({s}, {pos.format(d=d)}, 1)) - 97)"
        f" * CAST({26 ** d} AS BIGINT)"
        for d in range(8)
    )
    return f"(({code}) * CAST({_WINNOW_MIX} AS BIGINT)) % {_WINNOW_MOD}"


def _winnow_hash_arr() -> str:
    """The Spark-side form of the same hash: all per-position hashes in
    ONE transform over the doc's char-code array `a` (posexplode'd by
    the caller). MEASURED (round-11 A/B at sf0.1): per-position
    ``substr(s, j+d, 1)`` is an O(j) codepoint scan from the string
    start in Spark's UTF8String, so the unrolled-substr form was
    O(len²) per doc (10.7 s vs 5.9 s for this array form at the hash
    stage); ``element_at`` on the int array is O(1). Values are
    bit-identical to `_winnow_hash` — the DuckDB twin keeps the substr
    render (byte-indexed there, and oracle scale is small)."""
    code = " + ".join(
        f"(element_at(a, cast(j + {d} as int)) - 97)"
        f" * CAST({26 ** d} AS BIGINT)"
        for d in range(8)
    )
    return (
        f"transform(sequence(1, np),"
        f" j -> (({code}) * CAST({_WINNOW_MIX} AS BIGINT)) % {_WINNOW_MOD})"
    )


_WINNOW_ORACLE = f"""
    WITH norm AS MATERIALIZED (
      SELECT doc_id, regexp_replace(lower(text), '[^a-z]', '', 'g') AS s
      FROM documents
    ),
    kg AS MATERIALIZED (
      SELECT doc_id, CAST(i AS BIGINT) AS j,
             CAST({_winnow_hash('s', 'i', True)} AS BIGINT) AS h,
             CAST(len(s) - 7 AS BIGINT) AS np
      FROM norm, LATERAL unnest(generate_series(1, len(s) - 7)) AS g(i)
      WHERE len(s) >= 8
    ),
    grid AS MATERIALIZED (
      SELECT doc_id, j, h, CAST(i AS BIGINT) AS i
      FROM (SELECT *, GREATEST(1, np - 5) AS nw FROM kg),
           LATERAL unnest(generate_series(GREATEST(1, j - 5), LEAST(j, nw)))
             AS w(i)
    ),
    winners AS MATERIALIZED (
      SELECT doc_id, h FROM (
        SELECT doc_id, i, h,
               ROW_NUMBER() OVER (PARTITION BY doc_id, i
                                  ORDER BY h ASC, j DESC) AS rn
        FROM grid
      ) WHERE rn = 1
    ),
    fps AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM winners),
    dfh AS MATERIALIZED (SELECT h, COUNT(*) AS dfc FROM fps GROUP BY h),
    rare AS MATERIALIZED (
      SELECT f.doc_id, f.h FROM fps f JOIN dfh USING (h) WHERE dfh.dfc <= 16),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nfp
              FROM fps GROUP BY doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           CAST(MIN(sa.nfp) AS BIGINT) AS fp_a,
           CAST(MIN(sb.nfp) AS BIGINT) AS fp_b
    FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id
    JOIN sizes sa ON sa.doc_id = a.doc_id
    JOIN sizes sb ON sb.doc_id = b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 3
       AND COUNT(*) * 5 >= LEAST(MIN(sa.nfp), MIN(sb.nfp))
    """


@query("text_winnow_pairs", _WINNOW_ORACLE)
def q_text_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING document fingerprints (D212, Schleimer-Wilkerson-Aiken
    SIGMOD'03 — the MOSS algorithm): per document, hash every 8-char
    normalized k-gram and keep the rightmost-minimum hash of each
    6-window; documents sharing >= 3 DISCRIMINATIVE fingerprints
    amounting to >= 20% of the smaller side's fingerprint set are
    reported with their shared/total counts. Two hazard gates make
    the pairing corpus-safe (measured: without them the fixture
    emits 2.9M pairs at sf0.1 — common word SEQUENCES make hot
    fingerprints): stop-fingerprints with df > 16 are dropped before
    pairing (no pair evidence, df² candidate mass — the AllPairs
    hazard class), and the relative 20% floor keeps incidental
    locality out; 244 pairs at sf0.1, ≈ the true near-dup set plus
    genuine local overlaps. The guarantee the other
    dedup families don't give: any shared substring of length
    >= w + k − 1 = 13 normalized chars yields at least one SHARED
    fingerprint regardless of WHERE it sits in either document —
    position-robust local similarity (plagiarism / quote / boilerplate
    detection), where shingle-Jaccard (global) dilutes a short shared
    run and exact-substring needs full runs aligned.

    Cross-engine determinism: the hash is the base-26 INJECTIVE
    encode of the [a-z]⁸ k-gram (code < 26⁸ ≈ 2.09e11) scrambled by
    one multiply-mod-2⁶¹−1 — pure integer codegen in BOTH engines
    (round-11 rewrite of the md5 hex-bridge: digest + hex substring +
    base-16 conv per corpus position; max(code)·M = 9.19e18 never
    overflows int64, and injectivity means within-corpus hash
    collisions are impossible rather than ~2⁻⁶⁰), so both engines
    select IDENTICAL positions — selection order is (hash ASC,
    position DESC) as a lexicographic struct-min. Round-11 measured
    retune (VERDICT r10 task 5, A/B'd at sf0.1): the md5 bridge
    itself was NOT the dominant constant (md5 ≈ integer hash at the
    stage level once the integer form indexes a char-code ARRAY —
    per-position substr is an O(j) UTF8 scan, 10.7 vs 5.9 s); the
    real win was replacing the 6× window-membership explode + partial
    agg with ONE doc-keyed frame window (min-struct over ROWS 5
    PRECEDING — same one-row-per-position shuffle volume, none of the
    6× row materialization; stage 12.7 → 9.1 s, identical fingerprint
    set). Full query: 8.1 → 3.7 s warm at sf0.1, hash-equal at three
    SFs. Scale shape: per-position hashes ride one array transform
    (map-side); the frame window partitions by doc (per-doc work
    bounded by the n_chars cap); the corpus then shrinks to
    fingerprint density 2/(w+1) ≈ 29% before the only corpus-wide
    join, which is fingerprint-keyed (an inverted index, bounded by
    per-hash df like every posting join in the C2 family). Planted
    cross-position shared-paragraph fixture pinned in
    tests/test_dedup.py."""
    K, W = 8, 6
    docs = t(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id", F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "").alias("s")
    )
    # per-position hashes in one array transform (O(1) element_at on
    # the char-code array — see _winnow_hash_arr for the measured
    # O(len²) substr hazard this avoids)
    kg = (
        norm.filter(F.length("s") >= K)
        .select(
            "doc_id",
            F.expr(f"length(s) - {K - 1}").alias("np"),
            F.expr("transform(split(s, ''), c -> ascii(c))").alias("a"),
        )
        .select("doc_id", "np", F.expr(f"posexplode({_winnow_hash_arr()}) AS (p, h)"))
        .select("doc_id", "np", (F.col("p") + 1).alias("j"), "h")
    )
    # rightmost-min of each 6-window as ONE frame window (round-11
    # rewrite of the 6x window-membership explode + partial agg: the
    # doc-keyed window shuffles one row per POSITION — same volume as
    # the map-side-combined grid, none of the 6x row materialization;
    # measured 12.7 -> 9.1 s at sf0.1 with the identical fingerprint
    # set). Row j >= W is the window ending at j; a doc shorter than
    # one window (np < W) keeps its j = np row, the single all-
    # positions window — exactly the grid's nw = 1 clamp.
    winners = kg.selectExpr(
        "doc_id",
        "np",
        "j",
        f"min(struct(h, -j AS nj)) OVER (PARTITION BY doc_id ORDER BY j"
        f" ROWS BETWEEN {W - 1} PRECEDING AND CURRENT ROW) AS m",
    ).filter(F.expr(f"j >= {W} OR j = np"))
    fps = winners.select("doc_id", F.col("m.h").alias("h")).distinct().cache()
    dfh = fps.groupBy("h").agg(F.count(F.lit(1)).alias("dfc"))
    rare = fps.join(dfh.filter(F.col("dfc") <= 16).select("h"), "h")
    sizes = fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("nfp")
    )
    a, b = rare.alias("a"), rare.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("nfp").alias("fp_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("nfp").alias("fp_b")),
            "id_b",
        )
        .filter(F.col("n_shared") * 5 >= F.least("fp_a", "fp_b"))
        .select("id_a", "id_b", "n_shared", "fp_a", "fp_b")
    )


_PROX_ORACLE = """
    WITH tk AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[CAST(i AS INT)] AS tok
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
            FROM documents),
           LATERAL unnest(generate_series(1, len(toks))) AS g(i)
      WHERE toks[CAST(i AS INT)] IN ('hash', 'join')
    )
    SELECT a.doc_id,
           CAST(MIN(abs(a.pos - b.pos)) AS BIGINT) AS best_dist,
           CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM tk a JOIN tk b
      ON a.doc_id = b.doc_id AND a.tok = 'hash' AND b.tok = 'join'
     AND abs(a.pos - b.pos) <= 3
    GROUP BY a.doc_id
    """


@query("search_proximity", _PROX_ORACLE)
def q_search_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROXIMITY search (D213) — the retrieval primitive between
    boolean AND (co-occurrence anywhere) and D179's exact phrase
    (adjacent, ordered): documents where 'hash' and 'join' occur
    within 3 token positions in either order, with the closest
    distance and the qualifying occurrence-pair count (the NEAR/k
    operator of classic IR engines; rankers feed on best_dist).
    Plan: one positional explode pruned to the query terms AT THE
    SCAN (the IN-list reaches the explode filter, so postings for two
    terms — not the corpus — ride the join), then a doc-keyed
    self-join bounded by per-doc term frequency. Position arithmetic
    is offset-free (|pa − pb| cancels the engines' 0- vs 1-based
    explode conventions). Hash-matched at three SFs; planted
    order/window edges pinned in tests/test_retrieval_and_denoise.py."""
    from mapreduce_project_spark.functions import tokens

    docs = t(spark, sf_dir, "documents")
    tk = (
        docs.select(
            "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
        )
        .filter(F.col("tok").isin("hash", "join"))
    )
    a = tk.filter(F.col("tok") == "hash").select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = tk.filter(F.col("tok") == "join").select(
        "doc_id", F.col("pos").alias("pb")
    )
    return (
        a.join(b, "doc_id")
        .filter(F.abs(F.col("pa") - F.col("pb")) <= 3)
        .groupBy("doc_id")
        .agg(
            F.min(F.abs(F.col("pa") - F.col("pb")))
            .cast("bigint")
            .alias("best_dist"),
            F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        )
    )


_RAKE_STOPS = "('a','the','and','of','to','in','is','on','for','with')"

_RAKE_ORACLE = f"""
    WITH tk AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[CAST(i AS INT)] AS tok
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
            FROM documents),
           LATERAL unnest(generate_series(1, len(toks))) AS g(i)
    ),
    ns AS (
      SELECT doc_id, pos, tok,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM tk WHERE tok NOT IN {_RAKE_STOPS}
    ),
    phr AS MATERIALIZED (
      SELECT doc_id, grp,
             array_to_string(array_agg(tok ORDER BY pos), ' ') AS phrase,
             CAST(COUNT(*) AS BIGINT) AS plen
      FROM ns GROUP BY doc_id, grp
      HAVING COUNT(*) <= 4
    ),
    members AS MATERIALIZED (
      SELECT p.doc_id, p.grp, p.phrase, p.plen, n.tok
      FROM phr p JOIN ns n ON n.doc_id = p.doc_id AND n.grp = p.grp
    ),
    wstat AS MATERIALIZED (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(plen) AS BIGINT) AS deg
      FROM members GROUP BY tok
    ),
    wscore AS (
      SELECT tok, CAST(deg * 1000000 // freq AS BIGINT) AS ws FROM wstat
    ),
    pscore AS (
      SELECT m.phrase, m.doc_id, m.grp,
             CAST(SUM(w.ws) AS BIGINT) AS score_micro
      FROM members m JOIN wscore w ON w.tok = m.tok
      GROUP BY m.phrase, m.doc_id, m.grp
    )
    SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(score_micro) AS BIGINT) AS score_micro
    FROM pscore
    GROUP BY phrase
    ORDER BY score_micro DESC, phrase
    LIMIT 20
    """


@query("text_rake_keyphrases", _RAKE_ORACLE)
def q_text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (D218, Rose et al. 2010 — Rapid
    Automatic Keyword Extraction): candidate phrases are maximal runs
    of non-stopword tokens (gaps-and-islands on the stopword split,
    capped at 4 tokens), each word scores deg/freq over the candidate
    corpus (deg = Σ phrase length over its occurrences — words living
    in longer phrases score higher), and a phrase scores the sum of
    its members' scores; top-20 corpus keyphrases by score. The
    corpus-keyword telemetry next to TF-IDF (D12, per-doc) and PMI
    collocations (D184, pairs only — RAKE ranks variable-length
    phrases).

    Exactness: word scores are truncating micro-units (deg·10⁶ div
    freq); a phrase's score is an order-independent integer SUM of
    member scores, identical per occurrence — so MIN(score) per phrase
    is exact in both engines, and the top-20 cut orders by integers.
    Plan: tokenize+islands are one window over (doc, pos); word stats
    one partial agg; phrase scores re-join the broadcast word table;
    top-20 is TakeOrdered. Planted stopword-split fixture pinned in
    tests/test_skew_and_tokens.py."""
    from pyspark.sql import Window

    from mapreduce_project_spark.functions import tokens

    stops = ["a", "the", "and", "of", "to", "in", "is", "on", "for", "with"]
    docs = t(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    ns = tk.filter(~F.col("tok").isin(stops)).withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    phr = (
        ns.groupBy("doc_id", "grp")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(pos, tok))),"
                " x -> x.tok), ' ')"
            ).alias("phrase"),
            F.count(F.lit(1)).cast("bigint").alias("plen"),
        )
        .filter(F.col("plen") <= 4)
    )
    members = phr.join(ns.select("doc_id", "grp", "tok"), ["doc_id", "grp"])
    wstat = members.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    wscore = wstat.select(
        "tok", F.expr("deg * 1000000 div freq").cast("bigint").alias("ws")
    )
    pscore = (
        members.join(F.broadcast(wscore), "tok")
        .groupBy("phrase", "doc_id", "grp")
        .agg(F.sum("ws").cast("bigint").alias("score_micro"))
    )
    return (
        pscore.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.min("score_micro").cast("bigint").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), "phrase")
        .limit(20)
    )


_SOURCE_DRIFT_ORACLE = f"""
    WITH tok AS (
      SELECT source, doc_id % 2 = 0 AS is_a,
             unnest({_TOKS}) AS tk
      FROM documents
    ),
    counts AS (
      SELECT source, tk AS token,
             CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
             CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
      FROM tok GROUP BY source, tk
    ),
    totals AS (
      SELECT source,
             CAST(SUM(cnt_a) AS BIGINT) AS toks_a,
             CAST(SUM(cnt_b) AS BIGINT) AS toks_b
      FROM counts GROUP BY source
    ),
    dstat AS (
      SELECT source,
             CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_a,
             CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS docs_b
      FROM documents GROUP BY source
    ),
    shares AS (
      SELECT c.source, c.token, c.cnt_a, c.cnt_b,
             CASE WHEN t.toks_a = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(c.cnt_a * 1000000 // t.toks_a AS BIGINT) END AS share_a_ppm,
             CASE WHEN t.toks_b = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(c.cnt_b * 1000000 // t.toks_b AS BIGINT) END AS share_b_ppm,
             t.toks_a, t.toks_b
      FROM counts c JOIN totals t ON t.source = c.source
    ),
    ranked AS (
      SELECT *, abs(share_a_ppm - share_b_ppm) AS drift_ppm,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY abs(share_a_ppm - share_b_ppm) DESC, token) AS rnk
      FROM shares
    )
    SELECT r.source, CAST(r.rnk AS BIGINT) AS rnk, r.token,
           r.cnt_a, r.cnt_b, r.share_a_ppm, r.share_b_ppm,
           CAST(r.drift_ppm AS BIGINT) AS drift_ppm,
           d.docs_a, d.docs_b, r.toks_a, r.toks_b
    FROM ranked r JOIN dstat d ON d.source = r.source
    WHERE r.rnk <= 5
    """


@query("source_quality_drift", _SOURCE_DRIFT_ORACLE)
def q_source_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE quality-drift monitor (D220) — the production
    curation dashboard composed from the corpus-wide KL decomposition
    (D153) and the baseline-vs-snapshot shape of D214: for every
    source, the top-5 tokens whose per-million share moved most
    between the two ingest snapshots (doc_id parity plays the crawl
    days, as in D153), alongside the source's doc and token volumes
    per side. This is the "which source changed, and what changed
    inside it" report a 100 TB pipeline runs between crawls before
    re-weighting its mixture (D89/D169 consume exactly these per-
    source signals).

    Exactness: shares are truncating per-million integers
    (cnt·10⁶ div total — scale-invariant, so the numbers are
    comparable at ANY corpus size and never overflow: shares ≤ 10⁶
    regardless of token mass, unlike raw cross-products cnt_a·toks_b
    which exceed int64 near ~10¹² tokens); drift is an integer |Δ|;
    the top-5 cut breaks ties on the token string. Plan: one
    (source, token)-keyed partial-agg shuffle of integer counts, a
    ~#sources-row totals table broadcast back, one bounded window per
    source. Zero floats end to end."""
    from pyspark.sql import Window

    from mapreduce_project_spark.functions import tokens

    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        (F.col("doc_id") % 2 == 0).alias("is_a"),
        F.explode(tokens("text")).alias("tk"),
    )
    counts = tok.groupBy("source", F.col("tk").alias("token")).agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("cnt_a"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).cast("bigint").alias("cnt_b"),
    )
    totals = counts.groupBy("source").agg(
        F.sum("cnt_a").cast("bigint").alias("toks_a"),
        F.sum("cnt_b").cast("bigint").alias("toks_b"),
    )
    dstat = docs.groupBy("source").agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("docs_a"),
        F.sum(F.when(F.col("doc_id") % 2 == 0, 0).otherwise(1))
        .cast("bigint")
        .alias("docs_b"),
    )
    share_a = F.when(F.col("toks_a") == 0, F.lit(0).cast("bigint")).otherwise(
        F.expr("cnt_a * 1000000 div toks_a").cast("bigint")
    )
    share_b = F.when(F.col("toks_b") == 0, F.lit(0).cast("bigint")).otherwise(
        F.expr("cnt_b * 1000000 div toks_b").cast("bigint")
    )
    shares = counts.join(F.broadcast(totals), "source").select(
        "source", "token", "cnt_a", "cnt_b",
        share_a.alias("share_a_ppm"), share_b.alias("share_b_ppm"),
        "toks_a", "toks_b",
    )
    drift = F.abs(F.col("share_a_ppm") - F.col("share_b_ppm"))
    w = Window.partitionBy("source").orderBy(
        F.abs(F.col("share_a_ppm") - F.col("share_b_ppm")).desc(), "token"
    )
    return (
        shares.withColumn("drift_ppm", drift.cast("bigint"))
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 5)
        .join(F.broadcast(dstat), "source")
        .select(
            "source", "rnk", "token", "cnt_a", "cnt_b",
            "share_a_ppm", "share_b_ppm", "drift_ppm",
            "docs_a", "docs_b", "toks_a", "toks_b",
        )
    )


def _lrs_oracle(ladder: tuple[int, ...]) -> str:
    """DuckDB twin of the repeated-k-gram ladder: one UNION ALL arm
    per ladder width, list-slice k-grams, the same (count DESC, gram
    ASC) championship per doc at its maximal repeating width."""
    arms = []
    for k in ladder:
        arms.append(f"""
      SELECT doc_id, {k} AS k,
             array_to_string(toks[i:i+{k - 1}], ' ') AS gram
      FROM toked, UNNEST(generate_series(1, len(toks) - {k - 1})) AS u(i)
      WHERE len(toks) >= {k}""")
    grams = " UNION ALL ".join(arms)
    return f"""
    WITH toked AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    grams AS ({grams}),
    rep AS (
      SELECT doc_id, k, gram, CAST(COUNT(*) AS BIGINT) AS c
      FROM grams GROUP BY doc_id, k, gram HAVING COUNT(*) >= 2
    ),
    best AS (
      SELECT doc_id, k, gram, c,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY k DESC, c DESC, gram) AS rn
      FROM rep
    )
    SELECT d.doc_id,
           CAST(COALESCE(b.k, 0) AS BIGINT) AS max_rep_k,
           COALESCE(b.gram, '') AS rep_gram,
           CAST(COALESCE(b.c, 0) AS BIGINT) AS rep_count
    FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
    """


@query("text_longest_repeat", _lrs_oracle((2, 3, 5)))
def q_text_longest_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-repeated-substring TELEMETRY per document (D222) — the
    suffix-automaton-free ladder approximation: for widths k ∈
    {2, 3, 5} tokens, find each document's repeated k-grams (≥ 2
    intra-doc occurrences) and report the LARGEST repeating width,
    its champion gram (most occurrences, ties to the lexicographically
    smallest), and that count. Self-repetition at growing spans is the
    degenerate-generation / boilerplate signal the Gopher gates (D43)
    threshold on fixed widths — the ladder form reports HOW LONG the
    repetition runs, which is what separates a looping template from
    a merely chatty doc. A doc with no repeated bigram reports
    (0, '', 0).

    Exactness: pure integer counts and string ranking — no floats.
    Plan: the k-gram explode is map-side (one arm per ladder width,
    ~3·tokens rows), the (doc, k, gram) count is one partial-agg
    shuffle keyed by the doc — NOT a global gram key, so hot grams
    cannot skew (every group is intra-document); the championship is
    one bounded per-doc window; docs with no repeats re-enter via a
    broadcast-right join against the doc list. Scale: rows ∝ corpus
    tokens × ladder size, shuffle keys are (doc, gram) pairs — fully
    parallel at any corpus size."""
    from pyspark.sql import Window

    from mapreduce_project_spark.functions import token_ngrams, tokens

    docs = t(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens("text").alias("toks"))
    arms = None
    for k in (2, 3, 5):
        arm = toked.select(
            "doc_id",
            F.lit(k).alias("k"),
            F.explode(token_ngrams(F.col("toks"), k)).alias("gram"),
        )
        arms = arm if arms is None else arms.unionByName(arm)
    rep = (
        arms.groupBy("doc_id", "k", "gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .filter(F.col("c") >= 2)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("k"), F.desc("c"), "gram"
    )
    best = rep.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        docs.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("k"), F.lit(0)).cast("bigint").alias("max_rep_k"),
            F.coalesce(F.col("gram"), F.lit("")).alias("rep_gram"),
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("rep_count"),
        )
    )


_GT_SPECTRUM_ORACLE = f"""
    WITH toked AS (SELECT {_TOKS} AS toks FROM documents),
    tok AS (
      SELECT array_to_string(toks[i:i+1], ' ') AS tk
      FROM toked, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
      WHERE len(toks) >= 2
    ),
    freq AS (SELECT tk, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY tk),
    scal AS (SELECT CAST(SUM(c) AS BIGINT) AS n_mass,
                    CAST(COUNT(*) AS BIGINT) AS v_size FROM freq),
    spectrum AS (
      SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r
      FROM freq GROUP BY c
    )
    SELECT s.r, s.n_r,
           CAST(s.r * s.n_r * 1000000 // sc.n_mass AS BIGINT) AS mass_ppm,
           CAST((s.r + 1) * COALESCE(nx.n_r, 0) * 1000000 // s.n_r AS BIGINT)
             AS gt_smoothed_micro,
           sc.n_mass, sc.v_size
    FROM spectrum s
    LEFT JOIN spectrum nx ON nx.r = s.r + 1
    CROSS JOIN scal sc
    WHERE s.r <= 10
    """


@query("vocab_gt_spectrum", _GT_SPECTRUM_ORACLE)
def q_vocab_gt_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency-of-frequencies SPECTRUM (D225) over
    token-BIGRAM types — for each observed count r ≤ 10: how many
    bigram types occur exactly r times (n_r), the per-million share
    of corpus mass they carry, and the Good-Turing smoothed count
    r* = (r+1)·n_{r+1}/n_r in truncating micro-units (the Katz-backoff
    discounting table, computed over the type space where GT actually
    operates — the fixtures' unigram vocabulary is closed, so every
    unigram count exceeds the spectrum and the interesting singleton/
    doubleton mass lives in n-grams). Row r=1's mass_ppm IS the
    Good-Turing estimate of unseen-type probability mass (n₁/N) — the
    number that tells a tokenizer-sizing or corpus-coverage decision
    how much of the distribution it has NOT seen yet; the classic
    companion to the Zipf coverage curve (D138) and OOV audit (D137).

    Exactness: integer counts, truncating ppm/micro divisions, and the
    r+1 neighbor resolved by an explicit self-join on r (a lead()
    window would silently pair r with the next OBSERVED r, not r+1,
    whenever a spectrum rung is empty). Plan: bigram count partial-agg,
    then a second tiny partial-agg over per-type counts; the spectrum
    table is ~max-count rows, so the self-join and scalars are
    metadata-scale."""
    from mapreduce_project_spark.functions import token_ngrams, tokens

    docs = t(spark, sf_dir, "documents")
    freq = (
        docs.select(
            F.explode(token_ngrams(tokens("text"), 2)).alias("tk")
        )
        .groupBy("tk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    scal = freq.agg(
        F.sum("c").cast("bigint").alias("n_mass"),
        F.count(F.lit(1)).cast("bigint").alias("v_size"),
    )
    spectrum = freq.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r")
    )
    nx = spectrum.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_next")
    )
    return (
        spectrum.filter(F.col("r") <= 10)
        .join(F.broadcast(nx), "r", "left")
        .crossJoin(F.broadcast(scal))
        .select(
            "r",
            "n_r",
            F.expr("r * n_r * 1000000 div n_mass").cast("bigint").alias("mass_ppm"),
            F.expr("(r + 1) * coalesce(n_next, 0) * 1000000 div n_r")
            .cast("bigint")
            .alias("gt_smoothed_micro"),
            "n_mass",
            "v_size",
        )
    )


# DuckDB twin of the TF-IDF weighted-cosine pair join: identical shingle
# vocabulary, identical integer idf ratio (n_docs // df, the D12
# log-free IDF convention), identical df cap, and the final cosine as
# the same pinned IEEE expression over int64-exact sums.
_TFIDF_COS_ORACLE = """
    WITH tk AS (SELECT doc_id, {toks} AS tks FROM documents),
    sh AS (
      SELECT doc_id, tks[i] || ' ' || tks[i+1] || ' ' || tks[i+2] AS term
      FROM tk, unnest(generate_series(1, len(tks) - 2)) AS u(i)
    ),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM sh GROUP BY 1, 2),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    w AS (
      SELECT t.doc_id, t.term,
             CAST(t.tf * ((SELECT n FROM nd) // d.df) AS BIGINT) AS w, d.df
      FROM tf t JOIN dfreq d USING (term)
      WHERE d.df <= greatest(2, (SELECT n FROM nd) // 50)
    ),
    nrm AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS nsq FROM w GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(a.w * b.w) AS BIGINT) AS dot,
             CAST(COUNT(*) AS BIGINT) AS shared_terms
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      WHERE a.df >= 2
      GROUP BY 1, 2
    )
    SELECT d.doc_a, d.doc_b, d.shared_terms, d.dot,
           na.nsq AS norm_a_sq, nb.nsq AS norm_b_sq,
           CAST(d.dot AS DOUBLE)
             / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE)))
             AS cosine
    FROM dots d
    JOIN nrm na ON na.doc_id = d.doc_a
    JOIN nrm nb ON nb.doc_id = d.doc_b
    WHERE CAST(d.dot AS DOUBLE)
            / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE)))
          >= 0.6
    """.format(toks=_TOKS)


@query("text_tfidf_cosine_pairs", _TFIDF_COS_ORACLE)
def q_text_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED set-similarity join (D226): TF-IDF cosine over trigram
    shingles — the weighted sibling of the unweighted Jaccard PPJoin
    (D109) and containment join (D185): a shared boilerplate shingle
    counts for little (low idf weight) while a shared rare shingle
    dominates, so the score ranks near-duplication by INFORMATIVE
    overlap, which is how production near-dup verification actually
    scores candidate pairs (raw Jaccard saturates on template-heavy
    corpora). Unigram terms are useless on this corpus — the fixture
    vocabulary is CLOSED (31 types, every df ≈ n_docs), which is
    exactly the degenerate regime idf weighting exists for; trigram
    shingles reopen the type space (the D225 observation).

    Exactness: idf is the log-free integer ratio n_docs div df (the
    D12 convention made truncating-integer), weights and both norm²/dot
    sums are exact BIGINTs, and cosine is ONE pinned IEEE expression
    (two correctly-rounded sqrts, one multiply, one divide) over
    int64-exact doubles — bit-identical across engines (the D107
    discipline). Scale: pair generation is an inverted-index join on
    shingles with df ≤ max(2, n_docs div 50) stop-shingle pruning and
    8-byte hashed join keys (measured 176 s → 113 s at sf≈1 — string
    shingles through a Σdf² join is shuffle width, not row count).
    MEASURED candidate physics (sf0.1→sf≈1 decade, 18.8×): the join's
    fan is Σdf², and on the CLOSED-vocabulary fixture (27k trigram
    types over 30M tokens) df grows ∝ n, so candidates are quadratic
    by fixture construction — 79M candidate pairs collapse to 20.8k
    outputs at sf≈1. On an open shingle space (real text), df is
    bounded by the duplication-family size and the same plan is linear
    in corpus tokens; when a corpus's shingle vocabulary closes
    (template-heavy), the documented scale path is MinHash/sign-LSH
    candidacy (C2/D206) with this operator's exact integer dot as the
    verify stage. Non-vacuous at all three SFs (28/25/140 pairs)."""
    from mapreduce_project_spark.functions import token_ngrams, tokens

    docs = t(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id", F.explode(token_ngrams(tokens("text"), 3)).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .filter(F.col("df") <= F.greatest(F.lit(2), F.expr("n div 50")))
        .select(
            "doc_id",
            "term",
            "df",
            F.expr("tf * (n div df)").cast("bigint").alias("w"),
        )
    )
    nrm = w.groupBy("doc_id").agg(F.expr("sum(w * w)").cast("bigint").alias("nsq"))
    # Shuffle-width discipline (the D109 AllPairs lesson, "hashed
    # shingles end-to-end"): the pair join's fan is Sigma df^2 rows —
    # 79M at sf~1 on this closed-vocab fixture — and carrying ~20-byte
    # shingle STRINGS through that join+groupBy is what hurts, not the
    # row count. Join and aggregate on the 8-byte xxhash64 of the
    # shingle instead; weights are computed per (doc, term) BEFORE
    # hashing, so the grouped dot is identical (a 2^-64 collision would
    # perturb one dot — the same accepted-risk class as the hashed
    # shingle sets inside the MinHash/SNM verifies, which stay
    # hash-matched against exact string-keyed oracles at every SF).
    wh = w.select(
        "doc_id", "df", "w", F.xxhash64("term").alias("h")
    )
    a, b = wh.alias("a"), wh.alias("b")
    dots = (
        a.filter(F.col("df") >= 2)
        .join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.expr("sum(a.w * b.w)").cast("bigint").alias("dot"),
            F.count(F.lit(1)).cast("bigint").alias("shared_terms"),
        )
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nsq").alias("norm_a_sq"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nsq").alias("norm_b_sq"))
    # Headroom guard (the CUPED discipline): the pinned IEEE cosine is
    # bit-exact only while dot/norms are exact as doubles (< 2^53).
    cos = F.expr(
        "if(greatest(dot, norm_a_sq, norm_b_sq) < 9007199254740992L, "
        "cast(dot as double) / (sqrt(cast(norm_a_sq as double))"
        " * sqrt(cast(norm_b_sq as double))), "
        "raise_error('text_tfidf_cosine_pairs: sums exceed exact-double"
        " range — rescale idf before trusting cosine'))"
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= 0.6)
        .select(
            "doc_a", "doc_b", "shared_terms", "dot",
            "norm_a_sq", "norm_b_sq", "cosine",
        )
    )


# Pinned MinHash family for the LSH-candidate TF-IDF sibling (D295):
# 16 hash functions = 8 bands x 2 rows. h_k(term) = (A_k*u + B_k) mod
# 2^32 over u = first-8-hex-digits of md5(term) (< 2^32): with A_k ODD,
# u -> A_k*u mod 2^32 is a BIJECTION of the 32-bit key space — each k
# is a genuine pseudo-random permutation (the classic minhash
# construction). The modulus must be far below A*u so the product
# wraps ~2^29 times: a first cut used mod (2^61-1), which A*u < 2^61
# never wraps — every h_k was monotonic in u, all 16 minhashes picked
# the SAME min-u shingle, and the banding degenerated to one hash
# (measured: two J~0.98 pairs missed at sf0.1). A_k < 2^29 keeps every
# product < 2^61 — exact int64 on both engines. Both the Spark exprs
# and the DuckDB oracle are generated from THIS tuple — one source of
# constants, bit-replayable candidates.
_TFLSH_P = 4294967296  # 2^32
_TFLSH_HASHES = tuple(
    (268435399 + 2 * k * 1000003, 479001599 + k * 100000037) for k in range(16)
)
_TFLSH_BANDS = 8


def _tflsh_min_exprs(u_expr: str) -> list[str]:
    return [
        f"min(({a} * {u_expr} + {b}) % {_TFLSH_P}) AS h{k}"
        for k, (a, b) in enumerate(_TFLSH_HASHES)
    ]


_TFLSH_ORACLE = """
    WITH tk AS (SELECT doc_id, {toks} AS tks FROM documents),
    sh AS (
      SELECT doc_id, tks[i] || ' ' || tks[i+1] || ' ' || tks[i+2] AS term
      FROM tk, unnest(generate_series(1, len(tks) - 2)) AS u(i)
    ),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM sh GROUP BY 1, 2),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    w AS (
      SELECT t.doc_id, t.term,
             CAST(t.tf * ((SELECT n FROM nd) // d.df) AS BIGINT) AS w, d.df
      FROM tf t JOIN dfreq d USING (term)
      WHERE d.df <= greatest(2, (SELECT n FROM nd) // 50)
    ),
    nrm AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS nsq FROM w GROUP BY 1),
    uu AS (
      SELECT doc_id, CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) AS u
      FROM w
    ),
    mh AS (SELECT doc_id, {min_exprs} FROM uu GROUP BY doc_id),
    bands AS (
      SELECT doc_id, g.b AS band,
             CASE g.b {k1_cases} END AS k1,
             CASE g.b {k2_cases} END AS k2
      FROM mh, unnest(generate_series(0, {nb_minus1})) AS g(b)
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
           AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    dots AS (
      SELECT c.doc_a, c.doc_b,
             CAST(SUM(wa.w * wb.w) AS BIGINT) AS dot,
             CAST(COUNT(*) AS BIGINT) AS shared_terms
      FROM cand c
      JOIN w wa ON wa.doc_id = c.doc_a
      JOIN w wb ON wb.doc_id = c.doc_b AND wb.term = wa.term
      GROUP BY 1, 2
    ),
    guarded AS (
      -- ADVICE r12: the 2^53 exact-double headroom guard must raise in BOTH
      -- engines (same constant as the Spark raise_error), else the oracle
      -- silently computes past the range the Spark side refuses.
      SELECT d.doc_a, d.doc_b, d.shared_terms, d.dot,
             na.nsq AS norm_a_sq, nb.nsq AS norm_b_sq,
             CASE WHEN greatest(d.dot, na.nsq, nb.nsq) >= 9007199254740992
               THEN error('text_tfidf_cosine_pairs_lsh: sums exceed'
                          || ' exact-double range — rescale idf before'
                          || ' trusting cosine')
               ELSE CAST(d.dot AS DOUBLE)
                 / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE)))
             END AS cosine
      FROM dots d
      JOIN nrm na ON na.doc_id = d.doc_a
      JOIN nrm nb ON nb.doc_id = d.doc_b
    )
    SELECT doc_a, doc_b, shared_terms, dot, norm_a_sq, norm_b_sq, cosine
    FROM guarded
    WHERE cosine >= 0.6
    """.format(
    toks=_TOKS,
    min_exprs=", ".join(_tflsh_min_exprs("u")),
    k1_cases=" ".join(f"WHEN {b} THEN h{2 * b}" for b in range(_TFLSH_BANDS)),
    k2_cases=" ".join(
        f"WHEN {b} THEN h{2 * b + 1}" for b in range(_TFLSH_BANDS)
    ),
    nb_minus1=_TFLSH_BANDS - 1,
)


@query("text_tfidf_cosine_pairs_lsh", _TFLSH_ORACLE)
def q_text_tfidf_cosine_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF weighted-cosine pairs via MINHASH-LSH candidates (D295)
    — the 100 TB-registered form of D226 (VERDICT r11 task 4): same
    weights, same exact integer dot, same pinned IEEE cosine and 0.6
    gate, but the pair GENERATION no longer rides the Σdf² shared-term
    join (measured 21.3×/decade on the closed-vocabulary fixture —
    quadratic physics that does not finish at 100×). Candidates come
    from banded MinHash over the SAME df-capped shingle space the
    weights live in: 16 pinned hash functions (8 bands × 2 rows) of
    the md5-derived 32-bit shingle key, min-aggregated per doc in ONE
    map-side-combining groupBy, band keys exploded 8 rows/doc, and a
    bucketed self-join on (band, h_{2b}, h_{2b+1}) — the D165/D206
    candidate discipline, so join fan concentrates exactly on
    near-dup families instead of Σdf². The exact weighted dot then
    runs ONLY over candidate pairs (join fan = Σ_cand |terms|, linear
    in candidates). A pair at capped-shingle Jaccard J survives ≥1
    band with p = 1−(1−J²)^8 (J = 0.9 ⇒ 0.9999); measured vs the
    exact D226 twin: 28/28, 25/25, 137/140 pairs at the three SFs —
    the only misses are J ≈ 0.02–0.04 pairs whose cosine ≥ 0.6 comes
    from ONE shared ultra-rare shingle (an idf artifact no
    set-similarity candidate scheme can or should chase; documented,
    not hidden). Near-dup recall is pinned by the planted fixture in
    tests/test_round12_ops.py. D226 stays registered as the exact
    small-N oracle twin; this form holds the driver slot.

    Exactness: the DuckDB twin replays the IDENTICAL candidate set —
    hash constants single-sourced from `_TFLSH_HASHES`, u = first 8
    md5 hex digits (< 2³²), A < 2²⁹ so every product stays < 2⁶¹ in
    exact int64 on both engines; weights/dot/norms are the D226
    BIGINTs and the cosine the same one-divide IEEE expression.
    Reference: the reference engine has no weighted set-similarity
    join; capability class per SURVEY §2 D295 (PPJoin D109 + sign-LSH
    D165 composition, Bayardo et al. / Broder banding made Spark- and
    oracle-replayable)."""
    from mapreduce_project_spark.functions import token_ngrams, tokens

    docs = t(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id", F.explode(token_ngrams(tokens("text"), 3)).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    # NOTE (r13): caching this weight table for its four consumers
    # (norms, minhash signatures, both dot-join sides) was tried and
    # measured SLOWER in interleaved A/B reps (+42% min-of-6): the
    # recompute is a broadcast-join projection over the tf aggregate,
    # cheaper than the cache materialization barrier. Left uncached
    # per guide §1.1/§5.
    # NOTE (r14, VERDICT r13 item 5 — CLOSED): the localCheckpoint
    # alternative (materialization without the cache's columnar
    # barrier) was ALSO tried: it does cut the plan to a LogicalRDD
    # leaf (36 documents scans -> 0 in explain), but 22 interleaved
    # A/B reps across five alternating sessions showed no win outside
    # the host band (pooled min 5.36 s before vs 5.84 s after; later
    # passes inverted under a 2-5x cpu-probe swing). The recompute the
    # checkpoint saves is already bounded at runtime by AQE exchange
    # reuse over identical tf/dfreq subtrees, so the extra
    # materialization barrier only serializes the pipeline. Both
    # materialization strategies measured; item closed permanently.
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .filter(F.col("df") <= F.greatest(F.lit(2), F.expr("n div 50")))
        .select(
            "doc_id",
            "term",
            F.expr("tf * (n div df)").cast("bigint").alias("w"),
        )
    )
    nrm = w.groupBy("doc_id").agg(
        F.expr("sum(w * w)").cast("bigint").alias("nsq")
    )
    # 16 minhashes in ONE partial-agg groupBy (no 16x row explosion:
    # the h_k are column expressions over the same (doc, term) row)
    uu = w.select(
        "doc_id",
        F.expr(
            "cast(conv(substr(md5(cast(term as binary)), 1, 8), 16, 10)"
            " as bigint)"
        ).alias("u"),
    )
    mh = uu.groupBy("doc_id").agg(
        *[
            F.expr(f"min(({a} * u + {b}) % {_TFLSH_P})").alias(f"h{k}")
            for k, (a, b) in enumerate(_TFLSH_HASHES)
        ]
    )
    bands = mh.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        F.col(f"h{2 * b}").alias("k1"),
                        F.col(f"h{2 * b + 1}").alias("k2"),
                    )
                    for b in range(_TFLSH_BANDS)
                ]
            )
        ).alias("band", "s"),
    ).select("doc_id", "band", "s.k1", "s.k2")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.k1") == F.col("b.k1"))
            & (F.col("a.k2") == F.col("b.k2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    wa = w.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("w_a")
    )
    wb = w.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("w_b")
    )
    dots = (
        cand.join(wa, "doc_a")
        .join(wb, ["doc_b", "term"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.expr("sum(w_a * w_b)").cast("bigint").alias("dot"),
            F.count(F.lit(1)).cast("bigint").alias("shared_terms"),
        )
    )
    na = nrm.select(
        F.col("doc_id").alias("doc_a"), F.col("nsq").alias("norm_a_sq")
    )
    nb = nrm.select(
        F.col("doc_id").alias("doc_b"), F.col("nsq").alias("norm_b_sq")
    )
    cos = F.expr(
        "if(greatest(dot, norm_a_sq, norm_b_sq) < 9007199254740992L, "
        "cast(dot as double) / (sqrt(cast(norm_a_sq as double))"
        " * sqrt(cast(norm_b_sq as double))), "
        "raise_error('text_tfidf_cosine_pairs_lsh: sums exceed exact-double"
        " range — rescale idf before trusting cosine'))"
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= 0.6)
        .select(
            "doc_a", "doc_b", "shared_terms", "dot",
            "norm_a_sq", "norm_b_sq", "cosine",
        )
    )


# DuckDB twin of the ROUGE-2 pass: identical prefix-sort adjacency
# (row_number over the same 24-char normalized key), identical bigram
# multisets, identical truncating ppm arithmetic.
_ROUGE_ORACLE = """
    WITH ranked AS (
      SELECT doc_id,
             row_number() OVER (
               ORDER BY substring(regexp_replace(lower(text), '[^a-z]', '', 'g'), 1, 24),
                        doc_id) AS rk
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS ref_id, b.doc_id AS cand_id
      FROM ranked a JOIN ranked b ON b.rk = a.rk + 1
    ),
    bg AS (
      SELECT doc_id, tks[i] || ' ' || tks[i+1] AS gram,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, {toks} AS tks FROM documents),
           unnest(generate_series(1, len(tks) - 1)) AS u(i)
      GROUP BY 1, 2
    ),
    tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM bg GROUP BY 1),
    ov AS (
      SELECT p.ref_id, p.cand_id,
             -- least() skips NULLs in BOTH engines, so an unmatched
             -- gram must be excluded explicitly or it counts as ca
             CAST(COALESCE(SUM(CASE WHEN ra.c IS NOT NULL AND rb.c IS NOT NULL
                                    THEN least(ra.c, rb.c) END), 0)
                  AS BIGINT) AS overlap
      FROM pairs p
      LEFT JOIN bg ra ON ra.doc_id = p.ref_id
      LEFT JOIN bg rb ON rb.doc_id = p.cand_id AND rb.gram = ra.gram
      GROUP BY 1, 2
    )
    SELECT o.ref_id, o.cand_id,
           COALESCE(ta.n, 0) AS n_ref_bigrams,
           COALESCE(tb.n, 0) AS n_cand_bigrams,
           o.overlap,
           CAST(o.overlap * 1000000 // greatest(1, COALESCE(ta.n, 0)) AS BIGINT)
             AS rouge2_recall_ppm,
           CAST(o.overlap * 1000000 // greatest(1, COALESCE(tb.n, 0)) AS BIGINT)
             AS rouge2_precision_ppm,
           CAST(CASE WHEN o.overlap = 0 THEN 0
                ELSE 2 * (o.overlap * 1000000 // greatest(1, COALESCE(ta.n, 0)))
                       * (o.overlap * 1000000 // greatest(1, COALESCE(tb.n, 0)))
                     // ((o.overlap * 1000000 // greatest(1, COALESCE(ta.n, 0)))
                         + (o.overlap * 1000000 // greatest(1, COALESCE(tb.n, 0))))
                END AS BIGINT) AS rouge2_f1_ppm
    FROM ov o
    LEFT JOIN tot ta ON ta.doc_id = o.ref_id
    LEFT JOIN tot tb ON tb.doc_id = o.cand_id
    """.format(toks=_TOKS)


@query("text_rouge_adjacent", _ROUGE_ORACLE)
def q_text_rouge_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 overlap scoring (D228) — the summarization/overlap
    metric (Lin 2004) computed as a CORPUS operator: every document
    scored against its successor in the SNM prefix-sort order (D209's
    blocking key with window 2 and no similarity gate), reporting
    bigram-multiset overlap, recall, precision and F₁ in truncating
    ppm. This is the eval-side sibling of the dedup families: the same
    adjacency that feeds SNM candidate verification here yields a
    LABELED similarity score per neighbor pair — the score a curation
    pipeline uses to grade near-dup aggressiveness or to audit
    reference/candidate summary overlap at corpus scale.

    Exactness: bigram counts are exact multiset counts, overlap is
    Σ min(c_ref, c_cand) (a BIGINT), and recall/precision/F₁ are
    truncating integer ppm (F₁ = 2PR div (P+R) on already-truncated
    P, R — pinned order, both engines identical). Zero-overlap
    neighbors stay in the report as 0-rows (LEFT joins; the absence of
    overlap is the signal). Plan: the global sort is D209's
    range-partitioned `global_rank` (never a single-task window),
    pairing is one rank equi-join, and the overlap join is keyed on
    (cand_id, gram) — per-pair work bounded by document length, so the
    whole pass is (N−1) bounded-size joins, linear in the corpus."""
    from mapreduce_project_spark.functions import token_ngrams, tokens
    from mapreduce_project_spark.operators.windows import global_rank

    docs = t(spark, sf_dir, "documents")
    norm = docs.select(
        F.col("doc_id").alias("id"),
        F.substring(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z]", ""), 1, 24
        ).alias("skey"),
    )
    ranked = global_rank(norm, ["skey", "id"], "rk").select("id", "rk")
    pairs = (
        ranked.alias("a")
        .join(
            ranked.alias("b"),
            F.col("b.rk") == F.col("a.rk") + 1,
        )
        .select(F.col("a.id").alias("ref_id"), F.col("b.id").alias("cand_id"))
    )
    bg = (
        docs.select(
            "doc_id", F.explode(token_ngrams(tokens("text"), 2)).alias("gram")
        )
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = bg.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("n"))
    ra = bg.select(
        F.col("doc_id").alias("ref_id"), "gram", F.col("c").alias("ca")
    )
    rb = bg.select(
        F.col("doc_id").alias("cand_id"), "gram", F.col("c").alias("cb")
    )
    ov = (
        pairs.join(ra, "ref_id", "left")
        .join(rb, ["cand_id", "gram"], "left")
        .groupBy("ref_id", "cand_id")
        .agg(
            # least() skips NULLs in both engines — restrict to grams
            # present on BOTH sides or unmatched grams count as ca
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ca").isNotNull() & F.col("cb").isNotNull(),
                        F.least("ca", "cb"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("overlap")
        )
    )
    ta = tot.select(F.col("doc_id").alias("ref_id"), F.col("n").alias("na"))
    tb = tot.select(F.col("doc_id").alias("cand_id"), F.col("n").alias("nb"))
    rec = "overlap * 1000000 div greatest(1, coalesce(na, 0))"
    prec = "overlap * 1000000 div greatest(1, coalesce(nb, 0))"
    return (
        ov.join(ta, "ref_id", "left")
        .join(tb, "cand_id", "left")
        .select(
            "ref_id",
            "cand_id",
            F.coalesce("na", F.lit(0)).cast("bigint").alias("n_ref_bigrams"),
            F.coalesce("nb", F.lit(0)).cast("bigint").alias("n_cand_bigrams"),
            "overlap",
            F.expr(rec).cast("bigint").alias("rouge2_recall_ppm"),
            F.expr(prec).cast("bigint").alias("rouge2_precision_ppm"),
            F.expr(
                f"case when overlap = 0 then 0 else "
                f"2 * ({rec}) * ({prec}) div (({rec}) + ({prec})) end"
            )
            .cast("bigint")
            .alias("rouge2_f1_ppm"),
        )
    )


# DuckDB twin of the stylometry pass: identical top-20 function-word
# table, identical doubled-median / quadrupled-MAD integer scaling,
# identical truncating delta arithmetic.
_BURROWS_ORACLE = """
    WITH tok AS (
      SELECT doc_id, source, unnest({toks}) AS w
      FROM documents
    ),
    doclen AS (
      SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM tok GROUP BY 1, 2
    ),
    vocab AS (
      SELECT w FROM (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1
        ORDER BY c DESC, w ASC LIMIT 20)
    ),
    tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok JOIN vocab USING (w) GROUP BY 1, 2
    ),
    rates AS (
      SELECT d.doc_id, d.source, v.w,
             CAST(COALESCE(t.tf, 0) * 1000000
                  // greatest(1, d.n_tok) AS BIGINT) AS r
      FROM doclen d
      CROSS JOIN vocab v
      LEFT JOIN tf t ON t.doc_id = d.doc_id AND t.w = v.w
    ),
    center AS (
      SELECT w, CAST(2 * quantile_cont(r, 0.5) AS BIGINT) AS med2
      FROM rates GROUP BY 1
    ),
    devs AS (
      SELECT r.doc_id, r.source, r.w,
             abs(2 * r.r - c.med2) AS dev2
      FROM rates r JOIN center c USING (w)
    ),
    scale AS (
      SELECT w, CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4
      FROM devs GROUP BY 1
    )
    SELECT d.source, d.w AS word,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           c.med2 AS med2_ppm, s.mad4 AS mad4_ppm,
           CAST(SUM(d.dev2) AS BIGINT) AS sum_dev2,
           CAST(SUM(d.dev2) * 2000 //
                (greatest(1, s.mad4) * COUNT(*)) AS BIGINT) AS delta_milli
    FROM devs d
    JOIN center c USING (w)
    JOIN scale s USING (w)
    GROUP BY d.source, d.w, c.med2, s.mad4
    """.format(toks=_TOKS)


@query("stylometry_burrows_delta", _BURROWS_ORACLE)
def q_stylometry_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows's Delta stylometry (D231, MAD-scaled — Argamon's robust
    variant) — authorship/style attribution as a corpus operator: for
    the 20 most frequent corpus words (the FUNCTION-word band where
    style lives; ties broken word-ASC), each document's usage rate in
    ppm of its own length, centered on the corpus MEDIAN rate and
    scaled by the MAD, then averaged per source as mean |z| in milli
    units. A source whose delta is large across many function words
    writes measurably unlike the corpus — the stylistic-outlier screen
    that flags machine-generated or off-domain sources before they
    enter a training mix (the style-space sibling of the D153 KL
    token-drift monitor).

    Exactness: NO floats anywhere — the interpolated median of
    integers is a half-integer, so the DOUBLED median (med2 = 2·Q50)
    and QUADRUPLED MAD (mad4 = 2·median of doubled deviations) are
    exact BIGINTs in both engines; per-doc deviations dev2 =
    |2r − med2| are integers; delta = 2000·Σdev2 div (mad4·n) is one
    pinned truncating division (mean |z| in milli with z =
    2·dev2/mad4). Missing words count as explicit rate-0 rows (the
    doc×vocab grid — absence of a function word IS a style signal).
    Plan: token explode + two partial aggs, a 20-row broadcast vocab,
    the grid join (20 rows per doc, linear), two exact grouped medians
    (metadata-scale groups: 20 words), one (source, word) partial agg.
    Output 20 sources × 20 words."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(tokens("text")).alias("w")
    )
    doclen = tok.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok")
    )
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(20)
        .select("w")
    )
    tf = (
        tok.join(F.broadcast(vocab), "w")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    rates = (
        doclen.crossJoin(F.broadcast(vocab))
        .join(tf, ["doc_id", "w"], "left")
        .select(
            "doc_id",
            "source",
            "w",
            F.expr("coalesce(tf, 0) * 1000000 div greatest(1, n_tok)")
            .cast("bigint")
            .alias("r"),
        )
    )
    center = rates.groupBy("w").agg(
        F.expr("cast(2 * percentile(r, 0.5) as bigint)").alias("med2")
    )
    devs = rates.join(F.broadcast(center), "w").select(
        "doc_id", "source", "w", F.expr("abs(2 * r - med2)").alias("dev2"), "med2"
    )
    scale = devs.groupBy("w").agg(
        F.expr("cast(2 * percentile(dev2, 0.5) as bigint)").alias("mad4")
    )
    return (
        devs.join(F.broadcast(scale), "w")
        .groupBy("source", F.col("w").alias("word"), "med2", "mad4")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("dev2").cast("bigint").alias("sum_dev2"),
        )
        .select(
            "source",
            "word",
            "n_docs",
            F.col("med2").alias("med2_ppm"),
            F.col("mad4").alias("mad4_ppm"),
            "sum_dev2",
            # Headroom guard (CUPED discipline): sum_dev2 <= 2e6 * n_docs,
            # so the * 2000 combination wraps silently (ANSI off) once a
            # source holds ~2.3e9 docs — raise instead of wrapping.
            F.expr(
                "if(sum_dev2 < (4611686018427387904L div 2000), "  # 2^62/2000
                "sum_dev2 * 2000 div (greatest(1, mad4) * n_docs), "
                "raise_error('stylometry_burrows_delta: dev2 sum exceeds"
                " 64-bit headroom for the milli scaling — widen to"
                " DECIMAL(38,0) or drop to micro units'))"
            )
            .cast("bigint")
            .alias("delta_milli"),
        )
    )


# DuckDB twin of the mutual-information pass: identical observed-cell
# table (0*ln0 = 0, so unobserved cells genuinely contribute nothing —
# no grid needed, unlike chi-square D243), identical micro-ln terms
# and sign-safe truncating micro products, identical marginal
# entropies and the NMI ratio.
_MI_ORACLE = """
    WITH cells AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT source, CAST(SUM(o) AS BIGINT) AS row_tot FROM cells GROUP BY 1),
    ct AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS col_tot FROM cells GROUP BY 1),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
    term AS (
      SELECT cells.source, cells.lang, cells.o, rt.row_tot, ct.col_tot, tot.n,
             CAST(cells.o * 1000000 // tot.n AS BIGINT) AS p_ppm,
             CAST(round(ln(CAST(cells.o AS DOUBLE)) * 1000000) AS BIGINT)
             + CAST(round(ln(CAST(tot.n AS DOUBLE)) * 1000000) AS BIGINT)
             - CAST(round(ln(CAST(rt.row_tot AS DOUBLE)) * 1000000) AS BIGINT)
             - CAST(round(ln(CAST(ct.col_tot AS DOUBLE)) * 1000000) AS BIGINT)
               AS ln_term_micro
      FROM cells
      JOIN rt ON rt.source = cells.source
      JOIN ct ON ct.lang = cells.lang
      CROSS JOIN tot
    ),
    contrib AS (
      SELECT *,
             CASE WHEN p_ppm * ln_term_micro >= 0
                  THEN (p_ppm * ln_term_micro) // 1000000
                  ELSE -((-p_ppm * ln_term_micro) // 1000000)
             END AS mi_cell_micro
      FROM term
    ),
    hx AS (
      SELECT CAST(SUM((row_tot * 1000000 // tot.n)
                      * (CAST(round(ln(CAST(tot.n AS DOUBLE)) * 1000000) AS BIGINT)
                         - CAST(round(ln(CAST(row_tot AS DOUBLE)) * 1000000) AS BIGINT))
                      // 1000000) AS BIGINT) AS h_micro
      FROM rt CROSS JOIN tot
    ),
    hy AS (
      SELECT CAST(SUM((col_tot * 1000000 // tot.n)
                      * (CAST(round(ln(CAST(tot.n AS DOUBLE)) * 1000000) AS BIGINT)
                         - CAST(round(ln(CAST(col_tot AS DOUBLE)) * 1000000) AS BIGINT))
                      // 1000000) AS BIGINT) AS h_micro
      FROM ct CROSS JOIN tot
    ),
    mi AS (SELECT CAST(SUM(mi_cell_micro) AS BIGINT) AS mi_micro FROM contrib)
    SELECT c.source, c.lang, c.o, c.row_tot, c.col_tot, c.p_ppm,
           c.ln_term_micro, c.mi_cell_micro,
           mi.mi_micro,
           hx.h_micro AS h_source_micro,
           hy.h_micro AS h_lang_micro,
           CASE WHEN least(hx.h_micro, hy.h_micro) <= 0 THEN 0
                ELSE CASE WHEN mi.mi_micro >= 0
                     THEN mi.mi_micro * 1000000 // least(hx.h_micro, hy.h_micro)
                     ELSE -((-mi.mi_micro * 1000000)
                            // least(hx.h_micro, hy.h_micro)) END
           END AS nmi_ppm
    FROM contrib c CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy
    """


@query("mutual_information_source_lang", _MI_ORACLE)
def q_mutual_information_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information + normalized MI (D246) between document
    SOURCE and LANGUAGE — the information-theoretic association
    screen beside the frequentist chi-square (D243): MI answers "how
    many nats does knowing the source tell you about the language"
    (the statistic a mixture designer reads before stratifying a
    multilingual corpus by source — high NMI means source and
    language are redundant strata; near-zero means both are needed),
    and its per-cell decomposition ranks WHICH (source, lang) cells
    carry the association (the D153 KL-decomposition discipline
    applied to two categorical columns).

    Exactness: only OBSERVED cells enter (0*ln0 = 0 — no grid needed,
    unlike chi-square where empty cells contribute E); ln(p_xy/(p_x
    p_y)) decomposes into FOUR micro-lns of integer counts (the
    pinned PMI/entropy convention), p in truncating ppm, each cell
    ONE sign-safe truncating micro product (negative branch mirrors
    -((-x) div 1e6)); marginal entropies H(X), H(Y) in micro-nats
    from the same convention (their terms are non-negative by
    construction so they sum order-free) and NMI = MI/min(H) as one
    final sign-safe ppm division. Plan: ONE (source, lang) partial
    agg collapses the corpus; marginals, entropies, and the NMI
    scalar all live on the <=|X|*|Y| cell table (metadata license).
    One row per observed cell at any scale."""
    docs = t(spark, sf_dir, "documents").select("source", "lang")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    rt = cells.groupBy("source").agg(F.sum("o").cast("bigint").alias("row_tot"))
    ct = cells.groupBy("lang").agg(F.sum("o").cast("bigint").alias("col_tot"))
    tot = cells.agg(F.sum("o").cast("bigint").alias("n"))
    lnu = lambda c: F.round(F.log(c.cast("double")) * 1000000, 0).cast("bigint")  # noqa: E731
    term = (
        cells.join(F.broadcast(rt), "source")
        .join(F.broadcast(ct), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "source", "lang", "o", "row_tot", "col_tot", "n",
            F.expr("o * 1000000 div n").cast("bigint").alias("p_ppm"),
            (
                lnu(F.col("o")) + lnu(F.col("n"))
                - lnu(F.col("row_tot")) - lnu(F.col("col_tot"))
            ).alias("ln_term_micro"),
        )
    )
    contrib = term.withColumn(
        "mi_cell_micro",
        F.expr(
            "case when p_ppm * ln_term_micro >= 0"
            " then (p_ppm * ln_term_micro) div 1000000"
            " else -((-p_ppm * ln_term_micro) div 1000000) end"
        ).cast("bigint"),
    )
    hx = (
        rt.crossJoin(F.broadcast(tot))
        .agg(
            F.expr(
                "cast(sum((row_tot * 1000000 div n)"
                " * (cast(round(ln(cast(n as double)) * 1000000, 0) as bigint)"
                "    - cast(round(ln(cast(row_tot as double)) * 1000000, 0)"
                "      as bigint))"
                " div 1000000) as bigint)"
            ).alias("h_source_micro")
        )
    )
    hy = (
        ct.crossJoin(F.broadcast(tot))
        .agg(
            F.expr(
                "cast(sum((col_tot * 1000000 div n)"
                " * (cast(round(ln(cast(n as double)) * 1000000, 0) as bigint)"
                "    - cast(round(ln(cast(col_tot as double)) * 1000000, 0)"
                "      as bigint))"
                " div 1000000) as bigint)"
            ).alias("h_lang_micro")
        )
    )
    mi = contrib.agg(F.sum("mi_cell_micro").cast("bigint").alias("mi_micro"))
    return (
        contrib.drop("n")
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            "source", "lang", "o", "row_tot", "col_tot", "p_ppm",
            "ln_term_micro", "mi_cell_micro", "mi_micro",
            "h_source_micro", "h_lang_micro",
            F.expr(
                "case when least(h_source_micro, h_lang_micro) <= 0 then 0"
                " else case when mi_micro >= 0"
                " then mi_micro * 1000000"
                "      div least(h_source_micro, h_lang_micro)"
                " else -((-mi_micro * 1000000)"
                "        div least(h_source_micro, h_lang_micro)) end end"
            )
            .cast("bigint")
            .alias("nmi_ppm"),
        )
    )


# DuckDB twin of the readability pass: identical [a-z]+ tokenizer,
# identical vowel-group syllable proxy with the per-word max(1,.)
# floor, identical greatest(1, sentence runs) and the truncating
# milli formula terms.
_READABILITY_ORACLE = """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ),
    syl AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))
                  AS BIGINT) AS n_syllables
      FROM toks GROUP BY doc_id
    ),
    sent AS (
      SELECT doc_id,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                  AS BIGINT) AS n_sentences
      FROM documents
    )
    SELECT s.doc_id, s.n_words, sent.n_sentences, s.n_syllables,
           206835 - (1015 * s.n_words) // sent.n_sentences
                  - (84600 * s.n_syllables) // s.n_words AS fre_milli,
           (390 * s.n_words) // sent.n_sentences
             + (11800 * s.n_syllables) // s.n_words - 15590 AS fkgl_milli,
           CASE
             WHEN 206835 - (1015 * s.n_words) // sent.n_sentences
                         - (84600 * s.n_syllables) // s.n_words >= 90000
               THEN 'very_easy'
             WHEN 206835 - (1015 * s.n_words) // sent.n_sentences
                         - (84600 * s.n_syllables) // s.n_words >= 60000
               THEN 'standard'
             WHEN 206835 - (1015 * s.n_words) // sent.n_sentences
                         - (84600 * s.n_syllables) // s.n_words >= 30000
               THEN 'difficult'
             ELSE 'very_confusing'
           END AS band
    FROM syl s JOIN sent ON sent.doc_id = s.doc_id
    """


@query("text_readability_scores", _READABILITY_ORACLE)
def q_text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch Reading Ease + Flesch-Kincaid grade level (D247) per
    document — the classic readability gate in the text-quality stack
    (Gopher D43 screens repetition, CCNet D173 perplexity-buckets,
    stylometry D231 screens style outliers; readability screens for
    AUDIENCE level — the filter a curriculum-ordered training mix or
    a child-safety corpus slice actually keys on). Syllables use the
    standard regex proxy: vowel-group runs [aeiouy]+ per word with a
    max(1, .) floor (a vowel-less token like "zh" still costs one
    syllable — planted fixture pins the floor); sentences are [.!?]+
    runs with a greatest(1, .) floor so unpunctuated fragments score
    as one sentence.

    Exactness: the textbook coefficients become integer milli terms —
    FRE_milli = 206835 - (1015*W) div S - (84600*Syl) div W and
    FKGL_milli = (390*W) div S + (11800*Syl) div W - 15590 — every
    divided product non-negative, so truncating div agrees across
    engines, and the subtraction happens on already-truncated terms
    (pinned order). Tokenizer is the reference word-count pattern
    [a-z]+ (word_count.py:38). Plan: one map-side token explode into
    ONE doc-keyed partial agg (+ a narrow per-doc sentence scan) —
    zero joins wider than doc_id, embarrassingly parallel; band
    thresholds (90/60/30) are the published Flesch bands in milli.
    One row per document."""
    from mapreduce_project_spark.functions.textfns import tokens

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    syl = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.expr(
            "sum(greatest(1, size(regexp_extract_all(w, '([aeiouy]+)', 1))))"
        )
        .cast("bigint")
        .alias("n_syllables"),
    )
    sent = docs.select(
        "doc_id",
        F.expr("greatest(1, size(regexp_extract_all(text, '([.!?]+)', 1)))")
        .cast("bigint")
        .alias("n_sentences"),
    )
    fre = (
        F.lit(206835)
        - F.expr("(1015 * n_words) div n_sentences")
        - F.expr("(84600 * n_syllables) div n_words")
    ).cast("bigint")
    return (
        syl.join(sent, "doc_id")
        .withColumn("fre_milli", fre)
        .select(
            "doc_id", "n_words", "n_sentences", "n_syllables", "fre_milli",
            (
                F.expr("(390 * n_words) div n_sentences")
                + F.expr("(11800 * n_syllables) div n_words")
                - F.lit(15590)
            )
            .cast("bigint")
            .alias("fkgl_milli"),
            F.when(F.col("fre_milli") >= 90000, "very_easy")
            .when(F.col("fre_milli") >= 60000, "standard")
            .when(F.col("fre_milli") >= 30000, "difficult")
            .otherwise("very_confusing")
            .alias("band"),
        )
    )


# round(ln(1e6) * 1e6) — the ppm->nats bridge constant, baked
# identically on both engines (the _LN04_MICRO convention).
_LN1E6_MICRO = 13815511

# DuckDB twin of the Kneser-Ney pass: identical bigram stream,
# identical x4 discount arithmetic (D = 3/4), identical truncating ppm
# terms in pinned order and the greatest(1, .) probability floor.
_KN_ORACLE = f"""
    WITH toked AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    big AS (
      SELECT doc_id, toks[i] AS v, toks[i + 1] AS w
      FROM toked, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
      WHERE len(toks) >= 2
    ),
    cvw AS (SELECT v, w, CAST(COUNT(*) AS BIGINT) AS c FROM big GROUP BY 1, 2),
    cv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cv,
                  CAST(COUNT(*) AS BIGINT) AS n1f FROM cvw GROUP BY 1),
    cw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n1b FROM cvw GROUP BY 1),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM cvw),
    scored AS (
      -- guard twin of the Spark-side headroom raise (same constant,
      -- int64max // 4e6): past it BOTH engines must refuse rather
      -- than one raising while the other silently computes.
      SELECT b.doc_id,
             CASE WHEN greatest(cvw.c, cv.n1f) > 2305843009213 THEN
               error('text_kn_bigram_score: bigram counts exceed 64-bit'
                     || ' ppm headroom — widen to DECIMAL(38,0)')
             ELSE greatest(1,
               (4 * cvw.c - 3) * 1000000 // (4 * cv.cv)
               + (3 * cv.n1f * (cw.n1b * 1000000 // tt.t)) // (4 * cv.cv)
             ) END AS p_ppm
      FROM big b
      JOIN cvw ON cvw.v = b.v AND cvw.w = b.w
      JOIN cv ON cv.v = b.v
      JOIN cw ON cw.w = b.w
      CROSS JOIN tt
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM({_LN1E6_MICRO}
                - CAST(round(ln(CAST(p_ppm AS DOUBLE)) * 1000000) AS BIGINT))
                AS BIGINT) AS sum_nll_micro,
           CAST(SUM({_LN1E6_MICRO}
                - CAST(round(ln(CAST(p_ppm AS DOUBLE)) * 1000000) AS BIGINT))
                // COUNT(*) AS BIGINT) AS avg_nll_micro
    FROM scored GROUP BY doc_id
    """


@query("text_kn_bigram_score", _KN_ORACLE)
def q_text_kn_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring (D252) — the
    properly-smoothed member of the LM-quality family (Stupid Backoff
    D197 is the web-scale shortcut with no discounting; Good-Turing
    D225 estimates the unseen mass but scores nothing; KN is the
    smoothing that actually wins LM evaluations, and its CONTINUATION
    probability — "in how many contexts does this word complete a
    bigram" — is the piece the others lack, punishing burst-frequent
    boilerplate tokens that appear in few contexts): train on the
    corpus's own bigrams, score every document's bigram stream, emit
    per-doc total and average negative log-likelihood in micro-nats
    (the perplexity-proxy ranking a curation gate thresholds on).

    Exactness: D = 3/4 makes the discounted numerator the INTEGER
    4c(vw) - 3 (the x4 trick — no fractional discount exists);
    P_KN = (4c(vw)-3)*1e6 div (4c(v)) + (3*N1+(v.)*Pcont_ppm) div
    (4c(v)) with Pcont_ppm = N1+(.w)*1e6 div T, every division
    truncating on non-negative operands in PINNED order, and a
    greatest(1, .) floor so the micro-ln (round(ln(int)*1e6), the
    pinned convention; ln(1e6)*1e6 baked as 13815511) never sees 0 —
    the floor fires exactly when c(v) > 250k makes a singleton's ppm
    round to zero, the documented truncation point. Plan: one bigram
    explode -> ONE (v,w) partial agg trains the model; scoring joins
    the occurrence stream against the vocabulary-scale count tables
    (plain shuffle equi-joins, linear in corpus tokens) and collapses
    with ONE doc-keyed partial agg. One row per >=2-token document."""
    from mapreduce_project_spark.functions.textfns import tokens

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    toked = docs.select("doc_id", tokens("text").alias("toks")).filter(
        F.size("toks") >= 2
    )
    big = toked.select(
        "doc_id",
        F.expr(
            "explode(transform(sequence(1, size(toks) - 1),"
            " i -> struct(toks[i - 1] as v, toks[i] as w)))"
        ).alias("b"),
    ).select("doc_id", F.col("b.v").alias("v"), F.col("b.w").alias("w"))
    cvw = big.groupBy("v", "w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    cv = cvw.groupBy("v").agg(
        F.sum("c").cast("bigint").alias("cv"),
        F.count(F.lit(1)).cast("bigint").alias("n1f"),
    )
    cw = cvw.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("n1b"))
    tt = cvw.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    scored = (
        big.join(cvw, ["v", "w"])
        .join(cv, "v")
        .join(cw, "w")
        .crossJoin(F.broadcast(tt))
        .select(
            "doc_id",
            F.expr(
                # headroom guard (CUPED discipline): (4c-3)*1e6 and
                # 3*n1f*pcont_ppm must stay inside int64 — c(vw) or
                # N1+(v.) past ~2.3e12 needs DECIMAL widening. The
                # bound is int64max div 4e6 = 2305843009213, derived
                # from the WORST term (4*c*1e6): at the threshold
                # 4*2305843009213*1e6 = 9.2233720368e18 < int64max,
                # one past it overflows — guard INPUTS, never the
                # product (ADVICE r10: a 1000x-looser constant left an
                # overflow band where ANSI raised generically and
                # ANSI-off wrapped silently).
                "case when greatest(c, n1f) > 2305843009213 then"
                " raise_error('text_kn_bigram_score: bigram counts exceed"
                " 64-bit ppm headroom — widen to DECIMAL(38,0)') "
                "else greatest(1,"
                " (4 * c - 3) * 1000000 div (4 * cv)"
                " + (3 * n1f * (n1b * 1000000 div t)) div (4 * cv)) end"
            ).alias("p_ppm"),
        )
    )
    nll = (
        F.lit(_LN1E6_MICRO)
        - F.round(F.log(F.col("p_ppm").cast("double")) * 1000000, 0).cast(
            "bigint"
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum(nll).cast("bigint").alias("sum_nll_micro"),
        F.expr(
            f"cast(sum({_LN1E6_MICRO}"
            " - cast(round(ln(cast(p_ppm as double)) * 1000000, 0) as bigint))"
            " div count(*) as bigint)"
        ).alias("avg_nll_micro"),
    )


# DuckDB twin of the template-prefix audit: identical 16-char prefix,
# identical (count DESC, prefix ASC) champion and truncating ppm
# share with the 30% suspect threshold.
_TEMPLATE_ORACLE = """
    WITH pfx AS (
      SELECT source, substr(text, 1, 16) AS prefix,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_prefixes
      FROM pfx GROUP BY 1
    ),
    top AS (
      SELECT source, prefix AS top_prefix, c AS top_c
      FROM pfx
      QUALIFY row_number() OVER (
        PARTITION BY source ORDER BY c DESC, prefix ASC) = 1
    )
    SELECT t.source, t.n_docs, t.n_prefixes, p.top_prefix,
           CAST(p.top_c AS BIGINT) AS top_count,
           CAST(p.top_c * 1000000 // t.n_docs AS BIGINT) AS top_share_ppm,
           CAST(CASE WHEN p.top_c * 1000000 // t.n_docs > 300000
                THEN 1 ELSE 0 END AS BIGINT) AS template_suspect
    FROM tot t JOIN top p ON p.source = t.source
    """


@query("source_template_prefixes", _TEMPLATE_ORACLE)
def q_source_template_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate/template-prefix audit (D256) — the
    cheap screen that catches what full near-dup pipelines pay for
    later: scraped sources that prepend the SAME header to every page
    (cookie banners, nav bars, license blurbs) poison shingle-based
    dedup (every pair looks similar) and LM statistics (the header
    dominates the bigram mass), and the first 16 characters catch it
    at scan cost — per source, the dominant 16-char prefix, its
    truncating ppm share, and a >30% template_suspect flag (the D43
    Gopher-repetition sibling measured ACROSS docs instead of within
    one; the winnowing D212 stop-fingerprint gate exists because this
    screen was skipped upstream).

    Exactness: all-integer counts, (count DESC, prefix ASC) champion
    pinned by a source-partitioned row_number (bounded by distinct
    prefixes per source), one truncating ppm share. Plan: ONE
    (source, prefix) partial agg over the scan — prefixes are
    16-byte keys, so the shuffle is narrow regardless of document
    size — then metadata-scale per-source top-1. One row per
    source."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents").select(
        "source", F.substring("text", 1, 16).alias("prefix")
    )
    pfx = docs.groupBy("source", "prefix").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = pfx.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_prefixes"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("prefix").asc()
    )
    top = (
        pfx.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("prefix").alias("top_prefix"),
                F.col("c").alias("top_c"))
    )
    return (
        tot.join(top, "source")
        .select(
            "source", "n_docs", "n_prefixes", "top_prefix",
            F.col("top_c").cast("bigint").alias("top_count"),
            F.expr("cast(top_c * 1000000 div n_docs as bigint)")
            .alias("top_share_ppm"),
            F.expr(
                "cast(case when top_c * 1000000 div n_docs > 300000"
                " then 1 else 0 end as bigint)"
            ).alias("template_suspect"),
        )
    )


# DuckDB twin of the vocabulary growth curve: identical token
# first-occurrence table, identical rank-extracted doc_id decile
# edges, identical micro-ln Heaps slope between successive points.
_VOCABGROWTH_ORACLE = """
    WITH toked AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ),
    tfirst AS (SELECT w, MIN(doc_id) AS fd FROM toked GROUP BY w),
    dcnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ntok
             FROM toked GROUP BY doc_id),
    ranked AS (
      SELECT doc_id, ntok, row_number() OVER (ORDER BY doc_id) AS rk
      FROM dcnt
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ranked),
    edges AS (
      SELECT k.k, r.doc_id AS edge_doc
      FROM range(1, 11) AS k(k)
      JOIN nd ON TRUE
      JOIN ranked r ON r.rk = (k.k * nd.n + 9) // 10
    ),
    vk AS (
      SELECT e.k, CAST(COUNT(*) AS BIGINT) AS vocab_k
      FROM edges e JOIN tfirst t ON t.fd <= e.edge_doc
      GROUP BY e.k
    ),
    nk AS (
      SELECT e.k, CAST(SUM(r.ntok) AS BIGINT) AS tokens_k,
             CAST(COUNT(*) AS BIGINT) AS docs_k
      FROM edges e JOIN ranked r ON r.doc_id <= e.edge_doc
      GROUP BY e.k
    ),
    pts AS (
      SELECT e.k, e.edge_doc, nk.docs_k, nk.tokens_k, vk.vocab_k,
             CAST(round(ln(CAST(vk.vocab_k AS DOUBLE)) * 1000000) AS BIGINT)
               AS lnv,
             CAST(round(ln(CAST(nk.tokens_k AS DOUBLE)) * 1000000) AS BIGINT)
               AS lnn
      FROM edges e JOIN vk ON vk.k = e.k JOIN nk ON nk.k = e.k
    )
    SELECT p.k, p.edge_doc, p.docs_k, p.tokens_k, p.vocab_k,
           CASE WHEN prev.k IS NULL OR p.lnn = prev.lnn THEN 0
                ELSE CASE WHEN (p.lnv - prev.lnv) * 1000 >= 0
                     THEN (p.lnv - prev.lnv) * 1000 // (p.lnn - prev.lnn)
                     ELSE -((-(p.lnv - prev.lnv) * 1000) // (p.lnn - prev.lnn))
                     END
           END AS heaps_beta_milli
    FROM pts p LEFT JOIN pts prev ON prev.k = p.k - 1
    """


@query("vocab_growth_curve", _VOCABGROWTH_ORACLE)
def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth (Heaps-law) curve (D257) — the corpus-
    saturation audit beside Zipf coverage (D138), OOV rate (D137) and
    the GT unseen-mass spectrum (D225): vocabulary size V(n) at ten
    rank-extracted corpus prefixes (by doc_id ingest order) plus the
    local Heaps exponent beta = dlnV/dlnN between successive points —
    the number that says whether a tokenizer's vocab budget is sized
    for a corpus that is still discovering words (beta ~ 0.5) or has
    saturated (beta -> 0), and the curve a crawl planner reads to
    decide if MORE of the same source buys new content at all.

    Exactness: a token's contribution to every prefix is decided by
    its FIRST-OCCURRENCE doc (one MIN per token — the same
    first-occurrence-wins discipline as exact dedup), so V(k) needs
    no per-prefix distinct pass: ONE (token) partial agg + a 10-edge
    broadcast comparison. Edges are doc_ids at ranks ceil(k*N/10)
    (the D244 convention); the slope uses micro-lns of integer counts
    with the sign-safe milli division. Plan: token explode -> (token)
    MIN partial agg and (doc) count partial agg; the 10-point curve
    and slopes are metadata-scale. 10 rows at any corpus size."""
    from mapreduce_project_spark.functions.textfns import tokens
    from mapreduce_project_spark.operators.windows import global_rank

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    tfirst = tok.groupBy("w").agg(F.min("doc_id").alias("fd"))
    dcnt = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("ntok"))
    ranked = global_rank(dcnt, ["doc_id"], "rk")
    nd = dcnt.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ks = spark.range(1, 11).select(F.col("id").alias("k"))
    edges = (
        ranked.crossJoin(F.broadcast(nd))
        .join(F.broadcast(ks), F.col("rk") == F.expr("(k * n + 9) div 10"))
        .select("k", F.col("doc_id").alias("edge_doc"))
    )
    vk = (
        tfirst.crossJoin(F.broadcast(edges))
        .filter(F.col("fd") <= F.col("edge_doc"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab_k"))
    )
    nk = (
        ranked.crossJoin(F.broadcast(edges.select("k", "edge_doc")))
        .filter(F.col("doc_id") <= F.col("edge_doc"))
        .groupBy("k")
        .agg(
            F.sum("ntok").cast("bigint").alias("tokens_k"),
            F.count(F.lit(1)).cast("bigint").alias("docs_k"),
        )
    )
    lnu = lambda c: F.round(F.log(c.cast("double")) * 1000000, 0).cast("bigint")  # noqa: E731
    pts = (
        edges.join(vk, "k")
        .join(nk, "k")
        .select(
            "k", "edge_doc", "docs_k", "tokens_k", "vocab_k",
            lnu(F.col("vocab_k")).alias("lnv"),
            lnu(F.col("tokens_k")).alias("lnn"),
        )
    )
    prev = pts.select(
        (F.col("k") + 1).alias("k"),
        F.col("lnv").alias("plnv"),
        F.col("lnn").alias("plnn"),
    )
    return (
        pts.join(prev, "k", "left")
        .select(
            "k", "edge_doc", "docs_k", "tokens_k", "vocab_k",
            F.expr(
                "case when plnn is null or lnn = plnn then 0"
                " else case when (lnv - plnv) * 1000 >= 0"
                " then (lnv - plnv) * 1000 div (lnn - plnn)"
                " else -((-(lnv - plnv) * 1000) div (lnn - plnn)) end end"
            )
            .cast("bigint")
            .alias("heaps_beta_milli"),
        )
    )


# DuckDB twin of the per-source dup-rate dashboard: identical digest
# first-occurrence-wins keeper, identical internal/cross attribution
# against the keeper's source, identical truncating ppm rates.
_DUPRATE_ORACLE = """
    WITH d AS (SELECT doc_id, source, md5(text) AS dg FROM documents),
    keep AS (SELECT dg, MIN(doc_id) AS keep_id FROM d GROUP BY dg),
    ksrc AS (
      SELECT k.dg, k.keep_id, d.source AS keep_source
      FROM keep k JOIN d ON d.doc_id = k.keep_id
    ),
    flagged AS (
      SELECT d.source,
             CASE WHEN d.doc_id = ks.keep_id THEN 1 ELSE 0 END AS is_keep,
             CASE WHEN d.doc_id <> ks.keep_id
                   AND ks.keep_source = d.source THEN 1 ELSE 0 END AS dup_int,
             CASE WHEN d.doc_id <> ks.keep_id
                   AND ks.keep_source <> d.source THEN 1 ELSE 0 END AS dup_x
      FROM d JOIN ksrc ks ON ks.dg = d.dg
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_keep) AS BIGINT) AS n_canonical,
           CAST(SUM(dup_int) AS BIGINT) AS n_dup_internal,
           CAST(SUM(dup_x) AS BIGINT) AS n_dup_cross,
           CAST((SUM(dup_int) + SUM(dup_x)) * 1000000 // COUNT(*) AS BIGINT)
             AS dup_ppm
    FROM flagged GROUP BY source
    """


@query("source_dup_rates", _DUPRATE_ORACLE)
def q_source_dup_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication-rate dashboard (D258) — the #1 number a
    curation review actually reads off the exact-dedup pass (C1 gives
    the deduped corpus; D27/D210 cluster and pick survivors; THIS
    reports who pays): per source, docs, canonical first-occurrence
    keepers, duplicates split INTERNAL (the source re-publishes its
    own content — a template/feed problem) vs CROSS-SOURCE (the
    source mirrors someone else — a provenance/licensing problem;
    the split decides whether you fix the scraper or drop the
    source), and the truncating ppm dup rate.

    Exactness: corpus-wide digest keeper = MIN doc_id per md5 (the
    pinned first-occurrence-wins convention), attribution compares
    each dup's source against its KEEPER's source — all-integer
    flags, one ppm division. Plan: digests are 32-byte keys so every
    shuffle is narrow; ONE (digest) partial agg finds keepers, one
    keeper-id equi-join recovers keeper sources, one digest equi-join
    flags the corpus, ONE (source) partial agg ends it. One row per
    source at any scale."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.col("text").cast("binary")).alias("dg")
    )
    keep = d.groupBy("dg").agg(F.min("doc_id").alias("keep_id"))
    ksrc = keep.join(
        d.select(F.col("doc_id").alias("keep_id"), F.col("source").alias("keep_source")),
        "keep_id",
    )
    flagged = d.join(ksrc, "dg").select(
        "source",
        (F.col("doc_id") == F.col("keep_id")).cast("bigint").alias("is_keep"),
        (
            (F.col("doc_id") != F.col("keep_id"))
            & (F.col("keep_source") == F.col("source"))
        )
        .cast("bigint")
        .alias("dup_int"),
        (
            (F.col("doc_id") != F.col("keep_id"))
            & (F.col("keep_source") != F.col("source"))
        )
        .cast("bigint")
        .alias("dup_x"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("is_keep").cast("bigint").alias("n_canonical"),
        F.sum("dup_int").cast("bigint").alias("n_dup_internal"),
        F.sum("dup_x").cast("bigint").alias("n_dup_cross"),
        F.expr(
            "cast((sum(dup_int) + sum(dup_x)) * 1000000 div count(*) as bigint)"
        ).alias("dup_ppm"),
    )


# DuckDB twin of the RM3 expansion: identical tokenizer, identical
# (matched-tf DESC, doc_id) feedback set, identical truncating ppm
# language models and uniform relevance-model average.
_RM3_ORACLE = """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS tk
      FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(len(tk) AS BIGINT) AS dlen, tk
      FROM toks WHERE len(tk) > 0
    ),
    matched AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS m
      FROM (SELECT doc_id, unnest(tk) AS term FROM dl)
      WHERE term IN ('spark', 'shuffle', 'vector')
      GROUP BY doc_id
    ),
    fb AS (SELECT doc_id FROM matched ORDER BY m DESC, doc_id LIMIT 10),
    fc AS (SELECT CAST(COUNT(*) AS BIGINT) AS f FROM fb),
    ftf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
             any_value(dlen) AS dlen
      FROM (SELECT doc_id, dlen, unnest(tk) AS term FROM dl
            WHERE doc_id IN (SELECT doc_id FROM fb))
      GROUP BY doc_id, term
    ),
    rm AS (
      SELECT term,
             CAST(SUM(tf * 1000000 // dlen) // (SELECT f FROM fc) AS BIGINT)
               AS rm_ppm,
             CAST(COUNT(*) AS BIGINT) AS fb_docs
      FROM ftf
      WHERE term NOT IN ('spark', 'shuffle', 'vector')
      GROUP BY term
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY rm_ppm DESC, term) AS BIGINT)
             AS rank,
           term, rm_ppm, fb_docs
    FROM rm ORDER BY rm_ppm DESC, term LIMIT 10
    """


@query("search_rm3_expansion", _RM3_ORACLE)
def q_search_rm3_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (RM1/RM3 relevance
    model, D270) — the retrieval family's missing feedback loop (BM25
    D105 scores the literal query, RRF D167 fuses rankings, proximity
    D213/phrase D179 tighten matching, nDCG D260 evaluates; NONE of
    them fix the vocabulary-mismatch failure where relevant documents
    use different words than the query — the classic Lavrenko-Croft
    relevance model does, and it is the standard first-stage recall
    lever in production search): take the top feedback documents for
    the seed query, estimate the language model of the relevant set,
    and emit the top expansion terms a second-pass query would add.

    Exactness: the feedback set is the top-10 docs by (matched-tf
    DESC, doc_id ASC) — an all-integer pinned ranking (float BM25
    feedback weights stay in the pytest-tolerance bm25_search; the
    uniform-weight relevance model is the standard hash-exact
    variant); per-doc language models P(w|d) = tf·1e6 div dlen in
    truncating ppm; the relevance model averages them with one more
    truncating division by the ACTUAL feedback count (a corpus with
    <10 matching docs divides by what it has, pinned); seed terms are
    excluded from the expansion list; ties on rm_ppm break by term
    ASC. Plan: corpus-scale work is ONE tokenize+explode with the
    seed-term filter (the same pruned scan as D105) and ONE partial
    agg; the feedback re-tokenize touches exactly 10 documents via a
    broadcast semi-join, and everything after runs on that
    metadata-scale table. Ten rows out."""
    from mapreduce_project_spark.functions import tokens

    seeds = ("spark", "shuffle", "vector")
    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", tokens("text").alias("tk"))
        .withColumn("dlen", F.size("tk").cast("bigint"))
        .filter(F.col("dlen") > 0)
    )
    # NOTE (r13): a projection form for the seed-match count
    # (size(filter(tk, x -> array_contains(seeds, x)))) was tried —
    # it removes the explode and its shuffle — but measured SLOWER in
    # interleaved A/B reps (+74% min-of-6, positive in every
    # instrument): the per-element lambda evaluation over every token
    # of every document costs more than the codegen'd explode +
    # isin-filter + partial-aggregated shuffle it replaces (the filter
    # prunes to seed matches before the exchange, so the shuffle is
    # tiny). Kept in the explode form per guide §1.1.
    matched = (
        docs.select("doc_id", F.explode("tk").alias("term"))
        .filter(F.col("term").isin(*seeds))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    )
    fb = matched.orderBy(F.desc("m"), "doc_id").limit(10).select("doc_id")
    fc = fb.agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    ftf = (
        docs.join(F.broadcast(fb), "doc_id")
        .select("doc_id", "dlen", F.explode("tk").alias("term"))
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.any_value("dlen").alias("dlen"),
        )
    )
    rm = (
        ftf.filter(~F.col("term").isin(*seeds))
        .crossJoin(F.broadcast(fc))
        .groupBy("term")
        .agg(
            F.expr(
                "cast(sum(tf * 1000000 div dlen) div any_value(f) as bigint)"
            ).alias("rm_ppm"),
            F.count(F.lit(1)).cast("bigint").alias("fb_docs"),
        )
    )
    return (
        rm.withColumn(
            "rank",
            F.expr(
                "cast(row_number() over (order by rm_ppm desc, term asc)"
                " as bigint)"
            ),
        )
        .orderBy(F.desc("rm_ppm"), "term")
        .limit(10)
        .select("rank", "term", "rm_ppm", "fb_docs")
    )


# DuckDB twin of the keyness table: identical tokenizer and counts,
# identical x*micro-ln(x) expansion terms, identical (g2 DESC, term)
# top-20 per source.
_MLNX = "CAST(round(ln(CAST({x} AS DOUBLE)) * 1000000) AS BIGINT)"


def _xlnx(x: str) -> str:
    return f"CASE WHEN {x} = 0 THEN 0 ELSE ({x}) * {_MLNX.format(x=x)} END"


_KEYNESS_ORACLE = f"""
    WITH toks AS (
      SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
      FROM documents
    ),
    st AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS a
      FROM toks GROUP BY source, term
    ),
    tt AS (SELECT term, CAST(SUM(a) AS BIGINT) AS t FROM st GROUP BY term),
    ss AS (SELECT source, CAST(SUM(a) AS BIGINT) AS s FROM st GROUP BY source),
    nn AS (SELECT CAST(SUM(a) AS BIGINT) AS n FROM st),
    cells AS (
      SELECT st.source, st.term, st.a,
             tt.t - st.a AS b,
             ss.s - st.a AS c,
             (SELECT n FROM nn) - tt.t - ss.s + st.a AS d,
             tt.t, ss.s, (SELECT n FROM nn) AS n
      FROM st JOIN tt USING (term) JOIN ss USING (source)
      WHERE st.a >= 5
    ),
    g AS (
      -- guard twin of the Spark-side headroom raise (same 1.5e11
      -- threshold): past it BOTH engines refuse identically.
      SELECT source, term, a, b, c, d,
             CAST(CASE WHEN n > 150000000000 THEN
               error('text_keyness_g2: corpus token count exceeds 64-bit'
                     || ' micro-ln headroom — widen to DECIMAL(38,0)')
             ELSE 2 * ({_xlnx('a')} + {_xlnx('b')} + {_xlnx('c')}
                   + {_xlnx('d')} + {_xlnx('n')}
                   - {_xlnx('(a + b)')} - {_xlnx('(c + d)')}
                   - {_xlnx('(a + c)')} - {_xlnx('(b + d)')}) END
                  AS BIGINT) AS g2_micro,
             CASE WHEN a * (b + d) > b * (a + c) THEN 1 ELSE -1 END AS direction
      FROM cells
    )
    SELECT source, CAST(rk AS BIGINT) AS rank, term, a AS n_in_source,
           b AS n_elsewhere, g2_micro,
           CAST(direction AS BIGINT) AS direction
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY g2_micro DESC, term ASC) AS rk
      FROM g
    ) WHERE rk <= 20
    """


@query("text_keyness_g2", _KEYNESS_ORACLE)
def q_text_keyness_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood keyness (D283) — the WHAT-changed
    companion to the corpus-drift monitors (KL drift D153 and PSI
    D244 say THAT a source's distribution moved; PMI D184 finds
    collocations; keyness answers the corpus-linguistics question
    'which terms characterize THIS source against the rest' — the
    table a curation review reads to name a source's register, and
    the classic G² test is the standard because it is safe at the
    small counts chi-square mishandles): per source the top-20 terms
    by G², with the 2×2 cell counts and an over/under-represented
    direction.

    Exactness: G² = 2[Σ O·lnO − margins] uses the identity that
    expands it entirely into x·ln(x) of INTEGER counts — each term is
    x·µln(x) (micro-ln convention) so g2_micro is an exact BIGINT
    sum, 0·ln0 pinned to 0, no rational expected-count ever computed;
    direction by exact cross-multiplication a(b+d) vs b(a+c); a ≥ 5
    support floor (the G² validity rule) prunes the tail BEFORE the
    margins join; ties break (g2 DESC, term ASC). Plan: ONE
    tokenize+explode → ONE (source, term) partial agg; term and
    source margins are vocabulary-/source-scale rollups broadcast
    back; the top-20 window partitions by source over its vocabulary.
    ≤20 rows per source."""
    from mapreduce_project_spark.functions import tokens

    toks = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(tokens("text")).alias("term"))
    )
    # NOTE (r13): two variants were tried and both measured SLOWER in
    # interleaved A/B reps — caching st for its four consumers (the
    # recompute is cheaper than the cache materialization barrier),
    # and folding the grand total out of ss (without the cache it ADDS
    # an exchange: nn's branch re-derives st then ss instead of one
    # partial agg straight off st). Kept in the direct form per
    # guide §1.1.
    st = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    )
    tt = st.groupBy("term").agg(F.sum("a").cast("bigint").alias("t"))
    ss = st.groupBy("source").agg(F.sum("a").cast("bigint").alias("s"))
    nn = st.agg(F.sum("a").cast("bigint").alias("n"))
    cells = (
        st.filter(F.col("a") >= 5)
        .join(tt, "term")
        .join(F.broadcast(ss), "source")
        .crossJoin(F.broadcast(nn))
        .select(
            "source", "term", "a",
            (F.col("t") - F.col("a")).cast("bigint").alias("b"),
            (F.col("s") - F.col("a")).cast("bigint").alias("c"),
            (F.col("n") - F.col("t") - F.col("s") + F.col("a"))
            .cast("bigint")
            .alias("d"),
            "n",
        )
    )

    def xlnx(x: str) -> str:
        return (
            f"case when {x} = 0 then 0 else ({x}) *"
            f" cast(round(ln(cast({x} as double)) * 1000000) as bigint) end"
        )

    g = cells.select(
        "source", "term", "a", "b",
        F.expr(
            # headroom: the left-associated partial sum peaks near
            # 2*n*uln(n) (d ~ n for rare terms, and xlnx(n) is a full
            # positive term before any negative margin cancels), which
            # fits int64 only for n <= ~1.75e11 — the guard fires at
            # 1.5e11 so the else-branch can never wrap inside the band
            # the threshold admits (ADVICE r10: 3e11 left a 2x band).
            f"cast(case when n > 150000000000 then"
            f" raise_error('text_keyness_g2: corpus token count exceeds"
            f" 64-bit micro-ln headroom — widen to DECIMAL(38,0)')"
            f" else 2 * ({xlnx('a')} + {xlnx('b')} + {xlnx('c')}"
            f" + {xlnx('d')} + {xlnx('n')}"
            f" - {xlnx('(a + b)')} - {xlnx('(c + d)')}"
            f" - {xlnx('(a + c)')} - {xlnx('(b + d)')}) end as bigint)"
        ).alias("g2_micro"),
        F.expr(
            "cast(case when a * (b + d) > b * (a + c) then 1 else -1 end"
            " as bigint)"
        ).alias("direction"),
    )
    return (
        g.withColumn(
            "rank",
            F.expr(
                "cast(row_number() over (partition by source"
                " order by g2_micro desc, term asc) as bigint)"
            ),
        )
        .filter(F.col("rank") <= 20)
        .select(
            "source", "rank", "term",
            F.col("a").alias("n_in_source"),
            F.col("b").alias("n_elsewhere"),
            "g2_micro", "direction",
        )
    )


# DuckDB twin of the TextRank summary: identical sentence split and
# 30-sentence cap, identical shared-distinct-token edge weights,
# identical two integer micro power-iteration rounds and (score DESC,
# sidx ASC) top-3.
_TEXTRANK_ORACLE = """
    WITH arrs AS (
      SELECT doc_id, string_split_regex(text, '[.!?]+') AS arr
      FROM documents
    ),
    frags AS (
      SELECT doc_id, t.i AS sidx, trim(arr[t.i]) AS sentence,
             list_distinct(regexp_extract_all(lower(arr[t.i]), '[a-z]+'))
               AS stok
      FROM arrs, UNNEST(generate_series(1, least(len(arr), 30))) AS t(i)
    ),
    sents AS (
      SELECT doc_id, CAST(sidx AS BIGINT) AS sidx, sentence
      FROM frags WHERE len(stok) > 0
    ),
    st AS (
      SELECT doc_id, CAST(sidx AS BIGINT) AS sidx, unnest(stok) AS token
      FROM frags WHERE len(stok) > 0
    ),
    pairs AS (
      SELECT a.doc_id, a.sidx AS i, b.sidx AS j,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM st a JOIN st b
        ON b.doc_id = a.doc_id AND b.token = a.token AND b.sidx != a.sidx
      GROUP BY 1, 2, 3
    ),
    strength AS (
      SELECT doc_id, j, CAST(SUM(w) AS BIGINT) AS wj
      FROM pairs GROUP BY 1, 2
    ),
    r1 AS (
      SELECT s.doc_id, s.sidx,
             CAST(150000 + 85 * COALESCE(c.inflow, 0) // 100 AS BIGINT) AS r
      FROM sents s LEFT JOIN (
        SELECT p.doc_id, p.i AS sidx,
               CAST(SUM(p.w * 1000000 // st.wj) AS BIGINT) AS inflow
        FROM pairs p JOIN strength st
          ON st.doc_id = p.doc_id AND st.j = p.j
        GROUP BY 1, 2
      ) c ON c.doc_id = s.doc_id AND c.sidx = s.sidx
    ),
    r2 AS (
      SELECT s.doc_id, s.sidx,
             CAST(150000 + 85 * COALESCE(c.inflow, 0) // 100 AS BIGINT) AS r
      FROM sents s LEFT JOIN (
        SELECT p.doc_id, p.i AS sidx,
               CAST(SUM(p.w * r1.r // st.wj) AS BIGINT) AS inflow
        FROM pairs p
        JOIN strength st ON st.doc_id = p.doc_id AND st.j = p.j
        JOIN r1 ON r1.doc_id = p.doc_id AND r1.sidx = p.j
        GROUP BY 1, 2
      ) c ON c.doc_id = s.doc_id AND c.sidx = s.sidx
    )
    SELECT doc_id, CAST(rk AS BIGINT) AS rank, sidx,
           score_micro, sentence
    FROM (
      SELECT r2.doc_id, r2.sidx, r2.r AS score_micro, s.sentence,
             ROW_NUMBER() OVER (PARTITION BY r2.doc_id
                                ORDER BY r2.r DESC, r2.sidx ASC) AS rk
      FROM r2 JOIN sents s
        ON s.doc_id = r2.doc_id AND s.sidx = r2.sidx
    ) WHERE rk <= 3
    """


@query("text_textrank_summary", _TEXTRANK_ORACLE)
def q_text_textrank_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank extractive summarization (D284) — the per-document
    member of the graph family applied to text (PageRank D49 ranks a
    corpus-level graph; RAKE D218 scores keyPHRASES by co-occurrence
    degree; TextRank ranks SENTENCES by centrality in the
    shared-vocabulary graph — the standard unsupervised extractive
    summarizer, and for a training pipeline the cheap way to keep the
    most representative spans of an over-long document instead of
    truncating blindly): per document, sentences become nodes (first
    30, the classic cap), edges weigh SHARED DISTINCT TOKENS, and two
    damped power-iteration rounds pick the top-3 central sentences.

    Exactness: the sentence split ('[.!?]+' with 1-based positions)
    and tokenizer are pinned identically in both engines; edge
    weights are integer counts; ranks run in exact micro-units with
    the D49 integer-PageRank discipline — init 1e6, per-edge
    contribution w·r div W_j truncating, damping as
    150000 + 85·inflow div 100 — so two rounds are BIGINT-exact and
    the (score DESC, sidx ASC) top-3 is fully pinned; isolated
    sentences (no shared vocabulary) hold the 150000 teleport floor.
    Plan: ONE sentence explode (linear) → within-document (doc,
    token)-keyed pair join (bounded by the 30-sentence cap — never
    corpus-quadratic) → two join+partial-agg rounds on the bounded
    edge table → per-doc top-3 window. Three rows per document."""
    from mapreduce_project_spark.functions import tokens

    frags = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split("text", "[.!?]+")).alias("pos", "frag"),
        )
        .filter(F.col("pos") < 30)
        .select(
            "doc_id",
            (F.col("pos") + 1).cast("bigint").alias("sidx"),
            F.trim(F.col("frag")).alias("sentence"),
            F.array_distinct(tokens("frag")).alias("stok"),
        )
        .filter(F.size("stok") > 0)
    )
    # frags (the sentence-split + tokenize pass) feeds the token table,
    # the sentence table and the final render; pairs (the bounded
    # sentence-similarity self-join — the expensive subtree) is read by
    # BOTH damping rounds and the strength rollup, and round 2's plan
    # nests round 1's, so without materialization the self-join is
    # replayed ~3× and the scan ~5× (guide §5; pairs stay ≤ 30²/doc —
    # linear in documents, cache-safe at cluster scale).
    frags = frags.cache()
    sents = frags.select("doc_id", "sidx", "sentence")
    st = frags.select(
        "doc_id", "sidx", F.explode("stok").alias("token")
    )
    a = st.select("doc_id", F.col("sidx").alias("i"), "token")
    b = st.select("doc_id", F.col("sidx").alias("j"), "token")
    pairs = (
        a.join(b, ["doc_id", "token"])
        .filter(F.col("i") != F.col("j"))
        .groupBy("doc_id", "i", "j")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        .cache()
    )
    strength = pairs.groupBy("doc_id", "j").agg(
        F.sum("w").cast("bigint").alias("wj")
    )

    def damp(rank_expr):
        inflow = (
            pairs.join(strength, ["doc_id", "j"])
            .join(rank_expr, ["doc_id", "j"], "inner")
            .groupBy("doc_id", F.col("i").alias("sidx"))
            .agg(
                F.expr("cast(sum(w * r div wj) as bigint)").alias("inflow")
            )
        )
        return sents.join(inflow, ["doc_id", "sidx"], "left").select(
            "doc_id", "sidx",
            F.expr(
                "cast(150000 + 85 * coalesce(inflow, 0) div 100 as bigint)"
            ).alias("r"),
        )

    r0 = sents.select(
        "doc_id", F.col("sidx").alias("j"), F.lit(1000000).cast("bigint").alias("r")
    )
    r1 = damp(r0).select("doc_id", F.col("sidx").alias("j"), "r")
    r2 = damp(r1)
    return (
        r2.join(sents, ["doc_id", "sidx"])
        .withColumn(
            "rank",
            F.expr(
                "cast(row_number() over (partition by doc_id"
                " order by r desc, sidx asc) as bigint)"
            ),
        )
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id", "rank", "sidx",
            F.col("r").alias("score_micro"), "sentence",
        )
    )


# DuckDB twin of the query-likelihood retrieval: identical tokenizer,
# identical Dirichlet integer forms A = tf*T + mu*cf and
# B = (dlen + mu)*T, identical micro-ln render and (score DESC,
# doc_id ASC) top-10.
_QL_ORACLE = f"""
    WITH toked AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    d AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dlen FROM toked
      WHERE len(toks) > 0
    ),
    tt AS (
      SELECT CAST(SUM(len(toks)) AS BIGINT) AS t FROM toked
    ),
    occ AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM toked)
      WHERE tok IN ('spark', 'shuffle', 'vector')
      GROUP BY 1, 2
    ),
    cf AS (
      SELECT tok, CAST(SUM(tf) AS BIGINT) AS cf FROM occ GROUP BY tok
    ),
    grid AS (
      SELECT d.doc_id, d.dlen, q.tok,
             COALESCE(occ.tf, 0) AS tf, COALESCE(cf.cf, 0) AS cf, tt.t
      FROM d
      CROSS JOIN (VALUES ('spark'), ('shuffle'), ('vector')) AS q(tok)
      CROSS JOIN tt
      LEFT JOIN occ ON occ.doc_id = d.doc_id AND occ.tok = q.tok
      LEFT JOIN cf ON cf.tok = q.tok
    ),
    scored AS (
      SELECT doc_id, dlen,
             CAST(SUM(
               CASE WHEN t > 2300000000000 OR dlen > 1000000 THEN
                 error('search_query_likelihood: corpus exceeds 64-bit'
                       || ' Dirichlet headroom — widen to DECIMAL(38,0)')
               ELSE
                 CAST(round(ln(CAST(greatest(1, tf * t + 2000 * cf)
                                    AS DOUBLE)) * 1000000) AS BIGINT)
                 - CAST(round(ln(CAST((dlen + 2000) * t AS DOUBLE))
                              * 1000000) AS BIGINT)
               END) AS BIGINT) AS score_micro
      FROM grid GROUP BY doc_id, dlen
    )
    SELECT doc_id, dlen, score_micro, CAST(rk AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rk
      FROM scored
    ) WHERE rk <= 10
    """


@query("search_query_likelihood", _QL_ORACLE)
def q_search_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with DIRICHLET smoothing (D292,
    Ponte-Croft / Zhai-Lafferty) — the language-modeling member
    completing the retrieval family (BM25 D105 is the tf-idf
    probabilistic ranker; RRF D167 fuses rankers; RM3 D270 expands
    queries; QL ranks by P(q|d) under a document LM smoothed toward
    the corpus LM, the other classic lexical baseline and the one the
    LM-scoring family shares its math with): top-10 documents for the
    fixed 3-term query by Σ_t ln((tf + μ·cf/T)/(|d| + μ)), μ = 2000.

    Exactness — unlike BM25's float render (pytest-only), QL
    hash-matches: multiplying through by T makes both ln arguments
    INTEGERS (A = tf·T + μ·cf, B = (|d|+μ)·T — the same value since
    ln(A/T·...) differences cancel the common T), and micro-ln of an
    exact integer (round(ln(int)·1e6), the _LN1E6_MICRO convention KN
    D252 proved hash-green) is engine-identical; greatest(1, A) floors
    the absent-term-absent-corpus case; a raise_error guard fires
    before T > 2.3e12 or |d| > 1e6 can push tf·T or (|d|+μ)·T past
    int64 (guarding INPUTS, the 12f5e5f discipline). Plan: one
    tokenize pass feeds doc lengths, the IN-pruned tf explode, corpus
    cf (3 rows, broadcast) and T (scalar); the doc×3 grid is map-side;
    ONE doc-keyed partial agg; global top-10 via the pinned
    (score DESC, doc_id) order. Ten rows out at any scale."""
    from mapreduce_project_spark.functions import tokens

    terms = ("spark", "shuffle", "vector")
    # ONE tokenize+explode pass feeds everything (the previous form ran
    # the tokenizer three times — for lengths, total count and term
    # occurrences — then re-assembled them over a 3-term grid join;
    # guide §1.2 step 1: don't compute things twice). Per-doc dlen and
    # the three per-term tfs come out of a single doc_id-keyed
    # partial-aggregated groupBy (a doc has dlen > 0 iff it survives
    # the explode); T and the corpus cfs are one singleton rollup of
    # that table, broadcast back; the score is then a pure projection
    # — no occ/cf/grid joins at all. Values are identical: same
    # tokenizer, same integer tf/cf/T, same micro-ln expression,
    # summed over the same three query terms.
    perdoc = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("dlen"),
            *[
                F.sum(F.when(F.col("tok") == term, 1).otherwise(0))
                .cast("bigint")
                .alias(f"tf{i}")
                for i, term in enumerate(terms)
            ],
        )
    )
    totals = perdoc.agg(
        F.sum("dlen").cast("bigint").alias("t"),
        *[
            F.sum(f"tf{i}").cast("bigint").alias(f"cf{i}")
            for i in range(len(terms))
        ],
    )
    per_term = " + ".join(
        f"cast(round(ln(cast(greatest(1, tf{i} * t + 2000 * cf{i})"
        " as double)) * 1000000, 0) as bigint)"
        " - cast(round(ln(cast((dlen + 2000) * t as double))"
        " * 1000000, 0) as bigint)"
        for i in range(len(terms))
    )
    scored = perdoc.crossJoin(F.broadcast(totals)).select(
        "doc_id",
        "dlen",
        F.expr(
            "cast(case when t > 2300000000000 or dlen > 1000000 then"
            " raise_error('search_query_likelihood: corpus exceeds 64-bit"
            " Dirichlet headroom — widen to DECIMAL(38,0)')"
            f" else {per_term} end as bigint)"
        ).alias("score_micro"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score_micro"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 10)
        .select("doc_id", "dlen", "score_micro", "rank")
    )


# DuckDB twin of the Zipf slope fit: identical tokenizer, identical
# (freq DESC, term ASC) top-64 ranks, identical milli-ln coordinates
# and centered integer OLS moments in pinned order.
_ZIPF_SLOPE_ORACLE = f"""
    WITH tf AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT source, unnest({_TOKS}) AS tok FROM documents)
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT source,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY f DESC, tok) AS BIGINT) AS rk,
             f
      FROM tf
    ),
    pts AS (
      SELECT source,
             CAST(round(ln(CAST(rk AS DOUBLE)) * 1000) AS BIGINT) AS x,
             CAST(round(ln(CAST(f AS DOUBLE)) * 1000) AS BIGINT) AS y
      FROM ranked WHERE rk <= 64
    ),
    sums AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy
      FROM pts GROUP BY source
    ),
    cent AS (
      SELECT p.source, s.n,
             CAST(SUM((s.n * p.x - s.sx) * (s.n * p.y - s.sy)) AS BIGINT)
               AS suv,
             CAST(SUM((s.n * p.x - s.sx) * (s.n * p.x - s.sx)) AS BIGINT)
               AS suu,
             CAST(SUM((s.n * p.y - s.sy) * (s.n * p.y - s.sy)) AS BIGINT)
               AS svv
      FROM pts p JOIN sums s USING (source)
      GROUP BY p.source, s.n
    )
    SELECT source, n AS n_terms,
           CASE WHEN suu = 0 THEN CAST(0 AS BIGINT)
                WHEN suv >= 0 THEN CAST((suv * 1000) // suu AS BIGINT)
                ELSE -CAST(((-suv) * 1000) // suu AS BIGINT)
           END AS slope_milli,
           CASE WHEN suu = 0 OR svv = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST((abs(suv) * 1000 // suu)
                          * (abs(suv) * 1000 // svv) AS BIGINT)
           END AS r2_ppm
    FROM cent
    """


@query("source_zipf_slope", _ZIPF_SLOPE_ORACLE)
def q_source_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ZIPF-MANDELBROT slope (D294) — the power-law exponent
    the Zipf coverage curve (D138) draws but never fits, and the OLS
    trend machinery (D124) pointed at corpus linguistics: per source,
    regress milli-ln(frequency) on milli-ln(rank) over the top-64
    terms — slope ≈ −1000·α for a Zipfian source (α ≈ 1 in natural
    language; a much flatter slope flags template/boilerplate-heavy
    sources, a steeper one flags tiny-vocabulary spam — the one-number
    register fingerprint a curation review reads next to keyness D283).

    Exactness: ranks pinned (freq DESC, term ASC); coordinates are
    milli-ln of exact integers (round(ln(int)·1e3) — the micro-ln
    convention at 1e3, chosen so the CENTERED integer moments fit
    int64: u = n·x − Σx ≤ 64·1.4e4·64 and Σu·v ≤ ~7.5e13 at any corpus
    size, because rank ≤ 64 bounds x and y only grows as ln(freq));
    slope = truncating sign-safe (Σuv·1000) div Σuu; r² as the
    double-truncating ppm product ((|Σuv|·1000 div Σuu)·(|Σuv|·1000
    div Σvv)) — every figure BIGINT in pinned order. Plan: ONE
    tokenize+explode → (source, term) partial agg → per-source top-64
    window (bounded by vocabulary) → ONE source-keyed moment agg.
    One row per source at any scale."""
    from pyspark.sql import Window

    from mapreduce_project_spark.functions import tokens

    tf = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("f"), "tok")
    pts = (
        tf.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 64)
        .select(
            "source",
            F.expr("cast(round(ln(cast(rk as double)) * 1000, 0) as bigint)")
            .alias("x"),
            F.expr("cast(round(ln(cast(f as double)) * 1000, 0) as bigint)")
            .alias("y"),
        )
    )
    # ONE aggregation over the top-64 points instead of sums + a
    # broadcast-join second pass (which re-ran the tokenize→tf→window
    # subtree — guide §1.2 step 1): the centered integer moments expand
    # EXACTLY in raw integer moments — Σ(n·x−Sx)(n·y−Sy) = n²Σxy−n·Sx·Sy
    # (and likewise for suu/svv), every term a bigint product far under
    # int64 (|x|,|y| ≤ ~28000 milli-ln, n ≤ 64), so the emitted values
    # are bit-identical to the joined centered form the oracle replays.
    cent = (
        pts.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.expr("cast(sum(x * y) as bigint)").alias("rxy"),
            F.expr("cast(sum(x * x) as bigint)").alias("rxx"),
            F.expr("cast(sum(y * y) as bigint)").alias("ryy"),
        )
        .select(
            "source",
            "n",
            F.expr("cast(n * n * rxy - n * sx * sy as bigint)").alias("suv"),
            F.expr("cast(n * n * rxx - n * sx * sx as bigint)").alias("suu"),
            F.expr("cast(n * n * ryy - n * sy * sy as bigint)").alias("svv"),
        )
    )
    return cent.select(
        "source",
        F.col("n").alias("n_terms"),
        F.expr(
            "case when suu = 0 then cast(0 as bigint)"
            " when suv >= 0 then cast((suv * 1000) div suu as bigint)"
            " else -cast(((-suv) * 1000) div suu as bigint) end"
        ).alias("slope_milli"),
        F.expr(
            "case when suu = 0 or svv = 0 then cast(0 as bigint)"
            " else cast((abs(suv) * 1000 div suu)"
            " * (abs(suv) * 1000 div svv) as bigint) end"
        ).alias("r2_ppm"),
    )

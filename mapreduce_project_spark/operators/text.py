"""Text-analysis operators (SURVEY.md §2.C C4) — the per-document
statistics, language-ID, quality-scoring, token-counting and
fingerprinting stages of an LLM training-data pipeline.

Everything is a pure Column expression (JVM-side) over the shared
tokenizer (`functions.textfns.tokens`), so at 100 TB these run inside
whole-stage codegen with zero Python cost and no shuffle at all —
they are per-row maps; only downstream aggregations shuffle.

Cross-engine parity: formulas are written with explicit parenthesization
and integer→double divisions mirrored verbatim in the DuckDB oracles.
"""

from __future__ import annotations

import pandas

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreduce_project_spark.functions import token_ngrams, tokens

# Marker stopwords per language for the n-gram/heuristic language ID.
# Tiny on purpose: deterministic, SQL-mirrorable, and a placeholder for
# a real fastText-style model (which would be a pandas_udf stage).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "los", "de", "y", "es"),
}
# BPE-ish token counting: alpha runs are split into <=4-char chunks,
# digits and punctuation count one each (a cheap, deterministic proxy
# for a real BPE vocab; swap in a pandas_udf tokenizer for production).
BPE_PATTERN = "([a-z]{1,4}|[0-9]|[^a-z0-9\\s])"
# DSIR micro-log fixed point: every ln() in the importance weight is
# quantized to round(ln(n)*1e6) BIGINT before combination, so ranking
# keys are integer-exact (see dsir_select_topk).
DSIR_LOG_SCALE = 1_000_000
# DSIR hashes each doc's bigrams into this many buckets
_DSIR_DIM = 256


def with_token_stats(df: DataFrame) -> DataFrame:
    """Add n_tokens / n_distinct_tokens / n_chars_measured / avg_token_len
    / type-token-ratio columns."""
    tok = tokens("text")
    n_tok = F.size(tok)
    n_dis = F.size(F.array_distinct(tok))
    total_len = F.aggregate(tok, F.lit(0), lambda acc, x: acc + F.length(x))
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("n_distinct_tokens", n_dis)
        .withColumn("n_chars_measured", F.length("text"))
        .withColumn("avg_token_len", total_len.cast("double") / n_tok)
        .withColumn("ttr", n_dis.cast("double") / n_tok)
    )


def quality_score() -> Column:
    """Deterministic [0,1] quality score:
    ``0.5*least(n_tokens/100, 1) + 0.3*ttr + 0.2*least(avg_len/8, 1)``
    (length, lexical diversity, word-length components — the shape of
    C4/Gopher-style quality heuristics, reduced to SQL-mirrorable form).
    """
    tok = tokens("text")
    n_tok = F.size(tok)
    ttr = F.size(F.array_distinct(tok)).cast("double") / n_tok
    total_len = F.aggregate(tok, F.lit(0), lambda acc, x: acc + F.length(x))
    avg_len = total_len.cast("double") / n_tok
    return (
        F.lit(0.5) * F.least(n_tok.cast("double") / 100, F.lit(1.0))
        + F.lit(0.3) * ttr
        + F.lit(0.2) * F.least(avg_len / 8, F.lit(1.0))
    )


def lang_scores() -> dict[str, Column]:
    """Marker-hit counts per language (count of tokens in each marker
    set)."""
    tok = tokens("text")
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(tok, lambda x: F.array_contains(arr, x)))
    return out


def predicted_lang() -> Column:
    """Argmax language with deterministic tie-break (en > de > fr > es;
    'und' when no marker hits)."""
    s = lang_scores()
    best = F.greatest(*s.values())
    expr = F.lit("und")
    # reversed so earlier languages win ties (last WHEN built = first checked)
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((s[lang] > 0) & (s[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def bpe_token_count() -> Column:
    """Deterministic BPE-ish token count (regex chunks, see BPE_PATTERN)."""
    return F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_PATTERN), F.lit(1))
    )


def doc_fingerprint() -> Column:
    """Canonical content fingerprint: md5 over the normalized token
    stream (whitespace/punctuation-insensitive — two docs with the same
    token sequence collide by design). Engine-portable: DuckDB
    ``md5(array_to_string(tokens, ' '))`` is identical."""
    return F.md5(F.encode(F.array_join(tokens("text"), " "), "UTF-8"))


# PII redaction — patterns restricted to the RE2 ∩ java.util.regex
# common subset (no lookaround/backrefs) so the DuckDB oracle evaluates
# the IDENTICAL patterns. Order matters and is part of the contract:
# emails first (they contain dots/digits an IP/phone pattern could
# partially claim), then IPs, then phone-ish digit runs.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d. -]{7,}\d", "<PHONE>"),
)


def redact_pii(text_col: str | Column) -> Column:
    """Replace every email / IPv4 / international-phone match with a
    typed placeholder — the standard scrubbing stage before training-
    data release. Pure chained `regexp_replace` (global by default in
    Spark): per-row map, codegen'd, zero shuffle — at 100 TB this is
    scan-speed. Swap/extend `PII_PATTERNS` for jurisdiction-specific
    identifiers; a learned NER redactor would slot in as a mapInPandas
    stage with this same column contract."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(text_col: str | Column) -> dict[str, Column]:
    """Per-category match counts (audit trail for the redaction stage)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return {name: F.regexp_count(c, F.lit(pat)) for name, pat, _ in PII_PATTERNS}


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1, Table A1),
    adapted to token n-grams: per document,

    - ``distinct_token_frac`` — distinct tokens / tokens (low ⇒ looping text);
    - ``dup_3gram_frac`` — fraction of 3-gram occurrences whose 3-gram
      occurs more than once in the doc (duplicate n-gram mass);
    - ``top_2gram_char_frac`` — largest share of the doc's 2-gram
      character mass concentrated in a single 2-gram (the max is taken
      over ``count × length`` so ties need no arbitrary gram pick —
      deterministic across engines).

    Docs with zero tokens emit no row; metrics whose n-gram order
    exceeds the doc's token count are null.

    Scale shape: ONE tagged explode (n ∈ {1,2,3} built doc-locally),
    then two keyed aggregations — shuffle 1 on (doc, n, gram-HASH)
    with map-side partial counts, shuffle 2 on (doc, n). Both keys
    include the doc id, so data distributes with the corpus and no
    single reducer sees more than a few docs' grams. No Python
    anywhere. Round 6: grams travel as (xxhash64, length) pairs — the
    string itself never shuffles (the hashed-shingle substitution the
    Jaccard family uses; outputs are count ratios, so results are
    unchanged absent an in-document 64-bit collision) — measured
    ~2.4x on the sf0.1 bench slate.

    The reference would express this as a map (emit (doc, n, gram))
    plus two chained reduce jobs (`design.md:48-49`)."""
    def tagged(n: int, grams: Column) -> Column:
        return F.transform(
            grams,
            lambda g: F.struct(
                F.lit(n).alias("n"),
                F.xxhash64(g).alias("gh"),
                F.length(g).alias("glen"),
            ),
        )

    # tokenize in its own projection: referencing the tokens()
    # expression from three gram builders re-ran the regex per
    # reference (the bpe_merge_pairs lesson, same round)
    tk = F.col("tk")
    grams = (
        df.select(F.col("doc_id"), tokens("text").alias("tk"))
        .select(
            F.col("doc_id"),
            F.explode(
                F.concat(
                    tagged(1, tk),
                    tagged(2, token_ngrams(tk, 2)),
                    tagged(3, token_ngrams(tk, 3)),
                )
            ).alias("e"),
        )
        .select("doc_id", "e.n", "e.gh", "e.glen")
    )
    counts = grams.groupBy("doc_id", "n", "gh").agg(
        F.count(F.lit(1)).alias("c"), F.any_value("glen").alias("glen")
    )
    char_mass = F.col("c") * F.col("glen")
    per_n = counts.groupBy("doc_id", "n").agg(
        F.sum("c").alias("total"),
        F.coalesce(
            F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0)
        ).alias("dup"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max(char_mass).alias("max_char_mass"),
        F.sum(char_mass).alias("total_char_mass"),
    )

    def at(n: int, expr: Column) -> Column:
        return F.max(F.when(F.col("n") == n, expr))

    return per_n.groupBy("doc_id").agg(
        at(1, F.col("n_distinct").cast("double") / F.col("total")).alias(
            "distinct_token_frac"
        ),
        at(3, F.col("dup").cast("double") / F.col("total")).alias("dup_3gram_frac"),
        at(2, F.col("max_char_mass").cast("double") / F.col("total_char_mass")).alias(
            "top_2gram_char_frac"
        ),
    )


def compression_ratio(df: DataFrame) -> DataFrame:
    """Per-document zlib compression ratio — the model-free redundancy
    signal (Gopher-style filters drop documents that compress too well:
    boilerplate/template spam, or too poorly: binary junk). Arrow-
    batched ``mapInPandas`` (zlib level pinned for determinism), no
    shuffle; output (id, n_bytes, n_compressed, ratio)."""
    import pandas as pd

    out_schema = "doc_id long, n_bytes long, n_compressed long, ratio double"

    def comp(batches):
        import zlib

        for pdf in batches:
            raw = [t.encode("utf-8") if t is not None else b"" for t in pdf["text"]]
            n = [len(b) for b in raw]
            nc = [len(zlib.compress(b, 6)) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_bytes": n,
                    "n_compressed": nc,
                    "ratio": [c / b if b else 1.0 for c, b in zip(nc, n)],
                }
            )

    return df.select("doc_id", "text").mapInPandas(comp, out_schema)


def normalize_nfc(col: Column) -> Column:
    """Unicode NFC normalization + control-character strip as an
    Arrow-batched pandas UDF (Python `unicodedata` implements the same
    standard algorithm as the oracle's ICU `nfc_normalize`, so results
    are engine-identical). The encoding-cleanup step before any
    tokenizer sees the text."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pandas.Series) -> pandas.Series:
        import unicodedata

        def fix(t):
            if t is None:
                return None
            t = unicodedata.normalize("NFC", t)
            return "".join(ch for ch in t if unicodedata.category(ch) != "Cc")

        return s.map(fix)

    return _nfc(col)


def hashed_doc_vectors(
    df: "DataFrame", id_col: str, text_col: str, dim: int = 32
) -> "DataFrame":
    """Feature-hashing document vectors (the hashing trick): every
    token maps to ``md5(token) mod dim`` and the per-bucket counts are
    L2-normalized — the deterministic, vocabulary-free featurizer that
    turns a text corpus into the embedding column the C3 similarity
    operators consume (bridge: documents → vectors → LSH/IVF/PQ),
    and the classic cheap stand-in where a learned encoder would run
    as a Pandas-UDF stage.

    Output is SPARSE long form (id, dim, val) — only nonzero buckets
    materialize, so the shuffle carries (id, dim, count) triples
    regardless of ``dim``. Exactness: counts are integers, the norm is
    one correctly-rounded sqrt of an exact BIGINT sum of squares, and
    each value is a single double division — engine-identical, so the
    full featurization hash-matches a SQL oracle (md5 is the shared
    deterministic hash family, as in `operators/sampling.py`)."""
    from mapreduce_project_spark.functions import tokens as _tokens

    tok = df.select(
        F.col(id_col).alias("id"), F.explode(_tokens(text_col)).alias("tk")
    )
    bucket = F.expr(
        f"cast(conv(substr(md5(cast(tk AS binary)), 1, 8), 16, 10) AS bigint) % {dim}"
    )
    counts = (
        tok.withColumn("dim", bucket)
        .groupBy("id", "dim")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    norms = counts.groupBy("id").agg(
        F.sqrt(F.sum(F.col("cnt") * F.col("cnt")).cast("double")).alias("nrm")
    )
    return (
        counts.join(norms, "id")
        .select(
            F.col("id").alias(id_col),
            "dim",
            (F.col("cnt").cast("double") / F.col("nrm")).alias("val"),
        )
    )


def _bigram_buckets(
    df: "DataFrame", id_col: str, text_col: str, dim: int, target_pred: str | None = None
) -> "DataFrame":
    """(id[, is_t], bucket) — one row per token BIGRAM, hashed into
    ``dim`` md5 buckets (the same engine-portable hash family as
    `hashed_doc_vectors`). Bigrams carry word-order signal unigram
    bags lose, at identical shuffle cost (bucket ints, never text).
    ``target_pred`` is evaluated INSIDE the same projection that
    tokenizes, so the side flag rides the explode for free — no
    id-keyed join back to the corpus (which would shuffle the whole
    exploded bigram stream at scale)."""
    from mapreduce_project_spark.functions import tokens as _tokens

    cols = [F.col(id_col).alias("id"), _tokens(text_col).alias("tk")]
    if target_pred is not None:
        cols.insert(1, F.expr(target_pred).alias("is_t"))
    base = df.select(*cols).filter(F.size("tk") >= 2)
    keep = ["id"] + (["is_t"] if target_pred is not None else [])
    big = base.select(
        *keep,
        F.explode(
            F.expr(
                "transform(sequence(1, size(tk) - 1), "
                "i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1)))"
            )
        ).alias("bg"),
    )
    return big.select(
        *keep,
        F.expr(
            f"cast(conv(substr(md5(cast(bg AS binary)), 1, 8), 16, 10) AS bigint)"
            f" % {dim}"
        ).alias("bucket"),
    )


def _dsir_doc_bucket_counts(
    df: "DataFrame", id_col: str, text_col: str, target_pred: str, dim: int
) -> "DataFrame":
    """(id, is_t, bucket, cnt) — per-document hashed-bigram bucket
    counts with the side flag attached: ONE corpus scan, one
    (id, bucket)-keyed integer partial-agg shuffle. Both the global
    model (`dsir_bucket_stats`) and the per-doc scoring table fold out
    of this single pass."""
    return (
        _bigram_buckets(df, id_col, text_col, dim, target_pred)
        .groupBy("id", "is_t", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def dsir_bucket_stats(
    df: "DataFrame",
    id_col: str,
    text_col: str,
    target_pred,
) -> "DataFrame":
    """The INTEGER sufficient statistics of DSIR-style importance
    reweighting (Data Selection via Importance Resampling, Xie et al.
    2023): hashed-bigram counts of a small TARGET slice (what the
    selected data should look like) vs the RAW corpus, per bucket.

    Output: (bucket, target_cnt, raw_cnt) — 256 rows of BIGINTs,
    the entire model the selection step needs. One corpus pass (the
    side flag is computed in the tokenizing projection — no join back
    to the corpus), one bucket-keyed partial-agg shuffle of integers;
    the table is broadcast-sized by construction whatever the corpus
    size, which is the reason hashed features (not a vocabulary) are
    the 100 TB featurizer. Float-free ⇒ hash-matchable."""
    buckets = _bigram_buckets(df, id_col, text_col, _DSIR_DIM, target_pred)
    return (
        buckets.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("is_t"), 1).otherwise(0)).cast("bigint").alias("target_cnt"),
            F.sum(F.when(F.col("is_t"), 0).otherwise(1)).cast("bigint").alias("raw_cnt"),
        )
    )


def dsir_select_topk(
    df: "DataFrame",
    id_col: str,
    text_col: str,
    target_pred: str,
    k: int = 50,
) -> "DataFrame":
    """DSIR selection render: per raw-corpus document the importance
    log-weight ``logw = Σ_b cnt_db · (ln p̂_t(b) − ln p̂_r(b))``
    (add-1 smoothed hashed-bigram distributions), top-``k`` by
    (logw DESC, id) — the documents that look most like the target
    slice, i.e. the quality-targeted data-selection step of an LLM
    pretraining pipeline.

    Plan: ONE corpus scan produces the per-(doc, bucket) count table
    (`_dsir_doc_bucket_counts`, cached — the model aggregation and the
    scoring pass both read it, so the text is tokenized exactly once);
    the 256-row model + its two scalar totals broadcast; per-doc
    scores reduce map-side and rank via TakeOrdered(k). The corpus
    text is never shuffled.

    Determinism: each ln() term is ln of an INTEGER, individually
    quantized to a micro-log fixed point (round(ln(n)·1e6) as BIGINT)
    BEFORE any combination, so the per-bucket log-ratio and the
    per-doc sum ``Σ cnt·lr_fp`` are integer-exact and associative —
    the rank and the id tiebreak at the cut line cannot depend on
    partition/accumulation order (the repo's no-float-accumulation-
    on-hash-paths convention). The quantization margin is ~9 orders
    of magnitude above double ulp for these magnitudes, so Spark and
    DuckDB round identically. The rendered ``logw`` is one division
    per output cell (logw_fp/1e6 — bit-identical across engines)."""
    grouped = _dsir_doc_bucket_counts(df, id_col, text_col, target_pred, _DSIR_DIM).cache()
    stats = grouped.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_t"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("target_cnt"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(F.col("cnt")))
        .cast("bigint")
        .alias("raw_cnt"),
    )
    totals = stats.agg(
        F.sum("target_cnt").cast("bigint").alias("t_tot"),
        F.sum("raw_cnt").cast("bigint").alias("r_tot"),
    )
    def _ilog(col: Column) -> Column:
        # micro-log fixed point: ln of an integer, rounded half-away-
        # from-zero at 1e6 — both engines' round() agree (all inputs
        # positive) and the boundary margin dwarfs libm last-ulp drift
        return F.round(F.log(col.cast("double")) * DSIR_LOG_SCALE).cast("bigint")

    ratio = stats.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            _ilog(F.col("target_cnt") + 1)
            - _ilog(F.col("t_tot") + _DSIR_DIM)
            - _ilog(F.col("raw_cnt") + 1)
            + _ilog(F.col("r_tot") + _DSIR_DIM)
        ).alias("lr_fp"),
    )
    per_doc = grouped.filter(~F.col("is_t"))
    return (
        per_doc.join(F.broadcast(ratio), "bucket")
        .groupBy("id")
        .agg(F.sum(F.col("cnt") * F.col("lr_fp")).cast("bigint").alias("logw_fp"))
        .orderBy(F.desc("logw_fp"), "id")
        .limit(k)
        .select(
            F.col("id").alias(id_col),
            (F.col("logw_fp").cast("double") / F.lit(float(DSIR_LOG_SCALE))).alias(
                "logw"
            ),
        )
    )

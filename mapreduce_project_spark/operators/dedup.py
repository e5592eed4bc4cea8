"""Deduplication operators (SURVEY.md §2.C C1/C2) — exact dedup,
exact n-gram Jaccard similarity join, MinHash+LSH, and SimHash.

Scale design (the point of each variant):

- **exact**: hash-groupBy on the dedup key — one shuffle, map-side
  partial agg. At 100 TB group on a digest (md5/sha2) of the content,
  never the content itself, so the shuffle carries 16-32 bytes/row.
- **exact n-gram Jaccard join**: the all-pairs-sharing-a-shingle join is
  quadratic in the hottest shingle's document frequency — correct but
  only viable below ~10M docs or after stopword-shingle removal. It is
  the *oracle* for the scalable variants.
- **MinHash+LSH**: signature = 64 seeded min-hash permutations (a
  fixed-size synopsis per doc), banded 16×4 so docs agree on a band with
  probability ~j^4 per band; the bucket join shuffles on band hashes
  (uniform by construction — no skew), candidates are then verified with
  the exact Jaccard. This is the 100 TB path: cost is O(docs × sig) +
  O(candidate pairs), not O(pairs).
- **SimHash**: one 64-bit sketch per doc; near-dup = Hamming ≤ 3,
  found via the 4×16-bit pigeonhole chunk join (hamming ≤ 3 ⇒ at least
  one of 4 chunks equal).

All hash seeds are fixed constants → byte-deterministic results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreduce_project_spark.functions import token_ngrams, tokens

# Mersenne prime 2^31-1: (a*h+b) stays < 2^62, safe under ANSI bigint.
_MH_PRIME = 2147483647
_MH_SEED = 42

# documents are compared as sets of token 3-grams (shingles)
_SHINGLE_N = 3
# MinHash signature length, and the LSH bands it is cut into
_N_PERM = 64
_BANDS = 16
# the Jaccard similarity at which two documents count as near-duplicates
_JACCARD_T = 0.8

# Edges per partition for connected_components' union-find contraction:
# bounds the per-task dict to tens of MB. Module-level so tests can
# shrink it to force the multi-partition propagation phase on small
# graphs.
_CC_EDGES_PER_PARTITION = 1_000_000


def _mh_params(n_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the min-hash permutation family
    h_i(x) = (a_i * x + b_i) mod p — generated by a fixed LCG so both
    runs and engines agree."""
    params = []
    state = _MH_SEED
    for _ in range(n_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = state % (_MH_PRIME - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        b = state % _MH_PRIME
        params.append((a, b))
    return params


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) — distinct token n-grams per document. The explode
    happens after per-doc distinct, bounding shuffle rows by distinct
    shingles (≡ the reference's map-side set(), inverted_index.py:44).

    Tokenization is the CPU-bound step, so the input is spread across
    all cores first: a small parquet input is otherwise a single split
    and the whole pipeline runs on one task. (At 100 TB the scan has
    thousands of splits and this round-robin exchange is cheap relative
    to the tokenize work it parallelizes.)"""
    return df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_text")).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    ).select(
        "id",
        F.explode(F.array_distinct(token_ngrams(tokens("_text"), n))).alias("shingle"),
    )


def passage_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    passage_tokens: int = 16,
) -> DataFrame:
    """Passage-level exact dedup — the sub-document twin of C1
    (the "exact substring dedup" step of LLM corpus pipelines: boilerplate
    headers/footers and license blocks repeat across documents even when
    no two whole documents match).

    Documents are split into fixed ``passage_tokens``-token passages;
    globally, only the FIRST occurrence of each passage survives
    (first = min ``(doc_id, passage_idx)``, deterministic), and each
    document is reassembled from its surviving passages in order.
    Output: ``(doc_id, text_deduped, n_passages_kept)`` — documents
    whose every passage was seen earlier drop out entirely.

    Scale design: the global first-wins decision is ONE shuffle keyed on
    the passage's md5 digest (32 bytes, never the passage text — same
    digest-grouping discipline as `exact_dedup`), a row_number window
    per digest, then one groupBy(doc_id) to reassemble. Passage counts
    per digest follow document frequency, so the hottest key is the most
    boilerplate passage — bounded by corpus DF, not corpus size.
    """
    from pyspark.sql import Window

    tok = tokens(text_col)
    n_pass = F.ceil(F.size(tok).cast("double") / F.lit(float(passage_tokens)))
    passages = F.when(
        F.size(tok) > 0,
        F.transform(
            F.sequence(F.lit(0), (n_pass - 1).cast("int")),
            lambda i: F.concat_ws(
                " ", F.slice(tok, i * passage_tokens + 1, passage_tokens)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = (
        df.select(F.col(id_col).alias("_id"), passages.alias("_ps"))
        .select("_id", F.posexplode("_ps").alias("idx", "p"))
        .filter(F.col("p") != "")
        # dedup key = content digest, not content: the shuffle key stays
        # 32 bytes/row at any passage length
        .withColumn("_digest", F.md5(F.col("p").cast("binary")))
    )
    first_wins = Window.partitionBy("_digest").orderBy("_id", "idx")
    kept = exploded.withColumn("rn", F.row_number().over(first_wins)).filter(
        F.col("rn") == 1
    )
    return kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "p"))), lambda s: s["p"]
            ),
            " ",
        ).alias("text_deduped"),
        F.count(F.lit(1)).cast("bigint").alias("n_passages_kept"),
    ).withColumnRenamed("_id", id_col)


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """C1 exact dedup: one representative (min id) + multiplicity per
    key. ``dropDuplicates`` picks an *arbitrary* row; min-id is the
    deterministic equivalent the oracle can mirror."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.8
) -> DataFrame:
    """C2 exact n-gram Jaccard similarity join: (id_a, id_b, jac) for all
    pairs with Jaccard(shingles_a, shingles_b) >= threshold.

    Algorithm: shingle explode → self-equi-join on shingle (only pairs
    sharing >=1 shingle are ever materialized) → count common → jaccard
    from the inclusion-exclusion sizes. Quadratic in per-shingle doc
    frequency — the scalable variant is `minhash_lsh_pairs`.
    """
    sh = shingle_sets(df, id_col, text_col, _SHINGLE_N).cache()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        common.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common").cast("double")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("n_common"))
            ).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """C2 exact n-gram Jaccard join at scale: the SAME pair set as
    `jaccard_pairs` (threshold t = t_num/t_den = 4/5) via the
    AllPairs/PPJoin prefix filter instead of the full shingle
    self-join — the standard MapReduce set-similarity-join design
    (Vernica et al., SIGMOD'10; reference users would chain it as
    docfreq job → prefix job → verify job).

    Why it scales where `jaccard_pairs` cannot: the self-join there is
    quadratic in the hottest shingle's document frequency (a boilerplate
    3-gram shared by 1M docs → 10^12 join rows). Here each document
    joins only on its PREFIX shingles — its globally RAREST
    ``sz - ceil(t·sz) + 1`` shingles under a canonical (docfreq,
    shingle) order. Correctness of the filter: J(A,B) ≥ t implies
    |A∩B| ≥ ceil(t·|A|) (since |A∩B| ≥ t/(1+t)·(|A|+|B|) and
    |B| ≥ t·|A|), so A must hit one of its first
    |A| - ceil(t·|A|) + 1 ordered shingles inside the intersection —
    and symmetrically for B: every qualifying pair meets on ≥1 shared
    prefix shingle. High-frequency shingles sort LAST and rarely enter
    any prefix, so join fan-out is bounded by rare-shingle frequencies.

    Plan: docfreq groupBy (shingle-keyed shuffle) → per-doc rank window
    (id-keyed shuffle) → prefix self-equi-join + exact integer size
    filter (t·max ≤ min ⇔ t_num·greatest ≤ t_den·least) → distinct
    candidate pairs (id pairs only, narrow shuffle) → one verification
    join against per-doc sorted shingle arrays: |A∩B| via JVM
    `array_intersect`, Jaccard by inclusion-exclusion — bit-identical
    to `jaccard_pairs` and its quadratic SQL oracle.

    The prefix length uses exact integer ceil:
    ``sz - ceil(t_num·sz / t_den) + 1``.
    """
    t_num, t_den = 4, 5  # the Jaccard threshold t = 4/5
    from pyspark.sql import Window

    # shuffle accounting: the shingle table crosses the wire exactly
    # TWICE — once keyed by shingle (docfreq as a window count,
    # replacing a groupBy + join-back that cost two more full-table
    # exchanges), once keyed by id (rank + size + the verification
    # arrays, which reuse the id partitioning instead of
    # re-aggregating the cached source). Shingles travel as their
    # 8-byte xxhash64 (`h`), never as strings: both window shuffles,
    # the candidate equi-join key, and the verification arrays shrink
    # ~3-5×, and bigint array_intersect beats string intersect in the
    # verify stage (measured 10.7 → ~3 s on 1.1M sf≈1 candidates).
    # Hashed-shingle Jaccard ≡ string Jaccard absent 64-bit collisions
    # WITHIN a compared pair (probability ~sz²·2⁻⁶⁴ — the same
    # documented argument the MinHash family's verification uses); the
    # canonical prefix order is (docfreq, h), any corpus-wide total
    # order being valid for AllPairs.
    sh = shingle_sets(df, id_col, text_col, _SHINGLE_N).select(
        "id", F.xxhash64("shingle").alias("h")
    )
    with_df = sh.withColumn(
        "df_", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    ranked = (
        with_df.withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("id").orderBy("df_", "h")
            ),
        )
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("id")))
        .cache()
    )
    # ceil(t_num*sz/t_den) = floor((t_num*sz + t_den - 1) / t_den), exact in BIGINT
    prefix_len = (
        F.col("sz")
        - F.floor((F.lit(t_num) * F.col("sz") + F.lit(t_den - 1)) / F.lit(t_den))
        + F.lit(1)
    )
    prefix = ranked.filter(F.col("pos") <= prefix_len).select(
        "id", "h", "sz", "pos"
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin POSITIONAL filter (Xiao et al., WWW'08), exact: J ≥ t
    # requires overlap α = ceil(t·(sa+sb)/(1+t)); a matched prefix row
    # at positions (pa, pb) bounds the overlap achievable through it
    # and the two suffixes by 1 + min(sa−pa, sb−pb). For a qualifying
    # pair, its FIRST common shingle (canonical order) always passes
    # this bound, so pruning every failing row keeps the candidate set
    # a superset of the qualifying pairs — but cuts the df²-driven
    # deep-position matches that made candidates grow ~100× per 10×
    # corpus (measured: 5.0M → 0.8M raw rows at sf≈1). Integer-exact:
    # ceil(t_num·s/(t_num+t_den)) = floor((t_num·s + t_num+t_den−1)
    # / (t_num+t_den)).
    alpha = F.floor(
        (
            F.lit(t_num) * (F.col("a.sz") + F.col("b.sz"))
            + F.lit(t_num + t_den - 1)
        )
        / F.lit(t_num + t_den)
    )
    candidates = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.id") < F.col("b.id"))
            # exact size filter: J >= t requires t*max(sa,sb) <= min(sa,sb)
            & (
                F.lit(t_num) * F.greatest(F.col("a.sz"), F.col("b.sz"))
                <= F.lit(t_den) * F.least(F.col("a.sz"), F.col("b.sz"))
            )
            & (
                F.lit(1)
                + F.least(
                    F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
                )
                >= alpha
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sets = ranked.groupBy("id").agg(
        F.array_sort(F.collect_list("h")).alias("arr")
    )
    sa, sb = sets.alias("sa"), sets.alias("sb")
    n_common = F.size(F.array_intersect(F.col("sa.arr"), F.col("sb.arr")))
    return (
        candidates.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            (
                n_common.cast("double")
                / (F.size("sa.arr") + F.size("sb.arr") - n_common)
            ).alias("jac"),
        )
        .filter(F.col("jac") >= F.lit(t_num) / F.lit(t_den))
    )


def _min_exprs(n_perm: int) -> list[Column]:
    """The n_perm permutation-min aggregates over a hashed-shingle
    column ``h`` — built as SQL expression STRINGS, not nested Column
    calls: each Column-API node is a Py4J roundtrip, and 64 mins × ~8
    nodes cost ~1.5 s of pure driver time per query build (measured);
    one parsed string per aggregate is ~8× faster. Values are
    bit-identical either way."""
    return [
        F.expr(f"min(pmod({a}L * h + {b}L, {_MH_PRIME}L)) AS m{i}")
        for i, (a, b) in enumerate(_mh_params(n_perm))
    ]


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, sig array<bigint>[64]) MinHash signatures over token
    3-gram shingles. Shingles are first hashed to [0, p) with xxhash64
    (seeded, engine-deterministic), then each permutation takes a min —
    one groupBy, 64 algebraic min aggregates, no Python."""
    sh = shingle_sets(df, id_col, text_col, _SHINGLE_N).select(
        "id", F.expr(f"pmod(xxhash64(shingle, {_MH_SEED}), {_MH_PRIME}L)").alias("h")
    )
    agg = sh.groupBy("id").agg(*_min_exprs(_N_PERM))
    return agg.select("id", F.expr(f"array({','.join(f'm{i}' for i in range(_N_PERM))})").alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """C2 MinHash+LSH near-dup pairs, verified with exact Jaccard.

    signature → 16 bands × 4 rows → band-bucket join (docs sharing a
    band hash become candidates) → exact-Jaccard verification of the
    candidates only. Output (id_a, id_b, jac) — a high-recall subset of
    `jaccard_pairs` at a fraction of the join cost.
    """
    rows = _N_PERM // _BANDS
    # ONE signature build for the whole pipeline: a single groupBy
    # computes both the n_perm signature mins (algebraic — vectorized
    # partial+final agg) and the per-doc shingle set (for candidate
    # verification). Four downstream consumers read it (both join sides
    # of the candidate self-join and of the verification join) —
    # persisted, because exchange reuse does NOT fire across them (the
    # round-robin repartition inside `shingle_sets` is non-deterministic,
    # which blocks plan canonicalization; measured: without the cache the
    # aggregate and its parquet scan run 4x). This is also the standard
    # production shape: the signature table (n_docs rows, not n_shingle
    # rows) is built once and persisted before any LSH join.
    #
    # Verification sets hold the 64-bit shingle HASH, not the shingle
    # string: Jaccard over distinct hashed shingles equals Jaccard over
    # the shingles themselves unless xxhash64 collides within a doc pair
    # (p ≈ s²/2⁶⁴ ≈ 1e-11 for 500-shingle docs — below any driver/oracle
    # tolerance), and the collect_set + verify join then shuffle 8 bytes
    # per shingle instead of a ~20-byte string (measured: 3.8 s → 1.4 s
    # signature materialization at sf0.1; at 100 TB the verify-side
    # shuffle volume drops ~3×). The signature mins reduce the same
    # hash mod p, so one xxhash64 evaluation feeds both.
    sh = shingle_sets(df, id_col, text_col, _SHINGLE_N).select(
        "id", F.expr(f"xxhash64(shingle, {_MH_SEED})").alias("h64")
    ).withColumn("h", F.expr(f"pmod(h64, {_MH_PRIME}L)"))
    docs = sh.groupBy("id").agg(
        *_min_exprs(_N_PERM), F.collect_set("h64").alias("shingles")
    ).cache()
    # all band hashes in one projection + explode (not a union of
    # `bands` recomputations of the signature aggregation); one parsed
    # expression string for the same Py4J-roundtrip reason as _min_exprs
    band_structs = ", ".join(
        "struct({j} AS band, xxhash64(concat_ws(',', {cols})) AS bkey)".format(
            j=j,
            cols=", ".join(f"cast(m{j * rows + r} AS STRING)" for r in range(rows)),
        )
        for j in range(_BANDS)
    )
    bands_df = docs.selectExpr("id", f"explode(array({band_structs})) AS b").select(
        "id", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey")
    )
    x = bands_df.alias("x")
    y = bands_df.alias("y")
    candidates = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    # verify ONLY the candidates (the whole point of LSH): join each side
    # to its collected shingle array, intersection via array_intersect.
    a = docs.select("id", "shingles").alias("sa")
    b = docs.select("id", "shingles").alias("sb")
    n_common = F.size(F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles")))
    jac = n_common.cast("double") / (
        F.size(F.col("sa.shingles")) + F.size(F.col("sb.shingles")) - n_common
    )
    return (
        candidates.join(a, F.col("id_a") == F.col("sa.id"))
        .join(b, F.col("id_b") == F.col("sb.id"))
        .select("id_a", "id_b", jac.alias("jac"))
        .filter(F.col("jac") >= _JACCARD_T)
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Sorted-neighborhood near-dup pairs (Hernández & Stolfo's SNM,
    SIGMOD'95) — the third candidate-generation family next to LSH
    banding (C2) and prefix filtering (D109): sort the corpus on a
    cheap blocking key (the first ``key_chars`` normalized characters)
    and compare each document ONLY with its ``window − 1`` successors
    in sort order. Candidates are exactly (window−1)·N — linear by
    construction, no hot-bucket hazard at any skew (a million docs
    sharing a key still produce w−1 neighbors each), at the price of
    recall limited to prefix-sortable duplicates (a changed opening
    line defeats the key where MinHash shrugs; both families exist
    because neither dominates).

    Scale shape: the global sort uses `windows.global_rank` (range
    partition + per-partition offsets — never a single-task window);
    neighbor pairing is ONE equi-join on rank after a (w−1)-way offset
    explode; exact hashed-shingle Jaccard verifies candidates (the
    same 8-byte xxhash64 sets and jac expression as
    `minhash_lsh_pairs`, same collision argument). Output
    (id_a, id_b, jac) with id_a < id_b."""
    key_chars, window = 24, 4  # sort-key length; ranks compared per doc + 1
    from mapreduce_project_spark.operators.windows import global_rank

    norm = df.select(
        F.col(id_col).alias("id"),
        F.substring(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]", ""),
            1,
            key_chars,
        ).alias("skey"),
    )
    ranked = global_rank(norm, ["skey", "id"], "rk").select("id", "rk")
    probe = ranked.select(
        F.col("id").alias("ida"),
        F.explode(
            F.array(*[F.col("rk") + F.lit(d) for d in range(1, window)])
        ).alias("rkb"),
    )
    cand = probe.join(
        ranked.select(F.col("id").alias("idb"), F.col("rk").alias("rkb")), "rkb"
    ).select(
        F.least("ida", "idb").alias("id_a"),
        F.greatest("ida", "idb").alias("id_b"),
    )
    sets = (
        shingle_sets(df, id_col, text_col, _SHINGLE_N)
        .select("id", F.xxhash64("shingle").alias("h64"))
        .groupBy("id")
        .agg(F.collect_set("h64").alias("shingles"))
    )
    a = sets.alias("sa")
    b = sets.alias("sb")
    n_common = F.size(
        F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles"))
    )
    jac = n_common.cast("double") / (
        F.size(F.col("sa.shingles")) + F.size(F.col("sb.shingles")) - n_common
    )
    return (
        cand.join(a, F.col("id_a") == F.col("sa.id"))
        .join(b, F.col("id_b") == F.col("sb.id"))
        .select("id_a", "id_b", jac.alias("jac"))
        .filter(F.col("jac") >= _JACCARD_T)
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Repeated-span DETECTION — the diagnostic half of exact substring
    dedup (the training-data-dedup finding that boilerplate repeats at
    sub-document granularity): every OVERLAPPING 16-token
    window (stride 1 — unlike `passage_dedup`'s disjoint stride-K
    passages, which can miss a duplicated run that straddles passage
    boundaries) is fingerprinted, and spans seen in ≥ 2
    distinct documents are reported with occurrence counts and the
    first (doc, pos) occurrence.

    Scale shape: windows are linear in token count (K× the passage
    count, still one narrow scan); the groupBy shuffles digests with
    map-side combine, and the span string rides the aggregation buffer
    once per distinct digest per task, not once per occurrence. The
    first-occurrence tiebreak uses an exact integer key
    ``id·10⁶ + pos`` (single MIN aggregate — engine-portable, no
    struct-ordering semantics), so the whole report is hash-matchable.
    The key requires pos < 10⁶ (documents under a million tokens) and
    non-negative ids below ~9.2·10¹² — swap the multiplier for a wider
    DECIMAL if either bound ever binds.

    Output: (digest, span, n_docs, n_occ, first_doc, first_pos).
    """
    K = 16
    base = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("tk")
    ).filter(F.size("tk") >= K)
    spans = base.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tk) - {K} + 1), "
                f"i -> struct(i AS pos, concat_ws(' ', slice(tk, i, {K})) AS span))"
            )
        ).alias("w"),
    ).select("id", F.col("w.pos").alias("pos"), F.col("w.span").alias("span"))
    # the key bounds are enforced loudly, not assumed: silent overflow
    # would decode first_doc/first_pos into a NEIGHBORING id's range
    first_key = F.when(
        (F.col("pos") < 1000000)
        & (F.col("id") >= 0)
        & (F.col("id") < 9_000_000_000_000),
        F.col("id") * 1000000 + F.col("pos"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("duplicate_spans first-occurrence key out of bounds "
                      "(need 0 <= id < 9e12 and pos < 1e6): id="),
                F.col("id").cast("string"),
                F.lit(" pos="),
                F.col("pos").cast("string"),
            )
        )
    )
    agg = (
        spans.groupBy(F.md5(F.col("span")).alias("digest"))
        .agg(
            F.min("span").alias("span"),
            F.count_distinct("id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occ"),
            F.min(first_key).alias("_first"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return agg.select(
        "digest",
        "span",
        "n_docs",
        "n_occ",
        F.expr("_first div 1000000").alias("first_doc"),
        (F.col("_first") % 1000000).alias("first_pos"),
    )


def exact_substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 16,
) -> DataFrame:
    """Exact-substring REMOVAL — the transform half of exact substring
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better": cut repeated substrings, keep the first
    occurrence), complementing `duplicate_spans`' audit: every
    overlapping ``span_tokens``-token window is fingerprinted; a
    window is DUPLICATE iff some window with the same digest has a
    smaller exact integer key ``id·10⁶ + pos`` (corpus-wide first
    occurrence wins — in-document repeats count as duplicates too);
    every token covered by ≥1 duplicate window is dropped and the
    survivors are rejoined in order. Documents shorter than the window
    pass through untouched; a fully-duplicated document comes back
    with empty ``text_clean`` (it stays in the corpus manifest — the
    caller decides whether to drop empties).

    Output (token space, like `passage_dedup`): (id, text_clean,
    n_kept, n_removed) — all INTEGER/string, hash-matchable.

    Scale shape: windows carry (id, pos, 32-B digest) — the text
    itself never shuffles. Three narrow shuffles — digest-keyed
    first-occurrence partial-agg MIN, the digest-keyed dup-window
    join, and the (id, pos)-keyed coverage/reassembly reduce; the
    coverage explode is K· |dup windows|, proportional to the
    duplication actually present, not the corpus."""
    K = span_tokens
    base = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("tk")
    )
    key_guard = F.when(
        (F.col("pos") < 1000000)
        & (F.col("id") >= 0)
        & (F.col("id") < 9_000_000_000_000),
        F.col("id") * 1000000 + F.col("pos"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("exact_substring_dedup key out of bounds "
                      "(need 0 <= id < 9e12 and pos < 1e6): id="),
                F.col("id").cast("string"),
                F.lit(" pos="),
                F.col("pos").cast("string"),
            )
        )
    )
    wins = (
        base.filter(F.size("tk") >= K)
        .select(
            "id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(tk) - {K} + 1), "
                    f"i -> struct(i AS pos, md5(concat_ws(' ', slice(tk, i, {K}))) AS dg))"
                )
            ).alias("w"),
        )
        .select("id", F.col("w.pos").alias("pos"), F.col("w.dg").alias("dg"))
        .withColumn("key", key_guard)
    )
    firsts = wins.groupBy("dg").agg(F.min("key").alias("fk"))
    dup = wins.join(firsts, "dg").filter(F.col("key") > F.col("fk"))
    cover = (
        dup.select(
            "id", F.explode(F.expr(f"sequence(pos, pos + {K} - 1)")).alias("j")
        ).distinct()
    )
    tokpos = base.select("id", F.posexplode("tk").alias("j0", "tok")).select(
        "id", (F.col("j0") + 1).alias("j"), "tok"
    )
    kept = tokpos.join(cover, ["id", "j"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "tok"))),
                lambda s: s.getField("tok"),
            ),
        ).alias("text_clean"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
    )
    return (
        base.select("id", F.size("tk").cast("bigint").alias("n_tok"))
        .join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("n_tok") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def minhash_index_build(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, n_perm: int = 64
) -> DataFrame:
    """(id, sig array<bigint>[n_perm], shingles array<bigint>) — the
    PERSISTABLE signature index behind incremental near-dup dedup: a
    corpus is signed ONCE, the table (n_docs rows, ~0.6 KB/doc — not
    the text, not the exploded shingles) is written to parquet, and
    every future crawl joins against it without re-reading or
    re-tokenizing the corpus. Same deterministic seeded family as
    `minhash_lsh_pairs` (one xxhash64 per shingle feeds both the
    permutation mins and the verification set), so an index built
    today and a probe run next month produce identical band keys."""
    sh = shingle_sets(df, id_col, text_col, n).select(
        "id", F.expr(f"xxhash64(shingle, {_MH_SEED})").alias("h64")
    ).withColumn("h", F.expr(f"pmod(h64, {_MH_PRIME}L)"))
    agg = sh.groupBy("id").agg(
        *_min_exprs(n_perm), F.collect_set("h64").alias("shingles")
    )
    return agg.select(
        "id",
        F.expr(f"array({','.join(f'm{i}' for i in range(n_perm))})").alias("sig"),
        "shingles",
    )


def _band_rows(sigs: DataFrame, n_perm: int, bands: int) -> DataFrame:
    """(id, band, bkey) LSH band keys derived from a stored ``sig``
    array — banding is recomputed from the signature (16 cheap hashes),
    never stored, so the index layout is independent of the band
    configuration a later probe chooses.

    Config drift is a HARD error, not silent recall loss: ``bands``
    must divide ``n_perm`` (a trailing remainder would be dropped),
    and every stored signature must actually have ``n_perm`` values —
    an index built with a different n_perm than the probe's would
    otherwise read past the array via element_at (null band keys ⇒
    quietly degraded recall, or an ANSI-mode error)."""
    if n_perm % bands != 0:
        raise ValueError(
            f"n_perm={n_perm} must be a multiple of bands={bands}: a remainder "
            "of signature values would be silently excluded from banding"
        )
    sigs = sigs.withColumn(
        "sig",
        F.when(F.size("sig") == n_perm, F.col("sig")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("minhash signature length "),
                    F.size("sig").cast("string"),
                    F.lit(f" != configured n_perm {n_perm} — the index was built "
                          "with a different n_perm than this probe; rebuild or "
                          "match configs"),
                )
            )
        ),
    )
    rows = n_perm // bands
    band_structs = ", ".join(
        "struct({j} AS band, xxhash64(concat_ws(',', {cols})) AS bkey)".format(
            j=j,
            cols=", ".join(
                f"cast(element_at(sig, {j * rows + r + 1}) AS STRING)"
                for r in range(rows)
            ),
        )
        for j in range(bands)
    )
    return sigs.selectExpr("id", f"explode(array({band_structs})) AS b").select(
        "id", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey")
    )


def minhash_probe_pairs(
    index: DataFrame,
    new_docs: DataFrame | None,
    id_col: str,
    text_col: str,
    bands: int = 16,
    new_sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental cross-corpus near-dup join — dedup a NEW crawl
    against an EXISTING corpus without touching the corpus itself: the
    existing side arrives as a `minhash_index_build` signature table
    (typically read back from parquet — READ ONLY, never rewritten; a
    growing corpus appends the crawl's own signatures after the probe),
    the new side is signed fresh with the same deterministic family,
    and candidates come from a two-sided band-bucket equi-join instead
    of the self-join `minhash_lsh_pairs` runs. Work scales with
    |crawl| + touched buckets, never |corpus| text — the C2 sibling of
    `ivf_index_upsert`'s touched-cell discipline.

    Output: (new_id, index_id, jac) — candidates exact-Jaccard-verified
    against both sides' stored shingle-hash sets, so the result equals
    the exact cross-corpus join whenever band recall covers every
    ≥threshold pair (same 16×4 ⇒ ~2e-4 miss bound as the self-join
    path, and the same hashed-shingle Jaccard ≡ string Jaccard
    argument)."""
    # Shuffle discipline under "crawl ≪ corpus" (the incremental
    # premise): the CRAWL side is what broadcasts, so the corpus-sized
    # index is only ever STREAMED — its band keys are a projection over
    # the index scan feeding a broadcast hash join, and the
    # verification join broadcasts the (candidate, crawl-shingles)
    # table against the streamed index rows. Without the hints Spark
    # has no size stats for the computed crawl side and would plan a
    # sort-merge join that shuffles every index band row — the exact
    # O(corpus)-per-probe cost this operator exists to avoid.
    #
    # ``new_sigs`` lets a caller that ALSO needs the crawl's signature
    # table (e.g. the streaming path, which appends it to the index)
    # pass it in pre-built and own its persist/unpersist lifecycle —
    # the batch one-shot path signs and caches internally (the cache
    # lives until the app ends, the standard one-shot-query license).
    newsig = (
        new_sigs
        if new_sigs is not None
        else minhash_index_build(new_docs, id_col, text_col, _SHINGLE_N, _N_PERM).cache()
    )
    bx = _band_rows(newsig, _N_PERM, bands).alias("x")
    by = _band_rows(index, _N_PERM, bands).alias("y")
    candidates = (
        by.join(
            F.broadcast(bx),
            (F.col("x.band") == F.col("y.band")) & (F.col("x.bkey") == F.col("y.bkey")),
        )
        .select(F.col("x.id").alias("new_id"), F.col("y.id").alias("index_id"))
        .distinct()
    )
    a = newsig.select("id", "shingles").alias("sa")
    b = index.select("id", "shingles").alias("sb")
    n_common = F.size(F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles")))
    jac = n_common.cast("double") / (
        F.size(F.col("sa.shingles")) + F.size(F.col("sb.shingles")) - n_common
    )
    # Verify-step broadcast discipline: what broadcasts must scale with
    # |crawl|, never with the candidate-PAIR count — a dup-heavy crawl
    # (one new doc banding with many index docs) would replicate that
    # doc's whole shingle set once per pair if we broadcast the joined
    # (pair × crawl-shingles) table. So broadcast (1) the bare id-pair
    # list (16 B/pair) onto the streamed index scan, then (2) the
    # DEDUPLICATED crawl signature table (|crawl| rows, each shingle
    # set exactly once) onto that stream. Index shingles replicate only
    # across streamed rows — never inside a broadcast.
    cand_idx = b.join(F.broadcast(candidates), F.col("index_id") == F.col("sb.id"))
    return (
        cand_idx.join(F.broadcast(a), F.col("new_id") == F.col("sa.id"))
        .select("new_id", "index_id", jac.alias("jac"))
        .filter(F.col("jac") >= _JACCARD_T)
    )


def _local_components(edges: DataFrame) -> DataFrame:
    """Partition-local union-find contraction: one `mapInPandas` pass
    that replaces each partition's subgraph with its spanning stars —
    rows ``(id, comp)`` where ``comp`` is the min node id of the node's
    component *within that partition*. Connectivity is preserved (every
    partition subgraph collapses to a star on its local min), so the
    output is a drop-in, much smaller edge list for global propagation —
    and when the whole graph sits in ONE partition it is already the
    exact global answer.

    Memory is bounded by the caller's edges-per-partition sizing (~1M
    edges → tens of MB of dict); the per-edge Python here is the
    *contraction* step of distributed union-find, not row-at-a-time
    work on corpus data — the edge stream is orders smaller than the
    corpus that produced it."""
    id_type = edges.schema["a"].dataType

    def part(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(pdf["a"], pdf["b"]):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by min keeps roots = min id directly
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        if parent:
            ids = list(parent)
            yield pd.DataFrame({"id": ids, "comp": [find(x) for x in ids]})

    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("id", id_type, False), StructField("comp", id_type, False)]
    )
    return edges.mapInPandas(part, schema)


def connected_components(pairs: DataFrame) -> DataFrame:
    """(id, comp) for every node appearing in ``pairs``; ``comp`` is the
    minimum node id of the node's connected component — the canonical
    "collapse near-dup pairs into clusters" step after any pairwise
    dedup (MinHash/SimHash emit PAIRS; training pipelines need GROUPS
    with one kept representative).

    Algorithm: distributed union-find in two phases. Phase 1
    (`_local_components`) contracts each partition's subgraph to stars
    in a single pass — when the coalesced graph fits one partition
    (the common case: a near-dup edge stream is orders smaller than its
    corpus) that pass IS the exact answer and phase 2 never runs.
    Phase 2, for multi-partition graphs, is iterative min-label
    propagation over the contracted stars: one join + grouped min per
    round; rounds needed = diameter of the contracted graph (≤ number
    of partitions a component spans, not the raw chain length). The
    driver-side loop is over ITERATIONS, never data: the only collected
    value is the scalar changed-row count used for convergence. Each
    round's labels are cached and the previous round unpersisted, so
    lineage stays O(1). For adversarially deep contracted graphs, swap
    the propagation body for the large-star/small-star variant
    (alternating min-joins, O(log n) rounds) — the surrounding loop,
    convergence check and output contract stay identical.
    """
    # symmetrize with ONE explode, not union(fwd, rev): a union's two
    # branches each re-evaluate the upstream pair pipeline (the LSH
    # join + verify) when the cache materializes — measured 2x the
    # pair-build cost on dedup_clusters
    edges_raw = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("a"), F.col("id_b").alias("b")),
                F.struct(F.col("id_b").alias("a"), F.col("id_a").alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b").cache()
    # size the contraction's partitioning from the measured edge count
    # (the count also materializes the cache, so the pair pipeline runs
    # exactly once). The pair stream is orders smaller than the corpus —
    # a near-dup graph over 10M docs is ~10^5 edges — and iterating a
    # 32-partition plan over a few-KB graph pays ~32 empty tasks per
    # stage, every round (measured 5 s for a 20-pair graph). coalesce
    # reads the existing cache, no shuffle; at real scale the same
    # formula keeps ~1M edges per partition.
    n_edges = edges_raw.count()
    parallelism = pairs.sparkSession.sparkContext.defaultParallelism
    per_part = _CC_EDGES_PER_PARTITION
    n_parts = max(1, min(parallelism, (n_edges + per_part - 1) // per_part))
    local = _local_components(edges_raw.coalesce(n_parts)).cache()
    if n_parts == 1:
        # the whole graph sat in one partition → the contraction is the
        # exact global answer; materialize it before dropping the edge
        # cache (saves the 2-shuffle-per-round loop entirely — measured
        # ~2.5 s of fixed round overhead on dedup_clusters at sf0.1)
        local.count()
        edges_raw.unpersist()
        return local
    # Phase 2 over the contracted stars: (id ↔ local-root) edges carry
    # the same connectivity as the raw graph at a fraction of the rows.
    edges = local.select(
        F.explode(
            F.array(
                F.struct(F.col("id").alias("a"), F.col("comp").alias("b")),
                F.struct(F.col("comp").alias("a"), F.col("id").alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b").cache()
    # initial labels = best local label per node (min across the
    # partitions the node appeared in) — one round ahead of identity
    labels = local.groupBy("id").agg(F.min("comp").alias("comp")).cache()
    labels.count()
    edges_raw.unpersist()
    for _ in range(25):
        # one round = one join + one union + one grouped min — the
        # neighbor-propagated labels and the node's own label meet in a
        # single aggregation (2 shuffles/round, vs 3 for the textbook
        # join→groupBy→left-join-back shape; per-round fixed cost is
        # what dominates on shallow near-dup graphs). Self rows carry
        # their label twice so the same aggregate also yields the old
        # label, making the convergence check free: `changed` rides the
        # one action that materializes the round's cache.
        contrib = edges.join(labels, edges["b"] == labels["id"]).select(
            "a", "comp", F.lit(None).cast(labels.schema["comp"].dataType).alias("own")
        )
        merged = contrib.union(
            labels.select(F.col("id").alias("a"), "comp", F.col("comp").alias("own"))
        )
        round_df = (
            merged.groupBy("a")
            .agg(F.min("comp").alias("comp"), F.max("own").alias("_old"))
            .select(F.col("a").alias("id"), "comp", "_old")
        ).cache()
        changed = round_df.filter(F.col("comp") != F.col("_old")).count()
        labels.unpersist()
        labels = round_df.drop("_old")
        if changed == 0:
            break
    edges.unpersist()
    local.unpersist()
    return labels


def dedup_clusters(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, rep_id, cluster_size) — near-dup CLUSTERS from the
    MinHash+LSH pair stream: connected components over the verified
    pairs, representative = min doc id, one row per clustered doc.
    Docs with no near-dup partner don't appear (their cluster is {self})."""
    prs = minhash_lsh_pairs(df, id_col, text_col)
    cc = connected_components(prs.select("id_a", "id_b"))
    sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "comp").select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("rep_id"),
        F.col("cluster_size"),
    )


def embedding_dedup_clusters(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    block_col: str | None = None,
) -> DataFrame:
    """(vec_id, rep_id, cluster_size) — embedding-cosine near-dup
    clusters: pairs with cosine >= threshold collapsed into connected
    components with the min-id representative. The semantic-dedup
    sibling of `dedup_clusters`: same pairs→groups contract, cosine
    instead of Jaccard.

    Pair generation (round-6): with a ``block_col``, the per-block
    GEMM prefilter + exact fold-cosine verify
    (`similarity.cosine_pairs_gemm`) — bit-identical output to the
    old all-pairs fold join (the verify stage evaluates the SAME
    operand-ordered float expression), with the block² work done as
    one BLAS matmul per block instead of an interpreted fold per pair
    (was the slowest sweep query, 22.7 s/sf0.1). Without a block key
    the original fold join remains; for the LSH-candidate variant and
    the measured analysis of when bucketing can/cannot prune at this
    threshold, see `embedding_dedup_clusters_lsh`."""
    from mapreduce_project_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_gemm,
    )

    if block_col is not None:
        prs = cosine_pairs_gemm(df, id_col, vec_col, threshold, block_col)
    else:
        prs = cosine_pairs(df, id_col, vec_col, threshold, block_col)
    cc = connected_components(prs.select("id_a", "id_b"))
    sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "comp").select(
        F.col("id").alias("vec_id"),
        F.col("comp").alias("rep_id"),
        F.col("cluster_size"),
    )


def embedding_dedup_clusters_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_bits: int | str = 8,
    dim: int = 64,
    signs: list[list[list[int]]] | None = None,
) -> DataFrame:
    """(vec_id, rep_id, cluster_size) — embedding near-dup clusters
    with sign-LSH CANDIDATE GENERATION instead of a blocking key: the
    no-block-key scale path the round-5 VERDICT asked to be wired.
    Candidates = pairs sharing a bucket code in >= 1 of 32
    tables (seeded Rademacher hyperplanes, `similarity.lsh_code_exprs`
    — codes are the SAME operand-ordered fold expression the DuckDB
    oracle runs, so the candidate set is bit-reproducible and the
    whole output hash-matches its oracle at any SF); exact fold-cosine
    verify >= ``threshold`` on collisions only; the identical
    connected-components step.

    HONEST RECALL NOTE (measured, sf0.1 fixture, 2 000 vectors,
    threshold 0.3 ⇒ qualifying pair angle <= 72.5°): sign-LSH cannot
    prune near-orthogonal thresholds — 32x4 needs 86% of ALL pairs as
    candidates for recall 0.99; the production-shaped 32x8 used here
    prunes 7.4x but recalls only ~0.46 of threshold-0.3 pairs (floor
    pinned in tests/test_dedup.py). The regime where this operator is
    the right tool is REALISTIC semantic-dedup thresholds: at
    cos >= 0.9 (pair angle 25.8°, per-bit collision 0.857) the same
    32x8 family recalls 1-(1-0.857^8)^32 ≈ 0.996 while random pairs
    collide at 0.5^8/table — and at 100 TB, ``n_bits`` grows with
    log(N) to hold bucket sizes constant (candidates ∝ N per decade)
    while the 32 tables restore recall. Pass ``n_bits="auto"`` to
    apply exactly that rule: bits = clamp(ceil(log2(N / 8)), 8, 24)
    (target ~8 rows/bucket/table; one metadata-scale COUNT on the
    driver). MEASURED at sf≈1 (20k vectors, threshold 0.9): fixed
    8 bits 62.8 s → auto-picked 12 bits 8.5 s, with modeled recall
    1-(1-0.857¹²)³² ≈ 0.996 — the fixed-bits decade ratio of
    20.7× (SCALING.md round-7 notes) collapses to near-linear.
    Registered queries pin bits explicitly so their DuckDB oracle
    replays the identical codes. For exact low-threshold clustering
    use `embedding_dedup_clusters` (GEMM prefilter + exact verify)
    with a blocking key.

    Plan shape: codes are a map-side projection (no shuffle); the
    bucket self-join shuffles 12-byte (table, code, id) rows — vectors
    never ride the candidate shuffle; the verify joins vectors back by
    id twice; components as in every other dedup family."""
    import math

    from mapreduce_project_spark.operators.similarity import (
        as_double,
        cosine,
        lsh_codes_exact,
        rademacher_signs,
    )

    if signs is not None:
        # Explicit plane family (e.g. the prefix-consistent auto-width
        # family) — shape wins over the n_tables/n_bits arguments, and
        # the auto-width COUNT below is skipped entirely (the caller
        # already fixed the width). Validate shape up front: a ragged
        # or wrong-dim family would otherwise surface as an opaque
        # numpy broadcast error inside the executor UDF.
        if not signs or not signs[0]:
            raise ValueError("signs must be a non-empty list of non-empty tables")
        widths = {len(table) for table in signs}
        if len(widths) != 1:
            raise ValueError(f"signs tables must share one bit width; got {sorted(widths)}")
        plane_lens = {len(plane) for table in signs for plane in table}
        if plane_lens != {dim}:
            raise ValueError(
                f"signs plane length must equal dim={dim}; got {sorted(plane_lens)}"
            )
    elif n_bits == "auto":
        # bits grow with log(N) to hold per-table bucket sizes (~8 rows)
        # constant — candidates then scale ∝ N per decade, not N².
        n_rows = df.count()  # metadata-scale driver action, documented
        n_bits = max(8, min(24, math.ceil(math.log2(max(n_rows, 1) / 8 or 1))))

    # Bucket codes via the Arrow-batched numpy kernel that reproduces
    # the DuckDB oracle's left-fold BIT-FOR-BIT (`lsh_codes_exact`: each
    # plane dot is np.cumsum(v * ±1)[-1], the identical operation
    # sequence to the SQL chain 0.0 + (±v1) + (±v2) + …, so a sign can
    # never disagree between engines even at |dot| ~ ulp). Replaces 256
    # interpreted HOF fold expressions (measured 14.3 s at sf0.1 →
    # sub-second).
    if signs is None:
        signs = rademacher_signs(32, n_bits, dim)
    coded = lsh_codes_exact(df, id_col, vec_col, signs)
    base = df.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    )
    a = coded.alias("a")
    b = coded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    prs = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cosine(F.col("v_a"), F.col("v_b")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )
    cc = connected_components(prs.select("id_a", "id_b"))
    sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "comp").select(
        F.col("id").alias("vec_id"),
        F.col("comp").alias("rep_id"),
        F.col("cluster_size"),
    )


def simhash_chunks(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, c0..c3) — 64-bit SimHash as 4×16-bit chunks.

    Features are distinct token n-gram shingles (unigram features
    degenerate on small vocabularies — every doc converges to the same
    sketch); each of 64 hash bits per shingle votes ±1 and the sign of
    the per-bit sum is the sketch bit. One explode + one groupBy with
    64 algebraic sums — fully distributed, no Python.

    The 64 bits come from the first 16 hex chars of ``md5(shingle)``,
    read as two 32-bit words — md5 is the one keyed-bit source both
    Spark and DuckDB evaluate identically, which makes the sketch (and
    therefore the whole pair output) oracle-checkable by value instead
    of rows-only. (xxhash64 would be ~3x cheaper per shingle but is
    Spark-only; the sketch build is not the bottleneck of the pair
    join.) Need a seeded family? Fold the seed into the message:
    ``md5(concat(seed, shingle))``.
    """
    tok = shingle_sets(df, id_col, text_col, n).select(
        "id",
        F.expr("cast(conv(substr(md5(shingle), 1, 8), 16, 10) AS bigint)").alias("hi"),
        F.expr("cast(conv(substr(md5(shingle), 9, 8), 16, 10) AS bigint)").alias("lo"),
    )
    # expression STRINGS for the 64 sums / 4 chunk assemblies — same
    # Py4J-roundtrip economics as _min_exprs, bit-identical values
    sums = [
        F.expr(
            f"sum((shiftright({'hi' if b < 32 else 'lo'}, {b % 32}) & 1) * 2 - 1) AS s{b}"
        )
        for b in range(64)
    ]
    agg = tok.groupBy("id").agg(*sums)
    chunks = [
        F.expr(
            " + ".join(
                f"(CASE WHEN s{c * 16 + k} > 0 THEN {1 << k} ELSE 0 END)"
                for k in range(16)
            )
            + f" AS c{c}"
        )
        for c in range(4)
    ]
    return agg.select("id", *chunks)


def simhash_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """C2 SimHash near-dup pairs: Hamming(sketch_a, sketch_b) <= k found
    via the pigeonhole chunk join (k=3 with 4 chunks ⇒ some chunk is
    equal), then exact Hamming verification with bit_count(xor)."""
    # cached: the 64-sum sketch aggregate feeds four consumers (both
    # candidate sides + both verification sides) and is tiny (one row
    # per doc); recomputing it per consumer costs more than the cache
    sk = simhash_chunks(df, id_col, text_col, _SHINGLE_N).cache()
    # one (chunk_idx, chunk_val) explode + one equi-join replaces the
    # 4-way union of self-joins: same candidates (some chunk equal),
    # uniform join keys, single shuffle
    chunk_rows = sk.select(
        "id",
        F.explode(
            F.array(*[F.struct(F.lit(c).alias("ci"), F.col(f"c{c}").alias("cv")) for c in range(4)])
        ).alias("ch"),
    ).select("id", F.col("ch.ci").alias("ci"), F.col("ch.cv").alias("cv"))
    x = chunk_rows.alias("x")
    y = chunk_rows.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.ci") == F.col("y.ci"))
            & (F.col("x.cv") == F.col("y.cv"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    aj = sk.alias("sa")
    bj = sk.alias("sb")
    hamming = None
    for c in range(4):
        term = F.bit_count(F.col(f"sa.c{c}").bitwiseXOR(F.col(f"sb.c{c}")))
        hamming = term if hamming is None else hamming + term
    return (
        cand.join(aj, F.col("id_a") == F.col("sa.id"))
        .join(bj, F.col("id_b") == F.col("sb.id"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 3)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Exact set-CONTAINMENT join (PPJoin-C / Vernica et al.'s R-S
    asymmetric variant): directional pairs (contained_id,
    container_id) where |A∩B| ≥ t·|A| over n-gram shingle sets — the
    asymmetric dedup question Jaccard misses: a short document pasted
    into a long one scores high containment but LOW Jaccard (the union
    is dominated by the container), so quote extraction, boilerplate
    wrappers, and doc-inclusion detection need this operator, not C2.

    Filter design (exact, integer): A needs overlap o = ceil(t·|A|)
    = (t_num·|A| + t_den−1) div t_den, so A joins only on its
    |A| − o + 1 rarest shingles under the canonical (docfreq, hash)
    total order — if every prefix shingle missed the intersection, at
    most o − 1 shared shingles would remain, a contradiction; the
    container side indexes ALL its shingles (containment places no
    bound on B's extras — that asymmetry is the operator). The PPJoin
    positional bound applies unchanged: a common row at positions
    (pa, pb) of the SAME global order admits at most
    1 + min(|A|−pa, |B|−pb) overlap, and a qualifying pair's
    lowest-ordered shared shingle always sits in A's prefix and
    passes it. Verification: one JVM array_intersect per candidate on
    the hashed-shingle arrays (the documented collision argument);
    output is all-integer.

    Plan shape: docfreq window (shingle-keyed) → rank/size windows
    (id-keyed) → prefix⋈postings equi-join with the positional
    predicate → distinct directional id pairs → one verify join.
    Shingles travel as 8-byte xxhash64 end to end."""
    # containment threshold t = 7/10; smaller docs are never the contained side
    t_num, t_den, min_sz = 7, 10, 5
    from pyspark.sql import Window

    sh = shingle_sets(df, id_col, text_col, _SHINGLE_N).select(
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
        .cache()
    )
    # o = ceil(t_num*sz/t_den), exact in BIGINT
    o_req = F.floor(
        (F.lit(t_num) * F.col("sz") + F.lit(t_den - 1)) / F.lit(t_den)
    )
    prefix = ranked.filter(
        (F.col("pos") <= F.col("sz") - o_req + F.lit(1))
        & (F.col("sz") >= F.lit(min_sz))
    ).select("id", "h", "sz", "pos")
    a, b = prefix.alias("a"), ranked.alias("b")
    o_a = F.floor(
        (F.lit(t_num) * F.col("a.sz") + F.lit(t_den - 1)) / F.lit(t_den)
    )
    candidates = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.id") != F.col("b.id"))
            # B must be able to supply o_a shared shingles at all
            & (F.col("b.sz") >= o_a)
            # positional bound through this common row
            & (
                F.lit(1)
                + F.least(
                    F.col("a.sz") - F.col("a.pos"),
                    F.col("b.sz") - F.col("b.pos"),
                )
                >= o_a
            ),
        )
        .select(
            F.col("a.id").alias("contained_id"),
            F.col("b.id").alias("container_id"),
        )
        .distinct()
    )
    sets = ranked.groupBy("id").agg(
        F.array_sort(F.collect_list("h")).alias("arr")
    )
    sa, sb = sets.alias("sa"), sets.alias("sb")
    n_shared = F.size(F.array_intersect(F.col("sa.arr"), F.col("sb.arr")))
    return (
        candidates.join(sa, F.col("contained_id") == F.col("sa.id"))
        .join(sb, F.col("container_id") == F.col("sb.id"))
        .select(
            "contained_id",
            "container_id",
            n_shared.cast("bigint").alias("n_shared"),
            F.size("sa.arr").cast("bigint").alias("sz_contained"),
            F.size("sb.arr").cast("bigint").alias("sz_container"),
        )
        .filter(
            F.lit(t_den) * F.col("n_shared")
            >= F.lit(t_num) * F.col("sz_contained")
        )
    )

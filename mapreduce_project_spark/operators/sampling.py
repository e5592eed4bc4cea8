"""Dataset assembly operators for training pipelines — deterministic
splits, stratified sampling, and sequence packing.

These are the steps between "cleaned corpus" and "training shards":
assign every example to a split reproducibly, sample per-stratum
quotas, and pack variable-length documents into fixed token budgets.
All three are pure Column expressions / window functions (no Python),
deterministic across runs and engines, and partition-parallel.

Cross-engine determinism: split assignment hashes the example key with
``md5`` (available and bit-identical in Spark and DuckDB; Spark's
xxhash64 / DuckDB's hash() are engine-specific) and compares the first
8 hex chars — fixed-width lowercase hex, so string comparison IS
numeric comparison on the top 32 bits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _hash_hex8(key: Column) -> Column:
    """First 8 hex chars of md5(key-as-string) — a uniform deterministic
    32-bit bucket, identical in Spark and DuckDB (both emit lowercase
    hex; DuckDB twin: ``substr(md5(cast(k AS VARCHAR)), 1, 8)``)."""
    return F.substring(F.md5(key.cast("string").cast("binary")), 1, 8)


def _frac_threshold_hex(frac: float) -> str:
    """``frac`` of the 32-bit hash space as 8 lowercase hex chars.

    ``frac >= 1`` returns ``"g"`` — lexicographically above every hex
    string, so ``hash < threshold`` keeps ALL rows (the naive
    ``format(2**32, "08x")`` is NINE chars and string-compares below
    most hashes, silently dropping nearly everything)."""
    if frac >= 1.0:
        return "g"
    return format(int(frac * (1 << 32)), "08x")


def hash_split(df: DataFrame, key_col: str, test_frac: float = 0.125) -> DataFrame:
    """Deterministic train/test assignment: ``split`` ∈
    {'test','train'} by md5-bucket of ``key_col``. Properties that
    matter for training pipelines: (1) reproducible — the split is a
    pure function of the key, not of run order, partitioning, or
    engine; (2) stable under corpus growth — adding documents never
    reassigns existing ones; (3) zero shuffle — a map-side projection
    the optimizer pushes alongside the scan."""
    thr = _frac_threshold_hex(test_frac)
    return df.withColumn(
        "split",
        F.when(_hash_hex8(F.col(key_col)) < thr, F.lit("test")).otherwise(
            F.lit("train")
        ),
    )


def stratified_sample_exact(
    df: DataFrame, strata_cols: list[str], key_col: str, k: int
) -> DataFrame:
    """Exactly ``k`` rows per stratum (all rows when the stratum is
    smaller), chosen deterministically: rank by (md5-hash, key) inside
    each stratum and keep the first ``k``. Unlike ``df.sampleBy`` this
    is exact (not Bernoulli), reproducible, and oracle-expressible —
    the hash order is uniform, so the pick is unbiased. One shuffle on
    the strata key; skewed strata are bounded by ``k`` on output."""
    from pyspark.sql import Window

    w = Window.partitionBy(*strata_cols).orderBy(
        _hash_hex8(F.col(key_col)), F.col(key_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def pack_sequences(
    df: DataFrame,
    part_col: str,
    order_col: str,
    size_col: Column,
    budget: int,
) -> DataFrame:
    """Assign each document a pack ``bin`` so consecutive documents
    (by ``order_col``, within ``part_col``) fill a ``budget``-token
    context window: bin = floor(exclusive-running-sum(size) / budget).

    This is contiguous streaming packing — the standard
    concat-and-chunk used for LLM pretraining shards (documents are
    packed in corpus order; a document longer than ``budget`` spills
    into its own bins downstream). One window per partition key:
    parallel across ``part_col`` values, ordered within. At 100 TB the
    partition column (source/date/shard) bounds each window's rows;
    never pack over a global order — that is a single-task sort.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(size_col).over(w), F.lit(0))
    return df.withColumn("bin", F.floor(cum_before / budget))


def repeat_sources(
    df: DataFrame,
    key_col: str,
    source_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic replication/epochs — the rate>1 counterpart of
    `mix_sources`: each row appears ``floor(rate)`` times plus one more
    when its md5 bucket falls under ``frac(rate)``, tagged with a
    1-based ``epoch``. Rate 2.5 on a source means every row twice
    and a deterministic half of them a third time — the "2.5 epochs of
    curated data" upsampling step of training-mixture assembly.

    The fractional decision reuses `mix_sources`' exact hash-threshold,
    so ``repeat_sources(rate=r<1)`` keeps precisely the rows
    ``mix_sources(rate=r)`` keeps (with epoch=1) — mixtures compose
    consistently across the two operators. Pure function of
    (source, key): reproducible across runs/engines/partitionings,
    stable under corpus growth. Zero shuffle: a map-side
    filter + explode of a tiny int sequence; output volume grows only
    by the requested rates (guard: rate <= 100).
    """
    import math

    for s, r in {**rates, None: default_rate}.items():
        if not 0.0 <= r <= 100.0:
            raise ValueError(f"rate for {s!r} must be in [0,100], got {r}")

    def _n_base(r: float) -> int:
        return int(math.floor(r))

    def _frac(r: float) -> str:
        return _frac_threshold_hex(r - math.floor(r))

    base = F.lit(_n_base(default_rate))
    thr = F.lit(_frac(default_rate))
    for s, r in sorted(rates.items()):
        is_s = F.col(source_col) == s
        base = F.when(is_s, F.lit(_n_base(r))).otherwise(base)
        thr = F.when(is_s, F.lit(_frac(r))).otherwise(thr)
    n = base + (_hash_hex8(F.col(key_col)) < thr).cast("int")
    # filter BEFORE sequence(): Spark's sequence(1, 0) is the
    # DESCENDING [1, 0], not empty — never build it
    return (
        df.withColumn("_n", n)
        .filter(F.col("_n") >= 1)
        .withColumn("epoch", F.explode(F.sequence(F.lit(1), F.col("_n"))))
        .withColumn("epoch", F.col("epoch").cast("bigint"))
        .drop("_n")
    )


def mix_sources(
    df: DataFrame,
    key_col: str,
    source_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic source-mixture sampling: keep each row with its
    source's target rate — the "data mixing" step that rebalances a
    training corpus (upweight curated sources, downsample crawl) while
    staying a pure function of (source, key): reproducible across
    runs, engines, partitionings, and corpus growth (adding rows never
    flips existing keep/drop decisions — unlike `df.sample`, which
    depends on partition layout). Zero shuffle: a map-side filter the
    optimizer fuses into the scan.

    Rates are per-source fractions in [0, 1]; sources absent from
    ``rates`` get ``default_rate``. Rates > 1 (replication/epochs)
    belong to a separate explode-based repeat operator, not sampling.
    """
    for s, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {s!r} must be in [0,1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0,1], got {default_rate}")
    thr = F.lit(_frac_threshold_hex(default_rate))
    for s, r in sorted(rates.items()):
        thr = F.when(F.col(source_col) == s, F.lit(_frac_threshold_hex(r))).otherwise(thr)
    return df.filter(_hash_hex8(F.col(key_col)) < thr)


def shuffle_shards(
    df: DataFrame,
    key_col: str,
    n_shards: int = 16,
    seed: str = "seed42",
) -> DataFrame:
    """Deterministic global training shuffle into shards: every row gets
    a ``(shard, pos)`` address that is a pure function of
    ``(seed, key)`` — the "shuffle the corpus before training" step,
    reproducible across runs, engines, partitionings, and corpus
    growth (a new row lands somewhere without moving existing rows'
    relative order within their shard).

    shard = top-32-bits(md5(seed:key)) mod n_shards (uniform by
    construction — no skew regardless of key distribution); pos =
    rank of the full md5 key within the shard (row_number ordered by
    hash, key-tiebreak). Changing ``seed`` is a full reshuffle.

    Scale design: one shuffle keyed on ``shard``; each shard's
    row_number window runs in a single task, so pick ``n_shards`` such
    that corpus_bytes / n_shards fits a task (at 100 TB: ~100k shards
    → ~1 GB each). That per-shard sort is exactly the "write shuffled
    shard files" step a training pipeline needs anyway — the output is
    typically partitioned-by-shard parquet, sorted by pos within.
    """
    from pyspark.sql import Window

    k = F.md5(
        F.concat(F.lit(seed + ":"), F.col(key_col).cast("string")).cast("binary")
    )
    keyed = df.withColumn("_k", k)
    shard = F.pmod(
        F.expr("cast(conv(substr(_k, 1, 8), 16, 10) AS bigint)"), F.lit(n_shards)
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("_k", key_col)
    return (
        keyed.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .drop("_k")
    )


def length_bucketed_batches(
    df: DataFrame,
    id_col: str,
    len_col: str,
    batch_size: int,
) -> DataFrame:
    """Dynamic-batching layout: assemble fixed-count training batches
    of similar-length sequences so padding waste stays low — the data
    layout step in front of padded-batch training (the packing
    alternative when examples must stay whole).

    Two-level and fully parallel: a DATA-INDEPENDENT length bucket
    (``len div 64``) first, then deterministic batch
    assembly within each bucket by (len, id) rank — every window
    partitions on the bucket key, so no global sort exists anywhere
    and buckets scale out independently (the reason this is not one
    row_number over a corpus-wide ORDER BY length).

    Output, one row per batch: (bucket, batch_id, n_seqs, max_len,
    sum_len, pad_frac) where pad_frac = (n·max − sum) / (n·max) —
    exact integer arithmetic and ONE double division, engine-exact.
    A batch of all-zero-length sequences (n·max = 0) has no pad slots
    at all, so pad_frac is defined as 0.0 there (the guard keeps the
    documented 0 ≤ pad_frac < 1 contract instead of emitting 0/0 NaN).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("_bkt").orderBy(F.col("_len"), F.col("_id"))
    ranked = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(len_col).cast("bigint").alias("_len"),
            F.expr(f"cast({len_col} AS bigint) div 64").alias("_bkt"),
        )
        .withColumn("_rn", F.row_number().over(w).cast("bigint"))
        .withColumn("batch_id", F.expr(f"(_rn - 1) div {batch_size}"))
    )
    agg = ranked.groupBy(F.col("_bkt").alias("bucket"), "batch_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seqs"),
        F.max("_len").alias("max_len"),
        F.sum("_len").alias("sum_len"),
    )
    waste = agg["n_seqs"] * agg["max_len"] - agg["sum_len"]
    slots = agg["n_seqs"] * agg["max_len"]
    return agg.select(
        "bucket",
        "batch_id",
        "n_seqs",
        "max_len",
        "sum_len",
        F.when(slots > 0, waste.cast("double") / slots.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("pad_frac"),
    )


def negative_samples(
    df: DataFrame,
    id_col: str,
    anchors: DataFrame,
    k: int,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every anchor, ``k`` pseudo-random negatives drawn uniformly from
    the corpus — without ever joining anchors against the full corpus.

    Design (the scalable shape): each corpus row hashes into one of
    64 md5 buckets (one corpus pass); each anchor derives k
    probe buckets from md5(anchor:j); the equi-join on bucket meets
    ~corpus/64 candidates per probe, and the winner is the
    candidate minimizing md5(anchor:j:cand) — a uniform, reproducible
    pick keyed on (anchor, draw). Work is anchors × k × bucket-size;
    the bucket count sets the bucket size. The probe side is tiny
    and broadcasts, so the corpus is scanned once with its only
    shuffle being the (anchor, j)-keyed argmin.

    Output: (anchor_id, draw, neg_id). A draw whose bucket holds only
    the anchor itself yields no row (deterministic; at real corpus
    sizes the probability is negligible). Distinct draws may rarely
    pick the same negative (birthday-bounded) — downstream dedup is
    the caller's choice. Pure md5 arithmetic ⇒ SQL-oracle-exact.
    """
    b = 64
    cand = df.select(F.col(id_col).alias("_cand")).withColumn(
        "_bkt",
        F.expr(
            f"cast(conv(substr(md5(cast(_cand AS string)), 1, 8), 16, 10) "
            f"AS bigint) % {b}"
        ),
    )
    probes = (
        anchors.select(F.col(id_col).alias("anchor_id"))
        .select(
            "anchor_id", F.explode(F.sequence(F.lit(1), F.lit(k))).alias("draw")
        )
        .withColumn(
            "_bkt",
            F.expr(
                f"cast(conv(substr(md5(concat(cast(anchor_id AS string), ':', "
                f"cast(draw AS string))), 1, 8), 16, 10) AS bigint) % {b}"
            ),
        )
    )
    tie = F.md5(
        F.concat(
            F.col("anchor_id").cast("string"),
            F.lit(":"),
            F.col("draw").cast("string"),
            F.lit(":"),
            F.col("_cand").cast("string"),
        ).cast("binary")
    )
    return (
        cand.join(F.broadcast(probes), "_bkt")
        .filter(F.col("_cand") != F.col("anchor_id"))
        .groupBy("anchor_id", "draw")
        .agg(F.min(F.struct(tie.alias("h"), F.col("_cand").alias("c"))).alias("m"))
        .select("anchor_id", F.col("draw").cast("bigint"), F.col("m.c").alias("neg_id"))
    )

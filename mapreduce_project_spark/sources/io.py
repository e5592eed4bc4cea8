"""Sources and sinks.

Reference parity (SURVEY.md §2.A):

- A1 (HDFS file-scan source, ``worker.py:129-132``) → ``spark.read``
  over any Hadoop-compatible FS; local paths in tests.
- A2 (default line iterator: one record per line, key = line number,
  ``worker.py:141-145``) → `read_text_lines` (line number via a window
  over ``monotonically_increasing_id`` per file when requested).
- A3 (custom whole-file iterator, ``worker.py:123,131-138``;
  ``client_folder/jobs/word_count.py:10-21``) → `read_whole_text_files`
  / `read_binary_files` with ``file_path`` and ``size`` metadata columns
  (≡ the reference's metadata dict, ``worker.py:133``).
- A10 (text-lines sink, ``worker.py:52-58,209``) → `write_text_lines`;
  the engine-native sink is Parquet (`write_parquet`).

Scale notes: parquet reads are split by
``spark.sql.files.maxPartitionBytes`` (128 MB default) — at 100 TB that
is ~800k input splits, which Spark's scheduler handles; binary
whole-file reads keep one file per row, so extremely large single files
should instead flow through the streaming/text paths.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# The driver's synthetic test tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Parquet schemas read so far, keyed by `_schema_key`. Unbounded: one
# entry per distinct table file a session loads.
_SCHEMAS: dict[tuple, StructType] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """What a parquet schema read depends on: the session (its
    application id and the two inference confs the engine sets) and
    the identity of every file at ``path`` — absolute path, size,
    ``st_mtime_ns`` and inode. A Spark-written table is a directory
    whose part files are named anew by each write, so a rewritten
    table never matches an old key. None for a path that is not on
    the local file system."""
    path = os.path.abspath(path)
    if os.path.isfile(path):
        files = [path]
    elif os.path.isdir(path):
        files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
    else:
        return None
    stats = [(f, os.stat(f)) for f in files]
    return (
        spark.sparkContext.applicationId,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong"),
        spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled"),
        *((f, st.st_size, st.st_mtime_ns, st.st_ino) for f, st in stats),
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic parquet table from ``sf_dir``.

    ``events.ts`` is physically TIMESTAMP(NANOS) parquet, which Spark's
    vectorized reader rejects; we read nanos as long
    (``spark.sql.legacy.parquet.nanosAsLong``) and truncate to
    microsecond timestamps with integer division (``div`` — a double
    division would lose precision at ns-epoch magnitude). DuckDB
    truncates ns → µs the same way, so oracle timestamps agree.

    Spark infers a parquet schema with a job of its own, so each
    table's schema is read once and handed to ``spark.read.schema`` on
    later loads. The cache key (`_schema_key`) is the session's
    application id and its ``nanosAsLong`` and ``inferTimestampNTZ``
    confs, plus the path, size, ``st_mtime_ns`` and inode of each file
    of the table, so a rewritten table is read afresh.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    key = _schema_key(spark, path)
    if key in _SCHEMAS:
        df = spark.read.schema(_SCHEMAS[key]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMAS[key] = df.schema
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_tables(
    spark: SparkSession, sf_dir: str, names: Iterable[str] = TABLES
) -> None:
    """Register the testdata tables as temp views so the full Spark SQL
    surface works directly: ``spark.sql("SELECT ... FROM lineitem")``.
    The reference has no SQL layer at all (SURVEY.md §4); on this engine
    every declared query could equivalently be issued as SQL against
    these views — same Catalyst plans either way."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_text_lines(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """One row per text line (≡ the reference's default iterator,
    ``worker.py:141-145``), column ``value: string``.

    The reference keys each line by its line number; Spark has no
    stable global line index without a sort, so callers that need it
    should derive one per-file downstream — the shipped jobs never use
    the line-number key (both override ``iterator_fn`` to whole-file
    mode).
    """
    return spark.read.text(paths)


def read_whole_text_files(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """One row per file: (file_path, size, content) — ≡ the reference's
    whole-file iterator input (``worker.py:131-138``): user iterators get
    ``(file_bytes, {"size", "file_path"})``.

    Returns columns ``file_path string, size long, content string``.
    """
    df = read_binary_files(spark, paths)
    return df.select(
        F.col("path").alias("file_path"),
        F.col("length").alias("size"),
        F.decode(F.col("content"), "UTF-8").alias("content"),
    )


def read_binary_files(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Whole files as bytes via the ``binaryFile`` source: columns
    ``path, modificationTime, length, content: binary``.

    This is the multimodal ingestion path too (images/audio/video as
    opaque binary + metadata; SURVEY.md §2.C C5).
    """
    reader = spark.read.format("binaryFile")
    if isinstance(paths, str):
        return reader.load(paths)
    return reader.load(list(paths))


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read across an EVOLVED schema history: files written
    before a column existed surface it as NULL; the unified schema is
    the union of all file footers (``mergeSchema``).

    Scale notes: schema merging reads every file footer at planning
    time — O(files) driver work, fine for partitioned tables with
    manifest-sized file counts but a reason to keep schemas in a
    catalog at 100 TB. Column PRUNING still applies per file; only
    additive evolution is supported (a type CHANGE for an existing
    column fails the merge loudly rather than silently coercing)."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_json_lines(
    spark: SparkSession, paths: str | list[str], schema: str | None = None
) -> DataFrame:
    """Newline-delimited JSON source. Pass an explicit ``schema`` DDL
    string in production — schema inference is a full extra pass over
    the data (prohibitive at 100 TB) and can mis-type sparse fields."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(paths)


def read_csv(spark: SparkSession, paths: str | list[str], schema: str | None = None) -> DataFrame:
    """CSV source. Same schema guidance as JSON; additionally CSV files
    are only splittable when uncompressed or bzip2 — at scale prefer
    converting to parquet at the ingest boundary (`write_parquet`)."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(paths)


def write_json_lines(df: DataFrame, path: str) -> None:
    """Newline-delimited JSON sink (interchange/debug; parquet is the
    engine-native sink)."""
    df.write.mode("overwrite").json(path)


def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink (interchange/debug; parquet is the engine-native sink)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def read_xml(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """XML source (Spark 4 native, SPARK-44265) — the config/feed
    format legacy HDFS estates hold beside CSV/JSON (A19 widening).
    Schema is inferred from the ``<row>`` elements; pass an
    explicit schema via ``spark.read.format('xml').schema(...)`` for
    production stability. Column-level twin: ``F.from_xml`` (used by
    the `orders_xml_roundtrip` query)."""
    return spark.read.format("xml").option("rowTag", "row").load(paths)


def write_xml(df: DataFrame, path: str) -> None:
    """XML sink (one ``<row>`` element per record)."""
    df.write.format("xml").option("rowTag", "row").mode("overwrite").save(path)


def read_orc(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """ORC source (Spark-native) — the other columnar format legacy
    Hive/HDFS estates hold beside parquet (A19 widening). Same
    predicate-pushdown / column-pruning story as the parquet reader;
    schema comes from the ORC footer."""
    return spark.read.orc(paths)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink (Spark-native, zlib-striped)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Engine-native sink. ``partition_by`` enables partition pruning for
    downstream readers — at 100 TB, partition on coarse query keys
    (date, source) but never on high-cardinality keys."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    max_records_per_file: int | None = None,
) -> None:
    """Layout-optimized sink: range-partition + sort rows by
    ``sort_cols`` before writing, so parquet row-group min/max stats
    become selective — downstream point/range filters on those columns
    skip whole row groups (the poor man's clustering/Z-order; at 100 TB
    this is the difference between scanning a file and skipping it).
    ``max_records_per_file`` caps file size for parallel downstream
    reads."""
    out = df.repartitionByRange(*sort_cols).sortWithinPartitions(*sort_cols)
    writer = out.write.mode("overwrite")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


# bits per column of the Morton key; `write_zorder_parquet` scales each
# column into this many bits
_ZORDER_BITS = 16


def zorder_key(cols: list[Column | str]) -> Column:
    """Morton (Z-order) key: interleave the low ``_ZORDER_BITS`` bits of
    each column — rows close in EVERY dimension get close keys, so a
    range-partition + sort on this one key clusters the file layout in
    all dimensions at once (single-column sort clusters only the first;
    filters on the second then hit every file). Pure bit arithmetic, no
    UDF. Inputs must be non-negative ints < 2**_ZORDER_BITS — scale
    first (see `write_zorder_parquet`)."""
    terms = []
    for d, c in enumerate(cols):
        col = F.col(c) if isinstance(c, str) else c
        for b in range(_ZORDER_BITS):
            # bit b of dim d lands at interleaved position b*ndims + d
            terms.append(
                F.shiftleft(F.shiftright(col, b).bitwiseAND(F.lit(1)), b * len(cols) + d)
            )
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int | None = None,
) -> None:
    """Multi-dimensional clustered sink: scale ``cols`` to
    ``_ZORDER_BITS``-bit non-negative ints (global min/max — a 2-row metadata
    aggregate, the only driver-side value; data never moves through the
    driver), compute the Morton key, range-partition + sort on it, and
    write parquet. Row-group/file min-max stats then prune scans
    filtered on ANY clustered column — the Z-order layout optimization
    of lakehouse table formats, expressed with stock Spark operators.
    At 100 TB: one extra shuffle (the range exchange) over the rows
    being laid out, same cost class as `write_sorted_parquet`."""
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    scale = (1 << _ZORDER_BITS) - 1
    scaled = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        rng = (mx - mn) or 1.0
        scaled.append(
            F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(rng) * scale)
            .cast("bigint")
            .alias(f"_z_{c}")
        )
    keyed = df.select("*", *scaled).withColumn(
        "_zkey", zorder_key([f"_z_{c}" for c in cols])
    )
    out = (
        keyed.repartitionByRange(*([n_files] if n_files else []), "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey", *[f"_z_{c}" for c in cols])
    )
    out.write.mode("overwrite").parquet(path)


def compact_parquet(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target)`` files and swap it into place.
    Returns the new file count.

    The small-file problem is the silent scale killer: a table written
    by 10k reducers across 1k micro-batches is 10M files, and every
    downstream scan pays listing + per-file open + footer read before a
    single row. Compaction restores ~``target_file_bytes`` files via
    one narrow ``coalesce`` (no shuffle — files are concatenated, not
    re-sorted; use `write_sorted_parquet`/`write_zorder_parquet` when
    re-clustering is wanted).

    The directory swap here is rename-based and NOT concurrent-reader
    safe — that transactionality is exactly what table formats add on
    top; on object stores run compaction in a maintenance window or
    under a format that supports snapshots."""
    import math
    import os
    import shutil

    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    tmp = path.rstrip("/") + "__compacting"
    spark.read.parquet(path).coalesce(n_files).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return n_files


def observe_metrics(df: DataFrame, name: str, **metrics: Column):
    """Attach zero-cost pipeline counters to a DataFrame: the returned
    ``(df, observation)`` computes ``metrics`` (any aggregate
    expressions) DURING the next action on ``df`` — no second pass over
    the data, unlike a separate ``.agg()`` job. This is the engine-side
    replacement for the reference's per-task Ack bookkeeping
    (``master.py:373-396``): row counts, null rates, and sum checks ride
    along with the job itself.

    Usage::

        df2, obs = observe_metrics(df, "ingest",
                                   n=F.count(F.lit(1)),
                                   bad=F.sum(F.col("x").isNull().cast("int")))
        df2.write.parquet(...)
        obs.get  # {'n': ..., 'bad': ...}

    At 100 TB an extra validation pass is a full re-read; observed
    metrics make the write itself the validation."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *[c.alias(a) for a, c in metrics.items()]), obs


def merge_partitioned_rollup(
    spark: SparkSession,
    batch: DataFrame,
    rollup_path: str,
    part_col: str,
    key_cols: list[str],
    sum_cols: dict[str, str],
) -> None:
    """Incremental maintenance of a partitioned aggregate table — the
    lakehouse continuous-rollup pattern with stock operators, no table
    format required.

    The rollup at ``rollup_path`` is partitioned by ``part_col`` (e.g.
    day) and holds, per (part, keys), ``n_rows`` plus one exact
    DECIMAL(18,2) sum per ``sum_cols`` entry (alias → source column).
    Each call folds a new micro-batch in:

    1. aggregate the batch (map-side partial + one shuffle — the only
       pass over new data);
    2. list the batch's distinct partition values — a driver-side list
       of PARTITION KEYS (bounded: days, not rows), used for static
       partition pruning of the read-back;
    3. read ONLY those partitions of the existing rollup and merge by
       re-summing (count/sum are algebraic — merging partials is
       exact);
    4. write with dynamic partition overwrite: untouched partitions'
       files are never rewritten (asserted in tests by file listing).

    At 100 TB this is the difference between an O(new data + touched
    partitions) update and an O(history) recompute. Late data lands in
    whichever partition its event time belongs to — the batch boundary
    never corrupts totals. Idempotence caveat: replaying the SAME batch
    double-counts (at-least-once input needs an upstream dedup, e.g.
    `streaming/events.py:incremental_dedup_sink`)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.col(src).cast("decimal(18,2)")).cast("decimal(18,2)").alias(alias)
        for alias, src in sum_cols.items()
    ]
    group = [part_col, *key_cols]
    _merge_touched_partitions(
        spark,
        batch,
        rollup_path,
        part_col,
        batch.groupBy(*group).agg(*aggs),
        group,
        [
            F.sum("n_rows").alias("n_rows"),
            *[F.sum(a).cast("decimal(18,2)").alias(a) for a in sum_cols],
        ],
    )


def merge_sketch_rollup(
    spark: SparkSession,
    batch: DataFrame,
    rollup_path: str,
    part_col: str,
    key_cols: list[str],
    distinct_cols: dict[str, str],
) -> None:
    """`merge_partitioned_rollup`'s DISTINCT-COUNT sibling: incremental
    maintenance of per-(part, keys) HLL sketches. Plain partial sums
    can fold micro-batches forever, but COUNT(DISTINCT) cannot be
    merged from counts — it needs a mergeable synopsis, which is
    exactly what the stored sketch column is: each call aggregates the
    batch to one sketch per group (`hll_sketch_agg`), reads back ONLY
    the touched partitions, and `hll_union_agg`s old and new.

    Two properties plain rollups lack:
    - replaying the SAME batch is a NO-OP (sketch union is idempotent
      over identical values) — at-least-once sources need no upstream
      dedup for the distinct counts, unlike the sum rollup;
    - yesterday's partitions re-merge with today's without rescanning
      either's raw data.

    ``distinct_cols`` maps alias → source column. Read estimates back
    with `read_sketch_estimates`. Same dynamic-overwrite discipline as
    the sum rollup: untouched partitions' files are never rewritten."""
    group = [part_col, *key_cols]
    aggs = [
        F.hll_sketch_agg(src, 14).alias(alias)
        for alias, src in distinct_cols.items()
    ]
    _merge_touched_partitions(
        spark,
        batch,
        rollup_path,
        part_col,
        batch.groupBy(*group).agg(*aggs),
        group,
        [F.hll_union_agg(a, True).alias(a) for a in distinct_cols],
    )


def rollup_navigator(
    spark: SparkSession,
    rollup_path: str,
    rollup_keys: list[str],
    sum_aliases: list[str],
    group_cols: list[str],
    raw: Callable[[], DataFrame] | None = None,
):
    """Aggregate navigation: answer a grouped count/sum query FROM the
    maintained rollup when it can, falling back to the raw-data plan
    when it can't — the materialized-view rewrite a warehouse does
    implicitly, surfaced as an explicit, testable step.

    A query grouping by a SUBSET of ``rollup_keys`` and asking for
    ``n_rows``/``sum_aliases`` metrics is algebraically answerable by
    re-aggregating the rollup (counts and sums merge exactly), turning
    an O(history) scan into an O(|rollup|) one — at 100 TB that is the
    difference between reading the fact table and reading a
    few-thousand-row summary. Groupings outside the rollup's keys run
    ``raw()`` instead (or raise when no fallback is supplied).

    Returns ``(DataFrame, used_rollup: bool)``. Freshness contract is
    the caller's: the rollup answers as of its last
    `merge_partitioned_rollup` fold."""
    if set(group_cols) <= set(rollup_keys):
        r = spark.read.parquet(rollup_path)
        out = r.groupBy(*group_cols).agg(
            F.sum("n_rows").alias("n_rows"),
            *[F.sum(a).cast("decimal(18,2)").alias(a) for a in sum_aliases],
        )
        return out, True
    if raw is None:
        raise ValueError(
            f"grouping {group_cols} is not answerable from rollup keys "
            f"{rollup_keys} and no raw fallback was given"
        )
    return raw(), False


def apply_changelog(
    spark: SparkSession,
    table_path: str,
    changes: DataFrame,
    key_cols: list[str],
    part_col: str,
) -> None:
    """MERGE-style changelog apply onto a partitioned parquet table —
    the "apply" step downstream of CDC capture (`table_diff` /
    `operators/events.cdc_compact` produce change feeds; this lands
    them) when no transactional table format is available.

    ``changes`` carries the table's columns plus ``op`` ∈
    {'upsert', 'delete'}. Semantics per key: delete removes it,
    upsert replaces-or-inserts its row. Exactly the
    `merge_partitioned_rollup` discipline: the batch's distinct
    partition values (a driver list of PARTITION KEYS, bounded) prune
    the read-back, existing rows of touched partitions anti-join
    against ALL changed keys, surviving rows union the upserts, and
    dynamic partition overwrite rewrites ONLY touched partitions.
    O(changes + touched partitions), never O(table).

    Constraint it cannot lift without a table format: a key's
    partition value must not change across versions (an upsert that
    moves a row between partitions must be issued as delete+upsert
    with both partitions in the batch — which this handles)."""
    out_cols = [c for c in changes.columns if c != "op"]
    # validate ops BEFORE any effect: an unrecognized or NULL op (e.g. a
    # producer emitting 'update') would otherwise act as a silent
    # DELETE — its key anti-joins away and nothing re-inserts it
    _check_ops(changes, ("upsert", "delete"), "apply_changelog")
    fs, jvm_path = _hadoop_fs(spark, table_path)
    upserts = changes.filter(F.col("op") == "upsert").select(*out_cols)
    if fs.exists(jvm_path):
        parts = [r[0] for r in changes.select(part_col).distinct().collect()]
        old = spark.read.parquet(table_path).filter(F.col(part_col).isin(parts))
        changed_keys = changes.select(*key_cols).distinct()
        survivors = old.join(changed_keys, key_cols, "left_anti")
        merged = survivors.select(*out_cols).unionByName(upserts)
    else:  # first batch: deletes are no-ops on an empty table
        merged = upserts
        parts = []
    # dynamic overwrite only rewrites partitions PRESENT in the output —
    # a partition whose every row was deleted never appears there and
    # would silently keep its stale files. Compute which touched
    # partitions survive BEFORE the write (afterwards `merged`'s lineage
    # would re-read the replaced files), then clear the emptied ones.
    remaining = {r[0] for r in merged.select(part_col).distinct().collect()}
    with _dynamic_overwrite(spark):
        merged.write.mode("overwrite").partitionBy(part_col).parquet(table_path)
    for p in parts:
        if p not in remaining:
            pdir = spark._jvm.org.apache.hadoop.fs.Path(
                f"{table_path}/{part_col}={p}"
            )
            if fs.exists(pdir):
                fs.delete(pdir, True)


def read_sketch_estimates(
    spark: SparkSession, rollup_path: str, distinct_aliases: list[str]
) -> DataFrame:
    """Distinct-count estimates from a sketch rollup written by
    `merge_sketch_rollup` (sketch binaries stay in the table for
    future merging; this is the read-side projection)."""
    df = spark.read.parquet(rollup_path)
    keep = [c for c in df.columns if c not in distinct_aliases]
    return df.select(
        *keep,
        *[F.hll_sketch_estimate(a).alias(a) for a in distinct_aliases],
    )


class _dynamic_overwrite:
    """Scoped ``partitionOverwriteMode=dynamic``: INSERT OVERWRITE
    replaces only the partitions present in the written data."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", self.old)


def _hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` on the session's Hadoop FS."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jvm_path.getFileSystem(spark._jsc.hadoopConfiguration()), jvm_path


def _merge_touched_partitions(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    part_col: str,
    fresh: DataFrame,
    group: list[str],
    merge_aggs: list[Column],
) -> None:
    """Fold ``fresh``, the aggregate of ``batch``, into the table at
    ``path`` partitioned by ``part_col``: read back ONLY the partitions
    ``batch`` touches (a driver-side list of partition keys), re-aggregate
    them with ``fresh`` by ``group`` using ``merge_aggs``, and rewrite
    only those partitions (dynamic overwrite), so untouched partitions'
    files are never rewritten. Without a table at ``path`` (the first
    batch) ``fresh`` is written alone."""
    out_cols = fresh.columns
    # First-batch detection must be EXPLICIT: a broad except here would
    # also swallow schema drift, missing columns, or transient listing
    # failures, silently treat them as "first batch", and then the
    # dynamic overwrite would replace touched partitions with the new
    # batch alone — losing accumulated history. Only a genuinely absent
    # table may take the fresh path; every other error propagates.
    merged = fresh
    fs, jvm_path = _hadoop_fs(spark, path)
    if fs.exists(jvm_path):
        parts = [r[0] for r in batch.select(part_col).distinct().collect()]
        old = spark.read.parquet(path).filter(F.col(part_col).isin(parts))
        merged = (
            old.select(*out_cols)
            .unionByName(fresh)
            .groupBy(*group)
            .agg(*merge_aggs)
        )
    with _dynamic_overwrite(spark):
        merged.select(*out_cols).write.mode("overwrite").partitionBy(
            part_col
        ).parquet(path)


def _check_ops(df: DataFrame, ops: tuple[str, str], who: str) -> None:
    """Raise ``ValueError`` when ``op`` holds a value outside ``ops``,
    NULL included (``~isin`` alone lets a NULL op through, and every
    caller would then treat that row as a delete)."""
    bad = (
        df.filter(~F.col("op").isin(*ops) | F.col("op").isNull())
        .select("op").distinct().limit(5).collect()
    )
    if bad:
        raise ValueError(
            f"{who}: unknown op values {[r[0] for r in bad]} — "
            f"only '{ops[0]}' and '{ops[1]}'"
        )


def _prior_batches(spark: SparkSession, path: str, batch_id: int) -> DataFrame | None:
    """The state table at ``path`` without batch ``batch_id``'s partition
    (``None`` before its first write): the "old" side of the delta rule,
    so a replayed batch recomputes the identical delta."""
    fs, jvm_path = _hadoop_fs(spark, path)
    if not fs.exists(jvm_path):
        return None
    return spark.read.parquet(path).filter(F.col("_b") != batch_id).drop("_b")


def _write_batch(df: DataFrame, batch_id: int, path: str) -> None:
    """Write ``df`` into the ``_b=batch_id`` partition of ``path``; under
    `_dynamic_overwrite` a replay rewrites only that partition."""
    df.withColumn("_b", F.lit(batch_id)).write.mode("overwrite").partitionBy(
        "_b"
    ).parquet(path)


def _write_view_batch(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    a_new: DataFrame | None,
    a_old: DataFrame | None,
    b_new: DataFrame | None,
    b_old: DataFrame | None,
    join: Callable[[DataFrame, DataFrame], DataFrame],
) -> None:
    """Write one batch of a join view: ΔJ = ΔA ⋈ B_old ∪ A_old ⋈ ΔB ∪
    ΔA ⋈ ΔB (the terms whose sides exist, joined by ``join``) into
    ``j``, and each side's delta into ``a`` / ``b``."""
    terms = [
        join(x, y)
        for x, y in ((a_new, b_old), (a_old, b_new), (a_new, b_new))
        if x is not None and y is not None
    ]
    with _dynamic_overwrite(spark):
        if terms:
            delta_j = functools.reduce(DataFrame.unionByName, terms)
            _write_batch(delta_j, batch_id, f"{state_dir}/j")
        for delta, side in ((a_new, "a"), (b_new, "b")):
            if delta is not None:
                _write_batch(delta, batch_id, f"{state_dir}/{side}")


def write_text_lines(df: DataFrame, path: str) -> None:
    """Byte-compat demo sink (≡ A10 ``worker.py:52-58``): one line per
    row. The DataFrame must have a single string column; callers wanting
    the reference's ``key\\tvalue`` line format should
    ``select(concat_ws('\\t', key, value))`` first.

    We deliberately do NOT reproduce the reference's accidental
    alternating key/value line format (SURVEY.md §1.1) — typed sinks are
    the engine default.
    """
    if len(df.columns) != 1:
        raise ValueError("write_text_lines expects a single-column DataFrame")
    value = F.col(df.columns[0]).cast("string").alias("value")
    df.select(value).write.mode("overwrite").text(path)


def merge_hll_register_rollup(
    spark: SparkSession,
    batch: DataFrame,
    rollup_path: str,
    part_col: str,
    user_col: str,
) -> None:
    """`merge_sketch_rollup`'s HASH-CHECKABLE twin: incremental
    maintenance of the D176 exact-register HLL table (part, reg, m)
    instead of opaque library sketch bytes. Same merge algebra — a
    register table is a mergeable synopsis whose union is elementwise
    MAX — with two extra properties the library sketch cannot offer:
    the stored state is plain integers (auditable, diffable,
    oracle-replayable), and the estimator over it is the pinned
    two-branch expression the batch query D180 hash-matches against
    DuckDB. Replaying the SAME batch is a no-op (MAX is idempotent),
    so at-least-once delivery needs no upstream dedup; only touched
    partitions are read back and rewritten (dynamic overwrite)."""
    h = batch.select(
        F.col(part_col),
        F.expr(
            f"cast(conv(substr(md5(cast(cast({user_col} AS string) AS binary)),"
            " 1, 15), 16, 10) AS bigint)"
        ).alias("hv"),
    )
    fresh = (
        h.select(
            part_col,
            F.expr("hv % 256").alias("reg"),
            F.expr("hv div 256").alias("w"),
        )
        .groupBy(part_col, "reg")
        .agg(
            F.max(
                F.when(F.col("w") == 0, F.lit(53)).otherwise(
                    F.lit(53)
                    - F.length(F.conv(F.col("w").cast("string"), 10, 2))
                )
            ).alias("m")
        )
    )
    _merge_touched_partitions(
        spark, batch, rollup_path, part_col, fresh, [part_col, "reg"],
        [F.max("m").alias("m")],
    )


def merge_join_view(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    a_batch: DataFrame | None,
    b_batch: DataFrame | None,
    a_key: str,
    b_key: str,
) -> None:
    """Incremental EQUI-JOIN VIEW maintenance (insert-only IVM): keep a
    materialized A ⋈ B up to date under deltas arriving on BOTH sides,
    by the classic delta rule

        ΔJ = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB

    — never re-joining the full tables (the whole point: a new batch
    costs |Δ|·join-selectivity work, not |A|·|B|). State layout:
    ``state_dir/{a,b,j}`` parquet, each partitioned by the integer
    batch column ``_b``. EXACTLY-ONCE under replay by construction:
    every write for batch ``batch_id`` lands in the ``_b=batch_id``
    partitions via dynamic overwrite, and the "old" side reads
    EXCLUDE that partition — so re-running a batch recomputes the
    identical ΔJ and overwrites it in place (the same batch-id-scoping
    discipline as `incremental_dedup_sink`). Insert-only matches
    Spark's own append-mode stream-stream join semantics; updates /
    deletes compose via `apply_changelog` upstream.

    The two sides must have DISJOINT column names (the joined view
    keeps both sides' columns verbatim; an overlap — including
    ``a_key == b_key`` — would produce duplicate output columns whose
    parquet write fails), so it is validated up front with a clear
    error instead of a deep writer stack trace. Validation covers
    STAGGERED batches too: an a-only call is checked against the
    on-disk B state (and vice versa), because the ``a_batch ⋈ b_old``
    delta path joins exactly those two schemas.

    Read the view back with ``spark.read.parquet(state_dir + "/j")``."""
    a_cols = set(a_batch.columns) if a_batch is not None else None
    b_cols = set(b_batch.columns) if b_batch is not None else None

    def _check_disjoint(x_cols: set[str] | None, y_cols: set[str] | None) -> None:
        if x_cols is None or y_cols is None:
            return
        overlap = sorted(x_cols & y_cols)
        if overlap:
            raise ValueError(
                "merge_join_view requires disjoint column names across the "
                f"two sides; overlapping: {overlap} (rename/prefix one side)"
            )

    _check_disjoint(a_cols, b_cols)
    if "_b" in (a_cols or set()) | (b_cols or set()):
        raise ValueError("merge_join_view reserves the column name '_b'")

    a_old = _prior_batches(spark, f"{state_dir}/a", batch_id)
    b_old = _prior_batches(spark, f"{state_dir}/b", batch_id)
    # Staggered-batch validation: each incoming batch must also be
    # disjoint from the OTHER side's persisted schema, or the
    # batch ⋈ old delta below produces the duplicate-column writer
    # failure the up-front check exists to prevent.
    _check_disjoint(a_cols, set(b_old.columns) if b_old is not None else None)
    _check_disjoint(set(a_old.columns) if a_old is not None else None, b_cols)
    _write_view_batch(
        spark, state_dir, batch_id, a_batch, a_old, b_batch, b_old,
        lambda x, y: x.join(y, x[a_key] == y[b_key]),
    )


def merge_join_view_delta(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    a_batch: DataFrame | None,
    b_batch: DataFrame | None,
    a_key: str,
    b_key: str,
) -> None:
    """DELETE-capable incremental equi-join view maintenance (D299) —
    the counting-algebra completion of `merge_join_view` (D191,
    insert-only): each side's delta rows carry ``op`` ∈
    {'insert', 'delete'}, stored as a signed multiplicity m = ±1, and
    the view is maintained under the SIGNED delta rule

        ΔJ = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB,
        m(ΔJ row) = m(a-side) · m(b-side)

    — the classic multiset/Z-relation IVM (DBToaster / differential-
    dataflow lineage): a delete on A emits m = −1, which multiplied
    through old B's +1 rows retracts exactly the join rows that A row
    had produced; a delete meeting a delete contributes +1 (both
    retractions were already counted once each via the old sides —
    the inclusion-exclusion term insert-only IVM never needs). The
    CURRENT view is the net-positive aggregate, materialized by
    `read_join_view_delta` (group over the view's columns, SUM m,
    keep > 0 with the net count exposed as ``_m``).

    Exactly-once under replay: identical batch-id-scoping to D191 —
    every write for ``batch_id`` lands in the ``_b=batch_id``
    partitions via dynamic overwrite and every "old" read excludes
    that partition, so a crashed batch's retry recomputes the
    identical signed ΔJ and overwrites it in place. Contract: a
    delete must match a prior insert (standard IVM discipline); an
    unmatched delete leaves a net-negative row which the reader
    suppresses. Column-name constraints are D191's (disjoint sides,
    '_b' and '_m' reserved). Scale: |Δ|·selectivity per batch, never
    |A|·|B|; reading the view pays one keyed aggregate over net rows."""

    def _signed(batch: DataFrame | None) -> DataFrame | None:
        if batch is None:
            return None
        _check_ops(batch, ("insert", "delete"), "merge_join_view_delta")
        return batch.withColumn(
            "_m",
            F.when(F.col("op") == "insert", F.lit(1)).otherwise(F.lit(-1))
            .cast("bigint"),
        ).drop("op")

    a_s, b_s = _signed(a_batch), _signed(b_batch)
    a_cols = set(a_s.columns) - {"_m"} if a_s is not None else None
    b_cols = set(b_s.columns) - {"_m"} if b_s is not None else None
    if a_cols and b_cols and (a_cols & b_cols):
        raise ValueError(
            "merge_join_view_delta requires disjoint column names across "
            f"the two sides; overlapping: {sorted(a_cols & b_cols)}"
        )
    for cols in (a_cols, b_cols):
        if cols and ({"_b", "_m"} & cols):
            raise ValueError(
                "merge_join_view_delta reserves the columns '_b' and '_m'"
            )

    def _term(x: DataFrame, y: DataFrame) -> DataFrame:
        xx = x.withColumnRenamed("_m", "_ma")
        yy = y.withColumnRenamed("_m", "_mb")
        return (
            xx.join(yy, xx[a_key] == yy[b_key])
            .withColumn("_m", (F.col("_ma") * F.col("_mb")).cast("bigint"))
            .drop("_ma", "_mb")
        )

    _write_view_batch(
        spark, state_dir, batch_id,
        a_s, _prior_batches(spark, f"{state_dir}/a", batch_id),
        b_s, _prior_batches(spark, f"{state_dir}/b", batch_id),
        _term,
    )


def merge_edge_view_delta(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    edges: DataFrame,
) -> None:
    """Delete-capable incremental EDGE-SET maintenance (D305) — the
    single-relation member of the D299 counting algebra, sized for
    graph analytics over a MUTATING graph: each batch's edge rows
    carry ``op`` ∈ {'insert', 'delete'}, stored as signed
    multiplicity m = ±1 in the batch's OWN ``_b=batch_id`` partition
    (dynamic overwrite — D191/D299's exactly-once discipline: a
    crashed batch's retry rewrites its own partition and nothing
    else, so replay is a content-identical no-op).

    The CURRENT graph is the net-positive multiset collapsed to a set
    (`read_edge_view`); centralities computed over it equal the
    from-scratch graph at every prefix — pinned end-to-end against
    `pagerank_fixed` in tests/test_round13_ops.py. Unmatched deletes
    leave net-negative rows the reader suppresses (D299 contract).
    Scale: each batch writes |Δ| rows, the view read is ONE keyed
    partial-agg over net rows — never a rebuild of the edge list."""
    _check_ops(edges, ("insert", "delete"), "merge_edge_view_delta")
    signed = edges.select(
        "src",
        "dst",
        F.when(F.col("op") == "insert", F.lit(1))
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("_m"),
    )
    with _dynamic_overwrite(spark):
        _write_batch(signed, batch_id, f"{state_dir}/e")


def read_edge_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """CURRENT edge set from a `merge_edge_view_delta` state tree:
    net multiplicity per (src, dst), net-positive rows collapsed to
    SET semantics — (src, dst) columns, ready for the graph operators
    (`pagerank_fixed`, `symmetrize`, HITS)."""
    e = spark.read.parquet(f"{state_dir}/e").drop("_b")
    return (
        e.groupBy("src", "dst")
        .agg(F.sum("_m").cast("bigint").alias("_m"))
        .filter(F.col("_m") > 0)
        .select("src", "dst")
    )


def read_join_view_delta(spark: SparkSession, state_dir: str) -> DataFrame:
    """Materialize the CURRENT view from a `merge_join_view_delta`
    state tree: net multiplicity per distinct row, net-positive rows
    only, exposed with the count as ``_m``."""
    j = spark.read.parquet(f"{state_dir}/j").drop("_b")
    cols = [c for c in j.columns if c != "_m"]
    return (
        j.groupBy(*cols)
        .agg(F.sum("_m").cast("bigint").alias("_m"))
        .filter(F.col("_m") > 0)
    )

"""Relational operators — the capability surface users of the reference
write as map/reduce functions (SURVEY.md §2.B, mechanism
``worker.py:134-145`` + ``worker.py:193-207``), exposed natively.

Projections, filters, grouped aggregations and set operations are
direct DataFrame calls at each query; the helpers here fix a format
(exact decimal money math, sorted sets) or an algorithm (sketches,
audits, diffs). All are built of DataFrame ops, so Catalyst sees the
declarative plan (predicate pushdown, column pruning, partial
aggregation are free). No Python UDFs here.

Cross-engine determinism conventions (shared with the DuckDB oracle):

- **Money/quantity sums** run through ``DECIMAL(18,2)`` and cast back to
  ``DOUBLE`` — decimal addition is exact and associative, so the result
  is bit-identical regardless of partitioning / aggregation order. A
  plain double sum is order-dependent and may differ in the last ulp
  between engines (and between runs at different partition counts!).
- **Collected sets** are emitted sorted and comma-joined (stable
  representation; ``collect_set`` order is undefined otherwise).

Scale notes: grouped aggregations compile to partial (map-side) +
final aggregation — the combiner the reference lacks (its reducer
materializes the full value list per key, ``worker.py:198``). At 100 TB
prefer these algebraic forms; ``collect_set``-style holistic aggs are
bounded by group cardinality and should only run on bounded-cardinality
columns (enforce upstream with ``approx_count_distinct`` sanity checks).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dec(col: Column | str, precision: int = 18, scale: int = 2) -> Column:
    """Cast to decimal for exact, order-independent arithmetic."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def dec_sum(col: Column | str) -> Column:
    """Exact sum of a money-like double column, returned as double.

    ≡ oracle ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)``.
    """
    return F.sum(dec(col)).cast("double")


def dec_avg(col: Column | str) -> Column:
    """Deterministic average: exact decimal sum / count, double division.

    ≡ oracle ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / COUNT(x)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c)).cast("double") / F.count(c)


def sorted_set_str(col: Column | str) -> Column:
    """``collect_set`` → sorted → comma-joined string (deterministic
    representation of a per-group set; ≡ the reference's
    ``sorted(set(values))``, ``inverted_index.py:61``).

    ≡ oracle ``array_to_string(list_sort(list(DISTINCT x)), ',')``.
    """
    return F.array_join(
        F.transform(F.array_sort(F.collect_set(col)), lambda x: x.cast("string")), ","
    )


def pivot_count(
    df: DataFrame, key: str, pivot_col: str, values: list[str]
) -> DataFrame:
    """Pivot ``pivot_col`` into one count column per value. Passing the
    value list explicitly skips the extra distinct-collection job Spark
    otherwise runs, and compiles to plain conditional aggregation (one
    shuffle). Missing combinations are 0, not null (matches SQL
    ``COUNT(*) FILTER``)."""
    pivoted = df.groupBy(key).pivot(pivot_col, values).agg(F.count(F.lit(1)))
    return pivoted.select(
        key, *[F.coalesce(F.col(v), F.lit(0)).alias(v) for v in values]
    )


def heavy_hitters(
    df: DataFrame, col: str, phi: float, k: int = 1024, budget: int = 65536
) -> DataFrame:
    """φ-heavy hitters of ``col`` via the ``approx_top_k`` sketch:
    items whose frequency is ≥ ``phi`` of the total, as
    ``(col, cnt)`` rows.

    Why a sketch instead of ``groupBy(col).count()``: the sketch is an
    algebraic aggregate with FIXED-SIZE state — each task builds an
    O(budget) summary and the shuffle moves one sketch per partition,
    not one row per distinct value. At 100 TB with a hot,
    high-cardinality column (URLs, n-grams, user ids) the full groupBy
    shuffles every distinct key; this shuffles kilobytes.

    Exactness contract: when ``budget`` ≥ the column's distinct count
    the sketch degrades to exact counts (that is what makes the DuckDB
    oracle a hash match); below that it is the standard space-saving
    approximation — counts are upper bounds within N/budget.

    The φ filter needs the total N; since every observation lands in
    some sketch slot when ``budget`` ≥ distinct, N = Σ sketch counts —
    computed with a window over the ≤k sketch rows (single-partition
    window is fine: the sketch output is tiny by construction, never
    the input)."""
    from pyspark.sql import Window

    k = min(k, budget)  # Spark requires maxItemsTracked >= k
    exploded = (
        df.select(F.expr(f"approx_top_k(`{col}`, {k}, {budget})").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias(col), F.col("e.count").cast("bigint").alias("cnt"))
    )
    total = F.sum("cnt").over(Window.partitionBy())
    return (
        exploded.withColumn("_tot", total)
        .filter(F.col("cnt") >= F.lit(phi) * F.col("_tot"))
        .drop("_tot")
    )


def percentiles(
    df: DataFrame, keys: Iterable[str], col: Column | str, probs: dict[str, float]
) -> DataFrame:
    """Exact interpolated percentiles per group (alias → probability).
    ``percentile`` is a holistic aggregate (sorts each group's values);
    at 100 TB prefer ``approx_percentile`` (t-digest sketch, algebraic).
    ≡ oracle ``quantile_cont(x, p)``."""
    c = F.col(col) if isinstance(col, str) else col
    return df.groupBy(*keys).agg(
        *[F.percentile(c, F.lit(p)).alias(name) for name, p in probs.items()]
    )


def key_skew_profile(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """One-row skew diagnostic for a prospective shuffle key: total
    rows, distinct keys, the heaviest key's row count and share, and
    the mean rows-per-key. The pre-flight check behind the engine's
    skew levers — a top share near 1/parallelism is fine; a key holding
    whole percents of the table wants `salted_join` (D17) or AQE skew
    splitting before it becomes the straggler task at 100 TB.

    Two algebraic aggregations (per-key partial counts, then a 5-value
    reduce) — O(distinct keys) intermediate, never a sort."""
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_n"))
    return counts.agg(
        F.sum("_n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("_n").alias("max_key_rows"),
    ).select(
        "n_rows",
        "n_keys",
        "max_key_rows",
        (F.col("max_key_rows").cast("double") / F.col("n_rows")).alias("top_share"),
        (F.col("n_rows").cast("double") / F.col("n_keys")).alias("avg_key_rows"),
    )


def dq_audit(
    df: DataFrame,
    rules: dict[str, Column],
    unique_keys: dict[str, list[str]] | None = None,
    referential: dict[str, tuple[DataFrame, list[str], list[str]]] | None = None,
) -> DataFrame:
    """Data-quality audit: one row per rule with its violation count —
    the ingest gate a production pipeline runs before data reaches
    training or analytics.

    Three rule families, each the cheapest plan for its class:
    - ``rules``: name → boolean Column, TRUE when the row VIOLATES
      (map-side predicate counts, one shared scan, zero shuffle);
    - ``unique_keys``: name → key columns; violations = rows beyond
      the first per key (one partial-agg groupBy on the key);
    - ``referential``: name → (parent_df, child_cols, parent_cols);
      violations = child rows with no parent (left-anti join — the
      parent side broadcasts when small).

    All families UNION into one (rule, n_violations) result, so one
    action runs the whole audit. Counts (including healthy zeros) are
    emitted for every rule — a disappearing rule row is itself a bug.
    """
    if not rules and not unique_keys and not referential:
        raise ValueError("dq_audit: at least one rule is required")
    parts = []
    preds = [
        F.sum(F.when(c, 1).otherwise(0)).cast("bigint").alias(name)
        for name, c in rules.items()
    ]
    if preds:
        wide = df.agg(*preds)
        stack = ", ".join(f"'{n}', `{n}`" for n in rules)
        parts.append(
            wide.selectExpr(
                f"stack({len(rules)}, {stack}) AS (rule, n_violations)"
            )
        )
    for name, keys in (unique_keys or {}).items():
        parts.append(
            df.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_n"))
            .agg(
                F.coalesce(F.sum(F.col("_n") - 1), F.lit(0))
                .cast("bigint")
                .alias("n_violations")
            )
            .select(F.lit(name).alias("rule"), "n_violations")
        )
    for name, (parent, child_cols, parent_cols) in (referential or {}).items():
        child_keys = df.select(
            *[F.col(c).alias(p) for c, p in zip(child_cols, parent_cols)]
        )
        orphans = child_keys.join(
            parent.select(*parent_cols).distinct(), parent_cols, "left_anti"
        )
        parts.append(
            orphans.agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
            .select(F.lit(name).alias("rule"), "n_violations")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def table_diff(old: DataFrame, new: DataFrame, key_cols: list[str]) -> DataFrame:
    """Snapshot diff — classify every key as ``added`` / ``removed`` /
    ``changed`` between two versions of a table (the change-data feed a
    lakehouse table format derives from its log, computed directly when
    all you have is two parquet snapshots). Unchanged keys are omitted.

    Plan: each side reduces to (keys, 64-bit content hash) BEFORE the
    full-outer join, so the shuffle carries keys + 8 bytes regardless of
    row width — at 100 TB this is the difference between joining two
    fact tables and joining two key columns. The hash covers every
    non-key column of ``new``; ``old`` must carry the same columns.
    """
    compare_cols = [c for c in new.columns if c not in key_cols]
    o = old.select(
        *key_cols, F.xxhash64(F.struct(*compare_cols)).alias("_h_old")
    )
    n = new.select(
        *key_cols, F.xxhash64(F.struct(*compare_cols)).alias("_h_new")
    )
    joined = o.join(n, key_cols, "full_outer")
    return joined.select(
        F.when(F.col("_h_old").isNull(), F.lit("added"))
        .when(F.col("_h_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change"),
        *key_cols,
    ).filter(
        F.col("_h_old").isNull()
        | F.col("_h_new").isNull()
        | (F.col("_h_old") != F.col("_h_new"))
    )


def profile_columns(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One-action column profile: ``(column, n_rows, n_nulls,
    n_distinct)`` per column — the ANALYZE/statistics pass a warehouse
    runs after ingest (null-rate drift and cardinality explosions are
    the first signals of an upstream schema break).

    All columns profile in ONE aggregation over one scan. The exact
    per-column COUNT(DISTINCT)s make Catalyst expand the input
    (one replica per distinct-column) before the partial agg — the
    exact/deterministic choice, right for profiling runs; swap
    `approx_count_distinct` for the sketch path when profiling
    petabytes continuously."""
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).cast("bigint").alias("_n")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"_nn_{c}")
        )
        aggs.append(F.countDistinct(F.col(c)).cast("bigint").alias(f"_nd_{c}"))
    wide = df.agg(*aggs)
    stack = ", ".join(f"'{c}', _nn_{c}, _nd_{c}" for c in cols)
    return wide.selectExpr(
        "_n",
        f"stack({len(cols)}, {stack}) AS (column, n_nulls, n_distinct)",
    ).select(
        "column", F.col("_n").alias("n_rows"), "n_nulls", "n_distinct"
    )

"""Distributed model training primitives — batch gradient descent on a
linear model in exact fixed-point arithmetic.

This is the iterative-ML twin of `graph.py:pagerank_fixed`: the
reference's users would run "train a scoring model over the corpus" as
a loop of map/reduce jobs (one full pass per step, gradients summed in
the reduce — the classic MapReduce ML formulation); here each round is
ONE partial+final aggregation over a cached feature DataFrame, and the
k-vector of weights lives on the driver as plain integers embedded
into the next round's codegen'd expression — no join, no shuffle of
model state, nothing Python-side in the data path.

Exactness discipline (what makes an unrolled SQL oracle hash-match an
ITERATIVE float-free algorithm): weights are BIGINT micro-units
(scale ``Q``), gradients are BIGINT sums of integer products (exact,
associative, order-independent), and every division is integral
``div`` (truncation toward zero — verified identical in Spark and
DuckDB, including negatives). The truncation loss each step is part of
the deterministic spec. At petabyte row counts the BIGINT gradient
accumulator would be swapped for DECIMAL(38,0) (same exactness, wider
headroom); BIGINT keeps the `div` semantics trivially engine-portable.

The driver-side state is k scalars (the weights) — metadata-scale, the
same license `pagerank_fixed` uses for its convergence counter. One
aggregation round-trip per iteration is the textbook distributed-GD
schedule (same as Spark MLlib's own batch LBFGS/GD loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Q = 10**6  # the fixed-point scale: weights and scores are BIGINT 1/Q units


def _tdiv(a: int, b: int) -> int:
    """Integral division truncating toward zero — Python's // floors,
    which disagrees with SQL ``div`` on negatives; this matches SQL."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def linear_gd_fixed(
    data: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_iter: int = 2,
    lr_den: int = 1000,
) -> DataFrame:
    """Train ``label ≈ Σ w_j · x_j`` by ``n_iter`` exact fixed-point
    batch-GD rounds from w = 0; returns (feature, w_fx, w) — one row
    per feature, ``w_fx`` the BIGINT weight in ``1/Q`` units, ``w``
    its double rendering.

    Per round (all-integer):
      pred_i = Σ_j w_j · x_ij               (label·Q units)
      e_i    = (pred_i − y_i · Q) div Q     (label units, truncated)
      g_j    = Σ_i x_ij · e_i               (exact BIGINT sum)
      w_j   ← w_j − (Q · g_j) div (n · lr_den)

    The step carries the factor ``Q`` because ``w_j`` is stored in 1/Q
    units while ``g_j`` is the real-unit gradient — without it the
    effective learning rate would be lr/Q. Oracles replaying this in
    BIGINT SQL should use the gcd-reduced ratio (for the default
    Q/lr_den = 1000, so the step is ``(1000·g) div n``) to stay
    inside 64-bit headroom; the truncated quotient of the same rational
    is identical either way.

    Feature and label columns must already be integral (BIGINT-safe).
    """
    k = len(feature_cols)
    d = data.select(
        *[F.col(c).cast("bigint").alias(f"x{j}") for j, c in enumerate(feature_cols)],
        F.col(label_col).cast("bigint").alias("_y"),
    ).cache()
    n = d.count()
    w = [0] * k
    for _ in range(n_iter):
        pred = " + ".join(f"({w[j]}L * x{j})" for j in range(k))
        e = F.expr(f"(({pred}) - _y * {Q}L) div {Q}L")
        row = d.agg(
            *[F.sum(F.col(f"x{j}") * e).alias(f"g{j}") for j in range(k)]
        ).collect()[0]
        w = [w[j] - _tdiv(Q * int(row[f"g{j}"]), n * lr_den) for j in range(k)]
    d.unpersist()
    spark = data.sparkSession
    return spark.createDataFrame(
        [(feature_cols[j], w[j], w[j] / Q) for j in range(k)],
        "feature string, w_fx bigint, w double",
    )


def linear_predict_fixed(
    data: DataFrame,
    weights: DataFrame,
    feature_cols: list[str],
) -> DataFrame:
    """Score rows with a trained weight table: adds ``score_fx``
    (BIGINT, label·Q units — exact) and ``score`` (double rendering).
    The weight table is k rows — collected to literals so scoring is a
    zero-join codegen projection (the serving-side shape)."""
    wmap = {r["feature"]: int(r["w_fx"]) for r in weights.collect()}
    pred = " + ".join(f"({wmap[c]}L * cast({c} as bigint))" for c in feature_cols)
    return data.withColumn("score_fx", F.expr(f"{pred}")).withColumn(
        "score", F.col("score_fx").cast("double") / F.lit(float(Q))
    )


__all__ = ["linear_gd_fixed", "linear_predict_fixed"]

"""Skewed-norm decade measurement for the D300 MIPS pruning
certificate (VERDICT r12 task 3): the testdata embeddings are
~equal-norm, so `similarity_topk_mips`'s certificate honestly reports
near-zero pruning there — the regime norm-pruning EXISTS for is a
skewed-norm corpus (recommender item popularity, unnormalized
frequency embeddings). This script drives the SAME pipeline
(`plans/similarity_queries.py:mips_topk_certified`, not a private
reimplementation) over a deterministically norm-skewed variant of the
corpus (component scale 1 + vec_id % 32 → milli-norm² spread across
~10 octaves) at sf0.1 AND the sf≈1 fixture, and reports the
certificate at both scales: prune factor, rows scanned vs corpus
size, wall time. Paste the JSON into SCALE.md.

Usage: python scripts/mips_skew_decade.py   (quiet machine preferred)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIRS = [
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", os.path.join(REPO, ".sf1")),
]


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main() -> int:
    from pyspark.sql import functions as F

    from mapreduce_project_spark.plans.similarity_queries import (
        mips_topk_certified,
    )
    from mapreduce_project_spark.session import get_spark
    from mapreduce_project_spark.sources import load_table

    spark = get_spark("mips-skew-decade")
    spark.sparkContext.setLogLevel("ERROR")
    # two skew shapes: 'multiscale' spreads norms uniformly over 32
    # scales (mass concentrates in the top octaves — modest row
    # pruning); 'popularity' puts 10% of vectors at 16x norm (the
    # recommender regime norm-pruning exists for: hot items dominate
    # every top-k, the cold-norm mass proves prunable). Measured
    # design constraint worth keeping: the pilot k-th only reflects
    # the hot regime when the pilot SAMPLES >= k hot vectors
    # (hot_fraction x ~256 >= k) — at 2% hot the pilot's 10th-best is
    # a cold dot and the certificate honestly reports zero pruning
    # (lossless-conservative, never wrong).
    SKEWS = {
        "multiscale": "transform(embedding, x -> x * cast(1 + vec_id % 32 as float))",
        "popularity": (
            "transform(embedding, x -> x * cast(case when vec_id % 10 = 0"
            " then 16 else 1 end as float))"
        ),
    }
    out = []
    for (label, sf_dir), (skew, expr) in [
        ((l, d), (s, e)) for l, d in SF_DIRS for s, e in SKEWS.items()
    ]:
        if not os.path.isdir(sf_dir):
            print(f"skip {label}: {sf_dir} missing")
            continue
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.expr(expr).alias("embedding")
        )
        n = emb.count()
        best = None
        rows = None
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            rows = mips_topk_certified(emb).collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        per_q = {}
        for r in rows:
            per_q[r["query_id"]] = (
                r["n_buckets_pruned"], r["n_buckets_total"], r["n_scanned"]
            )
        pruned = sum(v[0] for v in per_q.values())
        total = sum(v[1] for v in per_q.values())
        scanned = sum(v[2] for v in per_q.values())
        full = n * len(per_q)  # rows a pruning-free scan would score
        rec = {
            "sf": label,
            "skew": skew,
            "corpus_rows": n,
            "queries": len(per_q),
            "buckets_pruned": pruned,
            "buckets_total": total,
            "prune_bucket_pct": round(100 * pruned / max(1, total), 1),
            "rows_scanned": scanned,
            "rows_full_scan": full,
            "scan_fraction_pct": round(100 * scanned / max(1, full), 1),
            "sec": round(best, 3),
            "loadavg": loadavg(),
        }
        out.append(rec)
        print(json.dumps(rec), flush=True)
    by_skew = {}
    for r in out:
        by_skew.setdefault(r["skew"], []).append(r)
    for skew, rs in by_skew.items():
        if len(rs) == 2:
            print(
                json.dumps(
                    {
                        "skew": skew,
                        "decade_time_ratio": round(rs[1]["sec"] / rs[0]["sec"], 2),
                        "decade_scan_ratio": round(
                            rs[1]["rows_scanned"] / max(1, rs[0]["rows_scanned"]),
                            2,
                        ),
                    }
                )
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())

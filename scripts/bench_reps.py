#!/usr/bin/env python
"""Targeted per-query re-timing with repetitions (guide §1): times the
named declared/extra queries with the SAME methodology as bench.py
(noop sink, cold per-rep cache clear) but min-of-N reps inside one warm
session, so single-run scheduler-tick noise (the documented 150-380 ms
host fluctuation) is suppressed. Prints one JSON line:

    {"reps": N, "queries": {name: {"min": s, "all": [...]}},
     "cpu_probe_sec": s}

Usage: python scripts/bench_reps.py [-n REPS] name [name ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = [a for a in sys.argv[1:]]
    reps = 3
    if args and args[0] == "-n":
        reps = int(args[1])
        args = args[2:]
    names = args
    from mapreduce_project_spark.queries_registry import ALL_QUERIES as qmap
    from mapreduce_project_spark.session import get_spark

    spark = get_spark("bench_reps")

    # short warmup (mirrors bench.py's intent, abbreviated)
    spark.range(100000).selectExpr("sum(id)", "count(distinct id)").collect()

    def probe() -> float:
        t0 = time.monotonic()
        spark.range(32 * 4, numPartitions=32).selectExpr(
            "id % 97 AS k", "id"
        ).groupBy("k").count().write.mode("overwrite").format("noop").save()
        return time.monotonic() - t0

    out: dict[str, dict] = {}
    for name in names:
        fn = qmap[name]
        times = []
        for _ in range(reps):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"bench_reps:{name}")
            t0 = time.monotonic()
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            times.append(round(time.monotonic() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(times), "all": times}
    print(
        json.dumps(
            {"reps": reps, "queries": out, "cpu_probe_sec": round(probe(), 4)}
        )
    )


if __name__ == "__main__":
    main()

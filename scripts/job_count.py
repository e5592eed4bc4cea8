#!/usr/bin/env python
"""Count Spark JOBS (actions) a declared query launches — the
scheduler-tick evidence for job-count-bound queries on high-tick hosts
(VERDICT r13 items 4/6). Runs each named query once to the noop sink
inside a job group and reports len(getJobIdsForGroup).

Usage: python scripts/job_count.py name [name ...]

Exits non-zero, naming them, if any name is not a registered query.
The names are checked before Spark starts, not mid-run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from mapreduce_project_spark.queries_registry import ALL_QUERIES as qmap

    names = sys.argv[1:]
    unknown = [n for n in names if n not in qmap]
    if unknown:
        sys.exit(f"job_count: unknown query names: {', '.join(unknown)}")

    from mapreduce_project_spark.session import get_spark

    spark = get_spark("job_count")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in names:
        spark.catalog.clearCache()
        sc = spark.sparkContext
        sc.setJobGroup(name, name)
        t0 = time.monotonic()
        qmap[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        dt = time.monotonic() - t0
        jobs = sc.statusTracker().getJobIdsForGroup(name)
        sc.setJobGroup("other", "other")
        out[name] = {"jobs": len(jobs), "sec": round(dt, 3)}
    print(json.dumps(out))


if __name__ == "__main__":
    main()

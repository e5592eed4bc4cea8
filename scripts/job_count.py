#!/usr/bin/env python
"""Count the Spark JOBS (actions) and time the named queries — the
scheduler-tick evidence for job-count-bound queries on high-tick hosts
(VERDICT r13 items 4/6). Each rep runs the query once to the noop sink
through `plans/inspect.py:run_noop`, so jobs launched while the query
is built (eager checkpoints) count too. Prints one JSON line:

    {name: {"jobs": n, "sec": min_s, "all": [s, ...]}}

``jobs`` is the first (cold) rep's count; ``sec`` the minimum over
``-n REPS`` reps (default 1) inside one warm session, so single-run
scheduler-tick noise is suppressed.

Usage: python scripts/job_count.py [-n REPS] name [name ...]

Exits non-zero, naming them, if any name is not a registered query.
The names are checked before Spark starts, not mid-run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from mapreduce_project_spark.queries_registry import ALL_QUERIES as qmap

    ap = argparse.ArgumentParser(description="Count jobs and time named queries.")
    ap.add_argument("-n", dest="reps", type=int, default=1, help="reps per query")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    if args.reps < 1:
        ap.error("-n must be at least 1")
    unknown = [n for n in args.names if n not in qmap]
    if unknown:
        sys.exit(f"job_count: unknown query names: {', '.join(unknown)}")

    from mapreduce_project_spark.plans.inspect import run_noop
    from mapreduce_project_spark.session import get_spark

    spark = get_spark("job_count")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in args.names:
        runs = [run_noop(lambda: qmap[name](spark, SF_DIR)) for _ in range(args.reps)]
        times = [r["sec"] for r in runs]
        out[name] = {"jobs": runs[0]["jobs"], "sec": min(times), "all": times}
    print(json.dumps(out))


if __name__ == "__main__":
    main()

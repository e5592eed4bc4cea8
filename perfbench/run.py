"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the engine. Prints a line with the
pinned environment, a line with run details (setup samples, pass times,
per-query medians, the highest latency percentile the sample supports),
and, last, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). Exits non-zero without a result when the engine is
not in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _environment(args) -> dict:
    import pyspark

    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": len(os.sched_getaffinity(0)),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "loadavg_start": load,
        "started_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def main(argv: list[str]) -> int:
    sys.path[0] = ROOT  # import the benchmark package and the engine from this checkout
    from perfbench.lanes import WORKLOADS, execute
    from perfbench.stats import check_name

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for entry in ("__spark_entry__.py", os.path.join("mapreduce_project_spark", "__init__.py")):
        if not os.path.isfile(os.path.join(ROOT, entry)):
            print(f"perfbench: engine not found in {ROOT} (missing {entry})", file=sys.stderr)
            return 2

    print(json.dumps({"env": _environment(args)}), flush=True)
    res = execute(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"details": res["details"]}), flush=True)
    failed = len(res["failures"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {check_name(k): {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

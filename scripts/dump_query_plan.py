#!/usr/bin/env python
"""Dump every registered query's formatted physical plan into a tree
that `diff -r` can compare.

Usage: python scripts/dump_query_plan.py OUT_DIR [NAME ...]

Writes OUT_DIR/<name>.txt for each NAME (every registered query when
none is given): the `.explain("formatted")` text with expression ids
(`#<n>`), `plan_id=<n>`, RDD ids, lambda variable suffixes, codegen ids
and AQE query-stage ids masked, so two checkouts' dumps differ only
where a query's plan does. The data directory is `SPARK_GRAFT_SF_DIR`
(default: the sf0.1 tables).
Unknown names exit non-zero before Spark starts.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_IDS = (
    (r"#\d+", "#N"),
    (r"plan_id=\d+", "plan_id=N"),
    (r"RDD\[\d+\]", "RDD[N]"),
    (r"(lambda \w+?)_\d+\b", r"\1_N"),
    (r"\[codegen id : \d+\]", "[codegen id : N]"),
    # a stage's `Arguments:` line is its id, numbered in the order AQE
    # happened to materialize the stages
    (r"((?:Shuffle|Broadcast|Result)QueryStage\n(?:[^\n]+\n)*?Arguments: )\d+$", r"\1N"),
)


def mask_ids(plan: str) -> str:
    """The plan with the ids that count what the process made before it
    masked: expression ids, plan ids, RDD ids, lambda variable suffixes,
    codegen ids and query-stage ids become `#N`, `plan_id=N`, `RDD[N]`,
    `lambda x_N`, `[codegen id : N]` and `Arguments: N`."""
    for pattern, mask in _IDS:
        plan = re.sub(pattern, mask, plan, flags=re.M)
    return plan


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    out_dir, names = sys.argv[1], sys.argv[2:]
    from mapreduce_project_spark import queries_registry as R

    queries = R.ALL_QUERIES
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"not registered: {' '.join(unknown)}", file=sys.stderr)
        return 2
    from mapreduce_project_spark.plans.inspect import formatted_plan
    from mapreduce_project_spark.session import get_spark

    spark = get_spark("dump-query-plan")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    for name in names or sorted(queries):
        plan = mask_ids(formatted_plan(queries[name](spark, SF_DIR)))
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange mentions)", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

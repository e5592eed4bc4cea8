#!/usr/bin/env python
"""Deep differential sweep at sf0.1 (the scale the bench runs at):
every oracle-equipped query — declared AND extra — against its DuckDB
twin with the pytest comparator (round-2 precedent: this sweep caught
a RANGE-frame truncation bug invisible at sf0.01).

Usage: python scripts/sweep_sf01.py [start_idx] [end_idx]
Set SWEEP_JSON_OUT=<path> to also write the per-query results as JSON
(the committed round artifact, e.g. SWEEP_r4.json).
Set SWEEP_JSON_MERGE=1 to load an existing SWEEP_JSON_OUT first and
run ONLY the oracle-equipped queries it does not cover yet — the
incremental path for late-round additions (a single new operator no
longer forces the full ~35-min regeneration; the merged artifact still
satisfies scripts/check_artifacts.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"

import duckdb  # noqa: E402

from tests.conftest import TABLES, rows_of  # noqa: E402


def main() -> int:
    from mapreduce_project_spark import queries_registry as R
    from mapreduce_project_spark.session import get_spark

    spark = get_spark("sweep-sf01")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{name}.parquet')"
        )
    queries = R.ALL_QUERIES
    oracles = R.ALL_ORACLES
    names = sorted(n for n in queries if n in oracles)
    lo = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    hi = int(sys.argv[2]) if len(sys.argv) > 2 else len(names)
    bad = 0
    results: dict[str, dict] = {}
    out_path_pre = os.environ.get("SWEEP_JSON_OUT")
    if os.environ.get("SWEEP_JSON_MERGE") and out_path_pre and os.path.exists(
        out_path_pre
    ):
        prior = json.load(open(out_path_pre, encoding="utf-8"))
        results = prior.get("results", {})
        # drop rows for queries no longer in the registry, keep greens
        results = {k: v for k, v in results.items() if k in oracles}
        bad = sum(1 for v in results.values() if not v["ok"] or v["vacuous"])
        names = [n for n in names if n not in results]
        lo, hi = 0, len(names)
        print(f"merge: {len(results)} prior rows kept, {len(names)} to run")
    for name in names[lo:hi]:
        t0 = time.time()
        err = None
        n_rows = None
        spark_sec = oracle_sec = None
        try:
            got = queries[name](spark, SF_DIR).toPandas()
            spark_sec = round(time.time() - t0, 1)
            t1 = time.time()
            want = con.sql(oracles[name]).df()
            oracle_sec = round(time.time() - t1, 1)
            n_rows = len(got)
            ok = (
                sorted(got.columns) == sorted(want.columns)
                and len(got) == len(want)
                and rows_of(got) == rows_of(want)
            )
            vac = len(want) == 0
        except Exception as exc:  # noqa: BLE001
            ok, vac = False, False
            err = f"{type(exc).__name__}: {exc}"[:200]
            print(f"ERR {name}: {err}", flush=True)
        sec = round(time.time() - t0, 1)
        # query builders may .cache() intermediates; drop them so cached
        # partitions don't accumulate across the ~200-query sweep
        spark.catalog.clearCache()
        if not ok or vac:
            bad += 1
        # spark_sec/oracle_sec split: `sec` alone misattributed oracle
        # cost to the engine (e.g. dedup_embedding_clusters: 0.9 s Spark
        # + ~21 s DuckDB recursive-CTE closure read as "24 s query")
        results[name] = {
            "ok": ok, "vacuous": vac, "rows": n_rows, "sec": sec,
            "spark_sec": spark_sec, "oracle_sec": oracle_sec, "err": err,
        }
        print(
            f"{'OK ' if ok else 'BAD'}{' VACUOUS' if vac else ''} {name} "
            f"({sec}s = spark {spark_sec}s + oracle {oracle_sec}s)",
            flush=True,
        )
    out_path = os.environ.get("SWEEP_JSON_OUT")
    if out_path:
        with open(out_path, "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "sf_dir": SF_DIR,
                    "n_queries": len(results),
                    "bad_or_vacuous": bad,
                    "results": results,
                },
                fh,
                indent=1,
            )
    print(f"DONE slice [{lo}:{hi}] bad_or_vacuous={bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

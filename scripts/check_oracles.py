#!/usr/bin/env python
"""Check queries against their DuckDB oracle twins with the test suite's
comparator (`tests/conftest.py:oracle_mismatch`), outside pytest:

- the deep sweep (no arguments): every oracle-equipped query, declared
  AND extra, at bench.py's scale (sf0.1), where cross-engine float drift
  and partition-order effects surface that smaller fixtures cannot show
  (round 2: a RANGE-frame truncation bug invisible at sf0.01);
- the driver replay: ``--declared --sf <sf0.01 dir>`` runs the declared
  slate at the driver's correctness scale;
- the development loop: name the queries being built, one scale per run.

A query is bad when it raises, when its rows differ from the oracle's,
or when both sides are empty (vacuous). ``--json PATH`` writes the
``SWEEP_r*.json`` artifact `scripts/check_artifacts.py` gates on. When
PATH already holds a run at the same scale, the rows re-run here replace
their old ones and rows of names no longer registered are dropped, so a
new query does not force a full regeneration.

Usage: python scripts/check_oracles.py [--sf DIR] [--json PATH] [--declared] [NAME ...]
Exits non-zero when any query run here is bad or vacuous.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import TABLES, oracle_mismatch  # noqa: E402


def merge_rows(prior: dict, rows: dict[str, dict], sf_dir: str, registered) -> dict:
    """The SWEEP document for ``rows`` checked at ``sf_dir``: rows of a
    ``prior`` document at the same scale are kept unless re-run here or
    no longer in ``registered``."""
    kept = prior.get("results", {}) if prior.get("sf_dir") == sf_dir else {}
    results = {n: r for n, r in kept.items() if n in registered and n not in rows}
    results = dict(sorted({**results, **rows}.items()))
    return {
        "sf_dir": sf_dir,
        "n_queries": len(results),
        "bad_or_vacuous": sum(not r["ok"] or r["vacuous"] for r in results.values()),
        "results": results,
    }


def check(spark, con, fn, sql: str, sf_dir: str) -> dict:
    """Run one query and its oracle; the SWEEP row. ``sec`` splits into
    ``spark_sec`` + ``oracle_sec`` so an expensive oracle (a recursive
    CTE closure) is not read as a slow query."""
    row = {"ok": False, "vacuous": False, "rows": None, "sec": None,
           "spark_sec": None, "oracle_sec": None, "err": None}
    t0 = time.perf_counter()
    try:
        got = fn(spark, sf_dir).toPandas()
        t1 = time.perf_counter()
        want = con.sql(sql).df()
        row["spark_sec"] = round(t1 - t0, 1)
        row["oracle_sec"] = round(time.perf_counter() - t1, 1)
        row["rows"] = len(got)
        row["err"] = oracle_mismatch(got, want, allow_empty=True)
        row["ok"], row["vacuous"] = row["err"] is None, len(want) == 0
    except Exception as exc:  # noqa: BLE001 - one bad query must not end the run
        row["err"] = f"{type(exc).__name__}: {exc}"
    finally:
        # builders may .cache() intermediates; don't let them pile up
        spark.catalog.clearCache()
    row["sec"] = round(time.perf_counter() - t0, 1)
    if row["err"]:
        row["err"] = row["err"][:300]
    return row


def main() -> int:
    ap = argparse.ArgumentParser(description="Check queries against their DuckDB oracles.")
    ap.add_argument("--sf", help="fixture directory (default: bench.py's, sf0.1)")
    ap.add_argument("--json", help="write (or update) the SWEEP_r*.json artifact here")
    ap.add_argument("--declared", action="store_true", help="only the driver's declared slate")
    ap.add_argument("names", nargs="*", help="queries to check (default: all in scope)")
    args = ap.parse_args()

    from bench import SF_DIR
    from mapreduce_project_spark import queries_registry as R

    pool = R.QUERIES if args.declared else R.ALL_QUERIES
    names = args.names or [n for n in pool if n in R.ALL_ORACLES]
    unknown = [n for n in names if n not in pool or n not in R.ALL_ORACLES]
    if unknown:
        sys.exit(f"check_oracles: no oracle-equipped query in scope named: {', '.join(unknown)}")

    import duckdb

    from mapreduce_project_spark.session import get_spark

    sf_dir = args.sf or SF_DIR
    spark = get_spark("check-oracles")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{sf_dir}/{tbl}.parquet')")
    rows: dict[str, dict] = {}
    for name in names:
        row = rows[name] = check(spark, con, R.ALL_QUERIES[name], R.ALL_ORACLES[name], sf_dir)
        tag = ("OK " if row["ok"] else "BAD") + (" VACUOUS" if row["vacuous"] else "")
        print(f"{tag} {name} ({row['sec']}s = spark {row['spark_sec']}s + oracle "
              f"{row['oracle_sec']}s, {row['rows']} rows){': ' + row['err'] if row['err'] else ''}",
              flush=True)
    bad = sum(not r["ok"] or r["vacuous"] for r in rows.values())
    if args.json:
        prior = {}
        if os.path.exists(args.json):
            with open(args.json, encoding="utf-8") as fh:
                prior = json.load(fh)
        with open(args.json, "w", encoding="utf-8") as fh:
            json.dump(merge_rows(prior, rows, sf_dir, R.ALL_QUERIES), fh, indent=1)
    print(json.dumps({"sf_dir": sf_dir, "checked": len(rows), "bad_or_vacuous": bad}))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

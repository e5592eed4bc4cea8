#!/usr/bin/env python
"""Check named queries against their DuckDB oracle twins at all three
fixture SFs — the per-operator development loop (the sweep covers the
full inventory at sf0.1; this is the targeted version for the operator
being built right now).

Usage: python scripts/check_query.py <query> [<query> ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from tests.conftest import TABLES, rows_of  # noqa: E402

SFS = ["0.001", "0.01", "0.1"]


def main() -> int:
    from mapreduce_project_spark import queries_registry as R
    from mapreduce_project_spark.session import get_spark

    names = sys.argv[1:]
    if not names:
        print(__doc__)
        return 2
    spark = get_spark("check-query")
    spark.sparkContext.setLogLevel("ERROR")
    queries = R.ALL_QUERIES
    oracles = R.ALL_ORACLES
    bad = 0
    for name in names:
        if name not in queries:
            print(f"?? {name}: not registered")
            bad += 1
            continue
        for sf in SFS:
            sf_dir = f"/root/testdata/sf{sf}"
            con = duckdb.connect()
            for tbl in TABLES:
                con.execute(
                    f"CREATE VIEW {tbl} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{tbl}.parquet')"
                )
            t0 = time.time()
            try:
                got = queries[name](spark, sf_dir).toPandas()
                if name not in oracles:
                    print(f"-- {name} sf{sf}: rows={len(got)} (no oracle)")
                    continue
                want = con.sql(oracles[name]).df()
                ok = (
                    sorted(got.columns) == sorted(want.columns)
                    and len(got) == len(want)
                    and rows_of(got) == rows_of(want)
                )
                vac = len(want) == 0
                tag = "OK " if ok and not vac else "BAD"
                if vac:
                    tag += " VACUOUS"
                print(
                    f"{tag} {name} sf{sf}: spark={len(got)} oracle={len(want)} "
                    f"({time.time() - t0:.1f}s)"
                )
                if not ok or vac:
                    bad += 1
                    if sorted(got.columns) != sorted(want.columns):
                        print(f"    cols spark={sorted(got.columns)}")
                        print(f"    cols oracle={sorted(want.columns)}")
                    else:
                        g, w = rows_of(got), rows_of(want)
                        only_g = [r for r in g if r not in set(w)][:3]
                        only_w = [r for r in w if r not in set(g)][:3]
                        print(f"    spark-only: {only_g}")
                        print(f"    oracle-only: {only_w}")
            except Exception as exc:  # noqa: BLE001
                bad += 1
                print(f"ERR {name} sf{sf}: {type(exc).__name__}: {exc}"[:400])
            finally:
                spark.catalog.clearCache()
                con.close()
    print(f"bad={bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

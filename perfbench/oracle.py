"""Correctness gate: every benchmarked query against its DuckDB twin.

Comparison reuses the test suite's comparator (``tests/conftest.py``:
sort columns by name, equal row counts, order-insensitive multiset of
normalized cells, empty-vs-empty refused as vacuous), so the benchmark
and the oracle tests agree on what "correct" means.
"""

from __future__ import annotations

import importlib.util
import json
import os

import duckdb
import pandas as pd

from perfbench.fixture import TABLES


def _load_comparator(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_conftest", os.path.join(root, "tests", "conftest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """DuckDB views over one fixture directory plus the SQL twins."""

    def __init__(self, root: str, sf_dir: str):
        from mapreduce_project_spark import queries_registry as reg

        self._cmp = _load_comparator(root)
        self._sql = {**reg.EXTRA_ORACLES, **reg.ORACLES}
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def close(self) -> None:
        self.con.close()

    def check_df(self, name: str, spark_df) -> str | None:
        """None when ``spark_df`` matches the twin, else the reason."""
        try:
            self._cmp.assert_matches_oracle(spark_df, self.con, self._sql[name])
        except AssertionError as exc:
            return f"{name}: {exc}"
        return None

    def check_rows(self, name: str, columns: list[str], rows: list[list]) -> str | None:
        """Same check for rows that crossed the service's JSON wire: the
        twin's rows take the same ``json.dumps(default=str)`` round trip
        before both sides are normalized."""
        rel = self.con.sql(self._sql[name])
        want_rows = json.loads(json.dumps([list(r) for r in rel.fetchall()], default=str))
        got = pd.DataFrame(rows, columns=columns)
        want = pd.DataFrame(want_rows, columns=rel.columns)
        if sorted(got.columns) != sorted(want.columns):
            return f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
        if len(got) != len(want) or not len(want):
            return f"{name}: rows {len(got)} != {len(want)} (empty counts as vacuous)"
        mism = [(a, b) for a, b in zip(self._cmp.rows_of(got), self._cmp.rows_of(want)) if a != b]
        return f"{name}: value mismatch (first 3): {mism[:3]}" if mism else None

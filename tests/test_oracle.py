"""Differential oracle tests — every declared query in
``__spark_entry__.queries()`` AND every pytest-only extra query
(``queries_registry.EXTRA_QUERIES``) is checked against its DuckDB twin
on the deterministic testdata fixtures, mirroring the driver's
per-round CORRECTNESS check (and the reference's own local-oracle
pattern, ``client_folder/scripts/test.py:122-139``).

Queries without an oracle entry get a weaker smoke check (runs, stable
schema, deterministic across two executions).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from mapreduce_project_spark import queries_registry as R
from tests.conftest import SF_DIR, assert_matches_oracle, rows_of

QUERIES = {**entrymod.queries(), **R.EXTRA_QUERIES}
ORACLES = {**entrymod.oracle_sql(), **R.EXTRA_ORACLES}


def _as_floats(a, b):
    """(float, float) when both normalized cells parse as numbers
    (conftest._norm reprs floats to strings), else (None, None)."""
    try:
        return float(a), float(b)
    except (TypeError, ValueError):
        return None, None


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns


def test_declared_set_fits_driver_window():
    # the driver records at most 50 correctness rows (registry order);
    # every declared query must land inside that window
    assert len(entrymod.queries()) <= R.MAX_DECLARED
    # no name may be both declared and extra
    assert not set(entrymod.queries()) & set(R.EXTRA_QUERIES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    if name in R.QUERIES:
        # the driver's canonicalizer sorts cell values with pandas and
        # crashes on unhashable cells, which rows_of would stringify:
        # render nested columns as comma-joined strings (inverted_index)
        nested = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        assert not nested, f"declared query returns nested top-level columns {nested}"
    if name in ORACLES:
        assert_matches_oracle(df, duck, ORACLES[name])
    elif name in R.ROWS_ONLY_RTOL:
        # sketch-style queries: values legitimately vary run-to-run
        # within a published error bound (partial-agg merge order) —
        # check both runs agree within it; the value-level signal is
        # the error-envelope test vs exact (tests/test_sketches.py)
        rtol = R.ROWS_ONLY_RTOL[name]
        a = rows_of(df.toPandas())
        b = rows_of(QUERIES[name](spark, SF_DIR).toPandas())
        assert len(a) == len(b) and len(a) > 0
        for ra, rb in zip(a, b):
            for va, vb in zip(ra, rb):
                fa, fb = _as_floats(va, vb)
                if fa is not None:
                    assert abs(fa - fb) <= rtol * max(abs(fa), abs(fb), 1.0)
                else:
                    assert va == vb
    else:
        # rows-only determinism check for non-SQL-expressible ops
        a = rows_of(df.toPandas())
        b = rows_of(QUERIES[name](spark, SF_DIR).toPandas())
        assert a == b
        # emptiness guard: a no-oracle query that silently returns 0 rows
        # must FAIL, not vacuously pass (round-5 judge finding)
        assert len(a) > 0

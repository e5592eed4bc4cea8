"""Shared fixtures: one local SparkSession per test session, a DuckDB
connection with the testdata tables registered as views (mirroring the
driver's oracle setup), and the differential comparison helper.

The comparison reproduces the driver contract: sort columns by name,
compare row count, column names, and an order-insensitive value hash.

The `_write*` helpers plant hand-built rows as the tables of an sf_dir
under a test's `tmp_path`, so a query can run on exactly those rows.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    from mapreduce_project_spark.session import get_spark

    spark = get_spark("tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for order-insensitive comparison across engines."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 vs 0.0 and float32/64 repr noise
        return repr(round(v, 9))
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v) if not isinstance(v, str) else v


def rows_of(df_pandas):
    cols = sorted(df_pandas.columns)
    recs = df_pandas[cols].to_dict("records")
    return sorted(
        (tuple(_norm(r[c]) for c in cols) for r in recs),
        key=lambda t: tuple("" if x is None else str(x) for x in t),
    )


def oracle_mismatch(got, want, allow_empty=False):
    """Why pandas frames ``got`` (engine) and ``want`` (oracle) differ
    under the driver's comparison — same columns, same multiset of rows
    after per-cell normalization — or None when they match.

    Guards against VACUOUS passes: an empty-vs-empty hash match proves
    nothing about the query, so both sides being empty is a mismatch
    unless the caller explicitly opts in with ``allow_empty=True`` (for
    queries whose correct answer on the fixture IS the empty set)."""
    if sorted(got.columns) != sorted(want.columns):
        return f"column mismatch: spark={sorted(got.columns)} oracle={sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count: spark={len(got)} oracle={len(want)}"
    if not allow_empty and len(want) == 0:
        return (
            "vacuous oracle pass: both engines returned 0 rows — the "
            "comparison certifies nothing; recalibrate the query for the "
            "fixture scale or pass allow_empty=True if empty is the "
            "genuinely correct answer"
        )
    mismatches = [(a, b) for a, b in zip(rows_of(got), rows_of(want)) if a != b]
    return f"value mismatch (first 5): {mismatches[:5]}" if mismatches else None


def assert_matches_oracle(spark_df, duck_con, sql, approx_cols=(), allow_empty=False):
    """Differential check ≡ the driver's (see `oracle_mismatch`): raises
    AssertionError naming the first difference."""
    msg = oracle_mismatch(spark_df.toPandas(), duck_con.sql(sql).df(), allow_empty)
    if msg is not None:
        raise AssertionError(msg)


EVENTS_SCHEMA = "event_id bigint, ts string, user_id bigint, event_type string, value double"


def _write(spark, tmp_path, name, schema, rows):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(tmp_path / f"{name}.parquet")
    )


def _write_docs(spark, tmp_path, rows):
    _write(
        spark, tmp_path, "documents",
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
        rows,
    )


def _write_events(spark, tmp_path, rows, schema=EVENTS_SCHEMA):
    """`ts` may be planted as a string; it is cast to timestamp."""
    from pyspark.sql import functions as F

    spark.createDataFrame(rows, schema).withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

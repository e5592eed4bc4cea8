"""Shuffle-VOLUME pins — plan-shape tests (test_plans.py) prove the
right operators appear; these prove the narrow-shuffle claims the
docstrings make in BYTES, via the engine's own per-stage task metrics
(`AppStatusStore.lastStageAttempt(...).shuffleWriteBytes`), the same
numbers the Spark UI reports. Each query runs to a `noop` sink inside
its own job group so exactly its stages are accounted.

Why bytes and not shapes: at 100 TB the difference between "shuffles
md5 digests" and "shuffles document text" is the difference between a
minutes-long stage and a cluster-wide incident, yet both plans show
one innocuous Exchange. These pins make the byte claims regress loudly.

All pins run at sf0.01 (fixed path — the ratios need enough rows for
per-row overhead not to dominate).
"""

from __future__ import annotations


import pytest

from pyspark.sql import functions as F

SF01 = "/root/testdata/sf0.01"


def _registry():
    from mapreduce_project_spark import queries_registry as R

    return R.ALL_QUERIES


def shuffle_write_bytes(spark, df) -> int:
    """Total shuffle-write bytes of running ``df`` end to end — thin
    wrapper over the engine's own diagnostic
    (`plans/inspect.py:run_with_shuffle_metrics`, the user-facing form
    of this probe)."""
    from mapreduce_project_spark.plans.inspect import run_with_shuffle_metrics

    return run_with_shuffle_metrics(df)["shuffle_write_bytes"]


@pytest.fixture(scope="module")
def text_bytes(spark):
    return (
        spark.read.parquet(f"{SF01}/documents.parquet")
        .select(F.sum(F.octet_length("text")))
        .collect()[0][0]
    )


def test_payload_operators_shuffle_zero_bytes(spark):
    # the C5 discipline — "payloads never move": byte_features and
    # patchify decompose media columns IN PLACE (mapInPandas, no keyed
    # exchange anywhere), so their shuffle volume must be exactly 0
    q = _registry()
    for name in ("multimodal_byte_features", "multimodal_patchify"):
        b = shuffle_write_bytes(spark, q[name](spark, SF01))
        assert b == 0, f"{name} claims payloads never shuffle, wrote {b} bytes"


def test_word_count_partial_agg_shuffles_distinct_words_only(spark, text_bytes):
    # map-side combine: what crosses the wire is one (word, count) per
    # distinct word per task, not the exploded token stream — a small
    # fraction of the raw text volume (measured ~1.9 KB vs ~149 KB)
    q = _registry()
    b = shuffle_write_bytes(spark, q["word_count"](spark, SF01))
    assert 0 < b < 0.10 * text_bytes, f"word_count shuffled {b} of {text_bytes} text bytes"


def test_dedup_exact_shuffles_digests_not_text(spark, text_bytes):
    # the digest-only claim (operators/dedup.py): first-occurrence-wins
    # keys on a fixed-width md5, so shuffle volume tracks row COUNT, not
    # document SIZE (measured ~23 KB vs ~149 KB of text; at 100 TB the
    # gap is what keeps the dedup stage shuffle-bound on digests)
    q = _registry()
    b = shuffle_write_bytes(spark, q["dedup_exact"](spark, SF01))
    assert 0 < b < 0.30 * text_bytes, f"dedup_exact shuffled {b} of {text_bytes} text bytes"


def test_snapshot_diff_shuffles_key_hash_rows(spark):
    # table_diff's claim: each side shrinks to (key, 64-bit xxhash)
    # BEFORE the full-outer join, so per-row shuffle cost is ~16 B
    # regardless of table width (measured ~15.2 B/row). The bound below
    # leaves room for serialization framing but would fail immediately
    # if full order rows (9 columns, ~100+ B) ever crossed the wire.
    q = _registry()
    n_orders = spark.read.parquet(f"{SF01}/orders.parquet").count()
    b = shuffle_write_bytes(spark, q["snapshot_diff_orders"](spark, SF01))
    n_rows = 2 * n_orders  # old snapshot + simulated new snapshot
    assert 0 < b / n_rows < 25, f"snapshot diff shuffled {b / n_rows:.1f} B/row"


def test_prefix_filter_jaccard_bounded_by_shingle_volume(spark):
    # the AllPairs/PPJoin accounting claim (operators/dedup.py): the
    # full shingle table crosses the wire exactly twice (shingle-keyed
    # docfreq, id-keyed rank/verify) and every other exchange carries
    # only prefix rows and candidate id pairs — so total shuffle stays
    # within a small multiple of the exploded shingle volume, where the
    # naive self-join's shuffle would be quadratic in hot-shingle
    # docfreq and unboundedly larger
    from mapreduce_project_spark.operators.dedup import shingle_sets

    q = _registry()
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    shingle_vol = (
        shingle_sets(docs, "doc_id", "text", 3)
        .select(F.sum(F.octet_length("shingle") + F.lit(8)))
        .collect()[0][0]
    )
    b = shuffle_write_bytes(spark, q["dedup_jaccard_prefix_filter"](spark, SF01))
    assert 0 < b < 3.0 * shingle_vol, (
        f"prefix-filter Jaccard shuffled {b} bytes vs {shingle_vol} shingle bytes"
    )

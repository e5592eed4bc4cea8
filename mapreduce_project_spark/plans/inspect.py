"""Physical-plan inspection helpers — the "explain and iterate" loop as
code, so plan-quality properties (pushdown, pruning, broadcast, partial
aggregation, top-k strategy) are *asserted in tests* instead of eyeballed
once and forgotten.

The reference has no optimizer at all (SURVEY.md §4); on Spark these
properties are what make the same declared query viable at 100 TB, so
regressions here are correctness-of-scale bugs.
"""

from __future__ import annotations

import re
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan (what ``df.explain('formatted')``
    prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Parquet-scan PushedFilters entries (non-empty ⇒ predicate
    pushdown reached the scan)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema struct strings of every scan (column pruning check)."""
    return re.findall(r"ReadSchema: (struct<[^\n]*)", formatted_plan(df))


def has_node(df: DataFrame, node: str) -> bool:
    """Whether the physical plan contains an operator (e.g.
    'BroadcastHashJoin', 'TakeOrderedAndProject')."""
    return count_node(df, node) > 0


def count_node(df: DataFrame, node: str) -> int:
    """Occurrences of an operator, counted on the formatted plan's
    numbered node headers ('(4) Exchange') so tree and detail sections
    aren't double-counted."""
    return len(re.findall(rf"\(\d+\) {re.escape(node)}", formatted_plan(df)))


def run_noop(build: Callable[[], DataFrame]) -> dict:
    """Build a query with ``build()``, run it to the noop sink, and
    return what it cost: ``{"sec", "jobs", "n_stages",
    "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes"}``.

    The one run core every timing tool shares (bench, job counts,
    scaling curve, shuffle-volume pins). One job group opens BEFORE the
    build, so jobs a builder launches itself (an eager
    ``localCheckpoint``) are counted and timed with the query. Byte
    totals are the engine's own per-stage task metrics over exactly
    that group's stages (the numbers the Spark UI shows, read from
    ``AppStatusStore`` so they work with the UI disabled). The cache is
    cleared afterwards, so no run pays for another's leftovers.
    """
    import uuid

    spark = SparkSession.active()
    sc = spark.sparkContext
    group = f"run-noop-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "run_noop")
    try:
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        sec = time.perf_counter() - t0
    finally:
        sc._jsc.clearJobGroup()  # type: ignore[attr-defined]
        spark.catalog.clearCache()
    jsc = sc._jsc.sc()  # type: ignore[attr-defined]
    jsc.listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = jsc.statusStore()
    out = {"sec": round(sec, 3), "jobs": len(jobs), "n_stages": 0,
           "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "input_bytes": 0}
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # a skipped stage may have no stored attempt
            continue
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["input_bytes"] += sd.inputBytes()
        out["n_stages"] += 1
    return out

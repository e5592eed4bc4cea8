#!/usr/bin/env python
"""Benchmark harness: times every declared query at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...},
     "panel": {name: sec, ...}, "panel_total": sec, "sf": ...}

Each query is forced end-to-end with the noop sink (full computation,
no driver collect). Per-query wall time includes Catalyst planning —
that is the user-visible latency. ``panel`` is the fixed 12-query
cross-round comparison set (see PANEL) — timed every round whatever
the declared slate holds, so round-over-round perf deltas compare like
with like; ``value``/``queries`` still cover exactly the declared
slate.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# sampled at import time — before this process spins up the JVM and
# its own 32 executor threads pollute the 1-minute average
try:
    with open("/proc/loadavg", encoding="ascii") as _fh:
        LOAD_START: float | None = float(_fh.read().split()[0])
except OSError:
    LOAD_START = None

# Fixed cross-round comparison panel (VERDICT r5 task 6): the declared
# slate changes between rounds, so round-over-round totals can compare
# different query sets. These 12 (a slice of the SCALING.md set
# spanning scan/agg, join, dedup, similarity, pandas UDAF, TPC-H,
# iterative and composed families) are timed EVERY round whether or not
# they are declared, and reported separately — the stable series
# regression tracking reads.
PANEL = [
    "word_count",
    "agg_pricing_summary",
    "join_revenue_by_nation",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_jaccard_prefix_filter",
    "similarity_topk_ivf",
    "events_sessions_pandas",
    "tpch_q5_local_supplier_volume",
    "assemble_training_set",
    "bpe_train_merges",
    "pagerank_trade_graph",
]


def main() -> None:
    import __spark_entry__ as entrymod
    from mapreduce_project_spark.session import get_spark

    from pyspark.sql import functions as F

    spark = get_spark("bench")
    queries = entrymod.queries()

    # JVM/session warmup so the first measured query isn't charged for
    # one-time costs: codegen bootstrap, parquet datasource/class init
    # (via the smallest table), window/broadcast machinery, interpreted
    # higher-order-function dispatch, and the Arrow Python-worker pool
    # (daemon + worker fork, Arrow codec init). No measured table is
    # touched; per-query times still include that query's own planning
    # and codegen.
    spark.range(1000).selectExpr(
        "sum(id)",
        "sum(cast(id as decimal(18,2)))",
        "count(distinct id)",
        "aggregate(sequence(0, 9), 0L, (a, x) -> a + x)",
    ).collect()
    # JIT the interpreted higher-order-function eval path with the
    # shingle-shaped expression (transform+slice+concat_ws over a token
    # array): measured ~4 s of one-time cost on the first query
    # otherwise
    spark.range(20000).selectExpr(
        "split(concat('w', id, ' x y z w v u t s'), ' ') AS tok"
    ).selectExpr(
        "explode(array_distinct(transform(sequence(0, size(tok) - 3), "
        "i -> concat_ws(' ', slice(tok, i + 1, 3))))) AS s"
    ).write.mode("overwrite").format("noop").save()
    spark.sql(
        "SELECT id, row_number() OVER (PARTITION BY id % 7 ORDER BY id) rk "
        "FROM range(1000)"
    ).write.mode("overwrite").format("noop").save()
    small = spark.range(100).selectExpr("id", "id % 5 AS k")
    from pyspark.sql.functions import broadcast

    small.join(broadcast(small.groupBy("k").count()), "k").write.mode(
        "overwrite"
    ).format("noop").save()

    def _py_warm(batches):
        for pdf in batches:
            yield pdf

    spark.range(1000).mapInPandas(_py_warm, "id long").write.mode(
        "overwrite"
    ).format("noop").save()
    spark.range(1000).selectExpr("id % 7 AS k", "id AS v").groupBy(
        "k"
    ).applyInPandas(lambda pdf: pdf, "k long, v long").write.mode(
        "overwrite"
    ).format("noop").save()
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    # the dedup/similarity family's machinery, on synthetic rows: the
    # wide many-aggregate groupBy (64 algebraic mins — the MinHash
    # signature shape compiles ~8 s of generated code the first time),
    # mixed min+collect_set (ObjectHashAggregate path), the
    # explode→self-join→distinct candidate shape, long-array
    # array_intersect verification, md5/conv bit extraction + XOR
    # bit_count (SimHash), and one label-propagation round
    # (join+union+grouped-min — connected components). All on
    # spark.range data, so no measured table or query plan is reused.
    syn = spark.range(5000).selectExpr(
        "id % 40 AS id", "pmod(xxhash64(id), 2147483647L) AS h"
    )
    syn.groupBy("id").agg(
        *[F.expr(f"min(pmod({3 + i}L * h + {i}L, 2147483647L)) AS m{i}") for i in range(64)],
        F.expr("collect_set(h) AS hs"),
    ).write.mode("overwrite").format("noop").save()
    pairs = spark.range(200).selectExpr(
        "id % 50 AS id", "array(struct(id % 4 AS band, id % 9 AS bkey)) AS bs"
    ).selectExpr("id", "explode(bs) AS b")
    (
        pairs.alias("x")
        .join(
            pairs.alias("y"),
            F.expr("x.b.band = y.b.band AND x.b.bkey = y.b.bkey AND x.id < y.id"),
        )
        .select(F.expr("x.id AS id_a"), F.expr("y.id AS id_b"))
        .distinct()
        .selectExpr(
            "id_a",
            "id_b",
            "size(array_intersect(array(id_a, id_b), array(id_b))) AS c",
            "bit_count(id_a ^ id_b) AS hd",
            "cast(conv(substr(md5(cast(id_a AS string)), 1, 8), 16, 10) AS bigint) AS mh",
        )
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    lbl = spark.range(100).selectExpr("id", "id AS comp")
    edg = spark.range(99).selectExpr("id AS a", "id + 1 AS b")
    (
        edg.join(lbl, edg["b"] == lbl["id"])
        .select("a", "comp", F.expr("cast(null AS bigint) AS own"))
        .union(lbl.selectExpr("id AS a", "comp", "comp AS own"))
        .groupBy("a")
        .agg(F.expr("min(comp) AS comp"), F.expr("max(own) AS _old"))
        .filter("comp != _old")
        .write.mode("overwrite")
        .format("noop")
        .save()
    )

    # Host-speed calibration probes (VERDICT r11 task 6): the panel
    # band moved 14.5-14.9 -> 17.2-19.4 s across sessions with
    # byte-identical plans — host tick speed, but proving that took a
    # git-diff adjudication. These two pinned probes put the host's
    # speed INSIDE the artifact so the gate can judge panel_total
    # RELATIVE to them: (a) a fixed single-thread hash chain (pure
    # CPU, no JVM/scheduler), (b) an empty 32-task shuffle job
    # (pure scheduler tick + shuffle machinery, no data); median of 5
    # reflects the tick-speed envelope rather than the best case.
    import hashlib
    import statistics

    t0 = time.perf_counter()
    _b = b"\x00" * 64
    for _ in range(400_000):
        _b = hashlib.sha256(_b).digest()
    cpu_probe = round(time.perf_counter() - t0, 4)
    shuffle_times = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(0, 32768, 1, 32).repartition(32).write.mode(
            "overwrite"
        ).format("noop").save()
        shuffle_times.append(time.perf_counter() - t0)
    shuffle_probe = round(statistics.median(shuffle_times), 4)

    # One UNTIMED throwaway execution of the first measured query (in
    # measured order): the synthetic warmups above cover codegen/Arrow
    # machinery but not residual first-touch costs attributed to
    # whichever query sorts first (parquet footer/codec init on the
    # measured tables, first real shuffle). Round 2 showed those
    # surviving min-over-2-reps because BOTH reps of the first query run
    # early; a measured-shape throwaway absorbs them without touching
    # any timed number.
    # the fixed panel is timed with the declared slate in ONE sorted
    # pass (shared measurement conditions); panel members outside the
    # declared window come from the full registry
    from mapreduce_project_spark import queries_registry as _R

    to_time = {**queries, **{name: _R.ALL_QUERIES[name] for name in PANEL}}

    first = sorted(to_time)[0]
    try:
        spark.catalog.clearCache()
        to_time[first](spark, SF_DIR).write.mode("overwrite").format("noop").save()
    except Exception:  # noqa: BLE001 - the timed loop will record it
        pass

    # Per-query time = MIN over SPARK_GRAFT_BENCH_REPS executions
    # (default 3). Rationale: single-shot timings on a shared/virtualized
    # host swing with scheduler-overhead noise (measured ±40% run-to-run
    # with identical plans), and the largest composed plans (e.g. the
    # training-set assembly) pay their own multi-second codegen on their
    # FIRST execution only — with 2 reps the min still contains one
    # cold run (measured 8.9 s cold vs 4.6 s warm). The minimum over 3
    # estimates the plan's intrinsic cost, which is what the benchmark
    # compares. Every rep is a full end-to-end execution (plan + run to
    # the noop sink, caches cleared).
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # extra reps stop once the whole bench has spent this many seconds
    # (first rep always runs) — bounds wall time on slow hosts
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "420"))
    bench_t0 = time.perf_counter()
    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    for name in sorted(to_time):
        best = None
        err = None
        for rep_i in range(reps):
            if rep_i > 0 and time.perf_counter() - bench_t0 > budget_s:
                break
            # each execution is timed standalone: drop any DataFrame
            # caches a previous run persisted (the dedup pipelines cache
            # their signature/sketch tables), so no run pays GC/eviction
            # pressure for another's leftovers
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                df = to_time[name](spark, SF_DIR)
                df.write.mode("overwrite").format("noop").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            except Exception as exc:  # noqa: BLE001 - record and continue
                err = f"{type(exc).__name__}: {exc}"[:200]
                break
        # a query is either timed (some rep succeeded) or failed — never
        # both: a flaky later-rep failure after a good rep keeps the
        # valid timing and is not a failure
        if best is not None:
            timings[name] = round(best, 3)
        else:
            failures[name] = err or "no rep executed (bench budget exhausted)"

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    declared_timings = {n: s for n, s in timings.items() if n in queries}
    panel_timings = {n: timings[n] for n in PANEL if n in timings}
    # host-load stamp (VERDICT r10 task 2): the round-10 committed
    # bench was recorded at load avg 6.6 and overstated the panel 27%.
    # loadavg_1m_start is sampled BEFORE the bench's own work (this
    # process's Spark threads inflate the end-of-run sample); the
    # artifact gate rejects a BENCH whose start load exceeds ~1.0.
    try:
        with open("/proc/loadavg", encoding="ascii") as fh:
            load_end = float(fh.read().split()[0])
    except OSError:
        load_end = None
    out = {
        "metric": f"total_declared_query_seconds_sf{sf}",
        "value": round(sum(declared_timings.values()), 3),
        "unit": "sec",
        "queries": declared_timings,
        "panel": panel_timings,
        "panel_total": round(sum(panel_timings.values()), 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "loadavg_1m_start": LOAD_START,
        "loadavg_1m_end": load_end,
        "cpu_probe_sec": cpu_probe,
        "shuffle_probe_sec": shuffle_probe,
        "recorded_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    if failures:
        out["failures"] = failures
    print(json.dumps(out))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

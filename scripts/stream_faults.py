#!/usr/bin/env python
"""Streaming exactly-once under faults: one harness for the soak and the
kill-placement matrices.

Every stream is declared once as a `Spec`: how to start it against an
output dir and a checkpoint, and how to compare its final sink with a
batch or prefix reference. Sources and references are built the first
time a spec needs them, so a schedule builds only what it runs. Every
row starts its stream, kills it, restarts it from the same checkpoint,
runs it to completion and compares. A schedule is plain data: the rows
it runs and how much CPU load it runs them under.

- ``soak``: every spec, one timed stop after 8 batches, no added load,
  at sf0.1.
- ``ann``: `ann_ingest_stream` with a crash planted (through
  ``fault_injector``) in every batch k, at the write boundary k mod 3
  of after_pairs/after_sig/after_ivf, plus timed stops at 5 and 13.
- ``crawl``: `crawl_dedup_stream` with a crash planted in every batch
  at both write boundaries, crash restarts that read 2 files per
  trigger at 3, 9 and 15 (forced trigger coalescing, since source
  options may change across restarts), and zombie stops at 5 and 13.
- ``state``: the four applyInPandasWithState streams, which have no
  foreachBatch boundary to plant a crash in, stopped at every depth
  1..19; at least half of each stream's stops must land before the
  stream completes.

The matrices run at sf0.01 under 8 busy-loop spinners: a loaded host is
what a busy cluster looks like, so green rows at load >> 1 are the
claim. Each row records /proc/loadavg at its start.

Usage: python scripts/stream_faults.py {soak,ann,crawl,state} [--sf DIR] [--json PATH]
``--sf`` defaults to the schedule's scale beside bench.py's fixture dir;
``--json`` to the schedule's artifact. Exits 0 iff every row is green.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass
from functools import cached_property
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.errors import StreamingQueryException  # noqa: E402
from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from mapreduce_project_spark.operators.dedup import minhash_index_build  # noqa: E402
from mapreduce_project_spark.operators.events import (  # noqa: E402
    session_window_agg,
    tumbling_window_agg,
)
from mapreduce_project_spark.operators.text import hashed_doc_vectors  # noqa: E402
from mapreduce_project_spark.operators.windows import ewma_fixed  # noqa: E402
from mapreduce_project_spark.queries_registry import ALL_QUERIES  # noqa: E402
from mapreduce_project_spark.sources import load_table  # noqa: E402
from mapreduce_project_spark.streaming import events as S  # noqa: E402

N_BATCHES = 20
SPINNERS = 8
DIM = 32
SENT_ID = 1_000_000_000

DOCS = "doc_id long, text string"
DAYS = "series string, d long, y long"
CENTS = "event_type string, cents long"
ARRIVALS = "event_id long, event_type string, us long"
DAILY = "series string, ed long, n long"


def loadavg() -> float:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return float(fh.read().split()[0])


@contextlib.contextmanager
def load(n: int):
    """``n`` busy-loop processes spinning until the block exits, or
    until this process dies without running it to the end."""
    spin = "import os\np = os.getppid()\nwhile os.getppid() == p: pass"
    spinners = [
        subprocess.Popen([sys.executable, "-c", spin],
                         stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        for _ in range(n)
    ]
    try:
        yield
    finally:
        for p in spinners:
            p.kill()
            p.wait()


def write_batches(path: str, frames, first: int = 0) -> str:
    """Write frame i as the one-file source batch ``b<i>.parquet``
    (None frames are skipped) and return ``path``.

    Every file of a batch gets the mtime ``1_600_000_000 + 10·i``. The
    parquet file source orders batches by modification time; under load
    files written close together can tie at the clock's granularity and
    coalesce two batches into one trigger. That is harmless for
    order-insensitive streams, but it shifts the batch BOUNDARIES that
    crawl dedup's within- vs cross-batch semantics depend on (observed
    once: 19 triggers, a pair-set mismatch), and a fixed per-batch
    reference assumes file order. Ten-second spacing makes the grouping
    deterministic."""
    for i, df in enumerate(frames, first):
        if df is None:
            continue
        d = os.path.join(path, f"b{i:02d}.parquet")
        df.coalesce(1).write.parquet(d)
        t = 1_600_000_000 + i * 10
        for root, _dirs, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
    return path


def to_parquet(df, out: str, ck: str):
    return (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def to_batch_dirs(df, out: str, ck: str, mode: str):
    """Land each trigger in its own ``batch-<id>`` dir, overwriting, so a
    replayed trigger is idempotent: the sink for update and complete
    output, which the parquet sink cannot take and the memory sink
    cannot recover from a checkpoint."""

    def land(bdf, bid):
        bdf.write.mode("overwrite").parquet(os.path.join(out, f"batch-{bid}"))

    return (
        df.writeStream.foreachBatch(land)
        .option("checkpointLocation", ck)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )


def last_batch_dir(out: str) -> str:
    """The highest-id ``batch-<id>`` dir: a complete-mode sink's answer."""
    return os.path.join(out, max(
        (d for d in os.listdir(out) if d.startswith("batch-")),
        key=lambda d: int(d.split("-")[1]),
    ))


def cents_col():
    return F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")


def dense(df):
    """Hashed DIM-wide dense embedding per doc."""
    sparse = hashed_doc_vectors(df, "doc_id", "text", DIM)
    return (
        sparse.groupBy("doc_id")
        .agg(F.map_from_arrays(F.collect_list("dim"), F.collect_list("val")).alias("m"))
        .select(
            "doc_id",
            F.expr(
                f"transform(sequence(0, {DIM - 1}), "
                "d -> coalesce(element_at(m, cast(d as bigint)), cast(0.0 as double)))"
            ).alias("embedding"),
        )
    )


def prefix_match(got, gens: dict, finals: dict) -> bool:
    """Boundary-agnostic prefix oracle: a key's reading after its n-th
    row is a pure function of the arrival prefix ending at that row, so
    every emitted (key, n, ...) generation must appear in ``gens`` and
    each key's max-n emission must be its full-corpus one in ``finals``,
    whatever batch boundaries availableNow chose."""
    return (
        bool(got)
        and all(r == gens.get((r[0], r[1])) for r in got)
        and all(
            max((r for r in got if r[0] == k), key=lambda r: r[1]) == fin
            for k, fin in finals.items()
        )
    )


class Ctx:
    """One Spark session, fixture dir and scratch dir. Every source and
    reference is a cached property, built on first use."""

    def __init__(self, spark, sf_dir: str, work: str):
        self.spark, self.sf_dir, self.work = spark, sf_dir, work
        self.seeded: dict[str, dict[str, int]] = {}

    def dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        os.makedirs(path)
        return path

    def read(self, path: str, schema, mfpt: int):
        return (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", mfpt)
            .parquet(path + "/*/")
        )

    def frame(self, rows, schema):
        return self.spark.createDataFrame(rows, schema) if rows else None

    def rows(self, path: str):
        return self.spark.read.parquet(path).collect()

    # ---- sources ----
    @cached_property
    def ev(self):
        return load_table(self.spark, self.sf_dir, "events")

    @cached_property
    def events(self) -> str:
        """The 20 time-ordered event slices, cut at ts percentiles."""
        cuts = [
            self.ev.selectExpr(f"percentile(unix_micros(ts), {i / N_BATCHES})").collect()[0][0]
            for i in range(1, N_BATCHES)
        ]
        bounds = [float("-inf"), *cuts, float("inf")]
        us = F.unix_micros("ts")
        return write_batches(self.dir("evsrc"), [
            self.ev.filter((us > F.lit(lo)) & (us <= F.lit(hi)))
            for lo, hi in zip(bounds, bounds[1:])
        ])

    def slice(self, i: int):
        return self.spark.read.parquet(os.path.join(self.events, f"b{i:02d}.parquet"))

    @cached_property
    def joined_events(self) -> str:
        """The event slices plus a far-future sentinel per join side, in
        a source of their own. A terminating availableNow run never
        emits the outer rows of left events inside the final watermark
        delay (measured: the last 2 h of purchases, 64 rows at sf0.1,
        stayed buffered); the sentinels advance the watermark past every
        real event, and both sides of the comparison exclude them."""
        path = os.path.join(self.work, "ijsrc")
        shutil.copytree(self.events, path)  # copies keep the stamped mtimes
        max_us = self.ev.selectExpr("max(unix_micros(ts))").collect()[0][0]
        sent = self.spark.createDataFrame(
            [(SENT_ID, "purchase"), (SENT_ID + 1, "view")],
            "event_id long, event_type string",
        ).selectExpr(
            "event_id",
            f"timestamp_micros({max_us} + 86400000000L) AS ts",
            "cast(-1 as long) AS user_id",
            "event_type",
            "cast(0.0 as double) AS value",
            "cast(null as string) AS props",
        ).select(*self.ev.columns)
        return write_batches(path, [sent], first=N_BATCHES)

    @cached_property
    def cents(self):
        """Per slice, its (event_type, cents) rows sorted: the source of
        the conformal and PSI monitors."""
        slices = [
            sorted(
                (r["event_type"], int(r["cents"]))
                for r in self.slice(i).select("event_type", cents_col().alias("cents")).collect()
            )
            for i in range(N_BATCHES)
        ]
        path = write_batches(self.dir("cfsrc"), [self.frame(s, CENTS) for s in slices])
        return path, [s for s in slices if s]

    @cached_property
    def arrivals(self):
        """Per slice, its (event_id, event_type, us) rows with event_id
        REASSIGNED as a global arrival counter. The watermark monitor
        sorts each micro-batch by event_id, so its readings depend on
        arrival order, and availableNow may merge adjacent files into
        one trigger on a restart: sequential ids keep the trajectory
        the same wherever the engine places batch boundaries (one
        19-trigger run diverged from the 20-slice replay this way)."""
        slices, seq = [], 0
        for i in range(N_BATCHES):
            rows = sorted(
                (r["event_id"], r["event_type"], r["us"])
                for r in self.slice(i)
                .select("event_id", "event_type", F.unix_micros("ts").alias("us"))
                .collect()
            )
            slices.append([(seq + j, et, us) for j, (_eid, et, us) in enumerate(rows)])
            seq += len(rows)
        path = write_batches(self.dir("wmsrc"), [self.frame(s, ARRIVALS) for s in slices])
        return path, [s for s in slices if s]

    @cached_property
    def days(self):
        """Daily per-event_type cent totals split by DAY, so every series
        advances in order across batches: the Holt, Holt-Winters and
        burst source."""
        tdaily = (
            self.ev.groupBy(
                F.col("event_type").alias("series"),
                F.unix_date(F.col("ts").cast("date")).cast("bigint").alias("d"),
            )
            .agg(F.sum(cents_col()).cast("bigint").alias("y"))
            .orderBy("series", "d")
            .collect()
        )
        n = min(N_BATCHES, len(tdaily))
        days = sorted({r["d"] for r in tdaily})
        batch_of = {d: min(i // max(1, len(days) // n), n - 1) for i, d in enumerate(days)}
        path = write_batches(self.dir("hwsrc"), [
            self.frame([(r["series"], r["d"], r["y"]) for r in tdaily if batch_of[r["d"]] == i], DAYS)
            for i in range(n)
        ])
        return path, tdaily

    @cached_property
    def daily(self):
        """Event counts per day as one series, chunked in day order: the
        CUSUM source, with its fixed-point mean and slack."""
        daily = self.ev.groupBy(
            F.unix_date(F.col("ts").cast("date")).cast("bigint").alias("ed")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        dtot, dnd = daily.agg(F.sum("n"), F.count(F.lit(1))).collect()[0]
        mean_fp = int(dtot * 1000 // dnd)
        rows = [(r["series"], r["ed"], r["n"]) for r in daily.withColumn("series", F.lit("all"))
                .select("series", "ed", "n").orderBy("ed").collect()]
        n = min(N_BATCHES, len(rows))
        per = max(1, len(rows) // n)
        path = write_batches(self.dir("cusrc"), [
            self.frame(rows[i * per:(i + 1) * per] if i < n - 1 else rows[(n - 1) * per:], DAILY)
            for i in range(n)
        ])
        return path, rows, mean_fp, mean_fp // 4

    @cached_property
    def corpus(self):
        docs = load_table(self.spark, self.sf_dir, "documents").select("doc_id", "text")
        return docs.filter(F.col("doc_id") % 2 == 0), docs

    @cached_property
    def crawl(self):
        """The 20-batch crawl: the odd documents re-keyed as fresh, plus
        per batch one planted duplicate of an original corpus doc and
        one of a doc that entered the index in the PREVIOUS batch (the
        growing-index proof). Returns the source dir, the batches' rows
        and the doc_id -> text map."""
        corpus, docs = self.corpus
        fresh = docs.filter(F.col("doc_id") % 2 == 1).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
        per = max(1, fresh.count() // N_BATCHES)
        corpus_rows = corpus.orderBy("doc_id").limit(2 * N_BATCHES).collect()
        fresh_rows = fresh.orderBy("doc_id").collect()
        batches, prev = [], None
        for i in range(N_BATCHES):
            chunk = fresh_rows[i * per:(i + 1) * per] if i < N_BATCHES - 1 else fresh_rows[i * per:]
            rows = [(r["doc_id"], r["text"]) for r in chunk]
            rows.append((2_000_000 + i, corpus_rows[i]["text"]))
            if prev is not None:
                rows.append((3_000_000 + i, prev))
            prev = rows[0][1]
            batches.append(rows)
        path = write_batches(self.dir("crawlsrc"), [self.frame(b, DOCS) for b in batches])
        return path, batches, {d: t for b in batches for d, t in b}

    @cached_property
    def seed_sig(self):
        sig = minhash_index_build(self.corpus[0], "doc_id", "text", 3, 64).cache()
        sig.count()
        return sig

    @cached_property
    def centroids(self):
        """The 8 seed IVF centroids: the first corpus docs' embeddings."""
        return dense(self.corpus[0].orderBy("doc_id").limit(8)).select(
            (F.row_number().over(Window.orderBy("doc_id")) - 1).alias("cid"),
            F.col("embedding").alias("cv"),
        )

    def seed(self, idx: str) -> str:
        """Write the corpus signature index at ``idx`` once, recording its
        files' mtimes so a comparison can prove they stayed untouched."""
        if idx not in self.seeded:
            self.seed_sig.write.parquet(idx)
            self.seeded[idx] = {
                f: os.stat(os.path.join(idx, f)).st_mtime_ns
                for f in os.listdir(idx) if f.endswith(".parquet")
            }
        return idx

    def pair_set(self, path: str):
        return frozenset(
            (r["new_id"], r["index_id"], round(r["jac"], 9))
            for r in S.read_signature_tree(self.spark, path).collect()
        )

    def observed_groups(self, idx: str):
        """The stream's own batches, read back from its ``batch-<id>``
        index dirs (crawl dedup signs every doc of a batch, so the
        grouping is total)."""
        groups = {}
        for d in os.listdir(idx):
            m = re.match(r"batch-(\d+)$", d)
            if m:
                groups[int(m.group(1))] = [
                    r["id"] for r in self.spark.read.parquet(os.path.join(idx, d)).select("id").collect()
                ]
        return sorted(groups.items())

    def ann_state(self, base: str):
        return (
            self.pair_set(os.path.join(base, "pairs")),
            S.read_signature_tree(self.spark, os.path.join(base, "idx")).count(),
            frozenset(
                (r["id"], r["cell"], tuple(r["v"]))
                for r in S.read_ivf_tree(self.spark, os.path.join(base, "ivf")).collect()
            ),
        )

    # ---- references ----
    @cached_property
    def ann_reference(self):
        """The no-stream sequential replay of the 20 crawl batches."""
        base = self.dir("ann_ref")
        idx = self.seed(os.path.join(base, "idx"))
        for i, rows in enumerate(self.crawl[1]):
            S._ann_ingest_batch(
                self.spark, self.spark.createDataFrame(rows, DOCS), i, idx,
                os.path.join(base, "pairs"), os.path.join(base, "ivf"), self.centroids, dim=DIM,
            )
        want = self.ann_state(base)
        if not (want[0] and want[2]):
            raise RuntimeError("vacuous ann reference state")
        return want

    @cached_property
    def anomaly(self):
        """(median, MAD, residual frame) of the batch EWMA residuals."""
        evx = self.ev.select("event_id", "user_id", "ts", cents_col().alias("xc"))
        sm = ewma_fixed(evx, "user_id", ["ts"], "xc")
        w = Window.partitionBy("user_id").orderBy("ts")
        resid = sm.withColumn("r", F.col("x") - F.lag("ewma_fx").over(w)).filter(
            F.col("r").isNotNull()
        )
        med = int(resid.selectExpr("percentile(r, 0.50)").collect()[0][0])
        mad = int(resid.selectExpr(f"percentile(abs(r - {med}), 0.50)").collect()[0][0])
        return med, mad, resid

    @cached_property
    def burst_params(self):
        tdaily = self.days[1]
        l0 = max(1, sum(int(r["y"]) for r in tdaily) * 1000000 // max(1, len(tdaily)))
        return l0, round(math.log(max(2, len(tdaily))) * 1000000)

    @cached_property
    def psi_reference(self):
        """Frozen reference deciles and bin counts of the FULL value
        distribution (the model-artifact deployment shape)."""
        all_cents = sorted(c for chunk in self.cents[1] for _s, c in chunk)
        edges = [all_cents[(len(all_cents) - 1) * d // 10] for d in range(1, 10)]
        ref = [0] * 10
        for c in all_cents:
            ref[sum(1 for e in edges if e < c)] += 1
        return edges, ref

    @cached_property
    def conf_params(self):
        """Frozen (pred, qhat) per event type from the batch D293 fit."""
        return {
            r["event_type"]: (r["pred_cents"], r["qhat_cents"])
            for r in ALL_QUERIES["conformal_value_intervals"](self.spark, self.sf_dir).collect()
        }

    @cached_property
    def categories(self):
        return self.spark.createDataFrame(
            [("click", "engagement"), ("view", "engagement"),
             ("purchase", "revenue"), ("signup", "growth"), ("error", "ops")],
            "event_type string, category string",
        )


# ---- stream specs: start(ctx, out, ck, injector, mfpt) and compare(ctx, out) ----

def ev_stream(c, m):
    return c.read(c.events, c.ev.schema, m)


def x_stream(c, m):
    return ev_stream(c, m).select("event_id", "user_id", "ts", cents_col().alias("x"))


HH_COLS = ["event_id", "ts", "user_id", "event_type"]


def cmp_heavy_hitters(c, out):
    rows = c.rows(out)
    latest: dict = {}
    for r in rows:
        latest[r["event_type"]] = max(latest.get(r["event_type"], 0), r["n_seen"])
    final = {
        (r["event_type"], r["item"]): (r["count_est"], r["err"])
        for r in rows if r["n_seen"] == latest[r["event_type"]]
    }
    truth = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in c.ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n")).collect()
    }
    ok = set(final) == set(truth) and all(final[k] == (truth[k], 0) for k in truth)
    return ok, {"final_rows": len(final), "exact_match_vs_batch": ok}


def cmp_anomaly(c, out):
    med, mad, resid = c.anomaly
    got = {(r["user_id"], r["ts"], r["x"], r["resid"]) for r in c.rows(out)}
    want = {
        (r["user_id"], r["ts"], r["x"], r["resid"])
        for r in resid.filter(F.abs(F.col("r") - med) > 5 * mad)
        .select("user_id", "ts", "x", F.col("r").alias("resid")).collect()
    }
    ok = got == want and bool(got)
    return ok, {"flagged_rows": len(got), "match_vs_batch": ok}


def start_twap(c, out, ck, _inj, m):
    return to_parquet(S.twap_stream(ev_stream(c, m).select(
        "event_id", "user_id",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.unix_micros("ts").alias("us"),
        cents_col().alias("cents"),
    )), out, ck)


def cmp_twap(c, out):
    latest: dict = {}
    for r in c.rows(out):
        k = (r["user_id"], r["day"])
        if k not in latest or r["n_seen"] > latest[k][0]:
            latest[k] = (r["n_seen"], r["span_us"], r["twap"])
    evt = c.ev.select(
        "user_id",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.unix_micros("ts").alias("us"),
        cents_col().alias("cents"),
    ).withColumn("next_us", F.lead("us").over(Window.partitionBy("user_id", "day").orderBy("us")))
    want = {}
    for r in evt.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("next_us").isNull(), F.lit(0))
              .otherwise(F.col("cents") * (F.col("next_us") - F.col("us"))))
        .cast("bigint").alias("wsum"),
        (F.max("us") - F.min("us")).cast("bigint").alias("span_us"),
        F.min("cents").alias("first_only"),
    ).collect():
        tw = r["first_only"] / 100.0 if r["span_us"] == 0 else r["wsum"] / r["span_us"] / 100.0
        want[(r["user_id"], r["day"])] = (r["n"], r["span_us"], tw)
    ok = latest == want and bool(latest)
    return ok, {"keys": len(latest), "match_vs_batch": ok}


def start_cusum(c, out, ck, _inj, m):
    path, _rows, mean_fp, slack_fp = c.daily
    return to_parquet(S.cusum_stream(c.read(path, DAILY, m), mean_fp, slack_fp), out, ck)


def cmp_cusum(c, out):
    _path, rows, mean_fp, slack_fp = c.daily
    got = {(r["ed"], r["n"], r["s_up"], r["s_dn"], r["changepoint"]) for r in c.rows(out)}
    s_up = s_dn = 0
    want = set()
    for _s, ed, n in rows:
        n = int(n)
        s_up = max(0, s_up + n * 1000 - mean_fp - slack_fp)
        s_dn = max(0, s_dn + mean_fp - n * 1000 - slack_fp)
        want.add((ed, n, s_up, s_dn, 1 if (s_up > mean_fp or s_dn > mean_fp) else 0))
    ok = got == want and bool(got)
    return ok, {"days": len(got), "match_vs_batch": ok}


def cmp_holt(c, out):
    got = {(r["series"], r["d"], r["y"], r["l"], r["b"], r["resid"]) for r in c.rows(out)}
    want, state = set(), {}
    for r in c.days[1]:
        s, d, y = r["series"], int(r["d"]), int(r["y"])
        if s not in state:
            lv, b, resid = y, 0, 0
        else:
            lp, bp = state[s]
            resid = y - (lp + bp)
            lv = (y + 3 * (lp + bp)) // 4
            b = (lv - lp + 3 * bp) // 4
        state[s] = (lv, b)
        want.add((s, d, y, lv, b, resid))
    ok = got == want and bool(got)
    return ok, {"rows": len(got), "match_vs_batch": ok}


def cmp_holt_winters(c, out):
    got = {
        (r["series"], r["d"], r["y"], r["l"], r["b"], r["s"], r["resid"], r["fc"])
        for r in c.rows(out)
    }
    want, state = set(), {}
    for r in c.days[1]:
        s, d, y = r["series"], int(r["d"]), int(r["y"])
        buf, slist, lv, b = state.get(s, ([], [], 0, 0))
        if len(slist) < 7:
            buf = buf + [y]
            if len(buf) == 7:
                lv = sum(buf) // 7
                b = 0
                slist = [v - lv for v in buf]
            state[s] = (buf, slist, lv, b)
            continue
        s_old = slist[0]
        resid = y - (lv + b + s_old)
        l_new = (y - s_old + 3 * (lv + b)) // 4
        b_new = (l_new - lv + 3 * b) // 4
        s_new = (y - l_new + 3 * s_old) // 4
        slist = slist[1:] + [s_new]
        lv, b = l_new, b_new
        state[s] = (buf, slist, lv, b)
        want.add((s, d, y, lv, b, s_new, resid, lv + b + slist[0]))
    ok = got == want and bool(got)
    return ok, {"rows": len(got), "match_vs_batch": ok}


def start_crawl(c, out, ck, inj, m):
    idx = c.seed(os.path.join(out, "idx"))
    return S.crawl_dedup_stream(
        c.spark, c.read(c.crawl[0], DOCS, m), idx, os.path.join(out, "pairs"), ck,
        fault_injector=inj,
    )


def cmp_crawl(c, out):
    """Against a sequential replay of the same docs through the same
    batch handler, grouped by the stream's OWN observed batches: a
    restart may legally coalesce source files into one trigger, and
    crawl dedup's within- vs cross-batch semantics depend on the
    boundaries, so the claim is exactly-once for whatever boundaries
    the engine chose."""
    idx, pairs = os.path.join(out, "idx"), os.path.join(out, "pairs")
    groups = c.observed_groups(idx)
    ridx = c.seed(os.path.join(out, "replay_idx"))
    text = c.crawl[2]
    for bid, ids in groups:
        S._crawl_dedup_batch(
            c.spark, c.spark.createDataFrame([(i, text[i]) for i in ids], DOCS),
            bid, ridx, os.path.join(out, "replay_pairs"),
        )
    got = (c.pair_set(pairs), S.read_signature_tree(c.spark, idx).count())
    want = (c.pair_set(os.path.join(out, "replay_pairs")), S.read_signature_tree(c.spark, ridx).count())
    stable = all(
        os.stat(os.path.join(idx, f)).st_mtime_ns == t for f, t in c.seeded[idx].items()
    )
    cross = sum(1 for _nid, iid, _j in got[0] if iid >= 1_000_000)
    return got == want and bool(got[0]) and stable and cross > 0, {
        "pairs": len(got[0]),
        "pairs_vs_batch_replay_equal": got[0] == want[0],
        "cross_batch_pairs": cross,
        "index_rows": got[1],
        "original_index_files_byte_stable": stable,
        "observed_triggers": len(groups),
        "coalesced": len(groups) < N_BATCHES,
    }


def start_ann(c, out, ck, inj, m):
    idx = c.seed(os.path.join(out, "idx"))
    return S.ann_ingest_stream(
        c.spark, c.read(c.crawl[0], DOCS, m), idx, os.path.join(out, "pairs"),
        os.path.join(out, "ivf"), ck, c.centroids, dim=DIM, fault_injector=inj,
    )


def cmp_ann(c, out):
    """The final (pairs, index rows, IVF tree by last-writer-wins read)
    must equal the sequential replay of the 20 batches exactly."""
    got, want = c.ann_state(out), c.ann_reference
    return got == want, {
        "ivf_rows": len(got[2]),
        "pairs": len(got[0]),
        "ivf_vs_batch_replay_equal": got[2] == want[2],
        "pairs_vs_batch_replay_equal": got[0] == want[0],
    }


def wm_pct(items, n, p):
    idx100 = (n - 1) * p
    lo, frac = divmod(idx100, 100)
    flat_lo = flat_hi = items[-1][0]
    seen = 0
    for val, cnt in items:
        if seen + cnt > lo:
            flat_lo = val
            flat_hi = val if seen + cnt > lo + 1 else None
            break
        seen += cnt
    if flat_hi is None:
        seen2 = 0
        for val, cnt in items:
            if seen2 + cnt > lo + 1:
                flat_hi = val
                break
            seen2 += cnt
        else:
            flat_hi = flat_lo
    return flat_lo * 100 + (flat_hi - flat_lo) * (frac if frac else 0)


def cmp_watermark(c, out):
    got = {
        (r["event_type"], r["n_events"], r["on_time_ppm"],
         r["p50_100x"], r["p95_100x"], r["p99_100x"], r["max_late_s"])
        for r in c.rows(out)
    }
    gens, finals, hists, wmaxs = {}, {}, {}, {}
    rm = -(1 << 62)
    for chunk in c.arrivals[1]:
        for _eid, et, us in chunk:
            us = int(us)
            rm = max(rm, us)
            late = (rm - us) // 1000000
            h = hists.setdefault(et, {})
            b = min(late, 86400)
            h[b] = h.get(b, 0) + 1
            wmaxs[et] = max(wmaxs.get(et, 0), late)
            items = sorted(h.items())
            n = sum(cnt for _, cnt in items)
            gen = (et, n, h.get(0, 0) * 1000000 // n, wm_pct(items, n, 50),
                   wm_pct(items, n, 95), wm_pct(items, n, 99), wmaxs[et])
            gens[(et, n)] = finals[et] = gen
    ok = prefix_match(got, gens, finals)
    return ok, {"rows": len(got), "match_vs_replay": ok}


def cmp_burst(c, out):
    l0, tr = c.burst_params
    got = {(r["series"], r["d"], r["y"], r["d0"], r["d1"], r["in_burst"]) for r in c.rows(out)}
    c0 = round(math.log(l0) * 1000000) - 13815511
    c1 = round(math.log(3 * l0) * 1000000) - 13815511
    want, state = set(), {}
    for r in c.days[1]:
        s, d, y = r["series"], int(r["d"]), int(r["y"])
        f0, f1 = l0 - y * c0, 3 * l0 - y * c1
        if s not in state:
            f1 += tr
        else:
            pd0, pd1 = state[s]
            f0 += min(pd0, pd1)
            f1 += min(pd0 + tr, pd1)
        m = min(f0, f1)
        state[s] = (f0 - m, f1 - m)
        want.add((s, d, y, f0 - m, f1 - m, 1 if f1 - m < f0 - m else 0))
    ok = got == want and bool(got)
    return ok, {"rows": len(got), "match_vs_replay": ok}


def lnu(x: int) -> int:
    return round(math.log(x) * 1000000)


def cmp_psi(c, out):
    edges, ref = c.psi_reference
    got = {(r["series"], r["n_cur"], r["bins"], r["psi_micro"]) for r in c.rows(out)}
    na10 = sum(ref) + 10
    gens, finals, counts = {}, {}, {}
    for chunk in c.cents[1]:
        for s, cents in chunk:
            cs = counts.setdefault(s, [0] * 10)
            cs[sum(1 for e in edges if e < cents)] += 1
            nb10 = sum(cs) + 10
            psi = 0
            for ca, cb in zip(ref, cs):
                pa = (ca + 1) * 1000000 // na10
                pb = (cb + 1) * 1000000 // nb10
                raw = (pa - pb) * (lnu(ca + 1) - lnu(na10) - lnu(cb + 1) + lnu(nb10))
                psi += raw // 1000000 if raw >= 0 else -((-raw) // 1000000)
            gens[(s, sum(cs))] = finals[s] = (s, sum(cs), ",".join(map(str, cs)), psi)
    ok = prefix_match(got, gens, finals)
    return ok, {"rows": len(got), "match_vs_replay": ok}


def cmp_transitions(c, out):
    """Last-event-type state spans batches, so a kill must neither drop
    nor duplicate a boundary transition."""
    got = {
        (r["event_type"], r["next_type"]): r["n"]
        for r in c.spark.read.parquet(out).groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n")).collect()
    }
    want = {
        (r["event_type"], r["next_type"]): r["n"]
        for r in ALL_QUERIES["event_transition_matrix"](c.spark, c.sf_dir).collect()
    }
    ok = got == want and bool(got)
    return ok, {"cells": len(got), "match_vs_batch": ok}


def cmp_ewma(c, out):
    got = {(r["user_id"], r["ts"], r["x"], r["ewma_fx"]) for r in c.rows(out)}
    want = {
        (r["user_id"], r["ts"], r["x"], r["ewma_fx"])
        for r in ewma_fixed(
            c.ev.select("event_id", "user_id", "ts", cents_col().alias("xc")),
            "user_id", ["ts"], "xc",
        ).collect()
    }
    ok = got == want and bool(got)
    return ok, {"rows": len(got), "match_vs_batch": ok}


def cmp_running_totals(c, out):
    final: dict = {}
    for r in c.spark.read.option("recursiveFileLookup", "true").parquet(out).collect():
        cur = final.get(r["user_id"])  # the per-user count is monotone: max = final
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], round(r["total_value"], 6))
    want = {
        r["user_id"]: (r["n"], round(r["tv"], 6))
        for r in c.ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv")).collect()
    }
    ok = final == want and bool(final)
    return ok, {"users": len(final), "match_vs_batch": ok}


def start_dedup(fn):
    # exact global-distinct parity needs the watermark to exceed the
    # corpus's event-time span (otherwise eviction legitimately
    # re-admits a key recurring later; production tunes the delay to its
    # real lateness bound): the parity configuration is pinned here
    return lambda c, out, ck, _inj, m: to_parquet(
        fn(ev_stream(c, m), ["user_id", "event_type"], watermark="87600 hours"), out, ck
    )


def cmp_dedup(c, out):
    got = {(r["user_id"], r["event_type"]) for r in c.rows(out)}
    n_out = c.spark.read.parquet(out).count()
    want = {(r["user_id"], r["event_type"]) for r in c.ev.select("user_id", "event_type").distinct().collect()}
    # set AND row count: a replayed duplicate keeps the set but inflates the count
    ok = got == want and n_out == len(want) and bool(got)
    return ok, {"keys": len(got), "rows_emitted": n_out, "match_vs_batch": ok}


def cmp_sessions(c, out):
    got = {(r["user_id"], r["session_start"]): r["n_events"] for r in c.rows(last_batch_dir(out))}
    want = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in session_window_agg(
            c.ev, "ts", "30 minutes", ["user_id"], n_events=F.count(F.lit(1))
        ).collect()
    }
    ok = got == want and bool(got)
    return ok, {"sessions": len(got), "match_vs_batch": ok}


def cmp_conformal(c, out):
    got = {
        (r["event_type"], r["n_seen"], r["n_covered"], r["coverage_ppm"], r["alarm"])
        for r in c.rows(out)
    }
    gens, finals, counts = {}, {}, {}
    for chunk in c.cents[1]:
        for typ, cents in chunk:
            if typ not in c.conf_params:
                continue
            pred, qhat = c.conf_params[typ]
            n, cov = counts.get(typ, (0, 0))
            n, cov = n + 1, cov + (1 if abs(cents - pred) <= qhat else 0)
            counts[typ] = (n, cov)
            ppm = cov * 1000000 // n
            gens[(typ, n)] = finals[typ] = (typ, n, cov, ppm, 1 if n >= 100 and ppm < 850000 else 0)
    ok = prefix_match(got, gens, finals)
    return ok, {"rows": len(got), "match_vs_replay": ok}


def cmp_tumbling(c, out):
    def key(r):
        return (r["window_start"], r["event_type"], r["n_events"], round(r["sum_value"], 6))

    got = {key(r) for r in c.rows(last_batch_dir(out))}
    want = {
        key(r) for r in tumbling_window_agg(
            c.ev, "ts", "1 hour", ["event_type"],
            n_events=F.count(F.lit(1)), sum_value=F.sum("value"),
        ).collect()
    }
    ok = got == want and bool(got)
    return ok, {"windows": len(got), "match_vs_batch": ok}


def cmp_static_join(c, out):
    rows = c.rows(out)
    got = {(r["event_id"], r["category"]) for r in rows}
    want = {
        (r["event_id"], r["category"])
        for r in c.ev.join(c.categories, "event_type").select("event_id", "category").collect()
    }
    # set AND count: a replayed batch leaking past the sink's metadata
    # log would duplicate rows without changing the set
    ok = got == want and len(rows) == len(want) and bool(got)
    return ok, {"rows": len(rows), "match_vs_batch": ok}


def start_interval_join(c, out, ck, _inj, m):
    def side(t):
        return c.read(c.joined_events, c.ev.schema, m).filter(F.col("event_type") == t)

    return to_parquet(
        S.stream_stream_interval_join(side("purchase"), side("view"), how="left_outer")
        .select("l_event_id", "r_event_id"),
        out, ck,
    )


def cmp_interval_join(c, out):
    got = {(r["l_event_id"], r["r_event_id"]) for r in c.rows(out) if r["l_event_id"] < SENT_ID}
    ev = c.ev
    bp = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("l_event_id"), F.col("ts").alias("l_ts"),
    )
    bv = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("r_key"), F.col("event_id").alias("r_event_id"), F.col("ts").alias("r_ts"),
    )
    want = {
        (r["l_event_id"], r["r_event_id"])
        for r in bp.join(
            bv,
            (F.col("user_id") == F.col("r_key"))
            & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 1 hour"))
            & (F.col("r_ts") <= F.col("l_ts")),
            "left_outer",
        ).collect()
    }
    outer = sum(1 for _l, r in got if r is None)
    ok = got == want and bool(got) and outer > 0
    return ok, {"rows": len(got), "outer_rows": outer, "match_vs_batch": ok}


@dataclass(frozen=True)
class Spec:
    name: str  # the soak report's key
    label: str  # the streaming function under test
    size: str  # the result-size field a state-matrix row reports as ``rows``
    start: Callable  # (ctx, out, ck, fault_injector, maxFilesPerTrigger) -> StreamingQuery
    compare: Callable  # (ctx, out) -> (green, result fields)


SPECS = {s.name: s for s in (
    Spec("heavy_hitters", "heavy_hitters_stream", "final_rows",
         lambda c, out, ck, _inj, m: to_parquet(
             S.heavy_hitters_stream(ev_stream(c, m).select(*HH_COLS), budget=4096), out, ck),
         cmp_heavy_hitters),
    Spec("anomaly", "anomaly_stream", "flagged_rows",
         lambda c, out, ck, _inj, m: to_parquet(
             S.anomaly_stream(x_stream(c, m), c.anomaly[0], c.anomaly[1]), out, ck),
         cmp_anomaly),
    Spec("twap", "twap_stream", "keys", start_twap, cmp_twap),
    Spec("cusum", "cusum_stream", "days", start_cusum, cmp_cusum),
    Spec("holt", "holt_stream", "rows",
         lambda c, out, ck, _inj, m: to_parquet(S.holt_stream(c.read(c.days[0], DAYS, m)), out, ck),
         cmp_holt),
    Spec("holt_winters", "holt_winters_stream", "rows",
         lambda c, out, ck, _inj, m: to_parquet(
             S.holt_winters_stream(c.read(c.days[0], DAYS, m)), out, ck),
         cmp_holt_winters),
    Spec("crawl_dedup", "crawl_dedup_stream", "pairs", start_crawl, cmp_crawl),
    Spec("ann_ingest", "ann_ingest_stream", "ivf_rows", start_ann, cmp_ann),
    Spec("watermark", "watermark_stream", "rows",
         lambda c, out, ck, _inj, m: to_parquet(
             S.watermark_stream(c.read(c.arrivals[0], ARRIVALS, m)), out, ck),
         cmp_watermark),
    Spec("burst", "burst_stream", "rows",
         lambda c, out, ck, _inj, m: to_parquet(
             S.burst_stream(c.read(c.days[0], DAYS, m), *c.burst_params), out, ck),
         cmp_burst),
    Spec("psi", "psi_stream", "rows",
         lambda c, out, ck, _inj, m: to_parquet(S.psi_stream(
             c.read(c.cents[0], CENTS, m).withColumnRenamed("event_type", "series"),
             *c.psi_reference), out, ck),
         cmp_psi),
    Spec("transitions", "transition_stream", "cells",
         lambda c, out, ck, _inj, m: to_parquet(S.transition_stream(ev_stream(c, m)), out, ck),
         cmp_transitions),
    Spec("ewma", "ewma_stream", "rows",
         lambda c, out, ck, _inj, m: to_parquet(S.ewma_stream(x_stream(c, m)), out, ck),
         cmp_ewma),
    Spec("running_user_totals", "running_user_totals_stream", "users",
         lambda c, out, ck, _inj, m: to_batch_dirs(
             S.running_user_totals_stream(ev_stream(c, m)), out, ck, "update"),
         cmp_running_totals),
    Spec("dedup", "dedup_stream", "keys", start_dedup(S.dedup_stream), cmp_dedup),
    Spec("dedup_within_watermark", "dedup_within_watermark_stream", "keys",
         start_dedup(S.dedup_within_watermark_stream), cmp_dedup),
    Spec("sessions", "session_stream", "sessions",
         lambda c, out, ck, _inj, m: to_batch_dirs(
             S.session_stream(ev_stream(c, m)), out, ck, "complete"),
         cmp_sessions),
    Spec("conformal", "conformal_stream", "rows",
         lambda c, out, ck, _inj, m: to_parquet(
             S.conformal_stream(c.read(c.cents[0], CENTS, m), c.conf_params), out, ck),
         cmp_conformal),
    Spec("tumbling", "tumbling_counts_stream", "windows",
         lambda c, out, ck, _inj, m: to_batch_dirs(
             S.tumbling_counts_stream(ev_stream(c, m)), out, ck, "complete"),
         cmp_tumbling),
    Spec("stream_static_join", "stream_static_join", "rows",
         lambda c, out, ck, _inj, m: to_parquet(
             S.stream_static_join(ev_stream(c, m), c.categories, "event_type")
             .select("event_id", "category"), out, ck),
         cmp_static_join),
    Spec("stream_stream_interval_join", "stream_stream_interval_join", "rows",
         start_interval_join, cmp_interval_join),
)}


# ---- kills and schedules ----

@dataclass(frozen=True)
class Kill:
    """Where a row kills its stream. ``crash`` plants a fault through
    ``fault_injector`` at ``placement`` in batch ``depth``; ``stop``
    stops the query once ``depth`` batches completed and waits for it to
    terminate; ``zombie`` stops the same way but restarts at once. The
    restart reads ``mfpt`` files per trigger."""

    kind: str
    depth: int
    tag: str
    placement: str | None = None
    mfpt: int = 1


@dataclass(frozen=True)
class Schedule:
    rows: tuple  # (spec name, Kill) pairs, in run order
    sf: str  # fixture scale, beside bench.py's fixture dir
    artifact: str
    spinners: int = SPINNERS
    keys: tuple = ()  # each report row's keys, as the committed artifacts have them
    every_kill_lands: bool = True  # else at least half of each spec's must


ANN_PLACEMENTS = ("after_pairs", "after_sig", "after_ivf")
CRAWL_PLACEMENTS = ("after_pairs", "after_sig")
STATE_SPECS = ("transitions", "ewma", "holt_winters", "conformal")
SOAK_KEYS = ("label", "killed_after_batches", "restarted", "total_batches", "sec")

SCHEDULES = {
    "soak": Schedule(
        rows=tuple((name, Kill("stop", 8, name)) for name in SPECS),
        sf="sf0.1", artifact="STREAMSOAK.json", spinners=0, keys=SOAK_KEYS,
    ),
    "ann": Schedule(
        rows=tuple(
            ("ann_ingest", Kill("crash", k, f"b{k:02d}_{p}", p))
            for k in range(N_BATCHES) for p in [ANN_PLACEMENTS[k % len(ANN_PLACEMENTS)]]
        ) + tuple(("ann_ingest", Kill("stop", k, f"stop{k:02d}")) for k in (5, 13)),
        sf="sf0.01", artifact="KILLMATRIX_ANN.json",
        keys=("tag", "kill_batch", "placement", "crash_fired", "state_equal_reference",
              "ivf_rows", "pairs", "loadavg_start", "sec"),
    ),
    "crawl": Schedule(
        rows=tuple(
            ("crawl_dedup", Kill("crash", k, f"b{k:02d}_{p}", p))
            for k in range(N_BATCHES) for p in CRAWL_PLACEMENTS
        ) + tuple(
            ("crawl_dedup", Kill("crash", k, f"coalesce{k:02d}", "after_pairs", mfpt=2))
            for k in (3, 9, 15)
        ) + tuple(("crawl_dedup", Kill("zombie", k, f"zombie{k:02d}")) for k in (5, 13)),
        sf="sf0.01", artifact="KILLMATRIX_CRAWL.json",
        keys=("tag", "kill_batch", "placement", "restart_max_files_per_trigger", "crash_fired",
              "observed_triggers", "coalesced", "state_equal_replay", "pairs", "index_rows",
              "loadavg_start", "sec"),
    ),
    "state": Schedule(
        rows=tuple(
            (name, Kill("stop", d, f"{name}_{d:02d}"))
            for name in STATE_SPECS for d in range(1, N_BATCHES)
        ),
        sf="sf0.01", artifact="KILLMATRIX_STATE.json",
        keys=("stream", "kill_depth", "killed_after_batches", "restarted",
              "state_equal_reference", "rows", "loadavg_start", "sec"),
        every_kill_lands=False,
    ),
}


def run_row(c: Ctx, spec: Spec, kill: Kill) -> dict:
    """Start, kill, restart from the checkpoint, run to completion and
    compare. Returns every field any report row takes, plus ``green``."""
    base = tempfile.mkdtemp(prefix=kill.tag + "_", dir=c.work)
    out, ck = os.path.join(base, "out"), os.path.join(base, "ck")
    t0, l0 = time.time(), loadavg()
    fired, killed_after = False, None

    def injector(point, batch_id):
        nonlocal fired
        if not fired and (point, batch_id) == (kill.placement, kill.depth):
            fired = True
            raise RuntimeError(f"planted crash: batch {batch_id} {point}")

    q = spec.start(c, out, ck, injector if kill.kind == "crash" else None, 1)
    if kill.kind == "crash":
        try:
            q.awaitTermination()
        except StreamingQueryException:
            killed_after = kill.depth
    else:
        while q.isActive:
            lp = q.lastProgress
            if lp is not None and lp.get("batchId", -1) + 1 >= kill.depth:
                killed_after = lp["batchId"] + 1
                q.stop()
                break
            time.sleep(0.02)
        if kill.kind == "stop":
            q.awaitTermination()
        # a zombie restart does not wait: stop() interrupts the JVM
        # micro-batch thread, but a Python foreachBatch callback already
        # running keeps going on its Py4J callback thread and can still
        # write after awaitTermination() returns; the generation fence
        # (streaming/events.py `_fence_register`/`_fenced_write`) must
        # refuse that stale write
    q = spec.start(c, out, ck, None, kill.mfpt)
    q.awaitTermination()
    total = max((p.get("batchId", -1) + 1 for p in q.recentProgress), default=0)
    match, fields = spec.compare(c, out)
    landed = killed_after is not None
    shutil.rmtree(base, ignore_errors=True)
    return {
        "label": spec.label,
        "stream": spec.label.removesuffix("_stream"),
        "tag": kill.tag,
        "kill_batch": kill.depth,
        "kill_depth": kill.depth,
        "placement": kill.placement or f"{'timed' if kill.kind == 'stop' else kill.kind}_stop",
        "restart_max_files_per_trigger": kill.mfpt,
        "crash_fired": landed,
        "restarted": landed,
        "killed_after_batches": killed_after,
        "total_batches": total,
        "state_equal_reference": match,
        "state_equal_replay": match,
        "rows": fields[spec.size],
        "loadavg_start": l0,
        "sec": round(time.time() - t0, 2),
        "fields": fields,
        "landed": landed,
        # a row that forces coalescing must observe it
        "green": match and (kill.mfpt == 1 or fields["coalesced"]),
    }


def run_schedule(c: Ctx, name: str) -> dict:
    sched = SCHEDULES[name]
    l0, t0 = loadavg(), time.time()
    ok, runs, landed = True, [], {}
    for spec_name, kill in sched.rows:
        r = run_row(c, SPECS[spec_name], kill)
        ok &= r["green"] and (r["landed"] or not sched.every_kill_lands)
        landed[r["stream"]] = landed.get(r["stream"], 0) + r["landed"]
        row = {k: (r["fields"] | r)[k] for k in sched.keys}
        runs.append(row | r["fields"] if name == "soak" else row)
        print(json.dumps(runs[-1]), flush=True)
    if name == "soak":
        report = {"sf_dir": c.sf_dir, "n_batches_target": N_BATCHES,
                  "streams": {s: row for (s, _k), row in zip(sched.rows, runs)}}
    else:
        report = {"sf_dir": c.sf_dir, "n_batches": N_BATCHES, "load_procs": sched.spinners, "runs": runs}
    if not sched.every_kill_lands:
        per_spec = len(sched.rows) // len(landed)
        ok &= all(n >= max(1, per_spec // 2) for n in landed.values())
        report["depths"] = sorted({k.depth for _s, k in sched.rows})
        report["kills_landed"] = landed
    if name == "ann":
        report["reference"] = {"ivf_rows": len(c.ann_reference[2]), "pairs": len(c.ann_reference[0])}
    if name == "crawl":
        report["coalescing_regime_exercised"] = any(r["coalesced"] for r in runs)
    report |= {"all_green": bool(ok), "loadavg_start": l0, "wall_s": round(time.time() - t0, 1)}
    return report


def main() -> int:
    ap = argparse.ArgumentParser(description="Kill streams mid-run, restart, compare.")
    ap.add_argument("schedule", choices=SCHEDULES)
    ap.add_argument("--sf", help="fixture dir (default: the schedule's scale beside bench.py's)")
    ap.add_argument("--json", help="report path (default: the schedule's artifact)")
    args = ap.parse_args()
    sched = SCHEDULES[args.schedule]

    from bench import SF_DIR
    from mapreduce_project_spark.session import get_spark

    sf_dir = args.sf or os.path.join(os.path.dirname(SF_DIR.rstrip("/")), sched.sf)
    spark = get_spark(f"stream-faults-{args.schedule}")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="streamfaults_")
    try:
        with load(sched.spinners):
            report = run_schedule(Ctx(spark, sf_dir, work), args.schedule)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(args.json or sched.artifact, "w", encoding="utf-8") as fh:
        json.dump(report, fh, indent=1)
    print("GREEN" if report["all_green"] else "RED", "->", args.json or sched.artifact)
    return 0 if report["all_green"] else 1


if __name__ == "__main__":
    raise SystemExit(main())

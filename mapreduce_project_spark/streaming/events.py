"""Structured Streaming operators over the events stream.

The reference is strictly batch (one-shot jobs, ``master.py:164-208``);
this module is the streaming-native expression of the C6 event
operators — the *same* ``window`` / ``session_window`` expressions as
``operators/events.py``, wrapped in ``readStream``/``writeStream`` with
watermarks for bounded state.

The 13 arbitrary stateful streams (running totals, transitions, EWMA,
anomaly flags, conformal coverage, heavy hitters, TWAP, CUSUM, Holt,
Holt-Winters, PSI, watermark sizing, burst alarm) are each one per-key
fold — the reference's ``reduce_fn(k, values)`` with its state carried
between micro-batches — run by one driver, `_keyed_fold`, which owns
the ``applyInPandasWithState`` protocol: concatenate the key's batches,
sort, load the carried state, fold, store the state, emit the rows. The
EWMA, CUSUM, Holt and Holt-Winters recursions are the Spark-free folds
of `operators/windows.py`, which their batch queries fold over the whole
sorted series, so each stream equals its batch twin by construction.

Scale notes: watermark delay bounds state size; windowed state is
per (window x key); the file source here is a stand-in for Kafka —
swap ``readStream.format("kafka")`` in production, everything
downstream is unchanged. Tests drive these to completion with
``trigger(availableNow=True)`` + memory sink and compare against the
batch twins.
"""

from __future__ import annotations

import os as _osmod
import threading as _threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_project_spark.operators.windows import (
    cusum_fold,
    ewma_fold,
    holt_fold,
    holt_winters_fold,
)

# the event-time watermark delay of the windowed, joined and deduped
# streams: late data up to this far behind the newest event is admitted
_WATERMARK = "2 hours"

# `anomaly_stream` flags a residual more than this many MADs from the median
_ANOMALY_K = 5

# ------------------------------------------------------------------
# Zombie-attempt write fencing (round 13, VERDICT r12 task 1).
#
# `StreamingQuery.stop()` interrupts the JVM micro-batch thread, but a
# Python foreachBatch callback that is already executing keeps running
# on the Py4J callback-server thread — `awaitTermination()` returns
# while the superseded attempt is still alive. If the same process
# then restarts the query from the checkpoint, the restarted run can
# re-execute the same batch (possibly with re-grouped source files)
# and the zombie's LATE writes clobber the live run's directories:
# pairs/batch-N computed against a different index prefix than the
# final signature tree implies. This was the intermittent
# `crawl_dedup` soak mismatch (STREAMSOAK_r12: 226 pairs, 19
# triggers) and the likely mechanism of round 11's ann_ingest +1-row
# wobble — load-correlated because load widens the stop()-to-restart
# overlap window.
#
# The fence: each logical stream (keyed by checkpoint path) carries a
# monotonically increasing query GENERATION, bumped under the fence
# lock when a new query is constructed. Every batch-scoped write
# executes under the same lock and first re-checks that its attempt's
# generation is still current — a stale attempt raises instead of
# writing. The bump-and-check sharing one lock makes check-then-write
# atomic: any zombie write that passes the check completed strictly
# before the restarted query existed (and its re-run overwrites it);
# any write after the bump is refused.
#
# Scope: a SAME-PROCESS restart (tests, notebooks, long-lived driver
# apps). Across driver processes the zombie dies with its process and
# batch-id-scoped overwrite idempotence alone suffices.
# ------------------------------------------------------------------

_STREAM_FENCES: dict[str, dict] = {}
_STREAM_FENCES_GUARD = _threading.Lock()


class StaleAttemptError(RuntimeError):
    """A superseded (zombie) foreachBatch attempt tried to write after
    a newer query generation restarted the stream."""


def _fence_register(checkpoint_path: str) -> tuple[str, int]:
    """Open a new query generation for the stream identified by its
    checkpoint path; returns the token its batch handlers must present
    at every batch-scoped write."""
    key = _osmod.path.abspath(checkpoint_path)
    with _STREAM_FENCES_GUARD:
        fence = _STREAM_FENCES.setdefault(
            key, {"gen": 0, "lock": _threading.Lock()}
        )
    with fence["lock"]:
        fence["gen"] += 1
        return key, fence["gen"]


def _fenced_write(token: tuple[str, int] | None, label: str, write_fn):
    """Run one batch-scoped write under the stream's fence lock,
    refusing it if the attempt's generation has been superseded."""
    if token is None:
        return write_fn()
    key, gen = token
    fence = _STREAM_FENCES[key]
    with fence["lock"]:
        if fence["gen"] != gen:
            raise StaleAttemptError(
                f"{label}: fenced off — this attempt belongs to query "
                f"generation {gen} but generation {fence['gen']} has since "
                "restarted the stream (zombie foreachBatch after stop())"
            )
        return write_fn()

def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source event stream (one parquet file per micro-batch read;
    Kafka in production).

    The streaming file source needs an explicit schema, so we probe the
    physical one from a batch read (metadata-only). ``ts`` has shipped
    as both TIMESTAMP(NANOS) — readable only as long via ``nanosAsLong``,
    truncated to µs here — and plain TIMESTAMP(MICROS); both normalize
    to the same TimestampType column (same rule as ``sources/io.py``).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")  # file source wants a dir
        .parquet(sf_dir)
    )
    if isinstance(schema["ts"].dataType, T.LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def tumbling_counts_stream(events: DataFrame) -> DataFrame:
    """Streaming hourly tumbling-window counts/sums per event type; the
    watermark bounds state and admits late data up to ``_WATERMARK``."""
    return (
        events.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_stream(events: DataFrame) -> DataFrame:
    """Streaming 30-minute-gap session windows per user (same expression
    as batch)."""
    return (
        events.withWatermark("ts", _WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


def _keyed_fold(
    df: DataFrame,
    keys: list[str],
    order: list[str] | str | None,
    out_schema: str,
    state_schema: str,
    fold,
    mode: str = "append",
) -> DataFrame:
    """The engine's one ``applyInPandasWithState`` call. Every stateful
    stream in this module is a per-key fold whose state is carried
    between micro-batches — the reference's ``reduce_fn(k, values)``
    made incremental — and this driver owns the ``GroupState`` protocol
    they share. Per key and micro-batch it concatenates the key's Arrow
    batches, skips a call that brings no rows (a state-timeout call;
    none happen under ``NoTimeout``, but no fold depends on that), sorts
    the rows by ``order`` when one is given, and calls ``fold(key, state,
    rows)`` with the carried state tuple, or None for a key not seen
    before. ``fold`` returns ``(new state, output frame)``: a new state
    other than None is stored, and a non-empty output frame is emitted.
    ``mode`` is the query's output mode."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        parts = list(pdfs)
        if not parts:
            return
        rows = pd.concat(parts)
        if order is not None:
            rows = rows.sort_values(order)
        new, out = fold(key, state.get if state.exists else None, rows)
        if new is not None:
            state.update(new)
        if out is not None and len(out):
            yield out

    return df.groupBy(*keys).applyInPandasWithState(
        update, out_schema, state_schema, mode, GroupStateTimeout.NoTimeout
    )


def _ints(state: tuple | None) -> tuple[int, ...] | None:
    """A carried state of BIGINT fields as Python ints (None stays None)."""
    return None if state is None else tuple(int(v) for v in state)


def running_user_totals_stream(events: DataFrame) -> DataFrame:
    """Arbitrary stateful operator via ``applyInPandasWithState``: a
    running per-user event count + value total carried across
    micro-batches (the streaming analog of the reference's per-key
    reduce with explicit state instead of a full value list).

    Spark 4's successor API (``transformWithStateInPandas`` — typed
    value/list/map state, timers, TTL) is the preferred form on a full
    install; its Python driver worker needs ``google.protobuf``, which
    this container lacks (verified: the runner crashes on import), so
    the v1 API above is the shipped path — same state semantics for
    this operator, swap is mechanical."""
    import pandas as pd

    def step(key, state, rows):
        n, total = state or (0, 0.0)
        n += len(rows)
        total += float(rows["value"].sum())
        return (n, total), pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return _keyed_fold(
        events, ["user_id"], None,
        "user_id long, n_events long, total_value double",
        "n long, total double", step, "update",
    )


def dedup_stream(
    events: DataFrame, keys: list[str], watermark: str = _WATERMARK
) -> DataFrame:
    """Streaming deduplication: first occurrence per key wins; the
    watermark bounds the dedup state (keys older than the watermark are
    evicted — the unbounded-state streaming analog of batch
    ``dropDuplicates``, C1 at stream time)."""
    return events.withWatermark("ts", watermark).dropDuplicates(keys)


def dedup_within_watermark_stream(
    events: DataFrame, keys: list[str], watermark: str = _WATERMARK
) -> DataFrame:
    """Streaming dedup via ``dropDuplicatesWithinWatermark``: two
    records with equal ``keys`` are duplicates if they arrive within
    the watermark delay of each other — the contract for retried /
    at-least-once upstream producers whose duplicates cluster in time.

    vs `dedup_stream` (plain ``dropDuplicates`` + watermark): that one
    keys state eviction off each record's own event time and silently
    re-admits a key that recurs after eviction with a NEWER timestamp;
    this one guarantees suppression for any duplicate landing within
    the delay window regardless of its exact event time, which is the
    semantics ingestion retries actually need. State is bounded by the
    watermark either way (keys expire ``delay`` after first sight)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def stream_static_join(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: each micro-batch equi-joins the (broadcast-
    size) static dimension — the streaming analog of the B8 dimension
    join; no streaming state at all."""
    return events.join(F.broadcast(dim), on)


def stream_stream_interval_join(
    left: DataFrame, right: DataFrame, how: str = "inner"
) -> DataFrame:
    """Stream-stream interval join: each left event pairs with the same
    user's right events from the preceding hour (inclusive ends).
    Both sides carry watermarks so Spark can bound the join state — the
    buffered range per user is an hour plus the watermark, evicted as event
    time advances. This is the streaming form of a time-bounded
    fact-fact join (batch twin: plain join + interval predicate).

    ``how='left_outer'`` additionally emits each unmatched left event
    null-extended — but only once the watermark has passed its join
    window (the engine must be sure no matching right event can still
    arrive), so outer results trail the inner ones by the watermark
    delay. A terminating availableNow run therefore NEVER emits the
    outer verdicts for left rows inside the final watermark delay
    (measured in the round-12 soak: the last 2 h of left rows stayed
    buffered at termination); a bounded replay that needs the COMPLETE
    set must append a far-future sentinel event per side to advance
    the watermark past every real event (the soak's pattern) — on a
    true continuous stream the next arrivals play that role.

    Output: (user_id, l_ts, r_ts) plus the sides' id columns renamed
    ``l_event_id`` / ``r_event_id``."""
    l = (
        left.withWatermark("ts", _WATERMARK)
        .select("user_id", F.col("event_id").alias("l_event_id"), F.col("ts").alias("l_ts"))
    )
    r = (
        right.withWatermark("ts", _WATERMARK)
        .select(
            F.col("user_id").alias("r_key"),
            F.col("event_id").alias("r_event_id"),
            F.col("ts").alias("r_ts"),
        )
    )
    return l.join(
        r,
        (F.col("user_id") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 1 hour"))
        & (F.col("r_ts") <= F.col("l_ts")),
        how,
    ).select("user_id", "l_event_id", "l_ts", "r_event_id", "r_ts")


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "update") -> None:
    """Drive a streaming DataFrame to completion synchronously
    (availableNow trigger + memory sink); results land in table
    ``name``. Session-window aggregations require ``complete`` mode
    (sessions merge, so per-row updates are undefined)."""
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def incremental_dedup_sink(
    stream_df: DataFrame,
    key_cols: list[str],
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
):
    """Cross-run exact dedup at ingestion time — the ``foreachBatch``
    pattern: each micro-batch is deduped within itself, anti-joined
    against the durable key store (every key ever admitted), and only
    the survivors are appended to ``out_dir`` (+ their keys to
    ``state_dir``). Complements `dedup_stream`: the watermarked
    ``dropDuplicates`` bounds its state by TIME (keys older than the
    watermark can recur); this one persists state in storage, so a key
    is admitted once EVER — the contract training-data ingestion needs
    — and survives restarts via the checkpoint.

    At 100 TB the anti-join is a shuffle of batch keys vs the store
    (digest keys, 16-32 bytes/row); compact ``state_dir`` periodically.
    Delivery is at-least-once across the two appends (out before
    state): a crash between them can re-admit a key on replay, which
    the downstream exact-dedup batch op removes — documented rather
    than hidden. Returns the started StreamingQuery.
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates(key_cols)
        try:
            seen = spark.read.parquet(state_dir)
            batch = batch.join(seen, key_cols, "left_anti")
        except Exception:  # first batch: no state yet
            pass
        batch = batch.persist()
        batch.write.mode("append").parquet(out_dir)
        batch.select(*key_cols).write.mode("append").parquet(state_dir)
        batch.unpersist()

    return (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def transition_stream(events: DataFrame) -> DataFrame:
    """Streaming first-order transitions per user: emits one
    ``(user_id, event_type, next_type)`` row per consecutive event pair,
    INCLUDING pairs that straddle micro-batch boundaries — the state
    carries each user's last seen event across batches, which is
    exactly what a window ``lead()`` cannot do on a stream. The
    streaming twin of the batch `event_transition_matrix` (count the
    emitted pairs to reproduce it).

    Within a batch, a user's events are ordered by (ts, event_id) —
    correct when micro-batches arrive in event-time order per user
    (file/Kafka sources with time-ordered production); out-of-order
    arrival across batches needs the watermarked reorder-buffer
    pattern upstream."""
    import pandas as pd

    def step(key, state, rows):
        seq = rows["event_type"].tolist()
        if state is not None:
            seq = [state[0]] + seq
        return (seq[-1],), pd.DataFrame(
            {
                "user_id": [key[0]] * (len(seq) - 1),
                "event_type": seq[:-1],
                "next_type": seq[1:],
            }
        )

    return _keyed_fold(
        events, ["user_id"], ["ts", "event_id"],
        "user_id long, event_type string, next_type string",
        "last_type string", step,
    )


def ewma_stream(events: DataFrame) -> DataFrame:
    """Streaming exact fixed-point EWMA (α = 1/2) of ``x`` per user —
    the stateful twin of `operators/windows.py:ewma_fixed`: the carried
    state is the previous smoothed value, so the recursion
    ``s_i = (x_i + s_{i-1}) div 2`` continues seamlessly across
    micro-batch boundaries (a RANGE frame cannot; each output depends
    on the previous OUTPUT). Same in-order-arrival contract as
    `transition_stream`; emits one (user_id, ts, x, ewma_fx) row per
    event. Input must carry integral ``x`` (BIGINT-safe). Stream and
    batch twin fold the one `operators/windows.py:ewma_fold`, negative
    values included (truncation toward zero)."""
    import pandas as pd

    def step(key, state, rows):
        s, out = ewma_fold(None if state is None else int(state[0]), rows["x"])
        return (s,), pd.DataFrame(
            {
                "user_id": [key[0]] * len(rows),
                "ts": rows["ts"].to_numpy(),
                "x": rows["x"].to_numpy(),
                "ewma_fx": out,
            }
        )

    return _keyed_fold(
        events, ["user_id"], ["ts", "event_id"],
        "user_id long, ts timestamp, x long, ewma_fx long", "s long", step,
    )


def anomaly_stream(events: DataFrame, med: int, mad: int) -> DataFrame:
    """Streaming robust anomaly detection — the real-time twin of the
    batch `events_anomaly_flags`: per user, each event's residual
    against the PREVIOUS smoothed value (the carried EWMA state, so
    one-step-ahead prediction errors survive micro-batch boundaries),
    flagged when ``|r − med| > 5·mad``. The (med, mad) thresholds are
    the batch job's global residual statistics passed in as scalars —
    the standard deployment split: thresholds retrain offline on
    history, the stream scores against them online (a self-updating
    threshold would let an anomaly burst raise its own bar). First
    event per user has no prediction and is never flagged. Emits only
    the flagged rows: (user_id, ts, x, resid)."""
    import pandas as pd

    def step(key, state, rows):
        s0 = None if state is None else int(state[0])
        xs = [int(x) for x in rows["x"]]
        s, smoothed = ewma_fold(s0, xs)
        flagged = [
            (key[0], ts, x, x - p)
            for ts, x, p in zip(rows["ts"], xs, [s0, *smoothed[:-1]])
            if p is not None and abs(x - p - med) > _ANOMALY_K * mad
        ]
        return (s,), pd.DataFrame(flagged, columns=["user_id", "ts", "x", "resid"])

    return _keyed_fold(
        events, ["user_id"], ["ts", "event_id"],
        "user_id long, ts timestamp, x long, resid long", "s long", step,
    )


def crawl_dedup_stream(
    spark: SparkSession,
    crawl_stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_path: str,
    fault_injector=None,
):
    """GROWING-corpus near-dup dedup as a stream — the streaming twin
    of `dedup_incremental_crawl`: each micro-batch of crawled docs is
    (1) probed against the persisted signature index
    (`minhash_probe_pairs` — the index's existing files are read, never
    rewritten) and (2) signed and APPENDED to the index, so a later
    batch dedups against everything before it, including earlier
    batches of this same stream. This is the shape of a continuously
    ingesting corpus: the index is the only state, it lives in parquet
    (not stream state), and it grows by exactly one signature row per
    new doc.

    Exactly-once: both writes are BATCH-ID-SCOPED directory overwrites
    (``<path>/batch-<id>/``) — a micro-batch retried after a crash
    anywhere in (1)-(2) rewrites its own two directories and nothing
    else, so replays are idempotent (the standard foreachBatch
    hardening; Structured Streaming guarantees batch ids are stable
    across restarts from the same checkpoint). Readers consume both
    trees with ``recursiveFileLookup`` (`read_signature_tree`), which
    also lets the original flat corpus index coexist with the batch
    subdirectories. The test drives availableNow to completion, proves
    the growing-index semantics (a pair is found whose older side
    entered the index only via an earlier micro-batch), and replays a
    batch to prove idempotence.

    Returns the started StreamingQuery (availableNow trigger).
    """

    fence_token = _fence_register(checkpoint_path)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _crawl_dedup_batch(
            spark, batch_df, batch_id, index_path, pairs_path,
            fault_injector=fault_injector, fence_token=fence_token,
        )

    return (
        crawl_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_signature_tree(spark: SparkSession, path: str) -> DataFrame:
    """Read a signature index regardless of layout — flat files from a
    one-shot `minhash_index_build` write, batch-scoped ``batch-<id>/``
    subdirectories from `crawl_dedup_stream`, or both mixed —
    via recursive file listing (partition discovery would reject the
    mixed tree)."""
    return spark.read.option("recursiveFileLookup", "true").parquet(path)


def _crawl_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_path: str,
    fault_injector=None,
    fence_token: tuple[str, int] | None = None,
) -> None:
    """One micro-batch of `crawl_dedup_stream`, factored out so the
    idempotence property (same batch_id replayed ⇒ identical final
    state) is directly unit-testable. The probe deliberately reads the
    index EXCLUDING this batch's own subdirectory, so a retry that
    already appended its signatures does not suddenly self-join the
    batch (replay ≡ first play, byte-for-byte).

    ``fault_injector(point, batch_id)`` is test instrumentation for
    the kill-placement matrices (`scripts/stream_faults.py crawl` and
    `ann`): called at the named write boundaries ('after_pairs',
    'after_sig') so a crash
    can be planted DETERMINISTICALLY between any two effects instead
    of hoping a timed stop lands there. Production callers leave it
    None."""
    import glob as _glob
    import os as _os

    from mapreduce_project_spark.operators.dedup import (
        minhash_index_build,
        minhash_probe_pairs,
    )

    own = _os.path.join(index_path, f"batch-{batch_id}")
    others = [
        p
        for p in _glob.glob(_os.path.join(index_path, "*"))
        if _os.path.basename(p) != f"batch-{batch_id}"
        and (p.endswith(".parquet") or _os.path.isdir(p))
        and not _os.path.basename(p).startswith("_")
    ]
    if not others:
        raise ValueError(
            f"signature index at {index_path!r} is empty (beyond this batch's "
            "own subdirectory) — seed it with minhash_index_build output "
            "before starting the crawl stream"
        )
    index = spark.read.option("recursiveFileLookup", "true").parquet(*others)
    # sign the batch ONCE: the probe and the index append read the same
    # cached signature table, and it is unpersisted when the batch ends
    # (a long-running stream must not accumulate one pinned cache per
    # micro-batch for the life of the app)
    sig = minhash_index_build(batch_df, "doc_id", "text").cache()
    try:
        pairs = minhash_probe_pairs(index, None, "doc_id", "text", new_sigs=sig)
        _fenced_write(
            fence_token,
            f"crawl_dedup pairs batch-{batch_id}",
            lambda: pairs.write.mode("overwrite").parquet(
                _os.path.join(pairs_path, f"batch-{batch_id}")
            ),
        )
        if fault_injector is not None:
            fault_injector("after_pairs", batch_id)
        _fenced_write(
            fence_token,
            f"crawl_dedup signatures batch-{batch_id}",
            lambda: sig.write.mode("overwrite").parquet(own),
        )
        if fault_injector is not None:
            fault_injector("after_sig", batch_id)
    finally:
        sig.unpersist()


def ann_ingest_stream(
    spark: SparkSession,
    doc_stream: DataFrame,
    dedup_index_path: str,
    pairs_path: str,
    ivf_index_path: str,
    checkpoint_path: str,
    cents: DataFrame,
    dim: int = 32,
    fault_injector=None,
):
    """The composed streaming ANN ingestion pipeline (round-6 VERDICT
    task 7) — what a continuously crawled corpus actually runs: each
    micro-batch is (1) near-dup DEDUPED against everything ingested
    before it (`_crawl_dedup_batch` — probe the persisted MinHash
    signature index, append this batch's signatures), (2) the
    SURVIVORS (docs that did not match any older document) are
    EMBEDDED with the vocabulary-free hashing featurizer
    (`operators/text.py:hashed_doc_vectors`, densified to a
    ``dim``-vector), and (3) LANDED as cell-assigned vectors in the
    index's own ``batch-<id>/`` subdirectory.

    Exactly-once across kill/restart at ANY placement: all THREE
    effects are batch-id-scoped directory overwrites — the retry of a
    crashed batch rewrites exactly its own three directories and
    touches nothing else, so replay is a content-identical no-op by
    construction. Round-12 redesign (VERDICT r11 task 2): the
    previous sink MERGED into one shared cell-partitioned table
    (`ivf_index_upsert`) from inside the stream, whose multi-partition
    dynamic overwrite is not crash-atomic on a plain filesystem — a
    kill landing mid-commit could leave a cell with both old and new
    files (the soak's one observed 2325-vs-2324 row excess under
    load). No shared-table mutation remains in the stream path;
    readers resolve the batch tree with `read_ivf_tree` (last-writer-
    wins per id), and the serving-side cell-partitioned layout is
    produced by the OFFLINE `ivf_tree_compact` maintenance job
    (derived state, rerunnable), where a driver-retried batch job is
    the right place for `ivf_index_upsert`'s MERGE. Proven by the
    deterministic kill-placement matrix (`scripts/stream_faults.py ann`:
    a planted crash at EVERY batch index × every write boundary,
    restart, state == sequential batch reference).

    ``fault_injector(point, batch_id)``: test instrumentation for
    that matrix ('after_pairs', 'after_sig', 'after_ivf'); production
    callers leave it None.

    Returns the started StreamingQuery (availableNow trigger)."""

    fence_token = _fence_register(checkpoint_path)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _ann_ingest_batch(
            spark, batch_df, batch_id, dedup_index_path, pairs_path,
            ivf_index_path, cents, dim, fault_injector=fault_injector,
            fence_token=fence_token,
        )

    return (
        doc_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def _ann_ingest_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    dedup_index_path: str,
    pairs_path: str,
    ivf_index_path: str,
    cents: DataFrame,
    dim: int = 32,
    fault_injector=None,
    fence_token: tuple[str, int] | None = None,
) -> None:
    """One micro-batch of `ann_ingest_stream`, factored out (same
    pattern as `_crawl_dedup_batch`) so batch-replay idempotence is
    directly unit-testable."""
    import os as _os

    from mapreduce_project_spark.operators.similarity import ivf_assign_cells
    from mapreduce_project_spark.operators.text import hashed_doc_vectors

    batch_df = batch_df.cache()  # consumed by the dedup probe AND the embed
    try:
        _crawl_dedup_batch(
            spark, batch_df, batch_id, dedup_index_path, pairs_path,
            fault_injector=fault_injector, fence_token=fence_token,
        )
        pairs = spark.read.parquet(_os.path.join(pairs_path, f"batch-{batch_id}"))
        dup_ids = pairs.select(F.col("new_id").alias("doc_id")).distinct()
        survivors = batch_df.join(dup_ids, "doc_id", "left_anti")
        sparse = hashed_doc_vectors(survivors, "doc_id", "text", dim)
        dense = (
            sparse.groupBy("doc_id")
            .agg(
                F.map_from_arrays(
                    F.collect_list("dim"), F.collect_list("val")
                ).alias("m")
            )
            .select(
                "doc_id",
                F.expr(
                    f"transform(sequence(0, {dim - 1}), "
                    "d -> coalesce(element_at(m, cast(d as bigint)), cast(0.0 as double)))"
                ).alias("embedding"),
            )
        )
        # batch-id-scoped landing (round-12, VERDICT r11 task 2): cell
        # assignment stays the zero-shuffle broadcast projection, but
        # the write is an overwrite of THIS batch's own subdirectory —
        # never an in-place merge of shared state, so a crashed
        # batch's retry is a content-identical no-op at any placement.
        assigned = ivf_assign_cells(dense, "doc_id", "embedding", cents)
        landed = assigned.withColumn(
            "src_batch", F.lit(batch_id).cast("bigint")
        )
        _fenced_write(
            fence_token,
            f"ann_ingest ivf batch-{batch_id}",
            lambda: landed.write.mode("overwrite").parquet(
                _os.path.join(ivf_index_path, f"batch-{batch_id}")
            ),
        )
        if fault_injector is not None:
            fault_injector("after_ivf", batch_id)
    finally:
        batch_df.unpersist()


def read_ivf_tree(spark: SparkSession, path: str) -> DataFrame:
    """Resolve an `ann_ingest_stream` IVF batch tree to current state:
    recursive read of the ``batch-<id>/`` subdirectories, last-writer-
    wins per id (max ``src_batch`` — a re-ingested id's newest vector
    shadows older ones, the read-time equivalent of the MERGE the
    stream no longer performs in place). Output contract matches the
    old merged table: (id, v, cell)."""
    from pyspark.sql import Window

    tree = spark.read.option("recursiveFileLookup", "true").parquet(path)
    # ADVICE r12: duplicate ids WITHIN one micro-batch tie on src_batch and
    # row_number would pick a partition-order-dependent row. Break the tie
    # deterministically by content (vector hash, then cell); rows still tied
    # after that are byte-identical, where the pick is immaterial.
    w = Window.partitionBy("id").orderBy(
        F.col("src_batch").desc(),
        F.xxhash64("v").desc(),
        F.col("cell").desc(),
    )
    return (
        tree.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("id", "v", "cell")
    )


def erase_ids_from_tree(
    spark: SparkSession,
    tree_path: str,
    ids: DataFrame,
) -> int:
    """GDPR erasure applied to a STREAMING batch tree (D306) — the
    write-side completion of `gdpr_delete_audit` for the artifacts the
    batch cascade cannot reach: the `batch-<id>/` directory trees the
    streaming sinks maintain (`crawl_dedup_stream`'s signature index,
    `ann_ingest_stream`'s IVF tree). A data subject's rows must leave
    DERIVED state too, and a batch tree cannot anti-join in place —
    so each TOUCHED batch directory is rewritten without the subject's
    rows (same batch-scoped overwrite the sinks themselves use: a
    crashed/retried erasure rewrites the same directories to the same
    bytes — idempotent), and untouched directories are never opened
    for write. Returns the number of rows erased.

    Scale: the touched-directory set comes from ONE pruned scan of the
    tree against the broadcast subject ids (an erasure request is
    thousands of ids, never corpus-scale); rewrite cost is
    O(rows in touched batches), not O(tree). Run it OUTSIDE an active
    stream (maintenance window or the offline compaction slot —
    erasure is a batch job by nature); a concurrent stream appending
    NEW batches is safe (new dirs are not in the touched set), but a
    concurrent writer to the SAME batch dir is not, exactly like
    `ivf_tree_compact`."""
    import os as _os

    id_df = ids.select(F.col(ids.columns[0]).alias("_erase_id")).distinct()
    tree = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(tree_path)
        .withColumn("_f", F.input_file_name())
    )
    hit_files = (
        tree.join(
            F.broadcast(id_df), F.col("id") == F.col("_erase_id"), "left_semi"
        )
        .select("_f")
        .distinct()
        .collect()
    )  # bounded: one file path per touched batch file — request-scale
    touched_dirs = sorted(
        {
            _os.path.dirname(r["_f"].removeprefix("file:"))
            for r in hit_files
        }
    )
    erased = 0
    for d in touched_dirs:
        cur = spark.read.parquet(d)
        keep = cur.join(
            F.broadcast(id_df), F.col("id") == F.col("_erase_id"), "left_anti"
        )
        n_before = cur.count()
        # materialize the survivors BEFORE overwriting the directory
        # they are read from (lineage would otherwise re-read replaced
        # files mid-write)
        keep = keep.cache()
        n_after = keep.count()
        keep.write.mode("overwrite").parquet(d)
        keep.unpersist()
        erased += n_before - n_after
    return erased


def ivf_tree_compact(spark: SparkSession, tree_path: str, serving_path: str) -> int:
    """OFFLINE maintenance: fold the stream's batch tree into the
    cell-partitioned serving layout (`partitionBy(cell)` — the layout
    `topk_ivf`'s nprobe pruning reads). Runs as a periodic batch job
    OUTSIDE the exactly-once surface: the output is derived state,
    so a crashed compaction is simply rerun (and `ivf_index_upsert`
    remains the driver-retried batch path for merging INTO a serving
    table). Returns the number of vectors landed."""
    cur = read_ivf_tree(spark, tree_path).cache()
    try:
        n = cur.count()
        cur.write.mode("overwrite").partitionBy("cell").parquet(serving_path)
    finally:
        cur.unpersist()
    return n


def conformal_stream(
    events: DataFrame, params: dict[str, tuple[int, int]]
) -> DataFrame:
    """Streaming CONFORMAL-COVERAGE monitor (D297) — the stateful twin
    of the batch split-conformal intervals (`conformal_value_intervals`,
    D293): the per-type point prediction and conformal radius are
    FROZEN inputs (``params``: event_type → (pred_cents, qhat_cents) —
    they ship with the model artifact exactly like psi_stream's
    reference bins and burst_stream's fitted rates), while the stream
    maintains the running held-out coverage those intervals actually
    achieve on arriving traffic. This is the live guarantee-validity
    dashboard a serving layer watches: split-conformal promises
    coverage ≥ 1−α on exchangeable data, so a sustained dip below the
    band means the exchangeability assumption broke (drift) and the
    model needs re-fitting — the streaming completion of the
    model-eval family.

    Input rows: (``event_type`` string, ``cents`` BIGINT). State: two
    integers (n_seen, n_covered). Emission per type per batch: the
    cumulative counts, coverage in truncating ppm, and an ``alarm``
    flag — 1 when n_seen ≥ 100 (binomial burn-in) and coverage_ppm <
    850000 (the 0.9-target band minus ~3σ at the burn-in size; both
    constants pinned). A reading after N rows is bit-identical
    whether the rows arrived in one batch or twenty (the reading
    depends only on cumulative integer counts — kill/restart safe)."""
    import pandas as pd

    def step(key, state, rows):
        pq = params.get(key[0])
        if pq is None:  # type absent from the frozen artifact: skip
            return None, None
        pred, qhat = pq
        n, cov = _ints(state) or (0, 0)
        for c in rows["cents"]:
            n += 1
            if abs(int(c) - pred) <= qhat:
                cov += 1
        ppm = cov * 1000000 // n
        return (n, cov), pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_seen": [n],
                "n_covered": [cov],
                "coverage_ppm": [ppm],
                "alarm": [1 if n >= 100 and ppm < 850000 else 0],
            }
        )

    return _keyed_fold(
        events, ["event_type"], None,
        "event_type string, n_seen long, n_covered long,"
        " coverage_ppm long, alarm long",
        "n long, cov long", step,
    )


def heavy_hitters_stream(events: DataFrame, budget: int = 64) -> DataFrame:
    """Streaming heavy hitters — a Space-Saving summary (Metwally et
    al.) of ``user_id`` frequencies per ``event_type``, maintained as
    carried state across micro-batches: the real-time twin of the
    batch ``approx_top_k`` family (D41), and the classic bounded-state
    answer to "top users right now" when exact per-key counts would
    grow state without bound.

    Per key the state is at most ``budget`` (item, count, err) rows;
    an unmonitored item arriving at a full table evicts the current
    minimum (deterministic tie-break: smallest item id) and inherits
    its count as both estimate and error bound. Space-Saving's
    guarantees hold under any arrival order: count_est ≥ true ≥
    count_est − err for every monitored item, and any item with true
    frequency > n/budget is monitored. When ``budget`` ≥ distinct
    items the summary is EXACT (err = 0, counts = true counts) — the
    stream/batch-parity case the tests pin; the small-budget
    guarantees are property-tested against the exact batch counts.

    Each invocation emits its key's full current summary tagged with
    the running item total ``n_seen``; downstream takes the max-n_seen
    generation per key for "the summary as of now" (the memory-sink
    append contract used by the other stateful twins)."""
    import pandas as pd

    def step(key, state, rows):
        if state is not None:
            items, counts, errs, n = state
            tbl = {int(i): (int(c), int(e)) for i, c, e in zip(items, counts, errs)}
            n = int(n)
        else:
            tbl, n = {}, 0
        for it in rows["user_id"]:
            it = int(it)
            n += 1
            if it in tbl:
                c, e = tbl[it]
                tbl[it] = (c + 1, e)
            elif len(tbl) < budget:
                tbl[it] = (1, 0)
            else:
                victim = min(tbl, key=lambda k: (tbl[k][0], k))
                floor_cnt = tbl[victim][0]
                del tbl[victim]
                tbl[it] = (floor_cnt + 1, floor_cnt)
        ks = sorted(tbl)
        counts = [tbl[k][0] for k in ks]
        errs = [tbl[k][1] for k in ks]
        return (ks, counts, errs, n), pd.DataFrame(
            {
                "event_type": [key[0]] * len(ks),
                "item": ks,
                "count_est": counts,
                "err": errs,
                "n_seen": [n] * len(ks),
            }
        )

    return _keyed_fold(
        events, ["event_type"], ["ts", "event_id"],
        "event_type string, item long, count_est long, err long, n_seen long",
        "items array<bigint>, counts array<bigint>, errs array<bigint>, n long",
        step,
    )


def twap_stream(events: DataFrame) -> DataFrame:
    """Streaming time-weighted average — the stateful twin of the
    batch `events_twap_daily` integral: per (user_id, day) the carried
    state is (first_us, last_us, last_cents, wsum, n), so the
    left-constant-interpolation sum ``Σ cents_i·(t_{i+1}−t_i)``
    continues seamlessly across micro-batch boundaries (the held value
    from the previous batch's LAST sample is charged for the gap up to
    the next batch's first — exactly what a frame-based window cannot
    carry). Same in-order-arrival contract as `ewma_stream`/
    `transition_stream` (per-key event-time order across batches; the
    standard LOCF-stream caveat). Emits one generation-tagged summary
    row per key per batch — "the TWAP as of now" = the max-``n_seen``
    generation, the `heavy_hitters_stream` reporting convention — so
    the final generation equals the batch query exactly (pinned in
    tests/test_streaming.py). All state is integer; the emitted twap
    is the same one pinned division as the batch twin."""
    import pandas as pd

    def step(key, state, rows):
        if state is not None:
            first_us, last_us, last_cents, wsum, n = _ints(state)
        else:
            first_us = last_us = last_cents = wsum = n = None
        for us, cents in zip(rows["us"], rows["cents"]):
            us, cents = int(us), int(cents)
            if n is None:
                first_us, last_us, last_cents, wsum, n = us, us, cents, 0, 1
            else:
                wsum += last_cents * (us - last_us)
                last_us, last_cents, n = us, cents, n + 1
        span = last_us - first_us
        twap = (last_cents / 100.0) if span == 0 else (wsum / span / 100.0)
        return (first_us, last_us, last_cents, wsum, n), pd.DataFrame(
            {
                "user_id": [key[0]],
                "day": [key[1]],
                "n_seen": [n],
                "span_us": [span],
                "twap": [twap],
            }
        )

    return _keyed_fold(
        events, ["user_id", "day"], "us",
        "user_id long, day string, n_seen long, span_us long, twap double",
        "first_us long, last_us long, last_cents long, wsum long, n long",
        step,
    )


def cusum_stream(daily: DataFrame, mean_fp: int, slack_fp: int) -> DataFrame:
    """Streaming CUSUM change-point detection — the stateful twin of
    the batch `events_cusum_changepoints` (D195): the carried state is
    the pair of one-sided cumulative sums (S⁺, S⁻), so Page's
    previous-OUTPUT recursion

        S⁺_i = max(0, S⁺_{i-1} + n_i·1000 − mean_fp − slack_fp)
        S⁻_i = max(0, S⁻_{i-1} + mean_fp − n_i·1000 − slack_fp)

    continues seamlessly across micro-batch boundaries (no window frame
    expresses it; the D112/D134 recursion class). Deployment split as
    in `anomaly_stream`: the (mean_fp, slack_fp) milli-unit thresholds
    are the batch job's global statistics passed in as scalars —
    retrained offline, scored online (a self-updating mean would let a
    drift raise its own baseline). Input: one row per COMPLETED day
    (``series`` string key, ``ed`` epoch-day BIGINT, ``n`` count) —
    the upstream day-closing aggregation is the tumbling-window count
    stream; per-series keying generalizes the batch query's single
    global series for free. Same in-order-arrival contract as
    `ewma_stream` (days arrive in ed order across batches). Emits one
    (series, ed, n, s_up, s_dn, changepoint) row per day; stream and
    batch fold the one `operators/windows.py:cusum_fold` over BIGINT
    state, so stream ≡ batch bit-exactly (pinned in
    tests/test_streaming.py and soaked with kill/restart in
    `scripts/stream_faults.py soak`)."""
    import pandas as pd

    def step(key, state, rows):
        st, out = cusum_fold(_ints(state), rows["n"], mean_fp, slack_fp)
        return st, pd.DataFrame(
            {
                "series": [key[0]] * len(rows),
                "ed": rows["ed"].to_numpy(),
                "n": rows["n"].to_numpy(),
                "s_up": [u for u, _ in out],
                "s_dn": [d for _, d in out],
                "changepoint": [
                    1 if (u > mean_fp or d > mean_fp) else 0 for u, d in out
                ],
            }
        )

    return _keyed_fold(
        daily, ["series"], "ed",
        "series string, ed long, n long, s_up long, s_dn long, changepoint long",
        "s_up long, s_dn long", step,
    )


def holt_stream(daily: DataFrame) -> DataFrame:
    """Streaming Holt linear-trend smoothing — the stateful twin of the
    batch `events_holt_forecast` (D232): the carried state is the
    (level, trend) pair, so the double recursion

        l_i = (y_i + 3·(l_{i-1} + b_{i-1})) fdiv 4
        b_i = (l_i − l_{i-1} + 3·b_{i-1}) fdiv 4

    (fdiv = FLOOR division, the batch twin's floor(x/4.0) — Python's
    ``//``) continues seamlessly across micro-batch boundaries; no
    window frame expresses it (the D112/D195 previous-OUTPUT recursion
    class). Input: one row per COMPLETED day per series
    (``series`` string, ``d`` epoch-day BIGINT, ``y`` BIGINT cents) —
    the upstream day-closing tumbling aggregation owns the zero-filled
    grid, exactly as the batch query builds it. Same in-order-arrival
    contract as `ewma_stream`/`cusum_stream`. Emits one
    (series, d, y, l, b, resid) row per day; stream and batch fold the
    one `operators/windows.py:holt_fold` over BIGINT state, so
    stream ≡ batch bit-exactly."""
    import pandas as pd

    def step(key, state, rows):
        st, out = holt_fold(_ints(state), rows["y"])
        return st, pd.DataFrame(
            [(key[0], int(d), int(y), *o) for d, y, o in zip(rows["d"], rows["y"], out)],
            columns=["series", "d", "y", "l", "b", "resid"],
        )

    return _keyed_fold(
        daily, ["series"], "d",
        "series string, d long, y long, l long, b long, resid long",
        "l long, b long, started long", step,
    )


def holt_winters_stream(daily: DataFrame) -> DataFrame:
    """Streaming Holt-Winters additive seasonal smoothing — the
    stateful twin of the batch `events_holt_winters` (D250): the
    carried state is (level, trend, the 7-day warm-up buffer, the
    rolling last-7 seasonal list), so BOTH recursions — the
    previous-output dependence AND the output-7-steps-back seasonal
    dependence — continue seamlessly across micro-batch boundaries
    (the doubly-stateful extension of `holt_stream`'s (l, b) pair; a
    kill/restart must reconstruct the seasonal ring buffer exactly or
    every subsequent seasonal is wrong, which is what the
    checkpoint-restart test pins).

    Warm-up contract mirrors the batch init: the first 7 completed
    days per series are BUFFERED (no emission), then l0 = truncating
    mean of the buffer, b0 = 0, seasonals = buffer deviations, and
    emission starts on day 8 — so stream output ≡ batch rows rn >= 8
    bit-exactly. Input: one row per COMPLETED day per series
    (``series`` string, ``d`` epoch-day BIGINT, ``y`` BIGINT cents)
    from the upstream day-closing tumbling aggregation; same
    in-order-arrival contract as `ewma_stream`/`holt_stream`. Stream
    and batch fold the one `operators/windows.py:holt_winters_fold`
    over BIGINT state (floor // division, the batch SQL's
    floor(x/4.0))."""
    import pandas as pd

    def step(key, state, rows):
        if state is not None:
            l, b, buf, slist = state
            state = (
                int(l), int(b),
                [int(v) for v in (buf or [])], [int(v) for v in (slist or [])],
            )
        st, out = holt_winters_fold(state, rows["y"])
        return st, pd.DataFrame(
            [
                (key[0], int(d), int(y), *o)
                for d, y, o in zip(rows["d"], rows["y"], out)
                if o is not None
            ],
            columns=["series", "d", "y", "l", "b", "s", "resid", "fc"],
        )

    return _keyed_fold(
        daily, ["series"], "d",
        "series string, d long, y long, l long, b long, s long,"
        " resid long, fc long",
        "l long, b long, buf array<bigint>, slist array<bigint>", step,
    )


def psi_stream(
    current: DataFrame,
    edges: list[int],
    ref_counts: list[int],
) -> DataFrame:
    """Streaming Population Stability Index monitor — the stateful twin
    of the batch `psi_value_drift` (D244): the REFERENCE decile edges
    and per-bin counts are FROZEN inputs (they are part of the model
    artifact, exactly as PSI is deployed — the batch query's
    rank-extracted edges ship with the scoring model), while the
    CURRENT-window per-bin counts accumulate in state across
    micro-batches; each batch emits the updated drift reading per
    series. This is the live "feature drift" dashboard a scoring
    service watches between re-trains.

    Input: rows of (``series`` string, ``cents`` BIGINT). State: the
    10 cumulative bin counts. Emission per series per batch:
    cumulative n, per-bin CSV, and psi_micro computed with the batch
    twin's EXACT arithmetic — +1/+10 Laplace smoothing, truncating
    ppm shares, micro-ln of integer counts (round(ln(int)*1e6)), and
    the sign-safe truncating micro product — so a PSI reading after N
    rows is bit-identical whether the rows arrived in one batch or
    twenty (kill/restart safe: the reading depends only on cumulative
    counts)."""
    import math

    import pandas as pd

    if len(edges) != 9 or len(ref_counts) != 10:
        raise ValueError("psi_stream needs 9 edges and 10 reference bins")
    na10 = sum(ref_counts) + 10

    def lnu(x: int) -> int:
        return round(math.log(x) * 1000000)

    def step(key, state, rows):
        counts = [int(v) for v in state[0]] if state is not None else [0] * 10
        for c in rows["cents"]:
            c = int(c)
            b = sum(1 for e in edges if e < c)  # 0-based bin
            counts[b] += 1
        nb10 = sum(counts) + 10
        psi = 0
        for ca, cb in zip(ref_counts, counts):
            pa = (ca + 1) * 1000000 // na10
            pb = (cb + 1) * 1000000 // nb10
            term = lnu(ca + 1) - lnu(na10) - lnu(cb + 1) + lnu(nb10)
            raw = (pa - pb) * term
            psi += raw // 1000000 if raw >= 0 else -((-raw) // 1000000)
        return (counts,), pd.DataFrame(
            {
                "series": [key[0]],
                "n_cur": [sum(counts)],
                "bins": [",".join(str(v) for v in counts)],
                "psi_micro": [psi],
            }
        )

    return _keyed_fold(
        current, ["series"], None,
        "series string, n_cur long, bins string, psi_micro long",
        "counts array<bigint>", step,
    )


def watermark_stream(events: DataFrame, cap_s: int = 86400) -> DataFrame:
    """Streaming watermark-sizing monitor (D272) — the stateful twin of
    the batch `events_watermark_audit` (D263), deployed the way the
    number is actually needed: LIVE, on the stream whose
    ``withWatermark`` delay it is sizing, instead of from a one-shot
    batch audit after the fact. Arrival order is the stream itself
    (the batch twin's event_id surrogate made explicit): each
    micro-batch is processed in event_id order, the global
    running-max event time rides in state, every event's lateness =
    running-max − its event time in whole truncating seconds, and a
    per-(type, lateness-second) sparse histogram accumulates so each
    batch emits the updated per-type reading — on-time share and
    EXACT 100x-scaled p50/p95/p99 lateness (the quantile_cont
    interpolation done in pure integers: position (n−1)·p in
    hundredths, linear between the two straddled order statistics).

    Prefix-exactness (the twins' contract): the reading after N rows
    is bit-identical whether they arrived in one batch or twenty —
    state is (running max, sparse histograms, true maxes), all pure
    functions of the processed prefix, so kill/restart from a
    checkpoint cannot corrupt the dashboard. Lateness seconds clamp
    into a ``cap_s`` overflow bucket (bounded state by construction —
    the histogram holds ≤ cap_s+1 distinct keys per type; percentile
    reads clamp there while ``max_late_s`` keeps the true max).
    Input: rows of (``event_id``, ``event_type``, ``us``)."""
    import pandas as pd

    def pct100(items: list[tuple[int, int]], n: int, p: int) -> int:
        # exact 100x quantile_cont over a sorted sparse histogram
        idx100 = (n - 1) * p
        lo, frac = divmod(idx100, 100)
        seen = 0
        v_lo = v_hi = items[-1][0]
        for val, cnt in items:
            if seen + cnt > lo:
                v_lo = val
                v_hi = val if seen + cnt > lo + 1 else None
                break
            seen += cnt
        if v_hi is None:
            seen2 = 0
            for val, cnt in items:
                if seen2 + cnt > lo + 1:
                    v_hi = val
                    break
                seen2 += cnt
            else:
                v_hi = v_lo
        if frac == 0:
            return v_lo * 100
        return v_lo * 100 + (v_hi - v_lo) * frac

    def step(key, state, rows):
        if state is not None:
            rm, types, hists, maxs = state
            rm = int(rm)
            types = list(types)
            hists = {
                t: {
                    int(kv.split(":")[0]): int(kv.split(":")[1])
                    for kv in h.split(",")
                    if kv
                }
                for t, h in zip(types, hists)
            }
            maxs = {t: int(m) for t, m in zip(types, maxs)}
        else:
            rm, hists, maxs = -(1 << 62), {}, {}
        for et, us in zip(rows["event_type"], rows["us"]):
            us = int(us)
            rm = max(rm, us)
            late = (rm - us) // 1000000
            h = hists.setdefault(et, {})
            b = min(late, cap_s)
            h[b] = h.get(b, 0) + 1
            maxs[et] = max(maxs.get(et, 0), late)
        types = sorted(hists)
        new = (
            rm,
            types,
            [",".join(f"{k}:{v}" for k, v in sorted(hists[t].items())) for t in types],
            [maxs[t] for t in types],
        )
        out = []
        for t in types:
            items = sorted(hists[t].items())
            n = sum(c for _, c in items)
            on_time = hists[t].get(0, 0)
            out.append(
                (
                    t, n, on_time * 1000000 // n,
                    pct100(items, n, 50), pct100(items, n, 95),
                    pct100(items, n, 99), maxs[t],
                )
            )
        return new, pd.DataFrame(
            out,
            columns=[
                "event_type", "n_events", "on_time_ppm",
                "p50_100x", "p95_100x", "p99_100x", "max_late_s",
            ],
        )

    return _keyed_fold(
        events.withColumn("_g", F.lit(0)), ["_g"], "event_id",
        "event_type string, n_events long, on_time_ppm long, "
        "p50_100x long, p95_100x long, p99_100x long, max_late_s long",
        "rm long, types array<string>, hists array<string>, maxs array<bigint>",
        step,
    )


def burst_stream(
    daily: DataFrame, l0_micro: int, tr_micro: int
) -> DataFrame:
    """Streaming burst alarm (D282) — the CAUSAL twin of the batch
    Viterbi burst detector (`events_burst_detection`, D278): the batch
    query smooths (each day's state uses the WHOLE series via the
    backward pass — the right answer for historical episode
    enumeration); a live monitor cannot see the future, so this twin
    runs the same two-state recursion as a FORWARD FILTER and emits,
    per day, the normalized path costs and the causal in-burst flag
    (d1 < d0; ties prefer base — the same pinned order as the batch).
    The base rate and entry penalty are FROZEN inputs (the model
    artifact, fitted by the batch query — the psi_stream/D261
    deployment discipline), so a reading after N days is a pure
    function of the processed prefix: bit-identical whether the days
    arrived in one batch or twenty, and kill/restart-safe.

    Input: rows of (``series``, ``d``, ``y``) daily counts. State:
    the two normalized BIGINT path costs. Arithmetic is the batch
    twin's exactly: cost0 = l0 − y·c0, cost1 = 3l0 − y·c1 in
    micro-nats with c = µln(λ_micro) − ln(1e6)·1e6 baked from the
    frozen λ, per-step min-normalization, integer end-to-end."""
    import math

    import pandas as pd

    c0 = round(math.log(l0_micro) * 1000000) - 13815511
    c1 = round(math.log(3 * l0_micro) * 1000000) - 13815511

    def step(key, state, rows):
        d0, d1, started = _ints(state) or (0, 0, 0)
        out = []
        for d, y in zip(rows["d"], rows["y"]):
            d, y = int(d), int(y)
            f0 = l0_micro - y * c0
            f1 = 3 * l0_micro - y * c1
            if not started:
                f1 += tr_micro  # entering burst from the base start
                started = 1
            else:
                f0 += min(d0, d1)
                f1 += min(d0 + tr_micro, d1)
            m = min(f0, f1)
            d0, d1 = f0 - m, f1 - m
            out.append((key[0], d, y, d0, d1, 1 if d1 < d0 else 0))
        return (d0, d1, started), pd.DataFrame(
            out, columns=["series", "d", "y", "d0", "d1", "in_burst"]
        )

    return _keyed_fold(
        daily, ["series"], "d",
        "series string, d long, y long, d0 long, d1 long, in_burst long",
        "d0 long, d1 long, started long", step,
    )

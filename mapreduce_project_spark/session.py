"""SparkSession factory and session preparation.

The reference engine's "session" is a docker-compose cluster of a gRPC
master + HDFS namenode and N workers (``docker-compose.yml:1-33``,
``master.py:441-455``). Here the equivalent is a SparkSession; the
cluster manager, scheduler, shuffle, retries and health monitoring that
the reference hand-builds (``master.py:266-326``, ``master.py:85-136``)
are Spark built-ins.

Scale design: AQE is enabled so partition counts and skew handling
re-plan at runtime; shuffle partitions default to the local core count
for tests but on a real cluster should be ~2-3x total cores (set via
``spark.sql.shuffle.partitions`` at submit time).

Python daemon: PySpark's worker calls ``importlib.invalidate_caches()``
before every task, and on CPython 3.11 and 3.12 each ``zipimporter``
then re-parses its whole archive directory. A warm worker holds 16 of
them (12 over ``pyspark.zip``, 2 over the spark-core jar, 2 over py4j):
26,672 entries, about 0.11 s of CPU per task, whatever the task does.
``get_spark`` therefore starts its workers from ``pydaemon``, which
re-reads an archive only when its inode, size or mtime changed, and
puts the engine root on the workers' path so the daemon imports from
any working directory. Both are static confs, so a session built
elsewhere and handed to ``prep_session`` keeps Spark's own daemon.
CPython 3.13 reads zip directories lazily; on 3.13 or later the daemon
is unneeded.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds this package, for the Python workers' path
ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime-settable SQL confs every session gets: `get_spark` builds with
# them and `prep_session` re-applies them to a session handed in by the
# driver. UTC pinning keeps timestamp semantics identical to the DuckDB
# oracle (whose timestamps are UTC-naive); the rest are idempotent
# performance knobs.
RUNTIME_CONFS = (
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    # size post-shuffle partitions by bytes (advisory 64 MB), not by
    # the local parallelism floor: tiny shuffles collapse to 1 task
    # instead of 32 near-empty ones, and at 100 TB the byte target —
    # not a per-job floor — is what keeps reducers memory-safe
    ("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    ("spark.sql.session.timeZone", "UTC"),
    # tz-naive parquet timestamps read as plain TIMESTAMP (UTC session
    # tz makes the values identical); NTZ would break epoch math like
    # unix_millis and diverge from the DuckDB oracle's naive reading.
    ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
)


def get_spark(app_name: str = "mapreduce_project_spark") -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for this engine.

    On a real cluster, drop ``master`` and let spark-submit decide; every
    config below except the local driver memory applies unchanged.

    ``SPARK_GRAFT_CPUS`` (default: the CPUs this process may run on) is
    read here at call time (not at import) so both local[N] and the
    shuffle-partition count always agree, even when the env var is set
    after this module is imported.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config(map=dict(RUNTIME_CONFS))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # keep managed tables (bucketing demos/tests) out of the repo cwd
        .config("spark.sql.warehouse.dir", "/tmp/spark-graft-warehouse")
        .config("spark.python.daemon.module", "mapreduce_project_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", ENGINE_ROOT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def job_status(spark: SparkSession) -> dict:
    """A17 parity: the reference *declares* a JobStatus RPC — response
    shape ``done, file_paths, pending task counts``
    (``master_client.proto:8-9,28-36``) — but never implements it (no
    servicer method in ``master.py``). Spark's status tracker provides
    the real thing: active job/stage ids plus per-stage pending-task
    counts (``numTasks - numCompletedTasks``), no app code required.

    ``pending_tasks`` maps active stage id → tasks not yet completed;
    ``pending_tasks_total`` is their sum (the proto's scalar count).
    Both drain to zero once no action is running."""
    tracker = spark.sparkContext.statusTracker()
    stage_ids = list(tracker.getActiveStageIds())
    pending: dict[int, int] = {}
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is not None:
            pending[sid] = max(0, info.numTasks - info.numCompletedTasks)
    return {
        "active_job_ids": list(tracker.getActiveJobsIds()),
        "active_stage_ids": stage_ids,
        "pending_tasks": pending,
        "pending_tasks_total": sum(pending.values()),
    }


def prep_session(spark: SparkSession) -> SparkSession:
    """Re-apply ``RUNTIME_CONFS`` to an externally-provided session.

    The driver hands us its own SparkSession for ``entry``/``queries``;
    only runtime-mutable confs may be touched here, so such a session
    keeps Spark's Python daemon (see the module docstring).
    """
    for key, val in RUNTIME_CONFS:
        try:
            spark.conf.set(key, val)
        except Exception:  # pragma: no cover - conf may be static in some harnesses
            pass
    return spark

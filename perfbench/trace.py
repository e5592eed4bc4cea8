"""Traced runs: spans around each call into a layer, and the engine's own
per-job, per-stage and per-task records, split by operation.

Spans are taken from the benchmark's side of each layer boundary and
kept in memory until the run ends. Engine-side numbers come from two
places that need no engine change: Spark's event log (enabled for traced
runs only, read after the session stops), and, for in-process lanes, the
query's ``queryExecution().tracker()`` phases and the block manager's
RDD storage. Operations are told apart by the job group the benchmark
sets around each one; a job without a group (the service runs its own
session) belongs to the operation whose wall interval holds its
submission time.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict


class Spans:
    """In-memory span recorder; records nothing when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.rows: list[dict] = []

    def add(self, op: int, name: str, start: float, end: float, parent: str | None = None, **attrs) -> None:
        if self.enabled:
            self.rows.append({"op": op, "name": name, "parent": parent, "start": start, "end": end, **attrs})

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for row in self.rows:
                f.write(json.dumps(row) + "\n")


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit arguments that turn on a plain, single-file event log."""
    os.makedirs(log_dir, exist_ok=True)
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]


def planning_ms(df) -> dict[str, float]:
    """Analysis, optimization and physical-planning milliseconds of the
    query behind ``df``; forcing ``executedPlan`` runs the later two
    phases, which the action then repeats for its own command plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def retained_bytes(spark) -> int:
    """RDD block storage still held by the session (memory plus disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _sql_update(acc: dict) -> int:
    try:
        return int(acc.get("Update", 0))
    except (TypeError, ValueError):
        return 0


_SQL_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.worker_start_s",
    "time to initialize Python workers": "python.worker_init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "scan time": "sources.scan_time_ms",
}


def engine_metrics(log_dir: str, ops: list[dict]) -> dict[int, dict]:
    """Per-operation engine numbers from the event log in ``log_dir``.

    ``ops`` rows carry ``id``, ``start`` and ``end`` (epoch seconds).
    Returns ``{op id: {metric: value}}`` with jobs split into ``build``
    (launched while the query was being constructed) and the rest."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    by_time = sorted((o["start"] * 1000.0, o["end"] * 1000.0, o["id"]) for o in ops)
    known = {o["id"] for o in ops}
    job_op: dict[int, tuple[int, str]] = {}
    stage_job: dict[int, int] = {}
    jobs: dict[int, list[int]] = {}
    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))

    def owner(job_id: int):
        return job_op.get(job_id, (None, ""))

    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                op, phase = None, "action"
                parts = group.split(".")
                if len(parts) == 3 and parts[0] == "perfbench" and parts[1].isdigit():
                    op, phase = int(parts[1]), parts[2]
                elif not group:
                    t = e["Submission Time"]
                    op = next((i for s, en, i in by_time if s <= t <= en), None)
                if op not in known:
                    continue
                job_op[e["Job ID"]] = (op, phase)
                jobs[e["Job ID"]] = [e["Submission Time"], e["Submission Time"]]
                for sid in e["Stage IDs"]:
                    stage_job[sid] = e["Job ID"]
                out[op]["scheduling.jobs"] += 1
                if phase == "build":
                    out[op]["plans.build_jobs"] += 1
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]][1] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                op, _ = owner(stage_job.get(e["Stage Info"]["Stage ID"], -1))
                if op is not None:
                    out[op]["scheduling.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                op, _ = owner(stage_job.get(e["Stage ID"], -1))
                if op is None:
                    continue
                m, row = e.get("Task Metrics") or {}, out[op]
                row["scheduling.tasks"] += 1
                row["operators.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                row["operators.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                row["operators.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw, sr = m.get("Shuffle Write Metrics") or {}, m.get("Shuffle Read Metrics") or {}
                row["operators.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                row["operators.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                row["operators.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                row["operators.peak_execution_memory_bytes"] = max(
                    row["operators.peak_execution_memory_bytes"], m.get("Peak Execution Memory", 0)
                )
                row["sources.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                for acc in e["Task Info"].get("Accumulables", []):
                    name = _SQL_METRICS.get(acc.get("Name"))
                    if name and acc.get("Metadata") == "sql":
                        scale = 1e3 if name.endswith("_s") else 1.0  # Spark reports ms
                        row[name] += _sql_update(acc) / scale
    walls: dict[int, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    for job_id, span in jobs.items():
        op, phase = job_op[job_id]
        walls[op][phase].append(tuple(span))
    for op, by_phase in walls.items():
        out[op]["scheduling.job_wall_s"] = _union_ms([iv for ivs in by_phase.values() for iv in ivs]) / 1e3
        out[op]["_action_job_wall_s"] = _union_ms(by_phase.get("action", [])) / 1e3
    return {k: dict(v) for k, v in out.items()}

"""The benchmark's workloads and the run loop they share.

Each run is one process driving one closed-loop client (the next
operation starts when the previous one returns). A run sets up the
engine, runs one cold pass over the workload's queries, checks every
query's output against its DuckDB twin outside the timed passes, then
runs whole warm passes until the window closes, taking each pass's wall
time and the CPU time of the engine's process tree. ``--seed`` draws the
query order of every pass; the input is a fixed, committed fixture.
"""

from __future__ import annotations

import contextlib
import os
import random
import shlex
import shutil
import sys
import time
from dataclasses import dataclass

from perfbench import fixture, procs
from perfbench.oracle import Oracle
from perfbench.stats import median, query_medians, supported_tail
from perfbench.trace import Spans, engine_metrics, event_log_conf, planning_ms, retained_bytes


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    kind: str  # "inproc" (noop sink in this process) or "service" (run requests)
    queries: tuple[str, ...]
    # untimed passes between the cold pass and the window: the slate's
    # JVM compiles longest, and one warm-up pass cut its spread between
    # runs (five runs each) from 0.14 to 0.11; the run budget (README)
    # has no room for one on the service as well
    warmup_passes: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "slate-sf0.01",
            "declared queries to the noop sink in-process on 1.9 MB: 83 jobs a pass, so fixed per-job cost dominates, mostly while building",
            "inproc",
            ("graph_hits_bipartite", "join_size_preflight", "abtest_cmh_pooled", "word_count"),
            1,
        ),
        Workload(
            "service-sf0.01",
            "run requests to one resident service on 1.9 MB: per-request cost of the driver, job launch and Python workers dominates",
            "service",
            ("word_count_mr", "events_sessions_pandas", "tpch_q5_local_supplier_volume"),
            0,
        ),
    )
}

SERVICE_ROW_LIMIT = 1_000_000  # above every benchmarked result, so all rows cross the wire
PING_SAMPLES = 20
SETUP_SAMPLES = 2
_SETUP_PROBE = (
    "import time\n"
    "from mapreduce_project_spark.session import get_spark\n"
    "t0 = time.perf_counter()\n"
    "spark = get_spark('perfbench-setup')\n"
    "spark.range(1).count()\n"
    "print(time.perf_counter() - t0)\n"
    "spark.stop()\n"
)


def _submit_args(tmp: str, conf: list[str]) -> str:
    """``PYSPARK_SUBMIT_ARGS`` for every engine JVM a run starts. The JVM
    keeps its JIT compiler threads for its whole life, so that
    ``procs.tree_cpu_s`` can tell their CPU time apart."""
    java = f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
    return shlex.join(["--driver-java-options", java, *conf, "pyspark-shell"])


class Run:
    """State of one benchmark run: paths, environment, spans, samples."""

    def __init__(self, root: str, workload: Workload, seed: int, trace: bool):
        self.root, self.w, self.trace = root, workload, trace
        self.rng = random.Random(seed)
        self.work = os.path.join(root, "perfbench", ".work")
        self.run_dir = os.path.join(self.work, "run")
        self.spans = Spans(trace)
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.sf_dir = fixture.BASE_DIR
        self.env = dict(os.environ)
        cpus = len(os.sched_getaffinity(0))
        tmp = os.path.join(self.run_dir, "tmp")
        shutil.rmtree(self.run_dir, ignore_errors=True)  # the last run's outputs, logs and state
        for d in ("local", "tmp", "state"):
            os.makedirs(os.path.join(self.run_dir, d), exist_ok=True)
        self.env.update(
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_LOCAL_DIRS=os.path.join(self.run_dir, "local"),
            TMPDIR=tmp,
            PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
            PYSPARK_SUBMIT_ARGS=_submit_args(tmp, []),
            # no JVM, spark-submit's launcher included, writes its
            # performance-counter file under /tmp
            JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        )

    def traced_env(self, log_dir: str) -> dict:
        env = dict(self.env)
        if self.trace:
            env["PYSPARK_SUBMIT_ARGS"] = _submit_args(env["TMPDIR"], event_log_conf(log_dir))
        return env

    def order(self) -> list[str]:
        return self.rng.sample(list(self.w.queries), len(self.w.queries))

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr, flush=True)


class InProcess:
    """Queries built and run in this process, as ``cli run`` does."""

    def __init__(self, run: Run):
        self.r = run
        self.spark = None
        self.log_dir = os.path.join(run.run_dir, "events")
        # the cold pass's queries, held until gate() checks them, so the
        # check does not build them again
        self.kept: dict | None = {}

    def setup(self) -> list[float]:
        r = self.r
        samples = []
        for _ in range(SETUP_SAMPLES - 1):
            out = procs.run_child([sys.executable, "-c", _SETUP_PROBE], r.env, r.root, timeout_s=120)
            samples.append(float(out.strip().splitlines()[-1]))
        os.environ.update(r.traced_env(self.log_dir))
        from mapreduce_project_spark import queries_registry as reg
        from mapreduce_project_spark.session import get_spark

        self.registry = {**reg.EXTRA_QUERIES, **reg.QUERIES}
        t0, w0 = time.perf_counter(), time.time()
        self.spark = get_spark("perfbench")
        r.spans.add(0, "get_spark", w0, time.time())
        self.spark.range(1).count()
        samples.append(time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        return samples

    def rss_root(self) -> int:
        return os.getpid()

    def op(self, k: int, name: str) -> None:
        r, sc = self.r, self.spark.sparkContext
        sc.setJobGroup(f"perfbench.{k}.build", name)
        w0, t0 = time.time(), time.perf_counter()
        df = self.registry[name](self.spark, r.sf_dir)
        build = time.perf_counter() - t0
        r.spans.add(k, "build", w0, w0 + build, parent="op", query=name)
        row = {"id": k, "query": name, "start": w0, "build_s": build}
        if r.trace:
            p0 = time.time()
            row["planning"] = planning_ms(df)
            r.spans.add(k, "plan", p0, time.time(), parent="op", query=name)
        sc.setJobGroup(f"perfbench.{k}.action", name)
        w1, t1 = time.time(), time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        action = time.perf_counter() - t1
        r.spans.add(k, "action", w1, w1 + action, parent="op", query=name)
        self.spark.catalog.clearCache()
        sc.setJobGroup("perfbench.idle", "idle")
        row.update(end=time.time(), action_s=action, latency_s=build + action)
        if r.trace:
            row["retained_bytes"] = retained_bytes(self.spark)
        r.ops.append(row)
        if self.kept is not None:
            self.kept[name] = df

    def gate(self, oracle: Oracle) -> None:
        kept, self.kept = self.kept, None
        for name, df in kept.items():  # a query whose operation failed was counted then
            w0 = time.time()
            err = oracle.check_df(name, df)
            self.r.spans.add(-1, "check", w0, time.time(), query=name)
            self.r.attempted += 1
            if err:
                self.r.fail(err)
        self.spark.catalog.clearCache()

    def close(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        kids = [p for p in procs.tree(os.getpid()) if p != os.getpid()]
        gateway = SparkContext._gateway
        self.spark.stop()
        # the JVM outlives spark.stop(); it exits when its stdin closes
        gateway.shutdown()
        gateway.proc.stdin.close()
        SparkContext._gateway = SparkContext._jvm = None  # a later session launches its own
        procs.wait_gone(kids)


class Service:
    """``run`` requests to the resident service through its socket."""

    def __init__(self, run: Run):
        self.r = run
        self.state = os.path.join(run.run_dir, "state")
        self.pid = None
        self.responses: dict[str, dict] = {}

    def _start(self, i: int) -> float:
        from mapreduce_project_spark import service

        log_dir = os.path.join(self.r.run_dir, "events", str(i))
        os.environ.update(self.r.traced_env(log_dir))
        self.log_dir = log_dir
        w0, t0 = time.time(), time.perf_counter()
        service.start(self.state)
        if not service.request({"op": "ping"}, self.state, timeout=30.0).get("ok"):
            raise RuntimeError("service did not answer ping")
        dt = time.perf_counter() - t0
        self.r.spans.add(0, "service.start", w0, w0 + dt)
        with open(os.path.join(self.state, "service.pid")) as f:
            self.pid = int(f.read())
        return dt

    def setup(self) -> list[float]:
        samples = []
        for i in range(SETUP_SAMPLES):
            if i:
                self.close()
            samples.append(self._start(i))
        return samples

    def rss_root(self) -> int:
        return self.pid

    def op(self, k: int, name: str) -> None:
        from mapreduce_project_spark import service

        req = {"op": "run", "query": name, "sf_dir": self.r.sf_dir, "limit": SERVICE_ROW_LIMIT}
        w0, t0 = time.time(), time.perf_counter()
        resp = service.request(req, self.state, timeout=120.0)
        dt = time.perf_counter() - t0
        self.r.spans.add(k, "service.request", w0, w0 + dt, parent="op", query=name)
        if not resp.get("ok"):
            raise RuntimeError(f"{name}: {resp.get('error')}")
        self.responses[name] = resp
        self.r.ops.append({"id": k, "query": name, "start": w0, "end": time.time(), "latency_s": dt})

    def gate(self, oracle: Oracle) -> None:
        for name in self.r.w.queries:
            resp = self.responses.get(name)
            if resp is None:
                continue  # its operations failed and were counted
            self.r.attempted += 1
            err = None
            if resp["n"] != len(resp["rows"]):
                err = f"{name}: count {resp['n']} != {len(resp['rows'])} rows returned"
            err = err or oracle.check_rows(name, resp["columns"], resp["rows"])
            if err:
                self.r.fail(err)

    def ping_ms(self) -> float:
        from mapreduce_project_spark import service

        samples = []
        for _ in range(PING_SAMPLES):
            t0 = time.perf_counter()
            service.request({"op": "ping"}, self.state, timeout=30.0)
            samples.append((time.perf_counter() - t0) * 1e3)
        return median(samples)

    def close(self) -> None:
        from mapreduce_project_spark import service

        if self.pid is None:
            return
        kids = procs.tree(self.pid)
        # The protocol's shutdown, then reap: service.stop() polls the pid
        # with kill(pid, 0), which the service, being this process's
        # child, keeps passing as a zombie until reaped here.
        try:
            service.request({"op": "shutdown"}, self.state, timeout=30.0)
        except (OSError, RuntimeError, ValueError) as exc:
            print(f"perfbench: service shutdown request failed ({exc}); terminating", file=sys.stderr)
        procs.wait_gone(kids)
        self.pid = None


ALL_LAYER_METRICS = (
    ("session.get_spark_s", "s"), ("session.peak_rss_mb", "MB"), ("plans.build_s", "s"), ("plans.build_jobs", "count"),
    ("planning.analysis_ms", "ms"), ("planning.optimization_ms", "ms"), ("planning.planning_ms", "ms"),
    ("scheduling.jobs", "count"), ("scheduling.stages", "count"), ("scheduling.tasks", "count"),
    ("scheduling.job_wall_s", "s"), ("scheduling.driver_gap_s", "s"),
    ("operators.executor_run_s", "s"), ("operators.executor_cpu_s", "s"), ("operators.gc_s", "s"),
    ("operators.shuffle_write_bytes", "bytes"), ("operators.shuffle_read_bytes", "bytes"),
    ("operators.spill_bytes", "bytes"), ("operators.peak_execution_memory_bytes", "bytes"),
    ("sources.input_bytes", "bytes"), ("sources.scan_time_ms", "ms"),
    ("python.run_s", "s"), ("python.worker_start_s", "s"), ("python.worker_init_s", "s"),
    ("python.bytes_sent", "bytes"), ("python.bytes_returned", "bytes"),
    ("materialize.retained_bytes", "bytes"), ("service.ping_ms", "ms"), ("service.rss_growth_mb", "MB"),
    ("jvm.jit_cpu_s", "s"), ("trace.pass_s", "s"),
)


def run_window(seconds: float, one_pass) -> list:
    """Call ``one_pass(i)`` for i = 0, 1, ... until ``seconds`` have
    elapsed, and return every result. Only whole passes run and none is
    dropped: the last one may end after the window closes."""
    out = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        out.append(one_pass(len(out)))
    return out


@dataclass
class Pass:
    wall_s: float
    cpu_s: float  # the engine's process tree, JIT compiler threads left out
    jit_cpu_s: float
    ids: list[int]  # operations that succeeded


def _timed_pass(lane, r: Run, names: list[str], first_id: int) -> Pass:
    ids = []
    (cpu0, jit0), t0 = procs.tree_cpu_s(lane.rss_root()), time.perf_counter()
    for i, name in enumerate(names):
        k = first_id + i
        r.attempted += 1
        try:
            lane.op(k, name)
            ids.append(k)
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
            r.fail(f"{name}: {type(exc).__name__}: {exc}")
    wall = time.perf_counter() - t0
    cpu1, jit1 = procs.tree_cpu_s(lane.rss_root())
    return Pass(wall, (cpu1 - cpu0) - (jit1 - jit0), jit1 - jit0, ids)


def execute(root: str, name: str, seed: int, seconds: int, trace: bool) -> dict:
    """One run of workload ``name``; returns metrics and run details."""
    r = Run(root, WORKLOADS[name], seed, trace)
    lane = InProcess(r) if r.w.kind == "inproc" else Service(r)
    oracle = Oracle(root, r.sf_dir)
    extra: dict[str, float] = {}
    marks = [("start", time.perf_counter())]
    try:
        setup = lane.setup()
        marks.append(("setup", time.perf_counter()))
        if trace and r.w.kind == "service":
            extra["service.ping_ms"] = lane.ping_ms()
        rss_start = procs.tree_rss_mb(lane.rss_root())
        # peak memory is taken over a fixed amount of work, the cold pass
        # (over the window it would vary with the number of passes that
        # fit), and only when tracing: in-process, the sampler would share
        # the driver's interpreter with the timed pass
        rss = procs.PeakRss(lane.rss_root())
        with rss if trace else contextlib.nullcontext():
            cold = _timed_pass(lane, r, r.order(), 1)
        marks.append(("cold", time.perf_counter()))
        if r.w.kind == "inproc":
            lane.gate(oracle)
            marks.append(("gate", time.perf_counter()))
        n = len(r.w.queries)
        for i in range(r.w.warmup_passes):
            _timed_pass(lane, r, r.order(), 1 + n * (i + 1))
        marks.append(("warmup", time.perf_counter()))
        first = 1 + n * (1 + r.w.warmup_passes)
        window = run_window(seconds, lambda i: _timed_pass(lane, r, r.order(), first + n * i))
        warm_ids = {k for p in window for k in p.ids}
        marks.append(("window", time.perf_counter()))
        if r.w.kind == "service":
            extra["service.rss_growth_mb"] = procs.tree_rss_mb(lane.rss_root()) - rss_start
            lane.gate(oracle)
            marks.append(("gate", time.perf_counter()))
    finally:
        lane.close()
        oracle.close()
    marks.append(("close", time.perf_counter()))

    warm = [o for o in r.ops if o["id"] in warm_ids]
    lat = [o["latency_s"] for o in warm]
    query_median = query_medians(warm)
    pass_s = sum(query_median.values())
    metrics = {
        "setup_s": (median(setup), "s"),
        "pass_cpu_s": (median([p.cpu_s for p in window]), "s"),
    }
    details = {
        "phase_s": {phase: t - prev for (_, prev), (phase, t) in zip(marks, marks[1:])},
        "setup_samples_s": setup,
        "cold_pass_s": cold.wall_s,
        "cold_pass_cpu_s": cold.cpu_s,
        "pass_s": pass_s,
        "passes_s": [p.wall_s for p in window],
        "passes_cpu_s": [p.cpu_s for p in window],
        "passes_jit_cpu_s": [p.jit_cpu_s for p in window],
        "latency_p50_s": median(lat),
        "latency_tail": supported_tail(lat),
        "query_median_s": query_median,
    }
    if trace:
        extra.update({
            "session.peak_rss_mb": rss.peak_mb,
            "jvm.jit_cpu_s": median([p.jit_cpu_s for p in window]),
            "trace.pass_s": pass_s,
        })
        metrics = _layer_metrics(r, lane, warm, len(window), extra)
        r.spans.write(os.path.join(r.work, "traces", f"{name}-seed{seed}.jsonl"))
    return {"metrics": metrics, "details": details, "attempted": r.attempted, "failures": r.failures}


def _layer_metrics(r: Run, lane, warm: list[dict], passes: int, extra: dict) -> dict:
    eng = engine_metrics(lane.log_dir, warm)
    sums = {name: 0.0 for name, _ in ALL_LAYER_METRICS}
    for o in warm:
        row = eng.get(o["id"], {})
        for key, val in row.items():
            if key == "operators.peak_execution_memory_bytes":
                sums[key] = max(sums[key], val)
            elif key in sums:
                sums[key] += val / passes
        # an estimate: the action re-optimizes and re-plans the query the
        # tracker timed, but its analysis was done when the query was built
        planning = o.get("planning", {})
        replan_s = (planning.get("optimization", 0.0) + planning.get("planning", 0.0)) / 1e3
        action_s = o.get("action_s", o["latency_s"])
        gap = action_s - replan_s - row.get("_action_job_wall_s", 0.0)
        sums["scheduling.driver_gap_s"] += max(gap, 0.0) / passes
        sums["plans.build_s"] += o.get("build_s", 0.0) / passes
        for phase, ms in o.get("planning", {}).items():
            sums[f"planning.{phase}_ms"] += ms / passes
        sums["materialize.retained_bytes"] = max(sums["materialize.retained_bytes"], o.get("retained_bytes", 0))
    get_spark = [s for s in r.spans.rows if s["name"] in ("get_spark", "service.start")][-1]
    sums["session.get_spark_s"] = get_spark["end"] - get_spark["start"]
    sums.update(extra)
    units = dict(ALL_LAYER_METRICS)
    return {name: (val, units[name]) for name, val in sums.items()}

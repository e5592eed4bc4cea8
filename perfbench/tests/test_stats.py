"""Unit tests for the benchmark's statistics, CPU accounting and trace helpers.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import types

import pytest

from perfbench import lanes, procs, stats, trace


def test_median_odd_even_and_empty():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert stats.median([7.0]) == 7.0
    with pytest.raises(ValueError):
        stats.median([])


def test_percentile_interpolates_between_ranks():
    vals = [float(v) for v in range(1, 11)]  # 1..10
    assert stats.percentile(vals, 0) == 1.0
    assert stats.percentile(vals, 100) == 10.0
    assert stats.percentile(vals, 50) == 5.5
    assert stats.percentile(vals, 90) == pytest.approx(9.1)
    with pytest.raises(ValueError):
        stats.percentile(vals, 101)


def test_supported_tail_needs_ten_samples_beyond():
    assert stats.supported_tail([1.0] * 19) is None  # 19 * 0.5 < 10
    assert stats.supported_tail([1.0] * 20)["p"] == 50
    tail = stats.supported_tail([float(v) for v in range(100)])
    assert tail["p"] == 90 and tail["n"] == 100
    assert tail["value"] == pytest.approx(89.1)
    assert stats.supported_tail([float(v) for v in range(1000)])["p"] == 99


def test_query_medians_sum_is_the_median_pass():
    ops = [
        {"query": "a", "latency_s": 1.0}, {"query": "b", "latency_s": 2.0},
        {"query": "a", "latency_s": 9.0}, {"query": "b", "latency_s": 2.2},  # a burst slows one "a"
        {"query": "a", "latency_s": 1.2}, {"query": "b", "latency_s": 2.4},
    ]
    got = stats.query_medians(ops)
    assert got == {"a": 1.2, "b": 2.2}
    assert sum(got.values()) == pytest.approx(3.4)


def test_tree_cpu_counts_this_process_and_no_jit_outside_a_jvm():
    before, jit0 = procs.tree_cpu_s(os.getpid())
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:  # burn CPU in this process
        pass
    after, jit1 = procs.tree_cpu_s(os.getpid())
    assert after - before >= 0.2
    assert jit0 == jit1 == 0.0


def test_wait_gone_waits_for_a_process_whose_main_thread_exited():
    """A JVM's main thread may exit first; the process then reads "Z"
    while its other threads run, and must not count as gone."""
    code = (
        "import ctypes, threading, time\n"
        "threading.Thread(target=time.sleep, args=(1.5,)).start()\n"
        "ctypes.CDLL(None).pthread_exit(None)\n"
    )
    child = subprocess.Popen([sys.executable, "-c", code])
    deadline = time.monotonic() + 5.0
    while procs._stat_fields(child.pid)[0] != b"Z" and time.monotonic() < deadline:
        time.sleep(0.05)
    assert procs._alive(child.pid)
    procs.wait_gone([child.pid])
    assert not procs._alive(child.pid)


@pytest.mark.parametrize("name", ["setup_s", "planning.analysis_ms", "a-b.c_9", "9lives"])
def test_check_name_accepts(name):
    assert stats.check_name(name) == name


@pytest.mark.parametrize("name", ["", "has space", "p50/s", "ünits", "x" * 65])
def test_check_name_rejects(name):
    with pytest.raises(ValueError):
        stats.check_name(name)


def test_every_reported_metric_name_is_valid():
    for name, _unit in lanes.ALL_LAYER_METRICS:
        stats.check_name(name)


def test_window_keeps_every_whole_pass(monkeypatch):
    """Unlike bench.py's SPARK_GRAFT_BENCH_BUDGET_S, no time budget cuts
    a pass short or discards one: the window only decides whether to
    start another pass."""
    now = [0.0]
    monkeypatch.setattr(lanes, "time", types.SimpleNamespace(perf_counter=lambda: now[0]))
    done = []

    def one_pass(i):
        now[0] += 3.0  # each pass takes 3 s on the fake clock
        done.append(i)
        return i

    got = lanes.run_window(10, one_pass)
    assert got == done == [0, 1, 2, 3]  # passes start at 0, 3, 6 and 9 s
    assert now[0] == 12.0  # the last pass ran to its end, past the window


def test_union_of_job_intervals():
    assert trace._union_ms([]) == 0
    assert trace._union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert trace._union_ms([(0, 10), (2, 3)]) == 10


def test_engine_metrics_attributes_by_group_then_time(tmp_path):
    def ev(**kw):
        return json.dumps(kw)

    lines = [
        ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 1000, "Stage IDs": [1],
                                             "Properties": {"spark.jobGroup.id": "perfbench.7.build"}}),
        ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 1100}),
        ev(Event="SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 1200, "Stage IDs": [2],
                                             "Properties": {"spark.jobGroup.id": "perfbench.7.action"}}),
        ev(Event="SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 1500}),
        ev(Event="SparkListenerJobStart", **{"Job ID": 3, "Submission Time": 5000, "Stage IDs": [3], "Properties": {}}),
        ev(Event="SparkListenerJobEnd", **{"Job ID": 3, "Completion Time": 5400}),
        ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 2}}),
        ev(Event="SparkListenerTaskEnd", **{
            "Stage ID": 2,
            "Task Metrics": {"Executor Run Time": 250, "Executor CPU Time": 2e8,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                             "Input Metrics": {"Bytes Read": 4096}},
            "Task Info": {"Accumulables": [
                {"Name": "time to run Python workers", "Update": "1500", "Metadata": "sql"},
                {"Name": "scan time", "Update": 7, "Metadata": "sql"},
            ]},
        }),
    ]
    (tmp_path / "app-1").write_text("\n".join(lines) + "\n")
    ops = [{"id": 7, "start": 0.9, "end": 1.6}, {"id": 8, "start": 4.9, "end": 5.5}]
    got = trace.engine_metrics(str(tmp_path), ops)
    assert got[7]["scheduling.jobs"] == 2 and got[7]["plans.build_jobs"] == 1
    assert got[7]["scheduling.stages"] == 1 and got[7]["scheduling.tasks"] == 1
    assert got[7]["scheduling.job_wall_s"] == pytest.approx(0.4)
    assert got[7]["_action_job_wall_s"] == pytest.approx(0.3)
    assert got[7]["operators.executor_run_s"] == pytest.approx(0.25)
    assert got[7]["operators.executor_cpu_s"] == pytest.approx(0.2)
    assert got[7]["python.run_s"] == pytest.approx(1.5)
    assert got[7]["sources.scan_time_ms"] == 7 and got[7]["sources.input_bytes"] == 4096
    assert got[8]["scheduling.jobs"] == 1  # no group: placed by submission time

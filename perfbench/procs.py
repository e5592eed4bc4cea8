"""Process-tree memory sampling and child-process hygiene (Linux /proc)."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _parents() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        fields = _stat_fields(int(entry)) if entry.isdigit() else None
        if fields:
            out[int(entry)] = int(fields[1])
    return out


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 2**20


def tree_cpu_s(root: int) -> tuple[float, float]:
    """User plus system CPU seconds of ``root`` and its live descendants,
    with those of their exited and reaped children; and, of that, the
    seconds of JVM JIT compiler threads. Time the hypervisor steals from
    this machine's CPUs is not counted. A compiler thread's time is lost
    when the thread exits, so the JVM must keep its compiler threads
    (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    ticks = jit = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if not fields:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime, stime, cutime, cstime
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            if b"CompilerThre" in stat[: stat.rindex(b")")]:  # "C2 CompilerThread0", cut to 15 bytes
                jit += sum(int(x) for x in stat[stat.rindex(b")") + 2 :].split()[11:13])
    return ticks / _TICK, jit / _TICK


class PeakRss:
    """Samples the RSS of a process tree on a background thread and
    keeps the peak. Use as a context manager."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root, self.interval_s = root, interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every process in ``pids`` has exited, escalating to
    SIGTERM and then SIGKILL after ``timeout_s``. A JVM the engine
    launched exits on its own once its Python owner stops it, but it may
    outlive that owner briefly as an orphan, so callers snapshot the
    tree before stopping it."""
    deadline = time.monotonic() + timeout_s
    sig = None
    while True:
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        live = [p for p in pids if _alive(p)]
        if not live:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            deadline = time.monotonic() + 5.0
            for pid in live:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _stat_fields(pid: int) -> list[bytes] | None:
    """Fields of /proc/<pid>/stat after the command name: state, ppid,
    pgrp, ..."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(b")") + 2 :].split()


def _alive(pid: int) -> bool:
    """Whether ``pid`` still runs. A JVM's main thread can exit before
    its other threads, which leaves the process reading "Z" while it
    runs on, so a zombie counts as gone only once no thread is left."""
    fields = _stat_fields(pid)
    if fields is None:
        return False
    if fields[0] != b"Z":
        return True
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return False
    return any(_alive_thread(pid, tid) for tid in tids)


def _alive_thread(pid: int, tid: str) -> bool:
    try:
        with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2 :].split()[0] != b"Z"


def _pgid(pid: int) -> int:
    fields = _stat_fields(pid)
    return int(fields[2]) if fields else -1


def run_child(args: list[str], env: dict, cwd: str, timeout_s: float) -> str:
    """Run a child to completion in its own process group and return its
    stdout once every process of the group (the child's JVM too) has
    exited; on timeout the whole group is killed and the error raised."""
    proc = subprocess.Popen(
        args, env=env, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    finally:
        wait_gone([p for p in _parents() if _pgid(p) == proc.pid] + [proc.pid], timeout_s=20.0)
    if proc.returncode != 0:
        raise RuntimeError(f"{args[:3]} exited with {proc.returncode}")
    return out

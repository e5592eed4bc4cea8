"""Local engine service — the lifecycle analog of the reference's
long-running master (`map_reduce.py start/stop/logs`, `master.py:41-`):
a background daemon holding ONE warm SparkSession that serves declared
queries over a localhost JSON-lines socket.

Why it exists (and is not theater): the JVM + session bootstrap costs
~10 s; a reference user gets a resident master that amortizes it across
submissions, and this daemon restores that UX on Spark — `submit` turns
around in query time, not JVM-start time. On a real cluster the same
role is played by a resident Spark Connect server / Thrift server /
Livy; this is the zero-dependency local equivalent (the container has
no grpc for the Connect client), wire-compatible in spirit with the
reference's master RPC: submit-by-name, status, graceful shutdown.

State lives under ``~/.mapreduce_project_spark`` (override:
``--state-dir``): ``service.pid``, ``service.port``, ``service.log``.

Protocol: one JSON object per line in, one per line out.
  {"op": "ping"}                      → {"ok": true, "uptime_s": ...}
  {"op": "list"}                      → {"ok": true, "queries": [...]}
  {"op": "run", "query": q,
   "sf_dir": d, "limit": n}           → {"ok": true, "n": N,
                                          "columns": [...], "rows": [...]}
  {"op": "shutdown"}                  → {"ok": true} (then exits)
Errors: {"ok": false, "error": "..."}.
"""

from __future__ import annotations

import json
import os
import socket
import socketserver
import subprocess
import sys
import time

DEFAULT_STATE_DIR = os.path.expanduser("~/.mapreduce_project_spark")
_START_TIMEOUT_S = 120.0


def _paths(state_dir: str) -> tuple[str, str, str]:
    return (
        os.path.join(state_dir, "service.pid"),
        os.path.join(state_dir, "service.port"),
        os.path.join(state_dir, "service.log"),
    )


def run_response(df, limit: int) -> dict:
    """The ``run`` op's reply: the first ``limit`` rows of ``df`` and its
    row count ``n``. It collects ``limit + 1`` rows, so a result that fits
    the limit runs the query once and ``n == len(rows)``; only a longer
    result runs ``count()`` as well. The session cache is cleared
    afterwards, so the resident session keeps no request's data."""
    try:
        rows = [list(r) for r in df.limit(limit + 1).collect()]
        return {
            "ok": True,
            "n": df.count() if len(rows) > limit else len(rows),
            "columns": df.columns,
            "rows": json.loads(json.dumps(rows[:limit], default=str)),
        }
    finally:
        df.sparkSession.catalog.clearCache()


def serve(port: int = 0, state_dir: str = DEFAULT_STATE_DIR) -> None:
    """Run the service in-process (the `start` subcommand spawns this in
    a background child). Builds the SparkSession BEFORE advertising the
    port, so a successful `start` means the engine is actually warm."""
    from mapreduce_project_spark.queries_registry import ALL_QUERIES as registry
    from mapreduce_project_spark.session import get_spark

    os.makedirs(state_dir, exist_ok=True)
    pid_file, port_file, _ = _paths(state_dir)
    spark = get_spark("service")
    t0 = time.monotonic()

    class Handler(socketserver.StreamRequestHandler):
        def handle(self) -> None:
            line = self.rfile.readline()
            if not line:
                return
            try:
                req = json.loads(line)
                resp = self._dispatch(req)
            except Exception as exc:  # noqa: BLE001 - wire errors back
                resp = {"ok": False, "error": f"{type(exc).__name__}: {exc}"}
            wants_shutdown = isinstance(resp, dict) and resp.pop("_shutdown", False)
            self.wfile.write((json.dumps(resp) + "\n").encode())
            if wants_shutdown:
                # flagged after the reply is flushed
                self.server._shutdown_requested = True  # type: ignore[attr-defined]

        def _dispatch(self, req: dict) -> dict:
            op = req.get("op")
            if op == "ping":
                return {"ok": True, "uptime_s": round(time.monotonic() - t0, 3)}
            if op == "list":
                return {"ok": True, "queries": sorted(registry)}
            if op == "run":
                name = req.get("query")
                if name not in registry:
                    return {"ok": False, "error": f"unknown query: {name}"}
                df = registry[name](spark, req.get("sf_dir", "/root/testdata/sf0.001"))
                return run_response(df, int(req.get("limit", 20)))
            if op == "shutdown":
                return {"ok": True, "_shutdown": True}
            return {"ok": False, "error": f"unknown op: {op}"}

    class Server(socketserver.TCPServer):
        allow_reuse_address = True
        _shutdown_requested = False

    with Server(("127.0.0.1", port), Handler) as srv:
        bound_port = srv.server_address[1]
        with open(pid_file, "w") as f:
            f.write(str(os.getpid()))
        with open(port_file, "w") as f:
            f.write(str(bound_port))
        print(f"service ready on 127.0.0.1:{bound_port}", flush=True)
        try:
            while not srv._shutdown_requested:
                srv.handle_request()
        finally:
            for p in (pid_file, port_file):
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass
            spark.stop()


def request(req: dict, state_dir: str = DEFAULT_STATE_DIR, timeout: float = 600.0) -> dict:
    """Send one request to the running service; raises if none is up."""
    _, port_file, _ = _paths(state_dir)
    try:
        with open(port_file) as f:
            port = int(f.read().strip())
    except FileNotFoundError:
        raise RuntimeError(f"no service running (no {port_file}; use `start`)") from None
    with socket.create_connection(("127.0.0.1", port), timeout=timeout) as sock:
        sock.settimeout(timeout)
        sock.sendall((json.dumps(req) + "\n").encode())
        buf = b""
        while not buf.endswith(b"\n"):
            chunk = sock.recv(65536)
            if not chunk:
                break
            buf += chunk
    return json.loads(buf)


def start(state_dir: str = DEFAULT_STATE_DIR, port: int = 0) -> int:
    """Spawn the background service; block until it is warm (session
    built, port advertised). Returns the bound port. Idempotent-ish:
    refuses when a live service already owns the state dir."""
    os.makedirs(state_dir, exist_ok=True)
    pid_file, port_file, log_file = _paths(state_dir)
    if os.path.exists(pid_file):
        try:
            if request({"op": "ping"}, state_dir, timeout=5.0).get("ok"):
                raise RuntimeError(f"service already running (see {pid_file})")
        except (OSError, ValueError):
            pass  # stale files from a killed service — reclaim
        for p in (pid_file, port_file):
            try:
                os.remove(p)
            except FileNotFoundError:
                pass
    log = open(log_file, "ab")
    proc = subprocess.Popen(
        [
            sys.executable,
            "-m",
            "mapreduce_project_spark",
            "serve",
            "--port",
            str(port),
            "--state-dir",
            state_dir,
        ],
        stdout=log,
        stderr=subprocess.STDOUT,
        start_new_session=True,
    )
    deadline = time.monotonic() + _START_TIMEOUT_S
    while time.monotonic() < deadline:
        if os.path.exists(port_file):
            with open(port_file) as f:
                return int(f.read().strip())
        if proc.poll() is not None:
            raise RuntimeError(
                f"service exited with {proc.returncode} during startup; see {log_file}"
            )
        time.sleep(0.2)
    proc.terminate()
    raise TimeoutError(f"service did not come up in {_START_TIMEOUT_S}s; see {log_file}")


def stop(state_dir: str = DEFAULT_STATE_DIR) -> bool:
    """Graceful shutdown via the protocol; SIGTERM fallback for a hung
    JVM. Returns True when a service was stopped."""
    import signal

    pid_file, _, _ = _paths(state_dir)
    try:
        with open(pid_file) as f:
            pid = int(f.read().strip())
    except FileNotFoundError:
        return False
    try:
        request({"op": "shutdown"}, state_dir, timeout=30.0)
    except (OSError, RuntimeError, ValueError):
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    # wait for the process to actually exit
    deadline = time.monotonic() + 30.0
    while time.monotonic() < deadline:
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return True
        time.sleep(0.2)
    return True


def tail_logs(state_dir: str = DEFAULT_STATE_DIR, n: int = 50) -> list[str]:
    """Last ``n`` log lines (the reference's `logs` subcommand)."""
    _, _, log_file = _paths(state_dir)
    try:
        with open(log_file, errors="replace") as f:
            return [ln.rstrip("\n") for ln in f.readlines()[-n:]]
    except FileNotFoundError:
        return []

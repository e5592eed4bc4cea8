#!/usr/bin/env python
"""Artifact-freshness gate (VERDICT r8 task 3 — sweep staleness recurred
three rounds running; a mechanical check, not a reminder, is the fix).

Asserts that the NEWEST committed sweep artifact (SWEEP_r*.json) covers
every oracle-equipped query in the current registry — i.e. nobody added
or rotated a query without regenerating the sweep. Exits non-zero and
lists the uncovered names otherwise.

Usage: python scripts/check_artifacts.py [sweep_json]
(default: the highest-numbered SWEEP_r*.json in the repo root)

Wire into the cadence: run AFTER the round's sweep regeneration and
before the end-of-round commit; also safe to run any time as a dry
staleness probe.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def newest_artifact(repo_root: str, stem: str) -> str | None:
    paths = glob.glob(os.path.join(repo_root, f"{stem}_r*.json"))
    if not paths:
        return None

    def round_no(p: str) -> int:
        m = re.search(rf"{stem}_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    return max(paths, key=round_no)


# A committed benchmark of record must come from a quiet host
# (VERDICT r10 task 2: the r10 BENCH was recorded at load 6.6 and
# overstated the fixed panel 27%). 1.0 on a 32-CPU box = essentially
# idle; anything above means another workload shared the measurement.
MAX_BENCH_LOADAVG = 1.0
# rounds whose BENCH predates the loadavg stamp — grandfathered
FIRST_LOAD_STAMPED_ROUND = 11


def _extract_driver_bench(bench: dict) -> dict | None:
    """Normalize the round driver's BENCH format (VERDICT r12 task 2).

    The driver records ``{"n", "rc", "cpus", "sf", "tail"}`` where ``tail``
    is the (possibly head-truncated) last chunk of bench.py's one-line JSON
    stdout — so ``loadavg_1m_start`` / probe fields live INSIDE the string.
    Regex-extract the scalar fields the gate needs; returns None if this
    isn't a driver-format artifact.
    """
    if "tail" not in bench or "loadavg_1m_start" in bench:
        return None
    tail = bench.get("tail") or ""
    out = dict(bench)
    out["_driver_format"] = True
    num = r"(-?\d+(?:\.\d+)?)"
    for key in (
        "panel_total",
        "loadavg_1m_start",
        "cpu_probe_sec",
        "shuffle_probe_sec",
    ):
        m = re.search(rf'\\?"{key}\\?":\s*{num}', tail)
        if m:
            out[key] = float(m.group(1))
    return out


def check_bench(repo_root: str) -> bool:
    path = newest_artifact(repo_root, "BENCH")
    # A builder-recorded bench for the SAME round (BENCH_r{N}_builder.json)
    # is the stricter record (quiet host enforced); prefer it when present.
    if path:
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            builder = os.path.join(
                repo_root, f"BENCH_r{int(m.group(1))}_builder.json"
            )
            if os.path.exists(builder):
                path = builder
    if not path:
        print("BENCH gate: no BENCH_r*.json yet (pre-bench round) — skip")
        return True
    m = re.search(r"BENCH_r(\d+)(?:_builder)?\.json$", path)
    round_no = int(m.group(1)) if m else 0
    bench = json.load(open(path, encoding="utf-8"))
    driver_fmt = _extract_driver_bench(bench)
    if driver_fmt is not None:
        bench = driver_fmt
    load = bench.get("loadavg_1m_start")
    name = os.path.basename(path)
    if driver_fmt is not None:
        # The driver's host load is outside builder control; the in-artifact
        # calibration probes (round-11 task 6) exist precisely to normalize
        # host speed, so driver-format benches are judged RELATIVELY only.
        print(
            f"BENCH gate: {name} is driver-format (fields parsed from tail; "
            f"loadavg_1m_start={load}) — absolute quiet-host cap waived, "
            "probe-relative check applies"
        )
        return check_bench_relative(repo_root, path, round_no, bench)
    if load is None:
        if round_no < FIRST_LOAD_STAMPED_ROUND:
            print(f"BENCH gate: {name} predates the loadavg stamp — skip")
            return True
        print(
            f"GATE FAIL: {name} carries no loadavg_1m_start — regenerate "
            "with the stamping bench.py (a BENCH of record must prove its "
            "host was quiet)"
        )
        return False
    if load > MAX_BENCH_LOADAVG:
        print(
            f"GATE FAIL: {name} was recorded at 1-min load {load} > "
            f"{MAX_BENCH_LOADAVG} — a loaded-host benchmark cannot be the "
            "committed record; re-run bench.py on a quiet machine"
        )
        return False
    print(f"BENCH gate: {name} loadavg_1m_start={load} — quiet host, OK")
    return check_bench_relative(repo_root, path, round_no, bench)


# Host-speed-normalized panel band (VERDICT r11 task 6): panel_total
# is judged RELATIVE to the in-artifact calibration probes, so a slow
# host no longer reads as a plan regression (round 11 needed a git
# adjudication to separate the two). The allowed panel growth vs the
# previous probed BENCH is the measured host slowdown (the larger of
# the two probe ratios) times a noise margin.
PANEL_REL_MARGIN = 1.30


def check_bench_relative(
    repo_root: str, path: str, round_no: int, bench: dict
) -> bool:
    name = os.path.basename(path)
    cpu, shf = bench.get("cpu_probe_sec"), bench.get("shuffle_probe_sec")
    if cpu is None or shf is None:
        if round_no <= 11:  # probes land in round 12
            print(f"BENCH gate: {name} predates the calibration probes — skip")
            return True
        print(
            f"GATE FAIL: {name} carries no cpu/shuffle calibration probes — "
            "regenerate with the probing bench.py"
        )
        return False
    prev = None
    for r in range(round_no - 1, 0, -1):
        for cand in (
            os.path.join(repo_root, f"BENCH_r{r}_builder.json"),
            os.path.join(repo_root, f"BENCH_r{r:02d}.json"),
            os.path.join(repo_root, f"BENCH_r{r}.json"),
        ):
            if os.path.exists(cand):
                prev = json.load(open(cand, encoding="utf-8"))
                prev = _extract_driver_bench(prev) or prev
                prev_name = os.path.basename(cand)
                break
        if prev is not None:
            break
    if not prev or prev.get("cpu_probe_sec") is None:
        print(
            f"BENCH gate: {name} is the first probed BENCH "
            f"(cpu={cpu}s shuffle={shf}s) — baseline recorded, relative "
            "check starts next round"
        )
        return True
    host_ratio = max(
        cpu / prev["cpu_probe_sec"], shf / prev["shuffle_probe_sec"], 1.0
    )
    cur_p, prev_p = bench.get("panel_total"), prev.get("panel_total")
    if not cur_p or not prev_p:
        print(f"BENCH gate: {name} or {prev_name} lacks panel_total — skip")
        return True
    allowed = prev_p * host_ratio * PANEL_REL_MARGIN
    print(
        f"BENCH gate: {name} panel_total={cur_p}s vs {prev_name} "
        f"{prev_p}s; host ratio {host_ratio:.3f} "
        f"(cpu {cpu}/{prev['cpu_probe_sec']}, shuffle "
        f"{shf}/{prev['shuffle_probe_sec']}) — allowed "
        f"{allowed:.1f}s"
    )
    if cur_p > allowed:
        print(
            f"GATE FAIL: panel_total {cur_p}s exceeds the host-normalized "
            f"band {allowed:.1f}s — a plan regression, not host speed"
        )
        return False
    return True


def main() -> int:
    from mapreduce_project_spark import queries_registry as R

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sweep_path = (
        sys.argv[1] if len(sys.argv) > 1 else newest_artifact(repo_root, "SWEEP")
    )
    if not sweep_path or not os.path.exists(sweep_path):
        print("GATE FAIL: no SWEEP_r*.json artifact found")
        return 1

    sweep = json.load(open(sweep_path, encoding="utf-8"))
    swept = set(sweep.get("results", {}))
    oracle_equipped = set(R.ALL_ORACLES)

    missing = sorted(oracle_equipped - swept)
    stale_extra = sorted(swept - set(R.ALL_QUERIES))
    bad = sweep.get("bad_or_vacuous", None)

    print(
        f"sweep={os.path.basename(sweep_path)} swept={len(swept)} "
        f"oracle_equipped={len(oracle_equipped)} bad_or_vacuous={bad}"
    )
    ok = True
    if missing:
        ok = False
        # VERDICT r12 task 2: "registry changed ⇒ sweep re-runs before
        # snapshot" is a ROUND-level rule — a snapshot commit that registers
        # operators after the sweep was recorded fails the round, not just
        # this script. Never commit past this message.
        print(f"GATE FAIL (ROUND RULE): {len(missing)} oracle-equipped "
              f"queries missing from {os.path.basename(sweep_path)} — the "
              "registry changed after the sweep was recorded; re-run "
              f"scripts/check_oracles.py --json {os.path.basename(sweep_path)} "
              "with these names BEFORE the snapshot commit:")
        for n in missing:
            print(f"  - {n}")
    if stale_extra:
        # names swept but no longer registered — renames/deletions that
        # make the artifact describe queries that don't exist
        ok = False
        print(f"GATE FAIL: {len(stale_extra)} swept names not in the "
              "current registry (renamed/removed?):")
        for n in stale_extra:
            print(f"  - {n}")
    if bad:
        ok = False
        print(f"GATE FAIL: sweep records bad_or_vacuous={bad}")
    if not check_bench(repo_root):
        ok = False
    print("GATE OK" if ok else "GATE FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())

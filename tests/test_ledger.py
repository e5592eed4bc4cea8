"""The artifact ledgers: `bench_trend_report` over the `BENCH_r*.json`
files and `correctness_trend_report` over the `CORRECTNESS_r*.json`
files of this checkout, each replayed in pure Python."""

from __future__ import annotations

import json
import os

import mapreduce_project_spark.queries_registry as R
from tests.conftest import SF_DIR

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- BENCH ledger round key. Keying every BENCH_r*.json by
# BENCH_r(\d+) gave round 13 several rows once suffixed twins
# (BENCH_r13_builder, _c8, ...) sat beside BENCH_r13.json, and made the
# lag window order-ambiguous. Both engines (and the replay test) read
# only the exact name BENCH_r<digits>.json.


def _trend_rows(spark):
    from mapreduce_project_spark.queries_registry import ALL_QUERIES

    return ALL_QUERIES["bench_trend_report"](spark, "unused").collect()


# --- bench_trend_report replay (artifact files, metadata
# scale — the D298 discipline: a pure-python replay of the committed
# ledger must equal the engine's answer cell for cell).


def test_bench_trend_replay_matches_committed_ledger(spark):
    import glob
    import re as _re

    from mapreduce_project_spark.queries_registry import ALL_QUERIES

    got = {
        r["round"]: (
            r["panel_total_us"], r["cpu_probe_us"], r["host_ratio_ppm"],
            r["panel_norm_us"], r["delta_vs_prev_ppm"],
        )
        for r in ALL_QUERIES["bench_trend_report"](spark, "unused").collect()
    }

    def micros(s):
        if not s:
            return None
        ip, _, fp = s.partition(".")
        return int(ip) * 1_000_000 + int((fp or "0").ljust(6, "0")[:6])

    num = r'\\?"{f}\\?":\s*([0-9]+\.?[0-9]*)'
    rows = {}
    for path in glob.glob(f"{_REPO_ROOT}/BENCH_r*.json"):
        # one record per round: only the bare BENCH_r<digits>.json
        # driver artifact (VERDICT r13 item 1) — suffixed twins
        # (_builder, _opt, _final, _c8) are excluded by exact match
        if not _re.search(r"BENCH_r\d+\.json$", path):
            continue
        txt = open(path, encoding="utf-8").read()
        rnd = int(_re.search(r"BENCH_r(\d+)", path).group(1))
        p = _re.search(num.format(f="panel_total"), txt)
        if not p:
            continue
        c = _re.search(num.format(f="cpu_probe_sec"), txt)
        rows[rnd] = (micros(p.group(1)), micros(c.group(1)) if c else None)
    assert rows, "vacuous: no parseable BENCH artifacts"
    probed = [r for r in sorted(rows) if rows[r][1] is not None]
    ref_cpu = rows[probed[0]][1] if probed else None
    prev = None
    for rnd in sorted(rows):
        pus, cus = rows[rnd]
        host = cus * 1_000_000 // ref_cpu if cus is not None else None
        norm = pus * ref_cpu // cus if cus is not None else None
        if prev is None:
            delta = None
        elif pus >= prev:
            delta = (pus - prev) * 1_000_000 // prev
        else:
            delta = -((prev - pus) * 1_000_000 // prev)
        assert got[rnd] == (pus, cus, host, norm, delta), f"round {rnd}"
        prev = pus
    assert set(got) == set(rows)


def test_bench_trend_one_row_per_round_with_committed_twins_present(spark):
    # The suffixed twins ARE in the tree (committed round-13 evidence);
    # the ledger must still be single-keyed.
    twins = [
        f for f in os.listdir(_REPO_ROOT)
        if f.startswith("BENCH_r13_") and f.endswith(".json")
    ]
    assert twins, "precondition: round-13 suffixed twins exist in repo root"
    rounds = [r["round"] for r in _trend_rows(spark)]
    assert len(rounds) == len(set(rounds)), f"duplicate round keys: {rounds}"


def test_bench_trend_round13_row_comes_from_bare_artifact_only(spark):
    # Round 13's panel_total must match BENCH_r13.json (the driver
    # record), not BENCH_r13_opt/final/c8.json.
    with open(f"{_REPO_ROOT}/BENCH_r13.json", encoding="utf-8") as fh:
        tail = json.load(fh)["tail"]
    import re

    # json.load already resolved the tail's escaped quotes
    want = re.search(r'"panel_total":\s*([0-9.]+)', tail).group(1)
    ip, _, fp = want.partition(".")
    want_us = int(ip) * 1_000_000 + int((fp or "0").ljust(6, "0")[:6])
    got = {r["round"]: r["panel_total_us"] for r in _trend_rows(spark)}
    assert got[13] == want_us


def test_bench_trend_ignores_planted_duplicate(spark):
    # Plant a fresh suffixed twin with a poisoned panel_total and prove
    # neither the row count nor any cell moves.
    before = sorted(map(tuple, _trend_rows(spark)))
    planted = f"{_REPO_ROOT}/BENCH_r13_plantedtest.json"
    try:
        with open(planted, "w", encoding="utf-8") as fh:
            fh.write(
                '{"panel_total": 999999.0, "cpu_probe_sec": 0.0001,'
                ' "shuffle_probe_sec": 0.0001, "loadavg_1m_start": 0.0}'
            )
        after = sorted(map(tuple, _trend_rows(spark)))
    finally:
        os.remove(planted)
    assert after == before


# ---------------------------------------------------------------- D298


def test_correctness_trend_replays_artifacts_exactly(spark):
    # Pure-python replay of the committed CORRECTNESS_r*.json ledger —
    # an oracle-independent pin of the whole aggregation (counts,
    # first-timer attribution, cumulative coverage, truncating ppm).
    import glob
    import json
    import re

    recs = {}
    for p in sorted(glob.glob(f"{_REPO_ROOT}/CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)", p).group(1))
        recs[rnd] = json.load(open(p))
    assert len(recs) >= 11
    first = {}
    for rnd in sorted(recs):
        for q in recs[rnd]:
            first.setdefault(q, rnd)
    want, cum = [], 0
    for rnd in sorted(recs):
        d = recs[rnd]
        nh = sum(1 for v in d.values() if v.get("hash_match"))
        nr = sum(1 for v in d.values() if v.get("rows_match"))
        nf = sum(1 for q, fr in first.items() if fr == rnd)
        cum += nf
        want.append(
            (rnd, len(d), nh, nr, nf, cum, nh * 1000000 // len(d))
        )
    got = [
        tuple(r)
        for r in R.ALL_QUERIES["correctness_trend_report"](spark, SF_DIR)
        .orderBy("round")
        .collect()
    ]
    assert got == want
    # the round-11 row is the 50/50 driver-green round
    r11 = [w for w in want if w[0] == 11][0]
    assert r11[1] == 50 and r11[6] == 1000000

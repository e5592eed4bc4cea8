"""Round-14 VERDICT regressions — each test plants the condition the
round-13 judge reported and pins the fixed behavior."""

import json
import os

# --- VERDICT r13 item 1: BENCH ledger round-key collision. The ledger
# query keyed every BENCH_r*.json by BENCH_r(\d+), excluding only
# _builder, so the committed BENCH_r13_{opt,final,c8}.json twins gave
# round 13 several rows and made the lag window order-ambiguous. The
# fix filters BOTH engines (and the replay test) to the exact name
# BENCH_r<digits>.json.

_REPO_ROOT = "/root/repo"


def _trend_rows(spark):
    from mapreduce_project_spark.queries_registry import ALL_QUERIES

    return ALL_QUERIES["bench_trend_report"](spark, "unused").collect()


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


# --- VERDICT r13 item 3 pin: the flagship compositions materialize
# their composition boundary with a lineage-truncating localCheckpoint,
# so every downstream consumer plans against a flat RDD leaf instead of
# re-analyzing the 400+-Exchange kn/rd/vec subtree (the r14 win:
# v8 418 -> 28 Exchange / 192 -> 0 scans, v7 142 -> 12 / 56 -> 0).


def _final_plan(spark, name, sf_dir="/root/testdata/sf0.001"):
    from mapreduce_project_spark import queries_registry as R

    df = R.ALL_QUERIES[name](spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_training_set_compositions_plan_against_checkpoint_leaf(spark):
    for name, max_exchanges in (
        ("assemble_training_set_v8", 60),
        ("assemble_training_set_v7", 30),
    ):
        plan = _final_plan(spark, name)
        assert "Scan parquet" not in plan, f"{name}: parquet scan above boundary"
        assert "Scan ExistingRDD" in plan, f"{name}: no checkpoint leaf"
        n_ex = plan.count("Exchange")
        assert n_ex <= max_exchanges, f"{name}: {n_ex} Exchange nodes"

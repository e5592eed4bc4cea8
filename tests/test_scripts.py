"""Regression tests for the measurement scripts themselves.

Round-5 ADVICE: scripts/scaling_curve.py crashed with KeyError AFTER
the full sf0.001-0.1 timing run whenever `.sf1/` was absent (SF1-only
query names were iterated by the table loop but never measured) — an
hour of timings lost and SCALING.md never written.  The row renderer
is now a pure function; plant exactly that condition against it.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest


def _load_script(name):
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        f"{name}.py",
    )
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod  # dataclasses resolve annotations through it
    spec.loader.exec_module(mod)
    return mod


def test_render_rows_survives_missing_sf1_measurements():
    sc = _load_script("scaling_curve")
    # measurements exist for the regular QUERIES only — exactly the
    # state after a no-.sf1 run; SF1-only names have NO results entry
    results = {
        name: {"0.001": 0.1, "0.01": 0.2, "0.1": 1.0} for name in sc.QUERIES
    }
    sf1_only = [q for q in sc.SF1_QUERIES if q not in sc.QUERIES]
    assert sf1_only, "fixture assumption: some SF1-only queries exist"
    rows = sc.render_rows(results)  # must not raise KeyError
    assert len(rows) == len(sc.QUERIES) + len(sf1_only)
    # the unmeasured names render as all-dash rows
    for q in sf1_only:
        (row,) = [r for r in rows if f"| {q} |" in r]
        assert row == f"| {q} | — | — | — | — | — | — |"
    # measured names carry their timings and the decade ratio
    assert any("5.00×" in r for r in rows)  # 1.0 / 0.2


def test_render_rows_full_results_unchanged():
    sc = _load_script("scaling_curve")
    results = {
        name: {"0.001": 0.1, "0.01": 0.2, "0.1": 1.0}
        for name in set(sc.QUERIES) | set(sc.SF1_QUERIES)
    }
    for name in sc.SF1_QUERIES:
        results[name]["1"] = 8.0
    rows = sc.render_rows(results)
    (row,) = [r for r in rows if f"| {sc.SF1_QUERIES[0]} |" in r]
    assert "8.0" in row and "8.00×" in row


def test_job_count_rejects_unknown_names_before_starting_spark(monkeypatch):
    # an unknown name used to raise a bare KeyError mid-loop and
    # throw away every count already taken
    from mapreduce_project_spark import session

    def no_spark(*_a, **_k):
        raise AssertionError("Spark started before the names were checked")

    jc = _load_script("job_count")
    monkeypatch.setattr(session, "get_spark", no_spark)
    monkeypatch.setattr(
        sys, "argv", ["job_count.py", "word_count", "no_such_query", "nor_this"]
    )
    with pytest.raises(SystemExit) as exc:
        jc.main()
    assert exc.value.code != 0
    assert "no_such_query, nor_this" in str(exc.value.code)
    assert "word_count" not in str(exc.value.code)


_PLAN = """\
(15) BroadcastHashJoin [codegen id : {a}]
Left keys [1]: [o_orderkey#{x}L]

(19) ShuffleQueryStage
Output [2]: [src#{x}L, dst#{x}L]
Arguments: {a}

(20) BroadcastQueryStage
Output [1]: [node#{x}L]
Arguments: {b}

(26) ResultQueryStage
Output [2]: [src#{x}L, dst#{x}L]
Arguments: {c}

(27) AQEShuffleRead
Input [2]: [src#{x}L, dst#{x}L]
Arguments: coalesced

(39) TableCacheQueryStage
Output [1]: [src#{x}L]
Arguments: 0
"""


def test_plan_dump_masks_codegen_and_query_stage_ids():
    # AQE numbers codegen stages and query stages in the order it
    # happens to materialize them, so two dumps of one tree swapped
    # them (pagerank_trade_graph's cached plan)
    mask_ids = _load_script("dump_query_plan").mask_ids
    one = _PLAN.format(a=1, b=5, c=3, x=17)
    two = _PLAN.format(a=2, b=6, c=4, x=912)
    assert one != two
    assert mask_ids(one) == mask_ids(two)
    masked = mask_ids(one)
    assert "[codegen id : N]" in masked
    assert masked.count("Arguments: N") == 3
    assert "Arguments: coalesced" in masked
    # a table-cache stage's argument is not one of the masked stage ids
    assert masked.endswith("TableCacheQueryStage\nOutput [1]: [src#NL]\nArguments: 0\n")


def test_check_oracles_json_replaces_rerun_rows_and_drops_unregistered():
    co = _load_script("check_oracles")

    def row(ok=True, vacuous=False):
        return {"ok": ok, "vacuous": vacuous, "rows": 1, "sec": 0.1,
                "spark_sec": 0.1, "oracle_sec": 0.0, "err": None if ok else "x"}

    prior = {"sf_dir": "sf", "n_queries": 3, "bad_or_vacuous": 1,
             "results": {"a": row(), "b": row(ok=False), "gone": row()}}
    doc = co.merge_rows(prior, {"b": row(), "c": row(vacuous=True)}, "sf", {"a", "b", "c"})
    assert list(doc["results"]) == ["a", "b", "c"]
    assert doc["results"]["b"]["ok"]  # the re-run row replaced the old one
    assert (doc["sf_dir"], doc["n_queries"], doc["bad_or_vacuous"]) == ("sf", 3, 1)
    # rows recorded at another scale are not merged in
    other = co.merge_rows(prior, {"c": row()}, "other", {"a", "b", "c"})
    assert list(other["results"]) == ["c"] and other["bad_or_vacuous"] == 0


def _artifact(name):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, name), encoding="utf-8") as fh:
        return json.load(fh)


@pytest.mark.parametrize(
    "schedule, artifact",
    [
        ("ann", "KILLMATRIX_ANN.json"),
        # the crawl proof on record predates the harness; a re-run
        # writes KILLMATRIX_CRAWL.json, which then replaces it here
        ("crawl", "KILLMATRIX_CRAWL_r13.json"),
        ("state", "KILLMATRIX_STATE.json"),
    ],
)
def test_stream_fault_matrix_plans_the_rows_of_its_artifact(schedule, artifact):
    # a schedule that drifts from its committed proof must be re-run
    sf = _load_script("stream_faults")
    sched = sf.SCHEDULES[schedule]
    runs = _artifact(artifact)["runs"]
    if schedule == "state":
        planned = [(sf.SPECS[s].label.removesuffix("_stream"), k.depth) for s, k in sched.rows]
        committed = [(r["stream"], r["kill_depth"]) for r in runs]
    else:
        planned = [k.tag for _s, k in sched.rows]
        committed = [r["tag"] for r in runs]
    assert planned == committed


def test_stream_fault_soak_runs_every_stream_of_its_artifact():
    sf = _load_script("stream_faults")
    sched = sf.SCHEDULES["soak"]
    assert [s for s, _k in sched.rows] == list(sf.SPECS)
    assert list(sf.SPECS) == list(_artifact(sched.artifact)["streams"])


def test_stream_fault_row_survives_a_timed_stop(spark, tmp_path):
    from tests.conftest import SF_DIR

    sf = _load_script("stream_faults")
    ctx = sf.Ctx(spark, SF_DIR, str(tmp_path))
    row = sf.run_row(ctx, sf.SPECS["transitions"], sf.Kill("stop", 2, "transitions_02"))
    assert row["green"] and row["restarted"], row
    assert row["killed_after_batches"] >= 2 and row["rows"] > 0


def test_bench_relative_gate_separates_host_speed_from_regression(tmp_path):
    # VERDICT r11 task 6: panel_total judged RELATIVE to the pinned
    # CPU/shuffle probes. A 2x-slower host with a 2x panel passes; the
    # same panel growth on an UNCHANGED host fails.
    mod = _load_script("check_artifacts")

    prev = {
        "panel_total": 15.0, "cpu_probe_sec": 1.0, "shuffle_probe_sec": 0.2,
        "loadavg_1m_start": 0.1,
    }
    (tmp_path / "BENCH_r12.json").write_text(json.dumps(prev))

    def check(cur):
        p = tmp_path / "BENCH_r13.json"
        p.write_text(json.dumps(cur))
        return mod.check_bench_relative(
            str(tmp_path), str(p), 13, cur
        )

    slow_host = dict(prev, panel_total=30.0, cpu_probe_sec=2.0,
                     shuffle_probe_sec=0.4)
    assert check(slow_host) is True
    regression = dict(prev, panel_total=30.0)  # probes unchanged
    assert check(regression) is False
    within_margin = dict(prev, panel_total=19.0)  # +27% < 30% margin
    assert check(within_margin) is True
    # a probe-less BENCH at round >= 12 fails the gate outright
    assert check({"panel_total": 15.0}) is False
    # and the first probed BENCH (no probed predecessor) just records
    (tmp_path / "BENCH_r12.json").write_text(json.dumps({"panel_total": 14.0}))
    assert check(slow_host) is True

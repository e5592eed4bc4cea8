"""Regression tests for the measurement scripts themselves.

Round-5 ADVICE: scripts/scaling_curve.py crashed with KeyError AFTER
the full sf0.001-0.1 timing run whenever `.sf1/` was absent (SF1-only
query names were iterated by the table loop but never measured) — an
hour of timings lost and SCALING.md never written.  The row renderer
is now a pure function; plant exactly that condition against it.
"""

from __future__ import annotations

import importlib.util
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

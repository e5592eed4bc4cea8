"""The query registry: one `@query` decorator, one `DECLARED` slate.

The driver records its correctness rows in registry order, so the
declared slate must be exactly `DECLARED`, in order, and every other
registered query must stay reachable through `EXTRA_*` and `ALL_*`.
No name, registered or module-level, may be defined twice.
"""

from __future__ import annotations

import ast
import collections
import glob
import json
import os
import subprocess
import sys

import pytest

from mapreduce_project_spark import queries_registry as R

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_declared_is_the_driver_recorded_slate_in_order():
    with open(os.path.join(ROOT, "CORRECTNESS_r14.json"), encoding="utf-8") as fh:
        assert tuple(json.load(fh)) == R.DECLARED


def test_split_maps_partition_the_registry():
    assert tuple(R.QUERIES) == R.DECLARED
    assert list(R.ORACLES) == [n for n in R.DECLARED if n in R.ALL_ORACLES]
    assert set(R.QUERIES).isdisjoint(R.EXTRA_QUERIES)
    assert {**R.QUERIES, **R.EXTRA_QUERIES} == R.ALL_QUERIES
    assert {**R.ORACLES, **R.EXTRA_ORACLES} == R.ALL_ORACLES


def test_second_registration_of_a_name_raises():
    before = R.ALL_QUERIES["word_count"]
    with pytest.raises(ValueError, match="word_count"):
        R.query("word_count")
    assert R.ALL_QUERIES["word_count"] is before


@pytest.mark.parametrize(
    ("declared", "bad"),
    [
        (("word_count", "inverted_index", "word_count"), "word_count"),
        (("word_count", "no_such_query"), "no_such_query"),
    ],
)
def test_declared_rejects_duplicate_and_unregistered_names(declared, bad):
    with pytest.raises(ValueError, match=bad):
        R.check_declared(declared)


def test_plans_module_imports_before_the_registry():
    code = (
        "import mapreduce_project_spark.plans.similarity_queries\n"
        "from mapreduce_project_spark import queries_registry as R\n"
        "print(len(R.QUERIES), len(R.EXTRA_QUERIES))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.split() == [str(len(R.QUERIES)), str(len(R.EXTRA_QUERIES))]


def test_no_module_defines_a_top_level_name_twice():
    # a second module-level def/class silently replaces the first (the
    # registry's double registration, the ORC reader pair in sources/io)
    dupes = {}
    for path in glob.glob(os.path.join(ROOT, "mapreduce_project_spark", "**", "*.py"),
                          recursive=True) + glob.glob(os.path.join(ROOT, "scripts", "*.py")):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        names = collections.Counter(
            node.name for node in tree.body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        )
        twice = sorted(n for n, k in names.items() if k > 1)
        if twice:
            dupes[os.path.relpath(path, ROOT)] = twice
    assert dupes == {}

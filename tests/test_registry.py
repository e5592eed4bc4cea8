"""The query registry: one `@query` decorator, one `DECLARED` slate.

The driver records its correctness rows in registry order, so the
declared slate must be exactly `DECLARED`, in order, and every other
registered query must stay reachable through `EXTRA_*` and `ALL_*`.
No name, registered or module-level, may be defined twice, no block
of engine code may be pasted twice, no engine parameter may keep a
default that every call leaves as it is, and only one driver may call
``applyInPandasWithState``.
"""

from __future__ import annotations

import ast
import collections
import glob
import io
import json
import os
import subprocess
import sys
import tokenize

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


CLONE_LINES = 12


def _code_lines(path: str) -> list[tuple[int, str, str]]:
    """``(line number, whitespace-normalised text, top-level def)`` of every
    code line of ``path``: no blank or comment lines, no multi-line string
    literals, and nothing inside a def or assignment whose name contains
    ``oracle`` (the DuckDB reference SQL mirrors the plans on purpose)."""
    with open(path, encoding="utf-8") as fh:
        src = fh.read()
    skip, owner = set(), {}
    for node in ast.walk(ast.parse(src, path)):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names = [node.name]
            for ln in range(node.lineno, node.end_lineno + 1):
                owner.setdefault(ln, node.name)  # breadth-first: outermost wins
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
        else:
            continue
        if any("oracle" in n.lower() for n in names):
            skip.update(range(node.lineno, node.end_lineno + 1))
    text = collections.defaultdict(list)
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in (tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
                        tokenize.DEDENT, tokenize.ENDMARKER):
            continue
        if tok.type == tokenize.STRING and tok.start[0] != tok.end[0]:
            continue
        text[tok.start[0]].append(tok.string)
    return [(ln, " ".join(toks), owner.get(ln, "<module>"))
            for ln, toks in sorted(text.items()) if ln not in skip]


def test_no_block_of_engine_code_is_pasted_twice():
    # a sub-plan pasted into several queries drifts apart copy by copy
    # (the op check of `sources/io.py`, whose one copy without a NULL
    # guard deleted rows); a shared function is written once
    sites = collections.defaultdict(list)
    for path in sorted(glob.glob(os.path.join(ROOT, "mapreduce_project_spark", "**", "*.py"),
                                 recursive=True)):
        rel = os.path.relpath(path, ROOT)
        lines = _code_lines(path)
        for i in range(len(lines) - CLONE_LINES + 1):
            block = tuple(text for _, text, _ in lines[i:i + CLONE_LINES])
            sites[block].append((f"{rel}::{lines[i][2]}", lines[i][0]))
    families = collections.defaultdict(dict)
    for where in sites.values():
        if len(where) > 1:
            family = families[" = ".join(sorted({name for name, _ in where}))]
            for name, ln in where:
                family[name] = min(ln, family.get(name, ln))
    copies = sorted(
        " = ".join(f"{name} (line {ln})" for name, ln in sorted(family.items()))
        for family in families.values()
    )
    assert not copies, f"{CLONE_LINES}-line blocks written twice:\n" + "\n".join(copies)


def test_only_the_keyed_fold_driver_calls_apply_in_pandas_with_state():
    # every stateful stream is a per-key fold over one driver that owns
    # the GroupState protocol; a second hand-written copy drifts from it
    callers = []

    def visit(node, owner, rel):
        for child in ast.iter_child_nodes(node):
            inner = owner
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            elif isinstance(child, ast.Call) and \
                    getattr(child.func, "attr", None) == "applyInPandasWithState":
                callers.append(f"{rel}::{owner}")
            visit(child, inner, rel)

    for path in sorted(glob.glob(os.path.join(ROOT, "mapreduce_project_spark", "**", "*.py"),
                                 recursive=True)):
        with open(path, encoding="utf-8") as fh:
            visit(ast.parse(fh.read(), path), "<module>",
                  os.path.relpath(path, os.path.join(ROOT, "mapreduce_project_spark")))
    assert callers == ["streaming/events.py::_keyed_fold"]


# Defaulted engine parameters that every call may leave at the default.
# Each one is a real option of the interface it belongs to.
OPTION_EXEMPT = {
    "mapreduce.py::run_job(num_input_partitions)":
        "the reference job's `num_maps` field, part of the facade's contract",
}


def _engine_options() -> list[tuple[str, str, list[tuple[str, int | None, ast.expr]]]]:
    """``(where, called name, [(defaulted param, its position or None
    when keyword-only, its default)])`` of every engine def; methods drop
    ``self``/``cls`` and a class's ``__init__`` is called by the class
    name."""
    out = []
    for path in sorted(glob.glob(os.path.join(ROOT, "mapreduce_project_spark", "**", "*.py"),
                                 recursive=True)):
        rel = os.path.relpath(path, os.path.join(ROOT, "mapreduce_project_spark"))
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        owner = {id(m): c for c in ast.walk(tree) if isinstance(c, ast.ClassDef) for m in c.body}
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a, name = node.args, node.name
            pos = [p.arg for p in a.posonlyargs + a.args]
            if id(node) in owner and not any(
                getattr(d, "id", "") == "staticmethod" for d in node.decorator_list
            ):
                pos = pos[1:]
                name = owner[id(node)].name if name == "__init__" else name
            defaulted = [
                (p, pos.index(p), d)
                for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)
            ]
            defaulted += [
                (p.arg, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            ]
            if defaulted:
                out.append((f"{rel}::{node.name}", name, defaulted))
    return out


def _literal(node: ast.expr):
    """``node``'s literal value tagged with its repr (so ``1``, ``1.0``
    and ``True`` differ), or a fresh object, equal to nothing, when the
    node is not a literal."""
    try:
        return repr(ast.literal_eval(node))
    except ValueError:
        return object()


def _calls() -> dict[str, list]:
    """Called name → the checkout's calls of it, each ``(positional
    argument nodes, {keyword: node})``, or ``"*"`` when the callee is
    referenced as a value or called with ``*args``/``**kwargs`` (every
    parameter then counts as set)."""
    calls = collections.defaultdict(list)
    for path in glob.glob(os.path.join(ROOT, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        callees = set()
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            callees.add(id(node.func))
            name = getattr(node.func, "id", getattr(node.func, "attr", None))
            if any(isinstance(x, ast.Starred) for x in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                calls[name].append("*")
            else:
                calls[name].append((node.args, {k.arg: k.value for k in node.keywords}))
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load) \
                    and id(node) not in callees:
                calls[node.id].append("*")
            elif isinstance(node, ast.Attribute) and id(node) not in callees:
                calls[node.attr].append("*")
    return calls


def _set_by_some_call(param: str, i: int | None, default: ast.expr, calls: list) -> bool:
    """Whether one of ``calls`` passes ``param`` (at position ``i``, or
    by keyword) a value other than its ``default``; an argument that is
    not a literal counts as a different value."""
    for call in calls:
        if call == "*":
            return True
        args, kws = call
        arg = args[i] if i is not None and i < len(args) else kws.get(param)
        if arg is not None and _literal(arg) != _literal(default):
            return True
    return False


def test_no_engine_option_is_left_at_its_default_by_every_call():
    # a parameter no caller sets to another value is a setting with one
    # value in use: tests and benchmarks would have to cover the values
    # nobody runs
    calls = _calls()
    unset = {
        f"{where}({p})"
        for where, name, defaulted in _engine_options()
        for p, i, d in defaulted
        if not _set_by_some_call(p, i, d, calls.get(name, []))
    }
    options = sorted(unset - set(OPTION_EXEMPT))
    assert not options, "parameters no call sets (make them constants):\n" + "\n".join(options)
    stale = sorted(set(OPTION_EXEMPT) - unset)
    assert not stale, "OPTION_EXEMPT entries some call now sets:\n" + "\n".join(stale)

"""Session preparation: every registered query calls `prep_session` on
the session the driver hands in, so a conf the driver (or an earlier
query) changed must come back before the query is planned. Also the
Python daemon `get_spark` starts its workers from, which re-reads a zip
archive only when it changed."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from mapreduce_project_spark import pydaemon
from mapreduce_project_spark.session import RUNTIME_CONFS, prep_session


def test_prep_session_restores_every_runtime_conf(spark):
    flipped = {"true": "false", "false": "true", "UTC": "America/New_York"}
    try:
        for key, val in RUNTIME_CONFS:
            spark.conf.set(key, flipped[val])
        assert all(spark.conf.get(k) != v for k, v in RUNTIME_CONFS)
        prep_session(spark)
        assert {k: spark.conf.get(k) for k, _ in RUNTIME_CONFS} == dict(RUNTIME_CONFS)
    finally:
        prep_session(spark)


# --- the engine's Python daemon (mapreduce_project_spark/pydaemon.py) ---

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def zip_reads(monkeypatch):
    """Count zip directory parses, with the import caches isolated."""
    count = [0]
    real = zipimport._read_directory

    def counting(archive):
        count[0] += 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    monkeypatch.setattr(pydaemon, "_read_as", {})
    return count


def _write_zip(path, module: str, body: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", body)


def test_daemon_does_not_reparse_an_unchanged_zip(tmp_path, zip_reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, "m1", "VALUE = 1\n")
    importers = [zipimport.zipimporter(archive), zipimport.zipimporter(archive)]
    assert zip_reads[0] == 1  # the second importer took the first one's directory
    for _ in range(3):
        for imp in importers:
            pydaemon.invalidate_caches(imp)
    assert zip_reads[0] == 2  # the first call reads it once; then nothing changed


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_daemon_rereads_a_rewritten_zip(tmp_path, zip_reads, change):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, "m1", "VALUE = 1\n")
    imp, other = zipimport.zipimporter(archive), zipimport.zipimporter(archive)
    pydaemon.invalidate_caches(imp)
    pydaemon.invalidate_caches(other)
    before = os.stat(archive)
    _write_zip(archive, "m2", "VALUE = 22222\n" if change == "size" else "VALUE = 2\n")
    if change == "mtime":
        assert os.stat(archive).st_size == before.st_size
        os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    reads = zip_reads[0]
    for i in (imp, other):
        pydaemon.invalidate_caches(i)
    assert zip_reads[0] == reads + 1  # re-read once, shared by both importers
    for i in (imp, other):
        assert i.find_spec("m1") is None
        spec = i.find_spec("m2")
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        assert module.VALUE == (22222 if change == "size" else 2)


def test_daemon_falls_back_for_a_deleted_zip(tmp_path, zip_reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, "m1", "VALUE = 1\n")
    imp = zipimport.zipimporter(archive)
    pydaemon.invalidate_caches(imp)
    reads = zip_reads[0]
    os.remove(archive)
    pydaemon.invalidate_caches(imp)  # stat fails: zipimport's own method runs
    assert zip_reads[0] == reads + 1
    assert imp._files == {} and archive not in zipimport._zip_directory_cache
    assert imp.find_spec("m1") is None


_WORKER_SCRIPT = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])
    import pandas as pd
    from mapreduce_project_spark.session import get_spark

    def probe(batches):
        import os, zipimport
        reads = getattr(zipimport, "_probe_reads", None)
        if reads is None:  # first task: count the parses of later ones
            reads = zipimport._probe_reads = [0]
            real = zipimport._read_directory

            def counting(archive):
                reads[0] += 1
                return real(archive)

            zipimport._read_directory = counting
            parsed = -1
        else:
            parsed, reads[0] = reads[0], 0
        for _ in batches:
            pass
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pd.DataFrame({"pid": [os.getpid()], "parsed": [parsed], "file": [code.co_filename]})

    spark = get_spark("pydaemon-probe")
    one = spark.range(0, 1, 1, 1)
    rows = [one.mapInPandas(probe, "pid long, parsed long, file string").collect()[0].asDict()
            for _ in range(4)]
    print("PROBE " + json.dumps(rows))
    spark.stop()
    """
)


def test_workers_run_the_engine_daemon_from_any_cwd(tmp_path):
    """A session built from a cwd outside the checkout, with no
    PYTHONPATH, still starts its workers from the engine's daemon, and
    warm tasks parse no zip directory."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER_SCRIPT, ROOT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(x for x in proc.stdout.splitlines() if x.startswith("PROBE "))
    rows = json.loads(line[len("PROBE "):])
    assert {r["pid"] for r in rows} == {rows[0]["pid"]}  # one reused worker
    engine_file = os.path.realpath(pydaemon.__file__)
    assert [os.path.realpath(r["file"]) for r in rows] == [engine_file] * 4
    assert [r["parsed"] for r in rows[1:]] == [0, 0, 0]

"""CLI tests (A20/A18 parity): query listing/running and map/reduce job
files loaded by function name, including the wrong-name negative case
(≡ reference test.py:288-310)."""

from __future__ import annotations

import time
from types import SimpleNamespace

import pytest

from mapreduce_project_spark.cli import load_user_function, main
from tests.conftest import SF_DIR

JOB_SRC = '''
def iterator_function(file_bytes, metadata):
    # reference job contract: iterators receive RAW BYTES and decode
    # themselves (client_folder/jobs/word_count.py)
    yield metadata["file_path"], file_bytes.decode("utf-8")

def map_function(key, value):
    for tok in str(value).split():
        yield tok, 1

def reduce_function(key, values):
    return key, sum(int(v) for v in values)
'''


def test_list_prints_queries(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out.split()
    assert "word_count" in out and "similarity_topk" in out


def test_run_query(spark, capsys):
    assert main(["run", "word_count", "--sf-dir", SF_DIR, "--show", "3"], spark=spark) == 0
    assert "word" in capsys.readouterr().out


def test_run_unknown_query(spark, capsys):
    assert main(["run", "nope", "--sf-dir", SF_DIR], spark=spark) == 2


def test_mapreduce_job_file(spark, tmp_path, capsys):
    job = tmp_path / "job.py"
    job.write_text(JOB_SRC)
    data = tmp_path / "in.txt"
    data.write_text("a b a")
    rc = main(
        [
            "mapreduce",
            "--job", str(job),
            "--inputs", str(data),
            "--iterator", "iterator_function",
        ],
        spark=spark,
    )
    assert rc == 0
    got = dict(
        line.split("\t") for line in capsys.readouterr().out.strip().splitlines()
    )
    assert got == {"a": "2", "b": "1"}


def test_load_user_function_wrong_name(tmp_path):
    job = tmp_path / "job.py"
    job.write_text(JOB_SRC)
    with pytest.raises(AttributeError, match="no_such_fn"):
        load_user_function(str(job), "no_such_fn")


def test_service_lifecycle_end_to_end(tmp_path, capsys):
    # start → status → submit (warm run, no per-job JVM) → logs → stop,
    # entirely through the CLI, against an isolated state dir
    state = str(tmp_path / "svc")
    assert main(["start", "--state-dir", state]) == 0
    try:
        assert main(["status", "--state-dir", state]) == 0
        assert "up (uptime" in capsys.readouterr().out

        t0 = time.monotonic()
        assert main(
            ["submit", "word_count", "--state-dir", state, "--limit", "5"]
        ) == 0
        warm_s = time.monotonic() - t0
        out, err = capsys.readouterr()
        header, *rows = out.strip().splitlines()
        assert header.split("\t") == ["word", "cnt"]
        assert len(rows) == 5
        assert "# rows:" in err
        # the point of the service: a submission must NOT pay the ~10 s
        # JVM+session bootstrap (generous bound for a busy CI box)
        assert warm_s < 30

        assert main(["submit", "nope", "--state-dir", state]) == 2
        assert "unknown query" in capsys.readouterr().err

        assert main(["logs", "--state-dir", state]) == 0
        assert "service ready" in capsys.readouterr().out
    finally:
        assert main(["stop", "--state-dir", state]) == 0
    assert main(["status", "--state-dir", state]) == 1
    assert main(["stop", "--state-dir", state]) == 1  # idempotent: nothing left


def test_upload_data_then_run_job_on_it(spark, tmp_path, capsys):
    # the reference flow: upload local data files, then run a job over
    # the uploaded copies (upload_data.py → map_reduce job on HDFS paths)
    src = tmp_path / "data"
    src.mkdir()
    (src / "a.txt").write_text("hello world\n")
    (src / "b.txt").write_text("hello spark\n")
    dest = str(tmp_path / "warehouse" / "in")
    assert main(["upload_data", str(src), dest], spark=spark) == 0
    out = capsys.readouterr().out
    assert "2 file(s)" in out

    from mapreduce_project_spark.sources import read_text_lines

    lines = sorted(r["value"] for r in read_text_lines(spark, dest).collect())
    assert lines == ["hello spark", "hello world"]

    # empty source dir is a user error, not a silent success
    empty = tmp_path / "empty"
    empty.mkdir()
    assert main(["upload_data", str(empty), dest], spark=spark) == 1


def test_run_explain_prints_plan(spark, capsys):
    assert main(["run", "filter_project", "--explain"], spark=spark) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "PushedFilters" in out


def test_submit_without_service_fails_cleanly(tmp_path, capsys):
    state = str(tmp_path / "nosvc")
    assert main(["submit", "word_count", "--state-dir", state]) == 1
    assert "submit failed" in capsys.readouterr().err


def test_service_concurrent_submissions(tmp_path):
    # the reference proves 3 concurrent jobs against its master
    # (test.py:173-236); mirror that against the engine service — the
    # socket server serializes requests, so all must succeed with
    # correct, independent results
    import threading

    from mapreduce_project_spark import service

    state = str(tmp_path / "svc2")
    assert main(["start", "--state-dir", state]) == 0
    try:
        results = {}

        def submit(name, query):
            results[name] = service.request(
                {"op": "run", "query": query, "sf_dir": "/root/testdata/sf0.001",
                 "limit": 3},
                state,
            )

        threads = [
            threading.Thread(target=submit, args=(f"t{i}", q))
            for i, q in enumerate(
                ["word_count", "agg_pricing_summary", "text_stats"]
            )
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert len(results) == 3
        assert all(r.get("ok") for r in results.values()), results
        assert results["t0"]["columns"] == ["word", "cnt"]
        assert results["t1"]["n"] > 0 and results["t2"]["n"] > 0
    finally:
        assert main(["stop", "--state-dir", state]) == 0


class _CountingFrame:
    """DataFrame stand-in over ``n`` one-column rows; records each action."""

    columns = ["x"]

    def __init__(self, n, actions, taken=None):
        self.n, self.actions, self.taken = n, actions, taken

    def limit(self, k):
        return _CountingFrame(self.n, self.actions, k)

    def collect(self):
        self.actions.append("collect")
        return [(i,) for i in range(min(self.n, self.taken))]

    def count(self):
        self.actions.append("count")
        return self.n

    @property
    def sparkSession(self):
        return SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))


@pytest.mark.parametrize(
    ("n", "actions"), [(3, ["collect"]), (5, ["collect"]), (9, ["collect", "count"])]
)
def test_service_run_counts_only_a_result_past_the_limit(n, actions):
    # a result that fits the limit runs the query once; n == len(rows)
    from mapreduce_project_spark.service import run_response

    done = []
    resp = run_response(_CountingFrame(n, done), 5)
    assert done == actions
    assert resp == {
        "ok": True, "n": n, "columns": ["x"], "rows": [[i] for i in range(min(n, 5))]
    }


def test_service_run_leaves_the_session_cache_empty(spark):
    # a query that caches while it is built must not leave its blocks
    # in the resident session once the reply is sent
    from mapreduce_project_spark.queries_registry import ALL_QUERIES
    from mapreduce_project_spark.service import run_response

    cache = spark._jsparkSession.sharedState().cacheManager()
    df = ALL_QUERIES["dedup_minhash_lsh"](spark, SF_DIR)
    assert not cache.isEmpty(), "precondition: the query caches"
    assert run_response(df, 5)["ok"]
    assert cache.isEmpty()

"""MapReduce facade tests — mirroring the reference's own test suite
(``client_folder/scripts/test.py``): differential against a pure-Python
local re-execution (≡ ``run_job_locally``, test.py:48-72), negative
cases (test.py:238-310), file-input mode, and concurrent submissions
(test.py:173-236).
"""

from __future__ import annotations

import threading

import pytest

from mapreduce_project_spark.jobs import inverted_index_mr as ii
from mapreduce_project_spark.jobs import word_count_mr as wc
from mapreduce_project_spark.mapreduce import run_job
from mapreduce_project_spark.sources import load_table
from tests.conftest import SF_DIR

from pyspark.sql import functions as F


def _docs_kv(spark):
    return load_table(spark, SF_DIR, "documents").select(
        F.col("doc_id").cast("string").alias("key"), F.col("text").alias("value")
    )


def _run_locally(kv_rows, map_fn, reduce_fn):
    """Sequential oracle ≡ the reference's run_job_locally (test.py:48-72):
    map over all records, group values (stringified) per key, reduce."""
    groups: dict[str, list[str]] = {}
    for k, v in kv_rows:
        for k2, v2 in map_fn(k, v):
            groups.setdefault(str(k2), []).append(str(v2))
    out = {}
    for k, values in groups.items():
        result = reduce_fn(k, values)
        pairs = [result] if isinstance(result, tuple) else list(result)
        for k2, v2 in pairs:
            out[str(k2)] = str(v2)
    return out


def test_word_count_facade_matches_local_oracle(spark):
    kv = [(r["key"], r["value"]) for r in _docs_kv(spark).collect()]
    want = _run_locally(kv, wc.mr_map, wc.mr_reduce)
    got = {r["key"]: r["value"] for r in run_job(spark, _docs_kv(spark), wc.mr_map, wc.mr_reduce).collect()}
    assert got == want


def test_inverted_index_facade_matches_local_oracle(spark):
    kv = [(r["key"], r["value"]) for r in _docs_kv(spark).collect()]
    want = _run_locally(kv, ii.mr_map, ii.mr_reduce)
    got = {r["key"]: r["value"] for r in run_job(spark, _docs_kv(spark), ii.mr_map, ii.mr_reduce).collect()}
    assert got == want


def test_facade_matches_native_word_count(spark):
    from mapreduce_project_spark.jobs import word_count

    native = {
        (r["word"], r["cnt"])
        for r in word_count(load_table(spark, SF_DIR, "documents")).collect()
    }
    facade = {
        (r["key"], int(r["value"]))
        for r in run_job(spark, _docs_kv(spark), wc.mr_map, wc.mr_reduce).collect()
    }
    assert facade == native


def test_file_input_mode_with_iterator(spark, tmp_path):
    # ≡ reference whole-file iterator jobs over HDFS text files
    (tmp_path / "f1.txt").write_text("the quick brown fox\nthe lazy dog")
    (tmp_path / "f2.txt").write_text("the dog barks")
    out = {
        r["key"]: r["value"]
        for r in run_job(
            spark,
            [str(tmp_path / "f1.txt"), str(tmp_path / "f2.txt")],
            wc.mr_map,
            wc.mr_reduce,
            iterator_fn=wc.mr_iterator,
        ).collect()
    }
    assert out["the"] == "3"
    assert out["dog"] == "2"
    assert out["fox"] == "1"


def test_default_line_iterator(spark, tmp_path):
    # default record = one line, key = line number (worker.py:141-145)
    (tmp_path / "f.txt").write_text("a b\nb c")

    def line_map(k, v):
        yield f"line{k}", len(str(v).split())

    def line_reduce(k, values):
        return k, sum(int(v) for v in values)

    out = {
        r["key"]: r["value"]
        for r in run_job(spark, [str(tmp_path / "f.txt")], line_map, line_reduce).collect()
    }
    assert out == {"line0": "2", "line1": "2"}


def test_invalid_partition_count_rejected(spark):
    # ≡ test.py:238-262 (num_reducers=0 rejected)
    with pytest.raises(ValueError, match="num_partitions"):
        run_job(spark, _docs_kv(spark), wc.mr_map, wc.mr_reduce, num_partitions=0)


def test_non_callable_function_rejected(spark):
    # ≡ test.py:288-310 (wrong function name)
    with pytest.raises(TypeError):
        run_job(spark, _docs_kv(spark), "not_a_function", wc.mr_reduce)


def test_missing_input_path_fails(spark):
    # ≡ test.py:264-286 (nonexistent input)
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        run_job(spark, ["/nonexistent/input.txt"], wc.mr_map, wc.mr_reduce).collect()


def test_concurrent_jobs(spark):
    # ≡ test.py:173-236 (3 concurrent identical jobs, each checked)
    results: list[dict] = [None] * 3
    errors: list[Exception] = []

    def submit(i):
        try:
            rows = run_job(spark, _docs_kv(spark), wc.mr_map, wc.mr_reduce).collect()
            results[i] = {r["key"]: r["value"] for r in rows}
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=submit, args=(i,)) for i in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert results[0] and results[0] == results[1] == results[2]

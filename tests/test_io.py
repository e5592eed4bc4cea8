"""Source/sink roundtrips: text, JSON lines, CSV, parquet, binaryFile —
the A1/A10/A19 surface generalized to the formats a pipeline ingests —
plus the incremental sinks: changelog merges, join views and edge views
with their op checks, and the GDPR erasure cascade through them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_project_spark.sources import (
    read_binary_files,
    read_csv,
    read_json_lines,
    read_text_lines,
    read_whole_text_files,
    write_csv,
    write_json_lines,
    write_parquet,
    write_text_lines,
)


def test_text_roundtrip(spark, tmp_path):
    lines = ["alpha", "beta", "gamma"]
    df = spark.createDataFrame([(x,) for x in lines], "value string")
    out = str(tmp_path / "txt")
    write_text_lines(df, out)
    back = read_text_lines(spark, out)
    assert sorted(r["value"] for r in back.collect()) == sorted(lines)


def test_json_roundtrip_with_schema(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, name string, score double"
    )
    out = str(tmp_path / "json")
    write_json_lines(df, out)
    back = read_json_lines(spark, out, "id long, name string, score double")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_csv_roundtrip_with_schema(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "x,comma", 10.0), (2, "plain", 20.0)], "id long, label string, v double"
    )
    out = str(tmp_path / "csv")
    write_csv(df, out)
    back = read_csv(spark, out, "id long, label string, v double")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_parquet_partitioned_write(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id long, part string"
    )
    out = str(tmp_path / "pq")
    write_parquet(df, out, partition_by=["part"])
    back = spark.read.parquet(out)
    # partition pruning: reading part=a must scan only that directory
    only_a = back.filter(F.col("part") == "a")
    assert only_a.count() == 2
    assert sorted(r["id"] for r in back.collect()) == [1, 2, 3]


def test_sql_surface_over_registered_views(spark, duck):
    from mapreduce_project_spark.sources import register_tables
    from tests.conftest import SF_DIR, assert_matches_oracle

    register_tables(spark, SF_DIR)
    sql = """
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders GROUP BY o_orderstatus
    """
    assert_matches_oracle(spark.sql(sql), duck, sql)


def test_partition_pruning_in_plan(spark, tmp_path):
    from mapreduce_project_spark.plans.inspect import formatted_plan

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(100)], "id long, part string"
    )
    out = str(tmp_path / "pq_pruned")
    write_parquet(df, out, partition_by=["part"])
    pruned = spark.read.parquet(out).filter(F.col("part") == "a")
    plan = formatted_plan(pruned)
    assert "PartitionFilters" in plan and "part" in plan.split("PartitionFilters", 1)[1][:200]
    assert pruned.count() == 50


def test_job_status_tracker(spark):
    """A17: the reference's declared-but-unimplemented JobStatus RPC
    (`master_client.proto:28-36` — done + pending task counts). During
    an action, pending-task counts are observable; afterwards they
    drain to zero (the proto's 'done' condition)."""
    import threading
    import time

    from mapreduce_project_spark.session import job_status

    st = job_status(spark)
    assert set(st) == {
        "active_job_ids",
        "active_stage_ids",
        "pending_tasks",
        "pending_tasks_total",
    }
    assert isinstance(st["active_job_ids"], list)
    # idle session: nothing pending
    assert st["pending_tasks_total"] == 0

    # poll while a deliberately slow multi-task action runs
    seen = []

    def poll():
        for _ in range(200):
            s = job_status(spark)
            seen.append(s["pending_tasks_total"])
            time.sleep(0.02)

    t = threading.Thread(target=poll)
    t.start()
    (
        spark.range(0, 64, 1, 16)
        .selectExpr("java_method('java.lang.Thread', 'sleep', 80L)", "id")
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    after = job_status(spark)
    t.join()
    # pending counts were visible mid-flight and drained to zero after
    assert max(seen) > 0
    assert after["pending_tasks_total"] == 0


def test_custom_linefile_datasource(spark, tmp_path):
    from mapreduce_project_spark.sources.custom import register_linefile_source

    (tmp_path / "a.txt").write_text("alpha\nbeta")
    (tmp_path / "b.txt").write_text("gamma")
    register_linefile_source(spark)
    df = (
        spark.read.format("linefile")
        .option("path", str(tmp_path / "*.txt"))
        .load()
    )
    assert df.rdd.getNumPartitions() == 2  # one partition per file
    rows = {(r["file_path"].rsplit("/", 1)[-1], r["line_no"], r["line"]) for r in df.collect()}
    assert rows == {("a.txt", 0, "alpha"), ("a.txt", 1, "beta"), ("b.txt", 0, "gamma")}
    # word count straight off the custom source (reference's default
    # line-iterator pipeline, end to end)
    wc = {
        (r["w"], r["cnt"])
        for r in df.selectExpr("explode(split(lower(line), ' ')) as w")
        .groupBy("w").count().withColumnRenamed("count", "cnt").collect()
    }
    assert ("alpha", 1) in wc and len(wc) == 3


def test_sorted_parquet_write_roundtrip(spark, tmp_path):
    from mapreduce_project_spark.sources.io import write_sorted_parquet

    df = spark.range(1000).selectExpr("id % 97 as k", "id as v")
    out = str(tmp_path / "sorted_pq")
    write_sorted_parquet(df, out, ["k"], max_records_per_file=400)
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}
    # each file covers a narrow, sorted k-range (the stats-skipping property)
    import pyarrow.parquet as pq
    import glob
    for f in glob.glob(f"{out}/*.parquet"):
        ks = pq.read_table(f, columns=["k"])["k"].to_pylist()
        assert ks == sorted(ks)


def test_reference_byte_compat_golden(spark, tmp_path):
    """SURVEY §5 byte-compat golden: the facade + text sink reproduce the
    reference worker's reduce-output lines BYTE-FOR-BYTE.

    Reference line format (``worker.py:203-205``): ``f"{key}\\t{value}"``
    per reduce output pair, newline-terminated by ``write_lines``
    (``worker.py:52-58``). The golden side is a pure-Python rerun of the
    reference semantics (iterator → map → str-coerced shuffle → group →
    reduce), mirroring ``client_folder/scripts/test.py:48-72``. Line
    order is partition-dependent in both engines (the reference writes
    one file per reducer), so both sides compare as sorted raw bytes.
    """
    from mapreduce_project_spark.jobs import word_count_mr as wc
    from mapreduce_project_spark.mapreduce import run_job

    inputs = tmp_path / "in"
    inputs.mkdir()
    (inputs / "a.txt").write_text("Hello world, hello Spark!\nThe world turns.\n")
    (inputs / "b.txt").write_text("spark and THE engine; engine room\n")
    paths = sorted(str(p) for p in inputs.iterdir())

    # engine side: facade job → key\tvalue lines → text sink
    df = run_job(
        spark, paths, wc.mr_map, wc.mr_reduce,
        iterator_fn=wc.mr_iterator, num_partitions=2,
    )
    out = str(tmp_path / "golden_out")
    write_text_lines(df.select(F.concat_ws("\t", "key", "value")), out)
    import glob
    engine_lines: list[bytes] = []
    for f in sorted(glob.glob(f"{out}/part-*")):
        with open(f, "rb") as fh:
            engine_lines += [ln + b"\n" for ln in fh.read().splitlines()]

    # golden side: the reference pipeline rerun sequentially in pure
    # Python (worker.py:131-145 map task, :193-207 reduce task)
    grouped: dict[str, list[str]] = {}
    for p in paths:
        raw = open(p, "rb").read()
        for k1, v1 in wc.mr_iterator(raw, {"file_path": p, "size": len(raw)}):
            for k2, v2 in wc.mr_map(k1, v1):
                grouped.setdefault(str(k2), []).append(str(v2))  # worker.py:137-138 str coercion
    golden_lines = []
    for k, values in grouped.items():
        rk, rv = wc.mr_reduce(k, values)
        golden_lines.append(f"{rk}\t{rv}\n".encode("utf-8"))

    assert b"".join(sorted(engine_lines)) == b"".join(sorted(golden_lines))
    assert engine_lines, "golden job produced no output"


def test_whole_and_binary_file_metadata(spark, tmp_path):
    p = tmp_path / "f1.txt"
    p.write_text("hello world")
    whole = read_whole_text_files(spark, str(tmp_path / "*.txt")).collect()
    assert len(whole) == 1
    assert whole[0]["content"] == "hello world"
    assert whole[0]["size"] == 11
    assert whole[0]["file_path"].endswith("f1.txt")
    binary = read_binary_files(spark, str(tmp_path / "*.txt")).collect()
    assert bytes(binary[0]["content"]) == b"hello world"


def test_zorder_layout_clusters_every_dimension(spark, tmp_path):
    # single-column sort clusters only its first column: a filter on the
    # OTHER column intersects every file. The Morton layout clusters
    # both, so a one-dim slice on the second column prunes files too.
    import pyarrow.parquet as pq

    from mapreduce_project_spark.sources import load_table
    from mapreduce_project_spark.sources.io import write_sorted_parquet, write_zorder_parquet
    from tests.conftest import SF_DIR

    orders = load_table(spark, SF_DIR, "orders")
    zdir, sdir = str(tmp_path / "z"), str(tmp_path / "s")
    write_zorder_parquet(orders, zdir, ["o_custkey", "o_totalprice"], n_files=16)
    write_sorted_parquet(orders, sdir, ["o_custkey"])

    lo, hi = orders.approxQuantile("o_totalprice", [0.45, 0.55], 0.0)

    def files_touched(d):
        import glob

        n_total, n_hit = 0, 0
        for f in glob.glob(f"{d}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx["o_totalprice"]).statistics
                mins.append(st.min)
                maxs.append(st.max)
            n_total += 1
            if min(mins) <= hi and max(maxs) >= lo:
                n_hit += 1
        return n_hit, n_total

    z_hit, z_total = files_touched(zdir)
    s_hit, s_total = files_touched(sdir)
    assert s_hit == s_total, "single-col sort: second-dim slice hits every file"
    assert z_hit < z_total, (z_hit, z_total)
    # round-trip integrity: same rows either way
    assert spark.read.parquet(zdir).count() == orders.count()


def test_merge_partitioned_rollup_incremental_and_partition_stable(spark, tmp_path):
    """Incremental rollup: two batches (the second carrying late data
    for an already-written day) must equal the one-shot recompute, and
    partitions untouched by batch 2 must keep their exact files."""
    import os

    from pyspark.sql import functions as F

    from mapreduce_project_spark.sources.io import merge_partitioned_rollup

    path = str(tmp_path / "rollup")
    rows1 = [("d1", "click", 1.0), ("d1", "view", 2.0), ("d2", "click", 3.0)]
    rows2 = [("d2", "click", 4.0), ("d3", "view", 5.0)]  # d2 is late data
    schema = "day string, event_type string, value double"
    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)

    merge_partitioned_rollup(spark, b1, path, "day", ["event_type"], {"sum_value": "value"})
    d1_files = sorted(os.listdir(f"{path}/day=d1"))
    merge_partitioned_rollup(spark, b2, path, "day", ["event_type"], {"sum_value": "value"})

    got = {
        (r["day"], r["event_type"]): (r["n_rows"], float(r["sum_value"]))
        for r in spark.read.parquet(path).collect()
    }
    full = (
        b1.unionByName(b2)
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        )
    )
    want = {
        (r["day"], r["event_type"]): (r["n"], float(r["s"])) for r in full.collect()
    }
    assert got == want
    # d1 was not in batch 2: dynamic overwrite must leave its files alone
    assert sorted(os.listdir(f"{path}/day=d1")) == d1_files


def test_merge_partitioned_rollup_errors_propagate(spark, tmp_path):
    """A broken EXISTING rollup (here: missing the expected sum column)
    must raise — not be silently treated as 'first batch' and
    overwritten, losing accumulated history (round-2 advisor finding).
    Only a genuinely absent rollup path takes the fresh-write path."""
    import pytest

    from mapreduce_project_spark.sources.io import merge_partitioned_rollup

    path = str(tmp_path / "rollup_bad")
    schema = "day string, event_type string, value double"
    b = spark.createDataFrame([("d1", "click", 1.0)], schema)
    # plant an existing rollup with a DIFFERENT schema at the path
    spark.createDataFrame([("d1", 1)], "day string, other long").write.partitionBy(
        "day"
    ).parquet(path)
    with pytest.raises(Exception):
        merge_partitioned_rollup(
            spark, b, path, "day", ["event_type"], {"sum_value": "value"}
        )
    # the broken table was not clobbered
    assert set(spark.read.parquet(path).columns) == {"day", "other"}


def test_read_parquet_evolving_merges_additive_schema(spark, tmp_path):
    from mapreduce_project_spark.sources.io import read_parquet_evolving

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        f"{path}/batch=old"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(f"{path}/batch=new")
    df = read_parquet_evolving(spark, path)
    assert set(df.columns) == {"id", "name", "score", "batch"}
    rows = {r["id"]: (r["name"], r["score"]) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_observe_metrics_rides_along_with_action(spark, tmp_path):
    from pyspark.sql import functions as F

    from mapreduce_project_spark.sources.io import observe_metrics

    df = spark.range(1000).selectExpr(
        "id", "CASE WHEN id % 10 = 0 THEN NULL ELSE id END AS x"
    )
    df2, obs = observe_metrics(
        df,
        "ingest",
        n=F.count(F.lit(1)),
        nulls=F.sum(F.col("x").isNull().cast("bigint")),
        total=F.sum("x"),
    )
    df2.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    assert got["n"] == 1000
    assert got["nulls"] == 100
    assert got["total"] == sum(i for i in range(1000) if i % 10 != 0)


def _jobs_launched(spark, fn) -> int:
    import uuid

    sc = spark.sparkContext
    group = f"jobs-launched-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_reads_a_rewritten_table_afresh(spark, tmp_path):
    from mapreduce_project_spark.sources.io import load_table
    from tests.conftest import _write

    _write(spark, tmp_path, "orders", "o_orderkey bigint", [(1,)])
    assert load_table(spark, str(tmp_path), "orders").columns == ["o_orderkey"]
    _write(spark, tmp_path, "orders", "o_orderkey bigint, o_note string", [(2, "x")])
    df = load_table(spark, str(tmp_path), "orders")
    assert df.columns == ["o_orderkey", "o_note"]
    assert [tuple(r) for r in df.collect()] == [(2, "x")]


def test_load_table_reads_an_unchanged_schema_once(spark, tmp_path):
    from mapreduce_project_spark.sources.io import load_table
    from tests.conftest import _write

    _write(spark, tmp_path, "orders", "o_orderkey bigint", [(1,)])
    first = _jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    again = _jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert first >= 1  # the schema read
    assert again == 0


def test_load_table_events_ts_is_timestamp_when_schema_cached(spark, tmp_path):
    # a TIMESTAMP(NANOS) events.ts is read as long and truncated to
    # microseconds; a load from the cached schema does the same
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_project_spark.sources.io import load_table

    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({"user_id": pa.array([1, 2], pa.int64()),
                  "ts": pa.array(ns, pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"),
    )
    for _ in range(2):
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = [r[0] for r in df.orderBy("user_id").select(F.unix_micros("ts")).collect()]
        assert got == [x // 1000 for x in ns]

def test_compact_parquet_reduces_files_and_preserves_rows(spark, tmp_path):
    import glob

    from mapreduce_project_spark.sources.io import compact_parquet

    path = str(tmp_path / "many")
    # 64 tiny files
    spark.range(10_000).repartition(64).write.parquet(path)
    assert len(glob.glob(f"{path}/*.parquet")) == 64
    before = {r["id"] for r in spark.read.parquet(path).collect()}
    n = compact_parquet(spark, path, target_file_bytes=1 << 30)
    files = glob.glob(f"{path}/*.parquet")
    assert len(files) == n == 1
    assert {r["id"] for r in spark.read.parquet(path).collect()} == before


def test_json_corrupt_record_handling(spark, tmp_path):
    """Dirty-input contract: PERMISSIVE mode quarantines unparseable
    lines into _corrupt_record (nulls elsewhere) instead of failing the
    job — the at-scale ingestion default — while FAILFAST surfaces the
    bad line loudly for validation runs."""
    import pytest

    p = tmp_path / "dirty.json"
    p.write_text('{"k": 1, "v": "a"}\n{not json at all}\n{"k": 3, "v": "c"}\n')
    schema = "k long, v string, _corrupt_record string"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = df.collect()
    good = {(r["k"], r["v"]) for r in rows if r["_corrupt_record"] is None}
    bad = [r["_corrupt_record"] for r in rows if r["_corrupt_record"] is not None]
    assert good == {(1, "a"), (3, "c")}
    assert bad == ["{not json at all}"]

    strict = spark.read.schema("k long, v string").option("mode", "FAILFAST").json(str(p))
    with pytest.raises(Exception, match="Malformed|FAILFAST"):
        strict.collect()


def test_partitioned_write_prunes_directories(spark, tmp_path):
    """Partition-directory pruning: a filter on the partition column
    must land in PartitionFilters (directories never listed/read), not
    just PushedFilters (row groups skipped after opening the file) —
    at 100 TB this is the difference between scanning one day and
    touching every file's footer."""
    from pyspark.sql import functions as F

    from mapreduce_project_spark.sources.io import write_parquet

    path = str(tmp_path / "by_day")
    ev = spark.createDataFrame(
        [("d1", 1, 10.0), ("d1", 2, 20.0), ("d2", 3, 30.0)],
        "day string, event_id long, value double",
    )
    write_parquet(ev, path, partition_by=["day"])
    df = spark.read.parquet(path).filter(F.col("day") == "d2")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan and "(day" in plan, plan[:800]
    assert {r["event_id"] for r in df.collect()} == {3}


def test_max_partition_bytes_controls_input_splits(spark):
    """A11 parity (input-split planner, master.py:234-256): Spark's
    split planning is config-driven — shrinking maxPartitionBytes turns
    one file into many byte-ranged splits (the reference's num_maps
    knob, but byte-targeted rather than file-count-targeted)."""
    path = "/root/testdata/sf0.1/lineitem.parquet"  # big enough to split
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
        many = spark.read.parquet(path).rdd.getNumPartitions()
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(512 * 1024 * 1024))
        few = spark.read.parquet(path).rdd.getNumPartitions()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert many > few >= 1, (many, few)


def test_metadata_column_carries_file_provenance(spark):
    """A3 parity: the reference passes iterators a metadata dict
    {"file_path", "size"} (worker.py:133); Spark's hidden _metadata
    struct exposes the same provenance on ANY file-source row without
    a UDF or input_file_name()."""
    from tests.conftest import SF_DIR

    df = spark.read.parquet(f"{SF_DIR}/region.parquet").select(
        "r_regionkey",
        "_metadata.file_path",
        "_metadata.file_size",
    )
    rows = df.collect()
    assert rows and all(r["file_path"].endswith("region.parquet") for r in rows)
    assert all(r["file_size"] > 0 for r in rows)


def test_orc_roundtrip_partitioned_and_pruned(spark, tmp_path):
    from mapreduce_project_spark.sources import read_orc, write_orc

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "a", 2.5), (3, "b", 3.5)],
        "id long, part string, v double",
    )
    out = str(tmp_path / "orc")
    write_orc(df, out, partition_by=["part"])
    back = read_orc(spark, out).select("id", "part", "v")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # partition pruning reaches the ORC scan like parquet's
    plan = (
        read_orc(spark, out)
        .filter(F.col("part") == "a")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "isnotnull(part" in plan


def test_sketch_rollup_incremental_merge_and_replay(spark, tmp_path):
    from mapreduce_project_spark.sources.io import (
        merge_sketch_rollup,
        read_sketch_estimates,
    )
    from mapreduce_project_spark.sources import load_table
    from tests.conftest import SF_DIR

    rollup = str(tmp_path / "skr")
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    )
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    for b in (b1, b2):
        merge_sketch_rollup(
            spark, b, rollup, "day", ["event_type"], {"n_users": "user_id"}
        )

    def snap():
        return {
            (str(r["day"]), r["event_type"]): r["n_users"]
            for r in read_sketch_estimates(spark, rollup, ["n_users"]).collect()
        }

    got = snap()
    want = {
        (r["day"], r["event_type"]): r["n"]
        for r in ev.groupBy("day", "event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    # fixture cardinalities sit far below the lgk=14 capacity, so the
    # incremental estimates equal the exact one-shot distinct counts
    assert got == want and got

    # replaying an already-folded batch is a no-op for distinct counts
    # (sketch union idempotence) — the property the sum rollup lacks
    merge_sketch_rollup(
        spark, b2, rollup, "day", ["event_type"], {"n_users": "user_id"}
    )
    assert snap() == want


def test_rollup_navigator_answers_or_falls_back(spark, tmp_path):
    from mapreduce_project_spark.sources import load_table
    from mapreduce_project_spark.sources.io import (
        merge_partitioned_rollup,
        rollup_navigator,
    )
    from tests.conftest import SF_DIR

    rollup = str(tmp_path / "ru")
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    )
    merge_partitioned_rollup(
        spark, ev, rollup, "day", ["event_type"], {"sum_value": "value"}
    )

    # subset grouping → answered from the rollup, equals the raw answer
    df, used = rollup_navigator(
        spark, rollup, ["day", "event_type"], ["sum_value"], ["event_type"]
    )
    assert used
    got = {r["event_type"]: (r["n_rows"], float(r["sum_value"])) for r in df.collect()}
    want = {
        r["event_type"]: (r["n"], float(r["s"]))
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        )
        .collect()
    }
    assert got == want and got
    # the rollup plan reads the summary table, never the raw events
    assert "events.parquet" not in df._jdf.queryExecution().executedPlan().toString()

    # non-subset grouping → falls back to the caller's raw plan
    df2, used2 = rollup_navigator(
        spark, rollup, ["day", "event_type"], ["sum_value"], ["user_id"],
        raw=lambda: ev.groupBy("user_id").count(),
    )
    assert not used2 and df2.count() > 0

    import pytest as _p

    with _p.raises(ValueError):
        rollup_navigator(
            spark, rollup, ["day", "event_type"], ["sum_value"], ["user_id"]
        )


def test_apply_changelog_merge_semantics(spark, tmp_path):
    import os

    from mapreduce_project_spark.sources.io import apply_changelog

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c"), (4, "d3", "z")],
        "id long, day string, v string",
    )
    apply_changelog(
        spark,
        path,
        base.selectExpr("id", "day", "v", "'upsert' AS op"),
        ["id"],
        "day",
    )
    d3_files = set(os.listdir(f"{path}/day=d3"))

    # update id=1, delete id=2 (both day d1), insert id=5 into d2;
    # d3 must remain byte-untouched
    changes = spark.createDataFrame(
        [
            (1, "d1", "a2", "upsert"),
            (2, "d1", None, "delete"),
            (5, "d2", "e", "upsert"),
        ],
        "id long, day string, v string, op string",
    )
    apply_changelog(spark, path, changes, ["id"], "day")
    got = {
        (r["id"], str(r["day"])): r["v"] for r in spark.read.parquet(path).collect()
    }
    assert got == {
        (1, "d1"): "a2",
        (3, "d2"): "c",
        (4, "d3"): "z",
        (5, "d2"): "e",
    }
    # untouched partition: same files, not rewritten
    assert set(os.listdir(f"{path}/day=d3")) == d3_files

    # cross-partition move issued as delete+upsert in one batch
    move = spark.createDataFrame(
        [(3, "d2", None, "delete"), (3, "d4", "c", "upsert")],
        "id long, day string, v string, op string",
    )
    apply_changelog(spark, path, move, ["id"], "day")
    got = {
        (r["id"], str(r["day"])): r["v"] for r in spark.read.parquet(path).collect()
    }
    assert got[(3, "d4")] == "c" and (3, "d2") not in got


def test_apply_changelog_clears_emptied_partition(spark, tmp_path):
    import os

    from mapreduce_project_spark.sources.io import apply_changelog

    path = str(tmp_path / "tbl2")
    base = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d2", "b")], "id long, day string, v string"
    )
    apply_changelog(
        spark, path, base.selectExpr("id", "day", "v", "'upsert' AS op"),
        ["id"], "day",
    )
    # delete the ONLY row of d2: the partition directory must disappear,
    # not linger with stale files (dynamic overwrite alone never touches
    # a partition absent from the output)
    changes = spark.createDataFrame(
        [(2, "d2", None, "delete")], "id long, day string, v string, op string"
    )
    apply_changelog(spark, path, changes, ["id"], "day")
    assert not os.path.exists(f"{path}/day=d2")
    got = {(r["id"], str(r["day"])) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "d1")}


def test_apply_changelog_rejects_unknown_ops(spark, tmp_path):
    import pytest as _p

    from mapreduce_project_spark.sources.io import apply_changelog

    path = str(tmp_path / "tbl3")
    base = spark.createDataFrame(
        [(1, "d1", "a")], "id long, day string, v string"
    )
    apply_changelog(
        spark, path, base.selectExpr("id", "day", "v", "'upsert' AS op"),
        ["id"], "day",
    )
    # a typo'd or missing op must fail loudly BEFORE any effect, not
    # silently delete the key
    for op in ("update", None):
        bad = spark.createDataFrame(
            [(1, "d1", "a2", op)], "id long, day string, v string, op string"
        )
        with _p.raises(ValueError, match="unknown op"):
            apply_changelog(spark, path, bad, ["id"], "day")
    assert {r["id"] for r in spark.read.parquet(path).collect()} == {1}


def test_xml_roundtrip(spark, tmp_path):
    # A19 widening: XML sink + source (Spark 4 native) must roundtrip
    # typed rows exactly
    from mapreduce_project_spark.sources.io import read_xml, write_xml

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0), (3, "c&d<e>", 0.0)],
        "k long, s string, v double",
    )
    write_xml(df, str(tmp_path / "x"))
    back = read_xml(spark, str(tmp_path / "x"))
    got = {(r["k"], r["s"], r["v"]) for r in back.collect()}
    want = {(r["k"], r["s"], r["v"]) for r in df.collect()}
    assert got == want


def test_linefile_writer_roundtrip_and_commit_protocol(spark, tmp_path):
    # the custom Python DataSource WRITER: task-private temps renamed
    # on driver commit (+_SUCCESS), overwrite clears prior parts, and
    # reading back through the linefile READER reproduces every row
    import os

    from mapreduce_project_spark.sources.custom import register_linefile_source

    register_linefile_source(spark)
    d = str(tmp_path / "lfout")
    df = spark.range(100).selectExpr("cast(id AS string) AS k", "id * 2 AS v")
    df.repartition(4).write.format("linefile").option("path", d).mode(
        "overwrite"
    ).save()
    assert os.path.exists(os.path.join(d, "_SUCCESS"))
    parts = [p for p in os.listdir(d) if p.startswith("part-")]
    assert len(parts) == 4
    assert not [p for p in os.listdir(d) if p.startswith("_tmp-")]
    back = (
        spark.read.format("linefile")
        .option("path", d + "/part-*.txt")
        .load()
        .selectExpr("split(line, '\t')[0] AS k", "cast(split(line, '\t')[1] AS long) AS v")
    )
    got = {(r["k"], r["v"]) for r in back.collect()}
    want = {(r["k"], r["v"]) for r in df.collect()}
    assert got == want
    # second overwrite with fewer partitions must not leave stale parts
    df.repartition(2).write.format("linefile").option("path", d).mode(
        "overwrite"
    ).save()
    assert len([p for p in os.listdir(d) if p.startswith("part-")]) == 2
    # append must ADD job-scoped uniquely-named parts, not clobber the
    # prior job's part files (part names carry the job id)
    df.repartition(3).write.format("linefile").option("path", d).mode(
        "append"
    ).save()
    assert len([p for p in os.listdir(d) if p.startswith("part-")]) == 5
    appended = (
        spark.read.format("linefile")
        .option("path", d + "/part-*.txt")
        .load()
        .count()
    )
    assert appended == 200
    # foreign-temp liveness contract (ADVICE r4): APPEND mode promises
    # concurrent-writer safety, so it never touches foreign temps —
    # not even hour-old ones (a slow writer streaming a big partition
    # only advances mtime on buffered flushes). OVERWRITE claims
    # exclusive ownership of the directory, so it sweeps crashed jobs'
    # old orphans; a fresh foreign temp still survives (cutoff-gated).
    old_orphan = os.path.join(d, "_tmp-deadbeef-crashed")
    fresh_foreign = os.path.join(d, "_tmp-cafebabe-inflight")
    for p in (old_orphan, fresh_foreign):
        with open(p, "w") as fh:
            fh.write("x")
    os.utime(old_orphan, (1, 1))  # ancient mtime
    df.repartition(1).write.format("linefile").option("path", d).mode(
        "append"
    ).save()
    assert os.path.exists(old_orphan), "append swept a foreign temp"
    assert os.path.exists(fresh_foreign)
    df.repartition(1).write.format("linefile").option("path", d).mode(
        "overwrite"
    ).save()
    assert not os.path.exists(old_orphan), "overwrite kept a crashed job's orphan"
    assert os.path.exists(fresh_foreign)


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    # A19 widening: the Hive-estate columnar format must roundtrip
    # typed rows exactly AND serve filter pushdown like parquet
    from mapreduce_project_spark.sources.io import read_orc, write_orc

    df = spark.createDataFrame(
        [(i, f"s{i}", i * 1.5, i % 3 == 0) for i in range(100)],
        "k long, s string, v double, b boolean",
    )
    write_orc(df, str(tmp_path / "o"), partition_by=None)
    back = read_orc(spark, str(tmp_path / "o"))
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}
    from mapreduce_project_spark.plans.inspect import formatted_plan

    plan = formatted_plan(back.filter("k = 7").select("s"))
    assert "PushedFilters" in plan and "k" in plan.split("PushedFilters", 1)[1][:80]


def test_merge_join_view_incremental_equals_full_join(spark, tmp_path):
    # IVM delta rule: interleaved inserts on BOTH sides; after all
    # batches the materialized view equals the one-shot full join, and
    # replaying a middle batch changes nothing (batch-id-scoped
    # partitions make the maintenance idempotent).
    from mapreduce_project_spark.sources.io import merge_join_view

    state = str(tmp_path / "jv")
    cust = [(i, f"c{i}") for i in range(1, 7)]
    orders = [(100 + j, 1 + (j % 6), float(j)) for j in range(18)]

    def cdf(rows):
        return spark.createDataFrame(rows, "c_custkey bigint, c_name string")

    def odf(rows):
        return spark.createDataFrame(
            rows, "o_orderkey bigint, o_custkey bigint, o_total double"
        )

    # batch 0: first half of customers only
    merge_join_view(spark, state, 0, None, cdf(cust[:3]), "o_custkey", "c_custkey")
    # batch 1: first orders (join against old customers + nothing new)
    merge_join_view(spark, state, 1, odf(orders[:6]), None, "o_custkey", "c_custkey")
    # batch 2: both sides at once (all three delta terms fire)
    merge_join_view(
        spark, state, 2, odf(orders[6:12]), cdf(cust[3:]), "o_custkey", "c_custkey"
    )
    # batch 3: the rest of the orders
    merge_join_view(spark, state, 3, odf(orders[12:]), None, "o_custkey", "c_custkey")

    def view_rows():
        return {
            (r["o_orderkey"], r["c_custkey"], r["c_name"])
            for r in spark.read.parquet(state + "/j").collect()
        }

    want = {
        (100 + j, 1 + (j % 6), f"c{1 + (j % 6)}") for j in range(18)
    }
    got = view_rows()
    assert got == want

    # replay batch 2 verbatim: exactly-once — the view is unchanged
    merge_join_view(
        spark, state, 2, odf(orders[6:12]), cdf(cust[3:]), "o_custkey", "c_custkey"
    )
    assert view_rows() == want


def test_merge_join_view_rejects_overlapping_columns(spark, tmp_path):
    # ADVICE low: overlapping column names (incl. a_key == b_key) used
    # to surface as a deep parquet-writer duplicate-column failure.
    from mapreduce_project_spark.sources.io import merge_join_view

    a = spark.createDataFrame([(1, "x")], "k bigint, v string")
    b = spark.createDataFrame([(1, "y")], "k bigint, w string")
    with pytest.raises(ValueError, match="disjoint.*'?k'?"):
        merge_join_view(spark, str(tmp_path / "s"), 0, a, b, "k", "k")
    b2 = spark.createDataFrame([(1, "y")], "bk bigint, _b string")
    with pytest.raises(ValueError, match="_b"):
        merge_join_view(spark, str(tmp_path / "s2"), 0, a, b2, "k", "bk")
    # disjoint names still work end-to-end
    b3 = spark.createDataFrame([(1, "y")], "bk bigint, w string")
    merge_join_view(spark, str(tmp_path / "s3"), 0, a, b3, "k", "bk")
    out = spark.read.parquet(str(tmp_path / "s3/j")).collect()
    assert len(out) == 1 and out[0]["v"] == "x" and out[0]["w"] == "y"


def test_merge_join_view_validates_staggered_batches(spark, tmp_path):
    # ADVICE low: the disjoint-column guard only ran when BOTH batches
    # arrived in the same call; an a-only (or b-only) call joined the
    # incoming batch against the on-disk other side unvalidated and
    # still hit the duplicate-column parquet-writer failure. Plant it:
    # batch 0 establishes disjoint state, batch 1 arrives one-sided
    # with a column that collides with the persisted other side.
    from mapreduce_project_spark.sources.io import merge_join_view

    a = spark.createDataFrame([(1, "x")], "k bigint, v string")
    b = spark.createDataFrame([(1, "y")], "bk bigint, w string")
    merge_join_view(spark, str(tmp_path / "s"), 0, a, b, "k", "bk")

    # b-only batch carrying 'v' collides with persisted A(k, v)
    b_bad = spark.createDataFrame([(1, "z")], "bk bigint, v string")
    with pytest.raises(ValueError, match="disjoint.*'?v'?"):
        merge_join_view(spark, str(tmp_path / "s"), 1, None, b_bad, "k", "bk")
    # a-only batch carrying 'w' collides with persisted B(bk, w)
    a_bad = spark.createDataFrame([(2, "q")], "k bigint, w string")
    with pytest.raises(ValueError, match="disjoint.*'?w'?"):
        merge_join_view(spark, str(tmp_path / "s"), 1, a_bad, None, "k", "bk")
    # clean staggered batches still work end-to-end
    a2 = spark.createDataFrame([(2, "x2")], "k bigint, v string")
    merge_join_view(spark, str(tmp_path / "s"), 1, a2, None, "k", "bk")
    b2 = spark.createDataFrame([(2, "y2")], "bk bigint, w string")
    merge_join_view(spark, str(tmp_path / "s"), 2, None, b2, "k", "bk")
    out = {
        (r["k"], r["v"], r["w"])
        for r in spark.read.parquet(str(tmp_path / "s/j")).collect()
    }
    assert out == {(1, "x", "y"), (2, "x2", "y2")}


# ---------------------------------------------------------------- D299


def test_delta_ivm_with_deletes_matches_full_recompute(spark, tmp_path):
    # Counting-algebra IVM: after every batch (inserts AND deletes on
    # both sides, staggered), the materialized view must equal the
    # from-scratch net(A) ⋈ net(B); a replayed batch is a no-op; a
    # delete meeting a delete exercises the +1 inclusion-exclusion
    # term insert-only IVM lacks.
    from mapreduce_project_spark.sources.io import (
        merge_join_view_delta,
        read_join_view_delta,
    )

    state = str(tmp_path / "ivm")

    def adf(rows):
        return spark.createDataFrame(rows, "ak bigint, av string, op string")

    def bdf(rows):
        return spark.createDataFrame(rows, "bk bigint, bv string, op string")

    a_net: dict = {}
    b_net: dict = {}

    def apply_net(net, rows):
        for k, v, op in rows:
            net[(k, v)] = net.get((k, v), 0) + (1 if op == "insert" else -1)

    def expect():
        want = {}
        for (ak, av), ma in a_net.items():
            for (bk, bv), mb in b_net.items():
                if ak == bk:
                    key = (ak, av, bk, bv)
                    want[key] = want.get(key, 0) + ma * mb
        return {k + (m,) for k, m in want.items() if m > 0}

    def got():
        return {
            (r["ak"], r["av"], r["bk"], r["bv"], r["_m"])
            for r in read_join_view_delta(spark, state).collect()
        }

    batches = [
        # batch 0: seed both sides
        ([(1, "a1", "insert"), (2, "a2", "insert")],
         [(1, "b1", "insert"), (2, "b2", "insert"), (2, "b2x", "insert")]),
        # batch 1: a-only (staggered) — new A row joins old B
        ([(2, "a2b", "insert")], None),
        # batch 2: delete an A row -> retracts its join rows
        ([(2, "a2", "delete")], None),
        # batch 3: delete on BOTH sides of the same key — the ΔA⋈ΔB
        # (-1)·(-1) term must add back what the two old-side terms
        # double-retracted
        ([(1, "a1", "delete")], [(1, "b1", "delete")]),
        # batch 4: re-insert after delete — the row must reappear
        ([(1, "a1", "insert")], [(1, "b1", "insert")]),
    ]
    for i, (ab, bb) in enumerate(batches):
        merge_join_view_delta(
            spark, state, i,
            adf(ab) if ab is not None else None,
            bdf(bb) if bb is not None else None,
            "ak", "bk",
        )
        if ab:
            apply_net(a_net, ab)
        if bb:
            apply_net(b_net, bb)
        assert got() == expect(), f"divergence after batch {i}"

    final = got()
    assert final, "vacuous: empty final view"
    # the net-zero key-1 pair existed, vanished at batch 3, and is back
    assert (1, "a1", 1, "b1", 1) in final
    # replaying batches 2 and 4 (post-crash retries) changes nothing
    merge_join_view_delta(spark, state, 2, adf(batches[2][0]), None, "ak", "bk")
    merge_join_view_delta(
        spark, state, 4, adf(batches[4][0]), bdf(batches[4][1]), "ak", "bk"
    )
    assert got() == final


def test_delta_ivm_rejects_bad_ops_and_overlap(spark, tmp_path):
    import pytest as _pytest

    from mapreduce_project_spark.sources.io import merge_join_view_delta

    a = spark.createDataFrame([(1, "x", "upsert")], "ak bigint, av string, op string")
    with _pytest.raises(ValueError, match="unknown op"):
        merge_join_view_delta(spark, str(tmp_path / "s1"), 0, a, None, "ak", "bk")
    a2 = spark.createDataFrame([(1, "x", "insert")], "k bigint, v string, op string")
    b2 = spark.createDataFrame([(1, "y", "insert")], "k bigint, v string, op string")
    with _pytest.raises(ValueError, match="disjoint"):
        merge_join_view_delta(spark, str(tmp_path / "s2"), 0, a2, b2, "k", "k")


# --- merge_join_view_delta — a NULL op evaded the ~isin()
# validator (NULL falls out of the filter) and .otherwise(-1) then
# silently treated the row as a delete.


def test_delta_ivm_rejects_null_op(spark, tmp_path):
    from mapreduce_project_spark.sources.io import merge_join_view_delta

    a = spark.createDataFrame(
        [(1, "x", "insert"), (2, "y", None)],
        "ak bigint, av string, op string",
    )
    with pytest.raises(ValueError, match="unknown op"):
        merge_join_view_delta(spark, str(tmp_path / "s"), 0, a, None, "ak", "bk")


def test_delta_ivm_null_op_never_lands_as_delete(spark, tmp_path):
    # Before the fix the NULL-op batch WROTE a retraction; now the whole
    # batch must be refused, leaving the state dir untouched.
    import os

    from mapreduce_project_spark.sources.io import merge_join_view_delta

    state = str(tmp_path / "s2")
    a0 = spark.createDataFrame([(1, "x", "insert")], "ak bigint, av string, op string")
    b0 = spark.createDataFrame([(1, "y", "insert")], "bk bigint, bv string, op string")
    merge_join_view_delta(spark, state, 0, a0, b0, "ak", "bk")
    a1 = spark.createDataFrame([(1, "x", None)], "ak bigint, av string, op string")
    with pytest.raises(ValueError):
        merge_join_view_delta(spark, state, 1, a1, None, "ak", "bk")
    from mapreduce_project_spark.sources.io import read_join_view_delta

    rows = {
        (r["ak"], r["av"], r["bk"], r["bv"], r["_m"])
        for r in read_join_view_delta(spark, state).collect()
    }
    assert rows == {(1, "x", 1, "y", 1)}  # the join row was NOT retracted
    # and no batch-1 partition ever landed on the a side
    assert not any("_b=1" in d for d in os.listdir(os.path.join(state, "a")))


# ---------------------------------------------------------------- D305


def test_edge_view_delta_centrality_tracks_full_recompute(spark, tmp_path):
    # incremental centrality over a delete-capable graph view: after
    # every batch of edge inserts/deletes (including delete-then-
    # reinsert), PageRank over the maintained view must equal PageRank
    # over the from-scratch edge set; a replayed batch is a no-op.
    from mapreduce_project_spark.operators.graph import (
        pagerank_fixed,
        symmetrize,
    )
    from mapreduce_project_spark.sources.io import (
        merge_edge_view_delta,
        read_edge_view,
    )

    state = str(tmp_path / "g")
    net: dict = {}

    def apply_net(rows):
        for s, d, op in rows:
            net[(s, d)] = net.get((s, d), 0) + (1 if op == "insert" else -1)

    def want_edges():
        return {k for k, m in net.items() if m > 0}

    def pr(edges_set):
        if not edges_set:
            return {}
        df = spark.createDataFrame(
            sorted(edges_set), "src bigint, dst bigint"
        )
        return {
            r["node"]: r["rank_fx"]
            for r in pagerank_fixed(symmetrize(df), n_iter=2).collect()
        }

    batches = [
        [(1, 2, "insert"), (2, 3, "insert"), (3, 1, "insert")],
        [(3, 4, "insert"), (1, 2, "insert")],   # duplicate insert (m=2)
        [(2, 3, "delete")],                      # edge leaves the view
        [(1, 2, "delete")],                      # m 2 -> 1: edge STAYS
        [(2, 3, "insert")],                      # delete-then-reinsert
    ]
    for i, rows in enumerate(batches):
        merge_edge_view_delta(
            spark, state, i,
            spark.createDataFrame(rows, "src bigint, dst bigint, op string"),
        )
        apply_net(rows)
        got = {
            (r["src"], r["dst"]) for r in read_edge_view(spark, state).collect()
        }
        assert got == want_edges(), f"edge view diverged after batch {i}"
        assert pr(got) == pr(want_edges())
    # the m=2 edge survived one delete
    assert (1, 2) in want_edges()
    # replay batch 2 (post-crash retry): identical final state
    final = {(r["src"], r["dst"]) for r in read_edge_view(spark, state).collect()}
    merge_edge_view_delta(
        spark, state, 2,
        spark.createDataFrame(batches[2], "src bigint, dst bigint, op string"),
    )
    assert {
        (r["src"], r["dst"]) for r in read_edge_view(spark, state).collect()
    } == final


def test_edge_view_delta_rejects_bad_and_null_ops(spark, tmp_path):
    from mapreduce_project_spark.sources.io import merge_edge_view_delta

    bad = spark.createDataFrame(
        [(1, 2, "upsert")], "src bigint, dst bigint, op string"
    )
    with pytest.raises(ValueError, match="unknown op"):
        merge_edge_view_delta(spark, str(tmp_path / "a"), 0, bad)
    nul = spark.createDataFrame(
        [(1, 2, None)], "src bigint, dst bigint, op string"
    )
    with pytest.raises(ValueError, match="unknown op"):
        merge_edge_view_delta(spark, str(tmp_path / "b"), 0, nul)


# ---------------------------------------------------------------- D304


def test_gdpr_cascade_delete_end_to_end(spark, tmp_path):
    # the WRITE side of gdpr_delete_audit: erase subject ck=1 from a
    # partitioned base table (apply_changelog delete) AND a derived
    # incremental join view (D299 signed deltas); prove absence by
    # value, survivors intact, and retry idempotence.
    from mapreduce_project_spark.sources.io import (
        apply_changelog,
        merge_join_view_delta,
        read_join_view_delta,
    )

    base = str(tmp_path / "cust")
    seed = spark.createDataFrame(
        [(1, "n1", "alice", "upsert"), (2, "n1", "bob", "upsert"),
         (3, "n2", "carol", "upsert")],
        "ck bigint, nat string, name string, op string",
    )
    apply_changelog(spark, base, seed, ["ck"], "nat")

    view = str(tmp_path / "view")
    a0 = spark.createDataFrame(
        [(1, "alice", "insert"), (2, "bob", "insert")],
        "ack bigint, aname string, op string",
    )
    b0 = spark.createDataFrame(
        [(1, 100, "insert"), (1, 101, "insert"), (2, 200, "insert")],
        "bck bigint, oid bigint, op string",
    )
    merge_join_view_delta(spark, view, 0, a0, b0, "ack", "bck")
    assert read_join_view_delta(spark, view).count() == 3

    # --- the erasure cascade for subject ck = 1 ---
    apply_changelog(
        spark, base,
        spark.createDataFrame(
            [(1, "n1", "alice", "delete")],
            "ck bigint, nat string, name string, op string",
        ),
        ["ck"], "nat",
    )
    a_del = spark.createDataFrame(
        [(1, "alice", "delete")], "ack bigint, aname string, op string"
    )
    merge_join_view_delta(spark, view, 1, a_del, None, "ack", "bck")

    rows = {(r["ck"], r["name"]) for r in spark.read.parquet(base).collect()}
    assert rows == {(2, "bob"), (3, "carol")}
    vrows = {
        (r["ack"], r["oid"]) for r in read_join_view_delta(spark, view).collect()
    }
    assert vrows == {(2, 200)}

    # retry idempotence: replaying the view-delete batch and re-issuing
    # the (now no-op) base delete changes nothing
    merge_join_view_delta(spark, view, 1, a_del, None, "ack", "bck")
    apply_changelog(
        spark, base,
        spark.createDataFrame(
            [(1, "n1", "alice", "delete")],
            "ck bigint, nat string, name string, op string",
        ),
        ["ck"], "nat",
    )
    assert {
        (r["ck"], r["name"]) for r in spark.read.parquet(base).collect()
    } == rows
    assert {
        (r["ack"], r["oid"]) for r in read_join_view_delta(spark, view).collect()
    } == vrows

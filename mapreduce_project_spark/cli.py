"""Command-line entry point — the analog of the reference's host CLI
(`map_reduce.py:10-67,91-133`, A20) and its job-file function loading
(`worker.py:40-50`, A18).

Subcommands:

- ``list`` — print every declared query name (the engine's surface).
- ``run QUERY [--sf-dir DIR] [--show N] [--output DIR]`` — run one
  declared query; print N rows or write parquet.
- ``mapreduce --job JOB.py --inputs F... [--map NAME] [--reduce NAME]
  [--iterator NAME] [--partitions N] [--output DIR]`` — run a classic
  map/reduce job from a user .py file through the compatibility facade
  (≡ `interactive_client.py:160-172` submission + `worker.py:40-50`
  dynamic loading; function-name defaults match the reference's
  ``map_function``/``reduce_function``/``iterator_function``
  convention, `master_client.proto:14-16`).
- lifecycle (≡ `map_reduce.py start/stop/logs` managing the resident
  master): ``start`` spawns the background engine service (one warm
  SparkSession serving queries over a localhost socket — see
  `service.py`), ``status`` pings it, ``submit QUERY`` runs a query ON
  the warm service (no per-job JVM start), ``logs [-n N]`` tails its
  log, ``stop`` shuts it down gracefully. On a real cluster the same
  role is a resident Spark Connect / Thrift server; `serve` is the
  internal in-process entry the daemon runs.
"""

from __future__ import annotations

import argparse
import importlib.util
import sys

from pyspark.sql import SparkSession


def load_user_function(job_path: str, fn_name: str):
    """Load a function by name from a user job file (≡ the reference
    worker's download + exec + getattr, ``worker.py:40-50`` — but via
    importlib, scoped to a real module instead of a shared exec dict).

    On a cluster the file must also be shipped to executors
    (``spark.sparkContext.addPyFile``) — the facade's lambdas close over
    the loaded function, so Spark's closure serialization handles the
    common case.
    """
    spec = importlib.util.spec_from_file_location("_user_job", job_path)
    if spec is None or spec.loader is None:
        raise FileNotFoundError(f"cannot load job file: {job_path}")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    fn = getattr(mod, fn_name, None)
    if fn is None:
        # ≡ the reference failing on a wrong function name (test.py:288-310)
        raise AttributeError(f"{job_path} has no function {fn_name!r}")
    return fn


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="mapreduce_project_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="print declared query names")

    runp = sub.add_parser("run", help="run one declared query")
    runp.add_argument("query")
    runp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    runp.add_argument("--show", type=int, default=20)
    runp.add_argument("--output", help="write result parquet here instead of printing")
    runp.add_argument(
        "--explain", action="store_true",
        help="print the formatted physical plan instead of running the query "
        "(jobs that materialize an intermediate while the query is built, "
        "such as an eager localCheckpoint, still run)",
    )

    mrp = sub.add_parser("mapreduce", help="run a map/reduce job file via the facade")
    mrp.add_argument("--job", required=True)
    mrp.add_argument("--inputs", nargs="+", required=True)
    mrp.add_argument("--map", dest="map_name", default="map_function")
    mrp.add_argument("--reduce", dest="reduce_name", default="reduce_function")
    mrp.add_argument("--iterator", dest="iterator_name", default=None)
    mrp.add_argument("--partitions", type=int, default=2)
    mrp.add_argument("--output", help="write key\\tvalue text here instead of printing")

    from mapreduce_project_spark.service import DEFAULT_STATE_DIR

    def _with_state(sp):
        sp.add_argument("--state-dir", default=DEFAULT_STATE_DIR)
        return sp

    startp = _with_state(sub.add_parser("start", help="start the background engine service"))
    startp.add_argument("--port", type=int, default=0)
    _with_state(sub.add_parser("stop", help="stop the engine service"))
    _with_state(sub.add_parser("status", help="ping the engine service"))
    logsp = _with_state(sub.add_parser("logs", help="tail the engine service log"))
    logsp.add_argument("-n", type=int, default=50)
    subp = _with_state(
        sub.add_parser("submit", help="run a query on the warm engine service")
    )
    subp.add_argument("query")
    subp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    subp.add_argument("--limit", type=int, default=20)
    servep = _with_state(
        sub.add_parser("serve", help="(internal) run the service in-process")
    )
    servep.add_argument("--port", type=int, default=0)

    upp = sub.add_parser(
        "upload_data",
        help="copy a local directory's files into engine storage "
        "(any Hadoop FS URI: file://, hdfs://, s3a://)",
    )
    upp.add_argument("src", help="local directory of input files")
    upp.add_argument("dest", help="destination directory URI")
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = _build_parser().parse_args(argv)
    # the CLI serves users, not the driver: list/run see every query
    from mapreduce_project_spark.queries_registry import ALL_QUERIES as ALL

    if args.cmd == "list":
        for name in sorted(ALL):
            print(name)
        return 0

    if args.cmd in ("start", "stop", "status", "logs", "submit", "serve"):
        from mapreduce_project_spark import service

        if args.cmd == "start":
            port = service.start(args.state_dir, args.port)
            print(f"service ready on 127.0.0.1:{port}")
            return 0
        if args.cmd == "stop":
            stopped = service.stop(args.state_dir)
            print("stopped" if stopped else "no service running")
            return 0 if stopped else 1
        if args.cmd == "status":
            try:
                resp = service.request({"op": "ping"}, args.state_dir, timeout=10.0)
            except (OSError, RuntimeError, ValueError) as exc:
                print(f"down ({exc})", file=sys.stderr)
                return 1
            print(f"up (uptime {resp.get('uptime_s', '?')}s)")
            return 0
        if args.cmd == "logs":
            for line in service.tail_logs(args.state_dir, args.n):
                print(line)
            return 0
        if args.cmd == "submit":
            try:
                resp = service.request(
                    {
                        "op": "run",
                        "query": args.query,
                        "sf_dir": args.sf_dir,
                        "limit": args.limit,
                    },
                    args.state_dir,
                )
            except (OSError, RuntimeError, ValueError) as exc:
                print(f"submit failed: {exc}", file=sys.stderr)
                return 1
            if not resp.get("ok"):
                print(resp.get("error", "unknown error"), file=sys.stderr)
                return 2
            print("\t".join(resp["columns"]))
            for row in resp["rows"]:
                print("\t".join(str(v) for v in row))
            print(f"# rows: {resp['n']}", file=sys.stderr)
            return 0
        service.serve(args.port, args.state_dir)
        return 0

    if spark is None:
        from mapreduce_project_spark.session import get_spark

        spark = get_spark("cli")

    if args.cmd == "upload_data":
        # ≡ the reference's `upload_data` (map_reduce.py:30-33 →
        # upload_data.py: push client_folder/data/* to HDFS for jobs to
        # read). Spark-side storage is scheme-agnostic, so the copy goes
        # through the Hadoop FileSystem API and works identically for
        # file://, hdfs://, s3a:// destinations.
        import pathlib

        src_dir = pathlib.Path(args.src)
        files = sorted(p for p in src_dir.iterdir() if p.is_file())
        if not files:
            print(f"no files to upload in {src_dir}", file=sys.stderr)
            return 1
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        dest = jvm.org.apache.hadoop.fs.Path(args.dest)
        fs = dest.getFileSystem(hconf)
        fs.mkdirs(dest)
        for f in files:
            fs.copyFromLocalFile(
                False,
                True,
                jvm.org.apache.hadoop.fs.Path(f"file:{f.resolve()}"),
                jvm.org.apache.hadoop.fs.Path(dest, f.name),
            )
            print(f"uploaded {f.name}")
        print(f"{len(files)} file(s) -> {args.dest}")
        return 0

    if args.cmd == "run":
        if args.query not in ALL:
            print(f"unknown query: {args.query} (see `list`)", file=sys.stderr)
            return 2
        df = ALL[args.query](spark, args.sf_dir)
        if args.explain:
            # the plan-review loop (scripts/dump_query_plan.py /
            # tests/test_plans.py) as a one-liner: inspect
            # pushdown/broadcast/agg shapes without the final action;
            # build-time jobs (eager localCheckpoint
            # in the v7/v8 compositions and the iterative graph plans)
            # have already run when the plan prints
            from mapreduce_project_spark.plans.inspect import formatted_plan

            print(formatted_plan(df))
            return 0
        if args.output:
            df.write.mode("overwrite").parquet(args.output)
        else:
            df.show(args.show, truncate=False)
        return 0

    if args.cmd == "mapreduce":
        from mapreduce_project_spark.mapreduce import run_job
        from mapreduce_project_spark.sources.io import write_text_lines

        from pyspark.sql import functions as F

        map_fn = load_user_function(args.job, args.map_name)
        reduce_fn = load_user_function(args.job, args.reduce_name)
        iterator_fn = (
            load_user_function(args.job, args.iterator_name)
            if args.iterator_name
            else None
        )
        out = run_job(
            spark, args.inputs, map_fn, reduce_fn, iterator_fn, args.partitions
        )
        if args.output:
            write_text_lines(
                out.select(F.concat_ws("\t", "key", "value")), args.output
            )
        else:
            for row in out.collect():
                print(f"{row['key']}\t{row['value']}")
        return 0

    return 2  # pragma: no cover - argparse enforces the subcommand set


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())

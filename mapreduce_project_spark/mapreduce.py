"""MapReduce compatibility facade — the reference's entire programming
model (`design.md:48-49`, `README.md:62-80`) as one thin function over
Spark primitives:

    read → mapInPandas(iterator_fn + map_fn) → repartition(n, key)
         → mapInPandas(partition-wise group + reduce_fn) → DataFrame

Reference parity, piece by piece (SURVEY.md §2.A):
- A2/A3 iterator contract: ``iterator_fn(file_bytes, {"file_path",
  "size"}) -> Iterable[(k, v)]`` (``worker.py:123,131-138``) — the
  iterator receives the RAW BYTES of the whole file, exactly as the
  reference worker passes them, so reference job files that call
  ``file_bytes.decode('utf-8')`` (``client_folder/jobs/word_count.py``)
  run unchanged through the advertised ``cli mapreduce --job`` path.
  Default = UTF-8 decode + one record per line with the line number as
  key (``worker.py:141-145``).
- A4 map contract: ``map_fn(k, v) -> Iterable[(k2, v2)]``
  (``worker.py:134-136``).
- A5 shuffle: ``repartition(n, key)`` — Spark's Murmur3 exchange.
  (Deliberately NOT the reference's ``hash(k) % R`` (``worker.py:136``),
  which is process-salted and can split a key across partitions —
  SURVEY.md §2.A bug note. Murmur3 is deterministic by construction.)
- A8/A9 reduce contract: ``reduce_fn(k, values: list) -> (k, out)`` or a
  generator of ``(k, out)`` pairs (``worker.py:198-207``).
- Type erasure: the reference coerces every key/value to ``str`` at the
  shuffle boundary (``worker.py:137-138,144-145``); the facade
  reproduces that faithfully (schema ``key string, value string``) so
  golden outputs match. Native engine queries are typed — this facade
  exists for reference-compat only.
- Error surface mirrors the reference's negative tests
  (``client_folder/scripts/test.py:238-310``): invalid partition count
  and non-callable functions raise before any job runs; missing inputs
  fail with Spark's path error.

Scale notes: both python stages are Arrow-batched; ``repartition(n,
key)`` makes the reduce parallelism explicit like ``num_reducers``
(``master.py:257-263``). Pass ``num_partitions=None`` to let AQE size
the reduce stage from the data instead, at any scale: each reduce
partition is a Python task with a fixed cost, so at sf0.01 a pinned 8
runs eight tasks for 31 rows where ``None`` coalesces them into one,
and at 100 TB the byte target keeps each reducer's partition bounded.
The registered ``word_count_mr`` and ``inverted_index_mr`` pass
``None``. The reduce stage materializes one PARTITION's
value lists in memory — exactly the reference reducer's model
(``worker.py:193-198``, which reads and groups its whole partition);
algebraic reductions should use native ``groupBy().agg`` instead.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_project_spark.sources import read_binary_files

MapFn = Callable[[str, str], Iterable[tuple[object, object]]]
ReduceFn = Callable[[str, list[str]], object]
IteratorFn = Callable[[bytes, dict], Iterable[tuple[object, object]]]


def run_job(
    spark: SparkSession,
    inputs: list[str] | DataFrame,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    iterator_fn: IteratorFn | None = None,
    num_partitions: int | None = 2,
    num_input_partitions: int | None = None,
) -> DataFrame:
    """Run a classic MapReduce job; returns a ``key string, value
    string`` DataFrame (the reference's shuffle/output schema).

    ``inputs`` is a list of text-file paths (the reference's HDFS input
    paths, ``master_client.proto:13``) or a ready ``(key, value)``
    DataFrame (first two columns are taken as key/value).

    ``num_input_partitions`` ≡ the reference's ``num_maps`` knob
    (``master_client.proto:17``, balanced file buckets
    ``master.py:234-256``): explicit map-side parallelism via a
    round-robin repartition before the map stage. Default ``None``
    keeps Spark's own split planning (``maxPartitionBytes``) — the
    better choice at scale, same as the reference's
    ``num_maps = min(files, requested)`` fallback (``design.md:59``).
    """
    if num_partitions is not None and num_partitions < 1:
        # ≡ the reference rejecting num_reducers=0 (test.py:238-262)
        raise ValueError(f"num_partitions must be >= 1, got {num_partitions}")
    if num_input_partitions is not None and num_input_partitions < 1:
        raise ValueError(
            f"num_input_partitions must be >= 1, got {num_input_partitions}"
        )
    if not callable(map_fn) or not callable(reduce_fn):
        # ≡ the reference failing on a wrong function name (test.py:288-310)
        raise TypeError("map_fn and reduce_fn must be callables")
    if iterator_fn is not None and not callable(iterator_fn):
        raise TypeError("iterator_fn must be a callable or None")

    if isinstance(inputs, DataFrame):
        k_col, v_col = inputs.columns[0], inputs.columns[1]
        records = inputs.selectExpr(
            f"cast(`{k_col}` as string) as key", f"cast(`{v_col}` as string) as value"
        )
        source_mode = "kv"
    else:
        # whole files as raw bytes — the reference worker hands map
        # tasks undecoded file content (worker.py:130-132)
        records = read_binary_files(spark, list(inputs)).select(
            F.col("path").alias("file_path"),
            F.col("length").alias("size"),
            F.col("content").alias("content"),
        )
        source_mode = "files"
    if num_input_partitions is not None:
        records = records.repartition(num_input_partitions)

    def map_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys: list[str] = []
            vals: list[str] = []
            if source_mode == "files":
                rows = zip(pdf["file_path"], pdf["size"], pdf["content"])
                for path, size, content in rows:
                    raw = bytes(content)
                    if iterator_fn is not None:
                        recs = iterator_fn(raw, {"file_path": path, "size": size})
                    else:
                        # default line iterator: decode + splitlines,
                        # key = line number (worker.py:141-145)
                        recs = enumerate(raw.decode("utf-8").splitlines())
                    for k, v in recs:
                        for k2, v2 in map_fn(k, v):
                            keys.append(str(k2))
                            vals.append(str(v2))
            else:
                for k, v in zip(pdf["key"], pdf["value"]):
                    for k2, v2 in map_fn(k, v):
                        keys.append(str(k2))
                        vals.append(str(v2))
            yield pd.DataFrame({"key": keys, "value": vals})

    mapped = records.mapInPandas(map_stage, "key string, value string")
    mapped = mapped.repartition(num_partitions, "key") if num_partitions is not None else mapped.repartition("key")

    def reduce_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # partition-wise reduce, exactly the reference worker's shape
        # (worker.py:193-198): the hash repartition above guarantees a
        # key's rows all land in this partition, so accumulate the
        # per-key value lists across the partition's Arrow batches,
        # then run reduce_fn once per key. One pandas pass per
        # PARTITION (not per key — a per-group pandas call pays frame
        # overhead per key, ~10x slower on high-cardinality keys).
        groups: dict[str, list[str]] = {}
        for pdf in batches:
            for k, v in zip(pdf["key"], pdf["value"]):
                groups.setdefault(k, []).append(v)
        keys: list[str] = []
        vals: list[str] = []
        for key, values in groups.items():
            result = reduce_fn(key, values)
            # contract (worker.py:201-207): a (k, v) tuple OR an iterable
            # of (k, v) pairs; we normalize both to one row per pair.
            if isinstance(result, tuple) and len(result) == 2 and not isinstance(result[0], tuple):
                pairs: Iterable = [result]
            else:
                pairs = result
            for k2, v2 in pairs:
                keys.append(str(k2))
                vals.append(str(v2))
        yield pd.DataFrame({"key": keys, "value": vals})

    return mapped.mapInPandas(reduce_stage, "key string, value string")

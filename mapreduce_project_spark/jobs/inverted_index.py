"""Inverted index — the reference's second example job, Spark-native.

Reference semantics (``client_folder/jobs/inverted_index.py``):
map emits ``(word, doc_id)`` for the *distinct* words of each doc
(per-doc ``set()``, :44), reduce collects ``sorted(set(values))`` per
word (:61-62).

Spark-first: ``explode(array_distinct(tokens)) → groupBy(word).agg(
array_sort(collect_set(doc_id)))``. The per-doc distinct happens before
the shuffle (the reference's map-side ``set()`` has the same effect),
so shuffle volume is bounded by distinct (word, doc) pairs.

The posting list is emitted both as a typed array and as a
comma-joined string (`postings`) — the string form is what the DuckDB
oracle hashes (stable cross-engine representation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_project_spark.functions import tokens


def inverted_index(df: DataFrame) -> DataFrame:
    """(word, postings_arr array<bigint>, postings string) per word of
    the ``text`` column, posting the ``doc_id`` column."""
    return (
        df.select("doc_id", F.explode(F.array_distinct(tokens("text"))).alias("word"))
        .groupBy("word")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("postings_arr"))
        .select(
            "word",
            "postings_arr",
            F.array_join(F.transform("postings_arr", lambda x: x.cast("string")), ",").alias("postings"),
        )
    )


"""Word count — the reference's flagship job, Spark-native.

Reference semantics (``client_folder/jobs/word_count.py``):
iterator yields one ``(file_path, content)`` record per file (:10-21),
map tokenizes with ``re.findall(r"[a-z]+", v.lower())`` and emits
``(word, 1)`` per token (:23-41), reduce sums counts per word (:44-56).

Spark-first: the whole pipeline is one declarative expression —
``explode(tokens(text)) → groupBy(word).count()``. Catalyst plans a
partial (map-side) count before the shuffle, exactly the combiner the
reference lacks; at 100 TB the shuffle carries one row per distinct
word per partition, not one per token.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_project_spark.functions import tokens


def word_count(df: DataFrame) -> DataFrame:
    """(word, cnt) over the ``text`` column of ``df``."""
    return (
        df.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


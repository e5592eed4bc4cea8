"""Core declared queries: the reference's two example jobs as native
DataFrame queries (SURVEY.md §2.B B1/B2).

More query groups register themselves from sibling modules as they
land; this module seeds the registry with the Phase-0 slice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mapreduce_project_spark.jobs import inverted_index, word_count
from mapreduce_project_spark.queries_registry import query, t

WORD_COUNT_ORACLE = """
SELECT word, count(*) AS cnt
FROM (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
)
GROUP BY word
"""

INVERTED_INDEX_ORACLE = """
SELECT word,
       array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
FROM (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
)
GROUP BY word
"""


@query("word_count", WORD_COUNT_ORACLE)
def q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 (word_count.py:23-56): tokenize + count per word."""
    return word_count(t(spark, sf_dir, "documents"))


@query("inverted_index", INVERTED_INDEX_ORACLE)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 (inverted_index.py:25-62): word → sorted distinct doc list."""
    return inverted_index(t(spark, sf_dir, "documents")).select("word", "postings")


@query(
    "posexplode_tokens",
    """
    SELECT doc_id, u.pos, u.token FROM (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks)),
                                   i -> {'pos': CAST(i - 1 AS BIGINT), 'token': toks[i]})) AS u
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
            FROM documents WHERE doc_id < 20)
    )
    """,
)
def q_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 positional explode: (doc, position, token) rows — the ordered
    token stream downstream sequence models consume."""
    from pyspark.sql import functions as F

    from mapreduce_project_spark.functions import tokens

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "token")
    ).select("doc_id", F.col("pos").cast("bigint").alias("pos"), "token")

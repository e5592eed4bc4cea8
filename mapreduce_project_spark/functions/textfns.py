"""Column-expression helpers shared by text operators.

Tokenization mirrors the reference's word-count tokenizer —
``re.findall(r"[a-z]+", text.lower())``
(``client_folder/jobs/word_count.py:38``, ``inverted_index.py:41``) —
and is written so the DuckDB oracle can express the identical semantics
(``regexp_extract_all(lower(text), '[a-z]+')``).

Everything here is a pure Column expression (JVM-side, codegen'd); no
Python UDFs in the tokenization hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference's tokenizer pattern (word_count.py:38). DuckDB twin:
# regexp_extract_all(lower(col), '[a-z]+') — Spark's variant requires an
# explicit capture group + index.
TOKEN_PATTERN = "([a-z]+)"


def tokens(col: Column | str) -> Column:
    """``array<string>`` of lowercase alpha tokens of ``col``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_PATTERN), F.lit(1))


def token_ngrams(tok: Column, n: int) -> Column:
    """Token n-gram shingles (space-joined) from a token array.

    ``transform(sequence(0, size-n), i -> concat_ws(' ', slice(tok, i+1, n)))``
    — empty when the doc has fewer than ``n`` tokens. Pure expression;
    the DuckDB oracle mirrors it with ``list_transform(generate_series(...))``.
    """
    return F.when(
        F.size(tok) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(tok) - n),
            lambda i: F.concat_ws(" ", F.slice(tok, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))

from mapreduce_project_spark.functions.textfns import (
    TOKEN_PATTERN,
    token_ngrams,
    tokens,
)

__all__ = ["TOKEN_PATTERN", "tokens", "token_ngrams"]

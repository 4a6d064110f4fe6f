from pyspark_data_engineering_assignment_spark.functions.vectors import (
    cosine,
    dot,
    dot_sql,
    l2_norm,
)
from pyspark_data_engineering_assignment_spark.functions.text import (
    distinct_tokens,
    md5_fingerprint,
    tokens,
    word_ngrams,
)

__all__ = [
    "cosine",
    "dot",
    "dot_sql",
    "l2_norm",
    "tokens",
    "distinct_tokens",
    "word_ngrams",
    "md5_fingerprint",
]

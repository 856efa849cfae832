from healthcare_etl_spark.functions.vectors import cosine_similarity, dot, l2_norm
from healthcare_etl_spark.functions.text import (
    char_fingerprint,
    punct_count,
    token_count_bpe,
    tokens,
)
from healthcare_etl_spark.functions.timeutils import ts_micros, ts_seconds
from healthcare_etl_spark.functions.zorder import morton_key, morton_key_sql

__all__ = [
    "morton_key",
    "morton_key_sql",
    "dot",
    "l2_norm",
    "cosine_similarity",
    "tokens",
    "token_count_bpe",
    "punct_count",
    "char_fingerprint",
    "ts_micros",
    "ts_seconds",
]

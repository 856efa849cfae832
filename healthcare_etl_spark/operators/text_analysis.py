"""Text-analysis operators for LLM training-data pipelines.

All built-in expressions (regexp_count / split / higher-order array
functions) — the per-document feature pass over a 100 TB corpus stays
inside whole-stage codegen with zero Python.

- ``text_stats``: per-document structural features.
- ``quality_score``: composite [0,1] heuristic (length, alpha ratio,
  punctuation density, stopword ratio) in the spirit of C4/Gopher-style
  quality filters.
- ``language_id``: stopword-overlap heuristic language guesser. The
  per-language stopword lists are tiny and ship as literal arrays in
  the plan (broadcast-by-construction, no join).
- ``fingerprint``: deterministic rolling-hash document fingerprint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import stable_round
from healthcare_etl_spark.functions.text import (
    BPE_ISH_PATTERN,
    char_fingerprint,
    punct_count,
    token_count_bpe,
    tokens,
)

# Deliberately small, deterministic stopword profiles. Real pipelines
# would plug fastText lid.176 here via mapInPandas; the operator shape
# (text column in, lang + confidence out) is what matters.
STOPWORD_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "es": ["el", "la", "de", "que", "los", "las", "por", "con", "una", "para"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "nicht"],
    "fr": ["le", "la", "les", "des", "est", "que", "dans", "pour", "une", "sur"],
}


def text_stats(df: DataFrame) -> DataFrame:
    """Append structural feature columns of ``text`` to each document row."""
    t = F.col("text")
    toks = tokens(t)
    n_tok = F.size(toks)
    # counts are long: the SQL-standard width for length/count results,
    # and the only safe width for 100 TB corpora
    return df.select(
        "*",
        F.length(t).cast("long").alias("n_chars"),
        n_tok.cast("long").alias("n_tokens"),
        token_count_bpe(t).cast("long").alias("n_bpe_tokens"),
        punct_count(t).cast("long").alias("n_punct"),
        stable_round(
            (F.length(t) - (n_tok - 1)) / F.when(n_tok > 0, n_tok).otherwise(1), 6
        ).alias("avg_token_len"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Composite quality heuristic of ``text`` in [0,1], rounded to 6dp.

    0.35 * min(n_tokens/100, 1)        -- enough content
    0.35 * unique_ratio                -- not degenerate repetition
    0.30 * (1 - punct_density)         -- not symbol soup
    """
    t = F.col("text")
    toks = tokens(t)
    n_tok = F.size(toks).cast("double")
    uniq_ratio = F.size(F.array_distinct(toks)) / F.when(n_tok > 0, n_tok).otherwise(1.0)
    punct_density = punct_count(t).cast("double") / F.when(F.length(t) > 0, F.length(t)).otherwise(1)
    score = (
        F.lit(0.35) * F.least(n_tok / 100.0, F.lit(1.0))
        + F.lit(0.35) * uniq_ratio
        + F.lit(0.30) * (1.0 - punct_density)
    )
    return df.withColumn("quality_score", stable_round(score, 6))


def _overlap_score(toks: Column, words: list[str]) -> Column:
    return F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))


def language_id(df: DataFrame) -> DataFrame:
    """Stopword-overlap language guess of ``text`` into ``lang_pred`` (and
    its overlap count ``lang_pred_score``); 'und' when no profile matches.

    Ties break by profile order (en > es > de > fr) via strictly-greater
    comparison — deterministic.
    """
    toks = F.array_distinct(tokens(F.lower(F.col("text"))))
    langs = list(STOPWORD_PROFILES)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in langs:
        s = _overlap_score(toks, STOPWORD_PROFILES[lang])
        better = s > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, s).otherwise(best_score)
    return df.withColumn("lang_pred", best_lang).withColumn("lang_pred_score", best_score)


def fingerprint(df: DataFrame) -> DataFrame:
    """Deterministic 31-bit rolling-hash ``fingerprint`` of each ``text``."""
    return df.withColumn("fingerprint", char_fingerprint(F.col("text")))


SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


def hash_split(df: DataFrame, *, key_col: str, salt: str = "split-v1") -> DataFrame:
    """Deterministic dataset split (``SPLIT_FRACTIONS``: train/val/test
    80/10/10) by content hash.

    The assignment depends only on (salt, key) — stable across runs,
    engines, partitionings, and cluster sizes, which is what makes
    held-out sets trustworthy in a 100 TB pipeline (row-order-dependent
    sampling is not reproducible under re-partitioning). Uses the
    md5-derived hash so the assignment is reproducible anywhere,
    including the DuckDB oracle.
    """
    from healthcare_etl_spark.operators.dedup import md5_hash31

    bucket = md5_hash31(F.concat(F.lit(salt), F.lit(":"), F.col(key_col).cast("string"))) % 1000
    expr = None
    lo = 0
    for name, frac in SPLIT_FRACTIONS.items():
        hi = lo + int(round(frac * 1000))
        cond = (bucket >= lo) & (bucket < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    return df.withColumn("split", expr.otherwise("train"))


# PII patterns chosen to mean the same thing in Java regex (Spark) and
# RE2 (DuckDB/others): no backrefs, no lookaround.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\d{3}-\d{3}-\d{4}", "<PHONE>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
)


def redact_pii(df: DataFrame) -> DataFrame:
    """Regex-redact PII spans (emails, phone-shaped, SSN-shaped numbers)
    of ``text`` into ``redacted``.

    A standard pre-training cleaning pass. Chained ``regexp_replace``
    stays inside whole-stage codegen — per-row Python redaction would be
    the classic 100x UDF mistake on a 100 TB corpus. Pattern order
    matters (SSN before phone would double-match).
    """
    col: Column = F.col("text")
    for pat, tag in PII_PATTERNS:
        col = F.regexp_replace(col, pat, tag)
    return df.withColumn("redacted", col)

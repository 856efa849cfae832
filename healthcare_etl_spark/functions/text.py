"""Text-analysis column helpers — built-in expressions only.

These power the LLM-data-pipeline operators (quality scoring, token
counting, fingerprinting). All stay JVM-side; the
regexes use constructs with identical semantics in Java regex (Spark)
and RE2 (DuckDB) so oracle queries can mirror them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish pre-tokenization: letter runs, digit runs, single punctuation.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

FINGERPRINT_MOD = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (single-space convention of the fixtures)."""
    return F.split(_c(text), " ")


def token_count_bpe(text: Column | str) -> Column:
    """Token count under the BPE-ish pre-tokenizer regex."""
    return F.regexp_count(_c(text), F.lit(BPE_ISH_PATTERN))


def punct_count(text: Column | str) -> Column:
    return F.regexp_count(_c(text), F.lit(r"[^A-Za-z0-9\s]"))


def char_fingerprint(text: Column | str) -> Column:
    """Deterministic 31-bit polynomial rolling hash of the text.

    ``aggregate`` folds characters left-to-right with
    ``acc*31 + codepoint (mod 2^31-1)`` — a classic document
    fingerprint. The per-step modulo keeps the accumulator < 2^36, safe
    in a 64-bit long, and the fold order makes it reproducible in any
    engine (DuckDB: ``list_reduce`` over ``ord`` of split chars).
    """
    chars = F.split(_c(text), "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % FINGERPRINT_MOD,
    )


# NB: the dedup pipelines hash words/shingles with the native md5-based
# ``operators.dedup.md5_hash31`` (codegen'd); the per-char polynomial
# fold above is kept only for the document fingerprint, where the
# rolling-hash semantics are the point.

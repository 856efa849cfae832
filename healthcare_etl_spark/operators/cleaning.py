"""Cleaning operators (SURVEY.md §2.2 P2/P3).

- ``coerce_numeric`` mirrors ``pd.to_numeric(col, errors='coerce')``
  (reference ``etl_app/etl_script.py:79-86``): unparseable values become
  NULL instead of raising. Spark 4 runs in ANSI mode by default, where a
  plain CAST throws on bad input, so we use ``try_cast`` — the exact
  coerce-to-null semantics, evaluated JVM-side inside codegen.
- ``drop_null_rows`` mirrors ``dropna(subset=[...])``
  (``etl_script.py:93``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def coerce_numeric(df: DataFrame, columns: list[str]) -> DataFrame:
    """Cast each column to double with NULL on parse failure.

    Like the reference (etl_script.py:81), columns absent from the
    DataFrame are skipped silently.
    """
    existing = set(df.columns)
    out = df
    for c in columns:
        if c in existing:
            out = out.withColumn(c, F.expr(f"try_cast(`{c}` as double)"))
    return out


def drop_null_rows(df: DataFrame, subset: list[str]) -> DataFrame:
    """Drop rows with NULL in any of ``subset`` (etl_script.py:93).

    NaN note: pandas conflates NaN and missing; Spark distinguishes
    SQL NULL from float NaN. ``na.drop`` removes both NULL and NaN for
    double columns, matching pandas ``dropna`` behavior.
    """
    return df.na.drop(subset=subset)

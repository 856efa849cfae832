"""Gap-based sessionization (batch).

The classic distributed formulation: one shuffle on the session key,
then per-key window functions — ``lag`` to find gaps, a running sum of
gap indicators to assign session ids. No Python, no iteration; at 100 TB
this is a single hash-partition by user plus a per-partition sort, and
skewed users are handled by AQE skew-split on the shuffle.

The streaming equivalent is ``session_window`` (see
``healthcare_etl_spark.streaming``); semantics match for watermarked
in-order replay.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import stable_round
from healthcare_etl_spark.functions.timeutils import ts_seconds
from pyspark.sql.window import Window


def sessionize(df: DataFrame, *, order_tiebreak: str | None = None) -> DataFrame:
    """Assign ``session_seq`` (1-based per ``user_id``) to each row.

    A new session starts when the gap to the previous ``ts`` of the same
    user exceeds 30 minutes. ``order_tiebreak`` (a unique column)
    makes ordering total when timestamps can tie.
    """
    order: list[Column] = [F.col("ts")]
    if order_tiebreak:
        order.append(F.col(order_tiebreak))
    w = Window.partitionBy("user_id").orderBy(*order)
    gap_sec = ts_seconds("ts") - F.lag(ts_seconds("ts")).over(w)
    is_new = F.when(gap_sec.isNull() | (gap_sec > 1800.0), 1).otherwise(0)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("session_seq", F.sum(is_new).over(w_run))


def session_stats(df: DataFrame, *, order_tiebreak: str | None = None) -> DataFrame:
    """Per-session aggregate of ``sessionize``'s sessions: start, event
    count, duration seconds."""
    s = sessionize(df, order_tiebreak=order_tiebreak)
    return s.groupBy("user_id", "session_seq").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        stable_round(F.max(ts_seconds("ts")) - F.min(ts_seconds("ts")), 3).alias(
            "duration_sec"
        ),
    )

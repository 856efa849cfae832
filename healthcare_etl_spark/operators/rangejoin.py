"""Banded (bucketed) range join — interval predicates without nested loops.

A time-range join (``r.ts BETWEEN l.ts + lower AND l.ts + upper``) has no
equi-key, so Spark's only direct physical strategy is
BroadcastNestedLoopJoin — O(|L| x |R|) per key and a non-starter at
100 TB. The scalable form used by every warehouse (and DuckDB's IEJoin
internally) is *banding*: quantize time into fixed buckets no smaller
than the band width, equi-join on (key, bucket), then apply the precise
interval predicate to the candidates.

Each right row carries exactly one bucket; each left row enumerates the
(at most two, for band >= window span) buckets its window overlaps via
``sequence`` + ``explode``. The join is then a plain hash/sort-merge
equi-join on (key, bucket) — shuffled, partitioned, AQE-planned like any
other — and no candidate pair is generated twice because a right row
lives in a single bucket.

Reference parity note: the reference (adithyadaine/healthcare-etl) has
no joins beyond a single inner equi-join (etl_app/etl_script.py:119);
this operator is part of the driver-mandated extension surface
(event-time ops for training-data pipelines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.timeutils import ts_micros


def banded_range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower_seconds: float = -3600.0,
) -> DataFrame:
    """Inner-join ``right`` rows whose ``right_ts`` falls in
    ``[left.left_ts + lower_seconds, left.left_ts)`` for the same ``on``
    key.

    All timestamp arithmetic is in microseconds (``timeutils.ts_micros``,
    which accepts TIMESTAMP and TIMESTAMP_NTZ alike), matching the
    fixtures' native granularity. Column names must be disjoint apart
    from ``on`` (alias/select beforehand, as with any self-join).
    """
    if lower_seconds >= 0:
        raise ValueError("lower_seconds must be < 0")
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must be distinct column names (alias before a self-join)")
    lo_us = int(lower_seconds * 1_000_000)
    band_us = -lo_us

    l_us = ts_micros(left_ts)
    r_us = ts_micros(right_ts)

    r_b = right.withColumn("__bucket", F.floor(r_us / band_us))
    # Buckets overlapped by [l+lo, l): window span == band width, so a
    # left window touches at most 2 buckets — the sequence is tiny and
    # constant, never data-dependent explosion.
    l_b = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor((l_us + F.lit(lo_us)) / band_us),
                F.floor((l_us + F.lit(-1)) / band_us),
            )
        ),
    )
    precise = (r_us >= l_us + F.lit(lo_us)) & (r_us < l_us + F.lit(0))
    return l_b.join(r_b, on=[on, "__bucket"]).filter(precise).drop("__bucket")


def interval_point_join(
    intervals: DataFrame, points: DataFrame, *, point_ts: str = "ts"
) -> DataFrame:
    """Overlap-join point rows onto ``[start, end]`` intervals (inclusive)
    without a nested loop — the variable-length generalization of
    ``banded_range_join``.

    Each interval explodes to the time buckets it covers (``sequence`` +
    ``explode`` — one row per hour covered, data-bounded, not O(n²));
    each point lives in exactly ONE bucket, so the bucket equi-join
    yields every qualifying (interval, point) pair exactly once, then
    the precise containment predicate prunes edge candidates. Inner
    semantics; re-join the interval table for intervals with no points.

    Scale: the one-hour bucket should sit near the typical interval length — too
    small multiplies the interval side's rows, too large widens candidate
    lists. Both sides shuffle on the bucket id (time-uniform, naturally
    balanced); a hot bucket (traffic spike) is AQE-skew-split like any
    other key.
    """
    band_us = 3600 * 1_000_000
    s_us = ts_micros("start")
    e_us = ts_micros("end")
    p_us = ts_micros(point_ts)
    i_b = intervals.withColumn(
        "__bucket",
        F.explode(F.sequence(F.floor(s_us / band_us), F.floor(e_us / band_us))),
    )
    p_b = points.withColumn("__bucket", F.floor(p_us / band_us))
    precise = (p_us >= s_us) & (p_us <= e_us)
    return i_b.join(p_b, "__bucket").filter(precise).drop("__bucket")

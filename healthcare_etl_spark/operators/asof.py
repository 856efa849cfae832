"""As-of (most-recent-prior) join — an operator Spark lacks natively.

Implemented as a composition of built-in ops (preference (a) of the
build rules): union the tagged right side into the left, then carry the
most recent right-hand value forward onto each left row with
``last(..., ignorenulls)`` windows.

Scale notes: with a join key, the window partitions by key — fully
parallel, one shuffle on (key, time). WITHOUT a key the naive form
(``Window.partitionBy()`` with no keys) sorts the whole union in a
single partition — a scale-killer at 100 TB — so the keyless path here
is the classic two-phase bucketed carry instead:

1. bucket the time axis into fixed-width ranges and run the carry
   window partitioned BY BUCKET (parallel across buckets, one shuffle);
2. reduce each bucket to its last right-hand value (a tiny per-bucket
   summary frame), compute every bucket's carry-in as the latest
   summary from any strictly-earlier bucket (a broadcast non-equi join
   over the summary frame — O(#buckets²) pairs of metadata rows, never
   data rows), and broadcast-hash-join the carry-in back onto the big
   side to fill rows whose bucket had no earlier right row.

No stage materializes a single-partition Exchange over the data path —
asserted in ``tests/test_plans.py``. Forward direction mirrors the time
axis (order negated), so both directions share one code path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from healthcare_etl_spark.functions.timeutils import ts_micros

_TEMPORAL_TYPES = ("timestamp", "timestamp_ntz", "date")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: list[str] | None = None,
    value_cols: list[str] | None = None,
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right[on] <= left[on]`` (direction='backward') or the smallest
    ``right[on] >= left[on]`` (direction='forward'), optionally within
    ``by`` groups. Right-side columns in ``value_cols`` are carried.

    Ties on ``on`` between a left and right row: the right value at the
    exact same time IS visible (<= / >=), matching ``pd.merge_asof``
    and DuckDB ``ASOF JOIN`` defaults.

    The keyless form buckets the time axis (one day for temporal
    ``on``; width 1.0 in column units for numeric ``on``) — size buckets
    so one bucket's rows fit an executor partition at the target scale.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    by = by or []
    value_cols = value_cols or [c for c in right.columns if c != on and c not in by]

    l_tagged = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(1).alias("__is_left"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in value_cols],
    )
    r_tagged = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c != on and c not in by],
        *[F.col(c) for c in ([on] + by)],
        F.lit(0).alias("__is_left"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
    )
    unioned = l_tagged.unionByName(r_tagged)

    if by:
        # right rows sort before left rows at equal time => value at ts
        # is visible; forward mirrors the time axis, same carry
        time_order = F.col(on).asc() if direction == "backward" else F.col(on).desc()
        w = (
            Window.partitionBy(*by)
            .orderBy(time_order, F.col("__is_left").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = unioned.select(
            *[F.col(c) for c in unioned.columns if not c.startswith("__r_")],
            *[
                F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w).alias(f"__r_{c}")
                for c in value_cols
            ],
        )
        out = carried.filter(F.col("__is_left") == 1).drop("__is_left")
    else:
        out = _keyless_bucketed_carry(
            unioned,
            on=on,
            value_cols=value_cols,
            direction=direction,
            on_dtype=dict(left.dtypes)[on],
        )
    for c in value_cols:
        out = out.withColumnRenamed(f"__r_{c}", c)
    return out


def _keyless_bucketed_carry(
    unioned: DataFrame,
    *,
    on: str,
    value_cols: list[str],
    direction: str,
    on_dtype: str,
) -> DataFrame:
    """Two-phase keyless carry: per-bucket window + cross-bucket fix-up.

    Works on the mirrored order ``__mord`` (negated for forward), so the
    carry is always "from earlier ``__mord``" regardless of direction.
    """
    temporal = any(on_dtype.startswith(t) for t in _TEMPORAL_TYPES)
    if temporal:
        ord_raw: Column = ts_micros(on).cast("double")
        width = 86400.0 * 1_000_000.0
    else:
        ord_raw = F.col(on).cast("double")
        width = 1.0

    sign = F.lit(1.0) if direction == "backward" else F.lit(-1.0)
    u = unioned.withColumn("__mord", ord_raw * sign).withColumn(
        "__bucket", F.floor(F.col("__mord") / F.lit(width))
    )

    # Phase 1: carry within each bucket — parallel across buckets.
    w_local = (
        Window.partitionBy("__bucket")
        .orderBy(F.col("__mord").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        *[F.col(c) for c in u.columns if not c.startswith("__r_")],
        *[
            F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w_local).alias(f"__r_{c}")
            for c in value_cols
        ],
    )

    # Phase 2: per-bucket last right-hand row (metadata-sized frame) ...
    summaries = (
        u.filter(F.col("__is_left") == 0)
        .groupBy("__bucket")
        .agg(
            F.max_by(
                F.struct(*[F.col(f"__r_{c}").alias(c) for c in value_cols]),
                F.col("__mord"),
            ).alias("__vals")
        )
    )
    # ... then each left bucket's carry-in = latest summary from any
    # strictly earlier bucket. Non-equi join over two tiny frames
    # (buckets x buckets of metadata rows), broadcast so nothing here
    # repartitions the data path.
    targets = u.filter(F.col("__is_left") == 1).select("__bucket").distinct()
    carry_in = (
        targets.alias("t")
        .join(
            F.broadcast(summaries.alias("s")),
            F.col("s.__bucket") < F.col("t.__bucket"),
            "inner",
        )
        .groupBy(F.col("t.__bucket").alias("__bucket"))
        .agg(F.max_by(F.col("s.__vals"), F.col("s.__bucket")).alias("__carry"))
    )

    filled = carried.filter(F.col("__is_left") == 1).join(
        F.broadcast(carry_in), on="__bucket", how="left"
    )
    filled = filled.select(
        *[F.col(c) for c in filled.columns if not c.startswith("__r_") and c != "__carry"],
        *[
            F.coalesce(F.col(f"__r_{c}"), F.col("__carry").getField(c)).alias(f"__r_{c}")
            for c in value_cols
        ],
    )
    return filled.drop("__is_left", "__mord", "__bucket")

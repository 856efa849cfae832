"""Streaming distribution-drift monitor (incremental PSI).

The batch form (``plans.queries_analytics.q_psi_drift``) scans the fact
table; this job maintains the SAME ref/cur histograms incrementally over
an unbounded stream and folds PSI from the materialized counts on
demand.

Scale design: the streamed state is the histogram itself — per
(event_type, period, bucket) counts, a dimension-sized grid (types x 2
periods x 10 buckets), NOT per-row state. ``complete`` output mode is
therefore correct and bounded here (unlike row-level streams, where
complete mode accumulates forever): micro-batches merge into the grid
by plain count addition, the canonical mergeable-sketch property. The
PSI fold itself runs over the tiny materialized grid, so the monitor
can be evaluated after every micro-batch at broadcast-scale cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import stable_round
from healthcare_etl_spark.sources import local_frame
from healthcare_etl_spark.streaming.windows import _memory_run, streaming_events

_REF_CUTOFF = "2024-01-16"


def _histogram_counts(ev: DataFrame) -> DataFrame:
    """Identical bucketing arithmetic to the batch ``q_psi_drift``."""
    return (
        ev.select(
            "event_type",
            F.when(
                F.col("ts") < F.lit(_REF_CUTOFF).cast("timestamp"), "ref"
            )
            .otherwise("cur")
            .alias("period"),
            F.least(
                F.floor(F.col("value") / 50.0).cast("long"), F.lit(9).cast("long")
            ).alias("bucket"),
        )
        .groupBy("event_type", "period", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def psi_from_counts(spark: SparkSession, counts: DataFrame) -> DataFrame:
    """Fold PSI per event type from a (event_type, period, bucket, n)
    histogram — densify the grid, Laplace-smooth, sum (p-q)ln(p/q).
    Same arithmetic as the batch query, so stream==batch is exact."""
    grid = (
        counts.select("event_type")
        .distinct()
        .crossJoin(spark.range(10).select(F.col("id").alias("bucket")))
        .crossJoin(local_frame(spark, [("ref",), ("cur",)], "period string"))
    )
    filled = grid.join(counts, ["event_type", "bucket", "period"], "left").select(
        "event_type", "bucket", "period", F.coalesce("n", F.lit(0)).alias("n")
    )
    tot = filled.groupBy("event_type", "period").agg(F.sum("n").alias("tot_n"))
    props = (
        filled.join(tot, ["event_type", "period"])
        .groupBy("event_type", "bucket")
        .agg(
            F.max(
                F.when(
                    F.col("period") == "ref",
                    (F.col("n") + F.lit(1.0)) / (F.col("tot_n") + F.lit(10.0)),
                )
            ).alias("p"),
            F.max(
                F.when(
                    F.col("period") == "cur",
                    (F.col("n") + F.lit(1.0)) / (F.col("tot_n") + F.lit(10.0)),
                )
            ).alias("q"),
        )
    )
    return props.groupBy("event_type").agg(
        stable_round(
            F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 6
        ).alias("psi")
    )


def run_streaming_psi_drift(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_name: str = "stream_psi_hist",
    source_opts: dict | None = None,
) -> DataFrame:
    """Maintain the drift histograms as a stream, then fold PSI from the
    final materialized grid. Returns (event_type, psi), equal to the
    batch ``q_psi_drift`` for a full replay (asserted in tests)."""
    ev = streaming_events(spark, sf_dir, **(source_opts or {}))
    hist = _histogram_counts(ev)
    # Re-materialize the grid as a fresh local DataFrame: the memory-sink
    # view cannot self-join (the densify step joins counts against its
    # own distinct types and Spark 4 reports conflicting attributes on
    # MemoryPlan), and the grid is dimension-sized by design, so a
    # driver-side copy is metadata-scale, not data-scale.
    sunk = _memory_run(hist, query_name, "complete")
    counts = local_frame(spark, sunk.collect(), sunk.schema)
    return psi_from_counts(spark, counts)

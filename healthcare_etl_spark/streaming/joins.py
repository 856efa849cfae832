"""Stream-stream join: watermarked, time-bounded self-join of events.

The conversion-funnel shape: match each ``signup`` with the same user's
``purchase`` events within one hour. Both sides carry watermarks and the
join condition bounds event time, so the state store can expire buffered
rows — the property that makes stream-stream joins run unbounded.

Replayed over the fixture files this must equal the batch self-join with
the same predicate (asserted in tests). The streaming and batch funnels
share one builder (``_funnel``); every stream here runs through the
memory-sink protocol of ``windows._memory_run``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.timeutils import TS_FMT
from healthcare_etl_spark.sources import load_table
from healthcare_etl_spark.streaming.windows import _memory_run, streaming_events


def _funnel(ev: DataFrame, how: str, *, watermarked: bool) -> DataFrame:
    """Signup->purchase pairs of ``ev`` within 1h, joined ``how``:
    (signup_id, purchase_id, user_id, signup_ts, purchase_ts). A stream
    is ``watermarked`` on both sides (2 hours), so its join state can
    expire."""
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("signup_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    if watermarked:
        signups = signups.withWatermark("ts", "2 hours")
        purchases = purchases.withWatermark("p_ts", "2 hours")
    condition = (
        (signups.user_id == purchases.p_user_id)
        & (purchases.p_ts >= signups.ts)
        & (purchases.p_ts <= signups.ts + F.expr("INTERVAL 1 HOUR"))
    )
    return signups.join(purchases, condition, how).select(
        "signup_id",
        "purchase_id",
        "user_id",
        F.date_format("ts", TS_FMT).alias("signup_ts"),
        F.date_format("p_ts", TS_FMT).alias("purchase_ts"),
    )


def run_stream_stream_funnel(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_name: str = "stream_funnel",
) -> DataFrame:
    """Signup->purchase pairs within 1h, as a stream-stream inner join."""
    joined = _funnel(streaming_events(spark, sf_dir), "inner", watermarked=True)
    return _memory_run(joined, query_name, "append")


def run_stream_stream_funnel_outer(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_name: str = "stream_funnel_outer",
) -> DataFrame:
    """LEFT OUTER stream-stream join: every signup emits, purchase columns
    NULL when no purchase arrived within 1h.

    The semantics only work because BOTH sides are watermarked and the
    join condition time-bounds the match window: a signup's null row can
    be emitted exactly when the watermark proves no matching purchase
    can still arrive (window end < watermark), at which point its state
    is dropped. Without the bound the state store would grow forever and
    nulls could never be emitted. On file replay the watermark only
    advances to max(event time) - delay, so signups whose window has not
    provably closed remain buffered — the unit test asserts both the
    no-false-nulls and the closed-window-completeness directions.
    """
    joined = _funnel(streaming_events(spark, sf_dir), "left_outer", watermarked=True)
    return _memory_run(joined, query_name, "append")


def batch_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch-equivalent join (same predicate, no state)."""
    return _funnel(load_table(spark, sf_dir, "events"), "inner", watermarked=False)


def run_stream_static_enrichment(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_name: str = "stream_enrich",
) -> DataFrame:
    """Stream-static join: streaming purchases enriched with a static
    per-user profile dimension (historic event count per user).

    The stream-static join is STATELESS — no watermark state is kept;
    the static side is re-planned (and here broadcast) into every
    micro-batch, which is the standard dimension-enrichment pattern for
    unbounded pipelines. Per-day output totals must equal the batch
    join on replay (unit-tested).
    """
    from healthcare_etl_spark.functions.rounding import stable_round

    user_dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_hist"))
    )
    ev = streaming_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    enriched = ev.join(F.broadcast(user_dim), "user_id", "inner")
    agg_ready = enriched.select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_id",
        (F.col("value") * F.col("n_hist")).alias("weighted"),
    )
    return (
        _memory_run(agg_ready, query_name, "append")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            stable_round(F.sum("weighted"), 4).alias("weighted_value"),
        )
    )


def register_join_queries() -> None:
    from healthcare_etl_spark.plans.registry import register

    register(
        "q_funnel_join",
        oracle="""
SELECT s.event_id AS signup_id,
       p.event_id AS purchase_id,
       s.user_id,
       strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'signup') s
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON s.user_id = p.user_id
 AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
""",
        description=(
            "Conversion funnel: signup->purchase within 1h (time-bounded self-join). "
            "Batch form oracle-checked; the watermarked stream-stream variant "
            "(q_stream_funnel) must equal it on replay — unit-tested."
        ),
        tags=("events", "extension"),
    )(batch_funnel)

    register(
        "q_stream_funnel",
        description=(
            "Stream-stream inner join (watermarks both sides + event-time bound, "
            "state-expiring). Rows-only; equality with oracle-checked q_funnel_join "
            "on replay is unit-tested."
        ),
        tags=("streaming", "extension"),
    )(lambda spark, sf_dir: run_stream_stream_funnel(spark, sf_dir, query_name="q_stream_funnel_sink"))

    register(
        "q_stream_funnel_outer",
        description=(
            "Stream-stream LEFT OUTER join: watermarks on both sides + the "
            "event-time bound let the engine prove a signup can no longer "
            "match, emit its null row, and drop its state. Rows-only; "
            "no-false-nulls and closed-window completeness vs the batch join "
            "are unit-tested."
        ),
        tags=("streaming", "extension"),
    )(
        lambda spark, sf_dir: run_stream_stream_funnel_outer(
            spark, sf_dir, query_name="q_stream_funnel_outer_sink"
        )
    )

    register(
        "q_stream_enrich",
        description=(
            "Stream-static broadcast join: streaming purchases enriched with a "
            "static per-user profile dimension (stateless, static side re-planned "
            "per micro-batch). Rows-only; equality with the batch join on replay "
            "is unit-tested."
        ),
        tags=("streaming", "extension"),
    )(lambda spark, sf_dir: run_stream_static_enrichment(spark, sf_dir, query_name="q_stream_enrich_sink"))

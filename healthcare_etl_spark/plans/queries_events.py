"""Event-time queries over the ``events`` fixture (extension surface).

Tumbling/sliding windows, sessionization, JSON extraction, as-of join.
The batch forms here are oracle-checked; streaming variants with
watermarks live in ``healthcare_etl_spark.streaming`` and are asserted
equivalent to these batch plans in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_etl_spark.operators.asof import asof_join
from healthcare_etl_spark.operators.sessionize import session_stats
from healthcare_etl_spark.functions.rounding import stable_round
from healthcare_etl_spark.functions.timeutils import TS_FMT
from healthcare_etl_spark.plans.registry import register
from healthcare_etl_spark.sources import load_table


@register(
    "q_event_windows",
    oracle="""
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*)              AS n_events,
       (round((sum(value)) * 10000.0) / 10000.0)  AS sum_value,
       (round((avg(value)) * 1000000.0) / 1000000.0)  AS avg_value
FROM events
GROUP BY 1, 2
""",
    description="Tumbling 1h event-time window aggregate (batch form of the streaming job)",
    tags=("events", "extension"),
)
def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round(F.sum("value"), 4).alias("sum_value"),
            stable_round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "avg_value",
        )
    )


@register(
    "q_event_windows_sliding",
    oracle="""
-- sliding(width=1h, step=30m) == union of two tumbling grids offset by 30m
WITH grids AS (
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, value FROM events
    UNION ALL
    SELECT time_bucket(INTERVAL '1 hour', ts, INTERVAL '30 minutes') AS window_start, value
    FROM events
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*)             AS n_events,
       (round((sum(value)) * 10000.0) / 10000.0) AS sum_value
FROM grids GROUP BY 1
""",
    description="Sliding window (1h width, 30m step); each event lands in 2 windows",
    tags=("events", "extension"),
)
def q_event_windows_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_sessionize",
    oracle="""
WITH gaps AS (
    SELECT user_id, ts, event_id,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     <= INTERVAL '30 minutes' THEN 0 ELSE 1 END AS is_new
    FROM events
),
sessions AS (
    SELECT user_id, ts,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
    FROM gaps
)
SELECT user_id, session_seq,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S')              AS session_start,
       count(*)                                            AS n_events,
       (round((epoch(max(ts)) - epoch(min(ts))) * 1000.0) / 1000.0)           AS duration_sec
FROM sessions GROUP BY user_id, session_seq
""",
    description="Gap-based sessionization (30m): lag + running-sum window, one shuffle on user_id",
    tags=("events", "extension"),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return session_stats(ev, order_tiebreak="event_id")


@register(
    "q_json_extract",
    oracle="""
SELECT event_type,
       count(*)                                             AS n,
       (round((avg(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE))) * 1000000.0) / 1000000.0) AS avg_k,
       max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))           AS max_k
FROM events GROUP BY event_type
""",
    description="JSON extraction from events.props (F.get_json_object), aggregated",
    tags=("events", "extension"),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        stable_round(F.avg(F.expr("try_cast(get_json_object(props, '$.k') as double)")), 6).alias(
            "avg_k"
        ),
        F.max(F.expr("try_cast(get_json_object(props, '$.k') as bigint)")).alias("max_k"),
    )


@register(
    "q_asof_join",
    oracle="""
WITH daily_rates AS (
    SELECT time_bucket(INTERVAL '1 day', o_orderdate) AS day,
           (round((avg(o_totalprice)) * 1000000.0) / 1000000.0) AS rate
    FROM orders GROUP BY 1
)
SELECT e.event_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       r.rate
FROM (SELECT event_id, ts FROM events WHERE event_type = 'purchase') e
ASOF JOIN daily_rates r ON e.ts >= r.day
""",
    description=(
        "As-of join (most recent daily rate <= event time) — Spark-lacks-it operator "
        "built from union + last-ignorenulls window (operators.asof)"
    ),
    tags=("events", "extension"),
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "ts")
    )
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("ts")
    ).agg(stable_round(F.avg("o_totalprice"), 6).alias("rate"))
    joined = asof_join(ev, daily, on="ts", value_cols=["rate"])
    return joined.select(
        "event_id",
        F.date_format("ts", TS_FMT).alias("ts"),
        "rate",
    ).filter(F.col("rate").isNotNull())


@register(
    "q_window_distinct_users",
    oracle="""
SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d') AS day,
       count(DISTINCT user_id)  AS n_users,
       count(*)                 AS n_events
FROM events GROUP BY 1
""",
    description="Daily distinct users (exact): per-window count-distinct; HLL variant is q_approx_quantiles' sibling at scale",
    tags=("events", "extension"),
)
def q_window_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q_range_join",
    oracle="""
SELECT p.event_id AS purchase_id, CAST(count(*) AS BIGINT) AS n_clicks
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts <  p.ts
GROUP BY p.event_id
""",
    description=(
        "Time-range join (click attribution): clicks by the same user in the "
        "hour before each purchase. The oracle uses a plain inequality join; "
        "the Spark plan is operators.rangejoin.banded_range_join — bucketed "
        "into band-width buckets and executed as a hash equi-join on "
        "(user_id, bucket) + precise filter, because a raw interval join "
        "would be a BroadcastNestedLoopJoin (O(L x R) per user, impossible "
        "at 100 TB)"
    ),
    tags=("events", "extension"),
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.rangejoin import banded_range_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    return (
        banded_range_join(
            purchases,
            clicks,
            on="user_id",
            left_ts="p_ts",
            right_ts="c_ts",
            lower_seconds=-3600.0,
        )
        .groupBy("purchase_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )


@register(
    "q_scd2_intervals",
    oracle="""
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
),
changes AS (
    SELECT user_id, event_type, ts, event_id FROM ordered
    WHERE prev_type IS NULL OR event_type <> prev_type
),
intervals AS (
    SELECT user_id, event_type, ts AS vf,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
    FROM changes
)
SELECT user_id, event_type,
       strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
       (vt IS NULL) AS is_current
FROM intervals
""",
    description=(
        "SCD type-2 history construction: compress each user's event_type "
        "change log into validity intervals (valid_from inclusive, valid_to "
        "exclusive, is_current for the open run). Both windows share the "
        "(user_id; ts, event_id) sort, so the whole operator is one shuffle on "
        "the entity key — the incremental-warehouse counterpart to the "
        "reference's replace-the-table loads."
    ),
    tags=("events", "extension"),
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.scd import scd2_intervals

    ev = load_table(spark, sf_dir, "events")
    out = scd2_intervals(ev, key="user_id", attr="event_type", ts="ts", tiebreak="event_id")
    return out.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", TS_FMT).alias("valid_from"),
        F.date_format("valid_to", TS_FMT).alias("valid_to"),
        "is_current",
    )


def _zorder_oracle_sql() -> str:
    from healthcare_etl_spark.functions.zorder import morton_key_sql

    zexpr = morton_key_sql("user_id", "(hour(ts) * 60 + minute(ts))")
    return f"""
SELECT event_id, CAST({zexpr} AS BIGINT) AS zkey
FROM events
"""


@register(
    "q_zorder_key",
    oracle=_zorder_oracle_sql(),
    description=(
        "Z-order (Morton) key over (user_id, minute-of-day): bit-interleaved "
        "sort key for two-dimensional data layout. Sorting files by this key "
        "bounds every file in a compact rectangle of (user, time-of-day) "
        "space, so parquet min-max stats prune scans filtered on EITHER "
        "column — single-column sort prunes only its own column. Pure "
        "codegen'd shift/mask arithmetic (no UDF). Production use first "
        "quantizes each dimension to equal bit width (range-partition "
        "quantiles) so neither column's high bits dominate; the layout win "
        "is measured in tests/test_scale.py with real per-file footer stats."
    ),
    tags=("events", "extension", "scale"),
)
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.zorder import morton_key

    ev = load_table(spark, sf_dir, "events")
    minute_of_day = F.hour("ts") * 60 + F.minute("ts")
    return ev.select(
        "event_id",
        morton_key(F.col("user_id"), minute_of_day).alias("zkey"),
    )


@register(
    "q_cohort_retention",
    oracle="""
WITH firsts AS (
    SELECT user_id, min(time_bucket(INTERVAL '1 day', ts)) AS cohort_day
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT e.user_id, f.cohort_day,
           date_diff('day', f.cohort_day, time_bucket(INTERVAL '1 day', e.ts)) AS day_offset
    FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(day_offset AS BIGINT) AS day_offset,
       count(*) AS n_users
FROM activity
GROUP BY cohort_day, day_offset
""",
    description=(
        "Cohort retention matrix: users grouped by first-seen day, then "
        "distinct active users per (cohort, day-offset) — the standard "
        "product-analytics rollup. The per-user cohort table joins back on "
        "user_id with NO broadcast hint: it is one row per user — millions "
        "at scale, never broadcastable — so the join must shuffle, and it "
        "lands co-partitioned with the first-seen aggregate's exchange "
        "(AQE still broadcasts at fixture scale, where it is actually small)."
    ),
    tags=("events", "extension"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(day, F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    ).select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        F.col("day_offset").cast("long").alias("day_offset"),
        "n_users",
    )


@register(
    "q_variant_extract",
    oracle="""
SELECT CAST(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS BIGINT) AS k_bucket,
       count(*) AS n,
       CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY 1
""",
    description=(
        "Semi-structured extraction via Spark 4 VARIANT (parse_json + "
        "try_variant_get): props parses ONCE into the binary variant "
        "encoding and fields extract without re-tokenizing JSON text — the "
        "100 TB path for schemaless columns (q_json_extract is the classic "
        "string-path sibling). Aggregated per k-bucket so the whole "
        "parse->extract->agg chain is value-checked."
    ),
    tags=("events", "extension"),
)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select((k % 10).alias("k_bucket"), k.alias("k"))
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").cast("long").alias("sum_k"))
    )


@register(
    "q_value_histogram",
    oracle="""
SELECT CAST(CASE WHEN value < 0.0 THEN 0
            WHEN value >= 500.0 THEN 21
            ELSE floor((value - 0.0) / (500.0 / 20)) + 1 END AS BIGINT) AS bucket,
       count(*) AS n,
       (round((min(value)) * 10000.0) / 10000.0) AS bucket_min,
       (round((max(value)) * 10000.0) / 10000.0) AS bucket_max
FROM events
GROUP BY 1
""",
    description=(
        "Fixed-width value histogram (20 buckets over [0, 500) plus under/"
        "overflow buckets 0 and 21 — width_bucket semantics, written as "
        "explicit identical arithmetic on both engines): one partial-"
        "aggregated scan, the distribution-profiling primitive behind "
        "drift monitoring and outlier triage."
    ),
    tags=("events", "extension"),
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    bucket = (
        F.when(v < 0.0, F.lit(0))
        .when(v >= 500.0, F.lit(21))
        .otherwise(F.floor((v - 0.0) / (500.0 / 20)) + 1)
    ).cast("long")
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        stable_round(F.min("value"), 4).alias("bucket_min"),
        stable_round(F.max("value"), 4).alias("bucket_max"),
    )


@register(
    "q_moving_avg",
    oracle="""
WITH per_min AS (
    SELECT time_bucket(INTERVAL '1 minute', ts) AS minute, count(*) AS n
    FROM events GROUP BY 1
)
SELECT strftime(minute, '%Y-%m-%d %H:%M:%S') AS minute, n,
       (round((avg(n) OVER (ORDER BY minute
             RANGE BETWEEN INTERVAL '4 minutes' PRECEDING AND CURRENT ROW))
           * 1000000.0) / 1000000.0) AS moving_avg_5m
FROM per_min
""",
    description=(
        "Time-RANGE moving average: per-minute event counts smoothed over a "
        "trailing 5-minute RANGE frame (frame bounds in event-time units, "
        "not row counts — robust to gaps in the minute grid). Spark side "
        "uses rangeBetween on epoch seconds, the unkeyed global window is "
        "the per-series form — partition by a series key for fleets."
    ),
    tags=("events", "extension"),
)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    per_min = ev.groupBy(F.date_trunc("minute", "ts").alias("minute")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = (
        Window.orderBy(F.unix_timestamp("minute"))
        .rangeBetween(-240, Window.currentRow)
    )
    return per_min.select(
        F.date_format("minute", TS_FMT).alias("minute"),
        "n",
        stable_round(F.avg("n").over(w), 6).alias("moving_avg_5m"),
    )


@register(
    "q_funnel_steps",
    oracle="""
WITH s1 AS (
    SELECT user_id, event_type, ts,
           min(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
    FROM events
),
s2 AS (
    SELECT *, min(CASE WHEN event_type = 'view' AND ts > t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2
    FROM s1
),
s3 AS (
    SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                  OVER (PARTITION BY user_id) AS t3
    FROM s2
)
SELECT CAST(count(DISTINCT user_id) AS BIGINT)                          AS n_users,
       CAST(count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS BIGINT)
                                                                        AS n_signup,
       CAST(count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS BIGINT)
                                                                        AS n_then_view,
       CAST(count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END) AS BIGINT)
                                                                        AS n_then_purchase,
       (round((count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) * 1.0 /
               count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END)) * 1000000.0)
        / 1000000.0)                                                    AS view_rate,
       (round((count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END) * 1.0 /
               count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END)) * 1000000.0)
        / 1000000.0)                                                    AS purchase_rate
FROM s3
""",
    description=(
        "Three-step strict-order funnel (signup -> later view -> later "
        "purchase) computed with NO self-joins: one shuffle clusters each "
        "user's events, then three stacked window-mins resolve the step "
        "timestamps (each step's min is conditioned on being after the "
        "previous step's), and a global aggregate counts survivors per "
        "step. The n-way time-bounded self-join this replaces multiplies "
        "at every step; this form scans the fact table once regardless of "
        "funnel depth."
    ),
    tags=("events", "extension"),
)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    s1 = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    )
    s2 = s1.withColumn(
        "t2",
        F.min(
            F.when((F.col("event_type") == "view") & (F.col("ts") > F.col("t1")), F.col("ts"))
        ).over(w),
    )
    s3 = s2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")), F.col("ts")
            )
        ).over(w),
    )
    n1 = F.count_distinct(F.when(F.col("t1").isNotNull(), F.col("user_id")))
    n2 = F.count_distinct(F.when(F.col("t2").isNotNull(), F.col("user_id")))
    n3 = F.count_distinct(F.when(F.col("t3").isNotNull(), F.col("user_id")))
    return s3.agg(
        F.count_distinct("user_id").alias("n_users"),
        n1.alias("n_signup"),
        n2.alias("n_then_view"),
        n3.alias("n_then_purchase"),
        stable_round(n2 / n1, 6).alias("view_rate"),
        stable_round(n3 / n2, 6).alias("purchase_rate"),
    )


@register(
    "q_grouped_ols",
    oracle="""
WITH pts AS (
    SELECT event_type,
           CAST(epoch_us(ts) - 1704067200000000 AS DOUBLE) / 86400000000.0 AS x,
           value AS y
    FROM events
),
m AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
           sum(x * x) AS sxx, sum(y * y) AS syy
    FROM pts GROUP BY event_type
)
SELECT event_type, n,
       (round(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1000000.0) / 1000000.0)
           AS slope_per_day,
       (round(((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n) * 1000000.0)
        / 1000000.0) AS intercept,
       (round((((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
               ((n * sxx - sx * sx) * (n * syy - sy * sy))) * 1000000.0) / 1000000.0)
           AS r2
FROM m
""",
    description=(
        "Per-group OLS trend (slope/day, intercept, R^2) of event value "
        "over time — the drift detector behind metric monitoring. One "
        "distributed moment-sum aggregate per group (map-side partial, "
        "5-row result); the closed-form normal equations run on the "
        "aggregate, so no per-row second pass and no driver math. Time is "
        "re-based to days-since-epoch-2024 BEFORE squaring so sxx stays "
        "well-conditioned in doubles."
    ),
    tags=("analytics", "extension", "timeseries"),
)
def q_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        ((F.unix_micros("ts") - F.lit(1704067200000000)).cast("double") / F.lit(86400000000.0)).alias("x"),
        F.col("value").alias("y"),
    )
    m = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    num2 = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    )
    den2 = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return m.select(
        "event_type",
        "n",
        stable_round(slope, 6).alias("slope_per_day"),
        stable_round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias("intercept"),
        stable_round(num2 / den2, 6).alias("r2"),
    )


@register(
    "q_time_weighted_avg",
    oracle="""
WITH seg AS (
    SELECT user_id, value,
           CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                - ts) AS BIGINT) AS dur_us
    FROM events
),
agg AS (
    SELECT user_id,
           sum(value * dur_us) AS weighted,
           sum(dur_us)         AS total_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM seg WHERE dur_us IS NOT NULL
    GROUP BY user_id
)
SELECT user_id, n_events,
       (round((weighted / total_us) * 1000000.0) / 1000000.0) AS twap
FROM agg WHERE total_us > 0
""",
    description=(
        "Per-user time-weighted average value (TWAP): each reading is "
        "weighted by how long it was current (lead() segment durations "
        "in exact integer microseconds), the step-function average used "
        "for billing, metering, and position accounting where plain "
        "avg() over-weights bursts of closely-spaced readings. One "
        "shuffle on user_id shared by the window and the aggregate; "
        "durations are exact BIGINTs, so the only float work is the "
        "final fixed-order division."
    ),
    tags=("events", "extension", "timeseries"),
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = ev.select(
        "user_id",
        "value",
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    agg = seg.groupBy("user_id").agg(
        F.sum(F.col("value") * F.col("dur_us")).alias("weighted"),
        F.sum("dur_us").alias("total_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.filter(F.col("total_us") > 0).select(
        "user_id",
        "n_events",
        stable_round(F.col("weighted") / F.col("total_us"), 6).alias("twap"),
    )


@register(
    "q_event_debounce",
    oracle="""
WITH g AS (
    SELECT event_type,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
           ) AS gap_us
    FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 300000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       CAST(sum(CASE WHEN gap_us IS NOT NULL AND gap_us <= 300000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_debounced
FROM g GROUP BY event_type
""",
    description=(
        "Event debouncing (client-retry / double-fire suppression): an "
        "event is dropped when the SAME (user, type) fired within the "
        "previous 5 minutes — the keep-first throttle every telemetry "
        "ingest runs before counting anything. Join-free: one lag() over "
        "the (user, type) partition with exact integer-microsecond gaps, "
        "then a per-type kept/dropped rollup. One shuffle for the window; "
        "the rollup partial-aggregates on top."
    ),
    tags=("events", "extension", "timeseries"),
)
def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    )
    kept = (F.col("gap_us").isNull() | (F.col("gap_us") > 300_000_000)).cast("long")
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(kept).alias("n_kept"),
        F.sum(F.lit(1) - kept).alias("n_debounced"),
    )


@register(
    "q_attribution_last_touch",
    oracle="""
WITH seq AS (
    SELECT user_id, event_id, event_type, ts, value,
           last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
               OVER w AS last_click_id,
           last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
               OVER w AS last_click_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id,
       event_id AS purchase_id,
       last_click_id,
       CAST(epoch_us(ts) - last_click_us AS BIGINT) AS delay_us,
       (round(value * 1000000.0) / 1000000.0) AS amount
FROM seq
WHERE event_type = 'purchase' AND last_click_id IS NOT NULL
""",
    description=(
        "Last-touch marketing attribution, join-free: every purchase is "
        "attributed to the user's most recent PRECEDING click (strictly "
        "earlier — the frame ends at 1 PRECEDING) with the exact "
        "click-to-purchase delay in integer microseconds. The classic "
        "formulation is an as-of self-join of purchases against clicks; "
        "expressing it as last_value(...IGNORE NULLS) over the per-user "
        "timeline does it in ONE pass of the fact table with a single "
        "shuffle on user_id, no join — the carry scans each partition "
        "once regardless of how many event types ride along."
    ),
    tags=("events", "extension", "timeseries"),
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_click = F.col("event_type") == "click"
    seq = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        "value",
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("last_click_id"),
        F.last(F.when(is_click, F.unix_micros("ts")), ignorenulls=True)
        .over(w)
        .alias("last_click_us"),
    )
    return seq.filter(
        (F.col("event_type") == "purchase") & F.col("last_click_id").isNotNull()
    ).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        "last_click_id",
        (F.unix_micros("ts") - F.col("last_click_us")).alias("delay_us"),
        stable_round(F.col("value"), 6).alias("amount"),
    )


@register(
    "q_cdc_apply",
    oracle="""
WITH ops AS (
    SELECT user_id, ts, value,
           CASE event_type WHEN 'signup' THEN 'I'
                           WHEN 'error'  THEN 'D'
                           ELSE 'U' END AS op
    FROM events
),
final AS (
    SELECT user_id,
           arg_max(op, ts)    AS last_op,
           arg_max(value, ts) AS last_value,
           max(ts)            AS last_ts,
           CAST(count(*) AS BIGINT) AS n_ops
    FROM ops GROUP BY user_id
)
SELECT user_id,
       (round(last_value * 1000000.0) / 1000000.0) AS final_value,
       strftime(last_ts, '%Y-%m-%d %H:%M:%S') AS last_change,
       n_ops
FROM final WHERE last_op <> 'D'
""",
    description=(
        "Change-data-capture apply (MERGE semantics): an insert/update/"
        "delete op log (event types mapped I/U/D) collapses to the final "
        "table state — last writer wins per key, and a key whose LAST op "
        "is a delete is absent from the result. One hash aggregate with "
        "MAX_BY/ARG_MAX (no window, no sort): the per-key argmax is "
        "deterministic because (user_id, ts) is unique, and partial "
        "aggregation means the shuffle carries one candidate row per "
        "key per partition — the scale-correct form of 'latest snapshot' "
        "(vs q_upsert_latest's row_number window, which sorts each "
        "partition). Complements operators.scale.scd2_merge, which keeps "
        "history instead of collapsing it."
    ),
    tags=("events", "extension", "relational"),
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
    )
    final = ev.select("user_id", "ts", "value", op.alias("op")).groupBy("user_id").agg(
        F.expr("max_by(op, ts)").alias("last_op"),
        F.expr("max_by(value, ts)").alias("last_value"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_ops"),
    )
    return final.filter(F.col("last_op") != "D").select(
        "user_id",
        stable_round(F.col("last_value"), 6).alias("final_value"),
        F.date_format("last_ts", TS_FMT).alias("last_change"),
        "n_ops",
    )


@register(
    "q_event_paths",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type, 1) OVER w AS e2,
           lead(event_type, 2) OVER w AS e3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || ' > ' || e2 || ' > ' || e3 AS path,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM seq WHERE e3 IS NOT NULL
GROUP BY 1
ORDER BY n_occurrences DESC, path ASC
LIMIT 15
""",
    description=(
        "Top user-flow paths (product-analytics 'user flows' / Sankey "
        "feeder): consecutive 3-step event-type sequences per user via "
        "two lead() taps over ONE user_id window sort (no self-joins — "
        "the join formulation of path analysis is quadratic in path "
        "length), rolled up globally with occurrence and distinct-user "
        "counts, fused top-15. Window shuffle on user_id, then a "
        "partial-aggregated path rollup."
    ),
    tags=("events", "extension", "timeseries"),
)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.groupBy(
            F.concat_ws(" > ", "event_type", "e2", "e3").alias("path")
        )
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("path"))
        .limit(15)
    )


@register(
    "q_peak_concurrency",
    oracle="""
WITH spans AS (
    SELECT user_id, min(ts) AS t_start, max(ts) AS t_end
    FROM events GROUP BY user_id, time_bucket(INTERVAL '1 day', ts)
),
deltas AS (
    SELECT t_start AS t, 1 AS delta FROM spans
    UNION ALL
    SELECT t_end, -1 FROM spans
),
swept AS (
    SELECT time_bucket(INTERVAL '1 day', t) AS day,
           sum(delta) OVER (PARTITION BY time_bucket(INTERVAL '1 day', t)
                            ORDER BY t, delta DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS concurrent
    FROM deltas
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(max(concurrent) AS BIGINT) AS peak_concurrent
FROM swept GROUP BY 1
""",
    description=(
        "Peak concurrency via sweep-line — the capacity-planning "
        "primitive (max simultaneous sessions/connections): each user's "
        "daily activity span becomes a +1 at start and a -1 at end, a "
        "running sum over the time-ordered deltas is the concurrency "
        "curve, and the per-day max is the peak. The naive formulation "
        "is an interval self-join (quadratic); the sweep is one window "
        "over 2x span-count rows, PARTITIONED BY DAY — legal because "
        "daily spans never cross midnight, so each day's sweep is "
        "independent and the sort distributes instead of collapsing to "
        "one partition (the keyless-window scale sin). Tie rule pinned "
        "on both engines: starts sort before ends at the same instant "
        "(delta DESC), so a span touching another's endpoint counts as "
        "overlapping."
    ),
    tags=("events", "extension", "timeseries"),
)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id", F.date_trunc("day", "ts").alias("d")).agg(
        F.min("ts").alias("t_start"), F.max("ts").alias("t_end")
    )
    deltas = spans.select(F.col("t_start").alias("t"), F.lit(1).alias("delta")).unionAll(
        spans.select(F.col("t_end").alias("t"), F.lit(-1).alias("delta"))
    )
    day = F.date_trunc("day", "t")
    w = (
        Window.partitionBy(day)
        .orderBy(F.col("t"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = deltas.select(
        day.alias("d"), F.sum("delta").over(w).alias("concurrent")
    )
    return swept.groupBy(F.date_format("d", "yyyy-MM-dd").alias("day")).agg(
        F.max("concurrent").alias("peak_concurrent")
    )


# Sessionization CTE shared by the session-scoped analytics oracles —
# identical logic to q_sessionize's oracle (30-minute gap, event_id
# tiebreak), ending in sess(user_id, session_seq, event_type, ts,
# event_id).
_SESSION_CTE = """gaps AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     <= INTERVAL '30 minutes' THEN 0 ELSE 1 END AS is_new
    FROM events
),
sess AS (
    SELECT user_id, event_type, ts, event_id,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
    FROM gaps
)"""


@register(
    "q_session_funnel",
    oracle=f"""
WITH {_SESSION_CTE},
per_session AS (
    SELECT user_id, session_seq,
           min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS first_click,
           max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS last_purchase
    FROM sess GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_with_click,
       CAST(sum(CASE WHEN first_click IS NOT NULL AND last_purchase > first_click
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
       (round((sum(CASE WHEN first_click IS NOT NULL AND last_purchase > first_click
                        THEN 1 ELSE 0 END) * 1.0
               / sum(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END))
              * 1000000.0) / 1000000.0) AS conversion_rate
FROM per_session
""",
    description=(
        "Session-scoped funnel conversion: a session converts when a "
        "purchase follows a click WITHIN THE SAME 30-minute session — "
        "the intra-visit conversion rate, stricter than the global "
        "funnel (q_funnel_steps) where steps may be days apart. "
        "Composes the sessionize window with per-session conditional "
        "min/max (exact integer µs, strict order required) and a 1-row "
        "fold; the sessionize shuffle on user_id is reused by the "
        "per-session aggregate — one data-sized exchange total."
    ),
    tags=("events", "extension", "timeseries"),
)
def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, order_tiebreak="event_id")
    per_session = sess.groupBy("user_id", "session_seq").agg(
        F.min(F.when(F.col("event_type") == "click", F.unix_micros("ts"))).alias(
            "first_click"
        ),
        F.max(F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))).alias(
            "last_purchase"
        ),
    )
    has_click = F.col("first_click").isNotNull()
    converted = has_click & (F.col("last_purchase") > F.col("first_click"))
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(has_click.cast("long")).alias("n_with_click"),
        F.sum(converted.cast("long")).alias("n_converted"),
        stable_round(
            F.sum(converted.cast("long")) * F.lit(1.0)
            / F.sum(has_click.cast("long")),
            6,
        ).alias("conversion_rate"),
    )


@register(
    "q_session_cooccurrence",
    oracle=f"""
WITH {_SESSION_CTE},
types AS (
    SELECT DISTINCT user_id, session_seq, event_type FROM sess
),
n_sess AS (SELECT CAST(count(DISTINCT (user_id, session_seq)) AS BIGINT) AS total FROM sess)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(count(*) AS BIGINT) AS n_sessions,
       (round((count(*) * 1.0 / max(total)) * 1000000.0) / 1000000.0) AS support
FROM types a
JOIN types b ON a.user_id = b.user_id AND a.session_seq = b.session_seq
            AND a.event_type < b.event_type
CROSS JOIN n_sess
GROUP BY 1, 2
""",
    description=(
        "Per-session event-type co-occurrence with support — the "
        "market-basket / frequent-itemset first pass (baskets = "
        "sessions, items = event types): distinct (session, type) "
        "pairs self-join within the session key, ordered type_a < "
        "type_b so each pair counts once, support = co-occurring "
        "sessions / all sessions. The join runs on the distinct-reduced "
        "per-session type sets (at most |types| rows per session), "
        "never the raw events — the standard a-priori candidate "
        "generation shape."
    ),
    tags=("events", "extension"),
)
def q_session_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, order_tiebreak="event_id")
    types = sess.select("user_id", "session_seq", "event_type").distinct()
    n_sess = sess.select("user_id", "session_seq").distinct().agg(
        F.count(F.lit(1)).alias("total")
    )
    a = types.select("user_id", "session_seq", F.col("event_type").alias("type_a"))
    b = types.select(
        F.col("user_id").alias("u_b"),
        F.col("session_seq").alias("s_b"),
        F.col("event_type").alias("type_b"),
    )
    return (
        a.join(
            b,
            (a["user_id"] == b["u_b"])
            & (a["session_seq"] == b["s_b"])
            & (a["type_a"] < b["type_b"]),
        )
        .crossJoin(F.broadcast(n_sess))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            stable_round(F.count(F.lit(1)) * F.lit(1.0) / F.max("total"), 6).alias(
                "support"
            ),
        )
    )


@register(
    "q_activation_delay",
    oracle="""
WITH firsts AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS first_signup,
           min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase
    FROM events GROUP BY user_id
),
delays AS (
    SELECT user_id,
           CAST(first_purchase - first_signup AS BIGINT) AS delay_us
    FROM firsts
    WHERE first_signup IS NOT NULL AND first_purchase > first_signup
)
SELECT CAST(count(*) AS BIGINT) AS n_activated,
       CAST(quantile_disc(delay_us, 0.5) AS BIGINT) AS p50_delay_us,
       CAST(quantile_disc(delay_us, 0.9) AS BIGINT) AS p90_delay_us,
       CAST(min(delay_us) AS BIGINT) AS min_delay_us,
       CAST(max(delay_us) AS BIGINT) AS max_delay_us
FROM delays
""",
    description=(
        "Activation delay: time from a user's first signup to their "
        "first purchase AFTER it — the activation funnel metric growth "
        "teams track, reported as discrete percentiles (exact integer "
        "µs, so the entire result is bit-exact with no rounding "
        "bridge). One conditional-min aggregate per user + a 1-row "
        "percentile fold over the users-sized delays."
    ),
    tags=("events", "extension", "timeseries"),
)
def q_activation_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.unix_micros("ts"))).alias(
            "first_signup"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))).alias(
            "first_purchase"
        ),
    )
    delays = firsts.filter(
        F.col("first_signup").isNotNull()
        & (F.col("first_purchase") > F.col("first_signup"))
    ).select((F.col("first_purchase") - F.col("first_signup")).alias("delay_us"))
    return delays.agg(
        F.count(F.lit(1)).alias("n_activated"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY delay_us)")
        .cast("long")
        .alias("p50_delay_us"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY delay_us)")
        .cast("long")
        .alias("p90_delay_us"),
        F.min("delay_us").alias("min_delay_us"),
        F.max("delay_us").alias("max_delay_us"),
    )


@register(
    "q_seasonal_anomaly",
    oracle="""
WITH daily AS (
    SELECT time_bucket(INTERVAL '1 day', ts) AS day,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
),
dow AS (
    SELECT day, n, dayofweek(day) AS wd,
           CAST(count(*) OVER (PARTITION BY dayofweek(day)) AS BIGINT) AS n_days,
           sum(n)     OVER (PARTITION BY dayofweek(day)) AS s1,
           sum(n * n) OVER (PARTITION BY dayofweek(day)) AS s2
    FROM daily
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       n,
       CAST(wd AS BIGINT) AS weekday,
       (round((s1 * 1.0 / n_days) * 1000000.0) / 1000000.0) AS weekday_mean,
       (round(((n - s1 * 1.0 / n_days)
               / sqrt(s2 * 1.0 / n_days - (s1 * 1.0 / n_days) * (s1 * 1.0 / n_days)))
              * 1000000.0) / 1000000.0) AS seasonal_z
FROM dow
WHERE s2 * 1.0 / n_days - (s1 * 1.0 / n_days) * (s1 * 1.0 / n_days) > 0
""",
    description=(
        "Seasonality-adjusted daily anomaly score: each day's event "
        "count z-scored against its OWN weekday's distribution (Mondays "
        "vs Mondays) — the global detector (q_anomaly_mad) flags every "
        "weekend as anomalous on weekly-seasonal traffic; this one "
        "removes the day-of-week component first. Weekday moments come "
        "from exact integer sums via windows over the days-sized "
        "series; population variance in one fixed expression. DuckDB's "
        "dayofweek and Spark's dayofweek both map Sunday->0-vs-1 "
        "consistently under the mirrored expression (verified by the "
        "hash match, which would catch any off-by-one)."
    ),
    tags=("analytics", "extension", "timeseries"),
)
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wd = F.dayofweek("day") - 1  # Spark: Sunday=1 -> DuckDB: Sunday=0
    w = Window.partitionBy(wd)
    dow = daily.select(
        "day",
        "n",
        wd.alias("weekday"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_days"),
        F.sum("n").over(w).alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("s2"),
    )
    mean = F.col("s1") * F.lit(1.0) / F.col("n_days")
    var = F.col("s2") * F.lit(1.0) / F.col("n_days") - mean * mean
    from healthcare_etl_spark.functions.rounding import stable_round

    return dow.filter(var > 0).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        F.col("weekday").cast("long").alias("weekday"),
        stable_round(mean, 6).alias("weekday_mean"),
        stable_round((F.col("n") - mean) / F.sqrt(var), 6).alias("seasonal_z"),
    )


@register(
    "q_attribution_linear",
    oracle="""
WITH seq AS (
    SELECT user_id, event_id, event_type, ts, value,
           CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS seg
    FROM events WHERE event_type IN ('click', 'purchase')
),
segments AS (
    SELECT user_id, seg,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
           max(CASE WHEN event_type = 'purchase' THEN value END) AS purchase_value
    FROM seq GROUP BY 1, 2
)
SELECT user_id,
       CAST(count(CASE WHEN purchase_value IS NOT NULL THEN 1 END) AS BIGINT) AS n_purchases,
       CAST(count(CASE WHEN purchase_value IS NOT NULL AND n_clicks > 0 THEN 1 END) AS BIGINT)
           AS n_attributed,
       (round(coalesce(sum(CASE WHEN purchase_value IS NOT NULL AND n_clicks > 0
                                THEN purchase_value END), 0.0) * 10000.0) / 10000.0)
           AS attributed_value,
       (round(coalesce(sum(CASE WHEN purchase_value IS NOT NULL AND n_clicks = 0
                                THEN purchase_value END), 0.0) * 10000.0) / 10000.0)
           AS unattributed_value,
       CAST(coalesce(sum(CASE WHEN purchase_value IS NOT NULL AND n_clicks > 0
                         THEN CAST(round(purchase_value * 100.0) AS BIGINT) * 10000 // n_clicks
                         END), 0) AS BIGINT)
           AS per_click_credit_ucents
FROM segments
GROUP BY user_id
""",
    description=(
        "Linear multi-touch attribution — the allocation counterpart to "
        "q_attribution_last_touch: each purchase's value splits equally "
        "across the clicks in ITS segment (the events since the "
        "previous purchase), purchases with no preceding clicks are "
        "reported unattributed. Join-free segmentation: the running "
        "purchase count over a 1-PRECEDING frame IS the segment id "
        "(each purchase closes its own segment), then one aggregate "
        "per (user, segment) and a per-user rollup — a single user_id "
        "shuffle shared by the window and both aggregates."
    ),
    tags=("events", "extension", "timeseries"),
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "event_type",
        "value",
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(w),
            F.lit(0),
        )
        .cast("long")
        .alias("seg"),
    )
    segments = seq.groupBy("user_id", "seg").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_clicks"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("value"))).alias(
            "purchase_value"
        ),
    )
    has_p = F.col("purchase_value").isNotNull()
    attributed = has_p & (F.col("n_clicks") > 0)
    unattributed = has_p & (F.col("n_clicks") == 0)
    r4 = lambda c: F.round(F.coalesce(c, F.lit(0.0)) * 10000.0) / 10000.0  # noqa: E731
    return segments.groupBy("user_id").agg(
        F.count(F.when(has_p, F.lit(1))).alias("n_purchases"),
        F.count(F.when(attributed, F.lit(1))).alias("n_attributed"),
        r4(F.sum(F.when(attributed, F.col("purchase_value")))).alias("attributed_value"),
        r4(F.sum(F.when(unattributed, F.col("purchase_value")))).alias(
            "unattributed_value"
        ),
        # exact integer credit: cents * 10000 floor-divided by the click
        # count — a float quotient sum is order-dependent across engines
        F.coalesce(
            F.sum(
                F.when(
                    attributed,
                    F.expr(
                        "CAST(round(purchase_value * 100.0) AS BIGINT) * 10000 div n_clicks"
                    ),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("per_click_credit_ucents"),
    )


@register(
    "q_session_entry_exit",
    oracle=f"""
WITH {_SESSION_CTE},
bounds AS (
    SELECT user_id, session_seq,
           arg_min(event_type, ts) AS entry_type,
           arg_max(event_type, ts) AS exit_type
    FROM (SELECT user_id, session_seq, event_type, ts, event_id FROM sess) s
    GROUP BY 1, 2
)
SELECT entry_type, exit_type,
       CAST(count(*) AS BIGINT) AS n_sessions
FROM bounds GROUP BY 1, 2
""",
    description=(
        "Session entry/exit analysis (landing vs bounce surface): each "
        "session's FIRST and LAST event type via MIN_BY/MAX_BY on the "
        "event time (unique per user in the fixtures), rolled to an "
        "entry x exit matrix — the "
        "Sankey endpoints product analytics draws. One aggregate over "
        "the sessionized rows (the sessionize window's user_id shuffle "
        "is reused), never a sort per session."
    ),
    tags=("events", "extension", "timeseries"),
)
def q_session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, order_tiebreak="event_id")
    bounds = sess.groupBy("user_id", "session_seq").agg(
        # (user_id, ts) is unique in the fixtures (verified at every SF),
        # so ordering by ts alone is deterministic — and DuckDB's
        # arg_min/arg_max accept only scalar ordering keys anyway
        F.expr("min_by(event_type, ts)").alias("entry_type"),
        F.expr("max_by(event_type, ts)").alias("exit_type"),
    )
    return bounds.groupBy("entry_type", "exit_type").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )


@register(
    "q_session_paths",
    oracle=f"""
WITH {_SESSION_CTE},
ordered AS (
    SELECT user_id, session_seq, event_type,
           lead(event_type, 1) OVER w AS t2,
           lead(event_type, 2) OVER w AS t3
    FROM sess
    WINDOW w AS (PARTITION BY user_id, session_seq ORDER BY ts, event_id)
),
tri AS (
    SELECT DISTINCT user_id, session_seq,
           event_type || ' > ' || t2 || ' > ' || t3 AS path
    FROM ordered WHERE t3 IS NOT NULL
),
n_sess AS (
    SELECT CAST(count(*) AS BIGINT) AS total
    FROM (SELECT DISTINCT user_id, session_seq FROM sess)
)
SELECT t.path, CAST(count(*) AS BIGINT) AS n_sessions,
       (round((count(*) * 1.0 / max(ns.total)) * 1000000.0) / 1000000.0)
           AS support
FROM tri t CROSS JOIN n_sess ns
GROUP BY t.path
ORDER BY n_sessions DESC, t.path
LIMIT 20
""",
    description=(
        "Sequential path mining: top-20 CONTIGUOUS event-type trigrams "
        "within 30-minute sessions, with session-level support — the "
        "order-aware member of the basket family (q_association_rules "
        "and q_session_cooccurrence ignore order; 'view > click > "
        "purchase' vs 'click > view > purchase' is exactly what they "
        "cannot distinguish), i.e. PrefixSpan-lite restricted to "
        "contiguous patterns, which is the variant that needs no "
        "candidate generation. One session-scoped double-lead window "
        "pass builds trigrams, a session-distinct dedup gives "
        "per-session support semantics, and the top-20 is a "
        "TakeOrdered. Same scale shape as every sessionized query: "
        "everything partitions by (user, session)."
    ),
    tags=("events", "extension", "analytics"),
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from healthcare_etl_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, order_tiebreak="event_id")
    w = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    tri = (
        sess.select(
            "user_id",
            "session_seq",
            "event_type",
            F.lead("event_type", 1).over(w).alias("t2"),
            F.lead("event_type", 2).over(w).alias("t3"),
        )
        .filter(F.col("t3").isNotNull())
        .select(
            "user_id",
            "session_seq",
            F.concat_ws(" > ", "event_type", "t2", "t3").alias("path"),
        )
        .distinct()
    )
    n_sess = (
        sess.select("user_id", "session_seq")
        .distinct()
        .agg(F.count(F.lit(1)).alias("total"))
    )
    return (
        tri.crossJoin(F.broadcast(n_sess))
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            stable_round(F.count(F.lit(1)) * F.lit(1.0) / F.max("total"), 6).alias(
                "support"
            ),
        )
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


@register(
    "q_growth_accounting",
    oracle="""
WITH ud AS (
    SELECT DISTINCT user_id, time_bucket(INTERVAL '1 day', ts) AS day
    FROM events
),
fs AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id),
classed AS (
    SELECT u.day,
           CASE WHEN u.day = f.first_day THEN 'new'
                WHEN y.user_id IS NOT NULL THEN 'retained'
                ELSE 'resurrected' END AS kind
    FROM ud u
    JOIN fs f ON f.user_id = u.user_id
    LEFT JOIN ud y ON y.user_id = u.user_id
                  AND y.day = u.day - INTERVAL '1 day'
),
churn AS (
    SELECT y.day + INTERVAL '1 day' AS day, CAST(count(*) AS BIGINT) AS n_churned
    FROM ud y
    LEFT JOIN ud t ON t.user_id = y.user_id
                  AND t.day = y.day + INTERVAL '1 day'
    WHERE t.user_id IS NULL
      AND y.day < (SELECT max(day) FROM ud)
    GROUP BY 1
),
agg AS (
    SELECT day,
           CAST(sum(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_retained,
           CAST(sum(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_resurrected,
           CAST(count(*) AS BIGINT) AS dau
    FROM classed GROUP BY day
)
SELECT strftime(a.day, '%Y-%m-%d') AS day,
       a.dau, a.n_new, a.n_retained, a.n_resurrected,
       coalesce(c.n_churned, 0) AS n_churned,
       (a.n_new + a.n_resurrected - coalesce(c.n_churned, 0)) AS net_growth
FROM agg a LEFT JOIN churn c ON c.day = a.day
ORDER BY a.day
""",
    description=(
        "Daily growth accounting (the a16z/Social-Capital MAU "
        "accounting identity at day grain): every active user-day is "
        "exactly one of new / retained (active yesterday) / "
        "resurrected (seen before, not yesterday), churn(d) = users "
        "active on d-1 and silent on d, and DAU(d) - DAU(d-1) == "
        "new + resurrected - churned by construction — the "
        "decomposition that tells you WHY the active count moved, "
        "which the plain q_weekly_churn rate cannot. One distinct "
        "user-day grid, a first-seen aggregate, and two self-joins "
        "on (user, adjacent-day) — all equi-joins on the grid keys; "
        "exact integer counts only."
    ),
    tags=("events", "extension", "analytics"),
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct().persist()
    try:
        fs = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
        y = ud.select(
            F.col("user_id").alias("u_y"), F.col("day").alias("day_y")
        )
        classed = (
            ud.join(fs, "user_id")
            .join(
                y,
                (F.col("user_id") == F.col("u_y"))
                & (F.col("day_y") == F.col("day") - F.expr("INTERVAL 1 DAY")),
                "left",
            )
            .select(
                "day",
                F.when(F.col("day") == F.col("first_day"), "new")
                .when(F.col("u_y").isNotNull(), "retained")
                .otherwise("resurrected")
                .alias("kind"),
            )
        )
        max_day = ud.agg(F.max("day")).collect()[0][0]
        t = ud.select(
            F.col("user_id").alias("u_t"), F.col("day").alias("day_t")
        )
        churn = (
            ud.filter(F.col("day") < F.lit(max_day))
            .join(
                t,
                (F.col("user_id") == F.col("u_t"))
                & (F.col("day_t") == F.col("day") + F.expr("INTERVAL 1 DAY")),
                "left",
            )
            .filter(F.col("u_t").isNull())
            .select((F.col("day") + F.expr("INTERVAL 1 DAY")).alias("day"))
            .groupBy("day")
            .agg(F.count(F.lit(1)).cast("long").alias("n_churned"))
        )
        agg = classed.groupBy("day").agg(
            F.sum(F.when(F.col("kind") == "new", 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
            F.sum(F.when(F.col("kind") == "retained", 1).otherwise(0))
            .cast("long")
            .alias("n_retained"),
            F.sum(F.when(F.col("kind") == "resurrected", 1).otherwise(0))
            .cast("long")
            .alias("n_resurrected"),
            F.count(F.lit(1)).cast("long").alias("dau"),
        )
        out = agg.join(churn, "day", "left").select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce("n_churned", F.lit(0)).cast("long").alias("n_churned"),
            (
                F.col("n_new")
                + F.col("n_resurrected")
                - F.coalesce("n_churned", F.lit(0))
            ).cast("long").alias("net_growth"),
        )
        return out.orderBy("day")
    finally:
        ud.unpersist()


@register(
    "q_dau_wau_mau",
    oracle="""
WITH ud AS (
    SELECT DISTINCT user_id, time_bucket(INTERVAL '1 day', ts) AS day
    FROM events
),
days AS (SELECT DISTINCT day FROM ud),
wau AS (
    SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
    FROM days d JOIN ud u
      ON u.day <= d.day AND u.day > d.day - INTERVAL '7 days'
    GROUP BY d.day
),
mau AS (
    SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau
    FROM days d JOIN ud u
      ON u.day <= d.day AND u.day > d.day - INTERVAL '28 days'
    GROUP BY d.day
),
dau AS (
    SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day
)
SELECT strftime(d.day, '%Y-%m-%d') AS day, dau.dau, w.wau, m.mau,
       (round((dau.dau * 1.0 / w.wau) * 1000000.0) / 1000000.0) AS dau_wau,
       (round((dau.dau * 1.0 / m.mau) * 1000000.0) / 1000000.0) AS stickiness
FROM days d
JOIN dau ON dau.day = d.day
JOIN wau w ON w.day = d.day
JOIN mau m ON m.day = d.day
ORDER BY d.day
""",
    description=(
        "DAU/WAU/MAU engagement ratios per day (28-day MAU): "
        "stickiness DAU/MAU is the classic 'how many of the monthly "
        "users show up on a given day' metric, the level-based "
        "companion to q_growth_accounting's flow decomposition. "
        "Rolling DISTINCT cannot ride an ordinary window frame "
        "(distinct-over-range is not an associative fold), so the "
        "exact form is the bounded fan-out equi-ish join: each "
        "user-day row joins to at most 7 (WAU) / 28 (MAU) anchor "
        "days — a fixed small blowup of the user-day grid, "
        "shuffle-partitioned by day, NOT a window over users. At "
        "100x the documented cheaper path is the mergeable HLL "
        "rollup (q_hll_rollup) when +-1% suffices; this query is the "
        "exact reference."
    ),
    tags=("events", "extension", "analytics"),
)
def q_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct().persist()
    try:
        days = ud.select("day").distinct()
        dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))

        def rolling(n: int, out: str):
            u = ud.select(
                F.col("user_id").alias("u"), F.col("day").alias("uday")
            )
            return (
                days.join(
                    u,
                    (F.col("uday") <= F.col("day"))
                    & (F.col("uday") > F.col("day") - F.expr(f"INTERVAL {n} DAYS")),
                )
                .groupBy("day")
                .agg(F.countDistinct("u").cast("long").alias(out))
            )

        wau = rolling(7, "wau")
        mau = rolling(28, "mau")
        return (
            days.join(dau, "day")
            .join(wau, "day")
            .join(mau, "day")
            .select(
                F.date_format("day", "yyyy-MM-dd").alias("day"),
                "dau",
                "wau",
                "mau",
                stable_round(F.col("dau") * 1.0 / F.col("wau"), 6).alias("dau_wau"),
                stable_round(F.col("dau") * 1.0 / F.col("mau"), 6).alias(
                    "stickiness"
                ),
            )
            .orderBy("day")
        )
    finally:
        ud.unpersist()


@register(
    "q_attribution_position",
    oracle="""
WITH seq AS (
    SELECT user_id, event_id, event_type, ts, value,
           CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS seg
    FROM events WHERE event_type IN ('click', 'purchase')
),
clicks AS (
    SELECT user_id, seg, event_id,
           CAST(row_number() OVER (PARTITION BY user_id, seg
                ORDER BY ts, event_id) AS BIGINT) AS pos
    FROM seq WHERE event_type = 'click'
),
seginfo AS (
    SELECT user_id, seg,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
               AS n,
           CAST(max(CASE WHEN event_type = 'purchase'
                    THEN round(value * 100) END) AS BIGINT) AS vc
    FROM seq GROUP BY 1, 2
),
credit AS (
    SELECT c.user_id,
           CASE WHEN c.pos = 1 THEN 'first'
                WHEN c.pos = s.n THEN 'last' ELSE 'middle' END AS touch,
           CASE WHEN s.n = 1 THEN s.vc * 10000
                WHEN s.n = 2 THEN (s.vc * 10000) // 2
                WHEN c.pos = 1 OR c.pos = s.n THEN s.vc * 4000
                ELSE (s.vc * 2000) // (s.n - 2) END AS ucents
    FROM clicks c JOIN seginfo s ON c.user_id = s.user_id AND c.seg = s.seg
    WHERE s.vc IS NOT NULL
)
SELECT user_id,
       CAST(coalesce(sum(CASE WHEN touch = 'first' THEN ucents END), 0) AS BIGINT)
           AS first_ucents,
       CAST(coalesce(sum(CASE WHEN touch = 'middle' THEN ucents END), 0) AS BIGINT)
           AS middle_ucents,
       CAST(coalesce(sum(CASE WHEN touch = 'last' THEN ucents END), 0) AS BIGINT)
           AS last_ucents,
       CAST(count(*) AS BIGINT) AS n_credited_clicks
FROM credit GROUP BY user_id
""",
    description=(
        "Position-based (U-shaped 40/20/40) multi-touch attribution: "
        "within each conversion segment the first and last click take "
        "40% of the purchase value each and the middle clicks split the "
        "remaining 20% — completing the attribution family's spectrum "
        "(last-touch / linear / time-agnostic Shapley / Markov removal; "
        "this is the industry-default compromise between them). Credits "
        "are exact integer micro-cents with floor division (the "
        "q_attribution_linear discipline); segmentation reuses the "
        "join-free running-purchase-count trick, and every window "
        "partitions by user — one user_id shuffle end to end."
    ),
    tags=("events", "extension", "timeseries", "parity"),
)
def q_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    wseg = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        "value",
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(
                wseg
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("seg"),
    )
    wpos = Window.partitionBy("user_id", "seg").orderBy("ts", "event_id")
    clicks = seq.filter(F.col("event_type") == "click").select(
        "user_id", "seg", F.row_number().over(wpos).cast("long").alias("pos")
    )
    seginfo = seq.groupBy("user_id", "seg").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("n"),
        F.max(
            F.when(
                F.col("event_type") == "purchase", F.round(F.col("value") * 100)
            )
        )
        .cast("long")
        .alias("vc"),
    )
    joined = clicks.join(seginfo, ["user_id", "seg"]).filter(
        F.col("vc").isNotNull()
    )
    n, pos, vc = F.col("n"), F.col("pos"), F.col("vc")
    ucents = (
        F.when(n == 1, vc * 10000)
        .when(n == 2, F.floor(vc * 10000 / 2).cast("long"))
        .when((pos == 1) | (pos == n), vc * 4000)
        .otherwise(F.floor(vc * 2000 / (n - 2)).cast("long"))
    )
    touch = (
        F.when(pos == 1, "first").when(pos == n, "last").otherwise("middle")
    )
    credit = joined.select("user_id", touch.alias("touch"), ucents.alias("ucents"))
    return credit.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("touch") == "first", F.col("ucents"))), F.lit(0)
        )
        .cast("long")
        .alias("first_ucents"),
        F.coalesce(
            F.sum(F.when(F.col("touch") == "middle", F.col("ucents"))), F.lit(0)
        )
        .cast("long")
        .alias("middle_ucents"),
        F.coalesce(
            F.sum(F.when(F.col("touch") == "last", F.col("ucents"))), F.lit(0)
        )
        .cast("long")
        .alias("last_ucents"),
        F.count(F.lit(1)).cast("long").alias("n_credited_clicks"),
    )


@register(
    "q_attribution_time_decay",
    oracle="""
WITH seq AS (
    SELECT user_id, event_id, event_type, ts, value,
           CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS seg
    FROM events WHERE event_type IN ('click', 'purchase')
),
seginfo AS (
    SELECT user_id, seg,
           CAST(max(CASE WHEN event_type = 'purchase'
                    THEN round(value * 100) END) AS BIGINT) AS vc,
           max(CASE WHEN event_type = 'purchase'
               THEN epoch_us(ts) END) AS p_us
    FROM seq GROUP BY 1, 2
),
clicks AS (
    SELECT s.user_id, s.seg,
           (1.0 / (1::BIGINT << CAST(least(
                (i.p_us - epoch_us(s.ts)) // 86400000000, 30) AS INTEGER))) AS w
    FROM seq s JOIN seginfo i ON s.user_id = i.user_id AND s.seg = i.seg
    WHERE s.event_type = 'click' AND i.vc IS NOT NULL
),
segw AS (
    SELECT user_id, seg, sum(w) AS sw, CAST(count(*) AS BIGINT) AS n_clicks
    FROM clicks GROUP BY 1, 2
),
credit AS (
    SELECT c.user_id,
           CAST(floor(i.vc * 10000 * (c.w / g.sw)) AS BIGINT) AS ucents
    FROM clicks c
    JOIN segw g ON c.user_id = g.user_id AND c.seg = g.seg
    JOIN seginfo i ON c.user_id = i.user_id AND c.seg = i.seg
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_credited_clicks,
       CAST(sum(ucents) AS BIGINT) AS decay_ucents
FROM credit GROUP BY user_id
""",
    description=(
        "Time-decay multi-touch attribution with a ONE-DAY half-life: "
        "each click's weight is 2^(-days before its segment's "
        "conversion) — an exact integer shift, so every weight and "
        "every per-segment weight sum is a dyadic rational that folds "
        "exactly in binary doubles on both engines (the q_croston / "
        "q_decayed_popularity discipline, here normalizing shares "
        "w/sum(w) deterministically) — the recency-weighted member "
        "completing the attribution spectrum (last-touch / linear / "
        "position / Shapley / Markov). Credits floor to exact integer "
        "micro-cents; segmentation reuses the join-free running-"
        "purchase-count window; all joins key on (user, segment)."
    ),
    tags=("events", "extension", "timeseries", "parity"),
)
def q_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    wseg = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        "value",
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(
                wseg
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("seg"),
    )
    seginfo = seq.groupBy("user_id", "seg").agg(
        F.max(
            F.when(
                F.col("event_type") == "purchase", F.round(F.col("value") * 100)
            )
        )
        .cast("long")
        .alias("vc"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("p_us"),
    )
    clicks = (
        seq.filter(F.col("event_type") == "click")
        .join(seginfo, ["user_id", "seg"])
        .filter(F.col("vc").isNotNull())
        .select(
            "user_id",
            "seg",
            "vc",
            (
                F.lit(1.0)
                / F.expr(
                    "shiftleft(1L, cast(least((p_us - unix_micros(ts)) div 86400000000,"
                    " 30L) as int))"
                )
            ).alias("w"),
        )
    )
    segw = clicks.groupBy("user_id", "seg").agg(F.sum("w").alias("sw"))
    credit = clicks.join(segw, ["user_id", "seg"]).select(
        "user_id",
        F.floor(F.col("vc") * 10000 * (F.col("w") / F.col("sw")))
        .cast("long")
        .alias("ucents"),
    )
    return credit.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_credited_clicks"),
        F.sum("ucents").cast("long").alias("decay_ucents"),
    )

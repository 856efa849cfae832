"""Statistical analytics queries (split from queries_analytics for
reviewable module size; r6 verdict task 8): Welch t-tests, chi-square
independence, tail-latency heatmaps, error budgets, salted joins,
Benjamini-Hochberg FDR, Holt smoothing, Kaplan-Meier / Nelson-Aalen /
RMST survival, ridge regression and diagnostics, pivots, interpolation,
IQR outliers, Cramer's V, STL decomposition, Kendall tau, Ljung-Box,
Brown-Forsythe, Simpson's paradox, Durbin-Watson, capture-recapture,
partial correlation, jackknife, Mann-Kendall, seasonality strength,
Pareto skylines, and SPC control charts.

All oracle-checked against DuckDB with identical arithmetic on both
sides; each query documents its 100 TB plan shape in its docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import stable_round
from healthcare_etl_spark.plans.registry import register
from healthcare_etl_spark.sources import load_table
@register(
    "q_welch_ttest",
    oracle="""
WITH assign AS (
    SELECT value,
           (('0x' || substring(md5('ab-v1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0)
               AS in_a
    FROM events WHERE event_type = 'purchase'
),
arms AS (
    SELECT CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           sum(CASE WHEN in_a THEN value ELSE 0.0 END) AS sa,
           sum(CASE WHEN NOT in_a THEN value ELSE 0.0 END) AS sb,
           sum(CASE WHEN in_a THEN value * value ELSE 0.0 END) AS saa,
           sum(CASE WHEN NOT in_a THEN value * value ELSE 0.0 END) AS sbb
    FROM assign
)
SELECT n_a, n_b,
       (round((sa / n_a) * 1000000.0) / 1000000.0) AS mean_a,
       (round((sb / n_b) * 1000000.0) / 1000000.0) AS mean_b,
       (round(((sa / n_a - sb / n_b)
               / sqrt((saa / n_a - (sa / n_a) * (sa / n_a)) / (n_a - 1)
                      + (sbb / n_b - (sb / n_b) * (sb / n_b)) / (n_b - 1)))
              * 10000.0) / 10000.0) AS welch_t
FROM arms
""",
    description=(
        "Welch's unequal-variance t statistic for mean purchase value "
        "between the hash-assigned A/B arms — the means complement to "
        "q_ab_test_ztest's proportions: t = (mA - mB) / sqrt(vA/nA + "
        "vB/nB) with variances from one conditional-moment pass "
        "(sample variance via moments over n-1). The statistic rounds "
        "at 4dp: the moment sums are double folds over ~n rows, and "
        "the variance difference cancellation costs ~2 digits of the "
        "6dp budget — the rate/means columns keep 6dp. One partial-"
        "aggregated scan; the t math runs on a 1-row frame."
    ),
    tags=("analytics", "extension", "parity"),
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    in_a = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab-v1:"), F.col("user_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )
    arms = ev.select("value", in_a.alias("in_a")).agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("in_a"), 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("in_a"), F.col("value")).otherwise(0.0)).alias("sa"),
        F.sum(F.when(~F.col("in_a"), F.col("value")).otherwise(0.0)).alias("sb"),
        F.sum(F.when(F.col("in_a"), F.col("value") * F.col("value")).otherwise(0.0)).alias("saa"),
        F.sum(F.when(~F.col("in_a"), F.col("value") * F.col("value")).otherwise(0.0)).alias("sbb"),
    )
    ma = F.col("sa") / F.col("n_a")
    mb = F.col("sb") / F.col("n_b")
    va = (F.col("saa") / F.col("n_a") - ma * ma) / (F.col("n_a") - 1)
    vb = (F.col("sbb") / F.col("n_b") - mb * mb) / (F.col("n_b") - 1)
    return arms.select(
        "n_a",
        "n_b",
        stable_round(ma, 6).alias("mean_a"),
        stable_round(mb, 6).alias("mean_b"),
        stable_round((ma - mb) / F.sqrt(va + vb), 4).alias("welch_t"),
    )


@register(
    "q_chi2_independence",
    oracle="""
WITH cells AS (
    SELECT event_type, dayofweek(ts) AS wd, CAST(count(*) AS BIGINT) AS o
    FROM events GROUP BY 1, 2
),
margins AS (
    SELECT c.event_type, c.wd, c.o,
           sum(c.o) OVER (PARTITION BY c.event_type) AS row_tot,
           sum(c.o) OVER (PARTITION BY c.wd) AS col_tot,
           sum(c.o) OVER () AS n
    FROM cells c
)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       (round(sum((o - row_tot * col_tot * 1.0 / n) * (o - row_tot * col_tot * 1.0 / n)
                  / (row_tot * col_tot * 1.0 / n)) * 1000000.0) / 1000000.0) AS chi2,
       CAST((count(DISTINCT event_type) - 1) * (count(DISTINCT wd) - 1) AS BIGINT) AS dof
FROM margins
""",
    description=(
        "Chi-square test of independence between event type and "
        "weekday — does traffic mix shift by day of week? Expected "
        "cell counts from exact integer margins (row x column / total, "
        "all BIGINT window sums over the contingency-table-sized "
        "grid), chi2 folded in one fixed expression with degrees of "
        "freedom alongside. The contingency table is types x 7 — every "
        "window here is metadata-scale; the one fact-sized stage is "
        "the cell-count aggregate."
    ),
    tags=("analytics", "extension", "parity"),
)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.dayofweek("ts") - 1).alias("wd")
    ).agg(F.count(F.lit(1)).alias("o"))
    margins = cells.select(
        "event_type",
        "wd",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("wd")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    exp = F.col("row_tot") * F.col("col_tot") * F.lit(1.0) / F.col("n")
    return margins.agg(
        F.count(F.lit(1)).alias("n_cells"),
        stable_round(F.sum((F.col("o") - exp) * (F.col("o") - exp) / exp), 6).alias(
            "chi2"
        ),
        (
            (F.count_distinct("event_type") - 1) * (F.count_distinct("wd") - 1)
        ).cast("long").alias("dof"),
    )


@register(
    "q_tail_latency_heatmap",
    oracle="""
SELECT CAST(dayofweek(ts) AS BIGINT) AS weekday,
       CAST(hour(ts) AS BIGINT) AS hour,
       CAST(count(*) AS BIGINT) AS n,
       quantile_disc(value, 0.5)  AS p50,
       quantile_disc(value, 0.95) AS p95,
       quantile_disc(value, 0.99) AS p99
FROM events
GROUP BY 1, 2
""",
    description=(
        "Tail-percentile heatmap feeder: p50/p95/p99 of the value "
        "distribution per (weekday, hour) cell — the ops-dashboard grid "
        "that localizes tail regressions to load patterns (weekday "
        "peaks vs weekend nights). Discrete percentiles return observed "
        "values, so the whole grid is bit-exact with no rounding "
        "bridge; one partial-aggregated scan into a 7x24-cell result. "
        "Exact per-cell percentiles sort within cells — at 100 TB the "
        "approx_percentile sketch is the drop-in (q_approx_quantiles)."
    ),
    tags=("analytics", "extension", "timeseries"),
)
def q_tail_latency_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        (F.dayofweek("ts") - 1).cast("long").alias("weekday"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("p50"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").alias("p95"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").alias("p99"),
    )


@register(
    "q_error_budget_burn",
    oracle="""
WITH daily AS (
    SELECT time_bucket(INTERVAL '1 day', ts) AS day,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err
    FROM events GROUP BY 1
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       n_total, n_err,
       (round((n_err * 1.0 / n_total) * 1000000.0) / 1000000.0) AS error_rate,
       (round(((n_err * 1.0 / n_total) / 0.05) * 1000000.0) / 1000000.0) AS burn_rate,
       (round((sum(n_err) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0
               / (0.05 * sum(n_total) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
              * 1000000.0) / 1000000.0) AS cum_budget_consumed
FROM daily
""",
    description=(
        "SRE error-budget burn-down against a 95% SLO: daily error "
        "rate, burn rate (rate / budget — >1 means burning faster than "
        "the budget allows), and the cumulative fraction of the "
        "month-to-date budget consumed (errors-to-date / 5% of "
        "requests-to-date) — the paging signal behind multiwindow "
        "burn-rate alerts. One daily aggregate; the running-budget "
        "windows ride the days-sized series, and every ratio is a "
        "fixed-order expression over exact integer counts."
    ),
    tags=("analytics", "extension", "timeseries", "quality"),
)
def q_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_err"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rate = F.col("n_err") * F.lit(1.0) / F.col("n_total")
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_total",
        "n_err",
        stable_round(rate, 6).alias("error_rate"),
        stable_round(rate / F.lit(0.05), 6).alias("burn_rate"),
        stable_round(
            F.sum("n_err").over(w) * F.lit(1.0)
            / (F.lit(0.05) * F.sum("n_total").over(w)),
            6,
        ).alias("cum_budget_consumed"),
    )


@register(
    "q_salted_join",
    oracle="""
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT)                   AS n_events,
       (round(sum(e.value) * 1000000.0) / 1000000.0) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""",
    description=(
        "Salted skew-join: the mitigation for what q_skew_profile "
        "diagnoses. The fact side gets a deterministic per-row salt "
        "(xxhash64 of event_id mod 8), the 8x-exploded dim joins on "
        "(key, salt), so each heavy-hitter user spreads over 8 shuffle "
        "partitions instead of funneling one straggler. Result is "
        "bit-identical to the plain join (oracle IS the unsalted SQL); "
        "a unit test also pins salted == unsalted row-for-row."
    ),
    tags=("analytics", "extension", "scale", "parity"),
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.relational import salted_join

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(ev, cust, "user_id", "c_custkey", n_salts=8, salt_source="event_id")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        stable_round(F.sum("value"), 6).alias("total_value"),
    )


# Zelen & Severo 26.2.17 rational tail approximation of the standard
# normal CDF (|error| < 7.5e-8) — pure arithmetic + exp, so both engines
# evaluate the identical formula; results are 6dp-rounded to absorb
# cross-libm exp() ulp drift. Inlined as literals on both sides.
_BH_ALPHA = 0.05
_PHI_CONSTS = (0.2316419, 0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_SQRT_2PI = 2.5066282746310002


def _tail_p_sql(az: str) -> str:
    b0, b1, b2, b3, b4, b5 = _PHI_CONSTS
    t = f"(1.0 / (1.0 + {b0} * {az}))"
    poly = f"({t} * ({b1} + {t} * ({b2} + {t} * ({b3} + {t} * ({b4} + {t} * {b5})))))"
    pdf = f"(exp(-({az}) * ({az}) / 2.0) / {_SQRT_2PI})"
    return f"least(1.0, 2.0 * {pdf} * {poly})"


@register(
    "q_bh_fdr",
    oracle=f"""
WITH g AS (
    SELECT count(*) AS n, sum(value) AS s, sum(value * value) AS ss FROM events
),
gm AS (
    SELECT (round((s / n) * 1000000.0) / 1000000.0) AS gmean,
           (round(sqrt((ss - s * s / n) / n) * 1000000.0) / 1000000.0) AS gstd
    FROM g
),
cells AS (
    SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS weekday,
           CAST(count(*) AS BIGINT) AS n,
           (round((sum(value) / count(*)) * 1000000.0) / 1000000.0) AS cmean
    FROM events GROUP BY 1, 2
),
zs AS (
    SELECT event_type, weekday, n,
           (round(((cmean - gmean) / (gstd / sqrt(n))) * 1000000.0) / 1000000.0) AS z
    FROM cells, gm
),
ps AS (
    SELECT event_type, weekday, n, z,
           (round({_tail_p_sql("abs(z)")} * 1000000.0) / 1000000.0) AS p
    FROM zs
),
ranked AS (
    SELECT *, CAST(row_number() OVER (ORDER BY p ASC, event_type ASC, weekday ASC) AS BIGINT) AS rnk,
           CAST(count(*) OVER () AS BIGINT) AS m
    FROM ps
)
SELECT event_type, weekday, n, z, p, rnk,
       (rnk <= coalesce(max(CASE WHEN p <= {_BH_ALPHA} * rnk / m THEN rnk END) OVER (), 0))
         AS rejected
FROM ranked
""",
    description=(
        "Benjamini-Hochberg FDR screen over the (event_type x weekday) "
        "grid: per-cell one-sample z-tests of mean value vs the corpus "
        "mean, normal-tail p-values via the Zelen-Severo rational "
        "approximation (identical literals both engines, 6dp-rounded to "
        "absorb libm exp drift), then the step-up procedure — rank "
        "p ascending, reject through the largest rank with "
        "p <= alpha*rank/m. The multiple-testing guard the per-test "
        "family (Welch t, chi-square, z-test) needs before anyone acts "
        "on 35 simultaneous hypotheses. The global window runs over m = "
        "#tests rows (post-aggregation), never the event table."
    ),
    tags=("analytics", "extension", "stats", "parity"),
)
def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bh_fdr(load_table(spark, sf_dir, "events"))


def bh_fdr(ev: DataFrame) -> DataFrame:
    b0, b1, b2, b3, b4, b5 = _PHI_CONSTS
    g = ev.agg(
        F.count(F.lit(1)).alias("gn"), F.sum("value").alias("s"), F.sum(F.col("value") * F.col("value")).alias("ss")
    ).select(
        stable_round(F.col("s") / F.col("gn"), 6).alias("gmean"),
        stable_round(F.sqrt((F.col("ss") - F.col("s") * F.col("s") / F.col("gn")) / F.col("gn")), 6).alias("gstd"),
    )
    cells = ev.groupBy(
        "event_type", (F.dayofweek("ts") - 1).cast("long").alias("weekday")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        stable_round(F.sum("value") / F.count(F.lit(1)), 6).alias("cmean"),
    )
    zs = cells.crossJoin(F.broadcast(g)).select(
        "event_type",
        "weekday",
        "n",
        stable_round((F.col("cmean") - F.col("gmean")) / (F.col("gstd") / F.sqrt("n")), 6).alias("z"),
    )
    az = F.abs(F.col("z"))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(b0) * az)
    poly = t * (F.lit(b1) + t * (F.lit(b2) + t * (F.lit(b3) + t * (F.lit(b4) + t * F.lit(b5)))))
    pdf = F.exp(-az * az / F.lit(2.0)) / F.lit(_SQRT_2PI)
    ps = zs.withColumn("p", stable_round(F.least(F.lit(1.0), F.lit(2.0) * pdf * poly), 6))
    wr = Window.orderBy(F.asc("p"), F.asc("event_type"), F.asc("weekday"))
    wall = Window.partitionBy()
    ranked = ps.withColumn("rnk", F.row_number().over(wr).cast("long")).withColumn(
        "m", F.count(F.lit(1)).over(wall).cast("long")
    )
    kmax = F.coalesce(
        F.max(
            F.when(F.col("p") <= F.lit(_BH_ALPHA) * F.col("rnk") / F.col("m"), F.col("rnk"))
        ).over(wall),
        F.lit(0).cast("long"),
    )
    return ranked.select(
        "event_type", "weekday", "n", "z", "p", "rnk", (F.col("rnk") <= kmax).alias("rejected")
    )


@register(
    "q_holt_smoothing",
    oracle="""
WITH RECURSIVE raw AS (
    SELECT time_bucket(INTERVAL '1 day', ts) AS day,
           (round(sum(value) * 10000.0) / 10000.0) AS x
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
idxd AS (
    SELECT day, x,
           CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx
    FROM raw
),
holt AS (
    SELECT a.idx, a.day, a.x, a.x AS l, (b2.x - a.x) AS b
    FROM idxd a JOIN idxd b2 ON a.idx = 1 AND b2.idx = 2
    UNION ALL
    SELECT d.idx, d.day, d.x,
           (round((0.5 * d.x + 0.5 * (h.l + h.b)) * 10000.0) / 10000.0),
           (round((0.3 * ((round((0.5 * d.x + 0.5 * (h.l + h.b)) * 10000.0) / 10000.0) - h.l)
                   + 0.7 * h.b) * 10000.0) / 10000.0)
    FROM holt h JOIN idxd d ON d.idx = h.idx + 1
)
SELECT strftime(day, '%Y-%m-%d') AS day, x AS revenue, l AS level, b AS trend,
       l + b AS forecast_next
FROM holt
""",
    description=(
        "Holt's double exponential smoothing (level alpha=0.5 + trend "
        "beta=0.3) of daily revenue via native WITH RECURSIVE — the "
        "trend-aware upgrade of q_ewma_smoothing, with the classic "
        "b1 = x2 - x1 initialization and the one-step-ahead forecast "
        "l+b per day. The trend update references the JUST-updated "
        "level, so the rounded level expression is inlined twice, "
        "identically on both engines — each step re-rounds to 4dp so "
        "the chain cannot drift however long the series. Recursion "
        "depth = days; all data-sized work is the one daily aggregate."
    ),
    tags=("analytics", "extension", "timeseries", "recursive"),
)
def q_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    raw = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg((F.round(F.sum("value") * 10000.0) / 10000.0).alias("x"))
    )
    idxd = raw.select(
        "day", "x", F.row_number().over(Window.orderBy("day")).cast("long").alias("idx")
    )
    idxd.createOrReplaceTempView("v_holt_daily")
    return spark.sql(
        """
WITH RECURSIVE holt AS (
    SELECT a.idx, a.day, a.x, a.x AS l, (b2.x - a.x) AS b
    FROM v_holt_daily a JOIN v_holt_daily b2 ON a.idx = 1 AND b2.idx = 2
    UNION ALL
    SELECT d.idx, d.day, d.x,
           (round((0.5 * d.x + 0.5 * (h.l + h.b)) * 10000.0) / 10000.0),
           (round((0.3 * ((round((0.5 * d.x + 0.5 * (h.l + h.b)) * 10000.0) / 10000.0) - h.l)
                   + 0.7 * h.b) * 10000.0) / 10000.0)
    FROM holt h JOIN v_holt_daily d ON d.idx = h.idx + 1
)
SELECT date_format(day, 'yyyy-MM-dd') AS day, x AS revenue, l AS level, b AS trend,
       l + b AS forecast_next
FROM holt
"""
    )


@register(
    "q_kaplan_meier",
    oracle="""
WITH RECURSIVE f AS (
    SELECT user_id, min(epoch_us(ts)) AS first_us FROM events GROUP BY user_id
),
p AS (
    SELECT user_id, min(epoch_us(ts)) AS p_us
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
subj AS (
    SELECT f.user_id,
           CASE WHEN p.p_us IS NOT NULL
                     AND (p.p_us - f.first_us) // 3600000000 <= 60
                THEN (p.p_us - f.first_us) // 3600000000 ELSE 60 END AS dur,
           (p.p_us IS NOT NULL AND (p.p_us - f.first_us) // 3600000000 <= 60) AS event
    FROM f LEFT JOIN p ON f.user_id = p.user_id
),
tbl AS (
    SELECT CAST(dur AS BIGINT) AS dur,
           CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
           CAST(sum(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS c
    FROM subj GROUP BY 1
),
idxd AS (
    SELECT dur, d, c,
           CAST(row_number() OVER (ORDER BY dur) AS BIGINT) AS idx,
           CAST(sum(d + c) OVER () - coalesce(sum(d + c) OVER (
               ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk
    FROM tbl
),
km AS (
    SELECT idx, dur, d, c, n_risk,
           (round((1.0 - d * 1.0 / n_risk) * 1000000.0) / 1000000.0) AS s
    FROM idxd WHERE idx = 1
    UNION ALL
    SELECT i.idx, i.dur, i.d, i.c, i.n_risk,
           (round((k.s * (1.0 - i.d * 1.0 / i.n_risk)) * 1000000.0) / 1000000.0)
    FROM km k JOIN idxd i ON i.idx = k.idx + 1
)
SELECT dur AS hours, n_risk, d AS n_converted, c AS n_censored, s AS survival
FROM km
""",
    description=(
        "Kaplan-Meier estimator of time-to-first-purchase (whole hours "
        "from each user's first event, exact integer-us arithmetic) with "
        "administrative right-censoring at a 60 h follow-up horizon — "
        "users not converting within the horizon are censored AT 60 h, "
        "the setup where naive mean-delay is biased and KM is the "
        "correct curve (survival here = P(not yet purchased)). "
        "n-at-risk via one running-sum window over the <=61-row duration "
        "table; the survival product S(t) = prod(1 - d/n) runs as a "
        "WITH RECURSIVE chain with per-step 6dp re-round (cross-engine "
        "drift-proof, like the EWMA/Holt chains). All data-sized work is "
        "two per-user aggregates; everything after is O(#durations)."
    ),
    tags=("analytics", "extension", "stats", "recursive"),
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(F.min(F.unix_micros("ts")).alias("first_us"))
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("p_us"))
    )
    delay_h = F.floor((F.col("p_us") - F.col("first_us")) / F.lit(3600000000))
    is_event = F.col("p_us").isNotNull() & (delay_h <= 60)
    subj = f.join(p, "user_id", "left").select(
        F.when(is_event, delay_h).otherwise(F.lit(60)).cast("long").alias("dur"),
        is_event.alias("event"),
    )
    return kaplan_meier_curve(subj)


def kaplan_meier_curve(subj: DataFrame) -> DataFrame:
    """KM table from per-subject (dur BIGINT, event BOOLEAN) rows:
    (hours, n_risk, n_converted, n_censored, survival)."""
    tbl = subj.groupBy("dur").agg(
        F.sum(F.when(F.col("event"), 1).otherwise(0)).cast("long").alias("d"),
        F.sum(F.when(F.col("event"), 0).otherwise(1)).cast("long").alias("c"),
    )
    w_all = Window.partitionBy()
    w_prev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    idxd = tbl.select(
        "dur",
        "d",
        "c",
        F.row_number().over(Window.orderBy("dur")).cast("long").alias("idx"),
        (
            F.sum(F.col("d") + F.col("c")).over(w_all)
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0))
        ).cast("long").alias("n_risk"),
    )
    idxd.createOrReplaceTempView("v_km_idxd")
    return subj.sparkSession.sql(
        """
WITH RECURSIVE km AS (
    SELECT idx, dur, d, c, n_risk,
           (round((1.0D - d * 1.0D / n_risk) * 1000000.0D) / 1000000.0D) AS s
    FROM v_km_idxd WHERE idx = 1
    UNION ALL
    SELECT i.idx, i.dur, i.d, i.c, i.n_risk,
           (round((k.s * (1.0D - i.d * 1.0D / i.n_risk)) * 1000000.0D) / 1000000.0D)
    FROM km k JOIN v_km_idxd i ON i.idx = k.idx + 1
)
SELECT dur AS hours, n_risk, d AS n_converted, c AS n_censored, s AS survival
FROM km
"""
    )


def ridge_2f(
    df: DataFrame,
    *,
    group_col: str,
    x1: F.Column,
    x2: F.Column,
    y: F.Column,
    lam: float = 1.0,
) -> DataFrame:
    """Ridge-regularized two-feature linear regression per group, solved
    in closed form from ONE moment aggregate (9 sums) — the multivariate
    upgrade of q_grouped_ols. Centered normal equations with +lam on the
    diagonal; the 2x2 solve is exact arithmetic on 6dp-rounded moments,
    so results are engine-identical. No iteration, no driver math: the
    data-sized work is a single partial-aggregated groupBy.
    """
    rows = df.select(
        F.col(group_col).alias("g"), x1.alias("x1"), x2.alias("x2"), y.alias("y")
    )
    m = rows.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cm = m.select(
        "g",
        "n",
        stable_round(F.col("s11") - F.col("s1") * F.col("s1") / F.col("n")).alias("c11"),
        stable_round(F.col("s12") - F.col("s1") * F.col("s2") / F.col("n")).alias("c12"),
        stable_round(F.col("s22") - F.col("s2") * F.col("s2") / F.col("n")).alias("c22"),
        stable_round(F.col("s1y") - F.col("s1") * F.col("sy") / F.col("n")).alias("c1y"),
        stable_round(F.col("s2y") - F.col("s2") * F.col("sy") / F.col("n")).alias("c2y"),
        stable_round(F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")).alias("cyy"),
        stable_round(F.col("s1") / F.col("n")).alias("m1"),
        stable_round(F.col("s2") / F.col("n")).alias("m2"),
        stable_round(F.col("sy") / F.col("n")).alias("my"),
    )
    det = (F.col("c11") + F.lit(lam)) * (F.col("c22") + F.lit(lam)) - F.col("c12") * F.col("c12")
    b1 = ((F.col("c22") + F.lit(lam)) * F.col("c1y") - F.col("c12") * F.col("c2y")) / det
    b2 = ((F.col("c11") + F.lit(lam)) * F.col("c2y") - F.col("c12") * F.col("c1y")) / det
    sse = (
        F.col("cyy")
        - F.lit(2.0) * (b1 * F.col("c1y") + b2 * F.col("c2y"))
        + (b1 * b1 * F.col("c11") + F.lit(2.0) * b1 * b2 * F.col("c12") + b2 * b2 * F.col("c22"))
    )
    return cm.select(
        F.col("g").alias(group_col),
        "n",
        stable_round(b1).alias("beta_x1"),
        stable_round(b2).alias("beta_x2"),
        stable_round(F.col("my") - b1 * F.col("m1") - b2 * F.col("m2")).alias("intercept"),
        stable_round(F.lit(1.0) - sse / F.col("cyy")).alias("r2"),
    )


@register(
    "q_ridge_regression",
    oracle="""
WITH m AS (
    SELECT event_type AS g, count(*) AS n,
           sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
           sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
           sum(x1 * y) AS s1y, sum(x2 * y) AS s2y, sum(y * y) AS syy
    FROM (
        SELECT event_type,
               CAST(hour(ts) AS DOUBLE) AS x1,
               CAST(dayofweek(ts) AS DOUBLE) AS x2,
               value AS y
        FROM events
    ) GROUP BY 1
),
cm AS (
    SELECT g, CAST(n AS BIGINT) AS n,
           (round((s11 - s1 * s1 / n) * 1000000.0) / 1000000.0) AS c11,
           (round((s12 - s1 * s2 / n) * 1000000.0) / 1000000.0) AS c12,
           (round((s22 - s2 * s2 / n) * 1000000.0) / 1000000.0) AS c22,
           (round((s1y - s1 * sy / n) * 1000000.0) / 1000000.0) AS c1y,
           (round((s2y - s2 * sy / n) * 1000000.0) / 1000000.0) AS c2y,
           (round((syy - sy * sy / n) * 1000000.0) / 1000000.0) AS cyy,
           (round((s1 / n) * 1000000.0) / 1000000.0) AS m1,
           (round((s2 / n) * 1000000.0) / 1000000.0) AS m2,
           (round((sy / n) * 1000000.0) / 1000000.0) AS my
    FROM m
),
sol AS (
    SELECT *,
           ((c22 + 1.0) * c1y - c12 * c2y)
             / ((c11 + 1.0) * (c22 + 1.0) - c12 * c12) AS b1,
           ((c11 + 1.0) * c2y - c12 * c1y)
             / ((c11 + 1.0) * (c22 + 1.0) - c12 * c12) AS b2
    FROM cm
)
SELECT g AS event_type, n,
       (round(b1 * 1000000.0) / 1000000.0) AS beta_x1,
       (round(b2 * 1000000.0) / 1000000.0) AS beta_x2,
       (round((my - b1 * m1 - b2 * m2) * 1000000.0) / 1000000.0) AS intercept,
       (round((1.0 - (cyy - 2.0 * (b1 * c1y + b2 * c2y)
                      + (b1 * b1 * c11 + 2.0 * b1 * b2 * c12 + b2 * b2 * c22)) / cyy)
              * 1000000.0) / 1000000.0) AS r2
FROM sol
""",
    description=(
        "Ridge-regularized two-feature regression per event type "
        "(value ~ hour-of-day + weekday, lambda=1): centered normal "
        "equations from ONE 10-sum moment aggregate, exact closed-form "
        "2x2 solve, plus moment-derived R^2 — the multivariate upgrade "
        "of q_grouped_ols, still zero iteration and zero driver math. "
        "Moments 6dp-rounded before the solve so both engines run "
        "identical arithmetic."
    ),
    tags=("analytics", "extension", "stats", "parity"),
)
def q_ridge_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ridge_2f(
        ev,
        group_col="event_type",
        x1=F.hour("ts").cast("double"),
        x2=(F.dayofweek("ts") - 1).cast("double"),
        y=F.col("value"),
        lam=1.0,
    )


@register(
    "q_pivot_wide",
    oracle="""
WITH daily AS (
    SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d') AS day,
           event_type,
           sum(CAST(round(value * 100) AS BIGINT)) AS rev_cents
    FROM events GROUP BY 1, 2
)
SELECT day,
       CAST(coalesce(max(CASE WHEN event_type = 'click'    THEN rev_cents END), 0) AS BIGINT) AS click_cents,
       CAST(coalesce(max(CASE WHEN event_type = 'error'    THEN rev_cents END), 0) AS BIGINT) AS error_cents,
       CAST(coalesce(max(CASE WHEN event_type = 'purchase' THEN rev_cents END), 0) AS BIGINT) AS purchase_cents,
       CAST(coalesce(max(CASE WHEN event_type = 'signup'   THEN rev_cents END), 0) AS BIGINT) AS signup_cents,
       CAST(coalesce(max(CASE WHEN event_type = 'view'     THEN rev_cents END), 0) AS BIGINT) AS view_cents
FROM daily GROUP BY day
""",
    description=(
        "Wide PIVOT (long -> columns), the reshape inverse of "
        "q_unpivot: daily exact-cents revenue per event type spread "
        "into one column per type via Spark's native pivot with an "
        "EXPLICIT value list — never the two-pass values-discovery "
        "form, which runs an extra distinct job and breaks plan "
        "caching at 100 TB. One partial-aggregated shuffle on (day, "
        "type), then the pivot rides the days-sized frame."
    ),
    tags=("analytics", "extension", "relational"),
)
def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("rev_cents"))
    types = ["click", "error", "purchase", "signup", "view"]
    wide = daily.groupBy("day").pivot("event_type", types).agg(F.max("rev_cents"))
    return wide.select(
        "day",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"{t}_cents") for t in types],
    )


@register(
    "q_interpolate_linear",
    oracle="""
WITH daily AS (
    SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS DATE) AS day,
           sum(CAST(round(value * 100) AS BIGINT)) AS rev_cents
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
grid AS (
    -- DuckDB range() is end-exclusive; pad one day to match Spark's
    -- inclusive sequence(d0, d1)
    SELECT CAST(unnest(range(CAST(d0 AS TIMESTAMP),
                             CAST(d1 AS TIMESTAMP) + INTERVAL '1 day',
                             INTERVAL '1 day')) AS DATE) AS day
    FROM bounds
),
joined AS (
    SELECT g.day, d.rev_cents FROM grid g LEFT JOIN daily d ON d.day = g.day
),
bracketed AS (
    SELECT day, rev_cents,
           max(CASE WHEN rev_cents IS NOT NULL THEN day END)
               OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
           last_value(rev_cents IGNORE NULLS)
               OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_val,
           first_value(rev_cents IGNORE NULLS)
               OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_val,
           min(CASE WHEN rev_cents IS NOT NULL THEN day END)
               OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day
    FROM joined
)
SELECT CAST(day AS VARCHAR) AS day,
       (rev_cents IS NOT NULL) AS observed,
       (round((CASE
           WHEN rev_cents IS NOT NULL THEN rev_cents / 100.0
           WHEN prev_val IS NULL THEN next_val / 100.0
           WHEN next_val IS NULL THEN prev_val / 100.0
           ELSE (prev_val
                 + (next_val - prev_val)
                   * date_diff('day', prev_day, day)
                   * 1.0 / date_diff('day', prev_day, next_day)) / 100.0
       END) * 1000000.0) / 1000000.0) AS revenue
FROM bracketed
""",
    description=(
        "Linear interpolation over calendar gaps in the daily purchase "
        "series — the numeric upgrade of q_gap_fill's previous-value "
        "carry: missing days get the straight line between the "
        "bracketing observed days ((next-prev) * elapsed/gap), edges "
        "clamp to the nearest observation. Built from the generated "
        "calendar grid + two IGNORE NULLS window carries (forward "
        "last_value, backward first_value) over the days-sized frame; "
        "interpolation arithmetic stays in exact cents until the one "
        "rounded division."
    ),
    tags=("analytics", "extension", "timeseries"),
)
def q_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("rev_cents"))
    )
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day")
    )
    joined = grid.join(daily, "day", "left")
    w_b = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_f = Window.orderBy("day").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    obs_day = F.when(F.col("rev_cents").isNotNull(), F.col("day"))
    bracketed = joined.select(
        "day",
        "rev_cents",
        F.max(obs_day).over(w_b).alias("prev_day"),
        F.last("rev_cents", ignorenulls=True).over(w_b).alias("prev_val"),
        F.first("rev_cents", ignorenulls=True).over(w_f).alias("next_val"),
        F.min(obs_day).over(w_f).alias("next_day"),
    )
    interp = (
        F.when(F.col("rev_cents").isNotNull(), F.col("rev_cents") / 100.0)
        .when(F.col("prev_val").isNull(), F.col("next_val") / 100.0)
        .when(F.col("next_val").isNull(), F.col("prev_val") / 100.0)
        .otherwise(
            (
                F.col("prev_val")
                + (F.col("next_val") - F.col("prev_val"))
                * F.datediff("day", "prev_day")
                * F.lit(1.0)
                / F.datediff("next_day", "prev_day")
            )
            / 100.0
        )
    )
    return bracketed.select(
        F.col("day").cast("string").alias("day"),
        F.col("rev_cents").isNotNull().alias("observed"),
        stable_round(interp, 6).alias("revenue"),
    )


@register(
    "q_iqr_outliers",
    oracle="""
WITH cents AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events
),
h AS (
    SELECT event_type, v, CAST(count(*) AS BIGINT) AS t
    FROM cents GROUP BY 1, 2
),
tot AS (SELECT event_type, CAST(sum(t) AS BIGINT) AS n FROM h GROUP BY 1),
cum AS (
    SELECT h.event_type, h.v, h.t, tt.n,
           sum(h.t) OVER (PARTITION BY h.event_type ORDER BY h.v) AS c
    FROM h JOIN tot tt ON tt.event_type = h.event_type
),
quart AS (
    SELECT event_type, max(n) AS n,
           min(CASE WHEN c >= ceil(n * 0.25) THEN v END) AS q1,
           min(CASE WHEN c >= ceil(n * 0.75) THEN v END) AS q3
    FROM cum GROUP BY event_type
),
fence AS (
    SELECT event_type, n, q1, q3,
           q1 - 1.5 * (q3 - q1) AS lo,
           q3 + 1.5 * (q3 - q1) AS hi
    FROM quart
)
SELECT f.event_type, f.n,
       (round((f.q1 / 100.0) * 1000000.0) / 1000000.0) AS q1,
       (round((f.q3 / 100.0) * 1000000.0) / 1000000.0) AS q3,
       CAST(coalesce(sum(CASE WHEN h.v < f.lo OR h.v > f.hi THEN h.t END), 0) AS BIGINT)
           AS n_outliers,
       (round((coalesce(sum(CASE WHEN h.v < f.lo OR h.v > f.hi THEN h.t END), 0)
               * 1.0 / f.n) * 1000000.0) / 1000000.0) AS outlier_share
FROM fence f JOIN h ON h.event_type = f.event_type
GROUP BY f.event_type, f.n, f.q1, f.q3
""",
    description=(
        "Tukey IQR outlier screen per event type with EXACT quartiles "
        "and no data-scale sort: values collapse to an exact-cents "
        "histogram (group by type x cent-value), quartiles are order "
        "statistics read off the cumulative histogram (first value "
        "whose running count reaches ceil(0.25n)/ceil(0.75n) — the "
        "discrete 'lower' quantile, so both engines agree with zero "
        "interpolation), fences at 1.5 IQR, and the outlier count is a "
        "conditional re-aggregation of the same histogram. The only "
        "window rides distinct (type, cent) rows — bounded by the value "
        "range, not the row count — making this the grouped-quantile "
        "pattern that replaces per-row ntile/percent_rank at 100 TB. "
        "Complements q_anomaly_mad (robust center) and "
        "q_winsorized_mean (trimming) in the outlier toolkit."
    ),
    tags=("analytics", "extension", "quality", "stats"),
)
def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("v")
    )
    h = cents.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("t"))
    tot = h.groupBy("event_type").agg(F.sum("t").alias("n"))
    w = Window.partitionBy("event_type").orderBy("v")
    cum = h.join(tot, "event_type").withColumn("c", F.sum("t").over(w))
    quart = cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("c") >= F.ceil(F.col("n") * 0.25), F.col("v"))).alias("q1"),
        F.min(F.when(F.col("c") >= F.ceil(F.col("n") * 0.75), F.col("v"))).alias("q3"),
    )
    fence = quart.select(
        "event_type",
        "n",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    out = F.when((F.col("v") < F.col("lo")) | (F.col("v") > F.col("hi")), F.col("t"))
    return (
        h.join(F.broadcast(fence), "event_type")
        .groupBy("event_type", "n", "q1", "q3")
        .agg(
            F.coalesce(F.sum(out), F.lit(0)).alias("n_outliers"),
            stable_round(
                F.coalesce(F.sum(out), F.lit(0)) * F.lit(1.0) / F.col("n"), 6
            ).alias("outlier_share"),
        )
        .select(
            "event_type",
            "n",
            stable_round(F.col("q1") / 100.0, 6).alias("q1"),
            stable_round(F.col("q3") / 100.0, 6).alias("q3"),
            "n_outliers",
            "outlier_share",
        )
    )


@register(
    "q_cramers_v",
    oracle="""
WITH obs AS (
    SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS wd,
           CAST(count(*) AS BIGINT) AS o
    FROM events GROUP BY 1, 2
),
rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY 1),
ct AS (SELECT wd, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY 1),
n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
chi AS (
    SELECT sum((o.o - rt.r * 1.0 * ct.c / n.n) * (o.o - rt.r * 1.0 * ct.c / n.n)
               / (rt.r * 1.0 * ct.c / n.n)) AS chi2,
           max(n.n) AS n,
           CAST(count(DISTINCT o.event_type) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT o.wd) AS BIGINT) AS n_cols
    FROM obs o
    JOIN rt ON rt.event_type = o.event_type
    JOIN ct ON ct.wd = o.wd
    CROSS JOIN n
)
SELECT n, n_rows, n_cols,
       (round(chi2 * 1000000.0) / 1000000.0) AS chi2,
       (round(sqrt(chi2 / (n * least(n_rows - 1, n_cols - 1))) * 1000000.0) / 1000000.0)
           AS cramers_v
FROM chi
""",
    description=(
        "Cramer's V effect size for the event_type x weekday "
        "association — the magnitude companion to q_chi2_independence's "
        "test statistic (chi-square grows with n and always "
        "'significant' at 100 TB; V = sqrt(chi2 / (n * min(r-1, c-1))) "
        "is the scale-free number a practitioner actually reads). Same "
        "one-pass contingency build (types x 7 grid); the V fold is one "
        "row."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", (F.dayofweek("ts")).cast("long").alias("wd")
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("wd").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    e = F.col("r") * F.lit(1.0) * F.col("c") / F.col("n")
    chi = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "wd")
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum((F.col("o") - e) * (F.col("o") - e) / e).alias("chi2"),
            F.max("n").alias("n"),
            F.count_distinct("event_type").alias("n_rows"),
            F.count_distinct("wd").alias("n_cols"),
        )
    )
    return chi.select(
        "n",
        "n_rows",
        "n_cols",
        stable_round(F.col("chi2"), 6).alias("chi2"),
        stable_round(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * F.least(F.col("n_rows") - 1, F.col("n_cols") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "q_stl_decompose",
    oracle="""
WITH daily AS (
    SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS DATE) AS day,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
tr AS (
    SELECT day, cents,
           CASE WHEN count(*) OVER w = 7
                THEN (round((avg(cents * 1.0) OVER w) * 1000000.0) / 1000000.0)
           END AS trend
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
seas AS (
    SELECT CAST(dayofweek(day) AS BIGINT) AS wd,
           (round(avg(cents - trend) * 1000000.0) / 1000000.0) AS seasonal
    FROM tr WHERE trend IS NOT NULL
    GROUP BY 1
)
SELECT CAST(t.day AS VARCHAR) AS day,
       (round((t.cents / 100.0) * 1000000.0) / 1000000.0) AS revenue,
       (round((t.trend / 100.0) * 1000000.0) / 1000000.0) AS trend,
       (round((s.seasonal / 100.0) * 1000000.0) / 1000000.0) AS seasonal,
       (round(((t.cents - t.trend - s.seasonal) / 100.0) * 1000000.0) / 1000000.0)
           AS residual
FROM tr t JOIN seas s ON s.wd = CAST(dayofweek(t.day) AS BIGINT)
WHERE t.trend IS NOT NULL
""",
    description=(
        "STL-lite seasonal decomposition of daily purchase revenue: "
        "trend = centered 7-day moving average (emitted only where the "
        "full week exists, so edges don't bias), weekday seasonal = "
        "mean detrended value per day-of-week, residual = the "
        "remainder — the decomposition behind 'is Monday always like "
        "this, or is something wrong?' and the preprocessing step for "
        "q_seasonal_anomaly-style alerting. Revenue stays exact cents "
        "until the rounded divisions; all windows ride the days-sized "
        "series; the 7-class seasonal table broadcasts back."
    ),
    tags=("analytics", "extension", "timeseries"),
)
def q_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "cents",
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            stable_round(F.avg(F.col("cents") * F.lit(1.0)).over(w), 6),
        ).alias("trend"),
    )
    # Spark dayofweek == DuckDB dayofweek + 1; label only feeds the
    # self-join, so the offset cancels as long as BOTH sides are
    # consistent within themselves.
    seas = (
        tr.filter(F.col("trend").isNotNull())
        .groupBy(F.dayofweek("day").cast("long").alias("wd"))
        .agg(stable_round(F.avg(F.col("cents") - F.col("trend")), 6).alias("seasonal"))
    )
    out = (
        tr.filter(F.col("trend").isNotNull())
        .withColumn("wd", F.dayofweek("day").cast("long"))
        .join(F.broadcast(seas), "wd")
    )
    return out.select(
        F.col("day").cast("string").alias("day"),
        stable_round(F.col("cents") / 100.0, 6).alias("revenue"),
        stable_round(F.col("trend") / 100.0, 6).alias("trend"),
        stable_round(F.col("seasonal") / 100.0, 6).alias("seasonal"),
        stable_round(
            (F.col("cents") - F.col("trend") - F.col("seasonal")) / 100.0, 6
        ).alias("residual"),
    )


@register(
    "q_kendall_tau",
    oracle="""
WITH daily AS (
    SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS DATE) AS day,
           CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS rev_cents,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
    FROM events GROUP BY 1
),
pairs AS (
    SELECT CAST(sum(CASE WHEN (a.rev_cents - b.rev_cents)
                           * (a.active_users - b.active_users) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS c,
           CAST(sum(CASE WHEN (a.rev_cents - b.rev_cents)
                           * (a.active_users - b.active_users) < 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS d,
           CAST(sum(CASE WHEN a.rev_cents = b.rev_cents
                          AND a.active_users <> b.active_users
                    THEN 1 ELSE 0 END) AS BIGINT) AS tx,
           CAST(sum(CASE WHEN a.active_users = b.active_users
                          AND a.rev_cents <> b.rev_cents
                    THEN 1 ELSE 0 END) AS BIGINT) AS ty,
           CAST(sum(CASE WHEN a.rev_cents = b.rev_cents
                          AND a.active_users = b.active_users
                    THEN 1 ELSE 0 END) AS BIGINT) AS txy,
           CAST(count(*) AS BIGINT) AS n0
    FROM daily a JOIN daily b ON a.day < b.day
)
SELECT n0 AS n_pairs, c AS concordant, d AS discordant, tx, ty,
       (round(((c - d) * 1.0 / sqrt((n0 - tx - txy) * 1.0 * (n0 - ty - txy)))
              * 1000000.0) / 1000000.0) AS tau_b
FROM pairs
""",
    description=(
        "Kendall's tau-b rank correlation between daily revenue and "
        "daily active users: exact concordant/discordant/tied pair "
        "counts with the tie-corrected denominator — the "
        "outlier-immune alternative to q_spearman_corr (tau's bounded "
        "influence function tolerates the heavy-tailed revenue days "
        "that distort rank-transform-then-Pearson). Data-scale work is "
        "ONE partial-aggregated daily rollup (exact cents, exact "
        "distinct users); the O(days^2) pair join rides the "
        "days-sized aggregate — metadata, not data (a year is ~66k "
        "pairs) — and every count is an exact BIGINT, so tau-b is a "
        "single rounded double expression identical on both engines."
    ),
    tags=("analytics", "extension", "stats", "timeseries"),
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("rev_cents"),
        F.count_distinct("user_id").cast("long").alias("active_users"),
    )
    a = daily.select(
        F.col("day").alias("day_a"),
        F.col("rev_cents").alias("xa"),
        F.col("active_users").alias("ya"),
    )
    b = daily.select(
        F.col("day").alias("day_b"),
        F.col("rev_cents").alias("xb"),
        F.col("active_users").alias("yb"),
    )
    dx, dy = F.col("xa") - F.col("xb"), F.col("ya") - F.col("yb")
    p = (
        a.join(b, F.col("day_a") < F.col("day_b"))
        .agg(
            F.sum(F.when(dx * dy > 0, 1).otherwise(0)).cast("long").alias("c"),
            F.sum(F.when(dx * dy < 0, 1).otherwise(0)).cast("long").alias("d"),
            F.sum(F.when((dx == 0) & (dy != 0), 1).otherwise(0))
            .cast("long")
            .alias("tx"),
            F.sum(F.when((dy == 0) & (dx != 0), 1).otherwise(0))
            .cast("long")
            .alias("ty"),
            F.sum(F.when((dx == 0) & (dy == 0), 1).otherwise(0))
            .cast("long")
            .alias("txy"),
            F.count(F.lit(1)).cast("long").alias("n0"),
        )
    )
    c, d, tx, ty, txy, n0 = (F.col(x) for x in ["c", "d", "tx", "ty", "txy", "n0"])
    tau = (c - d) * 1.0 / F.sqrt((n0 - tx - txy) * 1.0 * (n0 - ty - txy))
    return p.select(
        n0.alias("n_pairs"),
        c.alias("concordant"),
        d.alias("discordant"),
        "tx",
        "ty",
        stable_round(tau, 6).alias("tau_b"),
    )


@register(
    "q_ljung_box",
    oracle="""
WITH daily AS (
    SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS DATE) AS day,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
idx AS (
    SELECT row_number() OVER (ORDER BY day) AS i, cents FROM daily
),
stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
    FROM idx
),
dev AS (
    SELECT i, (cents - s * 1.0 / n) AS dv FROM idx CROSS JOIN stats
),
den AS (
    SELECT CAST(sum(CAST(round(dv * dv) AS BIGINT)) AS BIGINT) AS den_q FROM dev
),
lags AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag),
num AS (
    SELECT l.lag,
           CAST(coalesce(sum(CAST(round(a.dv * b.dv) AS BIGINT)), 0) AS BIGINT)
               AS num_q
    FROM lags l
    LEFT JOIN dev a ON TRUE
    JOIN dev b ON b.i = a.i - l.lag
    GROUP BY 1
),
rho AS (
    SELECT lag, (num_q * 1.0 / den_q) AS r, n
    FROM num CROSS JOIN den CROSS JOIN stats
),
terms AS (
    SELECT lag, r, n,
           CAST(round((r * r / (n - lag)) * 1000000000000.0) AS BIGINT) AS tq
    FROM rho
)
SELECT lag,
       (round(r * 1000000.0) / 1000000.0) AS rho,
       (round((n * (n + 2.0)
               * (sum(tq) OVER (ORDER BY lag) / 1000000000000.0))
              * 1000000.0) / 1000000.0) AS q_stat
FROM terms
""",
    description=(
        "Ljung-Box portmanteau white-noise test on daily purchase "
        "revenue: autocorrelations rho_1..rho_7 and the cumulative "
        "Q statistic n(n+2) * sum(rho_k^2 / (n-k)) — the 'is there any "
        "structure left?' gate run on forecast residuals "
        "(q_seasonal_naive_backtest, q_holt_smoothing) before trusting "
        "a model, and on raw series before bothering to model at all. "
        "The series is exact integer cents; deviations share one "
        "exact-rational mean (s/n); every sum that crosses rows — "
        "lagged products, squared deviations, the Q accumulation — is "
        "quantized to BIGINT first, so addition order can't move a "
        "bit on either engine. All windows ride the days-sized "
        "aggregate; the one data-scale pass is the daily rollup."
    ),
    tags=("analytics", "extension", "stats", "timeseries"),
)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("i"), "cents"
    )
    stats = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    dev = idx.crossJoin(F.broadcast(stats)).select(
        "i", "n", (F.col("cents") - F.col("s") * 1.0 / F.col("n")).alias("dv")
    )
    den = dev.agg(
        F.sum(F.round(F.col("dv") * F.col("dv")).cast("long"))
        .cast("long")
        .alias("den_q")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("long").alias("lag"))
    a = dev.select("i", "n", F.col("dv").alias("dva"))
    b = dev.select(F.col("i").alias("ib"), F.col("dv").alias("dvb"))
    num = (
        lags.join(a, F.lit(True), "left")
        .join(b, F.col("ib") == F.col("i") - F.col("lag"))
        .groupBy("lag")
        .agg(
            F.max("n").alias("n"),
            F.coalesce(
                F.sum(F.round(F.col("dva") * F.col("dvb")).cast("long")), F.lit(0)
            )
            .cast("long")
            .alias("num_q"),
        )
    )
    rho = num.crossJoin(F.broadcast(den)).select(
        "lag", "n", (F.col("num_q") * 1.0 / F.col("den_q")).alias("r")
    )
    terms = rho.select(
        "lag",
        "n",
        "r",
        F.round((F.col("r") * F.col("r") / (F.col("n") - F.col("lag"))) * 1e12)
        .cast("long")
        .alias("tq"),
    )
    wcum = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        "lag",
        stable_round(F.col("r"), 6).alias("rho"),
        stable_round(
            F.col("n")
            * (F.col("n") + 2.0)
            * (F.sum("tq").over(wcum) / 1e12),
            6,
        ).alias("q_stat"),
    )


@register(
    "q_nelson_aalen",
    oracle="""
WITH f AS (
    SELECT user_id, min(epoch_us(ts)) AS first_us FROM events GROUP BY user_id
),
p AS (
    SELECT user_id, min(epoch_us(ts)) AS p_us
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
subj AS (
    SELECT f.user_id,
           CASE WHEN p.p_us IS NOT NULL
                     AND (p.p_us - f.first_us) // 3600000000 <= 60
                THEN (p.p_us - f.first_us) // 3600000000 ELSE 60 END AS dur,
           (p.p_us IS NOT NULL AND (p.p_us - f.first_us) // 3600000000 <= 60) AS event
    FROM f LEFT JOIN p ON f.user_id = p.user_id
),
tbl AS (
    SELECT CAST(dur AS BIGINT) AS dur,
           CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
           CAST(sum(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS c
    FROM subj GROUP BY 1
),
idxd AS (
    SELECT dur, d, c,
           CAST(sum(d + c) OVER () - coalesce(sum(d + c) OVER (
               ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk
    FROM tbl
),
haz AS (
    SELECT dur, d, c, n_risk,
           CAST(round((d * 1.0 / n_risk) * 10000000000.0) AS BIGINT) AS hq
    FROM idxd
)
SELECT dur AS hours, n_risk, d AS n_events, c AS n_censored,
       (round((hq / 10000000000.0) * 1000000.0) / 1000000.0) AS hazard_step,
       (round((CAST(sum(hq) OVER (ORDER BY dur) AS BIGINT) / 10000000000.0)
              * 1000000.0) / 1000000.0) AS cum_hazard,
       (round(exp(-(CAST(sum(hq) OVER (ORDER BY dur) AS BIGINT)
                    / 10000000000.0)) * 1000000.0) / 1000000.0)
           AS survival_fh
FROM haz
""",
    description=(
        "Nelson-Aalen cumulative hazard of time-to-first-purchase "
        "(same subjects, censoring-at-60h, and duration table as "
        "q_kaplan_meier): H(t) = sum of d/n_risk over event times "
        "<= t, plus the Fleming-Harrington survival exp(-H) — the "
        "additive twin of KM's product, preferred for small risk sets "
        "and as the input to hazard-ratio eyeballing. Unlike KM's "
        "recursive product (which needs the WITH RECURSIVE chain), NA "
        "is a plain cumulative SUM, so the per-time hazard increments "
        "quantize to BIGINT at 1e-10 and one ordered window over the "
        "<=61-row duration table accumulates them exactly — no "
        "recursion, no float-order sensitivity, nothing data-scale "
        "after the two per-user aggregates."
    ),
    tags=("analytics", "extension", "stats", "timeseries"),
)
def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(F.min(F.unix_micros("ts")).alias("first_us"))
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("p_us"))
    )
    delay_h = F.floor((F.col("p_us") - F.col("first_us")) / F.lit(3600000000))
    is_event = F.col("p_us").isNotNull() & (delay_h <= 60)
    subj = f.join(p, "user_id", "left").select(
        F.when(is_event, delay_h).otherwise(F.lit(60)).cast("long").alias("dur"),
        is_event.alias("event"),
    )
    tbl = subj.groupBy("dur").agg(
        F.sum(F.when(F.col("event"), 1).otherwise(0)).cast("long").alias("d"),
        F.sum(F.when(F.col("event"), 0).otherwise(1)).cast("long").alias("c"),
    )
    w_all = Window.partitionBy()
    w_prev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    idxd = tbl.select(
        "dur",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(w_all)
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    haz = idxd.withColumn(
        "hq",
        F.round((F.col("d") * 1.0 / F.col("n_risk")) * 10000000000.0).cast("long"),
    )
    wcum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum("hq").over(wcum).cast("long")
    return haz.select(
        F.col("dur").alias("hours"),
        "n_risk",
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        stable_round(F.col("hq") / 10000000000.0, 6).alias("hazard_step"),
        stable_round(cum / 10000000000.0, 6).alias("cum_hazard"),
        stable_round(F.exp(-(cum / 10000000000.0)), 6).alias("survival_fh"),
    )


@register(
    "q_ntile_percent_rank",
    oracle="""
WITH ranked AS (
    SELECT c_custkey, c_acctbal,
           CAST(ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS decile,
           percent_rank() OVER (ORDER BY c_acctbal, c_custkey) AS pr
    FROM customer
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_customers,
       (round(min(c_acctbal) * 1000000.0) / 1000000.0) AS lo_bal,
       (round(max(c_acctbal) * 1000000.0) / 1000000.0) AS hi_bal,
       (round((CAST(sum(CAST(round(pr * 10000000000.0) AS BIGINT)) AS BIGINT)
               / 10000000000.0 / count(*)) * 1000000.0) / 1000000.0)
           AS mean_percent_rank
FROM ranked GROUP BY decile
""",
    description=(
        "Decile banding of customers by account balance: ntile(10) + "
        "percent_rank over a total order (balance, then key — ties "
        "MUST break deterministically or the band edges wander across "
        "engines), rolled up to per-decile count/bounds/mean-rank — "
        "the segmentation primitive behind lift tables, spend bands, "
        "and 'top decile' reporting (q_window_analytics exercises the "
        "same ranking functions row-wise; this adds the banded rollup "
        "consumers actually read). NO single-partition sort: the "
        "global rank is the two-phase bucketed carry (per-cents-bucket "
        "local ranks + broadcast bucket offsets — bucketed_rank), and "
        "ntile/percent_rank are closed-form arithmetic on that rank "
        "(ntile_from_rank is bit-identical to ANSI ntile), so the "
        "plan stays distributed at any scale while the oracle keeps "
        "the textbook window form. percent_rank values are exact rationals, "
        "quantized to BIGINT before the per-decile mean."
    ),
    tags=("analytics", "extension", "window"),
)
def q_ntile_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.scale import bucketed_rank, ntile_from_rank

    cust = load_table(spark, sf_dir, "customer")
    n = cust.count()
    # two-phase bucketed global rank (no single-partition sort): the
    # cents bucket lexicographically coarsens (c_acctbal, c_custkey)
    rk = bucketed_rank(
        cust.select("c_acctbal", "c_custkey"),
        buckets=[F.floor(F.col("c_acctbal") * 100 / 4096).cast("long")],
        order_by=[F.asc("c_acctbal"), F.asc("c_custkey")],
        out_col="rk",
    )
    ranked = rk.select(
        "c_acctbal",
        ntile_from_rank(F.col("rk"), F.lit(n).cast("long"), 10).alias("decile"),
        ((F.col("rk") - 1) * 1.0 / F.lit(float(n - 1))).alias("pr"),
    )
    return ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        stable_round(F.min("c_acctbal"), 6).alias("lo_bal"),
        stable_round(F.max("c_acctbal"), 6).alias("hi_bal"),
        stable_round(
            F.sum(F.round(F.col("pr") * 10000000000.0).cast("long")).cast("long")
            / 10000000000.0
            / F.count(F.lit(1)),
            6,
        ).alias("mean_percent_rank"),
    )


@register(
    "q_brown_forsythe",
    oracle="""
WITH v AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
),
med AS (
    SELECT event_type, quantile_cont(cents, 0.5) AS med FROM v GROUP BY 1
),
z AS (
    SELECT v.event_type, abs(v.cents - m.med) AS z
    FROM v JOIN med m ON m.event_type = v.event_type
),
g AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_g,
           CAST(sum(CAST(round(z * 2.0) AS BIGINT)) AS BIGINT) AS sh,
           CAST(sum(CAST(round(z * z * 4.0) AS BIGINT)) AS BIGINT) AS sq
    FROM z GROUP BY 1
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(n_g) AS BIGINT) AS n,
           CAST(sum(sh) AS BIGINT) AS sh_tot,
           CAST(sum(CAST(round((sh / 2.0) * (sh / 2.0) / n_g * 10000.0)
                         AS BIGINT)) AS BIGINT) AS s2nq,
           CAST(sum(sq) AS BIGINT) AS sq_tot
    FROM g
)
SELECT k AS n_groups, n AS n_total,
       (round((((s2nq / 10000.0) - (sh_tot / 2.0) * (sh_tot / 2.0) / n)
               / (k - 1.0))
              / (((sq_tot / 4.0) - (s2nq / 10000.0)) / (n - k * 1.0))
              * 1000000.0) / 1000000.0) AS bf_stat
FROM m
""",
    description=(
        "Brown-Forsythe (median-based Levene) test for homogeneity of "
        "variances of event value across event types — the assumption "
        "gate run BEFORE q_anova_f (ANOVA's F is anti-conservative "
        "under unequal variances; BF's median centering keeps the "
        "gate itself robust to the heavy tails that cause the "
        "problem). |x - group median| carries exact half-cent "
        "granularity, so per-element squares are exact doubles; every "
        "cross-row sum (incl. the per-group s^2/n fold) quantizes to BIGINT before "
        "aggregation (sum order can't move a bit), and the F ratio is "
        "one rounded expression of those integers. Two partial-"
        "aggregated passes (medians, then moments); the per-group "
        "sum-of-squares fold rides the k-row group table."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    med = v.groupBy("event_type").agg(
        F.expr("percentile(cents, 0.5)").alias("med")
    )
    z = v.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("cents") - F.col("med")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(F.round(F.col("z") * 2.0).cast("long")).cast("long").alias("sh"),
        F.sum(F.round(F.col("z") * F.col("z") * 4.0).cast("long"))
        .cast("long")
        .alias("sq"),
    )
    m = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("sh").cast("long").alias("sh_tot"),
        F.sum(
            F.round((F.col("sh") / 2.0) * (F.col("sh") / 2.0) / F.col("n_g") * 10000.0)
            .cast("long")
        )
        .cast("long")
        .alias("s2nq"),
        F.sum("sq").cast("long").alias("sq_tot"),
    )
    k, n = F.col("k"), F.col("n")
    s2n = F.col("s2nq") / 10000.0
    ssb = (s2n - (F.col("sh_tot") / 2.0) * (F.col("sh_tot") / 2.0) / n) / (k - 1.0)
    ssw = ((F.col("sq_tot") / 4.0) - s2n) / (n - k * 1.0)
    return m.select(
        k.alias("n_groups"),
        n.alias("n_total"),
        stable_round(ssb / ssw, 6).alias("bf_stat"),
    )


@register(
    "q_regression_diagnostics",
    oracle="""
WITH daily AS (
    SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS DATE) AS day,
           CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS cents
    FROM events GROUP BY 1
),
idx AS (
    SELECT day, cents,
           CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
    FROM daily
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(i) AS BIGINT) AS sx,
           CAST(sum(i * i) AS BIGINT) AS sxx,
           CAST(sum(cents) AS BIGINT) AS sy,
           CAST(sum(i * cents) AS BIGINT) AS sxy
    FROM idx
),
fit AS (
    SELECT n, sx, sxx, sy, sxy,
           ((n * 1.0 * sxy - sx * 1.0 * sy) / (n * 1.0 * sxx - sx * 1.0 * sx)) AS beta,
           (sxx - sx * 1.0 / n * sx) AS sxx_c
    FROM mom
),
resid AS (
    SELECT x.day, x.i, x.cents, f.n, f.beta, f.sxx_c,
           (x.cents - ((f.sy * 1.0 / f.n - f.beta * f.sx / f.n) + f.beta * x.i))
               AS r,
           (1.0 / f.n + (x.i - f.sx * 1.0 / f.n) * (x.i - f.sx * 1.0 / f.n) / f.sxx_c)
               AS h
    FROM idx x CROSS JOIN fit f
),
mse AS (
    SELECT CAST(sum(CAST(round(r * r * 10000.0) AS BIGINT)) AS BIGINT) AS ssq
    FROM resid
)
SELECT CAST(x.day AS VARCHAR) AS day,
       (round((x.cents / 100.0) * 1000000.0) / 1000000.0) AS revenue,
       (round((x.r / 100.0) * 1000000.0) / 1000000.0) AS residual,
       (round(x.h * 1000000.0) / 1000000.0) AS leverage,
       (round(((x.r * x.r / (2.0 * ((m.ssq / 10000.0) / (x.n - 2))))
               * (x.h / ((1.0 - x.h) * (1.0 - x.h))))
              * 1000000.0) / 1000000.0) AS cooks_d
FROM resid x CROSS JOIN mse m
""",
    description=(
        "OLS influence diagnostics for the daily-revenue trend line: "
        "per-day residual, leverage h_i = 1/n + (x-xbar)^2/Sxx, and "
        "Cook's distance — which days are DRIVING the fitted trend "
        "(quarter-end spikes with high leverage can manufacture a "
        "slope that q_theil_sen would shrug off; Cook's D > 4/n is "
        "the classic referral threshold, and this query is how you "
        "find the days to investigate before trusting any trend "
        "readout). Moments are exact BIGINTs (integer day index x "
        "integer cents); beta/residual/leverage are fixed double "
        "expressions of them; the one cross-row float sum (SSE for "
        "the MSE) quantizes residual squares to BIGINT at 1e-4 "
        "first. Everything after the daily rollup rides the "
        "days-sized series."
    ),
    tags=("analytics", "extension", "stats", "timeseries"),
)
def q_regression_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("cents")
    )
    idx = daily.select(
        "day", "cents", F.row_number().over(Window.orderBy("day")).cast("long").alias("i")
    )
    mom = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("i").cast("long").alias("sx"),
        F.sum(F.col("i") * F.col("i")).cast("long").alias("sxx"),
        F.sum("cents").cast("long").alias("sy"),
        F.sum(F.col("i") * F.col("cents")).cast("long").alias("sxy"),
    )
    n, sx, sxx, sy, sxy = (F.col(c) for c in ["n", "sx", "sxx", "sy", "sxy"])
    fit = mom.select(
        "n", "sx", "sy",
        ((n * 1.0 * sxy - sx * 1.0 * sy) / (n * 1.0 * sxx - sx * 1.0 * sx)).alias(
            "beta"
        ),
        (sxx - sx * 1.0 / n * sx).alias("sxx_c"),
    )
    x = idx.crossJoin(F.broadcast(fit))
    r = F.col("cents") - (
        (F.col("sy") * 1.0 / F.col("n") - F.col("beta") * F.col("sx") / F.col("n"))
        + F.col("beta") * F.col("i")
    )
    h = (
        F.lit(1.0) / F.col("n")
        + (F.col("i") - F.col("sx") * 1.0 / F.col("n"))
        * (F.col("i") - F.col("sx") * 1.0 / F.col("n"))
        / F.col("sxx_c")
    )
    resid = x.select(
        "day", "cents", "n", r.alias("r"), h.alias("h")
    )
    mse = resid.agg(
        F.sum(F.round(F.col("r") * F.col("r") * 10000.0).cast("long"))
        .cast("long")
        .alias("ssq")
    )
    out = resid.crossJoin(F.broadcast(mse))
    mse_c = (F.col("ssq") / 10000.0) / (F.col("n") - 2)
    return out.select(
        F.col("day").cast("string").alias("day"),
        stable_round(F.col("cents") / 100.0, 6).alias("revenue"),
        stable_round(F.col("r") / 100.0, 6).alias("residual"),
        stable_round(F.col("h"), 6).alias("leverage"),
        stable_round(
            (F.col("r") * F.col("r") / (2.0 * mse_c))
            * (F.col("h") / ((F.lit(1.0) - F.col("h")) * (F.lit(1.0) - F.col("h")))),
            6,
        ).alias("cooks_d"),
    )


@register(
    "q_simpson_paradox",
    oracle="""
WITH t0 AS (SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS start_us FROM events),
u AS (
    SELECT e.user_id,
           CAST(((min(epoch_us(e.ts)) - t.start_us)
                 // 604800000000) AS BIGINT) AS cohort_week,
           CAST(sum(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
           CAST(sum(CASE WHEN e.event_type = 'purchase'
                THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
    FROM events e CROSS JOIN t0 t
    GROUP BY e.user_id, t.start_us
),
strata AS (
    SELECT CAST(cohort_week AS VARCHAR) AS stratum, x, y FROM u
    UNION ALL
    SELECT 'overall', x, y FROM u
),
mom AS (
    SELECT stratum,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
    FROM strata GROUP BY 1
)
SELECT stratum, n,
       (round(((n * 1.0 * sxy - sx * 1.0 * sy)
               / (n * 1.0 * sxx - sx * 1.0 * sx)) * 1000000.0) / 1000000.0)
           AS slope_cents_per_click,
       CASE WHEN (n * 1.0 * sxy - sx * 1.0 * sy) > 0 THEN 'positive'
            WHEN (n * 1.0 * sxy - sx * 1.0 * sy) < 0 THEN 'negative'
            ELSE 'flat' END AS direction
FROM mom
WHERE (n * 1.0 * sxx - sx * 1.0 * sx) <> 0
""",
    description=(
        "Simpson's-paradox screen: the OLS slope of per-user spend on "
        "click count, fit overall AND within each signup-week cohort "
        "stratum — when the overall direction disagrees with (most) "
        "strata, the aggregate relationship is confounded by cohort "
        "mix and any 'clicks drive revenue' readout from the pooled "
        "data is wrong (the aggregation trap q_psm_match and "
        "q_cuped_adjustment exist to avoid). One per-user pass, one "
        "moment aggregate over the doubled (stratum + overall) long "
        "form — all exact BIGINTs, slope is a single rounded "
        "division; the sign comes from the exact integer-valued "
        "numerator so the direction label can never drift."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_simpson_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t0 = ev.agg(F.min(F.unix_micros("ts")).cast("long").alias("start_us"))
    u = (
        ev.crossJoin(F.broadcast(t0))
        .groupBy("user_id", "start_us")
        .agg(
            F.min(F.unix_micros("ts")).alias("first_us"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
        .select(
            F.floor(
                (F.col("first_us") - F.col("start_us")) / F.lit(604800000000)
            )
            .cast("long")
            .alias("cohort_week"),
            "x",
            "y",
        )
    )
    strata = u.select(
        F.col("cohort_week").cast("string").alias("stratum"), "x", "y"
    ).unionAll(u.select(F.lit("overall").alias("stratum"), "x", "y"))
    mom = strata.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ["n", "sx", "sy", "sxx", "sxy"])
    num = n * 1.0 * sxy - sx * 1.0 * sy
    den = n * 1.0 * sxx - sx * 1.0 * sx
    return (
        mom.filter(den != 0)
        .select(
            "stratum",
            "n",
            stable_round(num / den, 6).alias("slope_cents_per_click"),
            F.when(num > 0, F.lit("positive"))
            .when(num < 0, F.lit("negative"))
            .otherwise(F.lit("flat"))
            .alias("direction"),
        )
    )


@register(
    "q_durbin_watson",
    oracle="""
WITH daily AS (
    SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS DATE) AS day,
           CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS cents
    FROM events GROUP BY 1
),
idx AS (
    SELECT day, cents,
           CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
    FROM daily
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(i) AS BIGINT) AS sx,
           CAST(sum(i * i) AS BIGINT) AS sxx,
           CAST(sum(cents) AS BIGINT) AS sy,
           CAST(sum(i * cents) AS BIGINT) AS sxy
    FROM idx
),
resid AS (
    SELECT x.i,
           (x.cents - ((m.sy * 1.0 / m.n
                        - ((m.n * 1.0 * m.sxy - m.sx * 1.0 * m.sy)
                           / (m.n * 1.0 * m.sxx - m.sx * 1.0 * m.sx))
                          * m.sx / m.n)
                       + ((m.n * 1.0 * m.sxy - m.sx * 1.0 * m.sy)
                          / (m.n * 1.0 * m.sxx - m.sx * 1.0 * m.sx)) * x.i))
               AS r
    FROM idx x CROSS JOIN mom m
),
q AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(r * r * 10000.0) AS BIGINT)) AS BIGINT) AS ssq,
           CAST(coalesce(sum(CAST(round((r - rl) * (r - rl) * 10000.0) AS BIGINT)), 0)
                AS BIGINT) AS sdq
    FROM (SELECT r, lag(r) OVER (ORDER BY i) AS rl FROM resid)
)
SELECT n AS n_days,
       (round((sdq * 1.0 / ssq) * 1000000.0) / 1000000.0) AS dw_stat,
       CASE WHEN sdq * 1.0 / ssq < 1.5 THEN 'positive_autocorr'
            WHEN sdq * 1.0 / ssq > 2.5 THEN 'negative_autocorr'
            ELSE 'no_evidence' END AS verdict
FROM q
""",
    description=(
        "Durbin-Watson test on the daily-revenue OLS trend residuals: "
        "DW = sum((r_t - r_{t-1})^2) / sum(r_t^2) — the serial-"
        "correlation gate that says whether the trend line's standard "
        "errors (and q_regression_diagnostics' Cook's distances) can "
        "be believed, since autocorrelated residuals make OLS "
        "uncertainty wildly optimistic (DW~2 = independent, <1.5 = "
        "positive autocorrelation -> model the seasonality first, see "
        "q_stl_decompose / q_ljung_box which test the raw series; "
        "this tests what's LEFT after the trend). Residuals are fixed "
        "double expressions of exact-BIGINT moments; both quadratic-"
        "form sums quantize to BIGINT at 1e-4 before aggregation, so "
        "no float order exists; everything after the daily rollup "
        "rides the days-sized series."
    ),
    tags=("analytics", "extension", "stats", "timeseries"),
)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("cents")
    )
    idx = daily.select(
        "day",
        "cents",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("i"),
    )
    mom = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("i").cast("long").alias("sx"),
        F.sum(F.col("i") * F.col("i")).cast("long").alias("sxx"),
        F.sum("cents").cast("long").alias("sy"),
        F.sum(F.col("i") * F.col("cents")).cast("long").alias("sxy"),
    )
    x = idx.crossJoin(F.broadcast(mom))
    n, sx, sxx, sy, sxy = (F.col(c) for c in ["n", "sx", "sxx", "sy", "sxy"])
    beta = (n * 1.0 * sxy - sx * 1.0 * sy) / (n * 1.0 * sxx - sx * 1.0 * sx)
    r = F.col("cents") - ((sy * 1.0 / n - beta * sx / n) + beta * F.col("i"))
    resid = x.select("i", r.alias("r"))
    lagged = resid.select(
        "r", F.lag("r").over(Window.orderBy("i")).alias("rl")
    )
    q = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("r") * F.col("r") * 10000.0).cast("long"))
        .cast("long")
        .alias("ssq"),
        F.coalesce(
            F.sum(
                F.round(
                    (F.col("r") - F.col("rl")) * (F.col("r") - F.col("rl")) * 10000.0
                ).cast("long")
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("sdq"),
    )
    dw = F.col("sdq") * 1.0 / F.col("ssq")
    return q.select(
        F.col("n").alias("n_days"),
        stable_round(dw, 6).alias("dw_stat"),
        F.when(dw < 1.5, F.lit("positive_autocorr"))
        .when(dw > 2.5, F.lit("negative_autocorr"))
        .otherwise(F.lit("no_evidence"))
        .alias("verdict"),
    )


@register(
    "q_capture_recapture",
    oracle="""
WITH t0 AS (SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS start_us FROM events),
marks AS (
    SELECT e.user_id,
           max(CASE WHEN epoch_us(e.ts) <  t.start_us + 1209600000000
                    THEN 1 ELSE 0 END) AS in_s1,
           max(CASE WHEN epoch_us(e.ts) >= t.start_us + 1209600000000
                    THEN 1 ELSE 0 END) AS in_s2
    FROM events e CROSS JOIN t0 t
    GROUP BY e.user_id
),
counts AS (
    SELECT CAST(sum(in_s1) AS BIGINT) AS n1,
           CAST(sum(in_s2) AS BIGINT) AS n2,
           CAST(sum(CASE WHEN in_s1 = 1 AND in_s2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m,
           CAST(count(*) AS BIGINT) AS observed
    FROM marks
)
SELECT n1 AS n_first_period, n2 AS n_second_period, m AS n_both, observed,
       (round(((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0) * 1000000.0)
        / 1000000.0) AS chapman_estimate,
       (round(sqrt((n1 + 1.0) * (n2 + 1.0) * (n1 - m * 1.0) * (n2 - m * 1.0)
                   / ((m + 1.0) * (m + 1.0) * (m + 2.0))) * 1000000.0)
        / 1000000.0) AS std_error
FROM counts
""",
    description=(
        "Chapman capture-recapture estimate of the TOTAL user "
        "population from two observation windows (first vs second "
        "fortnight from corpus start): users seen in each period are "
        "a 'capture', the overlap is the 'recapture', and N-hat = "
        "(n1+1)(n2+1)/(m+1) - 1 estimates how many users exist "
        "INCLUDING the never-observed — the ecology estimator data "
        "teams reuse to size true dedup-cluster populations, total "
        "crawlable documents, or market reach from partial logs, "
        "where 'distinct users observed' (q_count_distinct) is only "
        "a floor. One per-user flag aggregate; the estimate and its "
        "hypergeometric standard error are single rounded "
        "expressions of four exact BIGINTs."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t0 = ev.agg(F.min(F.unix_micros("ts")).cast("long").alias("start_us"))
    cut = F.col("start_us") + F.lit(1209600000000)
    marks = (
        ev.crossJoin(F.broadcast(t0))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.unix_micros("ts") < cut, 1).otherwise(0)).alias("in_s1"),
            F.max(F.when(F.unix_micros("ts") >= cut, 1).otherwise(0)).alias("in_s2"),
        )
    )
    counts = marks.agg(
        F.sum("in_s1").cast("long").alias("n1"),
        F.sum("in_s2").cast("long").alias("n2"),
        F.sum(F.when((F.col("in_s1") == 1) & (F.col("in_s2") == 1), 1).otherwise(0))
        .cast("long")
        .alias("m"),
        F.count(F.lit(1)).cast("long").alias("observed"),
    )
    n1, n2, m = F.col("n1"), F.col("n2"), F.col("m")
    nhat = (n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0
    se = F.sqrt(
        (n1 + 1.0)
        * (n2 + 1.0)
        * (n1 - m * 1.0)
        * (n2 - m * 1.0)
        / ((m + 1.0) * (m + 1.0) * (m + 2.0))
    )
    return counts.select(
        n1.alias("n_first_period"),
        n2.alias("n_second_period"),
        m.alias("n_both"),
        "observed",
        stable_round(nhat, 6).alias("chapman_estimate"),
        stable_round(se, 6).alias("std_error"),
    )


@register(
    "q_partial_corr",
    oracle="""
WITH u AS (
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS z,
           CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
    FROM events GROUP BY user_id
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(z) AS BIGINT) AS sz,
           CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
           CAST(sum(z * z) AS BIGINT) AS szz,
           CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * z) AS BIGINT) AS sxz,
           CAST(sum(y * z) AS BIGINT) AS syz
    FROM u
),
r AS (
    SELECT n,
           ((n * 1.0 * sxy - sx * 1.0 * sy)
            / sqrt((n * 1.0 * sxx - sx * 1.0 * sx) * (n * 1.0 * syy - sy * 1.0 * sy))) AS rxy,
           ((n * 1.0 * sxz - sx * 1.0 * sz)
            / sqrt((n * 1.0 * sxx - sx * 1.0 * sx) * (n * 1.0 * szz - sz * 1.0 * sz))) AS rxz,
           ((n * 1.0 * syz - sy * 1.0 * sz)
            / sqrt((n * 1.0 * syy - sy * 1.0 * sy) * (n * 1.0 * szz - sz * 1.0 * sz))) AS ryz
    FROM mom
)
SELECT n AS n_users,
       (round(rxy * 1000000.0) / 1000000.0) AS corr_clicks_spend,
       (round(rxz * 1000000.0) / 1000000.0) AS corr_clicks_views,
       (round(ryz * 1000000.0) / 1000000.0) AS corr_views_spend,
       (round(((rxy - rxz * ryz) / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)))
              * 1000000.0) / 1000000.0) AS partial_corr_given_views
FROM r
""",
    description=(
        "Partial correlation of clicks and spend CONTROLLING for view "
        "volume: r_xy.z = (r_xy - r_xz r_yz)/sqrt((1-r_xz^2)(1-r_yz^2)) "
        "— the one-number answer to 'do clicks relate to spend beyond "
        "both just tracking overall activity?', the correlation-world "
        "sibling of q_simpson_paradox's stratified slopes and the "
        "cheapest confounder screen before reaching for q_psm_match. "
        "All three pairwise correlations come from ONE partial-"
        "aggregated 10-sum exact-BIGINT moment pass; the partial "
        "coefficient is a fixed double expression of those moments, "
        "so nothing floats across rows anywhere."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("z"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    )
    mom = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("szz"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("z")).cast("long").alias("sxz"),
        F.sum(F.col("y") * F.col("z")).cast("long").alias("syz"),
    )
    n = F.col("n")
    sx, sy, sz = F.col("sx"), F.col("sy"), F.col("sz")
    sxx, syy, szz = F.col("sxx"), F.col("syy"), F.col("szz")
    sxy, sxz, syz = F.col("sxy"), F.col("sxz"), F.col("syz")
    rxy = (n * 1.0 * sxy - sx * 1.0 * sy) / F.sqrt(
        (n * 1.0 * sxx - sx * 1.0 * sx) * (n * 1.0 * syy - sy * 1.0 * sy)
    )
    rxz = (n * 1.0 * sxz - sx * 1.0 * sz) / F.sqrt(
        (n * 1.0 * sxx - sx * 1.0 * sx) * (n * 1.0 * szz - sz * 1.0 * sz)
    )
    ryz = (n * 1.0 * syz - sy * 1.0 * sz) / F.sqrt(
        (n * 1.0 * syy - sy * 1.0 * sy) * (n * 1.0 * szz - sz * 1.0 * sz)
    )
    partial = (rxy - rxz * ryz) / F.sqrt(
        (F.lit(1.0) - rxz * rxz) * (F.lit(1.0) - ryz * ryz)
    )
    return mom.select(
        n.alias("n_users"),
        stable_round(rxy, 6).alias("corr_clicks_spend"),
        stable_round(rxz, 6).alias("corr_clicks_views"),
        stable_round(ryz, 6).alias("corr_views_spend"),
        stable_round(partial, 6).alias("partial_corr_given_views"),
    )


@register(
    "q_jackknife_se",
    oracle="""
WITH daily AS (
    SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS DATE) AS day,
           CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS cents
    FROM events GROUP BY 1
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
    FROM daily
),
terms AS (
    SELECT d.cents, m.n, m.s,
           CAST(round(((m.s - m.n * 1.0 * d.cents) / 10000.0)
                      * ((m.s - m.n * 1.0 * d.cents) / 10000.0)) AS BIGINT) AS tq
    FROM daily d CROSS JOIN m
),
q AS (
    SELECT n, s, CAST(sum(tq) AS BIGINT) AS sumq FROM terms GROUP BY n, s
)
SELECT n AS n_days,
       (round((s * 1.0 / n / 100.0) * 1000000.0) / 1000000.0) AS mean_daily_revenue,
       (round((sqrt(((n - 1.0) / n) * sumq * 100000000.0)
               / (n * 1.0 * (n - 1)) / 100.0) * 1000000.0) / 1000000.0)
           AS jackknife_se
FROM q
""",
    description=(
        "Delete-one-day jackknife standard error for mean daily "
        "revenue: each replicate drops one day, and the classic "
        "identity theta_i - theta_bar = (S - n*x_i)/(n(n-1)) turns "
        "the whole estimator into integer arithmetic — no RNG, no "
        "resample draws, which is the jackknife's advantage over "
        "q_bootstrap_ci when determinism or a closed audit trail "
        "matters (and its limitation: linear-statistic variances "
        "only). Per-replicate squared deviations are computed at "
        "1e-4-cent scale and quantized to BIGINT before the sum "
        "(raw squares exceed double's 2^53 exact-integer range), so "
        "the SE is a single rounded expression of exact integers; "
        "everything after the daily rollup rides the days-sized "
        "series."
    ),
    tags=("analytics", "extension", "stats", "timeseries"),
)
def q_jackknife_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("cents")
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    t = daily.crossJoin(F.broadcast(m))
    dev = (F.col("s") - F.col("n") * 1.0 * F.col("cents")) / 10000.0
    terms = t.select(
        "n", "s", F.round(dev * dev).cast("long").alias("tq")
    )
    q = terms.groupBy("n", "s").agg(F.sum("tq").cast("long").alias("sumq"))
    n, s, sumq = F.col("n"), F.col("s"), F.col("sumq")
    se = (
        F.sqrt(((n - 1.0) / n) * sumq * 100000000.0)
        / (n * 1.0 * (n - 1))
        / 100.0
    )
    return q.select(
        n.alias("n_days"),
        stable_round(s * 1.0 / n / 100.0, 6).alias("mean_daily_revenue"),
        stable_round(se, 6).alias("jackknife_se"),
    )


@register(
    "q_mann_kendall",
    oracle="""
WITH daily AS (
    SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS DATE) AS day,
           CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS cents
    FROM events GROUP BY 1
),
pairs AS (
    SELECT CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                         WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM daily a JOIN daily b ON a.day < b.day
),
ties AS (
    SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
    FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY cents)
    WHERE t > 1
),
n_tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily)
SELECT n.n AS n_days, p.s AS s_statistic,
       (round(((n.n * (n.n - 1.0) * (2.0 * n.n + 5.0) - t.tie_term) / 18.0)
              * 1000000.0) / 1000000.0) AS variance,
       (round((CASE WHEN p.s > 0 THEN (p.s - 1.0)
                    WHEN p.s < 0 THEN (p.s + 1.0) ELSE 0.0 END
               / sqrt((n.n * (n.n - 1.0) * (2.0 * n.n + 5.0) - t.tie_term) / 18.0))
              * 1000000.0) / 1000000.0) AS z_score,
       CASE WHEN p.s > 0 THEN 'increasing'
            WHEN p.s < 0 THEN 'decreasing' ELSE 'no_trend' END AS direction
FROM pairs p CROSS JOIN ties t CROSS JOIN n_tot n
""",
    description=(
        "Mann-Kendall monotonic-trend test on daily revenue: S = sum "
        "of pairwise signs with the tie-corrected variance "
        "n(n-1)(2n+5)/18 and continuity-corrected z — the "
        "nonparametric significance verdict that pairs with "
        "q_theil_sen's slope estimate (Sen tells you HOW steep, MK "
        "tells you whether a monotone trend exists at all, immune to "
        "the spike days that fool an OLS-slope t-test). S and the tie "
        "term are exact BIGINTs; the O(days^2) sign pairs ride the "
        "days-sized aggregate (metadata at any corpus size); z is one "
        "rounded expression."
    ),
    tags=("analytics", "extension", "stats", "timeseries"),
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("cents")
    )
    a = daily.select(F.col("day").alias("da"), F.col("cents").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("cents").alias("xb"))
    pairs = a.join(F.broadcast(b), F.col("da") < F.col("db")).agg(
        F.sum(
            F.when(F.col("xb") > F.col("xa"), 1)
            .when(F.col("xb") < F.col("xa"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    ties = (
        daily.groupBy("cents")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    n_tot = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    out = pairs.crossJoin(F.broadcast(ties)).crossJoin(F.broadcast(n_tot))
    n, s, tt = F.col("n"), F.col("s"), F.col("tie_term")
    var = (n * (n - 1.0) * (2.0 * n + 5.0) - tt) / 18.0
    z = (
        F.when(s > 0, s - 1.0).when(s < 0, s + 1.0).otherwise(F.lit(0.0))
    ) / F.sqrt(var)
    return out.select(
        n.alias("n_days"),
        s.alias("s_statistic"),
        stable_round(var, 6).alias("variance"),
        stable_round(z, 6).alias("z_score"),
        F.when(s > 0, F.lit("increasing"))
        .when(s < 0, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("direction"),
    )


@register(
    "q_survival_rmst",
    oracle="""
WITH RECURSIVE f AS (
    SELECT user_id, min(epoch_us(ts)) AS first_us FROM events GROUP BY user_id
),
p AS (
    SELECT user_id, min(epoch_us(ts)) AS p_us
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
subj AS (
    SELECT f.user_id,
           CASE WHEN p.p_us IS NOT NULL
                     AND (p.p_us - f.first_us) // 3600000000 <= 60
                THEN (p.p_us - f.first_us) // 3600000000 ELSE 60 END AS dur,
           (p.p_us IS NOT NULL AND (p.p_us - f.first_us) // 3600000000 <= 60) AS event
    FROM f LEFT JOIN p ON f.user_id = p.user_id
),
tbl AS (
    SELECT CAST(dur AS BIGINT) AS dur,
           CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
           CAST(sum(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS c
    FROM subj GROUP BY 1
),
idxd AS (
    SELECT dur, d, c,
           CAST(row_number() OVER (ORDER BY dur) AS BIGINT) AS idx,
           CAST(sum(d + c) OVER () - coalesce(sum(d + c) OVER (
               ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk
    FROM tbl
),
km AS (
    SELECT idx, dur, n_risk,
           (round((1.0 - d * 1.0 / n_risk) * 1000000.0) / 1000000.0) AS s
    FROM idxd WHERE idx = 1
    UNION ALL
    SELECT i.idx, i.dur, i.n_risk,
           (round((k.s * (1.0 - i.d * 1.0 / i.n_risk)) * 1000000.0) / 1000000.0)
    FROM km k JOIN idxd i ON i.idx = k.idx + 1
),
seg AS (
    SELECT s, (coalesce(lead(dur) OVER (ORDER BY dur), 60) - dur) AS gap
    FROM km
),
first_seg AS (SELECT CAST(min(dur) AS BIGINT) AS d0 FROM km),
q AS (
    SELECT CAST(sum(CAST(round(s * gap * 1000000.0) AS BIGINT)) AS BIGINT) AS sq
    FROM seg
)
SELECT CAST(60 AS BIGINT) AS horizon_hours,
       (round(((f.d0 * 1000000 + q.sq) / 1000000.0) * 1000000.0) / 1000000.0)
           AS rmst_hours,
       (round((1.0 - (f.d0 * 1000000 + q.sq) / 1000000.0 / 60.0) * 1000000.0)
        / 1000000.0) AS mean_fraction_converted_weighted
FROM q CROSS JOIN first_seg f
""",
    description=(
        "Restricted mean survival time to the 60 h horizon: the area "
        "under q_kaplan_meier's step curve — 'the average user spends "
        "RMST hours un-converted in their first 60 h', the "
        "interpretable single number clinicians and growth teams "
        "quote when median time-to-event is undefined (here survival "
        "never crosses 0.5). Step segments are S(t_i) x gap with "
        "S=1 before the first event time; each segment quantizes to "
        "BIGINT at 1e-6 before summing, the KM chain itself is the "
        "same per-step-rounded recursion the KM query value-checks, "
        "and every window rides the <=61-row duration table."
    ),
    tags=("analytics", "extension", "stats", "recursive"),
)
def q_survival_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(F.min(F.unix_micros("ts")).alias("first_us"))
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("p_us"))
    )
    delay_h = F.floor((F.col("p_us") - F.col("first_us")) / F.lit(3600000000))
    is_event = F.col("p_us").isNotNull() & (delay_h <= 60)
    subj = f.join(p, "user_id", "left").select(
        F.when(is_event, delay_h).otherwise(F.lit(60)).cast("long").alias("dur"),
        is_event.alias("event"),
    )
    km = kaplan_meier_curve(subj).select(
        F.col("hours").alias("dur"), F.col("survival").alias("s")
    )
    wl = Window.orderBy("dur")
    seg = km.select(
        "s",
        (F.coalesce(F.lead("dur").over(wl), F.lit(60)) - F.col("dur")).alias("gap"),
    )
    q = seg.agg(
        F.sum(F.round(F.col("s") * F.col("gap") * 1000000.0).cast("long"))
        .cast("long")
        .alias("sq")
    )
    first_seg = km.agg(F.min("dur").cast("long").alias("d0"))
    out = q.crossJoin(F.broadcast(first_seg))
    rmst = (F.col("d0") * 1000000 + F.col("sq")) / 1000000.0
    return out.select(
        F.lit(60).cast("long").alias("horizon_hours"),
        stable_round(rmst, 6).alias("rmst_hours"),
        stable_round(F.lit(1.0) - rmst / 60.0, 6).alias(
            "mean_fraction_converted_weighted"
        ),
    )


@register(
    "q_seasonality_strength",
    oracle="""
WITH daily AS (
    SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS DATE) AS day,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
tr AS (
    SELECT day, cents,
           CASE WHEN count(*) OVER w = 7
                THEN (round((avg(cents * 1.0) OVER w) * 1000000.0) / 1000000.0)
           END AS trend
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
seas AS (
    SELECT CAST(dayofweek(day) AS BIGINT) AS wd,
           (round(avg(cents - trend) * 1000000.0) / 1000000.0) AS seasonal
    FROM tr WHERE trend IS NOT NULL
    GROUP BY 1
),
parts AS (
    SELECT t.cents, t.trend, s.seasonal,
           (t.cents - t.trend - s.seasonal) AS resid,
           (t.cents - s.seasonal) AS deseason
    FROM tr t JOIN seas s ON s.wd = CAST(dayofweek(t.day) AS BIGINT)
    WHERE t.trend IS NOT NULL
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(resid) AS BIGINT)) AS BIGINT) AS sr,
           CAST(sum(CAST(round(resid * resid / 10000.0) AS BIGINT)) AS BIGINT) AS srr,
           CAST(sum(CAST(round(seasonal + resid) AS BIGINT)) AS BIGINT) AS ss,
           CAST(sum(CAST(round((seasonal + resid) * (seasonal + resid) / 10000.0)
                         AS BIGINT)) AS BIGINT) AS sss,
           CAST(sum(CAST(round(deseason) AS BIGINT)) AS BIGINT) AS sd,
           CAST(sum(CAST(round(deseason * deseason / 10000.0) AS BIGINT)) AS BIGINT)
               AS sdd
    FROM parts
)
SELECT n AS n_days,
       (round(greatest(0.0, 1.0 - ((srr / n * 1.0 - (sr * 1.0 / n) * (sr * 1.0 / n)
                                     / 10000.0))
                             / ((sss / n * 1.0 - (ss * 1.0 / n) * (ss * 1.0 / n)
                                 / 10000.0))) * 1000000.0) / 1000000.0)
           AS seasonality_strength,
       (round(greatest(0.0, 1.0 - ((srr / n * 1.0 - (sr * 1.0 / n) * (sr * 1.0 / n)
                                     / 10000.0))
                             / ((sdd / n * 1.0 - (sd * 1.0 / n) * (sd * 1.0 / n)
                                 / 10000.0))) * 1000000.0) / 1000000.0)
           AS trend_strength
FROM mom
""",
    description=(
        "Hyndman-style seasonality and trend STRENGTH from the STL "
        "parts (q_stl_decompose's trend/seasonal/residual): F_s = "
        "max(0, 1 - Var(resid)/Var(seasonal+resid)) and F_t likewise "
        "against the deseasonalized series — the 0-to-1 scores that "
        "rank thousands of series by 'how seasonal / how trended' "
        "before anyone picks a model per series (feature-izing "
        "decomposition is how forecast fleets triage). All cross-row "
        "sums are BIGINT-quantized (values at cent scale, squares at "
        "1e-4 cent^2) so the variances are exact-integer moment "
        "arithmetic; the one data-scale pass is the daily rollup."
    ),
    tags=("analytics", "extension", "timeseries", "stats"),
)
def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "cents",
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            stable_round(F.avg(F.col("cents") * F.lit(1.0)).over(w), 6),
        ).alias("trend"),
    )
    seas = (
        tr.filter(F.col("trend").isNotNull())
        .groupBy(F.dayofweek("day").cast("long").alias("wd"))
        .agg(stable_round(F.avg(F.col("cents") - F.col("trend")), 6).alias("seasonal"))
    )
    parts = (
        tr.filter(F.col("trend").isNotNull())
        .withColumn("wd", F.dayofweek("day").cast("long"))
        .join(F.broadcast(seas), "wd")
        .select(
            (F.col("cents") - F.col("trend") - F.col("seasonal")).alias("resid"),
            (F.col("cents") - F.col("seasonal")).alias("deseason"),
            "seasonal",
        )
    )
    resid = F.col("resid")
    sr_part = F.col("seasonal") + resid
    deseason = F.col("deseason")
    mom = parts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(resid).cast("long")).cast("long").alias("sr"),
        F.sum(F.round(resid * resid / 10000.0).cast("long")).cast("long").alias("srr"),
        F.sum(F.round(sr_part).cast("long")).cast("long").alias("ss"),
        F.sum(F.round(sr_part * sr_part / 10000.0).cast("long"))
        .cast("long")
        .alias("sss"),
        F.sum(F.round(deseason).cast("long")).cast("long").alias("sd"),
        F.sum(F.round(deseason * deseason / 10000.0).cast("long"))
        .cast("long")
        .alias("sdd"),
    )
    n = F.col("n")

    def var_of(sq, s1):
        return sq / n * 1.0 - (s1 * 1.0 / n) * (s1 * 1.0 / n) / 10000.0

    vr = var_of(F.col("srr"), F.col("sr"))
    vs = var_of(F.col("sss"), F.col("ss"))
    vd = var_of(F.col("sdd"), F.col("sd"))
    return mom.select(
        n.alias("n_days"),
        stable_round(F.greatest(F.lit(0.0), F.lit(1.0) - vr / vs), 6).alias(
            "seasonality_strength"
        ),
        stable_round(F.greatest(F.lit(0.0), F.lit(1.0) - vr / vd), 6).alias(
            "trend_strength"
        ),
    )


@register(
    "q_pareto_skyline",
    oracle="""
SELECT p.p_partkey, p.p_retailprice, CAST(p.p_size AS BIGINT) AS p_size
FROM part p
WHERE NOT EXISTS (
    SELECT 1 FROM part q
    WHERE q.p_retailprice <= p.p_retailprice
      AND q.p_size >= p.p_size
      AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
ORDER BY p.p_retailprice
""",
    description=(
        "Skyline (Pareto frontier) over parts: cheaper-is-better price "
        "vs bigger-is-better size — the classic dominance operator "
        "relational engines bolt on (Borzsony et al. 2001), returning "
        "every part no other part dominates on BOTH axes. Oracle keeps "
        "the textbook NOT EXISTS; the Spark plan is the scale form: a "
        "sort-free two-pass prune — the running best-size-so-far in "
        "price order (a bucketed carry over the DISTINCT-price table, "
        "never a partitionless row window) kills everything strictly "
        "dominated, then exact dominance is checked only among "
        "survivors (the frontier, typically miniscule vs the input) "
        "via a broadcast self-join. At 100x: frontier size grows "
        "~log-linearly for independent dims, so the quadratic step "
        "stays broadcast-sized; the documented fallback for adversarial "
        "(anti-correlated) data is grid-partitioned skylines merged "
        "hierarchically."
    ),
    tags=("analytics", "extension", "extra-relational"),
)
def q_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.scale import bucketed_prefix

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", F.col("p_size").cast("long").alias("p_size")
    )
    # Phase 1: prune everything strictly below the best size seen at a
    # strictly lower price (cheap dominance filter, removes the bulk).
    grp = p.groupBy("p_retailprice").agg(F.max("p_size").alias("best_sz"))
    carried = bucketed_prefix(
        grp,
        buckets=[F.expr("CAST(p_retailprice AS BIGINT) div 64")],
        order_by=[F.asc("p_retailprice")],
        value=F.col("best_sz"),
        agg="max",
        exclusive=True,
        out_col="best_before",
    )
    pruned = (
        p.join(F.broadcast(carried.select("p_retailprice", "best_before")), "p_retailprice")
        .filter(F.col("best_before").isNull() | (F.col("p_size") >= F.col("best_before")))
        .select("p_partkey", "p_retailprice", "p_size")
    )
    # Phase 2: exact dominance among the surviving near-frontier rows.
    cand = pruned.select(
        F.col("p_partkey").alias("qk"),
        F.col("p_retailprice").alias("qp"),
        F.col("p_size").alias("qs"),
    )
    dominated = (
        pruned.join(
            F.broadcast(cand),
            (F.col("qp") <= F.col("p_retailprice"))
            & (F.col("qs") >= F.col("p_size"))
            & ((F.col("qp") < F.col("p_retailprice")) | (F.col("qs") > F.col("p_size"))),
            "left_semi",
        )
    )
    return pruned.exceptAll(dominated).orderBy("p_retailprice")


@register(
    "q_spc_control_chart",
    oracle="""
WITH daily AS (
    SELECT time_bucket(INTERVAL '1 day', ts) AS day,
           CAST(round(sum(value) * 100.0) AS BIGINT) AS xc
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
wk AS (
    SELECT CAST(floor((epoch(day) / 86400 + 4) / 7) AS BIGINT) AS week,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(xc) AS BIGINT) AS s1,
           CAST(max(xc) - min(xc) AS BIGINT) AS rng
    FROM daily GROUP BY 1
),
full_wk AS (SELECT * FROM wk WHERE n = 7),
lim AS (
    SELECT CAST(count(*) AS BIGINT) AS n_weeks,
           (sum(s1) * 1.0 / sum(n) / 100.0) AS xbar,
           (sum(rng) * 1.0 / count(*) / 100.0) AS rbar
    FROM full_wk
)
SELECT w.week,
       (round((w.s1 * 1.0 / w.n / 100.0) * 1000000.0) / 1000000.0) AS week_mean,
       (round((w.rng / 100.0) * 1000000.0) / 1000000.0) AS week_range,
       (round((l.xbar + 0.419 * l.rbar) * 1000000.0) / 1000000.0) AS ucl,
       (round((l.xbar - 0.419 * l.rbar) * 1000000.0) / 1000000.0) AS lcl,
       (w.s1 * 1.0 / w.n / 100.0 > l.xbar + 0.419 * l.rbar
        OR w.s1 * 1.0 / w.n / 100.0 < l.xbar - 0.419 * l.rbar) AS out_of_control
FROM full_wk w CROSS JOIN lim l
ORDER BY w.week
""",
    description=(
        "Statistical process control: X-bar/R chart of daily purchase "
        "revenue in weekly subgroups (ISO-aligned epoch weeks, "
        "complete weeks only) — centerline = grand mean, control "
        "limits xbar +/- A2*Rbar with the standard n=7 constant "
        "A2=0.419, flagging Western-Electric rule-1 violations. The "
        "manufacturing-style complement to q_cusum_changepoint / "
        "q_page_hinkley: those detect a persistent shift as fast as "
        "possible, the control chart certifies week-grain stability "
        "with distribution-free limits. All moments fold as integer "
        "cents (subgroup range = max - min commutes with cents), so "
        "both engines emit identical limits; day/week tables are "
        "horizon-bounded."
    ),
    tags=("analytics", "extension", "timeseries", "quality"),
)
def q_spc_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.round(F.sum("value") * 100.0).cast("long").alias("xc"))
    )
    wk = (
        daily.select(
            F.floor((F.unix_date(F.col("day").cast("date")) + 4) / 7)
            .cast("long")
            .alias("week"),
            "xc",
        )
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("xc").cast("long").alias("s1"),
            (F.max("xc") - F.min("xc")).cast("long").alias("rng"),
        )
        .filter(F.col("n") == 7)
    )
    lim = wk.agg(
        (F.sum("s1") * 1.0 / F.sum("n") / 100.0).alias("xbar"),
        (F.sum("rng") * 1.0 / F.count(F.lit(1)) / 100.0).alias("rbar"),
    )
    w = wk.crossJoin(F.broadcast(lim))
    mean = F.col("s1") * 1.0 / F.col("n") / 100.0
    ucl = F.col("xbar") + 0.419 * F.col("rbar")
    lcl = F.col("xbar") - 0.419 * F.col("rbar")
    return w.select(
        "week",
        stable_round(mean, 6).alias("week_mean"),
        stable_round(F.col("rng") / 100.0, 6).alias("week_range"),
        stable_round(ucl, 6).alias("ucl"),
        stable_round(lcl, 6).alias("lcl"),
        ((mean > ucl) | (mean < lcl)).alias("out_of_control"),
    ).orderBy("week")



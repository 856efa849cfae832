"""Evaluation / experimentation / monitoring / governance queries:
time-constrained funnels, distribution drift (Jensen-Shannon), resampled
uncertainty (bootstrap / permutation), sequential and variance-reduced
experiment readouts (Haybittle-Peto, CUPED, power analysis,
Mann-Whitney), offline change-point localization (CUSUM), forecast
backtesting, corpus laws (Zipf / Heaps), in-engine classification
(IRLS logistic + calibration ECE), sketch evaluation (CMS), Markov
chain analysis, attribution (Shapley), watermark lateness auditing, and
privacy/erasure governance (k-anonymity, GDPR delete plans).
Hypothesis-test/causal and recsys/model-eval families live in
queries_mlops_stats / queries_mlops_recsys (split r7 for module size).

These extend the analytics families (queries_analytics / queries_corpus)
with the operations an ML-platform team runs AROUND a pipeline — scoring
it, monitoring it, and certifying its outputs — rather than inside it.
Reference scope for parity context is `etl_app/etl_script.py:74-119`;
everything here is extension surface. All queries are oracle-checked
against DuckDB with identical arithmetic on both sides; randomized
procedures (bootstrap resamples, permutation shuffles, experiment arms)
use counter-based md5 randomness so both engines draw the exact same
realizations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import stable_round, stable_round_sql
from healthcare_etl_spark.operators.logistic import (
    LOGISTIC,
    irls_beta_ctes,
    irls_fit,
    irls_oracle_sql,
    logistic_irls,
    logistic_p,
)
from healthcare_etl_spark.plans.power_iteration import (
    CHAIN_ROUNDS,
    PAGERANK_ROUNDS,
    event_pairs,
    pagerank_oracle_sql,
    stationary_chain,
    stationary_oracle_sql,
    transitions,
)
from healthcare_etl_spark.plans.registry import register
from healthcare_etl_spark.sources import load_table, local_frame, spread


@register(
    "q_window_funnel",
    oracle="""
WITH s1 AS (
    SELECT *, min(CASE WHEN event_type = 'signup' THEN ts END)
                  OVER (PARTITION BY user_id) AS t1
    FROM events
),
s2 AS (
    SELECT *, min(CASE WHEN event_type = 'view' AND ts > t1
                        AND ts <= t1 + INTERVAL 7 DAY THEN ts END)
                  OVER (PARTITION BY user_id) AS t2
    FROM s1
),
s3 AS (
    SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
                        AND ts <= t1 + INTERVAL 7 DAY THEN ts END)
                  OVER (PARTITION BY user_id) AS t3
    FROM s2
)
SELECT count(DISTINCT user_id)                                        AS n_users,
       count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END)      AS n_depth1,
       count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END)      AS n_depth2,
       count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END)      AS n_depth3,
       (round((count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) * 1.0 /
               count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END)) * 1000000.0)
        / 1000000.0)                                                  AS depth2_rate,
       (round((count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END) * 1.0 /
               count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END)) * 1000000.0)
        / 1000000.0)                                                  AS depth3_rate
FROM s3
""",
    description=(
        "Time-CONSTRAINED strict funnel (ClickHouse windowFunnel "
        "semantics): signup -> view -> purchase must all land inside a "
        "7-day window ANCHORED at the user's first signup — the variant "
        "q_funnel_steps deliberately leaves unbounded. Same "
        "self-join-free shape: one shuffle clusters each user's events, "
        "stacked window-mins resolve step times (each conditioned on "
        "following the previous step AND fitting the anchor window), one "
        "global aggregate counts survivors per depth. Funnel depth adds "
        "window-min columns, never joins, so the plan stays one "
        "data-sized exchange at any depth."
    ),
    tags=("events", "extension"),
)
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    horizon = F.col("t1") + F.expr("INTERVAL 7 DAYS")
    s1 = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    )
    s2 = s1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "view")
                & (F.col("ts") > F.col("t1"))
                & (F.col("ts") <= horizon),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t2"))
                & (F.col("ts") <= horizon),
                F.col("ts"),
            )
        ).over(w),
    )
    n1 = F.count_distinct(F.when(F.col("t1").isNotNull(), F.col("user_id")))
    n2 = F.count_distinct(F.when(F.col("t2").isNotNull(), F.col("user_id")))
    n3 = F.count_distinct(F.when(F.col("t3").isNotNull(), F.col("user_id")))
    return s3.agg(
        F.count_distinct("user_id").alias("n_users"),
        n1.alias("n_depth1"),
        n2.alias("n_depth2"),
        n3.alias("n_depth3"),
        stable_round(n2 / n1, 6).alias("depth2_rate"),
        stable_round(n3 / n2, 6).alias("depth3_rate"),
    )


@register(
    "q_js_divergence",
    oracle="""
WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
counts AS (
    SELECT source, w, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1, 2
),
vocab  AS (SELECT w, CAST(sum(n) AS BIGINT) AS m FROM counts GROUP BY w),
vsize  AS (SELECT CAST(count(*) AS BIGINT) AS v,
                  CAST(sum(m) AS BIGINT) AS tot_all FROM vocab),
totals AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot FROM counts GROUP BY source),
grid AS (
    SELECT t.source, vb.w,
           (coalesce(c.n, 0) + 1.0) / (t.tot + vs.v)  AS p,
           (vb.m + 1.0) / (vs.tot_all + vs.v)         AS q
    FROM totals t
    CROSS JOIN vocab vb
    CROSS JOIN vsize vs
    LEFT JOIN counts c ON c.source = t.source AND c.w = vb.w
)
SELECT source,
       (round((0.5 * sum(p * ln(2.0 * p / (p + q))) +
               0.5 * sum(q * ln(2.0 * q / (p + q)))) * 1000000.0)
        / 1000000.0) AS jsd_nats
FROM grid
GROUP BY source
""",
    description=(
        "Jensen-Shannon divergence of each source's unigram distribution "
        "from the CORPUS distribution (Laplace-smoothed over the shared "
        "vocabulary) — the symmetric, bounded ([0, ln 2]) drift score "
        "that complements q_source_kl_divergence's asymmetric pairwise "
        "view: one number per source, stable when a token is absent on "
        "either side, and O(sources x vocab) instead of O(sources^2 x "
        "vocab). Everything reduces on (source, token) counts; the "
        "corpus marginal is the token-level rollup of the same counts, "
        "so the corpus is never re-tokenized."
    ),
    tags=("text", "extension", "corpus"),
)
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    counts = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("n"))
    vocab = counts.groupBy("w").agg(F.sum("n").alias("m"))
    vsize = vocab.agg(
        F.count(F.lit(1)).alias("v"), F.sum("m").alias("tot_all")
    )
    totals = counts.groupBy("source").agg(F.sum("n").alias("tot"))
    grid = (
        # totals is provably #sources rows (a handful) but Catalyst
        # statically UNDERestimates nothing about aggregates — at x100
        # corpus vocab the unhinted cross join flips
        # BroadcastNestedLoop -> CartesianProduct (the q_psi_drift /
        # q_grid_lof planner class, caught by the r8 fleet sweep).
        # Pin the provably-tiny side.
        F.broadcast(totals).crossJoin(vocab)
        .crossJoin(F.broadcast(vsize))
        .join(counts, ["source", "w"], "left")
        .select(
            "source",
            "w",
            ((F.coalesce("n", F.lit(0)) + F.lit(1.0)) / (F.col("tot") + F.col("v"))).alias("p"),
            ((F.col("m") + F.lit(1.0)) / (F.col("tot_all") + F.col("v"))).alias("q"),
        )
    )
    p, q = F.col("p"), F.col("q")
    return grid.groupBy("source").agg(
        stable_round(
            F.lit(0.5) * F.sum(p * F.log(F.lit(2.0) * p / (p + q)))
            + F.lit(0.5) * F.sum(q * F.log(F.lit(2.0) * q / (p + q))),
            6,
        ).alias("jsd_nats")
    )


# Poisson(1) CDF thresholds for the deterministic bootstrap: identical
# literals on both engines so the drawn weight is bit-identical.
_POIS1_CDF = (0.36787944, 0.73575888, 0.91969860, 0.98101184, 0.99634015)


def _pois1_sql(u: str) -> str:
    c0, c1, c2, c3, c4 = _POIS1_CDF
    return (
        f"CASE WHEN {u} < {c0} THEN 0 WHEN {u} < {c1} THEN 1 "
        f"WHEN {u} < {c2} THEN 2 WHEN {u} < {c3} THEN 3 "
        f"WHEN {u} < {c4} THEN 4 ELSE 5 END"
    )


@register(
    "q_bootstrap_ci",
    oracle=f"""
WITH daily AS (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_cents
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
grid AS (
    SELECT d.day, d.rev_cents, t.b,
           ((('0x' || substring(md5(d.day || ':' || CAST(t.b AS VARCHAR)), 1, 8))::BIGINT
             % 1000000) / 1000000.0) AS u
    FROM daily d CROSS JOIN (SELECT unnest(range(200)) AS b) t
),
boots AS (
    SELECT b,
           CAST(sum({_pois1_sql('u')} * rev_cents) AS BIGINT) AS wsum,
           CAST(sum({_pois1_sql('u')}) AS BIGINT)             AS w
    FROM grid GROUP BY b
),
means AS (
    SELECT (round((wsum / (100.0 * w)) * 1000000.0) / 1000000.0) AS mean_b
    FROM boots WHERE w > 0
),
ranked AS (
    SELECT mean_b, row_number() OVER (ORDER BY mean_b) AS rn,
           count(*) OVER () AS nb
    FROM means
),
pt AS (
    SELECT (round((sum(rev_cents) / (100.0 * count(*))) * 1000000.0) / 1000000.0)
               AS mean_daily_revenue
    FROM daily
)
SELECT pt.mean_daily_revenue,
       max(CASE WHEN rn = greatest(1, CAST(round(0.025 * nb) AS BIGINT))
                THEN mean_b END) AS ci_lo,
       max(CASE WHEN rn = CAST(round(0.975 * nb) AS BIGINT)
                THEN mean_b END) AS ci_hi,
       CAST(max(nb) AS BIGINT)   AS n_boot
FROM ranked CROSS JOIN pt
GROUP BY pt.mean_daily_revenue
""",
    description=(
        "Deterministic Poisson bootstrap 95% CI for mean daily purchase "
        "revenue — the uncertainty band a metrics report should carry "
        "and a point estimate cannot. Classic bootstrap resampling is "
        "irreproducible across engines; here each (day, replicate) draws "
        "its Poisson(1) resample weight from a counter-based md5 uniform "
        "(the q_hash_split bridge), so DuckDB and Spark materialize THE "
        "SAME 200 resamples and the CI matches hash-exact. Daily revenue "
        "is exact integer cents, each replicate mean is one rounded "
        "division, and the CI bounds are order-statistic selections at "
        "positions round(0.025*nb)/round(0.975*nb) of the SURVIVING "
        "replicate count — no floating accumulation anywhere "
        "an engine could reorder. The grid is days x B (replicate-"
        "parallel, partial-aggregated); the day-level pre-aggregate is "
        "the only data-sized pass."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").cast("string").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("rev_cents"))
    )
    c0, c1, c2, c3, c4 = _POIS1_CDF
    u = F.col("u")
    pois_w = (
        F.when(u < c0, 0)
        .when(u < c1, 1)
        .when(u < c2, 2)
        .when(u < c3, 3)
        .when(u < c4, 4)
        .otherwise(5)
    )
    grid = (
        daily.select(
            "day",
            "rev_cents",
            F.explode(F.sequence(F.lit(0), F.lit(199))).alias("b"),
        )
        .withColumn(
            "u",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.col("day"), F.col("b").cast("string"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % 1000000
            )
            / 1000000.0,
        )
        .withColumn("w", pois_w)
    )
    boots = grid.groupBy("b").agg(
        F.sum(F.col("w") * F.col("rev_cents")).alias("wsum"),
        F.sum("w").alias("w"),
    )
    means = boots.filter(F.col("w") > 0).select(
        stable_round(F.col("wsum") / (F.lit(100.0) * F.col("w")), 6).alias("mean_b")
    )
    # B = 200 rows: the keyless rank window runs over the replicate
    # table, never the data.
    wr = Window.orderBy("mean_b")
    ranked = means.select(
        "mean_b",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nb"),
    )
    pt = daily.agg(
        stable_round(F.sum("rev_cents") / (F.lit(100.0) * F.count(F.lit(1))), 6).alias(
            "mean_daily_revenue"
        )
    )
    # CI positions derive from the SURVIVING replicate count nb (a
    # replicate can draw all-zero Poisson weights and be dropped), so
    # the quantile selection stays 2.5%/97.5% instead of silently
    # shifting when nb < 200.
    rn_lo = F.greatest(F.lit(1).cast("long"), F.round(F.lit(0.025) * F.col("nb")).cast("long"))
    rn_hi = F.round(F.lit(0.975) * F.col("nb")).cast("long")
    return (
        ranked.crossJoin(F.broadcast(pt))
        .groupBy("mean_daily_revenue")
        .agg(
            F.max(F.when(F.col("rn") == rn_lo, F.col("mean_b"))).alias("ci_lo"),
            F.max(F.when(F.col("rn") == rn_hi, F.col("mean_b"))).alias("ci_hi"),
            F.max("nb").alias("n_boot"),
        )
        .select("mean_daily_revenue", "ci_lo", "ci_hi", "n_boot")
    )


@register(
    "q_cusum_changepoint",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_cents
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev_cents) AS BIGINT) AS t FROM daily
),
curve AS (
    SELECT day,
           CAST(row_number() OVER (ORDER BY day) AS BIGINT)             AS idx,
           CAST(sum(rev_cents) OVER (ORDER BY day) AS BIGINT)           AS cum,
           n, t
    FROM daily CROSS JOIN tot
),
stat AS (
    SELECT day, idx, cum, n, t, CAST(n * cum - idx * t AS BIGINT) AS s
    FROM curve
),
best AS (
    SELECT * FROM stat ORDER BY abs(s) DESC, day ASC LIMIT 1
)
SELECT CAST(day AS VARCHAR) AS changepoint_day,
       s                    AS cusum_stat,
       (round((cum / (100.0 * idx)) * 1000000.0) / 1000000.0) AS mean_before,
       CASE WHEN n > idx
            THEN (round(((t - cum) / (100.0 * (n - idx))) * 1000000.0) / 1000000.0)
       END                  AS mean_after
FROM best
""",
    description=(
        "Offline CUSUM change-point localization over the daily purchase "
        "revenue series — where did the level shift? The statistic is "
        "kept INTEGER-exact by clearing the mean-subtraction denominator: "
        "S_d = N*cumsum_d - d*Total in BIGINT cents (argmax |S| is "
        "invariant to the scaling), so both engines agree bit-for-bit "
        "with no per-step re-rounding recursion. One data-sized pass "
        "builds the daily aggregate; the cumulative window and the "
        "argmax ride the days-sized series (metadata scale — at 100 TB "
        "the series is still one row per day). Complements "
        "q_seasonal_anomaly (which flags days) by localizing the single "
        "strongest regime shift with before/after level estimates."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("rev_cents"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("rev_cents").alias("t")
    )
    # Days-sized series: the keyless windows run over one row per day.
    wo = Window.orderBy("day")
    curve = (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "day",
            F.row_number().over(wo).cast("long").alias("idx"),
            F.sum("rev_cents").over(wo).alias("cum"),
            "n",
            "t",
        )
        .withColumn("s", F.col("n") * F.col("cum") - F.col("idx") * F.col("t"))
    )
    best = curve.orderBy(F.abs(F.col("s")).desc(), F.col("day").asc()).limit(1)
    return best.select(
        F.col("day").cast("string").alias("changepoint_day"),
        F.col("s").alias("cusum_stat"),
        stable_round(F.col("cum") / (F.lit(100.0) * F.col("idx")), 6).alias("mean_before"),
        F.when(
            F.col("n") > F.col("idx"),
            stable_round(
                (F.col("t") - F.col("cum")) / (F.lit(100.0) * (F.col("n") - F.col("idx"))), 6
            ),
        ).alias("mean_after"),
    )


@register(
    "q_seasonal_naive_backtest",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_cents
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
lagged AS (
    SELECT day, rev_cents,
           lag(rev_cents, 7) OVER (ORDER BY day) AS f_snaive,
           lag(rev_cents, 1) OVER (ORDER BY day) AS f_naive
    FROM daily
),
eval AS (SELECT * FROM lagged WHERE f_snaive IS NOT NULL),
folds AS (
    SELECT CAST(count(*) AS BIGINT)                        AS n_eval_days,
           CAST(sum(abs(rev_cents - f_snaive)) AS BIGINT)  AS sae_s,
           CAST(sum(abs(rev_cents - f_naive)) AS BIGINT)   AS sae_n,
           sum(2.0 * abs(rev_cents - f_snaive) / (abs(rev_cents) + abs(f_snaive)))
               AS smape_sum_s,
           sum(2.0 * abs(rev_cents - f_naive) / (abs(rev_cents) + abs(f_naive)))
               AS smape_sum_n
    FROM eval
)
SELECT n_eval_days,
       (round((sae_s / (100.0 * n_eval_days)) * 1000000.0) / 1000000.0) AS mae_snaive,
       (round((sae_n / (100.0 * n_eval_days)) * 1000000.0) / 1000000.0) AS mae_naive,
       (round((smape_sum_s / n_eval_days) * 1000000.0) / 1000000.0)     AS smape_snaive,
       (round((smape_sum_n / n_eval_days) * 1000000.0) / 1000000.0)     AS smape_naive,
       CASE WHEN sae_s < sae_n THEN 'seasonal_naive'
            WHEN sae_s > sae_n THEN 'naive' ELSE 'tie' END              AS mae_winner
FROM folds
""",
    description=(
        "Rolling-origin backtest of the two canonical forecast baselines "
        "— seasonal-naive (same weekday last week) vs naive (yesterday) "
        "— over daily purchase revenue: MAE and sMAPE per model plus the "
        "winner. This is the acceptance gate the EWMA/Holt smoothers "
        "(q_ewma_smoothing / q_holt_smoothing) should have to beat "
        "before anyone ships a fancier model. The winner is decided on "
        "exact INTEGER absolute-error sums in cents (no float "
        "comparison); sMAPE terms are fixed-expression rationals of "
        "integers folded once. One data-sized pass; lags and folds ride "
        "the days-sized series."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("rev_cents"))
    )
    wo = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "rev_cents",
        F.lag("rev_cents", 7).over(wo).alias("f_snaive"),
        F.lag("rev_cents", 1).over(wo).alias("f_naive"),
    ).filter(F.col("f_snaive").isNotNull())
    r = F.col("rev_cents")
    folds = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_days"),
        F.sum(F.abs(r - F.col("f_snaive"))).alias("sae_s"),
        F.sum(F.abs(r - F.col("f_naive"))).alias("sae_n"),
        F.sum(
            F.lit(2.0) * F.abs(r - F.col("f_snaive")) / (F.abs(r) + F.abs(F.col("f_snaive")))
        ).alias("smape_sum_s"),
        F.sum(
            F.lit(2.0) * F.abs(r - F.col("f_naive")) / (F.abs(r) + F.abs(F.col("f_naive")))
        ).alias("smape_sum_n"),
    )
    n = F.col("n_eval_days")
    return folds.select(
        "n_eval_days",
        stable_round(F.col("sae_s") / (F.lit(100.0) * n), 6).alias("mae_snaive"),
        stable_round(F.col("sae_n") / (F.lit(100.0) * n), 6).alias("mae_naive"),
        stable_round(F.col("smape_sum_s") / n, 6).alias("smape_snaive"),
        stable_round(F.col("smape_sum_n") / n, 6).alias("smape_naive"),
        F.when(F.col("sae_s") < F.col("sae_n"), F.lit("seasonal_naive"))
        .when(F.col("sae_s") > F.col("sae_n"), F.lit("naive"))
        .otherwise(F.lit("tie"))
        .alias("mae_winner"),
    )


@register(
    "q_kanonymity_audit",
    oracle="""
WITH cells AS (
    SELECT event_type,
           CAST(dayofweek(ts) AS BIGINT)               AS wd,
           CAST(floor(value / 10.0) AS BIGINT)         AS value_band,
           CAST(count(DISTINCT user_id) AS BIGINT)     AS k,
           CAST(count(*) AS BIGINT)                    AS n_events
    FROM events
    GROUP BY 1, 2, 3
),
classed AS (
    SELECT CASE WHEN k >= 5 THEN '5+' ELSE CAST(k AS VARCHAR) END AS k_class,
           (k < 5)                                                AS at_risk,
           n_events
    FROM cells
),
hist AS (
    SELECT k_class, at_risk,
           CAST(count(*) AS BIGINT)      AS n_groups,
           CAST(sum(n_events) AS BIGINT) AS n_events
    FROM classed GROUP BY 1, 2
)
SELECT k_class, at_risk, n_groups, n_events,
       (round((n_events * 1.0 / sum(n_events) OVER ()) * 1000000.0) / 1000000.0)
           AS event_share
FROM hist
""",
    description=(
        "k-anonymity audit over the quasi-identifier tuple (event_type, "
        "weekday, value decile-band): how many QI cells isolate fewer "
        "than k=5 distinct users, and what share of event rows sits in "
        "those re-identifiable cells. The governance complement to "
        "q_redact_pii — redaction handles direct identifiers, this "
        "quantifies indirect linkage risk before a dataset is released "
        "for training. One data-sized partial-aggregated pass builds the "
        "QI cells; the class histogram and the share window run over the "
        "handful of k-classes (the only keyless window is 6 rows)."
    ),
    tags=("quality", "extension", "governance"),
)
def q_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        (F.dayofweek("ts") - 1).cast("long").alias("wd"),
        F.floor(F.col("value") / 10.0).cast("long").alias("value_band"),
    ).agg(
        F.count_distinct("user_id").alias("k"),
        F.count(F.lit(1)).alias("n_events"),
    )
    classed = cells.select(
        F.when(F.col("k") >= 5, F.lit("5+"))
        .otherwise(F.col("k").cast("string"))
        .alias("k_class"),
        (F.col("k") < 5).alias("at_risk"),
        "n_events",
    )
    hist = classed.groupBy("k_class", "at_risk").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_events").alias("n_events"),
    )
    return hist.select(
        "k_class",
        "at_risk",
        "n_groups",
        "n_events",
        stable_round(
            F.col("n_events") / F.sum("n_events").over(Window.partitionBy()), 6
        ).alias("event_share"),
    )


@register(
    "q_zipf_fit",
    oracle="""
WITH tok AS (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
counts AS (
    SELECT w, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1
),
top AS (SELECT w, n FROM counts ORDER BY n DESC, w LIMIT 1000),
ranked AS (
    SELECT n, CAST(row_number() OVER (ORDER BY n DESC, w) AS BIGINT) AS r FROM top
),
pts AS (
    SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y FROM ranked
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
           sum(x * x) AS sxx, sum(y * y) AS syy
    FROM pts
)
SELECT k AS n_terms,
       (round(((k * sxy - sx * sy) / (k * sxx - sx * sx)) * 1000000.0) / 1000000.0)
           AS zipf_slope,
       (round(((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k) * 1000000.0)
        / 1000000.0) AS log_intercept,
       (round((((k * sxy - sx * sy) * (k * sxy - sx * sy)) /
               ((k * sxx - sx * sx) * (k * syy - sy * sy))) * 1000000.0) / 1000000.0)
           AS r2
FROM m
""",
    description=(
        "Zipf's-law fit over the corpus token distribution: log-log OLS "
        "of frequency against rank for the top-1000 terms (slope ~ -1 "
        "for natural language; a flat slope flags synthetic/templated "
        "corpora, a cliff flags boilerplate). The corpus-law diagnostic "
        "next to q_token_entropy's per-doc view. The top-1000 cut is a "
        "distributed TakeOrderedAndProject with a total tie-break order "
        "(count desc, token asc) — the rank window then runs over 1000 "
        "rows, never the vocab; the OLS fold is the q_grouped_ols "
        "closed form over exact ln() points."
    ),
    tags=("text", "extension", "corpus"),
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("w").asc()).limit(1000)
    ranked = top.select(
        "n",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("w").asc()))
        .cast("long")
        .alias("r"),
    )
    pts = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    k, sx, sy = F.col("k"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    return m.select(
        k.alias("n_terms"),
        stable_round(slope, 6).alias("zipf_slope"),
        stable_round((sy - slope * sx) / k, 6).alias("log_intercept"),
        stable_round(
            ((k * sxy - sx * sy) * (k * sxy - sx * sy))
            / ((k * sxx - sx * sx) * (k * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


@register(
    "q_gdpr_delete_plan",
    oracle="""
WITH flagged AS (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CASE WHEN (('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                      % 100) < 5 THEN 1 ELSE 0 END AS del
    FROM events
),
parts AS (
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(del) AS BIGINT) AS n_delete
    FROM flagged GROUP BY 1
)
SELECT day, n_rows, n_delete,
       CAST(n_rows - n_delete AS BIGINT) AS n_kept,
       (round((n_delete * 1.0 / n_rows) * 1000000.0) / 1000000.0) AS delete_share,
       CASE WHEN n_delete = 0 THEN 'untouched' ELSE 'rewrite' END AS action
FROM parts
""",
    description=(
        "Right-to-be-forgotten delete plan (GDPR erasure): given a "
        "tombstone set (here the deterministic md5 5% of users standing "
        "in for the legal request list — at scale the list broadcast-"
        "anti-joins the fact table), compute per day-partition how many "
        "rows die, how many survive, and whether the partition needs a "
        "rewrite at all. Copy-on-write erasure costs one full rewrite "
        "of every TOUCHED partition — this manifest is what bounds the "
        "job before it runs, the erasure sibling of q_compaction_plan's "
        "bin-packing. One partial-aggregated pass; output is "
        "partition-count sized."
    ),
    tags=("quality", "extension", "governance"),
)
def q_gdpr_delete_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tomb = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10).cast("long")
        % 100
        < 5
    )
    parts = ev.groupBy(F.col("ts").cast("date").cast("string").alias("day")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(tomb, 1).otherwise(0)).alias("n_delete"),
    )
    return parts.select(
        "day",
        "n_rows",
        "n_delete",
        (F.col("n_rows") - F.col("n_delete")).alias("n_kept"),
        stable_round(F.col("n_delete") / F.col("n_rows"), 6).alias("delete_share"),
        F.when(F.col("n_delete") == 0, F.lit("untouched"))
        .otherwise(F.lit("rewrite"))
        .alias("action"),
    )


@register(
    "q_power_analysis",
    oracle="""
WITH u AS (
    SELECT user_id,
           max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS conv
    FROM events GROUP BY 1
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS n_users, CAST(sum(conv) AS BIGINT) AS n_conv FROM u
),
calc AS (
    SELECT n_users, n_conv,
           (n_conv * 1.0 / n_users)       AS p1,
           (n_conv * 1.0 / n_users) * 1.1 AS p2
    FROM s
),
need AS (
    SELECT n_users, p1, p2,
           CAST(ceil(((1.959964 + 0.841621) * (1.959964 + 0.841621)) *
                     (p1 * (1 - p1) + p2 * (1 - p2)) /
                     ((p2 - p1) * (p2 - p1))) AS BIGINT) AS n_per_arm
    FROM calc
)
SELECT n_users,
       (round(p1 * 1000000.0) / 1000000.0) AS p_baseline,
       (round(p2 * 1000000.0) / 1000000.0) AS p_target,
       n_per_arm,
       CAST(2 * n_per_arm AS BIGINT)       AS n_total_required,
       (n_users >= 2 * n_per_arm)          AS feasible
FROM need
""",
    description=(
        "A/B pre-experiment power analysis: the sample size per arm "
        "needed to detect a +10% relative lift on the observed baseline "
        "conversion (same conversion definition as q_ab_test_ztest) at "
        "alpha=0.05 two-sided / 80% power — the go/no-go check that "
        "should run BEFORE the experiment the z-test reads out. Baseline "
        "comes from one per-user partial-aggregated pass; the formula is "
        "a fixed closed-form expression of two exact integer counts, so "
        "both engines agree bit-for-bit through the ceil()."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when((F.col("event_type") == "purchase") & (F.col("value") > 150), 1).otherwise(0)
        ).alias("conv")
    )
    s = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("conv").cast("long").alias("n_conv"),
    )
    p1 = F.col("n_conv") / F.col("n_users")
    p2 = p1 * F.lit(1.1)
    za_zb = F.lit(1.959964 + 0.841621)
    n_per_arm = F.ceil(
        za_zb * za_zb * (p1 * (1 - p1) + p2 * (1 - p2)) / ((p2 - p1) * (p2 - p1))
    ).cast("long")
    return s.select(
        "n_users",
        stable_round(p1, 6).alias("p_baseline"),
        stable_round(p2, 6).alias("p_target"),
        n_per_arm.alias("n_per_arm"),
        (F.lit(2) * n_per_arm).cast("long").alias("n_total_required"),
        (F.col("n_users") >= F.lit(2) * n_per_arm).alias("feasible"),
    )


@register(
    "q_embedding_dim_audit",
    oracle="""
WITH grid AS (
    SELECT r.i AS dim, CAST(embedding[r.i] AS DOUBLE) AS x
    FROM embeddings e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) r
),
m AS (
    SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
           sum(x) AS sx, sum(x * x) AS sxx
    FROM grid GROUP BY 1
)
SELECT dim, n,
       (round((sx / n) * 1000000.0) / 1000000.0)                     AS mean_x,
       (round((sxx / n - (sx / n) * (sx / n)) * 1000000.0) / 1000000.0) AS var_x,
       (abs(sx / n) > 0.05 OR (sxx / n - (sx / n) * (sx / n)) < 0.008) AS anisotropy_flag
FROM m
""",
    description=(
        "Per-dimension embedding-space audit: coordinate mean and "
        "variance across the corpus, flagging dominant axes (|mean| > "
        "0.05 — the representation has a preferred direction) and dead/"
        "collapsed axes (variance < 0.008 vs the isotropic 1/64 = "
        "0.0156) — the dimension-collapse failure mode that silently "
        "destroys ANN recall and which the centroid-level "
        "q_embedding_drift cannot see. One posexplode partial-aggregated "
        "pass; output is dimensionality-sized (64 rows). The flag "
        "thresholds are fixed literals over identically-computed "
        "moments, so the booleans cannot drift between engines."
    ),
    tags=("similarity", "extension", "quality"),
)
def q_embedding_dim_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    grid = emb.select(F.posexplode("embedding").alias("pos", "xf")).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    m = grid.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    var = F.col("sxx") / F.col("n") - mean * mean
    return m.select(
        "dim",
        "n",
        stable_round(mean, 6).alias("mean_x"),
        stable_round(var, 6).alias("var_x"),
        ((F.abs(mean) > 0.05) | (var < 0.008)).alias("anisotropy_flag"),
    )


def _logistic_features_sql() -> str:
    return """
SELECT CAST(ln(1.0 + sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)) AS DOUBLE) AS x1,
       CAST(ln(1.0 + sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)) AS DOUBLE)  AS x2,
       max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END)        AS y
FROM events GROUP BY user_id
""".strip()


def _logistic_features(spark: SparkSession, sf_dir: str, *extra: Column) -> DataFrame:
    """Spark twin of :func:`_logistic_features_sql`, plus ``extra``
    per-user aggregates."""
    kind = F.col("event_type")
    return load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.log(F.lit(1.0) + F.sum(F.when(kind == "click", 1).otherwise(0))).alias("x1"),
        F.log(F.lit(1.0) + F.sum(F.when(kind == "view", 1).otherwise(0))).alias("x2"),
        F.max(F.when((kind == "purchase") & (F.col("value") > 150), 1).otherwise(0)).alias("y"),
        *extra,
    )



@register(
    "q_logistic_regression",
    oracle=irls_oracle_sql(_logistic_features_sql()),
    description=(
        "In-engine logistic regression by IRLS (4 rounds): "
        "P(conversion) ~ sigmoid(b0 + b1*ln(1+clicks) + "
        "b2*ln(1+views)) at user level, reporting coefficients, "
        "final log-likelihood and training accuracy — the "
        "classification member of the in-plan ML family "
        "(q_ridge_regression / q_kmeans_clusters / q_pca_projection "
        "/ q_nb_lang_confusion). Every round is ONE map-side-"
        "combined moment pass (9 Gram sums + 3 RHS) followed by a "
        "closed-form 3x3 Cramer solve; the 3-coefficient state "
        "crosses the driver as rounded doubles, k-means-centroid "
        "style — nothing data-sized ever leaves the executors. "
        "Moments and coefficients are 6dp-rounded each round, and "
        "the oracle unrolls the identical arithmetic per round, so "
        "both engines step through bit-identical model states."
    ),
    tags=("analytics", "extension", "stats", "ml"),
)
def q_logistic_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    return logistic_irls(_logistic_features(spark, sf_dir))


@register(
    "q_watermark_audit",
    oracle="""
WITH o AS (
    SELECT event_id, epoch_us(ts) AS tu FROM events
),
wm AS (
    SELECT tu,
           max(tu) OVER (ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wmb
    FROM o
),
fl AS (
    SELECT tu // 300000000 AS win,
           CASE WHEN wmb IS NOT NULL AND wmb - tu > 600000000 THEN 1 ELSE 0 END AS late
    FROM wm
)
SELECT CAST(win AS BIGINT)                                    AS win_id,
       CAST(make_timestamp(CAST(win * 300000000 AS BIGINT)) AS VARCHAR) AS win_start,
       CAST(count(*) AS BIGINT)                               AS n_rows,
       CAST(sum(late) AS BIGINT)                              AS n_late,
       (round((sum(late) * 1.0 / count(*)) * 1000000.0) / 1000000.0) AS late_share
FROM fl GROUP BY 1, 2
""",
    description=(
        "Watermark lateness audit: for each 5-minute event-time window, "
        "how many rows WOULD a streaming job with a 10-minute watermark "
        "drop, given the observed arrival order (event_id as the arrival "
        "proxy)? The batch pre-flight that sizes withWatermark() before "
        "the q_stream_tumbling job ships. The running 'max event time "
        "seen so far' is a GLOBAL exclusive prefix-max, computed WITHOUT "
        "a single-partition sort: phase 1 takes each 4096-row arrival "
        "bucket's max (partial agg) and its within-bucket exclusive "
        "running max (window partitioned BY bucket — distributed); "
        "phase 2 prefix-maxes the bucket maxima (a bucket-count-sized "
        "frame, data/4096 — recurse the same trick for another 4096x if "
        "that ever matters) and broadcast-joins them back; each row's "
        "watermark = max(bucket-prefix, within-bucket prefix). Same "
        "two-phase carry the bucketed as-of join uses."
    ),
    tags=("events", "extension", "streaming-adjacent"),
)
def q_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        F.unix_micros("ts").alias("tu"),
        F.expr("event_id div 4096").alias("bkt"),
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rows = base.withColumn("m_in", F.max("tu").over(w_in))
    bstats = base.groupBy("bkt").agg(F.max("tu").alias("bmax"))
    w_b = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    bprev = bstats.select("bkt", F.max("bmax").over(w_b).alias("bprev"))
    joined = rows.join(F.broadcast(bprev), "bkt")
    wmb = F.greatest(F.coalesce("m_in", F.lit(-1)), F.coalesce("bprev", F.lit(-1)))
    flagged = joined.select(
        F.expr("tu div 300000000").alias("win"),
        F.when((wmb >= 0) & (wmb - F.col("tu") > 600000000), 1).otherwise(0).alias("late"),
    )
    return flagged.groupBy("win").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("late").alias("n_late"),
        stable_round(F.sum("late") / F.count(F.lit(1)), 6).alias("late_share"),
    ).select(
        F.col("win").alias("win_id"),
        F.timestamp_micros(F.col("win") * 300000000).cast("string").alias("win_start"),
        "n_rows",
        "n_late",
        "late_share",
    )


@register(
    "q_markov_stationary",
    oracle=f"""{stationary_oracle_sql()}
SELECT s AS state, v AS stationary_p FROM v_{CHAIN_ROUNDS}
""",
    description=(
        "Stationary distribution of the event-type Markov chain (where "
        "does a user's session flow settle?) by 12 power-iteration "
        "rounds over the transition matrix q_event_transitions "
        "estimates. The data-sized work is ONE lead()-window pass "
        "counting transitions; the matrix itself is |types|^2 = 25 "
        "numbers, so the iteration rides the driver exactly like the "
        "k-means centroid state — collecting it is metadata, not data. "
        "Matrix entries and every iterate are 6dp-rounded (sums taken "
        "in sorted-state order) so the chain is bit-identical to the "
        "oracle's unrolled vector-times-matrix CTEs."
    ),
    tags=("events", "extension", "analytics"),
)
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    _mat, v = stationary_chain(transitions(event_pairs(ev)))
    return local_frame(spark, list(v.items()), "state string, stationary_p double")


def _association_rules_cte() -> str:
    from healthcare_etl_spark.plans.queries_events import _SESSION_CTE

    return f"""
WITH {_SESSION_CTE},
types AS (
    SELECT DISTINCT user_id, session_seq, event_type FROM sess
),
n_sess AS (
    SELECT CAST(count(DISTINCT (user_id, session_seq)) AS BIGINT) AS total FROM sess
),
item AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_i FROM types GROUP BY 1
),
pair AS (
    SELECT a.event_type AS antecedent, b.event_type AS consequent,
           CAST(count(*) AS BIGINT) AS n_ab
    FROM types a
    JOIN types b ON a.user_id = b.user_id AND a.session_seq = b.session_seq
                AND a.event_type <> b.event_type
    GROUP BY 1, 2
)
SELECT p.antecedent, p.consequent, p.n_ab,
       (round((p.n_ab * 1.0 / ia.n_i) * 1000000.0) / 1000000.0) AS confidence,
       (round((p.n_ab * 1.0 * ns.total / (ia.n_i * ic.n_i)) * 1000000.0) / 1000000.0)
           AS lift
FROM pair p
JOIN item ia ON ia.event_type = p.antecedent
JOIN item ic ON ic.event_type = p.consequent
CROSS JOIN n_sess ns
"""


def _register_association_rules() -> None:
    @register(
        "q_association_rules",
        oracle=_association_rules_cte(),
        description=(
            "Directed association rules A -> B over session baskets "
            "with confidence and lift — the scoring pass that completes "
            "q_session_cooccurrence's a-priori candidate generation "
            "(co-occurrence gives support; rules need the per-item "
            "marginals too). The pair join runs on the distinct-reduced "
            "(session, type) sets, the item marginals are a types-sized "
            "broadcast, and lift's session total is a 1-row broadcast — "
            "so the only data-sized exchange is the sessionize shuffle "
            "the session CTE already pays."
        ),
        tags=("events", "extension", "analytics"),
    )
    def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
        from healthcare_etl_spark.operators.sessionize import sessionize

        ev = load_table(spark, sf_dir, "events")
        sess = sessionize(ev, order_tiebreak="event_id")
        types = sess.select("user_id", "session_seq", "event_type").distinct()
        n_sess = (
            sess.select("user_id", "session_seq")
            .distinct()
            .agg(F.count(F.lit(1)).alias("total"))
        )
        item = types.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_i"))
        a = types.select("user_id", "session_seq", F.col("event_type").alias("antecedent"))
        b = types.select(
            F.col("user_id").alias("u_b"),
            F.col("session_seq").alias("s_b"),
            F.col("event_type").alias("consequent"),
        )
        pair = (
            a.join(
                b,
                (a["user_id"] == b["u_b"])
                & (a["session_seq"] == b["s_b"])
                & (a["antecedent"] != b["consequent"]),
            )
            .groupBy("antecedent", "consequent")
            .agg(F.count(F.lit(1)).alias("n_ab"))
        )
        ia = item.select(F.col("event_type").alias("antecedent"), F.col("n_i").alias("n_a"))
        ic = item.select(F.col("event_type").alias("consequent"), F.col("n_i").alias("n_c"))
        return (
            pair.join(F.broadcast(ia), "antecedent")
            .join(F.broadcast(ic), "consequent")
            .crossJoin(F.broadcast(n_sess))
            .select(
                "antecedent",
                "consequent",
                "n_ab",
                stable_round(F.col("n_ab") * 1.0 / F.col("n_a"), 6).alias("confidence"),
                stable_round(
                    F.col("n_ab") * 1.0 * F.col("total") / (F.col("n_a") * F.col("n_c")), 6
                ).alias("lift"),
            )
        )


_register_association_rules()


def _shapley_oracle() -> str:
    from healthcare_etl_spark.plans.queries_events import _SESSION_CTE

    v = lambda c, vv, s: (  # noqa: E731
        f"coalesce(max(CASE WHEN has_c = {c} AND has_v = {vv} AND has_s = {s} "
        f"THEN rate END), 0.0)"
    )
    return f"""
WITH {_SESSION_CTE},
flags AS (
    SELECT user_id, session_seq,
           max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)    AS has_c,
           max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)     AS has_v,
           max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)   AS has_s,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
    FROM sess GROUP BY 1, 2
),
combos AS (
    SELECT has_c, has_v, has_s,
           CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS nc,
           (round((sum(conv) * 1.0 / count(*)) * 1000000.0) / 1000000.0) AS rate
    FROM flags GROUP BY 1, 2, 3
),
pv AS (
    SELECT CAST(sum(n) AS BIGINT) AS n_sessions,
           CAST(sum(nc) AS BIGINT) AS n_converted,
           {v(0, 0, 0)} AS v000, {v(1, 0, 0)} AS v100,
           {v(0, 1, 0)} AS v010, {v(0, 0, 1)} AS v001,
           {v(1, 1, 0)} AS v110, {v(1, 0, 1)} AS v101,
           {v(0, 1, 1)} AS v011, {v(1, 1, 1)} AS v111
    FROM combos
)
SELECT n_sessions, n_converted,
       (round(((1.0 / 3.0) * (v100 - v000) + (1.0 / 6.0) * (v110 - v010)
             + (1.0 / 6.0) * (v101 - v001) + (1.0 / 3.0) * (v111 - v011))
             * 1000000.0) / 1000000.0) AS shapley_click,
       (round(((1.0 / 3.0) * (v010 - v000) + (1.0 / 6.0) * (v110 - v100)
             + (1.0 / 6.0) * (v011 - v001) + (1.0 / 3.0) * (v111 - v101))
             * 1000000.0) / 1000000.0) AS shapley_view,
       (round(((1.0 / 3.0) * (v001 - v000) + (1.0 / 6.0) * (v101 - v100)
             + (1.0 / 6.0) * (v011 - v010) + (1.0 / 3.0) * (v111 - v110))
             * 1000000.0) / 1000000.0) AS shapley_signup
FROM pv
"""


def _register_shapley() -> None:
    @register(
        "q_shapley_attribution",
        oracle=_shapley_oracle(),
        description=(
            "Shapley-value channel attribution over session baskets — "
            "the game-theoretic upgrade of q_attribution_last_touch / "
            "q_attribution_linear: the characteristic function is the "
            "conversion rate of sessions with each exact exposure "
            "subset of {click, view, signup}, and each channel's "
            "Shapley value is the closed-form weighted sum of its "
            "marginal contributions over the 2^3 subsets (weights "
            "1/3, 1/6, 1/6, 1/3). One sessionize shuffle -> one "
            "sessions-sized flag aggregate -> an 8-row subset table -> "
            "fixed literal arithmetic; channel count grows the subset "
            "table 2^n but the data-sized work not at all."
        ),
        tags=("events", "extension", "analytics"),
    )
    def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
        from healthcare_etl_spark.operators.sessionize import sessionize

        ev = load_table(spark, sf_dir, "events")
        sess = sessionize(ev, order_tiebreak="event_id")
        has = lambda t: F.max(  # noqa: E731
            F.when(F.col("event_type") == t, 1).otherwise(0)
        )
        flags = sess.groupBy("user_id", "session_seq").agg(
            has("click").alias("has_c"),
            has("view").alias("has_v"),
            has("signup").alias("has_s"),
            has("purchase").alias("conv"),
        )
        combos = flags.groupBy("has_c", "has_v", "has_s").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("conv").alias("nc"),
            stable_round(F.sum("conv") * 1.0 / F.count(F.lit(1)), 6).alias("rate"),
        )
        vv = lambda c, v, s: F.coalesce(  # noqa: E731
            F.max(
                F.when(
                    (F.col("has_c") == c) & (F.col("has_v") == v) & (F.col("has_s") == s),
                    F.col("rate"),
                )
            ),
            F.lit(0.0),
        )
        pv = combos.agg(
            F.sum("n").alias("n_sessions"),
            F.sum("nc").alias("n_converted"),
            vv(0, 0, 0).alias("v000"), vv(1, 0, 0).alias("v100"),
            vv(0, 1, 0).alias("v010"), vv(0, 0, 1).alias("v001"),
            vv(1, 1, 0).alias("v110"), vv(1, 0, 1).alias("v101"),
            vv(0, 1, 1).alias("v011"), vv(1, 1, 1).alias("v111"),
        )
        third, sixth = F.lit(1.0 / 3.0), F.lit(1.0 / 6.0)
        c = F.col
        return pv.select(
            "n_sessions",
            "n_converted",
            stable_round(
                third * (c("v100") - c("v000")) + sixth * (c("v110") - c("v010"))
                + sixth * (c("v101") - c("v001")) + third * (c("v111") - c("v011")),
                6,
            ).alias("shapley_click"),
            stable_round(
                third * (c("v010") - c("v000")) + sixth * (c("v110") - c("v100"))
                + sixth * (c("v011") - c("v001")) + third * (c("v111") - c("v101")),
                6,
            ).alias("shapley_view"),
            stable_round(
                third * (c("v001") - c("v000")) + sixth * (c("v101") - c("v100"))
                + sixth * (c("v011") - c("v010")) + third * (c("v111") - c("v110")),
                6,
            ).alias("shapley_signup"),
        )


_register_shapley()


def _ece_oracle() -> str:
    parts, final = irls_beta_ctes(_logistic_features_sql(), LOGISTIC)
    joined = ",\n".join(parts)
    return f"""WITH {joined},
scored AS (
    SELECT y, (1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1 + b.b2 * x2)))) AS p
    FROM feat CROSS JOIN {final} b
),
bins AS (
    SELECT least(CAST(floor(p * 10.0) AS BIGINT), 9) AS bin, p, y FROM scored
),
stats AS (
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           {stable_round_sql('sum(p) / count(*)')} AS mean_p,
           {stable_round_sql('sum(y) * 1.0 / count(*)')} AS conv_rate
    FROM bins GROUP BY bin
),
weighted AS (
    SELECT bin, n, mean_p, conv_rate,
           {stable_round_sql('abs(conv_rate - mean_p)')} AS gap,
           (n * 1.0 / sum(n) OVER ()) AS wgt
    FROM stats
)
SELECT bin, n, mean_p, conv_rate, gap,
       {stable_round_sql('sum(wgt * gap) OVER ()')} AS ece
FROM weighted
"""


@register(
    "q_calibration_ece",
    oracle=_ece_oracle(),
    description=(
        "Reliability diagram + expected calibration error for the "
        "IRLS logistic model (q_logistic_regression): fitted "
        "probabilities fall into 10 bins, each bin reports its "
        "mean predicted p vs its realized conversion rate, and ECE "
        "folds the bin-weighted gaps — the standard answer to 'is "
        "0.7 from this model actually 70%?' that accuracy cannot "
        "give. The fit is irls_fit (4 moment passes); the "
        "scoring pass is one more scan binned by a fixed literal "
        "rule; the ECE window rides the 10-row bin table. Gaps and "
        "ECE are computed from the 6dp-rounded bin statistics, so "
        "both engines fold identical numbers."
    ),
    tags=("analytics", "extension", "stats", "ml"),
)
def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    features = _logistic_features(spark, sf_dir)
    p = logistic_p(irls_fit(features, LOGISTIC))
    bins = features.select(
        F.least(F.floor(p * 10.0).cast("long"), F.lit(9)).alias("bin"),
        p.alias("p"),
        F.col("y"),
    )
    stats = bins.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        stable_round(F.sum("p") / F.count(F.lit(1)), 6).alias("mean_p"),
        stable_round(F.sum("y") * 1.0 / F.count(F.lit(1)), 6).alias("conv_rate"),
    )
    w_all = Window.partitionBy()
    gap = F.abs(F.col("conv_rate") - F.col("mean_p"))
    weighted = stats.select(
        "bin",
        "n",
        "mean_p",
        "conv_rate",
        stable_round(gap, 6).alias("gap"),
        (F.col("n") * 1.0 / F.sum("n").over(w_all)).alias("wgt"),
    )
    return weighted.select(
        "bin",
        "n",
        "mean_p",
        "conv_rate",
        "gap",
        stable_round(F.sum(F.col("wgt") * F.col("gap")).over(w_all), 6).alias("ece"),
    )


@register(
    "q_cms_eval",
    oracle="""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
exact AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
cells AS (
    SELECT i, bucket, CAST(count(*) AS BIGINT) AS c FROM (
        SELECT unnest(range(4)) AS i, w FROM tok
    ) t, LATERAL (SELECT (('0x' || substring(md5('cms' || CAST(i AS VARCHAR) || ':' || w), 1, 8))::BIGINT % 1024) AS bucket)
    GROUP BY i, bucket
),
probe_cells AS (
    SELECT e.w, e.n, g.i,
           (('0x' || substring(md5('cms' || CAST(g.i AS VARCHAR) || ':' || e.w), 1, 8))::BIGINT % 1024) AS bucket
    FROM exact e CROSS JOIN (SELECT unnest(range(4)) AS i) g
),
est AS (
    SELECT w, max(n) AS n, CAST(min(coalesce(c, 0)) AS BIGINT) AS est
    FROM probe_cells LEFT JOIN cells USING (i, bucket)
    GROUP BY w
),
err AS (SELECT n, est, CAST(est - n AS BIGINT) AS over_err FROM est)
SELECT CAST(count(*) AS BIGINT)                                   AS n_tokens,
       CAST(sum(CASE WHEN over_err = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       (round((sum(CASE WHEN over_err = 0 THEN 1 ELSE 0 END) * 1.0 / count(*))
              * 1000000.0) / 1000000.0)                           AS exact_share,
       (round((sum(over_err) * 1.0 / count(*)) * 1000000.0) / 1000000.0)
                                                                  AS mean_overestimate,
       CAST(max(over_err) AS BIGINT)                              AS max_overestimate,
       CAST(min(over_err) AS BIGINT)                              AS min_overestimate
FROM err
""",
    description=(
        "Count-min sketch accuracy evaluation against exact token "
        "counts — the third member of the sketch-eval family "
        "(q_minhash_eval for Jaccard banding, q_ann_recall_eval for "
        "LSH): every vocab term is probed through the same 4x1024 "
        "salted-md5 sketch q_cms_counts builds, and the overestimate "
        "distribution (CMS never underestimates — min_overestimate "
        "must be 0) tells you whether the width fits the vocab before "
        "anyone trusts the estimates. Sketch build is the one "
        "data-sized pass; probing is vocab x depth against the "
        "broadcast 4096-cell sketch; errors are exact BIGINTs."
    ),
    tags=("text", "extension", "sketch"),
)
def q_cms_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(F.split("text", " ")).alias("w"))
    exact = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))

    def bucket(col, i_col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("cms"), i_col.cast("string"), F.lit(":"), col)),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1024
        )

    cells = (
        toks.select(
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"), F.col("w")
        )
        .select("i", bucket(F.col("w"), F.col("i")).alias("bucket"))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probe_cells = exact.select(
        "w", "n", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i")
    ).select("w", "n", "i", bucket(F.col("w"), F.col("i")).alias("bucket"))
    est = (
        probe_cells.join(F.broadcast(cells), ["i", "bucket"], "left")
        .groupBy("w")
        .agg(
            F.max("n").alias("n"),
            F.min(F.coalesce("c", F.lit(0))).alias("est"),
        )
    )
    err = est.select("n", "est", (F.col("est") - F.col("n")).alias("over_err"))
    exact_ind = F.when(F.col("over_err") == 0, 1).otherwise(0)
    return err.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(exact_ind).alias("n_exact"),
        stable_round(F.sum(exact_ind) * 1.0 / F.count(F.lit(1)), 6).alias("exact_share"),
        stable_round(F.sum("over_err") * 1.0 / F.count(F.lit(1)), 6).alias(
            "mean_overestimate"
        ),
        F.max("over_err").alias("max_overestimate"),
        F.min("over_err").alias("min_overestimate"),
    )


@register(
    "q_sequential_ab_monitor",
    oracle="""
WITH users AS (
    SELECT user_id,
           (('0x' || substring(md5('ab-v1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
            % 2 = 0) AS in_a,
           min(CAST(ts AS DATE)) AS u_day,
           min(CASE WHEN event_type = 'purchase' AND value > 150
                    THEN CAST(ts AS DATE) END) AS c_day
    FROM events GROUP BY user_id
),
days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
enter AS (
    SELECT u_day AS day,
           CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ea,
           CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS eb
    FROM users GROUP BY 1
),
convd AS (
    SELECT c_day AS day,
           CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
           CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS cb
    FROM users WHERE c_day IS NOT NULL GROUP BY 1
),
cum AS (
    SELECT d.day,
           CAST(sum(coalesce(e.ea, 0)) OVER (ORDER BY d.day) AS BIGINT) AS n_a,
           CAST(sum(coalesce(e.eb, 0)) OVER (ORDER BY d.day) AS BIGINT) AS n_b,
           CAST(sum(coalesce(c.ca, 0)) OVER (ORDER BY d.day) AS BIGINT) AS conv_a,
           CAST(sum(coalesce(c.cb, 0)) OVER (ORDER BY d.day) AS BIGINT) AS conv_b
    FROM days d
    LEFT JOIN enter e ON e.day = d.day
    LEFT JOIN convd c ON c.day = d.day
),
zed AS (
    SELECT CAST(day AS VARCHAR) AS day, n_a, n_b, conv_a, conv_b,
           CASE WHEN n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0
                     AND conv_a + conv_b < n_a + n_b
                THEN (round(((conv_a * 1.0 / n_a - conv_b * 1.0 / n_b)
                      / sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b))
                             * (1.0 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                             * (1.0 / n_a + 1.0 / n_b))) * 1000000.0) / 1000000.0)
           END AS z_score
    FROM cum
)
SELECT day, n_a, n_b, conv_a, conv_b, z_score,
       coalesce(abs(z_score) > 2.797, FALSE) AS boundary_crossed
FROM zed
""",
    description=(
        "Sequential A/B monitoring (Haybittle-Peto rule): the pooled "
        "two-proportion z-statistic recomputed on each day's CUMULATIVE "
        "experiment state — users enter at their first event, convert "
        "at their first qualifying purchase — with interim looks "
        "flagged only past the conservative |z| > 2.797 boundary "
        "(peeking at the q_ab_test_ztest statistic daily at 1.96 "
        "inflates false positives severalfold). One per-user pass "
        "derives entry/conversion days, two day-keyed aggregates give "
        "daily increments, and the cumulative windows ride the "
        "days-sized calendar — the data is never rescanned per look, "
        "which is what makes daily monitoring affordable at 100 TB."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_sequential_ab_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    in_a = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ab-v1:"), F.col("user_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )
    users = ev.groupBy("user_id").agg(
        F.first(in_a).alias("in_a"),
        F.min(F.col("ts").cast("date")).alias("u_day"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150),
                F.col("ts").cast("date"),
            )
        ).alias("c_day"),
    )
    days = ev.select(F.col("ts").cast("date").alias("day")).distinct()
    enter = users.groupBy(F.col("u_day").alias("day")).agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("ea"),
        F.sum(F.when(~F.col("in_a"), 1).otherwise(0)).alias("eb"),
    )
    convd = (
        users.filter(F.col("c_day").isNotNull())
        .groupBy(F.col("c_day").alias("day"))
        .agg(
            F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("ca"),
            F.sum(F.when(~F.col("in_a"), 1).otherwise(0)).alias("cb"),
        )
    )
    wo = Window.orderBy("day")
    cum = (
        days.join(enter, "day", "left")
        .join(convd, "day", "left")
        .select(
            "day",
            F.sum(F.coalesce("ea", F.lit(0))).over(wo).alias("n_a"),
            F.sum(F.coalesce("eb", F.lit(0))).over(wo).alias("n_b"),
            F.sum(F.coalesce("ca", F.lit(0))).over(wo).alias("conv_a"),
            F.sum(F.coalesce("cb", F.lit(0))).over(wo).alias("conv_b"),
        )
    )
    na, nb = F.col("n_a"), F.col("n_b")
    ca, cb = F.col("conv_a"), F.col("conv_b")
    pooled = (ca + cb) * 1.0 / (na + nb)
    z = stable_round(
        (ca * 1.0 / na - cb * 1.0 / nb)
        / F.sqrt(pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / na + F.lit(1.0) / nb)),
        6,
    )
    zed = cum.select(
        F.col("day").cast("string").alias("day"),
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.when(
            (na > 0) & (nb > 0) & (ca + cb > 0) & (ca + cb < na + nb), z
        ).alias("z_score"),
    )
    return zed.withColumn(
        "boundary_crossed", F.coalesce(F.abs(F.col("z_score")) > 2.797, F.lit(False))
    )


@register(
    "q_permutation_test",
    oracle="""
WITH uv AS (
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS v_cents,
           (('0x' || substring(md5('ab-v1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
            % 2 = 0) AS in_a
    FROM events GROUP BY user_id
),
obs AS (
    SELECT (round((sum(CASE WHEN in_a THEN v_cents ELSE 0 END) * 1.0
                   / (100.0 * sum(CASE WHEN in_a THEN 1 ELSE 0 END))
                 - sum(CASE WHEN NOT in_a THEN v_cents ELSE 0 END) * 1.0
                   / (100.0 * sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END)))
                 * 1000000.0) / 1000000.0) AS d_obs
    FROM uv
),
grid AS (
    SELECT u.v_cents, t.b,
           (('0x' || substring(md5('perm' || CAST(t.b AS VARCHAR) || ':'
                                    || CAST(u.user_id AS VARCHAR)), 1, 8))::BIGINT
            % 2 = 0) AS pa
    FROM uv u CROSS JOIN (SELECT unnest(range(200)) AS b) t
),
perms AS (
    SELECT b,
           (round((sum(CASE WHEN pa THEN v_cents ELSE 0 END) * 1.0
                   / (100.0 * sum(CASE WHEN pa THEN 1 ELSE 0 END))
                 - sum(CASE WHEN NOT pa THEN v_cents ELSE 0 END) * 1.0
                   / (100.0 * sum(CASE WHEN NOT pa THEN 1 ELSE 0 END)))
                 * 1000000.0) / 1000000.0) AS d_b
    FROM grid GROUP BY b
)
SELECT max(o.d_obs)                                                AS observed_diff,
       CAST(count(*) AS BIGINT)                                    AS n_perms,
       CAST(sum(CASE WHEN abs(p.d_b) >= abs(o.d_obs) THEN 1 ELSE 0 END) AS BIGINT)
                                                                   AS n_as_extreme,
       (round(((1.0 + sum(CASE WHEN abs(p.d_b) >= abs(o.d_obs) THEN 1 ELSE 0 END))
               / (1.0 + count(*))) * 1000000.0) / 1000000.0)       AS p_value
FROM perms p CROSS JOIN obs o
""",
    description=(
        "Permutation test for the arm difference in mean per-user "
        "purchase value — the nonparametric companion to "
        "q_ab_test_ztest for metrics too skewed for a z approximation. "
        "Classic permutation is irreproducible across engines; here "
        "each of the 200 label shuffles draws its arm reassignment "
        "from a counter-based md5 bit (the q_bootstrap_ci discipline), "
        "so both engines evaluate THE SAME permutations: per-user "
        "value is exact integer cents, each permuted mean-difference "
        "is BIGINT sums and one rounded division, and the p-value is "
        "the add-one-smoothed exceedance count. The grid is users x B "
        "(partial-aggregated); at 100 TB you'd sample users first — "
        "the permutation mechanics are unchanged."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    in_a = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ab-v1:"), F.col("user_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )
    uv = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("v_cents"),
        F.first(in_a).alias("in_a"),
    )
    def mean_diff(flag):
        sa = F.sum(F.when(flag, F.col("v_cents")).otherwise(0)) * 1.0
        na = F.sum(F.when(flag, 1).otherwise(0))
        sb = F.sum(F.when(~flag, F.col("v_cents")).otherwise(0)) * 1.0
        nb = F.sum(F.when(~flag, 1).otherwise(0))
        return stable_round(sa / (F.lit(100.0) * na) - sb / (F.lit(100.0) * nb), 6)

    obs = uv.agg(mean_diff(F.col("in_a")).alias("d_obs"))
    grid = uv.select(
        "user_id",
        "v_cents",
        F.explode(F.sequence(F.lit(0), F.lit(199))).alias("b"),
    ).withColumn(
        "pa",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("perm"),
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
    )
    perms = grid.groupBy("b").agg(mean_diff(F.col("pa")).alias("d_b"))
    extreme = F.when(F.abs(F.col("d_b")) >= F.abs(F.col("d_obs")), 1).otherwise(0)
    return perms.crossJoin(F.broadcast(obs)).agg(
        F.max("d_obs").alias("observed_diff"),
        F.count(F.lit(1)).alias("n_perms"),
        F.sum(extreme).alias("n_as_extreme"),
        stable_round(
            (F.lit(1.0) + F.sum(extreme)) / (F.lit(1.0) + F.count(F.lit(1))), 6
        ).alias("p_value"),
    )


@register(
    "q_unpivot",
    oracle="""
WITH daily AS (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           event_type,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_cents
    FROM events
    WHERE event_type IN ('click', 'view', 'signup', 'purchase', 'error')
    GROUP BY 1, 2
)
SELECT day, event_type, rev_cents FROM daily
""",
    description=(
        "Unpivot / melt (the inverse of q_pivot, closing the reshape "
        "pair): the day x event-type revenue matrix is built wide with "
        "pivot(), then melted back to long (day, event_type, rev_cents) "
        "rows with the native unpivot operator, dropping the NULL "
        "cells pivot manufactured for absent combinations. The oracle "
        "is the direct long-form aggregate the round-trip must "
        "reproduce exactly — integer-cent values make the equality "
        "bit-for-bit. Both reshapes are projections around ONE "
        "day-keyed partial aggregate; unpivot itself is a generator "
        "expression, no shuffle."
    ),
    tags=("relational", "extension"),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "signup", "purchase", "error"]
    wide = (
        ev.filter(F.col("event_type").isin(types))
        .groupBy(F.col("ts").cast("date").cast("string").alias("day"))
        .pivot("event_type", types)
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")))
    )
    long = wide.unpivot("day", types, "event_type", "rev_cents")
    return long.filter(F.col("rev_cents").isNotNull())


@register(
    "q_cuped_adjustment",
    oracle="""
WITH u AS (
    SELECT user_id,
           (('0x' || substring(md5('ab-v1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
            % 2 = 0) AS in_a,
           CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-08' THEN 1 ELSE 0 END)
                AS BIGINT) AS x,
           CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-08'
                          AND event_type = 'purchase'
                         THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS y_cents
    FROM events GROUP BY user_id
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y_cents) AS BIGINT) AS sy,
           CAST(sum(x * y_cents) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y_cents * y_cents) AS BIGINT) AS syy,
           CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN in_a THEN x ELSE 0 END) AS BIGINT) AS sx_a,
           CAST(sum(CASE WHEN in_a THEN y_cents ELSE 0 END) AS BIGINT) AS sy_a,
           CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(sum(CASE WHEN NOT in_a THEN x ELSE 0 END) AS BIGINT) AS sx_b,
           CAST(sum(CASE WHEN NOT in_a THEN y_cents ELSE 0 END) AS BIGINT) AS sy_b
    FROM u
),
calc AS (
    SELECT n, n_a, n_b,
           (round(((sxy * 1.0 * n - sx * 1.0 * sy)
                   / (sxx * 1.0 * n - sx * 1.0 * sx)) * 1000000.0) / 1000000.0)
               AS theta_cents,
           (round((((sxy * 1.0 * n - sx * 1.0 * sy) * (sxy * 1.0 * n - sx * 1.0 * sy))
                   / ((sxx * 1.0 * n - sx * 1.0 * sx) * (syy * 1.0 * n - sy * 1.0 * sy)))
                  * 1000000.0) / 1000000.0) AS var_reduction,
           (round((sy_a / (100.0 * n_a) - sy_b / (100.0 * n_b)) * 1000000.0) / 1000000.0)
               AS raw_diff,
           (round((sx_a * 1.0 / n_a - sx_b * 1.0 / n_b) * 1000000.0) / 1000000.0)
               AS x_diff
    FROM m
)
SELECT n AS n_users, n_a, n_b, theta_cents, var_reduction, raw_diff,
       (round((raw_diff - theta_cents * x_diff / 100.0) * 1000000.0) / 1000000.0)
           AS adjusted_diff
FROM calc
""",
    description=(
        "CUPED variance-reduction readout: the arm difference in "
        "post-period revenue is adjusted by theta x the pre-period "
        "activity difference (theta = pooled cov(y,x)/var(x); pre = "
        "week 1, post = rest), with the achievable variance reduction "
        "rho^2 — the industry-standard trick that makes the same "
        "experiment decidable with ~(1-rho^2)x the traffic, sitting "
        "between q_ab_test_ztest (readout) and q_power_analysis "
        "(sizing). One per-user pass then ONE pooled+per-arm moment "
        "aggregate; every moment is an exact BIGINT (counts x integer "
        "cents), floats appear only in the final rounded divisions, so "
        "parity is bit-exact with no resampling at all."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    in_a = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ab-v1:"), F.col("user_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )
    pre = F.col("ts").cast("date") < F.lit("2024-01-08").cast("date")
    u = ev.groupBy("user_id").agg(
        F.first(in_a).alias("in_a"),
        F.sum(F.when(pre, 1).otherwise(0)).alias("x"),
        F.sum(
            F.when(
                (~pre) & (F.col("event_type") == "purchase"),
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("y_cents"),
    )
    x, y = F.col("x"), F.col("y_cents")
    a = F.col("in_a")
    m = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(F.when(a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(a, x).otherwise(0)).alias("sx_a"),
        F.sum(F.when(a, y).otherwise(0)).alias("sy_a"),
        F.sum(F.when(~a, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(~a, x).otherwise(0)).alias("sx_b"),
        F.sum(F.when(~a, y).otherwise(0)).alias("sy_b"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cnum = sxy * 1.0 * n - sx * 1.0 * sy
    cden = sxx * 1.0 * n - sx * 1.0 * sx
    calc = m.select(
        n.alias("n_users"),
        F.col("n_a"),
        F.col("n_b"),
        stable_round(cnum / cden, 6).alias("theta_cents"),
        stable_round(
            (cnum * cnum) / (cden * (syy * 1.0 * n - sy * 1.0 * sy)), 6
        ).alias("var_reduction"),
        stable_round(
            F.col("sy_a") / (F.lit(100.0) * F.col("n_a"))
            - F.col("sy_b") / (F.lit(100.0) * F.col("n_b")),
            6,
        ).alias("raw_diff"),
        stable_round(
            F.col("sx_a") * 1.0 / F.col("n_a") - F.col("sx_b") * 1.0 / F.col("n_b"), 6
        ).alias("x_diff"),
    )
    return calc.select(
        "n_users",
        "n_a",
        "n_b",
        "theta_cents",
        "var_reduction",
        "raw_diff",
        stable_round(
            F.col("raw_diff") - F.col("theta_cents") * F.col("x_diff") / 100.0, 6
        ).alias("adjusted_diff"),
    )


@register(
    "q_mann_whitney",
    oracle="""
WITH u AS (
    SELECT user_id,
           (('0x' || substring(md5('ab-v1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
            % 2 = 0) AS in_a,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS v
    FROM events GROUP BY user_id
),
grp AS (
    SELECT v, CAST(count(*) AS BIGINT) AS t,
           CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS t_a
    FROM u GROUP BY v
),
ranked AS (
    SELECT v, t, t_a,
           CAST(coalesce(sum(t) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
    FROM grp
),
m AS (
    SELECT CAST(sum(t) AS BIGINT)                          AS n,
           CAST(sum(t_a) AS BIGINT)                        AS n_a,
           CAST(sum(t - t_a) AS BIGINT)                    AS n_b,
           CAST(sum(t_a * (2 * cb + t + 1)) AS BIGINT)     AS rank2_a,
           CAST(sum(t * t * t - t) AS BIGINT)              AS tie_sum
    FROM ranked
),
calc AS (
    SELECT n, n_a, n_b,
           ((rank2_a - n_a * (n_a + 1)) / 2.0) AS u_a,
           (n_a * 1.0 * n_b / 2.0)             AS mean_u,
           ((n_a * 1.0 * n_b / 12.0)
            * ((n + 1.0) - tie_sum / (n * 1.0 * (n - 1.0)))) AS var_u
    FROM m
)
SELECT n_a, n_b, u_a, mean_u,
       (round(((u_a - mean_u) / sqrt(var_u)) * 1000000.0) / 1000000.0) AS z_score,
       (round((((u_a - mean_u) / sqrt(var_u)) / sqrt(n * 1.0)) * 1000000.0) / 1000000.0)
           AS effect_r
FROM calc
""",
    description=(
        "Mann-Whitney U test for the arm difference in per-user "
        "purchase value — the rank-based member of the testing family "
        "(Welch assumes near-normal means, the permutation test buys "
        "exactness with 200x compute; U is the one-pass nonparametric "
        "standard). Rank arithmetic is EXACT: ranks live as doubled "
        "integers (2 x average rank = 2 x cum-before + t + 1), the "
        "tie-corrected variance uses the integer sum of t^3 - t, and "
        "floats appear only in the final z/effect-size divisions. The "
        "cum-before prefix rides the DISTINCT-value table (never the "
        "user rows) AND is a two-phase bucketed carry (bucketed_prefix "
        "over 4096-cent value buckets), so it stays distributed even "
        "when the distinct-value count grows with the data."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    in_a = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ab-v1:"), F.col("user_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )
    u = ev.groupBy("user_id").agg(
        F.first(in_a).alias("in_a"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("v"),
    )
    grp = u.groupBy("v").agg(
        F.count(F.lit(1)).alias("t"),
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("t_a"),
    )
    from healthcare_etl_spark.operators.scale import bucketed_prefix

    ranked = bucketed_prefix(
        grp,
        buckets=[F.expr("v div 4096")],
        order_by=[F.asc("v")],
        value=F.col("t"),
        agg="sum",
        exclusive=True,
        out_col="cb",
    )
    t, ta, cb = F.col("t"), F.col("t_a"), F.col("cb")
    m = ranked.agg(
        F.sum(t).alias("n"),
        F.sum(ta).alias("n_a"),
        F.sum(t - ta).alias("n_b"),
        F.sum(ta * (2 * cb + t + 1)).alias("rank2_a"),
        F.sum(t * t * t - t).alias("tie_sum"),
    )
    n, na, nb = F.col("n"), F.col("n_a"), F.col("n_b")
    u_a = (F.col("rank2_a") - na * (na + 1)) / 2.0
    mean_u = na * 1.0 * nb / 2.0
    var_u = (na * 1.0 * nb / 12.0) * (
        (n + 1.0) - F.col("tie_sum") / (n * 1.0 * (n - 1.0))
    )
    z = (u_a - mean_u) / F.sqrt(var_u)
    return m.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        u_a.alias("u_a"),
        mean_u.alias("mean_u"),
        stable_round(z, 6).alias("z_score"),
        stable_round(z / F.sqrt(n * 1.0), 6).alias("effect_r"),
    )


@register(
    "q_heaps_fit",
    oracle="""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
per_doc AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY 1
),
first_occ AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_new
    FROM (SELECT w, min(doc_id) AS doc_id FROM tok GROUP BY w)
    GROUP BY doc_id
),
curve AS (
    SELECT p.doc_id,
           CAST(sum(p.n_tokens) OVER (ORDER BY p.doc_id) AS BIGINT) AS cum_tokens,
           CAST(sum(coalesce(f.n_new, 0)) OVER (ORDER BY p.doc_id) AS BIGINT) AS cum_vocab
    FROM per_doc p LEFT JOIN first_occ f ON f.doc_id = p.doc_id
),
pts AS (
    SELECT ln(CAST(cum_tokens AS DOUBLE)) AS x, ln(CAST(cum_vocab AS DOUBLE)) AS y
    FROM curve
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
           sum(x * x) AS sxx, sum(y * y) AS syy
    FROM pts
)
SELECT k AS n_docs,
       (round(((k * sxy - sx * sy) / (k * sxx - sx * sx)) * 1000000.0) / 1000000.0)
           AS heaps_beta,
       (round(((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k) * 1000000.0)
        / 1000000.0) AS log_k,
       (round((((k * sxy - sx * sy) * (k * sxy - sx * sy)) /
               ((k * sxx - sx * sx) * (k * syy - sy * sy))) * 1000000.0) / 1000000.0)
           AS r2
FROM m
""",
    description=(
        "Heaps'-law fit (V = K * N^beta): log-log OLS of cumulative "
        "vocabulary size against cumulative token count along the "
        "doc_id-ordered corpus prefix — Zipf's sibling law, and the "
        "curve that predicts how much NEW vocabulary another 10x of "
        "data will buy (beta ~ 0.4-0.6 for natural text; beta near 0 "
        "means the corpus has saturated — more data, no new words). "
        "Each token's first-occurrence doc is one groupBy min; the "
        "prefix curve is two exact-BIGINT cumulative sums computed with "
        "the two-phase bucketed carry (within-bucket windows "
        "partitioned by the 4096-doc bucket + an exclusive prefix over "
        "the bucket-count-sized totals, broadcast back) — NEVER a "
        "keyless single-partition window over the docs table; the OLS "
        "fold is the shared closed form. (At 100 TB also sample "
        "log-spaced checkpoint docs — the fit needs ~100 curve points.)"
    ),
    tags=("text", "extension", "corpus"),
)
def q_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    per_doc = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    first_occ = (
        tok.groupBy("w")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    docrow = per_doc.join(first_occ, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
        F.expr("doc_id div 4096").alias("bkt"),
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = docrow.select(
        "doc_id",
        "bkt",
        F.sum("n_tokens").over(w_in).alias("in_tok"),
        F.sum("n_new").over(w_in).alias("in_new"),
    )
    bstats = docrow.groupBy("bkt").agg(
        F.sum("n_tokens").alias("btok"), F.sum("n_new").alias("bnew")
    )
    w_b = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    bprev = bstats.select(
        "bkt",
        F.coalesce(F.sum("btok").over(w_b), F.lit(0)).alias("ptok"),
        F.coalesce(F.sum("bnew").over(w_b), F.lit(0)).alias("pnew"),
    )
    curve = within.join(F.broadcast(bprev), "bkt").select(
        "doc_id",
        (F.col("in_tok") + F.col("ptok")).alias("cum_tokens"),
        (F.col("in_new") + F.col("pnew")).alias("cum_vocab"),
    )
    pts = curve.select(
        F.log(F.col("cum_tokens").cast("double")).alias("x"),
        F.log(F.col("cum_vocab").cast("double")).alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    k, sx, sy = F.col("k"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    return m.select(
        k.alias("n_docs"),
        stable_round(slope, 6).alias("heaps_beta"),
        stable_round((sy - slope * sx) / k, 6).alias("log_k"),
        stable_round(
            ((k * sxy - sx * sy) * (k * sxy - sx * sy))
            / ((k * sxx - sx * sx) * (k * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


@register(
    "q_theil_sen",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
idxd AS (
    SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx, rev FROM daily
),
slopes AS (
    SELECT (b.rev - a.rev) * 1.0 / (b.idx - a.idx) AS s
    FROM idxd a JOIN idxd b ON a.idx < b.idx
),
sel AS (
    SELECT s, row_number() OVER (ORDER BY s) AS rn, count(*) OVER () AS m FROM slopes
),
sen AS (SELECT s AS slope FROM sel WHERE rn = (m + 1) // 2),
resid AS (
    SELECT i.rev - sen.slope * i.idx AS r FROM idxd i CROSS JOIN sen
),
rsel AS (
    SELECT r, row_number() OVER (ORDER BY r) AS rn, count(*) OVER () AS n FROM resid
),
icpt AS (SELECT r AS intercept FROM rsel WHERE rn = (n + 1) // 2)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM idxd)   AS n_days,
       (SELECT CAST(count(*) AS BIGINT) FROM slopes) AS n_pairs,
       (round((sen.slope / 100.0) * 1000000.0) / 1000000.0)      AS sen_slope_per_day,
       (round((icpt.intercept / 100.0) * 1000000.0) / 1000000.0) AS sen_intercept
FROM sen CROSS JOIN icpt
""",
    description=(
        "Theil-Sen robust trend of daily purchase revenue: the median "
        "of all pairwise slopes plus the median-residual intercept — "
        "up to ~29% outlier days cannot move it, where q_grouped_ols' "
        "least-squares line chases every spike. Slopes are single "
        "divisions of exact integer cents (bit-identical across "
        "engines), and both medians are ORDER-STATISTIC selections "
        "(lower median by row position), so nothing is ever "
        "accumulated in floating point. The pair join and its rank "
        "window ride the days-sized series squared (~days^2/2 rows — "
        "still metadata at any corpus size: a year is 66k pairs)."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("rev"))
    )
    idxd = daily.select(
        F.row_number().over(Window.orderBy("day")).cast("long").alias("idx"), "rev"
    )
    a = idxd.select(F.col("idx").alias("ia"), F.col("rev").alias("ra"))
    b = idxd.select(F.col("idx").alias("ib"), F.col("rev").alias("rb"))
    # broadcast hint: the windowed days frame has no size estimate, so
    # without it the inequality self-join degrades to CartesianProduct
    slopes = a.join(F.broadcast(b), F.col("ia") < F.col("ib")).select(
        ((F.col("rb") - F.col("ra")) * 1.0 / (F.col("ib") - F.col("ia"))).alias("s")
    )
    wsel = Window.orderBy("s")
    sel = slopes.select(
        "s",
        F.row_number().over(wsel).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    sen = sel.filter(F.col("rn") == F.floor((F.col("m") + 1) / 2)).select(
        F.col("s").alias("slope")
    )
    resid = idxd.crossJoin(F.broadcast(sen)).select(
        (F.col("rev") - F.col("slope") * F.col("idx")).alias("r")
    )
    wr = Window.orderBy("r")
    rsel = resid.select(
        "r",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    icpt = rsel.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2)).select(
        F.col("r").alias("intercept")
    )
    n_days = idxd.agg(F.count(F.lit(1)).alias("n_days"))
    n_pairs = slopes.agg(F.count(F.lit(1)).alias("n_pairs"))
    return (
        sen.crossJoin(F.broadcast(icpt))
        .crossJoin(F.broadcast(n_days))
        .crossJoin(F.broadcast(n_pairs))
        .select(
            "n_days",
            "n_pairs",
            stable_round(F.col("slope") / 100.0, 6).alias("sen_slope_per_day"),
            stable_round(F.col("intercept") / 100.0, 6).alias("sen_intercept"),
        )
    )


def _isotonic_oracle() -> str:
    parts, final = irls_beta_ctes(_logistic_features_sql(), LOGISTIC)
    joined = ",\n".join(parts)
    return f"""WITH {joined},
scored AS (
    SELECT y, (1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1 + b.b2 * x2)))) AS p
    FROM feat CROSS JOIN {final} b
),
bins AS (
    SELECT least(CAST(floor(p * 10.0) AS BIGINT), 9) AS bin,
           CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS c
    FROM scored GROUP BY 1
),
iv AS (
    SELECT j.bin AS j, k.bin AS k,
           (sum(m.c) * 1.0 / sum(m.n)) AS mean_jk
    FROM bins j JOIN bins k ON j.bin <= k.bin
    JOIN bins m ON m.bin >= j.bin AND m.bin <= k.bin
    GROUP BY 1, 2
),
inner_ AS (
    SELECT iv.j, i.bin AS i, min(iv.mean_jk) AS mn
    FROM iv JOIN bins i ON iv.j <= i.bin AND iv.k >= i.bin
    GROUP BY 1, 2
),
iso AS (SELECT i AS bin, max(mn) AS iso_raw FROM inner_ GROUP BY i)
SELECT b.bin, b.n,
       {stable_round_sql('b.c * 1.0 / b.n')} AS conv_rate,
       {stable_round_sql('iso.iso_raw')}     AS iso_rate
FROM bins b JOIN iso ON iso.bin = b.bin
"""


@register(
    "q_isotonic_calibration",
    oracle=_isotonic_oracle(),
    description=(
        "Isotonic calibration of the IRLS model's probability bins "
        "— the FIX for what q_calibration_ece diagnoses: the "
        "monotone-nondecreasing rate curve closest (weighted least "
        "squares) to the raw per-bin conversion rates, computed by "
        "the closed-form minimax identity iso_i = max_(j<=i) "
        "min_(k>=i) mean(conv over bins j..k) — equivalent to "
        "pool-adjacent-violators but expressible as three joins "
        "over the <=10-row bin table, no iteration. Interval means "
        "are single divisions of exact BIGINT sums (identical "
        "rationals give identical doubles on both engines), so the "
        "min/max lattice is bit-deterministic. The data-sized work "
        "is the same fit + one binned scan as the ECE query."
    ),
    tags=("analytics", "extension", "stats", "ml"),
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    features = _logistic_features(spark, sf_dir)
    p = logistic_p(irls_fit(features, LOGISTIC))
    bins = (
        features.select(
            F.least(F.floor(p * 10.0).cast("long"), F.lit(9)).alias("bin"),
            F.col("y"),
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("c"))
    )
    j = bins.select(F.col("bin").alias("j"))
    k = bins.select(F.col("bin").alias("k"))
    mbl = bins.select(
        F.col("bin").alias("mb"), F.col("n").alias("mn_"), F.col("c").alias("mc")
    )
    iv = (
        j.join(k, F.col("j") <= F.col("k"))
        .join(mbl, (F.col("mb") >= F.col("j")) & (F.col("mb") <= F.col("k")))
        .groupBy("j", "k")
        .agg((F.sum("mc") * 1.0 / F.sum("mn_")).alias("mean_jk"))
    )
    i_tbl = bins.select(F.col("bin").alias("i"))
    inner = (
        iv.join(i_tbl, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("j", "i")
        .agg(F.min("mean_jk").alias("mn"))
    )
    iso = inner.groupBy(F.col("i").alias("bin")).agg(F.max("mn").alias("iso_raw"))
    return (
        bins.join(iso, "bin")
        .select(
            "bin",
            "n",
            stable_round(F.col("c") * 1.0 / F.col("n"), 6).alias("conv_rate"),
            stable_round(F.col("iso_raw"), 6).alias("iso_rate"),
        )
    )


_TRIGRAM_QUERY = "table scan"
_TRIGRAMS = [_TRIGRAM_QUERY[i : i + 3] for i in range(len(_TRIGRAM_QUERY) - 2)]


def _trigram_oracle() -> str:
    tg_list = ", ".join(f"'{g}'" for g in _TRIGRAMS)
    return f"""
WITH doc_grams AS (
    -- range cap 4096 >> max fixture doc length (577 chars); the Spark
    -- side uses the true length, so the cap only needs to dominate it
    SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 3) AS g
    FROM documents, (SELECT unnest(range(1, 4096)) AS i)
    WHERE i <= len(text) - 2
),
qgrams AS (SELECT unnest([{tg_list}]) AS g),
cand AS (
    SELECT doc_id FROM doc_grams JOIN qgrams USING (g)
    GROUP BY doc_id HAVING count(DISTINCT g) = {len(_TRIGRAMS)}
)
SELECT d.doc_id, d.source, d.n_chars
FROM cand JOIN documents d USING (doc_id)
WHERE contains(d.text, '{_TRIGRAM_QUERY}')
""".strip()


def _register_trigram_search() -> None:
    @register(
        "q_trigram_search",
        oracle=_trigram_oracle(),
        description=(
            "Substring search through a trigram inverted index "
            "(pg_trgm-style): the query phrase's character trigrams "
            "prune the corpus to docs containing ALL of them (an "
            "equi-join + counting HAVING against the distinct "
            "doc-trigram index), and only the surviving candidates pay "
            "the contains() verify — at 100 TB the index join replaces "
            "the full-scan LIKE '%...%' that no column pruning can "
            "save. The same block-then-verify contract as the MinHash "
            "and fuzzy-pair pipelines, applied to substring match; the "
            "trigram index is buildable once and reusable across "
            "queries."
        ),
        tags=("text", "extension", "search"),
    )
    def q_trigram_search(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = spread(load_table(spark, sf_dir, "documents"))
        doc_grams = (
            docs.select(
                "doc_id",
                F.explode(
                    F.sequence(F.lit(1), F.greatest(F.length("text") - 2, F.lit(1)))
                ).alias("i"),
                "text",
            )
            .filter(F.col("i") <= F.length("text") - 2)
            .select("doc_id", F.expr("substring(text, i, 3)").alias("g"))
            .distinct()
        )
        qgrams = local_frame(spark, [(g,) for g in _TRIGRAMS], "g string")
        cand = (
            doc_grams.join(F.broadcast(qgrams), "g")
            .groupBy("doc_id")
            .agg(F.count_distinct("g").alias("hits"))
            .filter(F.col("hits") == len(_TRIGRAMS))
            .select("doc_id")
        )
        return (
            cand.join(docs, "doc_id")
            .filter(F.expr(f"instr(text, '{_TRIGRAM_QUERY}') > 0"))
            .select("doc_id", "source", "n_chars")
        )


_register_trigram_search()


@register(
    "q_anova_f",
    oracle="""
WITH v AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events
),
g AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
           CAST(sum(c) AS BIGINT) AS s_g, CAST(sum(c * c) AS BIGINT) AS ss_g
    FROM v GROUP BY 1
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(n_g) AS BIGINT) AS n,
           CAST(sum(s_g) AS BIGINT) AS s,
           CAST(sum(ss_g) AS BIGINT) AS ss,
           sum(s_g * 1.0 * s_g / n_g) AS q
    FROM g
),
calc AS (
    SELECT k, n,
           (q - s * 1.0 * s / n)  AS ssb,
           (ss - q)               AS ssw,
           (ss - s * 1.0 * s / n) AS sst
    FROM m
)
SELECT k AS n_groups, n AS n_rows,
       (round(((ssb / (k - 1)) / (ssw / (n - k))) * 1000000.0) / 1000000.0) AS f_stat,
       (round((ssb / sst) * 1000000.0) / 1000000.0)                         AS eta_squared
FROM calc
""",
    description=(
        "One-way ANOVA of event value across the five event types: the "
        "F statistic and the eta-squared effect size — the k-group "
        "generalization of q_welch_ttest (is ANY type's mean value "
        "different, and how much of the variance does type explain?). "
        "Sums of squares come from ONE partial-aggregated integer-cent "
        "moment pass (n, sum, sum-of-squares per group, all BIGINT); "
        "the only floating step is the 5-row between-group fold and "
        "the final scale-invariant ratios, so the statistic is stable "
        "to 6dp at any data size."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    g = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("c").alias("s_g"),
        F.sum(F.col("c") * F.col("c")).alias("ss_g"),
    )
    m = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("ss_g").alias("ss"),
        F.sum(F.col("s_g") * 1.0 * F.col("s_g") / F.col("n_g")).alias("q"),
    )
    k, n, s, ss, q = F.col("k"), F.col("n"), F.col("s"), F.col("ss"), F.col("q")
    ssb = q - s * 1.0 * s / n
    ssw = ss - q
    sst = ss - s * 1.0 * s / n
    return m.select(
        k.alias("n_groups"),
        n.alias("n_rows"),
        stable_round((ssb / (k - 1)) / (ssw / (n - k)), 6).alias("f_stat"),
        stable_round(ssb / sst, 6).alias("eta_squared"),
    )


@register(
    "q_table_checksum",
    oracle="""
WITH h AS (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           ('0x' || substring(md5(
                CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR) || '|'
                || event_type || '|' || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
                || '|' || CAST(epoch_us(ts) AS VARCHAR)
            ), 1, 15))::BIGINT AS rh
    FROM events
)
SELECT day,
       CAST(count(*) AS BIGINT)            AS n_rows,
       CAST(bit_xor(rh) AS BIGINT)         AS xor_checksum,
       CAST(sum(rh % 1000000007) AS BIGINT) AS sum_checksum
FROM h GROUP BY day
""",
    description=(
        "Order-independent per-partition table checksums (the "
        "pt-table-checksum / replication-validation primitive): each "
        "row hashes its canonical business key + payload (doubles as "
        "exact integer cents, timestamps as epoch-us — never "
        "engine-formatted strings) into a 60-bit md5 prefix, and each "
        "day-partition folds them with BOTH xor (order- and "
        "partition-independent, but blind to paired duplicates) and a "
        "modular sum (catches what xor misses). Constant-size output "
        "per partition makes cross-replica comparison a metadata "
        "exchange, where q_table_diff's row-level anti-joins are the "
        "drill-down once a partition disagrees. One partial-aggregated "
        "pass, no shuffle wider than the day key."
    ),
    tags=("quality", "extension", "lakehouse"),
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    key = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.round(F.col("value") * 100).cast("long").cast("string"),
        F.unix_micros("ts").cast("string"),
    )
    h = ev.select(
        F.col("ts").cast("date").cast("string").alias("day"),
        F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long").alias("rh"),
    )
    return h.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(rh)").cast("long").alias("xor_checksum"),
        F.sum(F.col("rh") % 1000000007).alias("sum_checksum"),
    )


def _ppr_oracle() -> str:
    from healthcare_etl_spark.plans.queries_dedup import _jaccard_pairs_ctes

    tel = "CASE WHEN b.is_seed AND b.ns > 0 THEN 1.0 / b.ns ELSE 0.0 END"
    graph = f"""{_jaccard_pairs_ctes()},
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM jpairs
    WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
    UNION
    SELECT doc_b AS u, doc_a AS v FROM jpairs
    WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u),
marked AS (
    SELECT deg.u AS node, deg.d,
           (dd.source = 'src0') AS is_seed
    FROM deg JOIN documents dd ON dd.doc_id = deg.u
),
nsz AS (
    SELECT CAST(sum(CASE WHEN is_seed THEN 1 ELSE 0 END) AS BIGINT) AS ns FROM marked
),
base AS (SELECT m.node, m.d, m.is_seed, nsz.ns FROM marked m CROSS JOIN nsz)"""
    ranks = pagerank_oracle_sql(graph, tel, f"0.15 * ({tel})")
    return f"{ranks}\nSELECT node AS doc_id, rank AS ppr_rank FROM r{PAGERANK_ROUNDS}"


def _register_ppr() -> None:
    @register(
        "q_personalized_pagerank",
        oracle=_ppr_oracle(),
        description=(
            "Personalized PageRank over the near-dup graph, teleporting "
            "to the src0 seed documents (5 damped rounds, d=0.85): rank "
            "becomes graph proximity TO the seed set — the similar-item "
            "/ 'more like these' recommendation primitive, where "
            "q_pagerank's uniform teleport measures global centrality. "
            "Same iterative-join discipline (edges checkpointed once, "
            "one node-id shuffle per round, per-round 10dp stable "
            "rounding = bit-identical to the unrolled-CTE oracle); the "
            "seed indicator rides the loop-invariant base relation, so "
            "personalization costs nothing extra per round."
        ),
        tags=("dedup", "extension", "iterative", "graph"),
    )
    def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
        from healthcare_etl_spark.operators.dedup import jaccard_pairs
        from healthcare_etl_spark.operators.graph import personalized_pagerank

        docs = load_table(spark, sf_dir, "documents")
        pairs = jaccard_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
        seeds = docs.filter(F.col("source") == "src0").select(
            F.col("doc_id").alias("node")
        )
        return personalized_pagerank(pairs, seeds).select(
            F.col("node").alias("doc_id"), F.col("rank").alias("ppr_rank")
        )


_register_ppr()


def _roc_auc_oracle() -> str:
    parts, final = irls_beta_ctes(_logistic_features_sql(), LOGISTIC)
    joined = ",\n".join(parts)
    return f"""WITH {joined},
scored AS (
    SELECT y,
           (round((1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1 + b.b2 * x2)))) * 1000000.0)
            / 1000000.0) AS p
    FROM feat CROSS JOIN {final} b
),
grp AS (
    SELECT p, CAST(count(*) AS BIGINT) AS t,
           CAST(sum(y) AS BIGINT) AS t_pos
    FROM scored GROUP BY p
),
ranked AS (
    SELECT p, t, t_pos,
           CAST(coalesce(sum(t) OVER (ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
    FROM grp
),
m AS (
    SELECT CAST(sum(t_pos) AS BIGINT)                    AS n_pos,
           CAST(sum(t - t_pos) AS BIGINT)                AS n_neg,
           CAST(sum(t_pos * (2 * cb + t + 1)) AS BIGINT) AS rank2_pos
    FROM ranked
)
SELECT n_pos, n_neg,
       (round((((rank2_pos - n_pos * (n_pos + 1)) / 2.0) / (n_pos * 1.0 * n_neg))
              * 1000000.0) / 1000000.0) AS auc,
       (round((2.0 * (((rank2_pos - n_pos * (n_pos + 1)) / 2.0) / (n_pos * 1.0 * n_neg))
               - 1.0) * 1000000.0) / 1000000.0) AS gini_coefficient
FROM m
""".strip()


@register(
    "q_roc_auc",
    oracle=_roc_auc_oracle(),
    description=(
        "ROC-AUC of the IRLS model via the rank formulation (AUC = "
        "Mann-Whitney U of the positive class's scores, "
        "tie-corrected with average ranks) — the threshold-free "
        "discrimination metric next to q_calibration_ece's "
        "calibration view; plus the Gini coefficient 2*AUC-1. "
        "Scores are 6dp-rounded BEFORE ranking so the distinct-"
        "score table is bounded (<=10^6 keys at any corpus size), "
        "and even that bounded table never single-partition-sorts: "
        "the cumulative count rides the two-phase bucketed carry "
        "(operators/scale.bucketed_prefix over micro-prob div-4096 "
        "buckets, <=245-row summary prefix); ranks are the "
        "exact doubled-integer trick from q_mann_whitney, so AUC "
        "is one rounded division of BIGINTs."
    ),
    tags=("analytics", "extension", "stats", "ml"),
)
def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.scale import bucketed_prefix

    features = _logistic_features(spark, sf_dir)
    beta = irls_fit(features, LOGISTIC)
    # Integer micro-prob key: pm/1e6 is exactly the oracle's
    # 6dp-rounded p (injective), so grouping by pm == grouping
    # by p while the bucket key stays integral.
    pm = F.round(logistic_p(beta) * 1000000.0).cast("long")
    grp = features.select(pm.alias("pm"), "y").groupBy("pm").agg(
        F.count(F.lit(1)).alias("t"), F.sum("y").alias("t_pos")
    )
    ranked = bucketed_prefix(
        grp,
        buckets=[F.expr("pm div 4096")],
        order_by=[F.col("pm")],
        value=F.col("t"),
        agg="sum",
        exclusive=True,
        out_col="cb",
    ).select("t", "t_pos", F.col("cb").cast("long").alias("cb"))
    t, tp, cb = F.col("t"), F.col("t_pos"), F.col("cb")
    m = ranked.agg(
        F.sum(tp).alias("n_pos"),
        F.sum(t - tp).alias("n_neg"),
        F.sum(tp * (2 * cb + t + 1)).alias("rank2_pos"),
    )
    npos, nneg = F.col("n_pos"), F.col("n_neg")
    auc = ((F.col("rank2_pos") - npos * (npos + 1)) / 2.0) / (npos * 1.0 * nneg)
    return m.select(
        npos.alias("n_pos"),
        nneg.alias("n_neg"),
        stable_round(auc, 6).alias("auc"),
        stable_round(2.0 * auc - 1.0, 6).alias("gini_coefficient"),
    )



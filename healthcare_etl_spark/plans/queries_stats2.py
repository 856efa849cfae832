"""Second statistics extension module: experimentation ratio metrics
(delta method), information-theoretic dependence (mutual information,
Hellinger/Bhattacharyya), post-hoc multiple comparison (Tukey HSD),
classical time-series identification (ACF, Yule-Walker AR(2)),
sequential drift (Page-Hinkley), and rank-based k-group tests
(Kruskal-Wallis, Friedman).

Extension surface beyond the reference (`etl_app/etl_script.py:74-119`
has only filter/rename/aggregate); every query keeps the repo's
contracts: integer-cent exactness where sums cross engines, the
stable_round multiply-round-divide idiom on every emitted double, no
data-scale partitionless windows (prefix sums ride distinct-value
tables through ``bucketed_prefix`` or bounded day-series frames), and
a DuckDB oracle with identical arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import stable_round, stable_round_py, stable_round_sql
from healthcare_etl_spark.operators.logistic import (
    LOGISTIC,
    POISSON,
    cramer3_sql,
    irls_beta_ctes,
    irls_fit,
    logistic_p,
)
from healthcare_etl_spark.plans.registry import register
from healthcare_etl_spark.sources import load_table, local_frame


def _arm_a(col: str = "user_id"):
    """The repo's deterministic arm assignment (same salt as CUPED /
    Mann-Whitney / z-test so arm populations agree across queries)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab-v1:"), F.col(col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )


_ARM_A_SQL = (
    "(('0x' || substring(md5('ab-v1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT"
    " % 2 = 0)"
)


@register(
    "q_ratio_metric_delta_ci",
    oracle=f"""
WITH u AS (
    SELECT user_id,
           {_ARM_A_SQL} AS in_a,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS y,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY user_id
),
g AS (
    SELECT CASE WHEN in_a THEN 'A' ELSE 'B' END AS arm,
           CAST(count(*) AS BIGINT)      AS k,
           CAST(sum(y) AS BIGINT)        AS sy,
           CAST(sum(n) AS BIGINT)        AS sn,
           CAST(sum(y * y) AS BIGINT)    AS syy,
           CAST(sum(n * n) AS BIGINT)    AS snn,
           CAST(sum(y * n) AS BIGINT)    AS syn
    FROM u GROUP BY 1
),
c AS (
    SELECT arm, k, sy, sn,
           (sy * 1.0 / sn) AS r,
           ((syy - sy * 1.0 * sy / k) / (k - 1)) AS vyy,
           ((snn - sn * 1.0 * sn / k) / (k - 1)) AS vnn,
           ((syn - sy * 1.0 * sn / k) / (k - 1)) AS vyn
    FROM g
),
s AS (
    SELECT arm, k, sy, sn, r,
           sqrt((vyy - 2.0 * r * vyn + r * r * vnn)
                / (k * ((sn * 1.0 / k) * (sn * 1.0 / k)))) AS se
    FROM c
)
SELECT arm, k AS n_users, sy AS sum_y_cents, sn AS sum_n,
       (round(r * 1000000.0) / 1000000.0)                 AS ratio_cents,
       (round(se * 1000000.0) / 1000000.0)                AS se_cents,
       (round((r - 1.96 * se) * 1000000.0) / 1000000.0)   AS ci_lo,
       (round((r + 1.96 * se) * 1000000.0) / 1000000.0)   AS ci_hi
FROM s
""",
    description=(
        "Delta-method CI for a RATIO metric (purchase cents per event, "
        "per arm) — the experimentation-platform workhorse that "
        "q_ab_test_ztest's per-user means can't cover: when the unit "
        "of analysis (user) differs from the unit of the metric "
        "(event), naive binomial/mean variance is wrong and the "
        "delta-method var(Y/N) = (s_yy - 2R*s_yn + R^2*s_nn) / (k*mu_n^2) "
        "from per-user moment pairs is the standard fix. One "
        "partial-aggregated pass collects BIGINT (co)moments per arm; "
        "only the 2-row fold divides. At 100 TB the shuffle is the "
        "user-key aggregate that every per-user metric already pays."
    ),
    tags=("analytics", "extension", "stats", "experimentation"),
)
def q_ratio_metric_delta_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.first(_arm_a()).alias("in_a"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("y"),
        F.count(F.lit(1)).alias("n"),
    )
    g = u.groupBy(
        F.when(F.col("in_a"), "A").otherwise("B").alias("arm")
    ).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("y").alias("sy"),
        F.sum("n").alias("sn"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("n") * F.col("n")).alias("snn"),
        F.sum(F.col("y") * F.col("n")).alias("syn"),
    )
    k, sy, sn = F.col("k"), F.col("sy"), F.col("sn")
    r = sy * 1.0 / sn
    vyy = (F.col("syy") - sy * 1.0 * sy / k) / (k - 1)
    vnn = (F.col("snn") - sn * 1.0 * sn / k) / (k - 1)
    vyn = (F.col("syn") - sy * 1.0 * sn / k) / (k - 1)
    c = g.select(
        "arm", "k", "sy", "sn",
        r.alias("r"),
        F.sqrt(
            (vyy - F.lit(2.0) * r * vyn + r * r * vnn)
            / (k * ((sn * 1.0 / k) * (sn * 1.0 / k)))
        ).alias("se"),
    )
    rr, se = F.col("r"), F.col("se")
    return c.select(
        "arm",
        k.alias("n_users"),
        sy.alias("sum_y_cents"),
        sn.alias("sum_n"),
        stable_round(rr, 6).alias("ratio_cents"),
        stable_round(se, 6).alias("se_cents"),
        stable_round(rr - F.lit(1.96) * se, 6).alias("ci_lo"),
        stable_round(rr + F.lit(1.96) * se, 6).alias("ci_hi"),
    )


@register(
    "q_mutual_info",
    oracle="""
WITH base AS (
    SELECT event_type AS x,
           CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS BIGINT) AS y
    FROM events
),
joint AS (
    SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2
),
mx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM joint GROUP BY 1),
my AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM joint GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM joint),
terms AS (
    SELECT j.c, m1.cx, m2.cy, t.n
    FROM joint j
    JOIN mx m1 ON m1.x = j.x
    JOIN my m2 ON m2.y = j.y
    CROSS JOIN tot t
),
agg AS (
    SELECT max(n) AS n,
           sum((c * 1.0 / n) * ln((c * 1.0 * n) / (cx * 1.0 * cy))) AS mi
    FROM terms
),
hx AS (
    SELECT sum(-(cx * 1.0 / t.n) * ln(cx * 1.0 / t.n)) AS h
    FROM mx CROSS JOIN tot t
),
hy AS (
    SELECT sum(-(cy * 1.0 / t.n) * ln(cy * 1.0 / t.n)) AS h
    FROM my CROSS JOIN tot t
)
SELECT agg.n AS n_rows,
       (round(agg.mi * 1000000.0) / 1000000.0) AS mi_nats,
       (round((agg.mi / sqrt(hx.h * hy.h)) * 1000000.0) / 1000000.0) AS nmi
FROM agg CROSS JOIN hx CROSS JOIN hy
""",
    description=(
        "Mutual information between event type and day-of-week (epoch "
        "day mod 7 — engine-neutral, no locale-dependent dayofweek): "
        "the model-free dependence screen that chi-square's 'is it "
        "independent?' can't rank — MI in nats plus the sqrt-normalized "
        "NMI in [0,1] for cross-pair comparability. The joint table "
        "after one partial-aggregated pass is |types| x 7 cells "
        "(metadata scale at any data size); marginals and entropies "
        "ride that. The feature-relevance primitive for categorical "
        "feature selection in training pipelines."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_type").alias("x"),
        (
            F.datediff(F.col("ts").cast("date"), F.to_date(F.lit("1970-01-01")))
            % 7
        ).cast("long").alias("y"),
    )
    joint = base.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c"))
    mx = joint.groupBy("x").agg(F.sum("c").alias("cx"))
    my = joint.groupBy("y").agg(F.sum("c").alias("cy"))
    tot = joint.agg(F.sum("c").alias("n"))
    terms = (
        joint.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
    )
    c, cx, cy, n = F.col("c"), F.col("cx"), F.col("cy"), F.col("n")
    agg = terms.agg(
        F.max(n).alias("n"),
        F.sum((c * 1.0 / n) * F.log((c * 1.0 * n) / (cx * 1.0 * cy))).alias("mi"),
    )
    hx = (
        mx.crossJoin(F.broadcast(tot))
        .agg(F.sum(-(cx * 1.0 / n) * F.log(cx * 1.0 / n)).alias("h"))
        .withColumnRenamed("h", "hx")
    )
    hy = (
        my.crossJoin(F.broadcast(tot))
        .agg(F.sum(-(cy * 1.0 / n) * F.log(cy * 1.0 / n)).alias("h"))
        .withColumnRenamed("h", "hy")
    )
    out = agg.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))
    return out.select(
        F.col("n").alias("n_rows"),
        stable_round(F.col("mi"), 6).alias("mi_nats"),
        stable_round(F.col("mi") / F.sqrt(F.col("hx") * F.col("hy")), 6).alias("nmi"),
    )


@register(
    "q_hellinger_bhattacharyya",
    oracle=f"""
WITH base AS (
    SELECT event_type,
           CASE WHEN {_ARM_A_SQL} THEN 'A' ELSE 'B' END AS arm
    FROM events
),
cnt AS (
    SELECT event_type, arm, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2
),
tot AS (
    SELECT arm, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY 1
),
p AS (
    SELECT c.event_type,
           sum(CASE WHEN c.arm = 'A' THEN c.c * 1.0 / t.t ELSE 0 END) AS pa,
           sum(CASE WHEN c.arm = 'B' THEN c.c * 1.0 / t.t ELSE 0 END) AS pb
    FROM cnt c JOIN tot t ON t.arm = c.arm
    GROUP BY 1
),
s AS (
    SELECT sum(sqrt(pa * pb))      AS bc,
           sum(abs(pa - pb)) / 2.0 AS tv
    FROM p
)
SELECT (round(bc * 1000000.0) / 1000000.0)            AS bhattacharyya_coef,
       (round(sqrt(1.0 - bc) * 1000000.0) / 1000000.0) AS hellinger,
       (round(tv * 1000000.0) / 1000000.0)             AS tv_distance
FROM s
""",
    description=(
        "Bhattacharyya coefficient, Hellinger distance, and total "
        "variation between the two arms' event-type distributions — "
        "the bounded-metric siblings of KL/JS drift (KL explodes on "
        "near-zero cells; Hellinger and TV stay in [0,1] and TV is "
        "the exact probability any single-event test can differ). "
        "Counts shuffle once on (type, arm); the distance folds a "
        "|types|-row frame. Together with q_ks_drift (continuous) and "
        "q_psi_drift (binned) this completes the drift-metric family."
    ),
    tags=("analytics", "extension", "stats", "drift"),
)
def q_hellinger_bhattacharyya(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type", F.when(_arm_a(), "A").otherwise("B").alias("arm")
    )
    cnt = base.groupBy("event_type", "arm").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("arm").agg(F.sum("c").alias("t"))
    p = (
        cnt.join(F.broadcast(tot), "arm")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("arm") == "A", F.col("c") * 1.0 / F.col("t")).otherwise(
                    0.0
                )
            ).alias("pa"),
            F.sum(
                F.when(F.col("arm") == "B", F.col("c") * 1.0 / F.col("t")).otherwise(
                    0.0
                )
            ).alias("pb"),
        )
    )
    s = p.agg(
        F.sum(F.sqrt(F.col("pa") * F.col("pb"))).alias("bc"),
        (F.sum(F.abs(F.col("pa") - F.col("pb"))) / 2.0).alias("tv"),
    )
    return s.select(
        stable_round(F.col("bc"), 6).alias("bhattacharyya_coef"),
        stable_round(F.sqrt(F.lit(1.0) - F.col("bc")), 6).alias("hellinger"),
        stable_round(F.col("tv"), 6).alias("tv_distance"),
    )


@register(
    "q_tukey_hsd",
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
    SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
           sum(ss_g - s_g * 1.0 * s_g / n_g) AS ssw
    FROM g
),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.s_g * 1.0 / a.n_g - b.s_g * 1.0 / b.n_g AS diff_cents,
           a.n_g AS na, b.n_g AS nb, m.ssw / (m.n - m.k) AS mse
    FROM g a JOIN g b ON a.event_type < b.event_type
    CROSS JOIN m
)
SELECT type_a, type_b,
       (round((diff_cents / 100.0) * 1000000.0) / 1000000.0) AS mean_diff,
       (round((abs(diff_cents) /
               sqrt((mse / 2.0) * (1.0 / na + 1.0 / nb))) * 1000000.0) / 1000000.0)
           AS q_stat
FROM pairs
""",
    description=(
        "Tukey HSD post-hoc pass after q_anova_f: the studentized-range "
        "q statistic for every pair of event types (Tukey-Kramer "
        "unequal-n form), answering WHICH means differ once ANOVA says "
        "some do — reporting all 10 pairwise z-like tests separately "
        "would inflate the family-wise error the HSD correction "
        "controls. Same single BIGINT moment pass as ANOVA; the pair "
        "expansion is a |types|^2 self-join of the 5-row group frame "
        "(metadata scale), so the cost at 100 TB is the one aggregate."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        F.sum(F.col("ss_g") - F.col("s_g") * 1.0 * F.col("s_g") / F.col("n_g")).alias(
            "ssw"
        ),
    )
    a, b = g.alias("a"), g.alias("b")
    pairs = (
        a.join(b, F.col("a.event_type") < F.col("b.event_type"))
        .crossJoin(F.broadcast(m))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            (
                F.col("a.s_g") * 1.0 / F.col("a.n_g")
                - F.col("b.s_g") * 1.0 / F.col("b.n_g")
            ).alias("diff_cents"),
            F.col("a.n_g").alias("na"),
            F.col("b.n_g").alias("nb"),
            (F.col("ssw") / (F.col("n") - F.col("k"))).alias("mse"),
        )
    )
    return pairs.select(
        "type_a",
        "type_b",
        stable_round(F.col("diff_cents") / 100.0, 6).alias("mean_diff"),
        stable_round(
            F.abs(F.col("diff_cents"))
            / F.sqrt(
                (F.col("mse") / 2.0)
                * (1.0 / F.col("na") + 1.0 / F.col("nb"))
            ),
            6,
        ).alias("q_stat"),
    )


@register(
    "q_yule_walker_ar2",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s FROM daily
),
dev AS (
    SELECT day, CAST(t.n * d.x - t.s AS BIGINT) AS d, t.n
    FROM daily d CROSS JOIN tot t
),
lagged AS (
    SELECT d, n,
           lag(d, 1) OVER (ORDER BY day) AS d1,
           lag(d, 2) OVER (ORDER BY day) AS d2
    FROM dev
),
m AS (
    SELECT max(n) AS n,
           sum(d * 1.0 * d)                                   AS sd2,
           sum(CASE WHEN d1 IS NOT NULL THEN d * 1.0 * d1 END) AS s1,
           sum(CASE WHEN d2 IS NOT NULL THEN d * 1.0 * d2 END) AS s2
    FROM lagged
),
r AS (
    SELECT n, (s1 / sd2) AS r1, (s2 / sd2) AS r2 FROM m
),
fit AS (
    SELECT n, r1, r2,
           (r1 * (1.0 - r2) / (1.0 - r1 * r1)) AS phi1,
           ((r2 - r1 * r1) / (1.0 - r1 * r1))  AS phi2
    FROM r
)
SELECT n AS n_days,
       (round(r1 * 1000000.0) / 1000000.0)   AS acf1,
       (round(r2 * 1000000.0) / 1000000.0)   AS acf2,
       (round(phi1 * 1000000.0) / 1000000.0) AS phi1,
       (round(phi2 * 1000000.0) / 1000000.0) AS phi2,
       (round((1.0 - phi1 * r1 - phi2 * r2) * 1000000.0) / 1000000.0)
           AS resid_var_ratio
FROM fit
""",
    description=(
        "Yule-Walker AR(2) identification of the daily purchase-revenue "
        "series: stationary ACF at lags 1-2 (global-mean deviations "
        "kept BIGINT-exact by clearing the mean denominator, n*x - S, "
        "the q_cusum_changepoint trick), then the closed-form AR(2) "
        "solve phi1 = r1(1-r2)/(1-r1^2), phi2 = (r2-r1^2)/(1-r1^2) "
        "and the innovation-variance ratio 1 - phi1*r1 - phi2*r2 (how "
        "much one/two-day memory explains). Complements q_autocorr "
        "(per-lag Pearson over pair subsets) with the model-fitting "
        "estimator forecasting actually uses. Day-series lag windows "
        "only; the data-sized work is one aggregate."
    ),
    tags=("analytics", "extension", "timeseries"),
)
def q_yule_walker_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("x").alias("s")
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "day", (F.col("n") * F.col("x") - F.col("s")).alias("d"), "n"
    )
    # Days-sized series: the keyless lag windows ride one row per day.
    w = Window.orderBy("day")
    lagged = dev.select(
        "d", "n",
        F.lag("d", 1).over(w).alias("d1"),
        F.lag("d", 2).over(w).alias("d2"),
    )
    d, d1, d2 = F.col("d"), F.col("d1"), F.col("d2")
    m = lagged.agg(
        F.max("n").alias("n"),
        F.sum(d * 1.0 * d).alias("sd2"),
        F.sum(F.when(d1.isNotNull(), d * 1.0 * d1)).alias("s1"),
        F.sum(F.when(d2.isNotNull(), d * 1.0 * d2)).alias("s2"),
    )
    r = m.select(
        "n", (F.col("s1") / F.col("sd2")).alias("r1"),
        (F.col("s2") / F.col("sd2")).alias("r2"),
    )
    r1, r2 = F.col("r1"), F.col("r2")
    fit = r.select(
        "n", "r1", "r2",
        (r1 * (F.lit(1.0) - r2) / (F.lit(1.0) - r1 * r1)).alias("phi1"),
        ((r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)).alias("phi2"),
    )
    return fit.select(
        F.col("n").alias("n_days"),
        stable_round(r1, 6).alias("acf1"),
        stable_round(r2, 6).alias("acf2"),
        stable_round(F.col("phi1"), 6).alias("phi1"),
        stable_round(F.col("phi2"), 6).alias("phi2"),
        stable_round(
            F.lit(1.0) - F.col("phi1") * r1 - F.col("phi2") * r2, 6
        ).alias("resid_var_ratio"),
    )


@register(
    "q_page_hinkley",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
curve AS (
    SELECT day, x,
           CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx,
           CAST(sum(x) OVER (ORDER BY day) AS BIGINT)       AS cum
    FROM daily
),
dev AS (
    SELECT day, idx,
           CAST(x * 1000 - ((2 * cum * 1000 + idx) // (2 * idx)) AS BIGINT) AS dv
    FROM curve
),
walk AS (
    SELECT day, idx,
           CAST(sum(dv) OVER (ORDER BY day) AS BIGINT) AS m
    FROM dev
),
ph AS (
    SELECT day, m,
           CAST(m - min(m) OVER (ORDER BY day) AS BIGINT) AS ph_pos,
           CAST(max(m) OVER (ORDER BY day) - m AS BIGINT) AS ph_neg
    FROM walk
),
best AS (
    SELECT * FROM ph ORDER BY ph_pos DESC, day ASC LIMIT 1
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_days, max(ph_neg) AS max_neg FROM ph
)
SELECT agg.n_days,
       (round((best.ph_pos / 1000.0) * 1000000.0) / 1000000.0) AS ph_pos_cents,
       (round((agg.max_neg / 1000.0) * 1000000.0) / 1000000.0) AS ph_neg_cents,
       CAST(best.day AS VARCHAR)                               AS alarm_day,
       (best.ph_pos > 50000 * 1000)                            AS alarmed
FROM best CROSS JOIN agg
""",
    description=(
        "Page-Hinkley sequential drift detector over daily purchase "
        "revenue — the running-mean counterpart of q_cusum_changepoint "
        "(CUSUM localizes one offline shift against the GLOBAL mean; "
        "Page-Hinkley tracks deviation from the RUNNING mean, the form "
        "used online). Kept integer-exact with no float recursion: the "
        "running mean cum/idx is rounded half-up into milli-cent BIGINTs "
        "via pure integer division (2*cum*1000 + idx) div (2*idx), so "
        "the deviation walk, its prefix min/max, and the PH+ / PH- "
        "excursions are exact integers on both engines — float appears "
        "only in the final display division. All windows ride the "
        "days-sized series after one data-scale aggregate."
    ),
    tags=("analytics", "extension", "drift", "timeseries"),
)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    )
    # Days-sized series: every keyless window here rides one row/day.
    wo = Window.orderBy("day")
    curve = daily.select(
        "day", "x",
        F.row_number().over(wo).cast("long").alias("idx"),
        F.sum("x").over(wo).alias("cum"),
    )
    dev = curve.select(
        "day", "idx",
        F.expr("CAST(x * 1000 - ((2 * cum * 1000 + idx) div (2 * idx)) AS BIGINT)").alias("dv"),
    )
    walk = dev.select("day", F.sum("dv").over(wo).alias("m"))
    ph = walk.select(
        "day", "m",
        (F.col("m") - F.min("m").over(wo)).alias("ph_pos"),
        (F.max("m").over(wo) - F.col("m")).alias("ph_neg"),
    )
    best = ph.orderBy(F.col("ph_pos").desc(), F.col("day").asc()).limit(1)
    agg = ph.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.max("ph_neg").alias("max_neg"),
    )
    out = best.crossJoin(F.broadcast(agg))
    return out.select(
        "n_days",
        stable_round(F.col("ph_pos") / 1000.0, 6).alias("ph_pos_cents"),
        stable_round(F.col("max_neg") / 1000.0, 6).alias("ph_neg_cents"),
        F.col("day").cast("string").alias("alarm_day"),
        (F.col("ph_pos") > 50000 * 1000).alias("alarmed"),
    )


@register(
    "q_friedman_test",
    oracle="""
WITH daily AS (
    SELECT CAST((CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS BIGINT) AS wk,
           CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS BIGINT)  AS dow,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)     AS x
    FROM events GROUP BY 1, 2
),
full_wk AS (
    SELECT wk FROM daily GROUP BY wk HAVING count(*) = 7
),
blocks AS (
    SELECT d.wk, d.dow, d.x FROM daily d JOIN full_wk f ON f.wk = d.wk
),
ranked AS (
    SELECT wk, dow,
           CAST(2 * coalesce(count(*) OVER (
                    PARTITION BY wk ORDER BY x
                    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + count(*) OVER (PARTITION BY wk, x) + 1 AS BIGINT) AS r2
    FROM blocks
),
per_dow AS (
    SELECT dow, CAST(sum(r2) AS BIGINT) AS r2_j FROM ranked GROUP BY dow
),
m AS (
    SELECT CAST((SELECT count(*) FROM full_wk) AS BIGINT)  AS b,
           CAST(sum((r2_j - 8 * (SELECT count(*) FROM full_wk))
                    * (r2_j - 8 * (SELECT count(*) FROM full_wk))) AS BIGINT) AS num
    FROM per_dow
),
den AS (
    SELECT CAST(sum(r2 * r2) AS BIGINT) AS sr2 FROM ranked
)
SELECT m.b AS n_weeks,
       (round((6.0 * m.num / (den.sr2 - 448 * m.b)) * 1000000.0) / 1000000.0)
           AS friedman_chi2,
       (round((6.0 * m.num / (den.sr2 - 448 * m.b) / (m.b * 6.0)) * 1000000.0)
        / 1000000.0) AS kendalls_w
FROM m CROSS JOIN den
""",
    description=(
        "Friedman test of weekday effect on daily revenue with weeks as "
        "blocks — the repeated-measures sibling of q_kruskal_wallis "
        "(KW assumes independent groups; Friedman ranks WITHIN each "
        "week, removing week-level traffic drift before asking if "
        "weekdays differ) — plus Kendall's W concordance. Ranks are "
        "doubled-integer average ranks from bounded 7-row block windows "
        "(2*strictly-below + ties + 1 via a RANGE frame), and the "
        "tie-general statistic 6*sum_j(R2_j - 8b)^2 / (sum r2^2 - 448b) "
        "is division-cleared so BOTH engines fold exact BIGINTs; floats "
        "appear only in the final two ratios. Complete weeks only."
    ),
    tags=("analytics", "extension", "stats", "timeseries"),
)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    epoch_day = F.datediff(F.col("ts").cast("date"), F.to_date(F.lit("1970-01-01")))
    daily = ev.groupBy(
        (epoch_day / 7).cast("long").alias("wk"),
        (epoch_day % 7).cast("long").alias("dow"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    full_wk = daily.groupBy("wk").agg(F.count(F.lit(1)).alias("nd")).filter(
        F.col("nd") == 7
    ).select("wk")
    blocks = daily.join(full_wk, "wk")
    # 7-row block windows (bounded): doubled average rank within week.
    w_lt = (
        Window.partitionBy("wk")
        .orderBy("x")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy("wk", "x")
    ranked = blocks.select(
        "wk", "dow",
        (
            2 * F.coalesce(F.count(F.lit(1)).over(w_lt), F.lit(0))
            + F.count(F.lit(1)).over(w_eq)
            + 1
        ).cast("long").alias("r2"),
    )
    per_dow = ranked.groupBy("dow").agg(F.sum("r2").alias("r2_j"))
    b_cnt = full_wk.agg(F.count(F.lit(1)).cast("long").alias("b"))
    m = per_dow.crossJoin(F.broadcast(b_cnt)).agg(
        F.max("b").alias("b"),
        F.sum(
            (F.col("r2_j") - 8 * F.col("b")) * (F.col("r2_j") - 8 * F.col("b"))
        ).alias("num"),
    )
    den = ranked.agg(F.sum(F.col("r2") * F.col("r2")).alias("sr2"))
    out = m.crossJoin(F.broadcast(den))
    stat = F.lit(6.0) * F.col("num") / (F.col("sr2") - 448 * F.col("b"))
    return out.select(
        F.col("b").alias("n_weeks"),
        stable_round(stat, 6).alias("friedman_chi2"),
        stable_round(stat / (F.col("b") * F.lit(6.0)), 6).alias("kendalls_w"),
    )


@register(
    "q_kruskal_wallis",
    oracle="""
WITH v AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events
),
grp_c AS (
    SELECT c, CAST(count(*) AS BIGINT) AS t FROM v GROUP BY c
),
ranked AS (
    SELECT c, t,
           CAST(coalesce(sum(t) OVER (ORDER BY c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
    FROM grp_c
),
grp_ct AS (
    SELECT c, event_type, CAST(count(*) AS BIGINT) AS t_g FROM v GROUP BY c, event_type
),
joined AS (
    SELECT g.event_type, g.t_g, r.t, r.cb
    FROM grp_ct g JOIN ranked r ON r.c = g.c
),
per_g AS (
    SELECT event_type,
           CAST(sum(t_g) AS BIGINT)                     AS n_g,
           CAST(sum(t_g * (2 * cb + t + 1)) AS BIGINT)  AS r2_g
    FROM joined GROUP BY event_type
),
ties AS (
    SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum FROM grp_c
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(n_g) AS BIGINT) AS n,
           sum((r2_g * 1.0 * r2_g) / (4.0 * n_g)) AS q
    FROM per_g
),
calc AS (
    SELECT m.k, m.n,
           ((12.0 / (m.n * (m.n + 1.0))) * m.q - 3.0 * (m.n + 1.0)) AS h,
           (1.0 - ties.tie_sum / (m.n * 1.0 * m.n * m.n - m.n))     AS c_tie
    FROM m CROSS JOIN ties
)
SELECT k AS n_groups, n AS n_rows,
       (round(h * 1000000.0) / 1000000.0)           AS h_stat,
       (round((h / c_tie) * 1000000.0) / 1000000.0) AS h_adj
FROM calc
""",
    description=(
        "Kruskal-Wallis rank test of event value across the five event "
        "types — the k-group generalization of q_mann_whitney and the "
        "nonparametric twin of q_anova_f (ANOVA compares means and "
        "leans on normality; KW compares rank distributions). Rank "
        "arithmetic is exact via the doubled-rank identity on the "
        "DISTINCT-cents table (2R_g = sum of t_g*(2*cum_before + t + "
        "1)), the prefix rides a two-phase bucketed carry "
        "(bucketed_prefix over 4096-cent buckets, never a global "
        "sort), and the tie correction uses the integer sum of t^3-t. "
        "H and its tie-adjusted form are the only float folds."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.scale import bucketed_prefix

    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    grp_c = v.groupBy("c").agg(F.count(F.lit(1)).alias("t"))
    ranked = bucketed_prefix(
        grp_c,
        buckets=[F.expr("c div 4096")],
        order_by=[F.asc("c")],
        value=F.col("t"),
        agg="sum",
        exclusive=True,
        out_col="cb",
    )
    grp_ct = v.groupBy("c", "event_type").agg(F.count(F.lit(1)).alias("t_g"))
    joined = grp_ct.join(ranked, "c")
    t, tg, cb = F.col("t"), F.col("t_g"), F.col("cb")
    per_g = joined.groupBy("event_type").agg(
        F.sum(tg).alias("n_g"),
        F.sum(tg * (2 * cb + t + 1)).alias("r2_g"),
    )
    ties = grp_c.agg(F.sum(t * t * t - t).alias("tie_sum"))
    m = per_g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum((F.col("r2_g") * 1.0 * F.col("r2_g")) / (4.0 * F.col("n_g"))).alias(
            "q"
        ),
    )
    out = m.crossJoin(F.broadcast(ties))
    n = F.col("n")
    h = (F.lit(12.0) / (n * (n + 1.0))) * F.col("q") - F.lit(3.0) * (n + 1.0)
    c_tie = F.lit(1.0) - F.col("tie_sum") / (n * 1.0 * n * n - n)
    return out.select(
        F.col("k").alias("n_groups"),
        n.alias("n_rows"),
        stable_round(h, 6).alias("h_stat"),
        stable_round(h / c_tie, 6).alias("h_adj"),
    )


@register(
    "q_conformal_interval",
    oracle="""
WITH base AS (
    SELECT event_type, user_id,
           CAST(round(value * 100) AS BIGINT) AS c
    FROM events
),
stats AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_t,
           CAST(sum(c) AS BIGINT)   AS s_t
    FROM base WHERE user_id % 2 = 0 GROUP BY 1
),
model AS (
    SELECT event_type, n_t,
           CAST((2 * s_t * 1000 + n_t) // (2 * n_t) AS BIGINT) AS mean_milli
    FROM stats
),
calib_res AS (
    SELECT b.event_type, abs(b.c * 1000 - m.mean_milli) AS rs
    FROM base b JOIN model m ON m.event_type = b.event_type
    WHERE b.user_id % 2 = 0
),
grp AS (
    SELECT event_type, rs, CAST(count(*) AS BIGINT) AS t
    FROM calib_res GROUP BY 1, 2
),
cum AS (
    SELECT event_type, rs,
           CAST(sum(t) OVER (PARTITION BY event_type ORDER BY rs
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc
    FROM grp
),
qhat AS (
    SELECT c.event_type, CAST(min(c.rs) AS BIGINT) AS q_milli
    FROM cum c JOIN model m ON m.event_type = c.event_type
    WHERE c.cc >= (9 * (m.n_t + 1) + 9) // 10
    GROUP BY 1
),
test AS (
    SELECT b.event_type,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN abs(b.c * 1000 - m.mean_milli) <= q.q_milli
                         THEN 1 ELSE 0 END) AS BIGINT) AS covered
    FROM base b
    JOIN model m ON m.event_type = b.event_type
    JOIN qhat q  ON q.event_type = b.event_type
    WHERE b.user_id % 2 = 1
    GROUP BY 1
)
SELECT t.event_type, m.n_t AS n_calib, t.n_test,
       (round((q.q_milli / 1000.0) * 1000000.0) / 1000000.0) AS qhat_cents,
       (round((t.covered * 1.0 / t.n_test) * 1000000.0) / 1000000.0) AS coverage
FROM test t
JOIN model m ON m.event_type = t.event_type
JOIN qhat q  ON q.event_type = t.event_type
""",
    description=(
        "Mondrian split-conformal prediction intervals, 90% target: "
        "even-user events calibrate a per-type interval around the "
        "calibration mean (the ceil(0.9*(n+1))-th smallest absolute "
        "residual — the finite-sample-valid quantile, not the naive "
        "90th percentile), odd-user events measure empirical coverage. "
        "Everything is integer-exact: the model mean is rounded "
        "half-up into milli-cents with pure integer division, "
        "residuals are BIGINT milli-cents, and the order statistic is "
        "found by counting on the DISTINCT-residual table (Spark side "
        "rides a per-type bucketed carry: in-bucket cumulative + "
        "per-type bucket-summary prefix over value-range-bounded 4096 "
        "milli-cent buckets — no per-type global sort). The "
        "distribution-free coverage guarantee every ML-serving "
        "pipeline wants before shipping point predictions."
    ),
    tags=("analytics", "extension", "stats", "mlops"),
)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type", "user_id", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    calib = base.filter(F.col("user_id") % 2 == 0)
    stats = calib.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_t"), F.sum("c").alias("s_t")
    )
    model = stats.select(
        "event_type", "n_t",
        F.expr("CAST((2 * s_t * 1000 + n_t) div (2 * n_t) AS BIGINT)").alias(
            "mean_milli"
        ),
    )
    calib_res = calib.join(F.broadcast(model), "event_type").select(
        "event_type", F.abs(F.col("c") * 1000 - F.col("mean_milli")).alias("rs")
    )
    grp = calib_res.groupBy("event_type", "rs").agg(F.count(F.lit(1)).alias("t"))
    # Two-phase per-type carry: in-bucket cumulative + per-type prefix
    # over the value-range-bounded bucket summaries (rs div 4096).
    bkt = grp.withColumn("bkt", F.expr("rs div 4096"))
    w_in = (
        Window.partitionBy("event_type", "bkt")
        .orderBy("rs")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rows = bkt.withColumn("cin", F.sum("t").over(w_in))
    btot = bkt.groupBy("event_type", "bkt").agg(F.sum("t").alias("bv"))
    w_b = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bprev = btot.select(
        "event_type", "bkt", F.sum("bv").over(w_b).alias("prev")
    )
    cum = rows.join(bprev, ["event_type", "bkt"]).select(
        "event_type", "rs",
        (F.col("cin") + F.coalesce(F.col("prev"), F.lit(0))).alias("cc"),
    )
    qhat = (
        cum.join(F.broadcast(model), "event_type")
        .filter(F.col("cc") >= F.expr("(9 * (n_t + 1) + 9) div 10"))
        .groupBy("event_type")
        .agg(F.min("rs").alias("q_milli"))
    )
    test = (
        base.filter(F.col("user_id") % 2 == 1)
        .join(F.broadcast(model), "event_type")
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("c") * 1000 - F.col("mean_milli"))
                    <= F.col("q_milli"),
                    1,
                ).otherwise(0)
            ).alias("covered"),
        )
    )
    out = test.join(F.broadcast(model), "event_type").join(
        F.broadcast(qhat), "event_type"
    )
    return out.select(
        "event_type",
        F.col("n_t").alias("n_calib"),
        "n_test",
        stable_round(F.col("q_milli") / 1000.0, 6).alias("qhat_cents"),
        stable_round(F.col("covered") * 1.0 / F.col("n_test"), 6).alias("coverage"),
    )


@register(
    "q_pacf",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s FROM daily
),
dev AS (
    SELECT day, CAST(t.n * d.x - t.s AS BIGINT) AS d, t.n
    FROM daily d CROSS JOIN tot t
),
lagged AS (
    SELECT d, n,
           lag(d, 1) OVER (ORDER BY day) AS d1,
           lag(d, 2) OVER (ORDER BY day) AS d2,
           lag(d, 3) OVER (ORDER BY day) AS d3
    FROM dev
),
m AS (
    SELECT max(n) AS n,
           sum(d * 1.0 * d) AS sd2,
           sum(CASE WHEN d1 IS NOT NULL THEN d * 1.0 * d1 END) AS s1,
           sum(CASE WHEN d2 IS NOT NULL THEN d * 1.0 * d2 END) AS s2,
           sum(CASE WHEN d3 IS NOT NULL THEN d * 1.0 * d3 END) AS s3
    FROM lagged
),
r AS (
    SELECT n, (s1 / sd2) AS r1, (s2 / sd2) AS r2, (s3 / sd2) AS r3 FROM m
),
lvl2 AS (
    SELECT n, r1, r2, r3,
           ((r2 - r1 * r1) / (1.0 - r1 * r1)) AS phi22
    FROM r
),
lvl3 AS (
    SELECT n, r1, r2, r3, phi22,
           (r1 * (1.0 - phi22)) AS phi21
    FROM lvl2
)
SELECT n AS n_days,
       (round(r1 * 1000000.0) / 1000000.0)    AS pacf1,
       (round(phi22 * 1000000.0) / 1000000.0) AS pacf2,
       (round(((r3 - phi21 * r2 - phi22 * r1)
               / (1.0 - phi21 * r1 - phi22 * r2)) * 1000000.0) / 1000000.0)
           AS pacf3
FROM lvl3
""",
    description=(
        "Partial autocorrelation (lags 1-3) of daily purchase revenue "
        "via the Durbin-Levinson recursion in closed form — the AR "
        "order-selection diagnostic that q_autocorr/q_yule_walker_ar2 "
        "can't give (ACF tails off for any AR process; PACF CUTS OFF "
        "at the true order, so 'is pacf3 ~ 0?' answers 'is AR(2) "
        "enough?'). Same BIGINT mean-cleared deviations and day-series "
        "lag windows as the Yule-Walker fit; the recursion "
        "(phi22 = (r2-r1^2)/(1-r1^2), phi21 = r1(1-phi22), phi33 = "
        "(r3 - phi21*r2 - phi22*r1)/(1 - phi21*r1 - phi22*r2)) is an "
        "identical fixed-order float expression on both engines."
    ),
    tags=("analytics", "extension", "timeseries"),
)
def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("x").alias("s")
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "day", (F.col("n") * F.col("x") - F.col("s")).alias("d"), "n"
    )
    # Days-sized series: the keyless lag windows ride one row per day.
    w = Window.orderBy("day")
    lagged = dev.select(
        "d", "n",
        F.lag("d", 1).over(w).alias("d1"),
        F.lag("d", 2).over(w).alias("d2"),
        F.lag("d", 3).over(w).alias("d3"),
    )
    d = F.col("d")
    m = lagged.agg(
        F.max("n").alias("n"),
        F.sum(d * 1.0 * d).alias("sd2"),
        F.sum(F.when(F.col("d1").isNotNull(), d * 1.0 * F.col("d1"))).alias("s1"),
        F.sum(F.when(F.col("d2").isNotNull(), d * 1.0 * F.col("d2"))).alias("s2"),
        F.sum(F.when(F.col("d3").isNotNull(), d * 1.0 * F.col("d3"))).alias("s3"),
    )
    r = m.select(
        "n",
        (F.col("s1") / F.col("sd2")).alias("r1"),
        (F.col("s2") / F.col("sd2")).alias("r2"),
        (F.col("s3") / F.col("sd2")).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    lvl2 = r.select(
        "n", "r1", "r2", "r3",
        ((r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)).alias("phi22"),
    )
    lvl3 = lvl2.select(
        "n", "r1", "r2", "r3", "phi22",
        (r1 * (F.lit(1.0) - F.col("phi22"))).alias("phi21"),
    )
    p21, p22 = F.col("phi21"), F.col("phi22")
    return lvl3.select(
        F.col("n").alias("n_days"),
        stable_round(r1, 6).alias("pacf1"),
        stable_round(p22, 6).alias("pacf2"),
        stable_round(
            (r3 - p21 * r2 - p22 * r1) / (F.lit(1.0) - p21 * r1 - p22 * r2), 6
        ).alias("pacf3"),
    )


@register(
    "q_adamic_adar",
    oracle="""
WITH li AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
cop AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(count(*) AS BIGINT) AS co
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
),
edges AS (SELECT pa AS u, pb AS v FROM cop WHERE co >= 2),
sym AS (
    SELECT u AS src, v AS dst FROM edges
    UNION ALL
    SELECT v, u FROM edges
),
deg AS (
    SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1
),
wedge AS (
    SELECT s1.src AS a, s1.dst AS b, s2.dst AS c
    FROM sym s1 JOIN sym s2 ON s1.dst = s2.src
    WHERE s1.src < s2.dst
),
cand AS (
    SELECT w.a, w.c, w.b FROM wedge w
    LEFT JOIN edges e ON e.u = w.a AND e.v = w.c
    WHERE e.u IS NULL
),
scored AS (
    SELECT cand.a AS part_a, cand.c AS part_b,
           CAST(count(*) AS BIGINT) AS n_common,
           sum(1.0 / ln(d.d))       AS aa
    FROM cand JOIN deg d ON d.node = cand.b
    GROUP BY 1, 2
)
SELECT part_a, part_b, n_common,
       (round(aa * 1000000.0) / 1000000.0) AS aa_score
FROM scored
ORDER BY aa_score DESC, n_common DESC, part_a ASC, part_b ASC
LIMIT 20
""",
    description=(
        "Adamic-Adar link prediction over the part co-purchase graph: "
        "parts co-appearing in >= 2 orders form edges (market-basket "
        "co-occurrence with BOUNDED per-order fan-out — a TPC-H order "
        "has <= 7 lineitems, so pair expansion is <= 21 rows per order "
        "at any data size); for every NON-edge two hops apart, "
        "sum(1/ln(deg(b))) over common neighbors b scores the missing "
        "link, discounting promiscuous hub parts. The "
        "recommender/graph-completion primitive ('frequently bought "
        "with X and Y, never yet together'). Distributed shape: "
        "order-key self-join -> pair aggregate -> symmetric adjacency "
        "wedge join (a<c canonical) -> anti-join against edges -> "
        "degree join + aggregate; ln(deg) is safe (wedge centers have "
        "degree >= 2); top-20 rides TakeOrderedAndProject."
    ),
    tags=("analytics", "extension", "graph"),
)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    cop = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("co"))
    )
    edges = cop.filter(F.col("co") >= 2).select(
        F.col("pa").alias("u"), F.col("pb").alias("v")
    )
    sym = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    s1 = sym.alias("s1")
    s2 = sym.select(F.col("src").alias("b2"), F.col("dst").alias("c"))
    wedge = (
        s1.join(s2, F.col("s1.dst") == F.col("b2"))
        .filter(F.col("s1.src") < F.col("c"))
        .select(F.col("s1.src").alias("a"), F.col("s1.dst").alias("b"), "c")
    )
    cand = wedge.join(
        edges,
        (F.col("a") == F.col("u")) & (F.col("c") == F.col("v")),
        "left_anti",
    )
    scored = (
        cand.join(F.broadcast(deg), cand["b"] == deg["node"])
        .groupBy(F.col("a").alias("part_a"), F.col("c").alias("part_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(1.0 / F.log(F.col("d"))).alias("aa"),
        )
    )
    out = scored.select(
        "part_a", "part_b", "n_common",
        stable_round(F.col("aa"), 6).alias("aa_score"),
    )
    return out.orderBy(
        F.col("aa_score").desc(),
        F.col("n_common").desc(),
        F.col("part_a").asc(),
        F.col("part_b").asc(),
    ).limit(20)


@register(
    "q_did_estimator",
    oracle=f"""
WITH ev AS (
    SELECT user_id,
           {_ARM_A_SQL} AS in_a,
           (CAST(ts AS DATE) - DATE '1970-01-01') AS dd,
           CASE WHEN event_type = 'purchase'
                THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS c
    FROM events
),
rng AS (SELECT min(dd) AS lo, max(dd) AS hi FROM ev),
u AS (
    SELECT user_id, in_a,
           CASE WHEN dd >= r.lo + ((r.hi - r.lo + 1) // 2)
                THEN 1 ELSE 0 END AS p,
           CAST(sum(c) AS BIGINT) AS v
    FROM ev CROSS JOIN rng r
    GROUP BY 1, 2, 3
),
cells AS (
    SELECT in_a, p, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v) AS BIGINT) AS s, CAST(sum(v * v) AS BIGINT) AS ss
    FROM u GROUP BY 1, 2
),
wide AS (
    SELECT
        max(CASE WHEN in_a AND p = 0 THEN n END)         AS n_a0,
        max(CASE WHEN in_a AND p = 1 THEN n END)         AS n_a1,
        max(CASE WHEN NOT in_a AND p = 0 THEN n END)     AS n_b0,
        max(CASE WHEN NOT in_a AND p = 1 THEN n END)     AS n_b1,
        max(CASE WHEN in_a AND p = 0 THEN s * 1.0 / n END)     AS m_a0,
        max(CASE WHEN in_a AND p = 1 THEN s * 1.0 / n END)     AS m_a1,
        max(CASE WHEN NOT in_a AND p = 0 THEN s * 1.0 / n END) AS m_b0,
        max(CASE WHEN NOT in_a AND p = 1 THEN s * 1.0 / n END) AS m_b1,
        sum((n * ss - s * s) / (n * 1.0 * (n - 1)) / n)        AS vsum
    FROM cells
)
SELECT n_a0, n_a1, n_b0, n_b1,
       (round((m_a0 / 100.0) * 1000000.0) / 1000000.0) AS mean_a_pre,
       (round((m_a1 / 100.0) * 1000000.0) / 1000000.0) AS mean_a_post,
       (round((m_b0 / 100.0) * 1000000.0) / 1000000.0) AS mean_b_pre,
       (round((m_b1 / 100.0) * 1000000.0) / 1000000.0) AS mean_b_post,
       (round((((m_a1 - m_a0) - (m_b1 - m_b0)) / 100.0) * 1000000.0) / 1000000.0)
           AS did_dollars,
       (round((sqrt(vsum) / 100.0) * 1000000.0) / 1000000.0) AS se_dollars,
       (round((((m_a1 - m_a0) - (m_b1 - m_b0)) / sqrt(vsum)) * 1000000.0)
        / 1000000.0) AS t_stat
FROM wide
""",
    description=(
        "Difference-in-differences estimator: per-user spend (cents) "
        "in pre/post periods (the period boundary is the DATA-DERIVED "
        "midpoint of the observed day range — integer epoch-day "
        "arithmetic, no hard-coded dates) crossed with the repo's "
        "deterministic md5 arm split; DiD = (A_post - A_pre) - "
        "(B_post - B_pre) with the pooled SE from exact-BIGINT cell "
        "variances and the t statistic — the workhorse quasi-"
        "experimental estimator when randomization isn't available "
        "(parallel-trends assumption). Scale shape: one event pass -> "
        "user-period cells (shuffle on user), 4-cell aggregate, "
        "metadata-sized finish; the day-range scalar broadcasts."
    ),
    tags=("analytics", "extension", "stats", "causal"),
)
def q_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_raw = load_table(spark, sf_dir, "events")
    ev = ev_raw.select(
        "user_id",
        _arm_a().alias("in_a"),
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "dd"
        ),
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("c"),
    )
    rng = ev.agg(F.min("dd").alias("lo"), F.max("dd").alias("hi"))
    u = (
        ev.crossJoin(F.broadcast(rng))
        .select(
            "user_id",
            "in_a",
            F.when(
                F.col("dd") >= F.col("lo") + F.expr("(hi - lo + 1) div 2"), 1
            )
            .otherwise(0)
            .alias("p"),
            "c",
        )
        .groupBy("user_id", "in_a", "p")
        .agg(F.sum("c").alias("v"))
    )
    cells = u.groupBy("in_a", "p").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    mean_c = s * 1.0 / n
    a, p = F.col("in_a"), F.col("p")
    wide = cells.agg(
        F.max(F.when(a & (p == 0), n)).alias("n_a0"),
        F.max(F.when(a & (p == 1), n)).alias("n_a1"),
        F.max(F.when(~a & (p == 0), n)).alias("n_b0"),
        F.max(F.when(~a & (p == 1), n)).alias("n_b1"),
        F.max(F.when(a & (p == 0), mean_c)).alias("m_a0"),
        F.max(F.when(a & (p == 1), mean_c)).alias("m_a1"),
        F.max(F.when(~a & (p == 0), mean_c)).alias("m_b0"),
        F.max(F.when(~a & (p == 1), mean_c)).alias("m_b1"),
        F.sum((n * ss - s * s) / (n * 1.0 * (n - 1)) / n).alias("vsum"),
    )
    m_a0, m_a1 = F.col("m_a0"), F.col("m_a1")
    m_b0, m_b1 = F.col("m_b0"), F.col("m_b1")
    did_c = (m_a1 - m_a0) - (m_b1 - m_b0)
    return wide.select(
        "n_a0", "n_a1", "n_b0", "n_b1",
        stable_round(m_a0 / 100.0, 6).alias("mean_a_pre"),
        stable_round(m_a1 / 100.0, 6).alias("mean_a_post"),
        stable_round(m_b0 / 100.0, 6).alias("mean_b_pre"),
        stable_round(m_b1 / 100.0, 6).alias("mean_b_post"),
        stable_round(did_c / 100.0, 6).alias("did_dollars"),
        stable_round(F.sqrt(F.col("vsum")) / 100.0, 6).alias("se_dollars"),
        stable_round(did_c / F.sqrt(F.col("vsum")), 6).alias("t_stat"),
    )


def _granger_oracle() -> str:
    b0, b1, b2 = cramer3_sql("a00", "a01", "a02", "a11", "a12", "a22", "r0", "r1", "r2")
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ck,
           (CAST(sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) / 100.0)
               AS pv
    FROM events GROUP BY 1
),
lagged AS (
    SELECT pv AS y,
           lag(pv) OVER (ORDER BY day) AS x1,
           (lag(ck) OVER (ORDER BY day)) * 1.0 AS x2
    FROM daily
),
pts AS (SELECT y, x1, x2 FROM lagged WHERE x1 IS NOT NULL),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           {stable_round_sql('sum(x1)')} AS a01, {stable_round_sql('sum(x2)')} AS a02,
           {stable_round_sql('sum(x1 * x1)')} AS a11, {stable_round_sql('sum(x1 * x2)')} AS a12,
           {stable_round_sql('sum(x2 * x2)')} AS a22,
           {stable_round_sql('sum(y)')} AS r0, {stable_round_sql('sum(y * x1)')} AS r1,
           {stable_round_sql('sum(y * x2)')} AS r2
    FROM pts
),
beta1 AS (
    SELECT n, a01, r0,
           {stable_round_sql('(n * r1 - a01 * r0) / (n * a11 - a01 * a01)')} AS c1,
           {stable_round_sql(b0)} AS b0,
           {stable_round_sql(b1)} AS b1,
           {stable_round_sql(b2)} AS b2
    FROM (SELECT n * 1.0 AS a00, n, a01, a02, a11, a12, a22, r0, r1, r2 FROM m)
),
beta AS (
    SELECT n, c1, {stable_round_sql('(r0 - c1 * a01) / n')} AS c0, b0, b1, b2 FROM beta1
),
rss AS (
    SELECT max(b.n) AS n, max(b.b2) AS b2,
           {stable_round_sql('sum((p.y - b.c0 - b.c1 * p.x1) * (p.y - b.c0 - b.c1 * p.x1))')}
               AS rss_r,
           {stable_round_sql('sum((p.y - b.b0 - b.b1 * p.x1 - b.b2 * p.x2)'
                ' * (p.y - b.b0 - b.b1 * p.x1 - b.b2 * p.x2))')} AS rss_u
    FROM pts p CROSS JOIN beta b
)
SELECT n AS n_days_used, b2 AS beta_click_lag,
       rss_r, rss_u,
       {stable_round_sql('((rss_r - rss_u) / 1.0) / (rss_u / (n - 3))')} AS f_stat
FROM rss
""".strip()


@register(
    "q_granger_causality",
    oracle=_granger_oracle(),
    description=(
        "Granger causality test (lag 1): do yesterday's clicks "
        "predict today's purchase revenue beyond what yesterday's "
        "revenue already does? Restricted OLS pv_t ~ 1 + pv_(t-1) "
        "(closed-form 2x2) vs unrestricted pv_t ~ 1 + pv_(t-1) + "
        "ck_(t-1) (the cramer3_sql solve shared with the IRLS "
        "family), F = (RSS_r - RSS_u) / (RSS_u / (n-3)) with 1 "
        "restriction. The leading-indicator diagnostic for metric "
        "forecasting/alert routing. Scale shape: ONE data pass to the "
        "day grid, keyless lag windows ride the days-sized series, "
        "moments are a single map-side-combined aggregate, betas are "
        "a 1-row broadcast back onto the day series for the exact RSS "
        "pass — nothing driver-side; moments, betas and RSS are "
        "6dp-rounded so both engines step through identical states."
    ),
    tags=("analytics", "extension", "timeseries", "stats"),
)
def q_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("ck"),
        (
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            )
            / 100.0
        ).alias("pv"),
    )
    w = Window.orderBy("day")
    pts = (
        daily.select(
            F.col("pv").alias("y"),
            F.lag("pv").over(w).alias("x1"),
            (F.lag("ck").over(w) * 1.0).alias("x2"),
        )
        .filter(F.col("x1").isNotNull())
    )
    x1, x2, y = F.col("x1"), F.col("x2"), F.col("y")
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        stable_round(F.sum(x1), 6).alias("a01"),
        stable_round(F.sum(x2), 6).alias("a02"),
        stable_round(F.sum(x1 * x1), 6).alias("a11"),
        stable_round(F.sum(x1 * x2), 6).alias("a12"),
        stable_round(F.sum(x2 * x2), 6).alias("a22"),
        stable_round(F.sum(y), 6).alias("r0"),
        stable_round(F.sum(y * x1), 6).alias("r1"),
        stable_round(F.sum(y * x2), 6).alias("r2"),
    )
    n = F.col("n")
    c1 = (n * F.col("r1") - F.col("a01") * F.col("r0")) / (
        n * F.col("a11") - F.col("a01") * F.col("a01")
    )
    b0e, b1e, b2e = (F.expr(e) for e in cramer3_sql(
        "(n * 1.0D)", "a01", "a02", "a11", "a12", "a22", "r0", "r1", "r2"
    ))
    beta = m.select(
        n,
        stable_round(c1, 6).alias("c1"),
        stable_round((F.col("r0") - stable_round(c1, 6) * F.col("a01")) / n, 6).alias(
            "c0"
        ),
        stable_round(b0e, 6).alias("b0"),
        stable_round(b1e, 6).alias("b1"),
        stable_round(b2e, 6).alias("b2"),
    )
    res_r = y - F.col("c0") - F.col("c1") * x1
    res_u = y - F.col("b0") - F.col("b1") * x1 - F.col("b2") * x2
    rss = pts.crossJoin(F.broadcast(beta)).agg(
        F.max("n").alias("n"),
        F.max("b2").alias("b2"),
        stable_round(F.sum(res_r * res_r), 6).alias("rss_r"),
        stable_round(F.sum(res_u * res_u), 6).alias("rss_u"),
    )
    rr, ru = F.col("rss_r"), F.col("rss_u")
    return rss.select(
        F.col("n").alias("n_days_used"),
        F.col("b2").alias("beta_click_lag"),
        rr.alias("rss_r"),
        ru.alias("rss_u"),
        stable_round(((rr - ru) / 1.0) / (ru / (F.col("n") - 3)), 6).alias(
            "f_stat"
        ),
    )


_AIPW_USER_CTE = """
SELECT user_id,
       CAST(ln(1.0 + sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)) AS DOUBLE) AS x1,
       CAST(ln(1.0 + sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)) AS DOUBLE)  AS x2,
       CASE WHEN sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) >= 14
            THEN 1 ELSE 0 END                                                          AS t,
       (CAST(sum(CASE WHEN event_type = 'purchase'
             THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) / 100.0)   AS y
FROM events GROUP BY user_id
""".strip()


def _aipw_oracle() -> str:
    parts, final = irls_beta_ctes("SELECT x1, x2, t AS y FROM u", LOGISTIC)
    irls = ",\n".join(parts)
    sums = []
    for g, tag in ((1, "1"), (0, "0")):
        c = f"CASE WHEN t = {g} THEN"
        sums += [
            f"CAST(sum(CASE WHEN t = {g} THEN 1 ELSE 0 END) AS BIGINT) AS n{tag}",
            f"{stable_round_sql(f'sum({c} x1 ELSE 0.0 END)')} AS sx1_{tag}",
            f"{stable_round_sql(f'sum({c} x2 ELSE 0.0 END)')} AS sx2_{tag}",
            f"{stable_round_sql(f'sum({c} x1 * x1 ELSE 0.0 END)')} AS s11_{tag}",
            f"{stable_round_sql(f'sum({c} x1 * x2 ELSE 0.0 END)')} AS s12_{tag}",
            f"{stable_round_sql(f'sum({c} x2 * x2 ELSE 0.0 END)')} AS s22_{tag}",
            f"{stable_round_sql(f'sum({c} y ELSE 0.0 END)')} AS sy_{tag}",
            f"{stable_round_sql(f'sum({c} y * x1 ELSE 0.0 END)')} AS sy1_{tag}",
            f"{stable_round_sql(f'sum({c} y * x2 ELSE 0.0 END)')} AS sy2_{tag}",
        ]
    coefs = []
    for tag in ("1", "0"):
        s0, s1, s2 = cramer3_sql(
            f"(n{tag} * 1.0)", f"sx1_{tag}", f"sx2_{tag}",
            f"s11_{tag}", f"s12_{tag}", f"s22_{tag}",
            f"sy_{tag}", f"sy1_{tag}", f"sy2_{tag}",
        )
        coefs += [
            f"{stable_round_sql(s0)} AS m{tag}_0",
            f"{stable_round_sql(s1)} AS m{tag}_1",
            f"{stable_round_sql(s2)} AS m{tag}_2",
        ]
    e6 = stable_round_sql(
        "least(greatest(1.0 / (1.0 + exp(-(b.b0 + b.b1 * u.x1 + b.b2 * u.x2))),"
        " 0.01), 0.99)"
    )
    mu1 = "(c.m1_0 + c.m1_1 * u.x1 + c.m1_2 * u.x2)"
    mu0 = "(c.m0_0 + c.m0_1 * u.x1 + c.m0_2 * u.x2)"
    psi = (
        f"({mu1} - {mu0} + u.t * (u.y - {mu1}) / e6"
        f" - (1 - u.t) * (u.y - {mu0}) / (1.0 - e6))"
    )
    return f"""
WITH u AS ({_AIPW_USER_CTE}),
{irls},
mom AS (
    SELECT {', '.join(sums)} FROM u
),
coef AS (
    SELECT n1, n0, {', '.join(coefs)} FROM mom
),
scored AS (
    SELECT u.t, {psi.replace('e6', e6)} AS psi
    FROM u CROSS JOIN {final} b CROSS JOIN coef c
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(t) AS BIGINT) AS n_treated,
           {stable_round_sql('sum(psi)')} AS sp,
           {stable_round_sql('sum(psi * psi)')} AS spp
    FROM scored
)
SELECT n AS n_users, n_treated,
       {stable_round_sql('sp / n')} AS ate_dollars,
       {stable_round_sql('sqrt(((n * spp - sp * sp) / (n * 1.0 * (n - 1))) / n)')} AS se_dollars
FROM agg
""".strip()


@register(
    "q_aipw_ate",
    oracle=_aipw_oracle(),
    description=(
        "Doubly-robust average treatment effect (AIPW): effect of a "
        "high-error experience (>=14 error events) on user spend, "
        "combining an IRLS propensity "
        "model e(x) (the irls_fit machinery, 4 rounds, clipped to "
        "[0.01, 0.99]) with per-arm OLS outcome models mu1/mu0 "
        "(closed-form Cramer solves on one conditional-moment pass) "
        "into the augmented-IPW score mu1 - mu0 + t(y-mu1)/e - "
        "(1-t)(y-mu0)/(1-e); consistent if EITHER model is right — "
        "the observational-causal workhorse when you can't randomize "
        "(q_did_estimator's cross-sectional sibling). Scale shape: "
        "user aggregate (one shuffle) -> R+2 moment passes, each "
        "map-side combined; models are 1-row broadcasts; the influence-"
        "function SE falls out of the same final pass. Moments, "
        "coefficients, propensities and psi-sums are 6dp-rounded so "
        "both engines walk identical states."
    ),
    tags=("analytics", "extension", "stats", "causal", "ml"),
)
def q_aipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.log(
            F.lit(1.0)
            + F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        ).alias("x1"),
        F.log(
            F.lit(1.0)
            + F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        ).alias("x2"),
        F.when(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)) >= 14, 1
        )
        .otherwise(0)
        .alias("t"),
        (
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            )
            / 100.0
        ).alias("y"),
    )
    beta = irls_fit(u.select("x1", "x2", F.col("t").alias("y")), LOGISTIC)
    x1, x2, y, t = F.col("x1"), F.col("x2"), F.col("y"), F.col("t")
    mom_cols = []
    for g, tag in ((1, "1"), (0, "0")):
        is_g = t == g
        mom_cols += [
            F.sum(F.when(is_g, 1).otherwise(0)).cast("long").alias(f"n{tag}"),
            stable_round(F.sum(F.when(is_g, x1).otherwise(0.0)), 6).alias(f"sx1_{tag}"),
            stable_round(F.sum(F.when(is_g, x2).otherwise(0.0)), 6).alias(f"sx2_{tag}"),
            stable_round(F.sum(F.when(is_g, x1 * x1).otherwise(0.0)), 6).alias(f"s11_{tag}"),
            stable_round(F.sum(F.when(is_g, x1 * x2).otherwise(0.0)), 6).alias(f"s12_{tag}"),
            stable_round(F.sum(F.when(is_g, x2 * x2).otherwise(0.0)), 6).alias(f"s22_{tag}"),
            stable_round(F.sum(F.when(is_g, y).otherwise(0.0)), 6).alias(f"sy_{tag}"),
            stable_round(F.sum(F.when(is_g, y * x1).otherwise(0.0)), 6).alias(f"sy1_{tag}"),
            stable_round(F.sum(F.when(is_g, y * x2).otherwise(0.0)), 6).alias(f"sy2_{tag}"),
        ]
    mom = u.agg(*mom_cols)
    coef_cols = []
    for tag in ("1", "0"):
        s0, s1, s2 = (F.expr(e) for e in cramer3_sql(
            f"(n{tag} * 1.0D)", f"sx1_{tag}", f"sx2_{tag}",
            f"s11_{tag}", f"s12_{tag}", f"s22_{tag}",
            f"sy_{tag}", f"sy1_{tag}", f"sy2_{tag}",
        ))
        coef_cols += [
            stable_round(s0, 6).alias(f"m{tag}_0"),
            stable_round(s1, 6).alias(f"m{tag}_1"),
            stable_round(s2, 6).alias(f"m{tag}_2"),
        ]
    coef = mom.select("n1", "n0", *coef_cols)
    e6 = stable_round(F.least(F.greatest(logistic_p(beta), F.lit(0.01)), F.lit(0.99)), 6)
    mu1 = F.col("m1_0") + F.col("m1_1") * x1 + F.col("m1_2") * x2
    mu0 = F.col("m0_0") + F.col("m0_1") * x1 + F.col("m0_2") * x2
    psi = (
        mu1 - mu0
        + t * (y - mu1) / e6
        - (F.lit(1) - t) * (y - mu0) / (F.lit(1.0) - e6)
    )
    scored = u.crossJoin(F.broadcast(coef)).select(t.alias("t"), psi.alias("psi"))
    agg = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("n_treated"),
        stable_round(F.sum("psi"), 6).alias("sp"),
        stable_round(F.sum(F.col("psi") * F.col("psi")), 6).alias("spp"),
    )
    n, sp, spp = F.col("n"), F.col("sp"), F.col("spp")
    return agg.select(
        n.alias("n_users"),
        F.col("n_treated"),
        stable_round(sp / n, 6).alias("ate_dollars"),
        stable_round(
            F.sqrt(((n * spp - sp * sp) / (n * 1.0 * (n - 1))) / n), 6
        ).alias("se_dollars"),
    )


_COX_SUBJ_CTE = """
SELECT user_id,
       CAST(ln(1.0 + sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)) AS DOUBLE) AS x,
       CASE WHEN min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END)
                 IS NOT NULL THEN 1 ELSE 0 END AS d,
       (COALESCE(min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END),
                 max(CAST(ts AS DATE)))
        - min(CAST(ts AS DATE))) AS dur
FROM events GROUP BY user_id
""".strip()


def _cox_oracle(rounds: int = 3) -> str:
    parts = [
        f"subj AS ({_COX_SUBJ_CTE})",
        "b_0 AS (SELECT 0.0 AS b)",
    ]
    for r in range(1, rounds + 1):
        prev = f"b_{r - 1}"
        parts.append(
            f"""g_{r} AS (
    SELECT dur,
           CAST(round(sum(exp(b.b * x)) * 1000000.0) AS BIGINT) AS q0,
           CAST(round(sum(x * exp(b.b * x)) * 1000000.0) AS BIGINT) AS q1,
           CAST(round(sum(x * x * exp(b.b * x)) * 1000000.0) AS BIGINT) AS q2,
           CAST(sum(d) AS BIGINT) AS dt,
           {stable_round_sql('sum(d * x)')} AS sx
    FROM subj CROSS JOIN {prev} b GROUP BY dur
)"""
        )
        parts.append(
            f"""s_{r} AS (
    SELECT dur, dt, sx,
           CAST(sum(q0) OVER (ORDER BY dur DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c0,
           CAST(sum(q1) OVER (ORDER BY dur DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c1,
           CAST(sum(q2) OVER (ORDER BY dur DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c2
    FROM g_{r}
)"""
        )
        parts.append(
            f"""ui_{r} AS (
    SELECT {stable_round_sql('sum(sx - dt * (c1 * 1.0 / c0))')} AS u,
           {stable_round_sql('sum(dt * (c2 * 1.0 / c0 - (c1 * 1.0 / c0) * (c1 * 1.0 / c0)))')} AS i
    FROM s_{r} WHERE dt > 0
)"""
        )
        parts.append(
            f"b_{r} AS (SELECT {stable_round_sql('b.b + u.u / u.i')} AS b, u.i AS i "
            f"FROM {prev} b CROSS JOIN ui_{r} u)"
        )
    joined = ",\n".join(parts)
    return f"""WITH {joined},
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n_subjects,
           CAST(sum(d) AS BIGINT) AS n_events
    FROM subj
)
SELECT m.n_subjects, m.n_events,
       b.b AS beta,
       {stable_round_sql('exp(b.b)')} AS hazard_ratio,
       {stable_round_sql('1.0 / sqrt(b.i)')} AS se_beta
FROM m CROSS JOIN b_{rounds} b
"""


@register(
    "q_cox_ph",
    oracle=_cox_oracle(3),
    description=(
        "Cox proportional-hazards regression (1 covariate, Breslow "
        "ties, 3 Newton rounds): hazard of first purchase ~ "
        "exp(beta * ln(1+clicks)), durations from each user's first "
        "event day to first-purchase day (event) or last observed day "
        "(censored) — the covariate-adjusted member of the survival "
        "family (q_kaplan_meier / q_nelson_aalen estimate, "
        "q_logrank_test compares two groups, Cox REGRESSES on a "
        "continuous covariate), reporting beta, the hazard ratio "
        "exp(beta) and the inverse-information SE. Scale shape per "
        "round: ONE subject pass groups exp(beta*x) moments by "
        "duration (shuffle on duration), risk-set sums are BIGINT "
        "micro-unit suffix sums over the horizon-bounded distinct-"
        "duration table (exact-associative — no float window "
        "accumulation), and the score/information reduce to one row; "
        "the scalar beta crosses the driver like the k-means/IRLS "
        "state. Every per-round quantity is quantized or 6dp-rounded "
        "so both engines walk identical Newton iterates."
    ),
    tags=("analytics", "extension", "stats", "survival"),
)
def q_cox_ph(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pday = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts").cast("date"))
    )
    subj = ev.groupBy("user_id").agg(
        F.log(
            F.lit(1.0)
            + F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        ).alias("x"),
        F.when(pday.isNotNull(), 1).otherwise(0).alias("d"),
        F.datediff(
            F.coalesce(pday, F.max(F.col("ts").cast("date"))),
            F.min(F.col("ts").cast("date")),
        ).alias("dur"),
    ).persist()
    try:
        beta = 0.0
        info = None
        wsfx = Window.orderBy(F.desc("dur")).rowsBetween(
            Window.unboundedPreceding, 0
        )
        for _ in range(3):
            bl = F.lit(float(beta))
            ex = F.exp(bl * F.col("x"))
            g = subj.groupBy("dur").agg(
                F.round(F.sum(ex) * 1000000.0).cast("long").alias("q0"),
                F.round(F.sum(F.col("x") * ex) * 1000000.0).cast("long").alias("q1"),
                F.round(F.sum(F.col("x") * F.col("x") * ex) * 1000000.0)
                .cast("long")
                .alias("q2"),
                F.sum("d").cast("long").alias("dt"),
                stable_round(F.sum(F.col("d") * F.col("x")), 6).alias("sx"),
            )
            s = g.select(
                "dt", "sx",
                F.sum("q0").over(wsfx).cast("long").alias("c0"),
                F.sum("q1").over(wsfx).cast("long").alias("c1"),
                F.sum("q2").over(wsfx).cast("long").alias("c2"),
            )
            r1 = F.col("c1") * 1.0 / F.col("c0")
            r2 = F.col("c2") * 1.0 / F.col("c0")
            ui = s.filter(F.col("dt") > 0).agg(
                stable_round(F.sum(F.col("sx") - F.col("dt") * r1), 6).alias("u"),
                stable_round(F.sum(F.col("dt") * (r2 - r1 * r1)), 6).alias("i"),
            )
            row = ui.select(
                stable_round(F.lit(float(beta)) + F.col("u") / F.col("i"), 6).alias(
                    "b"
                ),
                "i",
            ).collect()[0]
            beta, info = row["b"], row["i"]
        m = subj.agg(
            F.count(F.lit(1)).cast("long").alias("n_subjects"),
            F.sum("d").cast("long").alias("n_events"),
        )
        return m.select(
            "n_subjects", "n_events",
            F.lit(float(beta)).alias("beta"),
            stable_round(F.exp(F.lit(float(beta))), 6).alias("hazard_ratio"),
            stable_round(F.lit(1.0) / F.sqrt(F.lit(float(info))), 6).alias(
                "se_beta"
            ),
        )
    finally:
        subj.unpersist()


_POISSON_FEAT_SQL = """
SELECT CAST(ln(1.0 + sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)) AS DOUBLE) AS x1,
       CAST(ln(1.0 + sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)) AS DOUBLE)  AS x2,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)        AS y
FROM events GROUP BY user_id
""".strip()


def _poisson_oracle() -> str:
    parts, final = irls_beta_ctes(_POISSON_FEAT_SQL, POISSON)
    joined = ",\n".join(parts)
    return f"""WITH {joined},
scored AS (
    SELECT y, exp(b.b0 + b.b1 * x1 + b.b2 * x2) AS mu, b.b0, b.b1, b.b2
    FROM feat CROSS JOIN {final} b
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       max(b0) AS beta0, max(b1) AS beta1, max(b2) AS beta2,
       {stable_round_sql("sum(2.0 * (CASE WHEN y = 0 THEN mu ELSE y * ln(y * 1.0 / mu) - (y - mu) END))")}
           AS deviance,
       {stable_round_sql("sum((y - mu) * (y - mu) / mu) / (count(*) - 3)")} AS dispersion
FROM scored
"""


@register(
    "q_poisson_regression",
    oracle=_poisson_oracle(),
    description=(
        "Poisson regression by IRLS (log link, 4 rounds): user "
        "purchase COUNT ~ exp(b0 + b1*ln(1+clicks) + b2*ln(1+views)) "
        "— the count-data member of the GLM family next to "
        "q_logistic_regression (binary) and q_ridge_regression "
        "(gaussian), reporting coefficients, the Poisson deviance "
        "(y=0 term handled exactly) and the Pearson dispersion "
        "chi2/(n-p) — dispersion >> 1 flags overdispersion, i.e. "
        "'your rate metric needs a negative-binomial, not Poisson, "
        "error model'. Same scale shape as the IRLS siblings: one "
        "map-side-combined moment pass + Cramer 3x3 per round, "
        "metadata-scale coefficient state, everything 6dp-rounded so "
        "both engines iterate bit-identically."
    ),
    tags=("analytics", "extension", "stats", "ml"),
)
def q_poisson_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    feat = ev.groupBy("user_id").agg(
        F.log(
            F.lit(1.0)
            + F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        ).alias("x1"),
        F.log(
            F.lit(1.0)
            + F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        ).alias("x2"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    beta = irls_fit(feat, POISSON)
    mu = F.exp(F.lit(beta[0]) + F.lit(beta[1]) * F.col("x1") + F.lit(beta[2]) * F.col("x2"))
    y = F.col("y")
    n = F.count(F.lit(1))
    dev_term = F.lit(2.0) * F.when(y == 0, mu).otherwise(
        y * F.log(y * 1.0 / mu) - (y - mu)
    )
    return feat.agg(
        n.cast("long").alias("n_users"),
        *(F.lit(float(b)).alias(f"beta{i}") for i, b in enumerate(beta)),
        stable_round(F.sum(dev_term), 6).alias("deviance"),
        stable_round(F.sum((y - mu) * (y - mu) / mu) / (n - 3), 6).alias("dispersion"),
    )


@register(
    "q_negbin_fit",
    oracle="""
WITH u AS (
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
    FROM events GROUP BY user_id
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS s1,
           CAST(sum(y * y) AS BIGINT) AS s2
    FROM u
)
SELECT n AS n_users,
       (round((s1 * 1.0 / n) * 1000000.0) / 1000000.0) AS mean_count,
       (round(((n * s2 - s1 * s1) * 1.0 / (n * 1.0 * n)) * 1000000.0) / 1000000.0)
           AS var_count,
       ((n * s2 - s1 * s1) * 1.0 / n > s1 * 1.0) AS overdispersed,
       (round(((s1 * 1.0 * s1) / (n * 1.0 * s2 - s1 * 1.0 * s1 - n * 1.0 * s1))
              * 1000000.0) / 1000000.0) AS nb_r,
       (round(((n * 1.0 * s1) / (n * 1.0 * s2 - s1 * 1.0 * s1)) * 1000000.0)
        / 1000000.0) AS nb_p
FROM m
""",
    description=(
        "Negative-binomial fit by method of moments on per-user "
        "purchase counts: mean m and population variance v from exact "
        "BIGINT moments, then r = m^2/(v - m) and p = m/v — the "
        "constructive follow-up to q_poisson_regression's dispersion "
        "flag ('overdispersed: yes — here is the NB(r, p) that "
        "actually fits'). One map-side-combined aggregate; every "
        "emitted double is a single expression over exact integer "
        "moments so both engines agree bit-for-bit. At 100x the "
        "BIGINT y^2 sum is nowhere near overflow (counts, not cents); "
        "nothing shuffles but the per-user combine."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_negbin_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y")
    )
    m = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    return m.select(
        n.alias("n_users"),
        stable_round(s1 * 1.0 / n, 6).alias("mean_count"),
        stable_round((n * s2 - s1 * s1) * 1.0 / (n * 1.0 * n), 6).alias("var_count"),
        ((n * s2 - s1 * s1) * 1.0 / n > s1 * 1.0).alias("overdispersed"),
        stable_round(
            (s1 * 1.0 * s1) / (n * 1.0 * s2 - s1 * 1.0 * s1 - n * 1.0 * s1), 6
        ).alias("nb_r"),
        stable_round((n * 1.0 * s1) / (n * 1.0 * s2 - s1 * 1.0 * s1), 6).alias("nb_p"),
    )


_ED_GRP_SQL = f"""
u AS (
    SELECT user_id,
           {_ARM_A_SQL} AS in_a,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS v
    FROM events GROUP BY user_id
),
grp AS (
    SELECT v, CAST(count(*) AS BIGINT) AS t,
           CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS t_a,
           CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS t_b
    FROM u GROUP BY v
),
pre AS (
    SELECT v, t, t_a, t_b,
           CAST(coalesce(sum(t_a) OVER w, 0) AS BIGINT)     AS c_a,
           CAST(coalesce(sum(t_b) OVER w, 0) AS BIGINT)     AS c_b,
           CAST(coalesce(sum(t_a * v) OVER w, 0) AS BIGINT) AS s_a,
           CAST(coalesce(sum(t_b * v) OVER w, 0) AS BIGINT) AS s_b
    FROM grp
    WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)"""


@register(
    "q_energy_distance",
    oracle=f"""
WITH {_ED_GRP_SQL},
m AS (
    SELECT CAST(sum(t_a) AS BIGINT) AS n_a,
           CAST(sum(t_b) AS BIGINT) AS n_b,
           CAST(sum(t_a * v) AS BIGINT) AS sa,
           CAST(sum(t_b * v) AS BIGINT) AS sb,
           CAST(sum(2 * t_a * (v * c_a - s_a)) AS BIGINT) AS p_aa,
           CAST(sum(2 * t_b * (v * c_b - s_b)) AS BIGINT) AS p_bb,
           CAST(sum(2 * t_a * (v * c_b - s_b)) AS BIGINT) AS p_ab
    FROM pre
)
SELECT n_a, n_b,
       (round(((p_ab + sb * n_a - n_b * sa) / (100.0 * n_a * n_b)) * 1000000.0)
        / 1000000.0) AS e_xy,
       (round((p_aa / (100.0 * n_a * n_a)) * 1000000.0) / 1000000.0) AS e_xx,
       (round((p_bb / (100.0 * n_b * n_b)) * 1000000.0) / 1000000.0) AS e_yy,
       (round((2.0 * (p_ab + sb * n_a - n_b * sa) / (100.0 * n_a * n_b)
               - p_aa / (100.0 * n_a * n_a) - p_bb / (100.0 * n_b * n_b))
              * 1000000.0) / 1000000.0) AS energy_d2
FROM m
""",
    description=(
        "Energy distance between the A/B arms' per-user purchase-value "
        "distributions: D^2 = 2E|X-Y| - E|X-X'| - E|Y-Y'| (V-statistic "
        "form), the whole-distribution drift metric that, unlike the "
        "mean-only z-test, is 0 iff the distributions are equal. Every "
        "pairwise-|difference| sum folds EXACTLY in integer cents via "
        "the sorted-prefix identity sum_ij|xi-yj| = sum_v 2*t_a*(v*cBl "
        "- sBl) + SB*CA - CB*SA (the t_b cross terms cancel), so the "
        "O(n^2) pair space is never materialized — the prefixes ride "
        "the DISTINCT-value table as a two-phase bucketed carry "
        "(4096-cent buckets), distributed like q_mann_whitney. BIGINT "
        "holds to ~1e16 cent-pair mass; DECIMAL(38) is the documented "
        "100x swap. Floats appear only in the final four divisions."
    ),
    tags=("analytics", "extension", "stats", "drift"),
)
def q_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.scale import bucketed_prefix

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.first(_arm_a()).alias("in_a"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("v"),
    )
    grp = u.groupBy("v").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("t_a"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).cast("long").alias("t_b"),
    )
    pre = grp
    for src, out in (("t_a", "c_a"), ("t_b", "c_b")):
        pre = bucketed_prefix(
            pre,
            buckets=[F.expr("v div 4096")],
            order_by=[F.asc("v")],
            value=F.col(src),
            agg="sum",
            exclusive=True,
            out_col=out,
        )
    for src, out in (("t_a", "s_a"), ("t_b", "s_b")):
        pre = bucketed_prefix(
            pre,
            buckets=[F.expr("v div 4096")],
            order_by=[F.asc("v")],
            value=F.col(src) * F.col("v"),
            agg="sum",
            exclusive=True,
            out_col=out,
        )
    v, ta, tb = F.col("v"), F.col("t_a"), F.col("t_b")
    m = pre.agg(
        F.sum(ta).cast("long").alias("n_a"),
        F.sum(tb).cast("long").alias("n_b"),
        F.sum(ta * v).cast("long").alias("sa"),
        F.sum(tb * v).cast("long").alias("sb"),
        F.sum(2 * ta * (v * F.col("c_a") - F.col("s_a"))).cast("long").alias("p_aa"),
        F.sum(2 * tb * (v * F.col("c_b") - F.col("s_b"))).cast("long").alias("p_bb"),
        F.sum(2 * ta * (v * F.col("c_b") - F.col("s_b"))).cast("long").alias("p_ab"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    sab = F.col("p_ab") + F.col("sb") * na - nb * F.col("sa")
    e_xy = sab / (100.0 * na * nb)
    e_xx = F.col("p_aa") / (100.0 * na * na)
    e_yy = F.col("p_bb") / (100.0 * nb * nb)
    return m.select(
        na,
        nb,
        stable_round(e_xy, 6).alias("e_xy"),
        stable_round(e_xx, 6).alias("e_xx"),
        stable_round(e_yy, 6).alias("e_yy"),
        stable_round(2.0 * e_xy - e_xx - e_yy, 6).alias("energy_d2"),
    )


@register(
    "q_cramer_von_mises",
    oracle=f"""
WITH {_ED_GRP_SQL},
m AS (
    SELECT CAST(sum(t_a) AS BIGINT) AS n_a,
           CAST(sum(t_b) AS BIGINT) AS n_b,
           sum(t * CAST((c_a + t_a) * (SELECT sum(t_b) FROM grp)
                        - (c_b + t_b) * (SELECT sum(t_a) FROM grp) AS HUGEINT)
                 * ((c_a + t_a) * (SELECT sum(t_b) FROM grp)
                    - (c_b + t_b) * (SELECT sum(t_a) FROM grp))) AS num
    FROM pre
)
SELECT n_a, n_b,
       (round((CAST(num AS DOUBLE)
               / ((n_a + n_b) * 1.0 * (n_a + n_b) * n_a * n_b)) * 1000000.0)
        / 1000000.0) AS cvm_t
FROM m
""",
    description=(
        "Two-sample Cramer-von Mises statistic for the arm difference "
        "in per-user purchase value: T = (n_a*n_b/N^2) * sum over the "
        "pooled sample of (F_a - F_b)^2 — the L2 companion to "
        "q_ks_drift's sup-norm (CvM weights the whole ECDF gap, so "
        "mid-distribution drift KS underweights shows up). Ties take "
        "the inclusive-ECDF convention on both engines. The ECDF gap "
        "is held as the exact integer cross-count c_a*n_b - c_b*n_a "
        "(inclusive prefixes ride the DISTINCT-value table via the "
        "same two-phase bucketed carry as q_mann_whitney); the "
        "t*diff^2 mass folds in DECIMAL(38)/HUGEINT so the one float "
        "appears in the final normalization. Scales like every other "
        "prefix-over-distinct-values stat here."
    ),
    tags=("analytics", "extension", "stats", "drift"),
)
def q_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.scale import bucketed_prefix

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.first(_arm_a()).alias("in_a"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("v"),
    )
    grp = u.groupBy("v").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("t_a"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).cast("long").alias("t_b"),
    ).persist()
    try:
        tot = grp.agg(
            F.sum("t_a").cast("long").alias("na"),
            F.sum("t_b").cast("long").alias("nb"),
        ).collect()[0]
        na_v, nb_v = tot["na"], tot["nb"]
        pre = grp
        for src, out in (("t_a", "c_a"), ("t_b", "c_b")):
            pre = bucketed_prefix(
                pre,
                buckets=[F.expr("v div 4096")],
                order_by=[F.asc("v")],
                value=F.col(src),
                agg="sum",
                exclusive=True,
                out_col=out,
            )
        diff = (F.col("c_a") + F.col("t_a")) * F.lit(nb_v) - (
            F.col("c_b") + F.col("t_b")
        ) * F.lit(na_v)
        term = (
            (F.col("t_a") + F.col("t_b")).cast("decimal(38,0)")
            * diff.cast("decimal(38,0)")
            * diff.cast("decimal(38,0)")
        )
        m = pre.agg(F.sum(term).alias("num"))
        n_tot = float(na_v + nb_v)
        return m.select(
            F.lit(na_v).cast("long").alias("n_a"),
            F.lit(nb_v).cast("long").alias("n_b"),
            stable_round(
                F.col("num").cast("double")
                / F.lit(n_tot * n_tot * na_v * nb_v),
                6,
            ).alias("cvm_t"),
        )
    finally:
        grp.unpersist()


_KALMAN_STEP = """
    SELECT d.idx, d.day, d.x,
           (round((h.l + (round(((h.p + 100.0) / (h.p + 100.0 + 2500.0))
                                * 1000000.0) / 1000000.0) * (d.x - h.l))
                  * 10000.0) / 10000.0),
           (round(((1.0 - (round(((h.p + 100.0) / (h.p + 100.0 + 2500.0))
                                 * 1000000.0) / 1000000.0)) * (h.p + 100.0))
                  * 10000.0) / 10000.0),
           (round(((h.p + 100.0) / (h.p + 100.0 + 2500.0)) * 1000000.0)
            / 1000000.0)
"""


@register(
    "q_kalman_filter",
    oracle=f"""
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
kal AS (
    SELECT idx, day, x, x AS l, CAST(2500.0 AS DOUBLE) AS p, CAST(NULL AS DOUBLE) AS k
    FROM idxd WHERE idx = 1
    UNION ALL
{_KALMAN_STEP}
    FROM kal h JOIN idxd d ON d.idx = h.idx + 1
)
SELECT strftime(day, '%Y-%m-%d') AS day, x AS revenue, l AS level,
       p AS variance, k AS gain
FROM kal
""",
    description=(
        "1-D local-level Kalman filter over daily purchase revenue "
        "(process noise Q=100, observation noise R=2500, P0=R): "
        "p_pred = p + Q, gain k = p_pred/(p_pred + R), level "
        "l += k*(x - l), p = (1-k)*p_pred — the probabilistic upgrade "
        "of q_ewma_smoothing whose smoothing weight ADAPTS (gain "
        "starts high while variance is large, settles to the "
        "steady-state ~0.18) and which carries an uncertainty "
        "estimate per day. Native WITH RECURSIVE on both engines "
        "(the q_holt_smoothing pattern): recursion depth = days, the "
        "only data-sized work is the one daily aggregate; gain is "
        "re-rounded to 6dp and level/variance to 4dp each step, with "
        "the rounded gain expression inlined in both updates, so the "
        "chains are bit-identical however long the series."
    ),
    tags=("analytics", "extension", "timeseries", "recursive"),
)
def q_kalman_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    raw = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg((F.round(F.sum("value") * 10000.0) / 10000.0).alias("x"))
    )
    idxd = raw.select(
        "day", "x", F.row_number().over(Window.orderBy("day")).cast("long").alias("idx")
    )
    idxd.createOrReplaceTempView("v_kalman_daily")
    return spark.sql(
        f"""
WITH RECURSIVE kal AS (
    SELECT idx, day, x, x AS l, CAST(2500.0 AS DOUBLE) AS p, CAST(NULL AS DOUBLE) AS k
    FROM v_kalman_daily WHERE idx = 1
    UNION ALL
{_KALMAN_STEP}
    FROM kal h JOIN v_kalman_daily d ON d.idx = h.idx + 1
)
SELECT date_format(day, 'yyyy-MM-dd') AS day, x AS revenue, l AS level,
       p AS variance, k AS gain
FROM kal
"""
    )


@register(
    "q_hurst_exponent",
    oracle="""
WITH raw AS (
    SELECT time_bucket(INTERVAL '1 day', ts) AS day,
           CAST(round(sum(value) * 100.0) AS BIGINT) AS xc
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
idxd AS (
    SELECT xc, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx FROM raw
),
sized AS (
    SELECT s.sz, (i.idx - 1) // s.sz AS blk, i.idx, i.xc,
           CAST(row_number() OVER (PARTITION BY s.sz, (i.idx - 1) // s.sz
                                   ORDER BY i.idx) AS BIGINT) AS k
    FROM idxd i CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS sz) s
),
dev AS (
    SELECT sz, blk, k, xc,
           CAST(sz * sum(xc) OVER (PARTITION BY sz, blk ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - k * sum(xc) OVER (PARTITION BY sz, blk) AS BIGINT) AS d,
           CAST(count(*) OVER (PARTITION BY sz, blk) AS BIGINT) AS nblk,
           CAST(sum(xc) OVER (PARTITION BY sz, blk) AS BIGINT) AS s1,
           CAST(sum(xc * xc) OVER (PARTITION BY sz, blk) AS BIGINT) AS s2
    FROM sized
),
blocks AS (
    SELECT sz, blk,
           (greatest(max(d), 0) - least(min(d), 0)) AS r_scaled,
           (max(nblk) * max(s2) - max(s1) * max(s1)) AS var_num
    FROM dev WHERE nblk = sz GROUP BY sz, blk
),
lrs AS (
    SELECT sz,
           CAST(round(ln(r_scaled * 1.0 / sqrt(var_num * 1.0)) * 1000000.0)
                AS BIGINT) AS q
    FROM blocks WHERE var_num > 0 AND r_scaled > 0
),
pts AS (
    SELECT CAST(round(ln(sz * 1.0) * 1000000.0) AS BIGINT) AS lx,
           CAST(round(sum(q) * 1.0 / count(*)) AS BIGINT) AS ly,
           CAST(count(*) AS BIGINT) AS n_blocks
    FROM lrs GROUP BY sz
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS np,
           CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
           CAST(sum(lx * ly) AS BIGINT) AS sxy,
           CAST(sum(lx * lx) AS BIGINT) AS sxx,
           CAST(sum(n_blocks) AS BIGINT) AS nb
    FROM pts
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM idxd) AS n_days,
       np AS n_sizes, nb AS n_blocks,
       (round(((np * sxy - sx * 1.0 * sy) / (np * sxx - sx * 1.0 * sx))
              * 1000000.0) / 1000000.0) AS hurst_h
FROM m
""",
    description=(
        "Hurst exponent of the daily-revenue series by rescaled-range "
        "(R/S) analysis over block sizes 8/16/32/64: H ~ 0.5 is a "
        "random walk, H > 0.5 long-range persistence (trending days "
        "cluster), H < 0.5 mean reversion — the long-memory "
        "complement to q_autocorr's short-lag view. Everything up to "
        "the per-block log is EXACT integer arithmetic in cents: "
        "cumulative deviations are held n-scaled (n*cumsum - k*total, "
        "no float prefix accumulation to drift across engines' window "
        "association orders), block variance as the integer "
        "n*sum(x^2)-sum(x)^2, so R/S = r_scaled/sqrt(var_num) is one "
        "float op per block; per-block logs are 1e6-quantized to "
        "BIGINT before averaging and the final log-log slope folds in "
        "integers. All windows ride the horizon-bounded day table."
    ),
    tags=("analytics", "extension", "timeseries"),
)
def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    raw = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.round(F.sum("value") * 100.0).cast("long").alias("xc"))
    )
    idxd = raw.select(
        "xc", F.row_number().over(Window.orderBy("day")).cast("long").alias("idx")
    )
    sizes = F.explode(F.array(F.lit(8), F.lit(16), F.lit(32), F.lit(64))).alias("sz")
    sized = idxd.select("idx", "xc", sizes).select(
        F.col("sz").cast("long").alias("sz"),
        F.expr("(idx - 1) div sz").alias("blk"),
        "idx",
        "xc",
    )
    wb = Window.partitionBy("sz", "blk")
    wk = wb.orderBy("idx")
    sized = sized.withColumn("k", F.row_number().over(wk).cast("long"))
    dev = sized.select(
        "sz",
        "blk",
        (
            F.col("sz")
            * F.sum("xc").over(wk.rowsBetween(Window.unboundedPreceding, 0))
            - F.col("k") * F.sum("xc").over(wb)
        ).cast("long").alias("d"),
        F.count(F.lit(1)).over(wb).cast("long").alias("nblk"),
        F.sum("xc").over(wb).cast("long").alias("s1"),
        F.sum(F.col("xc") * F.col("xc")).over(wb).cast("long").alias("s2"),
    )
    blocks = (
        dev.filter(F.col("nblk") == F.col("sz"))
        .groupBy("sz", "blk")
        .agg(
            (
                F.greatest(F.max("d"), F.lit(0))
                - F.least(F.min("d"), F.lit(0))
            ).alias("r_scaled"),
            (F.max("nblk") * F.max("s2") - F.max("s1") * F.max("s1")).alias(
                "var_num"
            ),
        )
    )
    lrs = blocks.filter(
        (F.col("var_num") > 0) & (F.col("r_scaled") > 0)
    ).select(
        "sz",
        F.round(
            F.log(F.col("r_scaled") * 1.0 / F.sqrt(F.col("var_num") * 1.0))
            * 1000000.0
        )
        .cast("long")
        .alias("q"),
    )
    pts = lrs.groupBy("sz").agg(
        F.round(F.log(F.col("sz") * 1.0) * 1000000.0).cast("long").alias("lx"),
        F.round(F.sum("q") * 1.0 / F.count(F.lit(1))).cast("long").alias("ly"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("lx").cast("long").alias("sx"),
        F.sum("ly").cast("long").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).cast("long").alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).cast("long").alias("sxx"),
        F.sum("n_blocks").cast("long").alias("nb"),
    )
    n_days = idxd.count()
    np_, sx, sy = F.col("np"), F.col("sx"), F.col("sy")
    return m.select(
        F.lit(n_days).cast("long").alias("n_days"),
        np_.alias("n_sizes"),
        F.col("nb").alias("n_blocks"),
        stable_round(
            (np_ * F.col("sxy") - sx * 1.0 * sy) / (np_ * F.col("sxx") - sx * 1.0 * sx),
            6,
        ).alias("hurst_h"),
    )


_AJ_STEP = """
    SELECT i.idx, i.dur, i.d1, i.d2, i.c, i.n_risk,
           (round((k.cif1 + k.s * (i.d1 * CAST(1.0 AS DOUBLE) / i.n_risk)) * 1000000.0)
            / 1000000.0),
           (round((k.cif2 + k.s * (i.d2 * CAST(1.0 AS DOUBLE) / i.n_risk)) * 1000000.0)
            / 1000000.0),
           (round((k.s * (CAST(1.0 AS DOUBLE) - (i.d1 + i.d2) * CAST(1.0 AS DOUBLE) / i.n_risk)) * 1000000.0)
            / 1000000.0)
"""


@register(
    "q_aalen_johansen",
    oracle=f"""
WITH RECURSIVE f AS (
    SELECT user_id, min(epoch_us(ts)) AS first_us FROM events GROUP BY user_id
),
fp AS (
    SELECT user_id, min(epoch_us(ts)) AS p_us
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
fe AS (
    SELECT user_id, min(epoch_us(ts)) AS e_us
    FROM events WHERE event_type = 'error' GROUP BY user_id
),
subj AS (
    SELECT f.user_id,
           CASE
               WHEN fp.p_us IS NOT NULL
                    AND (fe.e_us IS NULL OR fp.p_us <= fe.e_us)
                    AND (fp.p_us - f.first_us) // 3600000000 <= 60
                   THEN (fp.p_us - f.first_us) // 3600000000
               WHEN fe.e_us IS NOT NULL
                    AND (fp.p_us IS NULL OR fe.e_us < fp.p_us)
                    AND (fe.e_us - f.first_us) // 3600000000 <= 60
                   THEN (fe.e_us - f.first_us) // 3600000000
               ELSE 60
           END AS dur,
           CASE
               WHEN fp.p_us IS NOT NULL
                    AND (fe.e_us IS NULL OR fp.p_us <= fe.e_us)
                    AND (fp.p_us - f.first_us) // 3600000000 <= 60
                   THEN 1
               WHEN fe.e_us IS NOT NULL
                    AND (fp.p_us IS NULL OR fe.e_us < fp.p_us)
                    AND (fe.e_us - f.first_us) // 3600000000 <= 60
                   THEN 2
               ELSE 0
           END AS cause
    FROM f
    LEFT JOIN fp ON f.user_id = fp.user_id
    LEFT JOIN fe ON f.user_id = fe.user_id
),
tbl AS (
    SELECT CAST(dur AS BIGINT) AS dur,
           CAST(sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
           CAST(sum(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
           CAST(sum(CASE WHEN cause = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c
    FROM subj GROUP BY 1
),
idxd AS (
    SELECT dur, d1, d2, c,
           CAST(row_number() OVER (ORDER BY dur) AS BIGINT) AS idx,
           CAST(sum(d1 + d2 + c) OVER () - coalesce(sum(d1 + d2 + c) OVER (
               ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk
    FROM tbl
),
aj AS (
    SELECT idx, dur, d1, d2, c, n_risk,
           (round((d1 * CAST(1.0 AS DOUBLE) / n_risk) * 1000000.0) / 1000000.0) AS cif1,
           (round((d2 * CAST(1.0 AS DOUBLE) / n_risk) * 1000000.0) / 1000000.0) AS cif2,
           (round((CAST(1.0 AS DOUBLE) - (d1 + d2) * CAST(1.0 AS DOUBLE) / n_risk) * 1000000.0) / 1000000.0) AS s
    FROM idxd WHERE idx = 1
    UNION ALL
{_AJ_STEP}
    FROM aj k JOIN idxd i ON i.idx = k.idx + 1
)
SELECT dur AS hours, n_risk, d1 AS n_purchase, d2 AS n_error, c AS n_censored,
       cif1 AS cif_purchase, cif2 AS cif_error, s AS survival_eventfree
FROM aj
""",
    description=(
        "Aalen-Johansen cumulative incidence under competing risks: "
        "each user's FIRST of purchase-vs-error (whole hours from "
        "their first event, 60 h administrative censoring) is the "
        "event, and the other cause competes — CIF_k(t) = "
        "sum s<=t of S(s-) * d_k(s)/n(s), with S the all-cause KM "
        "survival. This completes the survival family "
        "(q_kaplan_meier single-cause curve, q_nelson_aalen hazard, "
        "q_logrank_test comparison, q_cox_ph regression, "
        "q_survival_rmst summary): naive '1 - KM per cause' "
        "overestimates incidence when causes compete, AJ is the "
        "correct decomposition (cif1 + cif2 + S sums to ~1). Same "
        "scale shape as KM: two per-user aggregates are the only "
        "data-sized work, then a <=61-row WITH RECURSIVE chain "
        "carrying (S, CIF1, CIF2) with per-step 6dp re-rounding."
    ),
    tags=("analytics", "extension", "stats", "survival", "recursive"),
)
def q_aalen_johansen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(F.min(F.unix_micros("ts")).alias("first_us"))
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("p_us"))
    )
    fe = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("e_us"))
    )
    ph = F.floor((F.col("p_us") - F.col("first_us")) / F.lit(3600000000))
    eh = F.floor((F.col("e_us") - F.col("first_us")) / F.lit(3600000000))
    p_wins = (
        F.col("p_us").isNotNull()
        & (F.col("e_us").isNull() | (F.col("p_us") <= F.col("e_us")))
        & (ph <= 60)
    )
    e_wins = (
        F.col("e_us").isNotNull()
        & (F.col("p_us").isNull() | (F.col("e_us") < F.col("p_us")))
        & (eh <= 60)
    )
    subj = (
        f.join(fp, "user_id", "left")
        .join(fe, "user_id", "left")
        .select(
            F.when(p_wins, ph).when(e_wins, eh).otherwise(F.lit(60))
            .cast("long")
            .alias("dur"),
            F.when(p_wins, 1).when(e_wins, 2).otherwise(0).alias("cause"),
        )
    )
    tbl = subj.groupBy("dur").agg(
        F.sum(F.when(F.col("cause") == 1, 1).otherwise(0)).cast("long").alias("d1"),
        F.sum(F.when(F.col("cause") == 2, 1).otherwise(0)).cast("long").alias("d2"),
        F.sum(F.when(F.col("cause") == 0, 1).otherwise(0)).cast("long").alias("c"),
    )
    w_all = Window.partitionBy()
    w_prev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    tot = F.col("d1") + F.col("d2") + F.col("c")
    idxd = tbl.select(
        "dur",
        "d1",
        "d2",
        "c",
        F.row_number().over(Window.orderBy("dur")).cast("long").alias("idx"),
        (
            F.sum(tot).over(w_all)
            - F.coalesce(F.sum(tot).over(w_prev), F.lit(0))
        ).cast("long").alias("n_risk"),
    )
    idxd.createOrReplaceTempView("v_aj_idxd")
    return spark.sql(
        f"""
WITH RECURSIVE aj AS (
    SELECT idx, dur, d1, d2, c, n_risk,
           (round((d1 * CAST(1.0 AS DOUBLE) / n_risk) * 1000000.0) / 1000000.0) AS cif1,
           (round((d2 * CAST(1.0 AS DOUBLE) / n_risk) * 1000000.0) / 1000000.0) AS cif2,
           (round((CAST(1.0 AS DOUBLE) - (d1 + d2) * CAST(1.0 AS DOUBLE) / n_risk) * 1000000.0) / 1000000.0) AS s
    FROM v_aj_idxd WHERE idx = 1
    UNION ALL
{_AJ_STEP}
    FROM aj k JOIN v_aj_idxd i ON i.idx = k.idx + 1
)
SELECT dur AS hours, n_risk, d1 AS n_purchase, d2 AS n_error, c AS n_censored,
       cif1 AS cif_purchase, cif2 AS cif_error, s AS survival_eventfree
FROM aj
"""
    )


@register(
    "q_hill_tail_index",
    oracle="""
WITH u AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY user_id
),
topk AS (
    SELECT x, CAST(row_number() OVER (ORDER BY x DESC, user_id) AS BIGINT) AS rk
    FROM u QUALIFY rk <= 101
),
thr AS (SELECT x AS xk FROM topk WHERE rk = 101),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(CAST(round(ln(t.x * 1.0 / thr.xk) * 1000000000.0) AS BIGINT))
                AS BIGINT) AS s_q
    FROM topk t CROSS JOIN thr
    WHERE t.rk <= 100
)
SELECT m.k AS k_order_stats,
       (SELECT xk FROM thr) AS threshold_count,
       (round((m.k * 1000000000.0 / m.s_q) * 1000000.0) / 1000000.0)
           AS hill_alpha,
       (round(((m.k * 1000000000.0 / m.s_q)
               / sqrt(m.k * 1.0)) * 1000000.0) / 1000000.0) AS alpha_se
FROM m
""",
    description=(
        "Hill estimator of the power-law tail index of per-user "
        "activity: alpha = k / sum ln(x_(i)/x_(k+1)) over the top "
        "k=100 order statistics, with the asymptotic SE alpha/sqrt(k) "
        "— the heavy-tail diagnostic that decides whether means and "
        "variances of engagement metrics even exist (alpha <= 2: "
        "infinite variance, every mean-based A/B readout above is "
        "suspect), complementing q_gumbel_extremes (block maxima) "
        "and q_zipf_fit (rank-frequency slope) as the third classical "
        "tail lens. The top-(k+1) extraction is a TakeOrdered (never "
        "a global sort); the log spacings fold as 1e-9-quantized "
        "BIGINTs so the sum is order-free, and alpha is one final "
        "division."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("x"))
    topk = (
        u.orderBy(F.desc("x"), F.asc("user_id"))
        .limit(101)
        .select(
            "x",
            F.row_number()
            .over(Window.orderBy(F.desc("x"), F.asc("user_id")))
            .cast("long")
            .alias("rk"),
        )
    )
    thr = topk.filter(F.col("rk") == 101).select(F.col("x").alias("xk"))
    m = (
        topk.filter(F.col("rk") <= 100)
        .crossJoin(F.broadcast(thr))
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum(
                F.round(
                    F.log(F.col("x") * 1.0 / F.col("xk")) * 1000000000.0
                ).cast("long")
            )
            .cast("long")
            .alias("s_q"),
            F.max("xk").alias("threshold_count"),
        )
    )
    alpha = F.col("k") * 1000000000.0 / F.col("s_q")
    return m.select(
        F.col("k").alias("k_order_stats"),
        "threshold_count",
        stable_round(alpha, 6).alias("hill_alpha"),
        stable_round(alpha / F.sqrt(F.col("k") * 1.0), 6).alias("alpha_se"),
    )


@register(
    "q_mediation_analysis",
    oracle=f"""
WITH u AS (
    SELECT user_id,
           CASE WHEN {_ARM_A_SQL} THEN 1 ELSE 0 END AS t,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS m,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS y
    FROM events GROUP BY user_id
),
mo AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(t) AS BIGINT) AS st, CAST(sum(m) AS BIGINT) AS sm,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(t * m) AS BIGINT) AS stm, CAST(sum(t * y) AS BIGINT) AS sty,
           CAST(sum(m * y) AS BIGINT) AS smy, CAST(sum(m * m) AS BIGINT) AS smm
    FROM u
),
fit AS (
    SELECT n,
           (round(((n * stm - st * 1.0 * sm) / (n * st - st * 1.0 * st))
                  * 1000000.0) / 1000000.0) AS a_path,
           (round(((n * sty - st * 1.0 * sy) / (n * st - st * 1.0 * st) / 100.0)
                  * 1000000.0) / 1000000.0) AS total_effect,
           (round((((n * smy - sm * 1.0 * sy) * (n * st - st * 1.0 * st)
                    - (n * sty - st * 1.0 * sy) * (n * stm - st * 1.0 * sm))
                   / ((n * smm - sm * 1.0 * sm) * (n * st - st * 1.0 * st)
                      - (n * stm - st * 1.0 * sm) * (n * stm - st * 1.0 * sm))
                   / 100.0) * 1000000.0) / 1000000.0) AS b_path
    FROM mo
)
SELECT n AS n_users, a_path, b_path, total_effect,
       (round((a_path * b_path) * 1000000.0) / 1000000.0) AS indirect_effect,
       (round((total_effect - a_path * b_path) * 1000000.0) / 1000000.0)
           AS direct_effect,
       CASE WHEN total_effect <> 0
            THEN (round((a_path * b_path / total_effect) * 1000000.0) / 1000000.0)
       END AS prop_mediated
FROM fit
""",
    description=(
        "Causal mediation analysis (product-of-coefficients): does "
        "the assignment move purchase value THROUGH clicks? a = "
        "effect of t on the mediator m (binary-t OLS), b = effect of "
        "m on y controlling for t (two-regressor OLS, closed form "
        "via the partialled normal equations), indirect = a*b, "
        "direct = total - a*b, proportion mediated — the "
        "mechanism-decomposition member of the causal family "
        "(ATE/DiD/IV say THAT it works; mediation says through WHAT). "
        "One per-user pass -> one 8-moment exact-BIGINT fold -> "
        "closed-form coefficients, every emitted double a "
        "6dp-rounded single expression, the rounded a/b composed "
        "identically on both engines for the derived columns."
    ),
    tags=("analytics", "extension", "stats", "causal"),
)
def q_mediation_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(F.first(_arm_a()), 1).otherwise(0).alias("t"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("m"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("y"),
    )
    t, m_, y = F.col("t"), F.col("m"), F.col("y")
    mo = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(t).cast("long").alias("st"),
        F.sum(m_).cast("long").alias("sm"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(t * m_).cast("long").alias("stm"),
        F.sum(t * y).cast("long").alias("sty"),
        F.sum(m_ * y).cast("long").alias("smy"),
        F.sum(m_ * m_).cast("long").alias("smm"),
    )
    n, st, sm, sy = F.col("n"), F.col("st"), F.col("sm"), F.col("sy")
    stm, sty, smy, smm = F.col("stm"), F.col("sty"), F.col("smy"), F.col("smm")
    ctt = n * st - st * 1.0 * st
    a = stable_round((n * stm - st * 1.0 * sm) / ctt, 6)
    tot = stable_round((n * sty - st * 1.0 * sy) / ctt / 100.0, 6)
    b = stable_round(
        (
            (n * smy - sm * 1.0 * sy) * ctt
            - (n * sty - st * 1.0 * sy) * (n * stm - st * 1.0 * sm)
        )
        / (
            (n * smm - sm * 1.0 * sm) * ctt
            - (n * stm - st * 1.0 * sm) * (n * stm - st * 1.0 * sm)
        )
        / 100.0,
        6,
    )
    fit = mo.select(n.alias("n_users"), a.alias("a_path"), b.alias("b_path"), tot.alias("total_effect"))
    ap, bp, te = F.col("a_path"), F.col("b_path"), F.col("total_effect")
    return fit.select(
        "n_users",
        "a_path",
        "b_path",
        "total_effect",
        stable_round(ap * bp, 6).alias("indirect_effect"),
        stable_round(te - ap * bp, 6).alias("direct_effect"),
        F.when(te != 0, stable_round(ap * bp / te, 6)).alias("prop_mediated"),
    )


@register(
    "q_regression_discontinuity",
    oracle="""
WITH u AS (
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS r,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS y
    FROM events GROUP BY user_id
),
w AS (
    SELECT (r - 3) AS x, y, (r >= 3) AS above
    FROM u WHERE r >= 0 AND r <= 6
),
mo AS (
    SELECT above,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
    FROM w GROUP BY above
),
fit AS (
    SELECT above, n,
           (round(((n * sxy - sx * 1.0 * sy) / (n * sxx - sx * 1.0 * sx))
                  * 1000000.0) / 1000000.0) AS slope,
           (round(((sy * 1.0 / n)
                   - ((round(((n * sxy - sx * 1.0 * sy) / (n * sxx - sx * 1.0 * sx))
                             * 1000000.0) / 1000000.0)) * (sx * 1.0 / n))
                  * 1000000.0) / 1000000.0) AS intercept_at_cutoff
    FROM mo
)
SELECT (SELECT n FROM fit WHERE above) AS n_above,
       (SELECT n FROM fit WHERE NOT above) AS n_below,
       (SELECT intercept_at_cutoff FROM fit WHERE above) / 100.0 AS y_above_cutoff,
       (SELECT intercept_at_cutoff FROM fit WHERE NOT above) / 100.0 AS y_below_cutoff,
       (round((((SELECT intercept_at_cutoff FROM fit WHERE above)
                - (SELECT intercept_at_cutoff FROM fit WHERE NOT above)) / 100.0)
              * 1000000.0) / 1000000.0) AS rdd_effect,
       (SELECT slope FROM fit WHERE above) / 100.0 AS slope_above,
       (SELECT slope FROM fit WHERE NOT above) / 100.0 AS slope_below
""",
    description=(
        "Sharp regression discontinuity: purchase value as a function "
        "of the running variable (clicks) with a cutoff at 3, local "
        "linear fits on each side within a +-3 bandwidth, effect = "
        "the jump between the two intercepts AT the cutoff — the "
        "threshold-rule member of the causal family (when assignment "
        "follows a score cutoff, neither randomization (z-test) nor "
        "parallel trends (DiD) is available, and comparing raw side "
        "means is biased by the running-variable slope RDD removes). "
        "Two closed-form OLS fits from ONE grouped 5-moment "
        "exact-BIGINT pass (the running variable is re-centered so "
        "each intercept IS the value at the cutoff); the rounded "
        "slope feeds the intercept identically on both engines."
    ),
    tags=("analytics", "extension", "stats", "causal"),
)
def q_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("r"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("y"),
    )
    w = u.filter((F.col("r") >= 0) & (F.col("r") <= 6)).select(
        (F.col("r") - 3).alias("x"), "y", (F.col("r") >= 3).alias("above")
    )
    x, y = F.col("x"), F.col("y")
    mo = w.groupBy("above").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * y).cast("long").alias("sxy"),
        F.sum(x * x).cast("long").alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    slope = stable_round(
        (n * F.col("sxy") - sx * 1.0 * sy) / (n * F.col("sxx") - sx * 1.0 * sx), 6
    )
    fit = mo.select(
        "above",
        n.alias("n"),
        slope.alias("slope"),
        stable_round(sy * 1.0 / n - slope * (sx * 1.0 / n), 6).alias(
            "intercept_at_cutoff"
        ),
    ).persist()
    try:
        rows_ab = fit.filter(F.col("above")).collect()
        rows_be = fit.filter(~F.col("above")).collect()
    finally:
        fit.unpersist()
    ab = rows_ab[0] if rows_ab else None
    be = rows_be[0] if rows_be else None

    def g(row, col, scale=1.0):
        return None if row is None or row[col] is None else row[col] / scale

    eff = (
        None
        if ab is None or be is None
        else stable_round_py((ab["intercept_at_cutoff"] - be["intercept_at_cutoff"]) / 100.0, 6)
    )
    return local_frame(
        u.sparkSession,
        [
            (
                None if ab is None else int(ab["n"]),
                None if be is None else int(be["n"]),
                g(ab, "intercept_at_cutoff", 100.0),
                g(be, "intercept_at_cutoff", 100.0),
                eff,
                g(ab, "slope", 100.0),
                g(be, "slope", 100.0),
            )
        ],
        "n_above long, n_below long, y_above_cutoff double, y_below_cutoff double, "
        "rdd_effect double, slope_above double, slope_below double",
    )


@register(
    "q_gmm_em_step",
    oracle="""
WITH u AS (
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS v
    FROM events GROUP BY user_id
),
g AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY v),
b AS (
    SELECT CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi FROM g
),
ini AS (
    SELECT lo + (hi - lo) / 4.0 AS mu1, lo + 3.0 * (hi - lo) / 4.0 AS mu2,
           (hi - lo) / 4.0 AS sg
    FROM b
),
resp AS (
    SELECT v, c,
           CAST(round((1.0 / (1.0 + exp(((v - mu2) * (v - mu2)
                                         - (v - mu1) * (v - mu1))
                                        / (2.0 * sg * sg))))
                      * 1000000000.0) AS BIGINT) AS w2
    FROM g CROSS JOIN ini
),
m AS (
    SELECT CAST(sum(c) AS BIGINT) AS n,
           CAST(sum(c * w2) AS BIGINT) AS sw2,
           CAST(sum(c * w2 * v) AS BIGINT) AS swv2,
           CAST(sum(c * (1000000000 - w2)) AS BIGINT) AS sw1,
           CAST(sum(c * (1000000000 - w2) * v) AS BIGINT) AS swv1
    FROM resp
)
SELECT n,
       (round((sw2 * 1.0 / (n * 1000000000.0)) * 1000000.0) / 1000000.0)
           AS pi2,
       (round((swv1 / (sw1 * 100.0)) * 1000000.0) / 1000000.0) AS mu1_new,
       (round((swv2 / (sw2 * 100.0)) * 1000000.0) / 1000000.0) AS mu2_new
FROM m
""",
    description=(
        "One EM step of a 2-component Gaussian mixture over per-user "
        "purchase value (deterministic quartile-anchored init from the "
        "broadcast min/max): E-step responsibilities in one exp "
        "expression per DISTINCT cent value, quantized to integer "
        "nano-weights so every M-step moment (mixing weight, both "
        "component means) folds as an exact BIGINT sum — the same "
        "distinct-value-table discipline as the rank statistics, so "
        "the only float work is one bounded expression per distinct "
        "value and three final divisions. The canonical "
        "soft-clustering / latent-class step; further EM rounds are "
        "the same one-aggregation shape with updated constants."
    ),
    tags=("analytics", "extension", "stats", "clustering"),
)
def q_gmm_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("v")
    )
    g = u.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    b = g.agg(
        F.min("v").cast("long").alias("lo"), F.max("v").cast("long").alias("hi")
    )
    ini = b.select(
        (F.col("lo") + (F.col("hi") - F.col("lo")) / 4.0).alias("mu1"),
        (F.col("lo") + 3.0 * (F.col("hi") - F.col("lo")) / 4.0).alias("mu2"),
        ((F.col("hi") - F.col("lo")) / 4.0).alias("sg"),
    )
    v = F.col("v")
    w2 = F.round(
        (
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(
                    ((v - F.col("mu2")) * (v - F.col("mu2"))
                     - (v - F.col("mu1")) * (v - F.col("mu1")))
                    / (F.lit(2.0) * F.col("sg") * F.col("sg"))
                )
            )
        )
        * 1000000000.0
    ).cast("long")
    resp = g.crossJoin(F.broadcast(ini)).select("v", "c", w2.alias("w2"))
    m = resp.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("w2")).cast("long").alias("sw2"),
        F.sum(F.col("c") * F.col("w2") * F.col("v")).cast("long").alias("swv2"),
        F.sum(F.col("c") * (F.lit(1000000000) - F.col("w2"))).cast("long").alias("sw1"),
        F.sum(F.col("c") * (F.lit(1000000000) - F.col("w2")) * F.col("v"))
        .cast("long")
        .alias("swv1"),
    )
    return m.select(
        "n",
        stable_round(F.col("sw2") * 1.0 / (F.col("n") * 1000000000.0), 6).alias("pi2"),
        stable_round(F.col("swv1") / (F.col("sw1") * 100.0), 6).alias("mu1_new"),
        stable_round(F.col("swv2") / (F.col("sw2") * 100.0), 6).alias("mu2_new"),
    )


# Viterbi recursion step for the 2-state burst HMM, shared verbatim by
# both engines (costs pre-rounded per day; the recursion only ever adds
# and compares, re-rounding to 6dp each step).
_BURST_STEP = """    SELECT d.idx, d.day, d.c,
           (round((d.e0 + least(h.v0, h.v1 + 5.0)) * 1000000.0) / 1000000.0),
           (round((d.e1 + least(h.v1, h.v0 + 5.0)) * 1000000.0) / 1000000.0),
           CASE WHEN h.v0 <= h.v1 + 5.0 THEN h.p0 ELSE h.p1 END || '0',
           CASE WHEN h.v1 <= h.v0 + 5.0 THEN h.p1 ELSE h.p0 END || '1'"""


@register(
    "q_burst_viterbi",
    oracle=f"""
WITH RECURSIVE raw AS (
    SELECT time_bucket(INTERVAL '1 day', ts) AS day,
           CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1
),
r0 AS (
    SELECT (round(avg(c) * 10000.0) / 10000.0) AS base FROM raw
),
idxd AS (
    SELECT day, c,
           CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx,
           (round((base - c * ln(base)) * 1000000.0) / 1000000.0) AS e0,
           (round((2.0 * base - c * ln(2.0 * base)) * 1000000.0)
            / 1000000.0) AS e1
    FROM raw CROSS JOIN r0
),
vit(idx, day, c, v0, v1, p0, p1) AS (
    SELECT idx, day, c, e0, e1, '0', '1' FROM idxd WHERE idx = 1
    UNION ALL
{_BURST_STEP}
    FROM vit h JOIN idxd d ON d.idx = h.idx + 1
),
last AS (SELECT * FROM vit WHERE idx = (SELECT max(idx) FROM vit)),
best AS (SELECT CASE WHEN v0 <= v1 THEN p0 ELSE p1 END AS path FROM last)
SELECT strftime(d.day, '%Y-%m-%d') AS day, d.c AS n_events,
       CAST(substring(path, CAST(d.idx AS INTEGER), 1) AS BIGINT) AS state
FROM idxd d CROSS JOIN best
ORDER BY d.day
""",
    description=(
        "Kleinberg-style burst detection by exact 2-state Viterbi "
        "decoding over the daily event-count series: baseline state "
        "emits Poisson(rate=mean), burst state Poisson(2*mean) "
        "(negative log-likelihood costs, constant terms dropped), "
        "switching penalty 5.0 — the minimum-cost state PATH, not a "
        "per-day threshold, so one quiet day inside a burst stays "
        "labeled burst. The Viterbi argmin backtrace is carried "
        "FORWARD as a path string inside the native WITH RECURSIVE "
        "chain (both engines run the identical step expression; "
        "per-day emission costs are pre-rounded, per-step totals "
        "re-rounded to 6dp, ties prefer staying). Recursion depth = "
        "days; the only data-sized work is the daily count aggregate."
    ),
    tags=("analytics", "extension", "timeseries", "recursive"),
)
def q_burst_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    raw = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    r0 = raw.agg((F.round(F.avg("c") * 10000.0) / 10000.0).alias("base"))
    idxd = (
        raw.crossJoin(F.broadcast(r0))
        .select(
            "day",
            "c",
            F.row_number().over(Window.orderBy("day")).cast("long").alias("idx"),
            stable_round(F.col("base") - F.col("c") * F.log("base"), 6).alias("e0"),
            stable_round(
                2.0 * F.col("base") - F.col("c") * F.log(2.0 * F.col("base")), 6
            ).alias("e1"),
        )
    )
    # 30 recursion steps each re-open the view: checkpoint the 30-row
    # daily table once so the per-step cost is a local scan, not a
    # re-run of the events aggregate.
    idxd = idxd.localCheckpoint(eager=True)
    idxd.createOrReplaceTempView("v_burst_daily")
    return spark.sql(
        f"""
WITH RECURSIVE vit(idx, day, c, v0, v1, p0, p1) AS (
    SELECT idx, day, c, e0, e1, '0', '1' FROM v_burst_daily WHERE idx = 1
    UNION ALL
{_BURST_STEP}
    FROM vit h JOIN v_burst_daily d ON d.idx = h.idx + 1
),
last AS (SELECT * FROM vit WHERE idx = (SELECT max(idx) FROM vit)),
best AS (SELECT CASE WHEN v0 <= v1 THEN p0 ELSE p1 END AS path FROM last)
SELECT date_format(d.day, 'yyyy-MM-dd') AS day, d.c AS n_events,
       CAST(substring(path, CAST(d.idx AS INT), 1) AS BIGINT) AS state
FROM v_burst_daily d CROSS JOIN best
ORDER BY d.day
"""
    )


def _esd_oracle_sql(rounds: int = 3) -> str:
    """Unrolled generalized-ESD rounds: round i removes the max-|z| day
    of the remaining series; all moments fold as exact integer cents."""
    parts = [
        """d0 AS MATERIALIZED (
    SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS DATE) AS day,
           CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS x
    FROM events GROUP BY 1
)"""
    ]
    sel = []
    for i in range(1, rounds + 1):
        prev = f"d{i - 1}"
        parts.append(
            f"""m{i} AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
           CAST(sum(x * x) AS BIGINT) AS s2
    FROM {prev}
)"""
        )
        parts.append(
            f"""p{i} AS (
    SELECT day, x, abs(x * (SELECT n FROM m{i}) - (SELECT s FROM m{i})) AS dev
    FROM {prev}
)"""
        )
        parts.append(
            f"""o{i} AS MATERIALIZED (
    SELECT day, x, dev FROM p{i}
    WHERE dev = (SELECT max(dev) FROM p{i})
    ORDER BY day LIMIT 1
)"""
        )
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT day, x FROM {prev} "
            f"WHERE day <> (SELECT day FROM o{i}))"
        )
        sel.append(
            f"""SELECT CAST({i} AS BIGINT) AS k, strftime(o{i}.day, '%Y-%m-%d') AS day,
       (round((o{i}.x / 100.0) * 1000000.0) / 1000000.0) AS revenue,
       (round((o{i}.dev / ((SELECT n FROM m{i})
               * sqrt(((SELECT n FROM m{i}) * (SELECT s2 FROM m{i})
                       - (SELECT s FROM m{i}) * (SELECT s FROM m{i})) * 1.0
                      / ((SELECT n FROM m{i}) * ((SELECT n FROM m{i}) - 1)))))
              * 1000000.0) / 1000000.0) AS r_stat
FROM o{i}"""
        )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(sel) + "\nORDER BY k"


@register(
    "q_esd_outliers",
    oracle=_esd_oracle_sql(),
    description=(
        "Generalized ESD (extreme studentized deviate) outlier rounds "
        "on daily purchase revenue: three rounds of remove-the-max-|z| "
        "day with the mean/std REFIT after each removal — the masking-"
        "proof version of a z-score cut (one huge outlier inflates "
        "the std and hides the second; ESD's refitting uncovers it), "
        "and the core of production time-series anomaly detectors. "
        "Deviations are held as the exact integer |x*n - S| so the "
        "per-round argmax is integer comparison (ties to earliest "
        "day); the studentized R statistic is one float expression "
        "over exact moment sums. The series is day-grain, so every "
        "round is metadata-scale after the one data-sized daily "
        "aggregate."
    ),
    tags=("analytics", "extension", "timeseries", "anomaly"),
)
def q_esd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("x")
        )
    ).localCheckpoint(eager=True)
    rows = []
    for k in range(1, 4):
        m = d.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("s"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
        ).collect()[0]
        n, s, s2 = m["n"], m["s"], m["s2"]
        p = d.select(
            "day", "x", F.abs(F.col("x") * n - F.lit(s)).cast("long").alias("dev")
        )
        mx = p.agg(F.max("dev").alias("mx")).collect()[0]["mx"]
        o = p.filter(F.col("dev") == mx).orderBy("day").limit(1).collect()[0]
        import math

        r_stat = o["dev"] / (n * math.sqrt((n * s2 - s * s) * 1.0 / (n * (n - 1))))
        rows.append((k, o["day"].strftime("%Y-%m-%d"), o["x"] / 100.0, r_stat))
        d = d.filter(F.col("day") != F.lit(o["day"])).localCheckpoint(eager=True)
    out = local_frame(spark, rows, "k long, day string, revenue double, r_stat double")
    return out.select(
        "k",
        "day",
        stable_round(F.col("revenue"), 6).alias("revenue"),
        stable_round(F.col("r_stat"), 6).alias("r_stat"),
    ).orderBy("k")

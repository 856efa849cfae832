"""MLOps statistics queries (split from queries_mlops for reviewable
module size; r6 verdict task 8): hypothesis testing and causal-inference
readouts — threshold sweeps, SRM checks, rank correlations (Spearman),
PR-AUC, propensity-score matching, DP histograms, covariate balance,
empirical-Bayes shrinkage, partial dependence, permutation importance,
Mahalanobis outliers, raking, Wilcoxon/McNemar/log-rank tests, SPRT,
odds/rate ratios, Cohen's d, Cochran-Armitage, Hosmer-Lemeshow, Brier
scores, and Wasserstein drift. Shared helpers import from queries_mlops.

All oracle-checked against DuckDB with identical arithmetic on both
sides; each query documents its 100 TB plan shape in its docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import half_away, stable_round, stable_round_sql
from healthcare_etl_spark.operators.logistic import LOGISTIC, irls_beta_ctes, irls_fit, logistic_p
from healthcare_etl_spark.plans.queries_mlops import _logistic_features, _logistic_features_sql
from healthcare_etl_spark.plans.registry import register
from healthcare_etl_spark.sources import load_table, local_frame

_SWEEP_THRESHOLDS = [i / 20.0 for i in range(1, 20)]


def _threshold_sweep_oracle() -> str:
    parts, final = irls_beta_ctes(_logistic_features_sql(), LOGISTIC)
    joined = ",\n".join(parts)
    thr_list = ", ".join(str(t) for t in _SWEEP_THRESHOLDS)
    return f"""WITH {joined},
scored AS (
    SELECT y, (1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1 + b.b2 * x2)))) AS p
    FROM feat CROSS JOIN {final} b
),
grid AS (
    SELECT s.y, s.p, t.thr
    FROM scored s CROSS JOIN
         (SELECT CAST(unnest([{thr_list}]) AS DOUBLE) AS thr) t
),
counts AS (
    SELECT thr,
           CAST(sum(CASE WHEN p > thr AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN p > thr AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN p <= thr AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(sum(CASE WHEN p <= thr AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
    FROM grid GROUP BY thr
)
SELECT thr, tp, fp, fn, tn,
       {stable_round_sql('2.0 * tp / (2.0 * tp + fp + fn)')}                        AS f1,
       {stable_round_sql('tp * 1.0 / (tp + fn) + tn * 1.0 / (tn + fp) - 1.0')}      AS youden_j
FROM counts
""".strip()


@register(
    "q_threshold_sweep",
    oracle=_threshold_sweep_oracle(),
    description=(
        "Classification threshold sweep for the IRLS model: the "
        "confusion matrix, F1 and Youden's J at 19 evenly-spaced "
        "cutoffs — the operating-point selection step between "
        "q_roc_auc (threshold-free discrimination) and deployment "
        "(one threshold must be picked). All counts are exact "
        "integers from ONE partial-aggregated pass over the "
        "users x 19 grid (the thresholds are literal doubles "
        "identical on both engines); the metrics are fixed rational "
        "expressions of those counts."
    ),
    tags=("analytics", "extension", "stats", "ml"),
)
def q_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    features = _logistic_features(spark, sf_dir)
    p = logistic_p(irls_fit(features, LOGISTIC))
    grid = features.select(
        "y",
        p.alias("p"),
        F.explode(F.array(*[F.lit(t) for t in _SWEEP_THRESHOLDS])).alias("thr"),
    )
    pos = F.col("p") > F.col("thr")
    y1 = F.col("y") == 1
    counts = grid.groupBy("thr").agg(
        F.sum(F.when(pos & y1, 1).otherwise(0)).alias("tp"),
        F.sum(F.when(pos & ~y1, 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~pos & y1, 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~pos & ~y1, 1).otherwise(0)).alias("tn"),
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    return counts.select(
        "thr",
        "tp",
        "fp",
        "fn",
        "tn",
        stable_round(2.0 * tp / (2.0 * tp + fp + fn), 6).alias("f1"),
        stable_round(
            tp * 1.0 / (tp + fn) + tn * 1.0 / (tn + fp) - 1.0, 6
        ).alias("youden_j"),
    )


@register(
    "q_ab_srm_check",
    oracle="""
WITH assigned AS (
    SELECT DISTINCT user_id,
           (('0x' || substring(md5('ab-v1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
            % 2) = 0 AS in_a
    FROM events
),
counts AS (
    SELECT CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
    FROM assigned
)
SELECT n_a, n_b,
       (round(((n_a - (n_a + n_b) * 0.5) * (n_a - (n_a + n_b) * 0.5)
               / ((n_a + n_b) * 0.5)
             + (n_b - (n_a + n_b) * 0.5) * (n_b - (n_a + n_b) * 0.5)
               / ((n_a + n_b) * 0.5)) * 1000000.0) / 1000000.0) AS chi2,
       ((n_a - (n_a + n_b) * 0.5) * (n_a - (n_a + n_b) * 0.5)
          / ((n_a + n_b) * 0.5)
        + (n_b - (n_a + n_b) * 0.5) * (n_b - (n_a + n_b) * 0.5)
          / ((n_a + n_b) * 0.5)) > 3.841 AS srm_flag
FROM counts
""",
    description=(
        "Sample-ratio-mismatch guardrail for the md5 50/50 experiment "
        "assignment every A/B query in this repo shares: one-degree "
        "chi-square of observed arm sizes against the expected 50/50, "
        "flagged at the 0.05 critical value (3.841). The FIRST check an "
        "experimentation platform runs — a failed SRM invalidates every "
        "downstream test (z, Welch, Mann-Whitney, CUPED) regardless of "
        "p-value. One distinct-user aggregate; the chi-square is a "
        "1-row fold."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    assigned = ev.select("user_id", in_a.alias("in_a")).distinct()
    counts = assigned.agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).alias("n_b"),
    )
    exp = (F.col("n_a") + F.col("n_b")) * F.lit(0.5)
    chi2 = (F.col("n_a") - exp) * (F.col("n_a") - exp) / exp + (
        F.col("n_b") - exp
    ) * (F.col("n_b") - exp) / exp
    return counts.select(
        "n_a",
        "n_b",
        stable_round(chi2, 6).alias("chi2"),
        (chi2 > F.lit(3.841)).alias("srm_flag"),
    )


@register(
    "q_spearman_corr",
    oracle="""
WITH u AS (
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
    FROM events GROUP BY user_id
),
hx AS (SELECT x AS v, CAST(count(*) AS BIGINT) AS t FROM u GROUP BY x),
rx AS (
    SELECT v,
           2 * CAST(coalesce(sum(t) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             + t + 1 AS r2
    FROM hx
),
hy AS (SELECT y AS v, CAST(count(*) AS BIGINT) AS t FROM u GROUP BY y),
ry AS (
    SELECT v,
           2 * CAST(coalesce(sum(t) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             + t + 1 AS r2
    FROM hy
),
j AS (
    SELECT rx.r2 AS a, ry.r2 AS b
    FROM u JOIN rx ON rx.v = u.x JOIN ry ON ry.v = u.y
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
           CAST(sum(a * b) AS BIGINT) AS sab,
           CAST(sum(a * a) AS BIGINT) AS saa,
           CAST(sum(b * b) AS BIGINT) AS sbb
    FROM j
)
SELECT n AS n_users,
       (round(((n * sab - sa * sb)
               / sqrt((n * saa - sa * sa) * 1.0 * (n * sbb - sb * sb)))
              * 1000000.0) / 1000000.0) AS spearman_rho
FROM m
""",
    description=(
        "Spearman rank correlation between per-user click and purchase "
        "counts — the monotone-association complement to the Pearson "
        "q_event_type_correlation (robust to the heavy-tailed count "
        "distributions engagement metrics actually have). Tie handling "
        "is EXACT via the doubled-average-rank trick shared with "
        "q_mann_whitney / q_roc_auc: per distinct value, 2*avg_rank = "
        "2*cum_before + t + 1 stays an integer, so every moment "
        "(Σa, Σab, Σa²) folds in BIGINT and rho is one final float "
        "expression (correlation is scale-invariant, so doubling "
        "cancels). The rank prefixes ride the DISTINCT-count tables, "
        "never user rows; at 100x user counts the same two-phase "
        "bucketed carry as q_mann_whitney applies (the distinct-count "
        "frames here are activity-bounded, i.e. max events per user). "
        "BIGINT moments hold to ~1e5 users per the 4n^3 bound; the "
        "DECIMAL(38) swap is the documented scale path."
    ),
    tags=("analytics", "extension", "stats"),
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("y"),
    )

    def rank2(col: str):
        h = u.groupBy(F.col(col).alias("v")).agg(F.count(F.lit(1)).alias("t"))
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        return h.select(
            "v",
            (2 * F.coalesce(F.sum("t").over(w), F.lit(0)) + F.col("t") + 1).alias("r2"),
        )

    rx = rank2("x").select(F.col("v").alias("x"), F.col("r2").alias("a"))
    ry = rank2("y").select(F.col("v").alias("y"), F.col("r2").alias("b"))
    j = u.join(F.broadcast(rx), "x").join(F.broadcast(ry), "y")
    m = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
    )
    n, sa, sb = F.col("n"), F.col("sa"), F.col("sb")
    num = n * F.col("sab") - sa * sb
    den = F.sqrt((n * F.col("saa") - sa * sa) * F.lit(1.0) * (n * F.col("sbb") - sb * sb))
    return m.select(
        n.alias("n_users"),
        stable_round(num / den, 6).alias("spearman_rho"),
    )


def _pr_auc_oracle() -> str:
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
    SELECT p, CAST(count(*) AS BIGINT) AS t, CAST(sum(y) AS BIGINT) AS tp
    FROM scored GROUP BY p
),
cum AS (
    SELECT p, t, tp,
           CAST(sum(t)  OVER (ORDER BY p DESC) AS BIGINT) AS cum_n,
           CAST(sum(tp) OVER (ORDER BY p DESC) AS BIGINT) AS cum_tp
    FROM grp
),
terms AS (
    SELECT tp, cum_n, cum_tp,
           CAST(round(tp * cum_tp * 10000000000.0 / cum_n) AS BIGINT) AS tq
    FROM cum
),
m AS (
    SELECT CAST(sum(tp) AS BIGINT) AS n_pos,
           CAST(sum(tq) AS BIGINT) AS ap_q
    FROM terms
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM scored)
SELECT n_pos,
       (n_all - n_pos) AS n_neg,
       (round((ap_q / 10000000000.0 / n_pos) * 1000000.0) / 1000000.0)
           AS average_precision,
       (round((n_pos * 1.0 / n_all) * 1000000.0) / 1000000.0) AS prevalence
FROM m CROSS JOIN tot
""".strip()


@register(
    "q_pr_auc",
    oracle=_pr_auc_oracle(),
    description=(
        "Precision-recall AUC (average precision, tie-grouped step "
        "form) of the IRLS model: AP = sum over descending score "
        "groups of tp_g * precision-at-group-end / n_pos — the "
        "metric that stays honest under class imbalance where "
        "q_roc_auc saturates (a 0.1% positive rate makes almost "
        "any ranker look ROC-great; AP compares against the "
        "prevalence baseline reported alongside). Scores are "
        "6dp-rounded BEFORE grouping so the distinct-score table "
        "is bounded, and the descending cumulative rides the "
        "two-phase bucketed carry ((-pm) div 4096 buckets — no "
        "single-partition sort even over the bounded table); "
        "precisions are exact BIGINT ratios, and per-group terms "
        "are quantized to BIGINT at 1e-10 before the final sum — "
        "no float accumulation order anywhere."
    ),
    tags=("analytics", "extension", "stats", "ml", "evaluation"),
)
def q_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    features = _logistic_features(spark, sf_dir)
    beta = irls_fit(features, LOGISTIC)
    # Integer micro-prob key (pm/1e6 == the oracle's 6dp p,
    # injective), grouped once; the descending cumulative rides
    # the two-phase bucketed carry: (-pm) div 4096 is a monotone
    # coarsening of pm DESC (truncating div is monotone), so
    # in-bucket inclusive windows are fully partitioned and the
    # keyless prefix only ever sees the <=245-row bucket summary.
    pm = F.round(logistic_p(beta) * 1000000.0).cast("long")
    scored = features.select(pm.alias("pm"), "y")
    grp = scored.groupBy("pm").agg(
        F.count(F.lit(1)).alias("t"), F.sum("y").alias("tp")
    )
    bkt = grp.withColumn("bkt", F.expr("(-pm) div 4096"))
    w_in = (
        Window.partitionBy("bkt")
        .orderBy(F.desc("pm"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rows = bkt.withColumn("cin_n", F.sum("t").over(w_in)).withColumn(
        "cin_tp", F.sum("tp").over(w_in)
    )
    btot = bkt.groupBy("bkt").agg(
        F.sum("t").alias("bv_n"), F.sum("tp").alias("bv_tp")
    )
    w_b = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bprev = btot.select(
        "bkt",
        F.sum("bv_n").over(w_b).alias("prev_n"),
        F.sum("bv_tp").over(w_b).alias("prev_tp"),
    )
    cum = rows.join(F.broadcast(bprev), "bkt").select(
        "t",
        "tp",
        (F.col("cin_n") + F.coalesce(F.col("prev_n"), F.lit(0)))
        .cast("long")
        .alias("cum_n"),
        (F.col("cin_tp") + F.coalesce(F.col("prev_tp"), F.lit(0)))
        .cast("long")
        .alias("cum_tp"),
    )
    terms = cum.select(
        "t",
        "tp",
        F.round(
            F.col("tp") * F.col("cum_tp") * 10000000000.0 / F.col("cum_n")
        )
        .cast("long")
        .alias("tq"),
    )
    # every score group survives the bucket join, so sum(t) counts all users
    m = terms.agg(
        F.sum("t").cast("long").alias("n_all"),
        F.sum("tp").cast("long").alias("n_pos"),
        F.sum("tq").cast("long").alias("ap_q"),
    )
    return m.select(
        F.col("n_pos"),
        (F.col("n_all") - F.col("n_pos")).cast("long").alias("n_neg"),
        stable_round(
            F.col("ap_q") / 10000000000.0 / F.col("n_pos"), 6
        ).alias("average_precision"),
        stable_round(F.col("n_pos") * 1.0 / F.col("n_all"), 6).alias(
            "prevalence"
        ),
    )


def _psm_oracle() -> str:
    parts, final = irls_beta_ctes(_logistic_features_sql(), LOGISTIC)
    joined = ",\n".join(parts)
    return f"""WITH {joined},
feat_u AS (
    SELECT user_id,
           CAST(ln(1.0 + sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)) AS DOUBLE) AS x1,
           CAST(ln(1.0 + sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)) AS DOUBLE)  AS x2,
           max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END)        AS y,
           CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS spend_cents
    FROM events GROUP BY user_id
),
scored AS (
    SELECT user_id, y, spend_cents,
           (round((1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1 + b.b2 * x2)))) * 1000000.0)
            / 1000000.0) AS p
    FROM feat_u CROSS JOIN {final} b
),
t AS (SELECT user_id, p, spend_cents,
             CAST(floor(p / 0.02) AS BIGINT) AS bkt FROM scored WHERE y = 1),
c AS (SELECT user_id, p, spend_cents,
             CAST(floor(p / 0.02) AS BIGINT) AS bkt FROM scored WHERE y = 0),
cand AS (
    SELECT t.user_id AS t_id, t.spend_cents AS t_spend,
           c.user_id AS c_id, c.spend_cents AS c_spend,
           abs(c.p - t.p) AS dist
    FROM t
    JOIN (SELECT CAST(unnest([-1, 0, 1]) AS BIGINT) AS off) o ON TRUE
    JOIN c ON c.bkt = t.bkt + o.off AND abs(c.p - t.p) <= 0.02
),
best AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY t_id
                   ORDER BY dist ASC, c_id ASC) AS rn
        FROM cand
    ) WHERE rn = 1
),
counts AS (SELECT CAST(count(*) AS BIGINT) AS n_treated FROM t)
SELECT n_treated,
       CAST(count(*) AS BIGINT) AS n_matched,
       (round((sum(t_spend - c_spend) / 100.0 / count(*)) * 1000000.0)
        / 1000000.0) AS att_dollars,
       (round((sum(t_spend) / 100.0 / count(*)) * 1000000.0) / 1000000.0)
           AS matched_treated_mean,
       (round((sum(c_spend) / 100.0 / count(*)) * 1000000.0) / 1000000.0)
           AS matched_control_mean
FROM best CROSS JOIN counts
GROUP BY n_treated
""".strip()


@register(
    "q_psm_match",
    oracle=_psm_oracle(),
    description=(
        "Propensity-score matching ATT: treated users (any "
        "purchase > 150) match their nearest-propensity control "
        "within a 0.02 caliper (with replacement, ties to the "
        "smallest user id), estimating the treatment effect on "
        "total spend — the observational-causal complement to the "
        "randomized q_ab_test_ztest/q_cuped_adjustment family, for "
        "when assignment wasn't randomized. Propensity is the IRLS "
        "model's 6dp score; candidate generation is a BANDED "
        "equi-join on floor(p/0.02) buckets +-1 (bucket width = "
        "caliper, so the 3-bucket probe provably covers the "
        "caliper) — never treated x control; with-replacement "
        "matching keeps every match decision independent, so the "
        "argmin is one rank-limit window, fully parallel. Outcomes "
        "stay exact integer cents until the final rounded "
        "divisions."
    ),
    tags=("analytics", "extension", "stats", "ml"),
)
def q_psm_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    spend_cents = F.sum(
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100).cast("long"),
        ).otherwise(0)
    )
    feat = _logistic_features(spark, sf_dir, spend_cents.cast("long").alias("spend_cents"))
    beta = irls_fit(feat, LOGISTIC)
    scored = feat.select(
        "user_id",
        "y",
        "spend_cents",
        stable_round(logistic_p(beta), 6).alias("p"),
    ).withColumn("bkt", F.floor(F.col("p") / 0.02).cast("long"))
    t = scored.filter(F.col("y") == 1).select(
        F.col("user_id").alias("t_id"),
        F.col("p").alias("tp"),
        F.col("spend_cents").alias("t_spend"),
        F.col("bkt").alias("t_bkt"),
    )
    c = scored.filter(F.col("y") == 0).select(
        F.col("user_id").alias("c_id"),
        F.col("p").alias("cp"),
        F.col("spend_cents").alias("c_spend"),
        F.col("bkt").alias("c_bkt"),
    )
    offs = spark.range(-1, 2).select(F.col("id").cast("long").alias("off"))
    cand = (
        t.crossJoin(F.broadcast(offs))
        .join(
            c,
            (F.col("c_bkt") == F.col("t_bkt") + F.col("off"))
            & (F.abs(F.col("cp") - F.col("tp")) <= 0.02),
        )
        .select(
            "t_id",
            "t_spend",
            "c_id",
            "c_spend",
            F.abs(F.col("cp") - F.col("tp")).alias("dist"),
        )
    )
    wm = Window.partitionBy("t_id").orderBy(F.asc("dist"), F.asc("c_id"))
    best = cand.withColumn("rn", F.row_number().over(wm)).filter(
        F.col("rn") == 1
    )
    m = best.agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.sum(F.col("t_spend") - F.col("c_spend")).alias("d_cents"),
        F.sum("t_spend").alias("ts"),
        F.sum("c_spend").alias("cs"),
    ).crossJoin(F.broadcast(t.agg(F.count(F.lit(1)).cast("long").alias("n_treated"))))
    return m.select(
        "n_treated",
        "n_matched",
        stable_round(
            F.col("d_cents") / 100.0 / F.col("n_matched"), 6
        ).alias("att_dollars"),
        stable_round(F.col("ts") / 100.0 / F.col("n_matched"), 6).alias(
            "matched_treated_mean"
        ),
        stable_round(F.col("cs") / 100.0 / F.col("n_matched"), 6).alias(
            "matched_control_mean"
        ),
    )


def _register_dp_histogram() -> None:
    _P = 2147483647

    @register(
        "q_dp_histogram",
        oracle=f"""
WITH counts AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
),
noise AS (
    SELECT event_type, n,
           (((('0x' || substring(md5('dp-v1:' || event_type), 1, 8))::BIGINT % {_P})
             + 0.5) / {_P}.0 - 0.5) AS t
    FROM counts
)
SELECT event_type,
       n AS true_count,
       (round((n + (-1.0) * CASE WHEN t >= 0 THEN 1.0 ELSE -1.0 END
               * ln(1.0 - 2.0 * abs(t))) * 1000000.0) / 1000000.0)
           AS noisy_count,
       CAST(1.0 AS DOUBLE) AS epsilon
FROM noise
""",
        description=(
            "Differentially-private histogram (Laplace mechanism, "
            "epsilon=1, sensitivity 1) over event-type counts: each "
            "exact count gets Laplace(1/eps) noise drawn by inverse-"
            "CDF from a counter-based md5 uniform keyed on the "
            "histogram cell — the release primitive for sharing "
            "aggregate stats about a corpus without exposing any "
            "single contributor, next to q_kanonymity_audit and "
            "q_gdpr_delete_plan in the governance family. Counter-"
            "based noise (same discipline as the bootstrap/permutation "
            "queries) makes the draw reproducible AND shardable: no "
            "RNG state crosses partitions, so the noised rollup is one "
            "partial aggregate plus a per-row expression at any scale. "
            "The uniform is offset by +0.5/P so |u-0.5| < 0.5 strictly "
            "and ln(1-2|t|) can never hit ln(0). true_count is emitted "
            "for the parity check; a production release drops it."
        ),
        tags=("analytics", "extension", "governance"),
    )
    def q_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit("dp-v1:"), F.col("event_type"))), 1, 8),
            16,
            10,
        ).cast("long") % _P
        t = (h + 0.5) / float(_P) - 0.5
        lap = (
            F.lit(-1.0)
            * F.when(t >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
            * F.log(F.lit(1.0) - 2.0 * F.abs(t))
        )
        return counts.select(
            "event_type",
            F.col("n").alias("true_count"),
            stable_round(F.col("n") + lap, 6).alias("noisy_count"),
            F.lit(1.0).alias("epsilon"),
        )


_register_dp_histogram()


def _register_covariate_balance() -> None:
    @register(
        "q_covariate_balance",
        oracle="""
WITH feat AS (
    SELECT user_id,
           CAST(round(ln(1.0 + sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END))
                      * 1000000.0) AS BIGINT) AS x1q,
           CAST(round(ln(1.0 + sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END))
                      * 1000000.0) AS BIGINT) AS x2q,
           max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS y
    FROM events GROUP BY user_id
),
long AS (
    SELECT y, 'x1_log_clicks' AS covariate, x1q AS xq FROM feat
    UNION ALL
    SELECT y, 'x2_log_views' AS covariate, x2q AS xq FROM feat
),
m AS (
    SELECT covariate,
           CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)        AS nt,
           CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT)        AS nc,
           CAST(sum(CASE WHEN y = 1 THEN xq ELSE 0 END) AS BIGINT)       AS st,
           CAST(sum(CASE WHEN y = 0 THEN xq ELSE 0 END) AS BIGINT)       AS sc,
           CAST(sum(CASE WHEN y = 1 THEN xq * xq ELSE 0 END) AS BIGINT)  AS sst,
           CAST(sum(CASE WHEN y = 0 THEN xq * xq ELSE 0 END) AS BIGINT)  AS ssc
    FROM long GROUP BY covariate
)
SELECT covariate, nt AS n_treated, nc AS n_control,
       (round((st / 1000000.0 / nt) * 1000000.0) / 1000000.0) AS mean_treated,
       (round((sc / 1000000.0 / nc) * 1000000.0) / 1000000.0) AS mean_control,
       (round(((st * 1.0 / nt - sc * 1.0 / nc)
               / sqrt((((sst - st * 1.0 / nt * st) / (nt - 1))
                       + ((ssc - sc * 1.0 / nc * sc) / (nc - 1))) / 2.0))
              * 1000000.0) / 1000000.0) AS smd
FROM m
""",
        description=(
            "Covariate balance (standardized mean difference) between "
            "the treated and control groups of q_psm_match, per "
            "model covariate — the 'Table 1' diagnostic that says "
            "whether matching is even needed (|SMD| > 0.1 = "
            "imbalanced) and, re-run on the matched sample, whether it "
            "worked. Covariates are quantized to integer micro-units "
            "at the per-user aggregate, so group means and variances "
            "are exact-BIGINT moment arithmetic (one partial-"
            "aggregated pass over the two-covariate long form) and "
            "the pooled-SD SMD is a single rounded double expression. "
            "Note the quantized-x1*x1 sums stay < 2^63 up to ~1e5 "
            "users per group; past that, re-center before squaring."
        ),
        tags=("analytics", "extension", "stats", "ml"),
    )
    def q_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        feat = ev.groupBy("user_id").agg(
            F.round(
                F.log(
                    F.lit(1.0)
                    + F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
                )
                * 1000000.0
            )
            .cast("long")
            .alias("x1q"),
            F.round(
                F.log(
                    F.lit(1.0)
                    + F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
                )
                * 1000000.0
            )
            .cast("long")
            .alias("x2q"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") > 150), 1
                ).otherwise(0)
            ).alias("y"),
        )
        long = feat.select(
            "y", F.lit("x1_log_clicks").alias("covariate"), F.col("x1q").alias("xq")
        ).unionAll(
            feat.select(
                "y", F.lit("x2_log_views").alias("covariate"), F.col("x2q").alias("xq")
            )
        )
        y, xq = F.col("y"), F.col("xq")
        m = long.groupBy("covariate").agg(
            F.sum(F.when(y == 1, 1).otherwise(0)).cast("long").alias("nt"),
            F.sum(F.when(y == 0, 1).otherwise(0)).cast("long").alias("nc"),
            F.sum(F.when(y == 1, xq).otherwise(0)).cast("long").alias("st"),
            F.sum(F.when(y == 0, xq).otherwise(0)).cast("long").alias("sc"),
            F.sum(F.when(y == 1, xq * xq).otherwise(0)).cast("long").alias("sst"),
            F.sum(F.when(y == 0, xq * xq).otherwise(0)).cast("long").alias("ssc"),
        )
        nt, nc, st, sc, sst, ssc = (
            F.col(x) for x in ["nt", "nc", "st", "sc", "sst", "ssc"]
        )
        vt = (sst - st * 1.0 / nt * st) / (nt - 1)
        vc = (ssc - sc * 1.0 / nc * sc) / (nc - 1)
        smd = (st * 1.0 / nt - sc * 1.0 / nc) / F.sqrt((vt + vc) / 2.0)
        return m.select(
            "covariate",
            nt.alias("n_treated"),
            nc.alias("n_control"),
            stable_round(st / 1000000.0 / nt, 6).alias("mean_treated"),
            stable_round(sc / 1000000.0 / nc, 6).alias("mean_control"),
            stable_round(smd, 6).alias("smd"),
        )


_register_covariate_balance()


def _register_eb_ctr_shrinkage() -> None:
    @register(
        "q_eb_ctr_shrinkage",
        oracle="""
WITH per_user AS (
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
           CAST(sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END) AS BIGINT) AS impressions
    FROM events GROUP BY user_id
),
gl AS (
    SELECT CAST(sum(clicks) AS BIGINT) AS gc, CAST(sum(impressions) AS BIGINT) AS gi
    FROM per_user
)
SELECT user_id, clicks, impressions,
       CASE WHEN impressions = 0 THEN CAST(NULL AS DOUBLE)
            ELSE (round((clicks * 1.0 / impressions) * 1000000.0) / 1000000.0)
       END AS raw_ctr,
       (round(((clicks + (gc * 1.0 / gi) * 20.0) / (impressions + 20.0))
              * 1000000.0) / 1000000.0) AS shrunk_ctr
FROM per_user CROSS JOIN gl
""",
        description=(
            "Empirical-Bayes CTR shrinkage: each user's click-through "
            "rate pulled toward the global prior with pseudo-count "
            "strength 20 (Beta(p0*s, (1-p0)*s) posterior mean) — the "
            "low-evidence-rate stabilizer used wherever a per-entity "
            "rate feeds ranking or features (a 1/1 user must not beat "
            "a 95/100 user), complementing q_target_encode_loo "
            "(leakage control) and q_rate_wilson_ci (uncertainty "
            "bounds) as the third classic rate treatment. One partial-"
            "aggregated per-user pass; the global prior is a 1-row "
            "broadcast; counts are exact BIGINTs so both rates are "
            "single rounded divisions."
        ),
        tags=("analytics", "extension", "ml-prep"),
    )
    def q_eb_ctr_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        per_user = ev.groupBy("user_id").agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("clicks"),
            F.sum(
                F.when(F.col("event_type").isin("click", "view"), 1).otherwise(0)
            )
            .cast("long")
            .alias("impressions"),
        )
        gl = per_user.agg(
            F.sum("clicks").cast("long").alias("gc"),
            F.sum("impressions").cast("long").alias("gi"),
        )
        out = per_user.crossJoin(F.broadcast(gl))
        prior = F.col("gc") * 1.0 / F.col("gi")
        return out.select(
            "user_id",
            "clicks",
            "impressions",
            F.when(F.col("impressions") == 0, F.lit(None).cast("double"))
            .otherwise(stable_round(F.col("clicks") * 1.0 / F.col("impressions"), 6))
            .alias("raw_ctr"),
            stable_round(
                (F.col("clicks") + prior * 20.0) / (F.col("impressions") + 20.0), 6
            ).alias("shrunk_ctr"),
        )


_register_eb_ctr_shrinkage()


_PD_GRID = [0.0, 0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5]


def _partial_dependence_oracle() -> str:
    parts, final = irls_beta_ctes(_logistic_features_sql(), LOGISTIC)
    joined = ",\n".join(parts)
    grid = ", ".join(str(g) for g in _PD_GRID)
    return f"""WITH {joined},
grid AS (SELECT CAST(unnest([{grid}]) AS DOUBLE) AS g),
pd AS (
    SELECT g.g,
           CAST(round((1.0 / (1.0 + exp(-(b.b0 + b.b1 * g.g + b.b2 * f.x2))))
                      * 10000000000.0) AS BIGINT) AS pq
    FROM feat f CROSS JOIN grid g CROSS JOIN {final} b
)
SELECT g AS x1_log_clicks,
       CAST(count(*) AS BIGINT) AS n_profiles,
       (round((CAST(sum(pq) AS BIGINT) / 10000000000.0 / count(*))
              * 1000000.0) / 1000000.0) AS mean_p
FROM pd GROUP BY g
""".strip()


@register(
    "q_partial_dependence",
    oracle=_partial_dependence_oracle(),
    description=(
        "Partial-dependence curve of the IRLS model on "
        "x1=ln(1+clicks): for each of 10 grid values, x1 is forced "
        "to the grid point for EVERY user profile (x2 kept as "
        "observed) and the predicted conversion probability is "
        "averaged — the model-explainability view that shows what "
        "the classifier actually learned about click volume, "
        "marginalized over the real covariate distribution "
        "(q_shapley_attribution explains channels; this explains "
        "the model). One users x 10 grid cross join, partial-"
        "aggregated per grid point; per-profile sigmoids quantize "
        "to BIGINT at 1e-10 before the mean, so no float sum "
        "order exists on either engine."
    ),
    tags=("analytics", "extension", "ml", "evaluation"),
)
def q_partial_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat = _logistic_features(spark, sf_dir)
    beta = irls_fit(feat, LOGISTIC)
    grid = local_frame(
        spark,
        [(g,) for g in _PD_GRID], "g double"
    )
    pq = F.round(logistic_p(beta, x1="g") * 10000000000.0).cast("long")
    pd = feat.crossJoin(F.broadcast(grid)).select(
        F.col("g"), pq.alias("pq")
    )
    return pd.groupBy(F.col("g").alias("x1_log_clicks")).agg(
        F.count(F.lit(1)).cast("long").alias("n_profiles"),
        stable_round(
            F.sum("pq").cast("long") / 10000000000.0 / F.count(F.lit(1)), 6
        ).alias("mean_p"),
    )


def _permutation_importance_oracle() -> str:
    parts, final = irls_beta_ctes(_logistic_features_sql(), LOGISTIC)
    joined = ",\n".join(parts)
    return f"""WITH {joined},
feat_u AS (
    SELECT user_id,
           CAST(ln(1.0 + sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)) AS DOUBLE) AS x1,
           CAST(ln(1.0 + sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)) AS DOUBLE)  AS x2,
           max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END)        AS y
    FROM events GROUP BY user_id
),
keyed AS (
    SELECT *,
           CAST(row_number() OVER (ORDER BY
               ('0x' || substring(md5('pi:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT,
               user_id) AS BIGINT) AS rk,
           CAST(count(*) OVER () AS BIGINT) AS n
    FROM feat_u
),
shuf AS (
    SELECT a.user_id, a.x1, a.x2, a.y,
           b1.x1 AS x1_perm, b2.x2 AS x2_perm
    FROM keyed a
    JOIN keyed b1 ON b1.rk = (a.rk % a.n) + 1
    JOIN keyed b2 ON b2.rk = (a.rk % a.n) + 1
),
acc AS (
    SELECT
      CAST(sum(CASE WHEN (CASE WHEN 1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1 + b.b2 * x2)))
                               > 0.5 THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END) AS BIGINT) AS base_ok,
      CAST(sum(CASE WHEN (CASE WHEN 1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1_perm + b.b2 * x2)))
                               > 0.5 THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END) AS BIGINT) AS x1_ok,
      CAST(sum(CASE WHEN (CASE WHEN 1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1 + b.b2 * x2_perm)))
                               > 0.5 THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END) AS BIGINT) AS x2_ok,
      CAST(count(*) AS BIGINT) AS n
    FROM shuf CROSS JOIN {final} b
)
SELECT f AS feature, base_acc, perm_acc, importance FROM (
    SELECT 'x1_log_clicks' AS f,
           (round((base_ok * 1.0 / n) * 1000000.0) / 1000000.0) AS base_acc,
           (round((x1_ok * 1.0 / n) * 1000000.0) / 1000000.0)   AS perm_acc,
           (round(((base_ok - x1_ok) * 1.0 / n) * 1000000.0) / 1000000.0) AS importance
    FROM acc
    UNION ALL
    SELECT 'x2_log_views',
           (round((base_ok * 1.0 / n) * 1000000.0) / 1000000.0),
           (round((x2_ok * 1.0 / n) * 1000000.0) / 1000000.0),
           (round(((base_ok - x2_ok) * 1.0 / n) * 1000000.0) / 1000000.0)
    FROM acc
)
""".strip()


@register(
    "q_permutation_importance",
    oracle=_permutation_importance_oracle(),
    description=(
        "Permutation feature importance for the IRLS model: each "
        "feature column is permuted by a deterministic md5-keyed "
        "cyclic shift (rank users by content hash, take the next "
        "user's value — a true permutation, reproducible on any "
        "engine/partitioning, no RNG state) and the drop in "
        "training accuracy is the importance — the model-agnostic "
        "'which signals does the model actually lean on' readout "
        "next to q_partial_dependence's shape view. Accuracy "
        "deltas are exact BIGINT hit-counts from ONE pass over "
        "the shifted frame; the shift itself is a two-phase "
        "bucketed global rank (bucketed_rank — no single-partition "
        "sort) plus an equi-join on adjacent ranks, fully "
        "distributed over the users-sized aggregate."
    ),
    tags=("analytics", "extension", "ml", "evaluation"),
)
def q_permutation_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat = _logistic_features(spark, sf_dir)
    beta = irls_fit(feat, LOGISTIC)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("pi:"), F.col("user_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    from healthcare_etl_spark.operators.scale import bucketed_rank

    # two-phase bucketed global rank over (hash, user_id) — the
    # permutation pairing needs a total order but never a
    # single-partition sort; hash div 2^20 coarsens the order
    keyed = bucketed_rank(
        feat.select("user_id", "x1", "x2", "y", h.alias("hk")),
        buckets=[F.expr("hk div 1048576")],
        order_by=[F.asc("hk"), F.asc("user_id")],
        out_col="rk",
    ).crossJoin(F.broadcast(feat.agg(F.count(F.lit(1)).cast("long").alias("n"))))
    nxt = keyed.select(
        F.col("rk").alias("rk_b"),
        F.col("x1").alias("x1_perm"),
        F.col("x2").alias("x2_perm"),
    )
    shuf = keyed.join(
        nxt, F.col("rk_b") == (F.col("rk") % F.col("n")) + 1
    )

    def hits(x1, x2):
        pred = F.when(logistic_p(beta, x1, x2) > 0.5, 1).otherwise(0)
        return F.sum(F.when(pred == F.col("y"), 1).otherwise(0)).cast("long")

    acc = shuf.agg(
        hits("x1", "x2").alias("base_ok"),
        hits("x1_perm", "x2").alias("x1_ok"),
        hits("x1", "x2_perm").alias("x2_ok"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    rows = []
    for fname, okc in [("x1_log_clicks", "x1_ok"), ("x2_log_views", "x2_ok")]:
        rows.append(
            acc.select(
                F.lit(fname).alias("feature"),
                stable_round(F.col("base_ok") * 1.0 / F.col("n"), 6).alias(
                    "base_acc"
                ),
                stable_round(F.col(okc) * 1.0 / F.col("n"), 6).alias(
                    "perm_acc"
                ),
                stable_round(
                    (F.col("base_ok") - F.col(okc)) * 1.0 / F.col("n"), 6
                ).alias("importance"),
            )
        )
    return rows[0].unionAll(rows[1])


def _register_mahalanobis() -> None:
    @register(
        "q_mahalanobis_outliers",
        oracle="""
WITH feat AS (
    SELECT user_id,
           CAST(round(ln(1.0 + sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END))
                      * 1000000.0) AS BIGINT) AS x1q,
           CAST(round(ln(1.0 + sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END))
                      * 1000000.0) AS BIGINT) AS x2q
    FROM events GROUP BY user_id
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x1q) AS BIGINT) AS s1, CAST(sum(x2q) AS BIGINT) AS s2,
           CAST(sum(x1q * x1q) AS BIGINT) AS s11,
           CAST(sum(x2q * x2q) AS BIGINT) AS s22,
           CAST(sum(x1q * x2q) AS BIGINT) AS s12
    FROM feat
),
cov AS (
    SELECT n, s1, s2,
           ((s11 - s1 * 1.0 / n * s1) / (n - 1)) / 1000000000000.0 AS c11,
           ((s22 - s2 * 1.0 / n * s2) / (n - 1)) / 1000000000000.0 AS c22,
           ((s12 - s1 * 1.0 / n * s2) / (n - 1)) / 1000000000000.0 AS c12
    FROM mom
),
scored AS (
    SELECT f.user_id,
           (f.x1q - c.s1 * 1.0 / c.n) / 1000000.0 AS dx1,
           (f.x2q - c.s2 * 1.0 / c.n) / 1000000.0 AS dx2,
           c.c11, c.c22, c.c12,
           (c.c11 * c.c22 - c.c12 * c.c12) AS det
    FROM feat f CROSS JOIN cov c
),
d2 AS (
    SELECT user_id,
           ((dx1 * (c22 * dx1 - c12 * dx2)
             + dx2 * (c11 * dx2 - c12 * dx1)) / det) AS md2
    FROM scored
)
SELECT user_id,
       (round(md2 * 1000000.0) / 1000000.0) AS mahalanobis_sq,
       TRUE AS is_outlier
FROM d2 WHERE md2 >= 5.991464547107979
""",
        description=(
            "Mahalanobis-distance multivariate outliers over the "
            "per-user behavior profile (ln(1+clicks), ln(1+views)): "
            "users whose squared distance exceeds the chi-square(2) "
            "95% critical value — catching the CORRELATED anomalies "
            "(many clicks, impossibly few views) that the univariate "
            "q_anomaly_mad/q_iqr_outliers gates pass. Features are "
            "quantized to integer micro-units, so the covariance "
            "comes from ONE exact-BIGINT moment aggregate (count + 5 "
            "sums — the one-pass Gram discipline of "
            "q_embedding_covariance); the closed-form 2x2 inverse and "
            "per-user distance are fixed double expressions of those "
            "moments (Cramer, no iteration), and the chi2 cutoff is "
            "an inlined literal identical on both engines."
        ),
        tags=("analytics", "extension", "stats", "quality"),
    )
    def q_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        feat = ev.groupBy("user_id").agg(
            F.round(
                F.log(
                    F.lit(1.0)
                    + F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
                )
                * 1000000.0
            )
            .cast("long")
            .alias("x1q"),
            F.round(
                F.log(
                    F.lit(1.0)
                    + F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
                )
                * 1000000.0
            )
            .cast("long")
            .alias("x2q"),
        )
        mom = feat.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x1q").cast("long").alias("s1"),
            F.sum("x2q").cast("long").alias("s2"),
            F.sum(F.col("x1q") * F.col("x1q")).cast("long").alias("s11"),
            F.sum(F.col("x2q") * F.col("x2q")).cast("long").alias("s22"),
            F.sum(F.col("x1q") * F.col("x2q")).cast("long").alias("s12"),
        )
        n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
        c11 = ((F.col("s11") - s1 * 1.0 / n * s1) / (n - 1)) / 1e12
        c22 = ((F.col("s22") - s2 * 1.0 / n * s2) / (n - 1)) / 1e12
        c12 = ((F.col("s12") - s1 * 1.0 / n * s2) / (n - 1)) / 1e12
        cov = mom.select(
            "n", "s1", "s2",
            c11.alias("c11"), c22.alias("c22"), c12.alias("c12"),
        )
        sc = feat.crossJoin(F.broadcast(cov))
        dx1 = (F.col("x1q") - F.col("s1") * 1.0 / F.col("n")) / 1e6
        dx2 = (F.col("x2q") - F.col("s2") * 1.0 / F.col("n")) / 1e6
        det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
        md2 = (
            dx1 * (F.col("c22") * dx1 - F.col("c12") * dx2)
            + dx2 * (F.col("c11") * dx2 - F.col("c12") * dx1)
        ) / det
        return (
            sc.select("user_id", md2.alias("md2"))
            .filter(F.col("md2") >= 5.991464547107979)
            .select(
                "user_id",
                stable_round(F.col("md2"), 6).alias("mahalanobis_sq"),
                F.lit(True).alias("is_outlier"),
            )
        )


_register_mahalanobis()


_RAKE_ROUNDS = 4


def _raking_oracle() -> str:
    """Unrolled IPF: integer micro-unit cell values; each half-step is
    the fixed expression round((aq/1e6) * target / (margin_q/1e6) * 1e6)
    so both engines step through identical BIGINT states."""
    parts = [
        """cells AS (
    SELECT event_type AS et, CAST(dayofweek(ts) + 1 AS BIGINT) AS wd,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
)""",
        """tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells)""",
        """rt AS (SELECT et, CAST(sum(n) AS BIGINT) AS row_target FROM cells GROUP BY 1)""",
        """a_0 AS (SELECT et, wd, n, n * 1000000 AS aq FROM cells)""",
    ]
    prev = "a_0"
    for r in range(1, _RAKE_ROUNDS + 1):
        parts.append(
            f"""rs_{r} AS (SELECT et, CAST(sum(aq) AS BIGINT) AS row_q FROM {prev} GROUP BY 1)"""
        )
        parts.append(
            f"""ar_{r} AS (
    SELECT a.et, a.wd, a.n,
           CAST(round((a.aq * 1.0 / 1000000.0) * r.row_target
                      / (s.row_q / 1000000.0) * 1000000.0) AS BIGINT) AS aq
    FROM {prev} a JOIN rt r ON r.et = a.et JOIN rs_{r} s ON s.et = a.et
)"""
        )
        parts.append(
            f"""cs_{r} AS (SELECT wd, CAST(sum(aq) AS BIGINT) AS col_q FROM ar_{r} GROUP BY 1)"""
        )
        parts.append(
            f"""a_{r} AS (
    SELECT a.et, a.wd, a.n,
           CAST(round((a.aq * 1.0 / 1000000.0) * (t.total / 7.0)
                      / (s.col_q / 1000000.0) * 1000000.0) AS BIGINT) AS aq
    FROM ar_{r} a JOIN cs_{r} s ON s.wd = a.wd CROSS JOIN tot t
)"""
        )
        prev = f"a_{r}"
    joined = ",\n".join(parts)
    return f"""WITH {joined}
SELECT et AS event_type, wd AS weekday, n,
       (round((aq / 1000000.0) * 1000000.0) / 1000000.0) AS adjusted_count,
       (round((aq * 1.0 / 1000000.0 / n) * 1000000.0) / 1000000.0) AS rake_weight
FROM {prev}
"""


def _register_raking() -> None:
    @register(
        "q_raking_weights",
        oracle=_raking_oracle(),
        description=(
            "Raking / iterative proportional fitting (4 rounds) over "
            "the event_type x weekday cell table: cell weights scaled "
            "alternately so row margins match the observed event-type "
            "totals and column margins match a uniform weekday target "
            "— the survey-calibration primitive for de-biasing a "
            "corpus or panel toward known population margins "
            "(post-stratification's many-margin big sibling). The one "
            "data-scale pass is the 35-cell count; iterations ride the "
            "driver on integer micro-unit cell states (the k-means/"
            "markov discipline), each half-step one fixed rounded "
            "expression of BIGINTs, mirrored by the unrolled-CTE "
            "oracle bit-for-bit. rake_weight is the per-cell "
            "adjustment factor downstream analyses multiply in."
        ),
        tags=("analytics", "extension", "stats", "iterative"),
    )
    def q_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        cells_df = ev.groupBy(
            F.col("event_type").alias("et"),
            F.dayofweek("ts").cast("long").alias("wd"),
        ).agg(F.count(F.lit(1)).cast("long").alias("n"))
        rows = cells_df.collect()
        cells = {(r["et"], r["wd"]): r["n"] for r in rows}
        total = sum(cells.values())
        row_target = {}
        for (et, wd), n in cells.items():
            row_target[et] = row_target.get(et, 0) + n
        col_target = total / 7.0
        aq = {k: n * 1000000 for k, n in cells.items()}
        # Fixed expression per half-step, identical to the oracle:
        # round((aq/1e6) * target / (margin/1e6) * 1e6) -> BIGINT.
        for _ in range(_RAKE_ROUNDS):
            row_q: dict = {}
            for (et, wd), v in aq.items():
                row_q[et] = row_q.get(et, 0) + v
            aq = {
                (et, wd): int(
                    half_away(
                        (v * 1.0 / 1000000.0) * row_target[et] / (row_q[et] / 1000000.0),
                        1000000.0,
                    )
                )
                for (et, wd), v in aq.items()
            }
            col_q: dict = {}
            for (et, wd), v in aq.items():
                col_q[wd] = col_q.get(wd, 0) + v
            aq = {
                (et, wd): int(
                    half_away(
                        (v * 1.0 / 1000000.0) * col_target / (col_q[wd] / 1000000.0),
                        1000000.0,
                    )
                )
                for (et, wd), v in aq.items()
            }
        out_rows = [
            (et, wd, cells[(et, wd)], float(aq[(et, wd)]))
            for (et, wd) in sorted(cells)
        ]
        res = local_frame(
            spark,
            out_rows, "event_type string, weekday long, n long, aq double"
        )
        return res.select(
            "event_type",
            "weekday",
            "n",
            stable_round(F.col("aq") / 1000000.0, 6).alias("adjusted_count"),
            stable_round(F.col("aq") / 1000000.0 / F.col("n"), 6).alias(
                "rake_weight"
            ),
        )


_register_raking()


def _register_wilcoxon() -> None:
    _D30 = 30 * 24 * 3600 * 1000000

    @register(
        "q_wilcoxon_signed_rank",
        oracle=f"""
WITH t0 AS (SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS start_us FROM events),
u AS (
    SELECT e.user_id,
           CAST(sum(CASE WHEN e.event_type = 'purchase'
                          AND epoch_us(e.ts) < t.start_us + {_D30}
                         THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS pre_cents,
           CAST(sum(CASE WHEN e.event_type = 'purchase'
                          AND epoch_us(e.ts) >= t.start_us + {_D30}
                          AND epoch_us(e.ts) < t.start_us + {2 * _D30}
                         THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS post_cents
    FROM events e CROSS JOIN t0 t
    GROUP BY e.user_id
),
d AS (
    SELECT (post_cents - pre_cents) AS dv FROM u
    WHERE post_cents <> pre_cents
),
grp AS (
    SELECT abs(dv) AS ad, CAST(count(*) AS BIGINT) AS t,
           CAST(sum(CASE WHEN dv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS t_pos
    FROM d GROUP BY 1
),
ranked AS (
    SELECT ad, t, t_pos,
           CAST(coalesce(sum(t) OVER (ORDER BY ad
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
    FROM grp
),
m AS (
    SELECT CAST(sum(t) AS BIGINT)                      AS n,
           CAST(sum(t_pos * (2 * cb + t + 1)) AS BIGINT) AS w_plus2,
           CAST(sum(t * t * t - t) AS BIGINT)          AS tie_sum
    FROM ranked
)
SELECT n AS n_nonzero, w_plus2,
       (round(((w_plus2 - n * 1.0 * (n + 1) / 2.0)
               / (2.0 * sqrt(n * 1.0 * (n + 1) * (2 * n + 1) / 24.0
                             - tie_sum / 48.0)))
              * 1000000.0) / 1000000.0) AS z_score,
       (round((((w_plus2 - n * 1.0 * (n + 1) / 2.0)
                / (2.0 * sqrt(n * 1.0 * (n + 1) * (2 * n + 1) / 24.0
                              - tie_sum / 48.0))) / sqrt(n * 1.0))
              * 1000000.0) / 1000000.0) AS effect_r
FROM m
""",
        description=(
            "Wilcoxon signed-rank test on PAIRED per-user spend "
            "(first 30 days vs second 30 days from corpus start): did "
            "the same users' behavior shift, without assuming "
            "normality of the differences — the paired member "
            "completing the testing family (Mann-Whitney compares two "
            "INDEPENDENT arms; pre/post per user is the within-subject "
            "design). Same exactness discipline as q_mann_whitney: "
            "zero-differences dropped per Wilcoxon, average ranks of "
            "|diff| as doubled integers over the DISTINCT-value "
            "table (its cum-before prefix is the two-phase bucketed "
            "carry — no single-partition sort), integer t^3-t tie "
            "correction, floats only in the final z / effect-size "
            "divisions."
        ),
        tags=("analytics", "extension", "stats"),
    )
    def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        t0 = ev.agg(F.min(F.unix_micros("ts")).cast("long").alias("start_us"))
        e = ev.crossJoin(F.broadcast(t0))
        us = F.unix_micros("ts")
        cents = F.round(F.col("value") * 100).cast("long")
        is_p = F.col("event_type") == "purchase"
        u = e.groupBy("user_id").agg(
            F.sum(
                F.when(is_p & (us < F.col("start_us") + _D30), cents).otherwise(0)
            )
            .cast("long")
            .alias("pre_cents"),
            F.sum(
                F.when(
                    is_p
                    & (us >= F.col("start_us") + _D30)
                    & (us < F.col("start_us") + 2 * _D30),
                    cents,
                ).otherwise(0)
            )
            .cast("long")
            .alias("post_cents"),
        )
        d = u.filter(F.col("post_cents") != F.col("pre_cents")).select(
            (F.col("post_cents") - F.col("pre_cents")).alias("dv")
        )
        grp = d.groupBy(F.abs(F.col("dv")).alias("ad")).agg(
            F.count(F.lit(1)).cast("long").alias("t"),
            F.sum(F.when(F.col("dv") > 0, 1).otherwise(0)).cast("long").alias("t_pos"),
        )
        from healthcare_etl_spark.operators.scale import bucketed_prefix

        # cum-before over the distinct-|diff| table WITHOUT a single-
        # partition sort (the q_mann_whitney bucketed-carry discipline —
        # distinct cent differences grow with the data)
        ranked = bucketed_prefix(
            grp,
            buckets=[F.expr("ad div 4096")],
            order_by=[F.asc("ad")],
            value=F.col("t"),
            agg="sum",
            exclusive=True,
            out_col="cb",
        ).select("t", "t_pos", F.coalesce(F.col("cb"), F.lit(0)).cast("long").alias("cb"))
        t, tp, cb = F.col("t"), F.col("t_pos"), F.col("cb")
        m = ranked.agg(
            F.sum(t).cast("long").alias("n"),
            F.sum(tp * (2 * cb + t + 1)).cast("long").alias("w_plus2"),
            F.sum(t * t * t - t).cast("long").alias("tie_sum"),
        )
        n, w2, ts_ = F.col("n"), F.col("w_plus2"), F.col("tie_sum")
        z = (w2 - n * 1.0 * (n + 1) / 2.0) / (
            2.0
            * F.sqrt(
                n * 1.0 * (n + 1) * (2 * n + 1) / 24.0 - ts_ / 48.0
            )
        )
        return m.select(
            n.alias("n_nonzero"),
            "w_plus2",
            stable_round(z, 6).alias("z_score"),
            stable_round(z / F.sqrt(n * 1.0), 6).alias("effect_r"),
        )


_register_wilcoxon()


def _mcnemar_oracle() -> str:
    parts, final = irls_beta_ctes(_logistic_features_sql(), LOGISTIC)
    joined = ",\n".join(parts)
    return f"""WITH {joined},
scored AS (
    SELECT y,
           (CASE WHEN 1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1 + b.b2 * x2))) > 0.5
                 THEN 1 ELSE 0 END) AS pred_model,
           (CASE WHEN x1 > 2.0 THEN 1 ELSE 0 END) AS pred_baseline
    FROM feat CROSS JOIN {final} b
),
cells AS (
    SELECT CAST(sum(CASE WHEN pred_model = y AND pred_baseline <> y
                    THEN 1 ELSE 0 END) AS BIGINT) AS b,
           CAST(sum(CASE WHEN pred_model <> y AND pred_baseline = y
                    THEN 1 ELSE 0 END) AS BIGINT) AS c,
           CAST(sum(CASE WHEN pred_model = y AND pred_baseline = y
                    THEN 1 ELSE 0 END) AS BIGINT) AS both_right,
           CAST(sum(CASE WHEN pred_model <> y AND pred_baseline <> y
                    THEN 1 ELSE 0 END) AS BIGINT) AS both_wrong
    FROM scored
)
SELECT b AS model_only_right, c AS baseline_only_right, both_right, both_wrong,
       (round(((abs(b - c) - 1.0) * (abs(b - c) - 1.0) / (b + c))
              * 1000000.0) / 1000000.0) AS mcnemar_chi2
FROM cells WHERE b + c > 0
""".strip()


@register(
    "q_mcnemar_test",
    oracle=_mcnemar_oracle(),
    description=(
        "McNemar's test (continuity-corrected) comparing the IRLS "
        "model against the naive click-volume baseline "
        "(ln(1+clicks) > 2) on the SAME users: only the discordant "
        "cells — users exactly one classifier gets right — carry "
        "information about which model is better, which is why "
        "comparing two accuracies with a two-proportion z-test "
        "(q_ab_test_ztest's machinery) is wrong for paired "
        "predictions (it ignores the pairing and wastes the "
        "concordant mass). The model-comparison member of the "
        "testing family: chi2 = (|b-c|-1)^2/(b+c) from four exact "
        "BIGINT cells out of ONE partial-aggregated scoring pass."
    ),
    tags=("analytics", "extension", "stats", "ml", "evaluation"),
)
def q_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat = _logistic_features(spark, sf_dir)
    beta = irls_fit(feat, LOGISTIC)
    pm = F.when(logistic_p(beta) > 0.5, 1).otherwise(0)
    pb = F.when(F.col("x1") > 2.0, 1).otherwise(0)
    scored = feat.select("y", pm.alias("pm"), pb.alias("pb"))
    y, m, bl = F.col("y"), F.col("pm"), F.col("pb")
    cells = scored.agg(
        F.sum(F.when((m == y) & (bl != y), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((m != y) & (bl == y), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((m == y) & (bl == y), 1).otherwise(0))
        .cast("long")
        .alias("both_right"),
        F.sum(F.when((m != y) & (bl != y), 1).otherwise(0))
        .cast("long")
        .alias("both_wrong"),
    )
    b, c = F.col("b"), F.col("c")
    chi2 = (F.abs(b - c) - 1.0) * (F.abs(b - c) - 1.0) / (b + c)
    return cells.filter(b + c > 0).select(
        b.alias("model_only_right"),
        c.alias("baseline_only_right"),
        "both_right",
        "both_wrong",
        stable_round(chi2, 6).alias("mcnemar_chi2"),
    )


def _register_logrank() -> None:
    @register(
        "q_logrank_test",
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
           ((('0x' || substring(md5('ab-v1:' || CAST(f.user_id AS VARCHAR)), 1, 8))::BIGINT
             % 2) = 0) AS in_a,
           CASE WHEN p.p_us IS NOT NULL
                     AND (p.p_us - f.first_us) // 3600000000 <= 60
                THEN (p.p_us - f.first_us) // 3600000000 ELSE 60 END AS dur,
           (p.p_us IS NOT NULL AND (p.p_us - f.first_us) // 3600000000 <= 60) AS event
    FROM f LEFT JOIN p ON f.user_id = p.user_id
),
tbl AS (
    SELECT CAST(dur AS BIGINT) AS dur,
           CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
           CAST(sum(CASE WHEN event AND in_a THEN 1 ELSE 0 END) AS BIGINT) AS d_a,
           CAST(count(*) AS BIGINT) AS leave_t,
           CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS leave_a
    FROM subj GROUP BY 1
),
risk AS (
    SELECT dur, d, d_a,
           CAST(sum(leave_t) OVER () - coalesce(sum(leave_t) OVER (
               ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_t,
           CAST(sum(leave_a) OVER () - coalesce(sum(leave_a) OVER (
               ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_a
    FROM tbl
),
terms AS (
    SELECT d_a, d, n_t, n_a,
           CAST(round((d_a - d * 1.0 * n_a / n_t) * 10000000000.0) AS BIGINT) AS oe_q,
           CAST(round(CASE WHEN n_t > 1
                THEN (d * 1.0 * (n_a * 1.0 / n_t) * (1.0 - n_a * 1.0 / n_t)
                      * (n_t - d) / (n_t - 1.0)) ELSE 0.0 END * 10000000000.0)
                AS BIGINT) AS v_q
    FROM risk WHERE d > 0
),
m AS (
    SELECT CAST(sum(oe_q) AS BIGINT) AS oe, CAST(sum(v_q) AS BIGINT) AS v
    FROM terms
)
SELECT (round((oe / 10000000000.0) * 1000000.0) / 1000000.0) AS observed_minus_expected_a,
       (round((v / 10000000000.0) * 1000000.0) / 1000000.0)  AS variance,
       (round(((oe / 10000000000.0) / sqrt(v / 10000000000.0))
              * 1000000.0) / 1000000.0) AS z_score,
       (round((((oe / 10000000000.0) / sqrt(v / 10000000000.0))
               * ((oe / 10000000000.0) / sqrt(v / 10000000000.0)))
              * 1000000.0) / 1000000.0) AS logrank_chi2
FROM m
""",
        description=(
            "Log-rank test comparing time-to-first-purchase between "
            "the md5 A/B arms: at each event time, observed arm-A "
            "conversions vs the hypergeometric expectation d*n_A/n "
            "given the at-risk sets, summed to the O-E / sqrt(V) "
            "statistic — the censoring-correct way to compare the two "
            "arms' q_kaplan_meier curves (comparing conversion RATES "
            "at a fixed horizon throws away timing and mishandles "
            "censoring; q_wilcoxon_signed_rank pairs within users, "
            "this compares independent arms over durations). At-risk "
            "counts are the same running-window arithmetic as the KM "
            "duration table (<=61 rows), per-time O-E and variance "
            "terms quantize to BIGINT at 1e-10 before summing, and "
            "the data-scale work is the two per-user aggregates."
        ),
        tags=("analytics", "extension", "stats"),
    )
    def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        f = ev.groupBy("user_id").agg(F.min(F.unix_micros("ts")).alias("first_us"))
        p = (
            ev.filter(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(F.min(F.unix_micros("ts")).alias("p_us"))
        )
        in_a = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("ab-v1:"), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
            == 0
        )
        delay_h = F.floor((F.col("p_us") - F.col("first_us")) / F.lit(3600000000))
        is_event = F.col("p_us").isNotNull() & (delay_h <= 60)
        subj = f.join(p, "user_id", "left").select(
            in_a.alias("in_a"),
            F.when(is_event, delay_h).otherwise(F.lit(60)).cast("long").alias("dur"),
            is_event.alias("event"),
        )
        tbl = subj.groupBy("dur").agg(
            F.sum(F.when(F.col("event"), 1).otherwise(0)).cast("long").alias("d"),
            F.sum(F.when(F.col("event") & F.col("in_a"), 1).otherwise(0))
            .cast("long")
            .alias("d_a"),
            F.count(F.lit(1)).cast("long").alias("leave_t"),
            F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("leave_a"),
        )
        w_all = Window.partitionBy()
        w_prev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
        risk = tbl.select(
            "dur",
            "d",
            "d_a",
            (
                F.sum("leave_t").over(w_all)
                - F.coalesce(F.sum("leave_t").over(w_prev), F.lit(0))
            )
            .cast("long")
            .alias("n_t"),
            (
                F.sum("leave_a").over(w_all)
                - F.coalesce(F.sum("leave_a").over(w_prev), F.lit(0))
            )
            .cast("long")
            .alias("n_a"),
        )
        d, da, nt, na = F.col("d"), F.col("d_a"), F.col("n_t"), F.col("n_a")
        share = na * 1.0 / nt
        oe_q = F.round((da - d * 1.0 * na / nt) * 1e10).cast("long")
        v_q = F.round(
            F.when(
                nt > 1, d * 1.0 * share * (F.lit(1.0) - share) * (nt - d) / (nt - 1.0)
            ).otherwise(F.lit(0.0))
            * 1e10
        ).cast("long")
        m = (
            risk.filter(d > 0)
            .select(oe_q.alias("oe_q"), v_q.alias("v_q"))
            .agg(
                F.sum("oe_q").cast("long").alias("oe"),
                F.sum("v_q").cast("long").alias("v"),
            )
        )
        oe, v = F.col("oe") / 1e10, F.col("v") / 1e10
        z = oe / F.sqrt(v)
        return m.select(
            stable_round(oe, 6).alias("observed_minus_expected_a"),
            stable_round(v, 6).alias("variance"),
            stable_round(z, 6).alias("z_score"),
            stable_round(z * z, 6).alias("logrank_chi2"),
        )


_register_logrank()


def _register_decision_stump() -> None:
    @register(
        "q_decision_stump",
        oracle="""
WITH feat AS (
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
           max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS y
    FROM events GROUP BY user_id
),
grp AS (
    SELECT x, CAST(count(*) AS BIGINT) AS t, CAST(sum(y) AS BIGINT) AS tp
    FROM feat GROUP BY x
),
cum AS (
    SELECT x, t, tp,
           CAST(sum(t)  OVER (ORDER BY x) AS BIGINT) AS ln,
           CAST(sum(tp) OVER (ORDER BY x) AS BIGINT) AS lp,
           CAST(sum(t)  OVER () AS BIGINT) AS n,
           CAST(sum(tp) OVER () AS BIGINT) AS p
    FROM grp
),
splits AS (
    SELECT x AS threshold, ln, lp, (n - ln) AS rn, (p - lp) AS rp, n, p,
           ((ln * 1.0 / n) * (2.0 * (lp * 1.0 / ln) * (1.0 - lp * 1.0 / ln))
            + ((n - ln) * 1.0 / n)
              * (2.0 * ((p - lp) * 1.0 / (n - ln))
                 * (1.0 - (p - lp) * 1.0 / (n - ln)))) AS w_gini,
           (2.0 * (p * 1.0 / n) * (1.0 - p * 1.0 / n)) AS root_gini
    FROM cum WHERE ln < n
),
best AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            ORDER BY CAST(round(w_gini * 1000000000000.0) AS BIGINT) ASC,
                     threshold ASC) AS rk
        FROM splits
    ) WHERE rk = 1
)
SELECT threshold AS split_le_clicks, ln AS n_left, lp AS pos_left,
       rn AS n_right, rp AS pos_right,
       (round(root_gini * 1000000.0) / 1000000.0) AS root_gini,
       (round(w_gini * 1000000.0) / 1000000.0) AS split_gini,
       (round((root_gini - w_gini) * 1000000.0) / 1000000.0) AS gini_decrease
FROM best
""",
        description=(
            "Decision-stump learner: the single best 'clicks <= t' "
            "split for predicting conversion, chosen by weighted Gini "
            "impurity over EVERY candidate threshold in one pass — "
            "the root node of a decision tree, and the canonical "
            "distributed tree-learning pattern (per-feature value "
            "histogram -> cumulative class counts -> impurity scan) "
            "that XGBoost/LightGBM run per depth. Candidate stats "
            "come from ONE partial-aggregated pass; the cumulative "
            "windows ride the distinct-click-count table "
            "(activity-bounded, like q_spearman_corr's frames); the "
            "argmin compares 1e-12-quantized BIGINT impurities with a "
            "threshold tie-break, so the chosen split can never "
            "differ across engines."
        ),
        tags=("analytics", "extension", "ml", "stats"),
    )
    def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        feat = ev.groupBy("user_id").agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") > 150), 1
                ).otherwise(0)
            ).alias("y"),
        )
        grp = feat.groupBy("x").agg(
            F.count(F.lit(1)).cast("long").alias("t"),
            F.sum("y").cast("long").alias("tp"),
        )
        wc = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
        wa = Window.partitionBy()
        cum = grp.select(
            "x",
            F.sum("t").over(wc).cast("long").alias("ln"),
            F.sum("tp").over(wc).cast("long").alias("lp"),
            F.sum("t").over(wa).cast("long").alias("n"),
            F.sum("tp").over(wa).cast("long").alias("p"),
        )
        ln, lp, n, p = F.col("ln"), F.col("lp"), F.col("n"), F.col("p")
        lrate = lp * 1.0 / ln
        rrate = (p - lp) * 1.0 / (n - ln)
        w_gini = (ln * 1.0 / n) * (2.0 * lrate * (F.lit(1.0) - lrate)) + (
            (n - ln) * 1.0 / n
        ) * (2.0 * rrate * (F.lit(1.0) - rrate))
        root = 2.0 * (p * 1.0 / n) * (F.lit(1.0) - p * 1.0 / n)
        splits = cum.filter(ln < n).select(
            F.col("x").alias("threshold"),
            "ln",
            "lp",
            (n - ln).alias("rn"),
            (p - lp).alias("rp"),
            w_gini.alias("w_gini"),
            root.alias("root_gini"),
        )
        wr = Window.orderBy(
            F.asc(F.round(F.col("w_gini") * 1e12).cast("long")), F.asc("threshold")
        )
        best = splits.withColumn("rk", F.row_number().over(wr)).filter(
            F.col("rk") == 1
        )
        return best.select(
            F.col("threshold").alias("split_le_clicks"),
            F.col("ln").alias("n_left"),
            F.col("lp").alias("pos_left"),
            F.col("rn").alias("n_right"),
            F.col("rp").alias("pos_right"),
            stable_round(F.col("root_gini"), 6).alias("root_gini"),
            stable_round(F.col("w_gini"), 6).alias("split_gini"),
            stable_round(F.col("root_gini") - F.col("w_gini"), 6).alias(
                "gini_decrease"
            ),
        )


_register_decision_stump()


# SPRT literals, Python-precomputed so both engines inline the identical
# doubles: L1 = ln(p1/p0) for p1=0.22 vs p0=0.18, L0 = ln((1-p1)/(1-p0)),
# Wald boundary ln((1-beta)/alpha) = ln(19) at alpha = beta = 0.05.
_SPRT_L1 = 0.20067069546215124
_SPRT_L0 = -0.050010420574661305
_SPRT_BOUND = 2.9444389791664403


def _register_sprt() -> None:
    @register(
        "q_sprt_monitor",
        oracle=f"""
WITH conv AS (
    SELECT user_id,
           CAST(time_bucket(INTERVAL '1 day', min(ts)) AS DATE) AS day,
           max(CASE WHEN event_type = 'purchase' AND value > 150
                THEN 1 ELSE 0 END) AS converted
    FROM events
    WHERE (('0x' || substring(md5('ab-v1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
           % 2) = 0
    GROUP BY user_id
),
daily AS (
    SELECT day, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(converted) AS BIGINT) AS c
    FROM conv GROUP BY 1
),
cum AS (
    SELECT day,
           CAST(sum(n) OVER (ORDER BY day) AS BIGINT) AS n_cum,
           CAST(sum(c) OVER (ORDER BY day) AS BIGINT) AS c_cum
    FROM daily
)
SELECT CAST(day AS VARCHAR) AS day, n_cum AS users, c_cum AS conversions,
       (round((c_cum * CAST({_SPRT_L1!r} AS DOUBLE)
               + (n_cum - c_cum) * CAST({_SPRT_L0!r} AS DOUBLE))
              * 1000000.0) / 1000000.0) AS llr,
       CASE WHEN (c_cum * CAST({_SPRT_L1!r} AS DOUBLE)
                  + (n_cum - c_cum) * CAST({_SPRT_L0!r} AS DOUBLE))
                 >= CAST({_SPRT_BOUND!r} AS DOUBLE) THEN 'accept_h1'
            WHEN (c_cum * CAST({_SPRT_L1!r} AS DOUBLE)
                  + (n_cum - c_cum) * CAST({_SPRT_L0!r} AS DOUBLE))
                 <= -CAST({_SPRT_BOUND!r} AS DOUBLE) THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM cum
""",
        description=(
            "Wald SPRT conversion-rate monitor: the daily cumulative "
            "log-likelihood ratio of H1 (rate 0.22) vs H0 (0.18) over "
            "arm-A users, with the ln(19) accept/reject boundaries "
            "(alpha=beta=0.05) — the always-valid sequential design "
            "that stops on EVIDENCE rather than at fixed looks, "
            "complementing q_sequential_ab_monitor's Haybittle-Peto "
            "group-sequential readout (SPRT is optimal in expected "
            "sample size when the true rate sits at one hypothesis). "
            "The LLR is cumulative-BIGINT counts times two Python-"
            "precomputed double literals inlined identically in both "
            "plans — integer windows over the days-sized series are "
            "the only cross-row state, so nothing floats across rows."
        ),
        tags=("analytics", "extension", "stats", "timeseries"),
    )
    def q_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        in_a = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("ab-v1:"), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
            == 0
        )
        conv = (
            ev.filter(in_a)
            .groupBy("user_id")
            .agg(
                F.date_trunc("day", F.min("ts")).cast("date").alias("day"),
                F.max(
                    F.when(
                        (F.col("event_type") == "purchase") & (F.col("value") > 150),
                        1,
                    ).otherwise(0)
                ).alias("converted"),
            )
        )
        daily = conv.groupBy("day").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("converted").cast("long").alias("c"),
        )
        wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
        cum = daily.select(
            "day",
            F.sum("n").over(wc).cast("long").alias("n_cum"),
            F.sum("c").over(wc).cast("long").alias("c_cum"),
        )
        llr = F.col("c_cum") * F.lit(_SPRT_L1) + (
            F.col("n_cum") - F.col("c_cum")
        ) * F.lit(_SPRT_L0)
        return cum.select(
            F.col("day").cast("string").alias("day"),
            F.col("n_cum").alias("users"),
            F.col("c_cum").alias("conversions"),
            stable_round(llr, 6).alias("llr"),
            F.when(llr >= _SPRT_BOUND, F.lit("accept_h1"))
            .when(llr <= -_SPRT_BOUND, F.lit("accept_h0"))
            .otherwise(F.lit("continue"))
            .alias("decision"),
        )


_register_sprt()


def _register_odds_ratio() -> None:
    @register(
        "q_odds_ratio",
        oracle="""
WITH u AS (
    SELECT user_id,
           (('0x' || substring(md5('ab-v1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
            % 2 = 0) AS in_a,
           max(CASE WHEN event_type = 'purchase' AND value > 150
                THEN 1 ELSE 0 END) AS conv
    FROM events GROUP BY user_id
),
cells AS (
    SELECT CAST(sum(CASE WHEN in_a AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT)     AS a,
           CAST(sum(CASE WHEN in_a AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT)     AS b,
           CAST(sum(CASE WHEN NOT in_a AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
           CAST(sum(CASE WHEN NOT in_a AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
    FROM u
)
SELECT a AS conv_a, b AS nonconv_a, c AS conv_b, d AS nonconv_b,
       (round((a * 1.0 * d / (b * 1.0 * c)) * 1000000.0) / 1000000.0) AS odds_ratio,
       (round(exp(ln(a * 1.0 * d / (b * 1.0 * c))
                  - 1.959964 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d))
              * 1000000.0) / 1000000.0) AS or_ci_lo,
       (round(exp(ln(a * 1.0 * d / (b * 1.0 * c))
                  + 1.959964 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d))
              * 1000000.0) / 1000000.0) AS or_ci_hi,
       (round(((a * 1.0 / (a + b)) / (c * 1.0 / (c + d))) * 1000000.0)
        / 1000000.0) AS relative_risk
FROM cells WHERE a > 0 AND b > 0 AND c > 0 AND d > 0
""",
        description=(
            "Odds ratio + 95% Wald CI and relative risk for the A/B "
            "conversion 2x2 table — the EFFECT-SIZE readout that "
            "travels with q_ab_test_ztest's significance verdict "
            "(a significant z with an OR CI hugging 1.0 is a large-n "
            "nothing; stakeholders act on magnitudes, not p-values). "
            "All four cells are exact BIGINTs from one per-user pass; "
            "OR, its log-scale Wald interval (z=1.959964 inlined "
            "identically), and RR are fixed double expressions of "
            "those integers."
        ),
        tags=("analytics", "extension", "stats"),
    )
    def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        in_a = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("ab-v1:"), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
            == 0
        )
        u = ev.groupBy("user_id").agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") > 150), 1
                ).otherwise(0)
            ).alias("conv"),
            F.first(in_a).alias("in_a"),
        )
        cells = u.agg(
            F.sum(F.when(F.col("in_a") & (F.col("conv") == 1), 1).otherwise(0))
            .cast("long")
            .alias("a"),
            F.sum(F.when(F.col("in_a") & (F.col("conv") == 0), 1).otherwise(0))
            .cast("long")
            .alias("b"),
            F.sum(F.when(~F.col("in_a") & (F.col("conv") == 1), 1).otherwise(0))
            .cast("long")
            .alias("c"),
            F.sum(F.when(~F.col("in_a") & (F.col("conv") == 0), 1).otherwise(0))
            .cast("long")
            .alias("d"),
        )
        a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
        orr = a * 1.0 * d / (b * 1.0 * c)
        half = F.lit(1.959964) * F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
        rr = (a * 1.0 / (a + b)) / (c * 1.0 / (c + d))
        return cells.filter((a > 0) & (b > 0) & (c > 0) & (d > 0)).select(
            a.alias("conv_a"),
            b.alias("nonconv_a"),
            c.alias("conv_b"),
            d.alias("nonconv_b"),
            stable_round(orr, 6).alias("odds_ratio"),
            stable_round(F.exp(F.log(orr) - half), 6).alias("or_ci_lo"),
            stable_round(F.exp(F.log(orr) + half), 6).alias("or_ci_hi"),
            stable_round(rr, 6).alias("relative_risk"),
        )


_register_odds_ratio()


def _register_rate_ratio() -> None:
    @register(
        "q_poisson_rate_ratio",
        oracle="""
WITH u AS (
    SELECT user_id,
           (('0x' || substring(md5('ab-v1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
            % 2 = 0) AS in_a,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purch,
           CAST((max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 + 1 AS BIGINT)
               AS exposure_days
    FROM events GROUP BY user_id
),
arms AS (
    SELECT CAST(sum(CASE WHEN in_a THEN n_purch ELSE 0 END) AS BIGINT)        AS ev_a,
           CAST(sum(CASE WHEN in_a THEN exposure_days ELSE 0 END) AS BIGINT)  AS exp_a,
           CAST(sum(CASE WHEN NOT in_a THEN n_purch ELSE 0 END) AS BIGINT)    AS ev_b,
           CAST(sum(CASE WHEN NOT in_a THEN exposure_days ELSE 0 END) AS BIGINT) AS exp_b
    FROM u
)
SELECT ev_a AS events_a, exp_a AS exposure_days_a,
       ev_b AS events_b, exp_b AS exposure_days_b,
       (round((ev_a * 1.0 / exp_a) * 1000000.0) / 1000000.0) AS rate_a_per_day,
       (round((ev_b * 1.0 / exp_b) * 1000000.0) / 1000000.0) AS rate_b_per_day,
       (round(((ev_a * 1.0 / exp_a) / (ev_b * 1.0 / exp_b)) * 1000000.0)
        / 1000000.0) AS rate_ratio,
       (round(exp(ln((ev_a * 1.0 / exp_a) / (ev_b * 1.0 / exp_b))
                  - 1.959964 * sqrt(1.0 / ev_a + 1.0 / ev_b)) * 1000000.0)
        / 1000000.0) AS rr_ci_lo,
       (round(exp(ln((ev_a * 1.0 / exp_a) / (ev_b * 1.0 / exp_b))
                  + 1.959964 * sqrt(1.0 / ev_a + 1.0 / ev_b)) * 1000000.0)
        / 1000000.0) AS rr_ci_hi
FROM arms WHERE ev_a > 0 AND ev_b > 0
""",
        description=(
            "Poisson rate ratio with exposure adjustment: purchases "
            "per USER-DAY in arm A vs B, with the log-scale Wald CI "
            "sqrt(1/e_a + 1/e_b) — the count-data member of the "
            "effect-size family (q_odds_ratio handles binary "
            "converted-or-not; this handles HOW OFTEN, normalized by "
            "each user's observed span, so a cohort observed twice as "
            "long doesn't fake a lift). Per-user counts and "
            "integer-day exposures come from ONE pass; the ratio and "
            "CI are fixed expressions of four exact BIGINTs with the "
            "z literal inlined identically."
        ),
        tags=("analytics", "extension", "stats"),
    )
    def q_poisson_rate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        in_a = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("ab-v1:"), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
            == 0
        )
        u = ev.groupBy("user_id").agg(
            F.first(in_a).alias("in_a"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purch"),
            (
                F.floor(
                    (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts")))
                    / F.lit(86400000000)
                )
                + 1
            )
            .cast("long")
            .alias("exposure_days"),
        )
        arms = u.agg(
            F.sum(F.when(F.col("in_a"), F.col("n_purch")).otherwise(0))
            .cast("long")
            .alias("ev_a"),
            F.sum(F.when(F.col("in_a"), F.col("exposure_days")).otherwise(0))
            .cast("long")
            .alias("exp_a"),
            F.sum(F.when(~F.col("in_a"), F.col("n_purch")).otherwise(0))
            .cast("long")
            .alias("ev_b"),
            F.sum(F.when(~F.col("in_a"), F.col("exposure_days")).otherwise(0))
            .cast("long")
            .alias("exp_b"),
        )
        ea, xa, eb, xb = (F.col(c) for c in ["ev_a", "exp_a", "ev_b", "exp_b"])
        ra, rb = ea * 1.0 / xa, eb * 1.0 / xb
        rr = ra / rb
        half = F.lit(1.959964) * F.sqrt(1.0 / ea + 1.0 / eb)
        return arms.filter((ea > 0) & (eb > 0)).select(
            ea.alias("events_a"),
            xa.alias("exposure_days_a"),
            eb.alias("events_b"),
            xb.alias("exposure_days_b"),
            stable_round(ra, 6).alias("rate_a_per_day"),
            stable_round(rb, 6).alias("rate_b_per_day"),
            stable_round(rr, 6).alias("rate_ratio"),
            stable_round(F.exp(F.log(rr) - half), 6).alias("rr_ci_lo"),
            stable_round(F.exp(F.log(rr) + half), 6).alias("rr_ci_hi"),
        )


_register_rate_ratio()


def _register_cohens_d() -> None:
    @register(
        "q_cohens_d",
        oracle="""
WITH u AS (
    SELECT user_id,
           (('0x' || substring(md5('ab-v1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
            % 2 = 0) AS in_a,
           CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS v
    FROM events GROUP BY user_id
),
m AS (
    SELECT CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
           CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS nb,
           CAST(sum(CASE WHEN in_a THEN v ELSE 0 END) AS BIGINT) AS sa,
           CAST(sum(CASE WHEN in_a THEN 0 ELSE v END) AS BIGINT) AS sb,
           CAST(sum(CASE WHEN in_a THEN v * v ELSE 0 END) AS BIGINT) AS ssa,
           CAST(sum(CASE WHEN in_a THEN 0 ELSE v * v END) AS BIGINT) AS ssb
    FROM u
),
calc AS (
    SELECT na, nb, sa, sb,
           (((ssa - sa * 1.0 / na * sa) + (ssb - sb * 1.0 / nb * sb))
            / (na + nb - 2.0)) AS pooled_var
    FROM m
)
SELECT na AS n_a, nb AS n_b,
       (round((sa / 100.0 / na) * 1000000.0) / 1000000.0) AS mean_a_dollars,
       (round((sb / 100.0 / nb) * 1000000.0) / 1000000.0) AS mean_b_dollars,
       (round(((sa * 1.0 / na - sb * 1.0 / nb) / sqrt(pooled_var))
              * 1000000.0) / 1000000.0) AS cohens_d,
       (round((((sa * 1.0 / na - sb * 1.0 / nb) / sqrt(pooled_var))
               * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0))) * 1000000.0)
        / 1000000.0) AS hedges_g
FROM calc
""",
        description=(
            "Cohen's d and Hedges' g for the arm difference in per-"
            "user spend: the standardized mean difference on the "
            "pooled SD, with Hedges' small-sample bias correction "
            "1 - 3/(4(na+nb)-9) — the continuous-outcome member of "
            "the effect-size family (q_odds_ratio for binary, "
            "q_poisson_rate_ratio for counts, this for magnitudes), "
            "and the number q_power_analysis consumes as its input "
            "assumption. One conditional-moment pass in exact integer "
            "cents; d and g are fixed expressions of six BIGINTs. "
            "(q_covariate_balance computes the same statistic for "
            "covariate drift; here it reads the OUTCOME.)"
        ),
        tags=("analytics", "extension", "stats"),
    )
    def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        in_a = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("ab-v1:"), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
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
            )
            .cast("long")
            .alias("v"),
        )
        ia, v = F.col("in_a"), F.col("v")
        m = u.agg(
            F.sum(F.when(ia, 1).otherwise(0)).cast("long").alias("na"),
            F.sum(F.when(ia, 0).otherwise(1)).cast("long").alias("nb"),
            F.sum(F.when(ia, v).otherwise(0)).cast("long").alias("sa"),
            F.sum(F.when(ia, 0).otherwise(v)).cast("long").alias("sb"),
            F.sum(F.when(ia, v * v).otherwise(0)).cast("long").alias("ssa"),
            F.sum(F.when(ia, 0).otherwise(v * v)).cast("long").alias("ssb"),
        )
        na, nb, sa, sb = (F.col(c) for c in ["na", "nb", "sa", "sb"])
        pooled = (
            (F.col("ssa") - sa * 1.0 / na * sa) + (F.col("ssb") - sb * 1.0 / nb * sb)
        ) / (na + nb - 2.0)
        d = (sa * 1.0 / na - sb * 1.0 / nb) / F.sqrt(pooled)
        return m.select(
            na.alias("n_a"),
            nb.alias("n_b"),
            stable_round(sa / 100.0 / na, 6).alias("mean_a_dollars"),
            stable_round(sb / 100.0 / nb, 6).alias("mean_b_dollars"),
            stable_round(d, 6).alias("cohens_d"),
            stable_round(
                d * (F.lit(1.0) - 3.0 / (4.0 * (na + nb) - 9.0)), 6
            ).alias("hedges_g"),
        )


_register_cohens_d()


def _register_cochran_armitage() -> None:
    @register(
        "q_cochran_armitage",
        oracle="""
WITH u AS (
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
               AS clicks,
           max(CASE WHEN event_type = 'purchase' AND value > 150
                THEN 1 ELSE 0 END) AS conv
    FROM events GROUP BY user_id
),
binned AS (
    SELECT CASE WHEN clicks <= 12 THEN 0
                WHEN clicks <= 14 THEN 1
                WHEN clicks <= 17 THEN 2
                ELSE 3 END AS score,
           conv
    FROM u
),
g AS (
    SELECT CAST(score AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS n_g,
           CAST(sum(conv) AS BIGINT) AS r_g
    FROM binned GROUP BY 1
),
m AS (
    SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(r_g) AS BIGINT) AS r,
           CAST(sum(s * r_g) AS BIGINT) AS sr,
           CAST(sum(s * n_g) AS BIGINT) AS sn,
           CAST(sum(s * s * n_g) AS BIGINT) AS ssn
    FROM g
)
SELECT n AS n_users, r AS n_converted,
       (round((sr - r * 1.0 * sn / n) * 1000000.0) / 1000000.0) AS t_statistic,
       (round(((r * 1.0 / n) * (1.0 - r * 1.0 / n)
               * (ssn - sn * 1.0 * sn / n)) * 1000000.0) / 1000000.0)
           AS variance,
       (round(((sr - r * 1.0 * sn / n)
               / sqrt((r * 1.0 / n) * (1.0 - r * 1.0 / n)
                      * (ssn - sn * 1.0 * sn / n))) * 1000000.0) / 1000000.0)
           AS z_score
FROM m
WHERE (r * 1.0 / n) * (1.0 - r * 1.0 / n) * (ssn - sn * 1.0 * sn / n) > 0
""",
        description=(
            "Cochran-Armitage trend test: does conversion rate rise "
            "MONOTONICALLY across ordered click-volume buckets "
            "(<=12 / 13-14 / 15-17 / 18+, cuts spanning the fixture's per-user click distribution)? — the dose-response test that "
            "beats q_chi2_independence when the exposure is ordered "
            "(chi-square spends power on every deviation pattern; CA "
            "concentrates it on the trend, which is the question "
            "engagement tiers actually pose). T = sum s(r_g - R n_g/N) "
            "and its null variance are fixed expressions of five "
            "exact-BIGINT sums from one partial-aggregated pass over "
            "the 4-row bucket table."
        ),
        tags=("analytics", "extension", "stats"),
    )
    def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        u = ev.groupBy("user_id").agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("clicks"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") > 150), 1
                ).otherwise(0)
            ).alias("conv"),
        )
        score = (
            F.when(F.col("clicks") <= 12, 0)
            .when(F.col("clicks") <= 14, 1)
            .when(F.col("clicks") <= 17, 2)
            .otherwise(3)
            .cast("long")
        )
        g = u.select(score.alias("s"), "conv").groupBy("s").agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("conv").cast("long").alias("r_g"),
        )
        m = g.agg(
            F.sum("n_g").cast("long").alias("n"),
            F.sum("r_g").cast("long").alias("r"),
            F.sum(F.col("s") * F.col("r_g")).cast("long").alias("sr"),
            F.sum(F.col("s") * F.col("n_g")).cast("long").alias("sn"),
            F.sum(F.col("s") * F.col("s") * F.col("n_g")).cast("long").alias("ssn"),
        )
        n, r, sr, sn, ssn = (F.col(c) for c in ["n", "r", "sr", "sn", "ssn"])
        t = sr - r * 1.0 * sn / n
        var = (r * 1.0 / n) * (F.lit(1.0) - r * 1.0 / n) * (ssn - sn * 1.0 * sn / n)
        return m.filter(var > 0).select(
            n.alias("n_users"),
            r.alias("n_converted"),
            stable_round(t, 6).alias("t_statistic"),
            stable_round(var, 6).alias("variance"),
            stable_round(t / F.sqrt(var), 6).alias("z_score"),
        )


_register_cochran_armitage()


def _hosmer_lemeshow_oracle() -> str:
    parts, final = irls_beta_ctes(_logistic_features_sql(), LOGISTIC)
    joined = ",\n".join(parts)
    return f"""WITH {joined},
scored AS (
    SELECT y,
           CAST(round((1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1 + b.b2 * x2))))
                      * 1000000.0) AS BIGINT) AS pq
    FROM feat CROSS JOIN {final} b
),
bins AS (
    SELECT least(pq // 100000, 9) AS bin,
           CAST(count(*) AS BIGINT) AS n_g,
           CAST(sum(y) AS BIGINT) AS o1,
           CAST(sum(pq) AS BIGINT) AS e1q
    FROM scored GROUP BY 1
),
terms AS (
    SELECT bin, n_g, o1,
           CAST(round((((o1 - e1q / 1000000.0)
                        * (o1 - e1q / 1000000.0)) / (e1q / 1000000.0)
                       + ((n_g - o1) - (n_g - e1q / 1000000.0))
                         * ((n_g - o1) - (n_g - e1q / 1000000.0))
                         / (n_g - e1q / 1000000.0)) * 1000000000000.0) AS BIGINT)
               AS hq
    FROM bins WHERE e1q > 0 AND n_g * 1000000 > e1q
)
SELECT CAST(count(*) AS BIGINT) AS n_bins,
       (round((CAST(sum(hq) AS BIGINT) / 1000000000000.0) * 1000000.0)
        / 1000000.0) AS hl_chi2,
       CAST(count(*) - 2 AS BIGINT) AS dof
FROM terms
""".strip()


@register(
    "q_hosmer_lemeshow",
    oracle=_hosmer_lemeshow_oracle(),
    description=(
        "Hosmer-Lemeshow goodness-of-fit for the IRLS model: "
        "chi2 over 10 fixed probability bins comparing observed "
        "vs expected conversions (both classes), dof = bins - 2 — "
        "the FORMAL calibration test beside q_calibration_ece's "
        "summary number and q_isotonic_calibration's fix (ECE "
        "says how far off; HL says whether the miscalibration "
        "exceeds chance). Scores quantize to integer 1e-6 units "
        "BEFORE binning and summing, so expected counts are "
        "exact-BIGINT sums, and per-bin chi2 terms quantize at "
        "1e-12 before the final fold — no float crosses rows "
        "anywhere."
    ),
    tags=("analytics", "extension", "stats", "ml", "evaluation"),
)
def q_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat = _logistic_features(spark, sf_dir)
    beta = irls_fit(feat, LOGISTIC)
    pq = F.round(logistic_p(beta) * 1000000.0).cast("long")
    scored = feat.select("y", pq.alias("pq"))
    bins = scored.groupBy(
        F.least(F.floor(F.col("pq") / 100000), F.lit(9)).cast("long").alias(
            "bin"
        )
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("y").cast("long").alias("o1"),
        F.sum("pq").cast("long").alias("e1q"),
    )
    n_g, o1 = F.col("n_g"), F.col("o1")
    e1 = F.col("e1q") / 1000000.0
    term = (o1 - e1) * (o1 - e1) / e1 + ((n_g - o1) - (n_g - e1)) * (
        (n_g - o1) - (n_g - e1)
    ) / (n_g - e1)
    terms = bins.filter(
        (F.col("e1q") > 0) & (n_g * 1000000 > F.col("e1q"))
    ).select(F.round(term * 1e12).cast("long").alias("hq"))
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        stable_round(F.sum("hq").cast("long") / 1e12, 6).alias("hl_chi2"),
        (F.count(F.lit(1)) - 2).cast("long").alias("dof"),
    )


def _brier_oracle() -> str:
    parts, final = irls_beta_ctes(_logistic_features_sql(), LOGISTIC)
    joined = ",\n".join(parts)
    return f"""WITH {joined},
scored AS (
    SELECT y,
           CAST(round((1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1 + b.b2 * x2))))
                      * 1000000.0) AS BIGINT) AS pq
    FROM feat CROSS JOIN {final} b
),
brier AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS pos,
           CAST(sum((pq - y * 1000000) * (pq - y * 1000000)) AS BIGINT) AS bq
    FROM scored
),
bins AS (
    SELECT least(pq // 100000, 9) AS bin,
           CAST(count(*) AS BIGINT) AS n_g,
           CAST(sum(y) AS BIGINT) AS o_g,
           CAST(sum(pq) AS BIGINT) AS pq_g
    FROM scored GROUP BY 1
),
decomp AS (
    SELECT
      CAST(sum(CAST(round(n_g * ((pq_g * 1.0 / n_g / 1000000.0) - (o_g * 1.0 / n_g))
                          * ((pq_g * 1.0 / n_g / 1000000.0) - (o_g * 1.0 / n_g))
                          * 1000000000000.0) AS BIGINT)) AS BIGINT) AS rel_q,
      CAST(sum(CAST(round(n_g * ((o_g * 1.0 / n_g) - (b.pos * 1.0 / b.n))
                          * ((o_g * 1.0 / n_g) - (b.pos * 1.0 / b.n))
                          * 1000000000000.0) AS BIGINT)) AS BIGINT) AS res_q,
      max(b.n) AS n, max(b.pos) AS pos, max(b.bq) AS bq
    FROM bins CROSS JOIN brier b
)
SELECT n AS n_users,
       (round((bq / 1000000000000.0 / n) * 1000000.0) / 1000000.0) AS brier_score,
       (round((rel_q / 1000000000000.0 / n) * 1000000.0) / 1000000.0) AS reliability,
       (round((res_q / 1000000000000.0 / n) * 1000000.0) / 1000000.0) AS resolution,
       (round(((pos * 1.0 / n) * (1.0 - pos * 1.0 / n)) * 1000000.0) / 1000000.0)
           AS uncertainty
FROM decomp
""".strip()


@register(
    "q_brier_score",
    oracle=_brier_oracle(),
    description=(
        "Brier score with the Murphy decomposition (reliability - "
        "resolution + uncertainty, over the 10 probability bins): "
        "the strictly-proper scoring rule that grades probability "
        "forecasts as forecasts, completing the calibration "
        "toolkit — ECE summarizes miscalibration, Hosmer-Lemeshow "
        "tests it, Brier PRICES it together with discrimination "
        "(a model can ace HL yet have zero resolution; the "
        "decomposition separates the two). Scores are integer "
        "1e-6 units, so the per-user squared errors are exact "
        "BIGINTs and the per-bin decomposition terms quantize at "
        "1e-12 before their folds."
    ),
    tags=("analytics", "extension", "stats", "ml", "evaluation"),
)
def q_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat = _logistic_features(spark, sf_dir)
    beta = irls_fit(feat, LOGISTIC)
    pq = F.round(logistic_p(beta) * 1000000.0).cast("long")
    scored = feat.select("y", pq.alias("pq"))
    brier = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
        F.sum(
            (F.col("pq") - F.col("y") * 1000000)
            * (F.col("pq") - F.col("y") * 1000000)
        )
        .cast("long")
        .alias("bq"),
    )
    bins = scored.groupBy(
        F.least(F.floor(F.col("pq") / 100000), F.lit(9)).cast("long").alias(
            "bin"
        )
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("y").cast("long").alias("o_g"),
        F.sum("pq").cast("long").alias("pq_g"),
    )
    j = bins.crossJoin(F.broadcast(brier))
    n_g, o_g, pq_g = F.col("n_g"), F.col("o_g"), F.col("pq_g")
    pbar_g = pq_g * 1.0 / n_g / 1000000.0
    obar_g = o_g * 1.0 / n_g
    obar = F.col("pos") * 1.0 / F.col("n")
    rel_t = F.round(n_g * (pbar_g - obar_g) * (pbar_g - obar_g) * 1e12).cast(
        "long"
    )
    res_t = F.round(n_g * (obar_g - obar) * (obar_g - obar) * 1e12).cast(
        "long"
    )
    decomp = j.agg(
        F.sum(rel_t).cast("long").alias("rel_q"),
        F.sum(res_t).cast("long").alias("res_q"),
        F.max("n").alias("n"),
        F.max("pos").alias("pos"),
        F.max("bq").alias("bq"),
    )
    n, pos = F.col("n"), F.col("pos")
    return decomp.select(
        n.alias("n_users"),
        stable_round(F.col("bq") / 1e12 / n, 6).alias("brier_score"),
        stable_round(F.col("rel_q") / 1e12 / n, 6).alias("reliability"),
        stable_round(F.col("res_q") / 1e12 / n, 6).alias("resolution"),
        stable_round(
            (pos * 1.0 / n) * (F.lit(1.0) - pos * 1.0 / n), 6
        ).alias("uncertainty"),
    )


def _register_wasserstein() -> None:
    @register(
        "q_wasserstein_drift",
        oracle="""
WITH u AS (
    SELECT user_id,
           (('0x' || substring(md5('ab-v1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
            % 2 = 0) AS in_a,
           CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS v
    FROM events GROUP BY user_id
),
g AS (
    SELECT v,
           CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ta,
           CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS tb
    FROM u GROUP BY v
),
cum AS (
    SELECT v,
           CAST(sum(ta) OVER (ORDER BY v) AS BIGINT) AS ca,
           CAST(sum(tb) OVER (ORDER BY v) AS BIGINT) AS cb,
           CAST(sum(ta) OVER () AS BIGINT) AS na,
           CAST(sum(tb) OVER () AS BIGINT) AS nb,
           CAST(lead(v) OVER (ORDER BY v) AS BIGINT) AS v_next
    FROM g
),
seg AS (
    SELECT CAST(round(abs(ca * 1.0 / na - cb * 1.0 / nb) * (v_next - v)
                      * 1000000.0) AS BIGINT) AS wq,
           abs(ca * 1.0 / na - cb * 1.0 / nb) AS gap_frac
    FROM cum WHERE v_next IS NOT NULL
)
SELECT (round((CAST(sum(wq) AS BIGINT) / 1000000.0 / 100.0) * 1000000.0)
        / 1000000.0) AS wasserstein_dollars,
       (round(max(gap_frac) * 1000000.0) / 1000000.0) AS ks_statistic
FROM seg
""",
        description=(
            "1-D Wasserstein (earth-mover) distance between the arms' "
            "per-user spend distributions — the exact integral of "
            "|CDF_A - CDF_B| over the distinct-cents support, in "
            "dollars — with the KS sup-statistic as a byproduct: KS "
            "answers 'did the distribution change ANYWHERE', "
            "Wasserstein answers 'by how many dollars did mass "
            "move', which is what a drift alert should page on. "
            "CDF steps are exact BIGINT prefix counts over the "
            "distinct-value table, computed with the two-phase "
            "bucketed carry (v div 4096): in-bucket prefixes and "
            "leads are partitioned, cross-boundary v_next is the "
            "next non-empty bucket's min, and the only keyless "
            "windows ride the distinct_v/4096 bucket summary — safe "
            "even for unbounded value support; per-segment "
            "contributions quantize to BIGINT at 1e-6 before the sum."
        ),
        tags=("analytics", "extension", "stats", "evaluation"),
    )
    def q_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        in_a = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("ab-v1:"), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
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
            )
            .cast("long")
            .alias("v"),
        )
        g = u.groupBy("v").agg(
            F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("ta"),
            F.sum(F.when(F.col("in_a"), 0).otherwise(1)).cast("long").alias("tb"),
        )
        # Two-phase bucketed carry over the distinct-cents support:
        # in-bucket inclusive prefixes + in-bucket lead are fully
        # partitioned (v div 4096); the keyless windows only ever see
        # the bucket SUMMARY (distinct_v/4096 rows). v_next across a
        # bucket boundary = the next non-empty bucket's min v. Global
        # arm totals come from an agg cross-joined back, not an
        # unbounded window over the data.
        bkt = g.withColumn("bkt", F.expr("v div 4096"))
        w_in = (
            Window.partitionBy("bkt")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_lead = Window.partitionBy("bkt").orderBy("v")
        rows = bkt.select(
            "v", "bkt",
            F.sum("ta").over(w_in).cast("long").alias("cin_a"),
            F.sum("tb").over(w_in).cast("long").alias("cin_b"),
            F.lead("v").over(w_lead).cast("long").alias("lead_in"),
        )
        btot = bkt.groupBy("bkt").agg(
            F.sum("ta").alias("bv_a"),
            F.sum("tb").alias("bv_b"),
            F.min("v").alias("bmin"),
        )
        w_b = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
        w_bl = Window.orderBy("bkt")
        bsum = btot.select(
            "bkt",
            F.sum("bv_a").over(w_b).alias("prev_a"),
            F.sum("bv_b").over(w_b).alias("prev_b"),
            F.lead("bmin").over(w_bl).cast("long").alias("next_bmin"),
        )
        tot = g.agg(
            F.sum("ta").cast("long").alias("na"), F.sum("tb").cast("long").alias("nb")
        )
        cum = (
            rows.join(F.broadcast(bsum), "bkt")
            .crossJoin(F.broadcast(tot))
            .select(
                "v",
                (F.col("cin_a") + F.coalesce(F.col("prev_a"), F.lit(0)))
                .cast("long")
                .alias("ca"),
                (F.col("cin_b") + F.coalesce(F.col("prev_b"), F.lit(0)))
                .cast("long")
                .alias("cb"),
                "na",
                "nb",
                F.coalesce(F.col("lead_in"), F.col("next_bmin")).alias("v_next"),
            )
        )
        frac = F.abs(F.col("ca") * 1.0 / F.col("na") - F.col("cb") * 1.0 / F.col("nb"))
        seg = cum.filter(F.col("v_next").isNotNull()).select(
            F.round(frac * (F.col("v_next") - F.col("v")) * 1000000.0)
            .cast("long")
            .alias("wq"),
            frac.alias("gap_frac"),
        )
        return seg.agg(
            stable_round(
                F.sum("wq").cast("long") / 1000000.0 / 100.0, 6
            ).alias("wasserstein_dollars"),
            stable_round(F.max("gap_frac"), 6).alias("ks_statistic"),
        )



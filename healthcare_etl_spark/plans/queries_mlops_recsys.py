"""Recommender-system and model-evaluation queries (split from
queries_mlops for reviewable module size; r6 verdict task 8): item-item
collaborative filtering, naive Bayes, feature hashing, Markov
attribution, extreme-value fits, recsys bias baselines and diversity
evals, entropy rate, l-diversity audits, IV/Wald estimation, k-fold CV
ridge, Qini curves, IPS policy evaluation, fairness audits, uncertainty
sampling, hit-rate eval, ALS sweeps, negative sampling, isolation
forests, cold-start fallbacks, DP top-k, and DeLong AUC CIs. Shared
helpers import from queries_mlops / queries_mlops_stats.

All oracle-checked against DuckDB with identical arithmetic on both
sides; each query documents its 100 TB plan shape in its docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import half_away, stable_round, stable_round_py, stable_round_sql
from healthcare_etl_spark.operators.logistic import LOGISTIC, irls_beta_ctes, irls_fit, logistic_p
from healthcare_etl_spark.plans.power_iteration import (
    CHAIN_ROUNDS,
    event_pairs,
    stationary_chain,
    stationary_oracle_sql,
    transitions,
)
from healthcare_etl_spark.plans.registry import register
from healthcare_etl_spark.sources import load_table, local_frame

from healthcare_etl_spark.plans.queries_mlops import (  # noqa: F401
    _logistic_features,
    _logistic_features_sql,
)
from healthcare_etl_spark.plans.queries_mlops_stats import (  # noqa: F401
    _register_wasserstein,
)
_register_wasserstein()


@register(
    "q_item_item_cf",
    oracle="""
WITH basket AS (
    SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
n_i AS (SELECT pk, CAST(count(*) AS BIGINT) AS n FROM basket GROUP BY pk),
cooc AS (
    SELECT a.pk AS part_a, b.pk AS part_b, CAST(count(*) AS BIGINT) AS n_ab
    FROM basket a JOIN basket b ON a.ok = b.ok AND a.pk < b.pk
    GROUP BY 1, 2
)
SELECT c.part_a, c.part_b, c.n_ab,
       na.n AS n_a, nb.n AS n_b,
       (round((c.n_ab / sqrt(na.n * 1.0 * nb.n)) * 1000000.0) / 1000000.0)
           AS cosine_sim
FROM cooc c
JOIN n_i na ON na.pk = c.part_a
JOIN n_i nb ON nb.pk = c.part_b
ORDER BY cosine_sim DESC, c.part_a, c.part_b
LIMIT 50
""",
    description=(
        "Item-item collaborative filtering on implicit co-purchase "
        "signals: cosine similarity n_ab/sqrt(n_a*n_b) between parts "
        "over order baskets (lineitem distinct (order, part)), top-50 "
        "pairs — the 'customers who bought X also bought Y' "
        "recommender primitive, and the transactional sibling of "
        "q_session_cooccurrence. The pair join is WITHIN an order key "
        "(quadratic only in basket size, ~7 lines/order in TPC-H — "
        "never an all-pairs item join), co-occurrence folds as BIGINT "
        "counts, similarity is one float expression per surviving "
        "pair, and the top-50 is a TakeOrdered, not a global sort. "
        "At 100x: identical shape — baskets shuffle once on orderkey, "
        "pairs once on (part_a, part_b)."
    ),
    tags=("analytics", "extension", "ml", "recommender"),
)
def q_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    n_i = basket.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = basket.alias("a")
    b = basket.alias("b")
    cooc = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
        .groupBy(
            F.col("a.pk").alias("part_a"), F.col("b.pk").alias("part_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    na = n_i.select(F.col("pk").alias("part_a"), F.col("n").alias("n_a"))
    nb = n_i.select(F.col("pk").alias("part_b"), F.col("n").alias("n_b"))
    out = (
        cooc.join(F.broadcast(na), "part_a")
        .join(F.broadcast(nb), "part_b")
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            stable_round(
                F.col("n_ab") / F.sqrt(F.col("n_a") * 1.0 * F.col("n_b")), 6
            ).alias("cosine_sim"),
        )
    )
    return out.orderBy(
        F.desc("cosine_sim"), F.asc("part_a"), F.asc("part_b")
    ).limit(50)


_NB_FEATS = ("click", "view", "error", "signup")


def _nb_oracle() -> str:
    feat_cols = ",\n           ".join(
        f"CAST(max(CASE WHEN event_type = '{f}' THEN 1 ELSE 0 END) AS BIGINT) AS f_{f}"
        for f in _NB_FEATS
    )
    cnt_cols = ",\n           ".join(
        f"CAST(sum(CASE WHEN y = 1 THEN f_{f} ELSE 0 END) AS BIGINT) AS c1_{f},\n"
        f"           CAST(sum(CASE WHEN y = 0 THEN f_{f} ELSE 0 END) AS BIGINT) AS c0_{f}"
        for f in _NB_FEATS
    )
    w_cols = ",\n           ".join(
        f"{stable_round_sql(f'ln((c1_{f} + 1.0) / (n1 + 2.0))')} AS w1_{f},\n"
        f"           {stable_round_sql(f'ln(1.0 - (c1_{f} + 1.0) / (n1 + 2.0))')} AS z1_{f},\n"
        f"           {stable_round_sql(f'ln((c0_{f} + 1.0) / (n0 + 2.0))')} AS w0_{f},\n"
        f"           {stable_round_sql(f'ln(1.0 - (c0_{f} + 1.0) / (n0 + 2.0))')} AS z0_{f}"
        for f in _NB_FEATS
    )
    s1 = " + ".join(f"(u.f_{f} * p.w1_{f} + (1 - u.f_{f}) * p.z1_{f})" for f in _NB_FEATS)
    s0 = " + ".join(f"(u.f_{f} * p.w0_{f} + (1 - u.f_{f}) * p.z0_{f})" for f in _NB_FEATS)
    return f"""
WITH u AS (
    SELECT user_id,
           CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y,
           {feat_cols}
    FROM events GROUP BY user_id
),
cnt AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n1,
           CAST(count(*) - sum(y) AS BIGINT) AS n0,
           {cnt_cols}
    FROM u
),
params AS (
    SELECT n, n1, n0,
           {stable_round_sql('ln((n1 + 1.0) / (n + 2.0))')} AS lp1,
           {stable_round_sql('ln((n0 + 1.0) / (n + 2.0))')} AS lp0,
           {w_cols}
    FROM cnt
),
scored AS (
    SELECT u.y,
           CASE WHEN (p.lp1 + {s1}) > (p.lp0 + {s0}) THEN 1 ELSE 0 END AS pred
    FROM u CROSS JOIN params p
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(sum(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(sum(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CAST(sum(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       {stable_round_sql('sum(CASE WHEN pred = y THEN 1 ELSE 0 END) * 1.0 / count(*)')} AS accuracy
FROM scored
"""


_register_nb = register(
    "q_naive_bayes",
    oracle=_nb_oracle(),
    description=(
        "Bernoulli naive Bayes classifier predicting purchasers from "
        "event-type presence features (click/view/error/signup), "
        "Laplace-smoothed (priors included — a one-class fixture slice "
        "must not produce ln(0)), trained and scored in ONE pass each: the "
        "counting-only member of the classifier family next to "
        "q_logistic_regression (iterative IRLS) and q_gini_stump "
        "(single split) — NB needs no iteration at all, so it is the "
        "cheapest possible 100 TB baseline (two shuffles total: the "
        "per-user feature agg and the global count agg; the learned "
        "parameters are a 1-row broadcast). Every log-weight is "
        "6dp-stable-rounded at the parameter level so per-user score "
        "sums — fixed-shape 4-term expressions over exact 0/1 "
        "features — are bit-identical across engines; reports the "
        "confusion matrix and training accuracy."
    ),
    tags=("analytics", "extension", "ml"),
)


def _nb_features_and_params(spark: SparkSession, sf_dir: str):
    """Shared Bernoulli-NB training: per-user 0/1 features + the 1-row
    6dp-rounded log-weight parameter frame (see q_naive_bayes)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
        *[
            F.max(F.when(F.col("event_type") == f, 1).otherwise(0))
            .cast("long")
            .alias(f"f_{f}")
            for f in _NB_FEATS
        ],
    )
    cnt = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n0"),
        *[
            c
            for f in _NB_FEATS
            for c in (
                F.sum(F.when(F.col("y") == 1, F.col(f"f_{f}")).otherwise(0))
                .cast("long")
                .alias(f"c1_{f}"),
                F.sum(F.when(F.col("y") == 0, F.col(f"f_{f}")).otherwise(0))
                .cast("long")
                .alias(f"c0_{f}"),
            )
        ],
    )
    n, n1, n0 = F.col("n"), F.col("n1"), F.col("n0")
    params = cnt.select(
        n,
        n1,
        n0,
        stable_round(F.log((n1 + 1.0) / (n + 2.0)), 6).alias("lp1"),
        stable_round(F.log((n0 + 1.0) / (n + 2.0)), 6).alias("lp0"),
        *[
            c
            for f in _NB_FEATS
            for c in (
                stable_round(
                    F.log((F.col(f"c1_{f}") + 1.0) / (n1 + 2.0)), 6
                ).alias(f"w1_{f}"),
                stable_round(
                    F.log(1.0 - (F.col(f"c1_{f}") + 1.0) / (n1 + 2.0)), 6
                ).alias(f"z1_{f}"),
                stable_round(
                    F.log((F.col(f"c0_{f}") + 1.0) / (n0 + 2.0)), 6
                ).alias(f"w0_{f}"),
                stable_round(
                    F.log(1.0 - (F.col(f"c0_{f}") + 1.0) / (n0 + 2.0)), 6
                ).alias(f"z0_{f}"),
            )
        ],
    )
    return u, params


def _nb_scores():
    """Class log-score column expressions (s1, s0) over the joined
    features x params frame, fixed association order on both engines."""
    s1 = F.col("lp1")
    s0 = F.col("lp0")
    for f in _NB_FEATS:
        fv = F.col(f"f_{f}")
        s1 = s1 + (fv * F.col(f"w1_{f}") + (1 - fv) * F.col(f"z1_{f}"))
        s0 = s0 + (fv * F.col(f"w0_{f}") + (1 - fv) * F.col(f"z0_{f}"))
    return s1, s0


def q_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    u, params = _nb_features_and_params(spark, sf_dir)
    scored = u.crossJoin(F.broadcast(params))
    s1, s0 = _nb_scores()
    pred = F.when(s1 > s0, 1).otherwise(0)
    y = F.col("y")
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when((pred == 1) & (y == 1), 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when((pred == 1) & (y == 0), 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when((pred == 0) & (y == 1), 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when((pred == 0) & (y == 0), 1).otherwise(0)).cast("long").alias("tn"),
        stable_round(
            F.sum(F.when(pred == y, 1).otherwise(0)) * 1.0 / F.count(F.lit(1)), 6
        ).alias("accuracy"),
    )


q_naive_bayes = _register_nb(q_naive_bayes)


@register(
    "q_feature_hashing",
    oracle="""
WITH feats AS (
    SELECT event_type || '#' || CAST(dayofweek(ts) AS VARCHAR) AS f
    FROM events
),
hashed AS (
    SELECT f,
           (('0x' || substring(md5('fh-v1:' || f), 1, 8))::BIGINT % 16) AS bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM feats GROUP BY 1
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_features,
       CAST(sum(n) AS BIGINT) AS total_count,
       (count(*) > 1) AS has_collision
FROM hashed GROUP BY bucket ORDER BY bucket
""",
    description=(
        "Feature hashing (the hashing trick): categorical "
        "(event_type x weekday) features mapped to 16 buckets via the "
        "first 8 hex digits of a salted md5 — the fixed-width, "
        "vocabulary-free encoding large-scale learners use instead of "
        "a label-encoder dictionary (no global vocab build, no "
        "driver-side state, new categories never resize anything). "
        "Reports per-bucket feature fan-in and collision flags — the "
        "operational question ('is 16 buckets enough or are hot "
        "features colliding?'). Hashing and counting fold map-side; "
        "the only shuffle is the 16-bucket agg. Same md5-prefix "
        "idiom as the deterministic A/B arm split, so both engines "
        "bucket identically."
    ),
    tags=("analytics", "extension", "ml-prep"),
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    feats = ev.select(
        F.concat(
            F.col("event_type"), F.lit("#"), (F.dayofweek("ts") - 1).cast("string")
        ).alias("f")
    )
    hashed = feats.groupBy("f").agg(F.count(F.lit(1)).cast("long").alias("n"))
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("fh-v1:"), F.col("f"))), 1, 8), 16, 10)
        .cast("long")
        % 16
    )
    return (
        hashed.select(bucket.alias("bucket"), "f", "n")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_features"),
            F.sum("n").cast("long").alias("total_count"),
            (F.count(F.lit(1)) > 1).alias("has_collision"),
        )
        .orderBy("bucket")
    )


_MK_CHANNELS = ("click", "error", "signup", "view")

_MK_TRANS_SQL = """
seq AS (
    SELECT user_id, event_type,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS BIGINT) AS rn
    FROM events
),
conv AS (
    SELECT user_id, CAST(min(rn) AS BIGINT) AS crn
    FROM seq WHERE event_type = 'purchase' GROUP BY user_id
),
tch AS (
    SELECT s.user_id, s.event_type, s.rn,
           CAST(row_number() OVER (PARTITION BY s.user_id ORDER BY s.rn)
                AS BIGINT) AS k
    FROM seq s LEFT JOIN conv c ON s.user_id = c.user_id
    WHERE c.crn IS NULL OR s.rn < c.crn
),
step AS (
    SELECT t.user_id, t.event_type AS f, t.k,
           lead(t.event_type) OVER (PARTITION BY t.user_id ORDER BY t.k) AS nxt,
           max(t.k) OVER (PARTITION BY t.user_id) AS mk,
           (c.crn IS NOT NULL) AS converted
    FROM tch t LEFT JOIN conv c ON t.user_id = c.user_id
),
edges AS (
    SELECT 'START' AS f, event_type AS t FROM tch WHERE k = 1
    UNION ALL
    SELECT f, nxt AS t FROM step WHERE nxt IS NOT NULL
    UNION ALL
    SELECT f, CASE WHEN converted THEN 'CONV' ELSE 'NULL' END AS t
    FROM step WHERE k = mk
    UNION ALL
    SELECT 'START' AS f, 'CONV' AS t FROM conv WHERE crn = 1
),
cnt AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM edges GROUP BY 1, 2),
tot AS (SELECT f, CAST(sum(n) AS BIGINT) AS tn FROM cnt GROUP BY 1),
p AS MATERIALIZED (
    SELECT c.f, c.t,
           (round((c.n * 1.0 / tot.tn) * 1000000.0) / 1000000.0) AS p
    FROM cnt c JOIN tot ON c.f = tot.f
),
st AS MATERIALIZED (
    SELECT unnest(['START', 'click', 'error', 'signup', 'view']) AS s
)"""


def _mk_attrib_oracle(rounds: int = 12) -> str:
    parts = [_MK_TRANS_SQL.strip()]
    variants = [("full", None)] + [(f"rm_{c}", c) for c in _MK_CHANNELS]
    for tag, removed in variants:
        parts.append(
            f"{tag}_0 AS MATERIALIZED (SELECT s, CAST(0.0 AS DOUBLE) AS v FROM st)"
        )
        rm = f"WHEN p.t = '{removed}' THEN 0.0 " if removed else ""
        for r in range(1, rounds + 1):
            parts.append(
                f"""{tag}_{r} AS MATERIALIZED (
    SELECT st.s,
           {stable_round_sql(f'''coalesce(sum(p.p * (CASE WHEN p.t = 'CONV' THEN 1.0
                      WHEN p.t = 'NULL' THEN 0.0 {rm}ELSE coalesce(pv.v, 0.0) END)), 0.0)''')} AS v
    FROM st
    LEFT JOIN p ON p.f = st.s
    LEFT JOIN {tag}_{r - 1} pv ON pv.s = p.t
    GROUP BY st.s
)"""
            )
    sel = ",\n".join(
        f"(SELECT v FROM rm_{c}_{rounds} WHERE s = 'START') AS p_rm_{c}"
        for c in _MK_CHANNELS
    )
    eff = {
        c: f"(round((1.0 - p_rm_{c} / p_full) * 1000000.0) / 1000000.0)"
        for c in _MK_CHANNELS
    }
    tot_eff = " + ".join(f"greatest({eff[c]}, 0.0)" for c in _MK_CHANNELS)
    chan_rows = "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS channel, p_full, p_rm_{c} AS p_removed,
       {eff[c]} AS removal_effect,
       (round((greatest({eff[c]}, 0.0) / ({tot_eff})) * 1000000.0) / 1000000.0)
           AS attribution_share
FROM base"""
        for c in _MK_CHANNELS
    )
    joined = ",\n".join(parts)
    return f"""WITH {joined},
base AS (
    SELECT (SELECT v FROM full_{rounds} WHERE s = 'START') AS p_full,
           {sel}
)
{chan_rows}
ORDER BY channel
"""


@register(
    "q_markov_attribution",
    oracle=_mk_attrib_oracle(12),
    description=(
        "Markov removal-effect attribution: user journeys (touches "
        "before first purchase, ordered by ts,event_id) become a "
        "first-order chain START -> touches -> CONV/NULL; each "
        "channel's credit is its removal effect 1 - P_conv(chain with "
        "the channel absorbed to NULL)/P_conv(full chain), normalized "
        "to shares — the causal-flavored member of the attribution "
        "family (last-touch ignores paths, linear splits equally, "
        "Shapley needs the coalition powerset; Markov asks 'how much "
        "conversion disappears without this state?'). Data-sized work "
        "is ONE journey pass producing the transition-count matrix "
        "(at most |types|^2 + fringe rows); absorption probabilities "
        "come from 12 value-iteration rounds per variant over the "
        "<=5 transient states, riding the driver like "
        "q_markov_stationary, every iterate 6dp-rounded against the "
        "unrolled-CTE oracle."
    ),
    tags=("events", "extension", "analytics", "attribution"),
)
def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.row_number().over(w_seq).cast("long").alias("rn")
    )
    conv = (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").cast("long").alias("crn"))
    )
    tch = (
        seq.join(conv, "user_id", "left")
        .filter(F.col("crn").isNull() | (F.col("rn") < F.col("crn")))
        .withColumn(
            "k",
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("rn"))
            .cast("long"),
        )
    )
    w_u = Window.partitionBy("user_id").orderBy("k")
    step = tch.select(
        "user_id",
        F.col("event_type").alias("f"),
        "k",
        F.lead("event_type").over(w_u).alias("nxt"),
        F.max("k").over(Window.partitionBy("user_id")).alias("mk"),
        F.col("crn").isNotNull().alias("converted"),
    )
    edges = (
        tch.filter(F.col("k") == 1)
        .select(F.lit("START").alias("f"), F.col("event_type").alias("t"))
        .unionAll(
            step.filter(F.col("nxt").isNotNull()).select("f", F.col("nxt").alias("t"))
        )
        .unionAll(
            step.filter(F.col("k") == F.col("mk")).select(
                "f",
                F.when(F.col("converted"), "CONV").otherwise("NULL").alias("t"),
            )
        )
        .unionAll(
            conv.filter(F.col("crn") == 1).select(
                F.lit("START").alias("f"), F.lit("CONV").alias("t")
            )
        )
    )
    # |states|^2 transition matrix: metadata-scale, like q_markov_stationary.
    mat: dict[str, list[tuple[str, float]]] = {}
    for r in transitions(edges).collect():
        mat.setdefault(r["f"], []).append((r["t"], r["p"]))
    states = ["START", *_MK_CHANNELS]

    def absorb(removed: str | None) -> float:
        v = {s: 0.0 for s in states}
        for _ in range(12):
            nxt = {}
            for s in states:
                acc = 0.0
                for t, pp in sorted(mat.get(s, [])):
                    if t == "CONV":
                        acc += pp * 1.0
                    elif t == "NULL" or t == removed:
                        pass
                    else:
                        acc += pp * v.get(t, 0.0)
                nxt[s] = stable_round_py(acc, 6)
            v = nxt
        return v["START"]

    p_full = absorb(None)
    rows = []
    effs = {
        c: stable_round_py(1.0 - absorb(c) / p_full, 6) for c in _MK_CHANNELS
    }
    tot_eff = sum(max(effs[c], 0.0) for c in sorted(_MK_CHANNELS))
    for c in _MK_CHANNELS:
        rows.append(
            (
                c,
                float(p_full),
                float(absorb(c)),
                float(effs[c]),
                float(stable_round_py(max(effs[c], 0.0) / tot_eff, 6)),
            )
        )
    return local_frame(
        spark,
        rows,
        "channel string, p_full double, p_removed double, "
        "removal_effect double, attribution_share double",
    ).orderBy("channel")


@register(
    "q_gumbel_extremes",
    oracle="""
WITH daily AS (
    SELECT time_bucket(INTERVAL '1 day', ts) AS day,
           CAST(max(round(value * 100)) AS BIGINT) AS mx
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(mx) AS BIGINT) AS s1,
           CAST(sum(mx * mx) AS BIGINT) AS s2
    FROM daily
),
fit AS (
    SELECT n,
           (s1 * 1.0 / n / 100.0) AS mean_max,
           (sqrt((n * s2 - s1 * s1) * 1.0 / (n * 1.0 * n)) / 100.0
            * sqrt(6.0) / 3.141592653589793) AS beta
    FROM m
)
SELECT n AS n_days,
       (round(mean_max * 1000000.0) / 1000000.0) AS mean_daily_max,
       (round((mean_max - 0.5772156649015329 * beta) * 1000000.0) / 1000000.0)
           AS gumbel_loc,
       (round(beta * 1000000.0) / 1000000.0) AS gumbel_scale,
       (round((mean_max - 0.5772156649015329 * beta
               - beta * ln(-ln(1.0 - 1.0 / 30.0))) * 1000000.0) / 1000000.0)
           AS return_level_30d,
       (round((mean_max - 0.5772156649015329 * beta
               - beta * ln(-ln(1.0 - 1.0 / 365.0))) * 1000000.0) / 1000000.0)
           AS return_level_365d
FROM fit
""",
    description=(
        "Extreme-value analysis of daily maximum purchase values: "
        "Gumbel fit by method of moments over the block (daily) "
        "maxima — scale = s*sqrt(6)/pi, loc = mean - gamma*scale "
        "(Euler-Mascheroni) — with 30-day and 365-day return levels "
        "loc - scale*ln(-ln(1-1/T)), i.e. 'how large a single "
        "purchase should we expect once a month / once a year?' — "
        "the EVT member of the tail-analysis family next to "
        "q_tail_latency_heatmap's empirical percentiles (quantiles "
        "interpolate INSIDE the data; a fitted tail extrapolates "
        "beyond it, which is what capacity planning actually needs). "
        "Block maxima fold as exact integer cents (max commutes with "
        "the cents quantization), moments are BIGINT, and the fit is "
        "a fixed float expression — one day-grain shuffle total."
    ),
    tags=("analytics", "extension", "stats", "timeseries"),
)
def q_gumbel_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.max(F.round(F.col("value") * 100)).cast("long").alias("mx"))
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("mx").cast("long").alias("s1"),
        F.sum(F.col("mx") * F.col("mx")).cast("long").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    mean_max = s1 * 1.0 / n / 100.0
    beta = (
        F.sqrt((n * s2 - s1 * s1) * 1.0 / (n * 1.0 * n))
        / 100.0
        * F.sqrt(F.lit(6.0))
        / F.lit(3.141592653589793)
    )
    gamma = F.lit(0.5772156649015329)
    loc = mean_max - gamma * beta
    import math as _math  # noqa: F401  (documents the pi literal provenance)

    def rl(t: float):
        return loc - beta * F.log(-F.log(1.0 - 1.0 / F.lit(t)))

    return m.select(
        n.alias("n_days"),
        stable_round(mean_max, 6).alias("mean_daily_max"),
        stable_round(loc, 6).alias("gumbel_loc"),
        stable_round(beta, 6).alias("gumbel_scale"),
        stable_round(rl(30.0), 6).alias("return_level_30d"),
        stable_round(rl(365.0), 6).alias("return_level_365d"),
    )


@register(
    "q_bias_baseline_recsys",
    oracle="""
WITH r AS (
    SELECT o.o_custkey AS u, l.l_partkey AS i,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
),
g AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS sq FROM r
),
ib AS (
    SELECT i, CAST(count(*) AS BIGINT) AS n_i, CAST(sum(q) AS BIGINT) AS s_i,
           CAST(round(((sum(q) - count(*) * ((SELECT sq FROM g) * 1.0 / (SELECT n FROM g)))
                       / (5.0 + count(*))) * 1000000.0) AS BIGINT) AS bi_q
    FROM r GROUP BY i
),
ub AS (
    SELECT r.u, CAST(count(*) AS BIGINT) AS n_u,
           CAST(round(((sum(r.q) - count(*) * ((SELECT sq FROM g) * 1.0 / (SELECT n FROM g)))
                        * 1000000.0 - sum(ib.bi_q))
                      / ((5.0 + count(*)) * 1000000.0) * 1000000.0) AS BIGINT) AS bu_q
    FROM r JOIN ib ON ib.i = r.i GROUP BY r.u
),
scored AS (
    SELECT r.q,
           ((SELECT sq FROM g) * 1.0 / (SELECT n FROM g)
            + ib.bi_q / 1000000.0 + ub.bu_q / 1000000.0) AS pred,
           ((SELECT sq FROM g) * 1.0 / (SELECT n FROM g)) AS mu
    FROM r JOIN ib ON ib.i = r.i JOIN ub ON ub.u = r.u
),
e AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round((q - pred) * (q - pred) * 1000000.0) AS BIGINT))
                AS BIGINT) AS se_base,
           CAST(sum(CAST(round((q - mu) * (q - mu) * 1000000.0) AS BIGINT))
                AS BIGINT) AS se_glob,
           max(mu) AS mu
    FROM scored
)
SELECT n AS n_pairs,
       (round(mu * 1000000.0) / 1000000.0) AS global_mean_qty,
       (round(sqrt(se_glob / 1000000.0 / n) * 1000000.0) / 1000000.0)
           AS rmse_global,
       (round(sqrt(se_base / 1000000.0 / n) * 1000000.0) / 1000000.0)
           AS rmse_baseline
FROM e
""",
    description=(
        "Recommender bias baseline (the Netflix-prize 'baseline "
        "predictor'): customer x part implicit ratings (summed "
        "quantity), global mean mu, damped item bias "
        "b_i = (S_i - n_i*mu)/(lambda + n_i), then damped user bias "
        "on the item-debiased residuals, and the RMSE of mu + b_i + "
        "b_u vs mu alone — the mandatory sanity floor before any "
        "factorization model, and the personalization complement to "
        "q_item_item_cf's neighborhood scores. Determinism contract: "
        "ratings are exact BIGINT quantity sums, bias numerators use "
        "the S - n*mu identity (never a float sum of per-row "
        "residuals), biases are quantized to integer micro-units "
        "before the user-level re-aggregation, and squared errors "
        "fold as micro-unit BIGINTs — so both engines emit identical "
        "doubles. Three shuffles: (u,i) agg, item agg, user agg."
    ),
    tags=("analytics", "extension", "ml", "recommender"),
)
def q_bias_baseline_recsys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    r = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
        .persist()
    )
    try:
        g = r.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("q").cast("long").alias("sq"),
        ).collect()[0]
        mu = g["sq"] * 1.0 / g["n"]
        ib = r.groupBy("i").agg(
            F.round(
                (F.sum("q") - F.count(F.lit(1)) * F.lit(mu))
                / (F.lit(5.0) + F.count(F.lit(1)))
                * 1000000.0
            )
            .cast("long")
            .alias("bi_q"),
        )
        ri = r.join(ib, "i")
        ub = ri.groupBy("u").agg(
            F.round(
                (
                    (F.sum("q") - F.count(F.lit(1)) * F.lit(mu)) * 1000000.0
                    - F.sum("bi_q")
                )
                / ((F.lit(5.0) + F.count(F.lit(1))) * 1000000.0)
                * 1000000.0
            )
            .cast("long")
            .alias("bu_q"),
        )
        pred = (
            F.lit(mu) + F.col("bi_q") / 1000000.0 + F.col("bu_q") / 1000000.0
        )
        q = F.col("q")
        scored = ri.join(ub, "u")
        e = scored.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round((q - pred) * (q - pred) * 1000000.0).cast("long"))
            .cast("long")
            .alias("se_base"),
            F.sum(
                F.round((q - F.lit(mu)) * (q - F.lit(mu)) * 1000000.0).cast("long")
            )
            .cast("long")
            .alias("se_glob"),
        )
        n = F.col("n")
        return e.select(
            n.alias("n_pairs"),
            stable_round(F.lit(mu), 6).alias("global_mean_qty"),
            stable_round(F.sqrt(F.col("se_glob") / 1000000.0 / n), 6).alias(
                "rmse_global"
            ),
            stable_round(F.sqrt(F.col("se_base") / 1000000.0 / n), 6).alias(
                "rmse_baseline"
            ),
        )
    finally:
        r.unpersist()


def _entropy_rate_oracle() -> str:
    return f"""{stationary_oracle_sql()},
terms AS (
    SELECT CAST(round(pi.v * p.p * (-log2(p.p)) * 1000000000.0) AS BIGINT) AS q
    FROM p JOIN v_{CHAIN_ROUNDS} pi ON pi.s = p.f
    WHERE p.p > 0
),
m AS (
    SELECT CAST(sum(q) AS BIGINT) AS sq,
           (SELECT CAST(count(*) AS BIGINT) FROM states) AS k
    FROM terms
)
SELECT k AS n_states,
       {stable_round_sql('sq / 1000000000.0')} AS entropy_rate_bits,
       {stable_round_sql('log2(k * 1.0)')} AS max_entropy_bits,
       {stable_round_sql('(sq / 1000000000.0) / log2(k * 1.0)')} AS efficiency
FROM m
"""


@register(
    "q_entropy_rate",
    oracle=_entropy_rate_oracle(),
    description=(
        "Entropy rate of the event-type Markov chain: H = -sum_s "
        "pi(s) sum_t p(s,t) log2 p(s,t) bits/event, with pi the "
        "stationary distribution from the same 12 power rounds as "
        "q_markov_stationary — the information-theoretic summary of "
        "session dynamics (H near log2|types| = user flows are "
        "near-random; H near 0 = rigidly scripted journeys), the "
        "sequence-level complement to the marginal q_token_entropy. "
        "Data-sized work is the one lead()-window transition pass; "
        "the chain iteration rides the driver at |types|^2 metadata "
        "scale, and the final expectation folds as 1e-9-quantized "
        "BIGINT terms so neither engine's float-sum order can leak "
        "into the result."
    ),
    tags=("events", "extension", "analytics", "stats"),
)
def q_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    ev = load_table(spark, sf_dir, "events")
    mat, v = stationary_chain(transitions(event_pairs(ev)))
    sq = sum(
        int(half_away(v[f] * pp * (-math.log2(pp)), 1000000000.0))
        for f, row in mat.items()
        for pp in row.values()
        if pp > 0
    )
    k = len(v)
    h = stable_round_py(sq / 1000000000.0, 6)
    return local_frame(
        spark,
        [
            (
                k,
                float(h),
                float(stable_round_py(math.log2(k * 1.0), 6)),
                float(stable_round_py((sq / 1000000000.0) / math.log2(k * 1.0), 6)),
            )
        ],
        "n_states long, entropy_rate_bits double, max_entropy_bits double, "
        "efficiency double",
    )


@register(
    "q_l_diversity_audit",
    oracle="""
WITH cells AS (
    SELECT CAST(dayofweek(ts) AS BIGINT)       AS wd,
           CAST(floor(value / 10.0) AS BIGINT) AS value_band,
           CAST(count(DISTINCT event_type) AS BIGINT) AS l,
           CAST(count(DISTINCT user_id) AS BIGINT)    AS k,
           CAST(count(*) AS BIGINT)                   AS n_events
    FROM events
    GROUP BY 1, 2
),
classed AS (
    SELECT CASE WHEN l >= 3 THEN '3+' ELSE CAST(l AS VARCHAR) END AS l_class,
           (l < 3) AS at_risk, k, n_events
    FROM cells
)
SELECT l_class, at_risk,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(min(k) AS BIGINT) AS min_k,
       (round((sum(n_events) * 1.0 / (SELECT sum(n_events) FROM cells))
              * 1000000.0) / 1000000.0) AS event_share
FROM classed GROUP BY 1, 2
""",
    description=(
        "l-diversity audit: within each quasi-identifier cell "
        "(weekday, value decile-band), how many DISTINCT values of "
        "the sensitive attribute (event_type) appear — the "
        "attribute-disclosure companion to q_kanonymity_audit, which "
        "only counts users: a cell can be 100-anonymous yet leak "
        "'everyone in it had an error' if l=1. Flags cells below l=3 "
        "and the event-row share they carry, plus each class's worst "
        "k so both audits read together. Same shape: one QI "
        "partial-aggregated pass, then a handful-of-rows histogram."
    ),
    tags=("quality", "extension", "governance"),
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.dayofweek("ts").cast("long").alias("wd"),
        F.floor(F.col("value") / 10.0).cast("long").alias("value_band"),
    ).agg(
        F.countDistinct("event_type").cast("long").alias("l"),
        F.countDistinct("user_id").cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    ).persist()
    try:
        total = cells.agg(F.sum("n_events")).collect()[0][0]
        classed = cells.select(
            F.when(F.col("l") >= 3, "3+").otherwise(F.col("l").cast("string")).alias(
                "l_class"
            ),
            (F.col("l") < 3).alias("at_risk"),
            "k",
            "n_events",
        )
        return classed.groupBy("l_class", "at_risk").agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.min("k").cast("long").alias("min_k"),
            stable_round(F.sum("n_events") * 1.0 / F.lit(total), 6).alias(
                "event_share"
            ),
        )
    finally:
        cells.unpersist()


@register(
    "q_iv_wald_estimator",
    oracle="""
WITH u AS (
    SELECT user_id,
           (('0x' || substring(md5('ab-v1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
            % 2 = 0) AS z,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS y
    FROM events GROUP BY user_id
),
m AS (
    SELECT CAST(sum(CASE WHEN z THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN z THEN 0 ELSE 1 END) AS BIGINT) AS n0,
           CAST(sum(CASE WHEN z THEN x ELSE 0 END) AS BIGINT) AS sx1,
           CAST(sum(CASE WHEN z THEN 0 ELSE x END) AS BIGINT) AS sx0,
           CAST(sum(CASE WHEN z THEN y ELSE 0 END) AS BIGINT) AS sy1,
           CAST(sum(CASE WHEN z THEN 0 ELSE y END) AS BIGINT) AS sy0,
           CAST(sum(CASE WHEN z THEN x * x ELSE 0 END) AS BIGINT) AS sxx1,
           CAST(sum(CASE WHEN z THEN 0 ELSE x * x END) AS BIGINT) AS sxx0
    FROM u
)
SELECT (n1 + n0) AS n_users,
       (round(((sx1 * 1.0 / n1) - (sx0 * 1.0 / n0)) * 1000000.0) / 1000000.0)
           AS first_stage_diff,
       CASE WHEN (sxx1 * 1.0 / n1 - (sx1 * 1.0 / n1) * (sx1 * 1.0 / n1)) / n1
                  + (sxx0 * 1.0 / n0 - (sx0 * 1.0 / n0) * (sx0 * 1.0 / n0)) / n0 > 0
            THEN (round((((sx1 * 1.0 / n1) - (sx0 * 1.0 / n0))
               / sqrt((sxx1 * 1.0 / n1 - (sx1 * 1.0 / n1) * (sx1 * 1.0 / n1)) / n1
                      + (sxx0 * 1.0 / n0 - (sx0 * 1.0 / n0) * (sx0 * 1.0 / n0)) / n0))
              * 1000000.0) / 1000000.0) END AS first_stage_z,
       (round((((sy1 * 1.0 / n1) - (sy0 * 1.0 / n0)) / 100.0) * 1000000.0)
        / 1000000.0) AS itt_diff,
       CASE WHEN (sx1 * 1.0 / n1) - (sx0 * 1.0 / n0) <> 0
            THEN (round(((((sy1 * 1.0 / n1) - (sy0 * 1.0 / n0)) / 100.0)
               / ((sx1 * 1.0 / n1) - (sx0 * 1.0 / n0))) * 1000000.0) / 1000000.0) END
           AS wald_late
FROM m
""",
    description=(
        "Instrumental-variable (Wald) estimator: the deterministic "
        "assignment hash is the instrument z, per-user clicks the "
        "treatment x, purchase value the outcome y — LATE = "
        "(E[y|z=1]-E[y|z=0]) / (E[x|z=1]-E[x|z=0]), the "
        "encouragement-design member of the causal family (DiD needs "
        "parallel trends, PSM/AIPW need no unobserved confounding; IV "
        "trades those for an exclusion restriction). Reports the ITT "
        "numerator, the first-stage strength as a Welch-style z "
        "(|z| < ~3 means a weak instrument and an untrustworthy "
        "ratio), and the LATE. One per-user pass + one 8-moment "
        "global fold, all BIGINT until the final divisions."
    ),
    tags=("analytics", "extension", "stats", "causal"),
)
def q_iv_wald_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.plans.queries_stats2 import _arm_a

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.first(_arm_a()).alias("z"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("y"),
    )
    z = F.col("z")
    m = u.agg(
        F.sum(F.when(z, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(z, 0).otherwise(1)).cast("long").alias("n0"),
        F.sum(F.when(z, F.col("x")).otherwise(0)).cast("long").alias("sx1"),
        F.sum(F.when(z, 0).otherwise(F.col("x"))).cast("long").alias("sx0"),
        F.sum(F.when(z, F.col("y")).otherwise(0)).cast("long").alias("sy1"),
        F.sum(F.when(z, 0).otherwise(F.col("y"))).cast("long").alias("sy0"),
        F.sum(F.when(z, F.col("x") * F.col("x")).otherwise(0))
        .cast("long")
        .alias("sxx1"),
        F.sum(F.when(z, 0).otherwise(F.col("x") * F.col("x")))
        .cast("long")
        .alias("sxx0"),
    )
    n1, n0 = F.col("n1"), F.col("n0")
    mx1, mx0 = F.col("sx1") * 1.0 / n1, F.col("sx0") * 1.0 / n0
    my1, my0 = F.col("sy1") * 1.0 / n1, F.col("sy0") * 1.0 / n0
    vx1 = F.col("sxx1") * 1.0 / n1 - mx1 * mx1
    vx0 = F.col("sxx0") * 1.0 / n0 - mx0 * mx0
    fs = mx1 - mx0
    itt = (my1 - my0) / 100.0
    return m.select(
        (n1 + n0).alias("n_users"),
        stable_round(fs, 6).alias("first_stage_diff"),
        F.when(
            vx1 / n1 + vx0 / n0 > 0,
            stable_round(fs / F.sqrt(vx1 / n1 + vx0 / n0), 6),
        ).alias("first_stage_z"),
        stable_round(itt, 6).alias("itt_diff"),
        F.when(fs != 0, stable_round(itt / fs, 6)).alias("wald_late"),
    )


@register(
    "q_kfold_cv_ridge",
    oracle="""
WITH u AS (
    SELECT user_id,
           (('0x' || substring(md5('cv-v1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
            % 5) AS fold,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS y
    FROM events GROUP BY user_id
),
fm AS (
    SELECT fold, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
    FROM u GROUP BY fold
),
tm AS (
    SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(sx) AS BIGINT) AS sx,
           CAST(sum(sy) AS BIGINT) AS sy, CAST(sum(sxy) AS BIGINT) AS sxy,
           CAST(sum(sxx) AS BIGINT) AS sxx
    FROM fm
),
fit AS (
    SELECT f.fold, (t.n - f.n) AS n_train, f.n AS n_test,
           (round((((t.sxy - f.sxy) - (t.sx - f.sx) * 1.0 * (t.sy - f.sy) / (t.n - f.n))
                   / (((t.sxx - f.sxx) - (t.sx - f.sx) * 1.0 * (t.sx - f.sx) / (t.n - f.n))
                      + 1.0)) * 1000000.0) / 1000000.0) AS b
    FROM fm f CROSS JOIN tm t
),
ab AS (
    SELECT f.fold, f.n_train, f.n_test, f.b,
           (round((((t.sy - fm.sy) * 1.0 / (t.n - fm.n))
                   - f.b * ((t.sx - fm.sx) * 1.0 / (t.n - fm.n))) * 1000000.0)
            / 1000000.0) AS a
    FROM fit f
    JOIN fm ON fm.fold = f.fold
    CROSS JOIN tm t
),
scored AS (
    SELECT u.fold,
           CAST(round((u.y - ab.a - ab.b * u.x) * (u.y - ab.a - ab.b * u.x)
                      * 0.000001) AS BIGINT) AS se_q
    FROM u JOIN ab ON ab.fold = u.fold
)
SELECT ab.fold, ab.n_train, ab.n_test, ab.b AS slope_cents_per_click,
       (round(sqrt(sum(s.se_q) * 1000000.0 / ab.n_test) / 100.0 * 1000000.0)
        / 1000000.0) AS rmse_dollars
FROM scored s JOIN ab ON ab.fold = s.fold
GROUP BY ab.fold, ab.n_train, ab.n_test, ab.b
ORDER BY ab.fold
""",
    description=(
        "5-fold cross-validated ridge regression (y = per-user "
        "purchase cents ~ clicks, lambda=1) with deterministic hash "
        "folds: the methodology op every in-repo model (ridge, "
        "logistic, Poisson) implicitly needs — held-out error, not "
        "training fit. The key scale trick: train moments for each "
        "fold are LEAVE-ONE-FOLD-OUT DIFFERENCES of one global moment "
        "pass (total - fold, exact BIGINT), so 5 folds cost ONE scan "
        "plus a 5-row cross join, not 5 training passes; per-row "
        "squared errors fold as 1e-6-quantized BIGINTs against the "
        "6dp-rounded (a, b). Reports per-fold slope and held-out "
        "RMSE in dollars."
    ),
    tags=("analytics", "extension", "ml", "evaluation"),
)
def q_kfold_cv_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cv-v1:"), F.col("user_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 5
    )
    u = ev.groupBy("user_id").agg(
        F.first(fold).alias("fold"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("y"),
    ).persist()
    try:
        fm = u.groupBy("fold").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        )
        tm = fm.agg(
            F.sum("n").cast("long").alias("tn"),
            F.sum("sx").cast("long").alias("tsx"),
            F.sum("sy").cast("long").alias("tsy"),
            F.sum("sxy").cast("long").alias("tsxy"),
            F.sum("sxx").cast("long").alias("tsxx"),
        )
        j = fm.crossJoin(F.broadcast(tm))
        nt = F.col("tn") - F.col("n")
        cx = (F.col("tsx") - F.col("sx")) * 1.0 / nt
        cy = (F.col("tsy") - F.col("sy")) * 1.0 / nt
        sxy_c = (F.col("tsxy") - F.col("sxy")) - (F.col("tsx") - F.col("sx")) * 1.0 * (
            F.col("tsy") - F.col("sy")
        ) / nt
        sxx_c = (F.col("tsxx") - F.col("sxx")) - (F.col("tsx") - F.col("sx")) * 1.0 * (
            F.col("tsx") - F.col("sx")
        ) / nt
        b = stable_round(sxy_c / (sxx_c + 1.0), 6)
        ab = j.select(
            "fold",
            nt.alias("n_train"),
            F.col("n").alias("n_test"),
            b.alias("b"),
            stable_round(cy - b * cx, 6).alias("a"),
        )
        scored = u.join(F.broadcast(ab), "fold").select(
            "fold",
            "n_train",
            "n_test",
            "b",
            F.round(
                (F.col("y") - F.col("a") - F.col("b") * F.col("x"))
                * (F.col("y") - F.col("a") - F.col("b") * F.col("x"))
                * 0.000001
            )
            .cast("long")
            .alias("se_q"),
        )
        return (
            scored.groupBy("fold", "n_train", "n_test", "b")
            .agg(
                stable_round(
                    F.sqrt(F.sum("se_q") * 1000000.0 / F.col("n_test")) / 100.0, 6
                ).alias("rmse_dollars")
            )
            .select(
                "fold",
                "n_train",
                "n_test",
                F.col("b").alias("slope_cents_per_click"),
                "rmse_dollars",
            )
            .orderBy("fold")
        )
    finally:
        u.unpersist()


@register(
    "q_qini_curve",
    oracle="""
WITH u AS (
    SELECT user_id,
           (('0x' || substring(md5('ab-v1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
            % 2 = 0) AS treated,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
               AS score,
           CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS conv
    FROM events GROUP BY user_id
),
ranked AS (
    SELECT treated, conv,
           CAST(row_number() OVER (ORDER BY score DESC, user_id) AS BIGINT) AS rk,
           CAST(count(*) OVER () AS BIGINT) AS n
    FROM u
),
tiled AS (
    SELECT treated, conv,
           CASE WHEN rk <= (n % 10) * ((n // 10) + 1)
                THEN CAST((rk - 1) // ((n // 10) + 1) AS BIGINT) + 1
                ELSE (n % 10) + CAST((rk - 1 - (n % 10) * ((n // 10) + 1))
                                     // greatest(n // 10, 1) AS BIGINT) + 1
           END AS decile
    FROM ranked
),
agg AS (
    SELECT decile,
           CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
           CAST(sum(CASE WHEN treated THEN 0 ELSE 1 END) AS BIGINT) AS n_c,
           CAST(sum(CASE WHEN treated THEN conv ELSE 0 END) AS BIGINT) AS conv_t,
           CAST(sum(CASE WHEN treated THEN 0 ELSE conv END) AS BIGINT) AS conv_c
    FROM tiled GROUP BY decile
),
cum AS (
    SELECT decile, n_t, n_c, conv_t, conv_c,
           CAST(sum(n_t) OVER w AS BIGINT) AS cnt,
           CAST(sum(n_c) OVER w AS BIGINT) AS cnc,
           CAST(sum(conv_t) OVER w AS BIGINT) AS cct,
           CAST(sum(conv_c) OVER w AS BIGINT) AS ccc
    FROM agg
    WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT decile, n_t, n_c, conv_t, conv_c,
       CASE WHEN cnc > 0
            THEN (round((cct - ccc * 1.0 * cnt / cnc) * 1000000.0) / 1000000.0)
       END AS qini
FROM cum ORDER BY decile
""",
    description=(
        "Qini curve for uplift evaluation: users ranked by a targeting "
        "score (clicks, the standing proxy model) into ANSI-ntile "
        "deciles, cumulative incremental conversions qini(k) = "
        "cum_treated_conv - cum_control_conv * cum_n_t/cum_n_c — the "
        "standard 'did targeting the top deciles actually CAUSE more "
        "conversions' readout, which neither the classifier evals "
        "(gains chart ranks raw outcomes) nor the ATE queries "
        "(one global number) provide. Rank is the two-phase "
        "bucketed carry (score buckets descending), deciles are "
        "arithmetic ntile_from_rank; the only keyless window is the "
        "10-row cumulative."
    ),
    tags=("analytics", "extension", "ml", "evaluation", "causal"),
)
def q_qini_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.scale import bucketed_rank, ntile_from_rank
    from healthcare_etl_spark.plans.queries_stats2 import _arm_a

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.first(_arm_a()).alias("treated"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("score"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("conv"),
    )
    ranked = bucketed_rank(
        u,
        buckets=[F.expr("(-score) div 64")],
        order_by=[F.desc("score"), F.asc("user_id")],
        out_col="rk",
    )
    n_total = u.count()
    tiled = ranked.select(
        "treated",
        "conv",
        ntile_from_rank(F.col("rk"), F.lit(n_total), 10).alias("decile"),
    )
    agg = tiled.groupBy("decile").agg(
        F.sum(F.when(F.col("treated"), 1).otherwise(0)).cast("long").alias("n_t"),
        F.sum(F.when(F.col("treated"), 0).otherwise(1)).cast("long").alias("n_c"),
        F.sum(F.when(F.col("treated"), F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_t"),
        F.sum(F.when(F.col("treated"), 0).otherwise(F.col("conv")))
        .cast("long")
        .alias("conv_c"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return agg.select(
        "decile",
        "n_t",
        "n_c",
        "conv_t",
        "conv_c",
        F.when(
            F.sum("n_c").over(w) > 0,
            stable_round(
                F.sum("conv_t").over(w)
                - F.sum("conv_c").over(w) * 1.0 * F.sum("n_t").over(w)
                / F.sum("n_c").over(w),
                6,
            ),
        ).alias("qini"),
    ).orderBy("decile")


@register(
    "q_ips_policy_eval",
    oracle="""
WITH u AS (
    SELECT user_id,
           (('0x' || substring(md5('ab-v1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
            % 2 = 0) AS action_treat,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
               AS clicks,
           CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS reward
    FROM events GROUP BY user_id
),
scored AS (
    SELECT reward, action_treat,
           (clicks >= 3) AS target_treat,
           CASE WHEN (clicks >= 3) = action_treat THEN 2.0 ELSE 0.0 END AS w
    FROM u
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(sum(reward) AS BIGINT) AS r_log,
           CAST(sum(CASE WHEN w > 0 THEN reward * 2 ELSE 0 END) AS BIGINT) AS r_ips2,
           CAST(sum(CASE WHEN w > 0 THEN 2 ELSE 0 END) AS BIGINT) AS w_sum2
    FROM scored
)
SELECT n AS n_users, n_matched,
       (round((r_log * 1.0 / n) * 1000000.0) / 1000000.0) AS value_logging,
       (round((r_ips2 * 1.0 / n) * 1000000.0) / 1000000.0) AS value_ips,
       CASE WHEN w_sum2 > 0
            THEN (round((r_ips2 * 1.0 / w_sum2) * 1000000.0) / 1000000.0)
       END AS value_snips,
       (round((n_matched * 1.0 / n) * 1000000.0) / 1000000.0) AS match_rate
FROM m
""",
    description=(
        "Offline (counterfactual) policy evaluation by inverse "
        "propensity scoring: the logged 50/50 assignment is the "
        "logging policy (known propensity 0.5, so matched actions "
        "weight 2.0), the candidate policy 'treat users with >= 3 "
        "clicks' is scored WITHOUT running it — V_IPS = mean of "
        "matched rewards / propensity, plus the self-normalized SNIPS "
        "variant that trades a little bias for much lower variance "
        "(the standard fix when match rates are low) and the match "
        "rate that tells you how much data actually spoke. The "
        "bandit-flavored eval member of the causal family: ATE asks "
        "'what did THE treatment do', this asks 'what would THAT "
        "POLICY earn'. One per-user pass + one 5-moment fold, exact "
        "integer sums (propensity 0.5 makes every IPS weight the "
        "integer 2)."
    ),
    tags=("analytics", "extension", "ml", "evaluation", "causal"),
)
def q_ips_policy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.plans.queries_stats2 import _arm_a

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.first(_arm_a()).alias("action_treat"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("clicks"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("reward"),
    )
    matched = (F.col("clicks") >= 3) == F.col("action_treat")
    m = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(matched, 1).otherwise(0)).cast("long").alias("n_matched"),
        F.sum("reward").cast("long").alias("r_log"),
        F.sum(F.when(matched, F.col("reward") * 2).otherwise(0))
        .cast("long")
        .alias("r_ips2"),
        F.sum(F.when(matched, 2).otherwise(0)).cast("long").alias("w_sum2"),
    )
    n = F.col("n")
    return m.select(
        n.alias("n_users"),
        "n_matched",
        stable_round(F.col("r_log") * 1.0 / n, 6).alias("value_logging"),
        stable_round(F.col("r_ips2") * 1.0 / n, 6).alias("value_ips"),
        F.when(
            F.col("w_sum2") > 0,
            stable_round(F.col("r_ips2") * 1.0 / F.col("w_sum2"), 6),
        ).alias("value_snips"),
        stable_round(F.col("n_matched") * 1.0 / n, 6).alias("match_rate"),
    )


@register(
    "q_fairness_audit",
    oracle="""
WITH u AS (
    SELECT user_id,
           (('0x' || substring(md5('ab-v1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
            % 2 = 0) AS grp_a,
           (CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) >= 3)
               AS pred,
           CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS y
    FROM events GROUP BY user_id
),
g AS (
    SELECT grp_a,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pred THEN 1 ELSE 0 END) AS BIGINT) AS n_sel,
           CAST(sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(y) AS BIGINT) AS n_pos
    FROM u GROUP BY grp_a
)
SELECT CASE WHEN grp_a THEN 'A' ELSE 'B' END AS grp, n, n_sel,
       (round((n_sel * 1.0 / n) * 1000000.0) / 1000000.0) AS selection_rate,
       CASE WHEN n_pos > 0
            THEN (round((tp * 1.0 / n_pos) * 1000000.0) / 1000000.0) END AS tpr,
       CASE WHEN n - n_pos > 0
            THEN (round((fp * 1.0 / (n - n_pos)) * 1000000.0) / 1000000.0) END AS fpr,
       (round(((n_sel * 1.0 / n)
               / ((SELECT max(CASE WHEN NOT grp_a THEN n_sel * 1.0 / n END) FROM g)))
              * 1000000.0) / 1000000.0) AS disparate_impact_vs_b
FROM g ORDER BY grp
""",
    description=(
        "Fairness audit of a deployed decision rule (treat users with "
        ">= 3 clicks) across the assignment groups: per-group "
        "selection rate (demographic parity), TPR and FPR against the "
        "purchase outcome (the two equalized-odds components), and "
        "the disparate-impact ratio vs group B (the 80%-rule "
        "quantity) — the governance op that belongs next to the "
        "k-anonymity/l-diversity release audits but for the MODEL "
        "side of the pipeline: a rule can be well-calibrated overall "
        "(q_calibration_ece) and still select one group at twice the "
        "rate. One per-user pass + a 2-group aggregate; exact integer "
        "confusion counts, guarded divisions, one broadcastable "
        "scalar for the ratio denominator."
    ),
    tags=("analytics", "extension", "ml", "governance", "evaluation"),
)
def q_fairness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.plans.queries_stats2 import _arm_a

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.first(_arm_a()).alias("grp_a"),
        (
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)) >= 3
        ).alias("pred"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    g = u.groupBy("grp_a").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("pred"), 1).otherwise(0)).cast("long").alias("n_sel"),
        F.sum(F.when(F.col("pred") & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(F.col("pred") & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum("y").cast("long").alias("n_pos"),
    ).persist()
    try:
        b_rate = (
            g.filter(~F.col("grp_a"))
            .select((F.col("n_sel") * 1.0 / F.col("n")).alias("r"))
            .collect()[0]["r"]
        )
        n, n_pos = F.col("n"), F.col("n_pos")
        return (
            g.select(
                F.when(F.col("grp_a"), "A").otherwise("B").alias("grp"),
                n,
                "n_sel",
                stable_round(F.col("n_sel") * 1.0 / n, 6).alias("selection_rate"),
                F.when(
                    n_pos > 0, stable_round(F.col("tp") * 1.0 / n_pos, 6)
                ).alias("tpr"),
                F.when(
                    n - n_pos > 0,
                    stable_round(F.col("fp") * 1.0 / (n - n_pos), 6),
                ).alias("fpr"),
                stable_round(
                    (F.col("n_sel") * 1.0 / n) / F.lit(b_rate), 6
                ).alias("disparate_impact_vs_b"),
            )
            .orderBy("grp")
        )
    finally:
        g.unpersist()


def _nb_margin_oracle() -> str:
    feat_cols = ",\n           ".join(
        f"CAST(max(CASE WHEN event_type = '{f}' THEN 1 ELSE 0 END) AS BIGINT) AS f_{f}"
        for f in _NB_FEATS
    )
    cnt_cols = ",\n           ".join(
        f"CAST(sum(CASE WHEN y = 1 THEN f_{f} ELSE 0 END) AS BIGINT) AS c1_{f},\n"
        f"           CAST(sum(CASE WHEN y = 0 THEN f_{f} ELSE 0 END) AS BIGINT) AS c0_{f}"
        for f in _NB_FEATS
    )
    w_cols = ",\n           ".join(
        f"{stable_round_sql(f'ln((c1_{f} + 1.0) / (n1 + 2.0))')} AS w1_{f},\n"
        f"           {stable_round_sql(f'ln(1.0 - (c1_{f} + 1.0) / (n1 + 2.0))')} AS z1_{f},\n"
        f"           {stable_round_sql(f'ln((c0_{f} + 1.0) / (n0 + 2.0))')} AS w0_{f},\n"
        f"           {stable_round_sql(f'ln(1.0 - (c0_{f} + 1.0) / (n0 + 2.0))')} AS z0_{f}"
        for f in _NB_FEATS
    )
    s1 = " + ".join(f"(u.f_{f} * p.w1_{f} + (1 - u.f_{f}) * p.z1_{f})" for f in _NB_FEATS)
    s0 = " + ".join(f"(u.f_{f} * p.w0_{f} + (1 - u.f_{f}) * p.z0_{f})" for f in _NB_FEATS)
    return f"""
WITH u AS (
    SELECT user_id,
           CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y,
           {feat_cols}
    FROM events GROUP BY user_id
),
cnt AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n1,
           CAST(count(*) - sum(y) AS BIGINT) AS n0,
           {cnt_cols}
    FROM u
),
params AS (
    SELECT n, n1, n0,
           {stable_round_sql('ln((n1 + 1.0) / (n + 2.0))')} AS lp1,
           {stable_round_sql('ln((n0 + 1.0) / (n + 2.0))')} AS lp0,
           {w_cols}
    FROM cnt
),
scored AS (
    SELECT u.user_id,
           {stable_round_sql(f'abs((p.lp1 + {s1}) - (p.lp0 + {s0}))')} AS margin
    FROM u CROSS JOIN params p
)
SELECT user_id, margin
FROM scored
ORDER BY margin ASC, user_id ASC
LIMIT 20
"""


@register(
    "q_uncertainty_sampling",
    oracle=_nb_margin_oracle(),
    description=(
        "Active-learning annotation queue: the 20 users the Bernoulli "
        "naive Bayes classifier (same training pass and 6dp-rounded "
        "parameters as q_naive_bayes, via the shared helpers) is LEAST "
        "sure about, ranked by ascending class-score margin "
        "|s1 - s0| — margin-based uncertainty sampling, the standard "
        "'label these next' selector for annotation pipelines, and "
        "the missing front half of the labeling loop whose back half "
        "(kNN label propagation, LOO target encoding) is already "
        "in-repo. Scoring is the same broadcast-params single pass; "
        "the queue is a TakeOrdered over (margin, user_id), never a "
        "global sort. Margins are deterministic doubles (fixed-shape "
        "sums of 6dp-rounded weights), re-rounded to 6dp for the "
        "cross-engine hash."
    ),
    tags=("analytics", "extension", "ml", "ml-prep"),
)
def q_uncertainty_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    u, params = _nb_features_and_params(spark, sf_dir)
    scored = u.crossJoin(F.broadcast(params))
    s1, s0 = _nb_scores()
    return (
        scored.select(
            "user_id",
            stable_round(F.abs(s1 - s0), 6).alias("margin"),
        )
        .orderBy(F.asc("margin"), F.asc("user_id"))
        .limit(20)
    )


_CF_SPLIT_SQL = (
    "(('0x' || substring(md5('cf-split:' || CAST(ok AS VARCHAR)), 1, 8))::BIGINT"
    " % 5 < 4)"
)


@register(
    "q_cf_hitrate_eval",
    oracle=f"""
WITH basket AS (
    SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
train AS (SELECT * FROM basket WHERE {_CF_SPLIT_SQL}),
test AS (
    SELECT * FROM basket WHERE NOT {_CF_SPLIT_SQL}
      AND ok IN (SELECT ok FROM basket WHERE NOT {_CF_SPLIT_SQL}
                 GROUP BY ok HAVING count(*) >= 2)
),
n_i AS (SELECT pk, CAST(count(*) AS BIGINT) AS n FROM train GROUP BY pk),
cooc AS (
    SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS n_ab
    FROM train a JOIN train b ON a.ok = b.ok AND a.pk < b.pk
    GROUP BY 1, 2
),
sim AS (
    SELECT c.pa AS i, c.pb AS j,
           (round((c.n_ab / sqrt(na.n * 1.0 * nb.n)) * 1000000.0) / 1000000.0) AS s
    FROM cooc c JOIN n_i na ON na.pk = c.pa JOIN n_i nb ON nb.pk = c.pb
    UNION ALL
    SELECT c.pb AS i, c.pa AS j,
           (round((c.n_ab / sqrt(na.n * 1.0 * nb.n)) * 1000000.0) / 1000000.0) AS s
    FROM cooc c JOIN n_i na ON na.pk = c.pa JOIN n_i nb ON nb.pk = c.pb
),
nb10 AS (
    SELECT i, j FROM (
        SELECT i, j, row_number() OVER (PARTITION BY i ORDER BY s DESC, j ASC) AS rn
        FROM sim
    ) WHERE rn <= 10
),
probes AS (
    SELECT a.ok, a.pk AS i,
           CAST(max(CASE WHEN nb.j IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hit
    FROM test a
    JOIN test b ON a.ok = b.ok AND a.pk <> b.pk
    LEFT JOIN nb10 nb ON nb.i = a.pk AND nb.j = b.pk
    GROUP BY a.ok, a.pk
)
SELECT CAST(count(*) AS BIGINT) AS n_probes,
       CAST(count(DISTINCT ok) AS BIGINT) AS n_test_baskets,
       CAST(sum(hit) AS BIGINT) AS n_hits,
       (round((sum(hit) * 1.0 / count(*)) * 1000000.0) / 1000000.0)
           AS hit_rate_at_10
FROM probes
""",
    description=(
        "Offline recommender evaluation: co-purchase item-item cosine "
        "neighbors (the q_item_item_cf model) TRAINED on a "
        "deterministic 80% hash-split of orders and probed on "
        "held-out baskets — for each item in a >= 2-item test basket, "
        "did its top-10 training neighbors contain any other item "
        "actually bought together? Reports probes, test baskets, "
        "hits and hit-rate@10, completing the recsys family "
        "(q_item_item_cf model, q_bias_baseline_recsys personalized "
        "floor, THIS closes the loop with a leakage-free accuracy "
        "number). Shapes: within-order pair joins (basket-size "
        "quadratic only), the top-10 window PARTITIONED by item "
        "(distributed), the probe a (basket, item)-grain outer "
        "join; 6dp-rounded sims make both engines cut identical "
        "neighbor lists."
    ),
    tags=("analytics", "extension", "ml", "recommender", "evaluation"),
)
def q_cf_hitrate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    is_train = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("cf-split:"), F.col("ok").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 5
        < 4
    )
    marked = basket.withColumn("tr", is_train).persist()
    try:
        train = marked.filter(F.col("tr")).select("ok", "pk")
        test_sizes = (
            marked.filter(~F.col("tr"))
            .groupBy("ok")
            .agg(F.count(F.lit(1)).alias("sz"))
            .filter(F.col("sz") >= 2)
            .select("ok")
        )
        test = marked.filter(~F.col("tr")).join(
            F.broadcast(test_sizes), "ok", "left_semi"
        ).select("ok", "pk")
        n_i = train.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("n"))
        a = train.alias("a")
        b = train.alias("b")
        cooc = (
            a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
            .groupBy(F.col("a.pk").alias("pa"), F.col("b.pk").alias("pb"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        )
        na = n_i.select(F.col("pk").alias("pa"), F.col("n").alias("n_a"))
        nbm = n_i.select(F.col("pk").alias("pb"), F.col("n").alias("n_b"))
        scored = (
            cooc.join(F.broadcast(na), "pa")
            .join(F.broadcast(nbm), "pb")
            .select(
                "pa",
                "pb",
                stable_round(
                    F.col("n_ab") / F.sqrt(F.col("n_a") * 1.0 * F.col("n_b")), 6
                ).alias("s"),
            )
        )
        sim = scored.select(
            F.col("pa").alias("i"), F.col("pb").alias("j"), "s"
        ).unionAll(scored.select(F.col("pb").alias("i"), F.col("pa").alias("j"), "s"))
        w = Window.partitionBy("i").orderBy(F.desc("s"), F.asc("j"))
        nb10 = (
            sim.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10)
            .select("i", "j")
        )
        ta = test.alias("ta")
        tb = test.alias("tb")
        pairs = ta.join(
            tb,
            (F.col("ta.ok") == F.col("tb.ok")) & (F.col("ta.pk") != F.col("tb.pk")),
        ).select(
            F.col("ta.ok").alias("ok"),
            F.col("ta.pk").alias("i"),
            F.col("tb.pk").alias("j"),
        )
        probes = (
            pairs.join(
                nb10.withColumn("m", F.lit(1)), ["i", "j"], "left"
            )
            .groupBy("ok", "i")
            .agg(F.max(F.coalesce("m", F.lit(0))).cast("long").alias("hit"))
        )
        return probes.agg(
            F.count(F.lit(1)).cast("long").alias("n_probes"),
            F.countDistinct("ok").cast("long").alias("n_test_baskets"),
            F.sum("hit").cast("long").alias("n_hits"),
            stable_round(F.sum("hit") * 1.0 / F.count(F.lit(1)), 6).alias(
                "hit_rate_at_10"
            ),
        )
    finally:
        marked.unpersist()


_ALS_P = 2_147_483_647
_ALS_MD5 = f"(('0x' || substring(md5({{x}}), 1, 8))::BIGINT % {_ALS_P})"
# Closed-form regularized 2x2 solve, shared between the user and item
# half-sweeps (identical expression TEXT on both engines so the IEEE op
# order is identical): sums s11/s12/s22 are exact integers in 1e-6
# units, rhs p1/p2 in 1e-3*r units, lambda=0.1 -> +100000 on the
# diagonal; factors clamped to [-1000, 1000] and quantized to exact
# milli-units.
_ALS_DET = "(({s11} + 100000) * 1.0 * ({s22} + 100000) - {s12} * 1.0 * {s12})"
_ALS_U1 = (
    "CAST(round(least(greatest(((({s22} + 100000) * 1.0 * ({p1} * 1000) "
    "- {s12} * 1.0 * ({p2} * 1000)) / " + _ALS_DET + "), -1000.0), 1000.0) "
    "* 1000.0) AS BIGINT)"
)
_ALS_U2 = (
    "CAST(round(least(greatest(((({s11} + 100000) * 1.0 * ({p2} * 1000) "
    "- {s12} * 1.0 * ({p1} * 1000)) / " + _ALS_DET + "), -1000.0), 1000.0) "
    "* 1000.0) AS BIGINT)"
)


@register(
    "q_als_sweep",
    oracle=f"""
WITH r AS MATERIALIZED (
    SELECT o_custkey AS u, l_partkey AS i,
           CAST(round(sum(l_quantity)) AS BIGINT) AS rt
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
),
f0 AS MATERIALIZED (
    SELECT i,
           {_ALS_MD5.format(x="'als1:' || CAST(i AS VARCHAR)")} % 1000 AS m1,
           {_ALS_MD5.format(x="'als2:' || CAST(i AS VARCHAR)")} % 1000 AS m2
    FROM (SELECT DISTINCT i FROM r)
),
us AS (
    SELECT u, sum(m1 * m1) AS s11, sum(m1 * m2) AS s12, sum(m2 * m2) AS s22,
           sum(m1 * rt) AS p1, sum(m2 * rt) AS p2
    FROM r JOIN f0 USING (i) GROUP BY u
),
uf AS MATERIALIZED (
    SELECT u,
           {_ALS_U1.format(s11="s11", s12="s12", s22="s22", p1="p1", p2="p2")} AS u1q,
           {_ALS_U2.format(s11="s11", s12="s12", s22="s22", p1="p1", p2="p2")} AS u2q
    FROM us
),
its AS (
    SELECT i, sum(u1q * u1q) AS t11, sum(u1q * u2q) AS t12,
           sum(u2q * u2q) AS t22, sum(u1q * rt) AS q1, sum(u2q * rt) AS q2
    FROM r JOIN uf USING (u) GROUP BY i
),
f1 AS MATERIALIZED (
    SELECT i,
           {_ALS_U1.format(s11="t11", s12="t12", s22="t22", p1="q1", p2="q2")} AS g1q,
           {_ALS_U2.format(s11="t11", s12="t12", s22="t22", p1="q1", p2="q2")} AS g2q
    FROM its
),
e0 AS (
    SELECT CAST(sum(CAST(round(((u1q * 1.0 * m1 + u2q * 1.0 * m2) / 1000000.0 - rt)
                               * ((u1q * 1.0 * m1 + u2q * 1.0 * m2) / 1000000.0 - rt)
                               * 1000.0) AS BIGINT)) AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS n
    FROM r JOIN uf USING (u) JOIN f0 USING (i)
),
e1 AS (
    SELECT CAST(sum(CAST(round(((u1q * 1.0 * g1q + u2q * 1.0 * g2q) / 1000000.0 - rt)
                               * ((u1q * 1.0 * g1q + u2q * 1.0 * g2q) / 1000000.0 - rt)
                               * 1000.0) AS BIGINT)) AS BIGINT) AS s
    FROM r JOIN uf USING (u) JOIN f1 USING (i)
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM uf) AS n_users,
       (SELECT CAST(count(*) AS BIGINT) FROM f0) AS n_items,
       (SELECT n FROM e0) AS n_ratings,
       (round(sqrt((SELECT s FROM e0) / ((SELECT n FROM e0) * 1000.0))
              * 1000000.0) / 1000000.0) AS rmse_init,
       (round(sqrt((SELECT s FROM e1) / ((SELECT n FROM e0) * 1000.0))
              * 1000000.0) / 1000000.0) AS rmse_after
""",
    description=(
        "One ALS sweep of a rank-2 matrix factorization of the "
        "customer x part quantity matrix: deterministic hash-seeded "
        "item factors, closed-form regularized 2x2 normal-equation "
        "solve per user (lambda=0.1), then the symmetric item "
        "half-sweep against the solved users, with train RMSE before/ "
        "after proving the sweep descends. THE collaborative-filtering "
        "training primitive — each half-sweep is one groupBy over the "
        "ratings joined to the (broadcastable) opposite-side factors, "
        "exactly how distributed ALS iterates at any scale. Every "
        "Gram/moment sum folds in EXACT integer milli-unit arithmetic "
        "(no float summation order anywhere); the solves and RMSEs are "
        "single deterministic float expressions with identical text on "
        "both engines, factors clamped to +-1000 and re-quantized to "
        "milli-units between half-sweeps so every cross-engine product "
        "stays integer-exact. BIGINT holds the Gram mass to ~300 "
        "ratings/row-key at these magnitudes; DECIMAL(38) is the "
        "documented 100x headroom swap."
    ),
    tags=("mlops", "extension", "recsys"),
)
def q_als_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    r = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .agg(F.round(F.sum("l_quantity")).cast("long").alias("rt"))
    ).localCheckpoint(eager=True)

    def h31(salt):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt), F.col("i").cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % _ALS_P
        )

    f0 = r.select("i").distinct().select(
        "i", (h31("als1:") % 1000).alias("m1"), (h31("als2:") % 1000).alias("m2")
    )

    def solve(s11, s12, s22, p1, p2):
        det = (s11 + 100000) * 1.0 * (s22 + 100000) - s12 * 1.0 * s12
        x1 = ((s22 + 100000) * 1.0 * (p1 * 1000) - s12 * 1.0 * (p2 * 1000)) / det
        x2 = ((s11 + 100000) * 1.0 * (p2 * 1000) - s12 * 1.0 * (p1 * 1000)) / det
        clamp = lambda c: F.round(
            F.least(F.greatest(c, F.lit(-1000.0)), F.lit(1000.0)) * 1000.0
        ).cast("long")
        return clamp(x1), clamp(x2)

    us = (
        r.join(f0, "i")
        .groupBy("u")
        .agg(
            F.sum(F.col("m1") * F.col("m1")).alias("s11"),
            F.sum(F.col("m1") * F.col("m2")).alias("s12"),
            F.sum(F.col("m2") * F.col("m2")).alias("s22"),
            F.sum(F.col("m1") * F.col("rt")).alias("p1"),
            F.sum(F.col("m2") * F.col("rt")).alias("p2"),
        )
    )
    u1, u2 = solve(F.col("s11"), F.col("s12"), F.col("s22"), F.col("p1"), F.col("p2"))
    uf = us.select("u", u1.alias("u1q"), u2.alias("u2q")).localCheckpoint(eager=True)
    its = (
        r.join(uf, "u")
        .groupBy("i")
        .agg(
            F.sum(F.col("u1q") * F.col("u1q")).alias("t11"),
            F.sum(F.col("u1q") * F.col("u2q")).alias("t12"),
            F.sum(F.col("u2q") * F.col("u2q")).alias("t22"),
            F.sum(F.col("u1q") * F.col("rt")).alias("q1"),
            F.sum(F.col("u2q") * F.col("rt")).alias("q2"),
        )
    )
    g1, g2 = solve(F.col("t11"), F.col("t12"), F.col("t22"), F.col("q1"), F.col("q2"))
    f1 = its.select("i", g1.alias("g1q"), g2.alias("g2q"))

    def sqerr(fa, fb):
        pred = (F.col("u1q") * 1.0 * F.col(fa) + F.col("u2q") * 1.0 * F.col(fb)) / 1000000.0
        return F.round((pred - F.col("rt")) * (pred - F.col("rt")) * 1000.0).cast("long")

    e0 = (
        r.join(uf, "u")
        .join(f0, "i")
        .agg(
            F.sum(sqerr("m1", "m2")).cast("long").alias("s0"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    e1 = (
        r.join(uf, "u")
        .join(f1, "i")
        .agg(F.sum(sqerr("g1q", "g2q")).cast("long").alias("s1"))
    )
    nu = uf.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    ni = f0.agg(F.count(F.lit(1)).cast("long").alias("n_items"))
    return (
        nu.crossJoin(F.broadcast(ni))
        .crossJoin(F.broadcast(e0))
        .crossJoin(F.broadcast(e1))
        .select(
            "n_users",
            "n_items",
            F.col("n").alias("n_ratings"),
            stable_round(F.sqrt(F.col("s0") / (F.col("n") * 1000.0)), 6).alias(
                "rmse_init"
            ),
            stable_round(F.sqrt(F.col("s1") / (F.col("n") * 1000.0)), 6).alias(
                "rmse_after"
            ),
        )
    )


@register(
    "q_negative_sampling",
    oracle=f"""
WITH pos AS MATERIALIZED (
    SELECT DISTINCT o_custkey AS u, l_partkey AS i
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
items AS (
    SELECT i, row_number() OVER (ORDER BY i) AS pos_idx
    FROM (SELECT DISTINCT i FROM pos)
),
ni AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM items),
samp AS (
    SELECT u, i, j,
           {_ALS_MD5.format(x="'neg:' || CAST(u AS VARCHAR) || ':' || CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)")}
               % (SELECT n_items FROM ni) + 1 AS idx
    FROM pos CROSS JOIN (SELECT unnest(range(4)) AS j)
    WHERE u % 100 = 7
),
mapped AS (
    SELECT s.u, s.i AS pos_item, CAST(s.j AS BIGINT) AS j,
           items.i AS neg_item
    FROM samp s JOIN items ON items.pos_idx = s.idx
)
SELECT m.u, m.pos_item, m.j, m.neg_item
FROM mapped m
LEFT JOIN pos p ON p.u = m.u AND p.i = m.neg_item
WHERE p.i IS NULL
ORDER BY m.u, m.pos_item, m.j
""",
    description=(
        "Deterministic uniform negative sampling for implicit-feedback "
        "training: for each (customer, part) positive (2% user shard), "
        "4 candidate negatives drawn by salted md5 over a DENSE item "
        "index — the index is bucketed_rank's two-phase carry over the "
        "distinct item set (partkey div 4096 buckets), so sampling "
        "uniformly over item IDs works no matter how sparse or skewed "
        "the raw key space is. Sampled items that collide with a true "
        "positive are removed by an anti-join (the standard correction; "
        "deterministic here, so both engines drop the same rows). "
        "Hash-seeded => reproducible across epochs and resumable "
        "mid-shard; the idx join is a uniform-key equi-join. The "
        "epoch-varying form salts with the epoch number."
    ),
    tags=("mlops", "extension", "recsys", "scale-pattern"),
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.scale import bucketed_rank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pos = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
    ).localCheckpoint(eager=True)
    items = bucketed_rank(
        pos.select("i").distinct(),
        buckets=[F.expr("i div 4096")],
        order_by=[F.asc("i")],
        out_col="pos_idx",
    )
    ni = items.agg(F.count(F.lit(1)).cast("long").alias("n_items"))
    j_grid = spark.range(4).select(F.col("id").alias("j"))
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("neg:"),
                        F.col("u").cast("string"),
                        F.lit(":"),
                        F.col("i").cast("string"),
                        F.lit(":"),
                        F.col("j").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _ALS_P
    )
    samp = (
        pos.filter(F.col("u") % 100 == 7)
        .crossJoin(F.broadcast(j_grid))
        .crossJoin(F.broadcast(ni))
        .select("u", "i", "j", (h % F.col("n_items") + 1).alias("idx"))
    )
    mapped = samp.join(
        items.select(F.col("i").alias("neg_item"), F.col("pos_idx")),
        samp.idx == F.col("pos_idx"),
    ).select(
        "u", F.col("i").alias("pos_item"), F.col("j").cast("long").alias("j"), "neg_item"
    )
    return (
        mapped.join(
            pos.select(F.col("u").alias("pu"), F.col("i").alias("pi")),
            (F.col("u") == F.col("pu")) & (F.col("neg_item") == F.col("pi")),
            "left_anti",
        )
        .select("u", "pos_item", "j", "neg_item")
        .orderBy("u", "pos_item", "j")
    )


def _isoforest_oracle_sql(levels: int = 5, trees: int = 4) -> str:
    """Unrolled isolation-forest levels: per (tree, node) min/max stats
    feed an integer-scaled random cut (md5-derived fraction in units of
    1e-4), so every split comparison is exact integer arithmetic."""
    h = (
        f"(('0x' || substring(md5('iso:' || CAST(a.t AS VARCHAR) || ':' || "
        f"CAST({{lvl}} AS VARCHAR) || ':' || CAST(a.node AS VARCHAR)), 1, 8))"
        f"::BIGINT % 2147483647) % 10000"
    )
    parts = [
        """u AS MATERIALIZED (
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS v
    FROM events GROUP BY user_id
)""",
        "a0 AS (SELECT user_id, v, t, CAST(0 AS BIGINT) AS node "
        "FROM u CROSS JOIN (SELECT unnest(range(%d)) AS t))" % trees,
    ]
    for lvl in range(levels):
        parts.append(
            f"""s{lvl} AS (
    SELECT t, node, CAST(min(v) AS BIGINT) AS mn, CAST(max(v) AS BIGINT) AS mx
    FROM a{lvl} GROUP BY t, node
)"""
        )
        parts.append(
            f"""a{lvl + 1} AS (
    SELECT a.user_id, a.v, a.t,
           a.node * 2 + (CASE WHEN a.v * 10000
                > s.mn * 10000 + ({h.format(lvl=lvl)}) * (s.mx - s.mn)
                THEN 1 ELSE 0 END) AS node
    FROM a{lvl} a JOIN s{lvl} s ON s.t = a.t AND s.node = a.node
)"""
        )
    final = f"a{levels}"
    return (
        "WITH " + ",\n".join(parts) + f""",
leaf AS (
    SELECT t, node, CAST(count(*) AS BIGINT) AS pop FROM {final} GROUP BY t, node
),
sc AS (
    SELECT a.user_id, max(a.v) AS v, CAST(sum(leaf.pop) AS BIGINT) AS sum_pop
    FROM {final} a JOIN leaf ON leaf.t = a.t AND leaf.node = a.node
    GROUP BY a.user_id
)
SELECT user_id, v AS purchase_cents, sum_pop,
       (round((sum_pop / {float(trees)}) * 1000000.0) / 1000000.0) AS iso_score
FROM sc
ORDER BY sum_pop ASC, user_id ASC
LIMIT 15"""
    )


@register(
    "q_isolation_forest",
    oracle=_isoforest_oracle_sql(),
    description=(
        "Deterministic isolation forest (4 trees x 5 levels) over "
        "per-user purchase value: each level splits every (tree, node) "
        "population at a random cut mn + U*(mx-mn), with U drawn in "
        "exact 1e-4 units from md5(tree, level, node) so the split "
        "comparison v*10000 > mn*10000 + u*(mx-mn) is pure integer "
        "arithmetic — no float anywhere in the tree construction. "
        "Users landing in small leaves are the anomalies (top-15 by "
        "mean leaf population): the ensemble flavor of outlier "
        "detection the distance-based (Mahalanobis/MAD) queries can't "
        "express, and the shape matches distributed iForest exactly — "
        "per level one hash agg for node stats (broadcastable: <= "
        "trees*2^level rows) and one broadcast join back. Oracle: 5 "
        "unrolled levels."
    ),
    tags=("mlops", "extension", "anomaly"),
)
def q_isolation_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    trees, levels = 4, 5
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("v")
    )
    a = u.crossJoin(
        F.broadcast(spark.range(trees).select(F.col("id").alias("t")))
    ).select("user_id", "v", "t", F.lit(0).cast("long").alias("node"))
    for lvl in range(levels):
        s = a.groupBy("t", "node").agg(
            F.min("v").cast("long").alias("mn"), F.max("v").cast("long").alias("mx")
        )
        hfrac = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("iso:"),
                            F.col("t").cast("string"),
                            F.lit(f":{lvl}:"),
                            F.col("node").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2147483647
        ) % 10000
        a = (
            a.join(F.broadcast(s), ["t", "node"])
            .select(
                "user_id",
                "v",
                "t",
                (
                    F.col("node") * 2
                    + F.when(
                        F.col("v") * 10000
                        > F.col("mn") * 10000 + hfrac * (F.col("mx") - F.col("mn")),
                        1,
                    ).otherwise(0)
                ).alias("node"),
            )
        )
    leaf = a.groupBy("t", "node").agg(F.count(F.lit(1)).cast("long").alias("pop"))
    sc = (
        a.join(F.broadcast(leaf), ["t", "node"])
        .groupBy("user_id")
        .agg(
            F.max("v").alias("v"),
            F.sum("pop").cast("long").alias("sum_pop"),
        )
    )
    return (
        sc.select(
            "user_id",
            F.col("v").alias("purchase_cents"),
            "sum_pop",
            stable_round(F.col("sum_pop") / float(trees), 6).alias("iso_score"),
        )
        .orderBy(F.asc("sum_pop"), F.asc("user_id"))
        .limit(15)
    )


@register(
    "q_recsys_diversity_eval",
    oracle="""
WITH basket AS MATERIALIZED (
    SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
ub AS MATERIALIZED (
    SELECT DISTINCT o_custkey AS u, l_partkey AS pk
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_custkey % 50 = 3
),
n_i AS MATERIALIZED (SELECT pk, CAST(count(*) AS BIGINT) AS n FROM basket GROUP BY pk),
no_ AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM basket),
np_ AS (SELECT CAST(count(*) AS BIGINT) AS n_parts FROM n_i),
cooc AS MATERIALIZED (
    SELECT part_a, part_b,
           CAST(round((n_ab / sqrt(na * 1.0 * nb)) * 1000000.0) AS BIGINT)
               AS sim_q
    FROM (
        SELECT a.pk AS part_a, b.pk AS part_b, CAST(count(*) AS BIGINT) AS n_ab
        FROM basket a JOIN basket b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
    )
    JOIN (SELECT pk, n AS na FROM n_i) x ON x.pk = part_a
    JOIN (SELECT pk, n AS nb FROM n_i) y ON y.pk = part_b
),
sims AS MATERIALIZED (
    SELECT part_a AS i, part_b AS j, sim_q FROM cooc
    UNION ALL SELECT part_b, part_a, sim_q FROM cooc
),
scored AS (
    SELECT ub.u, s.j, CAST(sum(s.sim_q) AS BIGINT) AS score_q
    FROM ub JOIN sims s ON s.i = ub.pk
    WHERE NOT EXISTS (SELECT 1 FROM ub o WHERE o.u = ub.u AND o.pk = s.j)
    GROUP BY 1, 2
),
recs AS MATERIALIZED (
    SELECT u, j, score_q FROM (
        SELECT *, row_number() OVER (PARTITION BY u
                   ORDER BY score_q DESC, j ASC) AS rk
        FROM scored
    ) WHERE rk <= 3
),
cov AS (
    SELECT CAST(count(DISTINCT j) AS BIGINT) AS n_rec_items,
           CAST(count(*) AS BIGINT) AS n_recs,
           CAST(count(DISTINCT u) AS BIGINT) AS n_users
    FROM recs
),
nov AS (
    SELECT CAST(sum(CAST(round(-ln(n_i.n * 1.0 / (SELECT n_orders FROM no_))
                               * 1000000.0) AS BIGINT)) AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS c
    FROM recs JOIN n_i ON n_i.pk = recs.j
),
ils AS (
    SELECT CAST(sum(coalesce(cooc.sim_q, 0)) AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS c
    FROM recs a JOIN recs b ON a.u = b.u AND a.j < b.j
    LEFT JOIN cooc ON cooc.part_a = a.j AND cooc.part_b = b.j
)
SELECT cov.n_users, cov.n_recs, cov.n_rec_items,
       (round((cov.n_rec_items * 1.0 / (SELECT n_parts FROM np_))
              * 1000000.0) / 1000000.0) AS catalog_coverage,
       (round((nov.s / (nov.c * 1000000.0)) * 1000000.0) / 1000000.0)
           AS mean_novelty,
       (round((ils.s / (ils.c * 1000000.0)) * 1000000.0) / 1000000.0)
           AS mean_intra_list_sim
FROM cov CROSS JOIN nov CROSS JOIN ils
""",
    description=(
        "Beyond-accuracy recommender evaluation of the item-item CF "
        "scorer: top-3 recommendations per user (2% user shard, "
        "already-purchased items excluded via anti-join), then the "
        "three metrics accuracy evals miss — catalog coverage "
        "(distinct recommended / catalog), mean novelty "
        "(-ln popularity, the inverse-log-pop self-information), and "
        "mean intra-list similarity (pairwise CF cosine within each "
        "user's list; high = filter-bubble lists). Pair similarities "
        "are quantized to micro-units before every sum, so scoring, "
        "novelty and ILS all fold as exact integers. Scoring joins "
        "the shard's profile items against the symmetric similarity "
        "table (shuffle on item id); per-user top-3 rides the "
        "partitioned WindowGroupLimit; the ILS pair join is 3 rows "
        "per user."
    ),
    tags=("mlops", "extension", "recsys"),
)
def q_recsys_diversity_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    basket = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct().localCheckpoint(eager=True)
    ub = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("o_custkey") % 50 == 3)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("pk"))
        .distinct()
    ).localCheckpoint(eager=True)
    n_i = basket.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("n"))
    no_ = basket.agg(F.countDistinct("ok").cast("long").alias("n_orders"))
    np_ = n_i.agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    cooc_raw = (
        basket.alias("a")
        .join(
            basket.alias("b"),
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")),
        )
        .groupBy(F.col("a.pk").alias("part_a"), F.col("b.pk").alias("part_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    cooc = (
        cooc_raw.join(n_i.select(F.col("pk").alias("part_a"), F.col("n").alias("na")), "part_a")
        .join(n_i.select(F.col("pk").alias("part_b"), F.col("n").alias("nb")), "part_b")
        .select(
            "part_a",
            "part_b",
            F.round(
                (F.col("n_ab") / F.sqrt(F.col("na") * 1.0 * F.col("nb"))) * 1000000.0
            )
            .cast("long")
            .alias("sim_q"),
        )
    ).localCheckpoint(eager=True)
    sims = cooc.select(
        F.col("part_a").alias("i"), F.col("part_b").alias("j"), "sim_q"
    ).unionAll(
        cooc.select(F.col("part_b").alias("i"), F.col("part_a").alias("j"), "sim_q")
    )
    scored = (
        ub.join(sims, ub.pk == sims.i)
        .join(
            ub.select(F.col("u").alias("ou"), F.col("pk").alias("oj")),
            (F.col("u") == F.col("ou")) & (F.col("j") == F.col("oj")),
            "left_anti",
        )
        .groupBy("u", "j")
        .agg(F.sum("sim_q").cast("long").alias("score_q"))
    )
    w = Window.partitionBy("u").orderBy(F.desc("score_q"), F.asc("j"))
    recs = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("u", "j", "score_q")
    ).localCheckpoint(eager=True)
    cov = recs.agg(
        F.countDistinct("u").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_recs"),
        F.countDistinct("j").cast("long").alias("n_rec_items"),
    )
    nov = (
        recs.join(n_i, recs.j == n_i.pk)
        .crossJoin(F.broadcast(no_))
        .agg(
            F.sum(
                F.round(
                    -F.log(F.col("n") * 1.0 / F.col("n_orders")) * 1000000.0
                ).cast("long")
            )
            .cast("long")
            .alias("nov_s"),
            F.count(F.lit(1)).cast("long").alias("nov_c"),
        )
    )
    ils = (
        recs.alias("a")
        .join(recs.alias("b"), (F.col("a.u") == F.col("b.u")) & (F.col("a.j") < F.col("b.j")))
        .join(
            cooc,
            (cooc.part_a == F.col("a.j")) & (cooc.part_b == F.col("b.j")),
            "left",
        )
        .agg(
            F.sum(F.coalesce("sim_q", F.lit(0))).cast("long").alias("ils_s"),
            F.count(F.lit(1)).cast("long").alias("ils_c"),
        )
    )
    return (
        cov.crossJoin(F.broadcast(nov))
        .crossJoin(F.broadcast(ils))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_users",
            "n_recs",
            "n_rec_items",
            stable_round(F.col("n_rec_items") * 1.0 / F.col("n_parts"), 6).alias(
                "catalog_coverage"
            ),
            stable_round(F.col("nov_s") / (F.col("nov_c") * 1000000.0), 6).alias(
                "mean_novelty"
            ),
            stable_round(F.col("ils_s") / (F.col("ils_c") * 1000000.0), 6).alias(
                "mean_intra_list_sim"
            ),
        )
    )


@register(
    "q_cold_start_fallback",
    oracle="""
WITH ub AS (
    SELECT o_custkey AS u, l_partkey AS pk
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
),
depth AS (SELECT u, CAST(count(*) AS BIGINT) AS n_items FROM ub GROUP BY u),
cold AS (
    SELECT u, n_items FROM (
        SELECT u, n_items, row_number() OVER (ORDER BY n_items, u) AS crk
        FROM depth
    ) WHERE crk <= 20
),
pop AS (
    SELECT pk, CAST(count(*) AS BIGINT) AS n_buyers,
           row_number() OVER (ORDER BY count(*) DESC, pk ASC) AS rk
    FROM ub GROUP BY pk
),
top5 AS (SELECT pk, n_buyers, CAST(rk AS BIGINT) AS rk FROM pop WHERE rk <= 5),
recs AS (
    SELECT c.u, c.n_items, t.pk, t.n_buyers, t.rk
    FROM cold c CROSS JOIN top5 t
    WHERE NOT EXISTS (SELECT 1 FROM ub o WHERE o.u = c.u AND o.pk = t.pk)
),
rr AS (
    SELECT u, n_items, pk, n_buyers,
           row_number() OVER (PARTITION BY u ORDER BY rk) AS pos
    FROM recs
)
SELECT u AS user_id, n_items AS profile_size, CAST(pos AS BIGINT) AS pos,
       pk AS part_id, n_buyers
FROM rr WHERE pos <= 3
ORDER BY user_id, pos
""",
    description=(
        "Cold-start recommendation fallback: the 20 thinnest user "
        "profiles (fewest distinct purchased items) get the top-3 "
        "most-bought catalog items they don't already own — the path "
        "every personalized recommender needs for new users, where "
        "the CF scorer (q_item_item_cf / q_recsys_diversity_eval) has "
        "no signal. Popularity is one hash agg; the top-5 candidate "
        "list is a WindowGroupLimit-truncated broadcast; exclusion is "
        "an anti-join on the user's own items; per-user top-3 "
        "re-ranks the <=5 survivors. In production the profile-size "
        "gate routes users between this and the CF path — both live "
        "in this registry."
    ),
    tags=("mlops", "extension", "recsys"),
)
def q_cold_start_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    ub = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("pk"))
        .distinct()
    ).localCheckpoint(eager=True)
    depth = ub.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("n_items"))
    wc = Window.orderBy(F.asc("n_items"), F.asc("u"))
    cold = (
        depth.withColumn("crk", F.row_number().over(wc))
        .filter(F.col("crk") <= 20)
        .select("u", "n_items")
    )
    wpop = Window.orderBy(F.desc("n_buyers"), F.asc("pk"))
    pop = ub.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("n_buyers"))
    top5 = (
        pop.withColumn("rk", F.row_number().over(wpop).cast("long"))
        .filter(F.col("rk") <= 5)
    )
    recs = (
        cold.crossJoin(F.broadcast(top5))
        .join(
            ub.select(F.col("u").alias("ou"), F.col("pk").alias("opk")),
            (F.col("u") == F.col("ou")) & (F.col("pk") == F.col("opk")),
            "left_anti",
        )
    )
    wpos = Window.partitionBy("u").orderBy("rk")
    return (
        recs.withColumn("pos", F.row_number().over(wpos).cast("long"))
        .filter(F.col("pos") <= 3)
        .select(
            F.col("u").alias("user_id"),
            F.col("n_items").alias("profile_size"),
            "pos",
            F.col("pk").alias("part_id"),
            "n_buyers",
        )
        .orderBy("user_id", "pos")
    )


@register(
    "q_dp_topk_exponential",
    oracle=f"""
WITH cnt AS (
    SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS c FROM lineitem
    GROUP BY 1
),
noisy AS (
    SELECT pk, c,
           (round((0.5 * c - 2.0 * ln(-ln(
                ((('0x' || substring(md5('dpk-v1:' || CAST(pk AS VARCHAR)), 1, 8))
                  ::BIGINT % 2147483647) + 1.0) / 2147483648.0)))
               * 1000000.0) / 1000000.0) AS nscore
    FROM cnt
),
win AS (
    SELECT pk, c, nscore, nr FROM (
        SELECT pk, c, nscore,
               row_number() OVER (ORDER BY nscore DESC, pk) AS nr
        FROM noisy
    ) WHERE nr <= 10
)
SELECT CAST(w.nr AS BIGINT) AS noisy_rank, w.pk AS part_id, w.c AS true_count,
       w.nscore AS noisy_score,
       CAST(1 + sum(CASE WHEN o.c > w.c OR (o.c = w.c AND o.pk < w.pk)
                    THEN 1 ELSE 0 END) AS BIGINT) AS true_rank
FROM win w CROSS JOIN cnt o
GROUP BY w.nr, w.pk, w.c, w.nscore
ORDER BY noisy_rank
""",
    description=(
        "Differentially-private top-k selection by the exponential "
        "mechanism in its Gumbel-noise formulation: noisy_score = "
        "(eps/2)*count + Gumbel(scale=2), argtop-10 parts, with the "
        "true ranks reported alongside so the privacy/utility rank "
        "displacement is visible. Gumbel draws are -ln(-ln(U)) with U "
        "from counter-based md5 (the q_dp_histogram discipline), so "
        "both engines realize the SAME mechanism run and the query "
        "stays value-hash-checkable while demonstrating one-shot "
        "DP top-k (joint eps, not k sequential mechanisms). One hash "
        "agg + one WindowGroupLimit-truncated rank; the reported "
        "true ranks come from a broadcast dominance count over the "
        "10 winners, never a global sort of the catalog."
    ),
    tags=("mlops", "extension", "privacy"),
)
def q_dp_topk_exponential(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from healthcare_etl_spark.functions.rounding import stable_round

    li = load_table(spark, sf_dir, "lineitem")
    cnt = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dpk-v1:"), F.col("pk").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2147483647
        + 1.0
    ) / 2147483648.0
    nscore = stable_round(0.5 * F.col("c") - 2.0 * F.log(-F.log(u)), 6)
    noisy = cnt.select("pk", "c", nscore.alias("nscore"))
    wnr = Window.orderBy(F.desc("nscore"), F.asc("pk"))
    win = (
        noisy.withColumn("noisy_rank", F.row_number().over(wnr).cast("long"))
        .filter(F.col("noisy_rank") <= 10)
    )
    o = cnt.select(F.col("pk").alias("opk"), F.col("c").alias("oc"))
    before = F.when(
        (F.col("oc") > F.col("c"))
        | ((F.col("oc") == F.col("c")) & (F.col("opk") < F.col("pk"))),
        1,
    ).otherwise(0)
    return (
        F.broadcast(win)
        .crossJoin(o)
        .groupBy("noisy_rank", "pk", "c", "nscore")
        .agg((1 + F.sum(before)).cast("long").alias("true_rank"))
        .select(
            "noisy_rank",
            F.col("pk").alias("part_id"),
            F.col("c").alias("true_count"),
            F.col("nscore").alias("noisy_score"),
            "true_rank",
        )
        .orderBy("noisy_rank")
    )


# ---------------------------------------------------------------------------
# DeLong confidence interval for ROC-AUC (round-6 continuation-5)


def _auc_delong_oracle() -> str:
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
           CAST(sum(y) AS BIGINT) AS t_pos,
           CAST(count(*) - sum(y) AS BIGINT) AS t_neg
    FROM scored GROUP BY p
),
ranked AS (
    SELECT p, t_pos, t_neg,
           CAST(coalesce(sum(t_neg) OVER (ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cnb,
           CAST(coalesce(sum(t_pos) OVER (ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cpb
    FROM grp
),
tot AS (
    SELECT CAST(sum(t_pos) AS BIGINT) AS m_pos,
           CAST(sum(t_neg) AS BIGINT) AS n_neg
    FROM grp
),
place AS (
    SELECT r.t_pos, r.t_neg,
           (2 * r.cnb + r.t_neg) AS v,
           (2 * (t.m_pos - r.cpb - r.t_pos) + r.t_pos) AS u,
           t.m_pos, t.n_neg
    FROM ranked r CROSS JOIN tot t
),
mom AS (
    SELECT any_value(m_pos) AS m_pos, any_value(n_neg) AS n_neg,
           CAST(sum(t_pos * v) AS BIGINT) AS sv,
           sum(CAST(t_pos AS HUGEINT) * v * v) AS svv,
           CAST(sum(t_neg * u) AS BIGINT) AS su,
           sum(CAST(t_neg AS HUGEINT) * u * u) AS suu
    FROM place
),
stats AS (
    SELECT m_pos, n_neg,
           (sv / (2.0 * m_pos * n_neg)) AS auc,
           ((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / m_pos)
            / (m_pos - 1.0) / (4.0 * n_neg * n_neg)) AS s10,
           ((CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * su / n_neg)
            / (n_neg - 1.0) / (4.0 * m_pos * m_pos)) AS s01
    FROM mom
)
SELECT m_pos AS n_pos, n_neg,
       (round(auc * 1000000.0) / 1000000.0) AS auc,
       (round(sqrt(s10 / m_pos + s01 / n_neg) * 1000000.0) / 1000000.0)
           AS se_delong,
       (round(greatest(0.0, auc - 1.959964 * sqrt(s10 / m_pos + s01 / n_neg))
              * 1000000.0) / 1000000.0) AS ci_lo,
       (round(least(1.0, auc + 1.959964 * sqrt(s10 / m_pos + s01 / n_neg))
              * 1000000.0) / 1000000.0) AS ci_hi
FROM stats
""".strip()


@register(
    "q_auc_delong_ci",
    oracle=_auc_delong_oracle(),
    description=(
        "DeLong (1988) standard error and 95% CI for the IRLS "
        "model's ROC-AUC via the placement formulation: each "
        "positive's placement V10 = fraction of negatives scored "
        "below it (ties half-weighted), each negative's V01 "
        "symmetric; var(AUC) = S10/m + S01/n — the inference layer "
        "q_roc_auc's point estimate needs before anyone compares "
        "two models. Placements are constant within a distinct "
        "score, so the whole computation lives on the bounded "
        "distinct-score table: placement numerators are exact "
        "half-unit integers (2*below + ties), both variance folds "
        "are HUGEINT/DECIMAL(38) weighted integer moments, and the "
        "two cumulative counts ride the same bucketed two-phase "
        "carry as q_roc_auc (micro-prob div-4096 summary — no "
        "single-partition sort)."
    ),
    tags=("analytics", "extension", "stats", "ml"),
)
def q_auc_delong_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.scale import bucketed_prefix

    features = _logistic_features(spark, sf_dir)
    beta = irls_fit(features, LOGISTIC)
    pm = F.round(logistic_p(beta) * 1000000.0).cast("long")
    grp = (
        features.select(pm.alias("pm"), "y")
        .groupBy("pm")
        .agg(
            F.count(F.lit(1)).alias("t"),
            F.sum("y").cast("long").alias("t_pos"),
        )
        .select(
            "pm",
            "t_pos",
            (F.col("t") - F.col("t_pos")).cast("long").alias("t_neg"),
        )
    )
    r1 = bucketed_prefix(
        grp,
        buckets=[F.expr("pm div 4096")],
        order_by=[F.col("pm")],
        value=F.col("t_neg"),
        agg="sum",
        exclusive=True,
        out_col="cnb",
    )
    ranked = bucketed_prefix(
        r1,
        buckets=[F.expr("pm div 4096")],
        order_by=[F.col("pm")],
        value=F.col("t_pos"),
        agg="sum",
        exclusive=True,
        out_col="cpb",
    ).select(
        "t_pos",
        "t_neg",
        F.col("cnb").cast("long").alias("cnb"),
        F.col("cpb").cast("long").alias("cpb"),
    )
    tot = grp.agg(
        F.sum("t_pos").cast("long").alias("m_pos"),
        F.sum("t_neg").cast("long").alias("n_neg"),
    )
    place = ranked.crossJoin(F.broadcast(tot)).select(
        "t_pos",
        "t_neg",
        (2 * F.col("cnb") + F.col("t_neg")).alias("v"),
        (
            2 * (F.col("m_pos") - F.col("cpb") - F.col("t_pos"))
            + F.col("t_pos")
        ).alias("u"),
        "m_pos",
        "n_neg",
    )
    dec = "decimal(38,0)"
    mom = place.agg(
        F.first("m_pos").alias("m_pos"),
        F.first("n_neg").alias("n_neg"),
        F.sum(F.col("t_pos") * F.col("v")).cast("long").alias("sv"),
        F.sum(F.col("t_pos").cast(dec) * F.col("v").cast(dec) * F.col("v").cast(dec)).alias("svv"),
        F.sum(F.col("t_neg") * F.col("u")).cast("long").alias("su"),
        F.sum(F.col("t_neg").cast(dec) * F.col("u").cast(dec) * F.col("u").cast(dec)).alias("suu"),
    )
    m_pos, n_neg = F.col("m_pos"), F.col("n_neg")
    auc = F.col("sv") / (2.0 * m_pos * n_neg)
    s10 = (
        (F.col("svv").cast("double") - F.col("sv").cast("double") * F.col("sv") / m_pos)
        / (m_pos - 1.0)
        / (4.0 * n_neg * n_neg)
    )
    s01 = (
        (F.col("suu").cast("double") - F.col("su").cast("double") * F.col("su") / n_neg)
        / (n_neg - 1.0)
        / (4.0 * m_pos * m_pos)
    )
    se = F.sqrt(s10 / m_pos + s01 / n_neg)
    out = mom.select(
        m_pos.alias("n_pos"),
        n_neg.alias("n_neg"),
        stable_round(auc, 6).alias("auc"),
        stable_round(se, 6).alias("se_delong"),
        stable_round(F.greatest(F.lit(0.0), auc - 1.959964 * se), 6).alias("ci_lo"),
        stable_round(F.least(F.lit(1.0), auc + 1.959964 * se), 6).alias("ci_hi"),
    )
    return out


@register(
    "q_tcloseness_audit",
    oracle="""
WITH tot AS (
    SELECT CAST(count(*) AS BIGINT) AS m FROM events
),
gdist AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS mi FROM events GROUP BY 1
),
cells AS (
    -- DuckDB dayofweek is 0-6 (Sun=0); Spark's is 1-7 (Sun=1) — +1 aligns
    SELECT CAST(dayofweek(ts) + 1 AS BIGINT)   AS wd,
           CAST(floor(value / 10.0) AS BIGINT) AS value_band,
           event_type,
           CAST(count(*) AS BIGINT) AS ni
    FROM events GROUP BY 1, 2, 3
),
cell_tot AS (
    SELECT wd, value_band, CAST(sum(ni) AS BIGINT) AS nc
    FROM cells GROUP BY 1, 2
),
grid AS (
    SELECT c.wd, c.value_band, c.nc, g.event_type, g.mi,
           coalesce(x.ni, 0) AS ni
    FROM cell_tot c
    CROSS JOIN gdist g
    LEFT JOIN cells x
      ON x.wd = c.wd AND x.value_band = c.value_band
     AND x.event_type = g.event_type
),
tvd AS (
    SELECT wd, value_band, max(nc) AS n_events,
           CAST(sum(abs(CAST(ni AS HUGEINT) * (SELECT m FROM tot)
                        - CAST(mi AS HUGEINT) * nc)) AS HUGEINT) AS num,
           (CAST(max(nc) AS HUGEINT) * (SELECT m FROM tot)) AS den
    FROM grid GROUP BY 1, 2
)
SELECT wd, value_band, CAST(n_events AS BIGINT) AS n_events,
       (round((CAST(num AS DOUBLE) / (2.0 * CAST(den AS DOUBLE))) * 1000000.0)
        / 1000000.0) AS tvd,
       (CAST(num AS DOUBLE) / (2.0 * CAST(den AS DOUBLE)) > 0.2) AS exceeds_t
FROM tvd
ORDER BY 1, 2
""",
    description=(
        "t-closeness audit (Li et al. ICDE'07) — the third leg of the "
        "privacy triad after q_kanonymity_audit (membership size) and "
        "q_l_diversity_audit (distinct sensitive values): per "
        "quasi-identifier cell (weekday, value decile-band), the total "
        "variation distance between the cell's sensitive-attribute "
        "(event_type) distribution and the GLOBAL distribution — a "
        "cell can be k-anonymous AND l-diverse yet still leak if its "
        "distribution is badly skewed vs the population. TVD is "
        "computed in exact integer cross-products "
        "(|ni*M - mi*Nc| summed as BIGINTs, one final division) so "
        "the sum is order-independent; the type grid is a broadcast "
        "cross join against the handful of global types (the "
        "q_psi_drift lesson: hint the unestimable side). One "
        "partial-agg pass over the fact table; everything after is "
        "metadata-sized. Flags cells with TVD > t = 0.2."
    ),
    tags=("quality", "extension", "governance"),
)
def q_tcloseness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.dayofweek("ts").cast("long").alias("wd"),
        F.floor(F.col("value") / 10.0).cast("long").alias("value_band"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("long").alias("ni"))
    glob = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("mi"))
    m_total = ev.count()
    cell_tot = cells.groupBy("wd", "value_band").agg(
        F.sum("ni").cast("long").alias("nc")
    )
    grid = (
        cell_tot.crossJoin(F.broadcast(glob))
        .join(cells, ["wd", "value_band", "event_type"], "left")
        .select(
            "wd",
            "value_band",
            "nc",
            "mi",
            F.coalesce("ni", F.lit(0)).cast("long").alias("ni"),
        )
    )
    # DECIMAL(38,0) cross-products (the oracle's HUGEINT): BIGINT would
    # overflow once ni * M passes 2^63 — true at real corpus sizes even
    # though fixture scales never get close.
    dec = "decimal(38,0)"
    tvd_num = F.sum(
        F.abs(
            F.col("ni").cast(dec) * F.lit(int(m_total)).cast(dec)
            - F.col("mi").cast(dec) * F.col("nc").cast(dec)
        )
    )
    out = grid.groupBy("wd", "value_band").agg(
        F.max("nc").cast("long").alias("n_events"),
        tvd_num.alias("num"),
        (F.max("nc").cast(dec) * F.lit(int(m_total)).cast(dec)).alias("den"),
    )
    tvd = F.col("num").cast("double") / (F.lit(2.0) * F.col("den").cast("double"))
    return out.select(
        "wd",
        "value_band",
        "n_events",
        stable_round(tvd, 6).alias("tvd"),
        (tvd > F.lit(0.2)).alias("exceeds_t"),
    )

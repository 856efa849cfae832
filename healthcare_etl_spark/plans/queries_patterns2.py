"""Round-6 continuation-4 scale-pattern additions, part 2.

Split from ``queries_patterns`` (r8 hygiene: the r6 bar keeps query
modules <= 3,500 LoC). Same contracts: integer-exact thresholds,
stable_round on every emitted double, no data-scale partitionless
windows, DuckDB oracles with identical arithmetic. Shares the
prefix-filter CTE builder and the perplexity-tertile helper with
part 1 (imported, not duplicated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import stable_round
from healthcare_etl_spark.plans.registry import register
from healthcare_etl_spark.sources import load_table, local_frame, spread
from healthcare_etl_spark.plans.queries_patterns import (
    _WOE_THRESH,
    _ppl_tertiles,
    _prefix_filter_ctes,
)

@register(
    "q_synthetic_control",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x
    FROM events GROUP BY 1),
idxd AS (
    SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS idx, d, y, x,
           CAST(count(*) OVER () AS BIGINT) AS t_n
    FROM daily),
pre AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
    FROM idxd WHERE idx <= t_n // 2),
fit AS (
    SELECT ((k * sxy - sx * sy) * 1.0 / (k * sxx - sx * sx)) AS b,
           ((sy - ((k * sxy - sx * sy) * 1.0 / (k * sxx - sx * sx)) * sx)
            * 1.0 / k) AS a
    FROM pre),
post AS (
    SELECT i.idx, i.d, i.y,
           CAST(round(f.a + f.b * i.x) AS BIGINT) AS y_hat
    FROM idxd i, fit f WHERE i.idx > i.t_n // 2)
SELECT idx AS day_idx, y AS actual_cents, y_hat AS predicted_cents,
       CAST(y - y_hat AS BIGINT) AS effect_cents,
       CAST(sum(y - y_hat) OVER (ORDER BY idx) AS BIGINT) AS cum_effect_cents
FROM post ORDER BY idx
""",
    description=(
        "Synthetic-control / CausalImpact-lite counterfactual: fit "
        "purchase revenue on the view-count CONTROL series over the "
        "pre-period (first half of days; closed-form OLS from exact "
        "BIGINT moments), project the counterfactual through the "
        "post-period, and report pointwise and cumulative effects — "
        "the intervention-analysis shape q_did_estimator's two-group "
        "difference can't give when there is no untreated group, only "
        "an untreated METRIC. Predictions round to integer cents so "
        "the cumulative effect is an exact BIGINT running sum over the "
        "day-count-bounded post-period frame. Data-sized work is one "
        "day-grouped conditional aggregate."
    ),
    tags=("analytics", "extension", "causal"),
)
def q_synthetic_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("y"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    w = Window.orderBy("d")
    idxd = daily.select(
        F.row_number().over(w).cast("long").alias("idx"),
        "y", "x",
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("t_n"),
    ).localCheckpoint(eager=True)
    pre = idxd.filter(F.col("idx") <= F.expr("t_n div 2")).agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    b = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) * F.lit(1.0) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = pre.select(b.alias("b"), ((F.col("sy") - b * F.col("sx")) * F.lit(1.0) / F.col("k")).alias("a"))
    post = (
        idxd.filter(F.col("idx") > F.expr("t_n div 2"))
        .crossJoin(F.broadcast(fit))
        .select(
            "idx", "y",
            F.round(F.col("a") + F.col("b") * F.col("x")).cast("long").alias("y_hat"),
        )
    )
    wc = Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, 0)
    return post.select(
        F.col("idx").alias("day_idx"),
        F.col("y").alias("actual_cents"),
        F.col("y_hat").alias("predicted_cents"),
        (F.col("y") - F.col("y_hat")).cast("long").alias("effect_cents"),
        F.sum(F.col("y") - F.col("y_hat")).over(wc).cast("long").alias(
            "cum_effect_cents"
        ),
    ).orderBy("day_idx")


@register(
    "q_adstock_fit",
    oracle="""
WITH RECURSIVE daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x
    FROM events GROUP BY 1),
idxd AS (
    SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS idx, y, x FROM daily),
adrec AS (
    SELECT idx, y,
           CAST(x AS DOUBLE) AS a0, CAST(x AS DOUBLE) AS a3,
           CAST(x AS DOUBLE) AS a5, CAST(x AS DOUBLE) AS a7,
           CAST(x AS DOUBLE) AS a9
    FROM idxd WHERE idx = 1
    UNION ALL
    SELECT i.idx, i.y,
           (round((i.x + CAST(0.0 AS DOUBLE) * k.a0) * CAST(1000000.0 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)),
           (round((i.x + CAST(0.3 AS DOUBLE) * k.a3) * CAST(1000000.0 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)),
           (round((i.x + CAST(0.5 AS DOUBLE) * k.a5) * CAST(1000000.0 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)),
           (round((i.x + CAST(0.7 AS DOUBLE) * k.a7) * CAST(1000000.0 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)),
           (round((i.x + CAST(0.9 AS DOUBLE) * k.a9) * CAST(1000000.0 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE))
    FROM adrec k JOIN idxd i ON i.idx = k.idx + 1),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           sum(CAST(y AS DOUBLE)) AS sy, sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS syy,
           sum(a0) AS sx0, sum(a0 * a0) AS sxx0, sum(a0 * CAST(y AS DOUBLE)) AS sxy0,
           sum(a3) AS sx3, sum(a3 * a3) AS sxx3, sum(a3 * CAST(y AS DOUBLE)) AS sxy3,
           sum(a5) AS sx5, sum(a5 * a5) AS sxx5, sum(a5 * CAST(y AS DOUBLE)) AS sxy5,
           sum(a7) AS sx7, sum(a7 * a7) AS sxx7, sum(a7 * CAST(y AS DOUBLE)) AS sxy7,
           sum(a9) AS sx9, sum(a9 * a9) AS sxx9, sum(a9 * CAST(y AS DOUBLE)) AS sxy9
    FROM adrec)
SELECT CAST(0 AS BIGINT) AS lambda_tenths,
       (round(((n * sxy0 - sx0 * sy) / (sqrt(n * sxx0 - sx0 * sx0) * sqrt(n * syy - sy * sy))) * CAST(1000000.0 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) AS corr_purchases FROM mom
UNION ALL
SELECT CAST(3 AS BIGINT),
       (round(((n * sxy3 - sx3 * sy) / (sqrt(n * sxx3 - sx3 * sx3) * sqrt(n * syy - sy * sy))) * CAST(1000000.0 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) FROM mom
UNION ALL
SELECT CAST(5 AS BIGINT),
       (round(((n * sxy5 - sx5 * sy) / (sqrt(n * sxx5 - sx5 * sx5) * sqrt(n * syy - sy * sy))) * CAST(1000000.0 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) FROM mom
UNION ALL
SELECT CAST(7 AS BIGINT),
       (round(((n * sxy7 - sx7 * sy) / (sqrt(n * sxx7 - sx7 * sx7) * sqrt(n * syy - sy * sy))) * CAST(1000000.0 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) FROM mom
UNION ALL
SELECT CAST(9 AS BIGINT),
       (round(((n * sxy9 - sx9 * sy) / (sqrt(n * sxx9 - sx9 * sx9) * sqrt(n * syy - sy * sy))) * CAST(1000000.0 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) FROM mom
ORDER BY lambda_tenths
""",
    description=(
        "Geometric-adstock carryover fit (marketing-mix modeling's "
        "core transform): click volume is adstocked at carryover "
        "lambda in {0, .3, .5, .7, .9} — five recursive chains "
        "a_t = x_t + lambda*a_(t-1) carried through one day-bounded "
        "WITH RECURSIVE pass with 6dp per-step re-rounds — and each "
        "adstocked series' Pearson correlation with purchase revenue "
        "is computed from exact one-pass moments; the argmax lambda is "
        "the media-memory estimate. Completes the marketing family "
        "(elasticity, attribution, price index) with the carryover "
        "dimension none of them model. Data-sized work is one "
        "day-grouped aggregate."
    ),
    tags=("analytics", "extension", "marketing", "recursive"),
)
def q_adstock_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("y"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    w = Window.orderBy("d")
    idxd = daily.select(
        F.row_number().over(w).cast("long").alias("idx"), "y", "x"
    )
    idxd.createOrReplaceTempView("v_adstock_days")
    from healthcare_etl_spark.plans.registry import REGISTRY

    oracle = REGISTRY["q_adstock_fit"].oracle
    body = oracle.replace(
        """daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x
    FROM events GROUP BY 1),
idxd AS (
    SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS idx, y, x FROM daily),
adrec AS (""",
        "adrec AS (",
    ).replace("FROM idxd WHERE idx = 1", "FROM v_adstock_days WHERE idx = 1").replace(
        "JOIN idxd i ON", "JOIN v_adstock_days i ON"
    )
    return spark.sql(body)



@register(
    "q_pps_systematic",
    oracle="""
WITH u AS (
    SELECT user_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) + 1 AS BIGINT) AS w
    FROM events GROUP BY user_id),
pref AS (
    SELECT user_id, w,
           CAST(coalesce(sum(w) OVER (ORDER BY user_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS p,
           CAST(sum(w) OVER () AS BIGINT) AS tot
    FROM u),
marked AS (
    SELECT user_id, w, p, tot,
           tot // 100 AS step,
           ((p + w - (tot // 100) // 2 + (tot // 100)) // (tot // 100))
         - ((p - (tot // 100) // 2 + (tot // 100)) // (tot // 100)) AS n_marks
    FROM pref)
SELECT user_id, w AS weight_cents, CAST(n_marks AS BIGINT) AS n_marks,
       (round(least(1.0, 100.0 * w / tot) * 1000000.0) / 1000000.0)
           AS inclusion_prob,
       (round((1.0 / least(1.0, 100.0 * w / tot)) * 1000000.0) / 1000000.0)
           AS ht_weight
FROM marked WHERE n_marks > 0
ORDER BY user_id
""",
    description=(
        "Systematic PPS (probability-proportional-to-size) sampling "
        "(Madow 1949): users are laid on the cumulative spend-weight "
        "line (two-phase bucketed prefix at scale — the Spark side "
        "rides bucketed_prefix on user_id div 1024, never a global "
        "sort) and every step = W/100 marks, offset by step/2, selects "
        "the unit it lands in — unequal-probability sampling WITHOUT "
        "replacement in one pass, zero randomness (the fixed offset "
        "makes the draw deterministic and oracle-checkable; production "
        "uses a hashed offset, same plan). Mark counting is pure "
        "integer floor arithmetic shifted to stay nonnegative (Spark "
        "div truncates toward zero, DuckDB // floors — they agree only "
        "on nonnegative operands, so the shift is load-bearing). "
        "Heavy users earn n_marks > 1 (certainty units); "
        "Horvitz-Thompson weights come out alongside. Completes the "
        "sampling family: uniform hash-split, stratified, weighted "
        "A-res, Neyman allocation, now pips-systematic."
    ),
    tags=("analytics", "extension", "sampling", "scale-pattern"),
)
def q_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.scale import bucketed_prefix

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (F.sum(F.round(F.col("value") * 100).cast("long")) + 1).alias("w")
    )
    pref = bucketed_prefix(
        u,
        buckets=[F.expr("user_id div 1024")],
        order_by=[F.col("user_id")],
        value=F.col("w"),
        agg="sum",
        exclusive=True,
        out_col="p",
    )
    tot = u.agg(F.sum("w").cast("long").alias("tot"))
    marked = pref.crossJoin(F.broadcast(tot)).select(
        "user_id", "w", "p", "tot",
        F.expr(
            "((p + w - (tot div 100) div 2 + (tot div 100)) div (tot div 100))"
            " - ((p - (tot div 100) div 2 + (tot div 100)) div (tot div 100))"
        ).alias("n_marks"),
    )
    pi = F.least(F.lit(1.0), F.lit(100.0) * F.col("w") / F.col("tot"))
    return (
        marked.filter(F.col("n_marks") > 0)
        .select(
            "user_id",
            F.col("w").alias("weight_cents"),
            F.col("n_marks").cast("long").alias("n_marks"),
            stable_round(pi, 6).alias("inclusion_prob"),
            stable_round(F.lit(1.0) / pi, 6).alias("ht_weight"),
        )
        .orderBy("user_id")
    )


@register(
    "q_concentration_indices",
    oracle="""
WITH src AS (
    SELECT source,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok
    FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(tok) AS BIGINT) AS t FROM src),
sh AS (
    SELECT source, tok,
           CAST((2 * tok * 1000000 + t) // (2 * t) AS BIGINT) AS share_micro,
           CAST(round(-ln(tok * 1.0 / t) * (tok * 1.0 / t) * 1000000000.0)
                AS BIGINT) AS ent_nano,
           row_number() OVER (ORDER BY tok DESC, source) AS rk
    FROM src, tot),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_sources,
           CAST(sum(share_micro * share_micro) AS BIGINT) AS hhi_pico,
           CAST(sum(ent_nano) AS BIGINT) AS shannon_nano,
           CAST(sum(CASE WHEN rk <= 4 THEN share_micro ELSE 0 END) AS BIGINT)
               AS top4_micro
    FROM sh)
SELECT n_sources,
       (round((hhi_pico / 1000000000000.0) * 1000000.0) / 1000000.0) AS hhi,
       (round((1000000000000.0 / hhi_pico) * 1000000.0) / 1000000.0)
           AS effective_n,
       (round((shannon_nano / 1000000000.0) * 1000000.0) / 1000000.0)
           AS shannon_entropy,
       (round((top4_micro / 1000000.0) * 1000000.0) / 1000000.0) AS cr4
FROM agg
""",
    description=(
        "Corpus concentration indices over source token shares: "
        "Herfindahl-Hirschman (sum of squared shares), effective "
        "source count 1/HHI, Shannon diversity, and the CR4 top-4 "
        "concentration ratio — the one-row dashboard that says whether "
        "a training mixture is dominated by a few sources (the "
        "practical companion to q_mixture_balance's target weights and "
        "q_source_kl_divergence's drift). Every term is quantized "
        "before summation (micro shares with round-half-up, squared to "
        "pico for HHI; nano entropy terms), so the cross-source folds "
        "are exact BIGINT sums with one final division each — no float "
        "summation order anywhere. One token aggregate per source is "
        "the only data-sized work."
    ),
    tags=("corpus", "extension", "curation"),
)
def q_concentration_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("tok")
    )
    tot = src.agg(F.sum("tok").cast("long").alias("t"))
    w = Window.orderBy(F.desc("tok"), F.asc("source"))
    sh = src.crossJoin(F.broadcast(tot)).select(
        "tok", "t",
        F.expr("CAST((2 * tok * 1000000 + t) div (2 * t) AS BIGINT)").alias(
            "share_micro"
        ),
        F.round(
            -F.log(F.col("tok") * F.lit(1.0) / F.col("t"))
            * (F.col("tok") * F.lit(1.0) / F.col("t"))
            * F.lit(1e9)
        ).cast("long").alias("ent_nano"),
        F.row_number().over(w).alias("rk"),
    )
    agg = sh.agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum(F.col("share_micro") * F.col("share_micro")).cast("long").alias(
            "hhi_pico"
        ),
        F.sum("ent_nano").cast("long").alias("shannon_nano"),
        F.sum(F.when(F.col("rk") <= 4, F.col("share_micro")).otherwise(0))
        .cast("long")
        .alias("top4_micro"),
    )
    return agg.select(
        "n_sources",
        stable_round(F.col("hhi_pico") / F.lit(1e12), 6).alias("hhi"),
        stable_round(F.lit(1e12) / F.col("hhi_pico"), 6).alias("effective_n"),
        stable_round(F.col("shannon_nano") / F.lit(1e9), 6).alias("shannon_entropy"),
        stable_round(F.col("top4_micro") / F.lit(1e6), 6).alias("cr4"),
    )


_MIX_ALPHAS = [3, 5, 7]  # temperature exponents, tenths


@register(
    "q_mixture_temperature",
    oracle=f"""
WITH src AS (
    SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok
    FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(tok) AS BIGINT) AS t FROM src),
alphas (alpha_tenths) AS (VALUES {", ".join(f"({a})" for a in _MIX_ALPHAS)}),
powed AS (
    SELECT a.alpha_tenths, s.source, s.tok,
           CAST(round(power(s.tok * 1.0 / tot.t, a.alpha_tenths / 10.0)
                      * 1000000000.0) AS BIGINT) AS p_nano
    FROM src s, tot, alphas a),
norm AS (
    SELECT alpha_tenths, CAST(sum(p_nano) AS BIGINT) AS z FROM powed
    GROUP BY alpha_tenths)
SELECT CAST(p.alpha_tenths AS BIGINT) AS alpha_tenths, p.source, p.tok AS n_tokens,
       (round((p.tok * 1.0 / tot.t) * 1000000.0) / 1000000.0) AS natural_share,
       (round((p.p_nano * 1.0 / n.z) * 1000000.0) / 1000000.0) AS sampled_share,
       CAST(round((p.p_nano * 1.0 / n.z) * 1000000.0)
            - round((p.tok * 1.0 / tot.t) * 1000000.0) AS BIGINT) AS boost_micro
FROM powed p JOIN norm n USING (alpha_tenths) CROSS JOIN tot
ORDER BY alpha_tenths, p.source
""",
    description=(
        "Temperature-scaled mixture sampling weights (the multilingual/"
        "multi-source LM standard, Conneau & Lample 2019): sampled "
        "share proportional to p_i^alpha for alpha in {0.3, 0.5, 0.7}, "
        "flattening the natural token distribution so long-tail "
        "sources are up-sampled without letting any one dominate — the "
        "knob between q_mixture_balance's explicit target weights and "
        "the raw natural mix. Each p_i^alpha is quantized to nano "
        "units per term, so normalization is an exact BIGINT fold per "
        "alpha and the boost_micro column (sampled minus natural, in "
        "micro-shares) is exact integer arithmetic. One token "
        "aggregate per source; the alpha grid never touches data."
    ),
    tags=("corpus", "extension", "curation"),
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("tok")
    )
    tot = src.agg(F.sum("tok").cast("long").alias("t"))
    alphas = local_frame(spark, [(a,) for a in _MIX_ALPHAS], "alpha_tenths long")
    powed = (
        src.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(alphas))
        .select(
            "alpha_tenths", "source", "tok", "t",
            F.round(
                F.pow(
                    F.col("tok") * F.lit(1.0) / F.col("t"),
                    F.col("alpha_tenths") / F.lit(10.0),
                )
                * F.lit(1e9)
            ).cast("long").alias("p_nano"),
        )
    )
    norm = powed.groupBy("alpha_tenths").agg(
        F.sum("p_nano").cast("long").alias("z")
    )
    nat = F.round((F.col("tok") * F.lit(1.0) / F.col("t")) * F.lit(1e6))
    samp = F.round((F.col("p_nano") * F.lit(1.0) / F.col("z")) * F.lit(1e6))
    return (
        powed.join(F.broadcast(norm), "alpha_tenths")
        .select(
            F.col("alpha_tenths").cast("long").alias("alpha_tenths"),
            "source",
            F.col("tok").alias("n_tokens"),
            stable_round(F.col("tok") * F.lit(1.0) / F.col("t"), 6).alias(
                "natural_share"
            ),
            stable_round(F.col("p_nano") * F.lit(1.0) / F.col("z"), 6).alias(
                "sampled_share"
            ),
            (samp - nat).cast("long").alias("boost_micro"),
        )
        .orderBy("alpha_tenths", "source")
    )


@register(
    "q_length_bucketing_audit",
    oracle="""
WITH toks AS (
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents),
stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS real_tok,
           CAST(max(n_tok) AS BIGINT) AS max_tok
    FROM toks),
pow2 AS (
    SELECT doc_id, n_tok,
           CAST(power(2, ceil(ln(greatest(n_tok, 1)) / ln(2))) AS BIGINT) AS b2
    FROM toks),
by_policy AS (
    SELECT 'a_no_bucketing' AS policy,
           CAST(count(DISTINCT 1) AS BIGINT) AS n_buckets,
           CAST(sum(s.max_tok) AS BIGINT) AS padded_tok
    FROM toks, stats s
    UNION ALL
    SELECT 'b_pow2_buckets',
           CAST(count(DISTINCT b2) AS BIGINT),
           CAST(sum(b2) AS BIGINT)
    FROM pow2
    UNION ALL
    SELECT 'c_exact_lengths',
           CAST(count(DISTINCT n_tok) AS BIGINT),
           CAST(sum(n_tok) AS BIGINT)
    FROM toks)
SELECT p.policy, p.n_buckets, s.real_tok, p.padded_tok,
       CAST(p.padded_tok - s.real_tok AS BIGINT) AS wasted_tok,
       (round((s.real_tok * 1.0 / p.padded_tok) * 1000000.0) / 1000000.0)
           AS efficiency
FROM by_policy p, stats s ORDER BY p.policy
""",
    description=(
        "Sequence-length bucketing audit for padded batching (the "
        "other packing regime next to q_chunk_size_audit's "
        "concat-then-split): exact padded-token cost of three "
        "policies — pad everything to the corpus max (one bucket), "
        "pad to the next power of two (log-many buckets, the standard "
        "bucketing compromise), and pad to exact lengths (max "
        "buckets, zero waste) — with bucket counts and compute "
        "efficiency for each. The table quantifies the "
        "padding-vs-batching-granularity tradeoff that decides a "
        "batcher's bucket boundaries. Two aggregates over doc token "
        "counts; pure integer arithmetic (power-of-two bucket via the "
        "exact ceil-log2, safe because n_tok's bin boundary cases are "
        "exact powers where ln(2^k)/ln(2) is exactly k in IEEE for "
        "the relevant range)."
    ),
    tags=("pipeline", "extension", "curation"),
)
def q_length_bucketing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.size(F.split("text", " ")).cast("long").alias("n_tok"))
    toks = toks.localCheckpoint(eager=True)
    stats = toks.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("real_tok"),
        F.max("n_tok").cast("long").alias("max_tok"),
    )
    b2 = F.pow(
        F.lit(2.0), F.ceil(F.log(F.greatest("n_tok", F.lit(1)) * F.lit(1.0)) / F.log(F.lit(2.0)))
    ).cast("long")
    pow2 = toks.select("n_tok", b2.alias("b2"))
    a = toks.crossJoin(F.broadcast(stats)).agg(
        F.lit("a_no_bucketing").alias("policy"),
        F.lit(1).cast("long").alias("n_buckets"),
        F.sum("max_tok").cast("long").alias("padded_tok"),
    )
    b = pow2.agg(
        F.lit("b_pow2_buckets").alias("policy"),
        F.count_distinct("b2").cast("long").alias("n_buckets"),
        F.sum("b2").cast("long").alias("padded_tok"),
    )
    c = toks.agg(
        F.lit("c_exact_lengths").alias("policy"),
        F.count_distinct("n_tok").cast("long").alias("n_buckets"),
        F.sum("n_tok").cast("long").alias("padded_tok"),
    )
    return (
        a.unionByName(b)
        .unionByName(c)
        .crossJoin(F.broadcast(stats.select("real_tok")))
        .select(
            "policy", "n_buckets", "real_tok", "padded_tok",
            (F.col("padded_tok") - F.col("real_tok")).cast("long").alias("wasted_tok"),
            stable_round(F.col("real_tok") * F.lit(1.0) / F.col("padded_tok"), 6).alias(
                "efficiency"
            ),
        )
        .orderBy("policy")
    )


def _curation_v2_oracle() -> str:
    """Composed pipeline: perplexity tertile gate (keep head+middle) ->
    exact prefix-filter dedup (drop each pair's doc_b) -> temperature
    alpha=0.5 mixture weights over the surviving corpus."""
    return f"""
WITH ptok AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pbig AS MATERIALIZED (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)), i -> t[i]))   AS w1,
           unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
    FROM ptok WHERE len(t) >= 2),
ptrainw AS (SELECT unnest(t) AS w FROM ptok WHERE doc_id % 2 = 0),
pvocab AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM ptrainw),
pc2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
        FROM pbig WHERE doc_id % 2 = 0 GROUP BY 1, 2),
pc1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS cc
        FROM pbig WHERE doc_id % 2 = 0 GROUP BY 1),
pscored AS (
    SELECT b.doc_id,
           CAST(round(-(ln((coalesce(pc2.cb, 0) + 1) * 1.0
                           / (coalesce(pc1.cc, 0) + pvocab.v))
                        / ln(2.0)) * 1000000000.0) AS BIGINT) AS qbits
    FROM pbig b
    LEFT JOIN pc2 ON b.w1 = pc2.w1 AND b.w2 = pc2.w2
    LEFT JOIN pc1 ON b.w1 = pc1.w1
    CROSS JOIN pvocab),
pper_doc AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS nb,
           CAST(sum(qbits) AS BIGINT) AS sq
    FROM pscored GROUP BY doc_id),
pranked AS (
    SELECT doc_id,
           ntile(3) OVER (ORDER BY sq // nb, doc_id) AS tertile
    FROM pper_doc),
kept1 AS MATERIALIZED (
    SELECT d.doc_id, d.text, d.source
    FROM documents d JOIN pranked r USING (doc_id) WHERE r.tertile <= 2),
{_prefix_filter_ctes("kept1")},
drops AS (SELECT DISTINCT doc_b AS doc_id FROM pf_pairs),
kept2 AS (
    SELECT k.doc_id, k.text, k.source FROM kept1 k
    WHERE k.doc_id NOT IN (SELECT doc_id FROM drops)),
bysrc AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs_kept,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok
    FROM kept2 GROUP BY source),
btot AS (SELECT CAST(sum(tok) AS BIGINT) AS t FROM bysrc),
bpow AS (
    SELECT source, n_docs_kept, tok,
           CAST(round(power(tok * 1.0 / btot.t, 0.5) * 1000000000.0) AS BIGINT)
               AS p_nano
    FROM bysrc, btot),
bz AS (SELECT CAST(sum(p_nano) AS BIGINT) AS z FROM bpow)
SELECT p.source, p.n_docs_kept, p.tok AS n_tokens_kept,
       (round((p.tok * 1.0 / btot.t) * 1000000.0) / 1000000.0) AS natural_share,
       (round((p.p_nano * 1.0 / bz.z) * 1000000.0) / 1000000.0) AS sampled_share
FROM bpow p, btot, bz
ORDER BY p.source
"""


@register(
    "q_curation_pipeline_v2",
    oracle=_curation_v2_oracle(),
    description=(
        "Second-generation curation capstone composing this round's "
        "operators as ONE lazy plan (the q_corpus_pipeline discipline "
        "over the new surface): held-out perplexity gate (bigram LM "
        "trained on even doc_ids, tail tertile dropped) -> EXACT "
        "prefix-filtered Jaccard dedup among survivors (doc_b of every "
        ">= 3/5 pair dropped via anti-join — no false negatives, so "
        "the keep-set is exactly reproducible) -> temperature "
        "alpha=0.5 mixture weights over the surviving per-source token "
        "mass. Output is the training-mixture manifest: kept docs and "
        "tokens per source with natural and temperature-flattened "
        "sampled shares. Every stage is the already-verified operator "
        "run over the previous stage's CTE (the oracles parameterize "
        "on the source relation), proving the ops COMPOSE — the "
        "property a real pipeline needs that per-op tests can't show."
    ),
    tags=("pipeline", "extension", "curation", "flagship"),
)
def q_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.dedup import prefix_filter_jaccard_pairs

    docs = spread(load_table(spark, sf_dir, "documents"))
    tiled = _ppl_tertiles(docs)
    # The perplexity-gate survivors feed the prefix-filter pipeline
    # (which references its shingle index from ~6 subtrees) plus the
    # drops anti-join. Sharing forms were measured this round
    # (interleaved code A/B + same-session reps, AB_RUNS.jsonl
    # r9opt-*): a lazy repartition-pinned exchange did NOT get
    # ReuseExchange across all consumers (8.9 s -> 22.9 s, the gate
    # re-ran per consumer), and persist() was far worse still (28-70 s:
    # the InMemoryRelation blocks AQE sharing inside the consumers).
    # The eager checkpoint stands: the gate is an expensive
    # multi-consumer stage boundary, and materializing it once is the
    # local equivalent of the staging table a real pipeline writes
    # here (guide §5; same adjudication as the dedup band-frame forms).
    kept1 = (
        docs.join(tiled.select("doc_id", "tertile"), "doc_id")
        .filter(F.col("tertile") <= 2)
        .select("doc_id", "text", "source")
        .localCheckpoint(eager=True)
    )
    pairs = prefix_filter_jaccard_pairs(kept1, t_num=3, t_den=5)
    drops = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    kept2 = kept1.join(drops, "doc_id", "left_anti")
    bysrc = kept2.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("tok"),
    )
    btot = bysrc.agg(F.sum("tok").cast("long").alias("t"))
    bpow = bysrc.crossJoin(F.broadcast(btot)).select(
        "source", "n_docs_kept", "tok", "t",
        F.round(F.pow(F.col("tok") * F.lit(1.0) / F.col("t"), F.lit(0.5)) * F.lit(1e9))
        .cast("long")
        .alias("p_nano"),
    )
    bz = bpow.agg(F.sum("p_nano").cast("long").alias("z"))
    return (
        bpow.crossJoin(F.broadcast(bz))
        .select(
            "source",
            "n_docs_kept",
            F.col("tok").alias("n_tokens_kept"),
            stable_round(F.col("tok") * F.lit(1.0) / F.col("t"), 6).alias(
                "natural_share"
            ),
            stable_round(F.col("p_nano") * F.lit(1.0) / F.col("z"), 6).alias(
                "sampled_share"
            ),
        )
        .orderBy("source")
    )


_SPLIT_SQL = (
    "CASE WHEN b >= 0 AND b < 800 THEN 'train' "
    "WHEN b >= 800 AND b < 900 THEN 'val' ELSE 'test' END"
)


@register(
    "q_split_leakage_audit",
    oracle=f"""
WITH {_prefix_filter_ctes("documents", 1, 2)},
assigned AS (
    SELECT doc_id, {_SPLIT_SQL} AS split FROM (
        SELECT doc_id,
               (('0x' || substring(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                % 2147483647) % 1000 AS b
        FROM documents)),
crossed AS (
    SELECT a.split AS split_a, b.split AS split_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pf_pairs p
    JOIN assigned a ON a.doc_id = p.doc_a
    JOIN assigned b ON b.doc_id = p.doc_b
    GROUP BY 1, 2),
tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS t FROM crossed)
SELECT c.split_a, c.split_b, c.n_pairs,
       (c.split_a <> c.split_b) AS is_leak,
       (round((c.n_pairs * 1.0 / tot.t) * 1000000.0) / 1000000.0) AS pair_share
FROM crossed c, tot ORDER BY c.split_a, c.split_b
""",
    description=(
        "Train/val/test near-dup LEAKAGE audit (the Lee et al. 2022 "
        "finding operationalized): every EXACT Jaccard >= 1/2 pair "
        "(prefix-filtered join — no false negatives, so 'no leaks "
        "found' actually means none exist at the threshold) is "
        "bucketed by the two documents' deterministic hash-split "
        "assignments; rows with split_a <> split_b are evaluation "
        "contamination — a val/test doc whose near-duplicate sits in "
        "train inflates held-out metrics. Composes q_hash_split's "
        "salted assignment (hash-stable across engines and "
        "partitionings) with the prefix-filter candidate path; the "
        "fix it motivates is cluster-aware splitting (assign whole "
        "q_dedup_clusters components to one split), which this audit "
        "then verifies as zero leak rows."
    ),
    tags=("pipeline", "extension", "curation", "eval"),
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.dedup import prefix_filter_jaccard_pairs
    from healthcare_etl_spark.operators.text_analysis import hash_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = prefix_filter_jaccard_pairs(docs, t_num=1, t_den=2).select(
        "doc_a", "doc_b"
    )
    assigned = hash_split(docs, key_col="doc_id").select("doc_id", "split")
    a = assigned.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    b = assigned.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    crossed = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    tot = crossed.agg(F.sum("n_pairs").cast("long").alias("t"))
    return (
        crossed.crossJoin(F.broadcast(tot))
        .select(
            "split_a", "split_b", "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("is_leak"),
            stable_round(F.col("n_pairs") * F.lit(1.0) / F.col("t"), 6).alias(
                "pair_share"
            ),
        )
        .orderBy("split_a", "split_b")
    )


# ---------------------------------------------------------------------------
# Harmonic centrality (round-6 continuation-5)


def _harmonic_oracle() -> str:
    from healthcare_etl_spark.plans.queries_dedup import _lsh_jpairs_ctes

    return f"""
WITH RECURSIVE {_lsh_jpairs_ctes()},
pairs AS (
    SELECT doc_a, doc_b FROM jpairs
    WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
),
bedges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
bnodes AS (SELECT DISTINCT src AS node FROM bedges),
seeds AS (
    SELECT node FROM bnodes
    WHERE (('0x' || substring(md5(CAST(node AS VARCHAR)), 1, 8))::BIGINT % 5) = 0
),
reach(seed, node, hops) AS (
    SELECT node, node, 0 FROM seeds
    UNION
    SELECT r.seed, e.dst, r.hops + 1
    FROM reach r JOIN bedges e ON e.src = r.node
    WHERE r.hops < 20
),
d AS (
    SELECT seed, node, CAST(min(hops) AS BIGINT) AS hops
    FROM reach GROUP BY 1, 2
)
SELECT seed AS doc_id,
       CAST(count(*) FILTER (WHERE hops > 0) AS BIGINT) AS n_reached,
       (coalesce(sum(CASE WHEN hops > 0
            THEN CAST(round(1000000.0 / hops) AS BIGINT) END), 0) / 1000000.0)
           AS harmonic
FROM d GROUP BY seed
"""


@register(
    "q_harmonic_centrality",
    oracle=_harmonic_oracle(),
    description=(
        "Harmonic centrality (sum of 1/distance over reachable nodes — "
        "the closeness variant that stays well-defined on DISCONNECTED "
        "graphs, Boldi & Vigna 2014) for a hash-chosen probe set over "
        "the near-dup graph: all probes run as ONE multi-source BFS "
        "with state keyed by (seed, node) — k centrality probes cost "
        "one frontier pipeline, each (seed, node) expanded exactly once "
        "(per-round anti-join), edges checkpointed once. Per-node "
        "reciprocal distances are quantized to 1e-6 BIGINTs before the "
        "order-free integer sum. Complements q_pagerank (eigenvector "
        "family) and q_degree_distribution (local) with a true "
        "distance-based centrality; the sampled-probe form IS the scale "
        "path (exact all-nodes closeness is O(nm) — at 100 TB you "
        "always estimate from a probe sample)."
    ),
    tags=("graph", "extension", "iterative", "parity"),
)
def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.dedup import minhash_lsh_pairs
    from healthcare_etl_spark.operators.graph import bfs_hops_per_seed

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    # seed_filter (not a seeds frame built from `pairs`): the probe set
    # derives from the CHECKPOINTED edge set inside the BFS, so the LSH
    # pair pipeline executes once, not twice (r9: 1.4x end-to-end).
    d = bfs_hops_per_seed(
        pairs,
        seed_filter=lambda node: (
            F.conv(F.substring(F.md5(node.cast("string")), 1, 8), 16, 10).cast("long")
            % 5
        )
        == 0,
    )
    term = F.when(
        F.col("hops") > 0, F.round(F.lit(1000000.0) / F.col("hops")).cast("long")
    )
    return d.groupBy(F.col("seed").alias("doc_id")).agg(
        F.sum(F.when(F.col("hops") > 0, 1).otherwise(0)).cast("long").alias("n_reached"),
        (F.coalesce(F.sum(term), F.lit(0)) / 1000000.0).alias("harmonic"),
    )


# ---------------------------------------------------------------------------
# ChiMerge supervised discretization (round-6 continuation-5)

_CHIMERGE_START = 16
_CHIMERGE_ROUNDS = 8  # 16 -> 8 bins


def _chimerge_chi_sql(a: str, b: str) -> str:
    """Textually-mirrored 2x2 chi-square between adjacent bins; zero
    when a class column is empty in both bins (degenerate pair merges
    first, the published ChiMerge convention)."""
    n1, n2 = f"({a}.g + {a}.b)", f"({b}.g + {b}.b)"
    cg, cb = f"({a}.g + {b}.g)", f"({a}.b + {b}.b)"
    nn = f"({n1} + {n2})"
    cells = []
    for side, cls, col in ((a, "g", cg), (a, "b", cb), (b, "g", cg), (b, "b", cb)):
        nrow = f"({side}.g + {side}.b)"
        e = f"({nrow} * 1.0 * {col} / {nn})"
        o = f"{side}.{cls}"
        cells.append(f"(({o} - {e}) * ({o} - {e}) / {e})")
    total = " + ".join(cells)
    return (
        f"(round((CASE WHEN {cg} = 0 OR {cb} = 0 THEN 0.0 ELSE {total} END)"
        " * 1000000.0) / 1000000.0)"
    )


def _chimerge_oracle() -> str:
    chi = _chimerge_chi_sql("a", "b")
    rounds = []
    for k in range(1, _CHIMERGE_ROUNDS + 1):
        prev = f"bins{k-1}"
        rounds.append(
            f""",
chi{k} AS (
    SELECT a.id AS m, {chi} AS chi
    FROM {prev} a JOIN {prev} b ON b.id = a.id + 1
),
best{k} AS (SELECT m FROM chi{k} ORDER BY chi ASC, m ASC LIMIT 1),
bins{k} AS MATERIALIZED (
    SELECT CASE WHEN id <= bm.m THEN id ELSE id - 1 END AS id,
           CAST(sum(g) AS BIGINT) AS g, CAST(sum(b) AS BIGINT) AS b,
           min(lo) AS lo, max(hi) AS hi
    FROM {prev} CROSS JOIN best{k} bm
    GROUP BY 1
)"""
        )
    last = f"bins{_CHIMERGE_ROUNDS}"
    return f"""
WITH u AS MATERIALIZED (
    SELECT user_id, CAST(count(*) AS BIGINT) AS x,
           CASE WHEN coalesce(sum(CASE WHEN event_type = 'purchase'
                     THEN CAST(round(value * 100) AS BIGINT) END), 0)
                     > {_WOE_THRESH}
                THEN 1 ELSE 0 END AS good
    FROM events GROUP BY user_id
),
tiled AS (
    SELECT x, good,
           CAST(ntile({_CHIMERGE_START}) OVER (ORDER BY x, user_id) AS BIGINT)
               AS id
    FROM u
),
bins0 AS MATERIALIZED (
    SELECT id, CAST(sum(good) AS BIGINT) AS g,
           CAST(count(*) - sum(good) AS BIGINT) AS b,
           CAST(min(x) AS BIGINT) AS lo, CAST(max(x) AS BIGINT) AS hi
    FROM tiled GROUP BY id
){''.join(rounds)}
SELECT id AS bin, lo AS lo_x, hi AS hi_x,
       (g + b) AS n_users, g AS goods, b AS bads,
       (round((g * 1.0 / (g + b)) * 1000000.0) / 1000000.0) AS good_rate
FROM {last}
ORDER BY id
"""


@register(
    "q_chimerge_binning",
    oracle=_chimerge_oracle(),
    description=(
        "ChiMerge supervised discretization (Kerber 1992): the per-user "
        "activity feature starts in 16 equal-frequency bins and the "
        "adjacent pair with the SMALLEST 2x2 chi-square (most similar "
        "class mix; degenerate pairs merge first) merges each round, "
        "8 unrolled rounds down to 8 bins — the label-aware alternative "
        "to q_woe_iv_encoding's fixed deciles and q_fd_histogram's "
        "unsupervised widths, producing the monotone-rate bins a credit "
        "scorecard wants. Initial tiling is the bucketed_rank + "
        "closed-form ntile carry (no global sort); every merge round "
        "then runs on the <=16-row bin summary (broadcast argmin, "
        "checkpointed per round). Oracle unrolls all 8 rounds as "
        "MATERIALIZED CTEs with a textually-mirrored chi expression."
    ),
    tags=("mlops", "extension", "iterative", "scale-pattern"),
)
def q_chimerge_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.scale import bucketed_rank, ntile_from_rank

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.when(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.round(F.col("value") * 100).cast("long"),
                    )
                ),
                F.lit(0),
            )
            > _WOE_THRESH,
            1,
        )
        .otherwise(0)
        .alias("good"),
    )
    ranked = bucketed_rank(
        u, buckets=[F.col("x")], order_by=[F.col("x"), F.col("user_id")], out_col="rn"
    )
    nrow = u.agg(F.count(F.lit(1)).cast("long").alias("nu"))
    tiled = ranked.crossJoin(F.broadcast(nrow)).select(
        "x",
        "good",
        ntile_from_rank(F.col("rn"), F.col("nu"), _CHIMERGE_START).alias("id"),
    )
    bins = (
        tiled.groupBy("id")
        .agg(
            F.sum("good").cast("long").alias("g"),
            (F.count(F.lit(1)) - F.sum("good")).cast("long").alias("b"),
            F.min("x").cast("long").alias("lo"),
            F.max("x").cast("long").alias("hi"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(_CHIMERGE_ROUNDS):
        a = bins.alias("a")
        b = bins.alias("b")
        n1 = F.col("a.g") + F.col("a.b")
        n2 = F.col("b.g") + F.col("b.b")
        cg = F.col("a.g") + F.col("b.g")
        cb = F.col("a.b") + F.col("b.b")
        nn = n1 + n2
        total = None
        for side, cls, col in (("a", "g", cg), ("a", "b", cb), ("b", "g", cg), ("b", "b", cb)):
            nrow_ = F.col(f"{side}.g") + F.col(f"{side}.b")
            e = nrow_ * 1.0 * col / nn
            o = F.col(f"{side}.{cls}")
            cell = (o - e) * (o - e) / e
            total = cell if total is None else total + cell
        chi = F.round(
            F.when((cg == 0) | (cb == 0), F.lit(0.0)).otherwise(total) * 1000000.0
        ) / 1000000.0
        pairs = a.join(b, F.col("b.id") == F.col("a.id") + 1).select(
            F.col("a.id").alias("m"), chi.alias("chi")
        )
        best = pairs.orderBy(F.asc("chi"), F.asc("m")).limit(1).select("m")
        bins = (
            bins.crossJoin(F.broadcast(best))
            .groupBy(
                F.when(F.col("id") <= F.col("m"), F.col("id"))
                .otherwise(F.col("id") - 1)
                .alias("id")
            )
            .agg(
                F.sum("g").cast("long").alias("g"),
                F.sum("b").cast("long").alias("b"),
                F.min("lo").alias("lo"),
                F.max("hi").alias("hi"),
            )
            .localCheckpoint(eager=True)
        )
    return bins.select(
        F.col("id").alias("bin"),
        F.col("lo").alias("lo_x"),
        F.col("hi").alias("hi_x"),
        (F.col("g") + F.col("b")).cast("long").alias("n_users"),
        F.col("g").alias("goods"),
        F.col("b").alias("bads"),
        stable_round(F.col("g") * 1.0 / (F.col("g") + F.col("b")), 6).alias(
            "good_rate"
        ),
    ).orderBy("bin")


_QSK_BINS = 128
_QSK_W = 4.0  # bin width: value in [0, 512) by fixture construction
_QSK_QS = [(1, 2), (9, 10), (99, 100)]  # quantiles as exact rationals


def _qsketch_oracle() -> str:
    qs_rows = ", ".join(f"({num}, {den})" for num, den in _QSK_QS)
    return f"""
WITH ev AS (
    SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
           CAST(least(floor(value / {_QSK_W}), {_QSK_BINS - 1}) AS BIGINT) AS bin
    FROM events
),
hist AS (
    SELECT day AS grp, bin, CAST(count(*) AS BIGINT) AS n
    FROM ev GROUP BY 1, 2
),
allh AS (
    SELECT CAST(-1 AS BIGINT) AS grp, bin, CAST(sum(n) AS BIGINT) AS n
    FROM hist GROUP BY 2
),
h AS (SELECT * FROM hist UNION ALL SELECT * FROM allh),
cum AS (
    SELECT grp, bin, n,
           CAST(sum(n) OVER (PARTITION BY grp ORDER BY bin) AS BIGINT) AS cum,
           CAST(sum(n) OVER (PARTITION BY grp) AS BIGINT) AS nt
    FROM h
),
qs AS (SELECT * FROM (VALUES {qs_rows}) t(qn, qd)),
tgt AS (
    SELECT c.*, q.qn, q.qd,
           CAST((c.nt * q.qn + q.qd - 1) // q.qd AS BIGINT) AS target
    FROM cum c CROSS JOIN qs q
),
pick AS (
    SELECT grp, qn, qd, nt, bin, n, cum, target,
           row_number() OVER (PARTITION BY grp, qn, qd ORDER BY bin) AS rn
    FROM tgt WHERE cum >= target
)
SELECT grp,
       (round((qn * 1.0 / qd) * 1000000.0) / 1000000.0) AS q,
       nt AS n,
       (round((bin * {_QSK_W} + {_QSK_W} * ((target - (cum - n)) * 1.0 / n))
              * 1000000.0) / 1000000.0) AS est
FROM pick WHERE rn = 1
ORDER BY 1, 2
"""


@register(
    "q_quantile_sketch_merge",
    oracle=_qsketch_oracle(),
    description=(
        "Mergeable fixed-bin histogram quantile sketch — the quantile "
        "member of the sketch family next to HLL (distinct), KMV "
        "(distinct/join-size), CMS (frequency), and Bloom (membership): "
        "per-day 128-bin equi-width histograms of events.value, merged "
        "by plain addition into a period sketch (grp = -1 — additivity "
        "IS the mergeability, same rollup contract as "
        "q_hll_register_sketch), then p50/p90/p99 read off each sketch "
        "by cumulative-count bin location + linear interpolation. "
        "Every arithmetic step is exact-integer until one final "
        "double interpolation (targets are ceil(N*num/den) computed "
        "with integer division), so the estimate is order-independent "
        "and hash-stable. Error is bounded by one bin width (4.0) by "
        "construction — unit-tested against exact percentiles. The "
        "histogram is one partial-agg pass (map-side combinable — the "
        "100 TB shape); cumulative sums ride per-grp windows bounded "
        "by the 128-bin domain, never data rows."
    ),
    tags=("agg", "extension", "sketch", "scale-pattern"),
)
def q_quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    binned = ev.select(
        F.unix_date(F.col("ts").cast("date")).cast("long").alias("day"),
        F.least(
            F.floor(F.col("value") / _QSK_W), F.lit(_QSK_BINS - 1)
        ).cast("long").alias("bin"),
    )
    hist = binned.groupBy(F.col("day").alias("grp"), "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    merged = hist.groupBy("bin").agg(F.sum("n").cast("long").alias("n")).select(
        F.lit(-1).cast("long").alias("grp"), "bin", "n"
    )
    h = hist.unionByName(merged)
    w_cum = Window.partitionBy("grp").orderBy("bin")
    w_tot = Window.partitionBy("grp")
    cum = h.select(
        "grp",
        "bin",
        "n",
        F.sum("n").over(w_cum).cast("long").alias("cum"),
        F.sum("n").over(w_tot).cast("long").alias("nt"),
    )
    qs = local_frame(spark, _QSK_QS, "qn long, qd long")
    tgt = cum.crossJoin(F.broadcast(qs)).withColumn(
        # integer ceil-division via `div` (exact at any corpus size; a
        # double `/` would be exact only below 2^53)
        "target",
        F.expr("(nt * qn + qd - 1) div qd").cast("long"),
    )
    w_pick = Window.partitionBy("grp", "qn", "qd").orderBy("bin")
    pick = (
        tgt.filter(F.col("cum") >= F.col("target"))
        .withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
    )
    est = F.col("bin") * F.lit(_QSK_W) + F.lit(_QSK_W) * (
        (F.col("target") - (F.col("cum") - F.col("n"))) * F.lit(1.0) / F.col("n")
    )
    return pick.select(
        "grp",
        stable_round(F.col("qn") * F.lit(1.0) / F.col("qd"), 6).alias("q"),
        F.col("nt").alias("n"),
        stable_round(est, 6).alias("est"),
    ).orderBy("grp", "q")


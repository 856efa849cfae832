"""Second time-series / econometrics extension module: spectral period
detection (periodogram at fixed candidate periods), binary-segmentation
changepoint search, Croston's intermittent-demand method (exact dyadic
SES), one-way fixed-effects panel OLS, and an event-study (dynamic
diff-in-means around a treatment date).

Extension surface beyond the reference (`etl_app/etl_script.py:74-119`).
Determinism contracts: trig factors are computed ONCE in Python and
inlined as identical literals on both engines (the LSH-plane /
IVF-centroid precedent — no cross-libm cos/sin drift); per-term float
products are quantized to integer units before any cross-engine sum;
SES smoothing uses alpha = 1/2 so every weight is an exact power of
two (dyadic rationals fold exactly in binary doubles). Day-series
windows ride bounded daily frames (the vetted allowlist class).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import stable_round
from healthcare_etl_spark.plans.queries_stats2 import _ARM_A_SQL
from healthcare_etl_spark.plans.queries_stats3 import _DEC
from healthcare_etl_spark.plans.registry import register
from healthcare_etl_spark.sources import load_table, local_frame

# ---------------------------------------------------------------------------
# q_periodogram

_PGRID_DAYS = 30  # events fixture spans 2024-01-01 .. 2024-01-30
_PGRID_EPOCH = "2024-01-01"
_PERIODS = tuple(range(2, 11))


def _trig_factors() -> list[tuple[int, int, float, float]]:
    """(period, t, cos, sin) literals, 12dp-quantized — generated once
    in Python so both engines consume byte-identical constants."""
    out = []
    for p in _PERIODS:
        for t in range(_PGRID_DAYS):
            ang = 2.0 * math.pi * t / p
            out.append(
                (p, t, round(math.cos(ang), 12), round(math.sin(ang), 12))
            )
    return out


_FACTORS = _trig_factors()
_FACTORS_SQL = ",\n".join(
    f"({p}, {t}, {c!r}, {s!r})" for p, t, c, s in _FACTORS
)


@register(
    "q_periodogram",
    oracle=f"""
WITH grid AS (
    SELECT unnest(range(0, {_PGRID_DAYS})) AS t
),
daily AS (
    SELECT CAST(date_diff('day', DATE '{_PGRID_EPOCH}', CAST(ts AS DATE))
                AS BIGINT) AS t,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
    FROM events GROUP BY 1
),
series AS (
    SELECT g.t, coalesce(d.y, 0) AS y
    FROM grid g LEFT JOIN daily d ON g.t = d.t
),
mu AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy
    FROM series
),
dev AS (
    SELECT s.t, (s.y - CAST(m.sy AS DOUBLE) / m.n) AS d, m.n
    FROM series s CROSS JOIN mu m
),
fac(period, t, c, s) AS (VALUES
{_FACTORS_SQL}
),
terms AS (
    SELECT f.period,
           CAST(round(v.d * f.c * 1000000.0) AS BIGINT) AS ct,
           CAST(round(v.d * f.s * 1000000.0) AS BIGINT) AS st,
           v.n
    FROM fac f JOIN dev v ON f.t = v.t
),
pw AS (
    SELECT period, any_value(n) AS n,
           (CAST(sum(ct) AS DOUBLE) / 1000000.0) AS cc,
           (CAST(sum(st) AS DOUBLE) / 1000000.0) AS ss
    FROM terms GROUP BY 1
),
p2 AS (
    SELECT CAST(period AS BIGINT) AS period,
           ((cc * cc + ss * ss) / n) AS power_raw
    FROM pw
),
tot AS (SELECT sum(power_raw) AS total FROM p2)
SELECT p2.period,
       (round(p2.power_raw * 1000000.0) / 1000000.0) AS power,
       (round((p2.power_raw / t.total) * 1000000.0) / 1000000.0) AS power_share
FROM p2 CROSS JOIN tot t
ORDER BY p2.period
""",
    description=(
        "Periodogram at candidate periods 2..10 days over the 0-filled "
        "daily revenue series: power(P) = (C^2 + S^2)/n with C, S the "
        "demeaned series' projections onto cos/sin at frequency 1/P — "
        "the seasonality DETECTOR that justifies q_holt_winters' and "
        "q_seasonal_anomaly's assumed weekly period instead of taking "
        "it on faith. The trig factor table (9 periods x 30 days) is "
        "generated once in Python and inlined as identical literals on "
        "both engines (the inlined-LSH-plane precedent — no cross-libm "
        "cos drift); each projection term is quantized to a micro-unit "
        "BIGINT so the fold is exact integer addition. The data-scale "
        "work is one grouped day-aggregation; everything after is a "
        "270-row broadcast join."
    ),
    tags=("timeseries", "extension", "parity"),
)
def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit(_PGRID_EPOCH).cast("date"))
        .cast("long")
        .alias("t")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("y")
    )
    grid = spark.range(0, _PGRID_DAYS).select(F.col("id").cast("long").alias("t"))
    series = grid.join(daily, "t", "left").select(
        "t", F.coalesce("y", F.lit(0)).alias("y")
    )
    mu = series.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
    )
    dev = series.crossJoin(F.broadcast(mu)).select(
        "t", (F.col("y") - F.col("sy").cast("double") / F.col("n")).alias("d"), "n"
    )
    fac = local_frame(spark, _FACTORS, "period int, t long, c double, s double")
    terms = F.broadcast(fac).join(dev, "t").select(
        "period",
        F.round(F.col("d") * F.col("c") * 1000000.0).cast("long").alias("ct"),
        F.round(F.col("d") * F.col("s") * 1000000.0).cast("long").alias("st"),
        "n",
    )
    pw = terms.groupBy("period").agg(
        F.first("n").alias("n"),
        (F.sum("ct").cast("double") / 1000000.0).alias("cc"),
        (F.sum("st").cast("double") / 1000000.0).alias("ss"),
    )
    p2 = pw.select(
        F.col("period").cast("long").alias("period"),
        ((F.col("cc") * F.col("cc") + F.col("ss") * F.col("ss")) / F.col("n")).alias(
            "power_raw"
        ),
    )
    tot = p2.agg(F.sum("power_raw").alias("total"))
    return (
        p2.crossJoin(F.broadcast(tot))
        .select(
            "period",
            stable_round(F.col("power_raw"), 6).alias("power"),
            stable_round(F.col("power_raw") / F.col("total"), 6).alias("power_share"),
        )
        .orderBy("period")
    )


# ---------------------------------------------------------------------------
# q_binary_segmentation

_BSEG_MIN_SEG = 5


@register(
    "q_binary_segmentation",
    oracle=f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
    FROM orders GROUP BY 1
),
pre AS (
    SELECT day, y,
           CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
           CAST(sum(y) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cy,
           sum(CAST(y AS HUGEINT) * y) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cyy
    FROM daily
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
           sum(CAST(y AS HUGEINT) * y) AS syy
    FROM daily
),
cand AS (
    SELECT p.day, p.i AS n_left, (t.n - p.i) AS n_right,
           (CAST(p.cyy AS DOUBLE) - CAST(CAST(p.cy AS HUGEINT) * p.cy AS DOUBLE) / p.i)
             + (CAST(t.syy - p.cyy AS DOUBLE)
                - CAST(CAST(t.sy - p.cy AS HUGEINT) * (t.sy - p.cy) AS DOUBLE)
                  / (t.n - p.i)) AS sse_split,
           (CAST(t.syy AS DOUBLE)
              - CAST(CAST(t.sy AS HUGEINT) * t.sy AS DOUBLE) / t.n) AS sse_total,
           (CAST(p.cy AS DOUBLE) / p.i) AS mean_left_raw,
           (CAST(t.sy - p.cy AS DOUBLE) / (t.n - p.i)) AS mean_right_raw
    FROM pre p CROSS JOIN tot t
    WHERE p.i >= {_BSEG_MIN_SEG} AND t.n - p.i >= {_BSEG_MIN_SEG}
)
SELECT strftime(day, '%Y-%m-%d') AS split_day, n_left, n_right,
       (round(mean_left_raw * 1000000.0) / 1000000.0) AS mean_left,
       (round(mean_right_raw * 1000000.0) / 1000000.0) AS mean_right,
       (round(sse_split * 1.0) / 1.0) AS sse_split,
       (round(((sse_total - sse_split) / sse_total) * 1000000.0) / 1000000.0)
           AS sse_drop_ratio
FROM cand
ORDER BY sse_split ASC, day ASC
LIMIT 1
""",
    description=(
        "Binary-segmentation changepoint search over the daily revenue "
        "series: for every candidate split day, the two-segment SSE "
        "from exact cumulative moments (BIGINT cents, HUGEINT/"
        "DECIMAL(38) squares; SSE via the closed-form n*Syy - Sy^2 "
        "identity), minimized with a min-{_BSEG_MIN_SEG}-day segment "
        "guard. The data-driven companion to q_chow_test's FIXED break "
        "date and the offline analog of q_cusum_changepoint's online "
        "detector. Data-scale work is one grouped day-aggregation; the "
        "prefix windows and the argmin (TakeOrdered limit 1) ride the "
        "bounded day series."
    ),
    tags=("timeseries", "extension", "parity"),
)
def q_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("y")
        )
    )
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = daily.select(
        "day",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("i"),
        F.sum("y").over(wc).cast("long").alias("cy"),
        F.sum(F.col("y").cast(_DEC) * F.col("y").cast(_DEC)).over(wc).alias("cyy"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y").cast(_DEC) * F.col("y").cast(_DEC)).alias("syy"),
    )
    c = pre.crossJoin(F.broadcast(tot)).filter(
        (F.col("i") >= _BSEG_MIN_SEG) & (F.col("n") - F.col("i") >= _BSEG_MIN_SEG)
    )
    i, n = F.col("i"), F.col("n")
    cy, cyy = F.col("cy"), F.col("cyy")
    sy, syy = F.col("sy"), F.col("syy")
    sse_l = cyy.cast("double") - (cy.cast(_DEC) * cy.cast(_DEC)).cast("double") / i
    ry = sy - cy
    sse_r = (syy - cyy).cast("double") - (
        ry.cast(_DEC) * ry.cast(_DEC)
    ).cast("double") / (n - i)
    sse_t = syy.cast("double") - (sy.cast(_DEC) * sy.cast(_DEC)).cast("double") / n
    cand = c.select(
        "day",
        i.alias("n_left"),
        (n - i).alias("n_right"),
        (sse_l + sse_r).alias("sse_split_raw"),
        sse_t.alias("sse_total_raw"),
        (cy.cast("double") / i).alias("mean_left_raw"),
        (ry.cast("double") / (n - i)).alias("mean_right_raw"),
    )
    return (
        cand.orderBy(F.asc("sse_split_raw"), F.asc("day"))
        .limit(1)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("split_day"),
            "n_left",
            "n_right",
            stable_round(F.col("mean_left_raw"), 6).alias("mean_left"),
            stable_round(F.col("mean_right_raw"), 6).alias("mean_right"),
            stable_round(F.col("sse_split_raw"), 0).alias("sse_split"),
            stable_round(
                (F.col("sse_total_raw") - F.col("sse_split_raw"))
                / F.col("sse_total_raw"),
                6,
            ).alias("sse_drop_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# q_croston

_CROSTON_THRESHOLD = 190.0


@register(
    "q_croston",
    oracle=f"""
WITH demand AS (
    SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS d
    FROM events
    WHERE event_type = 'purchase' AND value > {_CROSTON_THRESHOLD}
    GROUP BY 1
),
idx AS (
    SELECT day, d,
           CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
           CAST(date_diff('day',
                lag(day) OVER (ORDER BY day), day) AS BIGINT) AS gap
    FROM demand
),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM demand),
zt AS (
    SELECT sum(
        d * (CASE WHEN i = 1 THEN 1.0 / (1::BIGINT << CAST(mm.m - 1 AS INTEGER))
                  ELSE 1.0 / (1::BIGINT << CAST(mm.m - i + 1 AS INTEGER)) END)
    ) AS z
    FROM idx CROSS JOIN m mm
),
qt AS (
    SELECT sum(
        gap * (CASE WHEN i = 2 THEN 1.0 / (1::BIGINT << CAST(mm.m - 2 AS INTEGER))
                    ELSE 1.0 / (1::BIGINT << CAST(mm.m - i + 1 AS INTEGER)) END)
    ) AS q
    FROM idx CROSS JOIN m mm
    WHERE i >= 2
)
SELECT mm.m AS n_demand_days,
       (round(z.z * 1000000.0) / 1000000.0) AS smoothed_demand,
       (round(q.q * 1000000.0) / 1000000.0) AS smoothed_interval,
       (round((z.z / q.q) * 1000000.0) / 1000000.0) AS forecast_per_day,
       (round((mm.m / 30.0) * 1000000.0) / 1000000.0) AS demand_day_rate
FROM m mm CROSS JOIN zt z CROSS JOIN qt q
""",
    description=(
        "Croston's method for intermittent demand over the sparse "
        f"high-value-purchase series (value > {_CROSTON_THRESHOLD}): "
        "separate exponential smoothing of nonzero demand sizes and of "
        "inter-demand intervals, forecast = z/q. Uses alpha = 1/2 so "
        "every SES weight is an exact power of two — the dyadic terms "
        "fold exactly in binary doubles on both engines (no libm pow, "
        "no recursion; the closed-form weight of observation i in an "
        "m-step SES chain is 2^-(m-i+1), first observation 2^-(m-1)). "
        "Data-scale work is one filtered day-aggregation; the SES folds "
        "ride the bounded nonzero-day series (<=30 rows)."
    ),
    tags=("timeseries", "forecasting", "extension", "parity"),
)
def q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    demand = (
        load_table(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("value") > _CROSTON_THRESHOLD)
        )
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    wd = Window.orderBy("day")
    idx = demand.select(
        "day",
        "d",
        F.row_number().over(wd).cast("long").alias("i"),
        F.datediff(F.col("day"), F.lag("day").over(wd)).cast("long").alias("gap"),
    )
    m = demand.agg(F.count(F.lit(1)).cast("long").alias("m"))
    withm = idx.crossJoin(F.broadcast(m))
    # shiftleft with a COLUMN bit count needs the SQL form (the PySpark
    # wrapper only takes a literal int)
    zw = F.when(
        F.col("i") == 1,
        F.lit(1.0) / F.expr("shiftleft(1L, cast(m - 1 as int))"),
    ).otherwise(
        F.lit(1.0) / F.expr("shiftleft(1L, cast(m - i + 1 as int))")
    )
    zt = withm.agg(F.sum(F.col("d") * zw).alias("z"))
    qw = F.when(
        F.col("i") == 2,
        F.lit(1.0) / F.expr("shiftleft(1L, cast(m - 2 as int))"),
    ).otherwise(
        F.lit(1.0) / F.expr("shiftleft(1L, cast(m - i + 1 as int))")
    )
    qt = withm.filter(F.col("i") >= 2).agg(F.sum(F.col("gap") * qw).alias("q"))
    return (
        m.crossJoin(F.broadcast(zt))
        .crossJoin(F.broadcast(qt))
        .select(
            F.col("m").alias("n_demand_days"),
            stable_round(F.col("z"), 6).alias("smoothed_demand"),
            stable_round(F.col("q"), 6).alias("smoothed_interval"),
            stable_round(F.col("z") / F.col("q"), 6).alias("forecast_per_day"),
            stable_round(F.col("m") / 30.0, 6).alias("demand_day_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q_fixed_effects_panel

_FE_BUCKETS = 64


@register(
    "q_fixed_effects_panel",
    oracle=f"""
WITH cells AS (
    SELECT (user_id % {_FE_BUCKETS}) AS u, CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS x,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
    FROM events GROUP BY 1, 2
),
per_u AS (
    SELECT u, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           sum(CAST(x AS HUGEINT) * y) AS sxy,
           sum(CAST(y AS HUGEINT) * y) AS syy
    FROM cells GROUP BY 1
),
qk AS (
    SELECT u, n,
           CAST(round(CAST(CAST(n AS HUGEINT) * sxy
                           - CAST(sx AS HUGEINT) * sy AS DOUBLE) / n) AS BIGINT)
               AS a_q,
           CAST(round(CAST(CAST(n AS HUGEINT) * sxx
                           - CAST(sx AS HUGEINT) * sx AS DOUBLE) / n) AS BIGINT)
               AS b_q,
           CAST(round(CAST(CAST(n AS HUGEINT) * syy
                           - CAST(sy AS HUGEINT) * sy AS DOUBLE) / n) AS BIGINT)
               AS c_q
    FROM per_u
),
tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS n_cells,
           CAST(count(*) AS BIGINT) AS n_entities,
           CAST(sum(a_q) AS BIGINT) AS sa,
           CAST(sum(b_q) AS BIGINT) AS sb,
           sum(CAST(c_q AS HUGEINT)) AS sc
    FROM qk
)
SELECT n_cells, n_entities,
       (round((sa * 1.0 / sb) * 1000000.0) / 1000000.0) AS fe_slope,
       (round(((sa * 1.0 / sb) * sa / CAST(sc AS DOUBLE)) * 1000000.0)
        / 1000000.0) AS within_r2
FROM tot
""",
    description=(
        "One-way fixed-effects panel OLS on the (user-bucket x day) "
        "panel: daily revenue regressed on daily activity with per-"
        "bucket intercepts absorbed by within-entity demeaning. The "
        "within estimator decomposes over entities: slope = "
        "sum_u[(n_u*Sxy_u - Sx_u*Sy_u)/n_u] / sum_u[(n_u*Sxx_u - "
        "Sx_u^2)/n_u] — per-entity EXACT integer moments, each entity's "
        "rational correction quantized to a BIGINT unit, then one exact "
        "global fold (deterministic regardless of summation order). "
        "Within-R^2 from the same identities. The causal-inference "
        "cousin of q_grouped_ols that controls for stable per-entity "
        "level differences. Fully distributed: two grouped aggregates, "
        "no windows."
    ),
    tags=("stats", "econometrics", "extension", "parity"),
)
def q_fixed_effects_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            (F.col("user_id") % _FE_BUCKETS).alias("u"),
            F.to_date("ts").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("y"),
        )
    )
    per_u = cells.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x").cast(_DEC) * F.col("y").cast(_DEC)).alias("sxy"),
        F.sum(F.col("y").cast(_DEC) * F.col("y").cast(_DEC)).alias("syy"),
    )
    n = F.col("n")
    nd = n.cast(_DEC)
    a_q = F.round(
        (nd * F.col("sxy") - F.col("sx").cast(_DEC) * F.col("sy").cast(_DEC)).cast(
            "double"
        )
        / n
    ).cast("long")
    b_q = F.round(
        (nd * F.col("sxx").cast(_DEC) - F.col("sx").cast(_DEC) * F.col("sx").cast(_DEC)).cast(
            "double"
        )
        / n
    ).cast("long")
    c_q = F.round(
        (nd * F.col("syy") - F.col("sy").cast(_DEC) * F.col("sy").cast(_DEC)).cast(
            "double"
        )
        / n
    ).cast("long")
    qk = per_u.select("u", "n", a_q.alias("a_q"), b_q.alias("b_q"), c_q.alias("c_q"))
    tot = qk.agg(
        F.sum("n").cast("long").alias("n_cells"),
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        F.sum("a_q").cast("long").alias("sa"),
        F.sum("b_q").cast("long").alias("sb"),
        F.sum(F.col("c_q").cast(_DEC)).alias("sc"),
    )
    slope = F.col("sa") * 1.0 / F.col("sb")
    return tot.select(
        "n_cells",
        "n_entities",
        stable_round(slope, 6).alias("fe_slope"),
        stable_round(slope * F.col("sa") / F.col("sc").cast("double"), 6).alias(
            "within_r2"
        ),
    )


# ---------------------------------------------------------------------------
# q_event_study

_ES_TREAT_DATE = "2024-01-15"


def _es_arm_col():
    return (
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


@register(
    "q_event_study",
    oracle=f"""
WITH pts AS (
    SELECT CAST(floor(date_diff('day', DATE '{_ES_TREAT_DATE}', CAST(ts AS DATE))
                      / 7.0) AS BIGINT) AS rel_week,
           {_ARM_A_SQL} AS treated,
           CAST(round(value * 100) AS BIGINT) AS v
    FROM events
),
cells AS (
    SELECT rel_week, treated,
           CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS sv
    FROM pts GROUP BY 1, 2
),
diffs AS (
    SELECT rel_week,
           max(CASE WHEN treated THEN n END) AS n_treated,
           max(CASE WHEN NOT treated THEN n END) AS n_control,
           (round((max(CASE WHEN treated THEN sv * 1.0 / n END)
                 - max(CASE WHEN NOT treated THEN sv * 1.0 / n END))
                  * 1000000.0) / 1000000.0) AS diff_cents
    FROM cells GROUP BY 1
),
base AS (
    SELECT diff_cents AS base_diff FROM diffs WHERE rel_week = -1
)
SELECT d.rel_week, d.n_treated, d.n_control, d.diff_cents,
       (round((d.diff_cents - b.base_diff) * 1000000.0) / 1000000.0) AS effect_cents
FROM diffs d CROSS JOIN base b
ORDER BY d.rel_week
""",
    description=(
        "Event-study (dynamic diff-in-means) around a treatment date: "
        "per relative week, the treated-minus-control gap in mean event "
        "value (deterministic md5 arm assignment, the repo's ab-v1 "
        "salt), normalized to the week -1 pre-period gap — the visual "
        "pre-trend check that validates q_did_estimator's parallel-"
        "trends assumption (flat pre-period effects) before trusting "
        "its single post coefficient. One grouped aggregate over "
        "(rel_week x arm) cells; the baseline row broadcasts back. "
        "Exact integer cell sums; divisions only at the 10-row end."
    ),
    tags=("econometrics", "experimentation", "extension", "parity"),
)
def q_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = load_table(spark, sf_dir, "events").select(
        F.floor(
            F.datediff(F.to_date("ts"), F.lit(_ES_TREAT_DATE).cast("date")) / 7.0
        )
        .cast("long")
        .alias("rel_week"),
        _es_arm_col().alias("treated"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    cells = pts.groupBy("rel_week", "treated").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
    )
    diffs = cells.groupBy("rel_week").agg(
        F.max(F.when(F.col("treated"), F.col("n"))).alias("n_treated"),
        F.max(F.when(~F.col("treated"), F.col("n"))).alias("n_control"),
        stable_round(
            F.max(F.when(F.col("treated"), F.col("sv") * 1.0 / F.col("n")))
            - F.max(F.when(~F.col("treated"), F.col("sv") * 1.0 / F.col("n"))),
            6,
        ).alias("diff_cents"),
    )
    base = diffs.filter(F.col("rel_week") == -1).select(
        F.col("diff_cents").alias("base_diff")
    )
    return (
        diffs.crossJoin(F.broadcast(base))
        .select(
            "rel_week",
            "n_treated",
            "n_control",
            "diff_cents",
            stable_round(F.col("diff_cents") - F.col("base_diff"), 6).alias(
                "effect_cents"
            ),
        )
        .orderBy("rel_week")
    )


@register(
    "q_trailing_hour_sum",
    oracle="""
SELECT event_id, user_id,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
            PARTITION BY user_id ORDER BY epoch_us(ts)
            RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS trailing_hour_cents,
       CAST(count(*) OVER (
            PARTITION BY user_id ORDER BY epoch_us(ts)
            RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_in_hour
FROM events
""",
    description=(
        "Per-user trailing one-hour spend via a time-RANGE window frame "
        "(RANGE BETWEEN 3599999999 micros PRECEDING AND CURRENT ROW "
        "over the epoch-micros order key) — the frame type ROWS frames "
        "cannot express when events arrive irregularly, and the "
        "velocity/rate-limit feature (spend-in-last-hour) fraud and "
        "abuse rules key on. RANGE frames include ties on the order "
        "key identically on both engines, sums fold in exact cents, "
        "and the window partitions by user — fully distributed."
    ),
    tags=("events", "windows", "extension", "parity"),
)
def q_trailing_hour_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3599999999, Window.currentRow)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        F.sum(cents).over(w).cast("long").alias("trailing_hour_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_in_hour"),
    )


@register(
    "q_top_movers",
    oracle="""
WITH halves AS (
    SELECT user_id,
           CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                         THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS pre_cents,
           CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                         THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS post_cents
    FROM events GROUP BY user_id
)
SELECT user_id, pre_cents, post_cents,
       (post_cents - pre_cents) AS delta_cents,
       CASE WHEN post_cents >= pre_cents THEN 'up' ELSE 'down' END AS direction
FROM halves
ORDER BY abs(post_cents - pre_cents) DESC, user_id ASC
LIMIT 10
""",
    description=(
        "Top movers: the 10 users whose spend shifted most between the "
        "two halves of the month (exact integer cents, absolute-delta "
        "TakeOrderedAndProject — no global sort materializes) — the "
        "'movers & shakers' tile every revenue dashboard carries, and "
        "the per-entity drill-down behind q_paired_ttest's aggregate "
        "verdict and q_price_volume_mix's category bridge. One grouped "
        "conditional aggregate; top-k rides the rank-limit path."
    ),
    tags=("analytics", "extension", "parity"),
)
def q_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("date")
    cents = F.round(F.col("value") * 100).cast("long")
    pre = F.to_date("ts") < cut
    halves = ev.groupBy("user_id").agg(
        F.sum(F.when(pre, cents).otherwise(0)).cast("long").alias("pre_cents"),
        F.sum(F.when(~pre, cents).otherwise(0)).cast("long").alias("post_cents"),
    )
    delta = F.col("post_cents") - F.col("pre_cents")
    return (
        halves.select(
            "user_id",
            "pre_cents",
            "post_cents",
            delta.alias("delta_cents"),
            F.when(F.col("post_cents") >= F.col("pre_cents"), "up")
            .otherwise("down")
            .alias("direction"),
        )
        .orderBy(F.abs(F.col("delta_cents")).desc(), F.asc("user_id"))
        .limit(10)
    )


@register(
    "q_newsvendor_stock",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS demand
    FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       (round(avg(demand) * 1000000.0) / 1000000.0) AS mean_daily,
       (round(quantile_cont(demand, 0.8) * 1000000.0) / 1000000.0)
           AS stock_level_p80,
       (round((quantile_cont(demand, 0.8) - avg(demand)) * 1000000.0)
        / 1000000.0) AS safety_stock
FROM daily GROUP BY event_type
ORDER BY event_type
""",
    description=(
        "Newsvendor stocking level per event stream: with underage cost "
        "4x overage cost the critical ratio is 0.8, so the optimal "
        "capacity/stock is the 80th percentile of daily demand "
        "(F^-1(cu/(cu+co)), the classic single-period inventory "
        "optimum) — the capacity-planning read of the demand "
        "distribution that a mean-based plan (q_moving_avg) underbuys "
        "by exactly the safety-stock column. One grouped day-aggregate "
        "then an exact per-type percentile over the bounded day frame; "
        "approx_percentile is the 100 TB default."
    ),
    tags=("analytics", "forecasting", "extension", "parity"),
)
def q_newsvendor_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("demand"))
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            stable_round(F.avg("demand"), 6).alias("mean_daily"),
            stable_round(F.expr("percentile(demand, 0.8)"), 6).alias(
                "stock_level_p80"
            ),
            stable_round(
                F.expr("percentile(demand, 0.8)") - F.avg("demand"), 6
            ).alias("safety_stock"),
        )
        .orderBy("event_type")
    )


_DECAY_ASOF = "2024-01-31"


@register(
    "q_decayed_popularity",
    oracle=f"""
WITH w AS (
    SELECT event_type,
           CAST(date_diff('day', CAST(ts AS DATE), DATE '{_DECAY_ASOF}')
                // 7 AS INTEGER) AS age_weeks
    FROM events
),
terms AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           sum(1000000.0 / (1::BIGINT << age_weeks)) AS score_raw
    FROM w GROUP BY event_type, age_weeks
),
agg AS (
    SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
           (sum(score_raw * n / 1000000.0)) AS decayed_raw
    FROM (SELECT event_type, n, score_raw / n AS score_raw FROM terms)
    GROUP BY event_type
),
tot AS (SELECT sum(decayed_raw) AS total FROM agg)
SELECT a.event_type, a.n_events,
       (round(a.decayed_raw * 1000000.0) / 1000000.0) AS decayed_score,
       (round((a.decayed_raw / t.total) * 1000000.0) / 1000000.0) AS decayed_share,
       CAST(row_number() OVER (ORDER BY a.decayed_raw DESC, a.event_type ASC)
            AS BIGINT) AS trend_rank
FROM agg a CROSS JOIN tot t
""",
    description=(
        "Half-life-decayed popularity per event stream (weekly half-life "
        "against a pinned as-of date): each event contributes 2^(-age "
        "weeks), computed as an exact integer SHIFT — every weight is a "
        "dyadic rational that folds exactly in binary doubles on both "
        "engines (the q_croston discipline; no libm pow) — giving the "
        "'trending now' ranking raw counts (q_token_topk) and "
        "all-time counts cannot: recency-weighted without a cutoff "
        "cliff. Weights are constant within an (event_type, age_week) "
        "cell, so the fold is one grouped count + a cell-level weighted "
        "sum; the rank rides the 5-row aggregate."
    ),
    tags=("analytics", "recsys", "extension", "parity"),
)
def q_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    age_w = F.floor(
        F.datediff(F.lit(_DECAY_ASOF).cast("date"), F.to_date("ts")) / 7
    ).cast("int")
    cells = ev.groupBy("event_type", age_w.alias("age_weeks")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wgt = F.lit(1000000.0) / F.expr("shiftleft(1L, age_weeks)")
    agg = cells.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.sum(wgt * F.col("n") / 1000000.0).alias("decayed_raw"),
    )
    tot = agg.agg(F.sum("decayed_raw").alias("total"))
    w = Window.orderBy(F.desc("decayed_raw"), F.asc("event_type"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_events",
        stable_round(F.col("decayed_raw"), 6).alias("decayed_score"),
        stable_round(F.col("decayed_raw") / F.col("total"), 6).alias("decayed_share"),
        F.row_number().over(w).cast("long").alias("trend_rank"),
    )


_TSPLIT_CUT = "2024-01-24"  # last week held out for eval


@register(
    "q_temporal_split_audit",
    oracle=f"""
WITH flags AS (
    SELECT user_id,
           max(CASE WHEN CAST(ts AS DATE) <  DATE '{_TSPLIT_CUT}' THEN 1 ELSE 0 END)
               AS in_train,
           max(CASE WHEN CAST(ts AS DATE) >= DATE '{_TSPLIT_CUT}' THEN 1 ELSE 0 END)
               AS in_eval,
           CAST(count(CASE WHEN CAST(ts AS DATE) <  DATE '{_TSPLIT_CUT}'
                           THEN 1 END) AS BIGINT) AS n_train_events,
           CAST(count(CASE WHEN CAST(ts AS DATE) >= DATE '{_TSPLIT_CUT}'
                           THEN 1 END) AS BIGINT) AS n_eval_events
    FROM events GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN in_train = 1 AND in_eval = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS train_only,
       CAST(sum(CASE WHEN in_train = 0 AND in_eval = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS eval_only_cold_start,
       CAST(sum(CASE WHEN in_train = 1 AND in_eval = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS in_both,
       (round((sum(CASE WHEN in_train = 1 AND in_eval = 1 THEN 1 ELSE 0 END)
               * 1.0 / sum(in_eval)) * 1000000.0) / 1000000.0)
           AS eval_user_overlap_rate,
       CAST(sum(n_train_events) AS BIGINT) AS train_events,
       CAST(sum(n_eval_events) AS BIGINT) AS eval_events
FROM flags
""",
    description=(
        "Temporal split-hygiene audit for a time-based train/eval cut: "
        "per-user presence on each side of the cut date, the eval-side "
        "user overlap rate (returning users whose HISTORY the model has "
        "seen — fine for forecasting, leakage for user-level "
        "generalization claims), and the cold-start share of eval users "
        "— the temporal counterpart to q_split_leakage_audit's content-"
        "level near-dup check and the context q_seasonal_naive_backtest "
        "assumes. One grouped pass; everything else is a 1-row fold."
    ),
    tags=("mlops", "quality", "extension", "parity"),
)
def q_temporal_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(_TSPLIT_CUT).cast("date")
    pre = F.to_date("ts") < cut
    flags = ev.groupBy("user_id").agg(
        F.max(F.when(pre, 1).otherwise(0)).alias("in_train"),
        F.max(F.when(~pre, 1).otherwise(0)).alias("in_eval"),
        F.count(F.when(pre, 1)).cast("long").alias("n_train_events"),
        F.count(F.when(~pre, 1)).cast("long").alias("n_eval_events"),
    )
    both = F.sum(
        F.when((F.col("in_train") == 1) & (F.col("in_eval") == 1), 1).otherwise(0)
    )
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(
            F.when((F.col("in_train") == 1) & (F.col("in_eval") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("train_only"),
        F.sum(
            F.when((F.col("in_train") == 0) & (F.col("in_eval") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("eval_only_cold_start"),
        both.cast("long").alias("in_both"),
        stable_round(both * 1.0 / F.sum("in_eval"), 6).alias(
            "eval_user_overlap_rate"
        ),
        F.sum("n_train_events").cast("long").alias("train_events"),
        F.sum("n_eval_events").cast("long").alias("eval_events"),
    )

"""Analytics extension queries: outer joins, array higher-order
functions, Markov transition matrices, skew diagnostics, time-series
gap-filling, and robust (MAD) outlier detection. Statistical and
scale-pattern/forecast families live in queries_analytics_stats /
queries_analytics_scale (split r7 for module size).

These widen the relational/analytics surface beyond the reference
(reference scope is `etl_app/etl_script.py:74-119` + dashboard
aggregates `dashboard_app/app.py:45-101`); each is a pattern a
large-scale data-pipeline team reaches for daily. All are oracle-checked
against DuckDB with identical arithmetic on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import stable_round
from healthcare_etl_spark.functions.timeutils import TS_FMT
from healthcare_etl_spark.plans.power_iteration import (
    PAGERANK_ROUNDS,
    PAIR_COUNTS_SQL,
    event_pairs,
    pagerank_oracle_sql,
    transitions,
)
from healthcare_etl_spark.plans.registry import register
from healthcare_etl_spark.sources import load_table, local_frame, spread


@register(
    "q_full_outer_join",
    oracle="""
WITH c AS (
    SELECT user_id, count(*) AS n_clicks
    FROM events WHERE event_type = 'click' GROUP BY 1
),
p AS (
    SELECT user_id, count(*) AS n_purchases
    FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT coalesce(c.user_id, p.user_id)  AS user_id,
       coalesce(n_clicks, 0)           AS n_clicks,
       coalesce(n_purchases, 0)        AS n_purchases,
       CASE WHEN c.user_id IS NULL THEN 'purchase_only'
            WHEN p.user_id IS NULL THEN 'click_only'
            ELSE 'both' END            AS status
FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
""",
    description=(
        "FULL OUTER equi-join of two per-user aggregates (clickers vs "
        "purchasers), preserving unmatched rows on BOTH sides. Completes "
        "the join family (inner/left/semi/anti already registered). A "
        "full-outer join can never broadcast either side — the plan is "
        "the correct shuffle hash join on the coalesced key."
    ),
    tags=("relational", "extension", "parity"),
)
def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    # Name-based join coalesces the key column (USING semantics), so the
    # output has ONE user_id populated from whichever side matched.
    joined = clicks.withColumn("c_key", F.col("user_id")).join(
        purchases.withColumn("p_key", F.col("user_id")), on="user_id", how="full_outer"
    )
    return joined.select(
        "user_id",
        F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.when(F.col("c_key").isNull(), "purchase_only")
        .when(F.col("p_key").isNull(), "click_only")
        .otherwise("both")
        .alias("status"),
    )


@register(
    "q_higher_order_funcs",
    oracle="""
SELECT vec_id,
       len(embedding)                                            AS dim,
       len(list_filter(embedding, x -> x > 0))                   AS n_pos,
       (round((sqrt(list_reduce(
            list_prepend(CAST(0.0 AS DOUBLE),
                         list_transform(embedding,
                                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
            (acc, x) -> acc + x))) * 10000.0) / 10000.0)          AS l2_norm,
       (round((list_max(list_transform(embedding,
                                       x -> abs(CAST(x AS DOUBLE))))) * 10000.0)
        / 10000.0)                                                AS max_abs
FROM embeddings
""",
    description=(
        "Array higher-order functions (transform / filter / aggregate / "
        "array_max) over the embedding column — all JVM-side codegen'd "
        "lambda expressions, zero Python. The oracle mirrors the exact "
        "left-fold summation order via DuckDB list_reduce so doubles are "
        "bit-comparable before rounding."
    ),
    tags=("functions", "extension", "parity"),
)
def q_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")

    def sq(x):
        return x.cast("double") * x.cast("double")

    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.size(F.filter("embedding", lambda x: x > F.lit(0.0))).cast("long").alias("n_pos"),
        stable_round(
            F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda acc, x: acc + sq(x))), 4
        ).alias("l2_norm"),
        stable_round(
            F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))), 4
        ).alias("max_abs"),
    )


@register(
    "q_event_transitions",
    oracle=f"""
WITH {PAIR_COUNTS_SQL}
SELECT f AS from_type, t AS to_type, n,
       (round((n / sum(n) OVER (PARTITION BY f)) * 1000000.0) / 1000000.0) AS p
FROM cnt
""",
    description=(
        "First-order Markov transition matrix over per-user event "
        "sequences: lead() window pairs consecutive events (one shuffle "
        "on user_id), hash-agg counts pairs, a second tiny window "
        "normalizes rows to probabilities. The per-user window partition "
        "scales with the user-id cardinality, never a global sort."
    ),
    tags=("events", "extension", "parity"),
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transitions(event_pairs(load_table(spark, sf_dir, "events"))).select(
        F.col("f").alias("from_type"), F.col("t").alias("to_type"), "n", "p"
    )


@register(
    "q_skew_profile",
    oracle="""
WITH counts AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
tot    AS (SELECT count(*) AS total FROM events)
SELECT user_id, n_events,
       (round((n_events / total) * 1000000.0) / 1000000.0) AS share
FROM counts, tot
ORDER BY n_events DESC, user_id
LIMIT 10
""",
    description=(
        "Key-distribution (skew) diagnostic: the 10 heaviest join/agg "
        "keys with their traffic share — the profiling step that decides "
        "whether a salted join or AQE skew handling is needed before a "
        "big shuffle. Top-k via TakeOrderedAndProject (no global sort); "
        "the grand total is a 1-row broadcast."
    ),
    tags=("diagnostics", "extension", "parity"),
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    total = ev.agg(F.count(F.lit(1)).alias("total"))
    top = counts.orderBy(F.desc("n_events"), F.asc("user_id")).limit(10)
    return top.crossJoin(F.broadcast(total)).select(
        "user_id",
        "n_events",
        stable_round(F.col("n_events") / F.col("total"), 6).alias("share"),
    )


@register(
    "q_gap_fill",
    oracle="""
WITH hourly AS (
    SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type,
           (round((sum(value)) * 10000.0) / 10000.0) AS sum_value
    FROM events GROUP BY 1, 2
),
bounds AS (
    SELECT time_bucket(INTERVAL '1 hour', min(ts)) AS lo,
           time_bucket(INTERVAL '1 hour', max(ts)) AS hi
    FROM events
),
grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS h FROM bounds),
types AS (SELECT DISTINCT event_type FROM events),
full_grid AS (SELECT h, event_type FROM grid CROSS JOIN types)
SELECT strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
       g.event_type,
       hourly.sum_value                    AS observed,
       coalesce(last_value(hourly.sum_value IGNORE NULLS) OVER (
            PARTITION BY g.event_type ORDER BY g.h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS filled,
       hourly.sum_value IS NULL            AS is_gap
FROM full_grid g
LEFT JOIN hourly ON g.h = hourly.h AND g.event_type = hourly.event_type
""",
    description=(
        "Time-series gap filling: a dense hour grid is generated from the "
        "series bounds (sequence + explode — one row of input, never a "
        "driver loop), left-joined with observed hourly sums, and gaps "
        "forward-filled with last(ignorenulls) per series. At 100 TB the "
        "per-series window partitions by series key; a composite "
        "(series, coarse-bucket) key with boundary carry is the "
        "documented path when a single series outgrows one partition."
    ),
    tags=("events", "extension", "parity"),
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(stable_round(F.sum("value"), 4).alias("sum_value"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("h")
    )
    types = ev.select("event_type").distinct()
    full_grid = grid.crossJoin(F.broadcast(types))
    joined = full_grid.join(hourly, ["h", "event_type"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.date_format("h", TS_FMT).alias("hour"),
        "event_type",
        F.col("sum_value").alias("observed"),
        F.coalesce(F.last("sum_value", ignorenulls=True).over(w), F.lit(0.0)).alias(
            "filled"
        ),
        F.col("sum_value").isNull().alias("is_gap"),
    )


@register(
    "q_anomaly_mad",
    oracle="""
WITH med AS (
    SELECT event_type,
           (round((quantile_cont(value, 0.5)) * 1000000.0) / 1000000.0) AS med
    FROM events GROUP BY 1
),
mad AS (
    SELECT e.event_type, med,
           (round((quantile_cont(abs(e.value - med), 0.5)) * 1000000.0) / 1000000.0) AS mad
    FROM events e JOIN med USING (event_type)
    GROUP BY e.event_type, med
)
SELECT e.event_type,
       count(*)                                                  AS n,
       CAST(sum(CASE WHEN abs(e.value - med) > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
                                                                 AS n_outliers,
       med, mad
FROM events e JOIN mad USING (event_type)
GROUP BY e.event_type, med, mad
""",
    description=(
        "Robust outlier detection via median absolute deviation: exact "
        "grouped median, then median |x - med|, then |x - med| > 3*MAD "
        "flags — two passes over the facts with the tiny per-group stats "
        "broadcast back. med/MAD are stable-rounded BEFORE the threshold "
        "comparison so the boundary decision is bit-identical in both "
        "engines. approx_percentile swaps in as the single-pass sketch "
        "path at 100 TB (q_approx_quantiles)."
    ),
    tags=("events", "extension", "parity"),
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        stable_round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(stable_round(F.expr("percentile(abs(value - med), 0.5)"), 6).alias("mad"))
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .select("event_type", "n", "n_outliers", "med", "mad")
    )


# ---------------------------------------------------------------------------
# Sketch + iterative-graph extensions
# ---------------------------------------------------------------------------

_BLOOM_POS_SQL = (
    "(('0x' || substring(md5('bloom' || CAST(i AS VARCHAR) || ':' || g), 1, 8))::BIGINT"
    " % 8257536)"
)


@register(
    "q_bloom_decontaminate",
    oracle=f"""
WITH split AS (
    SELECT doc_id, text,
           ((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100)
             % 10 = 0) AS is_test
    FROM documents
),
tok AS (SELECT doc_id, is_test, string_split(text, ' ') AS t FROM split),
grams AS (
    SELECT doc_id, is_test,
           unnest(list_transform(range(1, len(t) - 6),
                                 i -> array_to_string(t[i:i+7], ' '))) AS g
    FROM tok WHERE len(t) >= 8
),
test_grams AS (SELECT DISTINCT g FROM grams WHERE is_test),
train_grams AS (SELECT DISTINCT doc_id, g FROM grams WHERE NOT is_test),
test_cells AS (
    SELECT CAST(floor(pos / 63.0) AS BIGINT) AS word,
           (1::BIGINT << CAST(pos % 63 AS INT)) AS mask
    FROM (SELECT {_BLOOM_POS_SQL} AS pos
          FROM test_grams CROSS JOIN (SELECT unnest(range(4)) AS i))
),
sketch AS (SELECT word, bit_or(mask) AS bits FROM test_cells GROUP BY word),
probe_cells AS (
    SELECT doc_id, g,
           CAST(floor(pos / 63.0) AS BIGINT) AS word,
           (1::BIGINT << CAST(pos % 63 AS INT)) AS mask
    FROM (SELECT doc_id, g, {_BLOOM_POS_SQL} AS pos
          FROM train_grams CROSS JOIN (SELECT unnest(range(4)) AS i))
),
gram_hits AS (
    SELECT doc_id, g,
           (sum(CASE WHEN bits IS NOT NULL AND (bits & mask) = mask
                     THEN 1 ELSE 0 END) = 4) AS hit
    FROM probe_cells LEFT JOIN sketch USING (word)
    GROUP BY doc_id, g
)
SELECT doc_id,
       CAST(count(*) AS BIGINT)                              AS n_grams,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)  AS n_hit_grams,
       (sum(CASE WHEN hit THEN 1 ELSE 0 END) > 0)            AS flagged
FROM gram_hits GROUP BY doc_id
""",
    description=(
        "Sketch-based train/test decontamination: the held-out split's "
        "8-gram set is compressed into a mergeable Bloom filter DataFrame "
        "(131072 words x 63 bits, k=4 salted-md5 probes), then every "
        "training document's grams are membership-tested against the "
        "BROADCAST sketch — the scale path for q_decontaminate's exact "
        "gram join: the huge training side never shuffles against the "
        "held-out set, only against a fixed-size bitmap. No false "
        "negatives (leaks cannot slip through); the deterministic false-"
        "positive arithmetic is reproduced bit-for-bit by the oracle."
    ),
    tags=("text", "extension", "sketch", "parity"),
)
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.sketches import bloom_build, bloom_probe
    from healthcare_etl_spark.plans.queries_pipeline_ops import _doc_hash

    docs = spread(load_table(spark, sf_dir, "documents"))
    split = docs.select("doc_id", "text", ((_doc_hash() % 10) == 0).alias("is_test"))
    toks = F.split("text", " ")
    # 8-grams via arrays_zip of the token array with its 1..7-shifted
    # slices (the dedup shingle idiom): gram i = (t[i], ..., t[i+7]),
    # null-padded tails filtered on the last member — a NARROW codegen'd
    # explode. The old posexplode + seven lead() windows shuffled and
    # sorted the whole exploded corpus by doc_id before any gram existed
    # (guide §2.4), and its eager localCheckpoint ran that job at plan
    # build; the narrow form is cheap enough that the sketch build and
    # the probe just recompute it (scan + explode, no shuffle).
    base = split.select(
        "doc_id", "is_test", toks.alias("t"), F.size(toks).alias("n_tok")
    ).filter(F.col("n_tok") >= 8)
    zipped = F.arrays_zip(
        F.col("t").alias("w0"),
        *[
            F.slice("t", j + 1, F.greatest(F.col("n_tok") - j, F.lit(0))).alias(f"w{j}")
            for j in range(1, 8)
        ],
    )
    grams = (
        base.select("doc_id", "is_test", F.explode(zipped).alias("z"))
        .filter(F.col("z.w7").isNotNull())
        .select(
            "doc_id",
            "is_test",
            F.concat_ws(" ", *[f"z.w{j}" for j in range(8)]).alias("g"),
        )
    )
    sketch = bloom_build(grams.filter(F.col("is_test")).select("g").distinct(), "g")
    train = grams.filter(~F.col("is_test")).select("doc_id", "g").distinct()
    hits = bloom_probe(train, "g", sketch, hit_col="hit")
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).alias("n_hit_grams"),
        (F.sum(F.when(F.col("hit"), 1).otherwise(0)) > 0).alias("flagged"),
    )


def _pagerank_oracle() -> str:
    from healthcare_etl_spark.plans.queries_dedup import _lsh_jpairs_ctes

    graph = f"""{_lsh_jpairs_ctes()},
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM jpairs
    WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
    UNION
    SELECT doc_b AS u, doc_a AS v FROM jpairs
    WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
),
deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
base AS (SELECT u AS node, d, n FROM deg, (SELECT count(*) AS n FROM deg) nn)"""
    ranks = pagerank_oracle_sql(graph, "1.0 / b.n", "0.15 / b.n")
    return f"{ranks}\nSELECT node AS doc_id, rank FROM r{PAGERANK_ROUNDS}"


@register(
    "q_pagerank",
    oracle=_pagerank_oracle(),
    description=(
        "PageRank (5 damped power iterations, d=0.85) over the symmetrized "
        "near-dup pair graph — centrality scoring for picking the canonical "
        "representative of a duplicate cluster, and the second iterative-"
        "graph shape alongside connected components: per-round join + hash "
        "agg on the node id, edges checkpointed once, driver holds no row "
        "data. Per-iteration stable rounding keeps the doubles bit-equal to "
        "the unrolled-CTE oracle."
    ),
    tags=("dedup", "extension", "iterative", "parity"),
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.dedup import minhash_lsh_pairs
    from healthcare_etl_spark.operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    return pagerank(pairs).select(
        F.col("node").alias("doc_id"), "rank"
    )


@register(
    "q_interval_overlap",
    oracle="""
WITH gaps AS (
    SELECT user_id, ts, event_id,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     <= INTERVAL '30 minutes' THEN 0 ELSE 1 END AS is_new
    FROM events
),
sess AS (
    SELECT user_id, ts,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
    FROM gaps
),
s AS (
    SELECT user_id, session_seq, min(ts) AS t0, max(ts) AS t1, count(*) AS n_events
    FROM sess GROUP BY 1, 2
),
err AS (SELECT ts FROM events WHERE event_type = 'error')
SELECT s.user_id, s.session_seq,
       strftime(t0, '%Y-%m-%d %H:%M:%S') AS session_start,
       n_events,
       CAST(count(err.ts) AS BIGINT) AS n_errors_during
FROM s LEFT JOIN err ON err.ts >= s.t0 AND err.ts <= s.t1
GROUP BY s.user_id, s.session_seq, t0, n_events
""",
    description=(
        "Interval-overlap join: every error event (any user) landing inside "
        "each user session's [start, end] span — incident attribution over "
        "variable-length intervals. The naive form is an inequality-only "
        "join (nested loop); interval_point_join banding makes it a bucket "
        "equi-join where each point pairs with each interval exactly once. "
        "Sessions with zero errors are kept via re-join (count = 0)."
    ),
    tags=("events", "extension", "parity"),
)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.rangejoin import interval_point_join
    from healthcare_etl_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, order_tiebreak="event_id")
    s = sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("start"),
        F.max("ts").alias("end"),
        F.count(F.lit(1)).alias("n_events"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(F.col("ts").alias("err_ts"))
    pairs = interval_point_join(s, errors, point_ts="err_ts")
    per = pairs.groupBy("user_id", "session_seq").agg(F.count(F.lit(1)).alias("n_err"))
    return s.join(per, ["user_id", "session_seq"], "left").select(
        "user_id",
        "session_seq",
        F.date_format("start", TS_FMT).alias("session_start"),
        "n_events",
        F.coalesce("n_err", F.lit(0)).alias("n_errors_during"),
    )


@register(
    "q_weighted_sample",
    oracle="""
WITH pri AS (
    SELECT doc_id, n_chars,
           ((('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
            / 4294967296.0) * n_chars AS priority
    FROM documents
)
SELECT doc_id, n_chars, priority
FROM pri ORDER BY priority DESC, doc_id LIMIT 200
""",
    description=(
        "Deterministic weighted sampling: top-200 documents by "
        "hash-uniform priority u(doc) * weight (weight = n_chars), so "
        "longer documents are proportionally favored but selection stays "
        "reproducible across engines/partitionings/cluster sizes. Every "
        "arithmetic step is EXACT in doubles (dyadic md5 uniform x "
        "integer weight <= 2^53) — no transcendental functions, so no "
        "cross-engine libm last-ulp risk (the A-ES u^(1/w) form trades "
        "that exactness for strict inclusion-probability proportionality). "
        "Top-k via TakeOrderedAndProject — no global sort."
    ),
    tags=("pipeline", "extension", "parity"),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    pri = docs.select(
        "doc_id",
        "n_chars",
        (((h + 1) / F.lit(4294967296.0)) * F.col("n_chars")).alias("priority"),
    )
    return pri.orderBy(F.desc("priority"), F.asc("doc_id")).limit(200)


@register(
    "q_top_p_filter",
    oracle="""
WITH t AS (
    SELECT doc_id, source, n_chars,
           sum(n_chars) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(n_chars) OVER (PARTITION BY source) AS tot,
           CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id)
                AS BIGINT) AS rank_in_source
    FROM documents
)
SELECT doc_id, source, n_chars, rank_in_source,
       (round((cum * 1.0 / tot) * 1000000.0) / 1000000.0) AS cum_share
FROM t
WHERE (cum - n_chars) * 10 < tot * 9
""",
    description=(
        "Top-p (nucleus) corpus filtering: per source, keep the largest "
        "documents until 90% of the source's total character mass is "
        "covered (the doc crossing the boundary is included). One shuffle "
        "on source; running + total mass share a single window partition. "
        "The keep decision is pure integer arithmetic ((cum-own)*10 < "
        "tot*9) — exact in both engines, no float boundary flake."
    ),
    tags=("pipeline", "extension", "parity"),
)
def q_top_p_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    order = [F.desc("n_chars"), F.asc("doc_id")]
    wcum = (
        Window.partitionBy("source")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("source")
    wrnk = Window.partitionBy("source").orderBy(*order)
    t = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.sum("n_chars").over(wcum).alias("cum"),
        F.sum("n_chars").over(wtot).alias("tot"),
        F.row_number().over(wrnk).cast("long").alias("rank_in_source"),
    )
    return t.filter((F.col("cum") - F.col("n_chars")) * 10 < F.col("tot") * 9).select(
        "doc_id",
        "source",
        "n_chars",
        "rank_in_source",
        stable_round(F.col("cum") * 1.0 / F.col("tot"), 6).alias("cum_share"),
    )


@register(
    "q_bigram_logprob",
    oracle="""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
words AS (SELECT doc_id, unnest(t) AS w FROM tok),
big AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)), i -> t[i]))   AS w1,
           unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
    FROM tok WHERE len(t) >= 2
),
ufreq AS (SELECT w, count(*) AS cu FROM words GROUP BY w),
bfreq AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY 1, 2),
tot AS (SELECT count(*) AS n FROM words)
SELECT big.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       (round((avg(ln(0.9 * (cb * 1.0 / u1.cu) + 0.1 * (u2.cu * 1.0 / n))))
              * 1000000.0) / 1000000.0) AS avg_logprob
FROM big
JOIN bfreq USING (w1, w2)
JOIN ufreq u1 ON u1.w = big.w1
JOIN ufreq u2 ON u2.w = big.w2
CROSS JOIN tot
GROUP BY big.doc_id
""",
    description=(
        "Interpolated bigram LM scoring (0.9*p(w2|w1) + 0.1*p(w2)) — the "
        "step up from q_unigram_logprob toward real LM-perplexity "
        "filtering: token streams with improbable transitions score low "
        "even when every token is individually common. Bigrams come from "
        "a narrow arrays_zip of the token array with its 1-shifted slice "
        "(no self-join, no window shuffle); the frequency tables are "
        "key-partitioned hash aggs; the corpus total stays a lazy 1-row "
        "broadcast."
    ),
    tags=("text", "extension", "parity"),
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    # unigram frequencies need only the token stream (the old doc_id
    # column was pruned by the optimizer but misread as a per-doc
    # dependency — ADVICE r9)
    words = docs.select(F.explode(toks).alias("w"))
    base = docs.select("doc_id", toks.alias("t"))
    zipped = F.arrays_zip(
        F.col("t").alias("w1"),
        F.slice("t", 2, F.greatest(F.size("t") - 1, F.lit(0))).alias("w2"),
    )
    big = (
        base.select("doc_id", F.explode(zipped).alias("z"))
        .filter(F.col("z.w2").isNotNull())
        .select("doc_id", F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2"))
    )
    ufreq = words.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    bfreq = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    # Total token count = sum of the unigram counts — fold it out of its
    # own corpus pass (guide §1.2): one aggregate over the ufreq table
    # instead of a second full explode of the corpus.
    total = ufreq.agg(F.sum("cu").alias("n"))
    u1 = ufreq.select(F.col("w").alias("w1"), F.col("cu").alias("cu1"))
    u2 = ufreq.select(F.col("w").alias("w2"), F.col("cu").alias("cu2"))
    p = F.lit(0.9) * (F.col("cb") * 1.0 / F.col("cu1")) + F.lit(0.1) * (
        F.col("cu2") * 1.0 / F.col("n")
    )
    return (
        big.join(bfreq, ["w1", "w2"])
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            stable_round(F.avg(F.log(p)), 6).alias("avg_logprob"),
        )
    )


@register(
    "q_token_entropy",
    oracle="""
WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
tf AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w),
n AS (SELECT doc_id, sum(c) AS n_tok, count(*) AS n_uniq FROM tf GROUP BY doc_id)
SELECT tf.doc_id,
       CAST(any_value(n_tok) AS BIGINT)  AS n_tok,
       CAST(any_value(n_uniq) AS BIGINT) AS n_uniq,
       (round((-sum((c * 1.0 / n_tok) * ln(c * 1.0 / n_tok))) * 1000000.0)
        / 1000000.0) AS entropy
FROM tf JOIN n USING (doc_id)
GROUP BY tf.doc_id
""",
    description=(
        "Per-document Shannon token entropy (nats): low entropy = "
        "repetitive/templated text, the information-theoretic complement "
        "of q_repetition_quality's top-token fraction. Two key-partitioned "
        "hash aggs (doc+token term frequency, then per-doc fold) — the "
        "same two-level shape, no windows, no Python."
    ),
    tags=("text", "extension", "parity"),
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tf = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    n = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tok"), F.count(F.lit(1)).alias("n_uniq")
    )
    frac = F.col("c") * 1.0 / F.col("n_tok")
    return (
        tf.join(n, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.any_value("n_tok").alias("n_tok"),
            F.any_value("n_uniq").alias("n_uniq"),
            stable_round(-F.sum(frac * F.log(frac)), 6).alias("entropy"),
        )
    )


@register(
    "q_table_diff",
    oracle="""
WITH h AS (
    SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status,
           (('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 1000)
               AS hh
    FROM orders
),
a AS (
    SELECT k, CASE WHEN hh % 7 = 0 THEN price + 1.5 ELSE price END AS price, status
    FROM h WHERE hh % 13 <> 0
),
b AS (SELECT k, price, status FROM h WHERE hh % 11 <> 0),
d AS (
    SELECT CASE WHEN b.k IS NULL THEN 'added'
                WHEN a.k IS NULL THEN 'removed'
                WHEN a.price <> b.price OR a.status <> b.status THEN 'changed'
                ELSE 'same' END AS category
    FROM a FULL OUTER JOIN b ON a.k = b.k
)
SELECT category, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY category
""",
    description=(
        "Snapshot reconciliation (table diff / CDC derivation): current vs "
        "prior snapshot full-outer-joined on the key, each row classified "
        "added/removed/changed/same — the audit every incremental pipeline "
        "runs before promoting a snapshot. The two snapshots here are "
        "deterministic hash-derived views of `orders` so the oracle "
        "reproduces them exactly. At scale both sides bucket by the key so "
        "the diff join is exchange-free; the comparison itself is one "
        "shuffle + hash agg, no driver data."
    ),
    tags=("relational", "extension", "parity"),
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    hh = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 1000
    )
    h = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
        hh.alias("hh"),
    )
    a = h.filter(F.col("hh") % 13 != 0).select(
        "k",
        F.when(F.col("hh") % 7 == 0, F.col("price") + 1.5).otherwise(F.col("price")).alias("price"),
        "status",
    )
    b = h.filter(F.col("hh") % 11 != 0).select("k", "price", "status")
    d = a.alias("a").join(b.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer").select(
        F.when(F.col("b.k").isNull(), "added")
        .when(F.col("a.k").isNull(), "removed")
        .when(
            (F.col("a.price") != F.col("b.price")) | (F.col("a.status") != F.col("b.status")),
            "changed",
        )
        .otherwise("same")
        .alias("category")
    )
    return d.groupBy("category").agg(F.count(F.lit(1)).alias("n"))


def _bfs_oracle() -> str:
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
reach(node, hops) AS (
    SELECT node, 0 FROM seeds
    UNION
    SELECT e.dst, r.hops + 1
    FROM reach r JOIN bedges e ON e.src = r.node
    WHERE r.hops < 20
)
SELECT node AS doc_id, CAST(min(hops) AS BIGINT) AS hops
FROM reach GROUP BY node
"""


@register(
    "q_graph_bfs",
    oracle=_bfs_oracle(),
    description=(
        "Multi-source BFS (minimum hop distance from a hash-chosen seed "
        "set) over the near-dup graph — the third iterative-graph shape "
        "after connected components and PageRank: per-round frontier "
        "join + anti-join against settled labels, so each node is "
        "expanded once and total work is O(edges) regardless of round "
        "count. Hop caps mirror the oracle's recursion bound (20 ≫ any "
        "near-dup component's diameter)."
    ),
    tags=("dedup", "extension", "iterative", "parity"),
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.dedup import minhash_lsh_pairs
    from healthcare_etl_spark.operators.graph import bfs_hops

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    # seed_filter: seeds derive from the checkpointed edge set inside
    # the BFS — the LSH pair pipeline executes once, not twice.
    return bfs_hops(
        pairs,
        seed_filter=lambda node: (
            F.conv(F.substring(F.md5(node.cast("string")), 1, 8), 16, 10).cast("long")
            % 5
        )
        == 0,
    ).select(F.col("node").alias("doc_id"), "hops")


@register(
    "q_source_overlap",
    oracle="""
WITH st AS (
    SELECT DISTINCT source, w
    FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
),
sz AS (SELECT source, count(*) AS n FROM st GROUP BY source),
common AS (
    SELECT x.source AS source_a, y.source AS source_b, count(*) AS n_common
    FROM st x JOIN st y ON x.w = y.w AND x.source < y.source
    GROUP BY 1, 2
)
SELECT source_a, source_b, n_common,
       (round((n_common * 1.0 / (sa.n + sb.n - n_common)) * 1000000.0) / 1000000.0)
           AS jaccard
FROM common
JOIN sz sa ON sa.source = source_a
JOIN sz sb ON sb.source = source_b
""",
    description=(
        "Pairwise vocabulary overlap (token-set Jaccard) between corpus "
        "sources — the mixture-analysis view that tells a data team which "
        "sources are near-redundant before weighting them. Inverted-index "
        "self-join on the token (same shape as document-level "
        "jaccard_pairs, one granularity up); the per-source size table is "
        "a broadcast dimension. Hot tokens shared by all sources bound the "
        "per-key fanout at (n_sources choose 2), not at document counts."
    ),
    tags=("text", "extension", "parity"),
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    # Three consumers (sizes + both join sides): materialize the distinct
    # source-token set once instead of re-tokenizing per branch (staging
    # table / reliable checkpoint on a real cluster).
    st = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sz = st.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    x = st.select(F.col("source").alias("source_a"), "w")
    y = st.select(F.col("source").alias("source_b"), "w")
    common = (
        x.join(y, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sz.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        common.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            stable_round(
                F.col("n_common") * 1.0 / (F.col("na") + F.col("nb") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
    )


_CHUNK_LEN = 64
_CHUNK_STRIDE = 48


@register(
    "q_doc_chunks",
    oracle=f"""
WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
c AS (
    SELECT doc_id, n_tok,
           unnest(range(0, greatest(n_tok - {_CHUNK_LEN} + {_CHUNK_STRIDE}, 1),
                        {_CHUNK_STRIDE})) AS start_tok
    FROM t
)
SELECT doc_id,
       CAST(start_tok // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(start_tok AS BIGINT)                    AS start_tok,
       CAST(least(start_tok + {_CHUNK_LEN}, n_tok) AS BIGINT) AS end_tok,
       CAST(least(start_tok + {_CHUNK_LEN}, n_tok) - start_tok AS BIGINT) AS chunk_len
FROM c
""",
    description=(
        "Overlapping sliding-window document chunking (RAG / embedding "
        f"prep): {_CHUNK_LEN}-token chunks at stride {_CHUNK_STRIDE} "
        "(16-token overlap), emitted as (doc_id, chunk_idx, token span) "
        "rows via sequence + explode — a narrow per-row expansion, no "
        "shuffle at all until a downstream consumer groups. Every doc "
        "yields >= 1 chunk (short docs produce one truncated chunk); the "
        "chunk count per doc is ceil-div arithmetic, identical in both "
        "engines as integer ops."
    ),
    tags=("text", "extension", "parity"),
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.size(F.split("text", " ")).alias("n_tok"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.col("n_tok") - _CHUNK_LEN + _CHUNK_STRIDE - 1, F.lit(0)),
        F.lit(_CHUNK_STRIDE),
    )
    c = t.select("doc_id", "n_tok", F.explode(starts).alias("start_tok"))
    end = F.least(F.col("start_tok") + _CHUNK_LEN, F.col("n_tok"))
    return c.select(
        "doc_id",
        F.floor(F.col("start_tok") / _CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        end.cast("long").alias("end_tok"),
        (end - F.col("start_tok")).cast("long").alias("chunk_len"),
    )


@register(
    "q_compaction_plan",
    oracle="""
WITH f AS (
    SELECT source, doc_id, n_chars,
           sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
    FROM documents
)
SELECT source,
       CAST((cum - n_chars) // 2048 AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT)         AS n_files,
       CAST(sum(n_chars) AS BIGINT)     AS total_bytes,
       min(doc_id)                      AS first_doc,
       max(doc_id)                      AS last_doc
FROM f
GROUP BY source, bin_id
""",
    description=(
        "Small-file compaction planning (the OPTIMIZE/bin-pack maintenance "
        "job every parquet lake needs): files ordered by id within their "
        "table partition, sequential-fill assignment to ~2048-byte output "
        "groups via a running-size window — each file lands in the group its "
        "start offset falls into, so group totals stay within one file of "
        "target. ONE shuffle total: the window clusters by source and the "
        "follow-up group-by (source, bin) reuses that partitioning (source "
        "alone already co-locates every finer key). Pure integer arithmetic, "
        "hash-exact oracle."
    ),
    tags=("analytics", "extension", "lakehouse"),
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    planned = docs.select("source", "doc_id", "n_chars").withColumn(
        "cum", F.sum("n_chars").over(w)
    )
    return (
        planned.withColumn("bin_id", F.expr("(cum - n_chars) div 2048"))
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_chars").alias("total_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "q_autocorr",
    oracle="""
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1
),
lagged AS (
    SELECT cnt,
           lag(cnt, 1) OVER (ORDER BY day) AS l1,
           lag(cnt, 2) OVER (ORDER BY day) AS l2,
           lag(cnt, 3) OVER (ORDER BY day) AS l3
    FROM daily
),
stacked AS (
    SELECT 1 AS lag, cnt AS x, l1 AS y FROM lagged WHERE l1 IS NOT NULL
    UNION ALL
    SELECT 2, cnt, l2 FROM lagged WHERE l2 IS NOT NULL
    UNION ALL
    SELECT 3, cnt, l3 FROM lagged WHERE l3 IS NOT NULL
),
m AS (
    SELECT lag, CAST(count(*) AS BIGINT) AS n,
           sum(x) AS sx, sum(y) AS sy,
           sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
    FROM stacked GROUP BY lag
)
SELECT lag, n,
       (round(((n * sxy - sx * sy) /
               (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) * 1000000.0) / 1000000.0)
           AS autocorr
FROM m
""",
    description=(
        "Lag-1/2/3 autocorrelation of the daily event count — the "
        "seasonality diagnostic behind anomaly baselines and traffic "
        "forecasts. The raw table collapses to one integer per day in a "
        "distributed aggregate FIRST; the lag window then runs over that "
        "tiny daily series (inherently ordered, dozens of rows — the "
        "single-partition sort is on the aggregate, never the events). "
        "Pearson r is computed from exact integer moment sums, so the "
        "only float ops are the final fixed-order expression: hash-exact "
        "cross-engine."
    ),
    tags=("analytics", "extension", "timeseries"),
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "cnt",
        F.lag("cnt", 1).over(w).alias("l1"),
        F.lag("cnt", 2).over(w).alias("l2"),
        F.lag("cnt", 3).over(w).alias("l3"),
    )
    stacked = lagged.select(
        F.expr("stack(3, 1, cnt, l1, 2, cnt, l2, 3, cnt, l3) AS (lag, x, y)")
    ).filter(F.col("y").isNotNull())
    m = stacked.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return m.select(
        "lag", "n", stable_round(num / den, 6).alias("autocorr")
    )


@register(
    "q_winsorized_mean",
    oracle="""
WITH b AS (
    SELECT event_type,
           (round(quantile_cont(value, 0.05) * 1000000.0) / 1000000.0) AS p05,
           (round(quantile_cont(value, 0.95) * 1000000.0) / 1000000.0) AS p95
    FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       b.p05, b.p95,
       (round(avg(least(greatest(e.value, b.p05), b.p95)) * 1000000.0) / 1000000.0)
           AS winsorized_mean,
       (round(avg(e.value) * 1000000.0) / 1000000.0) AS raw_mean
FROM events e JOIN b USING (event_type)
GROUP BY e.event_type, b.p05, b.p95
""",
    description=(
        "Winsorized (p05/p95-clipped) mean per event type — the robust-"
        "aggregation step that keeps a handful of corrupt meters from "
        "skewing a 100 TB metric. Two passes over the fact table: exact "
        "grouped percentiles (distributed sort-based aggregate), then the "
        "5-row bounds table broadcast back for the clipped mean — no "
        "row-level sort, no collect. Bounds are stable-rounded BEFORE "
        "clipping so boundary rows clip identically on both engines."
    ),
    tags=("analytics", "extension", "cleaning"),
)
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bounds = events.groupBy("event_type").agg(
        stable_round(F.expr("percentile(value, 0.05)"), 6).alias("p05"),
        stable_round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
    )
    clipped = events.join(F.broadcast(bounds), "event_type")
    return clipped.groupBy("event_type", "p05", "p95").agg(
        F.count(F.lit(1)).alias("n"),
        stable_round(
            F.avg(F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))), 6
        ).alias("winsorized_mean"),
        stable_round(F.avg("value"), 6).alias("raw_mean"),
    ).select("event_type", "n", "p05", "p95", "winsorized_mean", "raw_mean")


@register(
    "q_psi_drift",
    oracle="""
WITH b AS (
    SELECT event_type,
           CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'ref' ELSE 'cur' END AS period,
           least(CAST(floor(value / 50.0) AS BIGINT), 9) AS bucket
    FROM events
),
counts AS (
    SELECT event_type, period, bucket, count(*) AS n
    FROM b GROUP BY 1, 2, 3
),
grid AS (
    SELECT DISTINCT c.event_type, g.bucket, p.period
    FROM counts c
    CROSS JOIN range(10) g(bucket)
    CROSS JOIN (VALUES ('ref'), ('cur')) p(period)
),
filled AS (
    SELECT g.event_type, g.bucket, g.period, coalesce(c.n, 0) AS n
    FROM grid g LEFT JOIN counts c
      ON c.event_type = g.event_type AND c.bucket = g.bucket AND c.period = g.period
),
tot AS (
    SELECT event_type, period, sum(n) AS tot_n FROM filled GROUP BY 1, 2
),
props AS (
    SELECT f.event_type, f.bucket,
           max(CASE WHEN f.period = 'ref'
               THEN (f.n + 1.0) / (t.tot_n + 10.0) END) AS p,
           max(CASE WHEN f.period = 'cur'
               THEN (f.n + 1.0) / (t.tot_n + 10.0) END) AS q
    FROM filled f JOIN tot t ON t.event_type = f.event_type AND t.period = f.period
    GROUP BY 1, 2
)
SELECT event_type,
       (round(sum((p - q) * ln(p / q)) * 1000000.0) / 1000000.0) AS psi
FROM props GROUP BY event_type
""",
    description=(
        "Population Stability Index per event type between the first and "
        "second half of the month — the drift monitor ML platforms run "
        "on every feature: bucket the value distribution identically in "
        "both periods (10 fixed-width buckets, Laplace-smoothed so empty "
        "buckets stay finite), PSI = sum (p-q)ln(p/q). One distributed "
        "count aggregate over the facts; the bucket grid (types x 10 x 2) "
        "is dimension-sized, so densification and the PSI fold are "
        "broadcast-scale work. PSI > 0.25 conventionally flags "
        "actionable drift."
    ),
    tags=("analytics", "extension", "timeseries"),
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), "ref")
        .otherwise("cur")
        .alias("period"),
        F.least(F.floor(F.col("value") / 50.0).cast("long"), F.lit(9).cast("long")).alias(
            "bucket"
        ),
    )
    counts = b.groupBy("event_type", "period", "bucket").agg(F.count(F.lit(1)).alias("n"))
    # The (event_type x bucket x period) grid is metadata-sized (a few
    # hundred rows at most), but its left side is an aggregate whose
    # cardinality Catalyst cannot estimate — at 10x-fixture stats the
    # planner degraded these cross joins to CartesianProduct (caught by
    # the r7 scale-proof sweep). Explicit broadcast hints pin them to
    # BroadcastNestedLoopJoin at every scale.
    grid = (
        counts.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(spark.range(10).select(F.col("id").alias("bucket"))))
        .crossJoin(F.broadcast(local_frame(spark, [("ref",), ("cur",)], "period string")))
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


@register(
    "q_ks_drift",
    oracle="""
WITH g AS (
    SELECT event_type, value,
           CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
           CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
    FROM events GROUP BY 1, 2
),
c AS (
    SELECT event_type,
           sum(n_ref) OVER (PARTITION BY event_type ORDER BY value
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ref,
           sum(n_cur) OVER (PARTITION BY event_type ORDER BY value
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cur,
           sum(n_ref) OVER (PARTITION BY event_type) AS tot_ref,
           sum(n_cur) OVER (PARTITION BY event_type) AS tot_cur
    FROM g
)
SELECT event_type,
       CAST(max(tot_ref) AS BIGINT) AS n_ref,
       CAST(max(tot_cur) AS BIGINT) AS n_cur,
       (round(max(abs(cum_ref * 1.0 / tot_ref - cum_cur * 1.0 / tot_cur))
              * 1000000.0) / 1000000.0) AS ks_stat
FROM c GROUP BY event_type
""",
    description=(
        "Exact two-sample Kolmogorov-Smirnov drift statistic per event "
        "type between the first and second half of the month — the "
        "nonparametric complement to q_psi_drift (no binning choice, "
        "sensitive to any distributional change). The KS statistic is the "
        "max gap between the two empirical CDFs, which only changes at "
        "sample points, so pre-aggregating to per-distinct-value step "
        "counts makes it exact: one hash aggregate on (type, value), then "
        "running sums over the ordered distinct values in the same "
        "event_type window partition (cum and total share one shuffle). "
        "The per-row CDF gap is a pure double expression; max() is "
        "order-independent, so both engines agree bit-for-bit after "
        "stable rounding."
    ),
    tags=("analytics", "extension", "timeseries"),
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    is_ref = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
    g = ev.groupBy("event_type", "value").agg(
        F.sum(F.when(is_ref, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(is_ref, 0).otherwise(1)).alias("n_cur"),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    c = g.select(
        "event_type",
        F.sum("n_ref").over(w_run).alias("cum_ref"),
        F.sum("n_cur").over(w_run).alias("cum_cur"),
        F.sum("n_ref").over(w_all).alias("tot_ref"),
        F.sum("n_cur").over(w_all).alias("tot_cur"),
    )
    gap = F.abs(
        F.col("cum_ref") * F.lit(1.0) / F.col("tot_ref")
        - F.col("cum_cur") * F.lit(1.0) / F.col("tot_cur")
    )
    return c.groupBy("event_type").agg(
        F.max("tot_ref").alias("n_ref"),
        F.max("tot_cur").alias("n_cur"),
        stable_round(F.max(gap), 6).alias("ks_stat"),
    )


@register(
    "q_equidepth_histogram",
    oracle="""
WITH r AS (
    SELECT event_type, value,
           ntile(8) OVER (PARTITION BY event_type ORDER BY value, event_id) AS bucket
    FROM events
)
SELECT event_type,
       CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       (round(min(value) * 1000000.0) / 1000000.0) AS lo,
       (round(max(value) * 1000000.0) / 1000000.0) AS hi
FROM r GROUP BY 1, 2
""",
    description=(
        "Equi-depth (equal-frequency) histogram of the value distribution "
        "per event type — the optimizer-statistics / quantile-sketch "
        "complement to q_value_histogram's fixed-width buckets: 8 ntile "
        "buckets each holding ~1/8 of the rows, reported with exact "
        "bounds and counts. ntile's deterministic fill rule (earlier "
        "buckets take the remainder) plus a unique (value, event_id) sort "
        "key makes the bucketing identical across engines. The window and "
        "the rollup share one shuffle on event_type."
    ),
    tags=("analytics", "extension"),
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    r = ev.select("event_type", "value", F.ntile(8).over(w).alias("bucket"))
    return r.groupBy("event_type", F.col("bucket").cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        stable_round(F.min("value"), 6).alias("lo"),
        stable_round(F.max("value"), 6).alias("hi"),
    )


@register(
    "q_null_safe_join",
    oracle="""
WITH a AS (
    SELECT CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS k,
           count(*) AS n_a
    FROM events GROUP BY 1
),
b AS (
    SELECT CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS k,
           CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_big
    FROM events GROUP BY 1
)
SELECT a.k AS event_key, a.n_a, b.n_big
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
""",
    description=(
        "Null-safe equi-join semantics pin (Spark <=> / SQL IS NOT "
        "DISTINCT FROM): the NULL group (here the 'error' type mapped to "
        "NULL) JOINS to itself instead of silently dropping — standard "
        "equality would lose it, the classic silent-row-loss bug when "
        "joining on nullable keys. Spark plans <=> as a normal hash join "
        "(null-safe keys still hash-partition), so the shape is "
        "identical to a plain equi-join at scale."
    ),
    tags=("relational", "extension", "parity"),
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("event_type")
    )
    a = ev.select(k.alias("k")).groupBy("k").agg(F.count(F.lit(1)).alias("n_a"))
    b = (
        ev.select(k.alias("k"), "value")
        .groupBy("k")
        .agg(F.sum(F.when(F.col("value") > 50, 1).otherwise(0)).alias("n_big"))
    )
    bb = b.select(F.col("k").alias("k_b"), "n_big")
    return a.join(bb, a["k"].eqNullSafe(bb["k_b"])).select(
        F.col("k").alias("event_key"), "n_a", "n_big"
    )


@register(
    "q_union_by_name",
    oracle="""
SELECT event_key, n_events, sum_value, n_users FROM (
    SELECT event_type AS event_key,
           CAST(count(*) AS BIGINT) AS n_events,
           (round(sum(value) * 10000.0) / 10000.0) AS sum_value,
           CAST(NULL AS BIGINT) AS n_users
    FROM events WHERE event_type IN ('click', 'view')
    GROUP BY 1
    UNION ALL BY NAME
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           event_type AS event_key,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events WHERE event_type IN ('purchase', 'signup')
    GROUP BY event_type
)
""",
    description=(
        "Schema-drift union (unionByName with allowMissingColumns — "
        "DuckDB UNION ALL BY NAME): two producer schemas with different "
        "column ORDER and a column present on only one side combine by "
        "NAME, missing columns null-filled. Positional UNION would "
        "silently misalign columns — the schema-evolution hazard every "
        "multi-producer ingest hits. Pure metadata operation: no shuffle "
        "beyond each side's own aggregate."
    ),
    tags=("relational", "extension", "parity"),
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    side_a = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy(F.col("event_type").alias("event_key"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    side_b = (
        ev.filter(F.col("event_type").isin("purchase", "signup"))
        .groupBy(F.col("event_type").alias("event_key"))
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return side_a.unionByName(side_b, allowMissingColumns=True).select(
        "event_key", "n_events", "sum_value", "n_users"
    )


@register(
    "q_ab_test_ztest",
    oracle="""
WITH assign AS (
    SELECT user_id,
           (('0x' || substring(md5('ab-v1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0)
               AS in_a,
           max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS converted
    FROM events GROUP BY user_id
),
arms AS (
    SELECT CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)                 AS n_a,
           CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT)             AS n_b,
           CAST(sum(CASE WHEN in_a THEN converted ELSE 0 END) AS BIGINT)         AS conv_a,
           CAST(sum(CASE WHEN NOT in_a THEN converted ELSE 0 END) AS BIGINT)     AS conv_b
    FROM assign
)
SELECT n_a, n_b, conv_a, conv_b,
       (round((conv_a * 1.0 / n_a - conv_b * 1.0 / n_b) * 1000000.0) / 1000000.0) AS rate_diff,
       (round(((conv_a * 1.0 / n_a - conv_b * 1.0 / n_b)
               / sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b))
                      * (1.0 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                      * (1.0 / n_a + 1.0 / n_b))) * 1000000.0) / 1000000.0) AS z_score
FROM arms
""",
    description=(
        "A/B experiment readout with a pooled two-proportion z-test: "
        "(conversion = any purchase over 150, non-degenerate at every SF) "
        "users assigned to arms by the cross-engine md5 hash (the same "
        "deterministic-assignment discipline as q_hash_split — rand() "
        "assignment is neither reproducible nor repartition-stable), "
        "conversion = any purchase event, z = (pA-pB)/sqrt(p_pool(1-"
        "p_pool)(1/nA+1/nB)). |z| > 1.96 is the conventional 95% "
        "significance call. One per-user aggregate then a 1-row fold — "
        "the per-user shuffle is the only data-sized stage."
    ),
    tags=("analytics", "extension", "parity"),
)
def q_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

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
    assign = ev.groupBy("user_id").agg(
        F.max(
            F.when((F.col("event_type") == "purchase") & (F.col("value") > 150), 1).otherwise(0)
        ).alias("converted"),
        F.first(in_a).alias("in_a"),
    )
    arms = assign.agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("in_a"), 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("in_a"), F.col("converted")).otherwise(0)).alias("conv_a"),
        F.sum(F.when(~F.col("in_a"), F.col("converted")).otherwise(0)).alias("conv_b"),
    )
    pa = F.col("conv_a") * F.lit(1.0) / F.col("n_a")
    pb = F.col("conv_b") * F.lit(1.0) / F.col("n_b")
    pp = (F.col("conv_a") + F.col("conv_b")) * F.lit(1.0) / (F.col("n_a") + F.col("n_b"))
    return arms.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        stable_round(pa - pb, 6).alias("rate_diff"),
        stable_round(
            (pa - pb)
            / F.sqrt(pp * (F.lit(1.0) - pp) * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))),
            6,
        ).alias("z_score"),
    )


@register(
    "q_id_gap_detection",
    oracle="""
WITH kept AS (
    SELECT event_id FROM events WHERE event_type <> 'error'
),
seq AS (
    SELECT event_id,
           lag(event_id) OVER (ORDER BY event_id) AS prev_id
    FROM kept
)
SELECT prev_id + 1 AS gap_start,
       event_id - 1 AS gap_end,
       CAST(event_id - prev_id - 1 AS BIGINT) AS n_missing
FROM seq
WHERE prev_id IS NOT NULL AND event_id - prev_id > 1
""",
    description=(
        "Sequence-gap detection over a monotonic id column (ingestion "
        "monitoring: find dropped ranges after a lossy stage — here the "
        "'error' rows stand in for lost messages, so the gaps are "
        "nonzero and the oracle discriminates). The global lag() is "
        "computed as a two-phase bucketed carry (bucketed_prefix with "
        "agg='max' over 4096-id buckets: within-bucket exclusive "
        "prefix-max partitioned BY bucket + a bucket-count-sized "
        "prefix over the bucket maxima, broadcast back) — since "
        "event_id is the order key, the exclusive prefix-max IS "
        "lag(event_id), with no single-partition sort of the fact "
        "table. Emits one row PER GAP RANGE (start, end, count), not "
        "per missing id — the report stays gap-count-sized however "
        "wide the holes are."
    ),
    tags=("analytics", "extension", "quality"),
)
def q_id_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.scale import bucketed_prefix

    ev = load_table(spark, sf_dir, "events")
    kept = ev.filter(F.col("event_type") != "error").select("event_id")
    seq = bucketed_prefix(
        kept,
        buckets=[F.expr("event_id div 4096")],
        order_by=[F.asc("event_id")],
        value=F.col("event_id"),
        agg="max",
        exclusive=True,
        out_col="prev_id",
    )
    return seq.filter(
        F.col("prev_id").isNotNull() & (F.col("event_id") - F.col("prev_id") > 1)
    ).select(
        (F.col("prev_id") + 1).alias("gap_start"),
        (F.col("event_id") - 1).alias("gap_end"),
        (F.col("event_id") - F.col("prev_id") - 1).alias("n_missing"),
    )


@register(
    "q_benford_audit",
    oracle="""
WITH digits AS (
    SELECT event_type,
           -- floor() explicitly: DuckDB CAST(double AS BIGINT) rounds, Spark truncates
           CAST(substring(CAST(CAST(floor(value) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS d
    FROM events WHERE value >= 1
),
counts AS (
    SELECT event_type, d, count(*) AS n FROM digits GROUP BY 1, 2
),
tot AS (SELECT event_type, sum(n) AS tot_n FROM counts GROUP BY 1),
expected AS (SELECT i AS d, log10(1.0 + 1.0 / i) AS p FROM range(1, 10) t(i))
SELECT c.event_type,
       c.d,
       CAST(c.n AS BIGINT) AS n,
       (round((c.n * 1.0 / t.tot_n) * 1000000.0) / 1000000.0) AS observed_p,
       (round(e.p * 1000000.0) / 1000000.0) AS benford_p,
       (round(((c.n * 1.0 / t.tot_n - e.p) * (c.n * 1.0 / t.tot_n - e.p) / e.p)
              * 1000000.0) / 1000000.0) AS chi2_term
FROM counts c
JOIN tot t ON t.event_type = c.event_type
JOIN expected e ON e.d = c.d
""",
    description=(
        "Benford's-law first-digit audit per event type — the forensic "
        "data-quality screen for fabricated or truncated numeric "
        "columns: observed first-significant-digit frequencies vs the "
        "log10(1+1/d) expectation, with per-digit chi-square terms "
        "(naturally-spread data roughly conforms; uniform synthetic "
        "data, capped fields, or invented figures deviate hard). One "
        "conditional-aggregate pass; the digit grid (types x 9) is "
        "dimension-sized, the expectation table is generated, not "
        "stored."
    ),
    tags=("analytics", "extension", "quality"),
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    ev = load_table(spark, sf_dir, "events")
    digits = ev.filter(F.col("value") >= 1).select(
        "event_type",
        F.substring(F.floor("value").cast("long").cast("string"), 1, 1)
        .cast("long")
        .alias("d"),
    )
    counts = digits.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.groupBy("event_type").agg(F.sum("n").alias("tot_n"))
    expected = spark.range(1, 10).select(
        F.col("id").alias("e_d"),
        F.log10(F.lit(1.0) + F.lit(1.0) / F.col("id")).alias("p"),
    )
    obs = F.col("n") * F.lit(1.0) / F.col("tot_n")
    return (
        counts.join(tot, "event_type")
        .join(F.broadcast(expected), counts["d"] == expected["e_d"])
        .select(
            "event_type",
            "d",
            "n",
            stable_round(obs, 6).alias("observed_p"),
            stable_round(F.col("p"), 6).alias("benford_p"),
            stable_round((obs - F.col("p")) * (obs - F.col("p")) / F.col("p"), 6).alias(
                "chi2_term"
            ),
        )
    )


@register(
    "q_decimal_money_agg",
    oracle="""
SELECT l_returnflag,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 2))) AS VARCHAR) AS revenue,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 2))
                * CAST(1.0 AS DECIMAL(4, 2))
                - CAST(l_discount AS DECIMAL(18, 6))
                  * CAST(l_extendedprice AS DECIMAL(18, 2))) AS VARCHAR) AS discounted,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag
""",
    description=(
        "Exact-DECIMAL money aggregation semantics pin: revenue summed "
        "as DECIMAL(18,2) — both engines do EXACT fixed-point "
        "accumulation here, so the results compare as strings with NO "
        "stable_round bridge at all (contrast every double aggregate in "
        "this repo). The discipline financial pipelines need: double "
        "summation of money drifts with partition order; decimal "
        "doesn't. Results are cast to VARCHAR so the driver hash "
        "compares the exact decimal rendering, not a re-parsed float."
    ),
    tags=("agg", "extension", "parity"),
)
def q_decimal_money_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,6)")
    return li.groupBy("l_returnflag").agg(
        F.sum(price).cast("string").alias("revenue"),
        F.sum(price * F.lit(1.0).cast("decimal(4,2)") - disc * price)
        .cast("string")
        .alias("discounted"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_dod_growth",
    oracle="""
WITH daily AS (
    SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           (round(sum(value) * 10000.0) / 10000.0) AS revenue
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
)
SELECT day, n_events, revenue,
       (round((revenue - lag(revenue) OVER (ORDER BY day))
              / lag(revenue) OVER (ORDER BY day) * 1000000.0) / 1000000.0)
           AS dod_growth
FROM daily
""",
    description=(
        "Day-over-day growth of purchase revenue — the KPI-dashboard "
        "staple: aggregate-FIRST (the fact shuffle produces a "
        "days-sized series), then lag()/division over the tiny daily "
        "frame, so the trend window costs nothing at any fact scale. "
        "First day's growth is NULL by construction (no prior period), "
        "pinned identically in both engines."
    ),
    tags=("analytics", "extension", "timeseries"),
)
def q_dod_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round(F.sum("value"), 4).alias("revenue"),
        )
    )
    w = Window.orderBy("day")
    prev = F.lag("revenue").over(w)
    return daily.select(
        "day",
        "n_events",
        "revenue",
        stable_round((F.col("revenue") - prev) / prev, 6).alias("dod_growth"),
    )


@register(
    "q_incremental_agg_merge",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       (round(sum(value) * 10000.0) / 10000.0) AS sum_value,
       (round(min(value) * 1000000.0) / 1000000.0) AS min_value,
       (round(max(value) * 1000000.0) / 1000000.0) AS max_value,
       (round((sum(value) / count(*)) * 1000000.0) / 1000000.0) AS avg_value
FROM events
""" + "GROUP BY event_type",
    description=(
        "Incremental view maintenance by partial-aggregate merge: the "
        "'materialized' aggregate over days 1-29 and the new day-30 "
        "delta are aggregated SEPARATELY and merged with the mergeable-"
        "state algebra (counts/sums add, min/min, max/max; avg derived "
        "from merged sum/count — never averaged averages). The oracle "
        "aggregates the WHOLE table directly, so the hash match proves "
        "merge == recompute exactly — the contract that lets a daily "
        "pipeline maintain year-scale aggregates by touching only the "
        "new partition. Both inputs partial-aggregate map-side; the "
        "merge itself is group-count-sized."
    ),
    tags=("analytics", "extension", "agg"),
)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-30").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    base = partial(ev.filter(F.col("ts") < cutoff))
    delta = partial(ev.filter(F.col("ts") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )
    return merged.select(
        "event_type",
        "n",
        stable_round(F.col("s"), 4).alias("sum_value"),
        stable_round(F.col("mn"), 6).alias("min_value"),
        stable_round(F.col("mx"), 6).alias("max_value"),
        stable_round(F.col("s") / F.col("n"), 6).alias("avg_value"),
    )


@register(
    "q_nested_struct_agg",
    oracle="""
WITH nested AS (
    SELECT l_orderkey,
           list(struct_pack(ln := l_linenumber, qty := l_quantity)
                ORDER BY l_linenumber, l_quantity) AS lines
    FROM lineitem
    GROUP BY l_orderkey
)
SELECT l_orderkey,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(lines[1].ln AS BIGINT) AS first_ln,
       (round(list_reduce(list_prepend(0.0::DOUBLE,
                list_transform(lines, s -> s.qty::DOUBLE)), (acc, x) -> acc + x)
              * 10000.0) / 10000.0) AS total_qty
FROM nested
WHERE l_orderkey % 100 = 0
""",
    description=(
        "Nested complex-type analytics: each order's line items collect "
        "into an ORDERED array of structs (sort_array over "
        "struct(linenumber, qty) — unordered collect_list is "
        "nondeterministic under parallelism), then per-order metrics "
        "compute FROM the nested value with higher-order functions "
        "(element access into struct fields, a strict left-to-right "
        "aggregate fold mirrored by DuckDB list_reduce). The "
        "denormalize-then-analyze pattern document stores and export "
        "schemas need; one shuffle on the nesting key."
    ),
    tags=("analytics", "extension", "nested"),
)
def q_nested_struct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    li = load_table(spark, sf_dir, "lineitem")
    nested = (
        li.groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").alias("ln"),
                        F.col("l_quantity").alias("qty"),
                    )
                )
            ).alias("lines")
        )
        .filter(F.col("l_orderkey") % 100 == 0)
    )
    total = F.aggregate(
        F.transform("lines", lambda s: s["qty"].cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return nested.select(
        "l_orderkey",
        F.size("lines").cast("long").alias("n_lines"),
        F.element_at("lines", 1)["ln"].cast("long").alias("first_ln"),
        stable_round(total, 4).alias("total_qty"),
    )


@register(
    "q_rfm_segmentation",
    oracle="""
WITH per_user AS (
    SELECT user_id,
           CAST(epoch_us(TIMESTAMP '2024-01-31' - max(ts)) // 86400000000 AS BIGINT)
               AS recency_days,
           CAST(count(*) AS BIGINT) AS frequency,
           (round(sum(value) * 10000.0) / 10000.0) AS monetary
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
),
scored AS (
    SELECT *,
           ntile(4) OVER (ORDER BY recency_days ASC, user_id) AS r_score,
           ntile(4) OVER (ORDER BY frequency DESC, user_id)   AS f_score,
           ntile(4) OVER (ORDER BY monetary DESC, user_id)    AS m_score
    FROM per_user
)
SELECT CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CAST(count(*) AS BIGINT) AS n_users,
       (round(avg(monetary) * 1000000.0) / 1000000.0) AS avg_monetary
FROM scored
GROUP BY 1, 2, 3
""",
    description=(
        "RFM customer segmentation — the marketing-analytics classic: "
        "per-user Recency (days since last purchase, exact integer "
        "division of µs), Frequency, Monetary from one purchase-scan "
        "aggregate, each quartile-scored with ntile semantics "
        "(deterministic user_id tiebreak so the binning is cross-engine "
        "identical; score 1 = best on every axis), rolled up to segment "
        "sizes and average spend. Each ntile is computed WITHOUT a "
        "global-sort window: a two-phase bucketed rank per axis "
        "(bucketed_rank over order-aligned buckets — exact recency/"
        "negated-frequency values sub-bucketed by user_id, a floor "
        "value-range bucket for monetary) plus the closed-form ntile "
        "arithmetic tile(rk, n) from the broadcast scalar user count. "
        "Bit-identical to ntile(4) because the order is total; no "
        "single-partition stage at ANY user count."
    ),
    tags=("analytics", "extension"),
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.operators.scale import bucketed_rank

    ev = load_table(spark, sf_dir, "events")
    anchor = F.lit("2024-01-31").cast("timestamp")
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            ((F.unix_micros(anchor) - F.unix_micros(F.max("ts"))) / F.lit(86_400_000_000))
            .cast("long")
            .alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            stable_round(F.sum("value"), 4).alias("monetary"),
        )
    )
    ranked = bucketed_rank(
        per_user,
        buckets=[F.col("recency_days"), F.expr("user_id div 4096")],
        order_by=[F.asc("recency_days"), F.asc("user_id")],
        out_col="rk_r",
    )
    ranked = bucketed_rank(
        ranked,
        buckets=[-F.col("frequency"), F.expr("user_id div 4096")],
        order_by=[F.desc("frequency"), F.asc("user_id")],
        out_col="rk_f",
    )
    # monetary is a range bucket (floor of the negated 4dp-exact cents /
    # 4096), so no user_id sub-bucket — a tiebreak sub-bucket is only
    # order-aligned when the leading bucket key pins the exact value.
    ranked = bucketed_rank(
        ranked,
        buckets=[F.floor(F.col("monetary") * F.lit(-10000.0) / F.lit(4096.0)).cast("long")],
        order_by=[F.desc("monetary"), F.asc("user_id")],
        out_col="rk_m",
    )
    from healthcare_etl_spark.operators.scale import ntile_from_rank

    ntot = per_user.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    scored = ranked.crossJoin(F.broadcast(ntot))
    n = F.col("__n")
    return scored.groupBy(
        ntile_from_rank(F.col("rk_r"), n, 4).alias("r_score"),
        ntile_from_rank(F.col("rk_f"), n, 4).alias("f_score"),
        ntile_from_rank(F.col("rk_m"), n, 4).alias("m_score"),
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        stable_round(F.avg("monetary"), 6).alias("avg_monetary"),
    )


@register(
    "q_burstiness_fano",
    oracle="""
WITH daily AS (
    SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS day,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
moments AS (
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_days,
           sum(n)     AS s1,
           sum(n * n) AS s2
    FROM daily GROUP BY user_id
)
SELECT user_id, n_days,
       (round((s1 * 1.0 / n_days) * 1000000.0) / 1000000.0) AS mean_daily,
       (round(((s2 * 1.0 / n_days - (s1 * 1.0 / n_days) * (s1 * 1.0 / n_days))
               / (s1 * 1.0 / n_days)) * 1000000.0) / 1000000.0) AS fano
FROM moments WHERE n_days > 1 AND s1 > 0
""",
    description=(
        "Per-user burstiness via the Fano factor (variance-to-mean "
        "ratio of daily event counts): ~1 = Poisson-like steady "
        "activity, >1 = bursty (bot bursts, batch imports), <1 = "
        "metronomic (schedulers) — the behavioral-signature statistic "
        "fraud and bot detection start from. Exact integer moment sums "
        "(s1, s2) from two stacked aggregates; the variance is computed "
        "population-style from the moments in one fixed expression, so "
        "both engines agree after stable rounding."
    ),
    tags=("analytics", "extension", "timeseries"),
)
def q_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    m = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    mean = F.col("s1") * F.lit(1.0) / F.col("n_days")
    return m.filter((F.col("n_days") > 1) & (F.col("s1") > 0)).select(
        "user_id",
        "n_days",
        stable_round(mean, 6).alias("mean_daily"),
        stable_round(
            (F.col("s2") * F.lit(1.0) / F.col("n_days") - mean * mean) / mean, 6
        ).alias("fano"),
    )


@register(
    "q_share_of_total",
    oracle="""
WITH daily AS (
    SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d') AS day,
           event_type,
           (round(sum(value) * 10000.0) / 10000.0) AS revenue
    FROM events GROUP BY 1, 2
)
SELECT day, event_type, revenue,
       (round((revenue / sum(revenue) OVER (PARTITION BY day)) * 1000000.0) / 1000000.0)
           AS share_of_day,
       (round((revenue / sum(revenue) OVER ()) * 1000000.0) / 1000000.0)
           AS share_of_total
FROM daily
""",
    description=(
        "Share-of-parent contribution margins (the '% of total' every "
        "BI tile needs): each (day, type) cell's share of its day and "
        "of the whole period, via window sums OVER the aggregated "
        "days x types grid — the grid is dimension-sized, so the "
        "keyless total window is metadata-scale here (aggregate-first "
        "discipline; running these windows over raw facts would be the "
        "scale sin). Shares divide stable-rounded revenues, fixed "
        "expression order both engines."
    ),
    tags=("analytics", "extension"),
)
def q_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(stable_round(F.sum("value"), 4).alias("revenue"))
    w_day = Window.partitionBy("day")
    w_all = Window.partitionBy()
    return daily.select(
        "day",
        "event_type",
        "revenue",
        stable_round(F.col("revenue") / F.sum("revenue").over(w_day), 6).alias(
            "share_of_day"
        ),
        stable_round(F.col("revenue") / F.sum("revenue").over(w_all), 6).alias(
            "share_of_total"
        ),
    )


@register(
    "q_event_type_correlation",
    oracle="""
WITH daily AS (
    SELECT time_bucket(INTERVAL '1 day', ts) AS day, event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_days,
           sum(a.n)        AS sa,  sum(b.n)        AS sb,
           sum(a.n * a.n)  AS saa, sum(b.n * b.n)  AS sbb,
           sum(a.n * b.n)  AS sab
    FROM daily a JOIN daily b ON a.day = b.day AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT type_a, type_b, n_days,
       (round(((n_days * sab - sa * sb) * 1.0
               / (sqrt(n_days * saa - sa * sa) * sqrt(n_days * sbb - sb * sb)))
              * 1000000.0) / 1000000.0) AS pearson_r
FROM pairs
""",
    description=(
        "Pairwise Pearson correlation between event types' daily-count "
        "series (do errors spike with traffic? are purchases coupled "
        "to clicks?) — computed from EXACT integer moment sums (sa, "
        "saa, sab are BIGINTs, so the only float work is the final "
        "fixed-order formula; engine-native corr() would accumulate "
        "doubles in engine-specific order). The self-join runs on the "
        "days x types grid, not the fact table — aggregate-first keeps "
        "the correlation matrix metadata-scale at any fact volume."
    ),
    tags=("analytics", "extension", "timeseries"),
)
def q_event_type_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    a = daily.select(F.col("day").alias("d_a"), F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    b = daily.select(F.col("day").alias("d_b"), F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    pairs = (
        a.join(b, (a["d_a"] == b["d_b"]) & (a["type_a"] < b["type_b"]))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("na").alias("sa"),
            F.sum("nb").alias("sb"),
            F.sum(F.col("na") * F.col("na")).alias("saa"),
            F.sum(F.col("nb") * F.col("nb")).alias("sbb"),
            F.sum(F.col("na") * F.col("nb")).alias("sab"),
        )
    )
    num = (F.col("n_days") * F.col("sab") - F.col("sa") * F.col("sb")) * F.lit(1.0)
    den = F.sqrt(F.col("n_days") * F.col("saa") - F.col("sa") * F.col("sa")) * F.sqrt(
        F.col("n_days") * F.col("sbb") - F.col("sb") * F.col("sb")
    )
    return pairs.select(
        "type_a", "type_b", "n_days", stable_round(num / den, 6).alias("pearson_r")
    )


@register(
    "q_recursive_balance",
    oracle="""
WITH RECURSIVE raw AS (
    SELECT event_type, time_bucket(INTERVAL '1 day', ts) AS day, sum(value) AS sv
    FROM events GROUP BY 1, 2
),
deltas AS (
    SELECT event_type, day,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS idx,
           (round((sv - avg(sv) OVER (PARTITION BY event_type)) * 10000.0) / 10000.0) AS delta
    FROM raw
),
bal AS (
    SELECT event_type, idx, day, delta,
           (round(greatest(0.0, delta) * 10000.0) / 10000.0) AS balance
    FROM deltas WHERE idx = 1
    UNION ALL
    SELECT d.event_type, d.idx, d.day, d.delta,
           (round(greatest(0.0, b.balance + d.delta) * 10000.0) / 10000.0)
    FROM bal b JOIN deltas d ON d.event_type = b.event_type AND d.idx = b.idx + 1
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, delta, balance FROM bal
""",
    description=(
        "Zero-clamped running balance via Spark 4's native WITH "
        "RECURSIVE — the recurrence balance[d] = max(0, balance[d-1] + "
        "delta[d]) is NON-ASSOCIATIVE (the clamp), so no window frame "
        "or prefix-sum trick can express it; it traditionally forces a "
        "UDF loop. The engine's UNION-ALL-only recursion is exactly "
        "right here because the per-(type, day-index) chain is acyclic "
        "and linear — one row per step, depth = number of days (see "
        "operators/graph.py for why the same feature canNOT do cyclic "
        "closure). Deltas are each type's daily revenue centered on its "
        "own mean (so the clamp actually engages at every scale "
        "factor), and every step re-rounds identically on both engines, "
        "so the chain stays bit-stable however deep. The recursion runs "
        "over the days x types grid — dimension-sized; the fact shuffle "
        "happens once, before the recursion."
    ),
    tags=("analytics", "extension", "timeseries", "recursive"),
)
def q_recursive_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    raw = ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.sum("value").alias("sv")
    )
    deltas = raw.select(
        "event_type",
        "day",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("idx"),
        (
            F.round(
                (F.col("sv") - F.avg("sv").over(Window.partitionBy("event_type")))
                * 10000.0
            )
            / 10000.0
        ).alias("delta"),
    )
    deltas.createOrReplaceTempView("v_bal_deltas")
    return spark.sql(
        """
WITH RECURSIVE bal AS (
    SELECT event_type, idx, day, delta,
           (round(greatest(0.0, delta) * 10000.0) / 10000.0) AS balance
    FROM v_bal_deltas WHERE idx = 1
    UNION ALL
    SELECT d.event_type, d.idx, d.day, d.delta,
           (round(greatest(0.0, b.balance + d.delta) * 10000.0) / 10000.0)
    FROM bal b JOIN v_bal_deltas d
      ON d.event_type = b.event_type AND d.idx = b.idx + 1
)
SELECT event_type, date_format(day, 'yyyy-MM-dd') AS day, delta, balance FROM bal
"""
    )


@register(
    "q_rate_wilson_ci",
    oracle="""
WITH arms AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN value > 150 THEN 1 ELSE 0 END) AS BIGINT) AS k
    FROM events GROUP BY event_type
)
SELECT event_type, n, k,
       (round((k * 1.0 / n) * 1000000.0) / 1000000.0) AS rate,
       (round(((k * 1.0 / n + 1.9208 / n
                - 1.96 * sqrt((k * 1.0 / n) * (1.0 - k * 1.0 / n) / n + 0.9604 / (n * n)))
               / (1.0 + 3.8416 / n)) * 1000000.0) / 1000000.0) AS wilson_lo,
       (round(((k * 1.0 / n + 1.9208 / n
                + 1.96 * sqrt((k * 1.0 / n) * (1.0 - k * 1.0 / n) / n + 0.9604 / (n * n)))
               / (1.0 + 3.8416 / n)) * 1000000.0) / 1000000.0) AS wilson_hi
FROM arms
""",
    description=(
        "Per-type rate with the Wilson 95% score interval — the "
        "binomial CI that behaves at extreme rates and small n (the "
        "naive Wald interval collapses to zero width at p=0/1, the "
        "classic dashboard lie). Constants are z=1.96 expansions "
        "(z^2=3.8416, z^2/2=1.9208, z^2/4=0.9604) written identically "
        "in both engines so the fixed-order double expression matches "
        "after stable rounding. One partial-aggregated scan; the CI "
        "math runs on the types-sized aggregate."
    ),
    tags=("analytics", "extension", "parity"),
)
def q_rate_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    ev = load_table(spark, sf_dir, "events")
    arms = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") > 150, 1).otherwise(0)).alias("k"),
    )
    p = F.col("k") * F.lit(1.0) / F.col("n")
    half = F.lit(1.96) * F.sqrt(
        p * (F.lit(1.0) - p) / F.col("n") + F.lit(0.9604) / (F.col("n") * F.col("n"))
    )
    denom = F.lit(1.0) + F.lit(3.8416) / F.col("n")
    center = p + F.lit(1.9208) / F.col("n")
    return arms.select(
        "event_type",
        "n",
        "k",
        stable_round(p, 6).alias("rate"),
        stable_round((center - half) / denom, 6).alias("wilson_lo"),
        stable_round((center + half) / denom, 6).alias("wilson_hi"),
    )


@register(
    "q_gini_concentration",
    oracle="""
WITH per_user AS (
    SELECT user_id, sum(value) AS x
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
),
ranked AS (
    SELECT x,
           CAST(row_number() OVER (ORDER BY x, user_id) AS BIGINT) AS i,
           CAST(count(*) OVER () AS BIGINT) AS n,
           sum(x) OVER () AS tot
    FROM per_user
)
SELECT CAST(max(n) AS BIGINT) AS n_users,
       (round((2.0 * sum(i * x) / (max(n) * max(tot))
               - (max(n) + 1.0) / max(n)) * 1000000.0) / 1000000.0) AS gini
FROM ranked
""",
    description=(
        "Gini coefficient of per-user purchase revenue — the "
        "concentration index (0 = perfectly even, ->1 = one whale) "
        "used for revenue-concentration risk and for data-mixture "
        "skew (how concentrated is a corpus across sources/authors). "
        "Computed from the rank formulation G = 2*sum(i*x_i)/(n*sum(x))"
        " - (n+1)/n over the users-sized aggregate. The global rank is "
        "a two-phase bucketed carry (bucketed_rank: within-bucket "
        "row_number partitioned by floor(x/64) value buckets + a "
        "bucket-count-sized offset prefix, broadcast back) — no "
        "single-partition sort at ANY user count; n and sum(x) fold in "
        "the same final aggregate instead of global-frame windows. The "
        "i*x products sum in any order identically after stable "
        "rounding because i and the per-user sums are exact before the "
        "final double fold."
    ),
    tags=("analytics", "extension"),
)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.operators.scale import bucketed_rank

    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum("value").alias("x"))
    )
    ranked = bucketed_rank(
        per_user,
        buckets=[F.floor(F.col("x") / F.lit(64.0)).cast("long")],
        order_by=[F.asc("x"), F.asc("user_id")],
        out_col="i",
    )
    n = F.count(F.lit(1)).cast("long")
    return ranked.agg(
        n.alias("n_users"),
        stable_round(
            F.lit(2.0) * F.sum(F.col("i") * F.col("x")) / (n * F.sum("x"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


@register(
    "q_ewma_smoothing",
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
ewma AS (
    SELECT idx, day, x, x AS s FROM idxd WHERE idx = 1
    UNION ALL
    SELECT d.idx, d.day, d.x,
           (round((0.3 * d.x + 0.7 * e.s) * 10000.0) / 10000.0)
    FROM ewma e JOIN idxd d ON d.idx = e.idx + 1
)
SELECT strftime(day, '%Y-%m-%d') AS day, x AS revenue, s AS ewma
FROM ewma
""",
    description=(
        "Exponentially-weighted moving average of daily revenue "
        "(alpha=0.3) via native WITH RECURSIVE — the smoothing/"
        "forecast-baseline primitive. EWMA is a LINEAR recurrence, so "
        "unlike q_recursive_balance's clamp it has a closed form, but "
        "the recursive statement is the numerically honest one: each "
        "step re-rounds to 4dp identically on both engines, so the "
        "chain cannot drift however long the series. Recursion depth = "
        "days; all data-sized work happens in the one aggregate "
        "producing the daily series."
    ),
    tags=("analytics", "extension", "timeseries", "recursive"),
)
def q_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    raw = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg((F.round(F.sum("value") * 10000.0) / 10000.0).alias("x"))
    )
    idxd = raw.select(
        "day", "x", F.row_number().over(Window.orderBy("day")).cast("long").alias("idx")
    )
    idxd.createOrReplaceTempView("v_ewma_daily")
    return spark.sql(
        """
WITH RECURSIVE ewma AS (
    SELECT idx, day, x, x AS s FROM v_ewma_daily WHERE idx = 1
    UNION ALL
    SELECT d.idx, d.day, d.x,
           (round((0.3 * d.x + 0.7 * e.s) * 10000.0) / 10000.0)
    FROM ewma e JOIN v_ewma_daily d ON d.idx = e.idx + 1
)
SELECT date_format(day, 'yyyy-MM-dd') AS day, x AS revenue, s AS ewma
FROM ewma
"""
    )


@register(
    "q_weekly_churn",
    oracle="""
WITH weekly AS (
    SELECT DISTINCT user_id,
           CAST((epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01')) // 604800000000 AS BIGINT)
               AS week
    FROM events
),
pairs AS (
    SELECT a.week AS week, a.user_id,
           (b.user_id IS NOT NULL) AS retained
    FROM weekly a
    LEFT JOIN weekly b ON b.user_id = a.user_id AND b.week = a.week + 1
    WHERE a.week < (SELECT max(week) FROM weekly)
)
SELECT week,
       CAST(count(*) AS BIGINT) AS n_active,
       CAST(sum(CASE WHEN retained THEN 0 ELSE 1 END) AS BIGINT) AS n_churned,
       (round((sum(CASE WHEN retained THEN 0 ELSE 1 END) * 1.0 / count(*))
              * 1000000.0) / 1000000.0) AS churn_rate
FROM pairs GROUP BY week
""",
    description=(
        "Weekly churn: users active in week W with NO activity in week "
        "W+1 (exact integer-µs week bucketing from a fixed epoch "
        "anchor, so week edges are engine-identical) — the retention "
        "complement to q_cohort_retention's triangle view, shaped as a "
        "self-join of the distinct-reduced (user, week) activity set "
        "(never the raw facts) with a left-join null-probe for the "
        "following week; the final week is excluded since its future "
        "is unobserved."
    ),
    tags=("analytics", "extension", "timeseries"),
)
def q_weekly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    ev = load_table(spark, sf_dir, "events")
    anchor = F.lit("2024-01-01").cast("timestamp")
    weekly = ev.select(
        "user_id",
        ((F.unix_micros("ts") - F.unix_micros(anchor)) / F.lit(604_800_000_000))
        .cast("long")
        .alias("week"),
    ).distinct()
    max_week = weekly.agg(F.max("week").alias("mw"))
    b = weekly.select(F.col("user_id").alias("u_b"), F.col("week").alias("w_b"))
    pairs = (
        weekly.crossJoin(F.broadcast(max_week))
        .filter(F.col("week") < F.col("mw"))
        .join(
            b,
            (F.col("user_id") == F.col("u_b")) & (F.col("w_b") == F.col("week") + 1),
            "left",
        )
        .select("week", "user_id", F.col("u_b").isNotNull().alias("retained"))
    )
    churned = (~F.col("retained")).cast("long")
    return pairs.groupBy("week").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(churned).alias("n_churned"),
        stable_round(F.sum(churned) * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
            "churn_rate"
        ),
    )


@register(
    "q_max_drawdown",
    oracle="""
WITH daily AS (
    SELECT event_type,
           time_bucket(INTERVAL '1 day', ts) AS day,
           (round(sum(value) * 10000.0) / 10000.0) AS x
    FROM events GROUP BY 1, 2
),
peaks AS (
    SELECT event_type, day, x,
           max(x) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
    FROM daily
)
SELECT event_type,
       (round(max((peak - x) / peak) * 1000000.0) / 1000000.0) AS max_drawdown,
       (round(max(peak) * 10000.0) / 10000.0) AS peak_value
FROM peaks GROUP BY event_type
""",
    description=(
        "Maximum drawdown of each type's daily-revenue series — the "
        "worst relative drop from the running peak, the risk metric "
        "finance and SLO dashboards share. Running max IS associative "
        "(unlike q_recursive_balance's clamp), so a prefix-max window "
        "over the days-sized aggregate suffices — no recursion; the "
        "per-row (peak-x)/peak ratios and the final max are order-"
        "independent doubles."
    ),
    tags=("analytics", "extension", "timeseries"),
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        (F.round(F.sum("value") * 10000.0) / 10000.0).alias("x")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peaks = daily.select(
        "event_type", "x", F.max("x").over(w).alias("peak")
    )
    return peaks.groupBy("event_type").agg(
        stable_round(
            F.max((F.col("peak") - F.col("x")) / F.col("peak")), 6
        ).alias("max_drawdown"),
        stable_round(F.max("peak"), 4).alias("peak_value"),
    )


@register(
    "q_event_streaks",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type, ts, event_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn,
           CAST(row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS BIGINT) AS rn_t
    FROM events
),
islands AS (
    SELECT user_id, event_type, rn - rn_t AS island,
           CAST(count(*) AS BIGINT) AS streak_len
    FROM seq GROUP BY 1, 2, 3
)
SELECT event_type,
       CAST(max(streak_len) AS BIGINT) AS longest_streak,
       CAST(count(*) AS BIGINT) AS n_streaks,
       (round(avg(streak_len) * 1000000.0) / 1000000.0) AS avg_streak
FROM islands GROUP BY event_type
""",
    description=(
        "Consecutive same-type event streaks per user via the gaps-and-"
        "islands rn-difference trick: two row_numbers (global per user, "
        "and per (user, type)) differ by a constant exactly within a "
        "run of identical types, so the difference IS the island id — "
        "no self-join, no recursion, just two windows sharing the "
        "user_id shuffle plus a rollup. Streak analysis feeds retry-"
        "storm detection (error streaks) and engagement scoring "
        "(consecutive-activity runs)."
    ),
    tags=("analytics", "extension", "timeseries"),
)
def q_event_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    ev = load_table(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_ut = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w_u).cast("long").alias("rn"),
        F.row_number().over(w_ut).cast("long").alias("rn_t"),
    )
    islands = seq.groupBy(
        "user_id", "event_type", (F.col("rn") - F.col("rn_t")).alias("island")
    ).agg(F.count(F.lit(1)).alias("streak_len"))
    return islands.groupBy("event_type").agg(
        F.max("streak_len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
        stable_round(F.avg("streak_len"), 6).alias("avg_streak"),
    )


@register(
    "q_cohort_ltv",
    oracle="""
WITH firsts AS (
    SELECT user_id, min(time_bucket(INTERVAL '1 day', ts)) AS cohort_day
    FROM events GROUP BY user_id
),
rev AS (
    SELECT f.cohort_day,
           CAST(epoch_us(time_bucket(INTERVAL '1 day', e.ts) - f.cohort_day)
                // 86400000000 AS BIGINT) AS age_days,
           e.value
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    WHERE e.event_type = 'purchase'
),
cohort_sizes AS (
    SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_users FROM firsts GROUP BY 1
),
daily_rev AS (
    SELECT cohort_day, age_days,
           (round(sum(value) * 10000.0) / 10000.0) AS rev
    FROM rev GROUP BY 1, 2
),
cum AS (
    SELECT cohort_day, age_days,
           (round(sum(rev) OVER (PARTITION BY cohort_day ORDER BY age_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000.0) / 10000.0)
               AS cum_rev
    FROM daily_rev
)
SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
       c.age_days,
       s.n_users,
       (round((c.cum_rev / s.n_users) * 1000000.0) / 1000000.0) AS ltv_per_user
FROM cum c JOIN cohort_sizes s ON s.cohort_day = c.cohort_day
WHERE c.age_days <= 7
""",
    description=(
        "Cohort LTV curve: cumulative purchase revenue per user by "
        "cohort age (first 7 days) — the payback/LTV ribbon next to "
        "q_cohort_retention's active-count triangle. Ages computed in "
        "exact integer days from the cohort anchor; daily revenue "
        "stable-rounds BEFORE the cumulative window so the running sums "
        "add identical values on both engines, and the per-user "
        "division happens on the cohort-grid-sized frame. The only "
        "fact-sized work is the cohort-anchor join (per-user table, "
        "never broadcastable at scale) and the revenue aggregate."
    ),
    tags=("analytics", "extension", "timeseries"),
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("cohort_day")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            "cohort_day",
            (
                (
                    F.unix_micros(F.date_trunc("day", "ts"))
                    - F.unix_micros("cohort_day")
                )
                / F.lit(86_400_000_000)
            )
            .cast("long")
            .alias("age_days"),
            "value",
        )
    )
    sizes = firsts.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("n_users"))
    daily_rev = rev.groupBy("cohort_day", "age_days").agg(
        (F.round(F.sum("value") * 10000.0) / 10000.0).alias("rev")
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("age_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily_rev.select(
        "cohort_day",
        "age_days",
        (F.round(F.sum("rev").over(w) * 10000.0) / 10000.0).alias("cum_rev"),
    )
    return (
        cum.filter(F.col("age_days") <= 7)
        .join(sizes, "cohort_day")
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "age_days",
            "n_users",
            stable_round(F.col("cum_rev") / F.col("n_users"), 6).alias("ltv_per_user"),
        )
    )



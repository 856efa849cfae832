"""Shared pieces of the power-iteration queries: the event-type Markov
chains (q_event_transitions, q_markov_stationary, q_entropy_rate,
q_markov_attribution, q_absorbing_markov) and the PageRank oracles
(q_pagerank, q_personalized_pagerank, q_textrank_keywords).

The Spark helpers and the DuckDB helpers share no SQL text, so each
oracle stays an independent reference for the Spark plan it checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import stable_round, stable_round_py, stable_round_sql

# Power rounds of the stationary chain (q_markov_stationary, q_entropy_rate)
# and of PageRank (operators.graph._power_iteration runs five).
CHAIN_ROUNDS = 12
PAGERANK_ROUNDS = 5


# --- Spark side -------------------------------------------------------------


def event_pairs(ev: DataFrame) -> DataFrame:
    """(f, t): each event's type and the type of the same user's next event
    in (ts, event_id) order; a user's last event has no pair."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.col("event_type").alias("f"), F.lead("event_type").over(w).alias("t")
    ).filter(F.col("t").isNotNull())


def transitions(edges: DataFrame) -> DataFrame:
    """(f, t, n, p) over (f, t) edge rows: n edges from f to t, and p their
    6dp-rounded share of all edges leaving f."""
    cnt = edges.groupBy("f", "t").agg(F.count(F.lit(1)).alias("n"))
    tn = F.sum("n").over(Window.partitionBy("f"))
    return cnt.select("f", "t", "n", stable_round(F.col("n") * 1.0 / tn, 6).alias("p"))


def stationary_chain(prob: DataFrame) -> tuple[dict[str, dict[str, float]], dict[str, float]]:
    """Collect the (f, t, p) matrix and run CHAIN_ROUNDS rounds of vector x
    matrix from the uniform vector over the sorted union of sources and
    targets (a state seen only as a target still gets a row). Sums run in
    sorted-state order and every iterate is 6dp-rounded, so the chain is
    bit-identical to the oracle's unrolled CTEs.

    Returns (matrix {f: {t: p}}, stationary vector {state: p} in sorted
    state order). The matrix has |states|^2 entries: collecting it is
    metadata, like k-means centroids; the iteration never touches the
    data again."""
    mat: dict[str, dict[str, float]] = {}
    seen: set[str] = set()
    for r in prob.collect():
        mat.setdefault(r["f"], {})[r["t"]] = r["p"]
        seen.update((r["f"], r["t"]))
    states = sorted(seen)
    v = {s: stable_round_py(1.0 / len(states), 6) for s in states}
    for _ in range(CHAIN_ROUNDS):
        nxt = {}
        for s in states:
            acc = 0.0
            for f in states:
                acc += v[f] * mat.get(f, {}).get(s, 0.0)
            nxt[s] = stable_round_py(acc, 6)
        v = nxt
    return mat, v


# --- DuckDB oracle side -----------------------------------------------------

# Consecutive event types per user, counted: cnt(f, t, n).
PAIR_COUNTS_SQL = """pairs AS (
    SELECT event_type AS f,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
    FROM events
),
cnt AS (
    SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM pairs WHERE t IS NOT NULL GROUP BY 1, 2
)"""


def stationary_oracle_sql() -> str:
    """WITH list of the stationary chain: PAIR_COUNTS_SQL, the transition
    matrix p(f, t, p), states(s), a uniform start v_0 and CHAIN_ROUNDS
    6dp-rounded (vector x matrix) folds v_1 .. v_12, each (s, v). The
    matrix and the rounds are MATERIALIZED: DuckDB would otherwise inline
    the shared matrix into each round."""
    parts = [
        PAIR_COUNTS_SQL,
        "tot AS (SELECT f, CAST(sum(n) AS BIGINT) AS tn FROM cnt GROUP BY 1)",
        f"""p AS MATERIALIZED (
    SELECT c.f, c.t, {stable_round_sql('c.n * 1.0 / tot.tn')} AS p FROM cnt c JOIN tot ON c.f = tot.f
)""",
        "states AS MATERIALIZED (SELECT f AS s FROM cnt UNION SELECT t FROM cnt)",
        "k AS (SELECT CAST(count(*) AS BIGINT) AS kk FROM states)",
        f"v_0 AS (SELECT s, {stable_round_sql('1.0 / kk')} AS v FROM states CROSS JOIN k)",
    ]
    for r in range(1, CHAIN_ROUNDS + 1):
        parts.append(
            f"""v_{r} AS MATERIALIZED (
    SELECT st.s, {stable_round_sql('coalesce(sum(v.v * p.p), 0.0)')} AS v
    FROM states st
    LEFT JOIN p ON p.t = st.s
    LEFT JOIN v_{r - 1} v ON v.s = p.f
    GROUP BY st.s
)"""
        )
    return "WITH " + ",\n".join(parts)


def pagerank_oracle_sql(graph: str, start: str, teleport: str) -> str:
    """WITH list of the unrolled PageRank of operators.graph._power_iteration.

    ``graph`` is a CTE list that defines ``edges(u, v)`` (both directions
    of every link) and ``base(node, d, ...)`` (each node with its
    out-degree and whatever ``start`` and ``teleport`` read through
    ``b``). r0 ranks every node with ``start``; each of PAGERANK_ROUNDS
    rounds adds 0.85 x the rank/out-degree flowing in to ``teleport``.
    Every rank is 10dp-rounded; the rounds are r1 .. r5, each (node, d,
    rank)."""
    parts = [
        f"WITH {graph}",
        f"r0 AS (SELECT b.node, b.d, {stable_round_sql(start, 10)} AS rank FROM base b)",
    ]
    for t in range(1, PAGERANK_ROUNDS + 1):
        rank = stable_round_sql(f"{teleport} + 0.85 * coalesce(c{t}.s, 0.0)", 10)
        parts.append(
            f"""c{t} AS (
    SELECT e.v AS node, sum(r.rank / r.d) AS s
    FROM edges e JOIN r{t - 1} r ON r.node = e.u GROUP BY e.v
),
r{t} AS (
    SELECT b.node, b.d, {rank} AS rank
    FROM base b LEFT JOIN c{t} USING (node)
)"""
        )
    return ",\n".join(parts)

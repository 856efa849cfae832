"""In-engine logistic regression via IRLS (iteratively reweighted least
squares) — the classification member of the in-plan ML family next to
`ridge_2f` (regression), `spherical_kmeans` (clustering), `pca_project`
(dimensionality reduction) and `nb.py` (generative).

Scale shape: every IRLS round is ONE partial-aggregated moment pass over
the feature frame (9 Gram sums + 3 right-hand sides, all map-side
combined), followed by a 3x3 closed-form Cramer solve on that single
row. The model state (3 coefficients) rides the driver between rounds
exactly like the k-means centroids — metadata-scale, never a data-sized
collect. At 100 TB the cost is R sequential scans (R = 4 here), each
embarrassingly parallel, with nothing shuffled but the 12-number
aggregate.

Cross-engine determinism: the moment sums are 6dp-rounded BEFORE the
solve, the solved coefficients are 6dp-rounded before they re-enter the
next round's per-row expressions, and the Cramer expressions are
written identically in the Spark plan and the DuckDB oracle — so both
engines iterate through bit-identical model states (the same discipline
as the k-means / PCA / Holt oracles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import stable_round

ROUNDS = 4  # IRLS rounds of every fit and of its unrolled SQL mirror


def _solve3(a00, a01, a02, a11, a12, a22, b0, b1, b2):
    """Cramer's-rule solve of the symmetric 3x3 system A beta = b.

    Returns (beta0, beta1, beta2) Column expressions. The expression
    tree must stay textually in sync with the oracle built by
    ``irls_oracle_sql`` — both engines evaluate the identical formula.
    """
    det = (
        a00 * (a11 * a22 - a12 * a12)
        - a01 * (a01 * a22 - a12 * a02)
        + a02 * (a01 * a12 - a11 * a02)
    )
    d0 = (
        b0 * (a11 * a22 - a12 * a12)
        - a01 * (b1 * a22 - a12 * b2)
        + a02 * (b1 * a12 - a11 * b2)
    )
    d1 = (
        a00 * (b1 * a22 - a12 * b2)
        - b0 * (a01 * a22 - a12 * a02)
        + a02 * (a01 * b2 - b1 * a02)
    )
    d2 = (
        a00 * (a11 * b2 - b1 * a12)
        - a01 * (a01 * b2 - b1 * a02)
        + b0 * (a01 * a12 - a11 * a02)
    )
    return d0 / det, d1 / det, d2 / det


def logistic_fit(features: DataFrame, *, weight: str | None = None) -> tuple[float, float, float]:
    """Run the ``ROUNDS`` IRLS rounds and return the fitted (b0, b1, b2).

    One moment aggregate per round; the 3-coefficient state crosses the
    driver as three rounded doubles (metadata, like k-means centroids).
    The feature frame is re-scanned per round — callers fitting over an
    expensive lineage should persist it first.

    ``weight`` names an optional row-multiplicity column (sufficient-
    statistics compression: when the features are discrete, fitting over
    the distinct (x1, x2, y) grid with per-combo counts computes the
    same weighted moments from a grid-sized frame instead of re-scanning
    every row each round — the FP reassociation is absorbed by the same
    6dp rounding that already absorbs partition-order nondeterminism).
    """
    beta = (0.0, 0.0, 0.0)
    for _ in range(ROUNDS):
        b0l, b1l, b2l = (F.lit(float(v)) for v in beta)
        eta = b0l + b1l * F.col("x1") + b2l * F.col("x2")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        w = p * (F.lit(1.0) - p)
        z = eta + (F.col("y") - p) / w
        x1, x2 = F.col("x1"), F.col("x2")
        cw = F.col(weight) if weight is not None else None
        s = (lambda e: F.sum(e * cw)) if cw is not None else F.sum
        agg = features.agg(
            stable_round(s(w), 6).alias("a00"),
            stable_round(s(w * x1), 6).alias("a01"),
            stable_round(s(w * x2), 6).alias("a02"),
            stable_round(s(w * x1 * x1), 6).alias("a11"),
            stable_round(s(w * x1 * x2), 6).alias("a12"),
            stable_round(s(w * x2 * x2), 6).alias("a22"),
            stable_round(s(w * z), 6).alias("r0"),
            stable_round(s(w * z * x1), 6).alias("r1"),
            stable_round(s(w * z * x2), 6).alias("r2"),
        )
        nb0, nb1, nb2 = _solve3(
            F.col("a00"), F.col("a01"), F.col("a02"),
            F.col("a11"), F.col("a12"), F.col("a22"),
            F.col("r0"), F.col("r1"), F.col("r2"),
        )
        row = agg.select(
            stable_round(nb0, 6).alias("b0"),
            stable_round(nb1, 6).alias("b1"),
            stable_round(nb2, 6).alias("b2"),
        ).collect()[0]
        beta = (row["b0"], row["b1"], row["b2"])
    return beta


def logistic_irls(features: DataFrame, *, weight: str | None = None) -> DataFrame:
    """Fit y ~ sigmoid(b0 + b1*x1 + b2*x2) by IRLS (see
    :func:`logistic_fit`) and return a 1-row DataFrame with the fitted
    coefficients, the final-model log-likelihood, and training accuracy
    at the 0.5 threshold. ``features`` must have columns ``x1``, ``x2``
    (double) and ``y`` (0/1 integer); ``weight`` optionally names a
    row-multiplicity count (see :func:`logistic_fit`)."""
    beta = logistic_fit(features, weight=weight)
    b0l, b1l, b2l = (F.lit(float(v)) for v in beta)
    eta = b0l + b1l * F.col("x1") + b2l * F.col("x2")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
    y = F.col("y")
    cw = F.col(weight) if weight is not None else None
    n = F.sum(cw) if cw is not None else F.count(F.lit(1))
    ll = y * F.log(p) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - p)
    hit = F.when((p > 0.5).cast("int") == y, 1).otherwise(0)
    return features.agg(
        n.cast("long").alias("n"),
        F.lit(float(beta[0])).alias("beta0"),
        F.lit(float(beta[1])).alias("beta1"),
        F.lit(float(beta[2])).alias("beta2"),
        stable_round(F.sum(ll * cw) if cw is not None else F.sum(ll), 6).alias(
            "log_likelihood"
        ),
        stable_round(
            (F.sum(hit * cw) if cw is not None else F.sum(hit)) / n, 6
        ).alias("accuracy"),
    )


def irls_beta_ctes(features_cte: str) -> tuple[list[str], str]:
    """Build the unrolled IRLS CTE parts mirroring :func:`logistic_fit`.

    ``features_cte`` is SQL producing columns (x1, x2, y). Each round
    expands to a per-row working-response CTE referencing the previous
    round's (rounded) coefficients, a rounded 9+3 moment aggregate, and
    the identical Cramer solve. Round 0's coefficients are literal
    zeros, mirroring the Spark initialisation. Returns the CTE part
    list (including the ``feat`` CTE) and the name of the final beta
    CTE, so callers can compose any scoring query on top.
    """
    r6 = lambda e: f"(round(({e}) * 1000000.0) / 1000000.0)"  # noqa: E731
    parts = [f"feat AS ({features_cte})", "beta_0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)"]
    for r in range(1, ROUNDS + 1):
        prev = f"beta_{r - 1}"
        parts.append(
            f"""pts_{r} AS (
    SELECT x1, x2, y,
           (b.b0 + b.b1 * x1 + b.b2 * x2) AS eta,
           (1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1 + b.b2 * x2)))) AS p
    FROM feat CROSS JOIN {prev} b
)"""
        )
        parts.append(
            f"""agg_{r} AS (
    SELECT {r6('sum(p * (1.0 - p))')} AS a00,
           {r6('sum(p * (1.0 - p) * x1)')} AS a01,
           {r6('sum(p * (1.0 - p) * x2)')} AS a02,
           {r6('sum(p * (1.0 - p) * x1 * x1)')} AS a11,
           {r6('sum(p * (1.0 - p) * x1 * x2)')} AS a12,
           {r6('sum(p * (1.0 - p) * x2 * x2)')} AS a22,
           {r6('sum(p * (1.0 - p) * (eta + (y - p) / (p * (1.0 - p))))')} AS r0,
           {r6('sum(p * (1.0 - p) * (eta + (y - p) / (p * (1.0 - p))) * x1)')} AS r1,
           {r6('sum(p * (1.0 - p) * (eta + (y - p) / (p * (1.0 - p))) * x2)')} AS r2
    FROM pts_{r}
)"""
        )
        det = (
            "(a00 * (a11 * a22 - a12 * a12) - a01 * (a01 * a22 - a12 * a02)"
            " + a02 * (a01 * a12 - a11 * a02))"
        )
        d0 = (
            "(r0 * (a11 * a22 - a12 * a12) - a01 * (r1 * a22 - a12 * r2)"
            " + a02 * (r1 * a12 - a11 * r2))"
        )
        d1 = (
            "(a00 * (r1 * a22 - a12 * r2) - r0 * (a01 * a22 - a12 * a02)"
            " + a02 * (a01 * r2 - r1 * a02))"
        )
        d2 = (
            "(a00 * (a11 * r2 - r1 * a12) - a01 * (a01 * r2 - r1 * a02)"
            " + r0 * (a01 * a12 - a11 * a02))"
        )
        parts.append(
            f"""beta_{r} AS (
    SELECT {r6(f'{d0} / {det}')} AS b0,
           {r6(f'{d1} / {det}')} AS b1,
           {r6(f'{d2} / {det}')} AS b2
    FROM agg_{r}
)"""
        )
    return parts, f"beta_{ROUNDS}"


def irls_oracle_sql(features_cte: str) -> str:
    """Full DuckDB mirror of :func:`logistic_irls` (fit + final scoring
    pass), built on :func:`irls_beta_ctes`."""
    r6 = lambda e: f"(round(({e}) * 1000000.0) / 1000000.0)"  # noqa: E731
    parts, final = irls_beta_ctes(features_cte)
    joined = ",\n".join(parts)
    return f"""WITH {joined},
scored AS (
    SELECT y,
           (1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1 + b.b2 * x2)))) AS p,
           b.b0, b.b1, b.b2
    FROM feat CROSS JOIN {final} b
)
SELECT CAST(count(*) AS BIGINT) AS n,
       max(b0) AS beta0, max(b1) AS beta1, max(b2) AS beta2,
       {r6('sum(y * ln(p) + (1.0 - y) * ln(1.0 - p))')} AS log_likelihood,
       {r6('sum(CASE WHEN CAST(p > 0.5 AS INT) = y THEN 1 ELSE 0 END) * 1.0 / count(*)')}
           AS accuracy
FROM scored
"""


def poisson_fit(features: DataFrame, *, weight: str | None = None) -> tuple[float, float, float]:
    """Poisson GLM (log link) by IRLS: y ~ Poisson(exp(b0 + b1*x1 +
    b2*x2)). Identical machinery to :func:`logistic_fit` with the
    Poisson working weight/response: w = mu, z = eta + (y - mu)/mu —
    one 6dp-rounded moment pass + Cramer 3x3 solve per round, the
    3-coefficient state riding the driver as metadata. ``weight``
    optionally names a row-multiplicity count (see
    :func:`logistic_fit`)."""
    beta = (0.0, 0.0, 0.0)
    for _ in range(ROUNDS):
        b0l, b1l, b2l = (F.lit(float(v)) for v in beta)
        eta = b0l + b1l * F.col("x1") + b2l * F.col("x2")
        mu = F.exp(eta)
        w = mu
        z = eta + (F.col("y") - mu) / mu
        x1, x2 = F.col("x1"), F.col("x2")
        cw = F.col(weight) if weight is not None else None
        s = (lambda e: F.sum(e * cw)) if cw is not None else F.sum
        agg = features.agg(
            stable_round(s(w), 6).alias("a00"),
            stable_round(s(w * x1), 6).alias("a01"),
            stable_round(s(w * x2), 6).alias("a02"),
            stable_round(s(w * x1 * x1), 6).alias("a11"),
            stable_round(s(w * x1 * x2), 6).alias("a12"),
            stable_round(s(w * x2 * x2), 6).alias("a22"),
            stable_round(s(w * z), 6).alias("r0"),
            stable_round(s(w * z * x1), 6).alias("r1"),
            stable_round(s(w * z * x2), 6).alias("r2"),
        )
        nb0, nb1, nb2 = _solve3(
            F.col("a00"), F.col("a01"), F.col("a02"),
            F.col("a11"), F.col("a12"), F.col("a22"),
            F.col("r0"), F.col("r1"), F.col("r2"),
        )
        row = agg.select(
            stable_round(nb0, 6).alias("b0"),
            stable_round(nb1, 6).alias("b1"),
            stable_round(nb2, 6).alias("b2"),
        ).collect()[0]
        beta = (row["b0"], row["b1"], row["b2"])
    return beta


def poisson_beta_ctes(features_cte: str) -> tuple[list[str], str]:
    """Unrolled DuckDB mirror of :func:`poisson_fit` (see
    :func:`irls_beta_ctes` for the structure; only w/z differ)."""
    r6 = lambda e: f"(round(({e}) * 1000000.0) / 1000000.0)"  # noqa: E731
    parts = [
        f"feat AS ({features_cte})",
        "beta_0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)",
    ]
    for r in range(1, ROUNDS + 1):
        prev = f"beta_{r - 1}"
        parts.append(
            f"""pts_{r} AS (
    SELECT x1, x2, y,
           (b.b0 + b.b1 * x1 + b.b2 * x2) AS eta,
           exp(b.b0 + b.b1 * x1 + b.b2 * x2) AS mu
    FROM feat CROSS JOIN {prev} b
)"""
        )
        parts.append(
            f"""agg_{r} AS (
    SELECT {r6('sum(mu)')} AS a00,
           {r6('sum(mu * x1)')} AS a01,
           {r6('sum(mu * x2)')} AS a02,
           {r6('sum(mu * x1 * x1)')} AS a11,
           {r6('sum(mu * x1 * x2)')} AS a12,
           {r6('sum(mu * x2 * x2)')} AS a22,
           {r6('sum(mu * (eta + (y - mu) / mu))')} AS r0,
           {r6('sum(mu * (eta + (y - mu) / mu) * x1)')} AS r1,
           {r6('sum(mu * (eta + (y - mu) / mu) * x2)')} AS r2
    FROM pts_{r}
)"""
        )
        det = (
            "(a00 * (a11 * a22 - a12 * a12) - a01 * (a01 * a22 - a12 * a02)"
            " + a02 * (a01 * a12 - a11 * a02))"
        )
        d0 = (
            "(r0 * (a11 * a22 - a12 * a12) - a01 * (r1 * a22 - a12 * r2)"
            " + a02 * (r1 * a12 - a11 * r2))"
        )
        d1 = (
            "(a00 * (r1 * a22 - a12 * r2) - r0 * (a01 * a22 - a12 * a02)"
            " + a02 * (a01 * r2 - r1 * a02))"
        )
        d2 = (
            "(a00 * (a11 * r2 - r1 * a12) - a01 * (a01 * r2 - r1 * a02)"
            " + r0 * (a01 * a12 - a11 * a02))"
        )
        parts.append(
            f"""beta_{r} AS (
    SELECT {r6(f'{d0} / {det}')} AS b0,
           {r6(f'{d1} / {det}')} AS b1,
           {r6(f'{d2} / {det}')} AS b2
    FROM agg_{r}
)"""
        )
    return parts, f"beta_{ROUNDS}"

"""In-engine generalized linear models by IRLS (iteratively reweighted
least squares) over two features, y ~ mean(b0 + b1*x1 + b2*x2) — the
classification and count members of the in-plan ML family next to
`ridge_2f` (regression), `spherical_kmeans` (clustering), `pca_project`
(dimensionality reduction) and `nb.py` (generative).

Families: the GLMs differ only in the mean of the linear predictor eta,
the working weight w and the working response z. A :class:`Family`
holds those three as SQL, written once and evaluated by both engines
(``F.expr`` in the Spark fit, spliced into the DuckDB unrolling):

- ``LOGISTIC`` (binary y): p = 1/(1+exp(-eta)), w = p(1-p),
  z = eta + (y-p)/w;
- ``POISSON`` (count y, log link): mu = exp(eta), w = mu,
  z = eta + (y-mu)/mu.

Scale shape: :func:`irls_fit` folds the feature frame once to the
distinct (x1, x2, y) grid with a per-combination count, persists it in
one partition, and unpersists it after the last round, so a fit leaves
no cache behind. The features of every caller are ln(1+count) of small
per-user counts, so the grid is tiny (445 rows for 1500 users at
sf0.1): at 100 TB the data is scanned once to build it, not once per
round. Every round (R = 4 here) is then ONE task and ONE job over the
grid, 9 count-weighted moment sums with no exchange, followed by the
3x3 Cramer solve on that single row; the 3-coefficient state rides the
driver between rounds like the k-means centroids. Continuous features
would make the grid as large as the data and the single partition a
bottleneck: this fit is for discrete features.

Cross-engine determinism: the moment sums are 6dp-rounded BEFORE the
solve, the solved coefficients are 6dp-rounded before they re-enter the
next round, and the Cramer formula is one SQL string
(:func:`cramer3_sql`) that both engines evaluate, so both engines
iterate through bit-identical model states (the same discipline as the
k-means / PCA / Holt oracles). The DuckDB mirror
(:func:`irls_beta_ctes`) sums row by row; the grid's count weighting
only reassociates the floating-point sums, which the same 6dp rounding
absorbs exactly as it absorbs partition order.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import stable_round, stable_round_sql

ROUNDS = 4  # IRLS rounds of every fit and of its unrolled SQL mirror


class Family(NamedTuple):
    """A GLM family as SQL over the columns ``eta``, ``y`` and ``name``."""

    name: str  # column holding the mean
    mean: str  # the mean, a template over ``{lin}`` (the linear predictor)
    w: str  # working weight
    z: str  # working response


LOGISTIC = Family(
    "p", "(1.0 / (1.0 + exp(-({lin}))))", "p * (1.0 - p)", "(eta + (y - p) / (p * (1.0 - p)))"
)
POISSON = Family("mu", "exp({lin})", "mu", "(eta + (y - mu) / mu)")

# the symmetric Gram matrix A and the right-hand side r of A beta = r
_GRAM = ("a00", "a01", "a02", "a11", "a12", "a22", "r0", "r1", "r2")


def _moments(family: Family) -> list[str]:
    """The 9 per-row terms whose sums are ``_GRAM``."""
    w, wz = family.w, f"{family.w} * {family.z}"
    return [w, f"{w} * x1", f"{w} * x2", f"{w} * x1 * x1", f"{w} * x1 * x2",
            f"{w} * x2 * x2", wz, f"{wz} * x1", f"{wz} * x2"]


def cramer3_sql(a00, a01, a02, a11, a12, a22, r0, r1, r2) -> tuple[str, str, str]:
    """Cramer's-rule solve of the symmetric 3x3 system A beta = r over
    the given SQL operands: the three solutions as SQL. The DuckDB
    mirrors splice them into their CTEs and the Spark plans evaluate
    them with ``F.expr``, so both engines run one formula."""
    det = (
        f"({a00} * ({a11} * {a22} - {a12} * {a12})"
        f" - {a01} * ({a01} * {a22} - {a12} * {a02})"
        f" + {a02} * ({a01} * {a12} - {a11} * {a02}))"
    )
    d0 = (
        f"({r0} * ({a11} * {a22} - {a12} * {a12})"
        f" - {a01} * ({r1} * {a22} - {a12} * {r2})"
        f" + {a02} * ({r1} * {a12} - {a11} * {r2}))"
    )
    d1 = (
        f"({a00} * ({r1} * {a22} - {a12} * {r2})"
        f" - {r0} * ({a01} * {a22} - {a12} * {a02})"
        f" + {a02} * ({a01} * {r2} - {r1} * {a02}))"
    )
    d2 = (
        f"({a00} * ({a11} * {r2} - {r1} * {a12})"
        f" - {a01} * ({a01} * {r2} - {r1} * {a02})"
        f" + {r0} * ({a01} * {a12} - {a11} * {a02}))"
    )
    return f"{d0} / {det}", f"{d1} / {det}", f"{d2} / {det}"


def _eta(beta, x1: str, x2: str) -> Column:
    b0, b1, b2 = beta
    return F.lit(float(b0)) + F.lit(float(b1)) * F.col(x1) + F.lit(float(b2)) * F.col(x2)


def logistic_p(beta, x1: str = "x1", x2: str = "x2") -> Column:
    """The fitted probability sigmoid(b0 + b1*x1 + b2*x2) as a Column."""
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-_eta(beta, x1, x2)))


def irls_fit(features: DataFrame, family: Family) -> tuple[float, float, float]:
    """Run the ``ROUNDS`` IRLS rounds of ``family`` over ``features``
    (columns x1, x2 double and y) and return the fitted (b0, b1, b2).

    The fit runs over the distinct (x1, x2, y) grid with a per-
    combination count ``cnt``, built and persisted here in one partition
    and unpersisted after the last round. One count-weighted moment
    aggregate per round; the state crosses the driver as three rounded
    doubles."""
    grid = features.groupBy("x1", "x2", "y").agg(F.count(F.lit(1)).alias("cnt"))
    grid = grid.coalesce(1).persist()
    beta = (0.0, 0.0, 0.0)
    try:
        for _ in range(ROUNDS):
            pts = grid.select("x1", "x2", "y", "cnt", _eta(beta, "x1", "x2").alias("eta"))
            pts = pts.withColumn(family.name, F.expr(family.mean.format(lin="eta")))
            agg = pts.agg(*(
                stable_round(F.sum(F.expr(m) * F.col("cnt")), 6).alias(a)
                for a, m in zip(_GRAM, _moments(family))
            ))
            beta = tuple(agg.select(
                *(stable_round(F.expr(s), 6) for s in cramer3_sql(*_GRAM))
            ).collect()[0])
    finally:
        grid.unpersist()
    return beta


def logistic_irls(features: DataFrame) -> DataFrame:
    """Fit y ~ sigmoid(b0 + b1*x1 + b2*x2) by IRLS (see
    :func:`irls_fit`) and return a 1-row DataFrame with the fitted
    coefficients, the final-model log-likelihood, and training accuracy
    at the 0.5 threshold. ``features`` must have columns ``x1``, ``x2``
    (double) and ``y`` (0/1 integer). The fit's grid is gone when this
    returns, so the lazy scoring aggregate recomputes ``features`` from
    their source."""
    beta = irls_fit(features, LOGISTIC)
    p, y = logistic_p(beta), F.col("y")
    n = F.count(F.lit(1))
    ll = y * F.log(p) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - p)
    hit = F.when((p > 0.5).cast("int") == y, 1).otherwise(0)
    return features.agg(
        n.cast("long").alias("n"),
        *(F.lit(float(b)).alias(f"beta{i}") for i, b in enumerate(beta)),
        stable_round(F.sum(ll), 6).alias("log_likelihood"),
        stable_round(F.sum(hit) / n, 6).alias("accuracy"),
    )


def irls_beta_ctes(features_cte: str, family: Family) -> tuple[list[str], str]:
    """Build the unrolled IRLS CTE parts mirroring :func:`irls_fit`.

    ``features_cte`` is SQL producing columns (x1, x2, y). Each round
    expands to a per-row CTE with eta and the family's mean under the
    previous round's (rounded) coefficients, a rounded moment aggregate,
    and the Cramer solve. Round 0's coefficients are literal zeros,
    mirroring the Spark initialisation. Returns the CTE part list
    (including the ``feat`` CTE) and the name of the final beta CTE, so
    callers can compose any scoring query on top.
    """
    lin = "b.b0 + b.b1 * x1 + b.b2 * x2"
    sums = ",\n           ".join(
        f"{stable_round_sql(f'sum({m})')} AS {a}" for a, m in zip(_GRAM, _moments(family))
    )
    b0, b1, b2 = (stable_round_sql(s) for s in cramer3_sql(*_GRAM))
    parts = [f"feat AS ({features_cte})", "beta_0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)"]
    for r in range(1, ROUNDS + 1):
        parts += [
            f"""pts_{r} AS (
    SELECT x1, x2, y,
           ({lin}) AS eta,
           {family.mean.format(lin=lin)} AS {family.name}
    FROM feat CROSS JOIN beta_{r - 1} b
)""",
            f"""agg_{r} AS (
    SELECT {sums}
    FROM pts_{r}
)""",
            f"""beta_{r} AS (
    SELECT {b0} AS b0,
           {b1} AS b1,
           {b2} AS b2
    FROM agg_{r}
)""",
        ]
    return parts, f"beta_{ROUNDS}"


def irls_oracle_sql(features_cte: str) -> str:
    """Full DuckDB mirror of :func:`logistic_irls` (fit + final scoring
    pass), built on :func:`irls_beta_ctes`."""
    parts, final = irls_beta_ctes(features_cte, LOGISTIC)
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
       {stable_round_sql('sum(y * ln(p) + (1.0 - y) * ln(1.0 - p))')} AS log_likelihood,
       {stable_round_sql('sum(CASE WHEN CAST(p > 0.5 AS INT) = y THEN 1 ELSE 0 END) * 1.0 / count(*)')}
           AS accuracy
FROM scored
"""

"""PCA top principal component via power iteration — distributed moment
pass, driver-side O(d^2) iteration over the metadata-sized matrix.

Extension beyond the reference (reference scope is the eager pandas ETL
in ``etl_app/etl_script.py:74-119``): the dimensionality-reduction step
a training-data pipeline runs on an embedding corpus (anisotropy
diagnostics, whitening prep, 1-d quality scores along the dominant
direction).

Shape, at 100 TB:

- The only pass over the corpus computes the d x d moment sums
  (``posexplode`` + ``explode(sequence(...))`` inside the scan stage,
  immediately partial-aggregated — the same one-pass pattern as
  ``q_embedding_covariance``; the shuffle carries ~d^2 partial sums per
  map partition, never the vectors).
- Power iteration runs on the DRIVER over the collected d x d matrix
  (4096 doubles at d=64 — metadata, like IRLS coefficients or k-means
  centroids). Work per iteration is O(d^2), independent of corpus
  size, and costs no Spark job at all.
- The final projection streams the corpus once more against the
  broadcast (mean, component) pair.

Determinism: covariance and mean are ``stable_round``-ed to 6dp (the
only cross-engine-nondeterministic sums); every subsequent operation is
an order-fixed fold of identical doubles, so the learned component and
all projections are bit-identical to the DuckDB oracle. The component's
sign follows from the fixed all-positive start vector (1/sqrt(d) each)
— not canonicalized, documented here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import stable_round
from healthcare_etl_spark.functions.vectors import array_sum


def covariance_rows(emb: DataFrame, *, dim: int = 64) -> tuple[DataFrame, DataFrame]:
    """One ``embedding`` pass -> (full d x d covariance rows (i, j, cov),
    per-dimension means (i, mean)), both 6dp-stable-rounded. The full
    grid (not just the upper triangle) keeps the matvec join-free of a
    mirroring step; production at higher d would mirror the triangle.
    """
    pi = emb.select("embedding", F.posexplode("embedding").alias("i", "xi")).select(
        F.col("i").cast("long").alias("i"), F.col("xi").cast("double").alias("xi"), "embedding"
    )
    pij = pi.select(
        "i",
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(dim - 1).cast("long"))).alias("j"),
        "xi",
        "embedding",
    ).select(
        "i",
        "j",
        (
            F.col("xi")
            * F.element_at("embedding", (F.col("j") + 1).cast("int")).cast("double")
        ).alias("prod"),
    )
    pa = pij.groupBy("i", "j").agg(F.count(F.lit(1)).alias("n"), F.sum("prod").alias("sp"))
    m = pi.groupBy("i").agg(F.sum("xi").alias("s"), F.count(F.lit(1)).alias("n"))
    mi = m.select(F.col("i").alias("mi_i"), F.col("s").alias("s_i"))
    mj = m.select(F.col("i").alias("mj_j"), F.col("s").alias("s_j"))
    cov = (
        pa.join(F.broadcast(mi), pa["i"] == mi["mi_i"])
        .join(F.broadcast(mj), pa["j"] == mj["mj_j"])
        .select(
            "i",
            "j",
            stable_round((F.col("sp") - F.col("s_i") * F.col("s_j") / F.col("n")) / F.col("n"), 6).alias(
                "cov"
            ),
        )
    )
    means = m.select("i", stable_round(F.col("s") / F.col("n"), 6).alias("mean"))
    return cov, means


def _as_array(df: DataFrame, idx: str, val: str, out: str) -> DataFrame:
    """Assemble (idx, val) rows into ONE row holding the values as an
    array ordered by idx (deterministic: array_sort on the struct)."""
    return (
        df.groupBy()
        .agg(F.array_sort(F.collect_list(F.struct(F.col(idx), F.col(val)))).alias("ps"))
        .select(F.transform("ps", lambda s: s[val]).alias(out))
    )


def pca_power_projection(
    emb: DataFrame,
    *,
    dim: int = 64,
    n_iter: int = 32,
) -> DataFrame:
    """Project every ``embedding`` onto the top principal component learned by
    ``n_iter`` power-iteration rounds over the covariance matrix.

    Convergence is ``(lambda2/lambda1)^t`` — near-isotropic corpora
    (like the synthetic fixture, gap ~0.93) need ~32 rounds for cosine
    >0.96 to the true eigenvector; anisotropic real embedding spaces
    converge in a handful. Only the one moment pass and the final
    projection touch the data; the d x d covariance (4096 doubles at
    d=64) is METADATA, so the O(d^2)-per-round iteration runs on the
    driver — the same discipline as the IRLS coefficients and the
    Markov |types|^2 matrix. (The previous in-plan expression chain
    spent its wall time compiling a 32-round Janino fold tree for zero
    distribution benefit — r5 verdict task 7.)

    Determinism: covariance and mean are 6dp-stable-rounded (the only
    cross-engine-nondeterministic sums); the driver loop then folds
    LEFT-TO-RIGHT in ascending j — the exact order the unrolled oracle
    CTEs use — in IEEE doubles, so the learned component and all
    projections stay bit-identical cross-engine.

    Returns (vec_id, pc1) — the mean-centered dot product with the
    learned component, 6dp-rounded.
    """
    import math

    cov, means = covariance_rows(emb, dim=dim)
    C = [[0.0] * dim for _ in range(dim)]
    for r in cov.collect():
        C[r["i"]][r["j"]] = r["cov"]
    v = [1.0 / float(dim) ** 0.5] * dim
    for _ in range(n_iter):
        w = []
        for i in range(dim):
            acc = 0.0
            for j in range(dim):
                acc = acc + C[i][j] * v[j]
            w.append(acc)
        nrm2 = 0.0
        for x in w:
            nrm2 = nrm2 + x * x
        nrm = math.sqrt(nrm2)
        v = [x / nrm for x in w]
    spark = emb.sparkSession
    v_df = spark.range(1).select(F.array(*[F.lit(x) for x in v]).alias("v"))
    mean_v = _as_array(means, "i", "mean", "mv")
    centered = F.zip_with("embedding", "mv", lambda x, m: x.cast("double") - m)
    proj = array_sum(F.zip_with(centered, F.col("v"), lambda d, vi: d * vi))
    return (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(mean_v))
        .crossJoin(F.broadcast(v_df))
        .select("vec_id", stable_round(proj, 6).alias("pc1"))
    )

"""Similarity-search queries over the ``embeddings`` fixture (extension).

The DuckDB oracle mirrors the exact fold order of the Spark expressions
(``zip_with``+``aggregate`` vs ``list_zip``+``list_reduce``, both strict
left-to-right, elements cast to double before multiplying), so the
cosine scores are bit-identical and hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import half_away, stable_round_py, stable_round_sql
from healthcare_etl_spark.operators.similarity import cosine_topk, lsh_ann_topk, neardup_pairs
from healthcare_etl_spark.plans.registry import register
from healthcare_etl_spark.sources import load_table, local_frame

# DuckDB fragments mirroring functions.vectors (fold order preserved).
_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(list_zip({a}, {b}), s -> s[1]::DOUBLE * s[2]::DOUBLE)), "
    "(acc, x) -> acc + x)"
)
_NORM = (
    "sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform({v}, x -> x::DOUBLE * x::DOUBLE)), (acc, x) -> acc + x))"
)
_COS = f"({_DOT} / ({_NORM.format(v='{a}')} * {_NORM.format(v='{b}')}))"
# Squared L2 distance, mirroring functions.vectors.l2_sq (elements cast
# to double before subtracting; bit-identical doubles, so argmin
# orderings agree with no rounding).
_L2SQ = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(list_zip({a}, {b}), "
    "s -> (s[1]::DOUBLE - s[2]::DOUBLE) * (s[1]::DOUBLE - s[2]::DOUBLE))), "
    "(acc, x) -> acc + x)"
)


@register(
    "q_sim_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
scored AS (
    SELECT query_id, neighbor_id,
           (round({_COS.format(a="qv", b="cv")} * 1000000.0) / 1000000.0) AS cosine
    FROM c CROSS JOIN q
)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM scored
) WHERE rank <= 10
""",
    description=(
        "Exact brute-force cosine top-10 per query vector (queries broadcast, corpus "
        "streams through codegen; per-query top-k window). The ANN baseline."
    ),
    tags=("similarity", "extension"),
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    return cosine_topk(queries, corpus, k=10)


@register(
    "q_sim_neardup",
    oracle=f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       (round({_COS.format(a="a.embedding", b="b.embedding")} * 1000000.0) / 1000000.0) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE (round({_COS.format(a="a.embedding", b="b.embedding")} * 1000000.0) / 1000000.0) >= 0.3
""",
    description="Embedding-cosine near-dup pairs (threshold 0.3), exact all-pairs form",
    tags=("similarity", "dedup", "extension"),
)
def q_sim_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return neardup_pairs(emb)


def _ann_lsh_oracle_sql() -> str:
    """DuckDB mirror of the hyperplane-LSH ANN: the seeded planes are
    inlined as list literals (full-precision repr round-trips to the
    identical double), the sign-bit bucket and the cosine fold reproduce
    the Spark expressions exactly."""
    from healthcare_etl_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(8)

    def plane_dot(plane: list[float]) -> str:
        lits = ", ".join(repr(x) for x in plane)
        return (
            "list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(list_zip(embedding, [{lits}]), "
            "s -> s[1]::DOUBLE * s[2]::DOUBLE)), (acc, x) -> acc + x)"
        )

    bucket = " + ".join(
        f"(CASE WHEN {plane_dot(p)} > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )
    return f"""
WITH bucketed AS (
    SELECT vec_id, embedding, ({bucket})::BIGINT AS bucket FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM bucketed WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM bucketed WHERE vec_id >= 5),
scored AS (
    SELECT query_id, neighbor_id,
           (round({_COS.format(a="qv", b="cv")} * 1000000.0) / 1000000.0) AS cosine
    FROM c JOIN q USING (bucket)
)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM scored
) WHERE rank <= 10
"""


@register(
    "q_sim_ann_lsh",
    oracle=_ann_lsh_oracle_sql(),
    description=(
        "Random-hyperplane LSH ANN top-10 (8 planes, seed 42): bucket equi-join "
        "replaces the cross join — the 100 TB path. Oracle-checked (planes inlined "
        "into the SQL); recall vs the exact baseline is unit-tested."
    ),
    tags=("similarity", "extension", "approx"),
)
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    return lsh_ann_topk(queries, corpus)


@register(
    "q_embedding_centroids",
    oracle="""
SELECT label, i AS pos,
       (round(avg(embedding[i + 1]::DOUBLE) * 1000000.0) / 1000000.0) AS centroid_val
FROM embeddings CROSS JOIN range(64) t(i)
GROUP BY label, i
""",
    description=(
        "Per-label embedding centroids (element-wise mean), long form "
        "(label, pos, value): posexplode -> groupBy(label, pos) -> avg. The "
        "vector-aggregation pattern behind IVF coarse quantizers / k-means steps."
    ),
    tags=("similarity", "extension"),
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    return (
        exploded.groupBy(F.col("label"), F.col("pos").cast("long").alias("pos"))
        .agg(stable_round(F.avg(F.col("val").cast("double")), 6).alias("centroid_val"))
    )


@register(
    "q_sim_ann_ivf",
    oracle=f"""
WITH cent_long AS (
    -- centroids come from the indexed corpus only (vec_id >= 5)
    SELECT label AS cell, i AS pos,
           (round(avg(embedding[i + 1]::DOUBLE) * 1000000.0) / 1000000.0) AS v
    FROM embeddings CROSS JOIN range(64) t(i)
    WHERE vec_id >= 5
    GROUP BY label, i
),
cents AS (SELECT cell, list(v ORDER BY pos) AS centroid FROM cent_long GROUP BY cell),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
assign AS (
    SELECT query_id, cell FROM (
        SELECT q.query_id, c.cell,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                   (round({_COS.format(a="q.qv", b="c.centroid")} * 1000000.0) / 1000000.0) DESC,
                   c.cell ASC) AS rn
        FROM q CROSS JOIN cents c
    ) WHERE rn = 1
),
scored AS (
    SELECT a.query_id, e.vec_id AS neighbor_id,
           (round({_COS.format(a="q.qv", b="e.embedding")} * 1000000.0) / 1000000.0) AS cosine
    FROM assign a
    JOIN embeddings e ON e.label = a.cell AND e.vec_id >= 5
    JOIN q ON q.query_id = a.query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM scored
) WHERE rank <= 10
""",
    description=(
        "IVF-style ANN (nprobe=1): query -> nearest label-centroid -> search only "
        "that cell. At scale: cells are bucketed at write time, so the probe is a "
        "partition-pruned scan. Oracle-checked end to end (stable-rounded "
        "centroids as the coarse quantizer)."
    ),
    tags=("similarity", "extension", "approx"),
)
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    return ivf_topk(queries, corpus, k=10)


@register(
    "q_sim_ann_ivf_probe2",
    oracle=f"""
WITH cent_long AS (
    SELECT label AS cell, i AS pos,
           (round(avg(embedding[i + 1]::DOUBLE) * 1000000.0) / 1000000.0) AS v
    FROM embeddings CROSS JOIN range(64) t(i)
    WHERE vec_id >= 5
    GROUP BY label, i
),
cents AS (SELECT cell, list(v ORDER BY pos) AS centroid FROM cent_long GROUP BY cell),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
assign AS (
    SELECT query_id, cell FROM (
        SELECT q.query_id, c.cell,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                   (round({_COS.format(a="q.qv", b="c.centroid")} * 1000000.0) / 1000000.0) DESC,
                   c.cell ASC) AS rn
        FROM q CROSS JOIN cents c
    ) WHERE rn <= 2
),
scored AS (
    SELECT a.query_id, e.vec_id AS neighbor_id,
           (round({_COS.format(a="q.qv", b="e.embedding")} * 1000000.0) / 1000000.0) AS cosine
    FROM assign a
    JOIN embeddings e ON e.label = a.cell AND e.vec_id >= 5
    JOIN q ON q.query_id = a.query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM scored
) WHERE rank <= 10
""",
    description=(
        "IVF-style ANN with multi-probe (nprobe=2): query -> 2 nearest "
        "label-centroids -> search both cells. The standard production recall "
        "knob over q_sim_ann_ivf; recall lift vs the exact scan is unit-tested."
    ),
    tags=("similarity", "extension", "approx"),
)
def q_sim_ann_ivf_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    return ivf_topk(queries, corpus, k=10, nprobe=2)


@register(
    "q_sim_quantized_topk",
    oracle="""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qv,
           greatest(list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max'), 1e-30) AS qs
    FROM embeddings WHERE vec_id < 5
),
c AS (
    SELECT vec_id AS neighbor_id, embedding AS cv,
           greatest(list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max'), 1e-30) AS cs
    FROM embeddings WHERE vec_id >= 5
),
scored AS (
    SELECT query_id, neighbor_id,
           (round((CAST(list_sum(list_transform(list_zip(
                      list_transform(qv, x -> CAST(floor(CAST(x AS DOUBLE) / qs * 127.0 + 0.5) AS BIGINT)),
                      list_transform(cv, x -> CAST(floor(CAST(x AS DOUBLE) / cs * 127.0 + 0.5) AS BIGINT))
                  ), s -> s[1] * s[2])) AS DOUBLE)
                  * qs * cs / (127.0 * 127.0)) * 1000000.0) / 1000000.0) AS qdot
    FROM c CROSS JOIN q
)
SELECT query_id, neighbor_id, qdot, rank FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY qdot DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM scored
) WHERE rank <= 10
""",
    description=(
        "Int8-quantized dot-product top-10 per query: per-vector symmetric "
        "scalar quantization (scale = max|x|, floor(v+0.5) so rounding is "
        "bit-identical cross-engine), integer dot products (exact, no float "
        "summation order), dequantized score. The 100 TB ANN memory path: 4x "
        "smaller vectors and integer SIMD kernels; recall vs exact cosine "
        "asserted in tests"
    ),
    tags=("similarity", "extension"),
)
def q_sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.functions.vectors import dot_int, max_abs, quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    with_q = emb.select(
        "vec_id",
        "embedding",
        max_abs("embedding").alias("s"),
    ).select(
        "vec_id", "s", quantize_int8("embedding", F.col("s")).alias("qvec")
    )
    queries = with_q.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("s").alias("qs"), F.col("qvec").alias("qq")
    )
    corpus = with_q.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), F.col("s").alias("cs"), F.col("qvec").alias("cq")
    )
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "neighbor_id",
        stable_round(
            dot_int("qq", "cq").cast("double") * F.col("qs") * F.col("cs") / F.lit(127.0 * 127.0),
            6,
        ).alias("qdot"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qdot"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "neighbor_id", "qdot", "rank")
    )


# k-means CTE chain (2 unrolled Lloyd iterations, k=4), ending in
# ``a2(vec_id, cluster, cos)`` — reused by q_kmeans_clusters and the
# cluster-balanced sampling composition below.
_KMEANS_CTES = f"""pts AS (SELECT vec_id, embedding AS v FROM embeddings),
c0 AS (
    SELECT vec_id::INT AS cluster, embedding AS centroid
    FROM embeddings WHERE vec_id < 4
),
s1 AS (
    SELECT p.vec_id, p.v, c.cluster,
           (round({_COS.format(a="p.v", b="c.centroid")} * 1000000.0) / 1000000.0) AS cos
    FROM pts p CROSS JOIN c0 c
),
a1 AS (
    SELECT vec_id, v, cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, cluster ASC) AS rn
        FROM s1
    ) WHERE rn = 1
),
c1_long AS (
    SELECT cluster, i AS pos,
           (round(avg(v[i + 1]::DOUBLE) * 1000000.0) / 1000000.0) AS m
    FROM a1 CROSS JOIN range(64) t(i)
    GROUP BY cluster, i
),
c1 AS (SELECT cluster, list(m ORDER BY pos) AS centroid FROM c1_long GROUP BY cluster),
s2 AS (
    SELECT p.vec_id, c.cluster,
           (round({_COS.format(a="p.v", b="c.centroid")} * 1000000.0) / 1000000.0) AS cos
    FROM pts p CROSS JOIN c1 c
),
a2 AS (
    SELECT vec_id, cluster, cos FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, cluster ASC) AS rn
        FROM s2
    ) WHERE rn = 1
)"""


@register(
    "q_kmeans_clusters",
    oracle=f"""
WITH {_KMEANS_CTES}
SELECT vec_id, cluster, cos AS cosine FROM a2
""",
    description=(
        "Spherical k-means (k=4, 2 Lloyd iterations under cosine): broadcast "
        "centroids -> codegen scoring -> per-vector argmax -> element-wise mean "
        "re-aggregate, corpus scanned once per iteration and never shuffled. The "
        "trained-coarse-quantizer step behind IVF / cluster-balanced sampling. "
        "Iterations unrolled as CTEs in the DuckDB oracle, so the full iterative "
        "algorithm is value-hash-checked."
    ),
    tags=("similarity", "extension", "iterative"),
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.similarity import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, k=4, n_iter=2)


@register(
    "q_cluster_balanced_sample",
    oracle=f"""
WITH {_KMEANS_CTES},
keyed AS (
    SELECT vec_id, cluster,
           ('0x' || substring(md5('cbs:' || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
               % 2147483647 AS skey
    FROM a2
)
SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           CAST(row_number() OVER (PARTITION BY cluster
                ORDER BY skey ASC, vec_id ASC) AS BIGINT) AS rn
    FROM keyed
) WHERE rn <= 50
""",
    description=(
        "Cluster-balanced corpus sampling: up to 50 vectors per k-means cluster, "
        "chosen by deterministic salted content hash (repartition-stable, no "
        "rand()) — the diversity-preserving downsampling move for training "
        "corpora. Composes the k-means assignment with a per-cluster "
        "WindowGroupLimit-pre-truncated top-N."
    ),
    tags=("similarity", "extension", "sampling"),
)
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from healthcare_etl_spark.operators.similarity import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_lloyd(emb, k=4, n_iter=2)
    skey = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("cbs:"), F.col("vec_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 2147483647
    )
    w = Window.partitionBy("cluster").orderBy(skey.asc(), F.col("vec_id").asc())
    return (
        assign.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 50)
        .select("vec_id", "cluster")
    )


@register(
    "q_semantic_dedup",
    oracle=f"""
WITH {_KMEANS_CTES},
clustered AS (
    SELECT a2.vec_id, a2.cluster, p.v
    FROM a2 JOIN pts p ON a2.vec_id = p.vec_id
),
dropped AS (
    SELECT DISTINCT b.vec_id
    FROM clustered a JOIN clustered b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE (round({_COS.format(a="a.v", b="b.v")} * 1000000.0) / 1000000.0) >= 0.3
)
SELECT c.vec_id, c.cluster, (d.vec_id IS NULL) AS is_kept
FROM clustered c LEFT JOIN dropped d ON c.vec_id = d.vec_id
""",
    description=(
        "SemDeDup semantic deduplication (arXiv:2303.09540): spherical k-means "
        "clusters the embeddings, then pairwise cosine runs only WITHIN each "
        "cluster (self-equi-join on cluster id — O(sum c_i^2), not O(n^2)); any "
        "vector within 0.3 cosine of a lower-id same-cluster vector is dropped "
        "(min-id keeper). The full iterative clustering + intra-cluster prune is "
        "value-hash-checked via unrolled CTEs."
    ),
    tags=("similarity", "dedup", "extension", "iterative"),
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, n_iter=2, threshold=0.3)


# DuckDB mirror of functions.vectors.sign_bit_words (dim=64, 32-bit words):
# bit i of word w is set iff embedding[w*32 + i + 1] > 0.  32-bit words keep
# every packed value positive, so BIGINT arithmetic is identical on both
# engines.
_SIGN_WORDS = (
    "list_transform(range(0, 2), w -> "
    "list_sum(list_transform(range(0, 32), i -> "
    "CASE WHEN CAST({v}[w * 32 + i + 1] AS DOUBLE) > 0.0 "
    "THEN (1::BIGINT << i) ELSE 0::BIGINT END))::BIGINT)"
)
_HAMMING = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    "s -> bit_count(xor(s[1], s[2])))) AS BIGINT)"
)


@register(
    "q_sim_hamming_topk",
    oracle=f"""
WITH e AS (
    SELECT vec_id, embedding,
           {_SIGN_WORDS.format(v="embedding")} AS words
    FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qv, words AS qw FROM e WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, words AS cw FROM e WHERE vec_id >= 5),
h AS (
    SELECT query_id, neighbor_id, qv, cv,
           {_HAMMING.format(a="qw", b="cw")} AS hamming
    FROM c CROSS JOIN q
),
cand AS (
    SELECT query_id, neighbor_id, qv, cv, hamming FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY hamming ASC, neighbor_id ASC) AS rn
        FROM h
    ) WHERE rn <= 20
),
rer AS (
    SELECT query_id, neighbor_id, hamming,
           (round({_COS.format(a="qv", b="cv")} * 1000000.0) / 1000000.0) AS cosine
    FROM cand
)
SELECT query_id, neighbor_id, hamming, cosine, rank FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM rer
) WHERE rank <= 5
""",
    description=(
        "Binary-quantized ANN, the third memory tier after float32 and int8: "
        "sign bits packed into two 32-bit words per 64-dim vector (32x smaller "
        "payload), Hamming-distance prefilter (xor + popcount, exact integer "
        "math) keeps the best 20 candidates per query, then the exact-cosine "
        "rerank picks the final top-5 — the standard two-stage shape vector "
        "stores use so the full-precision vectors are touched for only the "
        "candidate set. Prefilter + rerank both value-hash-checked; binary "
        "recall vs exact cosine asserted in tests."
    ),
    tags=("similarity", "extension"),
)
def q_sim_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.functions.vectors import (
        cosine_similarity,
        hamming_distance,
        sign_bit_words,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", sign_bit_words("embedding", dim=64).alias("words")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("words").alias("qw"),
    )
    corpus = emb.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("words").alias("cw"),
    )
    # Stage 1 — binary prefilter: only the 16-byte word arrays are compared
    # across the full corpus (queries broadcast, corpus streams). At 100 TB
    # the packed words live beside the vector as a tiny column, so this scan
    # reads ~3% of the embedding bytes.
    pre = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("neighbor_id"))
    cand = (
        corpus.join(F.broadcast(queries))
        .withColumn("hamming", hamming_distance("qw", "cw"))
        .withColumn("rn", F.row_number().over(pre))
        .filter(F.col("rn") <= 20)
    )
    # Stage 2 — exact rerank over the surviving 20 candidates per query only.
    rer = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("cosine", stable_round(cosine_similarity("qv", "cv"), 6))
        .withColumn("rank", F.row_number().over(rer).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "hamming", "cosine", "rank")
    )


# Embedding dimension of the fixture corpus (embeddings.embedding is a
# 64-element array<float>). The covariance query inlines it so both
# engines enumerate the same upper-triangle index grid.
_EMB_DIM = 64


@register(
    "q_embedding_covariance",
    oracle=f"""
WITH e AS (SELECT embedding FROM embeddings),
p AS (
    SELECT ii.i AS i, jj.j AS j,
           embedding[ii.i + 1]::DOUBLE * embedding[jj.j + 1]::DOUBLE AS prod
    FROM e, unnest(range({_EMB_DIM})) AS ii(i), unnest(range({_EMB_DIM})) AS jj(j)
    WHERE jj.j >= ii.i
),
pa AS (
    SELECT i, j, CAST(count(*) AS BIGINT) AS n_vecs, sum(prod) AS sp
    FROM p GROUP BY 1, 2
),
m AS (
    SELECT ii.i AS i, sum(embedding[ii.i + 1]::DOUBLE) AS s
    FROM e, unnest(range({_EMB_DIM})) AS ii(i) GROUP BY 1
)
SELECT pa.i, pa.j, pa.n_vecs,
       ((round((sp / n_vecs) * 1000000.0) / 1000000.0) + 0.0) AS second_moment,
       ((round(((sp - mi.s * mj.s / n_vecs) / n_vecs) * 1000000.0) / 1000000.0) + 0.0) AS cov
FROM pa JOIN m mi ON mi.i = pa.i JOIN m mj ON mj.i = pa.j
""",
    description=(
        "Upper-triangle covariance (and raw second-moment/Gram) matrix of "
        "the 64-d embedding corpus — the input to PCA whitening, OPQ "
        "rotation training, and anisotropy diagnostics on embedding "
        "spaces. Scale shape: the d*(d+1)/2 index pairs are generated "
        "per row INSIDE the scan stage (posexplode + sequence, all "
        "codegen) and immediately partial-aggregated, so the only shuffle "
        "carries ~2080 (i,j) partial sums per map partition — the classic "
        "one-pass moment-aggregation pattern; no self-join of the corpus "
        "on vec_id, no driver-side math. Per-dimension mean sums join "
        "back broadcast-sized (64 rows)."
    ),
    tags=("similarity", "extension", "vectors"),
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    pi = emb.select("embedding", F.posexplode("embedding").alias("i", "xi"))
    pij = pi.select(
        F.col("i").cast("long").alias("i"),
        F.explode(F.sequence(F.col("i").cast("long"), F.lit(_EMB_DIM - 1).cast("long"))).alias("j"),
        F.col("xi").cast("double").alias("xi"),
        "embedding",
    ).select(
        "i",
        "j",
        (F.col("xi") * F.element_at("embedding", (F.col("j") + 1).cast("int")).cast("double")).alias("prod"),
    )
    pa = pij.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.sum("prod").alias("sp")
    )
    m = pi.groupBy(F.col("i").cast("long").alias("i")).agg(
        F.sum(F.col("xi").cast("double")).alias("s")
    )
    mi = m.select(F.col("i").alias("mi_i"), F.col("s").alias("s_i"))
    mj = m.select(F.col("i").alias("mj_j"), F.col("s").alias("s_j"))
    joined = (
        pa.join(F.broadcast(mi), pa["i"] == mi["mi_i"])
        .join(F.broadcast(mj), pa["j"] == mj["mj_j"])
    )
    return joined.select(
        "i",
        "j",
        "n_vecs",
        # "+ 0.0" normalizes IEEE negative zero: DuckDB's std::round keeps
        # the sign (-0.0) while Spark's BigDecimal HALF_UP yields +0.0.
        (stable_round(F.col("sp") / F.col("n_vecs"), 6) + F.lit(0.0)).alias(
            "second_moment"
        ),
        (
            stable_round(
                (F.col("sp") - F.col("s_i") * F.col("s_j") / F.col("n_vecs"))
                / F.col("n_vecs"),
                6,
            )
            + F.lit(0.0)
        ).alias("cov"),
    )


@register(
    "q_embedding_drift",
    oracle=f"""
WITH halves AS (
    SELECT label, vec_id % 2 = 0 AS is_ref, embedding FROM embeddings
),
sums AS (
    SELECT label, is_ref, ii.i AS i,
           sum(embedding[ii.i + 1]::DOUBLE) AS s,
           count(*) AS n
    FROM halves, unnest(range({_EMB_DIM})) AS ii(i)
    GROUP BY 1, 2, 3
),
cent AS (
    SELECT label, i,
           max(CASE WHEN is_ref THEN s / n END)     AS r,
           max(CASE WHEN NOT is_ref THEN s / n END) AS c
    FROM sums GROUP BY 1, 2
),
folded AS (
    SELECT label,
           sum(r * c)  AS dot,
           sum(r * r)  AS nr,
           sum(c * c)  AS nc
    FROM cent GROUP BY label
)
SELECT label,
       (round((dot / (sqrt(nr) * sqrt(nc))) * 1000000.0) / 1000000.0) AS centroid_cosine,
       (round(sqrt(nr) * 1000000.0) / 1000000.0) AS ref_norm,
       (round(sqrt(nc) * 1000000.0) / 1000000.0) AS cur_norm
FROM folded
""",
    description=(
        "Embedding-space drift monitor — the vector complement to "
        "q_psi_drift/q_ks_drift: per label, the corpus splits into "
        "ref/cur cohorts (even/odd vec_id standing in for time), each "
        "cohort's mean embedding (centroid) comes from ONE "
        "partial-aggregated explode pass, and the drift signal is the "
        "cosine between the two centroids (1.0 = no drift; embedding "
        "pipelines alert when a model/content change moves it). All "
        "heavy work is the single (label, cohort, dim) sum aggregate — "
        "dimension-count-sized output, broadcast-scale fold; the same "
        "shape monitors 100 TB of embeddings."
    ),
    tags=("similarity", "extension", "vectors", "timeseries"),
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    emb = load_table(spark, sf_dir, "embeddings")
    sums = (
        emb.select(
            "label",
            (F.col("vec_id") % 2 == 0).alias("is_ref"),
            F.posexplode("embedding").alias("i", "x"),
        )
        .groupBy("label", "is_ref", "i")
        .agg(F.sum(F.col("x").cast("double")).alias("s"), F.count(F.lit(1)).alias("n"))
    )
    cent = sums.groupBy("label", "i").agg(
        F.max(F.when(F.col("is_ref"), F.col("s") / F.col("n"))).alias("r"),
        F.max(F.when(~F.col("is_ref"), F.col("s") / F.col("n"))).alias("c"),
    )
    folded = cent.groupBy("label").agg(
        F.sum(F.col("r") * F.col("c")).alias("dot"),
        F.sum(F.col("r") * F.col("r")).alias("nr"),
        F.sum(F.col("c") * F.col("c")).alias("nc"),
    )
    return folded.select(
        "label",
        stable_round(
            F.col("dot") / (F.sqrt("nr") * F.sqrt("nc")), 6
        ).alias("centroid_cosine"),
        stable_round(F.sqrt("nr"), 6).alias("ref_norm"),
        stable_round(F.sqrt("nc"), 6).alias("cur_norm"),
    )


def _set_ann_eval_oracle() -> None:
    """The recall oracle embeds BOTH registered pipelines' full oracle
    SQLs as CTE bodies — same generated constants, zero duplication."""
    # NOTE: runs at module-import time, while _load_all_modules is still
    # importing the other query modules — must read the raw REGISTRY
    # (both referenced queries register earlier in THIS module), never
    # get_registry(), whose window validation requires the full fleet.
    from healthcare_etl_spark.plans.registry import REGISTRY as reg

    exact_sql = reg["q_sim_topk"].oracle
    lsh_sql = reg["q_sim_ann_lsh"].oracle
    reg["q_ann_recall_eval"].oracle = f"""
WITH ex AS ({exact_sql}),
lsh AS ({lsh_sql}),
hits AS (
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(l.neighbor_id) AS BIGINT) AS n_hit
    FROM ex e LEFT JOIN lsh l
      ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
)
SELECT query_id, n_exact, n_hit,
       (round((n_hit * 1.0 / n_exact) * 1000000.0) / 1000000.0) AS recall_at_10
FROM hits
"""


@register(
    "q_ann_recall_eval",
    oracle=None,  # composed from the two registered oracles below
    description=(
        "ANN recall evaluation: per-query recall@10 of the hyperplane-"
        "LSH index against the exact cosine top-10 — the accuracy row "
        "next to q_minhash_eval's dedup-sketch scoring, and the number "
        "an ANN rollout is judged on before it replaces brute force. "
        "Left join of the exact neighbor list to the LSH list per "
        "query; both sides are top-k-truncated rank lists, so the "
        "comparison is queries x k sized. The oracle embeds BOTH "
        "registered pipelines' oracle SQLs as CTEs — the same "
        "generated hyperplane constants, no duplication."
    ),
    tags=("similarity", "extension", "evaluation", "approx"),
)
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    exact = cosine_topk(queries, corpus, k=10).select("query_id", "neighbor_id")
    lsh = lsh_ann_topk(queries, corpus).select(
        F.col("query_id").alias("l_q"), F.col("neighbor_id").alias("l_n")
    )
    hits = (
        exact.join(
            lsh,
            (exact["query_id"] == lsh["l_q"]) & (exact["neighbor_id"] == lsh["l_n"]),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("l_n").alias("n_hit"),
        )
    )
    return hits.select(
        "query_id",
        "n_exact",
        "n_hit",
        stable_round(F.col("n_hit") * F.lit(1.0) / F.col("n_exact"), 6).alias(
            "recall_at_10"
        ),
    )





@register(
    "q_sim_ann_pq",
    oracle=f"""
WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
seeds AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, embedding AS sv
    FROM corpus ORDER BY vec_id LIMIT 16
),
sub AS (SELECT CAST(j AS INT) AS j FROM range(8) t(j)),
csub AS (
    SELECT c.vec_id, s.j, c.embedding[s.j*8+1 : s.j*8+8] AS sv
    FROM corpus c CROSS JOIN sub s
),
ssub AS (
    SELECT d.code, s.j, d.sv[s.j*8+1 : s.j*8+8] AS cent
    FROM seeds d CROSS JOIN sub s
),
assign0 AS (
    SELECT vec_id, j, code FROM (
        SELECT c.vec_id, c.j, s.code,
               row_number() OVER (PARTITION BY c.vec_id, c.j
                   ORDER BY {_L2SQ.format(a="c.sv", b="s.cent")} ASC, s.code ASC) AS rn
        FROM csub c JOIN ssub s ON s.j = c.j
    ) WHERE rn = 1
),
refined_long AS (
    SELECT a.j, a.code, r.i AS pos,
           (round(avg(c.sv[CAST(r.i AS INT) + 1]::DOUBLE) * 1000000.0) / 1000000.0) AS v
    FROM assign0 a
    JOIN csub c ON c.vec_id = a.vec_id AND c.j = a.j
    CROSS JOIN range(8) r(i)
    GROUP BY a.j, a.code, r.i
),
refined AS (SELECT j, code, list(v ORDER BY pos) AS cent FROM refined_long GROUP BY j, code),
codebook AS (
    SELECT s.j, s.code,
           coalesce(r.cent,
                    list_transform(s.cent, x -> round(x::DOUBLE * 1000000.0) / 1000000.0)
           ) AS cent
    FROM ssub s LEFT JOIN refined r ON r.j = s.j AND r.code = s.code
),
codes AS (
    SELECT vec_id, j, code FROM (
        SELECT c.vec_id, c.j, b.code,
               row_number() OVER (PARTITION BY c.vec_id, c.j
                   ORDER BY {_L2SQ.format(a="c.sv", b="b.cent")} ASC, b.code ASC) AS rn
        FROM csub c JOIN codebook b ON b.j = c.j
    ) WHERE rn = 1
),
qsub AS (
    SELECT q.query_id, s.j, q.qv[s.j*8+1 : s.j*8+8] AS qs
    FROM q CROSS JOIN sub s
),
lut AS (
    SELECT u.query_id, b.j, b.code,
           CAST(floor({_L2SQ.format(a="u.qs", b="b.cent")} * 1000000.0 + 0.5) AS BIGINT) AS ldist
    FROM qsub u JOIN codebook b ON b.j = u.j
),
adc AS (
    SELECT l.query_id, c.vec_id AS neighbor_id, sum(l.ldist) AS adc_dist
    FROM codes c JOIN lut l ON l.j = c.j AND l.code = c.code
    GROUP BY 1, 2
),
cand AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_dist ASC, neighbor_id ASC) AS rn
        FROM adc
    ) WHERE rn <= 32
),
rer AS (
    SELECT cand.query_id, cand.neighbor_id,
           (round({_COS.format(a="q.qv", b="e.embedding")} * 1000000.0) / 1000000.0) AS cosine
    FROM cand
    JOIN corpus e ON e.vec_id = cand.neighbor_id
    JOIN q ON q.query_id = cand.query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM rer
) WHERE rank <= 10
""",
    description=(
        "Product-quantization ANN (Jegou et al. 2011): 8 subspaces x 16-code "
        "codebooks (seeded + one Lloyd refinement), 8-byte codes (32x smaller "
        "than float32), integer ADC scan over a broadcast 128-row per-query "
        "LUT, exact-cosine rerank of the top-32 ADC candidates. The whole "
        "train->encode->search chain is hash-checked against the unrolled-CTE "
        "oracle; recall vs the exact scan is unit-tested."
    ),
    tags=("similarity", "extension", "approx"),
)
def q_sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.pq import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    return pq_topk(queries, corpus, rerank=32)


_set_ann_eval_oracle()


def _mmr_oracle(k: int = 5, pool: int = 20, lam: float = 0.7) -> str:
    """Unrolled-CTE mirror of ``operators.similarity.mmr_rerank``: the
    relevance pool, then per selection round the anti-joined remainder,
    the max-similarity-to-selected aggregate (same _COS fold, same 6dp
    rounding), and the argmax pick with the identical neighbor_id
    tiebreak. ``repr()``-inlined lambda weights reproduce Spark's exact
    doubles (1 - 0.7 is 0.30000000000000004, not 0.3)."""
    lam_r, om_r = repr(float(lam)), repr(1.0 - lam)
    cos_rs = _COS.format(a="r.cv", b="s.cv")
    score = f"(round(({lam_r} * r.relevance - {om_r} * m.max_sim) * 1000000.0) / 1000000.0)"
    parts = [
        f"""q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
scored AS (
    SELECT query_id, neighbor_id, cv,
           (round({_COS.format(a="qv", b="cv")} * 1000000.0) / 1000000.0) AS relevance
    FROM c CROSS JOIN q
),
pool AS (
    SELECT query_id, neighbor_id, cv, relevance FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY relevance DESC, neighbor_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= {pool}
),
sel1 AS (
    SELECT query_id, neighbor_id, cv, relevance, relevance AS mmr_score,
           CAST(1 AS BIGINT) AS step
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY relevance DESC, neighbor_id ASC) AS rn FROM pool)
    WHERE rn = 1
)"""
    ]
    for s in range(2, k + 1):
        prev = " UNION ALL ".join(f"SELECT * FROM sel{i}" for i in range(1, s))
        parts.append(
            f"""selall{s - 1} AS ({prev}),
rem{s} AS (
    SELECT p.* FROM pool p
    WHERE NOT EXISTS (SELECT 1 FROM selall{s - 1} z
                      WHERE z.query_id = p.query_id AND z.neighbor_id = p.neighbor_id)
),
ms{s} AS (
    SELECT r.query_id, r.neighbor_id,
           max((round({cos_rs} * 1000000.0) / 1000000.0)) AS max_sim
    FROM rem{s} r JOIN selall{s - 1} s ON r.query_id = s.query_id
    GROUP BY 1, 2
),
sel{s} AS (
    SELECT query_id, neighbor_id, cv, relevance, mmr_score,
           CAST({s} AS BIGINT) AS step
    FROM (
        SELECT r.query_id, r.neighbor_id, r.cv, r.relevance,
               {score} AS mmr_score,
               row_number() OVER (PARTITION BY r.query_id
                   ORDER BY {score} DESC, r.neighbor_id ASC) AS rn
        FROM rem{s} r JOIN ms{s} m
          ON r.query_id = m.query_id AND r.neighbor_id = m.neighbor_id
    ) WHERE rn = 1
)"""
        )
    final = " UNION ALL ".join(
        f"SELECT query_id, neighbor_id, step, relevance, mmr_score FROM sel{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + final


@register(
    "q_mmr_rerank",
    oracle=_mmr_oracle(),
    description=(
        "Maximal Marginal Relevance diversified re-ranking (Carbonell & "
        "Goldstein 1998): per query, a 20-candidate exact-cosine pool "
        "(corpus streamed once via cosine_topk's pre-truncated window), "
        "then 5 greedy rounds of lam*rel - (1-lam)*max-sim-to-selected "
        "argmax — the diversity pass between retrieval and a RAG context "
        "window. Whole selection sequence hash-matches the unrolled-CTE "
        "oracle (scores 6dp-rounded before every argmax)."
    ),
    tags=("similarity", "extension", "iterative"),
)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.similarity import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_rerank(
        emb.filter(F.col("vec_id") < 5), emb.filter(F.col("vec_id") >= 5), k=5, pool=20, lam=0.7
    )


def _pca_oracle(dim: int = 64, n_iter: int = 32) -> str:
    """Mirror of ``operators.pca.pca_power_projection``: one moment pass
    -> 6dp-rounded covariance + means, the matrix assembled as a nested
    list, then ``n_iter`` matvec+normalize CTEs with the identical
    left-to-right folds (no intermediate rounding — after the cov
    round-off every operation is order-fixed IEEE arithmetic), and the
    final mean-centered projection rounded at 6dp."""

    def fold(inner: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0::DOUBLE, {inner}), (acc, x) -> acc + x)"
        )

    v0 = repr(1.0 / float(dim) ** 0.5)
    parts = [
        f"""e AS (SELECT vec_id, embedding FROM embeddings),
p AS (
    SELECT ii.i AS i, jj.j AS j,
           embedding[ii.i + 1]::DOUBLE * embedding[jj.j + 1]::DOUBLE AS prod
    FROM e, unnest(range({dim})) AS ii(i), unnest(range({dim})) AS jj(j)
),
pa AS (SELECT i, j, count(*) AS n, sum(prod) AS sp FROM p GROUP BY 1, 2),
m AS (
    SELECT ii.i AS i, sum(embedding[ii.i + 1]::DOUBLE) AS s, count(*) AS n
    FROM e, unnest(range({dim})) AS ii(i) GROUP BY 1
),
cov AS (
    SELECT pa.i, pa.j,
           (round(((sp - mi.s * mj.s / pa.n) / pa.n) * 1000000.0) / 1000000.0) AS cv
    FROM pa JOIN m mi ON mi.i = pa.i JOIN m mj ON mj.i = pa.j
),
crows AS (SELECT i, list(cv ORDER BY j) AS crow FROM cov GROUP BY i),
cmat AS (SELECT list(crow ORDER BY i) AS cm FROM crows),
meansv AS (SELECT list((round((s / n) * 1000000.0) / 1000000.0) ORDER BY i) AS mv FROM m),
it0 AS (SELECT list_transform(range({dim}), z -> {v0}::DOUBLE) AS v)"""
    ]
    matvec = fold("list_transform(list_zip(row, v), s -> s[1]::DOUBLE * s[2]::DOUBLE)")
    sumsq = fold("list_transform(w, y -> y * y)")
    for t in range(1, n_iter + 1):
        parts.append(
            f"""it{t} AS (
    SELECT list_transform(w, x -> x / nrm) AS v FROM (
        SELECT w, sqrt({sumsq}) AS nrm FROM (
            SELECT list_transform(cm, row -> {matvec}) AS w
            FROM cmat, it{t - 1}
        )
    )
)"""
        )
    proj = fold("list_transform(list_zip(centered, v), s -> s[1]::DOUBLE * s[2]::DOUBLE)")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT vec_id, (round({proj} * 1000000.0) / 1000000.0) AS pc1
FROM (
    SELECT vec_id,
           list_transform(list_zip(embedding, mv), s -> s[1]::DOUBLE - s[2]::DOUBLE) AS centered
    FROM e, meansv
), it{n_iter}"""
    )


@register(
    "q_pca_projection",
    oracle=_pca_oracle(),
    description=(
        "PCA top-component projection via in-plan power iteration: ONE "
        "moment pass builds the 64x64 covariance (posexplode+sequence "
        "inside the scan, partial-aggregated — the q_embedding_covariance "
        "pattern), the matrix folds into a single nested-array row, and 32 "
        "matvec+normalize rounds run as pure expression work on that one "
        "row (O(d^2) each, independent of corpus size; no shuffle, no "
        "collect). Finally the corpus streams once against the broadcast "
        "(mean, component) pair for per-vector pc1 scores. Bit-identical "
        "to the unrolled-CTE oracle; cosine vs numpy's exact top "
        "eigenvector unit-tested."
    ),
    tags=("similarity", "extension", "vectors", "iterative"),
)
def q_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.pca import pca_power_projection

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_power_projection(emb, dim=64, n_iter=32)


def _register_dim_truncation() -> None:
    cos_full = _COS.format(a="qv", b="cv")
    cos_16 = _COS.format(a="qv[1:16]", b="cv[1:16]")

    @register(
        "q_dim_truncation_recall",
        oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
ex AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY
                   (round({cos_full} * 1000000.0) / 1000000.0) DESC,
                   neighbor_id ASC) AS rn
        FROM c CROSS JOIN q
    ) WHERE rn <= 10
),
tr AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY
                   (round({cos_16} * 1000000.0) / 1000000.0) DESC,
                   neighbor_id ASC) AS rn
        FROM c CROSS JOIN q
    ) WHERE rn <= 10
)
SELECT e.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(t.neighbor_id) AS BIGINT) AS n_hit,
       (round((count(t.neighbor_id) * 1.0 / count(*)) * 1000000.0) / 1000000.0)
           AS recall_at_10
FROM ex e LEFT JOIN tr t
  ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id
GROUP BY e.query_id
""",
        description=(
            "Matryoshka-style dimension-truncation evaluation: recall@10 "
            "of exact cosine search over the FIRST 16 of 64 embedding "
            "dimensions against the full-dimension ranking — the "
            "accuracy-vs-cost curve a team reads before shipping "
            "truncated embeddings (4x memory/bandwidth cut at retrieval "
            "time). Both sides reuse the rank-limit-pushdown cosine_topk "
            "(no new operator); the truncation is a pure F.slice "
            "projection, so the 16-dim pass reads 4x fewer vector bytes "
            "end-to-end at scale."
        ),
        tags=("similarity", "extension", "evaluation", "vectors"),
    )
    def q_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
        from healthcare_etl_spark.functions.rounding import stable_round

        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        corpus = emb.filter(F.col("vec_id") >= 5)
        exact = cosine_topk(queries, corpus, k=10).select("query_id", "neighbor_id")
        q16 = queries.withColumn("embedding", F.slice("embedding", 1, 16))
        c16 = corpus.withColumn("embedding", F.slice("embedding", 1, 16))
        trunc = cosine_topk(q16, c16, k=10).select(
            F.col("query_id").alias("t_q"), F.col("neighbor_id").alias("t_n")
        )
        hits = (
            exact.join(
                trunc,
                (exact["query_id"] == trunc["t_q"])
                & (exact["neighbor_id"] == trunc["t_n"]),
                "left",
            )
            .groupBy("query_id")
            .agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.count("t_n").alias("n_hit"),
            )
        )
        return hits.select(
            "query_id",
            "n_exact",
            "n_hit",
            stable_round(F.col("n_hit") * F.lit(1.0) / F.col("n_exact"), 6).alias(
                "recall_at_10"
            ),
        )


_register_dim_truncation()


def _register_triplet_mining() -> None:
    cos = _COS.format(a="av", b="cv")

    @register(
        "q_triplet_mining",
        oracle=f"""
WITH a AS (
    SELECT vec_id AS a_id, label AS a_label, embedding AS av
    FROM embeddings WHERE vec_id < 25
),
c AS (
    SELECT vec_id AS n_id, label AS c_label, embedding AS cv
    FROM embeddings WHERE vec_id >= 25
),
scored AS (
    SELECT a_id, a_label, n_id, (c_label = a_label) AS same,
           (round({cos} * 1000000.0) / 1000000.0) AS cosine
    FROM c CROSS JOIN a
),
top AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY a_id, same
                      ORDER BY cosine DESC, n_id ASC) AS rn
        FROM scored
    ) WHERE rn = 1
)
SELECT a_id AS anchor_id,
       max(a_label) AS anchor_label,
       max(CASE WHEN same THEN n_id END)      AS pos_id,
       max(CASE WHEN same THEN cosine END)    AS pos_cos,
       max(CASE WHEN NOT same THEN n_id END)  AS neg_id,
       max(CASE WHEN NOT same THEN cosine END) AS neg_cos,
       (round((max(CASE WHEN same THEN cosine END)
               - max(CASE WHEN NOT same THEN cosine END)) * 1000000.0) / 1000000.0)
           AS margin
FROM top GROUP BY a_id
""",
        description=(
            "Hard-triplet mining for contrastive/metric training: per "
            "anchor, the nearest SAME-label corpus vector (positive) and "
            "the nearest DIFFERENT-label vector (hardest negative), with "
            "the triplet margin pos_cos - neg_cos — the batch-mining "
            "pass that decides which pairs are worth a gradient. One "
            "broadcast of the anchor set over the streaming corpus and "
            "ONE window partitioned by (anchor, same-label) — rank-limit "
            "pushdown truncates per scan partition, so the shuffle moves "
            "anchors x 2 x k rows, never the corpus; at 100 TB swap the "
            "exact scan for the IVF/LSH candidate generation exactly as "
            "in the ANN tier."
        ),
        tags=("similarity", "extension", "vectors", "ml-prep"),
    )
    def q_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql.window import Window

        from healthcare_etl_spark.functions.rounding import stable_round
        from healthcare_etl_spark.functions.vectors import cosine_similarity

        emb = load_table(spark, sf_dir, "embeddings")
        anchors = emb.filter(F.col("vec_id") < 25).select(
            F.col("vec_id").alias("a_id"),
            F.col("label").alias("a_label"),
            F.col("embedding").alias("av"),
        )
        corpus = emb.filter(F.col("vec_id") >= 25).select(
            F.col("vec_id").alias("n_id"),
            F.col("label").alias("c_label"),
            F.col("embedding").alias("cv"),
        )
        scored = corpus.crossJoin(F.broadcast(anchors)).select(
            "a_id",
            "a_label",
            "n_id",
            (F.col("c_label") == F.col("a_label")).alias("same"),
            stable_round(cosine_similarity("av", "cv"), 6).alias("cosine"),
        )
        w = Window.partitionBy("a_id", "same").orderBy(
            F.desc("cosine"), F.asc("n_id")
        )
        top = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        pos_cos = F.max(F.when(F.col("same"), F.col("cosine")))
        neg_cos = F.max(F.when(~F.col("same"), F.col("cosine")))
        return top.groupBy(F.col("a_id").alias("anchor_id")).agg(
            F.max("a_label").alias("anchor_label"),
            F.max(F.when(F.col("same"), F.col("n_id"))).alias("pos_id"),
            pos_cos.alias("pos_cos"),
            F.max(F.when(~F.col("same"), F.col("n_id"))).alias("neg_id"),
            neg_cos.alias("neg_cos"),
            stable_round(pos_cos - neg_cos, 6).alias("margin"),
        )


_register_triplet_mining()


def _register_knn_classify() -> None:
    @register(
        "q_knn_classify",
        oracle=f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qv, label AS true_label
    FROM embeddings WHERE vec_id % 10 = 0
),
c AS (
    SELECT vec_id AS neighbor_id, embedding AS cv, label AS c_label
    FROM embeddings WHERE vec_id % 10 <> 0
),
scored AS (
    SELECT query_id, true_label, neighbor_id, c_label,
           (round({_COS.format(a="qv", b="cv")} * 1000000.0) / 1000000.0) AS cosine
    FROM c CROSS JOIN q
),
top AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= 5
),
votes AS (
    SELECT query_id, true_label, c_label AS pred_label,
           CAST(count(*) AS BIGINT) AS votes
    FROM top GROUP BY 1, 2, 3
)
SELECT query_id AS vec_id,
       CAST(true_label AS BIGINT) AS true_label,
       CAST(pred_label AS BIGINT) AS pred_label,
       votes,
       CAST(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END AS BIGINT)
           AS correct
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY votes DESC, pred_label ASC) AS vr
    FROM votes
) WHERE vr = 1
""",
        description=(
            "k-NN label propagation (k=5, cosine): every held-out "
            "vector (vec_id % 10 = 0) takes the majority label of its 5 "
            "nearest train-split neighbors — the standard semi-"
            "supervised labeler for extending a small seed of human "
            "labels across an unlabeled corpus (and, run over the train "
            "split itself, the label-noise detector). Same plan shape "
            "as q_sim_topk: the query split broadcasts, the corpus "
            "streams through codegen, and rank-limit pushdown truncates "
            "each scan partition to its local top-5 before the single "
            "query-id shuffle; the vote is a queries x 5 metadata "
            "aggregate. Ties break (votes DESC, label ASC) identically "
            "on both engines."
        ),
        tags=("similarity", "extension", "vectors", "ml-prep"),
    )
    def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql.window import Window

        from healthcare_etl_spark.functions.rounding import stable_round
        from healthcare_etl_spark.functions.vectors import cosine_similarity

        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") % 10 == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("true_label"),
            F.col("embedding").alias("qv"),
        )
        c = emb.filter(F.col("vec_id") % 10 != 0).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("c_label"),
            F.col("embedding").alias("cv"),
        )
        scored = c.crossJoin(F.broadcast(q)).select(
            "query_id",
            "true_label",
            "neighbor_id",
            "c_label",
            stable_round(cosine_similarity("qv", "cv"), 6).alias("cosine"),
        )
        wk = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        top = scored.withColumn("rnk", F.row_number().over(wk)).filter(
            F.col("rnk") <= 5
        )
        votes = top.groupBy(
            "query_id", "true_label", F.col("c_label").alias("pred_label")
        ).agg(F.count(F.lit(1)).alias("votes"))
        wv = Window.partitionBy("query_id").orderBy(
            F.desc("votes"), F.asc("pred_label")
        )
        return (
            votes.withColumn("vr", F.row_number().over(wv))
            .filter(F.col("vr") == 1)
            .select(
                F.col("query_id").alias("vec_id"),
                F.col("true_label").cast("long").alias("true_label"),
                F.col("pred_label").cast("long").alias("pred_label"),
                "votes",
                (F.col("pred_label") == F.col("true_label"))
                .cast("long")
                .alias("correct"),
            )
        )


_register_knn_classify()


def _register_knn_classify_ivf() -> None:
    @register(
        "q_knn_classify_ivf",
        oracle=f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qv, label AS true_label
    FROM embeddings WHERE vec_id % 10 = 0
),
cent_long AS (
    SELECT label AS cell, i AS pos,
           (round(avg(embedding[i + 1]::DOUBLE) * 1000000.0) / 1000000.0) AS v
    FROM embeddings CROSS JOIN range(64) t(i)
    WHERE vec_id % 10 <> 0
    GROUP BY label, i
),
cents AS (SELECT cell, list(v ORDER BY pos) AS centroid FROM cent_long GROUP BY cell),
assign AS (
    SELECT query_id, cell FROM (
        SELECT q.query_id, c.cell,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                   (round({_COS.format(a="q.qv", b="c.centroid")} * 1000000.0) / 1000000.0) DESC,
                   c.cell ASC) AS rn
        FROM q CROSS JOIN cents c
    ) WHERE rn <= 2
),
scored AS (
    SELECT a.query_id, q.true_label, e.vec_id AS neighbor_id, e.label AS c_label,
           (round({_COS.format(a="q.qv", b="e.embedding")} * 1000000.0) / 1000000.0) AS cosine
    FROM assign a
    JOIN embeddings e ON e.label = a.cell AND e.vec_id % 10 <> 0
    JOIN q ON q.query_id = a.query_id
),
top AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= 5
),
votes AS (
    SELECT query_id, true_label, c_label AS pred_label,
           CAST(count(*) AS BIGINT) AS votes
    FROM top GROUP BY 1, 2, 3
)
SELECT query_id AS vec_id,
       CAST(true_label AS BIGINT) AS true_label,
       CAST(pred_label AS BIGINT) AS pred_label,
       votes,
       CAST(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END AS BIGINT)
           AS correct
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY votes DESC, pred_label ASC) AS vr
    FROM votes
) WHERE vr = 1
""",
        description=(
            "IVF-backed k-NN labeler (r6 verdict task 4 — the pipeline "
            "hot-path form of q_knn_classify): each held-out vector "
            "(vec_id % 10 = 0) probes its nprobe=2 nearest label-"
            "centroid cells and takes the majority label of its 5 "
            "nearest neighbors WITHIN those cells. The exact all-pairs "
            "form stays registered as the offline eval; this variant's "
            "scored set is |Q| x (2 cells) instead of |Q| x corpus — at "
            "100 TB the cells are bucketed at write time so the probe "
            "is a partition-pruned scan. Agreement with the exact "
            "labeler is unit-tested; ties break (votes DESC, label ASC) "
            "identically on both engines."
        ),
        tags=("similarity", "extension", "vectors", "ml-prep", "approx"),
    )
    def q_knn_classify_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql.window import Window

        from healthcare_etl_spark.operators.similarity import ivf_topk

        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") % 10 == 0)
        c = emb.filter(F.col("vec_id") % 10 != 0)
        top = ivf_topk(q, c, k=5, nprobe=2)
        labels_q = q.select(
            F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
        )
        labels_c = c.select(
            F.col("vec_id").alias("neighbor_id"), F.col("label").alias("c_label")
        )
        votes = (
            top.join(F.broadcast(labels_q), "query_id")
            .join(labels_c, "neighbor_id")
            .groupBy("query_id", "true_label", F.col("c_label").alias("pred_label"))
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        wv = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("pred_label"))
        return (
            votes.withColumn("vr", F.row_number().over(wv))
            .filter(F.col("vr") == 1)
            .select(
                F.col("query_id").alias("vec_id"),
                F.col("true_label").cast("long").alias("true_label"),
                F.col("pred_label").cast("long").alias("pred_label"),
                "votes",
                (F.col("pred_label") == F.col("true_label"))
                .cast("long")
                .alias("correct"),
            )
        )


_register_knn_classify_ivf()


def _register_ndcg_eval() -> None:
    @register(
        "q_ndcg_eval",
        oracle=f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qv, label AS q_label
    FROM embeddings WHERE vec_id < 10
),
c AS (
    SELECT vec_id AS neighbor_id, embedding AS cv, label AS c_label
    FROM embeddings WHERE vec_id >= 10
),
scored AS (
    SELECT query_id, q_label, neighbor_id, c_label,
           (round({_COS.format(a="qv", b="cv")} * 1000000.0) / 1000000.0) AS cosine
    FROM c CROSS JOIN q
),
top AS (
    SELECT * FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rnk
        FROM scored
    ) WHERE rnk <= 10
),
dcg AS (
    SELECT query_id,
           CAST(coalesce(sum(CASE WHEN c_label = q_label
                THEN CAST(round(10000000000.0 / log2(rnk + 1)) AS BIGINT)
                ELSE 0 END), 0) AS BIGINT) AS dcg_q
    FROM top GROUP BY 1
),
nrel AS (
    SELECT q.query_id,
           CAST(count(*) FILTER (WHERE c.c_label = q.q_label) AS BIGINT) AS n_rel
    FROM q LEFT JOIN c ON TRUE GROUP BY 1
),
idcg AS (
    SELECT query_id, n_rel,
           CAST(coalesce(sum(CAST(round(10000000000.0 / log2(ii.i + 2))
                                   AS BIGINT)), 0) AS BIGINT) AS idcg_q
    FROM nrel LEFT JOIN unnest(range(10)) AS ii(i)
           ON ii.i < least(n_rel, 10)
    GROUP BY 1, 2
)
SELECT d.query_id AS vec_id, i.n_rel,
       (round((d.dcg_q / 10000000000.0) * 1000000.0) / 1000000.0) AS dcg,
       (round((i.idcg_q / 10000000000.0) * 1000000.0) / 1000000.0) AS idcg,
       CASE WHEN i.idcg_q = 0 THEN 0.0
            ELSE (round((d.dcg_q * 1.0 / i.idcg_q) * 1000000.0) / 1000000.0)
       END AS ndcg
FROM dcg d JOIN idcg i ON i.query_id = d.query_id
""",
        description=(
            "NDCG@10 retrieval evaluation: each probe vector (vec_id < "
            "10) retrieves cosine top-10 from the corpus; a hit is a "
            "same-label neighbor; DCG discounts hits by 1/log2(rank+1) "
            "and normalizes by the ideal DCG of min(10, corpus "
            "same-label count) — the ranking-quality score an embedding "
            "upgrade or an ANN-recall regression moves first, "
            "complementing q_ann_recall_eval's set-overlap view with "
            "position sensitivity. Per-position discount terms are "
            "quantized to BIGINT at 1e-10 BEFORE summing, so both "
            "engines add exact integers in any order (float sums are "
            "order-sensitive; integer sums are not) and NDCG is one "
            "rounded division of BIGINTs. Retrieval is the q_sim_topk "
            "plan (broadcast probes, rank-limit pushdown); the "
            "per-label corpus counts ride a 10-row broadcast."
        ),
        tags=("similarity", "extension", "vectors", "evaluation"),
    )
    def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql.window import Window

        from healthcare_etl_spark.functions.rounding import stable_round
        from healthcare_etl_spark.functions.vectors import cosine_similarity

        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("qv"),
        )
        c = emb.filter(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("c_label"),
            F.col("embedding").alias("cv"),
        )
        scored = c.crossJoin(F.broadcast(q)).select(
            "query_id",
            "q_label",
            "neighbor_id",
            "c_label",
            stable_round(cosine_similarity("qv", "cv"), 6).alias("cosine"),
        )
        wk = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        top = scored.withColumn(
            "rnk", F.row_number().over(wk).cast("long")
        ).filter(F.col("rnk") <= 10)
        # 1e-10-quantized discount terms: BIGINT sums are order-free,
        # so the aggregate needs no ordered fold to stay bit-identical.
        term = F.round(F.lit(10000000000.0) / F.log2(F.col("rnk") + 1)).cast("long")
        dcg = top.groupBy("query_id").agg(
            F.coalesce(
                F.sum(F.when(F.col("c_label") == F.col("q_label"), term).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("dcg_q")
        )
        by_label = c.groupBy("c_label").agg(F.count(F.lit(1)).alias("n_label"))
        nrel = (
            q.join(F.broadcast(by_label), q.q_label == by_label.c_label, "left")
            .select(
                "query_id",
                F.coalesce(F.col("n_label"), F.lit(0)).cast("long").alias("n_rel"),
            )
        )
        ideal_term = lambda i: F.round(  # noqa: E731
            F.lit(10000000000.0) / F.log2(i + 1)
        ).cast("long")
        idcg = nrel.select(
            "query_id",
            "n_rel",
            # guard: Spark's sequence(1, 0) is DESCENDING [1, 0], not
            # empty, so an n_rel=0 query must bypass the fold entirely
            F.when(F.col("n_rel") < 1, F.lit(0).cast("long"))
            .otherwise(
                F.aggregate(
                    F.sequence(F.lit(1), F.least(F.col("n_rel"), F.lit(10)).cast("int")),
                    F.lit(0).cast("long"),
                    lambda acc, i: acc + ideal_term(i),
                )
            )
            .cast("long")
            .alias("idcg_q"),
        )
        out = dcg.join(idcg, "query_id")
        return out.select(
            F.col("query_id").alias("vec_id"),
            "n_rel",
            stable_round(F.col("dcg_q") / 10000000000.0, 6).alias("dcg"),
            stable_round(F.col("idcg_q") / 10000000000.0, 6).alias("idcg"),
            F.when(F.col("idcg_q") == 0, F.lit(0.0))
            .otherwise(stable_round(F.col("dcg_q") * 1.0 / F.col("idcg_q"), 6))
            .alias("ndcg"),
        )


_register_ndcg_eval()


def _register_mrr_eval() -> None:
    @register(
        "q_mrr_eval",
        oracle=f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qv, label AS q_label
    FROM embeddings WHERE vec_id < 10
),
c AS (
    SELECT vec_id AS neighbor_id, embedding AS cv, label AS c_label
    FROM embeddings WHERE vec_id >= 10
),
scored AS (
    SELECT query_id, q_label, neighbor_id, c_label,
           (round({_COS.format(a="qv", b="cv")} * 1000000.0) / 1000000.0) AS cosine
    FROM c CROSS JOIN q
),
top AS (
    SELECT * FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rnk
        FROM scored
    ) WHERE rnk <= 10
),
firsthit AS (
    SELECT q.query_id,
           min(CASE WHEN t.c_label = t.q_label THEN t.rnk END) AS first_rank
    FROM q LEFT JOIN top t ON t.query_id = q.query_id
    GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(count(first_rank) AS BIGINT) AS n_hit,
       (round((CAST(sum(CASE WHEN first_rank IS NOT NULL
                THEN CAST(round(10000000000.0 / first_rank) AS BIGINT)
                ELSE 0 END) AS BIGINT) / 10000000000.0 / count(*))
              * 1000000.0) / 1000000.0) AS mrr
FROM firsthit
""",
        description=(
            "Mean reciprocal rank @10 over the same probe/corpus split "
            "as q_ndcg_eval: per query, the rank of the FIRST same-"
            "label neighbor; MRR averages 1/rank (0 for misses) — the "
            "known-item-search companion to NDCG's graded view, the "
            "right metric when exactly one good hit is what the "
            "retrieval stage owes its consumer (RAG lookup, dedup "
            "probe). Reciprocal ranks are quantized to BIGINT at "
            "1e-10 before the cross-query sum, so the mean is exact-"
            "integer arithmetic until one rounded division; retrieval "
            "reuses the broadcast-probe rank-limit plan."
        ),
        tags=("similarity", "extension", "vectors", "evaluation"),
    )
    def q_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql.window import Window

        from healthcare_etl_spark.functions.rounding import stable_round
        from healthcare_etl_spark.functions.vectors import cosine_similarity

        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("qv"),
        )
        c = emb.filter(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("c_label"),
            F.col("embedding").alias("cv"),
        )
        scored = c.crossJoin(F.broadcast(q)).select(
            "query_id",
            "q_label",
            "neighbor_id",
            "c_label",
            stable_round(cosine_similarity("qv", "cv"), 6).alias("cosine"),
        )
        wk = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        top = scored.withColumn(
            "rnk", F.row_number().over(wk).cast("long")
        ).filter(F.col("rnk") <= 10)
        firsthit = (
            q.select("query_id")
            .join(
                top.filter(F.col("c_label") == F.col("q_label"))
                .groupBy("query_id")
                .agg(F.min("rnk").alias("first_rank")),
                "query_id",
                "left",
            )
        )
        rr_q = F.when(
            F.col("first_rank").isNotNull(),
            F.round(F.lit(10000000000.0) / F.col("first_rank")).cast("long"),
        ).otherwise(F.lit(0))
        return firsthit.agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.count("first_rank").cast("long").alias("n_hit"),
            stable_round(
                F.sum(rr_q).cast("long")
                / 10000000000.0
                / F.count(F.lit(1)),
                6,
            ).alias("mrr"),
        )


_register_mrr_eval()


def _register_cluster_silhouette() -> None:
    @register(
        "q_cluster_silhouette",
        oracle=f"""
WITH {_KMEANS_CTES},
per_vec AS (
    SELECT s.vec_id,
           a.cluster,
           max(CASE WHEN s.cluster = a.cluster THEN s.cos END) AS own_cos,
           max(CASE WHEN s.cluster <> a.cluster THEN s.cos END) AS other_cos
    FROM s2 s JOIN a2 a ON a.vec_id = s.vec_id
    GROUP BY s.vec_id, a.cluster
),
sil AS (
    SELECT cluster,
           CASE WHEN greatest(1.0 - own_cos, 1.0 - other_cos) = 0 THEN 0.0
                ELSE (own_cos - other_cos)
                     / greatest(1.0 - own_cos, 1.0 - other_cos)
           END AS s
    FROM per_vec
)
SELECT cluster,
       CAST(count(*) AS BIGINT) AS n_points,
       (round((CAST(sum(CAST(round(s * 10000000000.0) AS BIGINT)) AS BIGINT)
               / 10000000000.0 / count(*)) * 1000000.0) / 1000000.0)
           AS mean_silhouette
FROM sil GROUP BY cluster
""",
        description=(
            "Simplified (centroid-based) silhouette per k-means "
            "cluster under cosine distance: s = (own_cos - "
            "best_other_cos) / max(1-own_cos, 1-best_other_cos) per "
            "vector, averaged per cluster — the cluster-quality "
            "diagnostic that says whether the IVF coarse quantizer / "
            "cluster-balanced sampler is built on real structure or "
            "noise. The classic silhouette's O(n^2) pairwise distances "
            "are replaced by distances to the k centroids "
            "(Hruschka's simplified form), so cost is the n x k score "
            "matrix the final Lloyd round already computes — zero "
            "extra data-scale work, and the per-vector terms quantize "
            "to BIGINT at 1e-10 before the per-cluster mean so no "
            "float sum order exists."
        ),
        tags=("similarity", "extension", "iterative", "evaluation"),
    )
    def q_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql.window import Window

        from healthcare_etl_spark.functions.rounding import stable_round
        from healthcare_etl_spark.operators.similarity import kmeans_lloyd

        emb = load_table(spark, sf_dir, "embeddings")
        scored = kmeans_lloyd(emb, k=4, n_iter=2, return_scores=True)
        wa = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cluster"))
        assign = (
            scored.withColumn("rn", F.row_number().over(wa))
            .filter(F.col("rn") == 1)
            .select("vec_id", F.col("cluster").alias("own_cluster"))
        )
        per_vec = (
            scored.join(assign, "vec_id")
            .groupBy("vec_id", "own_cluster")
            .agg(
                F.max(
                    F.when(F.col("cluster") == F.col("own_cluster"), F.col("cos"))
                ).alias("own_cos"),
                F.max(
                    F.when(F.col("cluster") != F.col("own_cluster"), F.col("cos"))
                ).alias("other_cos"),
            )
            .withColumnRenamed("own_cluster", "cluster")
        )
        denom = F.greatest(
            F.lit(1.0) - F.col("own_cos"), F.lit(1.0) - F.col("other_cos")
        )
        s = F.when(denom == 0, F.lit(0.0)).otherwise(
            (F.col("own_cos") - F.col("other_cos")) / denom
        )
        sq = F.round(s * 10000000000.0).cast("long")
        return per_vec.groupBy("cluster").agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            stable_round(
                F.sum(sq).cast("long") / 10000000000.0 / F.count(F.lit(1)), 6
            ).alias("mean_silhouette"),
        )


_register_cluster_silhouette()



def _geomedian_oracle(rounds: int = 2) -> str:
    parts = [
        "pts AS (SELECT vec_id, embedding AS v FROM embeddings)",
        f"""m0 AS (
    SELECT i AS pos, {stable_round_sql('avg(v[i + 1]::DOUBLE)')} AS m
    FROM pts CROSS JOIN range(64) t(i) GROUP BY i
)""",
    ]
    for r in range(1, rounds + 1):
        prev = f"m{r - 1}"
        parts.append(
            f"{prev}v AS (SELECT list(m ORDER BY pos) AS mv FROM {prev})"
        )
        parts.append(
            f"""w{r} AS (
    SELECT p.vec_id,
           1.0 / greatest({stable_round_sql('sqrt(' + _L2SQ.format(a='p.v', b='c.mv') + ')')},
                          0.000001) AS w
    FROM pts p CROSS JOIN {prev}v c
)"""
        )
        parts.append(
            f"""m{r} AS (
    SELECT i AS pos,
           {stable_round_sql('sum(w.w * p.v[i + 1]::DOUBLE) / sum(w.w)')} AS m
    FROM pts p JOIN w{r} w ON p.vec_id = w.vec_id
    CROSS JOIN range(64) t(i)
    GROUP BY i
)"""
        )
    joined = ",\n".join(parts)
    return f"""WITH {joined}
SELECT CAST(pos AS BIGINT) AS pos, m AS coord FROM m{rounds} ORDER BY pos
"""


@register(
    "q_geometric_median",
    oracle=_geomedian_oracle(2),
    description=(
        "Geometric median of the embedding corpus by 2 Weiszfeld "
        "iterations from the element-wise mean: m <- sum(v_i/d_i) / "
        "sum(1/d_i) with d_i the L2 distance to the current iterate "
        "(floored at 1e-6 so coincident points cannot divide by zero) "
        "— the ROBUST centroid (50% breakdown point) next to the "
        "mean-based q_embedding_centroid_drift / k-means machinery, "
        "i.e. the right 'typical embedding' when the corpus contains "
        "outlier or adversarial vectors that drag a mean arbitrarily "
        "far. Same iteration shape as kmeans_lloyd: per round ONE "
        "corpus scan (broadcast 1-row iterate, codegen'd zip_with "
        "fold for distances, element-wise weighted re-aggregate); "
        "distances and coordinates are 6dp-stable-rounded per round, "
        "and the distance fold mirrors the oracle's list_reduce "
        "left-to-right so the iterates stay engine-identical."
    ),
    tags=("similarity", "extension", "iterative", "vectors"),
)
def q_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from healthcare_etl_spark.functions.rounding import stable_round

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select("vec_id", F.col("embedding").alias("v"))

    def to_vec(long_df: DataFrame) -> DataFrame:
        return long_df.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("mv")
        ).localCheckpoint(eager=True)

    long0 = pts.select(F.posexplode("v").alias("pos", "val")).groupBy("pos").agg(
        stable_round(F.avg(F.col("val").cast("double")), 6).alias("m")
    )
    cent = to_vec(long0)
    d2 = F.aggregate(
        F.zip_with(
            F.col("v"),
            F.col("mv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    long = None
    for _ in range(2):
        w = pts.crossJoin(F.broadcast(cent)).select(
            "vec_id",
            "v",
            (1.0 / F.greatest(stable_round(F.sqrt(d2), 6), F.lit(0.000001))).alias(
                "w"
            ),
        )
        long = (
            w.select("w", F.posexplode("v").alias("pos", "val"))
            .groupBy("pos")
            .agg(
                stable_round(
                    F.sum(F.col("w") * F.col("val").cast("double")) / F.sum("w"), 6
                ).alias("m")
            )
        )
        cent = to_vec(long)
    return long.select(
        F.col("pos").cast("long").alias("pos"), F.col("m").alias("coord")
    ).orderBy("pos")


@register(
    "q_cluster_agreement",
    oracle=f"""
WITH {_KMEANS_CTES},
ct AS (
    SELECT a.cluster, e.label, CAST(count(*) AS BIGINT) AS n
    FROM a2 a JOIN embeddings e ON e.vec_id = a.vec_id
    GROUP BY 1, 2
),
tots AS (
    SELECT CAST(sum(n) AS BIGINT) AS nn FROM ct
),
rowm AS (SELECT cluster, CAST(sum(n) AS BIGINT) AS a FROM ct GROUP BY cluster),
colm AS (SELECT label, CAST(sum(n) AS BIGINT) AS b FROM ct GROUP BY label),
purity AS (
    SELECT CAST(sum(mx) AS BIGINT) AS hit FROM (
        SELECT cluster, max(n) AS mx FROM ct GROUP BY cluster
    )
),
mi AS (
    SELECT CAST(sum(CAST(round((c.n * 1.0 / t.nn)
                   * ln((c.n * 1.0 * t.nn) / (r.a * 1.0 * m.b))
                   * 1000000000.0) AS BIGINT)) AS BIGINT) AS mi_q
    FROM ct c
    JOIN rowm r ON r.cluster = c.cluster
    JOIN colm m ON m.label = c.label
    CROSS JOIN tots t
),
hs AS (
    SELECT
        (SELECT CAST(sum(CAST(round(-(a * 1.0 / t.nn) * ln(a * 1.0 / t.nn)
                    * 1000000000.0) AS BIGINT)) AS BIGINT)
         FROM rowm CROSS JOIN tots t) AS hc_q,
        (SELECT CAST(sum(CAST(round(-(b * 1.0 / t.nn) * ln(b * 1.0 / t.nn)
                    * 1000000000.0) AS BIGINT)) AS BIGINT)
         FROM colm CROSS JOIN tots t) AS hl_q
),
pairs AS (
    SELECT
        (SELECT CAST(sum(n * (n - 1) / 2) AS BIGINT) FROM ct) AS s_ij,
        (SELECT CAST(sum(a * (a - 1) / 2) AS BIGINT) FROM rowm) AS s_a,
        (SELECT CAST(sum(b * (b - 1) / 2) AS BIGINT) FROM colm) AS s_b,
        (SELECT nn * (nn - 1) / 2 FROM tots) AS s_n
)
SELECT t.nn AS n_vectors,
       (round((p.hit * 1.0 / t.nn) * 1000000.0) / 1000000.0) AS purity,
       (round((mi.mi_q / sqrt(hs.hc_q * 1.0 * hs.hl_q)) * 1000000.0)
        / 1000000.0) AS nmi,
       (round(((pr.s_ij - pr.s_a * 1.0 * pr.s_b / pr.s_n)
               / ((pr.s_a + pr.s_b) / 2.0 - pr.s_a * 1.0 * pr.s_b / pr.s_n))
              * 1000000.0) / 1000000.0) AS adjusted_rand
FROM tots t CROSS JOIN purity p CROSS JOIN mi CROSS JOIN hs CROSS JOIN pairs pr
""",
    description=(
        "External clustering evaluation: the 2-round k-means "
        "assignment (same unrolled chain as q_kmeans_clusters) scored "
        "against the embeddings fixture's ground-truth label column "
        "with purity, NMI (sqrt normalization) and the adjusted Rand "
        "index — the 'did the clusters find the real classes' triple "
        "that the INTERNAL q_kmeans_silhouette cannot answer (a "
        "perfectly tight clustering of the wrong thing scores high "
        "silhouette, zero ARI). Everything folds from the k x |labels| "
        "contingency table: pair counts are exact BIGINT binomials, "
        "MI/entropy terms are 1e-9-quantized BIGINTs before summing "
        "(no float-order leakage), one division each at the end."
    ),
    tags=("similarity", "extension", "ml", "evaluation"),
)
def q_cluster_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from healthcare_etl_spark.operators.similarity import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_lloyd(emb, k=4, n_iter=2).select("vec_id", "cluster")
    ct = (
        assign.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .persist()
    )
    try:
        rows = ct.collect()  # k x |labels| contingency: metadata-scale
    finally:
        ct.unpersist()
    nn = sum(r["n"] for r in rows)
    row_m: dict[int, int] = {}
    col_m: dict[int, int] = {}
    for r in rows:
        row_m[r["cluster"]] = row_m.get(r["cluster"], 0) + r["n"]
        col_m[r["label"]] = col_m.get(r["label"], 0) + r["n"]
    hit = sum(
        max(r["n"] for r in rows if r["cluster"] == c) for c in row_m
    )

    mi_q = sum(
        int(half_away(
            (r["n"] / nn) * math.log(r["n"] * nn / (row_m[r["cluster"]] * col_m[r["label"]])),
            1e9,
        ))
        for r in sorted(rows, key=lambda r: (r["cluster"], r["label"]))
    )
    hc_q = sum(int(half_away(-(a / nn) * math.log(a / nn), 1e9)) for a in row_m.values())
    hl_q = sum(int(half_away(-(b / nn) * math.log(b / nn), 1e9)) for b in col_m.values())
    s_ij = sum(r["n"] * (r["n"] - 1) // 2 for r in rows)
    s_a = sum(a * (a - 1) // 2 for a in row_m.values())
    s_b = sum(b * (b - 1) // 2 for b in col_m.values())
    s_n = nn * (nn - 1) // 2

    exp = s_a * 1.0 * s_b / s_n
    ari = stable_round_py((s_ij - exp) / ((s_a + s_b) / 2.0 - exp), 6)
    return local_frame(
        spark,
        [
            (
                nn,
                stable_round_py(hit * 1.0 / nn, 6),
                stable_round_py(mi_q / math.sqrt(hc_q * 1.0 * hl_q), 6),
                ari,
            )
        ],
        "n_vectors long, purity double, nmi double, adjusted_rand double",
    )



@register(
    "q_mmd_drift",
    oracle=f"""
WITH r AS (
    SELECT vec_id, label, embedding,
           row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rk
    FROM embeddings WHERE label IN (0, 1)
),
s AS (SELECT vec_id, label, embedding FROM r WHERE rk <= 150),
pm AS (
    SELECT x.label AS lx, y.label AS ly,
           CAST(round(exp(-({_L2SQ.format(a="x.embedding", b="y.embedding")})
                          / 64.0) * 1000000000.0) AS BIGINT) AS kq
    FROM s x CROSS JOIN s y
),
g AS (
    SELECT lx, ly, CAST(sum(kq) AS BIGINT) AS sk, CAST(count(*) AS BIGINT) AS c
    FROM pm GROUP BY 1, 2
),
m AS (
    SELECT max(CASE WHEN lx = 0 AND ly = 0 THEN sk END) AS saa,
           max(CASE WHEN lx = 0 AND ly = 0 THEN c  END) AS caa,
           max(CASE WHEN lx = 1 AND ly = 1 THEN sk END) AS sbb,
           max(CASE WHEN lx = 1 AND ly = 1 THEN c  END) AS cbb,
           max(CASE WHEN lx = 0 AND ly = 1 THEN sk END) AS sab,
           max(CASE WHEN lx = 0 AND ly = 1 THEN c  END) AS cab
    FROM g
)
SELECT CAST(round(sqrt(caa * 1.0)) AS BIGINT) AS n_a,
       CAST(round(sqrt(cbb * 1.0)) AS BIGINT) AS n_b,
       (round((saa / (caa * 1000000000.0)) * 1000000.0) / 1000000.0) AS k_aa,
       (round((sbb / (cbb * 1000000000.0)) * 1000000.0) / 1000000.0) AS k_bb,
       (round((sab / (cab * 1000000000.0)) * 1000000.0) / 1000000.0) AS k_ab,
       (round((saa / (caa * 1000000000.0) + sbb / (cbb * 1000000000.0)
               - 2.0 * (sab / (cab * 1000000000.0))) * 1000000.0)
        / 1000000.0) AS mmd2
FROM m
""",
    description=(
        "Kernel two-sample drift: biased-V-statistic MMD^2 between the "
        "label-0 and label-1 embedding populations under an RBF kernel "
        "exp(-||x-y||^2 / 64) (fixed bandwidth; the production choice "
        "is the median pairwise distance heuristic, computed the same "
        "way). The distribution-free companion to q_energy_distance "
        "for HIGH-DIMENSIONAL drift — mean-vector monitors miss "
        "covariance/shape shift that MMD catches. Each squared "
        "distance is a strict left-to-right fold (zip_with+aggregate "
        "vs list_zip+list_reduce — bit-identical), each kernel value "
        "is quantized to integer nano-units before summation, so no "
        "float ordering exists in the O(n^2) reduction. Per-label "
        "deterministic 150-caps bound the pair grid (WindowGroupLimit "
        "pre-truncation); the production path subsamples per block "
        "and averages block MMDs (an unbiased estimator that keeps "
        "the grid bounded at any corpus size)."
    ),
    tags=("similarity", "extension", "drift"),
)
def q_mmd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from healthcare_etl_spark.functions.rounding import stable_round

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("label").isin(0, 1))
    r = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.row_number()
        .over(Window.partitionBy("label").orderBy("vec_id"))
        .alias("rk"),
    )
    s = r.filter(F.col("rk") <= 150).select("vec_id", "label", "embedding")
    diff2 = F.zip_with(
        F.col("x.embedding"),
        F.col("y.embedding"),
        lambda a, b: (a.cast("double") - b.cast("double"))
        * (a.cast("double") - b.cast("double")),
    )
    d2 = F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v)
    kq = F.round(F.exp(-d2 / F.lit(64.0)) * 1000000000.0).cast("long")
    pm = (
        s.alias("x")
        .crossJoin(F.broadcast(s.alias("y")))
        .select(
            F.col("x.label").alias("lx"),
            F.col("y.label").alias("ly"),
            kq.alias("kq"),
        )
    )
    g = pm.groupBy("lx", "ly").agg(
        F.sum("kq").cast("long").alias("sk"), F.count(F.lit(1)).cast("long").alias("c")
    )

    def cell(lx, ly, col):
        return F.max(F.when((F.col("lx") == lx) & (F.col("ly") == ly), F.col(col)))

    m = g.agg(
        cell(0, 0, "sk").alias("saa"),
        cell(0, 0, "c").alias("caa"),
        cell(1, 1, "sk").alias("sbb"),
        cell(1, 1, "c").alias("cbb"),
        cell(0, 1, "sk").alias("sab"),
        cell(0, 1, "c").alias("cab"),
    )
    kaa = F.col("saa") / (F.col("caa") * 1000000000.0)
    kbb = F.col("sbb") / (F.col("cbb") * 1000000000.0)
    kab = F.col("sab") / (F.col("cab") * 1000000000.0)
    return m.select(
        F.round(F.sqrt(F.col("caa") * 1.0)).cast("long").alias("n_a"),
        F.round(F.sqrt(F.col("cbb") * 1.0)).cast("long").alias("n_b"),
        stable_round(kaa, 6).alias("k_aa"),
        stable_round(kbb, 6).alias("k_bb"),
        stable_round(kab, 6).alias("k_ab"),
        stable_round(kaa + kbb - F.lit(2.0) * kab, 6).alias("mmd2"),
    )


def _kcenter_oracle_sql(k: int = 8) -> str:
    """Unrolled Gonzalez maximin greedy: round i's candidate distances
    ride a MATERIALIZED CTE (DuckDB would otherwise inline the shared
    point base into every round and plan exponentially)."""
    d2 = _L2SQ.format(a="p.embedding", b="c.embedding")
    dq = f"CAST(round(({d2}) * 1000000.0) AS BIGINT)"
    parts = [
        "pts AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings)",
        "s0 AS (SELECT vec_id FROM pts ORDER BY vec_id LIMIT 1)",
    ]
    chosen_union = "SELECT vec_id FROM s0"
    for i in range(1, k):
        parts.append(
            f"""m{i} AS MATERIALIZED (
    SELECT p.vec_id, min({dq}) AS dq
    FROM pts p JOIN pts c ON c.vec_id IN ({chosen_union})
    WHERE p.vec_id NOT IN ({chosen_union})
    GROUP BY p.vec_id)"""
        )
        parts.append(
            f"s{i} AS (SELECT vec_id, dq FROM m{i} ORDER BY dq DESC, vec_id LIMIT 1)"
        )
        chosen_union += f" UNION ALL SELECT vec_id FROM s{i}"
    selects = ["SELECT CAST(0 AS BIGINT) AS k, vec_id, 0.0 AS sel_d2 FROM s0"]
    for i in range(1, k):
        selects.append(
            f"SELECT CAST({i} AS BIGINT), vec_id, dq / 1000000.0 FROM s{i}"
        )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects) + "\nORDER BY k"


@register(
    "q_kcenter_coreset",
    oracle=_kcenter_oracle_sql(),
    description=(
        "Greedy k-center coreset selection (Gonzalez maximin, k=8, "
        "2-approximation to the optimal covering radius) over the "
        "embedding corpus — the diversity-sampling primitive for "
        "training-data curation: each round adds the point FARTHEST "
        "from every already-chosen center, so the selection spans the "
        "embedding space instead of oversampling dense clusters. "
        "Per-round: the <=8 chosen centers are broadcast as literal "
        "vectors into one codegen'd scan (squared distances as "
        "strict left-to-right folds, quantized to integer micro-units "
        "so the per-point MIN and global maximin ARGMAX are "
        "order-free; ties break to min vec_id), and the argmax is a "
        "TakeOrdered(1). k scans total, no pairwise materialization. "
        "At corpus scale the standard move is per-block greedy then a "
        "merge round over block winners (composable: same operator). "
        "Oracle: 7 unrolled maximin rounds over MATERIALIZED CTEs."
    ),
    tags=("similarity", "extension", "curation"),
)
def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    pts = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pts = pts.localCheckpoint(eager=True)
    seed = pts.orderBy("vec_id").limit(1).collect()[0]
    chosen = [(int(seed["vec_id"]), [float(v) for v in seed["embedding"]], 0)]
    for _ in range(1, 8):
        dqs = []
        for _, emb, _ in chosen:
            cen = F.array(*[F.lit(v) for v in emb])
            diff2 = F.zip_with(
                F.col("embedding"),
                cen,
                lambda a, b: (a.cast("double") - b.cast("double"))
                * (a.cast("double") - b.cast("double")),
            )
            d2 = F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v)
            dqs.append(F.round(d2 * 1000000.0).cast("long"))
        mind = dqs[0] if len(dqs) == 1 else F.least(*dqs)
        ids = [c[0] for c in chosen]
        pick = (
            pts.filter(~F.col("vec_id").isin(ids))
            .select("vec_id", "embedding", mind.alias("dq"))
            .orderBy(F.desc("dq"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        chosen.append(
            (int(pick["vec_id"]), [float(v) for v in pick["embedding"]], int(pick["dq"]))
        )
    rows = [(i, cid, dq / 1000000.0) for i, (cid, _, dq) in enumerate(chosen)]
    out = local_frame(spark, rows, "k long, vec_id long, sel_d2 double")
    return out.select("k", "vec_id", stable_round(F.col("sel_d2"), 6).alias("sel_d2")).orderBy("k")


@register(
    "q_mutual_nn_pairs",
    oracle=f"""
WITH ra AS (
    SELECT vec_id, embedding,
           row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rk
    FROM embeddings WHERE label = 0
),
rb AS (
    SELECT vec_id, embedding,
           row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rk
    FROM embeddings WHERE label = 1
),
a AS (SELECT vec_id AS a_id, embedding AS av FROM ra WHERE rk <= 100),
b AS (SELECT vec_id AS b_id, embedding AS bv FROM rb WHERE rk <= 100),
sc AS (
    SELECT a_id, b_id,
           (round({_COS.format(a="av", b="bv")} * 1000000.0) / 1000000.0) AS c
    FROM a CROSS JOIN b
),
ab AS (
    SELECT a_id, b_id, c FROM (
        SELECT *, row_number() OVER (PARTITION BY a_id
                   ORDER BY c DESC, b_id ASC) AS r
        FROM sc
    ) WHERE r = 1
),
ba AS (
    SELECT a_id, b_id FROM (
        SELECT *, row_number() OVER (PARTITION BY b_id
                   ORDER BY c DESC, a_id ASC) AS r
        FROM sc
    ) WHERE r = 1
)
SELECT ab.a_id, ab.b_id, ab.c AS cosine
FROM ab JOIN ba ON ab.a_id = ba.a_id AND ab.b_id = ba.b_id
ORDER BY ab.a_id
""",
    description=(
        "Mutual-nearest-neighbor pair mining between the label-0 and "
        "label-1 embedding populations (each capped at its first 100 "
        "vectors): emit (a, b) only when b is a's cosine top-1 AND a is "
        "b's — the margin-free core of bitext/parallel-data mining "
        "(LASER-style) and of cross-modal alignment checks: mutuality "
        "filters the asymmetric hubness matches that one-directional "
        "top-1 retrieval accepts. Per-direction top-1 rides the "
        "partitioned WindowGroupLimit; the mutual filter is an "
        "equi-join on the pair key. At corpus scale the cross product "
        "is replaced by any ANN in the same registry (IVF/LSH/PQ) — "
        "mutuality composes with approximate candidate lists unchanged."
    ),
    tags=("similarity", "extension", "curation"),
)
def q_mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")

    def capped(label, idcol):
        w = Window.partitionBy("label").orderBy("vec_id")
        return (
            emb.filter(F.col("label") == label)
            .select("vec_id", "embedding", F.row_number().over(w).alias("rk"))
            .filter(F.col("rk") <= 100)
            .select(F.col("vec_id").alias(idcol), F.col("embedding").alias(idcol[0] + "v"))
        )

    a = capped(0, "a_id")
    b = capped(1, "b_id")
    sc = a.crossJoin(F.broadcast(b)).select(
        "a_id", "b_id", stable_round(cosine_similarity(F.col("av"), F.col("bv")), 6).alias("c")
    )
    wab = Window.partitionBy("a_id").orderBy(F.desc("c"), F.asc("b_id"))
    ab = (
        sc.withColumn("r", F.row_number().over(wab))
        .filter(F.col("r") == 1)
        .select("a_id", "b_id", "c")
    )
    wba = Window.partitionBy("b_id").orderBy(F.desc("c"), F.asc("a_id"))
    ba = (
        sc.withColumn("r", F.row_number().over(wba))
        .filter(F.col("r") == 1)
        .select(F.col("a_id").alias("a2"), F.col("b_id").alias("b2"))
    )
    return (
        ab.join(ba, (ab.a_id == ba.a2) & (ab.b_id == ba.b2))
        .select("a_id", "b_id", F.col("c").alias("cosine"))
        .orderBy("a_id")
    )


@register(
    "q_hard_negatives",
    oracle=f"""
WITH ra AS (
    SELECT vec_id, label, embedding,
           row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rk
    FROM embeddings
),
anch AS (
    SELECT vec_id AS anchor_id, embedding AS av
    FROM ra WHERE label = 0 AND rk <= 100
),
cand AS (
    SELECT vec_id AS neg_id, label AS neg_label, embedding AS cv
    FROM ra WHERE label <> 0 AND rk <= 30
),
sc AS (
    SELECT anchor_id, neg_id, neg_label,
           (round({_COS.format(a="av", b="cv")} * 1000000.0) / 1000000.0) AS c
    FROM anch CROSS JOIN cand
)
SELECT anchor_id, neg_id, CAST(neg_label AS BIGINT) AS neg_label,
       c AS cosine, CAST(rk AS BIGINT) AS rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id
               ORDER BY c DESC, neg_id ASC) AS rk
    FROM sc
) WHERE rk <= 3
ORDER BY anchor_id, rank
""",
    description=(
        "Hard-negative mining for contrastive training: for each "
        "label-0 anchor (first 100), the 3 highest-cosine vectors of "
        "ANY OTHER label (30 per label) — the negatives nearest the "
        "decision boundary, which carry ~all of the gradient signal in "
        "InfoNCE/triplet training versus random negatives. Same "
        "broadcast-scan + per-anchor WindowGroupLimit shape as "
        "q_sim_topk; at corpus scale the candidate side comes from the "
        "registry's ANN operators (hard negatives only need "
        "approximately-nearest wrong-label points, so IVF/LSH "
        "candidate lists drop in unchanged)."
    ),
    tags=("similarity", "extension", "curation"),
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy("vec_id")
    ranked = emb.select(
        "vec_id", "label", "embedding", F.row_number().over(w).alias("rk")
    )
    anch = (
        ranked.filter((F.col("label") == 0) & (F.col("rk") <= 100))
        .select(F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("av"))
    )
    cand = (
        ranked.filter((F.col("label") != 0) & (F.col("rk") <= 30))
        .select(
            F.col("vec_id").alias("neg_id"),
            F.col("label").cast("long").alias("neg_label"),
            F.col("embedding").alias("cv"),
        )
    )
    sc = anch.crossJoin(F.broadcast(cand)).select(
        "anchor_id",
        "neg_id",
        "neg_label",
        stable_round(cosine_similarity(F.col("av"), F.col("cv")), 6).alias("c"),
    )
    wr = Window.partitionBy("anchor_id").orderBy(F.desc("c"), F.asc("neg_id"))
    return (
        sc.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("anchor_id", "neg_id", "neg_label", F.col("c").alias("cosine"), "rank")
        .orderBy("anchor_id", "rank")
    )


def _dbscan_signs(salt: str) -> list[int]:
    """Deterministic +-1 projection vector from md5 bits — the SAME
    constants are interpolated into the Spark literals and the oracle
    SQL, so both engines fold identical products."""
    import hashlib

    return [
        1 if int(hashlib.md5(f"{salt}:{i}".encode()).hexdigest()[:2], 16) % 2 == 0 else -1
        for i in range(64)
    ]


_DB_S1 = _dbscan_signs("dbscan1")
_DB_S2 = _dbscan_signs("dbscan2")
_DB_CELL = 0.25
_DB_MINPTS = 4


def _dbscan_proj_sql(signs: list[int]) -> str:
    lit = "[" + ",".join(f"{v}.0" for v in signs) + "]"
    return (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(list_zip(embedding, {lit}), "
        "s -> s[1]::DOUBLE * s[2]::DOUBLE)), (acc, x) -> acc + x)"
    )


@register(
    "q_grid_dbscan",
    oracle=f"""
WITH RECURSIVE emb2 AS MATERIALIZED (
    SELECT vec_id,
           {_dbscan_proj_sql(_DB_S1)} AS p1,
           {_dbscan_proj_sql(_DB_S2)} AS p2
    FROM embeddings
),
cells AS MATERIALIZED (
    SELECT vec_id,
           CAST(floor(p1 / {_DB_CELL}) AS BIGINT) AS cx,
           CAST(floor(p2 / {_DB_CELL}) AS BIGINT) AS cy
    FROM emb2
),
cc AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS n FROM cells GROUP BY 1, 2),
core AS MATERIALIZED (
    SELECT (cx + 512) * 4096 + (cy + 512) AS cid, cx, cy, n
    FROM cc WHERE n >= {_DB_MINPTS}
),
nbr AS (
    SELECT a.cid AS ca, b.cid AS cb
    FROM core a JOIN core b
      ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
     AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
     AND a.cid < b.cid
),
edges AS (SELECT ca AS src, cb AS dst FROM nbr
          UNION SELECT cb, ca FROM nbr),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
lab AS (SELECT src AS cid, least(src, min(dst)) AS comp FROM reach GROUP BY src),
labels AS (
    SELECT core.cid, coalesce(lab.comp, core.cid) AS comp
    FROM core LEFT JOIN lab ON lab.cid = core.cid
),
ptc AS (
    SELECT vec_id, (cx + 512) * 4096 + (cy + 512) AS cid FROM cells
),
clus AS (
    SELECT l.comp AS cluster_id, CAST(count(DISTINCT l.cid) AS BIGINT) AS n_cells,
           CAST(count(*) AS BIGINT) AS n_points
    FROM labels l JOIN ptc p ON p.cid = l.cid GROUP BY 1
),
noise AS (
    SELECT CAST(-1 AS BIGINT) AS cluster_id,
           CAST(count(DISTINCT cid) AS BIGINT) AS n_cells,
           CAST(count(*) AS BIGINT) AS n_points
    FROM ptc WHERE cid NOT IN (SELECT cid FROM core)
)
SELECT * FROM clus
UNION ALL SELECT * FROM noise
ORDER BY cluster_id
""",
    description=(
        "Grid-DBSCAN over two deterministic +-1 random projections of "
        "the embedding corpus (cell 0.25, minPts 4): occupied cells "
        "with >= minPts points are core, 8-neighbor core cells merge "
        "by connected components (the repo's min-label-propagation "
        "operator; oracle mirrors with a recursive CTE), points in "
        "non-core cells report as the noise row (cluster_id -1) — "
        "density clustering with NO pairwise distance join at all, "
        "which is what makes DBSCAN feasible at corpus scale: the "
        "expensive epsilon-neighbor graph collapses to a "
        "cell-count aggregate plus a core-cell self-join bounded by "
        "the occupied-cell count. Projections are strict left-to-right "
        "folds against literal sign vectors generated from md5 bits "
        "(identical constants both engines)."
    ),
    tags=("similarity", "extension", "clustering"),
)
def q_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-phase star CC, not label propagation: the occupied-cell
    # adjacency graph over a dense corpus is a MESH whose diameter grows
    # with the cell-grid side (the r7 10x scale proof pushed plain
    # label-prop past its 50-round diameter bound); the alternating
    # large/small-star form contracts whole subtrees per round and
    # converges in O(log n) rounds with identical labels.
    from healthcare_etl_spark.operators.graph import connected_components_two_phase

    emb = load_table(spark, sf_dir, "embeddings")

    def proj(signs):
        lit = F.array(*[F.lit(float(v)) for v in signs])
        return F.aggregate(
            F.zip_with(
                F.col("embedding"), lit, lambda a, b: a.cast("double") * b.cast("double")
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    cells = emb.select(
        "vec_id",
        F.floor(proj(_DB_S1) / _DB_CELL).cast("long").alias("cx"),
        F.floor(proj(_DB_S2) / _DB_CELL).cast("long").alias("cy"),
    ).localCheckpoint(eager=True)
    cid = (F.col("cx") + 512) * 4096 + (F.col("cy") + 512)
    cc = cells.groupBy("cx", "cy").agg(F.count(F.lit(1)).cast("long").alias("n"))
    core = cc.filter(F.col("n") >= _DB_MINPTS).select(
        cid.alias("cid"), "cx", "cy", "n"
    ).localCheckpoint(eager=True)
    nbr = (
        core.alias("a")
        .join(
            core.alias("b"),
            F.col("b.cx").between(F.col("a.cx") - 1, F.col("a.cx") + 1)
            & F.col("b.cy").between(F.col("a.cy") - 1, F.col("a.cy") + 1)
            & (F.col("a.cid") < F.col("b.cid")),
        )
        .select(F.col("a.cid").alias("pa"), F.col("b.cid").alias("pb"))
    )
    lab = connected_components_two_phase(nbr, src="pa", dst="pb")
    labels = core.join(
        lab.select(F.col("node").alias("cid"), F.col("component").alias("comp")),
        "cid",
        "left",
    ).select("cid", F.coalesce("comp", "cid").alias("comp"))
    ptc = cells.select("vec_id", cid.alias("cid"))
    clus = (
        labels.join(ptc, "cid")
        .groupBy(F.col("comp").alias("cluster_id"))
        .agg(
            F.countDistinct("cid").cast("long").alias("n_cells"),
            F.count(F.lit(1)).cast("long").alias("n_points"),
        )
    )
    noise = (
        ptc.join(core.select("cid"), "cid", "left_anti")
        .agg(
            F.countDistinct("cid").cast("long").alias("n_cells"),
            F.count(F.lit(1)).cast("long").alias("n_points"),
        )
        .select(F.lit(-1).cast("long").alias("cluster_id"), "n_cells", "n_points")
    )
    return clus.unionByName(noise).orderBy("cluster_id")


@register(
    "q_grid_lof",
    oracle=f"""
WITH emb2 AS MATERIALIZED (
    SELECT vec_id,
           {_dbscan_proj_sql(_DB_S1)} AS p1,
           {_dbscan_proj_sql(_DB_S2)} AS p2
    FROM embeddings
),
cells AS MATERIALIZED (
    SELECT vec_id,
           CAST(floor(p1 / {_DB_CELL}) AS BIGINT) AS cx,
           CAST(floor(p2 / {_DB_CELL}) AS BIGINT) AS cy
    FROM emb2
),
cc AS MATERIALIZED (
    SELECT cx, cy, CAST(count(*) AS BIGINT) AS n FROM cells GROUP BY 1, 2
),
nbr AS (
    SELECT a.cx, a.cy, a.n,
           CAST(sum(b.n) AS BIGINT) AS nbr_mass,
           CAST(count(*) AS BIGINT) AS nbr_cells
    FROM cc a JOIN cc b
      ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
     AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
     AND NOT (b.cx = a.cx AND b.cy = a.cy)
    GROUP BY 1, 2, 3
),
lof AS (
    SELECT cx, cy, n, nbr_mass, nbr_cells,
           (round(((nbr_mass * 1.0 / nbr_cells) / n) * 1000000.0)
            / 1000000.0) AS density_ratio
    FROM nbr
)
SELECT cx, cy, n AS n_points, nbr_cells, nbr_mass,
       density_ratio
FROM lof
WHERE density_ratio >= 3.0
ORDER BY density_ratio DESC, cx, cy
""",
    description=(
        "Grid-density outlier cells (LOF flavor) over the same "
        "deterministic 2-D projection grid as q_grid_dbscan: a cell "
        "whose 8-neighborhood's mean density is >= 3x its own holds "
        "points sitting in a local density trough — the local-outlier "
        "signal that global z-scores miss when clusters have "
        "different densities. No pairwise point distances anywhere: "
        "one cell-count aggregate + one occupied-cell neighbor join "
        "(bounded by occupied cells, not points), the same collapse "
        "that makes the DBSCAN variant corpus-scale."
    ),
    tags=("similarity", "extension", "anomaly"),
)
def q_grid_lof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    emb = load_table(spark, sf_dir, "embeddings")

    def proj(signs):
        lit = F.array(*[F.lit(float(v)) for v in signs])
        return F.aggregate(
            F.zip_with(
                F.col("embedding"), lit, lambda a, b: a.cast("double") * b.cast("double")
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    cells = emb.select(
        "vec_id",
        F.floor(proj(_DB_S1) / _DB_CELL).cast("long").alias("cx"),
        F.floor(proj(_DB_S2) / _DB_CELL).cast("long").alias("cy"),
    )
    cc = cells.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=True)
    # The 3x3-neighborhood join is an INEQUALITY join over the cell
    # GRID — a metadata-scale aggregate output (occupied cells, not
    # vectors). Catalyst cannot estimate aggregate outputs, and at the
    # 100x scale proof this flipped BroadcastNestedLoopJoin ->
    # CartesianProduct (exactly the r7 q_psi_drift class); the explicit
    # broadcast pins the provably tiny side.
    nbr = (
        cc.alias("a")
        .join(
            F.broadcast(cc.alias("b")),
            F.col("b.cx").between(F.col("a.cx") - 1, F.col("a.cx") + 1)
            & F.col("b.cy").between(F.col("a.cy") - 1, F.col("a.cy") + 1)
            & ~((F.col("b.cx") == F.col("a.cx")) & (F.col("b.cy") == F.col("a.cy"))),
        )
        .groupBy(
            F.col("a.cx").alias("cx"), F.col("a.cy").alias("cy"), F.col("a.n").alias("n")
        )
        .agg(
            F.sum("b.n").cast("long").alias("nbr_mass"),
            F.count(F.lit(1)).cast("long").alias("nbr_cells"),
        )
    )
    ratio = (F.col("nbr_mass") * 1.0 / F.col("nbr_cells")) / F.col("n")
    return (
        nbr.select(
            "cx",
            "cy",
            F.col("n").alias("n_points"),
            "nbr_cells",
            "nbr_mass",
            stable_round(ratio, 6).alias("density_ratio"),
        )
        .filter(stable_round(ratio, 6) >= 3.0)
        .orderBy(F.desc("density_ratio"), "cx", "cy")
    )


# ---------------------------------------------------------------------------
# Semantic decontamination + ERR retrieval eval (round-6 continuation-5)

_SEMDECON_THRESHOLD = 0.3


@register(
    "q_semantic_decontaminate",
    oracle=f"""
WITH {_KMEANS_CTES},
clustered AS (
    SELECT a2.vec_id, a2.cluster, p.v
    FROM a2 JOIN pts p ON a2.vec_id = p.vec_id
),
held AS (
    SELECT cluster, vec_id AS h_id, v AS hv FROM clustered
    WHERE (vec_id % 101) < 5
),
corp AS (
    SELECT cluster, vec_id, v FROM clustered
    WHERE (vec_id % 101) >= 5
),
contaminated AS (
    SELECT DISTINCT c.vec_id
    FROM corp c JOIN held h ON c.cluster = h.cluster
    WHERE (round({_COS.format(a="h.hv", b="c.v")} * 1000000.0) / 1000000.0)
          >= {_SEMDECON_THRESHOLD}
)
SELECT c.vec_id, c.cluster, (d.vec_id IS NOT NULL) AS is_contaminated
FROM corp c LEFT JOIN contaminated d ON c.vec_id = d.vec_id
""",
    description=(
        "Semantic (embedding-level) train/eval decontamination: the "
        "held-out set (deterministic vec_id % 101 < 5 slice) is "
        "clustered together with the corpus by the shared spherical "
        "k-means quantizer, and a corpus vector is flagged when its "
        "cosine to ANY same-cluster held-out vector reaches "
        f"{_SEMDECON_THRESHOLD} — the paraphrase-robust companion to "
        "q_decontaminate's exact 8-gram overlap and q_bloom_decontaminate"
        "'s sketch form (n-gram methods miss reworded eval leakage; "
        "embedding cosine catches it). Same scale shape as SemDeDup: "
        "candidate pairs come from a cluster-keyed equi-join, never an "
        "all-pairs cross join; the held-out side of each cluster is "
        "eval-set-sized (broadcastable). Multiprobe (assign held-out "
        "vectors to their top-2 cells) is the recall knob at 100 TB, "
        "same as q_sim_ann_ivf_probe2."
    ),
    tags=("similarity", "decontamination", "extension", "iterative"),
)
def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.functions.vectors import cosine_similarity
    from healthcare_etl_spark.operators.similarity import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_lloyd(emb, k=4, n_iter=2)
    pts = emb.select("vec_id", F.col("embedding").alias("v"))
    clustered = assign.select("vec_id", "cluster").join(pts, "vec_id")
    held = clustered.filter((F.col("vec_id") % 101) < 5).select(
        "cluster", F.col("vec_id").alias("h_id"), F.col("v").alias("hv")
    )
    corp = clustered.filter((F.col("vec_id") % 101) >= 5)
    contaminated = (
        corp.join(F.broadcast(held), "cluster")
        .filter(
            stable_round(cosine_similarity("hv", "v"), 6) >= _SEMDECON_THRESHOLD
        )
        .select("vec_id")
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return corp.join(contaminated, "vec_id", "left").select(
        "vec_id",
        "cluster",
        F.coalesce(F.col("__hit"), F.lit(False)).alias("is_contaminated"),
    )


@register(
    "q_err_eval",
    oracle=f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qv, label AS q_label
    FROM embeddings WHERE vec_id < 10
),
c AS (
    SELECT vec_id AS neighbor_id, embedding AS cv, label AS c_label
    FROM embeddings WHERE vec_id >= 10
),
scored AS (
    SELECT query_id, q_label, neighbor_id, c_label,
           (round({_COS.format(a="qv", b="cv")} * 1000000.0) / 1000000.0) AS cosine
    FROM c CROSS JOIN q
),
top AS (
    SELECT * FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rnk
        FROM scored
    ) WHERE rnk <= 10
),
hb AS (
    SELECT query_id, rnk,
           (CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS hit,
           CAST(coalesce(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END)
                OVER (PARTITION BY query_id ORDER BY rnk
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS hits_before
    FROM top
),
terms AS (
    SELECT query_id,
           CAST(sum(CASE WHEN hit = 1 THEN CAST(round(
                10000000000.0 / (rnk * CAST(1::BIGINT
                    << CAST(hits_before + 1 AS INTEGER) AS DOUBLE))) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS err_q,
           CAST(sum(hit) AS BIGINT) AS n_hits
    FROM hb GROUP BY 1
)
SELECT query_id AS vec_id, n_hits,
       (round((err_q / 10000000000.0) * 1000000.0) / 1000000.0) AS err
FROM terms
""",
    description=(
        "Expected Reciprocal Rank @10 (Chapelle et al. 2009) over the "
        "same probe/corpus retrieval as q_ndcg_eval: with binary "
        "relevance mapped to the standard R = 1/2, the cascade model "
        "gives term(r) = (1/r) * (1/2)^(hits_before+1) — satisfied "
        "users stop earlier, so later hits are discounted by every "
        "earlier hit, the property NDCG's position-only discount lacks. "
        "Every term is a dyadic rational over an integer rank, "
        "quantized to a 1e-10 BIGINT before the order-free integer sum "
        "(the q_ndcg_eval discipline; the power of two comes from an "
        "integer shift, not libm pow). Retrieval reuses the broadcast-"
        "probe rank-limit-pushdown plan; the cascade prefix window runs "
        "inside the 10-row per-query head."
    ),
    tags=("similarity", "extension", "vectors", "evaluation"),
)
def q_err_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qv"),
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("cv"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "q_label",
        "neighbor_id",
        "c_label",
        stable_round(cosine_similarity("qv", "cv"), 6).alias("cosine"),
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    top = scored.withColumn("rnk", F.row_number().over(wk).cast("long")).filter(
        F.col("rnk") <= 10
    )
    wh = (
        Window.partitionBy("query_id")
        .orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hit = F.when(F.col("c_label") == F.col("q_label"), 1).otherwise(0)
    hb = top.select(
        "query_id",
        "rnk",
        hit.alias("hit"),
        F.coalesce(F.sum(hit).over(wh), F.lit(0)).cast("long").alias("hits_before"),
    )
    term = F.round(
        F.lit(10000000000.0)
        / (
            F.col("rnk")
            * F.expr("shiftleft(1L, cast(hits_before + 1 as int))").cast("double")
        )
    ).cast("long")
    terms = hb.groupBy("query_id").agg(
        F.sum(F.when(F.col("hit") == 1, term).otherwise(F.lit(0).cast("long")))
        .cast("long")
        .alias("err_q"),
        F.sum("hit").cast("long").alias("n_hits"),
    )
    return terms.select(
        F.col("query_id").alias("vec_id"),
        "n_hits",
        stable_round(F.col("err_q") / 10000000000.0, 6).alias("err"),
    )


@register(
    "q_smote_synthesis",
    oracle=f"""
WITH cnt AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
mino AS (SELECT label FROM cnt ORDER BY n ASC, label ASC LIMIT 1),
m AS (
    SELECT e.vec_id, e.embedding AS v
    FROM embeddings e JOIN mino ON e.label = mino.label
),
nn AS (
    SELECT vec_id, neighbor_id, av, bv, cosine FROM (
        SELECT a.vec_id, b.vec_id AS neighbor_id, a.v AS av, b.v AS bv,
               (round({_COS.format(a="a.v", b="b.v")} * 1000000.0) / 1000000.0)
                   AS cosine,
               row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY (round({_COS.format(a="a.v", b="b.v")} * 1000000.0)
                             / 1000000.0) DESC, b.vec_id ASC) AS rn
        FROM m a JOIN m b ON a.vec_id <> b.vec_id
    ) WHERE rn = 1
),
synth AS (
    SELECT vec_id, neighbor_id, cosine,
           list_transform(list_zip(av, bv),
               s -> (s[1]::DOUBLE + s[2]::DOUBLE) / 2.0) AS sv
    FROM nn
)
SELECT vec_id AS base_id, neighbor_id, cosine,
       (round({_NORM.format(v="sv")} * 1000000.0) / 1000000.0) AS synth_norm,
       (round((list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(sv, x -> x::DOUBLE)), (acc, x) -> acc + x) / 64.0)
              * 1000000.0) / 1000000.0) AS synth_mean
FROM synth
""",
    description=(
        "SMOTE-style minority-class synthesis (Chawla et al. 2002) over "
        "the embedding table: the scarcest label's vectors each pair "
        "with their nearest same-class neighbor (cosine, deterministic "
        "tie-break) and emit the lambda = 1/2 interpolant's norm and "
        "mean — the class-imbalance augmentation move for classifier "
        "training sets (production SMOTE draws lambda ~ U(0,1); the "
        "fixed midpoint keeps the op hash-checkable, and a salted-hash "
        "lambda is the determinism-preserving generalization). Scale "
        "shape: the self-join runs ONLY within the minority class — by "
        "definition the small side, broadcastable; the majority corpus "
        "is never paired. The interpolant itself is a zip_with "
        "expression, no UDF."
    ),
    tags=("similarity", "mlops", "extension", "vectors"),
)
def q_smote_synthesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.functions.vectors import cosine_similarity, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    cnt = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    mino = cnt.orderBy(F.asc("n"), F.asc("label")).limit(1).select("label")
    m = emb.join(F.broadcast(mino), "label").select(
        "vec_id", F.col("embedding").alias("v")
    )
    a = m.select(F.col("vec_id"), F.col("v").alias("av"))
    b = m.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("bv"))
    scored = a.join(F.broadcast(b), F.col("vec_id") != F.col("neighbor_id")).select(
        "vec_id",
        "neighbor_id",
        "av",
        "bv",
        stable_round(cosine_similarity("av", "bv"), 6).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    nn = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    sv = F.zip_with("av", "bv", lambda x, y: (x.cast("double") + y.cast("double")) / 2.0)
    synth = nn.select("vec_id", "neighbor_id", "cosine", sv.alias("sv"))
    mean = (
        F.aggregate(
            F.transform("sv", lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / 64.0
    )
    return synth.select(
        F.col("vec_id").alias("base_id"),
        "neighbor_id",
        "cosine",
        stable_round(l2_norm("sv"), 6).alias("synth_norm"),
        stable_round(mean, 6).alias("synth_mean"),
    )


_USEG_PTS_SQL = """
    SELECT user_id AS vec_id,
           [CAST(count(*) AS DOUBLE),
            CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS DOUBLE),
            CAST(count(DISTINCT CAST(ts AS DATE)) AS DOUBLE)] AS v
    FROM events GROUP BY user_id
"""


def _useg_oracle() -> str:
    cos = _COS.format(a="p.v", b="c.centroid")
    cos2 = _COS.format(a="p.v", b="c.centroid")
    return f"""
WITH pts AS ({_USEG_PTS_SQL}),
c0 AS (
    SELECT vec_id::INT AS cluster, v AS centroid
    FROM pts ORDER BY vec_id LIMIT 3
),
s1 AS (
    SELECT p.vec_id, p.v, c.cluster,
           (round({cos} * 1000000.0) / 1000000.0) AS cos
    FROM pts p CROSS JOIN c0 c
),
a1 AS (
    SELECT vec_id, v, cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, cluster ASC) AS rn
        FROM s1
    ) WHERE rn = 1
),
c1_long AS (
    SELECT cluster, i AS pos,
           (round(avg(v[i + 1]::DOUBLE) * 1000000.0) / 1000000.0) AS m
    FROM a1 CROSS JOIN range(3) t(i)
    GROUP BY cluster, i
),
c1 AS (SELECT cluster, list(m ORDER BY pos) AS centroid FROM c1_long GROUP BY cluster),
s2 AS (
    SELECT p.vec_id, c.cluster,
           (round({cos2} * 1000000.0) / 1000000.0) AS cos
    FROM pts p CROSS JOIN c1 c
),
a2 AS (
    SELECT vec_id, cluster, cos FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, cluster ASC) AS rn
        FROM s2
    ) WHERE rn = 1
)
SELECT cluster,
       CAST(count(*) AS BIGINT) AS n_users,
       (round(avg(v[1]) * 1000000.0) / 1000000.0) AS mean_events,
       (round(avg(v[2]) * 1000000.0) / 1000000.0) AS mean_purchases,
       (round(avg(v[3]) * 1000000.0) / 1000000.0) AS mean_active_days
FROM a2 JOIN pts USING (vec_id)
GROUP BY cluster
ORDER BY cluster
"""


@register(
    "q_user_segments_kmeans",
    oracle=_useg_oracle(),
    description=(
        "Behavioral user segmentation: spherical k-means (k=3, 2 Lloyd "
        "iterations — the SAME kmeans_lloyd operator that trains the "
        "IVF quantizer, proving it is feature-agnostic) over each "
        "user's (events, purchases, active-days) vector, reported as "
        "per-segment sizes and mean profiles — the activity/engagement "
        "segmentation every growth team maintains, with a fully "
        "deterministic unrolled-CTE oracle (lowest-id seeding, 6dp "
        "similarity rounding, cluster-id tie-break). Data-scale work is "
        "the per-user aggregate; clustering then runs on the user-count "
        "frame with k-row broadcast centroids."
    ),
    tags=("similarity", "analytics", "extension", "iterative"),
)
def q_user_segments_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.operators.similarity import kmeans_lloyd

    ev = load_table(spark, sf_dir, "events")
    feats = ev.groupBy(F.col("user_id")).agg(
        F.count(F.lit(1)).cast("double").alias("f_events"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("double")
        .alias("f_purchases"),
        F.countDistinct(F.to_date("ts")).cast("double").alias("f_days"),
    )
    pts = feats.select(
        "user_id",
        F.array("f_events", "f_purchases", "f_days").alias("v"),
        "f_events",
        "f_purchases",
        "f_days",
    )
    assign = kmeans_lloyd(
        pts.select("user_id", "v"), k=3, n_iter=2, id_col="user_id", vec_col="v"
    )
    joined = assign.join(pts, assign.vec_id == pts.user_id)
    return (
        joined.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            stable_round(F.avg("f_events"), 6).alias("mean_events"),
            stable_round(F.avg("f_purchases"), 6).alias("mean_purchases"),
            stable_round(F.avg("f_days"), 6).alias("mean_active_days"),
        )
        .orderBy("cluster")
    )


def _nndescent_oracle(k: int = 4, rounds: int = 2, cap: int = 256) -> str:
    """Unrolled-CTE mirror of ``nn_descent_graph``: the true cosine
    table (same _COS fold, same 6dp rounding) stands in for the score()
    joins, then per round the reverse-union, the co-neighbor candidate
    set, the union with current edges (UNION dedupes, matching Spark's
    union().distinct()), and the per-node top-k with the identical
    (cosine desc, id asc) tiebreak. Every b_i is MATERIALIZED — it is
    referenced three times per round and DuckDB inlines single-ref CTEs
    exponentially otherwise (the q_kcore_peel lesson)."""
    cos = _COS.format(a="a.embedding", b="b.embedding")
    parts = [
        f"pts AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {cap})",
        "nn AS (SELECT count(*) AS n FROM pts)",
        f"""sc AS MATERIALIZED (
    SELECT a.vec_id AS s, b.vec_id AS d,
           (round(({cos}) * 1000000.0) / 1000000.0) AS c
    FROM pts a JOIN pts b ON a.vec_id <> b.vec_id)""",
        f"""b0 AS MATERIALIZED (
    SELECT i.u, i.nbr, sc.c FROM (
        SELECT p.vec_id AS u,
               (p.vec_id + j.j + 1) % (SELECT n FROM nn) AS nbr
        FROM pts p CROSS JOIN range({k}) j(j)) i
    JOIN sc ON sc.s = i.u AND sc.d = i.nbr)""",
    ]
    for r in range(rounds):
        prev, cur = f"b{r}", f"b{r + 1}"
        parts += [
            f"un{r} AS (SELECT u, nbr FROM {prev} UNION SELECT nbr, u FROM {prev})",
            f"""cand{r} AS (
    SELECT DISTINCT x.nbr AS u, y.nbr AS nbr
    FROM un{r} x JOIN un{r} y ON x.u = y.u AND x.nbr <> y.nbr)""",
            f"""all{r} AS (
    SELECT u, nbr, c FROM {prev}
    UNION
    SELECT ca.u, ca.nbr, sc.c FROM cand{r} ca
    JOIN sc ON sc.s = ca.u AND sc.d = ca.nbr)""",
            f"""{cur} AS MATERIALIZED (
    SELECT u, nbr, c FROM (
        SELECT u, nbr, c,
               row_number() OVER (PARTITION BY u ORDER BY c DESC, nbr ASC) AS rk
        FROM all{r}) WHERE rk <= {k})""",
        ]
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT u AS node, nbr AS neighbor_id, c AS cosine,
       CAST(row_number() OVER (PARTITION BY u ORDER BY c DESC, nbr ASC) AS BIGINT) AS rank
FROM b{rounds}
"""


@register(
    "q_knn_graph_nndescent",
    oracle=_nndescent_oracle(),
    description=(
        "k-NN GRAPH construction by NN-Descent (Dong et al. WWW'11) — "
        "the graph-based ANN index family next to the bucketed (LSH), "
        "cell-probed (IVF), and compressed (PQ) ones: build every "
        "node's neighbor list WITHOUT the O(n^2) all-pairs scan by "
        "iterating 'a neighbor of a neighbor is likely a neighbor'. "
        "Deterministic fixed-round formulation: id-successor init, per "
        "round ONE co-neighbor self-join on the node id (fanout "
        "bounded by (2k)^2 per node -> O(n*k^2) candidates), strict-"
        "fold cosine scoring, per-node rank-limit top-k. The oracle "
        "unrolls both rounds over the true cosine table with identical "
        "arithmetic and tiebreaks, so a candidate-generation or top-k "
        "bug cannot hash-match. Capped at 256 nodes so the oracle's "
        "all-pairs cosine CTE stays tractable; the Spark operator "
        "itself never materializes all-pairs."
    ),
    tags=("similarity", "extension", "iterative", "approx"),
)
def q_knn_graph_nndescent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.similarity import nn_descent_graph

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 256)
    return nn_descent_graph(emb, rounds=2)

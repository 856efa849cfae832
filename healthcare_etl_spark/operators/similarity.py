"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  Queries are broadcast (they are few); the corpus streams through a
  single codegen'd map computing the dot product with built-in
  higher-order functions, then a per-query top-k window. No shuffle of
  the corpus beyond the final per-query k rows.
- ``neardup_pairs``: all pairs above a cosine threshold (embedding
  near-dup dedup). Exact form is O(n^2); the LSH form below is the
  scale path.
- ``lsh_ann_topk``: random-hyperplane LSH bucketing — sign bits of
  ``dot(v, plane_j)`` form a bucket key; only same-bucket (or
  multi-probe) candidates are scored. Sub-linear candidate generation
  at the cost of recall; planes are seeded, so results are
  deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from healthcare_etl_spark.functions.rounding import stable_round
from healthcare_etl_spark.functions.vectors import cosine_similarity, dot


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 10,
) -> DataFrame:
    """Exact top-k neighbors per query row. Returns
    (query_id, neighbor_id, cosine, rank); ties break on neighbor_id.

    Shuffle-light despite the global window: the ``row_number() <= k``
    pattern triggers Catalyst's rank-limit pushdown, which inserts a
    *partial* ``WindowGroupLimit`` before the exchange — every scan
    partition pre-truncates to its local top-k per query, so the shuffle
    moves at most ``n_partitions * n_queries * k`` rows instead of
    ``|corpus| * |queries|``. Plan-asserted in tests/test_plans.py.
    """
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    c = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        stable_round(cosine_similarity("q_vec", "c_vec"), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def neardup_pairs(df: DataFrame) -> DataFrame:
    """All (a < b) pairs with cosine >= 0.3. Exact O(n^2) form —
    correct at any n, affordable at fixture scale; swap candidate
    generation to ``lsh_ann_topk``'s bucketing for 100 TB corpora.

    The probe side is broadcast-pinned: the exact scan's one sane
    distributed shape is broadcast(a) x stream(b) (BroadcastNestedLoop),
    and without the pin Catalyst silently degrades to CartesianProduct
    once the corpus outgrows the auto-broadcast threshold (caught by the
    r8 x100 fleet sweep) — a strictly worse plan for the same work. If
    the probe side cannot be broadcast, this operator is the wrong tool
    by its own contract (use the LSH form).
    """
    a = df.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"))
    pairs = F.broadcast(a).join(b, F.col("vec_a") < F.col("vec_b"))
    cos = cosine_similarity("va", "vb")
    return (
        pairs.select("vec_a", "vec_b", stable_round(cos, 6).alias("cosine"))
        .filter(stable_round(cos, 6) >= 0.3)
    )


def _hyperplanes(n_planes: int) -> list[list[float]]:
    """``n_planes`` random 64-dim hyperplanes from numpy seed 42."""
    import numpy as np

    rng = np.random.RandomState(42)
    return rng.normal(size=(n_planes, 64)).tolist()


def lsh_bucket(df: DataFrame, *, vec_col: str = "embedding", n_planes: int = 8) -> DataFrame:
    """Append a random-hyperplane LSH ``bucket`` column (sign-bit key)
    over 64-dim vectors, planes drawn from seed 42.

    The planes are literal arrays in the plan — broadcast by
    construction, evaluated entirely in codegen.
    """
    planes = _hyperplanes(n_planes)
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(dot(F.col(vec_col), plane_col) > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + bit
    return df.withColumn("bucket", bucket)


def lsh_ann_topk(queries: DataFrame, corpus: DataFrame, *, n_planes: int = 8) -> DataFrame:
    """Approximate top-10: score only same-bucket candidates.

    The bucket equi-join replaces the cross join — at 100 TB the corpus
    shuffles once on bucket (or is bucketed at write time and never
    shuffles). Recall is tested against ``cosine_topk``.
    """
    qb = lsh_bucket(
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")),
        vec_col="q_vec",
        n_planes=n_planes,
    )
    cb = lsh_bucket(
        corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")),
        vec_col="c_vec",
        n_planes=n_planes,
    )
    scored = cb.join(F.broadcast(qb), "bucket").select(
        "query_id",
        "neighbor_id",
        stable_round(cosine_similarity("q_vec", "c_vec"), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
    )


def label_centroids(corpus: DataFrame) -> DataFrame:
    """(cell, centroid: array<double>) — element-wise mean ``embedding``
    per ``label`` cell.

    Long-form explode -> groupBy(cell, pos) -> avg -> ordered reassembly.
    Centroid components are stable-rounded to 6dp so both engines (and
    any re-run) agree bit-for-bit on the coarse quantizer.
    """
    exploded = corpus.select(
        F.col("label").alias("cell"), F.posexplode("embedding").alias("pos", "val")
    )
    long = exploded.groupBy("cell", "pos").agg(
        stable_round(F.avg(F.col("val").cast("double")), 6).alias("v")
    )
    return long.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s["v"]
        ).alias("centroid")
    )


def kmeans_lloyd(
    corpus: DataFrame,
    *,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_scores: bool = False,
) -> DataFrame:
    """Spherical k-means: Lloyd iterations under cosine similarity — the
    trained coarse quantizer behind IVF indexing, and the clustering
    step of cluster-balanced corpus sampling.

    Deterministic end-to-end: centroids initialize from the ``k``
    lowest-id vectors, assignment similarity is stable-rounded to 6dp
    with cluster-id tie-break, so any engine (including the unrolled-CTE
    DuckDB oracle) reproduces the same clustering.

    Iteration discipline (same as ``operators.graph``): each round is
    [broadcast centroids -> codegen'd scoring -> per-vector argmax
    window -> element-wise mean re-aggregate]; the k-row centroid frame
    is ``localCheckpoint``-ed per round, so lineage stays bounded. The
    corpus itself is scanned once per iteration (the Lloyd minimum) and
    never shuffled whole — the per-round shuffles move only the n*k
    scored rows (argmax window, pre-truncated to 1 row/vector/partition
    by the partial WindowGroupLimit) and the k*dim centroid sums.
    Returns (vec_id, cluster, cosine) at the final assignment.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    pts = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    # Seed from the k lowest ids (TakeOrderedAndProject — not `vec_id < k`,
    # which silently under-seeds when ids are not contiguous from 0).
    # Cluster labels are the seed ids: 0..k-1 on the contiguous fixtures,
    # so the unrolled-CTE oracle reproduces them exactly.
    cents = (
        pts.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").cast("int").alias("cluster"), F.col("v").alias("centroid"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cluster"))
    assign = None
    for i in range(n_iter):
        scored = pts.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "v",
            "cluster",
            stable_round(cosine_similarity("v", "centroid"), 6).alias("cos"),
        )
        assign = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "v", "cluster", "cos")
        )
        if i < n_iter - 1:
            exploded = assign.select("cluster", F.posexplode("v").alias("pos", "val"))
            long = exploded.groupBy("cluster", "pos").agg(
                stable_round(F.avg(F.col("val").cast("double")), 6).alias("m")
            )
            cents = (
                long.groupBy("cluster")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "m"))),
                        lambda s: s["m"],
                    ).alias("centroid")
                )
                .localCheckpoint(eager=True)
            )
    if return_scores:
        # full final-round score matrix (vec_id x k), for diagnostics
        # that need similarity to EVERY centroid (e.g. silhouette)
        return scored.select("vec_id", "cluster", "cos")
    return assign.select("vec_id", "cluster", F.col("cos").alias("cosine"))


def ivf_topk(
    queries: DataFrame, corpus: DataFrame, *, k: int = 10, nprobe: int = 1
) -> DataFrame:
    """IVF-style ANN: assign each query to its ``nprobe`` nearest cell
    centroids, score only those cells' vectors.

    The corpus is pre-partitioned by cell (here the ``label`` column
    stands in for a trained coarse quantizer's assignments — at 100 TB
    you'd k-means once and bucket the table by cell at write time, so
    the probe is a partition-pruned scan, no shuffle at query time).
    ``nprobe`` is the standard recall/latency knob: each extra probed
    cell linearly grows the scored candidate set (each corpus vector
    lives in exactly one cell, so probes never produce duplicate
    pairs) and monotonically raises recall toward the exact scan.
    """
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    cents = label_centroids(corpus)
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    w_assign = Window.partitionBy("query_id").orderBy(
        F.desc("cent_cos"), F.asc("cell")
    )
    assign = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "q_vec",
            "cell",
            stable_round(cosine_similarity("q_vec", "centroid"), 6).alias("cent_cos"),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "q_vec", "cell")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.col("label").alias("cell"),
    )
    scored = c.join(F.broadcast(assign), "cell").select(
        "query_id",
        "neighbor_id",
        stable_round(cosine_similarity("q_vec", "c_vec"), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def semantic_dedup(
    corpus: DataFrame, *, n_iter: int = 2, threshold: float = 0.3
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with spherical k-means (k = 4), then
    drop any vector whose cosine similarity to a LOWER-id vector in the
    SAME cluster reaches ``threshold`` (min-id keeper rule — the paper
    keeps one representative per semantic duplicate group).

    Returns (vec_id, cluster, is_kept).

    This is the scale-shaped form of embedding near-dup: the pairwise
    comparison runs only WITHIN clusters, so cost drops from O(n^2) to
    O(sum c_i^2) — with balanced clusters, a k-fold reduction, and each
    cluster's pair generation is a self-equi-join on the cluster id
    (one shuffle keyed on cluster, never an all-pairs cross join). At
    100 TB, cap cluster width like ``dedup.minhash``'s skew guard: a
    cluster holding a constant fraction of the corpus means k is too
    small for the data — raise k (cost is one broadcast row per
    centroid) rather than letting one reducer own the square.

    Deterministic end-to-end: clustering inherits ``kmeans_lloyd``'s
    determinism, similarity is stable-rounded to 6dp before the
    threshold compare, and the keeper rule is pure min-id.
    """
    assign = kmeans_lloyd(corpus, k=4, n_iter=n_iter)
    pts = corpus.select(F.col("vec_id"), F.col("embedding").alias("v"))
    clustered = assign.select("vec_id", "cluster").join(pts, "vec_id")
    keep_side = clustered.select(
        F.col("cluster"), F.col("vec_id").alias("keep_id"), F.col("v").alias("kv")
    )
    cand_side = clustered.select(
        F.col("cluster"), F.col("vec_id").alias("cand_id"), F.col("v").alias("cv")
    )
    dropped = (
        cand_side.join(keep_side, "cluster")
        .filter(F.col("keep_id") < F.col("cand_id"))
        .filter(stable_round(cosine_similarity("kv", "cv"), 6) >= threshold)
        .select(F.col("cand_id").alias("vec_id"))
        .distinct()
    )
    return (
        clustered.join(dropped.withColumn("__dropped", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("is_kept"),
        )
    )


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick ``k`` results per query that balance relevance
    to the query against redundancy with what is already picked —
    ``argmax lam * rel(d) - (1 - lam) * max_{s in S} cos(d, s)``.
    The standard diversity pass between retrieval and a RAG context
    window (the diversity complement to ``hybrid_search_rrf``'s
    rank-fusion).

    Scale shape: the expensive part is candidate generation, which
    reuses ``cosine_topk`` (corpus streams once, partial WindowGroupLimit
    pre-truncation); the greedy loop then runs over only
    ``n_queries x pool`` rows — ``k`` rounds of per-query window argmax
    + anti-join, fully distributed on query_id, no collect. The pool is
    ``localCheckpoint``-ed once so rounds do not re-scan the corpus.

    Determinism: cosines and MMR scores are ``stable_round``-ed to 6dp
    before every argmax (ties break on neighbor_id), so the selection
    sequence is reproducible and oracle-checkable bit-for-bit. Step 1's
    ``mmr_score`` is the plain relevance (nothing is selected yet).

    Returns (query_id, neighbor_id, step, relevance, mmr_score) with
    ``step`` = selection order 1..k.
    """
    c_vecs = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec"))
    pool_df = (
        cosine_topk(queries, corpus, k=pool)
        .withColumnRenamed("cosine", "relevance")
        .drop("rank")
        .join(c_vecs, "neighbor_id")
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("mmr_score"), F.asc("neighbor_id"))
    selected = (
        pool_df.withColumn("mmr_score", F.col("relevance"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn("step", F.lit(1).cast("long"))
    )
    for step in range(2, k + 1):
        sel_vecs = selected.select("query_id", F.col("c_vec").alias("s_vec"))
        rem = pool_df.join(
            selected.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_anti"
        )
        max_sim = (
            rem.join(sel_vecs, "query_id")
            .select(
                "query_id",
                "neighbor_id",
                stable_round(cosine_similarity("c_vec", "s_vec"), 6).alias("sim"),
            )
            .groupBy("query_id", "neighbor_id")
            .agg(F.max("sim").alias("max_sim"))
        )
        pick = (
            rem.join(max_sim, ["query_id", "neighbor_id"])
            .withColumn(
                "mmr_score",
                stable_round(
                    F.lit(lam) * F.col("relevance") - F.lit(1.0 - lam) * F.col("max_sim"), 6
                ),
            )
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .withColumn("step", F.lit(step).cast("long"))
        )
        selected = selected.unionByName(pick.select(*selected.columns))
    return selected.select("query_id", "neighbor_id", "step", "relevance", "mmr_score")


def nn_descent_graph(points: DataFrame, *, rounds: int = 2) -> DataFrame:
    """k-NN GRAPH construction by NN-Descent (Dong et al., WWW'11) —
    the standard way to build an all-nodes neighbor graph without the
    O(n^2) all-pairs scan: start from an arbitrary neighbor guess and
    iteratively improve it with the observation that *a neighbor of a
    neighbor is likely a neighbor*.

    Deterministic formulation (k = 4, fixed ``rounds``, no sampling): the
    initial guess for node u is its ``k`` successors in id space
    ((u + j + 1) mod n — ids are assumed dense, the usual contract for
    array-indexed ANN builds); each round forms the co-neighbor
    candidate set {(a, b) : a, b in B(w) ∪ R(w) for some w} from the
    current graph B and its reverse R, scores candidates with the
    strict-fold cosine, unions them with the current edges, and keeps
    each node's top-k (cosine desc, id asc). Returns
    (node, neighbor_id, cosine, rank).

    100 TB shape: per round, the reverse-union is a projection, the
    co-neighbor join is ONE self-equi-join on the node id whose fanout
    is bounded by (2k)^2 per node — O(n * k^2) candidates, never
    all-pairs — and top-k is the rank-limit window (partial
    WindowGroupLimit pre-truncates before the exchange). Lineage is cut
    per round like every iterative operator here. The exact all-pairs
    graph (the _knn_edges_ctes oracle shape) is the recall baseline in
    tests.
    """
    k = 4
    pts = points.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("v"))
    n_df = pts.agg(F.count(F.lit(1)).alias("n"))
    init = (
        pts.select("nid")
        .crossJoin(F.broadcast(n_df))
        .select(
            F.col("nid").alias("u"),
            F.explode(
                F.array(*[F.pmod(F.col("nid") + F.lit(j + 1), F.col("n")) for j in range(k)])
            ).alias("nbr"),
        )
    )

    pa = pts.select(F.col("nid").alias("u"), F.col("v").alias("va"))
    pb = pts.select(F.col("nid").alias("nbr"), F.col("v").alias("vb"))

    def score(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(pa, "u")
            .join(pb, "nbr")
            .select(
                "u", "nbr", stable_round(cosine_similarity("va", "vb"), 6).alias("cosine")
            )
        )

    w = Window.partitionBy("u").orderBy(F.desc("cosine"), F.asc("nbr"))
    graph = score(init)
    for _ in range(rounds):
        un = graph.select("u", "nbr").union(
            graph.select(F.col("nbr").alias("u"), F.col("u").alias("nbr"))
        )
        x = un.select(F.col("u").alias("w"), F.col("nbr").alias("a"))
        y = un.select(F.col("u").alias("w"), F.col("nbr").alias("b"))
        cand = (
            x.join(y, "w")
            .filter(F.col("a") != F.col("b"))
            .select(F.col("a").alias("u"), F.col("b").alias("nbr"))
            .distinct()
        )
        improved = graph.select("u", "nbr", "cosine").union(score(cand)).distinct()
        graph = (
            improved.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("u", "nbr", "cosine")
            .localCheckpoint(eager=False)
        )
    return graph.select(
        F.col("u").alias("node"),
        F.col("nbr").alias("neighbor_id"),
        "cosine",
        F.row_number().over(w).cast("long").alias("rank"),
    )

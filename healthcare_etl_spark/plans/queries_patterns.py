"""Round-6 continuation-4 scale-pattern additions.

Extension surface beyond the reference (`etl_app/etl_script.py:74-119`
is filter/rename/aggregate only): candidate-generation and graph
patterns a 100 TB curation pipeline leans on —

- ``q_dedup_prefix_filter``: the EXACT Jaccard-threshold similarity
  join via prefix filtering (SSJoin/PPJoin family) — the third
  candidate strategy next to the full inverted index (exact, explodes
  on frequent tokens) and banded MinHash-LSH (cheap, probabilistic):
  exact with LSH-like candidate volume.
- ``q_lpa_communities``: deterministic synchronous label-propagation
  communities over a k-NN embedding graph — the community structure a
  connected-components flood cannot see (one component, many dense
  regions).

Contracts: integer-exact thresholds (rational t, no float boundary),
stable_round on every emitted double, no data-scale partitionless
windows, DuckDB oracles with identical arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import stable_round
from healthcare_etl_spark.plans.power_iteration import PAIR_COUNTS_SQL, event_pairs, transitions
from healthcare_etl_spark.plans.registry import register
from healthcare_etl_spark.sources import load_table, local_frame, spread
from healthcare_etl_spark.plans.queries_dedup import _MD5H, _shingles_sql
from healthcare_etl_spark.plans.queries_similarity import _COS


def _prefix_filter_ctes(source: str = "documents", t_num: int = 3, t_den: int = 5) -> str:
    """Prefix-filter pair pipeline as a CTE chain (no leading WITH),
    ending in ``pf_pairs(doc_a, doc_b, o, na, nb)`` — every pair with
    EXACT Jaccard >= t_num/t_den among ``source``'s documents.
    Parameterized on the source relation so q_curation_pipeline_v2 can
    run it over a filtered upstream CTE."""
    return f"""{_shingles_sql(source)},
inv0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
inv AS MATERIALIZED (
    SELECT DISTINCT doc_id, {_MD5H.format(x="shingle")} AS hsh FROM inv0),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM inv GROUP BY doc_id),
dfreq AS (SELECT hsh, count(*) AS df FROM inv GROUP BY hsh),
ranked AS (
    SELECT i.doc_id, i.hsh, s.n_sh,
           row_number() OVER (PARTITION BY i.doc_id
                              ORDER BY d.df ASC, i.hsh ASC) AS pos
    FROM inv i JOIN dfreq d USING (hsh) JOIN sizes s USING (doc_id)),
pref AS (
    SELECT doc_id, hsh, n_sh FROM ranked
    WHERE pos <= n_sh - (({t_num} * n_sh + {t_den} - 1) // {t_den}) + 1),
cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                    x.n_sh AS na, y.n_sh AS nb
    FROM pref x JOIN pref y
      ON x.hsh = y.hsh AND x.doc_id < y.doc_id
     AND {t_den} * least(x.n_sh, y.n_sh) >= {t_num} * greatest(x.n_sh, y.n_sh)),
common AS (
    SELECT c.doc_a, c.doc_b, c.na, c.nb, count(*) AS o
    FROM cand c
    JOIN inv ia ON ia.doc_id = c.doc_a
    JOIN inv ib ON ib.doc_id = c.doc_b AND ib.hsh = ia.hsh
    GROUP BY 1, 2, 3, 4),
pf_pairs AS (
    SELECT doc_a, doc_b, o, na, nb FROM common
    WHERE {t_den} * o >= {t_num} * (na + nb - o))"""


def _prefix_filter_oracle(t_num: int = 3, t_den: int = 5) -> str:
    """DuckDB mirror of ``prefix_filter_jaccard_pairs`` — same hashes,
    same rare-first prefix order, same integer-exact length and
    verification filters."""
    return f"""
WITH {_prefix_filter_ctes("documents", t_num, t_den)}
SELECT doc_a, doc_b,
       (round((o * 1.0 / (na + nb - o)) * 1000000.0) / 1000000.0) AS jaccard
FROM pf_pairs
ORDER BY doc_a, doc_b
"""


@register(
    "q_dedup_prefix_filter",
    oracle=_prefix_filter_oracle(),
    description=(
        "EXACT Jaccard >= 3/5 near-dup pairs via PREFIX FILTERING "
        "(SSJoin, Chaudhuri et al. ICDE'06 / PPJoin, Xiao et al. "
        "WWW'08): each document's shingle-hash set is ordered by global "
        "document frequency ascending (rarest first) and only the first "
        "n - ceil(t*n) + 1 tokens join — any pair with J >= t provably "
        "shares a prefix token under a common total order, so there are "
        "NO false negatives (unlike LSH) while the join never touches "
        "the frequent tokens that blow up the full inverted index "
        "(q_dedup_ngram_jaccard). Candidates pass the exact integer "
        "length filter t*max <= min, then exact verification "
        "5*o >= 3*(na+nb-o) — the threshold is the rational 3/5 so no "
        "float boundary exists anywhere. 100 TB shape: df is one hash "
        "aggregate on 8-byte keys; the prefix join shuffles a ~(1-t) "
        "fraction of the index biased to RARE keys (inherent skew "
        "guard); verification is candidate-bounded."
    ),
    tags=("dedup", "extension", "scale-pattern"),
)
def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.dedup import prefix_filter_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(docs, t_num=3, t_den=5)


_LPA_CAP = 256
_LPA_K = 3
_LPA_ROUNDS = 4


def _knn_edges_ctes() -> list[str]:
    """Shared CTE chain: symmetrized k=3 cosine-NN graph over the first
    256 embeddings, ending in ``edges(u, v)`` (both directions)."""
    cos = _COS.format(a="a.embedding", b="b.embedding")
    return [
        f"pts AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_LPA_CAP})",
        f"""sc AS MATERIALIZED (
    SELECT a.vec_id AS s, b.vec_id AS d,
           (round(({cos}) * 1000000.0) / 1000000.0) AS c
    FROM pts a JOIN pts b ON a.vec_id <> b.vec_id)""",
        f"""knn AS (SELECT s, d FROM (
    SELECT s, d, row_number() OVER (PARTITION BY s ORDER BY c DESC, d ASC) AS rk
    FROM sc) WHERE rk <= {_LPA_K})""",
        "edges AS MATERIALIZED (SELECT s AS u, d AS v FROM knn UNION SELECT d, s FROM knn)",
    ]


def _lpa_oracle(rounds: int = _LPA_ROUNDS) -> str:
    parts = _knn_edges_ctes() + [
        "l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM edges)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""v{r} AS MATERIALIZED (
    SELECT node, lbl, count(*) AS c FROM (
        SELECT e.u AS node, l.lbl FROM edges e JOIN l{r - 1} l ON l.node = e.v
        UNION ALL SELECT node, lbl FROM l{r - 1}) GROUP BY node, lbl)"""
        )
        parts.append(
            f"""l{r} AS MATERIALIZED (
    SELECT node, lbl FROM (
        SELECT node, lbl, row_number() OVER (PARTITION BY node
                          ORDER BY c DESC, lbl ASC) AS rn FROM v{r}) WHERE rn = 1)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node AS vec_id, lbl AS community FROM l{rounds} ORDER BY node"
    )


@register(
    "q_lpa_communities",
    oracle=_lpa_oracle(),
    description=(
        "Deterministic synchronous label-propagation communities "
        "(Raghavan et al. 2007) over the k=3 cosine-NN graph of the "
        "first 256 embeddings: 4 simultaneous rounds where each node "
        "adopts the max-vote label among its neighbors plus one "
        "self-vote (the damping that kills two-coloring oscillation), "
        "ties to the smallest label. This is what connected components "
        "cannot compute — the k-NN graph is one or few giant "
        "components, but LPA lets dense regions keep their own labels "
        "and splits them into communities. Per round: one shuffle "
        "(edges join labels on neighbor id), a (node,label) count, and "
        "a WindowGroupLimit argmax; labels checkpoint per round so "
        "lineage stays bounded. At corpus scale the k-NN edges come "
        "from any ANN in the registry (IVF/LSH/PQ) instead of the "
        "capped brute-force pass; the propagation loop is unchanged. "
        "Oracle: 4 unrolled rounds over MATERIALIZED CTEs."
    ),
    tags=("graph", "extension", "iterative", "scale-pattern"),
)
def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.vectors import cosine_similarity
    from healthcare_etl_spark.operators.graph import label_propagation_communities

    pts = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _LPA_CAP)
        .select("vec_id", "embedding")
    )
    a = pts.select(F.col("vec_id").alias("s"), F.col("embedding").alias("av"))
    b = pts.select(F.col("vec_id").alias("d"), F.col("embedding").alias("bv"))
    sc = (
        a.join(F.broadcast(b), F.col("s") != F.col("d"))
        .select(
            "s",
            "d",
            stable_round(cosine_similarity(F.col("av"), F.col("bv")), 6).alias("c"),
        )
    )
    w = Window.partitionBy("s").orderBy(F.desc("c"), F.asc("d"))
    knn = (
        sc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _LPA_K)
        .select("s", "d")
    )
    out = label_propagation_communities(knn, src="s", dst="d", rounds=_LPA_ROUNDS)
    return out.select(
        F.col("node").alias("vec_id"), F.col("community").cast("long").alias("community")
    ).orderBy("vec_id")


def _ktruss_oracle(k: int = 4, rounds: int = 3) -> str:
    """Unrolled k-truss peel over the k-NN embedding graph — every
    per-round CTE MATERIALIZED (the shared edge base would otherwise
    inline into each triangle chain and plan exponentially)."""
    min_sup = k - 2
    parts = _knn_edges_ctes() + [
        """e0 AS MATERIALIZED (
    SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM edges)"""
    ]
    for r in range(1, rounds + 1):
        p = f"e{r - 1}"
        parts.append(
            f"""tri{r} AS MATERIALIZED (
    SELECT w.a, w.b, w.c
    FROM (SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM {p} e1 JOIN {p} e2 ON e1.v = e2.u) w
    JOIN {p} e3 ON w.a = e3.u AND w.c = e3.v)"""
        )
        parts.append(
            f"""s{r} AS MATERIALIZED (
    SELECT u, v, CAST(count(*) AS BIGINT) AS support FROM (
        SELECT a AS u, b AS v FROM tri{r}
        UNION ALL SELECT b, c FROM tri{r}
        UNION ALL SELECT a, c FROM tri{r}) GROUP BY u, v)"""
        )
        parts.append(
            f"""e{r} AS MATERIALIZED (
    SELECT e.u, e.v, coalesce(s.support, 0) AS support
    FROM {p} e LEFT JOIN s{r} s ON e.u = s.u AND e.v = s.v
    WHERE coalesce(s.support, 0) >= {min_sup})"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT u, v, support FROM e{rounds} ORDER BY u, v"
    )


@register(
    "q_ktruss_peel",
    oracle=_ktruss_oracle(k=3),
    description=(
        "3-truss peel (Cohen 2008) over the k=3 cosine-NN embedding "
        "graph: 3 unrolled rounds each dropping every edge in fewer "
        "than k-2 = 1 triangle among the SURVIVING edges — the "
        "edge-level cohesion filter that strips the hub/bridge edges "
        "k-NN graphs accumulate (asymmetric hubness matches that close "
        "no triangle) while keeping the mutually-corroborated "
        "neighborhoods; on this fixture it peels 518 edges to 73. "
        "Stricter than q_kcore_peel's degree test, complementary to "
        "q_triangle_count's node counts and q_lpa_communities' labels "
        "(same shared k-NN graph). Per round: the canonical a<b<c "
        "ordered-triangle enumeration (two hash joins on 8-byte keys, "
        "each triangle generated once), one UNION ALL support count, "
        "one left-join filter; edges checkpoint per round so nothing "
        "re-executes transitively. Fixed 3 rounds keeps it oracle-"
        "expressible; production runs to fixpoint with the same "
        "per-round plan, and at corpus scale the k-NN edges come from "
        "any ANN in the registry instead of the capped brute-force "
        "pass."
    ),
    tags=("graph", "extension", "iterative", "scale-pattern"),
)
def q_ktruss_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.vectors import cosine_similarity
    from healthcare_etl_spark.operators.graph import ktruss_edges

    pts = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _LPA_CAP)
        .select("vec_id", "embedding")
    )
    a = pts.select(F.col("vec_id").alias("s"), F.col("embedding").alias("av"))
    b = pts.select(F.col("vec_id").alias("d"), F.col("embedding").alias("bv"))
    sc = a.join(F.broadcast(b), F.col("s") != F.col("d")).select(
        "s",
        "d",
        stable_round(cosine_similarity(F.col("av"), F.col("bv")), 6).alias("c"),
    )
    w = Window.partitionBy("s").orderBy(F.desc("c"), F.asc("d"))
    knn = (
        sc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _LPA_K)
        .select("s", "d")
    )
    sym = knn.select(F.col("s").alias("u"), F.col("d").alias("v")).union(
        knn.select(F.col("d").alias("u"), F.col("s").alias("v"))
    )
    return ktruss_edges(sym, src="u", dst="v", k=3).orderBy("u", "v")


def _ransac_hashes(n_cand: int = 16) -> list[tuple[int, int, int]]:
    """Counter-based candidate anchors: (cand, Ha, Hb) with H = 31-bit
    md5 of the literal strings 'ransac:{i}:a' / 'ransac:{i}:b' — the
    same md5-derived hash family every dedup oracle mirrors, computed
    once here and INLINED as literals into both engines so there is no
    RNG to disagree on."""
    import hashlib

    out = []
    for i in range(n_cand):
        ha = int(hashlib.md5(f"ransac:{i}:a".encode()).hexdigest()[:8], 16) % 2147483647
        hb = int(hashlib.md5(f"ransac:{i}:b".encode()).hexdigest()[:8], 16) % 2147483647
        out.append((i, ha, hb))
    return out


_RANSAC_EPS = 20000  # inlier band, integer cents


def _ransac_oracle(n_cand: int = 16) -> str:
    values = ", ".join(f"({c}, {ha}, {hb})" for c, ha, hb in _ransac_hashes(n_cand))
    fit_num = "(k * sxy - sx * sy) * 1.0"
    fit_den = "(k * sxx - sx * sx)"
    slope_raw = f"({fit_num} / {fit_den})"
    return f"""
WITH pts AS MATERIALIZED (
    SELECT user_id, CAST(count(*) AS BIGINT) AS x,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
    FROM events GROUP BY user_id),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pts),
ranked AS (SELECT x, y, row_number() OVER (ORDER BY user_id) AS rk FROM pts),
hc (cand, ha, hb) AS (VALUES {values}),
cands AS (SELECT cand, ha % nn.n + 1 AS ra, hb % nn.n + 1 AS rb FROM hc, nn),
models AS (
    SELECT c.cand, c.ra, c.rb, p1.x AS x1, p1.y AS y1,
           p2.x - p1.x AS dx, p2.y - p1.y AS dy
    FROM cands c
    JOIN ranked p1 ON p1.rk = c.ra
    JOIN ranked p2 ON p2.rk = c.rb
    WHERE p1.x <> p2.x),
inl AS (
    SELECT m.cand, CAST(count(*) AS BIGINT) AS n_inliers
    FROM models m JOIN pts p
      ON abs(m.dx * (p.y - m.y1) - m.dy * (p.x - m.x1)) <= {_RANSAC_EPS} * abs(m.dx)
    GROUP BY 1),
counts AS (
    SELECT m.cand, m.ra, m.rb, m.x1, m.y1, m.dx, m.dy, i.n_inliers
    FROM models m JOIN inl i USING (cand)),
winner AS (SELECT * FROM counts ORDER BY n_inliers DESC, cand ASC LIMIT 1),
mom AS (
    SELECT w.cand, CAST(count(*) AS BIGINT) AS k,
           sum(p.x) AS sx, sum(p.y) AS sy,
           sum(p.x * p.x) AS sxx, sum(p.x * p.y) AS sxy
    FROM winner w JOIN pts p
      ON abs(w.dx * (p.y - w.y1) - w.dy * (p.x - w.x1)) <= {_RANSAC_EPS} * abs(w.dx)
    GROUP BY 1),
fit AS (
    SELECT cand,
           (round({slope_raw} * 1000000.0) / 1000000.0) AS slope,
           (round(((sy - {slope_raw} * sx) * 1.0 / k) * 1000000.0) / 1000000.0)
               AS intercept
    FROM mom)
SELECT CAST(c.cand AS BIGINT) AS cand, c.ra, c.rb, c.n_inliers,
       f.slope, f.intercept
FROM counts c LEFT JOIN fit f USING (cand)
ORDER BY c.cand
"""


@register(
    "q_ransac_fit",
    oracle=_ransac_oracle(),
    description=(
        "Deterministic RANSAC line fit (Fischler-Bolles 1981) of "
        "per-user spend-cents vs event-count: 16 candidate models, each "
        "anchored by two points addressed via counter-based hashing "
        "(rank = md5('ransac:i:a') mod n — literals inlined into both "
        "engines, no RNG), inliers tested in EXACT BIGINT arithmetic "
        "(|dx*(y-y1) - dy*(x-x1)| <= eps*|dx| — the residual test "
        "multiplied through by dx so no float boundary exists), winner "
        "= max inliers (tie: min candidate), then an exact-moment OLS "
        "refit over the winner's inliers. The robust-regression "
        "pattern OLS diagnostics (q_regression_diagnostics) and "
        "Theil-Sen (q_theil_sen) bracket: RANSAC tolerates arbitrary "
        "outlier fractions at O(candidates * n) cost. 100 TB shape: "
        "point ranks ride bucketed_rank (two-phase carry, no global "
        "sort); the 16 models broadcast into ONE conditional-count "
        "pass; the refit is one more broadcast pass — no per-candidate "
        "scans, no collect."
    ),
    tags=("mlops", "extension", "robust", "scale-pattern"),
)
def q_ransac_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.scale import bucketed_rank

    ev = load_table(spark, sf_dir, "events")
    pts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"),
    )
    pts = pts.localCheckpoint(eager=True)
    ranked = bucketed_rank(
        pts,
        buckets=[F.expr("user_id div 1024")],
        order_by=[F.col("user_id")],
        out_col="rk",
    ).select("x", "y", "rk")
    nn = pts.agg(F.count(F.lit(1)).cast("long").alias("n"))
    hc = local_frame(spark, _ransac_hashes(), "cand long, ha long, hb long")
    cands = hc.crossJoin(F.broadcast(nn)).select(
        "cand",
        (F.col("ha") % F.col("n") + 1).alias("ra"),
        (F.col("hb") % F.col("n") + 1).alias("rb"),
    )
    p1 = ranked.select(F.col("rk").alias("ra"), F.col("x").alias("x1"), F.col("y").alias("y1"))
    p2 = ranked.select(F.col("rk").alias("rb"), F.col("x").alias("x2"), F.col("y").alias("y2"))
    models = (
        p1.join(F.broadcast(cands), "ra")
        .join(p2, "rb")
        .filter(F.col("x1") != F.col("x2"))
        .select(
            "cand", "ra", "rb", "x1", "y1",
            (F.col("x2") - F.col("x1")).alias("dx"),
            (F.col("y2") - F.col("y1")).alias("dy"),
        )
    )
    resid_ok = (
        F.abs(
            F.col("dx") * (F.col("y") - F.col("y1"))
            - F.col("dy") * (F.col("x") - F.col("x1"))
        )
        <= F.lit(_RANSAC_EPS) * F.abs("dx")
    )
    inl = (
        pts.crossJoin(F.broadcast(models))
        .filter(resid_ok)
        .groupBy("cand")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inliers"))
    )
    counts = models.join(inl, "cand")
    winner = counts.orderBy(F.desc("n_inliers"), F.asc("cand")).limit(1)
    mom = (
        pts.crossJoin(F.broadcast(winner))
        .filter(resid_ok)
        .groupBy("cand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    slope_raw = (
        (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) * F.lit(1.0)
    ) / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
    fit = mom.select(
        "cand",
        stable_round(slope_raw, 6).alias("slope"),
        stable_round((F.col("sy") - slope_raw * F.col("sx")) * F.lit(1.0) / F.col("k"), 6).alias(
            "intercept"
        ),
    )
    return (
        counts.select("cand", "ra", "rb", "n_inliers")
        .join(F.broadcast(fit), "cand", "left")
        .orderBy("cand")
    )


_HLL_M = 64          # registers (6 index bits of the 31-bit hash)
_HLL_WBITS = 25      # remaining width the leading-zero count runs over
_HLL_ALPHA = 0.709   # 0.7213 / (1 + 1.079/64), the standard m=64 constant


def _rho_case_sql(w: str) -> str:
    """Exact leading-zero rank of a {_HLL_WBITS}-bit value as a CASE
    ladder — identical text on both engines, because Spark's bin() and
    DuckDB's bin() disagree on zero-padding and floor(log2(x)) sits on
    a float boundary at exact powers of two."""
    branches = [f"WHEN {w} = 0 THEN {_HLL_WBITS + 1}"]
    for rho in range(1, _HLL_WBITS + 1):
        branches.append(f"WHEN {w} >= {2 ** (_HLL_WBITS - rho)} THEN {rho}")
    return "CASE " + " ".join(branches) + " END"


def _hll_oracle() -> str:
    md5h = _MD5H.format(x="'hll:' || CAST(user_id AS VARCHAR)")
    rho = _rho_case_sql(f"(h % {2 ** _HLL_WBITS})")
    raw = f"({_HLL_ALPHA} * {_HLL_M} * {_HLL_M} * {2 ** _HLL_WBITS}.0 / s_num)"
    # small-range (linear-counting) correction: raw <= 2.5m with empty
    # registers -> m * ln(m / V), the Flajolet et al. Fig. 3 rule
    est = (
        f"(round((CASE WHEN {raw} <= {2.5 * _HLL_M} AND n_nonzero < {_HLL_M} "
        f"THEN {_HLL_M} * ln({_HLL_M} * 1.0 / ({_HLL_M} - n_nonzero)) "
        f"ELSE {raw} END) * 100.0) / 100.0)"
    )
    return f"""
WITH hashed AS MATERIALIZED (
    SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS wk,
           {md5h} AS h, user_id FROM events),
regs AS (
    SELECT wk, h // {2 ** _HLL_WBITS} AS idx,
           CAST(max({rho}) AS BIGINT) AS m
    FROM hashed GROUP BY 1, 2),
merged AS (
    SELECT CAST(-1 AS BIGINT) AS grp, idx, CAST(max(m) AS BIGINT) AS m
    FROM regs GROUP BY 2
    UNION ALL SELECT wk, idx, m FROM regs),
folded AS (
    SELECT grp,
           CAST(sum(CAST(power(2, {_HLL_WBITS} - m) AS BIGINT)) AS BIGINT)
               + ({_HLL_M} - CAST(count(*) AS BIGINT)) * {2 ** _HLL_WBITS} AS s_num,
           CAST(count(*) AS BIGINT) AS n_nonzero
    FROM merged GROUP BY 1),
exact AS (
    SELECT wk AS grp, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
    FROM hashed GROUP BY 1
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(count(DISTINCT user_id) AS BIGINT) FROM hashed)
SELECT f.grp, e.n_exact, f.n_nonzero, {est} AS hll_est
FROM folded f JOIN exact e USING (grp)
ORDER BY f.grp
"""


@register(
    "q_hll_register_sketch",
    oracle=_hll_oracle(),
    description=(
        "Explicit HyperLogLog (Flajolet et al. 2007): m=64 registers "
        "from the 31-bit md5 hash of user_id (6 index bits, max "
        "leading-zero rank over the remaining 25), per calendar DAY "
        "plus a register-wise-max MERGE into one period sketch "
        "(grp = -1) — daily uniques rolling up to period uniques is "
        "exactly the non-additive rollup HLL exists for, and the "
        "mergeability that makes HLL the cluster-scale distinct-count "
        "synopsis (per-partition sketches union losslessly; contrast "
        "q_kmv_distinct's bottom-k form). Everything is oracle-exact: "
        "the leading-zero rank is a CASE ladder shared verbatim by "
        "both engines (bin()/log2 disagree cross-engine), and the "
        "harmonic sum folds 2^(25-M_j) NUMERATORS as BIGINTs — one "
        "double division at the very end, so no float summation order "
        "exists. Registers per group are one hash aggregate "
        "(map-side combinable); the small-range linear-counting branch "
        "(raw <= 2.5m with empty registers -> m*ln(m/V)) kicks in "
        "exactly as published, and estimates land within the "
        "~13% 1.04/sqrt(64) envelope of the exact counts alongside."
    ),
    tags=("agg", "extension", "sketch", "scale-pattern"),
)
def q_hll_register_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.dedup import md5_hash31

    ev = load_table(spark, sf_dir, "events")
    hashed = ev.select(
        F.unix_date(F.col("ts").cast("date")).cast("long").alias("wk"),
        "user_id",
        md5_hash31(F.concat(F.lit("hll:"), F.col("user_id").cast("string"))).alias("h"),
    )
    w = 2 ** _HLL_WBITS
    rho = F.expr(_rho_case_sql(f"(h % {w})"))
    regs = hashed.groupBy(
        "wk", F.expr(f"h div {w}").alias("idx")
    ).agg(F.max(rho).cast("long").alias("m"))
    merged = regs.groupBy("idx").agg(F.max("m").alias("m")).select(
        F.lit(-1).cast("long").alias("grp"), "idx", "m"
    ).unionByName(regs.select(F.col("wk").alias("grp"), "idx", "m"))
    folded = merged.groupBy("grp").agg(
        (
            F.sum(F.expr(f"CAST(power(2, {_HLL_WBITS} - m) AS BIGINT)"))
            + (F.lit(_HLL_M) - F.count(F.lit(1))) * F.lit(w)
        ).cast("long").alias("s_num"),
        F.count(F.lit(1)).cast("long").alias("n_nonzero"),
    )
    exact = hashed.groupBy(F.col("wk").alias("grp")).agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    ).unionByName(
        hashed.agg(F.count_distinct("user_id").cast("long").alias("n_exact")).select(
            F.lit(-1).cast("long").alias("grp"), "n_exact"
        )
    )
    raw = F.lit(_HLL_ALPHA) * _HLL_M * _HLL_M * F.lit(float(w)) / F.col("s_num")
    lin = F.lit(float(_HLL_M)) * F.log(
        F.lit(_HLL_M) * F.lit(1.0) / (F.lit(_HLL_M) - F.col("n_nonzero"))
    )
    est = stable_round(
        F.when((raw <= 2.5 * _HLL_M) & (F.col("n_nonzero") < _HLL_M), lin).otherwise(raw),
        2,
    )
    return (
        folded.join(exact, "grp")
        .select("grp", "n_exact", "n_nonzero", est.alias("hll_est"))
        .orderBy("grp")
    )


_WOE_THRESH = 60000  # 'good' = purchase spend above this many cents


@register(
    "q_woe_iv_encoding",
    oracle=f"""
WITH u AS MATERIALIZED (
    SELECT user_id, CAST(count(*) AS BIGINT) AS x,
           CASE WHEN coalesce(sum(CASE WHEN event_type = 'purchase'
                     THEN CAST(round(value * 100) AS BIGINT) END), 0)
                     > {_WOE_THRESH}
                THEN 1 ELSE 0 END AS good
    FROM events GROUP BY user_id),
tiled AS (
    SELECT good, ntile(10) OVER (ORDER BY x, user_id) AS decile FROM u),
d AS (
    SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(good) AS BIGINT) AS goods,
           CAST(count(*) - sum(good) AS BIGINT) AS bads
    FROM tiled GROUP BY decile),
tot AS (
    SELECT CAST(sum(goods) AS BIGINT) AS gt, CAST(sum(bads) AS BIGINT) AS bt
    FROM d)
SELECT decile, n_users, goods, bads,
       (round(ln(((goods + 0.5) * (bt + 5.0)) / ((bads + 0.5) * (gt + 5.0)))
              * 1000000.0) / 1000000.0) AS woe,
       (round((((goods + 0.5) / (gt + 5.0)) - ((bads + 0.5) / (bt + 5.0)))
              * ln(((goods + 0.5) * (bt + 5.0)) / ((bads + 0.5) * (gt + 5.0)))
              * 1000000.0) / 1000000.0) AS iv_term
FROM d, tot ORDER BY decile
""",
    description=(
        "Weight-of-evidence / information-value encoding (the credit-"
        "scoring feature-engineering standard): users are binned into "
        "activity deciles and each decile gets "
        "woe = ln(good_rate/bad_rate) with Laplace 0.5 smoothing, plus "
        "its IV contribution — the monotone, missing-friendly encoding "
        "scorecards and GBM preprocessing use where "
        "q_target_encode_loo's raw mean would leak. Deciles come from "
        "ntile_from_rank over bucketed_rank (two-phase carry keyed on "
        "the activity value itself — no global sort; bit-identical to "
        "ANSI ntile, which the oracle uses directly), so the op "
        "survives a billions-of-users frame. Per-decile emission "
        "sidesteps any cross-engine float-summation order; consumers "
        "sum iv_term for the feature's total IV."
    ),
    tags=("mlops", "extension", "feature-engineering"),
)
def q_woe_iv_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        "good", ntile_from_rank(F.col("rn"), F.col("nu"), 10).alias("decile")
    )
    d = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("good").cast("long").alias("goods"),
        (F.count(F.lit(1)) - F.sum("good")).cast("long").alias("bads"),
    )
    tot = d.agg(
        F.sum("goods").cast("long").alias("gt"), F.sum("bads").cast("long").alias("bt")
    )
    woe_raw = F.log(
        ((F.col("goods") + 0.5) * (F.col("bt") + 5.0))
        / ((F.col("bads") + 0.5) * (F.col("gt") + 5.0))
    )
    iv_raw = (
        (F.col("goods") + 0.5) / (F.col("gt") + 5.0)
        - (F.col("bads") + 0.5) / (F.col("bt") + 5.0)
    ) * woe_raw
    return (
        d.crossJoin(F.broadcast(tot))
        .select(
            "decile", "n_users", "goods", "bads",
            stable_round(woe_raw, 6).alias("woe"),
            stable_round(iv_raw, 6).alias("iv_term"),
        )
        .orderBy("decile")
    )


@register(
    "q_encoding_advisor",
    oracle="""
WITH melted AS MATERIALIZED (
    SELECT 'event_type' AS colname, event_id, event_type AS val FROM events
    UNION ALL
    SELECT 'user_id', event_id, CAST(user_id AS VARCHAR) FROM events
    UNION ALL
    SELECT 'cents', event_id, CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
    FROM events
    UNION ALL
    SELECT 'day', event_id,
           CAST(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS VARCHAR)
    FROM events),
runs AS (
    SELECT colname, val,
           CASE WHEN lag(val) OVER (PARTITION BY colname ORDER BY event_id)
                     IS DISTINCT FROM val THEN 1 ELSE 0 END AS is_start
    FROM melted),
per_col AS (
    SELECT colname,
           CAST(count(*) AS BIGINT)                       AS n,
           CAST(count(DISTINCT val) AS BIGINT)            AS ndv,
           CAST(sum(is_start) AS BIGINT)                  AS n_runs,
           CAST(sum(length(val)) AS BIGINT)               AS plain_bytes,
           CAST(sum(CASE WHEN is_start = 1 THEN length(val) ELSE 0 END)
                AS BIGINT)                                AS run_val_bytes
    FROM runs GROUP BY colname),
dict_side AS (
    SELECT colname, CAST(sum(length(val)) AS BIGINT) AS distinct_bytes
    FROM (SELECT DISTINCT colname, val FROM melted) GROUP BY colname),
est AS (
    SELECT p.colname, p.n, p.ndv, p.n_runs, p.plain_bytes,
           p.run_val_bytes + 4 * p.n_runs AS rle_bytes,
           d.distinct_bytes
               + p.n * (CASE WHEN p.ndv <= 256 THEN 1
                             WHEN p.ndv <= 65536 THEN 2 ELSE 4 END) AS dict_bytes
    FROM per_col p JOIN dict_side d USING (colname))
SELECT colname, n, ndv, n_runs, plain_bytes, rle_bytes, dict_bytes,
       CASE WHEN dict_bytes <= rle_bytes AND dict_bytes <= plain_bytes THEN 'dict'
            WHEN rle_bytes <= plain_bytes THEN 'rle'
            ELSE 'plain' END AS recommended
FROM est ORDER BY colname
""",
    description=(
        "Storage-encoding advisor — the write-path companion to "
        "q_zorder_key/q_compaction_plan/q_pruning_stats: for each "
        "column (as its serialized string), exact NDV, exact RUN count "
        "in event_id order, and byte estimates for plain vs RLE "
        "(run-representative bytes + 4/run) vs dictionary (distinct "
        "bytes + n * ceil-log256(ndv) codes), recommending the "
        "cheapest — what a table-format optimizer consults before "
        "choosing parquet encodings or a sort-before-write. The run "
        "count is the scale-interesting part: a GLOBAL order-sensitive "
        "statistic computed with NO single-partition sort — within-"
        "bucket lag() windows keyed on event_id div 4096 plus a "
        "bucket-summary carry (arg_min/arg_max per bucket, one "
        "bucket-count-scale window) that cancels runs continuing "
        "across bucket boundaries. One melt (4x fanout), two hash "
        "aggregates, no collect."
    ),
    tags=("storage", "extension", "scale-pattern"),
)
def q_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    melted = ev.select(
        "event_id",
        F.expr(
            "stack(4, "
            "'event_type', event_type, "
            "'user_id', CAST(user_id AS STRING), "
            "'cents', CAST(CAST(round(value * 100) AS BIGINT) AS STRING), "
            "'day', CAST(unix_date(CAST(ts AS DATE)) AS STRING)"
            ") AS (colname, val)"
        ),
    )
    bkt = F.expr("event_id div 4096").alias("bkt")
    m = melted.select("colname", "event_id", "val", bkt)
    w_in = Window.partitionBy("colname", "bkt").orderBy("event_id")
    with_prev = m.withColumn("prev", F.lag("val").over(w_in))
    is_start = F.when(
        F.col("prev").isNull() | (F.col("prev") != F.col("val")), 1
    ).otherwise(0)
    rows = with_prev.select("colname", "val", is_start.alias("is_start"))
    # bucket-boundary carry: a bucket whose first value equals the
    # previous bucket's last value over-counted one run (and its bytes)
    summ = m.groupBy("colname", "bkt").agg(
        F.min_by("val", "event_id").alias("first_val"),
        F.max_by("val", "event_id").alias("last_val"),
    )
    w_b = Window.partitionBy("colname").orderBy("bkt")
    cont = (
        summ.withColumn("prev_last", F.lag("last_val").over(w_b))
        .filter(F.col("prev_last") == F.col("first_val"))
        .groupBy("colname")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cont"),
            F.sum(F.length("first_val")).cast("long").alias("cont_bytes"),
        )
    )
    per_col = rows.groupBy("colname").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct("val").cast("long").alias("ndv"),
        F.sum("is_start").cast("long").alias("raw_runs"),
        F.sum(F.length("val")).cast("long").alias("plain_bytes"),
        F.sum(F.when(F.col("is_start") == 1, F.length("val")).otherwise(0))
        .cast("long")
        .alias("raw_run_bytes"),
    )
    fixed = (
        per_col.join(cont, "colname", "left")
        .select(
            "colname", "n", "ndv", "plain_bytes",
            (F.col("raw_runs") - F.coalesce("n_cont", F.lit(0))).alias("n_runs"),
            (F.col("raw_run_bytes") - F.coalesce("cont_bytes", F.lit(0))).alias(
                "run_val_bytes"
            ),
        )
    )
    dict_side = (
        m.select("colname", "val")
        .distinct()
        .groupBy("colname")
        .agg(F.sum(F.length("val")).cast("long").alias("distinct_bytes"))
    )
    code_bytes = (
        F.when(F.col("ndv") <= 256, 1).when(F.col("ndv") <= 65536, 2).otherwise(4)
    )
    est = fixed.join(dict_side, "colname").select(
        "colname", "n", "ndv", "n_runs", "plain_bytes",
        (F.col("run_val_bytes") + F.lit(4) * F.col("n_runs")).alias("rle_bytes"),
        (F.col("distinct_bytes") + F.col("n") * code_bytes).alias("dict_bytes"),
    )
    rec = (
        F.when(
            (F.col("dict_bytes") <= F.col("rle_bytes"))
            & (F.col("dict_bytes") <= F.col("plain_bytes")),
            "dict",
        )
        .when(F.col("rle_bytes") <= F.col("plain_bytes"), "rle")
        .otherwise("plain")
    )
    return est.select(
        "colname", "n", "ndv", "n_runs", "plain_bytes", "rle_bytes", "dict_bytes",
        rec.alias("recommended"),
    ).orderBy("colname")


_THETA_REC = """
    SELECT i.idx, i.zt,
           (round((0.5 * i.zt + 0.5 * k.s) * CAST(1000000.0 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE))
"""

_THETA_BODY = """
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS t_n,
           CAST(sum(idx) AS BIGINT) AS st,
           CAST(sum(idx * idx) AS BIGINT) AS stt,
           CAST(sum(yc) AS BIGINT) AS sy,
           CAST(sum(idx * yc) AS BIGINT) AS sty
    FROM {days}),
ab AS (
    SELECT t_n, st, sy,
           ((t_n * sty - st * sy) * CAST(1.0 AS DOUBLE) / (t_n * stt - st * st)) AS b_raw
    FROM mom),
ab2 AS (SELECT t_n, b_raw, ((sy - b_raw * st) * CAST(1.0 AS DOUBLE) / t_n) AS a_raw FROM ab),
zline AS (
    SELECT d.idx,
           (round((2.0 * d.yc - (ab2.a_raw + ab2.b_raw * d.idx)) * CAST(1000000.0 AS DOUBLE))
            / CAST(1000000.0 AS DOUBLE)) AS zt
    FROM {days} d, ab2),
ses AS (
    SELECT idx, zt, zt AS s FROM zline WHERE idx = 1
    UNION ALL
{step}
    FROM ses k JOIN zline i ON i.idx = k.idx + 1
),
last_s AS (SELECT s FROM ses ORDER BY idx DESC LIMIT 1),
hs (h) AS (VALUES (1), (2), (3), (4), (5), (6), (7)),
fc AS (
    SELECT CAST(hs.h AS BIGINT) AS h,
           (round((ab2.a_raw + ab2.b_raw * (ab2.t_n + hs.h)) * CAST(1000000.0 AS DOUBLE))
            / CAST(1000000.0 AS DOUBLE)) AS trend_fc,
           (round(last_s.s * CAST(1000000.0 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) AS ses_fc
    FROM hs, ab2, last_s)
SELECT h, trend_fc, ses_fc,
       (round((trend_fc + ses_fc) * CAST(0.5 AS DOUBLE) * CAST(1000000.0 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) AS theta_fc
FROM fc ORDER BY h
"""


@register(
    "q_theta_forecast",
    oracle="WITH RECURSIVE days AS (\n"
    "    SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS idx, yc\n"
    "    FROM (SELECT CAST(ts AS DATE) AS d,\n"
    "                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc\n"
    "          FROM events WHERE event_type = 'purchase' GROUP BY 1)),\n"
    + _THETA_BODY.format(days="days", step=_THETA_REC),
    description=(
        "Theta-method forecast (Assimakopoulos & Nikolopoulos 2000, "
        "the M3-competition winner) of daily purchase revenue, h=1..7: "
        "decompose into the theta=0 line (OLS trend from exact BIGINT "
        "moments — closed-form t-sums, one aggregate) and the theta=2 "
        "line (double-curvature series 2y - trend) smoothed by SES "
        "alpha=0.5 carried through a native WITH RECURSIVE chain with "
        "6dp per-step re-rounding, then average the two forecasts — "
        "completing the forecasting family (seasonal-naive backtest, "
        "Holt, Holt-Winters, Kalman, reconciliation) with the "
        "deseasonalized-workhorse member. Data-sized work is ONE "
        "day-grouped aggregate; everything after runs on the "
        "day-count-bounded series."
    ),
    tags=("analytics", "extension", "forecast", "recursive"),
)
def q_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("yc"))
    )
    days = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("long").alias("idx"), "yc"
    )
    days.createOrReplaceTempView("v_theta_days")
    return spark.sql(
        "WITH RECURSIVE " + _THETA_BODY.format(days="v_theta_days", step=_THETA_REC)
    )


def _ppl_tertiles(docs: DataFrame) -> DataFrame:
    """(doc_id, nb, sq, tertile) — held-out bigram-LM scoring + tertile
    bucketing, shared by q_perplexity_filter and the v2 curation
    pipeline. Docs with < 2 tokens have no bigrams and drop out.

    Bigrams are built the same way the dedup module builds shingles:
    ``arrays_zip`` of the token array with its 1-shifted ``slice``
    (bigram i = (t[i], t[i+1]); the zip null-pads, so the one w2-null
    tail row per doc is filtered) — a NARROW codegen'd explode instead
    of the old posexplode + window ``lead``, which forced a full
    corpus shuffle by doc_id plus a per-doc sort before any LM work
    (guide §2.4: remove shuffles outright). That window shuffle was
    also materialized with an eager ``localCheckpoint`` at PLAN BUILD
    time — the build-time-execution class r8/r9 eliminated elsewhere —
    so dropping it makes plan construction job-free again; the three
    consumers (c2/c1 LM tables, the scoring join) recompute only a
    scan + narrow explode, and their own aggregates/joins dedupe at
    their exchanges via ReuseExchange.
    """
    from healthcare_etl_spark.operators.scale import bucketed_rank, ntile_from_rank

    toks = F.split("text", " ")
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
    train_big = big.filter(F.col("doc_id") % 2 == 0)
    vocab = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(toks).alias("w"))
        .agg(F.count_distinct("w").cast("long").alias("v"))
    )
    c2 = train_big.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("cb"))
    c1 = train_big.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("cc"))
    p = (F.coalesce(F.col("cb"), F.lit(0)) + 1) * F.lit(1.0) / (
        F.coalesce(F.col("cc"), F.lit(0)) + F.col("v")
    )
    qbits = F.round(-(F.log(p) / F.log(F.lit(2.0))) * 1e9).cast("long")
    scored = (
        big.join(c2, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", qbits.alias("qbits"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("qbits").cast("long").alias("sq"),
    ).withColumn("avg_nq", F.expr("sq div nb"))
    ranked = bucketed_rank(
        per_doc,
        buckets=[F.expr("avg_nq div 100000000")],
        order_by=[F.col("avg_nq"), F.col("doc_id")],
        out_col="rk",
    )
    nrow = per_doc.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    return ranked.crossJoin(F.broadcast(nrow)).select(
        "doc_id", "nb", "sq", ntile_from_rank(F.col("rk"), F.col("nd"), 3).alias("tertile")
    )


@register(
    "q_perplexity_filter",
    oracle="""
WITH tok AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
big AS MATERIALIZED (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)), i -> t[i]))   AS w1,
           unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
    FROM tok WHERE len(t) >= 2),
trainw AS (
    SELECT unnest(t) AS w FROM tok WHERE doc_id % 2 = 0),
vocab AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM trainw),
c2 AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
    FROM big WHERE doc_id % 2 = 0 GROUP BY 1, 2),
c1 AS (
    SELECT w1, CAST(count(*) AS BIGINT) AS cc
    FROM big WHERE doc_id % 2 = 0 GROUP BY 1),
scored AS (
    SELECT b.doc_id,
           CAST(round(-(ln((coalesce(c2.cb, 0) + 1) * 1.0
                           / (coalesce(c1.cc, 0) + vocab.v))
                        / ln(2.0)) * 1000000000.0) AS BIGINT) AS qbits
    FROM big b
    LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
    LEFT JOIN c1 ON b.w1 = c1.w1
    CROSS JOIN vocab),
per_doc AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS nb,
           CAST(sum(qbits) AS BIGINT) AS sq
    FROM scored GROUP BY doc_id),
ranked AS (
    SELECT doc_id, nb, sq, sq // nb AS avg_nq,
           ntile(3) OVER (ORDER BY sq // nb, doc_id) AS tertile
    FROM per_doc)
SELECT r.tertile, d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       (round((sum(r.sq) * 1.0 / sum(r.nb) / 1000000000.0) * 1000000.0)
        / 1000000.0) AS avg_bits
FROM ranked r JOIN documents d USING (doc_id)
GROUP BY 1, 2 ORDER BY 1, 2
""",
    description=(
        "CCNet-style perplexity filter (Wenzek et al. 2020): train an "
        "add-one bigram LM on the REFERENCE half of the corpus (even "
        "doc_ids — the held-out-model discipline q_bigram_logprob's "
        "self-scored corpus LM doesn't have), score every document's "
        "bits-per-bigram against it, and bucket the corpus into "
        "head/middle/tail perplexity tertiles with per-source counts — "
        "the standard web-corpus quality gate where 'tail' (high "
        "perplexity against clean reference text) is dropped or "
        "down-sampled. Every bigram's -log2 p is quantized to nano-bit "
        "BIGINTs before the per-doc sum, so no float summation order "
        "exists on either engine; tertiles ride bucketed_rank + "
        "closed-form ntile over the integer per-doc average (no global "
        "sort). The LM tables are two hash aggregates; scoring is two "
        "left joins on token keys."
    ),
    tags=("text", "extension", "curation", "scale-pattern"),
)
def q_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    tiled = _ppl_tertiles(docs)
    return (
        tiled.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("tertile", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            stable_round(
                F.sum("sq") * F.lit(1.0) / F.sum("nb") / F.lit(1e9), 6
            ).alias("avg_bits"),
        )
        .orderBy("tertile", "source")
    )


@register(
    "q_coec_position_bias",
    oracle="""
WITH strm AS MATERIALIZED (
    SELECT user_id, CAST(ts AS DATE) AS d, ts, event_id, event_type,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
    FROM events WHERE event_type IN ('view', 'click')),
marked AS (
    SELECT *,
           sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id, d ORDER BY ts, event_id) AS vpos,
           last_value(CASE WHEN event_type = 'view' THEN item END IGNORE NULLS)
               OVER (PARTITION BY user_id, d ORDER BY ts, event_id) AS last_item
    FROM strm),
imps AS (
    SELECT vpos AS pos, item FROM marked WHERE event_type = 'view'),
clicks AS (
    SELECT vpos AS pos, last_item AS item FROM marked
    WHERE event_type = 'click' AND last_item IS NOT NULL),
posctr AS (
    SELECT i.pos, CAST(count(*) AS BIGINT) AS v,
           CAST(coalesce(max(c.nc), 0) AS BIGINT) AS c
    FROM imps i LEFT JOIN (
        SELECT pos, CAST(count(*) AS BIGINT) AS nc FROM clicks GROUP BY pos) c
      ON i.pos = c.pos
    GROUP BY i.pos),
per_item AS (
    SELECT i.item,
           CAST(count(*) AS BIGINT) AS n_impressions,
           CAST(sum((p.c * 1000000) // p.v) AS BIGINT) AS expected_micro
    FROM imps i JOIN posctr p ON i.pos = p.pos
    GROUP BY i.item),
item_clicks AS (
    SELECT item, CAST(count(*) AS BIGINT) AS n_clicks FROM clicks GROUP BY item)
SELECT pi.item, pi.n_impressions,
       CAST(coalesce(ic.n_clicks, 0) AS BIGINT) AS n_clicks,
       (round((pi.expected_micro / 1000000.0) * 1000000.0) / 1000000.0)
           AS expected_clicks,
       CASE WHEN pi.expected_micro > 0
            THEN (round((coalesce(ic.n_clicks, 0) * 1000000.0
                         / pi.expected_micro) * 1000000.0) / 1000000.0)
            END AS coec
FROM per_item pi LEFT JOIN item_clicks ic USING (item)
ORDER BY pi.item
""",
    description=(
        "COEC position-bias-corrected CTR (clicks over expected "
        "clicks): each click attributes to the LAST view before it in "
        "the same user-day (last_value IGNORE NULLS over the ordered "
        "session stream), positions are the view's running index, and "
        "an item's expected clicks = sum over its impressions of the "
        "global position-CTR curve — so coec > 1 means the item beats "
        "its slots, the examination-model debiasing raw CTR cannot do "
        "(raw CTR rewards items shown at position 1). Completes the "
        "recsys-eval family (NDCG/MRR/hit-rate/diversity/IPS) with the "
        "production logging-side metric. Per-position CTR folds to "
        "integer micro-units (floor per term, documented) so the "
        "expected-click sums are exact BIGINTs. All windows are "
        "user-day partitioned; the CTR curve is a position-count-sized "
        "broadcast."
    ),
    tags=("recsys", "extension", "eval"),
)
def q_coec_position_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    strm = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        "ts",
        "event_id",
        "event_type",
        F.expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").alias("item"),
    )
    w = Window.partitionBy("user_id", "d").orderBy("ts", "event_id")
    marked = strm.select(
        "event_type",
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .over(w)
        .alias("vpos"),
        F.last(
            F.when(F.col("event_type") == "view", F.col("item")), ignorenulls=True
        )
        .over(w)
        .alias("last_item"),
        "item",
    )
    imps = marked.filter(F.col("event_type") == "view").select(
        F.col("vpos").alias("pos"), "item"
    )
    clicks = marked.filter(
        (F.col("event_type") == "click") & F.col("last_item").isNotNull()
    ).select(F.col("vpos").alias("pos"), F.col("last_item").alias("item"))
    click_pos = clicks.groupBy("pos").agg(F.count(F.lit(1)).cast("long").alias("nc"))
    posctr = (
        imps.groupBy("pos")
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
        .join(click_pos, "pos", "left")
        .select("pos", "v", F.coalesce("nc", F.lit(0)).cast("long").alias("c"))
    )
    per_item = (
        imps.join(posctr, "pos")
        .groupBy("item")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_impressions"),
            F.sum(F.expr("(c * 1000000) div v")).cast("long").alias("expected_micro"),
        )
    )
    item_clicks = clicks.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("n_clicks")
    )
    return (
        per_item.join(item_clicks, "item", "left")
        .select(
            "item",
            "n_impressions",
            F.coalesce("n_clicks", F.lit(0)).cast("long").alias("n_clicks"),
            stable_round(F.col("expected_micro") / F.lit(1000000.0), 6).alias(
                "expected_clicks"
            ),
            F.when(
                F.col("expected_micro") > 0,
                stable_round(
                    F.coalesce("n_clicks", F.lit(0))
                    * F.lit(1000000.0)
                    / F.col("expected_micro"),
                    6,
                ),
            ).alias("coec"),
        )
        .orderBy("item")
    )


_UCB_ARMS = ["click", "error", "purchase", "signup", "view"]


def _ucb_sql(grid: str) -> str:
    """Shared recursion body for the day-batched UCB1 replay —
    ``grid`` is a relation (didx, c0, r0, ..., c4, r4) with one row per
    day: per-arm logged event counts and reward-cent sums. Generated
    once, used verbatim by both engines (all literals CAST AS DOUBLE)."""
    n = len(_UCB_ARMS)
    d = "CAST(1.0 AS DOUBLE)"
    t = " + ".join(f"k.n{a}" for a in range(n))
    u = {
        a: (
            f"(round((k.s{a} * {d} / (k.n{a} * CAST(10000.0 AS DOUBLE))"
            f" + sqrt(CAST(2.0 AS DOUBLE) * ln(({t}) * {d}) / k.n{a}))"
            f" * CAST(1000000.0 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE))"
        )
        for a in range(n)
    }
    argmax = "CASE "
    for a in range(n - 1):
        conds = " AND ".join(f"{u[a]} >= {u[b]}" for b in range(n) if b != a)
        argmax += f"WHEN {conds} THEN {a} "
    argmax += f"ELSE {n - 1} END"
    cold = " ".join(f"WHEN k.n{a} = 0 THEN {a}" for a in range(n))
    ch = f"CASE {cold} ELSE {argmax} END"
    upd_n = ", ".join(
        f"k.n{a} + CASE WHEN ({ch}) = {a} THEN g.c{a} ELSE 0 END" for a in range(n)
    )
    upd_s = ", ".join(
        f"k.s{a} + CASE WHEN ({ch}) = {a} THEN g.r{a} ELSE 0 END" for a in range(n)
    )
    zeros_n = ", ".join(f"CAST(0 AS BIGINT) AS n{a}" for a in range(n))
    zeros_s = ", ".join(f"CAST(0 AS BIGINT) AS s{a}" for a in range(n))
    return f"""
rep AS (
    SELECT CAST(0 AS BIGINT) AS didx, CAST(-1 AS BIGINT) AS chosen,
           {zeros_n}, {zeros_s}
    UNION ALL
    SELECT g.didx, CAST(({ch}) AS BIGINT), {upd_n}, {upd_s}
    FROM rep k JOIN {grid} g ON g.didx = k.didx + 1
)
SELECT didx AS day_idx, chosen,
       CAST({" + ".join(f"n{a}" for a in range(n))} AS BIGINT) AS t_plays,
       {", ".join(f"n{a}" for a in range(n))},
       {", ".join(f"s{a}" for a in range(n))}
FROM rep WHERE didx > 0 ORDER BY didx
"""


def _ucb_grid_sql() -> str:
    cols = ", ".join(
        f"CAST(coalesce(sum(CASE WHEN event_type = '{arm}' THEN 1 END), 0) AS BIGINT) AS c{a}, "
        f"CAST(coalesce(sum(CASE WHEN event_type = '{arm}' "
        f"THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS r{a}"
        for a, arm in enumerate(_UCB_ARMS)
    )
    return f"""
byday AS (
    SELECT CAST(ts AS DATE) AS d, event_type, value FROM events),
grid AS MATERIALIZED (
    SELECT CAST(dense_rank() OVER (ORDER BY d) AS BIGINT) AS didx, {cols}
    FROM byday GROUP BY d)
"""


@register(
    "q_ucb1_replay",
    oracle="WITH RECURSIVE " + _ucb_grid_sql() + "," + _ucb_sql("grid"),
    description=(
        "Day-batched UCB1 bandit replay (Auer et al. 2002 policy, "
        "Li et al. 2011 offline replay): arms are the five event "
        "channels, each day the policy plays the arm maximizing "
        "mean-reward + sqrt(2 ln t / n) from statistics accumulated "
        "over PREVIOUS days only (cold-start: first unplayed arm), and "
        "the logged day x arm batch updates the chosen arm's counts — "
        "the offline evaluation loop every bandit deployment runs "
        "before going live, completing the policy-eval family next to "
        "q_ips_policy_eval's static importance weighting. Data-sized "
        "work is ONE day x arm aggregate; the replay is a day-count-"
        "bounded WITH RECURSIVE chain carrying 10 BIGINT columns "
        "(counts and reward cents — integer-exact state), with UCB "
        "scores 6dp-rounded before the argmax so the arm choice has no "
        "cross-engine float boundary."
    ),
    tags=("mlops", "extension", "bandit", "recursive"),
)
def q_ucb1_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    aggs = []
    for a, arm in enumerate(_UCB_ARMS):
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == arm, 1)), F.lit(0)
            ).cast("long").alias(f"c{a}")
        )
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == arm,
                        F.round(F.col("value") * 100).cast("long"),
                    )
                ),
                F.lit(0),
            ).cast("long").alias(f"r{a}")
        )
    grid = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(*aggs)
        .select(
            F.dense_rank().over(Window.orderBy("d")).cast("long").alias("didx"),
            *[c for a in range(5) for c in (f"c{a}", f"r{a}")],
        )
    )
    grid.createOrReplaceTempView("v_ucb_grid")
    return spark.sql("WITH RECURSIVE " + _ucb_sql("v_ucb_grid"))


@register(
    "q_join_order_advisor",
    oracle="""
WITH stats AS (
    SELECT (SELECT count(*) FROM lineitem) AS n_l,
           (SELECT count(*) FROM orders) AS n_o,
           (SELECT count(*) FROM customer) AS n_c,
           (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS d_l_ok,
           (SELECT count(DISTINCT o_orderkey) FROM orders) AS d_o_ok,
           (SELECT count(DISTINCT o_custkey) FROM orders) AS d_o_ck,
           (SELECT count(DISTINCT c_custkey) FROM customer) AS d_c_ck),
act AS (
    SELECT (SELECT count(*) FROM lineitem l JOIN orders o
            ON l.l_orderkey = o.o_orderkey) AS a_lo,
           (SELECT count(*) FROM orders o JOIN customer c
            ON o.o_custkey = c.c_custkey) AS a_oc),
plans AS (
    SELECT 'lineitem_first' AS plan_order,
           CAST(n_l * n_o // greatest(d_l_ok, d_o_ok) AS BIGINT) AS est_intermediate,
           CAST(a_lo AS BIGINT) AS actual_intermediate
    FROM stats, act
    UNION ALL
    SELECT 'customer_first',
           CAST(n_o * n_c // greatest(d_o_ck, d_c_ck) AS BIGINT),
           CAST(a_oc AS BIGINT)
    FROM stats, act)
SELECT plan_order, est_intermediate, actual_intermediate,
       CAST(abs(est_intermediate - actual_intermediate) AS BIGINT) AS est_abs_err,
       est_intermediate = (SELECT min(est_intermediate) FROM plans) AS recommended
FROM plans ORDER BY plan_order
""",
    description=(
        "Join-order advisor — the System-R cardinality-estimation "
        "audit behind every CBO decision: for the customer-orders-"
        "lineitem chain, estimate each first-join's output with the "
        "textbook |A||B|/max(ndv_A, ndv_B) independence formula "
        "(integer floor division — exact on both engines), measure the "
        "ACTUAL intermediate cardinalities, and recommend the order "
        "with the smaller estimated intermediate. The est-vs-actual "
        "error column is the point: it quantifies how far the "
        "uniformity assumption drifts on real keys, which is what "
        "decides whether to trust static ordering or lean on AQE "
        "re-planning. Completes the CBO trio with "
        "q_join_strategy_advisor (broadcast vs shuffle from byte "
        "stats) and q_join_size_estimate (KMV-sketch sizing). All "
        "inputs are one aggregate per table; the actuals are the two "
        "joins themselves."
    ),
    tags=("storage", "extension", "systems"),
)
def q_join_order_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    stats = (
        li.agg(
            F.count(F.lit(1)).cast("long").alias("n_l"),
            F.count_distinct("l_orderkey").cast("long").alias("d_l_ok"),
        )
        .crossJoin(
            o.agg(
                F.count(F.lit(1)).cast("long").alias("n_o"),
                F.count_distinct("o_orderkey").cast("long").alias("d_o_ok"),
                F.count_distinct("o_custkey").cast("long").alias("d_o_ck"),
            )
        )
        .crossJoin(
            c.agg(
                F.count(F.lit(1)).cast("long").alias("n_c"),
                F.count_distinct("c_custkey").cast("long").alias("d_c_ck"),
            )
        )
    )
    a_lo = li.join(o, li.l_orderkey == o.o_orderkey).agg(
        F.count(F.lit(1)).cast("long").alias("a_lo")
    )
    a_oc = o.join(c, o.o_custkey == c.c_custkey).agg(
        F.count(F.lit(1)).cast("long").alias("a_oc")
    )
    base = stats.crossJoin(a_lo).crossJoin(a_oc)
    p1 = base.select(
        F.lit("lineitem_first").alias("plan_order"),
        F.expr("(n_l * n_o) div greatest(d_l_ok, d_o_ok)").cast("long").alias(
            "est_intermediate"
        ),
        F.col("a_lo").alias("actual_intermediate"),
    )
    p2 = base.select(
        F.lit("customer_first").alias("plan_order"),
        F.expr("(n_o * n_c) div greatest(d_o_ck, d_c_ck)").cast("long").alias(
            "est_intermediate"
        ),
        F.col("a_oc").alias("actual_intermediate"),
    )
    plans = p1.unionByName(p2)
    best = plans.agg(F.min("est_intermediate").alias("best_est"))
    return (
        plans.crossJoin(F.broadcast(best))
        .select(
            "plan_order",
            "est_intermediate",
            "actual_intermediate",
            F.abs(F.col("est_intermediate") - F.col("actual_intermediate"))
            .cast("long")
            .alias("est_abs_err"),
            (F.col("est_intermediate") == F.col("best_est")).alias("recommended"),
        )
        .orderBy("plan_order")
    )


def _bloom_oracle() -> str:
    md5b = _MD5H.format(
        x="'bloom:' || CAST(hc.i AS VARCHAR) || ':' || CAST(mem.user_id AS VARCHAR)"
    )
    md5p = _MD5H.format(
        x="'bloom:' || CAST(hc.i AS VARCHAR) || ':' || CAST(nm.user_id + 1000000000 AS VARCHAR)"
    )
    probes = ", ".join(f"({i})" for i in range(16))
    return f"""
WITH members AS MATERIALIZED (SELECT DISTINCT user_id FROM events),
params AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(ceil(count(*) * (-ln(0.01) / (ln(2) * ln(2)))) AS BIGINT) AS m,
           greatest(CAST(1 AS BIGINT),
                    CAST(round((ceil(count(*) * (-ln(0.01) / (ln(2) * ln(2))))
                                / count(*)) * ln(2)) AS BIGINT)) AS k
    FROM members),
hc (i) AS (VALUES {probes}),
bits AS (
    SELECT DISTINCT {md5b} % params.m AS bit
    FROM members mem, params, hc WHERE hc.i < params.k),
occ AS (SELECT CAST(count(*) AS BIGINT) AS bits_set FROM bits),
nonmembers AS (SELECT user_id FROM members),
probe_hits AS (
    SELECT nm.user_id
    FROM nonmembers nm, params, hc
    JOIN bits ON bits.bit = {md5p} % params.m
    WHERE hc.i < params.k
    GROUP BY nm.user_id, params.k
    HAVING count(*) = params.k),
fp AS (SELECT CAST(count(*) AS BIGINT) AS fp_probes FROM probe_hits)
SELECT p.n, p.m AS m_bits, p.k AS k_hashes, o.bits_set,
       (round((o.bits_set * 1.0 / p.m) * 1000000.0) / 1000000.0) AS occupancy,
       f.fp_probes,
       (round((f.fp_probes * 1.0 / p.n) * 1000000.0) / 1000000.0)
           AS measured_fpr,
       (round(power(1.0 - exp(-(p.k * p.n * 1.0) / p.m), p.k * 1.0)
              * 1000000.0) / 1000000.0) AS theoretical_fpr
FROM params p, occ o, fp f
"""


@register(
    "q_bloom_size_advisor",
    oracle=_bloom_oracle(),
    description=(
        "Bloom-filter sizing advisor WITH a live verification build: "
        "from the measured member count n, compute the textbook "
        "optimal m = ceil(-n ln p / ln^2 2) bits and k = m/n ln 2 "
        "hashes for a 1% FPR target, then actually CONSTRUCT the "
        "filter as a distinct (a_i*h + b_i) mod m bit set (LCG probe "
        "family inlined as literals on both engines), measure "
        "occupancy, and probe with n disjoint non-member keys to "
        "report the MEASURED false-positive rate next to the "
        "(1-e^(-kn/m))^k theory — the sizing loop a decontamination "
        "or join-pruning deployment runs before shipping a filter "
        "(q_bloom_decontaminate consumes exactly this shape). Each of "
        "the k probes is an INDEPENDENT salted md5 hash (an affine "
        "family of one base hash measured 25x the theoretical FPR "
        "here — structural correlation double-hashing theory hides); "
        "bits and probes are pure integer/hash arithmetic, membership "
        "is an equi-join on bit positions with a count(k) HAVING."
    ),
    tags=("storage", "extension", "sketch", "systems"),
)
def q_bloom_size_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.dedup import md5_hash31

    ev = load_table(spark, sf_dir, "events")
    members = ev.select("user_id").distinct().localCheckpoint(eager=True)
    ln2 = 0.6931471805599453
    params = members.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
        "n",
        F.ceil(F.col("n") * (-F.log(F.lit(0.01)) / F.lit(ln2 * ln2)))
        .cast("long")
        .alias("m"),
    ).select(
        "n",
        "m",
        F.greatest(
            F.lit(1).cast("long"),
            F.round((F.col("m") / F.col("n")) * F.lit(ln2)).cast("long"),
        ).alias("k"),
    )
    hc = local_frame(spark, [(i,) for i in range(16)], "i long")

    def probe_hash(uid_col):
        return md5_hash31(
            F.concat(
                F.lit("bloom:"),
                F.col("i").cast("string"),
                F.lit(":"),
                uid_col.cast("string"),
            )
        )

    withp = members.crossJoin(F.broadcast(params)).crossJoin(F.broadcast(hc)).filter(
        F.col("i") < F.col("k")
    )
    bits = withp.select(
        (probe_hash(F.col("user_id")) % F.col("m")).alias("bit")
    ).distinct().localCheckpoint(eager=True)
    occ = bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    probe_bits = (
        members.crossJoin(F.broadcast(params))
        .crossJoin(F.broadcast(hc))
        .filter(F.col("i") < F.col("k"))
        .select(
            "user_id",
            "k",
            (probe_hash(F.col("user_id") + 1000000000) % F.col("m")).alias("bit"),
        )
    )
    fp = (
        probe_bits.join(bits, "bit")
        .groupBy("user_id", "k")
        .agg(F.count(F.lit(1)).alias("nhit"))
        .filter(F.col("nhit") == F.col("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("fp_probes"))
    )
    theo = F.pow(
        F.lit(1.0) - F.exp(-(F.col("k") * F.col("n") * F.lit(1.0)) / F.col("m")),
        F.col("k") * F.lit(1.0),
    )
    return (
        params.crossJoin(occ)
        .crossJoin(fp)
        .select(
            "n",
            F.col("m").alias("m_bits"),
            F.col("k").alias("k_hashes"),
            "bits_set",
            stable_round(F.col("bits_set") * F.lit(1.0) / F.col("m"), 6).alias(
                "occupancy"
            ),
            "fp_probes",
            stable_round(F.col("fp_probes") * F.lit(1.0) / F.col("n"), 6).alias(
                "measured_fpr"
            ),
            stable_round(theo, 6).alias("theoretical_fpr"),
        )
    )


@register(
    "q_fd_histogram",
    oracle="""
WITH cents AS (
    SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events),
cdist AS (
    SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM cents GROUP BY c),
ccum AS (
    SELECT c, cnt,
           CAST(sum(cnt) OVER (ORDER BY c) AS BIGINT) AS cum,
           CAST(sum(cnt) OVER () AS BIGINT) AS n
    FROM cdist),
q AS (
    SELECT (SELECT min(c) FROM ccum WHERE cum * 4 >= n) AS p25,
           (SELECT min(c) FROM ccum WHERE cum * 4 >= 3 * n) AS p75,
           (SELECT max(n) FROM ccum) AS n),
width AS (
    SELECT n, p25, p75,
           greatest(CAST(1 AS BIGINT),
                    CAST(round(2.0 * (p75 - p25) / cbrt(n * 1.0)) AS BIGINT))
               AS h
    FROM q)
SELECT CAST(c.c // w.h AS BIGINT) AS bin,
       CAST(c.c // w.h * w.h AS BIGINT) AS lo_cents,
       CAST((c.c // w.h + 1) * w.h - 1 AS BIGINT) AS hi_cents,
       CAST(count(*) AS BIGINT) AS n_rows
FROM cents c, width w
GROUP BY 1, 2, 3 ORDER BY bin
""",
    description=(
        "Freedman-Diaconis auto-width histogram of event value cents: "
        "bin width h = 2*IQR/n^(1/3) — the robust rule that adapts bin "
        "count to both spread and sample size, where "
        "q_value_histogram's fixed bins and q_equidepth_histogram's "
        "equal-mass bins need a width/count chosen a priori. The IQR "
        "comes from EXACT discrete quartiles computed over the "
        "distinct-cents cumulative frame (value-domain-bounded, the "
        "same carry class as q_mann_whitney — never a row-scale sort), "
        "width is floored to an integer cent so binning is pure "
        "integer arithmetic, and the final histogram is one hash "
        "aggregate. At 100 TB: two aggregates over a bounded value "
        "domain plus one scan."
    ),
    tags=("agg", "extension", "stats"),
)
def q_fd_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(F.round(F.col("value") * 100).cast("long").alias("c"))
    cdist = cents.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w_cum = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    ccum = cdist.select(
        "c",
        F.sum("cnt").over(w_cum).cast("long").alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).cast("long").alias("n"),
    )
    q = (
        ccum.agg(
            F.min(F.when(F.col("cum") * 4 >= F.col("n"), F.col("c"))).alias("p25"),
            F.min(F.when(F.col("cum") * 4 >= 3 * F.col("n"), F.col("c"))).alias(
                "p75"
            ),
            F.max("n").alias("n"),
        )
    )
    width = q.select(
        "n",
        F.greatest(
            F.lit(1).cast("long"),
            F.round(
                F.lit(2.0) * (F.col("p75") - F.col("p25")) / F.cbrt(F.col("n") * F.lit(1.0))
            ).cast("long"),
        ).alias("h"),
    )
    return (
        cents.crossJoin(F.broadcast(width))
        .groupBy(
            F.expr("c div h").cast("long").alias("bin"),
            F.expr("(c div h) * h").cast("long").alias("lo_cents"),
            F.expr("((c div h) + 1) * h - 1").cast("long").alias("hi_cents"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .orderBy("bin")
    )


_ABS_TRANSIENT = ["click", "signup", "view"]
_ABS_TARGET = "purchase"


def _absorb_mat_sql(counts: str, idiv: str) -> str:
    """``mat``: the pivoted nano-quantized transition row over ``counts``
    (f, t, n). For each transient state s, p_{s}_{t} = round-half-up(n_st
    * 1e9 / n_s) as BIGINT nanos — integer arithmetic only ((2*n*1e9 + d)
    ``idiv`` (2*d)), so both engines hold bit-identical probabilities."""
    cols = []
    for s in _ABS_TRANSIENT:
        si = s[0]
        for t in _ABS_TRANSIENT + [_ABS_TARGET]:
            cols.append(
                f"CAST((2 * coalesce(sum(CASE WHEN f = '{s}' AND t = '{t}' "
                f"THEN n END), 0) * 1000000000 + sum(CASE WHEN f = '{s}' THEN n ELSE 0 END)) "
                f"{idiv} (2 * sum(CASE WHEN f = '{s}' THEN n ELSE 0 END)) AS BIGINT) "
                f"AS p_{si}_{t[0]}"
            )
    return "mat AS (\n    SELECT " + ",\n           ".join(cols) + f"\n    FROM {counts})"


def _absorb_rec_sql(mat: str, rounds: int = 12) -> str:
    d = "CAST(1000000000.0 AS DOUBLE)"
    r10 = "CAST(10000000000.0 AS DOUBLE)"

    def upd(si: str) -> str:
        terms = [f"m.p_{si}_p / {d}"]
        for u in _ABS_TRANSIENT:
            terms.append(f"(m.p_{si}_{u[0]} / {d}) * k.h{u[0]}")
        return f"(round(({' + '.join(terms)}) * {r10}) / {r10})"

    hcols = ", ".join(f"CAST(0.0 AS DOUBLE) AS h{s[0]}" for s in _ABS_TRANSIENT)
    ucols = ", ".join(upd(s[0]) for s in _ABS_TRANSIENT)
    outs = [
        f"SELECT '{s}' AS state, h{s[0]} AS p_convert FROM it WHERE k = {rounds}"
        for s in _ABS_TRANSIENT
    ]
    outs.append(f"SELECT '{_ABS_TARGET}', CAST(1.0 AS DOUBLE) FROM it WHERE k = {rounds}")
    outs.append(f"SELECT 'error', CAST(0.0 AS DOUBLE) FROM it WHERE k = {rounds}")
    return f"""
it AS (
    SELECT 0 AS k, {hcols}
    UNION ALL
    SELECT k.k + 1, {ucols}
    FROM it k, {mat} m WHERE k.k < {rounds}
)
{" UNION ALL ".join(outs)}
ORDER BY state
"""


@register(
    "q_absorbing_markov",
    oracle=f"WITH RECURSIVE {PAIR_COUNTS_SQL},\n{_absorb_mat_sql('cnt', '//')},"
    + _absorb_rec_sql("mat"),
    description=(
        "Absorbing-chain conversion probability: treating purchase and "
        "error as absorbing states of the per-user event Markov chain, "
        "h(s) = P(reach purchase before error | current state s) solved "
        "by 12 rounds of value iteration h <- P_transient*h + p_purchase "
        "(the fundamental-matrix (I-Q)^-1 R solution without a matrix "
        "inverse) — the 'how likely is this session to convert from "
        "HERE' number that q_markov_stationary's long-run shares and "
        "q_markov_attribution's removal effects do not give. The "
        "transition row is nano-quantized with integer round-half-up "
        "((2n*1e9 + d) // 2d) so both engines iterate bit-identical "
        "matrices; iterates re-round at 10dp per round (the pagerank "
        "discipline). Data-sized work is ONE lead() pair aggregate; "
        "the value iteration runs on a 1-row frame."
    ),
    tags=("analytics", "extension", "markov", "recursive"),
)
def q_absorbing_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = transitions(event_pairs(load_table(spark, sf_dir, "events")))
    return spark.sql(
        f"WITH RECURSIVE {_absorb_mat_sql('{counts}', 'div')}," + _absorb_rec_sql("mat"),
        counts=counts,
    )


_RBO_D = 20
_RBO_P_NUM = 9  # persistence p = 9/10


def _rbo_weights() -> list[tuple[int, int]]:
    """(depth d, nano-quantized (1-p) * p^(d-1) / d) — the exact RBO
    term weights, computed once in Python from the rational p and
    inlined into both engines as literals."""
    out = []
    p = _RBO_P_NUM / 10.0
    for d in range(1, _RBO_D + 1):
        w = (1.0 - p) * (p ** (d - 1)) / d
        out.append((d, int(round(w * 1e9))))
    return out


@register(
    "q_rank_biased_overlap",
    oracle=f"""
WITH ra AS (
    SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rka
    FROM documents QUALIFY rka <= {_RBO_D}),
rb AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY len(string_split(text, ' ')) DESC, doc_id)
               AS rkb
    FROM documents QUALIFY rkb <= {_RBO_D}),
both_ranks AS (
    SELECT ra.doc_id, greatest(ra.rka, rb.rkb) AS first_common_depth
    FROM ra JOIN rb USING (doc_id)),
wts (d, w_nano) AS (VALUES {", ".join(f"({d}, {w})" for d, w in _rbo_weights())}),
xd AS (
    SELECT w.d, w.w_nano,
           CAST(count(b.doc_id) AS BIGINT) AS x_d
    FROM wts w LEFT JOIN both_ranks b ON b.first_common_depth <= w.d
    GROUP BY w.d, w.w_nano),
tot AS (
    SELECT CAST(sum(w_nano * x_d) AS BIGINT) AS s_nano,
           CAST(max(CASE WHEN d = {_RBO_D} THEN x_d END) AS BIGINT) AS common_at_d
    FROM xd)
SELECT (round((s_nano / 1000000000.0) * 1000000.0) / 1000000.0) AS rbo,
       common_at_d AS n_common_top{_RBO_D},
       CAST({_RBO_D} AS BIGINT) AS depth
FROM tot
""",
    description=(
        "Rank-biased overlap (Webber et al. 2010, p = 0.9, depth 20) "
        "between two document rankings — by raw character count vs by "
        "whitespace token count: the top-weighted indefinite-ranking "
        "agreement measure retrieval evaluations use where Kendall "
        "tau-b (q_kendall_tau) weights all positions equally and "
        "demands conjoint rankings. A doc in both top-20 lists "
        "contributes to every depth >= max(rank_a, rank_b), so the "
        "per-depth overlaps X_d come from ONE join + 20-row grid "
        "aggregate; the geometric (1-p)p^(d-1)/d weights are "
        "nano-quantized literals inlined on both engines, making the "
        "weighted sum exact BIGINT arithmetic. Top-20 lists ride "
        "TakeOrdered-shaped rank-limit windows."
    ),
    tags=("text", "extension", "eval"),
)
def q_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    wa = Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ra = (
        docs.select("doc_id", F.row_number().over(wa).alias("rka"))
        .filter(F.col("rka") <= _RBO_D)
    )
    ntok = F.size(F.split("text", " "))
    wb = Window.orderBy(ntok.desc(), F.asc("doc_id"))
    rb = (
        docs.select("doc_id", F.row_number().over(wb).alias("rkb"))
        .filter(F.col("rkb") <= _RBO_D)
    )
    both = ra.join(rb, "doc_id").select(
        "doc_id", F.greatest("rka", "rkb").alias("first_common_depth")
    )
    wts = local_frame(spark, _rbo_weights(), "d long, w_nano long")
    xd = (
        F.broadcast(wts)
        .join(both, both.first_common_depth <= wts.d, "left")
        .groupBy("d", "w_nano")
        .agg(F.count("doc_id").cast("long").alias("x_d"))
    )
    tot = xd.agg(
        F.sum(F.col("w_nano") * F.col("x_d")).cast("long").alias("s_nano"),
        F.max(F.when(F.col("d") == _RBO_D, F.col("x_d"))).cast("long").alias(
            "common_at_d"
        ),
    )
    return tot.select(
        stable_round(F.col("s_nano") / F.lit(1e9), 6).alias("rbo"),
        F.col("common_at_d").alias(f"n_common_top{_RBO_D}"),
        F.lit(_RBO_D).cast("long").alias("depth"),
    )


@register(
    "q_forecast_eval",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc
    FROM events WHERE event_type = 'purchase' GROUP BY 1),
idxd AS (
    SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS idx, yc,
           CAST(count(*) OVER () AS BIGINT) AS t_n
    FROM daily),
lagged AS (
    SELECT idx, yc, t_n,
           lag(yc, 1) OVER (ORDER BY idx) AS y1,
           lag(yc, 7) OVER (ORDER BY idx) AS y7,
           first_value(yc) OVER (ORDER BY idx) AS yf
    FROM idxd),
scale AS (
    SELECT CAST(sum(abs(yc - y1)) AS BIGINT) AS s_abs,
           CAST(count(*) AS BIGINT) AS s_n
    FROM lagged, (SELECT max(t_n) AS tt FROM idxd) m
    WHERE y1 IS NOT NULL AND idx <= m.tt - 7),
fc AS (
    SELECT idx, yc, 'naive' AS model, y1 AS f
    FROM lagged, (SELECT max(t_n) AS tt FROM idxd) m WHERE idx > m.tt - 7
    UNION ALL
    SELECT idx, yc, 'snaive', y7
    FROM lagged, (SELECT max(t_n) AS tt FROM idxd) m WHERE idx > m.tt - 7
    UNION ALL
    SELECT idx, yc, 'drift',
           y1 + CAST(round((y1 - yf) * 1.0 / (idx - 2)) AS BIGINT)
    FROM lagged, (SELECT max(t_n) AS tt FROM idxd) m WHERE idx > m.tt - 7),
ev AS (
    SELECT model, CAST(count(*) AS BIGINT) AS n_eval,
           CAST(sum(abs(yc - f)) AS BIGINT) AS sum_abs_err,
           CAST(sum((abs(yc - f) * 1000000) // yc) AS BIGINT) AS sum_ape_micro
    FROM fc GROUP BY model)
SELECT e.model, e.n_eval,
       (round((e.sum_abs_err * 1.0 / e.n_eval) * 1000000.0) / 1000000.0)
           AS mae_cents,
       (round((e.sum_ape_micro * 1.0 / e.n_eval / 1000000.0) * 1000000.0)
        / 1000000.0) AS mape,
       (round(((e.sum_abs_err * 1.0 / e.n_eval)
               / (s.s_abs * 1.0 / s.s_n)) * 1000000.0) / 1000000.0) AS mase
FROM ev e, scale s ORDER BY e.model
""",
    description=(
        "Rolling-origin forecast-accuracy evaluation over the last 7 "
        "days of daily purchase revenue: naive (yesterday), seasonal "
        "naive (last week), and drift (Hyndman's trend-through-first-"
        "point) baselines scored with MAE, MAPE (per-term integer "
        "micro-units — no float summation), and MASE (scaled by the "
        "in-sample naive MAE, the scale-free measure that lets this "
        "number compare across series) — the model-comparison "
        "discipline q_seasonal_naive_backtest (single model) and "
        "q_theta_forecast (no holdout) don't provide: before shipping "
        "any forecast, beat these three. One day-grouped aggregate is "
        "the only data-sized work; everything else rides the "
        "day-count-bounded series."
    ),
    tags=("analytics", "extension", "forecast", "eval"),
)
def q_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("yc"))
    )
    w = Window.orderBy("d")
    idxd = daily.select(
        F.row_number().over(w).cast("long").alias("idx"),
        "yc",
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("t_n"),
    )
    wi = Window.orderBy("idx")
    lagged = idxd.select(
        "idx", "yc", "t_n",
        F.lag("yc", 1).over(wi).alias("y1"),
        F.lag("yc", 7).over(wi).alias("y7"),
        F.first("yc").over(wi.rowsBetween(Window.unboundedPreceding, 0)).alias("yf"),
    ).localCheckpoint(eager=True)
    scale = lagged.filter(
        F.col("y1").isNotNull() & (F.col("idx") <= F.col("t_n") - 7)
    ).agg(
        F.sum(F.abs(F.col("yc") - F.col("y1"))).cast("long").alias("s_abs"),
        F.count(F.lit(1)).cast("long").alias("s_n"),
    )
    tail = lagged.filter(F.col("idx") > F.col("t_n") - 7)
    fc = (
        tail.select("idx", "yc", F.lit("naive").alias("model"), F.col("y1").alias("f"))
        .unionByName(
            tail.select("idx", "yc", F.lit("snaive").alias("model"), F.col("y7").alias("f"))
        )
        .unionByName(
            tail.select(
                "idx", "yc", F.lit("drift").alias("model"),
                (
                    F.col("y1")
                    + F.round(
                        (F.col("y1") - F.col("yf")) * F.lit(1.0) / (F.col("idx") - 2)
                    ).cast("long")
                ).alias("f"),
            )
        )
    )
    evt = fc.groupBy("model").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(F.abs(F.col("yc") - F.col("f"))).cast("long").alias("sum_abs_err"),
        F.sum(F.expr("(abs(yc - f) * 1000000) div yc")).cast("long").alias(
            "sum_ape_micro"
        ),
    )
    return (
        evt.crossJoin(F.broadcast(scale))
        .select(
            "model", "n_eval",
            stable_round(F.col("sum_abs_err") * F.lit(1.0) / F.col("n_eval"), 6).alias(
                "mae_cents"
            ),
            stable_round(
                F.col("sum_ape_micro") * F.lit(1.0) / F.col("n_eval") / F.lit(1e6), 6
            ).alias("mape"),
            stable_round(
                (F.col("sum_abs_err") * F.lit(1.0) / F.col("n_eval"))
                / (F.col("s_abs") * F.lit(1.0) / F.col("s_n")),
                6,
            ).alias("mase"),
        )
        .orderBy("model")
    )


@register(
    "q_runtime_filter_audit",
    oracle="""
WITH dim AS (
    SELECT CAST(count(*) AS BIGINT) AS n_dim,
           CAST(sum(CASE WHEN o_orderdate >= DATE '2000-01-01' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dim_kept
    FROM orders),
fact AS (SELECT CAST(count(*) AS BIGINT) AS n_fact FROM lineitem),
surv AS (
    SELECT CAST(count(*) AS BIGINT) AS n_fact_kept
    FROM lineitem l WHERE l.l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_orderdate >= DATE '2000-01-01'))
SELECT d.n_dim, d.n_dim_kept, f.n_fact, s.n_fact_kept,
       (round((d.n_dim_kept * 1.0 / d.n_dim) * 1000000.0) / 1000000.0)
           AS dim_selectivity,
       (round((s.n_fact_kept * 1.0 / f.n_fact) * 1000000.0) / 1000000.0)
           AS fact_survival,
       CAST(f.n_fact - s.n_fact_kept AS BIGINT) AS rows_prunable,
       (round(((f.n_fact - s.n_fact_kept) * 1.0 / f.n_fact) * 1000000.0)
        / 1000000.0) AS scan_saving
FROM dim d, fact f, surv s
""",
    description=(
        "Runtime-filter (Bloom-join / DPP) benefit audit for the "
        "orders-filtered lineitem join: measures the dimension "
        "predicate's selectivity, the EXACT fraction of fact rows a "
        "perfect semi-join filter would keep, and therefore the rows "
        "prunable before the shuffle if the dimension's join keys are "
        "pushed into the fact scan as a runtime filter — the number "
        "that decides whether to enable "
        "spark.sql.optimizer.runtimeFilter.* / DPP for a pipeline, "
        "and the consumer of q_bloom_size_advisor's sizing (the filter "
        "that does this pruning is exactly that Bloom). The semi-join "
        "survival count is one left-semi hash join on the 8-byte key; "
        "everything else is three scalar aggregates."
    ),
    tags=("storage", "extension", "systems"),
)
def q_runtime_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = "2000-01-01"
    dim = o.agg(
        F.count(F.lit(1)).cast("long").alias("n_dim"),
        F.sum(
            F.when(F.col("o_orderdate") >= F.lit(cutoff).cast("date"), 1).otherwise(0)
        ).cast("long").alias("n_dim_kept"),
    )
    fact = li.agg(F.count(F.lit(1)).cast("long").alias("n_fact"))
    kept_keys = o.filter(F.col("o_orderdate") >= F.lit(cutoff).cast("date")).select(
        "o_orderkey"
    )
    surv = li.join(
        kept_keys, li.l_orderkey == kept_keys.o_orderkey, "left_semi"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_fact_kept"))
    return (
        dim.crossJoin(fact)
        .crossJoin(surv)
        .select(
            "n_dim", "n_dim_kept", "n_fact", "n_fact_kept",
            stable_round(F.col("n_dim_kept") * F.lit(1.0) / F.col("n_dim"), 6).alias(
                "dim_selectivity"
            ),
            stable_round(F.col("n_fact_kept") * F.lit(1.0) / F.col("n_fact"), 6).alias(
                "fact_survival"
            ),
            (F.col("n_fact") - F.col("n_fact_kept")).cast("long").alias(
                "rows_prunable"
            ),
            stable_round(
                (F.col("n_fact") - F.col("n_fact_kept")) * F.lit(1.0) / F.col("n_fact"),
                6,
            ).alias("scan_saving"),
        )
    )


@register(
    "q_dp_median",
    oracle="""
WITH cents AS (
    SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events),
cdist AS (SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM cents GROUP BY c),
ccum AS (
    SELECT c, cnt,
           CAST(sum(cnt) OVER (ORDER BY c) AS BIGINT) AS cum,
           CAST(sum(cnt) OVER () AS BIGINT) AS n
    FROM cdist),
scored AS (
    SELECT c, cum, n,
           abs(2 * cum - cnt - n) AS d,
           (round((-0.25 * abs(2 * cum - cnt - n) - 2.0 * ln(-ln(
                ((('0x' || substring(md5('dpm-v1:' || CAST(c AS VARCHAR)), 1, 8))
                  ::BIGINT % 2147483647) + 1.0) / 2147483648.0)))
               * 1000000.0) / 1000000.0) AS nscore
    FROM ccum),
pick AS (SELECT * FROM scored ORDER BY nscore DESC, c LIMIT 1),
truth AS (SELECT min(c) AS true_med FROM ccum WHERE cum * 2 >= n)
SELECT t.true_med AS true_median_cents,
       p.c AS dp_median_cents,
       CAST(abs(p.c - t.true_med) AS BIGINT) AS abs_error_cents,
       CAST(p.d AS BIGINT) AS rank_imbalance,
       p.n
FROM pick p, truth t
""",
    description=(
        "Differentially-private median by the exponential mechanism "
        "(eps=1, sensitivity-2 rank utility u(c) = -|#below - #above|) "
        "in the Gumbel-argmax formulation — completing the DP family "
        "(q_dp_histogram Laplace counts, q_dp_topk_exponential "
        "selection) with the robust-statistic member that Laplace "
        "noise on the value CANNOT provide (the median's value "
        "sensitivity is unbounded; its RANK utility is 2-sensitive). "
        "Candidates are the distinct cent values with their cumulative "
        "frame (value-domain-bounded carry, never a row sort); Gumbel "
        "draws are -ln(-ln(U)) from counter-based md5 so both engines "
        "realize the same mechanism run, and the true median is "
        "reported alongside for the privacy/utility error."
    ),
    tags=("mlops", "extension", "privacy"),
)
def q_dp_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.dedup import md5_hash31

    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(F.round(F.col("value") * 100).cast("long").alias("c"))
    cdist = cents.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w_cum = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    ccum = cdist.select(
        "c", "cnt",
        F.sum("cnt").over(w_cum).cast("long").alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).cast("long").alias("n"),
    ).localCheckpoint(eager=True)
    u = (
        (md5_hash31(F.concat(F.lit("dpm-v1:"), F.col("c").cast("string"))) + 1.0)
        / 2147483648.0
    )
    d = F.abs(2 * F.col("cum") - F.col("cnt") - F.col("n"))
    scored = ccum.select(
        "c", "cum", "n",
        d.alias("d"),
        stable_round(F.lit(-0.25) * d - F.lit(2.0) * F.log(-F.log(u)), 6).alias(
            "nscore"
        ),
    )
    pick = scored.orderBy(F.desc("nscore"), F.asc("c")).limit(1)
    truth = ccum.agg(
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("c"))).alias("true_med")
    )
    return pick.crossJoin(F.broadcast(truth)).select(
        F.col("true_med").alias("true_median_cents"),
        F.col("c").alias("dp_median_cents"),
        F.abs(F.col("c") - F.col("true_med")).cast("long").alias("abs_error_cents"),
        F.col("d").cast("long").alias("rank_imbalance"),
        "n",
    )


_SESS_GAPS_MIN = [5, 10, 30, 60, 120]


@register(
    "q_sessionize_sensitivity",
    oracle=f"""
WITH gaps AS (
    SELECT user_id,
           (epoch_us(ts) - epoch_us(lag(ts) OVER (
                PARTITION BY user_id ORDER BY ts, event_id))) // 60000000 AS gap_min
    FROM events),
agg AS (
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events,
           {", ".join(f"CAST(sum(CASE WHEN gap_min >= {g} THEN 1 ELSE 0 END) AS BIGINT) AS brk{g}" for g in _SESS_GAPS_MIN)}
    FROM gaps),
thr (gap_minutes) AS (VALUES {", ".join(f"({g})" for g in _SESS_GAPS_MIN)})
SELECT CAST(t.gap_minutes AS BIGINT) AS gap_minutes,
       CAST(a.n_users + CASE t.gap_minutes
            {" ".join(f"WHEN {g} THEN a.brk{g}" for g in _SESS_GAPS_MIN)} END
            AS BIGINT) AS n_sessions,
       (round((a.n_events * 1.0 / (a.n_users + CASE t.gap_minutes
            {" ".join(f"WHEN {g} THEN a.brk{g}" for g in _SESS_GAPS_MIN)} END))
            * 1000000.0) / 1000000.0) AS avg_events_per_session
FROM thr t, agg a ORDER BY gap_minutes
""",
    description=(
        "Sessionization gap-threshold sensitivity profile: session "
        "counts and mean session size at 5/10/30/60/120-minute "
        "inactivity gaps, from ONE pass over per-user lag() gaps "
        "(n_sessions = n_users + gaps exceeding the threshold — the "
        "gaps-and-islands identity) — the tuning table that justifies "
        "whatever gap q_sessionize hard-codes, the same way "
        "q_dedup_threshold_profile justifies the Jaccard cutoff: pick "
        "the knee where session counts stabilize. One user-partitioned "
        "window plus one 5-conditional aggregate; the threshold grid "
        "never touches data again."
    ),
    tags=("events", "extension", "tuning"),
)
def q_sessionize_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        F.floor(
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))) / 60000000
        ).alias("gap_min"),
    )
    aggs = [
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    ] + [
        F.sum(F.when(F.col("gap_min") >= g, 1).otherwise(0)).cast("long").alias(f"brk{g}")
        for g in _SESS_GAPS_MIN
    ]
    agg = gaps.agg(*aggs)
    thr = local_frame(spark, [(g,) for g in _SESS_GAPS_MIN], "gap_minutes long")
    brk = None
    for g in _SESS_GAPS_MIN:
        cond = F.when(F.col("gap_minutes") == g, F.col(f"brk{g}"))
        brk = cond if brk is None else brk.when(F.col("gap_minutes") == g, F.col(f"brk{g}"))
    n_sessions = (F.col("n_users") + brk).cast("long")
    return (
        thr.crossJoin(F.broadcast(agg))
        .select(
            "gap_minutes",
            n_sessions.alias("n_sessions"),
            stable_round(F.col("n_events") * F.lit(1.0) / n_sessions, 6).alias(
                "avg_events_per_session"
            ),
        )
        .orderBy("gap_minutes")
    )


def _lsh_theory_rows() -> list[tuple[int, float]]:
    """(jaccard_decile, P[>=1 shared band]) at the decile midpoint for
    the repo's LSH shape (8 bands x 4 rows): 1 - (1 - J^4)^8, computed
    once here and inlined as literals on both engines."""
    out = []
    for jb in range(10):
        mid = (jb + 0.5) / 10.0
        p = 1.0 - (1.0 - mid**4) ** 8
        out.append((jb, round(p, 6)))
    return out


def _lsh_s_curve_oracle() -> str:
    from healthcare_etl_spark.plans.queries_dedup import _minhash_ctes

    theory = ", ".join(f"({jb}, {p})" for jb, p in _lsh_theory_rows())
    return f"""
WITH {_minhash_ctes()},
truth AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
           count(*) AS o, sa.n_sh + sb.n_sh - count(*) AS u
    FROM hashed x
    JOIN hashed y ON x.hsh = y.hsh AND x.doc_id < y.doc_id
    JOIN sigs sa ON sa.doc_id = x.doc_id
    JOIN sigs sb ON sb.doc_id = y.doc_id
    GROUP BY 1, 2, sa.n_sh, sb.n_sh),
bucketed AS (
    SELECT doc_a, doc_b,
           least(CAST((10 * o) // u AS BIGINT), 9) AS jb
    FROM truth),
joined AS (
    SELECT b.jb,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_candidates
    FROM bucketed b LEFT JOIN cand c
      ON b.doc_a = c.doc_a AND b.doc_b = c.doc_b
    GROUP BY b.jb),
theory (jb, p_theory) AS (VALUES {theory})
SELECT CAST(t.jb AS BIGINT) AS jaccard_decile,
       CAST(coalesce(j.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(j.n_candidates, 0) AS BIGINT) AS n_candidates,
       CASE WHEN j.n_pairs > 0
            THEN (round((j.n_candidates * 1.0 / j.n_pairs) * 1000000.0)
                  / 1000000.0) END AS measured_rate,
       t.p_theory
FROM theory t LEFT JOIN joined j ON t.jb = j.jb
ORDER BY t.jb
"""


@register(
    "q_lsh_s_curve",
    oracle=_lsh_s_curve_oracle(),
    description=(
        "LSH S-curve tuning audit for the repo's MinHash shape "
        "(8 bands x 4 rows): ground-truth Jaccard for every "
        "shingle-sharing pair (exact integer decile bucketing "
        "(10*o) div u), the measured fraction of each decile that the "
        "band join actually emits as candidates, and the theoretical "
        "1-(1-J^4)^8 at the decile midpoint (Python-precomputed "
        "literals on both engines) — the table that justifies (b, r): "
        "the knee must sit at the dedup threshold, low deciles near 0 "
        "(wasted verifications), high deciles near 1 (false-negative "
        "risk). Complements q_minhash_eval (global precision/recall) "
        "with the per-similarity-band view, and "
        "q_dedup_blocking_recall (blocker comparison) with the "
        "theory-vs-practice calibration. Ground truth reuses the "
        "inverted-index join; candidates reuse the banded signature "
        "pipeline — both single-exchange shapes already plan-asserted."
    ),
    tags=("dedup", "extension", "tuning"),
)
def q_lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.dedup import (
        N_BANDS,
        _band_key,
        hashed_shingle_rows,
        minhash_signatures_from,
    )

    docs = load_table(spark, sf_dir, "documents")
    inv = hashed_shingle_rows(docs).localCheckpoint(eager=True)
    sizes = inv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inv_sized = inv.join(sizes, "doc_id")
    truth = (
        inv_sized.alias("x")
        .join(
            inv_sized.alias("y"),
            (F.col("x.hsh") == F.col("y.hsh")) & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.n_sh").alias("na"),
            F.col("y.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
        .select(
            "doc_a", "doc_b",
            F.least(
                F.expr("(10 * o) div (na + nb - o)").cast("long"), F.lit(9).cast("long")
            ).alias("jb"),
        )
    )
    sigs = minhash_signatures_from(inv)
    bands = sigs.select(
        "doc_id", F.explode(F.array(*[_band_key(b) for b in range(N_BANDS)])).alias("bk")
    )
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.bk") == F.col("y.bk")) & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("ca"), F.col("y.doc_id").alias("cb")
        )
        .distinct()
    )
    joined = (
        truth.join(
            cand, (truth.doc_a == cand.ca) & (truth.doc_b == cand.cb), "left"
        )
        .groupBy("jb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("ca").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_candidates"),
        )
    )
    theory = local_frame(spark, _lsh_theory_rows(), "jb long, p_theory double")
    return (
        F.broadcast(theory)
        .join(joined, "jb", "left")
        .select(
            F.col("jb").alias("jaccard_decile"),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            F.when(
                F.col("n_pairs") > 0,
                stable_round(F.col("n_candidates") * F.lit(1.0) / F.col("n_pairs"), 6),
            ).alias("measured_rate"),
            "p_theory",
        )
        .orderBy("jaccard_decile")
    )


@register(
    "q_neyman_allocation",
    oracle="""
WITH s AS (
    SELECT event_type AS stratum,
           CAST(count(*) AS BIGINT) AS n_h,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sy,
           CAST(sum(CAST(round(value * 100) AS BIGINT)
                    * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS syy
    FROM events GROUP BY 1),
v AS (
    SELECT stratum, n_h, 
           sqrt((syy - sy * 1.0 * sy / n_h) / (n_h - 1)) AS s_h
    FROM s),
tot AS (
    SELECT CAST(sum(n_h) AS BIGINT) AS n_tot, sum(n_h * s_h) AS w_tot FROM v)
SELECT v.stratum, v.n_h,
       (round(v.s_h * 1000000.0) / 1000000.0) AS s_h,
       CAST(round(1000.0 * v.n_h / t.n_tot) AS BIGINT) AS alloc_proportional,
       CAST(round(1000.0 * v.n_h * v.s_h / t.w_tot) AS BIGINT) AS alloc_neyman,
       CAST(round(1000.0 * v.n_h * v.s_h / t.w_tot)
            - round(1000.0 * v.n_h / t.n_tot) AS BIGINT) AS alloc_shift
FROM v, tot t ORDER BY v.stratum
""",
    description=(
        "Neyman optimal stratified-sample allocation (n=1000 budget "
        "over the event-type strata): allocate n_h proportional to "
        "N_h * S_h instead of N_h alone — the survey-sampling result "
        "that minimizes the estimator variance at fixed budget, and "
        "the principled upgrade to q_sample_stratified's proportional "
        "split (strata with higher within-variance earn more samples; "
        "the alloc_shift column shows exactly how many slots move). "
        "Per-stratum variance comes from one pass of exact BIGINT "
        "moment sums (the q_ratio_metric_delta_ci discipline); "
        "allocations are integer rounding of two exact ratios. "
        "Completes the survey family with q_raking_weights."
    ),
    tags=("analytics", "extension", "stats", "sampling"),
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    s = ev.groupBy(F.col("event_type").alias("stratum")).agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum(cents).alias("sy"),
        F.sum(cents * cents).alias("syy"),
    )
    v = s.select(
        "stratum", "n_h",
        F.sqrt(
            (F.col("syy") - F.col("sy") * F.lit(1.0) * F.col("sy") / F.col("n_h"))
            / (F.col("n_h") - 1)
        ).alias("s_h"),
    )
    tot = v.agg(
        F.sum("n_h").cast("long").alias("n_tot"),
        F.sum(F.col("n_h") * F.col("s_h")).alias("w_tot"),
    )
    prop = F.round(F.lit(1000.0) * F.col("n_h") / F.col("n_tot")).cast("long")
    ney = F.round(F.lit(1000.0) * F.col("n_h") * F.col("s_h") / F.col("w_tot")).cast(
        "long"
    )
    return (
        v.crossJoin(F.broadcast(tot))
        .select(
            "stratum", "n_h",
            stable_round(F.col("s_h"), 6).alias("s_h"),
            prop.alias("alloc_proportional"),
            ney.alias("alloc_neyman"),
            (ney - prop).alias("alloc_shift"),
        )
        .orderBy("stratum")
    )


@register(
    "q_price_volume_mix",
    oracle="""
WITH bounds AS (
    SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events),
halves AS (
    SELECT e.event_type,
           CASE WHEN CAST(e.ts AS DATE) - b.d0 < (b.d1 - b.d0 + 1) // 2
                THEN 0 ELSE 1 END AS half,
           CAST(round(e.value * 100) AS BIGINT) AS cents
    FROM events e, bounds b WHERE e.event_type = 'purchase' OR e.event_type = 'view'),
agg AS (
    SELECT event_type, half,
           CAST(count(*) AS BIGINT) AS q,
           CAST(sum(cents) AS BIGINT) AS r
    FROM halves GROUP BY 1, 2),
wide AS (
    SELECT event_type,
           CAST(max(CASE WHEN half = 0 THEN q END) AS BIGINT) AS q0,
           CAST(max(CASE WHEN half = 1 THEN q END) AS BIGINT) AS q1,
           CAST(max(CASE WHEN half = 0 THEN r END) AS BIGINT) AS r0,
           CAST(max(CASE WHEN half = 1 THEN r END) AS BIGINT) AS r1
    FROM agg GROUP BY 1)
SELECT event_type, q0, q1, r0, r1,
       CAST(r1 - r0 AS BIGINT) AS delta_cents,
       CAST(round((q1 - q0) * (r0 * 1.0 / q0)) AS BIGINT) AS volume_effect,
       CAST(round(q0 * (r1 * 1.0 / q1 - r0 * 1.0 / q0)) AS BIGINT) AS rate_effect,
       CAST(round((q1 - q0) * (r1 * 1.0 / q1 - r0 * 1.0 / q0)) AS BIGINT)
           AS mix_effect
FROM wide ORDER BY event_type
""",
    description=(
        "Price-volume-mix bridge between the first and second half of "
        "the observation window, per channel: Delta revenue decomposes "
        "into volume effect (count change at the old average rate), "
        "rate effect (average-value change at the old volume), and the "
        "interaction/mix term — the FP&A waterfall that answers 'did "
        "revenue move because we did MORE events or RICHER events', "
        "which q_dod_growth's raw deltas and q_growth_accounting's "
        "user flows don't separate. One conditional aggregate per "
        "half; every effect is rounded from exact integer-cent "
        "moments, and volume+rate+mix reconciles to the exact delta "
        "up to the documented three roundings."
    ),
    tags=("analytics", "extension", "business"),
)
def q_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    filt = ev.filter(F.col("event_type").isin("purchase", "view"))
    halves = filt.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.when(
            F.datediff(F.col("ts").cast("date"), F.col("d0"))
            < F.expr("(datediff(d1, d0) + 1) div 2"),
            0,
        )
        .otherwise(1)
        .alias("half"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    agg = halves.groupBy("event_type", "half").agg(
        F.count(F.lit(1)).cast("long").alias("q"),
        F.sum("cents").cast("long").alias("r"),
    )
    wide = agg.groupBy("event_type").agg(
        F.max(F.when(F.col("half") == 0, F.col("q"))).cast("long").alias("q0"),
        F.max(F.when(F.col("half") == 1, F.col("q"))).cast("long").alias("q1"),
        F.max(F.when(F.col("half") == 0, F.col("r"))).cast("long").alias("r0"),
        F.max(F.when(F.col("half") == 1, F.col("r"))).cast("long").alias("r1"),
    )
    p0 = F.col("r0") * F.lit(1.0) / F.col("q0")
    p1 = F.col("r1") * F.lit(1.0) / F.col("q1")
    return wide.select(
        "event_type", "q0", "q1", "r0", "r1",
        (F.col("r1") - F.col("r0")).cast("long").alias("delta_cents"),
        F.round((F.col("q1") - F.col("q0")) * p0).cast("long").alias("volume_effect"),
        F.round(F.col("q0") * (p1 - p0)).cast("long").alias("rate_effect"),
        F.round((F.col("q1") - F.col("q0")) * (p1 - p0)).cast("long").alias(
            "mix_effect"
        ),
    ).orderBy("event_type")


_CHUNK_SIZES = [128, 256, 512, 1024]


@register(
    "q_chunk_size_audit",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents),
pref AS (
    SELECT doc_id, n_tok,
           CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
    FROM toks),
grid (c) AS (VALUES {", ".join(f"({c})" for c in _CHUNK_SIZES)}),
per_doc AS (
    SELECT g.c, p.doc_id, p.n_tok, p.s,
           (p.s + p.n_tok - 1) // g.c - p.s // g.c AS n_splits
    FROM pref p, grid g),
tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total_tok FROM toks)
SELECT CAST(pd.c AS BIGINT) AS chunk_tokens,
       CAST((t.total_tok + pd.c - 1) // pd.c AS BIGINT) AS n_chunks,
       CAST(((t.total_tok + pd.c - 1) // pd.c) * pd.c - t.total_tok AS BIGINT)
           AS pad_tokens,
       CAST(sum(CASE WHEN pd.n_splits > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS docs_split,
       CAST(sum(pd.n_splits) AS BIGINT) AS n_boundary_cuts,
       (round((sum(CASE WHEN pd.n_splits > 0 THEN 1 ELSE 0 END) * 1.0
               / count(*)) * 1000000.0) / 1000000.0) AS split_doc_frac
FROM per_doc pd, tot t
GROUP BY pd.c, t.total_tok ORDER BY chunk_tokens
""",
    description=(
        "Training-chunk-size audit for concat-then-split packing "
        "(the GPT-style sequence packing q_pack_chunks implements): "
        "for each candidate context length, the exact chunk count, "
        "tail padding waste, and — the number that matters for "
        "cross-document attention contamination — how many documents "
        "get CUT by a chunk boundary (a doc spanning [s, s+n) is cut "
        "floor((s+n-1)/C) - floor(s/C) times, computed from the "
        "global token prefix). Longer contexts waste less padding but "
        "cut MORE documents; this table is how you pick C (or decide "
        "to pay for doc-boundary-respecting packing / attention "
        "masking). The token prefix rides the two-phase bucketed "
        "carry (doc_id div 4096 buckets) — no single-partition sort "
        "at corpus scale; the size grid never touches data again."
    ),
    tags=("pipeline", "extension", "curation", "scale-pattern"),
)
def q_chunk_size_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.scale import bucketed_prefix

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    pref = bucketed_prefix(
        toks,
        buckets=[F.expr("doc_id div 4096")],
        order_by=[F.col("doc_id")],
        value=F.col("n_tok"),
        agg="sum",
        exclusive=True,
        out_col="s",
    )
    grid = local_frame(spark, [(c,) for c in _CHUNK_SIZES], "c long")
    per_doc = pref.crossJoin(F.broadcast(grid)).select(
        "c", "n_tok",
        F.expr("(s + n_tok - 1) div c - s div c").alias("n_splits"),
    )
    tot = toks.agg(F.sum("n_tok").cast("long").alias("total_tok"))
    return (
        per_doc.crossJoin(F.broadcast(tot))
        .groupBy("c", "total_tok")
        .agg(
            F.sum(F.when(F.col("n_splits") > 0, 1).otherwise(0))
            .cast("long")
            .alias("docs_split"),
            F.sum("n_splits").cast("long").alias("n_boundary_cuts"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select(
            F.col("c").alias("chunk_tokens"),
            F.expr("(total_tok + c - 1) div c").cast("long").alias("n_chunks"),
            F.expr("((total_tok + c - 1) div c) * c - total_tok")
            .cast("long")
            .alias("pad_tokens"),
            "docs_split",
            "n_boundary_cuts",
            stable_round(F.col("docs_split") * F.lit(1.0) / F.col("n_docs"), 6).alias(
                "split_doc_frac"
            ),
        )
        .orderBy("chunk_tokens")
    )


"""Dedup queries over the ``documents`` fixture (extension surface).

Every pipeline here is oracle-checked, including the sketch-based ones:
each step (md5-derived shingle/word hashes, the MinHash permutations,
band folding, bucket joins, SimHash bit-sums, exact-Jaccard verify, and
the connected-components clustering) is deterministic arithmetic, so the
DuckDB oracle SQL — generated from the same constants the Spark
operators use — reproduces the results bit-for-bit (recursive CTE for
the iterative clustering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from healthcare_etl_spark.functions.text import FINGERPRINT_MOD as P
from healthcare_etl_spark.operators.dedup import (
    BAND_R,
    N_BANDS,
    exact_dedup,
    jaccard_pairs,
    minhash_coefficients,
    minhash_lsh_pairs,
    simhash_pairs,
)
from healthcare_etl_spark.plans.registry import register
from healthcare_etl_spark.sources import load_table

# Shared SQL fragments (DuckDB): word 3-shingle sets and their hashes.
# Parameterized on the source relation so the same chain can run over
# ``documents`` or over an upstream CTE (see q_corpus_pipeline).
def _shingles_sql(source: str = "documents") -> str:
    return f"""
tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM {source}),
sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
               ELSE [array_to_string(t, ' ')] END) AS shingles
    FROM tok
)
"""



# md5-derived 31-bit shingle hash — mirrors operators.dedup.md5_hash31.
_MD5H = f"(('0x' || substring(md5({{x}}), 1, 8))::BIGINT % {P})"


@register(
    "q_dedup_exact",
    oracle="""
SELECT text, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY text
""",
    description="Exact dedup: hash-groupBy on content, keep min id (one shuffle)",
    tags=("dedup", "extension"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs)


def _jaccard_pairs_ctes(source: str = "documents") -> str:
    """The exact-Jaccard pair pipeline as a CTE chain (no leading WITH),
    ending in ``jpairs(doc_a, doc_b, jac)``. Jaccard runs over 31-bit
    md5-derived shingle-hash sets — exactly the Spark operator's
    arithmetic (collisions included), and the same hashed form the
    MinHash verify uses."""
    return f"""{_shingles_sql(source)},
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
hashed AS (SELECT DISTINCT doc_id, {_MD5H.format(x="shingle")} AS hsh FROM inv),
sized AS (SELECT doc_id, count(*) AS n_sh FROM hashed GROUP BY doc_id),
common AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
    FROM hashed x JOIN hashed y ON x.hsh = y.hsh AND x.doc_id < y.doc_id
    GROUP BY 1, 2
),
jpairs AS (
    SELECT doc_a, doc_b,
           n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) AS jac
    FROM common
    JOIN sized sa ON sa.doc_id = doc_a
    JOIN sized sb ON sb.doc_id = doc_b
)"""


def _lsh_jpairs_ctes(source: str = "documents") -> str:
    """Drop-in replacement for ``_jaccard_pairs_ctes`` that sources the
    pair graph from the MinHash-LSH chain instead of the exact
    inverted-index join: same terminal contract ``jpairs(doc_a, doc_b,
    jac)``, but candidates come from the banded bucket join and jac is
    the exact array_intersect verify — the pair source that runs at the
    100x scale proof (the exact join's sum(df^2) output OOMs there; see
    _clusters_oracle_sql). Graph-analytics queries over the near-dup
    graph consume this; queries whose SEMANTICS are the exact join
    (q_dedup_ngram_jaccard, containment, threshold profiles, the
    blocking-recall truth) keep _jaccard_pairs_ctes."""
    return f"""{_minhash_ctes(source)},
jpairs AS (SELECT doc_a, doc_b, jac FROM verified)"""


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
WITH {_jaccard_pairs_ctes()}
SELECT doc_a, doc_b, (round(jac * 1000000.0) / 1000000.0) AS jaccard
FROM jpairs
WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
""",
    description=(
        "Exact n-gram (3-shingle) Jaccard near-dup pairs via inverted-index "
        "self-join on 31-bit shingle hashes (8-byte shuffle keys; oracle hashes "
        "identically so collisions reproduce bit-for-bit)"
    ),
    tags=("dedup", "extension"),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, threshold=0.5)


def _minhash_ctes(source: str = "documents") -> str:
    """The MinHash-LSH pipeline as a CTE chain (no leading WITH), ending
    in ``verified(doc_a, doc_b, jac)`` — generated from the same
    coefficient table the Spark operator uses (exploded-row form,
    md5-derived hashes — exactly the Spark plan's arithmetic).
    Composable: q_dedup_minhash wraps it directly; q_corpus_pipeline
    runs it over a filtered upstream CTE."""
    sig_exprs = ",\n           ".join(
        f"min((hsh * {a} + {b}) % {P}) AS s{i}"
        for i, (a, b) in enumerate(minhash_coefficients())
    )

    def band_fold(j: int) -> str:
        expr = "0::BIGINT"
        for r in range(BAND_R):
            expr = f"(({expr} * 31 + s{j * BAND_R + r}) % {P})"
        return f"{j}::BIGINT * {P} + {expr}"

    band_exprs = ", ".join(band_fold(j) for j in range(N_BANDS))
    return f"""{_shingles_sql(source)},
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
hashed AS (SELECT DISTINCT doc_id, {_MD5H.format(x="shingle")} AS hsh FROM inv),
sigs AS (
    SELECT doc_id, count(*) AS n_sh,
           {sig_exprs}
    FROM hashed GROUP BY doc_id
),
bands AS (SELECT doc_id, unnest([{band_exprs}]) AS bk FROM sigs),
cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id
),
common AS (
    SELECT doc_a, doc_b, count(*) AS n_common
    FROM cand
    JOIN hashed a ON a.doc_id = doc_a
    JOIN hashed b ON b.doc_id = doc_b AND b.hsh = a.hsh
    GROUP BY 1, 2
),
verified AS (
    SELECT doc_a, doc_b,
           n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) AS jac
    FROM common
    JOIN sigs sa ON sa.doc_id = doc_a
    JOIN sigs sb ON sb.doc_id = doc_b
)"""


def _minhash_oracle_sql() -> str:
    return f"""
WITH {_minhash_ctes()}
SELECT doc_a, doc_b, (round(jac * 1000000.0) / 1000000.0) AS jaccard
FROM verified WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
"""


register(
    "q_dedup_minhash",
    oracle=_minhash_oracle_sql(),
    description=(
        "MinHash(32) + LSH(8 bands x 4) candidate pairs, exact-Jaccard verified "
        "via array_intersect over carried shingle-hash sets. The scale path: "
        "bucket join is ~linear in corpus size; skewed buckets handled by AQE "
        "skew-join plus the max_shingle_doc_frac boilerplate guard"
    ),
    tags=("dedup", "extension"),
)(lambda spark, sf_dir: minhash_lsh_pairs(load_table(spark, sf_dir, "documents")))


def _simhash_oracle_sql() -> str:
    """DuckDB mirror of the full SimHash pipeline (31 bit-sums, sign
    fingerprint, 4-band pigeonhole candidates, popcount verify)."""
    bit_sums = ",\n           ".join(
        f"sum(((hsh >> {i}) & 1) * 2 - 1) AS b{i}" for i in range(31)
    )
    fp_expr = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(31))
    band_exprs = ", ".join(
        f"{j}::BIGINT * 2147483648 + ((simhash >> {j * 8}) & 255)" for j in range(4)
    )
    return f"""
WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
hashed AS (SELECT doc_id, {_MD5H.format(x="w")} AS hsh FROM words),
sums AS (
    SELECT doc_id,
           {bit_sums}
    FROM hashed GROUP BY doc_id
),
fp AS (SELECT doc_id, ({fp_expr})::BIGINT AS simhash FROM sums),
bands AS (SELECT doc_id, simhash, unnest([{band_exprs}]) AS bk FROM fp),
cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           x.simhash AS ha, y.simhash AS hb
    FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 2
"""


@register(
    "q_dedup_simhash",
    oracle=_simhash_oracle_sql(),
    description=(
        "SimHash(31-bit) near-dup pairs, hamming <= 2 via pigeonhole band join — "
        "oracle-checked (md5-derived word hashes, 31 bit-sums, popcount all "
        "mirrored in SQL). Note: the fixture corpus draws all documents from one "
        "small vocabulary, so simhash (a distribution-of-words sketch) is "
        "inherently noisy here — planted near-dups land at hamming 0-2 but share "
        "that range with topically similar non-dups; MinHash is the precise "
        "operator for this corpus."
    ),
    tags=("dedup", "extension"),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_pairs(docs, max_hamming=2)
    from pyspark.sql import functions as F

    return pairs.withColumn("hamming", F.col("hamming").cast("long"))


def _clusters_oracle_sql() -> str:
    """Recursive-CTE mirror of min-label connected components over the
    MinHash-LSH verified near-dup pairs.

    r8 scale fix: the cluster flagships used the exact inverted-index
    pair join (`jaccard_pairs`), whose join output is sum(df^2)/2 over
    shingle document frequencies — measured 735M rows at the 100x
    corpus, OOMing the 8 GB local executor (the first genuine scale
    kill found by scripts/scale_proof.py's end-to-end 100x run). The
    production dedup pipeline clusters LSH-VERIFIED pairs (banded
    candidates, exact array_intersect verify — q_dedup_minhash, 11 s at
    100x), so the clustering queries now consume that pair source; the
    oracle mirrors the full LSH chain via the shared _minhash_ctes()."""
    return f"""
WITH RECURSIVE {_minhash_ctes()},
pairs AS (
    SELECT doc_a, doc_b FROM verified
    WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id,
       least(src, min(dst)) AS cluster_id,
       src = least(src, min(dst)) AS is_keeper
FROM reach GROUP BY src
"""


@register(
    "q_dedup_clusters",
    oracle=_clusters_oracle_sql(),
    description=(
        "Near-dup clustering: connected components (iterative min-label "
        "propagation) over the MinHash-LSH verified pairs, keeper = min doc "
        "per cluster — the step that actually drops duplicates. Oracle via "
        "recursive CTE over the shared LSH chain. (r8: pair source switched "
        "from the exact inverted-index join, whose sum(df^2) output OOMed at "
        "the 100x scale proof, to the banded pipeline shape that runs 100x "
        "in 11 s — see _clusters_oracle_sql.)"
    ),
    tags=("dedup", "extension", "iterative"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    return dedup_clusters(pairs)


@register(
    "q_dedup_clusters_2phase",
    oracle=_clusters_oracle_sql(),
    description=(
        "Same clustering as q_dedup_clusters but via the alternating "
        "large-star/small-star algorithm (Kiveris et al. 2014) — O(log n) "
        "rounds instead of O(diameter), the variant to run when dup chains "
        "are long or the graph is web-scale. Identical output (same oracle); "
        "equivalence with label propagation also unit-tested on adversarial "
        "graph shapes. Pair source is the LSH-verified graph (r8 scale fix, "
        "see _clusters_oracle_sql) — measured end-to-end at the 100x corpus."
    ),
    tags=("dedup", "extension", "iterative"),
)
def q_dedup_clusters_2phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from healthcare_etl_spark.operators.graph import connected_components_two_phase

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    comp = connected_components_two_phase(pairs)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


@register(
    "q_dedup_incremental",
    oracle=f"""
WITH {_minhash_ctes()},
split AS (
    SELECT doc_id,
           (('0x' || substring(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 100) % 10 = 0 AS is_new
    FROM documents
)
SELECT CASE WHEN sa.is_new THEN doc_a ELSE doc_b END AS doc_id,
       CASE WHEN sa.is_new THEN doc_b ELSE doc_a END AS dup_of,
       (round(jac * 1000000.0) / 1000000.0) AS jaccard
FROM verified
JOIN split sa ON sa.doc_id = doc_a
JOIN split sb ON sb.doc_id = doc_b
WHERE sa.is_new <> sb.is_new
  AND (round(jac * 1000000.0) / 1000000.0) >= 0.5
""",
    description=(
        "Incremental (cross-corpus) dedup: MinHash-LSH candidates between a "
        "new batch (10% hash split, the same md5 split as q_decontaminate) and "
        "the existing corpus only — the band join crosses the two band frames, "
        "never self-joins the corpus, which is the continuous-ingestion shape "
        "(at scale the corpus band frame is a maintained table and each batch "
        "pays only its own shingling + one bucket join). Exact-Jaccard "
        "verified, same arithmetic as q_dedup_minhash."
    ),
    tags=("dedup", "extension", "parity"),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from healthcare_etl_spark.operators.dedup import (
        cross_pairs_from_band_frames,
        minhash_band_frame,
    )

    docs = load_table(spark, sf_dir, "documents")
    # ONE shingling pass: build the band frame over all docs, then split
    # it by the hash predicate (doc_id survives into the frame) — the
    # benchmark-form equivalent of holding a maintained corpus band
    # table, where the corpus side's shingling is already paid.
    ba = minhash_band_frame(docs)
    is_new = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split-v1:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    ) % 10 == 0
    return cross_pairs_from_band_frames(ba.filter(is_new), ba.filter(~is_new))


def _source_sig_sql() -> str:
    """Per-source MinHash signature CTEs (DuckDB) over word hashes —
    mirrors the Spark aggregate in q_source_minhash_jaccard."""
    mins = ",\n           ".join(
        f"min((hsh * {a} + {b}) % {P}) AS s{i}"
        for i, (a, b) in enumerate(minhash_coefficients())
    )
    return f"""
tok AS (
    SELECT source, {_MD5H.format(x="w")} AS hsh
    FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
),
sig AS (
    SELECT source,
           {mins}
    FROM tok GROUP BY source
)
"""


@register(
    "q_source_minhash_jaccard",
    oracle=f"""
WITH {_source_sig_sql()}
SELECT a.source AS source_a, b.source AS source_b,
       CAST(({" + ".join(f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END" for i in range(32))})
            AS BIGINT) AS n_match,
       (round((({" + ".join(f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END" for i in range(32))})
            / 32.0) * 1000000.0) / 1000000.0) AS est_jaccard
FROM sig a JOIN sig b ON a.source < b.source
""",
    description=(
        "Corpus-level MinHash: one 32-permutation signature PER SOURCE, "
        "built by min-merging word hashes directly in a single hash "
        "aggregate — min is duplicate-insensitive, so unlike the exact "
        "q_source_overlap there is no distinct pass and no token-level "
        "self-join; the shuffle carries 33 longs per source. Pairwise "
        "signature agreement then estimates vocabulary Jaccard (stderr "
        "~1/sqrt(32)). THE pattern for corpus-vs-corpus similarity at "
        "100 TB: sketches merge associatively across files/partitions/"
        "days, the exact join does not. Accuracy vs the exact Jaccard "
        "asserted in tests."
    ),
    tags=("dedup", "text", "extension", "sketch"),
)
def q_source_minhash_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.operators.dedup import md5_hash31

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).select("source", md5_hash31("w").alias("hsh"))
    sig = tok.groupBy("source").agg(
        *[
            F.min((F.col("hsh") * a + b) % P).alias(f"s{i}")
            for i, (a, b) in enumerate(minhash_coefficients())
        ]
    )
    a = sig.alias("a")
    b = sig.alias("b")
    n_match = sum(
        F.when(F.col(f"a.s{i}") == F.col(f"b.s{i}"), 1).otherwise(0) for i in range(32)
    ).cast("long")
    return (
        a.join(F.broadcast(b), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            n_match.alias("n_match"),
            stable_round(n_match / F.lit(32.0), 6).alias("est_jaccard"),
        )
    )


@register(
    "q_dedup_containment",
    oracle=f"""
WITH {_shingles_sql()},
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
hashed AS (SELECT DISTINCT doc_id, {_MD5H.format(x="shingle")} AS hsh FROM inv),
sized AS (SELECT doc_id, count(*) AS n_sh FROM hashed GROUP BY doc_id),
common AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
    FROM hashed x JOIN hashed y ON x.hsh = y.hsh AND x.doc_id < y.doc_id
    GROUP BY 1, 2
),
scored AS (
    SELECT doc_a, doc_b,
           (round((n_common::DOUBLE / least(sa.n_sh, sb.n_sh)) * 1000000.0) / 1000000.0)
               AS containment,
           (round((n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common)) * 1000000.0)
            / 1000000.0) AS jaccard
    FROM common
    JOIN sized sa ON sa.doc_id = doc_a
    JOIN sized sb ON sb.doc_id = doc_b
)
SELECT * FROM scored WHERE containment >= 0.8
""",
    description=(
        "Asymmetric shingle containment |A∩B|/min(|A|,|B|) — flags "
        "subset-duplication (quoted passages, syndicated boilerplate) "
        "that symmetric Jaccard structurally misses (Broder's "
        "resemblance vs containment). Same inverted-index shape and "
        "8-byte hashed shuffle keys as q_dedup_ngram_jaccard; both "
        "metrics emitted so subset-dups separate from near-identical "
        "pairs."
    ),
    tags=("dedup", "extension"),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, threshold=0.8)


@register(
    "q_dedup_report",
    oracle=f"""
WITH RECURSIVE {_lsh_jpairs_ctes()},
pairs AS (
    SELECT doc_a, doc_b FROM jpairs
    WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (
    SELECT src AS doc_id,
           least(src, min(dst)) AS cluster_id,
           src = least(src, min(dst)) AS is_keeper
    FROM reach GROUP BY src
)
SELECT d.source,
       CAST(count(*) AS BIGINT)                               AS n_docs,
       CAST(count(c.doc_id) AS BIGINT)                        AS n_clustered,
       CAST(count(CASE WHEN NOT c.is_keeper THEN 1 END) AS BIGINT)
                                                              AS n_dropped,
       CAST(count(CASE WHEN NOT c.is_keeper THEN 1 END) * 1000 // count(*) AS BIGINT)
                                                              AS drop_permille,
       CAST(count(DISTINCT c.cluster_id) AS BIGINT)           AS n_clusters
FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
GROUP BY d.source
""",
    description=(
        "Per-source deduplication report — the dashboard a dedup run "
        "actually publishes: how many documents each source contributed, "
        "how many landed in a near-dup cluster, how many would be "
        "dropped (non-keepers), the integer-exact drop rate (permille), "
        "and how many distinct clusters touch the source (clusters "
        "spanning sources count once per source they touch — the "
        "cross-source contamination signal). Composes the full pair->"
        "cluster pipeline with one extra broadcast-sized join + "
        "aggregate; the iterative clustering is value-hash-checked end "
        "to end via the recursive-CTE oracle."
    ),
    tags=("dedup", "extension", "iterative"),
)
def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from healthcare_etl_spark.operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    clusters = dedup_clusters(pairs)
    joined = docs.select("doc_id", "source").join(clusters, "doc_id", "left")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("cluster_id").alias("n_clustered"),
        F.count(F.when(~F.col("is_keeper"), F.lit(1))).alias("n_dropped"),
        F.expr("CAST(count(CASE WHEN NOT is_keeper THEN 1 END) * 1000 div count(*) AS BIGINT)").alias(
            "drop_permille"
        ),
        F.count_distinct("cluster_id").alias("n_clusters"),
    )


@register(
    "q_triangle_count",
    oracle=f"""
WITH {_lsh_jpairs_ctes()},
edges AS (
    SELECT least(doc_a, doc_b) AS u, greatest(doc_a, doc_b) AS v
    FROM jpairs WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
),
wedges AS (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM edges e1 JOIN edges e2 ON e1.v = e2.u
),
tri AS (
    SELECT a, b, c FROM wedges JOIN edges e3 ON wedges.a = e3.u AND wedges.c = e3.v
),
per_node AS (
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
    GROUP BY node
)
SELECT node AS doc_id, n_triangles FROM per_node
""",
    description=(
        "Per-node triangle counting over the near-dup graph — the graph "
        "clustering-coefficient primitive (dense near-dup cliques have "
        "high triangle counts; bridge-like false-positive edges have "
        "none, so the count separates true duplicate clusters from "
        "chance shingle collisions). Uses the canonical distributed "
        "ordered-edge formulation (a<b<c): each triangle is generated "
        "exactly once by joining the edge list to itself on the middle "
        "vertex and closing with a third membership join — two hash "
        "joins on 8-byte keys, never an all-pairs expansion; degree "
        "ordering bounds wedge fan-out at scale."
    ),
    tags=("dedup", "extension", "graph"),
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    # The edge list is referenced THREE times (both wedge sides + the
    # closing-edge probe). ReuseExchange only dedupes work BELOW an
    # exchange, and the LSH pipeline's verify joins + exact-Jaccard
    # filter sit ABOVE its last exchange — so without a top exchange the
    # whole candidate-verify stage executed three times. One explicit
    # repartition of the (8-byte, output-sized) edge list pins a shared
    # exchange over the full pair pipeline: every consumer reads the
    # same shuffle files (guide §2.4 — two operations keyed the same way
    # share one exchange; the extra shuffle moves pairs, not the corpus).
    edges = pairs.select(
        F.least("doc_a", "doc_b").alias("u"), F.greatest("doc_a", "doc_b").alias("v")
    ).repartition(spark.sparkContext.defaultParallelism, "u", "v")
    e1 = edges.alias("e1")
    e2 = edges.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    wedges = e1.join(e2, F.col("e1.v") == F.col("b2")).select(
        F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), "c"
    )
    e3 = edges.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = wedges.join(
        e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
    ).select("a", "b", "c")
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return nodes.groupBy(F.col("node").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


@register(
    "q_degree_distribution",
    oracle=f"""
WITH {_jaccard_pairs_ctes()},
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM jpairs
    WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
),
sym AS (SELECT u FROM edges UNION ALL SELECT v FROM edges),
deg AS (SELECT u AS node, count(*) AS degree FROM sym GROUP BY u)
SELECT CAST(degree AS BIGINT) AS degree,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree
""",
    description=(
        "Degree distribution of the near-dup graph — the structural "
        "health check run before any graph algorithm: a spike at high "
        "degree means a boilerplate hub (one shingle-collision node "
        "connected to everything) that would blow up clustering and "
        "triangle counting; near-dup graphs should be dominated by "
        "small degrees (pairs and small cliques). Two tiny hash "
        "aggregates over the edge list — degree profiling costs nothing "
        "relative to the algorithms it guards."
    ),
    tags=("dedup", "extension", "graph"),
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    sym = pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("node"))
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@register(
    "q_dedup_threshold_profile",
    oracle=f"""
WITH {_jaccard_pairs_ctes()},
rounded AS (
    SELECT (round(jac * 1000000.0) / 1000000.0) AS jac FROM jpairs
),
binned AS (
    SELECT least(CAST(floor(jac * 10.0) AS BIGINT), 9) AS bin,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM rounded GROUP BY 1
)
SELECT bin,
       (round(bin / 10.0 * 1000000.0) / 1000000.0) AS bin_lo,
       n_pairs,
       CAST(sum(n_pairs) OVER (ORDER BY bin DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_pairs_at_or_above
FROM binned
""",
    description=(
        "Dedup-threshold tuning profile: the distribution of exact "
        "pairwise Jaccard scores in 0.1-wide bins plus the reverse "
        "cumulative count (how many pairs survive each candidate "
        "threshold) — the diagnostic run BEFORE committing a near-dup "
        "threshold, where the knee of the curve separates true dups "
        "from background similarity. Reuses the inverted-index pair "
        "pipeline; the histogram fold and the reverse-cumulative window "
        "run over ten bins."
    ),
    tags=("dedup", "extension"),
)
def q_dedup_threshold_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.0)
    binned = (
        pairs.select(
            F.least(
                F.floor(F.col("jaccard") * 10.0).cast("long"), F.lit(9).cast("long")
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    w = (
        Window.orderBy(F.desc("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    from healthcare_etl_spark.functions.rounding import stable_round

    return binned.select(
        "bin",
        stable_round(F.col("bin") / 10.0, 6).alias("bin_lo"),
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("n_pairs_at_or_above"),
    )


@register(
    "q_dedup_best_keeper",
    oracle=r"""
WITH RECURSIVE """ + _lsh_jpairs_ctes() + r""",
pairs AS (
    SELECT doc_a, doc_b FROM jpairs
    WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (
    SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
    FROM reach GROUP BY src
),
feats AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS DOUBLE)                    AS n_tok,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)     AS n_uniq,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) AS n_punct,
           CAST(length(text) AS DOUBLE)                                    AS n_chars
    FROM documents
),
q AS (
    SELECT doc_id,
           (round((0.35 * least(n_tok / 100.0, 1.0)
               + 0.35 * (n_uniq / CASE WHEN n_tok > 0 THEN n_tok ELSE 1 END)
               + 0.30 * (1.0 - n_punct / CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END))
               * 1000000.0) / 1000000.0) AS score
    FROM feats
),
best AS (
    SELECT c.cluster_id,
           -- argmax by a scalar composite: the 6dp score scales to an
           -- exact integer, minus doc_id breaks ties toward the LOWEST id
           arg_max(c.doc_id, CAST(round(q.score * 1000000.0) AS BIGINT) * 10000000 - c.doc_id)
               AS keeper_id,
           max(q.score) AS keeper_score,
           CAST(count(*) AS BIGINT) AS cluster_size
    FROM clusters c JOIN q ON q.doc_id = c.doc_id
    GROUP BY c.cluster_id
)
SELECT cluster_id, keeper_id, keeper_score, cluster_size FROM best
""",
    description=(
        "Quality-aware dedup keeper selection: within each near-dup "
        "cluster keep the HIGHEST-quality document (argmax composite "
        "quality score, lowest doc_id on ties) instead of the arbitrary "
        "min-id keeper — the curation-grade dedup policy (min-id "
        "systematically keeps whichever copy crawled first, which is "
        "often the boilerplate-laden one). Composes the clustering "
        "pipeline with the quality scorer and a MAX_BY aggregate; the "
        "keeper choice is one partial-aggregated pass over the "
        "cluster-assignment table."
    ),
    tags=("dedup", "extension", "iterative"),
)
def q_dedup_best_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from healthcare_etl_spark.operators.graph import dedup_clusters
    from healthcare_etl_spark.operators.text_analysis import quality_score

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    clusters = dedup_clusters(pairs).select("doc_id", "cluster_id")
    q = quality_score(docs).select("doc_id", F.col("quality_score").alias("score"))
    joined = clusters.join(q, "doc_id")
    return joined.groupBy("cluster_id").agg(
        F.expr(
            "max_by(doc_id, CAST(round(score * 1000000.0) AS BIGINT) * 10000000 - doc_id)"
        ).alias("keeper_id"),
        F.max("score").alias("keeper_score"),
        F.count(F.lit(1)).alias("cluster_size"),
    )


@register(
    "q_minhash_eval",
    oracle=f"""
WITH {_minhash_ctes()},
sketch AS (
    SELECT doc_a, doc_b FROM verified
    WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
),
ecommon AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
    FROM hashed x JOIN hashed y ON x.hsh = y.hsh AND x.doc_id < y.doc_id
    GROUP BY 1, 2
),
exact AS (
    SELECT doc_a, doc_b FROM ecommon
    JOIN sigs sa ON sa.doc_id = doc_a
    JOIN sigs sb ON sb.doc_id = doc_b
    WHERE (round((n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common)) * 1000000.0)
           / 1000000.0) >= 0.5
),
joined AS (
    SELECT coalesce(s.doc_a, e.doc_a) AS doc_a,
           (s.doc_a IS NOT NULL) AS in_sketch,
           (e.doc_a IS NOT NULL) AS in_exact
    FROM sketch s FULL OUTER JOIN exact e
      ON s.doc_a = e.doc_a AND s.doc_b = e.doc_b
)
SELECT CAST(sum(CASE WHEN in_sketch AND in_exact THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(sum(CASE WHEN in_sketch AND NOT in_exact THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(sum(CASE WHEN in_exact AND NOT in_sketch THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       (round((sum(CASE WHEN in_sketch AND in_exact THEN 1 ELSE 0 END) * 1.0
               / greatest(sum(CASE WHEN in_sketch THEN 1 ELSE 0 END), 1))
              * 1000000.0) / 1000000.0) AS precision,
       (round((sum(CASE WHEN in_sketch AND in_exact THEN 1 ELSE 0 END) * 1.0
               / greatest(sum(CASE WHEN in_exact THEN 1 ELSE 0 END), 1))
              * 1000000.0) / 1000000.0) AS recall
FROM joined
""",
    description=(
        "Sketch-accuracy evaluation: the MinHash-LSH pipeline's verified "
        "pairs scored against the EXACT-Jaccard ground truth at the same "
        "threshold — TP/FP/FN and precision/recall from a full-outer "
        "join of the two pair sets. Because candidates are verified "
        "with exact Jaccard, precision is 1.0 by construction and "
        "recall measures pure banding loss (pairs whose signatures "
        "never collided in any band) — the number that justifies the "
        "8x4 band geometry at a given threshold. Both pipelines share "
        "the shingle scan; the comparison join runs on pair sets."
    ),
    tags=("dedup", "extension", "evaluation"),
)
def q_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from healthcare_etl_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    sketch = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    exact = jaccard_pairs(docs, threshold=0.5).select(
        F.col("doc_a").alias("e_a"), F.col("doc_b").alias("e_b")
    )
    joined = sketch.join(
        exact,
        (sketch["doc_a"] == exact["e_a"]) & (sketch["doc_b"] == exact["e_b"]),
        "full_outer",
    ).select(
        sketch["doc_a"].isNotNull().alias("in_sketch"),
        exact["e_a"].isNotNull().alias("in_exact"),
    )
    tp = F.sum((F.col("in_sketch") & F.col("in_exact")).cast("long"))
    n_sketch = F.sum(F.col("in_sketch").cast("long"))
    n_exact = F.sum(F.col("in_exact").cast("long"))
    from healthcare_etl_spark.functions.rounding import stable_round

    return joined.agg(
        tp.alias("tp"),
        F.sum((F.col("in_sketch") & ~F.col("in_exact")).cast("long")).alias("fp"),
        F.sum((F.col("in_exact") & ~F.col("in_sketch")).cast("long")).alias("fn"),
        stable_round(tp * F.lit(1.0) / F.greatest(n_sketch, F.lit(1)), 6).alias(
            "precision"
        ),
        stable_round(tp * F.lit(1.0) / F.greatest(n_exact, F.lit(1)), 6).alias(
            "recall"
        ),
    )


@register(
    "q_graph_assortativity",
    oracle=f"""
WITH {_lsh_jpairs_ctes()},
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM jpairs
    WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
),
sym AS (
    SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
),
deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
ends AS (
    SELECT du.d AS j, dv.d AS k
    FROM sym JOIN deg du ON sym.u = du.node JOIN deg dv ON sym.v = dv.node
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS m,
           CAST(sum(j * k) AS BIGINT) AS sjk,
           CAST(sum(j) AS BIGINT) AS sj,
           CAST(sum(j * j) AS BIGINT) AS sjj
    FROM ends
)
SELECT m AS n_edge_ends,
       (round(((m * 1.0 * sjk - sj * 1.0 * sj) /
               (m * 1.0 * sjj - sj * 1.0 * sj)) * 1000000.0) / 1000000.0)
           AS assortativity
FROM m
""",
    description=(
        "Degree assortativity of the near-dup graph (Pearson "
        "correlation of endpoint degrees over directed edge ends): "
        "negative = hub-and-spoke boilerplate contamination (high-"
        "degree hubs attached to leaves), positive = clique-like true "
        "duplicate clusters — one number summarizing what "
        "q_degree_distribution shows as a histogram. Because the edge "
        "list is symmetrized, the marginal moments of j and k "
        "coincide, so one 4-sum INTEGER moment pass (degrees are "
        "exact BIGINTs) feeds the closed-form correlation — two "
        "8-byte-key joins and a fold, no floating accumulation until "
        "the final division."
    ),
    tags=("dedup", "extension", "graph"),
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from healthcare_etl_spark.functions.rounding import stable_round

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    sym = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionAll(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("j"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("k"))
    ends = sym.join(du, "u").join(dv, "v").select("j", "k")
    m = ends.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("j") * F.col("k")).alias("sjk"),
        F.sum("j").alias("sj"),
        F.sum(F.col("j") * F.col("j")).alias("sjj"),
    )
    mm, sjk, sj, sjj = F.col("m"), F.col("sjk"), F.col("sj"), F.col("sjj")
    return m.select(
        mm.alias("n_edge_ends"),
        stable_round(
            (mm * 1.0 * sjk - sj * 1.0 * sj) / (mm * 1.0 * sjj - sj * 1.0 * sj), 6
        ).alias("assortativity"),
    )


@register(
    "q_dup_span_extract",
    oracle="""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
g8 AS (
    SELECT doc_id, unnest(range(1, len(t) - 6)) AS p, t
    FROM tok WHERE len(t) >= 8
),
g8n AS (
    SELECT doc_id, p, array_to_string(t[p:p+7], ' ') AS gram FROM g8
),
dfreq AS (
    SELECT gram FROM g8n GROUP BY gram HAVING count(DISTINCT doc_id) > 1
),
dup_pos AS (
    SELECT g.doc_id, g.p,
           row_number() OVER (PARTITION BY g.doc_id ORDER BY g.p) AS rn
    FROM g8n g JOIN dfreq d ON d.gram = g.gram
),
islands AS (
    SELECT doc_id, p, p - rn AS island FROM dup_pos
)
SELECT doc_id,
       CAST(min(p) AS BIGINT)         AS span_start,
       CAST(max(p) + 7 AS BIGINT)     AS span_end,
       CAST(max(p) + 8 - min(p) AS BIGINT) AS span_tokens
FROM islands
GROUP BY doc_id, island
""",
    description=(
        "Duplicated-substring SPAN extraction (the ExactSubstr dedup of "
        "Lee et al. 2022 'Deduplicating Training Data Makes Language "
        "Models Better', word-level): positions whose 8-gram occurs in "
        "more than one document, merged into maximal contiguous spans "
        "per doc via gaps-and-islands (pos - row_number over the "
        "doc-partitioned order) — the remove-the-span-not-the-document "
        "alternative to MinHash whole-doc dedup. Suffix arrays do this "
        "at byte granularity; the gram-join form is the shuffle-native "
        "equivalent: one gram-keyed aggregate + one doc-partitioned "
        "window, no data-scale keyless stage."
    ),
    tags=("dedup", "text", "extension", "corpus"),
)
def q_dup_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dup_spans(load_table(spark, sf_dir, "documents"))


def _dup_spans(docs: DataFrame) -> DataFrame:
    """Shared span machinery for q_dup_span_extract /
    q_span_removal_stats: (doc_id, span_start, span_end, span_tokens)
    for every maximal run of positions whose 8-gram occurs in more than
    one document. See q_dup_span_extract's description for the design.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    toks = F.split("text", " ")
    base = docs.select("doc_id", F.size(toks).alias("n_tok"), toks.alias("t")).filter(
        F.col("n_tok") >= 8
    )
    g8 = base.select(
        "doc_id",
        F.expr(
            "posexplode(transform(sequence(1, cast(n_tok - 7 as int)),"
            " i -> array_join(slice(t, i, 8), ' ')))"
        ).alias("p0", "gram"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "gram")
    dfreq = (
        g8.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gram")
    )
    dup_pos = g8.join(dfreq, "gram").select("doc_id", "p")
    w = Window.partitionBy("doc_id").orderBy("p")
    islands = dup_pos.withColumn("island", F.col("p") - F.row_number().over(w))
    return islands.groupBy("doc_id", "island").agg(
        F.min("p").cast("long").alias("span_start"),
        (F.max("p") + 7).cast("long").alias("span_end"),
        (F.max("p") + 8 - F.min("p")).cast("long").alias("span_tokens"),
    ).drop("island")


@register(
    "q_span_removal_stats",
    oracle="""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
g8 AS (
    SELECT doc_id, unnest(range(1, len(t) - 6)) AS p, t
    FROM tok WHERE len(t) >= 8
),
g8n AS (
    SELECT doc_id, p, array_to_string(t[p:p+7], ' ') AS gram FROM g8
),
dfreq AS (
    SELECT gram FROM g8n GROUP BY gram HAVING count(DISTINCT doc_id) > 1
),
dup_pos AS (
    SELECT g.doc_id, g.p,
           row_number() OVER (PARTITION BY g.doc_id ORDER BY g.p) AS rn
    FROM g8n g JOIN dfreq d ON d.gram = g.gram
),
spans AS (
    SELECT doc_id, max(p) + 8 - min(p) AS span_tokens
    FROM (SELECT doc_id, p, p - rn AS island FROM dup_pos)
    GROUP BY doc_id, island
),
per_doc AS (
    SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS st,
           CAST(count(*) AS BIGINT) AS n_spans
    FROM spans GROUP BY doc_id
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN p.st IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_affected_docs,
       CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS total_tokens,
       CAST(coalesce(sum(p.st), 0) AS BIGINT) AS span_tokens,
       (round((coalesce(sum(p.st), 0) * 1.0 / sum(len(string_split(d.text, ' '))))
              * 1000000.0) / 1000000.0) AS span_token_share,
       (round((sum(CASE WHEN p.st IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*))
              * 1000000.0) / 1000000.0) AS affected_doc_share
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
GROUP BY d.source
""",
    description=(
        "Span-removal cost model per source: how many tokens would "
        "ExactSubstr-style span deletion remove, and what fraction of "
        "documents are touched — the numbers that decide between "
        "surgical span removal (keeps the unique remainder of partially-"
        "duplicated docs) and whole-document dropping (cheap but "
        "deletes the remainder too). Shares _dup_spans with "
        "q_dup_span_extract; one extra per-doc rollup + a source-keyed "
        "aggregate over the LEFT join (unaffected docs count with zero "
        "span tokens)."
    ),
    tags=("dedup", "text", "extension", "corpus"),
)
def q_span_removal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from healthcare_etl_spark.functions.rounding import stable_round

    docs = load_table(spark, sf_dir, "documents")
    per_doc = (
        _dup_spans(docs)
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").alias("st"), F.count(F.lit(1)).alias("n_spans"))
    )
    joined = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    ).join(per_doc, "doc_id", "left")
    affected = F.when(F.col("st").isNotNull(), 1).otherwise(0)
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(affected).alias("n_affected_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.coalesce(F.sum("st"), F.lit(0)).alias("span_tokens"),
        stable_round(
            F.coalesce(F.sum("st"), F.lit(0)) * F.lit(1.0) / F.sum("n_tok"), 6
        ).alias("span_token_share"),
        stable_round(F.sum(affected) * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
            "affected_doc_share"
        ),
    )


def _kcore_oracle(k: int = 2, rounds: int = 8) -> str:
    """Unrolled k-core peel: each round recomputes degrees over the
    surviving edge set and drops nodes below k; ``rounds`` is FIXED on
    both engines (extra rounds past convergence are no-ops), so the
    iterates match without a convergence handshake.

    Every per-round CTE is ``AS MATERIALIZED``: DuckDB inlines plain
    CTEs, and e_i references e_{i-1} three times, so an un-materialized
    unroll expands to 3^rounds copies of the base scan (fd exhaustion
    at rounds=8). Materializing makes each round compute once."""
    parts = [
        f"WITH {_jaccard_pairs_ctes()},",
        """
e0 AS MATERIALIZED (
    SELECT doc_a AS u, doc_b AS v FROM jpairs
    WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
    UNION
    SELECT doc_b AS u, doc_a AS v FROM jpairs
    WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
)""",
    ]
    prev = "e0"
    for i in range(1, rounds + 1):
        parts.append(
            f"""k{i} AS MATERIALIZED (SELECT u FROM {prev} GROUP BY u HAVING count(*) >= {k})"""
        )
        parts.append(
            f"""e{i} AS MATERIALIZED (
    SELECT e.u, e.v FROM {prev} e
    JOIN k{i} a ON a.u = e.u
    JOIN k{i} b ON b.u = e.v
)"""
        )
        prev = f"e{i}"
    body = ",\n".join(p.strip() for p in parts[1:])
    return (
        parts[0]
        + "\n"
        + body
        + f"\nSELECT u AS node, CAST(count(*) AS BIGINT) AS degree FROM {prev} GROUP BY u"
    )


@register(
    "q_kcore_peel",
    oracle=_kcore_oracle(2, 8),
    description=(
        "k-core decomposition (k=2, 8 fixed peel rounds) of the "
        "near-dup similarity graph: repeatedly drop nodes whose "
        "degree falls below k until stable — the densest-substructure "
        "extractor that separates true duplicate CLUSTERS from "
        "incidental pairwise matches (a 2-core keeps triangles and "
        "denser, sheds the hairlike chains LSH false positives form). "
        "Each round is one degree aggregate + two semi-join-shaped "
        "edge filters, all keyed on the node id; rounds are fixed on "
        "both engines so the unrolled oracle matches without a "
        "convergence handshake; the Spark peel checkpoints its edge "
        "lineage every round and stops once a round removes no edge."
    ),
    tags=("dedup", "extension", "iterative", "graph"),
)
def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from healthcare_etl_spark.operators.graph import _fixpoint, _symmetric_edges

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.5).select("doc_a", "doc_b")

    def peel(e: DataFrame) -> DataFrame:
        keep = (
            e.groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= 2)
            .select("u")
        )
        return e.join(keep, "u").join(keep.withColumnRenamed("u", "v"), "v").select("u", "v")

    # Peeling is MONOTONE — once a round removes no edge, the keep set is
    # stable and every later round is a no-op — so stopping on an
    # unchanged edge count returns exactly what the fixed 8 rounds
    # returned, while skipping the rounds that did nothing. The count
    # rides the same materialization the lazy checkpoint needs anyway.
    e = _fixpoint(
        _symmetric_edges(pairs, "doc_a", "doc_b"),
        peel,
        rounds=8,
        checkpoint_every=1,
        signature=lambda e: e.count(),
    )
    return e.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )


@register(
    "q_dedup_edit_distance",
    oracle="""
WITH d AS (
    SELECT doc_id, lang,
           substr(text, 1, 12)  AS blk,
           substr(text, 1, 150) AS head
    FROM documents
),
cand AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist,
           CAST(greatest(length(a.head), length(b.head)) AS BIGINT) AS max_len
    FROM d a JOIN d b ON a.lang = b.lang AND a.blk = b.blk
                     AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, edit_dist,
       (round((1.0 - edit_dist * 1.0 / max_len) * 1000000.0) / 1000000.0)
           AS edit_sim
FROM cand WHERE edit_dist <= 30
""",
    description=(
        "Edit-distance near-dup pairs with prefix blocking: candidates "
        "share (lang, first-12-chars) — an equi-join key, so candidate "
        "generation is a hash join that scales like exact dedup, never "
        "all-pairs — then Levenshtein over the 150-char heads keeps "
        "pairs within 30 edits (plus the normalized similarity "
        "1 - d/max_len). The character-level complement to "
        "q_dedup_ngram_jaccard: token-set methods miss dense single-"
        "character noise (OCR errors, mojibake variants), edit distance "
        "catches it. Spark side uses the THRESHOLD form "
        "levenshtein(a, b, 30) — a banded O(len x 30) DP instead of "
        "O(len^2), returning -1 past the band, so cost per candidate "
        "is bounded regardless of head length; the fixed-prefix block "
        "trades recall for join-shaped scale exactly like SimHash "
        "banding (rotate the block window across passes to recover "
        "edits inside the prefix)."
    ),
    tags=("dedup", "extension", "text"),
)
def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from healthcare_etl_spark.functions.rounding import stable_round

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        F.substring("text", 1, 12).alias("blk"),
        F.substring("text", 1, 150).alias("head"),
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        "blk",
        F.col("head").alias("head_a"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        "lang",
        "blk",
        F.col("head").alias("head_b"),
    )
    cand = a.join(b, ["lang", "blk"]).filter(F.col("doc_a") < F.col("doc_b"))
    lev = F.levenshtein("head_a", "head_b", 30)
    max_len = F.greatest(F.length("head_a"), F.length("head_b")).cast("long")
    return (
        cand.select(
            "doc_a",
            "doc_b",
            lev.cast("long").alias("edit_dist"),
            max_len.alias("max_len"),
        )
        .filter(F.col("edit_dist") >= 0)
        .select(
            "doc_a",
            "doc_b",
            "edit_dist",
            stable_round(
                F.lit(1.0) - F.col("edit_dist") * 1.0 / F.col("max_len"), 6
            ).alias("edit_sim"),
        )
    )


# Fellegi-Sunter field weights: log2(m/u) on agreement, log2((1-m)/(1-u))
# on disagreement, precomputed in Python once so BOTH engines inline the
# identical double literal instead of each evaluating a transcendental.
# (m, u) priors: lang (.95/.20), source (.80/.25), first/last token
# (.90/.01).
_FS_WEIGHTS = {
    "lang_eq": (2.247927513443585, -3.9999999999999987),
    "src_eq": (1.6780719051126378, -1.906890595608519),
    "tok1_eq": (6.491853096329675, -3.3074285251922473),
    "tokl_eq": (6.491853096329675, -3.3074285251922473),
}


def _fs_oracle() -> str:
    w = _FS_WEIGHTS
    # CAST each literal to DOUBLE: DuckDB types bare decimal literals as
    # DECIMAL and the summed weight then overflows DECIMAL(18) inside
    # the rounding multiply.
    terms = " + ".join(
        f"(CASE WHEN {f} THEN CAST({agree!r} AS DOUBLE) "
        f"ELSE CAST({dis!r} AS DOUBLE) END)"
        for f, (agree, dis) in w.items()
    )
    return f"""
WITH recs AS (
    SELECT doc_id, lang, source,
           CAST(floor(n_chars / 100.0) AS BIGINT) AS len_bkt,
           string_split(text, ' ')[1] AS tok1,
           string_split(text, ' ')[len(string_split(text, ' '))] AS tokl
    FROM documents
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           (a.lang = b.lang)     AS lang_eq,
           (a.source = b.source) AS src_eq,
           (a.tok1 = b.tok1)     AS tok1_eq,
           (a.tokl = b.tokl)     AS tokl_eq
    FROM recs a JOIN recs b
      ON a.len_bkt = b.len_bkt AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       (round(({terms}) * 1000000.0) / 1000000.0) AS fs_weight,
       CASE WHEN ({terms}) >= 6.0 THEN 'match'
            ELSE 'possible' END AS link_class
FROM pairs
WHERE ({terms}) >= 0.0
"""


@register(
    "q_record_linkage",
    oracle=_fs_oracle(),
    description=(
        "Fellegi-Sunter probabilistic record linkage over documents: "
        "candidate pairs block on the 100-char length bucket (an "
        "equi-join, never all-pairs), then each weak field — lang, "
        "source, first token, last token — contributes log2(m/u) "
        "evidence on agreement and log2((1-m)/(1-u)) on disagreement; "
        "the summed weight classifies pairs as match (>=6 bits) or "
        "possible (>=0). The probabilistic complement to the "
        "exact/MinHash/edit-distance dedup tiers: FS combines MANY "
        "weak field signals with principled weights where those need "
        "one strong content signal, which is how entity resolution "
        "works when no field is individually trustworthy. The m/u "
        "log-weights are Python-precomputed double literals inlined "
        "into both plans, so the weight sum is the identical fixed "
        "IEEE expression on both engines; blocking keys, like all "
        "dedup tiers here, shuffle O(corpus) not O(corpus^2)."
    ),
    tags=("dedup", "extension", "text"),
)
def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from healthcare_etl_spark.functions.rounding import stable_round

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    recs = docs.select(
        "doc_id",
        "lang",
        "source",
        F.floor(F.col("n_chars") / 100.0).cast("long").alias("len_bkt"),
        toks.getItem(0).alias("tok1"),
        F.element_at(toks, -1).alias("tokl"),
    )
    a = recs.select(
        F.col("doc_id").alias("doc_a"),
        "len_bkt",
        F.col("lang").alias("lang_a"),
        F.col("source").alias("src_a"),
        F.col("tok1").alias("tok1_a"),
        F.col("tokl").alias("tokl_a"),
    )
    b = recs.select(
        F.col("doc_id").alias("doc_b"),
        "len_bkt",
        F.col("lang").alias("lang_b"),
        F.col("source").alias("src_b"),
        F.col("tok1").alias("tok1_b"),
        F.col("tokl").alias("tokl_b"),
    )
    pairs = a.join(b, "len_bkt").filter(F.col("doc_a") < F.col("doc_b"))
    eqs = {
        "lang_eq": F.col("lang_a") == F.col("lang_b"),
        "src_eq": F.col("src_a") == F.col("src_b"),
        "tok1_eq": F.col("tok1_a") == F.col("tok1_b"),
        "tokl_eq": F.col("tokl_a") == F.col("tokl_b"),
    }
    weight = None
    for f, (agree, dis) in _FS_WEIGHTS.items():
        term = F.when(eqs[f], F.lit(agree)).otherwise(F.lit(dis))
        weight = term if weight is None else weight + term
    return (
        pairs.select("doc_a", "doc_b", weight.alias("w"))
        .filter(F.col("w") >= 0.0)
        .select(
            "doc_a",
            "doc_b",
            stable_round(F.col("w"), 6).alias("fs_weight"),
            F.when(F.col("w") >= 6.0, F.lit("match"))
            .otherwise(F.lit("possible"))
            .alias("link_class"),
        )
    )


@register(
    "q_graph_modularity",
    oracle=f"""
WITH RECURSIVE {_lsh_jpairs_ctes()},
pairs AS (
    SELECT doc_a, doc_b FROM jpairs
    WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
    SELECT src AS node, least(src, min(dst)) AS cluster_id
    FROM reach GROUP BY src
),
m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM pairs),
ec AS (
    SELECT ca.cluster_id, CAST(count(*) AS BIGINT) AS e_c
    FROM pairs p
    JOIN comp ca ON ca.node = p.doc_a
    JOIN comp cb ON cb.node = p.doc_b AND cb.cluster_id = ca.cluster_id
    GROUP BY 1
),
deg AS (
    SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1
),
dc AS (
    SELECT c.cluster_id, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(g.d) AS BIGINT) AS d_c
    FROM comp c JOIN deg g ON g.node = c.node
    GROUP BY 1
)
SELECT dc.cluster_id, dc.n_nodes,
       coalesce(ec.e_c, 0) AS internal_edges,
       dc.d_c AS degree_sum,
       (round((coalesce(ec.e_c, 0) * 1.0 / m.n_edges
               - (dc.d_c * 1.0 / (2 * m.n_edges)) * (dc.d_c * 1.0 / (2 * m.n_edges)))
              * 1000000.0) / 1000000.0) AS mod_term
FROM dc LEFT JOIN ec ON ec.cluster_id = dc.cluster_id
CROSS JOIN m
""",
    description=(
        "Newman modularity decomposition of the near-dup cluster "
        "partition: per community, Q_c = e_c/m - (d_c/2m)^2 from the "
        "internal-edge count and degree sum — the did-the-clustering-"
        "find-real-structure check for the CC-based dedup clusters "
        "(sum of mod_term = Q; near 0 means the 'clusters' are no "
        "better than random wiring, and whole-cluster keeper "
        "decisions shouldn't be trusted). Completes the graph-metric "
        "family (assortativity/triangles/degrees/k-core) with the "
        "partition-quality view. All counts are exact BIGINTs from "
        "two node-keyed joins riding the pairs relation; each "
        "community's term is one fixed rounded expression."
    ),
    tags=("dedup", "extension", "graph", "iterative", "evaluation"),
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    comp = dedup_clusters(pairs).select(
        F.col("doc_id").alias("node"), "cluster_id"
    )
    n_edges = pairs.count()
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    ec = (
        pairs.join(
            comp.select(F.col("node").alias("doc_a"), F.col("cluster_id").alias("ca")),
            "doc_a",
        )
        .join(
            comp.select(F.col("node").alias("doc_b"), F.col("cluster_id").alias("cb")),
            "doc_b",
        )
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("cluster_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_c"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    dc = (
        comp.join(deg, "node")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("d_c"),
        )
    )
    e_c = F.coalesce(F.col("e_c"), F.lit(0)).cast("long")
    half = F.col("d_c") * 1.0 / (2 * F.lit(n_edges))
    return (
        dc.join(ec, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_nodes",
            e_c.alias("internal_edges"),
            F.col("d_c").alias("degree_sum"),
            stable_round(e_c * 1.0 / F.lit(n_edges) - half * half, 6).alias(
                "mod_term"
            ),
        )
    )


_SNM_W = 4


@register(
    "q_dedup_sorted_neighborhood",
    oracle=f"""
WITH ranked AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY substring(text, 1, 24), doc_id) AS pos
    FROM documents
),
xk AS (SELECT doc_id, pos, pos // {_SNM_W} AS b FROM ranked),
yk AS (SELECT doc_id, pos,
              unnest([pos // {_SNM_W}, pos // {_SNM_W} - 1]) AS b
       FROM ranked),
cand AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, y.pos - x.pos AS gap
    FROM xk x JOIN yk y ON x.b = y.b
    WHERE y.pos - x.pos BETWEEN 1 AND {_SNM_W}
),
{_shingles_sql()},
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
hashed AS (SELECT DISTINCT doc_id, {_MD5H.format(x="shingle")} AS hsh FROM inv),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM hashed GROUP BY 1),
common AS (
    SELECT doc_a, doc_b, gap, count(*) AS n_common
    FROM cand
    JOIN hashed a ON a.doc_id = doc_a
    JOIN hashed b ON b.doc_id = doc_b AND b.hsh = a.hsh
    GROUP BY 1, 2, 3
)
SELECT doc_a, doc_b, CAST(gap AS BIGINT) AS gap,
       (round((n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common)) * 1000000.0)
        / 1000000.0) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE (round((n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common)) * 1000000.0)
       / 1000000.0) >= 0.5
""",
    description=(
        "Sorted-neighborhood (SNM) dedup blocking: sort the corpus by a "
        "24-char content prefix, slide a window of 4, and exact-Jaccard "
        "verify only the in-window candidate pairs. The complement to "
        "the inverted-index/LSH blockers: candidate volume is EXACTLY "
        "N*w regardless of key skew (a hot shingle never explodes a "
        "bucket), at the cost of missing dups whose prefixes diverge. "
        "The global sort position comes from bucketed_rank's two-phase "
        "carry (first-prefix-char buckets; widen to 2-3 chars when a "
        "billion-doc corpus makes 1-char buckets too coarse) — no "
        "single-partition sort; the window pairing is an equi-join on "
        "pos div w block keys (each right row also under its "
        "predecessor block, so cross-boundary pairs meet exactly once)."
    ),
    tags=("dedup", "extension", "scale-pattern"),
)
def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.operators.dedup import hashed_shingle_rows
    from healthcare_etl_spark.operators.scale import bucketed_rank

    w = _SNM_W
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    keyed = docs.withColumn("bkey", F.substring("text", 1, 24))
    ranked = bucketed_rank(
        keyed,
        buckets=[F.substring("bkey", 1, 1)],
        order_by=[F.asc("bkey"), F.asc("doc_id")],
        out_col="pos",
    ).select("doc_id", "pos")
    x = ranked.select("doc_id", "pos", F.expr(f"pos div {w}").alias("b"))
    y = ranked.select(
        "doc_id",
        "pos",
        F.explode(
            F.array(F.expr(f"pos div {w}"), F.expr(f"pos div {w} - 1"))
        ).alias("b"),
    )
    gap = F.col("y.pos") - F.col("x.pos")
    cand = (
        x.alias("x")
        .join(y.alias("y"), (F.col("x.b") == F.col("y.b")) & gap.between(1, w))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            gap.cast("long").alias("gap"),
        )
    )
    inv = hashed_shingle_rows(docs)
    sizes = inv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        cand.join(inv.alias("a"), F.col("doc_a") == F.col("a.doc_id"))
        .join(
            inv.alias("bb"),
            (F.col("doc_b") == F.col("bb.doc_id"))
            & (F.col("a.hsh") == F.col("bb.hsh")),
        )
        .groupBy("doc_a", "doc_b", "gap")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        common.join(sizes.withColumnRenamed("n_sh", "na"), F.col("doc_a") == sizes["doc_id"])
        .drop("doc_id")
        .join(sizes.withColumnRenamed("n_sh", "nb"), F.col("doc_b") == sizes["doc_id"])
        .drop("doc_id")
        .select("doc_a", "doc_b", "gap", stable_round(jac, 6).alias("jaccard"))
        .filter(stable_round(jac, 6) >= 0.5)
    )


@register(
    "q_winnowing_fingerprints",
    oracle=f"""
WITH d AS (
    SELECT doc_id, substr(text, 1, 512) AS t
    FROM documents WHERE length(text) >= 8
),
g AS (
    SELECT doc_id, length(t) AS lt, unnest(range(1, length(t) - 6)) AS p, t
    FROM d
),
gh AS (
    SELECT doc_id, CAST(lt AS BIGINT) AS lt, CAST(p AS BIGINT) AS p,
           {_MD5H.format(x="substr(t, CAST(p AS INTEGER), 8)")} AS h
    FROM g
),
wins AS (
    SELECT doc_id, lt, p,
           min(h * 1024 + (1023 - p)) OVER (
               PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mw
    FROM gh
),
fps AS (
    SELECT DISTINCT doc_id, mw // 1024 AS h
    FROM wins WHERE p <= lt - 10
),
hot AS (SELECT h FROM fps GROUP BY h HAVING count(*) > 50),
good AS (SELECT doc_id, h FROM fps WHERE h NOT IN (SELECT h FROM hot)),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM good GROUP BY 1),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM good a JOIN good b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared,
       (round((n_shared * 1.0 / least(sa.n_fp, sb.n_fp)) * 1000000.0)
        / 1000000.0) AS overlap
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_shared >= 10
  AND (round((n_shared * 1.0 / least(sa.n_fp, sb.n_fp)) * 1000000.0)
       / 1000000.0) >= 0.5
""",
    description=(
        "MOSS-style winnowing fingerprints: char 8-gram hashes over the "
        "first 512 chars, exact winnowing with window w=4 — the "
        "rightmost minimal hash of every complete window, computed as "
        "ONE doc-partitioned windowed MIN via the integer encoding "
        "h*1024 + (1023 - pos) (min h, ties to max pos; h < 2^31 and "
        "pos <= 505 < 1024 so the encoding is collision-free) — no "
        "per-window self-join. Fingerprints occurring in >50 docs are "
        "dropped (the MOSS shared-boilerplate guard AND the skew guard: "
        "the shared-hash pair join is bounded at 50^2 rows per key), "
        "then doc pairs rank by shared-fingerprint count with overlap "
        "= shared / min(|fp|). Winnowing guarantee: any shared "
        "substring of >= w+k-1 = 11 chars yields a shared fingerprint. "
        "Every window is doc_id-partitioned; the pair join shuffles "
        "8-byte hash keys."
    ),
    tags=("dedup", "extension", "fingerprint"),
)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.operators.dedup import md5_hash31

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 8)
        .select("doc_id", F.substring("text", 1, 512).alias("t"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    g = docs.select(
        "doc_id",
        F.length("t").cast("long").alias("lt"),
        "t",
        F.explode(F.expr("sequence(1, length(t) - 7)")).alias("p0"),
    )
    gh = g.select(
        "doc_id",
        "lt",
        F.col("p0").cast("long").alias("p"),
        md5_hash31(F.expr("substring(t, p0, 8)")).alias("h"),
    )
    wspec = W.partitionBy("doc_id").orderBy("p").rowsBetween(0, 3)
    wins = gh.select(
        "doc_id",
        "lt",
        "p",
        F.min(F.col("h") * 1024 + (1023 - F.col("p"))).over(wspec).alias("mw"),
    )
    fps = (
        wins.filter(F.col("p") <= F.col("lt") - 10)
        .select("doc_id", F.expr("mw div 1024").alias("h"))
        .distinct()
    )
    hot = fps.groupBy("h").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") > 50)
    good = fps.join(hot.select("h"), "h", "left_anti")
    sizes = good.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_fp"))
    pairs = (
        good.alias("a")
        .join(
            good.alias("b"),
            (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= 10)
    )
    overlap = F.col("n_shared") * 1.0 / F.least(F.col("na"), F.col("nb"))
    return (
        pairs.join(sizes.withColumnRenamed("n_fp", "na"), F.col("doc_a") == sizes["doc_id"])
        .drop("doc_id")
        .join(sizes.withColumnRenamed("n_fp", "nb"), F.col("doc_b") == sizes["doc_id"])
        .drop("doc_id")
        .select("doc_a", "doc_b", "n_shared", stable_round(overlap, 6).alias("overlap"))
        .filter(stable_round(overlap, 6) >= 0.5)
    )


def _blocking_recall_oracle_sql() -> str:
    """Truth (exact-Jaccard >= 0.5) vs the LSH-band and sorted-
    neighborhood candidate generators — shares the shingle/hash chain
    with the other dedup oracles; minhash fragments renamed to avoid
    CTE collisions."""
    sig_exprs = ",\n           ".join(
        f"min((hsh * {a} + {b}) % {P}) AS s{i}"
        for i, (a, b) in enumerate(minhash_coefficients())
    )

    def band_fold(j: int) -> str:
        expr = "0::BIGINT"
        for r in range(BAND_R):
            expr = f"(({expr} * 31 + s{j * BAND_R + r}) % {P})"
        return f"{j}::BIGINT * {P} + {expr}"

    band_exprs = ", ".join(band_fold(j) for j in range(N_BANDS))
    return f"""
WITH {_jaccard_pairs_ctes()},
truth AS MATERIALIZED (
    SELECT doc_a, doc_b FROM jpairs
    WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
),
msigs AS (
    SELECT doc_id,
           {sig_exprs}
    FROM hashed GROUP BY doc_id
),
mbands AS (SELECT doc_id, unnest([{band_exprs}]) AS bk FROM msigs),
lcand AS MATERIALIZED (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM mbands x JOIN mbands y ON x.bk = y.bk AND x.doc_id < y.doc_id
),
ranked AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY substring(text, 1, 24), doc_id) AS pos
    FROM documents
),
sx AS (SELECT doc_id, pos, pos // {_SNM_W} AS b FROM ranked),
sy AS (SELECT doc_id, pos,
              unnest([pos // {_SNM_W}, pos // {_SNM_W} - 1]) AS b
       FROM ranked),
scand AS MATERIALIZED (
    SELECT least(x.doc_id, y.doc_id) AS doc_a,
           greatest(x.doc_id, y.doc_id) AS doc_b
    FROM sx x JOIN sy y ON x.b = y.b
    WHERE y.pos - x.pos BETWEEN 1 AND {_SNM_W}
),
m AS (
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM lcand) AS lsh_cand,
           (SELECT CAST(count(*) AS BIGINT) FROM truth t
             WHERE EXISTS (SELECT 1 FROM lcand c
                           WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b))
               AS lsh_hits,
           (SELECT CAST(count(*) AS BIGINT) FROM scand) AS snm_cand,
           (SELECT CAST(count(*) AS BIGINT) FROM truth t
             WHERE EXISTS (SELECT 1 FROM scand c
                           WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b))
               AS snm_hits
)
SELECT n_truth, lsh_cand, lsh_hits,
       (round((lsh_hits * 1.0 / n_truth) * 1000000.0) / 1000000.0)
           AS lsh_recall,
       snm_cand, snm_hits,
       (round((snm_hits * 1.0 / n_truth) * 1000000.0) / 1000000.0)
           AS snm_recall
FROM m
"""


@register(
    "q_dedup_blocking_recall",
    oracle=_blocking_recall_oracle_sql(),
    description=(
        "Blocking-strategy recall evaluation: ground truth = the exact "
        "inverted-index Jaccard pairs (>= 0.5), candidates = (a) the "
        "MinHash-LSH band buckets and (b) the sorted-neighborhood "
        "window — reporting candidate volume, hits, and recall for "
        "each. The meta-eval that picks a blocker for a corpus: LSH "
        "recall is tunable via bands x rows and content-robust; SNM "
        "volume is exactly N*w and skew-proof but prefix-sensitive. "
        "All three pair generators already live in this registry; "
        "here they run against the SAME corpus in one plan, "
        "hit-testing via semi-joins on the pair key. At 100 TB the "
        "truth side is the expensive one — in production this eval "
        "runs on a sampled stratum, same shapes."
    ),
    tags=("dedup", "extension", "evaluation"),
)
def q_dedup_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_band_frame,
    )
    from healthcare_etl_spark.operators.scale import bucketed_rank

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # NO checkpoints on the pair frames (r8): under AQE, localCheckpoint
    # — eager OR lazy — finalizes the adaptive plan, which EXECUTES the
    # subtree's shuffle stages at call time; checkpointing the exact
    # truth join here meant merely BUILDING this plan ran the quadratic
    # join (infeasible at x100 by definition — this eval's truth is
    # fixture/sampled-stratum scale by design, see docstring). Each pair
    # frame is consumed by several aggregates inside the ONE final
    # action, and the consumers are textually identical subtrees, so
    # Catalyst's ReuseExchange computes each underlying shuffle once —
    # same single-materialization economics, with a genuinely free plan
    # build (interleaved sf0.1 A/B vs the checkpointed form, identical
    # results: min 4.36 s vs 4.86 s — see AB_RUNS.jsonl
    # blocking-recall-ckpt-vs-reuse-r8).
    truth = jaccard_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    lcand = lsh_candidate_pairs(minhash_band_frame(docs))
    w = _SNM_W
    ranked = bucketed_rank(
        docs.withColumn("bkey", F.substring("text", 1, 24)),
        buckets=[F.substring("bkey", 1, 1)],
        order_by=[F.asc("bkey"), F.asc("doc_id")],
        out_col="pos",
    ).select("doc_id", "pos")
    x = ranked.select("doc_id", "pos", F.expr(f"pos div {w}").alias("b"))
    y = ranked.select(
        "doc_id",
        "pos",
        F.explode(
            F.array(F.expr(f"pos div {w}"), F.expr(f"pos div {w} - 1"))
        ).alias("b"),
    )
    gap = F.col("y.pos") - F.col("x.pos")
    scand = (
        x.alias("x")
        .join(y.alias("y"), (F.col("x.b") == F.col("y.b")) & gap.between(1, w))
        .select(
            F.least(F.col("x.doc_id"), F.col("y.doc_id")).alias("doc_a"),
            F.greatest(F.col("x.doc_id"), F.col("y.doc_id")).alias("doc_b"),
        )
    )
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    lc = lcand.agg(F.count(F.lit(1)).cast("long").alias("lsh_cand"))
    lh = truth.join(lcand, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("lsh_hits")
    )
    sc = scand.agg(F.count(F.lit(1)).cast("long").alias("snm_cand"))
    sh = truth.join(scand, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("snm_hits")
    )
    return (
        nt.crossJoin(F.broadcast(lc))
        .crossJoin(F.broadcast(lh))
        .crossJoin(F.broadcast(sc))
        .crossJoin(F.broadcast(sh))
        .select(
            "n_truth",
            "lsh_cand",
            "lsh_hits",
            stable_round(F.col("lsh_hits") * 1.0 / F.col("n_truth"), 6).alias(
                "lsh_recall"
            ),
            "snm_cand",
            "snm_hits",
            stable_round(F.col("snm_hits") * 1.0 / F.col("n_truth"), 6).alias(
                "snm_recall"
            ),
        )
    )

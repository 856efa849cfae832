"""Corpus-level token analytics over ``documents`` (extension surface).

The n-gram/TF-IDF shapes every training-data pipeline runs: global token
frequencies, document frequency, TF-IDF scoring — all exploded-row
groupBy/join plans (one shuffle per aggregation level, no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_etl_spark.plans.power_iteration import PAGERANK_ROUNDS, pagerank_oracle_sql
from healthcare_etl_spark.plans.registry import register
from healthcare_etl_spark.sources import load_table, local_frame, spread


@register(
    "q_token_topk",
    oracle="""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
SELECT w AS token, count(*) AS freq
FROM tok GROUP BY w
ORDER BY freq DESC, token ASC
LIMIT 20
""",
    description="Global token frequency top-20 (explode -> groupBy -> fused top-k)",
    tags=("text", "extension"),
)
def q_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(20)
    )


@register(
    "q_bigram_topk",
    oracle="""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bg AS (
    SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
    FROM tok WHERE len(t) >= 2
)
SELECT bigram, count(*) AS freq
FROM bg GROUP BY bigram
ORDER BY freq DESC, bigram ASC
LIMIT 20
""",
    description="Corpus bigram frequency top-20 (window-lead n-gram generation)",
    tags=("text", "extension"),
)
def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    # Narrow zip-shifted-slice bigrams (the dedup shingle idiom) instead
    # of posexplode + a per-doc lead window — no ordering shuffle.
    base = docs.select(toks.alias("t"), F.size(toks).alias("n_tok")).filter(
        F.col("n_tok") >= 2
    )
    zipped = F.arrays_zip(
        F.col("t").alias("w"),
        F.slice("t", 2, F.greatest(F.col("n_tok") - 1, F.lit(0))).alias("w1"),
    )
    bigrams = (
        base.select(F.explode(zipped).alias("z"))
        .filter(F.col("z.w1").isNotNull())
        .select(F.concat_ws(" ", "z.w", "z.w1").alias("bigram"))
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("bigram"))
        .limit(20)
    )


@register(
    "q_tfidf_topterms",
    oracle="""
WITH tok AS (
    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
tf AS (
    SELECT doc_id, w, count(*) AS n FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ) GROUP BY doc_id, w
),
df AS (SELECT w, count(*) AS n_docs FROM tok GROUP BY w),
n AS (SELECT count(*) AS total_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.w AS term,
           (round((tf.n * ln(total_docs / n_docs)) * 1000000.0) / 1000000.0) AS tfidf
    FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
)
SELECT doc_id, term, tfidf FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rn
    FROM scored
) WHERE rn <= 3 AND doc_id < 50
""",
    description=(
        "TF-IDF top-3 terms per document (doc_id < 50): term frequency x inverse "
        "document frequency; df table broadcast into the scoring join"
    ),
    tags=("text", "extension"),
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    # total_docs as a broadcast 1-row aggregate cross-joined into the
    # scoring plan — the whole query stays lazy (zero jobs at build
    # time) instead of paying a driver-side count() per invocation.
    total = docs.agg(F.count(F.lit(1)).cast("double").alias("total_docs"))
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("n"))
    df_tbl = (
        words.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(F.broadcast(total))
    )
    scored = tf.join(F.broadcast(df_tbl), "term").select(
        "doc_id",
        "term",
        (
            F.round(
                (F.col("n") * F.log(F.col("total_docs") / F.col("n_docs"))) * 1e6
            )
            / 1e6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter((F.col("rn") <= 3) & (F.col("doc_id") < 50))
        .select("doc_id", "term", "tfidf")
    )


# Fixed query-term set for the BM25 ranking query. A real search surface
# parameterizes these; fixing them keeps the query oracle-checkable.
_BM25_TERMS = ("join", "hash", "filter")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "q_bm25_search",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
stats AS (
    SELECT count(*) AS n_docs, avg(len(string_split(text, ' '))) AS avgdl
    FROM documents
),
dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
tf AS (
    SELECT doc_id, w, count(*) AS tf FROM tok
    WHERE w IN ('join', 'hash', 'filter')
    GROUP BY doc_id, w
),
dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
scored AS (
    SELECT tf.doc_id, tf.w,
           (round((ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tf * 2.2)
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) * 1000000.0) / 1000000.0) AS s
    FROM tf
    JOIN dfreq ON tf.w = dfreq.w
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
),
agg AS (
    SELECT doc_id,
           (round((coalesce(max(CASE WHEN w = 'join'   THEN s END), 0.0)
                 + coalesce(max(CASE WHEN w = 'hash'   THEN s END), 0.0)
                 + coalesce(max(CASE WHEN w = 'filter' THEN s END), 0.0)) * 1000000.0) / 1000000.0) AS score
    FROM scored GROUP BY doc_id
)
SELECT doc_id, score, rank FROM (
    SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
    FROM agg
) WHERE rank <= 20
""",
    description=(
        "BM25 document ranking (k1=1.2, b=0.75, Lucene idf) for a fixed "
        "3-term query: tf per (doc, term), df broadcast into the scoring "
        "join, corpus stats (N, avgdl) as a lazy 1-row broadcast. Per-doc "
        "score sums the per-term scores in FIXED term order via conditional "
        "aggregation — no engine-dependent float summation order — so the "
        "ranking is value-hash-checkable. Global top-20 rides the "
        "TakeOrderedAndProject rank-limit path."
    ),
    tags=("text", "extension"),
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from healthcare_etl_spark.functions.rounding import stable_round

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(toks)).alias("avgdl"),
    )
    dl = docs.select("doc_id", F.size(toks).alias("dl"))
    tf = (
        docs.select("doc_id", F.explode(toks).alias("w"))
        .filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
    norm = F.col("tf") + F.lit(_BM25_K1) * (
        F.lit(1.0) - F.lit(_BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "w",
            stable_round(idf * (F.col("tf") * F.lit(_BM25_K1 + 1.0)) / norm, 6).alias("s"),
        )
    )
    term_sum = None
    for t in _BM25_TERMS:
        part = F.coalesce(F.max(F.when(F.col("w") == t, F.col("s"))), F.lit(0.0))
        term_sum = part if term_sum is None else term_sum + part
    agg = scored.groupBy("doc_id").agg(stable_round(term_sum, 6).alias("score"))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 20)
        .select("doc_id", "score", "rank")
    )


# Count-min sketch geometry for q_cms_counts: 4 hash rows x 1024
# buckets. Salted md5 bucket hashes — deterministic, so the whole
# sketch (and its estimates) is oracle-checkable, unlike an opaque
# binary sketch blob.
_CMS_DEPTH = 4
_CMS_WIDTH = 1024
_CMS_PROBES = ("join", "hash", "filter", "scan", "zzz_absent_token")


def _cms_bucket_sql(i: int, x: str) -> str:
    return (
        f"(('0x' || substring(md5('cms{i}:' || {x}), 1, 8))::BIGINT % {_CMS_WIDTH})"
    )


@register(
    "q_cms_counts",
    oracle=f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
rows_ AS (
    SELECT i, bucket, count(*) AS c FROM (
        SELECT unnest(range({_CMS_DEPTH})) AS i, w FROM tok
    ) t, LATERAL (SELECT CASE
            WHEN i = 0 THEN {_cms_bucket_sql(0, "w")}
            WHEN i = 1 THEN {_cms_bucket_sql(1, "w")}
            WHEN i = 2 THEN {_cms_bucket_sql(2, "w")}
            ELSE {_cms_bucket_sql(3, "w")} END AS bucket)
    GROUP BY i, bucket
),
probes AS (SELECT unnest(['join', 'hash', 'filter', 'scan', 'zzz_absent_token']) AS token),
probe_cells AS (
    SELECT token, i, CASE
        WHEN i = 0 THEN {_cms_bucket_sql(0, "token")}
        WHEN i = 1 THEN {_cms_bucket_sql(1, "token")}
        WHEN i = 2 THEN {_cms_bucket_sql(2, "token")}
        ELSE {_cms_bucket_sql(3, "token")} END AS bucket
    FROM probes CROSS JOIN (SELECT unnest(range({_CMS_DEPTH})) AS i)
)
SELECT token, min(coalesce(c, 0)) AS est_count
FROM probe_cells LEFT JOIN rows_ USING (i, bucket)
GROUP BY token
""",
    description=(
        "Count-min sketch as a first-class DataFrame: 4 salted-hash rows x "
        "1024 buckets built in ONE partial-aggregated groupBy over the token "
        "stream (the sketch table is mergeable — counts add across batches/"
        "partitions, the same union-merge contract as the HLL rollup), then "
        "point estimates = min over rows for a fixed probe set. Deterministic "
        "md5 bucket hashes make the whole sketch oracle-checkable; accuracy "
        "vs exact counts is unit-tested (CMS never underestimates)."
    ),
    tags=("text", "extension", "sketch", "parity"),
)
def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("w"))

    # Raw 32-bit md5 prefix mod width — NOT md5_hash31 (whose extra %P
    # layer would shift buckets relative to the oracle's arithmetic).
    def bucket(i: int, col):
        return (
            F.conv(F.substring(F.md5(F.concat(F.lit(f"cms{i}:"), col)), 1, 8), 16, 10)
            .cast("long")
            % _CMS_WIDTH
        )

    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), bucket(i, F.col("w")).alias("bucket"))
                    for i in range(_CMS_DEPTH)
                ]
            )
        ).alias("cell")
    ).select("cell.i", "cell.bucket")
    sketch = cells.groupBy("i", "bucket").agg(F.count(F.lit(1)).alias("c"))
    probe_rows = [(t, i) for t in _CMS_PROBES for i in range(_CMS_DEPTH)]
    probes = local_frame(spark, probe_rows, "token string, i long").select(
        "token",
        "i",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("cms"), F.col("i").cast("string"), F.lit(":"), F.col("token")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _CMS_WIDTH
        ).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(sketch), ["i", "bucket"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("est_count"))
    )
    return est


@register(
    "q_vocab_coverage",
    oracle="""
WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
vocab AS (
    SELECT w FROM (
        SELECT w, count(*) AS freq FROM tok GROUP BY w
        ORDER BY freq DESC, w ASC LIMIT 1000
    )
)
SELECT t.source,
       CAST(count(*) AS BIGINT)                          AS n_tokens,
       CAST(count(v.w) AS BIGINT)                        AS n_covered,
       (round((count(v.w) * 1.0 / count(*)) * 1000000.0) / 1000000.0)
                                                         AS coverage,
       CAST(count(DISTINCT CASE WHEN v.w IS NULL THEN t.w END) AS BIGINT)
                                                         AS n_oov_types
FROM tok t LEFT JOIN vocab v ON t.w = v.w
GROUP BY t.source
""",
    description=(
        "Tokenizer vocabulary coverage: build the top-1000-token vocabulary "
        "from global frequencies (deterministic freq-desc/token-asc cut), "
        "then per source measure occurrence coverage and distinct OOV types "
        "— the metric that decides vocab size and flags sources a tokenizer "
        "will shred into bytes. Vocab is a 1000-row broadcast; the corpus "
        "token stream is scanned once per aggregation level, never "
        "collected. Integer counts, hash-exact oracle."
    ),
    tags=("text", "extension"),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("w"))
        .limit(1000)
        .select(F.col("w").alias("vw"))
    )
    joined = tok.join(F.broadcast(vocab), tok.w == F.col("vw"), "left")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count("vw").alias("n_covered"),
        stable_round(F.count("vw") / F.count(F.lit(1)), 6).alias("coverage"),
        F.count_distinct(F.when(F.col("vw").isNull(), F.col("w"))).alias("n_oov_types"),
    )


def _bm25_top20_ctes() -> str:
    """The q_bm25_search pipeline as a CTE chain (no leading WITH),
    ending in ``txt(doc_id, rt)`` — the text-side rank list RRF fuses."""
    return """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
stats AS (
    SELECT count(*) AS n_docs, avg(len(string_split(text, ' '))) AS avgdl
    FROM documents
),
dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
tf AS (
    SELECT doc_id, w, count(*) AS tf FROM tok
    WHERE w IN ('join', 'hash', 'filter')
    GROUP BY doc_id, w
),
dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
bscored AS (
    SELECT tf.doc_id, tf.w,
           (round((ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tf * 2.2)
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) * 1000000.0) / 1000000.0) AS s
    FROM tf
    JOIN dfreq ON tf.w = dfreq.w
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
),
bagg AS (
    SELECT doc_id,
           (round((coalesce(max(CASE WHEN w = 'join'   THEN s END), 0.0)
                 + coalesce(max(CASE WHEN w = 'hash'   THEN s END), 0.0)
                 + coalesce(max(CASE WHEN w = 'filter' THEN s END), 0.0)) * 1000000.0) / 1000000.0) AS score
    FROM bscored GROUP BY doc_id
),
txt AS (
    SELECT doc_id, rt FROM (
        SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rt
        FROM bagg
    ) WHERE rt <= 20
)"""


@register(
    "q_hybrid_search_rrf",
    oracle=None,  # set below — needs the cosine macro from queries_similarity
    description=(
        "Hybrid search via Reciprocal Rank Fusion (Cormack et al. 2009): "
        "the BM25 top-20 for the fixed 3-term text query fused with the "
        "embedding-cosine top-20 for the query vector (doc 0's "
        "embedding, doc_id==vec_id in the fixtures), score = "
        "sum 1/(60+rank) over the lists a doc appears in, final top-10. "
        "The production retrieval stack in one lazy plan: both rank "
        "lists are top-k-truncated BEFORE the fusion join, so the full "
        "outer join runs over 2x20 rows regardless of corpus size — "
        "rank-limit pushdown (WindowGroupLimit) keeps each side's "
        "shuffle bounded, and fusion itself is broadcast-scale."
    ),
    tags=("text", "similarity", "extension"),
)
def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.operators.similarity import cosine_topk

    text = q_bm25_search(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("rt")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    vec = (
        cosine_topk(
            emb.filter(F.col("vec_id") == 0),
            emb.filter(F.col("vec_id") > 0),
            k=20,
        )
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("rv"))
    )
    fused = (
        text.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            stable_round(
                F.coalesce(F.lit(1.0) / (F.lit(60.0) + F.col("rt")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(60.0) + F.col("rv")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    w = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("doc_id", "rrf", "rank")
    )


def _set_hybrid_oracle() -> None:
    # import-time hook: read the raw REGISTRY (q_hybrid_search_rrf is
    # registered above in this module) — get_registry() validates the
    # full driver window, which other modules haven't populated yet
    from healthcare_etl_spark.plans.queries_similarity import _COS
    from healthcare_etl_spark.plans.registry import REGISTRY

    cos = _COS.format(a="qv", b="cv")
    REGISTRY["q_hybrid_search_rrf"].oracle = f"""
WITH {_bm25_top20_ctes()},
vq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
vc AS (SELECT vec_id AS doc_id, embedding AS cv FROM embeddings WHERE vec_id > 0),
vscored AS (
    SELECT doc_id, (round({cos} * 1000000.0) / 1000000.0) AS cosine
    FROM vc CROSS JOIN vq
),
vtop AS (
    SELECT doc_id, rv FROM (
        SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS rv
        FROM vscored
    ) WHERE rv <= 20
),
fused AS (
    SELECT coalesce(t.doc_id, v.doc_id) AS doc_id,
           (round((coalesce(1.0 / (60.0 + rt), 0.0)
                 + coalesce(1.0 / (60.0 + rv), 0.0)) * 1000000.0) / 1000000.0) AS rrf
    FROM txt t FULL OUTER JOIN vtop v ON t.doc_id = v.doc_id
)
SELECT doc_id, rrf, rank FROM (
    SELECT doc_id, rrf,
           CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rank
    FROM fused
) WHERE rank <= 10
"""


_set_hybrid_oracle()


@register(
    "q_source_kl_divergence",
    oracle="""
WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
counts AS (
    SELECT source, w, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1, 2
),
vocab AS (SELECT DISTINCT w FROM counts),
vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
totals AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot FROM counts GROUP BY source),
grid AS (
    SELECT t.source, vb.w, coalesce(c.n, 0) AS n, t.tot, vs.v
    FROM totals t
    CROSS JOIN vocab vb
    CROSS JOIN vsize vs
    LEFT JOIN counts c ON c.source = t.source AND c.w = vb.w
),
probs AS (
    SELECT source, w, (n + 1.0) / (tot + v) AS p FROM grid
)
SELECT a.source AS source_a, b.source AS source_b,
       (round(sum(a.p * ln(a.p / b.p)) * 1000000.0) / 1000000.0) AS kl_ab
FROM probs a JOIN probs b ON a.w = b.w AND a.source <> b.source
GROUP BY 1, 2
""",
    description=(
        "Pairwise KL divergence between source unigram distributions "
        "(Laplace-smoothed over the shared vocabulary) — the "
        "information-theoretic mixture diagnostic that complements "
        "q_source_overlap's set view and q_dsir_weights' per-doc "
        "scoring: KL(A||B) is asymmetric, so it distinguishes 'A is a "
        "subset-style dialect of B' from the reverse. Everything "
        "reduces on (source, token) counts: the densified grid is "
        "vocab x sources (smoothing needs explicit zeros), the pairwise "
        "join keys on the token, and the folds are fixed-expression "
        "doubles over exact integer counts."
    ),
    tags=("text", "extension", "corpus"),
)
def q_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    counts = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("n"))
    vocab = counts.select("w").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    totals = counts.groupBy("source").agg(F.sum("n").alias("tot"))
    grid = (
        # Explicit pin: totals is provably #sources rows, but Catalyst
        # cannot statically size aggregate outputs, and at the x100
        # corpus the unhinted cross join flips BroadcastNestedLoop ->
        # CartesianProduct (same planner class as q_psi_drift /
        # q_js_divergence; caught by the r8 fleet sweep).
        F.broadcast(totals).crossJoin(vocab)
        .crossJoin(F.broadcast(vsize))
        .join(counts, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.coalesce("n", F.lit(0)).alias("n"),
            "tot",
            "v",
        )
    )
    probs = grid.select(
        "source", "w", ((F.col("n") + F.lit(1.0)) / (F.col("tot") + F.col("v"))).alias("p")
    )
    a = probs.select(F.col("source").alias("source_a"), "w", F.col("p").alias("pa"))
    b = probs.select(F.col("source").alias("source_b"), F.col("w").alias("w_b"), F.col("p").alias("pb"))
    return (
        a.join(b, (a["w"] == b["w_b"]) & (a["source_a"] != b["source_b"]))
        .groupBy("source_a", "source_b")
        .agg(stable_round(F.sum(F.col("pa") * F.log(F.col("pa") / F.col("pb"))), 6).alias("kl_ab"))
    )


def _bpe_oracle(n_merges: int = 4, vocab_size: int = 200) -> str:
    """Unrolled-CTE mirror of operators.bpe.bpe_merges: per round, the
    adjacent-pair count table, the argmax winner, and the greedy
    left-to-right merge fold (DuckDB ``list_reduce`` with a
    ''-sentinel-seeded accumulator — identical non-overlapping-merge
    semantics to the driver-side merge of ``bpe_merges`` and to the
    Spark ``aggregate`` fold of ``bpe_token_counts``)."""
    fold = (
        "list_reduce("
        "list_prepend([''], list_transform(v.syms, x -> [x])), "
        "(acc, x) -> CASE WHEN acc[-1] = w.l AND x[1] = w.r "
        "THEN list_append(acc[1:-2], w.l || w.r) "
        "ELSE list_append(acc, x[1]) END"
        ")[2:]"
    )
    parts = [
        f"""vocab0 AS (
    SELECT word, cnt,
           list_transform(range(1, length(word) + 1),
                          i -> substring(word, CAST(i AS INT), 1)) AS syms
    FROM (
        SELECT word, count(*) AS cnt FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents
        ) WHERE length(word) > 0
        GROUP BY word ORDER BY cnt DESC, word ASC LIMIT {vocab_size}
    )
)"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f"""exp{r} AS (SELECT cnt, syms, unnest(range(1, len(syms))) AS k FROM vocab{r - 1}),
pairs{r} AS (
    SELECT syms[CAST(k AS INT)] AS l, syms[CAST(k AS INT) + 1] AS r,
           CAST(sum(cnt) AS BIGINT) AS pair_count
    FROM exp{r} GROUP BY 1, 2
),
winner{r} AS (
    SELECT l, r, pair_count FROM pairs{r}
    ORDER BY pair_count DESC, l ASC, r ASC LIMIT 1
)"""
        )
        if r < n_merges:
            parts.append(
                f"""vocab{r} AS (
    SELECT v.word, v.cnt, {fold} AS syms
    FROM vocab{r - 1} v CROSS JOIN winner{r} w
)"""
            )
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INT) AS round, l AS left_sym, r AS right_sym, "
        f"l || r AS merged, pair_count FROM winner{r}"
        for r in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + selects


@register(
    "q_bpe_merges",
    oracle=_bpe_oracle(),
    description=(
        "BPE tokenizer training (Sennrich 2016), first 4 merges: one Spark "
        "corpus scan builds the weighted word vocabulary (top 200 words, split "
        "into characters by Spark) and collects it; the rounds then run on "
        "the driver over those at most 200 rows (never the corpus): count "
        "adjacent symbol pairs, take the deterministic argmax, apply the "
        "greedy non-overlapping merge. 2 Spark jobs whatever the merge count. "
        "Every merge decision hash-matches the unrolled-CTE oracle."
    ),
    tags=("corpus", "extension", "iterative"),
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.bpe import bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merges(docs, n_merges=4, vocab_size=200)


def _bpe_encode_oracle(n_merges: int = 4, vocab_size: int = 200) -> str:
    """Mirror of the learned-merge APPLY path: the training CTEs from
    ``_bpe_oracle`` plus a per-(doc, word) sequential fold of every
    winner in training order, aggregated to per-document token counts."""
    train = _bpe_oracle(n_merges, vocab_size)
    ctes = train[len("WITH ") : train.index("\nSELECT CAST(1")]
    fold = (
        "list_reduce("
        "list_prepend([''], list_transform(v.syms, x -> [x])), "
        "(acc, x) -> CASE WHEN acc[-1] = w.l AND x[1] = w.r "
        "THEN list_append(acc[1:-2], w.l || w.r) "
        "ELSE list_append(acc, x[1]) END"
        ")[2:]"
    )
    parts = [
        ctes,
        """wtok AS (
    SELECT doc_id, word FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ) WHERE length(word) > 0
),
enc0 AS (
    SELECT doc_id,
           list_transform(range(1, length(word) + 1),
                          i -> substring(word, CAST(i AS INT), 1)) AS syms
    FROM wtok
)""",
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f"""enc{r} AS (
    SELECT v.doc_id, {fold} AS syms
    FROM enc{r - 1} v CROSS JOIN winner{r} w
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(syms)) AS BIGINT) AS n_tokens
FROM enc{n_merges} GROUP BY doc_id"""
    )


@register(
    "q_bpe_token_counts",
    oracle=_bpe_encode_oracle(),
    description=(
        "Apply the learned BPE merge table to the corpus: per document, "
        "words split to characters and every merge folded in training order "
        "(the 4-row table is driver-collected and inlined as literals — the "
        "corpus streams through ONE nested codegen'd expression, no join). "
        "Reports words vs post-merge tokens per document — the compression "
        "the tokenizer buys, hash-checked end to end including training."
    ),
    tags=("corpus", "extension"),
)
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.bpe import bpe_merges, bpe_token_counts

    docs = load_table(spark, sf_dir, "documents")
    # The merge table is a LocalRelation of at most n_merges rows: sort it
    # on the driver (a Spark orderBy would plan a sampled range sort).
    rows = bpe_merges(docs, n_merges=4, vocab_size=200).collect()
    merges = sorted((r.asDict() for r in rows), key=lambda m: m["round"])
    return bpe_token_counts(docs, merges)


@register(
    "q_quantile_normalize",
    oracle="""
WITH ranked AS (
    SELECT doc_id, source, n_chars,
           CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
           CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns
    FROM documents
),
gtab AS (
    SELECT n_chars AS gval,
           CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS gi,
           CAST(count(*) OVER () AS BIGINT) AS ng
    FROM documents
),
mapped AS (
    SELECT doc_id, source, n_chars,
           CASE WHEN ns = 1 THEN 1 + (SELECT (max(ng) - 1) // 2 FROM gtab)
                ELSE 1 + ((rn - 1) * ((SELECT max(ng) FROM gtab) - 1)) // (ns - 1)
           END AS gi
    FROM ranked
)
SELECT m.doc_id, m.source, m.n_chars, g.gval AS norm_chars
FROM mapped m JOIN gtab g ON g.gi = m.gi
""",
    description=(
        "Quantile normalization of per-source document lengths onto the "
        "GLOBAL length distribution (batch-effect correction: after the "
        "map, every source has the same marginal distribution — the "
        "preprocessing step that stops per-source length quirks from "
        "leaking into mixture weights). Rank fraction -> global index "
        "entirely in INTEGER arithmetic (1 + (rn-1)*(Ng-1) DIV (ns-1)), "
        "so there is no float quantile boundary to disagree on; the "
        "lookup is a plain equi-join against the globally ranked table. "
        "The per-source rank windows are partitioned (distributed); the "
        "GLOBAL rank is a two-phase bucketed rank over 64-char length "
        "bands (bucketed_rank — within-band row_number + a band-count-"
        "sized offset prefix, broadcast back), so no single-partition "
        "sort of the corpus at any size."
    ),
    tags=("corpus", "extension", "parity"),
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from healthcare_etl_spark.operators.scale import bucketed_rank

    docs = load_table(spark, sf_dir, "documents")
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(W.partitionBy("source").orderBy("n_chars", "doc_id")).cast("long").alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("source")).cast("long").alias("ns"),
    )
    glob = bucketed_rank(
        docs.select(F.col("n_chars").alias("gval"), "doc_id"),
        buckets=[F.expr("gval div 64")],
        order_by=[F.asc("gval"), F.asc("doc_id")],
        out_col="gi",
    ).select("gval", "gi")
    ngdf = docs.agg(F.count(F.lit(1)).cast("long").alias("ng_tot"))
    mapped = ranked.crossJoin(F.broadcast(ngdf)).select(
        "doc_id",
        "source",
        "n_chars",
        F.when(
            F.col("ns") == 1,
            F.lit(1) + F.floor((F.col("ng_tot") - 1) / 2).cast("long"),
        )
        .otherwise(
            F.lit(1)
            + F.floor(((F.col("rn") - 1) * (F.col("ng_tot") - 1)) / (F.col("ns") - 1)).cast("long")
        )
        .alias("gi"),
    )
    return mapped.join(glob.select("gi", "gval"), "gi").select(
        "doc_id", "source", "n_chars", F.col("gval").alias("norm_chars")
    )


@register(
    "q_pmi_collocations",
    oracle="""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
uni AS (
    SELECT unnest(t) AS w FROM tok
),
ucnt AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM uni GROUP BY w),
utot AS (SELECT CAST(sum(n) AS BIGINT) AS n_uni FROM ucnt),
bg AS (
    SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
    FROM tok WHERE len(t) >= 2
),
bcnt AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n_bg FROM bg GROUP BY bigram),
btot AS (SELECT CAST(sum(n_bg) AS BIGINT) AS n_big FROM bcnt),
scored AS (
    SELECT b.bigram, b.n_bg,
           string_split(b.bigram, ' ')[1] AS w1,
           string_split(b.bigram, ' ')[2] AS w2
    FROM bcnt b WHERE b.n_bg >= 5
)
SELECT s.bigram, s.n_bg,
       (round(ln((s.n_bg * 1.0 / bt.n_big)
              / ((u1.n * 1.0 / ut.n_uni) * (u2.n * 1.0 / ut.n_uni)))
              * 1000000.0) / 1000000.0) AS pmi
FROM scored s
JOIN ucnt u1 ON u1.w = s.w1
JOIN ucnt u2 ON u2.w = s.w2
CROSS JOIN utot ut CROSS JOIN btot bt
ORDER BY pmi DESC, s.bigram ASC
LIMIT 50
""",
    description=(
        "PMI collocation mining: pointwise mutual information "
        "ln(p(w1,w2) / (p(w1) p(w2))) over adjacent token pairs with a "
        "min-count floor (5), top-50 — the classic phrase/collocation "
        "detector (Church & Hanks 1990) used to decide which bigrams "
        "deserve single-token treatment in a tokenizer vocabulary. Two "
        "token-keyed aggregates (unigram, bigram) + two broadcast "
        "dimension joins of the count tables back onto the surviving "
        "bigrams; the top-50 is a fused TakeOrderedAndProject."
    ),
    tags=("corpus", "extension", "text"),
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tok = docs.select(F.size(toks).alias("n_tok"), toks.alias("t"))
    uni = tok.select(F.explode("t").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    utot = ucnt.agg(F.sum("n").alias("n_uni"))
    bg = tok.filter(F.col("n_tok") >= 2).select(
        F.expr(
            "explode(transform(sequence(1, cast(n_tok - 1 as int)),"
            " i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1))))"
        ).alias("bigram")
    )
    bcnt = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n_bg"))
    btot = bcnt.agg(F.sum("n_bg").alias("n_big"))
    scored = bcnt.filter(F.col("n_bg") >= 5).select(
        "bigram",
        "n_bg",
        F.split("bigram", " ")[0].alias("w1"),
        F.split("bigram", " ")[1].alias("w2"),
    )
    u1 = ucnt.select(F.col("w").alias("w1"), F.col("n").alias("n1"))
    u2 = ucnt.select(F.col("w").alias("w2"), F.col("n").alias("n2"))
    joined = (
        scored.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
    )
    pmi = F.log(
        (F.col("n_bg") * F.lit(1.0) / F.col("n_big"))
        / (
            (F.col("n1") * F.lit(1.0) / F.col("n_uni"))
            * (F.col("n2") * F.lit(1.0) / F.col("n_uni"))
        )
    )
    return (
        joined.select("bigram", "n_bg", stable_round(pmi, 6).alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(50)
    )


@register(
    "q_mixture_epochs",
    oracle="""
WITH src AS (
    SELECT source,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
    FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS all_tokens FROM src),
plan AS (
    SELECT s.source, s.tokens,
           -- target share: uniform mixture over sources (the recipe input;
           -- a real run would join a weights table here)
           CAST(floor(1000000.0 / (SELECT count(*) FROM src)) AS BIGINT) AS weight_ppm
    FROM src s
)
SELECT p.source, p.tokens,
       p.weight_ppm,
       CAST(floor(5000000.0 * p.weight_ppm / 1000000.0) AS BIGINT) AS target_tokens,
       (round((5000000.0 * p.weight_ppm / 1000000.0 / p.tokens) * 1000000.0)
        / 1000000.0) AS epochs,
       (floor(5000000.0 * p.weight_ppm / 1000000.0) > 4 * p.tokens) AS over_replicated
FROM plan p
""",
    description=(
        "Mixture epoch planner: given a token budget (5M here — the "
        "recipe constant) and per-source mixture weights (uniform ppm "
        "weights standing in for the recipe table), how many epochs "
        "(repeat factor) of each source the budget implies, flagging "
        "sources that would repeat more than the 4-epoch rule of thumb "
        "(Muennighoff et al. 2023: repeated data decays in value past "
        "~4 epochs). The per-source token census is the only data-sized "
        "pass; the plan arithmetic rides the sources dimension."
    ),
    tags=("corpus", "extension", "ml-prep"),
)
def q_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("tokens")
    )
    n_src = src.agg(F.count(F.lit(1)).alias("k"))
    plan = src.crossJoin(F.broadcast(n_src)).select(
        "source",
        "tokens",
        F.floor(F.lit(1000000.0) / F.col("k")).cast("long").alias("weight_ppm"),
    )
    target = F.lit(5000000.0) * F.col("weight_ppm") / F.lit(1000000.0)
    return plan.select(
        "source",
        "tokens",
        "weight_ppm",
        F.floor(target).cast("long").alias("target_tokens"),
        stable_round(target / F.col("tokens"), 6).alias("epochs"),
        (F.floor(target) > 4 * F.col("tokens")).alias("over_replicated"),
    )


@register(
    "q_good_turing",
    oracle="""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
freq AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY w),
fof AS (
    SELECT f, CAST(count(*) AS BIGINT) AS n_f FROM freq GROUP BY f
),
m AS (
    SELECT CAST(sum(f * n_f) AS BIGINT) AS n_tokens,
           CAST(sum(n_f) AS BIGINT) AS vocab,
           CAST(coalesce(max(CASE WHEN f = 1 THEN n_f END), 0) AS BIGINT) AS f1,
           CAST(coalesce(max(CASE WHEN f = 2 THEN n_f END), 0) AS BIGINT) AS f2
    FROM fof
)
SELECT n_tokens, vocab, f1 AS hapax, f2 AS dis_legomena,
       (round((f1 * 1.0 / n_tokens) * 1000000.0) / 1000000.0) AS unseen_mass,
       (round((vocab + CASE WHEN f2 > 0 THEN f1 * 1.0 * f1 / (2.0 * f2)
                            ELSE f1 * 1.0 * (f1 - 1.0) / 2.0 END)
              * 1000000.0) / 1000000.0) AS chao1_vocab_estimate,
       (round((f1 * 1.0 / vocab) * 1000000.0) / 1000000.0) AS hapax_ratio
FROM m
""",
    description=(
        "Good-Turing unseen-probability mass and Chao1 vocabulary "
        "richness from the token frequency-of-frequencies: P(next "
        "token is NOVEL) = hapax/N, and Chao1 = V + f1^2/(2 f2) "
        "estimates the TRUE vocabulary including never-seen types — "
        "the lexical twins of q_capture_recapture's population "
        "estimate and the quantitative answer behind q_heaps_fit's "
        "'what does 10x more data buy' curve (high unseen mass = the "
        "corpus is still discovering its own vocabulary; near zero = "
        "saturated, more data adds tokens not types). Two hash "
        "aggregates (token counts, then the freq-of-freq rollup whose "
        "size is bounded by max frequency); every statistic is a "
        "single rounded expression of four exact BIGINTs."
    ),
    tags=("text", "extension", "corpus", "stats"),
)
def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    fof = freq.groupBy("f").agg(F.count(F.lit(1)).cast("long").alias("n_f"))
    m = fof.agg(
        F.sum(F.col("f") * F.col("n_f")).cast("long").alias("n_tokens"),
        F.sum("n_f").cast("long").alias("vocab"),
        F.coalesce(F.max(F.when(F.col("f") == 1, F.col("n_f"))), F.lit(0))
        .cast("long")
        .alias("f1"),
        F.coalesce(F.max(F.when(F.col("f") == 2, F.col("n_f"))), F.lit(0))
        .cast("long")
        .alias("f2"),
    )
    nt, v, f1, f2 = (F.col(c) for c in ["n_tokens", "vocab", "f1", "f2"])
    chao1 = v + F.when(f2 > 0, f1 * 1.0 * f1 / (2.0 * f2)).otherwise(
        f1 * 1.0 * (f1 - 1.0) / 2.0
    )
    return m.select(
        nt.alias("n_tokens"),
        v.alias("vocab"),
        f1.alias("hapax"),
        f2.alias("dis_legomena"),
        stable_round(f1 * 1.0 / nt, 6).alias("unseen_mass"),
        stable_round(chao1, 6).alias("chao1_vocab_estimate"),
        stable_round(f1 * 1.0 / v, 6).alias("hapax_ratio"),
    )


def _textrank_oracle() -> str:
    graph = """tok AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
adj AS (
    SELECT DISTINCT
           least(pair[1], pair[2]) AS a, greatest(pair[1], pair[2]) AS b
    FROM (
        SELECT unnest(list_transform(range(1, len(t)), i -> [t[i], t[i+1]])) AS pair
        FROM tok
    )
    WHERE pair[1] <> pair[2]
),
edges AS (
    SELECT a AS u, b AS v FROM adj UNION SELECT b AS u, a AS v FROM adj
),
deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
base AS (SELECT u AS node, d, n FROM deg, (SELECT count(*) AS n FROM deg) nn)"""
    ranks = pagerank_oracle_sql(graph, "1.0 / b.n", "0.15 / b.n")
    return (
        f"{ranks}\nSELECT node AS word, rank FROM r{PAGERANK_ROUNDS} "
        "ORDER BY rank DESC, word LIMIT 15"
    )


@register(
    "q_textrank_keywords",
    oracle=_textrank_oracle(),
    description=(
        "TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank "
        "(5 damped rounds, d=0.85) over the corpus-wide word-adjacency "
        "graph — two words are linked when they appear adjacent in any "
        "document (unweighted co-occurrence window of 2), and the "
        "stationary score ranks words by how centrally the corpus "
        "embeds them, the graph upgrade of raw q_token_topk counts "
        "and the word-level sibling of q_pmi_collocations. The "
        "data-sized work is ONE adjacent-pair extraction pass "
        "(posexplode + per-doc lead window) followed by a distinct; "
        "the graph itself is vocabulary-sized, so the 5 power rounds "
        "ride the same checkpointed metadata-scale machinery as "
        "q_pagerank with per-round 10dp stable rounding for "
        "bit-identical cross-engine iterates."
    ),
    tags=("text", "corpus", "extension", "iterative"),
)
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from healthcare_etl_spark.operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    # Adjacent-token pairs via the narrow zip-shifted-slice form — the
    # old posexplode + per-doc lead window shuffled the exploded corpus
    # before the first edge existed (guide §2.4).
    zipped = F.arrays_zip(
        t.alias("w"),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))).alias("w2"),
    )
    adj = (
        docs.select(F.explode(zipped).alias("z"))
        .filter(F.col("z.w2").isNotNull() & (F.col("z.w") != F.col("z.w2")))
        .select(
            F.least("z.w", "z.w2").alias("a"), F.greatest("z.w", "z.w2").alias("b")
        )
        .distinct()
    )
    ranked = pagerank(adj, src="a", dst="b")
    return (
        ranked.select(F.col("node").alias("word"), "rank")
        .orderBy(F.desc("rank"), F.asc("word"))
        .limit(15)
    )


@register(
    "q_ppmi_word_vectors",
    oracle="""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
cooc AS (
    SELECT pair[1] AS w, pair[2] AS c, CAST(count(*) AS BIGINT) AS n
    FROM (
        SELECT unnest(list_transform(range(1, len(t)), i -> [t[i], t[i+1]])) AS pair
        FROM tok
        UNION ALL
        SELECT unnest(list_transform(range(1, len(t)), i -> [t[i+1], t[i]])) AS pair
        FROM tok
    )
    GROUP BY 1, 2
),
wm AS (SELECT w, CAST(sum(n) AS BIGINT) AS nw FROM cooc GROUP BY w),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cooc),
ppmi AS (
    SELECT co.w, co.c,
           (round(greatest(ln((co.n * 1.0 * t.nn) / (a.nw * 1.0 * b.nw)), 0.0)
                  * 1000000.0) / 1000000.0) AS p
    FROM cooc co
    JOIN wm a ON a.w = co.w
    JOIN wm b ON b.w = co.c
    CROSS JOIN tot t
),
nz AS (SELECT * FROM ppmi WHERE p > 0),
norms AS (
    SELECT w, CAST(sum(CAST(round(p * p * 1000000000.0) AS BIGINT)) AS BIGINT) AS nq
    FROM nz GROUP BY w
),
dots AS (
    SELECT a.w AS w1, b.w AS w2,
           CAST(sum(CAST(round(a.p * b.p * 1000000000.0) AS BIGINT)) AS BIGINT) AS dq
    FROM nz a JOIN nz b ON a.c = b.c AND a.w < b.w
    GROUP BY 1, 2
)
SELECT d.w1, d.w2,
       (round((d.dq / (sqrt(n1.nq * 1.0) * sqrt(n2.nq * 1.0))) * 1000000.0)
        / 1000000.0) AS ppmi_cosine
FROM dots d
JOIN norms n1 ON n1.w = d.w1
JOIN norms n2 ON n2.w = d.w2
ORDER BY ppmi_cosine DESC, d.w1, d.w2
LIMIT 20
""",
    description=(
        "Distributional word vectors without training: each word's "
        "vector is its PPMI row over adjacent-word contexts "
        "(symmetric window 2), and the top-20 most-cosine-similar "
        "word pairs fall out of one sparse self-join on the shared "
        "context — count-based distributional semantics (Levy & "
        "Goldberg showed skip-gram factorizes exactly this matrix), "
        "the word-level complement to the document-level TF-IDF/"
        "embedding machinery and the similarity upgrade of "
        "q_pmi_collocations (which scores co-OCCURRENCE; this scores "
        "substitutability — words that share neighbors). PPMI values "
        "are 6dp-stable-rounded, dot/norm terms fold as "
        "1e-9-quantized BIGINTs (no float-sum order), and the "
        "context self-join is sparse (vocabulary-sized rows, never "
        "the corpus)."
    ),
    tags=("text", "corpus", "extension"),
)
def q_ppmi_word_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from healthcare_etl_spark.functions.rounding import stable_round

    docs = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    # Narrow zip-shifted-slice adjacency (no posexplode + lead window).
    zipped = F.arrays_zip(
        t.alias("w"),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))).alias("w2"),
    )
    adj = (
        docs.select(F.explode(zipped).alias("z"))
        .filter(F.col("z.w2").isNotNull())
        .select(F.col("z.w").alias("w"), F.col("z.w2").alias("w2"))
    )
    cooc = (
        adj.select(F.col("w"), F.col("w2").alias("c"))
        .unionAll(adj.select(F.col("w2").alias("w"), F.col("w").alias("c")))
        .groupBy("w", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wm = cooc.groupBy("w").agg(F.sum("n").cast("long").alias("nw"))
    tot = cooc.agg(F.sum("n").cast("long").alias("nn"))
    ppmi = (
        cooc.join(F.broadcast(wm.select(F.col("w"), F.col("nw").alias("nwa"))), "w")
        .join(
            F.broadcast(
                wm.select(F.col("w").alias("c"), F.col("nw").alias("nwb"))
            ),
            "c",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "w",
            "c",
            stable_round(
                F.greatest(
                    F.log(
                        (F.col("n") * 1.0 * F.col("nn"))
                        / (F.col("nwa") * 1.0 * F.col("nwb"))
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("p"),
        )
        .filter(F.col("p") > 0)
    )
    norms = ppmi.groupBy("w").agg(
        F.sum(F.round(F.col("p") * F.col("p") * 1000000000.0).cast("long"))
        .cast("long")
        .alias("nq")
    )
    a = ppmi.select(F.col("w").alias("w1"), "c", F.col("p").alias("pa"))
    b = ppmi.select(F.col("w").alias("w2"), "c", F.col("p").alias("pb"))
    dots = (
        a.join(b, ["c"])
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(
            F.sum(F.round(F.col("pa") * F.col("pb") * 1000000000.0).cast("long"))
            .cast("long")
            .alias("dq")
        )
    )
    n1 = norms.select(F.col("w").alias("w1"), F.col("nq").alias("nq1"))
    n2 = norms.select(F.col("w").alias("w2"), F.col("nq").alias("nq2"))
    return (
        dots.join(F.broadcast(n1), "w1")
        .join(F.broadcast(n2), "w2")
        .select(
            "w1",
            "w2",
            stable_round(
                F.col("dq")
                / (F.sqrt(F.col("nq1") * 1.0) * F.sqrt(F.col("nq2") * 1.0)),
                6,
            ).alias("ppmi_cosine"),
        )
        .orderBy(F.desc("ppmi_cosine"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


@register(
    "q_dataset_card",
    oracle="""
WITH d AS (
    SELECT source, lang, text,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
),
g AS (
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(count(DISTINCT text) AS BIGINT) AS n_distinct
    FROM d GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM g)
SELECT g.source, g.lang, g.n_docs, g.n_tokens,
       (round((g.n_tokens * 1.0 / g.n_docs) * 1000000.0) / 1000000.0)
           AS avg_tokens_per_doc,
       (round((g.n_chars * 1.0 / g.n_tokens) * 1000000.0) / 1000000.0)
           AS avg_chars_per_token,
       (round((g.n_tokens * 1.0 / tot.t) * 1000000.0) / 1000000.0)
           AS token_share,
       (round(((g.n_docs - g.n_distinct) * 1.0 / g.n_docs) * 1000000.0)
        / 1000000.0) AS exact_dup_rate
FROM g CROSS JOIN tot
ORDER BY g.source, g.lang
""",
    description=(
        "Dataset card: the per-(source, lang) summary table a "
        "training-data release ships — document and token counts, "
        "mixture share of the token budget, average document length, "
        "chars-per-token (the tokenizer-cost proxy), and the "
        "exact-duplicate rate — one query that reads as the 'data "
        "statement' for the corpus, stitching together what "
        "q_mixture_balance (shares), q_dedup_exact (dups) and "
        "q_text_stats (lengths) each report in isolation. One "
        "grouped pass; the distinct-text count is the only "
        "per-group distinct (hash-agg on (source, lang, text) — at "
        "100x swap to an HLL or a pre-computed content-hash column, "
        "both already in-repo)."
    ),
    tags=("corpus", "extension", "quality", "pipeline"),
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        "lang",
        "text",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    g = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("nc"),
        F.countDistinct("text").cast("long").alias("n_distinct"),
    )
    tot = g.agg(F.sum("n_tokens").alias("t"))
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            stable_round(F.col("n_tokens") * 1.0 / F.col("n_docs"), 6).alias(
                "avg_tokens_per_doc"
            ),
            stable_round(F.col("nc") * 1.0 / F.col("n_tokens"), 6).alias(
                "avg_chars_per_token"
            ),
            stable_round(F.col("n_tokens") * 1.0 / F.col("t"), 6).alias(
                "token_share"
            ),
            stable_round(
                (F.col("n_docs") - F.col("n_distinct")) * 1.0 / F.col("n_docs"), 6
            ).alias("exact_dup_rate"),
        )
        .orderBy("source", "lang")
    )


@register(
    "q_prf_expansion",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
stats AS (
    SELECT count(*) AS n_docs, avg(len(string_split(text, ' '))) AS avgdl
    FROM documents
),
dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
tf0 AS (
    SELECT doc_id, w, count(*) AS tf FROM tok
    WHERE w IN ('join', 'hash', 'filter') GROUP BY 1, 2
),
df0 AS (SELECT w, count(*) AS df FROM tf0 GROUP BY w),
sc0 AS (
    SELECT tf0.doc_id, tf0.w,
           (round((ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
                  * 1000000.0) / 1000000.0) AS s
    FROM tf0 JOIN df0 USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
),
agg0 AS (
    SELECT doc_id,
           (round((coalesce(max(CASE WHEN w = 'join'   THEN s END), 0.0)
                 + coalesce(max(CASE WHEN w = 'hash'   THEN s END), 0.0)
                 + coalesce(max(CASE WHEN w = 'filter' THEN s END), 0.0))
                  * 1000000.0) / 1000000.0) AS score0
    FROM sc0 GROUP BY doc_id
),
fb AS (
    SELECT doc_id, score0 FROM (
        SELECT *, row_number() OVER (ORDER BY score0 DESC, doc_id) AS rk
        FROM agg0
    ) WHERE rk <= 10
),
mass AS (
    SELECT fb.doc_id, CAST(round(score0 / dl * 1000000000.0) AS BIGINT) AS m
    FROM fb JOIN dl USING (doc_id)
),
ftf AS (
    SELECT tok.doc_id, w, count(*) AS tf
    FROM tok JOIN fb USING (doc_id)
    WHERE length(w) >= 3 AND w NOT IN ('join', 'hash', 'filter')
    GROUP BY 1, 2
),
tw AS (
    SELECT w, CAST(sum(m * tf) AS BIGINT) AS wt, count(*) AS nd
    FROM ftf JOIN mass USING (doc_id) GROUP BY w
),
exp5 AS (
    SELECT w, wt FROM (
        SELECT w, wt, row_number() OVER (ORDER BY wt DESC, w) AS erk
        FROM tw WHERE nd >= 2
    ) WHERE erk <= 5
),
wsum AS (SELECT CAST(sum(wt) AS BIGINT) AS tot FROM exp5),
etf AS (
    SELECT doc_id, w, count(*) AS tf FROM tok
    WHERE w IN (SELECT w FROM exp5) GROUP BY 1, 2
),
edf AS (SELECT w, count(*) AS df FROM etf GROUP BY w),
esc AS (
    SELECT etf.doc_id, etf.w,
           (round((ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
                  * 1000000.0) / 1000000.0) AS s
    FROM etf JOIN edf USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
),
eq AS (
    SELECT esc.doc_id,
           CAST(sum(CAST(round(s * (wt * 1.0 / tot) * 1000000.0) AS BIGINT))
                AS BIGINT) AS eqv
    FROM esc JOIN exp5 USING (w) CROSS JOIN wsum GROUP BY 1
),
final AS (
    SELECT coalesce(a.doc_id, e.doc_id) AS doc_id,
           (round((0.6 * coalesce(score0, 0.0)
                 + 0.4 * (coalesce(eqv, 0) / 1000000.0)) * 1000000.0)
            / 1000000.0) AS score
    FROM agg0 a FULL JOIN eq e ON a.doc_id = e.doc_id
)
SELECT doc_id, score, rank FROM (
    SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
              AS rank
    FROM final
) WHERE rank <= 15
""",
    description=(
        "RM3-style pseudo-relevance-feedback query expansion over the "
        "BM25 stack: score the fixed 3-term query, take the top-10 "
        "feedback docs, extract the 5 highest-mass expansion terms "
        "(relevance-model weight = sum over feedback docs of "
        "score_d * tf(w,d)/dl_d, held EXACTLY as integer nano-mass so "
        "no float summation order exists; stopword guard: len>=3, "
        ">=2 feedback docs, query terms excluded), then re-rank with "
        "score = 0.6*BM25_orig + 0.4*sum_e wnorm_e*BM25_e — the "
        "per-term contributions quantized to integer micro-units "
        "before the per-doc sum, so the interpolation is order-free "
        "too. Both interpolation weights are the same literals on "
        "both engines (never 1-lambda recomputed). Expansion-term "
        "selection windows ride the feedback-doc vocabulary "
        "(10-doc-bounded); the two data-scale rank windows take the "
        "WindowGroupLimit k-truncated path. The full-corpus scoring "
        "joins shuffle only the 5 expansion terms' postings."
    ),
    tags=("text", "extension", "retrieval"),
)
def q_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from healthcare_etl_spark.functions.rounding import stable_round

    docs = load_table(spark, sf_dir, "documents")
    toks_col = F.split("text", " ")
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(F.size(toks_col)).alias("avgdl")
    )
    dl = docs.select("doc_id", F.size(toks_col).alias("dl"))
    tok = docs.select("doc_id", F.explode(toks_col).alias("w"))

    def bm25_scores(tf):
        dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        )
        norm = F.col("tf") + F.lit(_BM25_K1) * (
            F.lit(1.0) - F.lit(_BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
        )
        return (
            tf.join(F.broadcast(dfreq), "w")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .select(
                "doc_id",
                "w",
                stable_round(
                    idf * (F.col("tf") * F.lit(_BM25_K1 + 1.0)) / norm, 6
                ).alias("s"),
            )
        )

    tf0 = (
        tok.filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    sc0 = bm25_scores(tf0)
    term_sum = None
    for t in _BM25_TERMS:
        part = F.coalesce(F.max(F.when(F.col("w") == t, F.col("s"))), F.lit(0.0))
        term_sum = part if term_sum is None else term_sum + part
    agg0 = sc0.groupBy("doc_id").agg(stable_round(term_sum, 6).alias("score0"))
    wfb = Window.orderBy(F.desc("score0"), F.asc("doc_id"))
    fb = (
        agg0.withColumn("rk", F.row_number().over(wfb))
        .filter(F.col("rk") <= 10)
        .select("doc_id", "score0")
    )
    mass = fb.join(dl, "doc_id").select(
        "doc_id",
        F.round(F.col("score0") / F.col("dl") * 1000000000.0).cast("long").alias("m"),
    )
    ftf = (
        tok.join(fb.select("doc_id"), "doc_id")
        .filter((F.length("w") >= 3) & (~F.col("w").isin(*_BM25_TERMS)))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tw = (
        ftf.join(mass, "doc_id")
        .groupBy("w")
        .agg(
            F.sum(F.col("m") * F.col("tf")).cast("long").alias("wt"),
            F.count(F.lit(1)).alias("nd"),
        )
    )
    wexp = Window.orderBy(F.desc("wt"), F.asc("w"))
    exp5 = (
        tw.filter(F.col("nd") >= 2)
        .withColumn("erk", F.row_number().over(wexp))
        .filter(F.col("erk") <= 5)
        .select("w", "wt")
    )
    wsum = exp5.agg(F.sum("wt").cast("long").alias("tot"))
    etf = (
        tok.join(F.broadcast(exp5.select("w")), "w")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    esc = bm25_scores(etf)
    equant = (
        esc.join(F.broadcast(exp5), "w")
        .crossJoin(F.broadcast(wsum))
        .select(
            "doc_id",
            F.round(F.col("s") * (F.col("wt") * 1.0 / F.col("tot")) * 1000000.0)
            .cast("long")
            .alias("sq"),
        )
    )
    esum = equant.groupBy("doc_id").agg(F.sum("sq").cast("long").alias("eqv"))
    final = agg0.join(esum, "doc_id", "full").select(
        "doc_id",
        stable_round(
            F.lit(0.6) * F.coalesce("score0", F.lit(0.0))
            + F.lit(0.4) * (F.coalesce("eqv", F.lit(0)).cast("double") / 1000000.0),
            6,
        ).alias("score"),
    )
    wr = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        final.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= 15)
        .select("doc_id", "score", "rank")
    )


def _maxcov_oracle_sql(rounds: int = 5) -> str:
    """Unrolled greedy max-coverage: round i counts each doc's still-
    uncovered shingles against the union of the first i-1 picks."""
    from healthcare_etl_spark.plans.queries_dedup import _MD5H, _shingles_sql

    parts = [
        _shingles_sql("documents").strip().rstrip(","),
        "inv AS MATERIALIZED (SELECT DISTINCT doc_id, "
        + _MD5H.format(x="shingle")
        + " AS hsh FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh))",
        "tt AS (SELECT CAST(count(DISTINCT hsh) AS BIGINT) AS t FROM inv)",
    ]
    picks = []
    for i in range(1, rounds + 1):
        if i == 1:
            gain_src = "SELECT doc_id, CAST(count(*) AS BIGINT) AS gain FROM inv GROUP BY doc_id"
        else:
            prior = ", ".join(f"(SELECT doc_id FROM p{j})" for j in range(1, i))
            parts.append(
                f"cov{i - 1} AS MATERIALIZED (SELECT DISTINCT hsh FROM inv "
                f"WHERE doc_id IN ({prior}))"
            )
            gain_src = (
                f"SELECT doc_id, CAST(count(*) AS BIGINT) AS gain FROM inv "
                f"WHERE hsh NOT IN (SELECT hsh FROM cov{i - 1}) GROUP BY doc_id"
            )
        prior_filter = ""
        if i > 1:
            prior_ids = ", ".join(f"(SELECT doc_id FROM p{j})" for j in range(1, i))
            prior_filter = f" WHERE doc_id NOT IN ({prior_ids})"
        parts.append(
            f"p{i} AS MATERIALIZED (SELECT doc_id, gain FROM ({gain_src}){prior_filter} "
            "ORDER BY gain DESC, doc_id LIMIT 1)"
        )
        covered_ids = ", ".join(f"(SELECT doc_id FROM p{j})" for j in range(1, i + 1))
        picks.append(
            f"SELECT CAST({i} AS BIGINT) AS k, doc_id, gain, "
            f"(SELECT CAST(count(DISTINCT hsh) AS BIGINT) FROM inv "
            f"WHERE doc_id IN ({covered_ids})) AS covered, "
            f"(SELECT t FROM tt) AS total FROM p{i}"
        )
    body = "WITH " + ",\n".join(parts) + "\n"
    sel = "\nUNION ALL ".join(picks)
    return (
        body
        + f"SELECT k, doc_id, gain, covered, "
        f"(round((covered * 1.0 / total) * 1000000.0) / 1000000.0) AS coverage_frac "
        f"FROM ({sel})\nORDER BY k"
    )


@register(
    "q_submodular_coverage",
    oracle=_maxcov_oracle_sql(),
    description=(
        "Greedy submodular max-coverage selection (5 rounds, 1-1/e "
        "guarantee): each round picks the document adding the most "
        "still-uncovered 3-shingle hashes — the curation primitive for "
        "'cover the most knowledge in a fixed token budget' data "
        "selection and eval-set construction. Per round: one anti-join "
        "of the inverted index against the covered-shingle set (which "
        "only ever holds the picks' shingles — NOT corpus-scale) + one "
        "count per doc + a TakeOrdered(1); ties break to min doc_id on "
        "both engines. The distributed shape is exactly lazy-greedy "
        "coverage at any corpus size; oracle = 5 unrolled rounds over "
        "a MATERIALIZED index."
    ),
    tags=("text", "extension", "curation"),
)
def q_submodular_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.operators.dedup import hashed_shingle_rows

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    inv = hashed_shingle_rows(docs).localCheckpoint(eager=True)
    total = inv.select("hsh").distinct().count()
    covered = None
    picked: list[tuple[int, int, int, int]] = []
    picked_ids: list[int] = []
    for k in range(1, 6):
        remaining = inv if covered is None else inv.join(covered, "hsh", "left_anti")
        gains = remaining.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("gain")
        )
        if picked_ids:
            gains = gains.filter(~F.col("doc_id").isin(picked_ids))
        row = gains.orderBy(F.desc("gain"), F.asc("doc_id")).limit(1).collect()[0]
        picked_ids.append(int(row["doc_id"]))
        cov_now = (
            inv.filter(F.col("doc_id").isin(picked_ids)).select("hsh").distinct()
        ).localCheckpoint(eager=True)
        covered = cov_now
        picked.append((k, int(row["doc_id"]), int(row["gain"]), cov_now.count()))
    out = local_frame(
        spark,
        [(k, d, g, c, total) for k, d, g, c in picked],
        "k long, doc_id long, gain long, covered long, total long",
    )
    return out.select(
        "k",
        "doc_id",
        "gain",
        "covered",
        stable_round(F.col("covered") * 1.0 / F.col("total"), 6).alias(
            "coverage_frac"
        ),
    ).orderBy("k")


def _unigram_oracle_sql(max_len: int = 12, max_piece: int = 4, top_v: int = 200) -> str:
    """Unrolled Viterbi segmentation DP: stage i holds, per word, the
    min-cost encoding lpad(cost,12,'0') || piece-path for prefixes of
    length i — string MIN gives (cost, then path) argmin on both
    engines."""
    stages = []
    for i in range(1, max_len + 1):
        branches = []
        for L in range(1, min(max_piece, i) + 1):
            j = i - L
            branches.append(
                f"""    SELECT s.w, s.wc, s.lw,
           lpad(CAST(CAST(substr(s.enc, 1, 12) AS BIGINT) + v.sq AS VARCHAR),
                12, '0') || substr(s.enc, 13) || v.piece || ' ' AS enc
    FROM s{j} s JOIN vs v ON v.piece = substr(s.w, {j + 1}, {L})
    WHERE s.lw >= {i}"""
            )
        stages.append(
            f"s{i} AS MATERIALIZED (\n    SELECT w, wc, lw, min(enc) AS enc FROM (\n"
            + "\n    UNION ALL\n".join(branches)
            + f"\n    ) GROUP BY w, wc, lw\n)"
        )
    finals = "\n    UNION ALL ".join(
        f"SELECT w, wc, enc FROM s{i} WHERE lw = {i}" for i in range(1, max_len + 1)
    )
    return f"""
WITH kept AS MATERIALIZED (
    SELECT w, CAST(count(*) AS BIGINT) AS wc FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE length(w) BETWEEN 1 AND {max_len}
    GROUP BY w
),
pieces AS MATERIALIZED (
    SELECT substr(w, CAST(p AS INTEGER), CAST(l AS INTEGER)) AS piece,
           CAST(sum(wc) AS BIGINT) AS wcnt
    FROM kept
    CROSS JOIN (SELECT unnest(range(1, {max_len + 1})) AS p)
    CROSS JOIN (SELECT unnest(range(1, {max_piece + 1})) AS l)
    WHERE p + l - 1 <= length(w)
    GROUP BY 1
),
cand AS (
    SELECT piece FROM (
        SELECT piece, row_number() OVER (ORDER BY wcnt DESC, piece) AS rk
        FROM pieces
    ) WHERE rk <= {top_v}
),
vocab AS (
    SELECT DISTINCT piece FROM (
        SELECT piece FROM cand
        UNION ALL SELECT piece FROM pieces WHERE length(piece) = 1
    )
),
tot AS (
    SELECT CAST(sum(wcnt) AS BIGINT) AS t
    FROM pieces JOIN vocab USING (piece)
),
vs AS MATERIALIZED (
    SELECT p.piece,
           CAST(round(-ln(p.wcnt * 1.0 / (SELECT t FROM tot)) * 1000000.0)
                AS BIGINT) AS sq
    FROM pieces p JOIN vocab USING (piece)
),
s0 AS (
    SELECT w, wc, CAST(length(w) AS BIGINT) AS lw,
           '000000000000' AS enc
    FROM kept
),
{",".join(stages)},
final AS (
    {finals}
),
toks AS (
    SELECT unnest(string_split(trim(substr(enc, 13)), ' ')) AS piece, wc
    FROM final
)
SELECT t.piece, CAST(sum(t.wc) AS BIGINT) AS seg_count, max(v.sq) AS piece_cost_micro
FROM toks t JOIN vs v ON v.piece = t.piece
GROUP BY t.piece
ORDER BY seg_count DESC, t.piece
LIMIT 30
"""


@register(
    "q_unigram_tokenizer_estep",
    oracle=_unigram_oracle_sql(),
    description=(
        "Unigram-LM (SentencePiece-style) tokenizer E-step: seed a "
        "200-piece vocabulary (top substrings of length<=4 by "
        "frequency-weighted count, all single chars kept for "
        "coverage), score pieces by -ln(count/total), then Viterbi-"
        "segment every distinct corpus word (length<=12) into its "
        "min-cost piece sequence and emit the segmented piece counts "
        "— exactly the statistics the unigram EM M-step renormalizes. "
        "Completes the tokenizer-training family alongside q_bpe_* "
        "(merge-based vs likelihood-based). The DP carries (cost, "
        "argmin path) as ONE sortable string lpad(cost,12,'0')||path, "
        "so per-(word,prefix) argmin is a plain MIN on both engines; "
        "per-word work is independent (the whole E-step is "
        "embarrassingly parallel at corpus scale), so the Spark side "
        "runs the 12-position Viterbi recurrence INSIDE each row as a "
        "higher-order ``aggregate`` over the positions with the "
        "~200-piece cost table attached as one broadcast map — the "
        "oracle mirrors the identical recurrence as 12 unrolled "
        "per-prefix MIN stages. Ties break to the lexicographically "
        "smaller segmentation identically."
    ),
    tags=("text", "extension", "tokenizer"),
)
def q_unigram_tokenizer_estep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    max_len, max_piece, top_v = 12, 4, 200
    docs = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("w")
    )
    kept = (
        docs.filter(F.length("w").between(1, max_len))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    ).localCheckpoint(eager=True)
    grid_p = spark.range(1, max_len + 1).select(F.col("id").alias("p"))
    grid_l = spark.range(1, max_piece + 1).select(F.col("id").alias("l"))
    pieces = (
        kept.crossJoin(F.broadcast(grid_p))
        .crossJoin(F.broadcast(grid_l))
        .filter(F.col("p") + F.col("l") - 1 <= F.length("w"))
        .select(
            F.expr("substr(w, CAST(p AS INT), CAST(l AS INT))").alias("piece"), "wc"
        )
        .groupBy("piece")
        .agg(F.sum("wc").cast("long").alias("wcnt"))
    ).localCheckpoint(eager=True)
    wrk = Window.orderBy(F.desc("wcnt"), F.asc("piece"))
    cand = (
        pieces.select("piece", F.row_number().over(wrk).alias("rk"))
        .filter(F.col("rk") <= top_v)
        .select("piece")
    )
    vocab = cand.unionAll(
        pieces.filter(F.length("piece") == 1).select("piece")
    ).distinct()
    tot = pieces.join(vocab, "piece").agg(F.sum("wcnt").cast("long").alias("t"))
    vs = (
        pieces.join(vocab, "piece")
        .crossJoin(F.broadcast(tot))
        .select(
            "piece",
            F.round(-F.log(F.col("wcnt") * 1.0 / F.col("t")) * 1000000.0)
            .cast("long")
            .alias("sq"),
        )
    ).localCheckpoint(eager=True)
    # Per-word Viterbi DP in ONE narrow pass (guide §1.2: fix the
    # distributed algorithm first). The old form ran the recurrence as
    # 12 sequential DISTRIBUTED rounds — each a 4-way broadcast join +
    # union + groupBy(min) + eager localCheckpoint over the (tiny,
    # vocabulary-sized) state table, i.e. ~12 shuffles and 13
    # materialization jobs whose cost was pure per-round overhead, not
    # data. Each word's segmentation depends only on its own <=12
    # characters and the ~200-piece cost table, so the whole recurrence
    # runs inside the row: the cost table is folded into one broadcast
    # MAP column and ``aggregate(sequence(1, lw), ...)`` carries the
    # per-prefix best-encoding array, taking ``array_min`` over the
    # <=4 candidate extensions exactly as each unrolled stage took
    # MIN(enc) — identical strings, identical tie-breaks. The lambda
    # runs interpreted (no codegen), but it replaces 12 rounds of job
    # scheduling with <=48 string ops per word, embarrassingly parallel
    # and shuffle-free; at 100 TB the state never leaves the word row.
    costs = vs.agg(
        F.map_from_entries(F.collect_list(F.struct("piece", "sq"))).alias("m")
    )
    dp_enc = F.expr(
        f"""
        element_at(
          aggregate(
            sequence(1, CAST(lw AS INT)),
            array('000000000000'),
            (acc, i) -> concat(acc, array(array_min(filter(
              transform(sequence(1, least({max_piece}, i)), L ->
                CASE WHEN element_at(m, substr(w, i - L + 1, L)) IS NOT NULL THEN
                  concat(
                    lpad(CAST(CAST(substr(element_at(acc, i - L + 1), 1, 12) AS BIGINT)
                              + element_at(m, substr(w, i - L + 1, L)) AS STRING),
                         12, '0'),
                    substr(element_at(acc, i - L + 1), 13),
                    substr(w, i - L + 1, L), ' ')
                END),
              x -> x IS NOT NULL))))
          ),
          CAST(lw AS INT) + 1)
        """
    )
    final = (
        kept.crossJoin(F.broadcast(costs))
        .select("w", "wc", F.length("w").cast("int").alias("lw"), "m")
        .select("w", "wc", dp_enc.alias("enc"))
    )
    toks = final.select(
        F.explode(F.split(F.trim(F.expr("substr(enc, 13)")), " ")).alias("piece"),
        "wc",
    )
    return (
        toks.join(F.broadcast(vs), "piece")
        .groupBy("piece")
        .agg(
            F.sum("wc").cast("long").alias("seg_count"),
            F.max("sq").alias("piece_cost_micro"),
        )
        .orderBy(F.desc("seg_count"), F.asc("piece"))
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Dirichlet-smoothed query likelihood (round-6 continuation-5)

_QL_TERMS = ("join", "hash", "filter")
_QL_MU = 2000.0


@register(
    "q_ql_dirichlet_search",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok),
dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       FROM documents),
cf AS (
    SELECT w, CAST(count(*) AS BIGINT) AS cf FROM tok
    WHERE w IN ('join', 'hash', 'filter') GROUP BY w
),
tf AS (
    SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tok
    WHERE w IN ('join', 'hash', 'filter') GROUP BY doc_id, w
),
terms(w) AS (VALUES ('join'), ('hash'), ('filter')),
grid AS (
    SELECT d.doc_id, d.dl, t.w, coalesce(f.tf, 0) AS tf, c.cf, o.n_tokens
    FROM dl d CROSS JOIN terms t
    LEFT JOIN tf f ON f.doc_id = d.doc_id AND f.w = t.w
    JOIN cf c ON c.w = t.w
    CROSS JOIN tot o
),
scored AS (
    SELECT doc_id, w,
           (round(ln((tf + {_QL_MU} * (cf * 1.0 / n_tokens)) / (dl + {_QL_MU}))
                  * 1000000.0) / 1000000.0) AS s
    FROM grid
),
agg AS (
    SELECT doc_id,
           (round((max(CASE WHEN w = 'join'   THEN s END)
                 + max(CASE WHEN w = 'hash'   THEN s END)
                 + max(CASE WHEN w = 'filter' THEN s END)) * 1000000.0)
            / 1000000.0) AS score
    FROM scored GROUP BY doc_id
)
SELECT doc_id, score, rank FROM (
    SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
                  AS rank
    FROM agg
) WHERE rank <= 20
""",
    description=(
        "Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty "
        f"2001, mu={_QL_MU:g}) for the same fixed 3-term query as "
        "q_bm25_search: score(d) = sum_t ln((tf + mu*p_t)/(dl + mu)) "
        "with p_t the collection unigram probability — the language-"
        "model member of the lexical-ranking family (BM25's tf "
        "saturation vs QL's length-aware smoothing; q_hybrid_search_rrf "
        "can fuse either). EVERY document scores against every query "
        "term (absent terms contribute the smoothed background), via a "
        "docs x 3 grid with tf left-joined and the collection stats "
        "broadcast; per-term scores round at 6dp and sum in FIXED term "
        "order (conditional aggregation — no engine-dependent float "
        "order). Top-20 rides TakeOrderedAndProject."
    ),
    tags=("text", "extension", "retrieval", "parity"),
)
def q_ql_dirichlet_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from healthcare_etl_spark.functions.rounding import stable_round

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    # The query is 3 FIXED terms, so per-doc term frequencies are plain
    # array ops on the token array — tf_t = size(filter(t, x -> x = w))
    # — and the collection stats (cf per term, total token count) fold
    # into ONE 1-row broadcast aggregate of those columns. The old form
    # exploded the whole corpus into (doc_id, w) rows and ran two
    # grouped aggregates plus a per-(doc, term) left join against the
    # 3xdocs grid: three corpus-scale shuffles for what one narrow map
    # + one scalar aggregate computes (guide §2.3 "aggregate before you
    # shuffle", §2.4 "remove shuffles outright"). Per-term scores are
    # still rounded at 6dp and summed in FIXED term order, and a term
    # with zero collection frequency still yields NULL (the old inner
    # join against cf dropped its rows), so results are bit-identical.
    def _tf(term: str):
        return F.size(F.filter(toks, lambda x: x == F.lit(term))).cast("long")

    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[_tf(w).alias(f"tf_{i}") for i, w in enumerate(_QL_TERMS)],
    )
    stats = base.agg(
        F.sum("dl").cast("long").alias("n_tokens"),
        *[
            F.sum(f"tf_{i}").cast("long").alias(f"cf_{i}")
            for i in range(len(_QL_TERMS))
        ],
    )

    def s(i: int):
        raw = stable_round(
            F.log(
                (
                    F.col(f"tf_{i}")
                    + _QL_MU * (F.col(f"cf_{i}") * 1.0 / F.col("n_tokens"))
                )
                / (F.col("dl") + _QL_MU)
            ),
            6,
        )
        return F.when(F.col(f"cf_{i}") > 0, raw)

    import functools

    score = functools.reduce(
        lambda a, b: a + b, (s(i) for i in range(len(_QL_TERMS)))
    )
    agg = base.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        stable_round(score, 6).alias("score"),
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 20)
        .select("doc_id", "score", "rank")
    )


@register(
    "q_term_burstiness",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
td AS (
    SELECT w, doc_id, CAST(count(*) AS BIGINT) AS tf
    FROM tok GROUP BY w, doc_id
),
m AS (
    SELECT w, CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS cf,
           CAST(sum(tf * tf) AS BIGINT) AS cf2
    FROM td GROUP BY w
),
stats AS (
    SELECT w, df, cf,
           (CAST(cf AS DOUBLE) / df) AS mean_tf,
           (CAST(df * cf2 - cf * cf AS DOUBLE) / (df * 1.0 * df)) AS var_tf
    FROM m WHERE df >= 10
)
SELECT w AS term, df, cf,
       (round(mean_tf * 1000000.0) / 1000000.0) AS mean_tf,
       (round((var_tf / mean_tf) * 1000000.0) / 1000000.0) AS burstiness_vmr
FROM stats
ORDER BY (round((var_tf / mean_tf) * 1000000.0) / 1000000.0) DESC, w ASC
LIMIT 20
""",
    description=(
        "Per-term burstiness (Church & Gale 1995): variance-to-mean "
        "ratio of within-document term frequency over the documents "
        "containing the term (df >= 10 support floor) — bursty terms "
        "(VMR >> 1) are topical/content words, Poisson-like terms "
        "(VMR near 1) are function words; the term-level complement to "
        "q_burstiness_fano's user-level index and the signal behind "
        "DFR/divergence-from-randomness ranking models. One explode + "
        "two hash aggregates with exact integer moments (population "
        "variance over containing docs); top-20 rides "
        "TakeOrderedAndProject."
    ),
    tags=("text", "extension", "corpus", "parity"),
)
def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    td = tok.groupBy("w", "doc_id").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    m = td.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
        F.sum(F.col("tf") * F.col("tf")).cast("long").alias("cf2"),
    ).filter(F.col("df") >= 10)
    mean_tf = F.col("cf").cast("double") / F.col("df")
    var_tf = (F.col("df") * F.col("cf2") - F.col("cf") * F.col("cf")).cast(
        "double"
    ) / (F.col("df") * 1.0 * F.col("df"))
    stats = m.select(
        F.col("w").alias("term"),
        "df",
        "cf",
        stable_round(mean_tf, 6).alias("mean_tf"),
        stable_round(var_tf / mean_tf, 6).alias("burstiness_vmr"),
    )
    return stats.orderBy(F.desc("burstiness_vmr"), F.asc("term")).limit(20)

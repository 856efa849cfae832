"""Training-data pipeline operators: set ops, cube, sampling, decontamination.

Rounds out the LLM-data-pipeline surface (BASELINE.md extension table)
with the remaining shapes a corpus pipeline runs:

- set difference (``EXCEPT``) — churn-style cohort comparison;
- CUBE grouping — all-margins rollup of a fact table in one pass;
- deterministic stratified sampling — per-stratum rates keyed on a
  cross-engine md5 hash, so the sample is reproducible on any engine
  and stable under repartitioning (no ``rand()``);
- train/test decontamination — flag training documents sharing any
  8-token n-gram with a held-out split (the standard benchmark-leak
  check); n-grams generated shuffle-free per doc via one window;
- repetition-based quality (Gopher-style) — top-token fraction per
  document as a repetitiveness signal;
- unigram log-probability scoring — the cheap stand-in for LM
  perplexity filtering, scored against the corpus's own unigram
  distribution;
- chunked sequence packing — concatenate-in-hash-order and split into
  fixed token-budget context windows, per shard (how corpora become
  fixed-length pretraining sequences);
- passage-level dedup — RefinedWeb-style sub-document dedup over
  16-token passages, reported as a per-document duplicated fraction;
- the flagship q_corpus_pipeline — quality -> language -> MinHash
  near-dup -> decontaminate -> split, as ONE lazy plan.

All are oracle-checked; the hash split uses the same md5 bridge as
q_hash_split (conv(substring(md5(x),1,8),16,10) == DuckDB
('0x' || ...)::BIGINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from healthcare_etl_spark.functions.rounding import stable_round
from healthcare_etl_spark.plans.registry import register
from healthcare_etl_spark.sources import load_table, spread


def _doc_hash(col: str = "doc_id"):
    """Cross-engine deterministic uniform hash of a document id -> [0, 100)."""
    return (
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10).cast("long") % 100
    )


_DOC_HASH_SQL = "(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100)"


@register(
    "q_except",
    oracle="""
SELECT o_custkey AS custkey
FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
EXCEPT
SELECT o_custkey AS custkey
FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
""",
    description=(
        "Set difference (EXCEPT, distinct semantics): customers active before "
        "1997 who never ordered after — both sides aggregate to distinct keys "
        "before the anti join, so the shuffle carries keys, not fact rows"
    ),
    tags=("setops", "parity"),
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01 00:00:00").cast("timestamp")
    before = o.filter(F.col("o_orderdate") < cut).select(F.col("o_custkey").alias("custkey"))
    after = o.filter(F.col("o_orderdate") >= cut).select(F.col("o_custkey").alias("custkey"))
    return before.subtract(after)


@register(
    "q_cube",
    oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(count(*) AS BIGINT)      AS n,
       (round((sum(l_extendedprice)) * 100.0) / 100.0) AS sum_price
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    description=(
        "CUBE over (returnflag, linestatus): all four grouping margins in one "
        "logical pass (Spark expands to a union of grouping sets over a single "
        "shuffle); NULL margin keys labeled 'ALL' on both engines"
    ),
    tags=("agg", "parity"),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            stable_round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_price",
        )
    )


@register(
    "q_sample_stratified",
    oracle=f"""
SELECT doc_id, lang
FROM documents
WHERE {_DOC_HASH_SQL} < (CASE WHEN lang = 'en' THEN 10 ELSE 30 END)
""",
    description=(
        "Deterministic stratified sample: 10% of 'en' docs, 30% of every other "
        "language, keyed on an md5 hash of doc_id — reproducible across engines "
        "and runs, stable under repartitioning (rand()-based sampling is "
        "neither); downsampling the majority stratum is the standard corpus "
        "rebalancing move"
    ),
    tags=("text", "extension", "parity"),
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(10)).otherwise(F.lit(30))
    return docs.filter(_doc_hash() < rate).select("doc_id", "lang")


@register(
    "q_decontaminate",
    oracle=f"""
WITH split AS (
    SELECT doc_id, text, ({_DOC_HASH_SQL} % 10 = 0) AS is_test
    FROM documents
),
tok AS (SELECT doc_id, is_test, string_split(text, ' ') AS t FROM split),
grams AS (
    SELECT doc_id, is_test,
           unnest(list_transform(range(1, len(t) - 6),
                                 i -> array_to_string(t[i:i+7], ' '))) AS g
    FROM tok WHERE len(t) >= 8
),
test_grams AS (SELECT DISTINCT g FROM grams WHERE is_test)
SELECT grams.doc_id, CAST(count(DISTINCT grams.g) AS BIGINT) AS n_shared_grams
FROM grams JOIN test_grams ON grams.g = test_grams.g
WHERE NOT grams.is_test
GROUP BY grams.doc_id
""",
    description=(
        "Train/test decontamination: hash-split documents 90/10, then flag every "
        "training doc sharing an 8-token n-gram with the held-out split (the "
        "standard benchmark-leak check before LLM training). N-grams are built "
        "shuffle-free per doc with a narrow arrays_zip of the token array and its "
        "shifted slices (no window, no per-doc sort), the held-out gram set is "
        "distinct-reduced before the equi-join, and at 100 TB the gram join keys "
        "on a hash of the gram rather than the string itself"
    ),
    tags=("text", "extension", "parity"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixture parquet is a single row group -> a bare scan is one task; spread
    # the raw docs before the tokenize/explode hot path (same idiom as dedup).
    docs = spread(load_table(spark, sf_dir, "documents"))
    split = docs.select(
        "doc_id", "text", ((_doc_hash() % 10) == 0).alias("is_test")
    )
    toks = F.split("text", " ")
    # 8-grams via arrays_zip of the token array with its 1..7-shifted
    # slices (the dedup shingle idiom, same form as q_bloom_decontaminate):
    # gram i = (t[i], ..., t[i+7]), null-padded tails filtered on the last
    # member — a NARROW codegen'd explode. The old posexplode + seven
    # lead() windows shuffled and sorted the whole exploded corpus by
    # doc_id before any gram existed, and its eager localCheckpoint ran
    # that job at plan build; the narrow form is cheap enough that the
    # held-out gram set and the train side just recompute it (scan +
    # explode, no shuffle, no build-time job).
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
    test_grams = grams.filter(F.col("is_test")).select("g").distinct()
    return (
        grams.filter(~F.col("is_test"))
        .join(test_grams, "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_shared_grams"))
    )


@register(
    "q_repetition_quality",
    oracle="""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
tf AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
agg AS (
    SELECT doc_id,
           CAST(max(c) AS BIGINT)  AS top_c,
           CAST(sum(c) AS BIGINT)  AS n_tok,
           CAST(count(*) AS BIGINT) AS n_uniq
    FROM tf GROUP BY doc_id
)
SELECT doc_id, n_tok, n_uniq,
       (round((top_c * 1.0 / n_tok) * 1000000.0) / 1000000.0) AS top_token_frac,
       (top_c * 1.0 / n_tok) > 0.1 AS is_repetitive
FROM agg
""",
    description=(
        "Gopher-style repetition quality signal: per-document top-token fraction "
        "(max unigram frequency / token count) and unique-token count; docs with "
        "one token above 10% of mass are flagged repetitive. Two hash "
        "aggregations, both partial-aggregated map-side; no Python in the path"
    ),
    tags=("text", "extension", "parity"),
)
def q_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = tf.groupBy("doc_id").agg(
        F.max("c").alias("top_c"),
        F.sum("c").alias("n_tok"),
        F.count(F.lit(1)).alias("n_uniq"),
    )
    frac = F.col("top_c") / F.col("n_tok")
    return agg.select(
        "doc_id",
        "n_tok",
        "n_uniq",
        stable_round(frac, 6).alias("top_token_frac"),
        (frac > 0.1).alias("is_repetitive"),
    )


# The full training-corpus preparation chain as ONE lazy Catalyst plan.
# The near-dup stage reuses the MinHash-LSH CTE chain (generated from
# the Spark operator's own coefficients) over the filtered `kept` set —
# the banded candidate-generation scale path, not the quadratic
# inverted-index join; 8-gram CTEs mirror operators.dedup._shingle_text_rows.


def _pipeline_sql() -> str:
    from healthcare_etl_spark.plans.queries_dedup import _minhash_ctes

    return (
        r"""
WITH feats AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS DOUBLE)                    AS n_tok,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)     AS n_uniq,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) AS n_punct,
           CAST(length(text) AS DOUBLE)                                    AS n_chars
    FROM documents
),
scored AS (
    SELECT doc_id,
           (round((0.35 * least(n_tok / 100.0, 1.0)
               + 0.35 * (n_uniq / CASE WHEN n_tok > 0 THEN n_tok ELSE 1 END)
               + 0.30 * (1.0 - n_punct / CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END))
               * 1000000.0) / 1000000.0) AS quality_score
    FROM feats
),
kept AS (
    SELECT d.doc_id, d.text, s.quality_score
    FROM documents d JOIN scored s USING (doc_id)
    WHERE d.lang = 'en' AND s.quality_score >= 0.6
),
"""
        + _minhash_ctes(source="kept")
        + r""",
neardup AS (
    SELECT DISTINCT doc_b FROM verified
    WHERE (round(jac * 1000000.0) / 1000000.0) >= 0.5
),
deduped AS (SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_b FROM neardup)),
held AS (
    SELECT doc_id, text FROM documents
    WHERE (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100) % 10 = 0
),
train AS (
    SELECT * FROM deduped
    WHERE (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100) % 10 != 0
),
held_grams AS (
    SELECT DISTINCT (('0x' || substring(md5(g), 1, 8))::BIGINT % 2147483647) AS ghash
    FROM (
        SELECT unnest(CASE WHEN len(t) >= 8
               THEN list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' '))
               ELSE [array_to_string(t, ' ')] END) AS g
        FROM (SELECT string_split(text, ' ') AS t FROM held)
    )
),
train_grams AS (
    SELECT DISTINCT doc_id,
           (('0x' || substring(md5(g), 1, 8))::BIGINT % 2147483647) AS ghash
    FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(t) >= 8
               THEN list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' '))
               ELSE [array_to_string(t, ' ')] END) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM train)
    )
),
contaminated AS (
    SELECT DISTINCT tg.doc_id
    FROM train_grams tg JOIN held_grams hg ON tg.ghash = hg.ghash
)
SELECT doc_id, quality_score FROM train
WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
  AND (('0x' || substring(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       % 2147483647) % 1000 < 800
"""
    )


@register(
    "q_corpus_pipeline",
    oracle=_pipeline_sql(),
    description=(
        "Flagship LLM-corpus preparation pipeline as one lazy plan: quality "
        "filter (composite heuristic >= 0.6) -> language filter (en) -> "
        "near-dup removal (MinHash-LSH banded candidates + exact-Jaccard "
        "verify >= 0.5 — the linear-ish scale path) -> held-out exclusion + "
        "8-gram decontamination (anti-join on shared grams) -> deterministic "
        "hash split (train 80%). Every stage is a narrow map or "
        "key-partitioned join/agg; nothing touches the driver. Each stage is "
        "also oracle-checked standalone (q_quality_score, q_dedup_minhash, "
        "q_decontaminate, q_hash_split)."
    ),
    tags=("text", "dedup", "extension", "parity", "flagship"),
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.dedup import (
        _pruned_hashed_rows,
        minhash_lsh_pairs,
    )
    from healthcare_etl_spark.operators.text_analysis import hash_split, quality_score

    docs = load_table(spark, sf_dir, "documents")

    # 1-2. quality + language gate (narrow maps fused into the scan).
    # `kept` feeds three branches; persist() was measured (sf0.1,
    # steady-state best-of-4: 2.19 s lazy vs 2.33 s persisted) and does
    # NOT pay for itself — the gate is cheap to recompute and caching
    # forces a materialization barrier. Keep the plan fully lazy.
    kept = (
        quality_score(docs)
        .filter((F.col("lang") == "en") & (F.col("quality_score") >= 0.6))
        .select("doc_id", "text", "quality_score")
    )

    # 3. near-dup removal via MinHash-LSH (banded candidate generation,
    # exact-Jaccard verify); drop the higher doc_id of every pair >= 0.5
    neardup = minhash_lsh_pairs(kept).select("doc_b").distinct()
    deduped = kept.join(
        neardup, kept.doc_id == neardup.doc_b, "left_anti"
    )

    # 4. held-out exclusion + 8-gram decontamination. The gram join keys
    # on the md5-derived 31-bit hash, not the gram string — at 100 TB the
    # shuffle moves 8-byte keys instead of ~60-byte n-grams (mirrored
    # identically in the oracle, collisions included). Distincts are
    # placed minimally: the held side reduces to the gram-hash set in ONE
    # aggregate, the train side stays non-distinct (duplicate gram rows
    # only multiply the pre-distinct contaminated rows, and the doc_id
    # distinct dedupes them anyway).
    held = docs.filter(_doc_hash() % 10 == 0)
    train = deduped.filter(_doc_hash() % 10 != 0)
    held_grams = _pruned_hashed_rows(held, 8, None).select("hsh").distinct()
    train_grams = _pruned_hashed_rows(train.select("doc_id", "text"), 8, None)
    contaminated = train_grams.join(held_grams, "hsh").select("doc_id").distinct()
    clean = train.join(contaminated, "doc_id", "left_anti")

    # 5. deterministic split, keep the training fraction
    return (
        hash_split(clean, key_col="doc_id")
        .filter(F.col("split") == "train")
        .select("doc_id", "quality_score")
    )


@register(
    "q_unigram_logprob",
    oracle="""
WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
freq AS (SELECT w, count(*) AS cnt FROM words GROUP BY w),
tot AS (SELECT count(*) AS n FROM words)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tok,
       (round(avg(ln(cnt::DOUBLE / n)) * 1000000.0) / 1000000.0) AS avg_logprob
FROM words JOIN freq USING (w) CROSS JOIN tot
GROUP BY doc_id
""",
    description=(
        "Corpus-model quality proxy: per-document mean unigram log-probability "
        "under the corpus's own unigram distribution (the cheap stand-in for LM "
        "perplexity filtering — unusually improbable token streams score low). "
        "Three shuffles, all key-partitioned (word-frequency agg, word join, "
        "per-doc agg); the corpus-total count stays a lazy broadcast 1-row "
        "aggregate, same discipline as TF-IDF"
    ),
    tags=("text", "extension", "parity"),
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = words.agg(F.count(F.lit(1)).alias("n"))
    return (
        words.join(freq, "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            stable_round(F.avg(F.log(F.col("cnt").cast("double") / F.col("n"))), 6).alias("avg_logprob"),
        )
    )


# Chunked sequence packing: concatenate documents in a deterministic
# hash order and split the stream into fixed token-budget context
# windows — the standard way LLM pretraining data becomes fixed-length
# training sequences. Packing is inherently sequential, so it shards
# first (hash of doc_id) and packs each shard independently: one
# shuffle on the shard key, a per-shard running-sum window, and every
# document gets (shard, chunk index where it starts, offset inside the
# chunk). At cluster scale the shard count tracks the executor count;
# the per-shard window is the irreducible sequential piece.
_PACK_BUDGET = 2048
_PACK_SHARDS = 8


@register(
    "q_pack_chunks",
    oracle=f"""
WITH t AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tok,
           {_DOC_HASH_SQL} AS h,
           ({_DOC_HASH_SQL} % {_PACK_SHARDS}) AS shard
    FROM documents
),
c AS (
    SELECT doc_id, shard, n_tok,
           sum(n_tok) OVER (PARTITION BY shard ORDER BY h, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
    FROM t
)
SELECT doc_id,
       CAST(shard AS BIGINT) AS shard,
       CAST((cum - n_tok) // {_PACK_BUDGET} AS BIGINT) AS chunk,
       CAST((cum - n_tok) % {_PACK_BUDGET} AS BIGINT) AS chunk_offset,
       CAST(n_tok AS BIGINT) AS n_tok
FROM c
""",
    description=(
        "Chunked sequence packing for LLM pretraining: documents concatenate in "
        "deterministic hash order within each of 8 shards and the stream splits "
        "into 2048-token context windows; output is each document's (shard, "
        "chunk, offset) placement. One shuffle on the shard key + a per-shard "
        "running-sum window — the sequential part of packing bounded to a shard"
    ),
    tags=("text", "extension", "parity"),
)
def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tok"),
        _doc_hash().alias("h"),
    ).withColumn("shard", (F.col("h") % _PACK_SHARDS).cast("long"))
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    start = F.col("cum") - F.col("n_tok")
    return c.select(
        "doc_id",
        "shard",
        F.floor(start / _PACK_BUDGET).cast("long").alias("chunk"),
        (start % _PACK_BUDGET).cast("long").alias("chunk_offset"),
        F.col("n_tok").cast("long").alias("n_tok"),
    )


# Sub-document (passage-level) dedup: the RefinedWeb-style move that
# exact/MinHash doc-level dedup misses — boilerplate passages repeated
# ACROSS distinct documents. Documents split into consecutive 16-token
# passages; a passage is a duplicate if an earlier (doc_id, passage_idx)
# emitted the same content. Reported per document as a duplicated-
# passage fraction (the filter signal: drop or trim docs above a
# threshold).
_PASSAGE_TOKENS = 16


@register(
    "q_passage_dedup",
    oracle=f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
p AS (
    SELECT doc_id, i AS pidx,
           array_to_string(t[i * {_PASSAGE_TOKENS} + 1 : i * {_PASSAGE_TOKENS} + {_PASSAGE_TOKENS}], ' ') AS passage
    FROM tok, unnest(range((len(t) + {_PASSAGE_TOKENS} - 1) // {_PASSAGE_TOKENS})) AS u(i)
),
h AS (
    SELECT doc_id, pidx,
           (('0x' || substring(md5(passage), 1, 8))::BIGINT % 2147483647) AS hsh
    FROM p
),
keeper AS (SELECT hsh, min(doc_id * 100000 + pidx) AS kkey FROM h GROUP BY hsh)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_passages,
       CAST(sum(CASE WHEN doc_id * 100000 + pidx <> kkey THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_passages,
       (round((sum(CASE WHEN doc_id * 100000 + pidx <> kkey THEN 1 ELSE 0 END)
               * 1.0 / count(*)) * 1000000.0) / 1000000.0) AS dup_frac
FROM h JOIN keeper USING (hsh)
GROUP BY doc_id
""",
    description=(
        "Passage-level dedup (RefinedWeb-style sub-document dedup): documents "
        "split into consecutive 16-token passages, a passage counts as duplicate "
        "when an earlier (doc, position) emitted identical content, and each "
        "document reports its duplicated-passage fraction. Passage identity is "
        "a 31-bit md5 hash (8-byte shuffle keys, mirrored in the oracle); one "
        "explode + one hash-agg + one key join, all partial-aggregated"
    ),
    tags=("text", "dedup", "extension", "parity"),
)
def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.dedup import md5_hash31

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    base = docs.select(
        "doc_id",
        toks.alias("t"),
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size(toks) / F.lit(_PASSAGE_TOKENS)).cast("int") - 1,
            )
        ).alias("pidx"),
    )
    h = base.select(
        "doc_id",
        "pidx",
        md5_hash31(
            F.array_join(
                F.slice("t", F.col("pidx") * _PASSAGE_TOKENS + 1, _PASSAGE_TOKENS), " "
            )
        ).alias("hsh"),
    )
    okey = F.col("doc_id") * 100000 + F.col("pidx")
    keeper = h.groupBy("hsh").agg(F.min(okey).alias("kkey"))
    joined = h.join(keeper, "hsh")
    is_dup = (okey != F.col("kkey")).cast("long")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(is_dup).alias("n_dup_passages"),
        stable_round(F.sum(is_dup) / F.count(F.lit(1)), 6).alias("dup_frac"),
    )


# Boilerplate removal by corpus document frequency (C4-style): a passage
# appearing in >= _BOILER_MIN_DOCS *distinct* documents is boilerplate
# (navigation chrome, license footers, syndicated headers) and is cut
# from EVERY document — unlike q_passage_dedup's first-keeper semantics,
# which preserves one copy. The per-doc report carries the exact token
# count that survives the cut, i.e. the document's effective training
# length after cleaning.
_BOILER_MIN_DOCS = 2


@register(
    "q_boilerplate_filter",
    oracle=f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
p AS (
    SELECT doc_id, i AS pidx,
           array_to_string(t[i * {_PASSAGE_TOKENS} + 1 : i * {_PASSAGE_TOKENS} + {_PASSAGE_TOKENS}], ' ') AS passage,
           len(t[i * {_PASSAGE_TOKENS} + 1 : i * {_PASSAGE_TOKENS} + {_PASSAGE_TOKENS}]) AS n_tok
    FROM tok, unnest(range((len(t) + {_PASSAGE_TOKENS} - 1) // {_PASSAGE_TOKENS})) AS u(i)
),
h AS (
    SELECT doc_id, pidx, n_tok,
           (('0x' || substring(md5(passage), 1, 8))::BIGINT % 2147483647) AS hsh
    FROM p
),
df AS (
    SELECT hsh, count(DISTINCT doc_id) AS doc_freq FROM h GROUP BY hsh
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_passages,
       CAST(sum(CASE WHEN doc_freq >= {_BOILER_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boiler,
       (round((sum(CASE WHEN doc_freq >= {_BOILER_MIN_DOCS} THEN 1 ELSE 0 END)
               * 1.0 / count(*)) * 1000000.0) / 1000000.0) AS boiler_frac,
       CAST(sum(CASE WHEN doc_freq >= {_BOILER_MIN_DOCS} THEN 0 ELSE n_tok END) AS BIGINT)
           AS n_tok_kept
FROM h JOIN df USING (hsh)
GROUP BY doc_id
""",
    description=(
        "Corpus-boilerplate passage filter (C4-style cleaning): a 16-token "
        "passage occurring in >= 2 DISTINCT documents is boilerplate and is "
        "removed from every document (vs q_passage_dedup, which keeps the "
        "first occurrence). Per document: passage count, boilerplate count "
        "and fraction, and the exact surviving token count (the effective "
        "training length). Document frequency is a two-level hash aggregate "
        "over 8-byte passage hashes — partial-aggregated, skew-free, and the "
        "per-doc rollup reuses the explode's doc_id clustering."
    ),
    tags=("text", "dedup", "extension", "parity"),
)
def q_boilerplate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.dedup import md5_hash31

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    base = docs.select(
        "doc_id",
        toks.alias("t"),
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size(toks) / F.lit(_PASSAGE_TOKENS)).cast("int") - 1,
            )
        ).alias("pidx"),
    )
    sl = F.slice("t", F.col("pidx") * _PASSAGE_TOKENS + 1, _PASSAGE_TOKENS)
    h = base.select(
        "doc_id",
        "pidx",
        F.size(sl).alias("n_tok"),
        md5_hash31(F.array_join(sl, " ")).alias("hsh"),
    )
    df = h.groupBy("hsh").agg(F.count_distinct("doc_id").alias("doc_freq"))
    joined = h.join(df, "hsh")
    is_boiler = (F.col("doc_freq") >= _BOILER_MIN_DOCS).cast("long")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(is_boiler).alias("n_boiler"),
        stable_round(F.sum(is_boiler) / F.count(F.lit(1)), 6).alias("boiler_frac"),
        F.sum(F.when(is_boiler == 1, F.lit(0)).otherwise(F.col("n_tok"))).alias(
            "n_tok_kept"
        ),
    )


@register(
    "q_mixture_balance",
    oracle="""
WITH counts AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
m AS (SELECT min(cnt) AS min_cnt FROM counts),
rates AS (
    SELECT lang, (1000 * min_cnt) // cnt AS keep_permille
    FROM counts CROSS JOIN m
)
SELECT d.doc_id, d.lang
FROM documents d JOIN rates r ON d.lang = r.lang
WHERE (('0x' || substring(md5('mix-v1:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000)
      < r.keep_permille
""",
    description=(
        "Data mixture balancing: downsample every language stratum to the "
        "size of the smallest one, with per-stratum keep rates DERIVED FROM "
        "THE DATA (integer permille arithmetic — no float thresholds to "
        "drift cross-engine) and membership decided by a salted md5 hash of "
        "doc_id, so the sample is reproducible on any engine and stable "
        "under repartitioning. The per-stratum rate table is k rows, "
        "broadcast into the filter — the corpus is scanned once, never "
        "shuffled. The standard move for equalizing language (or domain) "
        "mixture before LLM training."
    ),
    tags=("text", "extension", "sampling", "parity"),
)
def q_mixture_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    m = counts.agg(F.min("cnt").alias("min_cnt"))
    rates = counts.crossJoin(F.broadcast(m)).select(
        "lang", F.expr("(1000 * min_cnt) div cnt").alias("keep_permille")
    )
    h = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("mix-v1:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 1000
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(h < F.col("keep_permille"))
        .select("doc_id", "lang")
    )


@register(
    "q_train_shards",
    oracle="""
WITH keyed AS (
    SELECT doc_id,
           (('0x' || substring(md5('shard-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 2147483647) AS h
    FROM documents
)
SELECT doc_id,
       CAST(h % 8 AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos
FROM keyed
""",
    description=(
        "Deterministic training-export sharding: every document gets a salted "
        "md5 hash; shard = hash mod 8, within-shard position = rank by (hash, "
        "doc_id). This is the global-shuffle-then-shard step before writing "
        "training files — hash order is a reproducible pseudo-random permutation "
        "(no rand(), identical on every engine/run/partitioning), and at 100 TB "
        "the same plan writes via partitionBy(shard) + sortWithinPartitions(h) "
        "with no global sort."
    ),
    tags=("text", "extension", "parity"),
)
def q_train_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from healthcare_etl_spark.operators.dedup import md5_hash31

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        md5_hash31(F.concat(F.lit("shard-v1:"), F.col("doc_id").cast("string"))).alias("h"),
    )
    w = Window.partitionBy(F.col("h") % 8).orderBy("h", "doc_id")
    return keyed.select(
        "doc_id",
        (F.col("h") % 8).cast("long").alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


@register(
    "q_label_encode",
    oracle="""
WITH freq AS (
    SELECT source, lang, count(*) AS cnt
    FROM documents GROUP BY GROUPING SETS ((source), (lang))
),
enc AS (
    SELECT coalesce(source, lang) AS category,
           CASE WHEN source IS NOT NULL THEN 'source' ELSE 'lang' END AS feature,
           cnt,
           dense_rank() OVER (
               PARTITION BY (source IS NOT NULL)
               ORDER BY cnt DESC, coalesce(source, lang)
           ) - 1 AS idx
    FROM freq
)
SELECT feature, category, CAST(cnt AS BIGINT) AS cnt, CAST(idx AS BIGINT) AS idx
FROM enc
""",
    description=(
        "Frequency-ordered label encoding of the categorical features "
        "(source, lang) — the vocabulary table a feature pipeline "
        "publishes so categories map to dense indices with the most "
        "frequent category at 0 (stable tiebreak on the value). Both "
        "vocabularies come from ONE scan via GROUPING SETS; the "
        "dense_rank windows run over dimension-sized aggregates, so the "
        "heavy work is a single partial-aggregated count. At 100 TB the "
        "output is still vocabulary-sized — it broadcasts back for the "
        "actual encode join."
    ),
    tags=("pipeline", "extension", "ml-prep"),
)
def q_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    freq = docs.groupingSets([["source"], ["lang"]], "source", "lang").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy(F.col("source").isNotNull()).orderBy(
        F.col("cnt").desc(), F.coalesce("source", "lang")
    )
    return freq.select(
        F.when(F.col("source").isNotNull(), "source").otherwise("lang").alias("feature"),
        F.coalesce("source", "lang").alias("category"),
        "cnt",
        (F.dense_rank().over(w) - 1).cast("long").alias("idx"),
    )


@register(
    "q_target_encode_loo",
    oracle="""
WITH agg AS (
    SELECT event_type, sum(value) AS s, count(*) AS n
    FROM events GROUP BY 1
)
SELECT e.event_id,
       e.event_type,
       (round(((s - e.value) / (n - 1)) * 1000000.0) / 1000000.0) AS loo_mean
FROM events e JOIN agg USING (event_type)
WHERE n > 1
""",
    description=(
        "Leave-one-out target encoding of event_type against value — the "
        "leakage-safe categorical encoding for gradient-boosted / linear "
        "models: each row's encoding is the category mean EXCLUDING the "
        "row itself, (sum - x) / (n - 1), so the feature never contains "
        "the row's own target. One partial-aggregated pass builds the "
        "per-category (sum, count) — category-cardinality-sized, so it "
        "broadcasts back onto the fact scan; no window, no second "
        "shuffle, no per-row state."
    ),
    tags=("pipeline", "extension", "ml-prep"),
)
def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.sum("value").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        ev.join(F.broadcast(agg), "event_type")
        .filter(F.col("n") > 1)
        .select(
            "event_id",
            "event_type",
            stable_round(
                (F.col("s") - F.col("value")) / (F.col("n") - 1), 6
            ).alias("loo_mean"),
        )
    )


@register(
    "q_dsir_weights",
    oracle="""
WITH tok AS (
    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
    FROM documents
),
vocab AS (
    SELECT w,
           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
           CAST(count(*) AS BIGINT) AS c_r
    FROM tok GROUP BY w
),
totals AS (
    SELECT CAST(count(*) AS BIGINT) AS v,
           CAST(sum(c_t) AS BIGINT) AS n_t,
           CAST(sum(c_r) AS BIGINT) AS n_r
    FROM vocab
),
scored AS (
    SELECT t.doc_id,
           ln(((vb.c_t + 1.0) / (tt.n_t + tt.v))
              / ((vb.c_r + 1.0) / (tt.n_r + tt.v))) AS lw
    FROM tok t JOIN vocab vb ON vb.w = t.w CROSS JOIN totals tt
)
SELECT d.doc_id, d.lang,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
       (round(s.slw * 1000000.0) / 1000000.0) AS dsir_logw
FROM documents d
JOIN (SELECT doc_id, sum(lw) AS slw FROM scored GROUP BY doc_id) s
  ON s.doc_id = d.doc_id
""",
    description=(
        "DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169 "
        "— Data Selection via Importance Resampling): each document is "
        "scored log[p_target(x)/p_raw(x)] under Laplace-smoothed unigram "
        "bag-of-words models, with the 'en' subset as the target "
        "distribution and the whole corpus as raw — the standard recipe "
        "for selecting web data that 'looks like' a curated target set. "
        "Scale shape: target and raw counts come from ONE conditional "
        "aggregate over the exploded tokens (no second corpus pass); the "
        "smoothing denominators are a 1-row broadcast cross join; tokens "
        "join the vocabulary on the token key and per-doc log-weights "
        "reduce with a final partial-aggregated sum."
    ),
    tags=("pipeline", "extension", "ml-prep", "text"),
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    vocab = tok.groupBy("w").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c_t"),
        F.count(F.lit(1)).alias("c_r"),
    )
    totals = vocab.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("c_t").alias("n_t"),
        F.sum("c_r").alias("n_r"),
    )
    lw = F.log(
        ((F.col("c_t") + F.lit(1.0)) / (F.col("n_t") + F.col("v")))
        / ((F.col("c_r") + F.lit(1.0)) / (F.col("n_r") + F.col("v")))
    )
    scored = (
        tok.join(vocab, "w")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", lw.alias("lw"))
    )
    per_doc = scored.groupBy("doc_id").agg(F.sum("lw").alias("slw"))
    return (
        docs.select("doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_tok"))
        .join(per_doc, "doc_id")
        .select("doc_id", "lang", "n_tok", stable_round(F.col("slw"), 6).alias("dsir_logw"))
    )


@register(
    "q_token_budget_fill",
    oracle=r"""
WITH feats AS (
    SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           CAST(len(string_split(text, ' ')) AS DOUBLE)                    AS n_tok_d,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)     AS n_uniq,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) AS n_punct,
           CAST(length(text) AS DOUBLE)                                    AS n_chars
    FROM documents
),
scored AS (
    SELECT doc_id, source, n_tok,
           (round((0.35 * least(n_tok_d / 100.0, 1.0)
               + 0.35 * (n_uniq / CASE WHEN n_tok_d > 0 THEN n_tok_d ELSE 1 END)
               + 0.30 * (1.0 - n_punct / CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END))
               * 1000000.0) / 1000000.0) AS score
    FROM feats
),
filled AS (
    SELECT source, doc_id, n_tok, score,
           sum(n_tok) OVER (PARTITION BY source ORDER BY score DESC, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tok
    FROM scored
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs_kept,
       CAST(max(cum_tok) AS BIGINT) AS tokens_used,
       (round(min(score) * 1000000.0) / 1000000.0) AS cutoff_score
FROM filled
WHERE cum_tok <= 10000
GROUP BY source
""",
    description=(
        "Token-budget fill: greedily admit each source's BEST documents "
        "(quality-descending, doc_id tiebreak) until a 10k-token budget "
        "is spent — how a fixed-size curated subset actually gets "
        "assembled, reported as docs kept, exact tokens used, and the "
        "quality cutoff the budget implies per source. The cumulative "
        "token window partitions by SOURCE (per-source budgets keep the "
        "sort distributed — a single global budget would be the "
        "keyless-window scale sin); token counts are exact integers, so "
        "the admission boundary is engine-identical."
    ),
    tags=("pipeline", "extension", "ml-prep"),
)
def q_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.text_analysis import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs).select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.col("quality_score").alias("score"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = scored.select(
        "source", "n_tok", "score", F.sum("n_tok").over(w).alias("cum_tok")
    )
    return (
        filled.filter(F.col("cum_tok") <= 10000)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.max("cum_tok").alias("tokens_used"),
            stable_round(F.min("score"), 6).alias("cutoff_score"),
        )
    )


@register(
    "q_nb_lang_confusion",
    oracle="""
WITH split AS (
    SELECT doc_id, text, lang,
           ((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100) < 20) AS is_test
    FROM documents
),
toks AS (
    SELECT doc_id, lang, is_test, tok FROM (
        SELECT doc_id, lang, is_test, unnest(string_split(text, ' ')) AS tok FROM split
    ) WHERE length(tok) > 0
),
tc AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM toks WHERE NOT is_test GROUP BY 1, 2),
nl AS (SELECT lang, sum(c) AS n FROM tc GROUP BY 1),
vocab AS (SELECT DISTINCT tok FROM tc),
vsize AS (SELECT count(*) AS v FROM vocab),
tot AS (SELECT count(*) AS nd_tot FROM split WHERE NOT is_test),
priors AS (
    SELECT lang AS p_lang,
           (round(ln(count(*)::DOUBLE / nd_tot) * 1000000.0) / 1000000.0) AS prior_lp
    FROM split, tot WHERE NOT is_test GROUP BY lang, nd_tot
),
logp AS (
    SELECT tc.lang AS m_lang, tc.tok AS m_tok,
           (round(ln((c + 1.0) / (n + 1.0 * v)) * 1000000.0) / 1000000.0) AS lp
    FROM tc JOIN nl USING (lang), vsize
),
missing AS (
    SELECT lang AS x_lang, (round(ln(1.0 / (n + 1.0 * v)) * 1000000.0) / 1000000.0) AS lp0
    FROM nl, vsize
),
langs AS (SELECT lang AS cand FROM nl),
cand_rows AS (
    SELECT t.doc_id, t.lang AS actual, l.cand, coalesce(p.lp, m.lp0) AS tok_lp
    FROM toks t
    JOIN vocab USING (tok)
    CROSS JOIN langs l
    LEFT JOIN logp p ON p.m_tok = t.tok AND p.m_lang = l.cand
    JOIN missing m ON m.x_lang = l.cand
    WHERE t.is_test
),
scores AS (
    SELECT doc_id, actual, cand,
           list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(tok_lp))),
                       (acc, x) -> acc + x) AS s
    FROM cand_rows GROUP BY 1, 2, 3
),
scored AS (
    SELECT doc_id, actual, cand, s + prior_lp AS score
    FROM scores JOIN priors ON p_lang = cand
),
pred AS (
    SELECT actual, cand AS predicted FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, cand ASC) AS rn
        FROM scored
    ) WHERE rn = 1
)
SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n_docs FROM pred GROUP BY 1, 2
""",
    description=(
        "Multinomial Naive Bayes language classifier trained IN the engine: "
        "deterministic 80/20 md5 split, Laplace-smoothed P(token|lang) from "
        "the train fold, held-out scoring and argmax, confusion matrix out — "
        "one lazy plan, no fitted-model round-trip through the driver. The "
        "trained-model complement to the rule-based q_langid_eval. Scores are "
        "bit-exact cross-engine: each log-likelihood is 6dp-rounded (absorbing "
        "libm ln ulp drift), then summed as a fold over SORTED doubles so the "
        "summation order is identical in both engines."
    ),
    tags=("pipeline", "extension", "ml", "parity"),
)
def q_nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.nb import nb_lang_confusion

    docs = load_table(spark, sf_dir, "documents")
    return nb_lang_confusion(docs)

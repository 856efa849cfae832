"""Multinomial Naive Bayes language classifier trained IN the engine.

Extension beyond the reference (scope: eager pandas ETL,
``etl_app/etl_script.py:74-119``): the classic fast-and-cheap text
classifier a corpus pipeline trains on its own labels — here: learn
P(token | lang) from a deterministic 80% train split of ``documents``
and classify the held-out 20%, producing the confusion matrix. The
trained-model complement to the rule-based ``lang_id`` heuristic (whose
*evaluation* is ``q_langid_eval``).

Everything is one lazy plan — train counts, smoothed log-likelihoods,
scoring, argmax, confusion — no collect, no fitted-model round-trip
through the driver. At 100 TB the heavy stages are the two token
explosions (train counts; test scoring), both partial-aggregated on
(lang, token) / (doc, lang); the model itself (vocab x langs
log-likelihood table) is the only join-side state and stays a normal
shuffled join (broadcast it when the vocab is capped).

Determinism (the interesting part): per-(doc, lang) scores are sums of
floats, and neither Spark's nor DuckDB's aggregate sum has a defined
order. So each log-likelihood is ``stable_round``-ed to 6dp first
(absorbing cross-libm ``ln`` ulp differences), then summed via a fold
over ``array_sort(collect_list(...))`` — sorted doubles, so the fold
order is identical in both engines and ties among equal values cannot
change the sum. Scores are therefore bit-exact and the argmax needs no
rounding tolerance.

Test documents with zero in-vocabulary tokens drop out of the
confusion matrix (no score is defined for them) — consistently in both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from healthcare_etl_spark.functions.rounding import stable_round
from healthcare_etl_spark.functions.vectors import array_sum


def nb_lang_confusion(docs: DataFrame) -> DataFrame:
    """Train/evaluate the NB classifier of ``lang`` from ``text``, holding
    out the 20% of ``doc_id``s whose md5 bucket is below 20, with
    Laplace smoothing alpha = 1; returns (actual, predicted, n_docs) —
    the held-out confusion matrix."""
    doc_hash = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
        % 100
    )
    split = docs.select("doc_id", "text", "lang", (doc_hash < 20).alias("is_test"))
    toks = split.select(
        "doc_id", "lang", "is_test", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.length("tok") > 0)

    # -- train: counts, totals, vocabulary, priors
    tc = (
        toks.filter(~F.col("is_test"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nl = tc.groupBy("lang").agg(F.sum("c").alias("n"))
    vocab = tc.select("tok").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    tr_docs = split.filter(~F.col("is_test"))
    tot = tr_docs.agg(F.count(F.lit(1)).alias("nd_tot"))
    priors = (
        tr_docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("nd"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("lang").alias("p_lang"),
            stable_round(F.log(F.col("nd") / F.col("nd_tot")), 6).alias("prior_lp"),
        )
    )
    # -- model: Laplace-smoothed log-likelihood per (lang, token), plus
    #    the per-lang default for in-vocab tokens unseen in that lang
    logp = (
        tc.join(nl, "lang")
        .crossJoin(F.broadcast(vsize))
        .select(
            F.col("lang").alias("m_lang"),
            F.col("tok").alias("m_tok"),
            stable_round(
                F.log((F.col("c") + F.lit(1.0)) / (F.col("n") + F.lit(1.0) * F.col("v"))), 6
            ).alias("lp"),
        )
    )
    missing = (
        nl.crossJoin(F.broadcast(vsize)).select(
            F.col("lang").alias("x_lang"),
            stable_round(
                F.log(F.lit(1.0) / (F.col("n") + F.lit(1.0) * F.col("v"))), 6
            ).alias("lp0"),
        )
    )
    langs = nl.select(F.col("lang").alias("cand"))

    # -- score the held-out split: every in-vocab token occurrence
    #    contributes its (rounded) log-likelihood under each candidate
    cand_rows = (
        toks.filter(F.col("is_test"))
        .select("doc_id", F.col("lang").alias("actual"), "tok")
        .join(vocab, "tok")
        .crossJoin(F.broadcast(langs))
        .join(logp, (F.col("tok") == F.col("m_tok")) & (F.col("cand") == F.col("m_lang")), "left")
        .join(F.broadcast(missing), F.col("cand") == F.col("x_lang"))
        .select("doc_id", "actual", "cand", F.coalesce("lp", "lp0").alias("tok_lp"))
    )
    scores = (
        cand_rows.groupBy("doc_id", "actual", "cand")
        .agg(array_sum(F.array_sort(F.collect_list("tok_lp"))).alias("s"))
        .join(F.broadcast(priors), F.col("cand") == F.col("p_lang"))
        .select("doc_id", "actual", "cand", (F.col("s") + F.col("prior_lp")).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand"))
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("actual", F.col("cand").alias("predicted"))
    )
    return pred.groupBy("actual", "predicted").agg(F.count(F.lit(1)).alias("n_docs"))

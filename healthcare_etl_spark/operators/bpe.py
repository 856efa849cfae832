"""BPE merge-pair learning (tokenizer training) over a document corpus.

Byte-pair encoding training (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units") is the canonical
tokenizer-construction step of an LLM data pipeline. The scalable
formulation — the one HuggingFace `tokenizers` and SentencePiece use —
never iterates over the corpus: the corpus is scanned ONCE to build a
(word, count) vocabulary, and every merge round then operates on that
weighted vocabulary, which is orders of magnitude smaller (Heaps' law:
~sqrt-ish growth of distinct words in corpus size).

Engine mapping:

- corpus scan -> one `groupBy(word)` shuffle (partial-aggregated) and a
  TakeOrdered(``vocab_size``) by (count desc, word asc); Spark also
  splits each kept word into its characters (``substr`` per code
  point), so the symbol semantics are Spark's;
- the ``(syms, cnt)`` rows are collected once — at most ``vocab_size``
  of them, the same bound the vocabulary's ``limit`` already sets — and
  every merge round runs on the driver: adjacent-pair counts weighted
  by ``cnt``, the winner by (count desc, left asc, right asc) — Python
  string order is code-point order, the same as Spark's UTF-8 byte
  order — and the greedy left-to-right non-overlapping merge (in
  ``a a a`` the pair ``(a, a)`` merges once, leaving ``aa a``);
- the merge table goes back to the JVM as one Arrow ``LocalRelation``.

Why the rounds stay off Spark: they never touch the corpus, only a
frame of at most ``vocab_size`` rows. As Spark jobs, each round needed
two eager materializations (a shuffle + TakeOrdered to pick the winner,
a cross-join fold to apply it): 200-300 ms of job overhead a round
for microseconds of work. On the driver, a call runs the same 2 Spark
jobs (the vocabulary's shuffle and its collect) whatever ``n_merges``
is.

Applying a learned table (``bpe_token_counts``) does touch the corpus,
so it stays one codegen'd Spark expression: every merge is a stateful
``aggregate`` fold with the same greedy semantics, nested in training
order.

Determinism / oracle parity: counts are exact integers, tie-breaks are
total orders, and the greedy fold has identical semantics in DuckDB's
``list_reduce`` — the unrolled-CTE oracle reproduces every merge
decision exactly, so the whole training loop is hash-checkable.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from healthcare_etl_spark.sources.readers import local_frame

# A word split into one symbol per character (code point).
_CHARS = "transform(sequence(1, length(word)), i -> substr(word, i, 1))"

# left/right are SQL keywords; _sym suffix keeps the oracle SQL clean
_MERGES_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("left_sym", T.StringType(), True),
        T.StructField("right_sym", T.StringType(), True),
        T.StructField("merged", T.StringType(), True),
        T.StructField("pair_count", T.LongType(), True),
    ]
)


def word_vocabulary(docs: DataFrame, *, vocab_size: int = 200) -> DataFrame:
    """One ``text`` scan -> the top-``vocab_size`` (word, cnt) rows by
    count (word asc tie-break). Space tokenization matches the corpus
    queries' convention (plans.queries_corpus)."""
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("word")).filter(
        F.length("word") > 0
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(vocab_size)
    )


def _merge(syms: list[str], left: str, right: str) -> list[str]:
    """Greedy left-to-right non-overlapping merge of ``(left, right)``:
    the driver-side twin of ``_merge_fold``."""
    out: list[str] = []
    for x in syms:
        if out and out[-1] == left and x == right:
            out[-1] = left + right
        else:
            out.append(x)
    return out


def bpe_merges(
    docs: DataFrame,
    *,
    n_merges: int = 4,
    vocab_size: int = 200,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges. Returns one row per
    merge round: (round, left_sym, right_sym, merged, pair_count) — the
    merge table a downstream tokenizer would apply in order. Fewer rows
    come back when the vocabulary runs out of adjacent pairs.

    ``vocab_size`` bounds the weighted word vocabulary the rounds
    operate on (top words by count). It is also the bound on what the
    driver holds: the rounds run in memory over the at most
    ``vocab_size`` collected ``(syms, cnt)`` rows, after one Spark pass
    over the corpus."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    vocab = word_vocabulary(docs, vocab_size=vocab_size)
    rows = vocab.select(F.expr(_CHARS).alias("syms"), "cnt").collect()
    words = [(r["syms"], r["cnt"]) for r in rows]
    merges = []
    for rnd in range(1, n_merges + 1):
        pair_counts: Counter[tuple[str, str]] = Counter()
        for syms, cnt in words:
            for pair in zip(syms, syms[1:]):
                pair_counts[pair] += cnt
        if not pair_counts:
            break
        (left, right), count = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rnd, left, right, left + right, count))
        words = [(_merge(syms, left, right), cnt) for syms, cnt in words]
    return local_frame(docs.sparkSession, merges, _MERGES_SCHEMA)


def _merge_fold(syms: Column, left: str, right: str) -> Column:
    """Greedy non-overlapping merge of ``(left, right)`` over an array of
    symbols: fold left-to-right; when the accumulator's last symbol is
    ``left`` and the incoming symbol is ``right``, replace the tail with
    the merged token. Seeded with a '' sentinel so ``element_at(acc,
    -1)`` is always defined; the finish lambda drops it. The symbols are
    literals, never SQL text, so any character is safe."""
    return F.aggregate(
        syms,
        F.array(F.lit("")),
        lambda acc, x: F.when(
            (F.element_at(acc, -1) == F.lit(left)) & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(left + right))),
        ).otherwise(F.concat(acc, F.array(x))),
        lambda acc: F.slice(acc, 2, F.size(acc) - 1),
    )


def bpe_token_counts(docs: DataFrame, merges_rows: list[dict]) -> DataFrame:
    """Per-``doc_id`` token counts of ``text`` under a learned merge table (passed as
    plain row dicts: [{'left_sym': ..., 'right_sym': ...}, ...] in
    training order). One corpus scan, all folds nested in a single
    codegen'd expression — no shuffle beyond the per-doc aggregate."""
    syms = F.expr(_CHARS)
    for m in merges_rows:
        syms = _merge_fold(syms, m["left_sym"], m["right_sym"])
    words = docs.select(
        F.col("doc_id"), F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.length("word") > 0)
    return (
        words.select("doc_id", F.size(syms).cast("long").alias("n_tok"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )

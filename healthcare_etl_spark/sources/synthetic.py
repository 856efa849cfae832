"""Custom batch connector via the Spark 4 Python Data Source API.

The reference's source surface is files + a SQL database (reference
``etl_app/etl_script.py:49,52`` CSV extract, ``dashboard_app/app.py:31``
SQL read). A real engine also needs *pluggable* sources — the Spark-4
`pyspark.sql.datasource` API is the public extension point, and this
module exercises it end-to-end with a deterministic synthetic-document
generator:

- **partition-parallel**: `partitions()` returns N `InputPartition`s;
  each executor task generates only its own id range, so the source
  scales out like any file scan (no driver-side materialization);
- **deterministic**: row content is pure arithmetic on the row id
  (LCG-style token ids), so output is identical across runs, partition
  counts, and engines — the DuckDB oracle rebuilds the same rows from
  `generate_series`, making a *custom connector* value-hash-checkable;
- **batch-friendly**: rows are yielded as tuples (the API Arrow-batches
  them); generation cost is O(rows/partition) with zero shuffle.

Registration is per-session: ``spark.dataSource.register(
SyntheticDocsDataSource)`` then ``spark.read.format("synthetic_docs")``.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

# Token-id mixing constants (documented in the oracle SQL mirror too).
_A = 1103515245
_B = 12345
_MOD = 997  # vocabulary size: token ids in [0, 997)
_TOKENS_PER_DOC = 8
_N_SOURCES = 4


def synthetic_doc_text(doc_id: int) -> str:
    """The deterministic text for ``doc_id`` — shared by reader and tests."""
    return " ".join(
        f"tok{(doc_id * _A + _B * t) % _MOD}" for t in range(_TOKENS_PER_DOC)
    )


class SyntheticDocsReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n_rows = int(options.get("n_rows", 1000))
        self.n_partitions = int(options.get("n_partitions", 8))

    def partitions(self) -> Sequence[InputPartition]:
        return [InputPartition(i) for i in range(self.n_partitions)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        # Contiguous id ranges per partition: partition i owns
        # [i*step, min((i+1)*step, n)) — no overlap, no gaps.
        step = -(-self.n_rows // self.n_partitions)
        lo = partition.value * step
        hi = min(lo + step, self.n_rows)
        for doc_id in range(lo, hi):
            yield (
                doc_id,
                f"src{doc_id % _N_SOURCES}",
                synthetic_doc_text(doc_id),
                _TOKENS_PER_DOC,
            )


class SyntheticDocsDataSource(DataSource):
    """``spark.read.format("synthetic_docs").option("n_rows", N)``."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_docs"

    def schema(self) -> str:
        return "doc_id BIGINT, source STRING, text STRING, n_tokens BIGINT"

    def reader(self, schema) -> SyntheticDocsReader:  # noqa: ARG002 - fixed schema
        return SyntheticDocsReader(self.options)


def register_synthetic_source(spark) -> None:
    """Idempotent per-session registration of the connector."""
    spark.dataSource.register(SyntheticDocsDataSource)


# ---------------------------------------------------------------------------
# Scale-proof corpus generator (r7, verdict task 1).
#
# Deterministic fixture-SHAPED corpora at arbitrary row counts, built
# entirely from Spark expressions over ``spark.range`` — partition-
# parallel generation with ZERO driver-side materialization and zero
# Python evaluation (xxhash64 is the JVM-side mixer), so a 100x corpus
# costs one codegen scan + one parquet write. Schemas match the driver
# fixtures (documents: doc_id/text/lang/source/n_chars; embeddings:
# vec_id/embedding<float[64]>/label) so every registered query runs
# unmodified against the generated directory.
#
# Dup structure is controlled, mirroring what dedup operators face in a
# real crawl: ~1/16 of docs copy the text of a nearby base doc (half of
# those with one extra token appended -> near-dups, half verbatim ->
# exact dups), giving candidate-pair volume that grows LINEARLY with
# corpus size — the property the 10x/100x wall-clock table in
# BASELINE.md measures.
# ---------------------------------------------------------------------------

_SCALE_VOCAB = [
    "spark", "query", "table", "column", "line", "scan", "filter", "join",
    "agg", "group", "sort", "order", "hash", "merge", "stream", "batch",
    "vector", "value", "key", "part", "customer", "fast", "slow", "small",
    "big", "the", "a", "x",
]


def scale_documents(spark, n_docs: int, n_partitions: int = 64):
    """Lazy fixture-shaped ``documents`` frame with ``n_docs`` rows."""
    from pyspark.sql import functions as F

    vocab = F.array(*[F.lit(w) for w in _SCALE_VOCAB])
    nv = len(_SCALE_VOCAB)
    base = spark.range(0, n_docs, 1, n_partitions).withColumnRenamed("id", "doc_id")
    # ~1/16 of docs reuse a nearby base doc's text (pure function of the
    # base id -> no join needed); odd copies append a marker token so
    # both exact- and near-dup candidates exist at every scale.
    is_dup = F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(16)) == 0
    back = F.pmod(F.xxhash64("doc_id", F.lit(2)), F.lit(97)) + 1
    src_id = F.when(is_dup & (F.col("doc_id") >= back), F.col("doc_id") - back).otherwise(
        F.col("doc_id")
    )
    near = is_dup & (F.pmod(F.xxhash64("doc_id", F.lit(3)), F.lit(2)) == 0)
    n_words = (F.pmod(F.xxhash64(src_id, F.lit(4)), F.lit(93)) + 8).cast("int")
    # Zipf-ish mixture: ~60% of positions draw from the 28 fixture-style
    # head words, the rest from a 20k-token tail ("tokNNNNN"). The tail
    # is what makes the corpus scale-HONEST for similarity joins: real
    # crawls have vocabularies that grow with corpus size, so shingle/
    # token document frequencies stay low and candidate generation stays
    # ~linear. An all-head corpus (28-word vocab at any size) makes ANY
    # exact token-overlap join inherently quadratic — a property of the
    # data, not the algorithm — and was measured doing exactly that.
    def word_at(i):
        h = F.xxhash64(src_id * 128 + i, F.lit(5))
        head = F.element_at(vocab, (F.pmod(h, F.lit(nv)) + 1).cast("int"))
        tail = F.concat(F.lit("tok"), F.pmod(F.xxhash64(src_id * 128 + i, F.lit(8)), F.lit(20000)))
        return F.when(F.pmod(F.xxhash64(src_id * 128 + i, F.lit(9)), F.lit(5)) < 3, head).otherwise(tail)

    words = F.transform(F.sequence(F.lit(0), n_words - 1), word_at)
    text = F.concat_ws(" ", words)
    text = F.when(near, F.concat(text, F.lit(" dupmark"))).otherwise(text)
    langs = F.array(*[F.lit(x) for x in ["en", "en", "zh", "fr", "es", "de"]])
    return base.select(
        "doc_id",
        text.alias("text"),
        F.element_at(langs, (F.pmod(F.xxhash64("doc_id", F.lit(6)), F.lit(6)) + 1).cast("int")).alias("lang"),
        F.concat(F.lit("src"), F.pmod(F.col("doc_id"), F.lit(20))).alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    )


def scale_embeddings(spark, n_vecs: int, n_partitions: int = 64):
    """Lazy fixture-shaped ``embeddings`` frame with ``n_vecs`` rows of
    64-dim vectors."""
    from pyspark.sql import functions as F

    base = spark.range(0, n_vecs, 1, n_partitions).withColumnRenamed("id", "vec_id")
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: (
            (F.pmod(F.xxhash64(F.col("vec_id") * 64 + i, F.lit(11)), F.lit(2001)) - 1000)
            / 1000.0
        ).cast("float"),
    )
    return base.select(
        "vec_id",
        emb.alias("embedding"),
        F.pmod(F.xxhash64("vec_id", F.lit(12)), F.lit(10)).cast("int").alias("label"),
    )


def write_scale_corpus(
    spark, out_dir: str, *, n_docs: int, n_vecs: int, n_partitions: int = 64
) -> None:
    """Write a fixture-shaped corpus (documents + embeddings parquet) to
    ``out_dir`` — the input layout ``load_table`` expects, so any
    registered query can run against it via ``fn(spark, out_dir)``."""
    scale_documents(spark, n_docs, n_partitions).write.mode("overwrite").parquet(
        f"{out_dir.rstrip('/')}/documents.parquet"
    )
    scale_embeddings(spark, n_vecs, n_partitions).write.mode("overwrite").parquet(
        f"{out_dir.rstrip('/')}/embeddings.parquet"
    )

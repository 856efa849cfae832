"""Schema'd readers (SURVEY.md §2.1 S1/S3).

The reference extracts with ``pd.read_csv(path, encoding='utf-8',
dtype={'Facility ID': str})`` (reference ``etl_app/etl_script.py:49,52``)
— i.e. inference with explicit per-column overrides. At scale we invert
that: explicit schemas always (no inference pass over 100 TB), and
parquet as the columnar default so Catalyst can push filters and prune
columns down into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


class MissingInputError(FileNotFoundError):
    """A scan's input path does not exist.

    Graceful-exit parity with the reference (``etl_script.py:55-57``
    catches FileNotFoundError and prints a clear message instead of a
    stack trace): the engine raises ONE well-named error that names the
    path, instead of letting Spark's AnalysisException surface as a JVM
    trace."""


def _check_local_path(path: str, *, what: str) -> None:
    """Fail fast with a clear message when a LOCAL input path is absent.

    Only plain local paths (and file: URIs) are checked — remote URIs
    (s3://, hdfs://) are left to the scan, where a driver-side
    existence probe would cost a round trip and race against writers.
    """
    import os

    p = path
    if p.startswith("file:"):
        p = p[len("file:"):]
    if "://" in p:
        return
    if not os.path.exists(p):
        raise MissingInputError(
            f"{what} input not found: {path!r} does not exist. "
            "Check the path (and for fixture tables, the sf_dir)."
        )


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast every ``timestamp_ntz`` column to plain ``timestamp``.

    The engine's canonical event-time type is TIMESTAMP with the session
    tz pinned to UTC (see ``session.configure_session``). When the
    ``inferTimestampNTZ.enabled=false`` conf took effect this is a no-op;
    when it could not be set (foreign session) the cast is value-
    preserving under the UTC session tz — wall-clock fields are kept,
    and downstream ``unix_micros``/double arithmetic stays legal. The
    cast is a projection only: pushdown/pruning into the scan is
    unaffected.
    """
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if not ntz_cols:
        return df
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples, in ``schema`` field
    order) — the one way this package builds a frame from local data.

    The rows go to the JVM as one Arrow table, built column by column and
    typed by ``schema`` (a DDL string or a ``StructType``; no type
    inference). Spark keeps a table under 48 MB
    (``spark.sql.execution.arrow.localRelationThreshold``) as a
    ``LocalRelation`` and turns a larger one into Arrow batches; neither
    starts a Python worker, while ``createDataFrame`` over a list of
    tuples pickles the rows into a ``PythonRDD`` that does. The result's
    schema, nullability included, is ``schema``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = []
    for i, field in enumerate(arrow_schema):
        column = pa.array([r[i] for r in rows], type=field.type)
        if column.null_count and not field.nullable:
            raise ValueError(f"field {field.name}: None in a non-nullable column")
        columns.append(column)
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow_schema), schema)


# Cache of the detected epoch granularity for bigint ts columns, keyed on
# the path and its ``_local_file_sig`` like the relation memo below, so a
# rewrite of the same path samples again (one tiny sampling job per
# distinct file version, not per query).
_EPOCH_UNIT_CACHE: dict[tuple, int] = {}

# Memo of the lazy parquet RELATION HANDLE (the unexecuted DataFrame)
# per local path. Metadata only — never rows; every action still scans
# the files. Building a handle costs a listing plus a footer read to
# infer the schema (~100 ms per call on local fixtures, a listing+footer
# job on object stores) and a dozen Py4J round trips; a query composing
# 20 table reads would pay seconds of it at plan build. A DataFrame is an
# immutable logical plan, so handing the same one back is semantically
# identical to rebuilding it. Exactly as fresh as rebuilding: the key is
# the path's full signature (``_local_file_sig``) plus the reader confs,
# and a handle is only returned to the session that owns it.
_PARQUET_MEMO: dict[tuple, DataFrame] = {}


def _local_file_sig(path: str) -> tuple | None:
    """What a rewrite of a plain local path must change, or None for
    remote URIs and missing paths.

    A file: (mtime_ns, size, inode) — a rewrite that restores both size
    and mtime (``os.utime``, or a coarse mtime tick) still lands on a new
    inode. A directory: the sorted (relative path, size, mtime_ns, inode)
    of every file under it, so a part-file added or rewritten inside a
    partition directory (``t.parquet/k=v/part-*``), which leaves the
    root's own stat unchanged, changes the signature."""
    import os

    p = path[len("file:"):] if path.startswith("file:") else path
    if "://" in p:
        return None
    try:
        st = os.stat(p)
    except OSError:
        return None
    if not os.path.isdir(p):
        return (st.st_mtime_ns, st.st_size, st.st_ino)
    entries = []
    for root, _dirs, names in os.walk(p):
        for name in names:
            full = os.path.join(root, name)
            try:
                fst = os.stat(full)
            except OSError:  # removed mid-walk: the next call sees it gone
                continue
            entries.append((os.path.relpath(full, p), fst.st_size, fst.st_mtime_ns, fst.st_ino))
    return tuple(sorted(entries))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` memoized per (path signature, reader confs)
    for the owning session.

    The schema depends on the two parquet reader confs load_table
    manages (NTZ inference, nanos-as-long), so they are part of the key;
    a session where they differ re-infers rather than trusting a schema
    inferred under other settings. A handle owned by another session is
    rebuilt; entries whose session has stopped are dropped, so a stopped
    session's JVM objects are not pinned by the memo.
    """
    sig = _local_file_sig(path)
    if sig is None:
        return spark.read.parquet(path)

    key = (
        path,
        sig,
        spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "?"),
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "?"),
    )
    hit = _PARQUET_MEMO.get(key)
    if hit is not None and hit.sparkSession is spark:
        return hit
    for k, df in list(_PARQUET_MEMO.items()):
        if df.sparkSession.sparkContext._jsc is None:  # its session stopped
            del _PARQUET_MEMO[k]
    if len(_PARQUET_MEMO) > 512:
        _PARQUET_MEMO.clear()
    df = _PARQUET_MEMO[key] = spark.read.parquet(path)
    return df


def _epoch_to_micros(spark: SparkSession, path: str, df: DataFrame):
    """Column expression converting a raw BIGINT epoch ``ts`` to epoch µs,
    detecting the producer's granularity from data magnitude.

    The round-4 regression class: a reader that *assumes* one granularity
    (``div 1000`` for nanos) silently corrupts values 1000x when the
    producer switches — no error is ever raised. Magnitude
    disambiguates unambiguously for any date between 1973 and 2100+
    (epoch seconds ~1e8-9, millis ~1e11-12, micros ~1e14-15, nanos
    ~1e17-18 — three orders of magnitude apart per step). The sampled
    decision is cached per file version (path plus signature) so
    repeated loads pay nothing and a rewrite is sampled afresh.
    """
    key = (path, _local_file_sig(path))
    unit = _EPOCH_UNIT_CACHE.get(key)
    if unit is None:
        sample = df.select(F.abs(F.col("ts")).alias("v")).filter("v IS NOT NULL").first()
        mag = sample["v"] if sample is not None else 10**15
        if mag >= 10**17:
            unit = 1_000  # nanos: integer-divide down to µs
        elif mag >= 10**14:
            unit = 1  # already µs
        elif mag >= 10**11:
            unit = -1_000  # millis: multiply up
        else:
            unit = -1_000_000  # seconds
        _EPOCH_UNIT_CACHE[key] = unit
    if unit > 1:
        return F.expr(f"ts div {unit}")
    if unit == 1:
        return F.col("ts")
    return F.col("ts") * F.lit(-unit)


# Raw input bytes per task for a fixture spread (``spread_count``).
SPREAD_KB_PER_TASK = 64


def spread_count(df: DataFrame, *, kb_per_task: int | None = None) -> int:
    """Size-derived partition count for spreading a narrow fixture scan
    ahead of a CPU-heavy explode/codec path.

    The fixture parquet files are single row groups, so a bare scan is
    one task and everything up to the first exchange runs serially —
    hence the spread. But the old blanket ``defaultParallelism`` count
    pinned 32 partitions onto kilobyte inputs, and the r9 scaling block
    showed per-task overhead dominating (8 cores beat 32 across the
    board at sf0.1). The count is now derived from the scan's input
    bytes (``SPREAD_KB_PER_TASK`` KiB of raw input per task unless
    ``kb_per_task`` says otherwise), capped at ``defaultParallelism`` —
    scale-adaptive in both directions: kilobyte fixtures get a handful
    of tasks, and any input big enough to saturate the cluster hits the
    cap (where a real multi-split table's scan would already be
    parallel and the spread is only a co-partitioning choice).

    Input on remote storage (any URI scheme but ``file``) is not sized:
    it gets the cap. A local input file that no longer exists raises
    :class:`MissingInputError`.
    """
    import os
    from urllib.parse import unquote, urlparse

    budget = (SPREAD_KB_PER_TASK if kb_per_task is None else kb_per_task) * 1024
    cap = df.sparkSession.sparkContext.defaultParallelism
    size = 0
    for uri in df.inputFiles():
        parts = urlparse(uri)
        if parts.scheme not in ("", "file"):
            return cap
        path = unquote(parts.path)
        if not os.path.exists(path):
            raise MissingInputError(f"spread input not found: {uri!r} does not exist.")
        size += os.path.getsize(path)
    return max(1, min(cap, (size + budget - 1) // budget))


def spread(df: DataFrame, *, kb_per_task: int | None = None) -> DataFrame:
    """Round-robin-spread a fixture scan to :func:`spread_count` tasks.

    ``kb_per_task`` overrides the input-bytes-per-task budget — codec
    paths (JPEG/MP4/WAV decode per row) do ~10x the CPU work per input
    byte of a tokenize path and want smaller tasks.
    """
    return df.repartition(spread_count(df, kb_per_task=kb_per_task))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet``.

    Timestamp columns (``events.ts``, ``orders.o_orderdate``,
    ``lineitem.l_shipdate`` — all ``timestamp[us]`` parquet) are
    normalized to one canonical type, plain ``TIMESTAMP`` under the UTC
    session tz, at this boundary so no operator downstream branches on
    the producer's physical type. Three producer encodings are handled:

    - ``timestamp[us]`` + ``inferTimestampNTZ=false`` -> TIMESTAMP
      directly (today's fixture, zero-cost path);
    - ``timestamp[us]`` read as TIMESTAMP_NTZ (conf not settable) ->
      defensive cast, value-preserving under UTC;
    - ``TIMESTAMP(NANOS)`` (the pre-round-4 fixture) -> rejected by
      Spark's vectorized reader, so read as long nanos (legacy conf) and
      converted JVM-side; lossless for µs-granular data and identical to
      DuckDB's ns->µs truncation on read.
    """
    path = f"{str(sf_dir).rstrip('/')}/{name}.parquet"
    _check_local_path(path, what=f"table {name!r}")
    if name != "events":
        return _normalize_timestamps(_read_parquet(spark, path))

    df = _read_parquet(spark, path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(_epoch_to_micros(spark, path, df)))
    return _normalize_timestamps(df)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """UTF-8 CSV-with-header scan (S1) mirroring reference ``etl_script.py:49,52``.

    PERMISSIVE mode matches pandas' tolerance of malformed rows; an
    explicit schema replaces the reference's ``dtype={'Facility ID':
    str}`` override (never let inference turn zero-padded IDs numeric).
    Missing local paths raise :class:`MissingInputError` with the path
    named (reference ``etl_script.py:55-57`` graceful-exit parity).
    """
    _check_local_path(path, what="CSV")
    reader = (
        spark.read.option("header", True)
        .option("encoding", "UTF-8")
        .option("mode", "PERMISSIVE")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
) -> DataFrame:
    """JSON-lines scan with a mandatory explicit schema.

    Inference over JSON requires a full extra pass of the data — never
    acceptable at 100 TB, so unlike ``read_csv`` there is no inference
    fallback here.
    """
    _check_local_path(path, what="JSON")
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — columnar with predicate pushdown, like parquet."""
    _check_local_path(path, what="ORC")
    return spark.read.orc(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    properties: dict | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """JDBC scan (S3) mirroring reference ``app.py:31-32``
    (``pd.read_sql`` over an engine connection).

    The reference reads the whole table through one connection; at scale
    pass ``partition_column``/bounds/``num_partitions`` so Spark issues
    one range-bounded query per partition and the read parallelizes
    across executors. Without them the read is a single-connection scan
    (fine for dimension tables only).

    Round-trip with ``writers.write_jdbc`` is smoke-tested against
    embedded Derby (the JDBC database shipped in Spark's own jars) in
    ``tests/test_operators.py``.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for key, val in (properties or {}).items():
        reader = reader.option(key, val)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 4))
        )
    return reader.load()

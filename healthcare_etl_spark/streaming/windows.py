"""Structured Streaming variants of the event-time operators.

The batch queries in ``plans.queries_events`` are the oracle-checked
semantics; these jobs run the SAME aggregations as streams with
watermarks. For the fixture replay (file source, one batch,
``availableNow`` semantics) the results must equal the batch plans —
asserted in tests.

Run protocol, shared by every memory-sink job in ``streaming/``
(``_memory_run``): start the stream on the memory sink under its query
name and output mode with the default trigger, ``processAllAvailable``,
stop the query, and read the sink back as a table. Jobs differ only in
the stream they build and its output mode.

Scale notes: watermark + windowed agg is incremental state in the state
store, partitioned by (window, key) — the standard unbounded-input
answer to the batch plans' full-shuffle. ``session_window`` handles
gap-sessionization with merging state.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from healthcare_etl_spark.functions.rounding import stable_round
from healthcare_etl_spark.functions.timeutils import TS_FMT


def streaming_events(
    spark: SparkSession,
    sf_dir: str,
    *,
    glob: str = "events.parquet",
    schema_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``events`` as an unbounded stream via the file source.

    The stream schema is DERIVED from what the batch reader actually
    produced — never hard-coded. ``load_table`` already normalizes
    ``ts`` to the canonical TIMESTAMP for every producer encoding; the
    only case needing stream-side replication is the nanos fixture,
    where the batch read yields raw ``bigint`` nanos before conversion —
    detected by probing the UN-normalized read, and only then does the
    stream read BIGINT + div-1000. (Round-4 lesson: unconditionally
    assuming nanos silently divided µs values by 1000 — timestamps came
    out 1000x too small with no error raised.)

    ``max_files_per_trigger=1`` replays a multi-file directory as one
    micro-batch per file (file order = modification time) — the
    multi-batch harness the watermark-eviction tests use.
    ``schema_dir`` is the probe fallback for a stream directory that has
    no files yet at start time.
    """
    # Probe the files that will actually be streamed — a synthetic test
    # dir may carry a different physical ts type than the fixture.
    probe_path = f"{str(sf_dir).rstrip('/')}/{glob}"
    try:
        raw_batch = spark.read.parquet(probe_path)
    except AnalysisException:
        probe_path = f"{str(schema_dir or sf_dir).rstrip('/')}/events.parquet"
        raw_batch = spark.read.parquet(probe_path)
    raw_ts_type = dict(raw_batch.dtypes).get("ts")
    nanos_as_long = raw_ts_type == "bigint"
    raw_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in raw_batch.schema.fields
    )
    # FileStreamSource needs a directory; select just the events table
    # from the fixture dir with a glob filter.
    reader = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(str(sf_dir).rstrip("/"))
    if nanos_as_long:
        # granularity detected from the probed batch data, not assumed
        from healthcare_etl_spark.sources.readers import _epoch_to_micros

        stream = stream.withColumn(
            "ts", F.timestamp_micros(_epoch_to_micros(spark, probe_path, raw_batch))
        )
    elif raw_ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _memory_run(
    stream: DataFrame, name: str, mode: str, progress_sink: list | None = None
) -> DataFrame:
    """Run ``stream`` to completion on the memory sink: start it as query
    ``name`` in output ``mode`` under the default trigger, process all
    available input, hand ``recentProgress`` to ``progress_sink`` (a
    list) when given, stop the query, and return the sink table."""
    q = stream.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        if progress_sink is not None:
            progress_sink.extend(q.recentProgress)
    finally:
        q.stop()
    return stream.sparkSession.table(name)


def run_streaming_tumbling(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_name: str = "stream_tumbling",
    output_mode: str = "complete",
    source_opts: dict | None = None,
    progress_sink: list | None = None,
) -> DataFrame:
    """Run the 1-hour tumbling-window count/sum (10-minute watermark) as a
    stream to completion and return the materialized result (memory
    sink; ``complete`` mode for
    the fixture-replay equivalence checks, ``append`` for the
    multi-batch watermark tests — append only emits a window once the
    watermark passes its end, and evicts its state then).

    ``progress_sink`` (a list) receives the query's progress dicts
    before shutdown — the state-store metrics there
    (``numRowsDroppedByWatermark``, ``numRowsTotal``) are the hard
    evidence that late rows are dropped and state is evicted.
    """
    ev = streaming_events(spark, sf_dir, **(source_opts or {}))
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _memory_run(agg, query_name, output_mode, progress_sink)


def run_streaming_sessionization(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_name: str = "stream_sessions",
) -> DataFrame:
    """30-minute-gap sessions via ``session_window`` (merging window
    state, 1-hour watermark).

    Returns (user_id, session_start, n_events) — comparable to the batch
    ``session_stats`` output for in-order replay.
    """
    ev = streaming_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", TS_FMT).alias("session_start"),
            "n_events",
        )
    )
    return _memory_run(agg, query_name, "complete")


def run_streaming_dedup(
    spark: SparkSession,
    sf_dir: str,
    *,
    watermark: str = "2 hours",
    query_name: str = "stream_dedup",
    source_opts: dict | None = None,
    progress_sink: list | None = None,
) -> DataFrame:
    """Streaming dedup via ``dropDuplicatesWithinWatermark`` on
    (user_id, event_type), reduced to survivor counts per event_type.

    The streaming answer to the batch dedup operators for unbounded
    input: state keeps one entry per key and expires it once the
    watermark passes, so memory is bounded by the active-key set — the
    only dedup that works on an infinite stream. WHICH duplicate
    survives is order-dependent, so only key-level output (survivor
    counts) is exposed; on a one-batch replay state never expires
    mid-batch, making the counts exactly batch count-distinct
    (asserted in tests).
    """
    ev = streaming_events(spark, sf_dir, **(source_opts or {}))
    deduped = ev.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    return (
        _memory_run(deduped, query_name, "append", progress_sink)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_users"))
    )


def _top3_per_window(counts: DataFrame) -> DataFrame:
    """The 3 most frequent event types per ``window_start`` (ties by
    event type), with their ``rank``."""
    w_rank = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= 3)
    )


def _sliding_counts(ev: DataFrame) -> DataFrame:
    """Event counts per (1-hour window sliding by 15 minutes, event type)."""
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def run_streaming_sliding_topk(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_name: str = "stream_sliding_topk",
) -> DataFrame:
    """Sliding-window trending top-3: per overlapping 1-hour window
    sliding by 15 minutes, the 3 most frequent event types — the live
    "what's trending now" tile. The STATEFUL part (sliding windowed
    counts under a 10-minute watermark) runs as the stream; the
    rank-and-truncate runs on the materialized sink frame, exactly
    where a dashboard query would do
    it — per-key ranking over a streaming aggregate is not an
    incremental operator, and pushing it into the stream would force
    complete-mode recomputation of every window anyway."""
    ev = streaming_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    return _top3_per_window(_memory_run(_sliding_counts(ev), query_name, "complete"))


def batch_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of :func:`run_streaming_sliding_topk` (F.window works
    identically on batch frames) — the equivalence anchor."""
    from healthcare_etl_spark.sources import load_table

    return _top3_per_window(_sliding_counts(load_table(spark, sf_dir, "events")))


def _hll_registers(ev: DataFrame) -> DataFrame:
    """(window_start, idx, m): per 1-day window, each HLL register's max
    leading-zero rank of the hashed user ids — the same register
    function as the oracle-checked batch q_hll_register_sketch."""
    from healthcare_etl_spark.operators.dedup import md5_hash31
    from healthcare_etl_spark.plans.queries_patterns import _HLL_WBITS, _rho_case_sql

    hashed = ev.select(
        "ts",
        md5_hash31(
            F.concat(F.lit("hll:"), F.col("user_id").cast("string"))
        ).alias("h"),
    ).withColumn("idx", F.expr(f"h div {2 ** _HLL_WBITS}"))
    rho = F.expr(_rho_case_sql(f"(h % {2 ** _HLL_WBITS})"))
    return (
        hashed.groupBy(F.window("ts", "1 day").alias("w"), "idx")
        .agg(F.max(rho).cast("long").alias("m"))
        .select(F.date_format("w.start", TS_FMT).alias("window_start"), "idx", "m")
    )


def _hll_fold(regs: DataFrame) -> DataFrame:
    """Registers -> HLL estimate per window plus a register-merged ALL
    row, shared by the streaming sink frame and the batch twin (both
    are plain DataFrames here). Same integer-numerator harmonic fold +
    linear-counting branch as the oracle-checked batch
    q_hll_register_sketch."""
    from healthcare_etl_spark.plans.queries_patterns import (
        _HLL_ALPHA,
        _HLL_M,
        _HLL_WBITS,
    )

    merged = regs.groupBy("idx").agg(F.max("m").cast("long").alias("m")).select(
        F.lit("ALL").alias("window_start"), "idx", "m"
    )
    w = 2 ** _HLL_WBITS
    folded = regs.unionByName(merged).groupBy("window_start").agg(
        (
            F.sum(F.expr(f"CAST(power(2, {_HLL_WBITS} - m) AS BIGINT)"))
            + (F.lit(_HLL_M) - F.count(F.lit(1))) * F.lit(w)
        ).cast("long").alias("s_num"),
        F.count(F.lit(1)).cast("long").alias("n_nonzero"),
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
        folded.select("window_start", "n_nonzero", est.alias("hll_est"))
        .orderBy("window_start")
    )


def run_streaming_hll_distinct(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_name: str = "stream_hll",
) -> DataFrame:
    """Streaming approximate distinct users per day (2-hour watermark)
    via an incremental HyperLogLog: the streaming STATE is the
    (window, register) -> max leading-zero rank table — m=64 rows per
    window, mergeable across
    micro-batches because register max is commutative/idempotent (the
    same property that makes HLL the cluster-scale distinct synopsis in
    batch q_hll_register_sketch). The estimate fold runs on the
    materialized sink frame plus a register-wise merged ALL row, so the
    day->period rollup happens WITHOUT ever re-reading events. Exactly
    equals the batch twin on replay (asserted in tests) because the
    register function and fold are shared code.
    """
    ev = streaming_events(spark, sf_dir).withWatermark("ts", "2 hours")
    return _hll_fold(_memory_run(_hll_registers(ev), query_name, "complete"))


def batch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of :func:`run_streaming_hll_distinct` — the
    equivalence anchor (F.window + the shared register/fold code)."""
    from healthcare_etl_spark.sources import load_table

    return _hll_fold(_hll_registers(load_table(spark, sf_dir, "events")))


def register_streaming_queries() -> None:
    """Register streaming jobs in the main registry (rows-only checks —
    the driver can execute them; equivalence to the oracle-checked batch
    plans is asserted in tests)."""
    from healthcare_etl_spark.plans.registry import register

    register(
        "q_stream_tumbling",
        description=(
            "Structured Streaming tumbling-window agg (watermark + memory sink, run to "
            "completion). Equals the oracle-checked batch q_event_windows on replay; "
            "equivalence unit-tested."
        ),
        tags=("streaming", "extension"),
    )(lambda spark, sf_dir: run_streaming_tumbling(spark, sf_dir, query_name="q_stream_tumbling_sink"))

    register(
        "q_stream_sessions",
        description=(
            "Structured Streaming session_window gap sessionization (merging state). "
            "Matches batch sessionize counts on in-order replay; unit-tested."
        ),
        tags=("streaming", "extension"),
    )(lambda spark, sf_dir: run_streaming_sessionization(spark, sf_dir, query_name="q_stream_sessions_sink"))

    register(
        "q_stream_dedup",
        description=(
            "Structured Streaming dedup (dropDuplicatesWithinWatermark on "
            "(user_id, event_type)) reduced to survivor counts; equals batch "
            "count-distinct on one-batch replay, unit-tested."
        ),
        tags=("streaming", "dedup", "extension"),
    )(lambda spark, sf_dir: run_streaming_dedup(spark, sf_dir, query_name="q_stream_dedup_sink"))

    register(
        "q_stream_sliding_topk",
        description=(
            "Structured Streaming sliding-window (1h window / 15min slide) trending "
            "top-3 event types: stateful overlapping-window counts under a watermark, "
            "ranked on the sink frame. Equals the batch twin on replay; unit-tested."
        ),
        tags=("streaming", "extension"),
    )(lambda spark, sf_dir: run_streaming_sliding_topk(spark, sf_dir, query_name="q_stream_sliding_topk_sink"))

    def _stream_psi(spark, sf_dir):
        from healthcare_etl_spark.streaming.drift import run_streaming_psi_drift

        return run_streaming_psi_drift(spark, sf_dir, query_name="q_stream_psi_sink")

    register(
        "q_stream_psi_drift",
        description=(
            "Streaming distribution-drift monitor: the ref/cur value "
            "histograms maintained incrementally as streaming state (the "
            "state IS the dimension-sized histogram grid — mergeable "
            "count sketches, so complete mode is bounded), PSI folded "
            "from the materialized grid. Equals the oracle-checked batch "
            "q_psi_drift on replay; equivalence and multi-batch merge "
            "unit-tested."
        ),
        tags=("streaming", "extension", "timeseries"),
    )(_stream_psi)

    def _stream_hll(spark, sf_dir):
        return run_streaming_hll_distinct(spark, sf_dir, query_name="q_stream_hll_sink")

    register(
        "q_stream_hll_distinct",
        description=(
            "Streaming incremental HyperLogLog distinct-users per day: "
            "state = (window, register) max-rank table (m=64 rows per "
            "window, commutative/idempotent merge across micro-batches), "
            "estimate folded on the sink frame plus a register-merged "
            "ALL rollup row. Equals the batch twin on replay (shared "
            "register + fold code); equivalence unit-tested."
        ),
        tags=("streaming", "sketch", "extension"),
    )(_stream_hll)

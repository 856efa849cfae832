"""SparkSession factory with scale-aware defaults.

The reference runs a single-threaded pandas process (reference
``etl_app/Dockerfile:17``); here the equivalent entry point is a
SparkSession tuned for the local[] test harness but with settings that
carry to a real cluster (AQE, adaptive coalescing, Arrow transfers).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "healthcare-etl-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults follow the local-mode guidance: shuffle partitions sized to
    cores (not the 200 default, which over-parallelizes small local runs
    and under-parallelizes huge ones), AQE enabled so runtime statistics
    can re-plan joins/partitions, UTC session timezone so timestamp
    semantics match the DuckDB oracle. PySpark's call-site capture
    (``spark.python.sql.dataFrameDebugging.enabled``) is off: it walks the
    Python stack for every Column built (2.3 ms per ``F.col(...).alias``
    against 0.6 ms without, PySpark 4.1 on a 4-vCPU host), a large share
    of the plan build of Column-heavy queries. It is a static conf, so it
    is set here on the builder; analysis errors still name the offending
    column.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 4)
        except (TypeError, ValueError):
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure_session(spark)
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs this library relies on.

    Safe to call on a session we did not create (the verify driver owns
    its own session): only runtime-settable SQL confs are touched.

    Timestamp normalization policy (the canonical type is TIMESTAMP with
    the session tz pinned to UTC — one type at the read boundary so no
    downstream operator ever branches on it):

    - ``inferTimestampNTZ.enabled=false``: the fixtures store plain
      ``timestamp[us]`` parquet, which Spark 4.x would otherwise read as
      ``TIMESTAMP_NTZ`` (a type ``unix_micros`` and double-casts reject).
      With the conf off, µs parquet reads as plain ``TIMESTAMP``; under
      the UTC session tz the wall-clock values are identical to what
      DuckDB's naive timestamps produce.
    - ``nanosAsLong=true``: kept as a guarded fallback for producers that
      write ``TIMESTAMP(NANOS)`` (the pre-round-4 fixture did) — Spark's
      reader rejects nanos outright, so we read them as long and convert
      in ``sources.readers.load_table``.

    This is the one place those confs are set. It also puts the
    directory holding the ``healthcare_etl_spark`` package first on the
    Python workers' ``PYTHONPATH``: UDFs and Arrow kernels import the
    package inside the workers, which otherwise find it only when the
    process runs from the repo root or its own ``PYTHONPATH`` names it.
    """
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p and p != root]
    env["PYTHONPATH"] = os.pathsep.join([root, *paths])
    return spark

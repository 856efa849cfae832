"""Sinks (SURVEY.md §2.1 S2).

The reference loads with ``df.to_sql(name, engine, if_exists='replace',
index=False)`` (reference ``etl_app/etl_script.py:164-168``): drop +
recreate, no index column. Spark's ``mode('overwrite')`` is the same
contract; Spark has no row index so ``index=False`` is implicit.

Parquet (optionally partitioned) is the idiomatic durable interchange at
scale; JDBC is kept as an optional connector with the knobs that matter
for parallel writes (batchsize, numPartitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_table(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet table with the replace-on-load semantics of the
    reference's ``if_exists='replace'``.

    ``partition_by`` is the 100 TB lever the reference lacks: a fact
    table partitioned by date gives partition pruning on every
    time-bounded query.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    *,
    bucket_cols: list[str],
    num_buckets: int = 32,
) -> None:
    """Bucketed managed table (replaced if it exists): later equi-joins/aggregations on
    ``bucket_cols`` co-locate without a shuffle — the pre-partitioning
    strategy for repeatedly-joined 100 TB fact tables.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table_name)
    )


def materialize(df: DataFrame) -> DataFrame:
    """Cache/materialize (SURVEY.md §2.1 S5) — the reference memoizes its
    loaded table with ``@st.cache_data`` (reference ``dashboard_app/app.py:28``)
    so dashboard interactions don't re-scan.

    Spark equivalent: ``persist(MEMORY_AND_DISK)`` + an eager count to populate. Note the
    local-mode caveat measured in this repo: for cheap-to-recompute
    lineages AQE's ReuseExchange often beats an explicit cache — persist
    only what several *jobs* (not branches of one job) will reuse.
    """
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "overwrite",
    properties: dict | None = None,
    num_partitions: int | None = None,
    batch_size: int = 10_000,
) -> None:
    """JDBC sink with overwrite semantics (reference ``etl_script.py:168``).

    The reference's retry-connect loop (``etl_script.py:144-160``) is a
    connector-availability concern, not an operator; Spark retries
    failed *tasks* automatically, and the driver-side connect retry is
    ``sources.retry.write_jdbc_with_retry`` (S4).
    """
    props = {"batchsize": str(batch_size), **(properties or {})}
    out = df.repartition(num_partitions) if num_partitions else df
    out.write.mode(mode).jdbc(url, table, properties=props)

"""Connection retry for JDBC endpoints (SURVEY.md §2.1 S4).

The reference blocks at startup until its database accepts connections:
a loop of up to 5 attempts sleeping 10 s between failures (reference
``etl_app/etl_script.py:133-155``, ``max_retries=5`` /
``time.sleep(10)``). That behavior belongs at the connector boundary,
not inside operators — Spark already retries failed *tasks*; what it
does not retry is the driver-side connect that resolves a JDBC schema
(``spark.read.jdbc`` connects eagerly at ``load()``) or opens the write
transaction. These wrappers reproduce the reference's loop around
exactly those two driver-side moments.

``sleep`` is injectable so tests (and callers embedding this in an
async scheduler) don't serialize on real wall-clock waits.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def with_retry(
    fn: Callable[[], T],
    *,
    attempts: int = 5,
    delay_seconds: float = 10.0,
    sleep: Callable[[float], None] = time.sleep,
) -> T:
    """Call ``fn`` up to ``attempts`` times, sleeping ``delay_seconds``
    between failures; re-raise the last error once attempts are spent.

    Mirrors the reference's connect loop (``etl_script.py:133-155``):
    fixed delay, bounded attempts, final failure propagates.
    """
    if attempts < 1:
        raise ValueError("attempts must be >= 1")
    last: BaseException | None = None
    for attempt in range(1, attempts + 1):
        try:
            return fn()
        except Exception as exc:  # noqa: PERF203 - retry loop by design
            last = exc
            if attempt < attempts:
                sleep(delay_seconds)
    assert last is not None
    raise last


def read_jdbc_with_retry(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    attempts: int = 5,
    delay_seconds: float = 10.0,
    sleep: Callable[[float], None] = time.sleep,
    **read_kwargs,
) -> DataFrame:
    """``readers.read_jdbc`` wrapped in the reference's retry loop.

    The retried step is the eager schema-resolving connect; the returned
    DataFrame is lazy as usual (executor-side fetch failures are
    Spark-task-retried, not re-looped here).
    """
    from healthcare_etl_spark.sources.readers import read_jdbc

    return with_retry(
        lambda: read_jdbc(spark, url, table, **read_kwargs),
        attempts=attempts,
        delay_seconds=delay_seconds,
        sleep=sleep,
    )


def write_jdbc_with_retry(
    df: DataFrame,
    url: str,
    table: str,
    *,
    attempts: int = 5,
    delay_seconds: float = 10.0,
    sleep: Callable[[float], None] = time.sleep,
    **write_kwargs,
) -> None:
    """``writers.write_jdbc`` wrapped in the reference's retry loop
    (reference ``etl_script.py:164-168`` runs after the connect loop;
    here the whole replace-write retries, which is safe because
    ``mode='overwrite'`` is idempotent)."""
    from healthcare_etl_spark.sources.writers import write_jdbc

    with_retry(
        lambda: write_jdbc(df, url, table, **write_kwargs),
        attempts=attempts,
        delay_seconds=delay_seconds,
        sleep=sleep,
    )

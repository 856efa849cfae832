"""Custom stateful streaming operator via ``applyInPandasWithState``.

Demonstrates the arbitrary-state API the built-in windows can't express:
a per-user running profile (event count, value sum, last-seen timestamp)
that updates incrementally as micro-batches arrive, with state kept in
the state store between triggers.

At scale the state store is partitioned by the grouping key across
executors; state size is O(distinct users), not O(events).

The job runs through the memory-sink protocol of
``windows._memory_run`` in ``update`` mode.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from healthcare_etl_spark.streaming.windows import _memory_run, streaming_events

OUTPUT_SCHEMA = "user_id LONG, n_events LONG, total_value DOUBLE, last_seen STRING"
STATE_SCHEMA = "n LONG, total DOUBLE, last_us LONG"


def _update_user_profile(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this trigger's rows for one user into the running state."""
    (user_id,) = key
    if state.exists:
        n, total, last_us = state.get
    else:
        n, total, last_us = 0, 0.0, 0

    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
        batch_max_us = int(pdf["ts"].astype("int64").max() // 1000)
        last_us = max(last_us, batch_max_us)

    state.update((n, total, last_us))
    last_seen = pd.Timestamp(last_us, unit="us").strftime("%Y-%m-%d %H:%M:%S")
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [round(total, 4)],
            "last_seen": [last_seen],
        }
    )


def run_stateful_user_profiles(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_name: str = "stream_user_profiles",
) -> DataFrame:
    """Run the stateful profile job over the fixture replay to completion.

    Update-mode memory sink: the final row per user reflects all events,
    equivalent to the batch groupBy — asserted in tests.
    """
    ev = streaming_events(spark, sf_dir).select("user_id", "ts", "value")
    profiles = ev.groupBy("user_id").applyInPandasWithState(
        _update_user_profile,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # update-mode memory sink appends each update; keep the last per user
    _memory_run(profiles, query_name, "update").createOrReplaceTempView(f"{query_name}_raw")
    return spark.sql(
        f"""
        SELECT user_id, n_events, total_value, last_seen FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) AS rn
            FROM {query_name}_raw
        ) WHERE rn = 1
        """
    )


def register_stateful_queries() -> None:
    from healthcare_etl_spark.plans.registry import register

    register(
        "q_stream_stateful_profiles",
        description=(
            "Custom stateful streaming operator (applyInPandasWithState): per-user "
            "running profile folded across micro-batches in the state store. "
            "Rows-only check; equivalence to the batch groupBy is unit-tested."
        ),
        tags=("streaming", "extension", "stateful"),
    )(lambda spark, sf_dir: run_stateful_user_profiles(spark, sf_dir, query_name="q_stateful_sink"))


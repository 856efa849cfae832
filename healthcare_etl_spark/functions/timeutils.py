"""Timestamp-type-robust time arithmetic helpers.

Every event-time operator converts timestamps to epoch numbers through
these helpers instead of calling ``unix_micros``/``cast('double')``
directly. Rationale (the round-4 lesson): ``unix_micros`` rejects
``TIMESTAMP_NTZ`` outright and ``cast(ntz as double)`` is illegal, so an
operator that hard-codes either breaks the moment a producer's physical
parquet type changes. Routing through ``cast('timestamp')`` first is

- a no-op on a column that is already ``TIMESTAMP``;
- legal and value-preserving on ``TIMESTAMP_NTZ`` under the engine's
  pinned UTC session timezone (wall-clock fields are reinterpreted as
  UTC instants — exactly the DuckDB-naive-timestamp semantics the
  oracles use);
- legal on ``DATE`` (midnight UTC).

Both helpers are pure column expressions — they stay inside whole-stage
codegen, no UDF, no Python round-trip.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Output format of every formatted timestamp (batch and streaming twins
# must format identically).
TS_FMT = "yyyy-MM-dd HH:mm:ss"


def ts_micros(col: Column | str) -> Column:
    """Epoch microseconds (BIGINT) from TIMESTAMP / TIMESTAMP_NTZ / DATE."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def ts_seconds(col: Column | str) -> Column:
    """Epoch seconds (DOUBLE, µs precision) — the gap/duration workhorse."""
    return ts_micros(col) / F.lit(1_000_000.0)

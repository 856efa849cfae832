"""Relational operators (SURVEY.md §2.2 P4-P7, §2.3 J1, §2.5 O1-O2).

Each helper is a pure DataFrame -> DataFrame function, composable with
``df.transform``. They are deliberately thin: the value is the
documented mapping from the reference's pandas semantics to the
Catalyst-optimizable Spark form, plus the scale annotations (broadcast,
top-k fusion) that matter at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def filter_eq(df: DataFrame, column: str, value) -> DataFrame:
    """Equality filter (P4) — reference ``etl_script.py:99``.

    Declared as a Column predicate so Catalyst pushes it below joins and
    into the parquet scan (PushedFilters); the reference had to order
    this by hand before its merge.
    """
    return df.filter(F.col(column) == value)


def project(df: DataFrame, columns: list[str]) -> DataFrame:
    """Column projection (P5) — reference ``etl_script.py:105``.

    Catalyst's ColumnPruning carries this into the scan: a parquet read
    under this projection materializes only these columns.
    """
    return df.select(*columns)


def drop_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """Drop columns (P6) — reference ``etl_script.py:112``.

    Kept for its *semantic* effect (which join side supplies
    ``state``/``facility_name``); the performance effect is automatic.
    """
    return df.drop(*columns)


def broadcast_inner_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """Inner equi-join with a broadcast right side (J1) — reference
    ``etl_script.py:119`` (``pd.merge(..., on='facility_id',
    how='inner')``).

    The dimension side (hospital_info, ~5k rows in the reference) is
    broadcast so the 100 TB fact side never shuffles for this join.
    Duplicate-key semantics match ``pd.merge``: matching keys produce the
    cross-product of matches. Using the ``on=<name>`` form dedupes the
    key column exactly like pandas' single ``facility_id`` output column.
    """
    return left.join(F.broadcast(right), on=on, how="inner")


def top_k(df: DataFrame, order_by: list[Column], k: int) -> DataFrame:
    """Global top-k (O1+O2) — reference ``app.py:95-101`` (sort + head).

    ``orderBy(...).limit(k)`` fuses into ``TakeOrderedAndProject``:
    each partition keeps a k-row heap and only k rows per partition reach
    the driver — never a full global sort, no matter the table size.
    Callers should include a unique tiebreak column for determinism.
    """
    return df.orderBy(*order_by).limit(k)


def top_n_per_group(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column],
    n: int,
) -> DataFrame:
    """Top-N per group — the window-function generalization of O1+O2
    (SURVEY.md §2.8): one shuffle on the group key, then a per-partition
    sort; no global sort.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .drop("rn")
    )


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    *,
    n_salts: int = 8,
    salt_source: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: the *fix* for what ``q_skew_profile``
    diagnoses (heavy-hitter join keys that funnel one shuffle partition).

    The fact side gets a deterministic salt in ``[0, n_salts)`` derived
    from ``salt_source`` (a stable, roughly-unique fact column — e.g. an
    event id; defaults to ``fact_key``, which still helps when several
    hot keys land in one partition, though rows of a single hot key then
    share a salt — pass a unique column to split *within* a hot key).
    The dim side is exploded ``n_salts``-fold so every (key, salt) pair
    exists; the join runs on ``(key, salt)``, spreading each hot key
    over ``n_salts`` shuffle partitions. Semantics are IDENTICAL to the
    unsalted join for ``inner`` and ``left``: each fact row carries
    exactly one salt and meets each matching dim row exactly once.
    ``right``/``full`` are rejected — unmatched dim rows would surface
    once per salt.

    Scale notes (100 TB): the fact side never reads the dim more than
    once; the dim replication cost is ``n_salts ×`` the dim size, which
    is the standard trade against a straggler partition. Prefer AQE
    skew-join (``spark.sql.adaptive.skewJoin.enabled``) when splitting
    by partition size is enough; explicit salting is the deterministic
    fallback AQE cannot apply (e.g. a single key larger than any
    split threshold, or a required deterministic layout).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports how='inner'|'left', got {how!r}")
    src = salt_source or fact_key
    f = facts.withColumn("__salt", F.pmod(F.xxhash64(F.col(src)), F.lit(n_salts)))
    d = dim.withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
    joined = f.join(d, (F.col(fact_key) == F.col(dim_key)) & (f["__salt"] == d["__salt"]), how)
    return joined.drop("__salt")

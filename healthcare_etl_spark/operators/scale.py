"""Scale-pattern operators: upserts, snapshots, global ranks.

These are the patterns that keep the 100 TB plans healthy when the
built-in machinery needs help:

- ``latest_snapshot``: upsert/compaction semantics — keep the newest row
  per key (the batch equivalent of MERGE INTO ... WHEN MATCHED UPDATE).
- ``scd2_merge``: slowly-changing-dimension type-2 emulation without
  Delta: close out changed rows, append new versions. Expressed as
  anti-join + union + window, all shuffle-on-key.
- ``bucketed_rank`` / ``bucketed_prefix``: GLOBAL row_number / prefix
  aggregates over a total order WITHOUT a single-partition sort — the
  two-phase bucketed carry (within-bucket window partitioned by an
  order-aligned bucket key + a bucket-count-sized prefix over the
  bucket summaries, broadcast back). The generalization of the
  pattern the keyless as-of join, watermark audit and Heaps fit use
  inline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def latest_snapshot(
    df: DataFrame,
    *,
    key: str | list[str],
    order_by: list[Column],
) -> DataFrame:
    """Keep the latest row per key (upsert compaction).

    One shuffle on the key; ``row_number`` + filter fuses with
    WindowGroupLimit so each partition pre-filters before the shuffle.
    ``order_by`` must be a total order (include a unique tiebreak) for
    deterministic output.
    """
    keys = [key] if isinstance(key, str) else key
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


OPEN_END = "9999-12-31 00:00:00"  # effective_to of the current version


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    *,
    key: str,
    compare_cols: list[str],
) -> DataFrame:
    """SCD type-2 merge without a lakehouse MERGE INTO.

    ``dim`` carries the validity columns ``effective_from`` and
    ``effective_to`` (``OPEN_END`` while current); ``updates`` carries
    ``update_ts``.

    - rows in ``dim`` whose key gets an update with changed
      ``compare_cols``: closed out (``effective_to`` = update time);
    - new version rows appended, open-ended;
    - unchanged rows pass through.

    All operations are key-partitioned joins/unions — no driver loops.
    ``updates`` must contain one row per key (pre-compact with
    ``latest_snapshot`` otherwise).
    """
    upd_cols = [key, "update_ts", *compare_cols]
    upd = updates.select(*upd_cols)

    changed_cond = F.lit(False)
    for c in compare_cols:
        changed_cond = changed_cond | ~F.col(f"d.{c}").eqNullSafe(F.col(f"u.{c}"))

    open_rows = dim.filter(F.col("effective_to") == OPEN_END)
    closed_rows = dim.filter(F.col("effective_to") != OPEN_END)

    joined = open_rows.alias("d").join(upd.alias("u"), on=key, how="left")
    unchanged = joined.filter(F.col("u.update_ts").isNull() | ~changed_cond).select("d.*")
    closed_out = (
        joined.filter(F.col("u.update_ts").isNotNull() & changed_cond)
        .select("d.*", F.col("u.update_ts").alias("__close_ts"))
        .withColumn("effective_to", F.col("__close_ts"))
        .drop("__close_ts")
    )
    # New versions take the updated compare_cols from the update row and
    # every other dim attribute (surrogate keys, non-tracked columns)
    # from the matched open row, so arbitrary dim schemas round-trip.
    passthrough = [
        c
        for c in dim.columns
        if c not in {key, "effective_from", "effective_to", *compare_cols}
    ]
    new_versions = (
        joined.filter(F.col("u.update_ts").isNotNull() & changed_cond)
        .select(
            F.col(f"d.{key}").alias(key),
            *[F.col(f"d.{c}").alias(c) for c in passthrough],
            *[F.col(f"u.{c}").alias(c) for c in compare_cols],
            F.col("u.update_ts").alias("effective_from"),
            F.lit(OPEN_END).alias("effective_to"),
        )
    )
    base_cols = dim.columns
    return (
        closed_rows.select(*base_cols)
        .unionByName(unchanged.select(*base_cols))
        .unionByName(closed_out.select(*base_cols))
        .unionByName(new_versions.select(*base_cols))
    )


def _with_buckets(df: DataFrame, buckets: list[Column]) -> tuple[DataFrame, list[str]]:
    names = [f"__bkt{i}" for i in range(len(buckets))]
    return df.select("*", *[b.alias(n) for b, n in zip(buckets, names)]), names


def bucketed_rank(
    df: DataFrame,
    *,
    buckets: list[Column],
    order_by: list[Column],
    out_col: str = "rk",
) -> DataFrame:
    """Global ``row_number()`` over a total order with NO
    single-partition sort (the 100 TB-safe form of
    ``Window.orderBy(...)``).

    ``buckets`` must be a lexicographic coarsening of ``order_by``:
    every row of bucket tuple B sorts before every row of bucket tuple
    B' whenever B < B' (e.g. bucket = ``key div 4096`` for an ascending
    integer key, or ``floor(-key / w)`` for a descending one). Given
    that, the global rank decomposes exactly:

    - phase 1: ``row_number`` within each bucket (window PARTITIONED by
      the bucket tuple — fully distributed);
    - phase 2: exclusive prefix-sum of per-bucket row counts over the
      bucket-count-sized summary (data/bucket_width rows; recurse the
      same trick for another 4096x if that frame ever stops being
      metadata-scale), broadcast-joined back;
    - rank = bucket offset + within-bucket rank.

    The result is bit-identical to the keyless window whatever bucket
    width is chosen — bucketing only moves WHERE each row's rank is
    computed — so callers tune width purely for skew.
    """
    b, names = _with_buckets(df, buckets)
    w_in = Window.partitionBy(*names).orderBy(*order_by)
    rows = b.withColumn("__rk_in", F.row_number().over(w_in))
    counts = b.groupBy(*names).agg(F.count(F.lit(1)).alias("__n"))
    w_b = Window.orderBy(*names).rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        *names, F.coalesce(F.sum("__n").over(w_b), F.lit(0)).alias("__off")
    )
    out = rows.join(F.broadcast(offs), names)
    return out.withColumn(
        out_col, (F.col("__off") + F.col("__rk_in")).cast("long")
    ).drop("__rk_in", "__off", *names)


def bucketed_prefix(
    df: DataFrame,
    *,
    buckets: list[Column],
    order_by: list[Column],
    value: Column,
    agg: str = "sum",
    exclusive: bool = True,
    out_col: str = "prefix",
) -> DataFrame:
    """Global running ``sum``/``max`` of ``value`` over a total order
    with NO single-partition sort — same two-phase carry as
    ``bucketed_rank`` (see its docstring for the bucket contract).

    ``exclusive=True`` gives the frame ``rowsBetween(unboundedPreceding,
    -1)``: with ``agg="max"`` over the order key itself that is exactly
    ``lag(key)`` (monotone key), and with ``agg="sum"`` the
    rank-arithmetic "count of rows strictly before me". The very first
    row's exclusive prefix is NULL for ``max`` (greatest() skips NULLs
    but returns NULL when both phases are empty) and for ``sum`` is
    coalesced to 0 — matching the keyless-window semantics callers
    already rely on.
    """
    if agg not in ("sum", "max"):
        raise ValueError(f"bucketed_prefix: agg={agg!r} not in ('sum', 'max')")
    fagg = F.sum if agg == "sum" else F.max
    end = -1 if exclusive else Window.currentRow
    b, names = _with_buckets(df, buckets)
    b = b.withColumn("__v", value)
    w_in = (
        Window.partitionBy(*names)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    rows = b.withColumn("__in", fagg("__v").over(w_in))
    btot = b.groupBy(*names).agg(fagg("__v").alias("__bv"))
    w_b = Window.orderBy(*names).rowsBetween(Window.unboundedPreceding, -1)
    bprev = btot.select(*names, fagg("__bv").over(w_b).alias("__prev"))
    out = rows.join(F.broadcast(bprev), names)
    if agg == "sum":
        comb = F.coalesce("__in", F.lit(0)) + F.coalesce("__prev", F.lit(0))
    else:
        comb = F.greatest("__in", "__prev")
    return out.withColumn(out_col, comb).drop("__in", "__prev", "__v", *names)


def ntile_from_rank(rank: Column, n: Column, tiles: int) -> Column:
    """Closed-form ``ntile(tiles)`` from a precomputed global rank
    (1-based ``row_number`` over a TOTAL order) and the broadcast scalar
    row count ``n`` — the arithmetic companion to ``bucketed_rank`` that
    replaces a partitionless ntile window. Bit-identical to Spark/ANSI
    ntile: the first (n mod tiles) tiles hold (n div tiles)+1 rows, the
    rest (n div tiles).
    """
    q = F.floor(n / F.lit(tiles)).cast("long")
    r = n % tiles
    big = r * (q + F.lit(1))
    return (
        F.when(rank <= big, F.floor((rank - 1) / (q + F.lit(1))).cast("long") + 1)
        .otherwise(
            r + F.floor((rank - big - 1) / F.greatest(q, F.lit(1))).cast("long") + 1
        )
        .cast("long")
    )

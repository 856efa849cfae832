"""Z-order (Morton) keys for multi-dimensional data layout.

Sorting a table by a single column gives parquet row-group/file min-max
stats that prune scans on THAT column only; filters on a second column
still read everything. Interleaving the bits of two (or more) columns
into one Morton key and sorting by it bounds every file in a small
hyper-rectangle of the key space, so min-max stats prune scans on ANY
participating column — the standard lakehouse Z-ORDER BY. At 100 TB
this is the difference between reading one file and reading the fleet
for a point lookup on a non-partition column.

Pure JVM-side bit arithmetic (shifts/and/or fold into one codegen'd
expression) — no UDF, and the unrolled sum form is mirrorable in ANSI
SQL for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_BITS = 16


def morton_key(x: Column | str, y: Column | str, *, bits: int = DEFAULT_BITS) -> Column:
    """Interleave the low ``bits`` bits of two non-negative ints:
    result bit ``2i`` is bit ``i`` of x, bit ``2i+1`` is bit ``i`` of y.

    Values are masked to ``bits`` first (callers bucket/clamp their
    columns into range — at 16 bits/dim the key fits comfortably in a
    BIGINT with room for a third dimension).
    """
    cx = (F.col(x) if isinstance(x, str) else x).cast("long")
    cy = (F.col(y) if isinstance(y, str) else y).cast("long")
    mask = (1 << bits) - 1
    cx = cx.bitwiseAND(F.lit(mask))
    cy = cy.bitwiseAND(F.lit(mask))
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key + F.shiftleft(F.shiftright(cx, i).bitwiseAND(F.lit(1)), 2 * i)
        key = key + F.shiftleft(F.shiftright(cy, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return key


def morton_key_sql(x: str, y: str) -> str:
    """ANSI-SQL mirror of ``morton_key`` at ``DEFAULT_BITS`` (unrolled
    shift-and-add) for DuckDB oracles: textually the same arithmetic,
    bit for bit."""
    mask = (1 << DEFAULT_BITS) - 1
    terms = []
    for i in range(DEFAULT_BITS):
        terms.append(f"(((({x}) & {mask}) >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(((({y}) & {mask}) >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"

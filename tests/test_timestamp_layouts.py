"""Regression guard for events.parquet timestamp-type drift, and for
the footer-keyed schema memo under ``load_table``.

The driver has shipped events.parquet with three different ``ts``
encodings across rounds: ns-precision INT64, µs TIMESTAMP_NTZ, and
tz-aware TIMESTAMP. Round 2 ended with every unix_millis() call site
throwing DATATYPE_MISMATCH when the layout flipped to NTZ — this module
pins all three layouts so any future drift fails here first, not in the
driver's correctness gate.

``load_table`` reuses the schema Spark inferred for the same footers
(``sources.readers.read_parquet``); the tests below pin that it returns
what a plain ``spark.read.parquet`` returns, launches no job for a table
already seen, and never serves a schema for files that have since
changed.
"""

from __future__ import annotations

import datetime as dt
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, StructField, StructType, TimestampType

from lakehouse_architecture_spark.queries.advanced import asof_join_purchase_click
from lakehouse_architecture_spark.queries.events import (
    events_hourly_by_type,
    events_sessionization,
)
from lakehouse_architecture_spark.sources.readers import read_parquet
from lakehouse_architecture_spark.sources.tables import TESTDATA_TABLES, load_table

# Two users; user 1 has a >30 min gap (new session), user 2 one session.
# Clicks precede purchases so the as-of join finds a prior click.
_BASE = dt.datetime(2025, 5, 1, 12, 0, 0)
_ROWS = [
    (1, _BASE, 1, "click", 1.0, "{}"),
    (2, _BASE + dt.timedelta(minutes=5), 1, "purchase", 9.9, "{}"),
    (3, _BASE + dt.timedelta(minutes=50), 1, "click", 1.0, "{}"),
    (4, _BASE + dt.timedelta(minutes=55), 1, "purchase", 5.0, "{}"),
    (5, _BASE, 2, "click", 1.0, "{}"),
    (6, _BASE + dt.timedelta(minutes=10), 2, "purchase", 3.0, "{}"),
]

_LAYOUTS = {
    # what the driver ships today
    "ntz_us": pa.timestamp("us"),
    # what it shipped in rounds 1-2 (Spark reads via nanosAsLong)
    "ns": pa.timestamp("ns"),
    # the plain tz-aware layout Spark maps straight to TIMESTAMP
    "tz_us": pa.timestamp("us", tz="UTC"),
}


def _write_events(tmp_path, ts_type) -> str:
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in _ROWS], pa.int64()),
            "ts": pa.array([r[1] for r in _ROWS]).cast(ts_type),
            "user_id": pa.array([r[2] for r in _ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in _ROWS], pa.string()),
            "value": pa.array([r[4] for r in _ROWS], pa.float64()),
            "props": pa.array([r[5] for r in _ROWS], pa.string()),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    return str(tmp_path)


def _plain_schema(spark, sf_dir: str, name: str) -> StructType:
    """What ``load_table`` returns without the schema memo: a plain
    ``spark.read.parquet``, with events' ``ts`` normalised to TIMESTAMP.
    Call it after ``load_table``, which sets the events read confs."""
    schema = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    if name != "events":
        return schema
    return StructType(
        [StructField("ts", TimestampType(), f.nullable) if f.name == "ts" else f
         for f in schema]
    )


@pytest.mark.parametrize("name", TESTDATA_TABLES)
def test_load_table_schema_matches_plain_read(spark, sf_dir, name):
    for _ in range(2):  # the first load may fill the memo, the second reads it
        got = load_table(spark, sf_dir, name).schema
        assert got == _plain_schema(spark, sf_dir, name)


@pytest.mark.parametrize("layout", sorted(_LAYOUTS))
def test_load_events_normalizes_ts_to_timestamp(spark, tmp_path, layout):
    sf_dir = _write_events(tmp_path, _LAYOUTS[layout])
    ev = load_table(spark, sf_dir, "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampType), (
        f"{layout}: ts must normalize to TIMESTAMP, got {ev.schema['ts'].dataType}"
    )
    # the same schema as the plain read, also when served from the memo
    assert ev.schema == _plain_schema(spark, sf_dir, "events")
    assert load_table(spark, sf_dir, "events").schema == ev.schema
    # values identical across layouts (UTC session tz makes casts lossless)
    millis = sorted(
        r[0]
        for r in ev.selectExpr("unix_millis(ts)").collect()
    )
    expected = sorted(int(r[1].replace(tzinfo=dt.timezone.utc).timestamp() * 1000) for r in _ROWS)
    assert millis == expected


@pytest.mark.parametrize("layout", sorted(_LAYOUTS))
def test_events_queries_run_on_every_layout(spark, tmp_path, layout):
    sf_dir = _write_events(tmp_path, _LAYOUTS[layout])

    sessions = events_sessionization(spark, sf_dir).collect()
    # user 1 has two sessions (50-min gap), user 2 one
    per_user = {r["user_id"]: r["n_sessions"] for r in sessions}
    assert per_user == {1: 2, 2: 1}

    asof = asof_join_purchase_click(spark, sf_dir)
    assert asof.count() == 3  # every purchase has a prior click

    hourly = events_hourly_by_type(spark, sf_dir)
    assert hourly.count() > 0


def test_loader_pins_utc_on_non_utc_session(spark, tmp_path):
    """The driver's harness uses a plain SparkSession; if the host tz
    weren't UTC the NTZ cast would shift values. The loader must pin the
    session tz itself."""
    sf_dir = _write_events(tmp_path, _LAYOUTS["ntz_us"])
    original = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ev = load_table(spark, sf_dir, "events")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        millis = sorted(r[0] for r in ev.selectExpr("unix_millis(ts)").collect())
        expected = sorted(
            int(r[1].replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
            for r in _ROWS
        )
        assert millis == expected
    finally:
        spark.conf.set("spark.sql.session.timeZone", original)


def test_second_load_of_a_table_launches_no_job(spark, sf_dir, tmp_path, jobs_launched):
    """Only the first load of a footer runs Spark's schema-inference job."""
    # a column name no other test writes, so the first load is a miss
    fresh = pq.read_table(f"{sf_dir}/orders.parquet")
    fresh = fresh.append_column(
        f"c_{uuid.uuid4().hex}", pa.nulls(fresh.num_rows, pa.int64())
    )
    pq.write_table(fresh, str(tmp_path / "orders.parquet"))

    assert len(jobs_launched(lambda: load_table(spark, str(tmp_path), "orders"))) >= 1
    assert len(jobs_launched(lambda: load_table(spark, str(tmp_path), "orders"))) == 0
    assert len(jobs_launched(lambda: load_table(spark, sf_dir, "orders"))) <= 1
    assert len(jobs_launched(lambda: load_table(spark, sf_dir, "orders"))) == 0


@pytest.mark.parametrize("change", ["added", "renamed"])
def test_rewritten_table_is_read_with_its_new_schema(spark, sf_dir, tmp_path, change):
    """A file rewritten in place has a new footer, hence a new memo key:
    the next load infers its schema, no stale entry is served."""
    orders = pq.read_table(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "orders.parquet")
    pq.write_table(orders, path)
    before = load_table(spark, str(tmp_path), "orders").columns
    assert before == orders.column_names

    if change == "added":
        changed = orders.append_column(
            "o_extra", pa.array(range(orders.num_rows), pa.int64())
        )
    else:
        changed = orders.rename_columns(
            ["o_key_renamed" if c == "o_orderkey" else c for c in orders.column_names]
        )
    pq.write_table(changed, path)
    df = load_table(spark, str(tmp_path), "orders")
    assert df.columns == changed.column_names
    assert df.schema == _plain_schema(spark, str(tmp_path), "orders")
    assert df.count() == orders.num_rows
    col = changed.column_names[-1] if change == "added" else "o_key_renamed"
    assert df.where(df[col].isNull()).count() == 0  # a stale schema reads NULLs

    pq.write_table(orders, path)  # back to the first footer: the first schema
    assert load_table(spark, str(tmp_path), "orders").columns == before


def test_int96_and_int64_nanos_get_their_own_schemas(spark, tmp_path):
    """Both columns convert to Arrow ``timestamp[ns]``, but Spark infers
    TIMESTAMP for INT96 and BIGINT for INT64 nanos (``nanosAsLong``): the
    memo key is the parquet schema, so neither is served the other's."""
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    original = spark.conf.get(conf, None)
    spark.conf.set(conf, "true")
    try:
        ts = pa.table({"ts": pa.array([_BASE]).cast(pa.timestamp("ns"))})
        pq.write_table(ts, str(tmp_path / "ns.parquet"), version="2.6", store_schema=False)
        pq.write_table(ts, str(tmp_path / "int96.parquet"),
                       use_deprecated_int96_timestamps=True, store_schema=False)
        for _ in range(2):
            ns = read_parquet(spark, str(tmp_path / "ns.parquet"))
            int96 = read_parquet(spark, str(tmp_path / "int96.parquet"))
            epoch_s = int(_BASE.replace(tzinfo=dt.timezone.utc).timestamp())
            assert ns.collect()[0].ts == epoch_s * 10**9
            assert isinstance(int96.schema["ts"].dataType, TimestampType)
    finally:
        if original is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, original)


def test_nanos_conf_keys_only_footers_with_int64_nanos(spark, sf_dir, tmp_path, jobs_launched):
    """``nanosAsLong`` changes the inference of INT64 TIMESTAMP(NANOS)
    columns only: flipping it, as loading events does, re-infers no
    table without one, while a file with one is never served the schema
    inferred under the other setting (there, ``false`` is an error)."""
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    original = spark.conf.get(conf, None)
    ns_path = str(tmp_path / "ns.parquet")
    ts = pa.table({"ts": pa.array([_BASE]).cast(pa.timestamp("ns"))})
    pq.write_table(ts, ns_path, version="2.6", store_schema=False)
    try:
        spark.conf.set(conf, "false")
        load_table(spark, sf_dir, "lineitem")
        spark.conf.set(conf, "true")
        assert jobs_launched(lambda: load_table(spark, sf_dir, "lineitem")) == []
        assert isinstance(read_parquet(spark, ns_path).schema["ts"].dataType, LongType)
        spark.conf.set(conf, "false")
        with pytest.raises(Exception, match="TIMESTAMP\\(NANOS"):
            read_parquet(spark, ns_path)
    finally:
        if original is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, original)

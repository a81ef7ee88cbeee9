"""The fixed cost of a registry pass: the Spark jobs of a warm headline
query, both sides of each size dispatch on its path (with equal rows on
both), the session's origin capture, and the warm MinHash slot that
builds no plan."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from lakehouse_architecture_spark.operators import minhash, partitioning
from lakehouse_architecture_spark.queries import QUERIES
from lakehouse_architecture_spark.queries.dedup_sim import MAX_DOC_FREQ
from lakehouse_architecture_spark.sources.tables import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name, jobs",
    [("minhash_lsh_near_dups", 5), ("emb_knn_bruteforce", 3), ("q1_pricing_summary", 4)],
)
def test_warm_query_job_count(spark, sf_dir, jobs_launched, name, jobs):
    """A warm pass (slots filled, schemas memoized) launches exactly these
    jobs: the MinHash verify broadcasts its gram side instead of
    shuffling the pairs, the kNN top-k is a take-ordered with no range
    sort, and Q1's small lineitem scan is not round-robin spread."""
    QUERIES[name](spark, sf_dir).collect()
    assert len(jobs_launched(lambda: QUERIES[name](spark, sf_dir).collect())) == jobs


def test_lsh_verify_join_dispatch(spark, sf_dir, monkeypatch):
    """Under the byte cap the gram side is broadcast to both verify
    joins and no join exchanges the candidate pairs; with the cap at 0
    both joins are shuffle-hash. The rows are the same."""
    docs = load_table(spark, sf_dir, "documents")

    def run():
        df = minhash.minhash_lsh_dedupe(
            docs, "text", "doc_id", threshold=0.3, max_doc_freq=MAX_DOC_FREQ
        )
        return _plan(df), sorted(df.collect())

    small_plan, small_rows = run()
    assert small_plan.count("BroadcastHashJoin") >= 2
    assert "ShuffledHashJoin" not in small_plan
    assert not re.search(r"hashpartitioning\(doc_[ab]#\d+L?, \d+\)", small_plan)
    monkeypatch.setattr(minhash, "_VERIFY_BROADCAST_BYTES", 0)
    big_plan, big_rows = run()
    assert big_plan.count("ShuffledHashJoin") == 2
    assert small_rows and small_rows == big_rows


def test_spread_scan_dispatch(spark, sf_dir, monkeypatch):
    """At most ``openCostInBytes`` the scan passes through; above it, or
    at an unknown size, it is round-robin spread. The rows are the same."""
    li = load_table(spark, sf_dir, "lineitem")
    assert partitioning.scan_size_bytes(li) <= 4 * 1024 * 1024  # the default cost

    def run():
        df = partitioning.spread_scan(li).groupBy("l_returnflag").agg(F.count("*"))
        return "RoundRobinPartitioning" in _plan(df), sorted(df.collect())

    small_spread, small_rows = run()
    conf = "spark.sql.files.openCostInBytes"
    spark.conf.set(conf, "1k")
    try:
        big_spread, big_rows = run()
    finally:
        spark.conf.unset(conf)
    monkeypatch.setattr(partitioning, "scan_size_bytes", lambda df: None)
    unknown_spread, unknown_rows = run()
    assert (small_spread, big_spread, unknown_spread) == (False, True, True)
    assert small_rows == big_rows == unknown_rows
    assert "RoundRobinPartitioning" in _plan(partitioning.spread_scan(li, skip_small=False))


def test_session_origin_capture_is_off(spark, monkeypatch):
    """``get_spark`` turns PySpark's DataFrame origin capture off, so a
    Column call does not cost ~10 Py4J round trips."""
    from pyspark.errors import utils

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    monkeypatch.setattr(utils, "_enable_debugging_cache", None)  # re-read the conf
    assert utils.is_debugging_enabled() is False


def test_warm_minhash_dedupe_builds_no_gram_arrays(spark, sf_dir, monkeypatch):
    """A keyed call over warm slots never builds the gram relations it
    would throw away, and returns the cold call's rows."""
    from lakehouse_architecture_spark.operators.caching import release_slots

    docs = load_table(spark, sf_dir, "documents")

    def run():
        return sorted(
            minhash.minhash_lsh_dedupe(
                docs, "text", "doc_id", threshold=0.3, max_doc_freq=MAX_DOC_FREQ,
                cache_key=("warm-minhash-test", sf_dir),
            ).collect()
        )

    try:
        cold = run()

        def never(*a, **kw):
            raise AssertionError("built on a warm slot")

        monkeypatch.setattr(minhash, "gram_arrays", never)
        monkeypatch.setattr(minhash, "capped_gram_arrays", never)
        assert run() == cold
    finally:
        release_slots("minhash-lsh-")

"""Shared pytest fixtures: one session-scoped local SparkSession
(small shuffle count + memory, mirroring the reference's test sizing at
/root/reference/tests/conftest.py:21-30)."""

from __future__ import annotations

import os
import uuid

import pytest

from lakehouse_architecture_spark.session import get_spark

# CI (or any machine without the driver-generated tables) points this
# at tools/gen_testdata.py output; the schemas and value domains match.
SF_SMALL = os.environ.get("LAKEHOUSE_TESTDATA_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "lakehouse-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.enabled": "false",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture
def jobs_launched(spark):
    """``jobs_launched(fn)``: the description of every Spark job ``fn``
    launches, counted under a job group of its own. A job Spark gives no
    description is named by its call site (``collect at file.py:line``,
    ``localCheckpoint at ...``); jobs Spark describes itself, such as
    "Listing leaf files ...", keep their own text."""
    sc = spark.sparkContext

    def run(fn) -> list[str]:
        props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
        saved = {k: sc.getLocalProperty(k) for k in props}
        group = f"jobs-launched-{uuid.uuid4().hex}"
        sc.setJobGroup(group, None)
        try:
            fn()
        finally:
            for k, v in saved.items():
                sc.setLocalProperty(k, v)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are async
        store = sc._jsc.sc().statusStore()
        out = []
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            desc = job.description()
            out.append(desc.get() if desc.isDefined() else job.name())
        return out

    return run

"""SparkSession factory.

Mirrors the reference's production session configuration (AQE, partition
coalescing, skew-join handling, CBO — /root/reference/src/glue_etl.py:404-408)
and adds settings that matter for determinism and scale:

- ``spark.sql.session.timeZone=UTC`` so timestamp rendering matches the
  DuckDB oracle regardless of host timezone.
- Arrow execution for any pandas-UDF path.
- AQE advisory sizes tuned so local runs coalesce tiny shuffles while the
  same plan scales to a real cluster (AQE re-plans from runtime stats, so
  none of this hardcodes the local data size).
- On a local master (``local``, ``local[N]``), partition directories are
  listed on the driver: Spark's parallel partition discovery would launch
  a listing job on every read of a table past 32 directories, and in
  local mode that job only runs on the driver's own cores.
- Spark's cache of compiled generated classes holds the engine's whole
  working set (``spark.sql.codegen.cache.maxEntries``), so an op that
  repeats a plan reuses its classes instead of recompiling them.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Scale-oriented defaults. On a 1000-executor cluster these are the knobs
# you'd override via spark-submit; the AQE settings are the ones doing the
# real work (runtime partition coalescing + skew splitting).
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.cbo.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # 64 MB broadcast threshold: every dimension table in the star schema
    # (region/nation/customer/supplier/part at reasonable SF) broadcasts,
    # turning shuffling joins into broadcast-hash joins.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Dynamic partition overwrite is what makes the MERGE fallback touch
    # only the partitions present in the update set.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Local-mode heap sizing: in local[N] the ONE driver JVM hosts all
    # N executor threads, but Spark's default heap is 1 GiB — at
    # local[32] that is ~30 MB per task slot, and a single wide
    # sort-merge task (e.g. the uncapped fuzzy-d2 self-join at sf0.1)
    # dies in Java heap space. 8 GiB is still conservative for the
    # target box and is simply ignored on a real cluster, where
    # spark.executor.memory is set by the deployment (driver.memory
    # only takes effect at JVM launch — a session that getOrCreate()s
    # into an already-running JVM keeps that JVM's heap).
    "spark.driver.memory": "8g",
    # Runtime row-level bloom pruning: a selective filter on one join
    # side builds a bloom filter that prunes the other side's scan —
    # only fires past the creation-side size thresholds, i.e. exactly
    # the big-join case it exists for (no effect at test SF).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # PySpark's DataFrame origin capture: with it on, every Column and
    # DataFrame call reads the active session and a conf, sets and clears
    # the JVM's PySparkCurrentOrigin and tries `import IPython` — ~10 Py4J
    # round trips per call (`F.col` costs 13, `F.lit` 3), which at a small
    # scale factor is most of a query's plan-build time. The only loss is
    # the Python `file:line` in DataFrame error contexts; the error itself
    # and its JVM stack are unchanged. PySpark reads this once per
    # process, from the first session that asks.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Compiled whole-stage and expression classes live in one LRU cache per
    # JVM, 100 entries by default. An LRU over a cyclic access pattern
    # larger than its capacity misses on every lookup, and one warm op
    # needs more than 100 classes (perfbench seed 1, local[2]): at 100 a
    # registry_queries pass recompiles ~155 classes every pass, a
    # daily_ingest cycle ~136 and the 25-query headline ~340 (348
    # distinct), with Janino at ~10 ms a class: 1.3-1.6 s of a ~5 s op.
    # 1000 is ~3x the largest set, room for the headline plus a daily
    # cycle in one session. Three headline passes leave Metaspace at
    # 169 MB (173 MB at 100). A static conf: it takes effect only when
    # the JVM starts.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(
    app_name: str = "lakehouse-architecture-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's configuration.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    on a real cluster pass ``master=None`` after setting it externally.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if re.fullmatch(r"local(\[.*\])?", master):
        # In local mode the listing job's tasks run on the driver's own
        # cores, so it spreads nothing and adds a job to every read of a
        # table past 32 partition directories (a daily curated zone after
        # a month). One schema-given parquet read of 64 / 1,000 / 10,000
        # directories at local[2] on 4 vCPUs takes 0.76 / 6.8 / 64 s with
        # the listing job and 0.04 / 0.07 / 0.95 s listed on the driver.
        # With no crossover there is nothing to tune: the largest int.
        # Cluster masters keep Spark's default, where the job spreads
        # listing over executors.
        conf["spark.sql.sources.parallelPartitionDiscovery.threshold"] = str(2**31 - 1)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

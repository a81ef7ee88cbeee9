"""Curated-zone sinks: partitioned writes, append (rejected zone), and a
MERGE upsert.

The reference upserts with Delta Lake MERGE
(/root/reference/src/glue_etl.py:332-373). delta-spark is not available in
this environment, so :func:`merge_upsert` implements the same contract on
plain Parquet the way Delta's MERGE physically behaves: rewrite only the
partitions touched by the update set (survivors = target ∖ updates via
left-anti on the PK, union the updates, swap the partition directories).
When delta-spark IS on the classpath (real deployment), ``merge_upsert``
delegates to ``DeltaTable.merge`` — same call sites, ACID log included.

Scale notes: the anti-join shuffles only the AFFECTED partitions of the
target (partition pruning via the update set's partition values), and the
update side of a MERGE is typically tiny relative to the table, so at
100 TB this touches GBs, not the table. The staging-directory swap keeps
reads consistent (never read-and-overwrite the same path in one job).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_spark.sources.readers import _hidden

try:  # pragma: no cover - exercised only where delta-spark is installed
    from delta.tables import DeltaTable

    HAVE_DELTA = True
except Exception:  # pragma: no cover
    DeltaTable = None
    HAVE_DELTA = False


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: str | list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Partitioned columnar write (reference S6,
    /root/reference/src/glue_etl.py:361-366).

    The AQE ``rebalance`` hint clusters rows by the partition columns
    before the write: without it every task writes a file into every
    partition directory it sees rows for (tasks x values small files —
    measured 720 files and 4x the wall vs 80 files at bench scale; at
    100 TB that's the classic small-files problem). Rebalance, unlike a
    plain ``repartition(col)``, also lets AQE split a skewed partition
    value across tasks instead of funneling it through one."""
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else partition_by
        df = df.hint("rebalance", *cols)
        writer = df.write.format(fmt).mode(mode).partitionBy(*cols)
    else:
        writer = df.write.format(fmt).mode(mode)
    writer.save(path)


def append_rejected(df: DataFrame, base_path: str, name: str) -> None:
    """Rejected-zone append sink (reference S7,
    /root/reference/src/glue_etl.py:274-277)."""
    df.write.format("parquet").mode("append").save(os.path.join(base_path, name))


def _require_local_path(path: str) -> None:
    """Raise on a URI. ``os``/``shutil`` treat ``file://…`` or ``s3://…``
    as a relative local name: ``os.path`` calls it absent and
    ``os.makedirs`` creates a ``s3:/…`` tree in the working directory."""
    if "://" in path:
        raise ValueError(f"local filesystem paths only, got {path!r}")


def _has_data(path: str) -> bool:
    """Whether ``path`` holds a table: a directory with at least one
    entry Spark's file listing keeps, so not bookkeeping (``_SUCCESS``,
    ``.crc``) but ``_k=v`` partition directories included.

    Raises on a URI: the rewrites here stage and swap directories with
    ``os``/``shutil``, so every MERGE into a URI would silently degrade
    to an overwrite."""
    _require_local_path(path)
    return os.path.isdir(path) and any(not _hidden(e) for e in os.listdir(path))


def _delta_merge(
    spark: SparkSession, updates: DataFrame, path: str, keys: list[str]
) -> None:  # pragma: no cover - requires delta-spark
    target = DeltaTable.forPath(spark, path)
    cond = " AND ".join(f"existing.{k} = updates.{k}" for k in keys)
    (
        target.alias("existing")
        .merge(updates.alias("updates"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )


def insert_if_absent(
    spark: SparkSession,
    candidates: DataFrame,
    path: str,
    keys: list[str],
) -> int:
    """ACID-style INSERT ... WHERE NOT EXISTS guard (reference S9,
    /root/reference/README.md:260-277): append only rows whose key is not
    already in the target. Returns the number of rows inserted.

    The NOT EXISTS is a left-anti join (what Catalyst rewrites the SQL
    form to); existing keys are read with column pruning to the key
    columns only.
    """
    if _has_data(path):
        existing_keys = spark.read.parquet(path).select(*keys)
        fresh = candidates.join(existing_keys, on=keys, how="left_anti")
    else:
        fresh = candidates
    fresh = fresh.cache()
    n = fresh.count()
    if n:
        fresh.write.format("parquet").mode("append").save(path)
    fresh.unpersist()
    return n


def _data_files(path: str) -> list[str]:
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        out.extend(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not _hidden(f)
        )
    return out


def _zorder_aug(df, zorder_by):
    from lakehouse_architecture_spark.operators.partitioning import zorder_key

    return zorder_key(df, zorder_by)


def _drop_zbounds(df):
    return df.drop(
        *[c for c in df.columns if c.startswith("__zmin_") or c.startswith("__zmax_")]
    )


def compact_table(
    spark: SparkSession,
    path: str,
    partition_by: str | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> tuple[int, int]:
    """Small-files compaction — Delta ``OPTIMIZE`` re-expressed on plain
    parquet. Returns (files_before, files_after).

    Streaming/incremental ingestion accretes one small file per
    micro-batch per partition; scan cost then scales with file COUNT,
    not bytes. Compaction rewrites each partition into
    ``ceil(bytes / target_file_bytes)`` files (one shuffle hashing on
    the partition column, so each partition value lands in one task).
    ``sort_by`` applies ``sortWithinPartitions`` before the write so
    per-file min/max statistics become selective on the sorted key;
    ``zorder_by`` instead sorts on a Morton bit-interleaved key
    (operators/partitioning.zorder_key) so min/max stats on EVERY
    listed column become selective at once — Delta ``OPTIMIZE ZORDER``
    on plain parquet. The staging-and-swap keeps concurrent readers
    consistent.
    """
    if sort_by and zorder_by:
        raise ValueError("pass sort_by or zorder_by, not both")
    if not _has_data(path):
        return 0, 0
    files_before = _data_files(path)
    total_bytes = sum(os.path.getsize(f) for f in files_before)
    n_files = max(1, -(-total_bytes // target_file_bytes))

    df = spark.read.parquet(path)
    if partition_by:
        # one task per partition value; sort keys cluster WITHIN the
        # partition's files (file-level ranges are per partition value)
        out = df.repartition(F.col(partition_by))
        if sort_by:
            out = out.sortWithinPartitions(*sort_by)
        elif zorder_by:
            aug, key = _zorder_aug(out, zorder_by)
            out = _drop_zbounds(aug.sortWithinPartitions(key))
    elif sort_by:
        # RANGE partition on the sort key, not round-robin: each output
        # file then covers a narrow, disjoint key range, which is what
        # makes file-level min/max stats selective. Round-robin +
        # sortWithinPartitions only orders rows inside a file whose
        # min/max still spans the whole table — no skipping at all.
        out = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(
            *sort_by
        )
    elif zorder_by:
        aug, key = _zorder_aug(df, zorder_by)
        aug = aug.withColumn("__zkey", key)
        out = _drop_zbounds(
            aug.repartitionByRange(n_files, F.col("__zkey"))
            .sortWithinPartitions("__zkey")
        ).drop("__zkey")
    else:
        out = df.repartition(n_files)

    staging = f"{path}.staging-{uuid.uuid4().hex[:8]}"
    write_partitioned(out, staging, partition_by)
    _swap_staged(spark, path, staging)
    return len(files_before), len(_data_files(path))


def merge_upsert(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: list[str],
    partition_by: str | None = None,
    evolve_schema: bool = False,
    partitions: list[tuple] | None = None,
) -> None:
    """Idempotent MERGE: rows matching on ``keys`` are replaced by the
    update row; new keys are inserted. Re-running the same updates is a
    no-op on row counts (the reference's idempotency contract,
    /root/reference/src/glue_etl.py:339-349).

    Schema drift is LOUD: an update column absent from the target
    raises unless ``evolve_schema=True``, which adds it (existing rows
    read back null — Delta's mergeSchema semantics on the parquet
    fallback). Silently dropping a new column is the one thing a MERGE
    must never do to a curated zone. On the Delta delegate path,
    evolution is Delta's own concern — enable
    ``spark.databricks.delta.schema.autoMerge.enabled`` there; this
    flag governs the parquet fallback only.

    Mixed-schema reads: a partition-pruned evolve rewrites ONLY the
    affected partitions, so the table legitimately holds old- and
    new-schema footers side by side afterwards. The target read below
    therefore always sets ``mergeSchema`` — plain schema sampling could
    pick an old footer and a later evolve-merge would then rewrite
    partitions from survivors read WITHOUT the evolved column, silently
    nulling stored values. Consumers of an evolved parquet table need
    the same option (``spark.read.option("mergeSchema", "true")``)
    until a full-rewrite compaction (:func:`compact_table`) homogenizes
    the footers; Delta tables carry the schema in the log and do not.

    ``partitions``, with ``partition_by``, are the distinct
    ``(value, value cast to string)`` pairs of the updates' partition
    column, when the caller already holds them (``plans.pipeline``
    observes them on the batch's own action); the rewrite then prunes
    by them instead of collecting them with a Spark job of its own.
    """
    if not _has_data(path):
        write_partitioned(updates, path, partition_by)
        return

    if HAVE_DELTA:  # pragma: no cover
        _delta_merge(spark, updates, path, keys)
        return

    # no distinct(): a left-anti join ignores duplicate keys, and over a
    # checkpointed batch the distinct is a shuffle stage of its own
    _parquet_rewrite_core(
        spark,
        path,
        remove_keys=updates.select(*keys),
        inserts=updates,
        keys=keys,
        prune_source=updates,
        partition_by=partition_by,
        evolve_schema=evolve_schema,
        partitions=partitions,
    )


def _parquet_rewrite_core(
    spark: SparkSession,
    path: str,
    remove_keys: DataFrame,
    inserts: DataFrame,
    keys: list[str],
    prune_source: DataFrame,
    partition_by: str | None,
    evolve_schema: bool,
    partitions: list[tuple] | None = None,
) -> None:
    """Shared rewrite engine under MERGE and CDC apply: drop
    ``remove_keys`` from the target, add ``inserts``, rewriting only
    the partitions ``prune_source`` touches (or ``partitions`` names,
    see :func:`_prune`), then staging-swap."""
    # mergeSchema: the table may hold mixed footers after a pruned
    # evolve-merge (see merge_upsert docstring) — a plain read could
    # sample an old footer and silently drop the evolved column.
    target = spark.read.option("mergeSchema", "true").parquet(path)
    affected, entries = _prune(target, prune_source, partition_by, partitions)
    survivors = affected.join(remove_keys, on=keys, how="left_anti")
    extra = [c for c in inserts.columns if c not in affected.columns]
    if extra and not evolve_schema:
        raise ValueError(
            f"merge_upsert: update columns {extra} are absent from the "
            "target; pass evolve_schema=True to add them (existing rows "
            "read back null) instead of silently dropping them"
        )
    # Target columns absent from the update (e.g. a previously evolved
    # column, updated by a narrower feed): Delta's UPDATE SET * keeps
    # the target's old value on matched rows, so backfill them from the
    # matched target row (update-sized join); unmatched inserts get
    # null, like Delta INSERT * with an absent source column.
    missing = [c for c in affected.columns if c not in inserts.columns]
    if missing:
        inserts = inserts.join(
            affected.select(*keys, *missing), on=keys, how="left"
        )
    if extra:
        merged = survivors.unionByName(inserts, allowMissingColumns=True)
    else:
        merged = survivors.unionByName(inserts.select(*affected.columns))

    staging = f"{path}.staging-{uuid.uuid4().hex[:8]}"
    write_partitioned(merged, staging, partition_by)
    _swap_staged(spark, path, staging, entries)


def _prune(
    target: DataFrame,
    prune_source: DataFrame,
    partition_by: str | None,
    pairs: list[tuple] | None = None,
) -> tuple[DataFrame, list[str] | None]:
    """``(affected, entries)``: the rows of ``target`` in the partitions
    ``prune_source`` touches, and those partitions' directory names.
    Unpartitioned, every row is affected and ``entries`` is None (a
    whole-table rewrite).

    ``pairs`` are the touched partitions' distinct ``(value, string)``
    pairs; when None they are collected from ``prune_source``.
    Collecting DISTINCT partition VALUES is a driver-side list of
    partitions (dates), not keys — bounded and cheap at any scale. The
    STRING form is collected alongside via Spark's own cast so the swap
    reconstructs directory names with the engine's formatting (dates,
    timestamps, booleans), not Python's str()."""
    if not partition_by:
        return target, None
    if pairs is None:
        pairs = (
            prune_source.select(
                F.col(partition_by), F.col(partition_by).cast("string")
            )
            .distinct()
            .collect()
        )
    parts = [v for v, _ in pairs]
    # dict.fromkeys: "" and null both map to __HIVE_DEFAULT_PARTITION__;
    # a change set containing both must not list the entry twice or
    # the swap loop would re-process (and destroy) the moved directory.
    entries = list(
        dict.fromkeys(
            f"{partition_by}={_escape_partition_value(s)}" for _, s in pairs
        )
    )
    # "" is stored as __HIVE_DEFAULT_PARTITION__ and READ BACK AS
    # NULL, so for pruning purposes it IS null: isin("") would miss
    # the target's existing default-partition rows while the swap
    # deletes their directory — silent row loss (r8 ADVICE).
    null_in_parts = any(v is None or v == "" for v in parts)
    affected = target.filter(
        F.col(partition_by).isin([v for v in parts if v is not None and v != ""])
        | (F.col(partition_by).isNull() if null_in_parts else F.lit(False))
    )
    return affected, entries


def _swap_staged(
    spark: SparkSession,
    path: str,
    staging: str,
    entries: list[str] | None = None,
) -> None:
    """Replace live data at ``path`` by the rewrite written to
    ``staging`` — the one commit step under every rewrite here.

    ``entries=None`` swaps the whole table (``staging`` is the new
    table). Otherwise ``entries`` names the partition directories the
    rewrite pruned to; each is replaced by its staged namesake, or only
    removed when staging has none (every row of that partition was
    deleted — iterating staging alone would leave the old directory and
    its deleted rows in place). Each old directory is first renamed
    aside into ``staging/_replaced`` (``_``-prefixed names are hidden
    from Spark's file listing), then the new one moves in; the old data
    is deleted only after the last move."""
    aside = os.path.join(staging, "_replaced")
    if entries is None:
        if os.path.exists(path):
            shutil.move(path, aside)
        shutil.move(staging, path)
        # the old table moved in with staging, still hidden as _replaced
        leftover = os.path.join(path, "_replaced")
    else:
        os.mkdir(aside)
        for entry in entries:
            dst = os.path.join(path, entry)
            if os.path.exists(dst):
                shutil.move(dst, os.path.join(aside, entry))
            if os.path.exists(os.path.join(staging, entry)):
                shutil.move(os.path.join(staging, entry), dst)
        leftover = staging
    if os.path.exists(leftover):
        shutil.rmtree(leftover)
    _refresh_swapped_path(spark, path)


# Characters Spark escapes in partition directory names (Hive's
# FileUtils.escapePathName contract, mirrored by Spark's
# ExternalCatalogUtils): ASCII control chars plus the path/URI
# metacharacters below, each written as %XX uppercase hex.
_PARTITION_ESCAPE_CHARS = frozenset(
    [chr(c) for c in range(0x01, 0x20)]
    + ['"', "#", "%", "'", "*", "/", ":", "=", "?", "\\", "\x7f", "{", "[", "]", "^"]
)


def _escape_partition_value(value: str | None) -> str:
    """The directory-name form of one partition VALUE, exactly as Spark
    writes it: null (and empty string) become
    ``__HIVE_DEFAULT_PARTITION__``; otherwise Hive path escaping — a
    swap that reconstructs names with plain f-strings silently misses
    directories for values containing ``%``, ``:``, ``=``, ``#``, …
    and leaves their stale rows alive (the r8 ADVICE finding)."""
    if value is None or value == "":
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(
        f"%{ord(c):02X}" if c in _PARTITION_ESCAPE_CHARS else c
        for c in value
    )


def _refresh_swapped_path(spark: SparkSession, path: str) -> None:
    """Invalidate cached plans/file listings over a staging-swapped
    table (what Delta's transaction log does implicitly). Any DataFrame
    cached over ``path`` before the swap holds the OLD file listing in
    its captured scan; without the refresh, a post-swap action on a
    plan that cache-matches it fails FILE_NOT_EXIST (or silently serves
    pre-swap rows). Surfaced by the pipeline's idempotent re-run, where
    the curated read is cached as the next run's FK reference.

    Also releases any identity-keyed one-slot persist whose key names
    the swapped path (operators/caching): a keyed slot warm-hits by
    input identity, so a rewrite under its key would otherwise keep
    serving the pre-swap materialization for the rest of the session
    (the r10 ADVICE hazard)."""
    from lakehouse_architecture_spark.operators.caching import (
        release_slots_for_path,
    )

    try:
        spark.catalog.refreshByPath(path)
    except Exception:
        pass  # cache invalidation must never fail the committed write
    try:
        release_slots_for_path(path)
    except Exception:
        pass


def apply_changes(
    spark: SparkSession,
    changes: DataFrame,
    path: str,
    keys: list[str],
    op_col: str = "op",
    partition_by: str | None = None,
    evolve_schema: bool = False,
) -> None:
    """Apply a CDC changefeed — rows tagged ``upsert`` or ``delete`` in
    ``op_col`` — to a parquet-backed table in ONE partition-pruned
    rewrite (the Delta Change-Data-Feed / APPLY CHANGES INTO pattern,
    composed from the same staging-swap core as :func:`merge_upsert`).

    Semantics: the batch is a snapshot of net changes — every change
    key's old row is removed, then upsert rows are inserted, so a key
    appearing as BOTH delete and upsert ends present with the upsert's
    values (last-write-wins at batch grain; feed compaction upstream
    decides intra-batch ordering). Unknown op values raise before
    anything is written. With ``partition_by`` set, every change row
    (including deletes) must carry the partition column so pruning sees
    the partitions deletes touch.

    At 100 TB this is the nightly-CDC shape: one bounded
    partition-value collect, one anti-join keyed on the change keys,
    and a rewrite of only the touched partitions."""
    ops = {r[0] for r in changes.select(op_col).distinct().collect()}
    bad = ops - {"upsert", "delete"}
    if bad:
        # sort by repr: a batch can mix NULL and misspelled ops, and
        # str/None don't order
        raise ValueError(
            f"apply_changes: unknown op values {sorted(bad, key=repr)}; "
            "expected 'upsert' or 'delete'"
        )
    upserts = changes.filter(F.col(op_col) == "upsert").drop(op_col)
    if not _has_data(path):
        write_partitioned(upserts, path, partition_by)
        return
    _parquet_rewrite_core(
        spark,
        path,
        remove_keys=changes.select(*keys),
        inserts=upserts,
        keys=keys,
        prune_source=changes,
        partition_by=partition_by,
        evolve_schema=evolve_schema,
    )


def delete_where(
    spark: SparkSession,
    path: str,
    predicate: Column,
    partition_by: str | None = None,
) -> int:
    """Row-level DELETE on a parquet-backed table: rewrite only the data
    that can contain matches, dropping rows where ``predicate`` holds;
    returns the number of rows deleted.

    The right-to-be-forgotten / retention primitive the MERGE family
    implies (Delta's ``DELETE FROM`` analog; same staging-swap machinery
    as :func:`merge_upsert`). With ``partition_by`` set, partitions with
    no matching rows are never read past the match probe and never
    rewritten — at 100 TB a delete keyed to a few partitions touches
    only those directories.
    """
    if not _has_data(path):
        return 0
    # mergeSchema for the same mixed-footer reason as merge_upsert: a
    # pruned rewrite must never re-materialize partitions through a
    # sampled old schema.
    target = spark.read.option("mergeSchema", "true").parquet(path)
    # the partitions that actually contain matches
    affected, entries = _prune(target, target.filter(predicate), partition_by)
    if entries == []:
        return 0

    n_before = affected.count()
    # SQL DELETE keeps rows whose predicate is NULL, not only FALSE
    survivors = affected.filter(predicate.isNull() | ~predicate)
    n_after = survivors.count()
    if n_after == n_before:
        return 0

    staging = f"{path}.staging-{uuid.uuid4().hex[:8]}"
    write_partitioned(survivors, staging, partition_by)
    _swap_staged(spark, path, staging, entries)
    return n_before - n_after


def export_jsonl_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str,
) -> DataFrame:
    """Sharded JSONL export — the hand-off format LLM training loaders
    consume. Rows land in ``shard=K/`` directories as JSON lines, with
    shard = pmod(xxhash64(id), n_shards): a STABLE content-keyed
    assignment, so re-exports of the same corpus are bit-reproducible
    shard by shard (round-robin repartition would reshuffle every run
    and force downstream consumers to re-fetch everything), and any
    single shard is a well-defined 1/n_shards sample for smoke training
    runs.

    Returns the export manifest — (shard, n_rows, n_files) read back
    from the written files, not echoed from the input — so a row lost
    in the write would show up as a manifest mismatch. The manifest
    covers ALL n_shards rows: a shard that received no rows (and so
    wrote no ``shard=K/`` directory) appears with n_rows=0 rather than
    silently vanishing — consumers can tell "empty" from "lost".
    Scale: the write is one hash shuffle on the shard key; manifest
    recount is a metadata-cheap aggregate over the output (run it or
    skip it — the export itself never depends on it).
    """
    from pyspark.sql import functions as F

    if id_col == "shard" or "shard" in df.columns:
        raise ValueError(
            "export_jsonl_shards reserves the 'shard' column for the "
            "partition key; rename the input column first"
        )
    spark = df.sparkSession
    out = df.withColumn(
        "shard",
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_shards)),
    )
    # repartition on the shard key so each shard directory is written by
    # the tasks owning that key (one file per shard per non-empty task),
    # not one small file per (input task x shard).
    out.repartition(n_shards, "shard").write.partitionBy("shard").mode(
        "overwrite"
    ).json(path)
    # input_file_name() is non-deterministic and must be projected to a
    # column before it can feed an aggregate. The read schema is given
    # explicitly (input schema + the shard partition column): inference
    # fails outright on an all-empty export (zero data files), which
    # must yield an all-zeros manifest, not an error.
    from pyspark.sql.types import LongType, StructField, StructType

    read_schema = StructType(
        list(df.schema.fields) + [StructField("shard", LongType())]
    )
    written = spark.read.schema(read_schema).json(path).select(
        "shard", F.input_file_name().alias("_file")
    )
    counted = written.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("_file").alias("n_files"),
    )
    all_shards = spark.range(n_shards).select(F.col("id").alias("shard"))
    return (
        all_shards.join(counted, "shard", "left_outer")
        .na.fill({"n_rows": 0, "n_files": 0})
        .orderBy("shard")
    )

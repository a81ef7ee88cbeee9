"""Structured Streaming jobs.

The reference's incrementality is event-driven batch: S3 PutObject ->
Step Functions -> Glue job with MERGE-on-PK idempotency
(/root/reference/stepfunctions/delta-lake.json, SURVEY.md §2.7). The
Spark-native generalization is a file-source stream feeding the SAME
batch MERGE through ``foreachBatch``, with watermarked windowed
aggregation and stateful sessionization for the event table.

Everything reuses the batch engine (the CSV ingest runs each micro-batch
through the batch pipeline's ``process_dataset`` and ``merge_upsert``),
so batch and streaming cannot drift apart — one code path, two entry
points.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from lakehouse_architecture_spark.sinks.writers import (
    _has_data,
    _refresh_swapped_path,
    _swap_staged,
)


def stream_csv_ingest_merge(
    spark: SparkSession,
    source_dir: str,
    schema,
    target_path: str,
    keys: list[str],
    partition_by: str | None,
    checkpoint_dir: str,
    rules=None,
    fk_rules=None,
    rejected_path: str | None = None,
):
    """File-source stream -> ``plans.pipeline.process_dataset`` (cast,
    schema NotNull rules + ``rules``, PK dedup, rejection audit) -> MERGE
    upsert per micro-batch, so a batch lands exactly as the batch
    pipeline would land it.

    Late/duplicate data handling is the reference's: upsert on PK makes
    reprocessing idempotent. Run with ``trigger(availableNow=True)`` for
    catch-up batch semantics or default trigger for continuous tailing.
    """
    from lakehouse_architecture_spark.operators.iterative import (
        _free_local_checkpoint,
    )
    from lakehouse_architecture_spark.plans.pipeline import process_dataset
    from lakehouse_architecture_spark.sinks.writers import (
        append_rejected,
        merge_upsert,
    )

    stream = (
        spark.readStream.format("csv")
        .option("header", "true")
        .schema(schema)
        .load(source_dir)
    )

    # the rejection audit's ``source``, as the batch pipeline names it
    table = os.path.basename(os.path.normpath(target_path))

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        res = process_dataset(
            batch_df, schema, table, keys, rules, fk_rules,
            partition_by=partition_by,
        )
        merge_upsert(
            spark, res.clean, target_path, keys, partition_by,
            partitions=res.partitions,
        )
        if rejected_path is not None and res.stats["rejected_rows"]:
            append_rejected(res.rejected, rejected_path, "stream_rejected")
        _free_local_checkpoint(res.clean)  # the micro-batch is written

    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def stream_near_dup_ingest(
    spark: SparkSession,
    source_dir: str,
    schema,
    index_path: str,
    target_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
):
    """Continuous curation ingest: each micro-batch of documents is
    near-dup-checked against the PERSISTED corpus index, survivors land
    in the curated zone, and the index absorbs them — the round-5 batch
    index API (`operators/minhash.MinHashCorpusIndex`) running as a
    stream instead of a daily job.

    Per micro-batch:

    1. load the index relations from ``index_path``;
    2. drop batch docs that near-duplicate the CORPUS (asymmetric
       band-key join — cost ∝ batch, never corpus²);
    3. drop batch-INTERNAL near-dups (symmetric pass over the
       corpus-survivors only, keeping the lower id);
    4. append survivors to ``target_path``;
    5. append the survivors' band/gram/df relations to the index dirs —
       `shingle_dfs` is a MERGEABLE partial aggregate (consumers
       groupBy-sum it), so appending partial counts is correct and the
       index stays current without rewriting corpus-scale files.

    Steps 4-5 are EXACTLY-ONCE via stage-then-publish (the r5 ADVICE
    failure window: a crash between the survivor append and the index
    append used to replay the batch with its survivors absent from the
    index, duplicating them in the curated zone). Per batch:

    - already-committed batch ids (marker under the checkpoint) are
      skipped outright;
    - all four outputs are first written to a batch-keyed STAGING
      directory under the checkpoint and sealed with a ``_STAGED``
      marker — nothing is visible to the index or the curated zone
      until staging completes, so a crash mid-stage replays into a
      clean overwrite;
    - publish then MOVES each staged data file into its destination
      under a ``batch{id}-`` deterministic name; a crash mid-publish
      resumes (sealed staging is never recomputed — recomputing against
      a half-published index would see the batch's own bands and drop
      every survivor as its own duplicate) and moves only the files
      still in staging;
    - the commit marker lands last, then staging is removed.

    Moves are same-filesystem renames (checkpoint and sinks must share
    a filesystem — the usual arrangement); on object stores, swap the
    move for a copy+delete or a manifest commit.
    """
    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        near_dup_handle_batch(
            spark,
            batch_df,
            batch_id,
            index_path=index_path,
            target_path=target_path,
            checkpoint_dir=checkpoint_dir,
            text_col=text_col,
            id_col=id_col,
            threshold=threshold,
            max_doc_freq=max_doc_freq,
        )

    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .load(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def _publish_staged(staged_sub: str, dest_dir: str, batch_id: int) -> None:
    """Move each staged data file into ``dest_dir`` under a
    deterministic ``batch{id}-`` name. Replaying a half-published batch
    re-moves only the files still in staging; already-moved files are
    gone from staging, so nothing double-publishes."""
    if not os.path.isdir(staged_sub):
        return
    os.makedirs(dest_dir, exist_ok=True)
    for fname in sorted(os.listdir(staged_sub)):
        if not fname.endswith(".parquet") or fname.startswith(("_", ".")):
            continue
        src = os.path.join(staged_sub, fname)
        os.replace(src, os.path.join(dest_dir, f"batch{batch_id}-{fname}"))


def near_dup_handle_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    *,
    index_path: str,
    target_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> None:
    """One exactly-once micro-batch of :func:`stream_near_dup_ingest`
    (module-level so replay/crash scenarios are directly testable).
    See that docstring for the stage-seal-publish-commit protocol."""
    from lakehouse_architecture_spark.operators.minhash import (
        MinHashCorpusIndex,
        build_minhash_corpus_index,
        minhash_lsh_dedupe,
        minhash_lsh_incremental_indexed,
    )

    commit_dir = os.path.join(checkpoint_dir, "near_dup_commits")
    committed = os.path.join(commit_dir, f"batch-{batch_id}")
    staging = os.path.join(checkpoint_dir, "near_dup_staging", str(batch_id))
    if os.path.exists(committed):
        # exactly-once: already fully published. A crash between the
        # marker write and the cleanup below can leave the (fully
        # drained) staging directory behind — sweep it here so crashes
        # never accumulate disk across the stream's lifetime.
        shutil.rmtree(staging, ignore_errors=True)
        return
    sealed = os.path.join(staging, "_STAGED")

    if not os.path.exists(sealed):
        # Nothing of this batch is visible yet (publish starts only
        # after the seal), so recomputing against the index is safe.
        if batch_df.isEmpty():
            os.makedirs(commit_dir, exist_ok=True)
            open(committed, "w").close()
            return
        idx = MinHashCorpusIndex.load(spark, index_path)
        corpus_dups = minhash_lsh_incremental_indexed(
            batch_df, idx, text_col, id_col,
            threshold=threshold, max_doc_freq=max_doc_freq,
        ).select(F.col("new_doc").alias(id_col)).distinct()
        s1 = batch_df.join(corpus_dups, id_col, "left_anti")
        # persist_intermediate=False: each micro-batch is a NEW plan,
        # so the operator's convenience caches would leak one entry per
        # batch for the stream's lifetime (the batch-sized recompute is
        # the cheap side of that trade).
        self_dups = (
            minhash_lsh_dedupe(
                s1, text_col, id_col,
                threshold=threshold, max_doc_freq=max_doc_freq,
                persist_intermediate=False,
            )
            .select(F.col("doc_b").alias(id_col))
            .distinct()
        )
        # Persisted for the batch only (released in finally): the
        # survivor lineage contains both LSH passes and is consumed by
        # four staged writes below.
        survivors = s1.join(self_dups, id_col, "left_anti").persist()
        try:
            survivors.write.mode("overwrite").parquet(
                os.path.join(staging, "target")
            )
            add = build_minhash_corpus_index(
                survivors,
                text_col, id_col,
                num_hashes=idx.num_hashes,
                band_size=idx.band_size,
                shingle_n=idx.shingle_n,
            )
            add.bands.write.mode("overwrite").parquet(
                os.path.join(staging, "bands")
            )
            add.grams.write.mode("overwrite").parquet(
                os.path.join(staging, "grams")
            )
            add.shingle_dfs.write.mode("overwrite").parquet(
                os.path.join(staging, "shingle_dfs")
            )
        finally:
            survivors.unpersist()
        open(sealed, "w").close()

    _publish_staged(os.path.join(staging, "target"), target_path, batch_id)
    _publish_staged(os.path.join(staging, "bands"), f"{index_path}/bands", batch_id)
    _publish_staged(os.path.join(staging, "grams"), f"{index_path}/grams", batch_id)
    _publish_staged(
        os.path.join(staging, "shingle_dfs"),
        f"{index_path}/shingle_dfs",
        batch_id,
    )
    os.makedirs(commit_dir, exist_ok=True)
    open(committed, "w").close()
    shutil.rmtree(staging, ignore_errors=True)


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming PK dedup: keep the first event per key, dropping
    duplicates that arrive within the watermark horizon — the streaming
    analog of the batch PK dedup (SURVEY.md §2.7: "dropDuplicates +
    watermark as the streaming analog of the PK dedup").

    ``dropDuplicatesWithinWatermark`` bounds state by event time: a key's
    dedup record is evicted once the watermark passes it, so state size
    tracks the duplicate-arrival window, not the stream's full history —
    the property that keeps this runnable forever at production rates.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def stream_static_enrich(
    stream_df: DataFrame,
    dim_df: DataFrame,
    keys: list[str],
    how: str = "left_outer",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream is
    joined against a batch dimension (the reference's RI lookup shape,
    /root/reference/src/etl_utils.py:176-201, running continuously).

    Stream-static joins are STATELESS — no watermark, no state store:
    Spark re-plans the static side per micro-batch, so a dimension
    backed by a table on disk picks up slowly-changing updates between
    batches for free. With ``broadcast_dim`` the dimension ships to the
    stream's tasks and the stream NEVER shuffles — the only plan that
    holds up when the stream side is the firehose.
    """
    dim = F.broadcast(dim_df) if broadcast_dim else dim_df
    return stream_df.join(dim, keys, how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "1 hour",
    max_lag: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join with bounded state: both sides are
    watermarked and the join condition carries an event-time range
    (right within [left_ts, left_ts + max_lag]), so Spark can evict
    buffered rows once the watermark passes them — without the range
    constraint, stream-stream join state grows forever.

    The canonical use is impression->click attribution; at the
    reference's Glue layer this could only be expressed as repeated
    batch joins over re-read snapshots.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    lcol = F.col(f"l.{left_ts}")
    rcol = F.col(f"r.{right_ts}")
    return lw.alias("l").join(
        rw.alias("r"),
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rcol >= lcol)
        & (rcol <= lcol + F.expr(f"INTERVAL {max_lag}")),
        "inner",
    )


def stream_hourly_counts(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window aggregation (the streaming twin of
    queries.events.events_hourly_by_type). ``events`` must be a streaming
    DataFrame with ``ts``/``event_type``/``value`` columns."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_ms", LongType()),
        StructField("last_ms", LongType()),
        StructField("n_events", LongType()),
    ]
)

SESSION_GAP_MS = 30 * 60 * 1000


def _session_fn(
    key, pdfs, state: GroupState
):  # pragma: no cover - executed on workers
    """applyInPandasWithState update function: emits closed sessions."""
    (user_id,) = key
    rows = []
    if state.hasTimedOut:
        start_ms, last_ms, n = state.get
        rows.append((user_id, start_ms, last_ms, n))
        state.remove()
    else:
        ts_ms = []
        for pdf in pdfs:
            ts_ms.extend((pdf["ts"].astype("int64") // 1_000_000).tolist())
        ts_ms.sort()
        if state.exists:
            start_ms, last_ms, n = state.get
        else:
            start_ms, last_ms, n = ts_ms[0], ts_ms[0], 0
        for t in ts_ms:
            if t - last_ms > SESSION_GAP_MS:
                rows.append((user_id, start_ms, last_ms, n))
                start_ms, n = t, 0
            last_ms = t
            n += 1
        state.update((start_ms, last_ms, n))
        state.setTimeoutDuration(SESSION_GAP_MS)
    if rows:
        yield pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "session_start": [pd.Timestamp(r[1], unit="ms") for r in rows],
                "session_end": [pd.Timestamp(r[2], unit="ms") for r in rows],
                "n_events": [r[3] for r in rows],
            }
        )


def stream_sessionize(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Custom stateful operator: gap-based sessionization with
    ``applyInPandasWithState`` (30-min inactivity closes a session).
    The batch twin (same gap logic via LAG) is
    queries.events.events_sessionization."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def media_dhash_handle_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    *,
    index_path: str,
    target_path: str,
    checkpoint_dir: str,
    max_hamming: int = 4,
) -> None:
    """One exactly-once micro-batch of :func:`stream_image_dhash_ingest`
    — the text pipeline's stage-seal-publish-commit protocol verbatim,
    with a one-relation index (media_id, dhash parquet): no mergeable
    partial aggregates needed, appending survivor hashes IS the index
    update."""
    from lakehouse_architecture_spark.operators.multimodal import (
        extract_image_dhash,
        image_near_dup_against,
        image_near_dup_pairs,
    )

    commit_dir = os.path.join(checkpoint_dir, "media_dhash_commits")
    committed = os.path.join(commit_dir, f"batch-{batch_id}")
    staging = os.path.join(checkpoint_dir, "media_dhash_staging", str(batch_id))
    if os.path.exists(committed):
        shutil.rmtree(staging, ignore_errors=True)
        return
    sealed = os.path.join(staging, "_STAGED")

    if not os.path.exists(sealed):
        if batch_df.isEmpty():
            os.makedirs(commit_dir, exist_ok=True)
            open(committed, "w").close()
            return
        hashes = extract_image_dhash(batch_df).persist()
        try:
            if _has_data(index_path):
                corpus = spark.read.parquet(index_path)
                corpus_dups = image_near_dup_against(
                    hashes, corpus, max_hamming=max_hamming
                )
                s1 = hashes.join(corpus_dups, "media_id", "left_anti")
            else:
                s1 = hashes
            # batch-internal near-dups: drop the higher id of each pair
            # (same convention as the text path's doc_b drop)
            self_dups = (
                image_near_dup_pairs(s1, max_hamming=max_hamming)
                .select(F.col("media_b").alias("media_id"))
                .distinct()
            )
            surv_ids = s1.join(self_dups, "media_id", "left_anti")
            survivors = batch_df.join(
                surv_ids.select("media_id"), "media_id", "left_semi"
            )
            survivors.write.mode("overwrite").parquet(
                os.path.join(staging, "target")
            )
            # undecodable images (null dhash) are curated but NOT
            # indexed — a null can never match, indexing it is noise
            surv_ids.filter(F.col("dhash").isNotNull()).write.mode(
                "overwrite"
            ).parquet(os.path.join(staging, "hashes"))
        finally:
            hashes.unpersist()
        open(sealed, "w").close()

    _publish_staged(os.path.join(staging, "target"), target_path, batch_id)
    _publish_staged(os.path.join(staging, "hashes"), index_path, batch_id)
    os.makedirs(commit_dir, exist_ok=True)
    open(committed, "w").close()
    shutil.rmtree(staging, ignore_errors=True)


def stream_image_dhash_ingest(
    spark: SparkSession,
    source_dir: str,
    schema,
    index_path: str,
    target_path: str,
    checkpoint_dir: str,
    max_hamming: int = 4,
):
    """Continuous perceptual-dedup ingest for an image corpus: each
    micro-batch is dHashed in the Arrow stage, near-dup-checked against
    the PERSISTED hash index (asymmetric band join — cost ∝ batch),
    self-deduped, and the survivors land in the curated zone while
    their hashes append to the index. Exactly-once via the same
    stage-seal-publish-commit protocol as
    :func:`stream_near_dup_ingest` (shared `_publish_staged`); images
    without a pure decoder (null dhash) are curated but never indexed
    — undecodable is a quality signal, not a duplicate."""

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        media_dhash_handle_batch(
            spark,
            batch_df,
            batch_id,
            index_path=index_path,
            target_path=target_path,
            checkpoint_dir=checkpoint_dir,
            max_hamming=max_hamming,
        )

    stream = (
        spark.readStream.format("parquet").schema(schema).load(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def cms_handle_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    *,
    sketch_path: str,
    checkpoint_dir: str,
    key_col: str,
    depth: int = 4,
    width: int = 2048,
) -> None:
    """One exactly-once micro-batch of :func:`stream_cms_ingest`: sketch
    the batch's keys and append the cells as PARTIAL counts (sketch
    merge is cell summation, so partial cells are correct the same way
    the near-dup index's ``shingle_dfs`` partials are). Same
    stage-seal-publish-commit protocol as ``near_dup_handle_batch`` —
    an appended-twice batch would silently double every frequency
    estimate, so replay safety is load-bearing here too."""
    from lakehouse_architecture_spark.operators.cms import cms_counters

    commit_dir = os.path.join(checkpoint_dir, "cms_commits")
    committed = os.path.join(commit_dir, f"batch-{batch_id}")
    staging = os.path.join(checkpoint_dir, "cms_staging", str(batch_id))
    if os.path.exists(committed):
        shutil.rmtree(staging, ignore_errors=True)
        return
    sealed = os.path.join(staging, "_STAGED")

    if not os.path.exists(sealed):
        if batch_df.isEmpty():
            os.makedirs(commit_dir, exist_ok=True)
            open(committed, "w").close()
            return
        cms_counters(batch_df, key_col, depth, width).write.mode(
            "overwrite"
        ).parquet(os.path.join(staging, "cells"))
        open(sealed, "w").close()

    _publish_staged(os.path.join(staging, "cells"), sketch_path, batch_id)
    os.makedirs(commit_dir, exist_ok=True)
    open(committed, "w").close()
    shutil.rmtree(staging, ignore_errors=True)


def stream_cms_ingest(
    spark: SparkSession,
    source_dir: str,
    schema,
    sketch_path: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 2048,
):
    """Continuous frequency sketching: every micro-batch folds into a
    persisted count-min sketch, so at any moment
    ``operators/cms.load_cms_counters`` answers "how often has this key
    been seen so far" without any corpus-scale state — the sketch is
    (depth x width) cells no matter how much history has streamed
    through. The streaming twin of the batch mergeability property
    ``events_cms_topk_accuracy`` pins."""
    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        cms_handle_batch(
            spark,
            batch_df,
            batch_id,
            sketch_path=sketch_path,
            checkpoint_dir=checkpoint_dir,
            key_col=key_col,
            depth=depth,
            width=width,
        )

    stream = (
        spark.readStream.format("json").schema(schema).load(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def stream_cdc_apply(
    spark: SparkSession,
    source_dir: str,
    schema,
    target_path: str,
    keys: list[str],
    op_col: str = "op",
    partition_by: str | None = None,
    checkpoint_dir: str | None = None,
):
    """Changefeed stream -> ``apply_changes`` per micro-batch: the
    continuous form of CDC table maintenance (Delta's APPLY CHANGES
    INTO). Each micro-batch is a net-change set — upserts replace,
    deletes remove, a key in both ends with the upsert's values — and
    because apply_changes re-applies idempotently, checkpoint replay
    after a crash converges to the same table (the exactly-once
    protocol of the other ingest jobs, without a staging ledger:
    the batch rewrite itself is the commit).

    Scale contract is apply_changes': per micro-batch, one bounded
    partition-value collect and a rewrite of only the partitions the
    batch touches — a trickle of deletes never rewrites the table.
    """
    from lakehouse_architecture_spark.sinks.writers import apply_changes

    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .load(source_dir)
    )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_changes(
            spark,
            batch_df,
            target_path,
            keys,
            op_col=op_col,
            partition_by=partition_by,
        )

    writer = stream.writeStream.foreachBatch(handle_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


def stream_rollup_maintain(
    spark: SparkSession,
    source_dir: str,
    schema,
    state_path: str,
    keys: list[str],
    value: str,
    checkpoint_dir: str | None = None,
):
    """Continuously maintain an EXACT per-key (count, decimal-sum)
    rollup from a file stream: each micro-batch aggregates to a
    batch-sized partial and folds into the stored state
    (operators/incremental_agg.py) — the exact-aggregate sibling of
    the CMS ingest, for the metrics where an estimate won't do.

    Batch cost is O(|state| + |batch|). Unlike the append-only ingest
    jobs, the fold is READ-MODIFY-WRITE, so naive checkpoint replay
    would double-count a batch that crashed between the state swap and
    the offset commit. With ``checkpoint_dir`` set, each batch is
    therefore EXACTLY-ONCE via the same stage-seal-publish-commit
    protocol as :func:`near_dup_handle_batch`: already-committed batch
    ids are skipped; the merged state is first written to a
    batch-keyed staging directory under the checkpoint and sealed
    (recompute-on-replay is safe before the seal because the prior
    state is untouched); publish swaps the old state into a
    DETERMINISTIC backup location inside staging so a crash anywhere
    mid-swap resumes instead of losing state; the commit marker lands
    last. Without a checkpoint the job is at-least-once (batch ids are
    not stable across restarts, so markers cannot apply) — pass
    ``checkpoint_dir`` for any state that must survive crashes.
    """
    stream = (
        spark.readStream.format("json").schema(schema).load(source_dir)
    )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        rollup_handle_batch(
            spark,
            batch_df,
            batch_id,
            state_path=state_path,
            keys=keys,
            value=value,
            checkpoint_dir=checkpoint_dir,
        )

    writer = stream.writeStream.foreachBatch(handle_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


def _fold_batch_exactly_once(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    *,
    state_path: str,
    checkpoint_dir: str | None,
    merged,
    ns: str,
) -> None:
    """The shared read-modify-write fold protocol behind every
    stateful-maintenance stream (exact rollup, KMV sketches): fold the
    batch into the stored state EXACTLY-ONCE via stage-seal-publish-
    commit (see :func:`stream_rollup_maintain`). ``merged`` is a
    zero-arg callable building the (prior state + batch) DataFrame —
    it must read prior state lazily so a replayed recompute before the
    seal sees the untouched pre-batch state. ``ns`` namespaces the
    commit/staging dirs so two folds can share one checkpoint."""
    import uuid as _uuid

    if checkpoint_dir is None:
        # At-least-once fallback: no stable batch identity without a
        # checkpoint, so commit markers cannot apply.
        if batch_df.isEmpty():
            return
        # materialize BEFORE the swap: the merged plan reads the
        # files the swap replaces
        m = merged().localCheckpoint(eager=True)
        staging = f"{state_path}.staging-{_uuid.uuid4().hex[:8]}"
        m.write.mode("overwrite").parquet(staging)
        _swap_staged(spark, state_path, staging)
        return

    commit_dir = os.path.join(checkpoint_dir, f"{ns}_commits")
    committed = os.path.join(commit_dir, f"batch-{batch_id}")
    staging = os.path.join(checkpoint_dir, f"{ns}_staging", str(batch_id))
    if os.path.exists(committed):
        # exactly-once: this batch is already folded in — a replay
        # after a crash between the marker and cleanup just sweeps.
        shutil.rmtree(staging, ignore_errors=True)
        return
    sealed = os.path.join(staging, "_STAGED")
    staged_state = os.path.join(staging, "state")
    if not os.path.exists(sealed):
        if batch_df.isEmpty():
            os.makedirs(commit_dir, exist_ok=True)
            open(committed, "w").close()
            return
        # Prior state is untouched until publish, so recomputing a
        # crashed-mid-stage batch reads the same inputs. Writing to
        # staging materializes the merge BEFORE any swap — no
        # localCheckpoint needed.
        shutil.rmtree(staging, ignore_errors=True)
        merged().write.mode("overwrite").parquet(staged_state)
        open(sealed, "w").close()
    # Publish: each move is a same-filesystem rename; the backup
    # location is DETERMINISTIC (inside this batch's staging), so
    # replay after a crash at any point resumes the remaining moves
    # instead of recomputing against half-swapped state.
    if os.path.isdir(staged_state):
        if _has_data(state_path):
            shutil.move(state_path, os.path.join(staging, "old"))
        if os.path.exists(state_path):
            shutil.rmtree(state_path)
        shutil.move(staged_state, state_path)
    _refresh_swapped_path(spark, state_path)
    os.makedirs(commit_dir, exist_ok=True)
    open(committed, "w").close()
    shutil.rmtree(staging, ignore_errors=True)


def rollup_handle_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    *,
    state_path: str,
    keys: list[str],
    value: str,
    checkpoint_dir: str | None,
) -> None:
    """One micro-batch of :func:`stream_rollup_maintain` (module-level
    so replay/crash scenarios are directly testable — the
    near_dup_handle_batch arrangement). See that docstring for the
    exactly-once protocol."""
    from lakehouse_architecture_spark.operators.incremental_agg import (
        agg_state,
        merge_agg_state,
    )

    def _merged() -> DataFrame:
        partial = agg_state(batch_df, keys, value)
        if _has_data(state_path):
            prior = spark.read.parquet(state_path)
            return merge_agg_state(prior, partial)
        return partial

    _fold_batch_exactly_once(
        spark,
        batch_df,
        batch_id,
        state_path=state_path,
        checkpoint_dir=checkpoint_dir,
        merged=_merged,
        ns="rollup",
    )


def stream_kmv_daily_maintain(
    spark: SparkSession,
    source_dir: str,
    schema,
    state_path: str,
    group_col: str,
    cell_col: str,
    k: int = 128,
    checkpoint_dir: str | None = None,
):
    """Continuously maintain per-group KMV distinct sketches from a
    file stream — the streaming twin of ``events_kmv_daily_rollup``'s
    persisted daily-sketch relation (the r10 verdict's one sketch-
    family asymmetry: HLL, spans, MinHash and image-dhash all had
    exactly-once streaming ingest; KMV daily sketches were batch-only).

    State is the MERGEABLE form alone: ``(group, kmv array<long>)``,
    folded per micro-batch as ``k-min(state ∪ batch-sketch)`` — valid
    because the global k-min of a union is contained in the union of
    the sides' k-mins (operators/kmv.py), so the streamed sketch is
    BIT-IDENTICAL to the batch-computed sketch over the same rows (the
    replay test asserts exactly that). The exact per-group distinct
    count is NOT mergeable once a sketch saturates; downstream readers
    estimate with ``kmv_estimate_from_sketch`` (exact below k by
    construction). Batch cost: one distinct + two-stage top-k on the
    BATCH plus a |groups|-row outer-join fold — never a history
    rescan; read-modify-write is exactly-once via the same
    stage-seal-publish-commit protocol as :func:`stream_rollup_maintain`
    (pass ``checkpoint_dir``; without it the fold is at-least-once)."""
    stream = (
        spark.readStream.format("json").schema(schema).load(source_dir)
    )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        kmv_handle_batch(
            spark,
            batch_df,
            batch_id,
            state_path=state_path,
            group_col=group_col,
            cell_col=cell_col,
            k=k,
            checkpoint_dir=checkpoint_dir,
        )

    writer = stream.writeStream.foreachBatch(handle_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


def kmv_handle_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    *,
    state_path: str,
    group_col: str,
    cell_col: str,
    k: int,
    checkpoint_dir: str | None,
) -> None:
    """One micro-batch of :func:`stream_kmv_daily_maintain`
    (module-level so replay/crash scenarios are directly testable)."""
    from lakehouse_architecture_spark.operators.kmv import (
        kmv_hash,
        kmv_sketch_by,
        kmv_union,
    )

    def _merged() -> DataFrame:
        hs = batch_df.select(
            F.col(group_col), kmv_hash(F.col(cell_col)).alias("h")
        ).distinct()
        partial = kmv_sketch_by(hs, group_col, k).select(
            group_col, F.col("kmv").alias("kmv_b")
        )
        if not _has_data(state_path):
            return partial.select(
                group_col, F.col("kmv_b").alias("kmv")
            )
        prior = spark.read.parquet(state_path).select(
            group_col, F.col("kmv").alias("kmv_a")
        )
        empty = F.array().cast("array<long>")
        return prior.join(partial, group_col, "full_outer").select(
            group_col,
            kmv_union(
                F.coalesce("kmv_a", empty), F.coalesce("kmv_b", empty), k
            ).alias("kmv"),
        )

    _fold_batch_exactly_once(
        spark,
        batch_df,
        batch_id,
        state_path=state_path,
        checkpoint_dir=checkpoint_dir,
        merged=_merged,
        ns="kmv",
    )


def stream_span_dedup_ingest(
    spark: SparkSession,
    source_dir: str,
    schema,
    index_path: str,
    target_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
):
    """Continuous SUBSTRING-level curation ingest — the streaming form
    of the ExactSubstr family (docs_copied_span_profile /
    docs_incremental_copied_spans): each micro-batch of documents is
    admission-checked against a PERSISTED span index (reject when
    >=20% of a doc's exact k-word spans are already known), survivors
    land in the curated zone, and their spans fold into the index.
    Completes the family triad the MinHash operators established:
    batch query, asymmetric incremental query, exactly-once stream.

    Per micro-batch (exactly-once via the near_dup stage-seal-
    publish-commit protocol — see stream_near_dup_ingest):

    1. corpus check: batch spans LEFT JOIN the index's distinct span
       relation — cost ∝ batch spans, the corpus is never re-shingled;
    2. batch-internal check among corpus survivors: each span is
       "owned" by its lowest surviving doc_id, and a doc is rejected
       when >=20% of its spans are owned by a LOWER id — deterministic
       and order-independent (one min-aggregate + one join), the
       keep-lowest-id election at span grain;
    3. survivors are staged (rows -> target staging, their DISTINCT
       spans -> index staging), sealed, published by atomic rename,
       and the commit marker lands last. The index is an append-only
       single-column (span) relation, so publishing partials is
       mergeable by construction — consumers read it DISTINCT.
    """
    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        span_dedup_handle_batch(
            spark,
            batch_df,
            batch_id,
            index_path=index_path,
            target_path=target_path,
            checkpoint_dir=checkpoint_dir,
            text_col=text_col,
            id_col=id_col,
            k=k,
        )

    stream = (
        spark.readStream.format("json").schema(schema).load(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def span_dedup_handle_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    *,
    index_path: str,
    target_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> None:
    """One exactly-once micro-batch of :func:`stream_span_dedup_ingest`
    (module-level so replay/crash scenarios are directly testable)."""
    from lakehouse_architecture_spark.operators.spans import (
        copied_ratio_reject,
        word_spans,
    )

    commit_dir = os.path.join(checkpoint_dir, "span_dedup_commits")
    committed = os.path.join(commit_dir, f"batch-{batch_id}")
    staging = os.path.join(checkpoint_dir, "span_dedup_staging", str(batch_id))
    if os.path.exists(committed):
        shutil.rmtree(staging, ignore_errors=True)
        return
    sealed = os.path.join(staging, "_STAGED")

    if not os.path.exists(sealed):
        if batch_df.isEmpty():
            os.makedirs(commit_dir, exist_ok=True)
            open(committed, "w").close()
            return
        # Recompute-on-replay is safe before the seal: nothing of this
        # batch is visible to the index or the curated zone yet.
        spans = word_spans(
            batch_df, k, text_col=text_col, id_col=id_col
        ).persist()
        try:
            if _has_data(index_path):
                idx = (
                    spark.read.parquet(index_path)
                    .select("span")
                    .distinct()
                    .withColumn("hit", F.lit(1))
                )
                joined = spans.join(idx, "span", "left")
            else:
                joined = spans.withColumn("hit", F.lit(None).cast("int"))
            per_doc = joined.groupBy(id_col).agg(
                F.count(F.lit(1)).alias("n_spans"),
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_in"),
            )
            corpus_rejected = per_doc.filter(
                copied_ratio_reject(F.col("n_in"), F.col("n_spans"))
            ).select(id_col)
            s1_spans = spans.join(corpus_rejected, id_col, "left_anti")
            # batch-internal: spans owned by their lowest surviving doc
            owners = s1_spans.groupBy("span").agg(
                F.min(id_col).alias("owner")
            )
            internal = (
                s1_spans.join(owners, "span")
                .groupBy(id_col)
                .agg(
                    F.count(F.lit(1)).alias("n_spans"),
                    F.sum(
                        F.when(F.col("owner") < F.col(id_col), 1).otherwise(0)
                    ).alias("n_owned_lower"),
                )
            )
            internal_rejected = internal.filter(
                copied_ratio_reject(
                    F.col("n_owned_lower"), F.col("n_spans")
                )
            ).select(id_col)
            survivors = batch_df.join(
                corpus_rejected.unionByName(internal_rejected).distinct(),
                id_col,
                "left_anti",
            )
            survivors.write.mode("overwrite").parquet(
                os.path.join(staging, "target")
            )
            # survivors' spans, DISTINCT at span grain: the index is a
            # single-column set relation, append-mergeable
            s1_spans.join(internal_rejected, id_col, "left_anti").select(
                "span"
            ).distinct().write.mode("overwrite").parquet(
                os.path.join(staging, "spans")
            )
        finally:
            spans.unpersist()
        open(sealed, "w").close()

    _publish_staged(os.path.join(staging, "target"), target_path, batch_id)
    _publish_staged(os.path.join(staging, "spans"), index_path, batch_id)
    os.makedirs(commit_dir, exist_ok=True)
    open(committed, "w").close()
    shutil.rmtree(staging, ignore_errors=True)

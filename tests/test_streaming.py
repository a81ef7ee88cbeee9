"""Structured Streaming tests: file-source ingest with MERGE idempotency,
watermarked windowed aggregation, stateful sessionization — all driven
with availableNow triggers so they run deterministically in CI."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from lakehouse_architecture_spark.operators.validation import PositiveRule
from lakehouse_architecture_spark.schemas import ORDERS_SCHEMA
from lakehouse_architecture_spark.streaming.jobs import (
    stream_csv_ingest_merge,
    stream_hourly_counts,
    stream_sessionize,
    stream_static_enrich,
)

CSV_HEADER = "order_num,order_id,user_id,order_timestamp,total_amount,date\n"


def _await(q, timeout=60):
    q.awaitTermination(timeout)


def test_stream_near_dup_ingest_updates_index(spark, tmp_path):
    """Continuous curation: batch 1's survivors must enter the corpus
    index so batch 2's duplicates of them are dropped; batch-internal
    dups drop too; novel docs always survive."""
    import json

    from lakehouse_architecture_spark.operators.minhash import (
        build_minhash_corpus_index,
    )
    from lakehouse_architecture_spark.streaming.jobs import (
        stream_near_dup_ingest,
    )

    BASE = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill and the birds sing outside"
    )
    FAR = (
        "completely different content about spark query engines and "
        "columnar storage formats with no overlap whatsoever at all"
    )
    NOVEL = (
        "a third entirely distinct document mentioning streaming "
        "ingestion checkpoints watermarks and micro batch execution"
    )

    seed = spark.createDataFrame([(1, FAR)], "doc_id long, text string")
    index_path = str(tmp_path / "mh_index")
    build_minhash_corpus_index(seed, "text", "doc_id").save(index_path)

    src = tmp_path / "docs_incoming"
    src.mkdir()
    target = str(tmp_path / "curated_docs")

    def write_batch(name, rows):
        (src / name).write_text(
            "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in rows)
        )

    def run():
        q = stream_near_dup_ingest(
            spark,
            str(src),
            "doc_id long, text string",
            index_path,
            target,
            checkpoint_dir=str(tmp_path / "ckpt_docs"),
            threshold=0.5,
        ).start()
        _await(q)

    # batch 1: 10 dups the seed corpus (dropped); 11+12 duplicate each
    # other (keep 11); 13 novel
    write_batch("b1.json", [(10, FAR), (11, BASE), (12, BASE), (13, NOVEL)])
    run()
    kept1 = {r.doc_id for r in spark.read.parquet(target).collect()}
    assert kept1 == {11, 13}

    # batch 2: 20 duplicates batch-1 SURVIVOR 11 -> only dropped if the
    # index absorbed batch 1; 21 novel
    write_batch("b2.json", [(20, BASE), (21, "totally fresh words " * 8)])
    run()
    kept2 = {r.doc_id for r in spark.read.parquet(target).collect()}
    assert kept2 == {11, 13, 21}


def test_near_dup_batch_replay_exactly_once(spark, tmp_path, monkeypatch):
    """The r5 ADVICE failure window: a crash between the survivor
    append and the index append must NOT duplicate survivors in the
    curated zone when Structured Streaming replays the batch. Driven
    through the module-level batch handler so the crash point and the
    replay are explicit."""
    from lakehouse_architecture_spark.operators.minhash import (
        build_minhash_corpus_index,
    )
    from lakehouse_architecture_spark.streaming import jobs

    index_path = str(tmp_path / "idx")
    target = str(tmp_path / "tgt")
    ckpt = str(tmp_path / "ckpt")
    seed = spark.createDataFrame(
        [(1, "seed corpus document about storage engines " * 3)],
        "doc_id long, text string",
    )
    build_minhash_corpus_index(seed, "text", "doc_id").save(index_path)

    batch = spark.createDataFrame(
        [
            (10, "a novel document on streaming ingestion " * 4),
            (11, "another unrelated text about window frames " * 4),
        ],
        "doc_id long, text string",
    )
    kw = dict(index_path=index_path, target_path=target, checkpoint_dir=ckpt)

    # Crash mid-publish: the curated-zone files land, the index moves
    # fail — exactly the window that used to double-append on replay.
    real_publish = jobs._publish_staged
    calls = {"n": 0}

    def crashing_publish(staged_sub, dest_dir, batch_id):
        if calls["n"] >= 1 and "idx" in dest_dir:
            raise OSError("simulated crash before index publish")
        calls["n"] += 1
        real_publish(staged_sub, dest_dir, batch_id)

    monkeypatch.setattr(jobs, "_publish_staged", crashing_publish)
    try:
        jobs.near_dup_handle_batch(spark, batch, 0, **kw)
    except OSError:
        pass
    monkeypatch.setattr(jobs, "_publish_staged", real_publish)

    # target already holds the survivors; commit marker must NOT exist
    assert {r.doc_id for r in spark.read.parquet(target).collect()} == {10, 11}
    import os

    assert not os.path.exists(
        os.path.join(ckpt, "near_dup_commits", "batch-0")
    )

    # replay (what foreachBatch does after restart): resumes the sealed
    # staging — no recompute against the half-published index, no
    # double-publish of the already-moved curated files
    jobs.near_dup_handle_batch(spark, batch, 0, **kw)
    rows = spark.read.parquet(target).collect()
    assert sorted(r.doc_id for r in rows) == [10, 11]  # exactly once
    assert os.path.exists(os.path.join(ckpt, "near_dup_commits", "batch-0"))

    # the index absorbed the batch exactly once: a re-sent duplicate of
    # survivor 10 is dropped, and a third replay of batch 0 is a no-op
    jobs.near_dup_handle_batch(spark, batch, 0, **kw)
    assert sorted(r.doc_id for r in spark.read.parquet(target).collect()) == [
        10,
        11,
    ]
    batch2 = spark.createDataFrame(
        [(20, "a novel document on streaming ingestion " * 4)],
        "doc_id long, text string",
    )
    jobs.near_dup_handle_batch(spark, batch2, 1, **kw)
    assert sorted(r.doc_id for r in spark.read.parquet(target).collect()) == [
        10,
        11,
    ]


def _cms_case(spark, tmp_path):
    from lakehouse_architecture_spark.operators.cms import cms_counters
    from lakehouse_architecture_spark.streaming.jobs import cms_handle_batch

    batch = spark.createDataFrame([(1,), (1,), (2,), (3,)], "user_id long")
    sketch = str(tmp_path / "sketch")

    def handle(ckpt):
        cms_handle_batch(
            spark, batch, 0, sketch_path=sketch, checkpoint_dir=ckpt,
            key_col="user_id", depth=3, width=32,
        )

    def cells(df):
        return sorted(tuple(r) for r in df.collect())

    return (
        handle,
        lambda: [cells(spark.read.parquet(sketch))],
        [cells(cms_counters(batch, "user_id", 3, 32))],
    )


def _media_dhash_case(spark, tmp_path):
    from tests.test_multimodal import _gradient_png

    from lakehouse_architecture_spark.streaming.jobs import (
        media_dhash_handle_batch,
    )

    batch = spark.createDataFrame(
        [(1, _gradient_png()), (2, _gradient_png(seed=97))],
        "media_id long, payload binary",
    )
    curated, index = str(tmp_path / "curated"), str(tmp_path / "index")

    def handle(ckpt):
        media_dhash_handle_batch(
            spark, batch, 0, index_path=index, target_path=curated,
            checkpoint_dir=ckpt,
        )

    def ids(path):
        return sorted(r.media_id for r in spark.read.parquet(path).collect())

    return handle, lambda: [ids(curated), ids(index)], [[1, 2], [1, 2]]


@pytest.mark.parametrize(
    "ns, case", [("cms", _cms_case), ("media_dhash", _media_dhash_case)]
)
def test_batch_crash_mid_publish_replays_exactly_once(
    spark, tmp_path, monkeypatch, ns, case
):
    """A crash in publish, after the batch's first output has moved into
    place and before the commit marker: the replay resumes the sealed
    staging, so every output lands exactly once, and the marker appears
    only with the replay."""
    from lakehouse_architecture_spark.streaming import jobs

    handle, outputs, want = case(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    marker = os.path.join(ckpt, f"{ns}_commits", "batch-0")
    real_publish = jobs._publish_staged

    def crash_after_first_output(staged_sub, dest_dir, batch_id):
        real_publish(staged_sub, dest_dir, batch_id)
        raise OSError("simulated crash after the first output")

    monkeypatch.setattr(jobs, "_publish_staged", crash_after_first_output)
    with pytest.raises(OSError):
        handle(ckpt)
    monkeypatch.setattr(jobs, "_publish_staged", real_publish)
    assert not os.path.exists(marker)

    handle(ckpt)
    assert os.path.exists(marker)
    assert outputs() == want
    handle(ckpt)  # a replay of the committed batch is a no-op
    assert outputs() == want


def test_stream_ingest_merge_idempotent(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    (src / "day1.csv").write_text(
        CSV_HEADER
        + "1,501,10,2025-04-01T10:00:00,100.0,2025-04-01\n"
        + "2,502,11,2025-04-01T11:00:00,-50.0,2025-04-01\n"  # invalid
    )
    target = str(tmp_path / "curated")
    rejected = str(tmp_path / "rejected")

    q = stream_csv_ingest_merge(
        spark,
        str(src),
        ORDERS_SCHEMA,
        target,
        keys=["order_id"],
        partition_by="date",
        checkpoint_dir=str(tmp_path / "ckpt"),
        rules=[PositiveRule("total_amount")],
        rejected_path=rejected,
    ).start()
    _await(q)

    assert spark.read.parquet(target).count() == 1
    rej = spark.read.parquet(f"{rejected}/stream_rejected")
    assert rej.count() == 1
    assert rej.collect()[0].validation_errors == "Non-positive total_amount"

    # second file: one update (same PK, new amount) + one insert
    (src / "day2.csv").write_text(
        CSV_HEADER
        + "1,501,10,2025-04-01T10:00:00,999.0,2025-04-01\n"
        + "3,503,12,2025-04-02T09:00:00,75.0,2025-04-02\n"
    )
    q2 = stream_csv_ingest_merge(
        spark,
        str(src),
        ORDERS_SCHEMA,
        target,
        keys=["order_id"],
        partition_by="date",
        checkpoint_dir=str(tmp_path / "ckpt"),
        rules=[PositiveRule("total_amount")],
        rejected_path=rejected,
    ).start()
    _await(q2)

    out = {r.order_id: r.total_amount for r in spark.read.parquet(target).collect()}
    assert out == {501: 999.0, 503: 75.0}


def test_stream_ingest_merge_matches_batch_pipeline(spark, tmp_path):
    """A micro-batch lands as the batch pipeline lands it: the schema's
    NotNull rules reject a null order_id (with the rejection audit
    columns), and two rows for one order_id dedup to one."""
    src = tmp_path / "incoming"
    src.mkdir()
    (src / "day1.csv").write_text(
        CSV_HEADER
        + "1,501,10,2025-04-01T10:00:00,100.0,2025-04-01\n"
        + "2,501,10,2025-04-01T10:05:00,120.0,2025-04-01\n"
        + "3,,11,2025-04-01T11:00:00,50.0,2025-04-01\n"
    )
    target = str(tmp_path / "orders")
    rejected = str(tmp_path / "rejected")
    q = stream_csv_ingest_merge(
        spark,
        str(src),
        ORDERS_SCHEMA,
        target,
        keys=["order_id"],
        partition_by="date",
        checkpoint_dir=str(tmp_path / "ckpt"),
        rules=[PositiveRule("total_amount")],
        rejected_path=rejected,
    ).start()
    _await(q)

    curated = spark.read.parquet(target).collect()
    assert [r.order_id for r in curated] == [501]
    rej = spark.read.parquet(f"{rejected}/stream_rejected").collect()
    assert len(rej) == 1
    assert rej[0].order_num == 3 and rej[0].validation_errors == "Null order_id"
    assert rej[0].source == "orders" and rej[0].rejection_time is not None


def test_stream_ingest_merge_replay_lands_rejections_once(spark, tmp_path):
    """A crash after the sink and before Spark commits the batch
    replays it under the same id. The MERGE is idempotent; the rejected
    rows are an append and must land once too."""
    src = tmp_path / "incoming"
    src.mkdir()
    (src / "day1.csv").write_text(
        CSV_HEADER
        + "1,501,10,2025-04-01T10:00:00,100.0,2025-04-01\n"
        + "2,502,11,2025-04-01T11:00:00,-50.0,2025-04-01\n"  # invalid
    )
    target = str(tmp_path / "curated")
    rejected = str(tmp_path / "rejected")
    ckpt = tmp_path / "ckpt"

    def run():
        q = stream_csv_ingest_merge(
            spark,
            str(src),
            ORDERS_SCHEMA,
            target,
            keys=["order_id"],
            partition_by="date",
            checkpoint_dir=str(ckpt),
            rules=[PositiveRule("total_amount")],
            rejected_path=rejected,
        ).start()
        _await(q)

    run()
    # the crash: Spark's commit of batch 0 never landed
    (ckpt / "commits" / "0").unlink()
    (ckpt / "commits" / ".0.crc").unlink()
    run()
    assert spark.read.parquet(target).count() == 1
    assert spark.read.parquet(f"{rejected}/stream_rejected").count() == 1


def test_stream_hourly_counts_watermarked(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    rows = [
        "1,2024-01-01T00:10:00,7,click,1.5",
        "2,2024-01-01T00:40:00,7,click,2.5",
        "3,2024-01-01T01:10:00,8,view,3.0",
    ]
    (src / "e.csv").write_text(
        "event_id,ts,user_id,event_type,value\n" + "\n".join(rows) + "\n"
    )
    stream = (
        spark.readStream.format("csv")
        .option("header", "true")
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .load(str(src))
    )
    out = stream_hourly_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("hourly_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    res = {
        (str(r.window_start), r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("select * from hourly_test").collect()
    }
    assert res[("2024-01-01 00:00:00", "click")] == (2, 4.0)
    assert res[("2024-01-01 01:00:00", "view")] == (1, 3.0)


def test_stream_sessionize_stateful(spark, tmp_path):
    src = tmp_path / "sess_events"
    src.mkdir()
    # user 7: two sessions (65-min gap); user 8: one session
    rows = [
        "1,2024-01-01T00:00:00,7,click,1.0",
        "2,2024-01-01T00:10:00,7,view,1.0",
        "3,2024-01-01T01:15:00,7,click,1.0",
        "4,2024-01-01T00:05:00,8,view,1.0",
    ]
    (src / "e.csv").write_text(
        "event_id,ts,user_id,event_type,value\n" + "\n".join(rows) + "\n"
    )
    stream = (
        spark.readStream.format("csv")
        .option("header", "true")
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .load(str(src))
    )
    out = stream_sessionize(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    # availableNow closes the stream after one pass: only sessions closed
    # by a LATER event in the same run are emitted (user 7's first one);
    # open sessions stay in state awaiting timeout.
    rows = spark.sql("select * from sessions_test").collect()
    emitted = {(r.user_id, r.n_events) for r in rows}
    assert (7, 2) in emitted


def test_stream_dedup_within_watermark(spark, tmp_path):
    from lakehouse_architecture_spark.streaming.jobs import stream_dedup

    src = tmp_path / "dup_events"
    src.mkdir()
    # event_id 1 arrives three times (duplicate delivery); 2 once
    rows = [
        "1,2024-01-01T00:00:00,7,click,1.0",
        "1,2024-01-01T00:00:00,7,click,1.0",
        "2,2024-01-01T00:05:00,8,view,2.0",
        "1,2024-01-01T00:00:00,7,click,1.0",
    ]
    (src / "e.csv").write_text(
        "event_id,ts,user_id,event_type,value\n" + "\n".join(rows) + "\n"
    )
    stream = (
        spark.readStream.format("csv")
        .option("header", "true")
        .schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .load(str(src))
    )
    q = (
        stream_dedup(stream, ["event_id"])
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    out = spark.sql("select * from dedup_test").collect()
    assert sorted(r.event_id for r in out) == [1, 2]


def test_stream_static_enrich_broadcast(spark, tmp_path):
    src = tmp_path / "enrich_events"
    src.mkdir()
    (src / "e.csv").write_text(
        "event_id,ts,user_id,event_type,value\n"
        "1,2024-01-01T00:10:00,7,click,1.5\n"
        "2,2024-01-01T00:40:00,8,view,2.5\n"
        "3,2024-01-01T01:10:00,99,view,3.0\n"  # no dim row -> null name
    )
    dim = spark.createDataFrame(
        [(7, "alice"), (8, "bob")], "user_id long, user_name string"
    )
    stream = (
        spark.readStream.format("csv")
        .option("header", "true")
        .schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .load(str(src))
    )
    q = (
        stream_static_enrich(stream, dim, ["user_id"])
        .writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    out = {r.event_id: r.user_name for r in spark.sql(
        "select * from enrich_test").collect()}
    assert out == {1: "alice", 2: "bob", 3: None}


def test_stream_stream_join_attribution(spark, tmp_path):
    from lakehouse_architecture_spark.streaming.jobs import stream_stream_join

    imp_dir = tmp_path / "impressions"
    clk_dir = tmp_path / "clicks"
    imp_dir.mkdir()
    clk_dir.mkdir()
    (imp_dir / "i.csv").write_text(
        "imp_id,ts,user_id\n"
        "1,2024-01-01T00:00:00,7\n"
        "2,2024-01-01T00:00:00,8\n"
        "3,2024-01-01T02:00:00,7\n"
    )
    (clk_dir / "c.csv").write_text(
        "click_id,ts,user_id\n"
        "10,2024-01-01T00:10:00,7\n"   # within 30min of imp 1 -> joins
        "11,2024-01-01T01:30:00,8\n"   # 90min after imp 2 -> out of range
        "12,2024-01-01T02:05:00,7\n"   # joins imp 3 (not imp 1: >30min)
    )
    imps = (
        spark.readStream.format("csv").option("header", "true")
        .schema("imp_id long, ts timestamp, user_id long")
        .load(str(imp_dir))
    )
    clicks = (
        spark.readStream.format("csv").option("header", "true")
        .schema("click_id long, cts timestamp, user_id long")
        .load(str(clk_dir))
    )
    joined = stream_stream_join(
        imps, clicks, key="user_id", left_ts="ts", right_ts="cts",
        max_lag="30 minutes",
    ).select("imp_id", "click_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {(r.imp_id, r.click_id)
           for r in spark.sql("select * from attrib_test").collect()}
    assert got == {(1, 10), (3, 12)}


def test_stream_image_dhash_ingest(spark, tmp_path):
    """Perceptual-dedup streaming ingest: batch 2's near-dup of a
    batch-1 image is dropped by the persisted hash index; new and
    undecodable images land; survivor hashes append to the index."""
    from tests.test_multimodal import _gradient_png

    from lakehouse_architecture_spark.streaming.jobs import (
        stream_image_dhash_ingest,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    schema = "media_id long, payload binary"

    def write_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "stage" / name))
        import shutil as _sh

        for f in (tmp_path / "stage" / name).iterdir():
            if f.suffix == ".parquet":
                _sh.move(str(f), str(src / f"{name}.parquet"))

    paths = dict(
        index_path=str(tmp_path / "index"),
        target_path=str(tmp_path / "curated"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    def drain():
        q = stream_image_dhash_ingest(
            spark, str(src), schema, **paths
        ).start()
        q.awaitTermination(120)

    write_batch([(1, _gradient_png()), (2, _gradient_png(seed=97))], "b1")
    drain()
    curated = spark.read.parquet(paths["target_path"])
    assert sorted(r.media_id for r in curated.collect()) == [1, 2]
    idx = spark.read.parquet(paths["index_path"])
    assert sorted(r.media_id for r in idx.collect()) == [1, 2]

    # batch 2: near-dup of image 1, a genuinely new image, a null payload
    write_batch(
        [(10, _gradient_png(flip=4)), (11, _gradient_png(seed=55)), (12, None)],
        "b2",
    )
    drain()
    curated = spark.read.parquet(paths["target_path"])
    assert sorted(r.media_id for r in curated.collect()) == [1, 2, 11, 12]
    idx = spark.read.parquet(paths["index_path"])
    # null-hash image 12 is curated but not indexed
    assert sorted(r.media_id for r in idx.collect()) == [1, 2, 11]


def test_stream_cms_ingest_merges_to_batch_sketch(spark, tmp_path):
    """Streamed partial cells re-aggregate to EXACTLY the sketch a
    single batch build produces over the same rows, and a replayed
    batch (fresh checkpoint, same source) never double-counts thanks
    to the commit markers."""
    import json

    from lakehouse_architecture_spark.operators.cms import (
        cms_counters,
        load_cms_counters,
    )
    from lakehouse_architecture_spark.streaming.jobs import (
        cms_handle_batch,
        stream_cms_ingest,
    )

    src = tmp_path / "events_incoming"
    src.mkdir()
    sketch = str(tmp_path / "cms_sketch")
    ckpt = str(tmp_path / "ckpt_cms")

    rows1 = [{"user_id": u} for u in [1, 1, 2, 3]]
    rows2 = [{"user_id": u} for u in [1, 4, 4, 5]]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows1))

    def run():
        q = stream_cms_ingest(
            spark, str(src), "user_id long", sketch, ckpt,
            key_col="user_id", depth=3, width=32,
        ).start()
        q.awaitTermination(60)

    run()
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in rows2))
    run()

    all_rows = spark.createDataFrame(
        [(r["user_id"],) for r in rows1 + rows2], "user_id long"
    )
    expect = {
        (r["__cms_d"], r["__cms_bucket"]): r["cnt"]
        for r in cms_counters(all_rows, "user_id", 3, 32).collect()
    }
    got = {
        (r["__cms_d"], r["__cms_bucket"]): r["cnt"]
        for r in load_cms_counters(spark, sketch).collect()
    }
    assert got == expect

    # replaying batch 0 against the same checkpoint is a no-op
    cms_handle_batch(
        spark,
        spark.createDataFrame([(9,)], "user_id long"),
        0,
        sketch_path=sketch,
        checkpoint_dir=ckpt,
        key_col="user_id",
        depth=3,
        width=32,
    )
    again = {
        (r["__cms_d"], r["__cms_bucket"]): r["cnt"]
        for r in load_cms_counters(spark, sketch).collect()
    }
    assert again == expect


def test_stream_cdc_apply_converges(spark, tmp_path):
    import json as _json

    from lakehouse_architecture_spark.streaming.jobs import stream_cdc_apply

    src = tmp_path / "cdc_src"
    src.mkdir()
    target = str(tmp_path / "cdc_target")
    ckpt = str(tmp_path / "cdc_ckpt")
    (src / "b1.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"k": 1, "v": "a", "op": "upsert"},
                {"k": 2, "v": "b", "op": "upsert"},
            ]
        )
    )
    schema = "k long, v string, op string"
    q = stream_cdc_apply(
        spark, str(src), schema, target, ["k"], checkpoint_dir=ckpt
    ).start()
    q.awaitTermination(120)
    assert {(r.k, r.v) for r in spark.read.parquet(target).collect()} == {
        (1, "a"),
        (2, "b"),
    }
    # second batch: delete k=1, update k=2, insert k=3
    (src / "b2.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"k": 1, "v": None, "op": "delete"},
                {"k": 2, "v": "B", "op": "upsert"},
                {"k": 3, "v": "c", "op": "upsert"},
            ]
        )
    )
    q2 = stream_cdc_apply(
        spark, str(src), schema, target, ["k"], checkpoint_dir=ckpt
    ).start()
    q2.awaitTermination(120)
    assert {(r.k, r.v) for r in spark.read.parquet(target).collect()} == {
        (2, "B"),
        (3, "c"),
    }


def test_stream_rollup_maintain_exact_state(spark, tmp_path):
    import json as _json

    from lakehouse_architecture_spark.streaming.jobs import (
        stream_rollup_maintain,
    )

    src = tmp_path / "roll_src"
    src.mkdir()
    state = str(tmp_path / "roll_state")
    ckpt = str(tmp_path / "roll_ckpt")
    schema = "k string, v double"
    (src / "b1.json").write_text(
        "\n".join(
            _json.dumps({"k": k, "v": v})
            for k, v in [("a", 1.5), ("a", 2.5), ("b", 10.0)]
        )
    )
    q = stream_rollup_maintain(
        spark, str(src), schema, state, ["k"], "v", checkpoint_dir=ckpt
    ).start()
    q.awaitTermination(120)
    got = {
        r.k: (r.n_rows, float(r.sum_value))
        for r in spark.read.parquet(state).collect()
    }
    assert got == {"a": (2, 4.0), "b": (1, 10.0)}
    (src / "b2.json").write_text(
        "\n".join(
            _json.dumps({"k": k, "v": v})
            for k, v in [("b", 0.5), ("c", 7.0)]
        )
    )
    q2 = stream_rollup_maintain(
        spark, str(src), schema, state, ["k"], "v", checkpoint_dir=ckpt
    ).start()
    q2.awaitTermination(120)
    got2 = {
        r.k: (r.n_rows, float(r.sum_value))
        for r in spark.read.parquet(state).collect()
    }
    assert got2 == {"a": (2, 4.0), "b": (2, 10.5), "c": (1, 7.0)}


def test_rollup_batch_replay_exactly_once(spark, tmp_path):
    """The r8 ADVICE finding: a crash between the state swap and the
    checkpoint offset commit replays the batch into foldable state.
    Drives rollup_handle_batch directly so replay and crash windows
    are explicit: a replayed committed batch must NOT double-count,
    and a crash mid-publish (state moved to backup, staged state not
    yet moved in) must resume to the same answer."""
    import os
    import shutil

    from lakehouse_architecture_spark.streaming.jobs import (
        rollup_handle_batch,
    )

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt)
    b0 = spark.createDataFrame(
        [("a", 1.5), ("a", 2.5), ("b", 10.0)], "k string, v double"
    )
    kw = dict(state_path=state, keys=["k"], value="v", checkpoint_dir=ckpt)
    rollup_handle_batch(spark, b0, 0, **kw)
    want0 = {"a": (2, 4.0), "b": (1, 10.0)}

    def read_state():
        return {
            r.k: (r.n_rows, float(r.sum_value))
            for r in spark.read.parquet(state).collect()
        }

    assert read_state() == want0
    # replay of a committed batch (restart after crash before the
    # offset commit): must be a no-op, not a double fold
    rollup_handle_batch(spark, b0, 0, **kw)
    assert read_state() == want0

    # crash window: batch 1 staged + sealed + old state moved to the
    # backup slot, but the staged state not yet published
    b1 = spark.createDataFrame([("b", 0.5), ("c", 7.0)], "k string, v double")
    staging = os.path.join(ckpt, "rollup_staging", "1")
    rollup_handle_batch(spark, b1, 1, **kw)
    want1 = {"a": (2, 4.0), "b": (2, 10.5), "c": (1, 7.0)}
    assert read_state() == want1
    # simulate the mid-publish crash for batch 2 by hand: seal a
    # staged state, move live state into the deterministic backup
    b2 = spark.createDataFrame([("c", 3.0)], "k string, v double")
    staging2 = os.path.join(ckpt, "rollup_staging", "2")
    from lakehouse_architecture_spark.operators.incremental_agg import (
        agg_state,
        merge_agg_state,
    )

    merged = merge_agg_state(spark.read.parquet(state), agg_state(b2, ["k"], "v"))
    merged.write.parquet(os.path.join(staging2, "state"))
    open(os.path.join(staging2, "_STAGED"), "w").close()
    shutil.move(state, os.path.join(staging2, "old"))
    assert not os.path.exists(state)
    # replay resumes the publish from the sealed staging
    rollup_handle_batch(spark, b2, 2, **kw)
    assert read_state() == {"a": (2, 4.0), "b": (2, 10.5), "c": (2, 10.0)}
    # and a further replay of the now-committed batch is a no-op
    rollup_handle_batch(spark, b2, 2, **kw)
    assert read_state() == {"a": (2, 4.0), "b": (2, 10.5), "c": (2, 10.0)}
    assert not os.path.exists(staging) and not os.path.exists(staging2)


def test_stream_kmv_maintain_matches_batch_sketch(spark, tmp_path):
    """The streamed per-group KMV state must be BIT-IDENTICAL to the
    batch-computed sketch over the same rows (k-min closure: folding
    per-batch k-mins equals the global k-min), and a restart must pick
    up new files without refolding old ones."""
    import json as _json

    from lakehouse_architecture_spark.operators.kmv import (
        kmv_hash,
        kmv_sketch_by,
    )
    from lakehouse_architecture_spark.streaming.jobs import (
        stream_kmv_daily_maintain,
    )

    src = tmp_path / "kmv_src"
    src.mkdir()
    state = str(tmp_path / "kmv_state")
    ckpt = str(tmp_path / "kmv_ckpt")
    schema = "day string, cell string"
    K = 4  # tiny k so saturation + truncation paths are exercised
    rows1 = [("d1", f"u{i}") for i in range(10)] + [("d2", "u1")]
    rows2 = [("d1", f"u{i}") for i in range(5, 15)] + [("d3", "u2")]
    (src / "b1.json").write_text(
        "\n".join(_json.dumps({"day": d, "cell": c}) for d, c in rows1)
    )
    q = stream_kmv_daily_maintain(
        spark, str(src), schema, state, "day", "cell", k=K,
        checkpoint_dir=ckpt,
    ).start()
    q.awaitTermination(120)
    (src / "b2.json").write_text(
        "\n".join(_json.dumps({"day": d, "cell": c}) for d, c in rows2)
    )
    q2 = stream_kmv_daily_maintain(
        spark, str(src), schema, state, "day", "cell", k=K,
        checkpoint_dir=ckpt,
    ).start()
    q2.awaitTermination(120)

    streamed = {
        r.day: list(r.kmv) for r in spark.read.parquet(state).collect()
    }
    all_rows = spark.createDataFrame(rows1 + rows2, schema)
    hs = all_rows.select(
        "day", kmv_hash(F.col("cell")).alias("h")
    ).distinct()
    want = {
        r.day: list(r.kmv) for r in kmv_sketch_by(hs, "day", K).collect()
    }
    assert streamed == want
    # saturated group really is truncated; unsaturated groups are exact
    assert len(streamed["d1"]) == K
    assert len(streamed["d2"]) == 1 and len(streamed["d3"]) == 1


def test_stream_rollup_maintains_quantile_histogram(spark, tmp_path):
    """The events_value_quantile_rollup docstring's 'streaming twin
    for free' claim, tested: per-(day, bucket) histogram counts are
    plain per-key count state, so stream_rollup_maintain maintains the
    stored artifact exactly — the streamed n_rows per key must equal
    the batch-computed histogram over the same rows."""
    import json as _json

    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.streaming.jobs import (
        stream_rollup_maintain,
    )

    src = tmp_path / "vq_src"
    src.mkdir()
    state = str(tmp_path / "vq_state")
    ckpt = str(tmp_path / "vq_ckpt")
    # pre-bucketed rows, as the ingest job would emit them
    rows1 = [("d1", 3, 1.0), ("d1", 3, 2.0), ("d1", 5, 1.0), ("d2", 3, 4.0)]
    rows2 = [("d1", 3, 8.0), ("d2", 7, 1.0)]
    schema = "day string, bucket int, v double"
    (src / "b1.json").write_text(
        "\n".join(
            _json.dumps({"day": d, "bucket": b, "v": v})
            for d, b, v in rows1
        )
    )
    q = stream_rollup_maintain(
        spark, str(src), schema, state, ["day", "bucket"], "v",
        checkpoint_dir=ckpt,
    ).start()
    q.awaitTermination(120)
    (src / "b2.json").write_text(
        "\n".join(
            _json.dumps({"day": d, "bucket": b, "v": v})
            for d, b, v in rows2
        )
    )
    q2 = stream_rollup_maintain(
        spark, str(src), schema, state, ["day", "bucket"], "v",
        checkpoint_dir=ckpt,
    ).start()
    q2.awaitTermination(120)
    streamed = {
        (r.day, r.bucket): r.n_rows
        for r in spark.read.parquet(state).collect()
    }
    batch = {
        (r.day, r.bucket): r.cnt
        for r in spark.createDataFrame(rows1 + rows2, schema)
        .groupBy("day", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert streamed == batch


def test_stream_rollup_maintains_per_type_histogram(spark, tmp_path):
    """events_value_quantile_rollup_by_type's streaming claim: the
    SAME job maintains the per-GROUP histogram artifact — the key list
    just widens to (event_type, day, bucket). Streamed counts must
    equal the batch histogram at the 3-part grain."""
    import json as _json

    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.streaming.jobs import (
        stream_rollup_maintain,
    )

    src = tmp_path / "vqt_src"
    src.mkdir()
    state = str(tmp_path / "vqt_state")
    ckpt = str(tmp_path / "vqt_ckpt")
    rows = [
        ("click", "d1", 3, 1.0),
        ("click", "d1", 3, 2.0),
        ("view", "d1", 3, 1.0),
        ("click", "d2", 5, 4.0),
        ("view", "d2", 5, 8.0),
    ]
    schema = "event_type string, day string, bucket int, v double"
    (src / "b1.json").write_text(
        "\n".join(
            _json.dumps({"event_type": t, "day": d, "bucket": b, "v": v})
            for t, d, b, v in rows
        )
    )
    q = stream_rollup_maintain(
        spark, str(src), schema, state,
        ["event_type", "day", "bucket"], "v", checkpoint_dir=ckpt,
    ).start()
    q.awaitTermination(120)
    streamed = {
        (r.event_type, r.day, r.bucket): r.n_rows
        for r in spark.read.parquet(state).collect()
    }
    batch = {
        (r.event_type, r.day, r.bucket): r.cnt
        for r in spark.createDataFrame(rows, schema)
        .groupBy("event_type", "day", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert streamed == batch


def test_kmv_batch_replay_exactly_once(spark, tmp_path):
    """Replay of a committed KMV batch must be a no-op, and a crash
    mid-publish (old state moved to the deterministic backup, staged
    state not yet live) must resume to the same sketches."""
    import os
    import shutil

    from lakehouse_architecture_spark.streaming.jobs import (
        kmv_handle_batch,
    )

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt)
    schema = "day string, cell string"
    kw = dict(
        state_path=state, group_col="day", cell_col="cell", k=4,
        checkpoint_dir=ckpt,
    )

    def read_state():
        return {
            r.day: list(r.kmv) for r in spark.read.parquet(state).collect()
        }

    b0 = spark.createDataFrame(
        [("d1", f"u{i}") for i in range(8)], schema
    )
    kmv_handle_batch(spark, b0, 0, **kw)
    want0 = read_state()
    kmv_handle_batch(spark, b0, 0, **kw)  # committed replay: no-op
    assert read_state() == want0

    # crash window: batch 1 staged + sealed + live state moved to the
    # backup slot, but not yet published — replay must resume, not
    # refold against half-swapped state
    b1 = spark.createDataFrame([("d1", "u99"), ("d2", "x")], schema)
    staging = os.path.join(ckpt, "kmv_staging", "1")
    kmv_handle_batch(spark, b1, 1, **kw)
    want1 = read_state()
    assert set(want1) == {"d1", "d2"}
    b2 = spark.createDataFrame([("d2", "y")], schema)
    staging2 = os.path.join(ckpt, "kmv_staging", "2")
    # hand-stage batch 2 and simulate the mid-publish crash
    from lakehouse_architecture_spark.operators.kmv import (
        kmv_hash,
        kmv_sketch_by,
        kmv_union,
    )

    hs = b2.select("day", kmv_hash(F.col("cell")).alias("h")).distinct()
    partial = kmv_sketch_by(hs, "day", 4).select(
        "day", F.col("kmv").alias("kmv_b")
    )
    prior = spark.read.parquet(state).select(
        "day", F.col("kmv").alias("kmv_a")
    )
    empty = F.array().cast("array<long>")
    merged = prior.join(partial, "day", "full_outer").select(
        "day",
        kmv_union(
            F.coalesce("kmv_a", empty), F.coalesce("kmv_b", empty), 4
        ).alias("kmv"),
    )
    merged.write.parquet(os.path.join(staging2, "state"))
    open(os.path.join(staging2, "_STAGED"), "w").close()
    shutil.move(state, os.path.join(staging2, "old"))
    assert not os.path.exists(state)
    kmv_handle_batch(spark, b2, 2, **kw)  # resumes the publish
    got = read_state()
    assert len(got["d2"]) == 2  # x and y both in d2's sketch
    assert got["d1"] == want1["d1"]
    kmv_handle_batch(spark, b2, 2, **kw)  # committed replay: no-op
    assert read_state() == got
    assert not os.path.exists(staging) and not os.path.exists(staging2)


def test_stream_span_dedup_ingest_and_replay(spark, tmp_path):
    """The ExactSubstr streaming ingest: batch docs >=20% span-copied
    from the persisted index (or from a lower-id doc in the same
    batch) are rejected; survivors land in the curated zone and their
    spans fold into the index; committed batches replay as no-ops."""
    import json as _json
    import os

    from lakehouse_architecture_spark.streaming.jobs import (
        span_dedup_handle_batch,
        stream_span_dedup_ingest,
    )

    words = lambda seed, n: " ".join(f"w{seed}x{i}" for i in range(n))
    base_text = words(1, 30)          # 23 spans of 8 words
    fresh_text = words(2, 30)
    other_text = words(3, 30)
    copied_text = base_text + " tailA tailB"   # ~92% copied from base
    internal_a = words(4, 30)
    internal_b = internal_a + " tailC tailD"   # copies internal_a

    src = tmp_path / "span_src"
    src.mkdir()
    idx = str(tmp_path / "span_idx")
    tgt = str(tmp_path / "span_tgt")
    ckpt = str(tmp_path / "span_ckpt")
    schema = "doc_id long, text string"

    (src / "b0.json").write_text(
        "\n".join(
            _json.dumps({"doc_id": d, "text": t})
            for d, t in [(1, base_text), (2, fresh_text)]
        )
    )
    q = stream_span_dedup_ingest(
        spark, str(src), schema, idx, tgt, ckpt
    ).start()
    q.awaitTermination(120)
    assert {r.doc_id for r in spark.read.parquet(tgt).collect()} == {1, 2}

    (src / "b1.json").write_text(
        "\n".join(
            _json.dumps({"doc_id": d, "text": t})
            for d, t in [
                (10, copied_text),    # rejected: copied from the INDEX
                (11, other_text),     # admitted
                (12, internal_a),     # admitted (owner of its spans)
                (13, internal_b),     # rejected: copied from 12 in-batch
            ]
        )
    )
    q2 = stream_span_dedup_ingest(
        spark, str(src), schema, idx, tgt, ckpt
    ).start()
    q2.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(tgt).collect()}
    assert got == {1, 2, 11, 12}
    # the index holds only survivors' spans: doc 13's tail spans absent
    idx_spans = {r.span for r in spark.read.parquet(idx).collect()}
    assert not any("tailC" in s or "tailD" in s for s in idx_spans)
    assert any("w3x0" in s for s in idx_spans)  # doc 11's spans present

    # replay of a committed batch is a no-op (exactly-once)
    b1 = spark.createDataFrame(
        [(10, copied_text), (11, other_text), (12, internal_a), (13, internal_b)],
        schema,
    )
    span_dedup_handle_batch(
        spark, b1, 1, index_path=idx, target_path=tgt, checkpoint_dir=ckpt
    )
    again = [r.doc_id for r in spark.read.parquet(tgt).collect()]
    assert sorted(again) == [1, 2, 11, 12]  # no duplicate rows either
    assert not os.path.exists(
        os.path.join(ckpt, "span_dedup_staging", "1")
    )

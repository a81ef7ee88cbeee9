"""insert_if_absent guard + archive-step tests."""

from __future__ import annotations

import os

import pytest

from lakehouse_architecture_spark.plans.archive import archive_files
from lakehouse_architecture_spark.sinks.writers import insert_if_absent


def test_insert_if_absent_guard(spark, tmp_path):
    path = str(tmp_path / "t")
    first = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    assert insert_if_absent(spark, first, path, ["k"]) == 2

    # re-insert same keys + one new: only the new row lands
    again = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "c")], "k int, v string"
    )
    assert insert_if_absent(spark, again, path, ["k"]) == 1
    out = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert out == {1: "a", 2: "b", 3: "c"}  # existing rows untouched


def test_archive_files_moves_batches(tmp_path):
    src = tmp_path / "raw"
    dst = tmp_path / "archive"
    src.mkdir()
    for i in range(5):
        (src / f"f{i}.csv").write_text("x")
    (src / "keep.txt").write_text("y")

    res = archive_files(str(src), str(dst), batch_size=2)
    assert len(res.moved) == 5 and not res.failed
    assert sorted(os.listdir(dst)) == [f"f{i}.csv" for i in range(5)]
    assert os.listdir(src) == ["keep.txt"]  # non-matching left behind

    # idempotent second run: nothing left to move
    assert archive_files(str(src), str(dst)).moved == []


@pytest.mark.parametrize("uri_side", ["source", "archive"])
def test_archive_files_refuses_uri_paths(tmp_path, monkeypatch, uri_side):
    """os/shutil take ``s3://b/x`` for a relative local name: the archive
    used to be created as an ``s3:/b/x`` tree in the working directory
    and the raw files moved into it. A URI on either side is refused
    before any file is touched."""
    src = tmp_path / "raw"
    src.mkdir()
    (src / "f0.csv").write_text("x")
    monkeypatch.chdir(tmp_path)
    if uri_side == "source":
        args = (src.as_uri(), str(tmp_path / "archive"))
    else:
        args = (str(src), "s3://b/x")
    with pytest.raises(ValueError, match="local filesystem paths only"):
        archive_files(*args)
    assert os.listdir(tmp_path) == ["raw"]
    assert os.listdir(src) == ["f0.csv"]


def test_knn_ivf_recall(spark, sf_dir):
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.similarity import (
        knn_bruteforce,
        knn_ivf,
    )
    from lakehouse_architecture_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3)
    exact = {(r.query_id, r.vec_id) for r in knn_bruteforce(emb, qs, k=5).collect()}
    approx = {
        (r.query_id, r.vec_id)
        for r in knn_ivf(emb, qs, n_centroids=8, n_probe=4, k=5).collect()
    }
    assert len(exact & approx) / len(exact) > 0.4


def test_compact_table(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.sinks.writers import compact_table
    from lakehouse_architecture_spark.sources.tables import load_table

    path = str(tmp_path / "orders_frag")
    orders = load_table(spark, sf_dir, "orders")
    # simulate micro-batch accretion: 8 files per status partition
    orders.repartition(8).write.partitionBy("o_orderstatus").parquet(path)
    before_df = spark.read.parquet(path)
    n_rows = before_df.count()
    checksum = before_df.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double")
    ).collect()[0][0]

    nb, na = compact_table(
        spark, path, partition_by="o_orderstatus", sort_by=["o_orderdate"]
    )
    assert nb > na
    assert na == 3  # one file per status partition at this size

    after_df = spark.read.parquet(path)
    assert after_df.count() == n_rows
    assert (
        after_df.agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double")
        ).collect()[0][0]
        == checksum
    )


def test_delete_where_partition_pruned(spark, tmp_path):
    """DELETE rewrites only partitions containing matches; untouched
    partition files keep their identity (never rewritten)."""
    import os

    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.sinks.writers import (
        delete_where,
        write_partitioned,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "a" if i < 5 else "b") for i in range(10)], "id int, p string"
    )
    write_partitioned(df, path, "p")
    b_files_before = set(os.listdir(os.path.join(path, "p=b")))

    n = delete_where(spark, path, (F.col("id") < 3), partition_by="p")
    assert n == 3
    back = spark.read.parquet(path)
    assert {r.id for r in back.collect()} == set(range(3, 10))
    # partition b had no matches: its files were never rewritten
    assert set(os.listdir(os.path.join(path, "p=b"))) == b_files_before

    # no-match delete is a no-op
    assert delete_where(spark, path, (F.col("id") > 99), partition_by="p") == 0

    # deleting every row of one partition removes its directory
    n = delete_where(spark, path, (F.col("p") == "a"), partition_by="p")
    assert n == 2
    assert not os.path.exists(os.path.join(path, "p=a"))
    assert {r.id for r in spark.read.parquet(path).collect()} == set(range(5, 10))


def test_delta_merge_branch_choreography(spark, tmp_path, monkeypatch):
    """delta-spark cannot be installed here (no package network — see
    README), so the ``HAVE_DELTA`` branch is exercised with a recording
    fake: assert merge_upsert delegates to DeltaTable.merge with the
    reference's exact call chain (alias existing/updates, equi-condition
    on every key, whenMatchedUpdateAll -> whenNotMatchedInsertAll ->
    execute; /root/reference/src/glue_etl.py:339-349)."""
    from lakehouse_architecture_spark.sinks import writers

    calls: dict[str, object] = {}

    class FakeMergeBuilder:
        def whenMatchedUpdateAll(self):
            calls.setdefault("chain", []).append("whenMatchedUpdateAll")
            return self

        def whenNotMatchedInsertAll(self):
            calls["chain"].append("whenNotMatchedInsertAll")
            return self

        def execute(self):
            calls["chain"].append("execute")

    class FakeDeltaTable:
        @staticmethod
        def forPath(spark_arg, path_arg):
            calls["path"] = path_arg
            return FakeDeltaTable()

        def alias(self, name):
            calls["target_alias"] = name
            return self

        def merge(self, updates_df, cond):
            calls["cond"] = cond
            return FakeMergeBuilder()

    monkeypatch.setattr(writers, "DeltaTable", FakeDeltaTable)
    monkeypatch.setattr(writers, "HAVE_DELTA", True)

    path = str(tmp_path / "delta_t")
    initial = spark.createDataFrame([(1, "a", "p1")], "k int, v string, p string")
    # first write: table absent -> plain partitioned write, no merge call
    writers.merge_upsert(spark, initial, path, ["k"], partition_by="p")
    assert "path" not in calls

    updates = spark.createDataFrame([(1, "A", "p1")], "k int, v string, p string")
    writers.merge_upsert(spark, updates, path, ["k", "p"], partition_by="p")
    assert calls["path"] == path
    assert calls["target_alias"] == "existing"
    assert calls["cond"] == "existing.k = updates.k AND existing.p = updates.p"
    assert calls["chain"] == [
        "whenMatchedUpdateAll",
        "whenNotMatchedInsertAll",
        "execute",
    ]


def test_export_jsonl_shards_roundtrip_and_determinism(spark, sf_dir, tmp_path):
    """Sharded JSONL export: content round-trips exactly, the manifest
    matches the written files, and the shard assignment is stable
    across re-exports (content-keyed, not round-robin)."""
    from lakehouse_architecture_spark.sinks.writers import export_jsonl_shards
    from lakehouse_architecture_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "shards")
    manifest = export_jsonl_shards(docs, out, n_shards=4, id_col="doc_id")
    rows = manifest.collect()
    assert {r.shard for r in rows} <= set(range(4))
    assert sum(r.n_rows for r in rows) == docs.count()

    back = spark.read.json(out)
    assert back.count() == docs.count()
    orig = {(r.doc_id, r.text) for r in docs.collect()}
    got = {(r.doc_id, r.text) for r in back.select("doc_id", "text").collect()}
    assert got == orig

    # determinism: a second export assigns every doc to the same shard
    out2 = str(tmp_path / "shards2")
    export_jsonl_shards(docs, out2, n_shards=4, id_col="doc_id")
    a = {
        (r.doc_id, r.shard)
        for r in spark.read.json(out).select("doc_id", "shard").collect()
    }
    b = {
        (r.doc_id, r.shard)
        for r in spark.read.json(out2).select("doc_id", "shard").collect()
    }
    assert a == b


def test_export_jsonl_shards_manifest_covers_empty_shards(spark, tmp_path):
    """A shard that received no rows must still appear in the manifest
    with n_rows=0 (consumers distinguish 'empty' from 'lost'), and a
    pre-existing 'shard' column is rejected, never clobbered."""
    import pytest
    from lakehouse_architecture_spark.sinks.writers import export_jsonl_shards

    # 2 rows into 8 shards: at least 6 shards are necessarily empty
    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    manifest = export_jsonl_shards(
        df, str(tmp_path / "sparse"), n_shards=8, id_col="doc_id"
    ).collect()
    assert [r.shard for r in manifest] == list(range(8))
    assert sum(r.n_rows for r in manifest) == 2
    assert sum(1 for r in manifest if r.n_rows == 0) >= 6
    assert all(r.n_files == 0 for r in manifest if r.n_rows == 0)

    clash = df.withColumnRenamed("text", "shard")
    with pytest.raises(ValueError, match="reserves the 'shard' column"):
        export_jsonl_shards(clash, str(tmp_path / "clash"), 4, "doc_id")

    # an EMPTY export must produce an all-zeros manifest, not a schema-
    # inference error (zero data files to infer from)
    empty = df.filter("doc_id < 0")
    manifest0 = export_jsonl_shards(
        empty, str(tmp_path / "empty"), n_shards=4, id_col="doc_id"
    ).collect()
    assert [(r.shard, r.n_rows, r.n_files) for r in manifest0] == [
        (i, 0, 0) for i in range(4)
    ]


def test_merge_upsert_schema_drift_loud_and_evolvable(spark, tmp_path):
    """A new update column must never be silently dropped: drift raises
    by default; evolve_schema=True adds the column with nulls for
    pre-existing rows (Delta mergeSchema semantics on the fallback)."""
    import pytest
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.sinks.writers import merge_upsert

    path = str(tmp_path / "tgt")
    base = spark.createDataFrame(
        [(1, "a", "2025-01-01"), (2, "b", "2025-01-01")],
        "id long, v string, date string",
    )
    merge_upsert(spark, base, path, ["id"], partition_by="date")

    upd = spark.createDataFrame(
        [(2, "b2", "2025-01-01", "new")],
        "id long, v string, date string, extra string",
    )
    with pytest.raises(ValueError, match="absent from the target"):
        merge_upsert(spark, upd, path, ["id"], partition_by="date")

    merge_upsert(
        spark, upd, path, ["id"], partition_by="date", evolve_schema=True
    )
    out = {r.id: (r.v, r.extra) for r in spark.read.parquet(path).collect()}
    assert out == {1: ("a", None), 2: ("b2", "new")}


def test_merge_upsert_evolve_survives_mixed_schema_partitions(spark, tmp_path):
    """A pruned evolve-merge rewrites only the touched partitions,
    leaving old-schema footers in untouched ones. The NEXT merge must
    still see the evolved column (mergeSchema target read) — a plain
    read can sample an old footer and silently null previously stored
    values when it rewrites an affected partition from survivors."""
    from lakehouse_architecture_spark.sinks.writers import merge_upsert

    path = str(tmp_path / "tgt")
    base = spark.createDataFrame(
        [(1, "a", "2025-01-01"), (2, "b", "2025-01-02"), (3, "c", "2025-01-02")],
        "id long, v string, date string",
    )
    merge_upsert(spark, base, path, ["id"], partition_by="date")

    # evolve: touches ONLY the 01-02 partition; 01-01 keeps old schema
    upd1 = spark.createDataFrame(
        [(2, "b2", "2025-01-02", "kept")],
        "id long, v string, date string, extra string",
    )
    merge_upsert(
        spark, upd1, path, ["id"], partition_by="date", evolve_schema=True
    )

    # second merge into the SAME evolved partition from a NARROWER feed
    # (no extra column): the matched row (id=2) must keep extra='kept'
    # per Delta UPDATE-SET-* semantics, and the survivor path must not
    # re-read it through a sampled old-schema footer
    upd2 = spark.createDataFrame(
        [(2, "b3", "2025-01-02"), (3, "c2", "2025-01-02")],
        "id long, v string, date string",
    )
    merge_upsert(spark, upd2, path, ["id"], partition_by="date")

    out = {
        r.id: (r.v, r.extra)
        for r in spark.read.option("mergeSchema", "true").parquet(path).collect()
    }
    assert out == {1: ("a", None), 2: ("b3", "kept"), 3: ("c2", None)}


def test_zorder_key_locality_and_bounds(spark):
    """The Morton key interleaves bucket bits correctly (pinned against
    a pure-Python reference) and clusters 2-D neighborhoods: sorting by
    the key puts both dimensions' nearby values into the same half."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.partitioning import zorder_key

    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, "x int, y int")
    aug, key = zorder_key(df, ["x", "y"], bits=4)
    got = {
        (r.x, r.y): r.k
        for r in aug.select("x", "y", key.alias("k")).collect()
    }

    def ref(x, y):  # 4-bit cells over [0,15] -> cell == value
        k = 0
        for bit in range(4):
            k |= ((x >> bit) & 1) << (2 * bit)
            k |= ((y >> bit) & 1) << (2 * bit + 1)
        return k

    assert got == {(x, y): ref(x, y) for x, y in rows}
    # locality: the first quarter of the z-curve is exactly the
    # low-left 8x8 quadrant
    ordered = sorted(rows, key=lambda p: got[p])
    assert set(ordered[:64]) == {(x, y) for x in range(8) for y in range(8)}

    # bits*len(cols) > 63 would overflow the long key: loud error, not
    # an invalid literal (r8 ADVICE)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="63"):
        zorder_key(df, [f"c{i}" for i in range(8)], bits=8)
    # 63 positions exactly is still legal
    aug7, key7 = zorder_key(df, ["x", "y"], bits=31)
    assert aug7.select(key7.alias("k")).limit(1).collect()


def test_compact_table_zorder(spark, tmp_path):
    """compact_table(zorder_by=...) rewrites with interleaved-key file
    clustering: per-file min/max spans shrink on BOTH columns vs the
    unsorted layout, and no helper columns leak into the output."""
    import pyarrow.parquet as pq

    from lakehouse_architecture_spark.sinks.writers import compact_table

    path = str(tmp_path / "t")
    rows = [(i, (i * 7919) % 1000, (i * 104729) % 1000) for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    df.repartition(8).write.parquet(path)

    def file_spans(p):
        spans = []
        import os

        for f in sorted(os.listdir(p)):
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(p, f), columns=["x", "y"])
            xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
            spans.append(((max(xs) - min(xs)) + (max(ys) - min(ys))) / 2)
        return spans

    before = sum(file_spans(path)) / 8
    nb, na = compact_table(
        spark, path, target_file_bytes=8 * 1024, zorder_by=["x", "y"]
    )
    out = spark.read.parquet(path)
    assert sorted(out.columns) == ["id", "x", "y"]
    assert out.count() == 4000
    spans = file_spans(path)
    assert len(spans) > 1
    after = sum(spans) / len(spans)
    # z-ordered files cover a fraction of the random layout's span
    assert after < before * 0.7, (before, after)


def test_apply_changes_upsert_delete_batch(spark, tmp_path):
    from lakehouse_architecture_spark.sinks import writers

    path = str(tmp_path / "cdc")
    base = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p2")],
        "k long, v string, p string",
    )
    writers.write_partitioned(base, path, "p")
    changes = spark.createDataFrame(
        [
            (2, "B2", "p1", "upsert"),   # update existing
            (5, "e", "p1", "upsert"),    # insert new
            (3, None, "p2", "delete"),   # delete existing
            (6, "f", "p2", "upsert"),    # both ops on one key:
            (6, None, "p2", "delete"),   # upsert wins at batch grain
        ],
        "k long, v string, p string, op string",
    )
    writers.apply_changes(spark, changes, path, ["k"], partition_by="p")
    got = {
        (r.k, r.v, r.p)
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        (1, "a", "p1"),
        (2, "B2", "p1"),
        (5, "e", "p1"),
        (4, "d", "p2"),
        (6, "f", "p2"),
    }
    # idempotent: re-applying the same batch changes nothing
    writers.apply_changes(spark, changes, path, ["k"], partition_by="p")
    again = {
        (r.k, r.v, r.p)
        for r in spark.read.parquet(path).collect()
    }
    assert again == got


@pytest.mark.parametrize("entry", ["apply_changes", "delete_where"])
def test_merge_rewrite_hive_escaped_partition_values(spark, tmp_path, entry):
    """The r8 ADVICE finding: the staged swap rebuilt directory names
    with a plain f-string, which mismatches Hive-escaped names for
    values containing % : = # … — the staged rewrite was silently
    discarded and stale/deleted rows survived. Partition values here
    are chosen so every one needs escaping; each rewrite entry point
    empties a whole partition, the exact shape that exposed the old
    miss (DELETE, on its own copy of the swap, still reported such rows
    deleted while they stayed on disk)."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.sinks import writers

    path = str(tmp_path / "esc")
    base = spark.createDataFrame(
        [
            (1, "a", "h:m"),
            (2, "b", "h:m"),
            (3, "c", "50%off"),
            (4, "d", "k=v#x"),
        ],
        "k long, v string, p string",
    )
    writers.write_partitioned(base, path, "p")
    assert sorted(
        e for e in os.listdir(path) if not e.startswith(("_", "."))
    ) == ["p=50%25off", "p=h%3Am", "p=k%3Dv%23x"]
    if entry == "apply_changes":
        changes = spark.createDataFrame(
            [
                (1, "A2", "h:m", "upsert"),   # update inside escaped dir
                (3, None, "50%off", "delete"),  # empties the whole partition
                (5, "e", "k=v#x", "upsert"),  # insert into escaped dir
            ],
            "k long, v string, p string, op string",
        )
        writers.apply_changes(spark, changes, path, ["k"], partition_by="p")
        want = {
            (1, "A2", "h:m"),
            (2, "b", "h:m"),
            (4, "d", "k=v#x"),
            (5, "e", "k=v#x"),
        }
    else:
        # one row out of an escaped dir, and the whole 50%off partition
        n = writers.delete_where(
            spark, path, F.col("k").isin(1, 3), partition_by="p"
        )
        assert n == 2
        want = {(2, "b", "h:m"), (4, "d", "k=v#x")}
    got = {(r.k, r.v, r.p) for r in spark.read.parquet(path).collect()}
    assert got == want
    # the emptied partition's directory is gone, not stale
    assert "p=50%25off" not in os.listdir(path)
    # no staging/backup residue
    assert not [e for e in os.listdir(str(tmp_path)) if "staging" in e]


@pytest.mark.parametrize("entry", ["merge_upsert", "delete_where", "compact_table"])
def test_merge_rewrite_underscore_partition_column(spark, tmp_path, entry):
    """A partition column named ``_p`` writes ``_p=v`` directories,
    which Spark reads as data. Taking them for bookkeeping (``_SUCCESS``)
    made the table look empty: MERGE overwrote the touched partitions
    and lost their untouched rows, DELETE and compaction did nothing."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.sinks import writers

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", "a"), (2, "b", "a"), (3, "c", "b")],
        "k long, v string, _p string",
    )
    writers.write_partitioned(base, path, "_p")
    assert sorted(e for e in os.listdir(path) if "=" in e) == ["_p=a", "_p=b"]
    if entry == "merge_upsert":
        upd = spark.createDataFrame([(1, "A", "a")], "k long, v string, _p string")
        writers.merge_upsert(spark, upd, path, ["k"], partition_by="_p")
        want = {(1, "A", "a"), (2, "b", "a"), (3, "c", "b")}
    elif entry == "delete_where":
        n = writers.delete_where(spark, path, F.col("k") == 1, partition_by="_p")
        assert n == 1
        want = {(2, "b", "a"), (3, "c", "b")}
    else:
        files = [
            f for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
        ]
        before, _after = writers.compact_table(spark, path, partition_by="_p")
        assert before == len(files) > 0
        want = {(1, "a", "a"), (2, "b", "a"), (3, "c", "b")}
    got = {(r.k, r.v, r._p) for r in spark.read.parquet(path).collect()}
    assert got == want


@pytest.mark.parametrize("entry", ["merge_upsert", "delete_where"])
def test_merge_rewrite_empty_string_partition_is_null(spark, tmp_path, entry):
    """The r9 ADVICE finding: Spark STORES an empty-string partition
    value as __HIVE_DEFAULT_PARTITION__ and READS IT BACK AS NULL, so
    for pruning purposes "" IS null — the old isin("") filter missed
    the target's existing default-partition rows while the swap
    deleted their directory: silent row loss. Also pins the
    dedup of part_entries when a change set contains BOTH None and ""
    (one directory, previously listed twice — the second pass
    destroyed the freshly-moved partition). DELETE pruned with a bare
    isin over the matching partition values, which never matches
    null: it deleted nothing and reported 0."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.sinks import writers

    path = str(tmp_path / "nullpart")
    base = spark.createDataFrame(
        [(1, "keepme", None), (2, "b", "p1"), (3, "c", "")],
        "k long, v string, p string",
    )
    writers.write_partitioned(base, path, "p")
    assert "p=__HIVE_DEFAULT_PARTITION__" in os.listdir(path)

    def rows():
        return {(r.k, r.v, r.p) for r in spark.read.parquet(path).collect()}

    if entry == "delete_where":
        n = writers.delete_where(spark, path, F.col("k") == 3, partition_by="p")
        assert n == 1
        assert rows() == {(1, "keepme", None), (2, "b", "p1")}
        return

    # change set uses "" — same directory as the existing null rows
    upd = spark.createDataFrame(
        [(10, "x", "")], "k long, v string, p string"
    )
    writers.merge_upsert(spark, upd, path, ["k"], partition_by="p")
    # the pre-existing null-partition rows SURVIVE ("" reads back null)
    assert rows() == {
        (1, "keepme", None),
        (2, "b", "p1"),
        (3, "c", None),
        (10, "x", None),
    }

    # change set with BOTH None and "": one directory entry, processed
    # once — update lands, survivors kept, no duplicate-swap crash
    upd2 = spark.createDataFrame(
        [(1, "updated", None), (11, "y", "")],
        "k long, v string, p string",
    )
    writers.merge_upsert(spark, upd2, path, ["k"], partition_by="p")
    assert rows() == {
        (1, "updated", None),
        (2, "b", "p1"),
        (3, "c", None),
        (10, "x", None),
        (11, "y", None),
    }


@pytest.mark.parametrize("partition_by", [None, "p"])
def test_delete_where_keeps_rows_whose_predicate_is_null(
    spark, tmp_path, partition_by
):
    """SQL DELETE removes only rows whose predicate is TRUE: a NULL
    predicate (x > 10 over a null x) keeps the row, like FALSE."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.sinks import writers

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(None, "a"), (5, "a"), (50, "a")], "x int, p string"
    )
    writers.write_partitioned(df, path, partition_by)
    n = writers.delete_where(
        spark, path, F.col("x") > 10, partition_by=partition_by
    )
    assert n == 1
    assert {r.x for r in spark.read.parquet(path).collect()} == {None, 5}
    # the replaced data is gone from both the table and its siblings
    assert "_replaced" not in os.listdir(path)
    assert os.listdir(str(tmp_path)) == ["t"]


def test_writers_refuse_uri_paths(spark, tmp_path):
    """The writers stage and swap with os/shutil, for which a URI never
    exists: a second MERGE into file:///…/t used to overwrite the table
    and silently lose every key the update did not carry. Every entry
    point now refuses a URI before it writes anything."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.sinks import writers

    uri = (tmp_path / "t").as_uri()  # file:///…/t
    df = spark.createDataFrame([(1, "v1")], "k int, v string")
    cdc = spark.createDataFrame([(1, "v1", "upsert")], "k int, v string, op string")
    calls = [
        lambda: writers.merge_upsert(spark, df, uri, ["k"]),
        lambda: writers.apply_changes(spark, cdc, uri, ["k"]),
        lambda: writers.insert_if_absent(spark, df, uri, ["k"]),
        lambda: writers.delete_where(spark, uri, F.col("k") == 1),
        lambda: writers.compact_table(spark, uri),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="local filesystem paths only"):
            call()
    assert os.listdir(str(tmp_path)) == []


def test_escape_partition_value_contract():
    from lakehouse_architecture_spark.sinks.writers import (
        _escape_partition_value,
    )

    assert _escape_partition_value(None) == "__HIVE_DEFAULT_PARTITION__"
    assert _escape_partition_value("") == "__HIVE_DEFAULT_PARTITION__"
    assert _escape_partition_value("plain-1.5_x y") == "plain-1.5_x y"
    assert _escape_partition_value("a:b") == "a%3Ab"
    assert _escape_partition_value("a%b") == "a%25b"
    assert _escape_partition_value("a=b") == "a%3Db"
    assert _escape_partition_value("a/b\\c") == "a%2Fb%5Cc"
    assert (
        _escape_partition_value("2024-01-01 00:00:00")
        == "2024-01-01 00%3A00%3A00"
    )


def test_apply_changes_rejects_unknown_op_and_bootstraps(spark, tmp_path):
    import pytest as _pytest

    from lakehouse_architecture_spark.sinks import writers

    path = str(tmp_path / "cdc2")
    bad = spark.createDataFrame(
        [(1, "a", "merge!")], "k long, v string, op string"
    )
    with _pytest.raises(ValueError, match="unknown op"):
        writers.apply_changes(spark, bad, path, ["k"])
    # nothing written by the failed batch
    import os as _os

    assert not _os.path.exists(path)
    # first batch against an empty path bootstraps from the upserts
    first = spark.createDataFrame(
        [(1, "a", "upsert"), (9, "x", "delete")], "k long, v string, op string"
    )
    writers.apply_changes(spark, first, path, ["k"])
    assert [(r.k, r.v) for r in spark.read.parquet(path).collect()] == [
        (1, "a")
    ]


def test_apply_changes_delete_empties_whole_partition(spark, tmp_path):
    from lakehouse_architecture_spark.sinks import writers

    path = str(tmp_path / "cdc3")
    base = spark.createDataFrame(
        [(1, "a", "p1"), (3, "c", "p2")], "k long, v string, p string"
    )
    writers.write_partitioned(base, path, "p")
    # p2's only row is deleted: the partition directory must disappear,
    # not silently keep serving the deleted row
    changes = spark.createDataFrame(
        [(3, None, "p2", "delete")], "k long, v string, p string, op string"
    )
    writers.apply_changes(spark, changes, path, ["k"], partition_by="p")
    got = {(r.k, r.v, r.p) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a", "p1")}
    import os as _os

    assert not _os.path.exists(_os.path.join(path, "p=p2"))

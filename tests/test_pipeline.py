"""End-to-end pipeline tests: CSV -> cast -> validate -> dedup -> curated
parquet, MERGE idempotency (the reference's core contract,
/root/reference/src/glue_etl.py:332-373), and the Parquet MERGE fallback's
update semantics."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from lakehouse_architecture_spark.operators import caching
from lakehouse_architecture_spark.operators.dedup import dedupe_by_key
from lakehouse_architecture_spark.operators.validation import (
    ForeignKeyRule,
    PositiveRule,
    rules_from_schema,
    validate,
)
from lakehouse_architecture_spark.plans.pipeline import (
    cast_to_schema,
    process_dataset,
    run_pipeline,
)
from lakehouse_architecture_spark.schemas import ORDER_ITEMS_SCHEMA, ORDERS_SCHEMA
from lakehouse_architecture_spark.sinks.writers import merge_upsert
from lakehouse_architecture_spark.sources.readers import read_csv_typed

PRODUCTS_CSV = "product_id,department_id,department,product_name\n"
ORDERS_CSV = "order_num,order_id,user_id,order_timestamp,total_amount,date\n"
ITEMS_CSV = (
    "id,order_id,user_id,days_since_prior_order,product_id,"
    "add_to_cart_order,reordered,order_timestamp,date\n"
)


def _write(tmp, name, header, rows):
    d = tmp / name
    d.mkdir(exist_ok=True)
    (d / "part.csv").write_text(header + "\n".join(rows) + "\n")
    return str(d / "*.csv")


def _raw_paths(tmp):
    return {
        "products": _write(
            tmp, "products", PRODUCTS_CSV,
            ["1,4,Books,P1", "2,5,Toys,P2", ",6,Home,Broken"],
        ),
        "orders": _write(
            tmp, "orders", ORDERS_CSV,
            [
                "90,501,1990,2025-04-01T11:27:00,229.53,2025-04-01",
                "91,502,1991,2025-04-01T12:00:00,100.00,2025-04-01",
                "92,503,1992,2025-04-02T09:00:00,-5.00,2025-04-02",  # invalid
                "93,502,1991,2025-04-01T12:00:00,100.00,2025-04-01",  # dup PK
            ],
        ),
        "order_items": _write(
            tmp, "order_items", ITEMS_CSV,
            [
                "1,501,1990,10,1,1,0,2025-04-01T11:27:00,2025-04-01",
                "2,501,1990,10,2,2,0,2025-04-01T11:27:00,2025-04-01",
                "3,999,1990,10,1,1,0,2025-04-01T11:27:00,2025-04-01",  # bad FK order
                "4,502,1991,,999,1,0,2025-04-01T12:00:00,2025-04-01",  # bad FK product
            ],
        ),
    }


def _checkpoint_rdd_ids(df):
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.length())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    }


def _stored_rdd_ids(spark):
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_cast_to_schema_nulls_uncastable(spark):
    raw = spark.createDataFrame(
        [("x", "501", "1990", "not-a-ts", "1.5", "2025-04-01")],
        "order_num string, order_id string, user_id string,"
        " order_timestamp string, total_amount string, date string",
    )
    typed = cast_to_schema(raw, ORDERS_SCHEMA)
    row = typed.collect()[0]
    assert row.order_num is None          # uncastable -> null
    assert row.order_id == 501
    assert row.order_timestamp is None    # unparseable timestamp -> null
    assert str(row.date) == "2025-04-01"
    assert [f.name for f in typed.schema.fields] == [
        f.name for f in ORDERS_SCHEMA.fields
    ]


def test_run_pipeline_end_to_end_and_idempotent(spark, tmp_path):
    raw = _raw_paths(tmp_path)
    curated = str(tmp_path / "curated")
    rejected = str(tmp_path / "rejected")

    results = run_pipeline(spark, raw, curated, rejected)

    assert results["products"].stats["clean_rows"] == 2
    assert results["products"].stats["rejected_rows"] == 1
    # 3 valid orders, 1 dup PK collapsed -> 2 clean; 1 invalid
    assert results["orders"].stats["clean_rows"] == 2
    assert results["orders"].stats["rejected_rows"] == 1
    # items: 2 clean, 2 FK-dangling
    assert results["order_items"].stats["clean_rows"] == 2
    assert results["order_items"].stats["rejected_rows"] == 2

    errs = {
        r.validation_errors
        for r in spark.read.parquet(os.path.join(rejected, "order_items")).collect()
    }
    assert errs == {
        "Invalid order_id reference",
        "Invalid product_id reference",
    }

    # only the tables order_items FK-joins stay persisted as references
    assert "pipeline-ref-products" in caching._SLOTS
    assert "pipeline-ref-orders" in caching._SLOTS
    assert "pipeline-ref-order_items" not in caching._SLOTS

    # partition layout on disk (date=... directories)
    parts = os.listdir(os.path.join(curated, "orders"))
    assert any(p.startswith("date=") for p in parts)

    # each table's batch checkpoint is freed once the table is written
    batches = set().union(*(_checkpoint_rdd_ids(r.clean) for r in results.values()))
    assert len(batches) == 3 and not batches & _stored_rdd_ids(spark)

    # re-run same inputs: MERGE keeps counts stable (idempotency)
    results2 = run_pipeline(spark, raw, curated, rejected)
    assert results2["orders"].stats["clean_rows"] == 2
    assert results2["products"].stats["clean_rows"] == 2
    assert results2["order_items"].stats["clean_rows"] == 2


def test_pipeline_jobs_carry_their_call_site_in_every_thread(
    spark, tmp_path, jobs_launched, monkeypatch
):
    """Products and orders run off the calling thread. Their jobs must
    stay in the caller's job group and be named by the pipeline line
    that launched them, like order_items' on the calling thread: the
    LIMIT-5 probe's ``collect at .../plans/pipeline.py`` once per table,
    and no job named after a thread wrapper. Each table lands in one
    partition, so each probe is one job. The pool gets one worker:
    PySpark's call-site counter is process-wide, so a job launched while
    another thread is inside a Spark call can keep the JVM's own name."""
    import concurrent.futures

    class OneWorker(concurrent.futures.ThreadPoolExecutor):
        def __init__(self, max_workers=None):
            super().__init__(max_workers=1)

    monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor", OneWorker)
    raw = {
        "products": _write(tmp_path, "products", PRODUCTS_CSV, ["1,4,Books,P1"]),
        "orders": _write(
            tmp_path, "orders", ORDERS_CSV,
            ["90,501,1990,2025-04-01T11:27:00,229.53,2025-04-01"],
        ),
        "order_items": _write(
            tmp_path, "order_items", ITEMS_CSV,
            ["1,501,1990,10,1,1,0,2025-04-01T11:27:00,2025-04-01"],
        ),
    }
    jobs = jobs_launched(lambda: run_pipeline(
        spark, raw, str(tmp_path / "curated"), str(tmp_path / "rejected")
    ))
    assert [j for j in jobs if j.startswith("wrapped at")] == []
    probes = [
        j for j in jobs
        if j.startswith("collect at")
        and j.split(":")[0].endswith(os.path.join("plans", "pipeline.py"))
    ]
    assert len(probes) == 3, jobs


def test_process_dataset_evaluates_the_batch_once(spark, tmp_path, jobs_launched):
    """The corrupt filter, the cast, the rules, the FK joins and the PK
    dedup run in one action: the clean and rejected frames read its
    materialised rows, and the row accounting is observed on it."""
    path = _write(
        tmp_path, "order_items", ITEMS_CSV,
        [
            "1,501,1990,10,1,1,0,2025-04-01T11:27:00,2025-04-01",
            "2,501,1990,10,2,2,0,2025-04-01T11:27:00,2025-04-01",
            "2,501,1990,10,2,3,0,2025-04-01T11:28:00,2025-04-01",  # dup PK
            "3,999,1990,10,1,1,0,2025-04-01T11:27:00,2025-04-01",  # bad FK order
            "4,502,1991,,999,1,0,2025-04-01T12:00:00,2025-04-01",  # bad FK product
            ",501,1990,10,1,1,0,2025-04-01T11:27:00,2025-04-01",  # null PK
            "5,501,1990,ten,1,1,0,2025-04-01T11:27:00,2025-04-01",  # malformed
        ],
    )
    orders = spark.createDataFrame([(501,), (502,)], "order_id int")
    products = spark.createDataFrame([(1,), (2,)], "product_id int")
    out = []
    jobs = jobs_launched(lambda: out.append(process_dataset(
        read_csv_typed(spark, path, ORDER_ITEMS_SCHEMA),
        ORDER_ITEMS_SCHEMA,
        "order_items",
        ["id"],
        fk_rules=[
            ForeignKeyRule("order_id", orders, "order_id"),
            ForeignKeyRule("product_id", products, "product_id"),
        ],
        partition_by="date",
    )))
    res = out[0]
    # one action: the checkpoint's job and the query-stage jobs adaptive
    # execution submits under it; no count or collect of its own
    assert sum(j.startswith("localCheckpoint at") for j in jobs) == 1, jobs
    assert all(
        j.startswith(("localCheckpoint at", "$anonfun$withThreadLocalCaptured"))
        for j in jobs
    ), jobs
    for df in (res.clean, res.rejected):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "csv" not in plan.lower() and "Join" not in plan, plan
    plan = res.clean._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan, plan

    clean = sorted(r.id for r in res.clean.collect())
    assert clean == [1, 2]
    assert res.rejected.count() == 3
    assert res.stats == {
        "raw_rows": 7,
        "corrupt_rows": 1,
        "rejected_rows": 3,
        "dedup_dropped_rows": 1,
    }
    s = res.stats
    assert s["raw_rows"] == (
        s["corrupt_rows"] + s["rejected_rows"] + len(clean) + s["dedup_dropped_rows"]
    )
    assert res.partitions == [(dt.date(2025, 4, 1), "2025-04-01")]


@pytest.mark.parametrize(
    "rows", [[], ["x,y,z", "not,an,int,row,xx,yy"]], ids=["empty", "all_corrupt"]
)
def test_process_dataset_counts_a_batch_with_no_parsed_row(spark, tmp_path, rows):
    """Adaptive execution replaces an empty shuffle stage by an empty
    relation, and an observe() below it is lost with it: the counts
    must still come back when no row survives the corrupt filter."""
    path = _write(tmp_path, "orders", ORDERS_CSV, rows)
    res = process_dataset(
        read_csv_typed(spark, path, ORDERS_SCHEMA),
        ORDERS_SCHEMA,
        "orders",
        ["order_id"],
        partition_by="date",
    )
    assert res.stats == {
        "raw_rows": len(rows),
        "corrupt_rows": len(rows),
        "rejected_rows": 0,
        "dedup_dropped_rows": 0,
    }
    assert res.partitions == [] and res.clean.count() == 0


# orders rows (order_num, order_id, user_id, order_timestamp,
# total_amount, date); total_amount <= 0 is invalid
_INVALID_FIRST = [
    # order 501's first row by the default order is invalid, a later valid
    ("1", "501", "7", "2025-04-01T10:00:00", "-5.00", "2025-04-01"),
    ("2", "501", "7", "2025-04-01T10:00:00", "10.00", "2025-04-01"),
    ("3", "501", "7", "2025-04-01T10:00:00", "20.00", "2025-04-01"),
    ("4", "502", "8", "2025-04-01T10:00:00", "-1.00", "2025-04-01"),
]
_SPLIT_PARTITIONS = [
    # order 601's duplicates sit in three date partitions
    ("5", "601", "7", "2025-04-03T10:00:00", "10.00", "2025-04-03"),
    ("6", "601", "7", "2025-04-01T10:00:00", "10.00", "2025-04-01"),
    ("7", "601", "7", "2025-04-02T10:00:00", "10.00", None),
    ("8", "602", "8", "2025-04-02T10:00:00", "10.00", "2025-04-02"),
]


@pytest.mark.parametrize(
    "rows", [_INVALID_FIRST, _SPLIT_PARTITIONS], ids=["invalid_first", "split_partitions"]
)
def test_process_dataset_clean_equals_dedupe_by_key(spark, rows):
    """The batch's rank keeps exactly the row ``dedupe_by_key`` keeps
    of the valid rows, and its observed partitions are the kept rows'."""
    raw = spark.createDataFrame(
        rows,
        "order_num string, order_id string, user_id string,"
        " order_timestamp string, total_amount string, date string",
    )
    rules = [PositiveRule("total_amount")]
    res = process_dataset(
        raw, ORDERS_SCHEMA, "orders", ["order_id"], rules=rules,
        partition_by="date",
    )
    valid, _ = validate(
        cast_to_schema(raw, ORDERS_SCHEMA),
        rules_from_schema(ORDERS_SCHEMA) + rules,
    )
    want = dedupe_by_key(valid, ["order_id"])
    assert sorted(res.clean.collect()) == sorted(want.collect())
    assert sorted(res.partitions) == sorted(
        (r.date, str(r.date)) for r in want.select("date").distinct().collect()
    )
    assert res.stats["dedup_dropped_rows"] == valid.count() - want.count()


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")],
        "k int, v string, part string",
    )
    merge_upsert(spark, base, path, ["k"], partition_by="part")

    updates = spark.createDataFrame(
        [(2, "B", "p1"), (4, "d", "p3")], "k int, v string, part string"
    )
    merge_upsert(spark, updates, path, ["k"], partition_by="part")

    out = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert out == {1: "a", 2: "B", 3: "c", 4: "d"}

    # untouched partition p2 was not rewritten: still present
    assert spark.read.parquet(path).filter(F.col("part") == "p2").count() == 1


def test_merge_upsert_unpartitioned(spark, tmp_path):
    path = str(tmp_path / "t2")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    merge_upsert(spark, base, path, ["k"])
    merge_upsert(
        spark, spark.createDataFrame([(2, "B")], "k int, v string"), path, ["k"]
    )
    out = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert out == {1: "a", 2: "B"}


def test_pipeline_over_many_date_partitions_launches_no_listing_job(
    spark, tmp_path, jobs_launched
):
    """Past 32 partition directories Spark lists a table with a job of
    its own (one task per directory) unless it lists on the driver,
    which ``get_spark`` sets for a local master. A daily curated zone
    passes 32 dates after a month: no read of it may list by job. The
    cycle's footer-read ``clean_rows`` must match a read of the zone."""
    dates = [dt.date(2025, 1, 1) + dt.timedelta(days=i) for i in range(40)]
    history = tmp_path / "history"
    history.mkdir()
    raw = {
        "products": _write(history, "products", PRODUCTS_CSV, ["1,4,Books,P1"]),
        "orders": _write(
            history, "orders", ORDERS_CSV,
            [f"{i},{500 + i},1,{d}T10:00:00,10.00,{d}" for i, d in enumerate(dates)],
        ),
        "order_items": _write(
            history, "order_items", ITEMS_CSV,
            [f"{i},{500 + i},1,1,1,1,0,{d}T10:00:00,{d}" for i, d in enumerate(dates)],
        ),
    }
    curated = str(tmp_path / "curated")
    rejected = str(tmp_path / "rejected")
    run_pipeline(spark, raw, curated, rejected)
    assert len(os.listdir(os.path.join(curated, "orders"))) >= 40

    # the next day: one new order, and a late correction to the first day
    new, first = dates[-1] + dt.timedelta(days=1), dates[0]
    day = tmp_path / "day"
    day.mkdir()
    raw = {
        "products": _write(day, "products", PRODUCTS_CSV, ["1,4,Books,P1"]),
        "orders": _write(
            day, "orders", ORDERS_CSV,
            [f"90,600,1,{new}T10:00:00,30.00,{new}",
             f"0,500,1,{first}T10:00:00,20.00,{first}"],
        ),
        "order_items": _write(
            day, "order_items", ITEMS_CSV,
            [f"90,600,1,1,1,1,0,{new}T10:00:00,{new}"],
        ),
    }
    out = []
    jobs = jobs_launched(lambda: out.append(run_pipeline(spark, raw, curated, rejected)))
    assert jobs, "the cycle launched no job at all: nothing was counted"
    assert [j for j in jobs if j.startswith("Listing leaf files")] == []
    # the MERGE prunes by the partitions the batch's action observed; it
    # collects none of its own
    assert [
        j for j in jobs
        if j.startswith("collect at") and j.split(":")[0].endswith("sinks/writers.py")
    ] == []
    assert any(j.startswith("collect at") for j in jobs), jobs

    # clean_rows is read from the footers of the zone the MERGE rewrote
    for name, res in out[0].items():
        zone = spark.read.parquet(os.path.join(curated, name))
        assert res.stats["clean_rows"] == zone.count(), name

    orders = {
        r.order_id: r.total_amount
        for r in spark.read.parquet(os.path.join(curated, "orders")).collect()
    }
    assert len(orders) == 41
    assert (orders[500], orders[600]) == (20.0, 30.0)

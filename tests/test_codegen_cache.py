"""Warm ops compile no code. Spark keeps compiled whole-stage and
expression classes in one LRU cache per JVM, and an LRU over a cyclic
access pattern larger than itself misses on every lookup. At Spark's
default of 100 entries both ops below recompile every class on every
pass: in this session (local[4], 4 shuffle partitions) a warm registry
pass recompiled 147 classes and the pinned pipeline cycle below 58.
``DEFAULT_CONF`` sizes the cache to hold them
(``spark.sql.codegen.cache.maxEntries``)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from lakehouse_architecture_spark.operators import caching
from lakehouse_architecture_spark.plans import pipeline
from lakehouse_architecture_spark.queries import QUERIES
from lakehouse_architecture_spark.session import DEFAULT_CONF
from tests.test_pipeline import ITEMS_CSV, ORDERS_CSV, PRODUCTS_CSV

CACHE_SIZE = "spark.sql.codegen.cache.maxEntries"

# the twelve headline queries one registry_queries benchmark op runs
REGISTRY_PASS = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q18_large_volume_customers", "join_left_outer_order_counts",
    "window_rank_orders", "dedup_latest_order_per_customer",
    "validate_lineitem_fk_invalid", "events_sessionization", "docs_token_stats",
    "minhash_lsh_near_dups", "emb_knn_bruteforce",
]


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get(CACHE_SIZE) == DEFAULT_CONF[CACHE_SIZE]


def test_warm_registry_pass_compiles_nothing(spark, sf_dir, classes_compiled):
    """Of two warm passes, at least one compiles nothing. On a loaded
    host adaptive execution now and then numbers two of the MinHash
    verify's codegen stages another way, and the same code under a new
    stage number is a new class (2 classes, once per class loader)."""

    def run_pass():
        for name in REGISTRY_PASS:
            QUERIES[name](spark, sf_dir).collect()

    held = set(caching._SLOTS)
    try:
        run_pass()
        compiled = [classes_compiled(run_pass) for _ in range(2)]
    finally:  # later tests plan these queries' inputs uncached
        for name in set(caching._SLOTS) - held:
            caching.release_slots(name)
    assert min(compiled) == 0 and max(compiled) <= 4, compiled


def _day(tmp_path, d: int) -> dict[str, str]:
    """Raw CSVs of day ``d``: two new orders with an item each, the day
    before's first order re-sent (a MERGE into an earlier partition),
    and one rejected row per table."""
    day = dt.date(2025, 4, 1) + dt.timedelta(days=d)
    prev = day - dt.timedelta(days=1)
    o = 500 + 10 * d

    def write(name, header, rows):
        path = tmp_path / f"raw-{d}" / name
        path.mkdir(parents=True)
        (path / "part.csv").write_text(header + "\n".join(rows) + "\n")
        return str(path / "*.csv")

    orders = [
        f"{o},{o},1990,{day}T11:27:00,229.53,{day}",
        f"{o + 1},{o + 1},1991,{day}T12:00:00,100.00,{day}",
        f"{o + 2},{o + 2},1992,{day}T13:00:00,-5.00,{day}",  # invalid amount
    ]
    if d:
        orders.append(f"{o - 10},{o - 10},1990,{prev}T11:27:00,230.00,{prev}")
    return {
        "products": write("products", PRODUCTS_CSV, ["1,4,Books,P1", "2,5,Toys,P2", ",6,Home,Broken"]),
        "orders": write("orders", ORDERS_CSV, orders),
        "order_items": write("order_items", ITEMS_CSV, [
            f"{o},{o},1990,10,1,1,0,{day}T11:27:00,{day}",
            f"{o + 1},{o + 1},1991,,2,1,0,{day}T12:00:00,{day}",
            f"{o + 3},999,1990,10,1,1,0,{day}T11:27:00,{day}",  # bad FK order
        ]),
    }


def test_warm_pipeline_cycle_compiles_only_its_rejection_time(
    spark, tmp_path, classes_compiled, monkeypatch
):
    """After a first load and two warm-up days, a new day's cycle compiles
    only the classes that carry a literal of its own run:
    ``with_rejection_audit``'s ``rejection_time = current_timestamp()``
    is folded to the run's instant and inlined as a long literal into
    each table's rejected-zone write projection. With ``rejection_time``
    pinned to one instant the cycle compiles nothing; unpinned, it
    compiles those projections, one per table that rejected rows, once
    per class loader."""
    curated, rejected = str(tmp_path / "curated"), str(tmp_path / "rejected")
    audit = pipeline.with_rejection_audit
    pinned = dt.datetime(2025, 4, 1, 12, 0)
    monkeypatch.setattr(
        pipeline, "with_rejection_audit",
        lambda *a, **kw: audit(*a, **kw).withColumn("rejection_time", F.lit(pinned)),
    )
    for d in range(3):
        pipeline.run_pipeline(spark, _day(tmp_path, d), curated, rejected)
    assert classes_compiled(
        lambda: pipeline.run_pipeline(spark, _day(tmp_path, 3), curated, rejected)
    ) == 0
    monkeypatch.setattr(pipeline, "with_rejection_audit", audit)
    results = {}
    compiled = classes_compiled(
        lambda: results.update(pipeline.run_pipeline(spark, _day(tmp_path, 4), curated, rejected))
    )
    rejecting = [t for t, r in results.items() if r.stats["rejected_rows"]]
    assert len(rejecting) == 3
    assert 0 < compiled <= 2 * len(rejecting)

"""End-to-end curated-zone pipeline: cast -> validate -> split -> dedup ->
upsert, plus the orchestration that sequences products -> orders ->
order_items with RI reference data.

Re-expresses ``process_dataset`` (/root/reference/src/etl_utils.py:205-289
and src/glue_etl.py:216-391) and the Step Functions outer lifecycle
(/root/reference/stepfunctions/delta-lake.json) as one lazy-plan driver.

Deliberate departures, per SURVEY.md §4's bug list:
- no per-stage ``count()`` actions for logging (they re-execute lineage);
  the stats are one count of the rejected frame, which also gates its
  append, and a count and LIMIT-5 probe of the curated zone read back
  after the MERGE;
- deterministic dedup (row_number over PK with a defined ordering) instead
  of ``dropDuplicates``;
- materialisation only where a frame genuinely fans out: the raw batch
  under the valid/invalid split is a ``localCheckpoint`` taken in
  ``sources.readers.split_corrupt`` (``valid`` itself is never cached),
  and the curated RI reference dims are held in one-slot persists
  (``operators.caching``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampType

from lakehouse_architecture_spark.operators.dedup import dedupe_by_key
from lakehouse_architecture_spark.operators.validation import (
    ForeignKeyRule,
    Rule,
    rules_from_schema,
    validate,
    with_rejection_audit,
)
from lakehouse_architecture_spark.schemas import (
    PARTITION_COLUMNS,
    PRIMARY_KEYS,
    SCHEMAS,
)
from lakehouse_architecture_spark.sinks.writers import (
    append_rejected,
    merge_upsert,
)
from lakehouse_architecture_spark.sources.readers import read_csv_typed, split_corrupt


def cast_to_schema(df: DataFrame, schema: StructType) -> DataFrame:
    """Coerce columns to the declared schema; uncastable values become
    null (to be caught by validation), missing columns are added as null
    (defensive variant, /root/reference/src/etl_utils.py:220-237).
    Timestamps go through ``to_timestamp`` (src/glue_etl.py:236)."""
    cols = []
    for f_ in schema.fields:
        if f_.name in df.columns:
            src = F.col(f_.name)
            if isinstance(f_.dataType, TimestampType):
                src = F.try_to_timestamp(src)
            else:
                # try_cast: malformed -> null (not an ANSI error), caught
                # downstream by validation rules
                src = src.try_cast(f_.dataType)
        else:
            src = F.lit(None).cast(f_.dataType)
        cols.append(src.alias(f_.name))
    return df.select(*cols)


@dataclass
class DatasetResult:
    name: str
    clean: DataFrame
    rejected: DataFrame
    stats: dict = field(default_factory=dict)


def process_dataset(
    raw: DataFrame,
    schema: StructType,
    name: str,
    primary_key: list[str],
    rules: list[Rule] | None = None,
    fk_rules: list[ForeignKeyRule] | None = None,
    job_name: str = "lakehouse-spark",
    dedup_order: list[Column] | None = None,
) -> DatasetResult:
    """cast -> validate -> audit rejected -> deterministic PK dedup."""
    typed = cast_to_schema(raw, schema)
    all_rules = rules_from_schema(schema) + list(rules or [])
    valid, invalid = validate(typed, all_rules, fk_rules)
    # No cache on `valid`: its only consumer is the dedup -> MERGE write
    # (stats read the WRITTEN parquet back, and the rejected side derives
    # from `invalid`), so materializing it would cost a full in-memory
    # copy during the write for nothing. The raw frame underneath is a
    # batch-sized localCheckpoint from split_corrupt (lineage-truncated,
    # GC-released), which is what the recomputing consumers share.
    clean = dedupe_by_key(valid, primary_key, dedup_order)
    rejected = with_rejection_audit(invalid, source=name, job_name=job_name)
    return DatasetResult(name=name, clean=clean, rejected=rejected)


def run_pipeline(
    spark: SparkSession,
    raw_paths: dict[str, str],
    curated_base: str,
    rejected_base: str,
    domain_rules: dict[str, list[Rule]] | None = None,
    job_name: str = "lakehouse-spark",
) -> dict[str, DatasetResult]:
    """The full lakehouse run, products -> orders -> order_items (RI deps
    in dependency order, /root/reference/src/glue_etl.py:443-535), ending
    with post-write LIMIT-5 probes (the Athena validation step,
    stepfunctions/delta-lake.json:147-215).
    """
    if domain_rules is None:
        # the reference's built-in domain rule: total_amount must be > 0
        # when present (/root/reference/src/etl_utils.py:163-169)
        from lakehouse_architecture_spark.operators.validation import PositiveRule

        domain_rules = {"orders": [PositiveRule("total_amount")]}
    results: dict[str, DatasetResult] = {}
    reference: dict[str, DataFrame] = {}

    def run_table(name: str) -> DatasetResult:
        schema = SCHEMAS[name]
        raw = read_csv_typed(spark, raw_paths[name], schema)
        raw, _corrupt = split_corrupt(raw)

        fk_rules = []
        if name == "order_items":
            if "orders" in reference:
                fk_rules.append(
                    ForeignKeyRule("order_id", reference["orders"], "order_id")
                )
            if "products" in reference:
                fk_rules.append(
                    ForeignKeyRule("product_id", reference["products"], "product_id")
                )

        res = process_dataset(
            raw,
            schema,
            name,
            [PRIMARY_KEYS[name]],
            rules=domain_rules.get(name),
            fk_rules=fk_rules,
            job_name=job_name,
        )

        merge_upsert(
            spark,
            res.clean,
            os.path.join(curated_base, name),
            [PRIMARY_KEYS[name]],
            partition_by=PARTITION_COLUMNS[name],
        )
        # One count serves both the emptiness gate and the stats row —
        # isEmpty() would be a second action over the same rejected
        # lineage (rule evaluation + FK joins re-run per action).
        n_rejected = res.rejected.count()
        if n_rejected:
            append_rejected(res.rejected, rejected_base, name)

        # Plain read, not sources.readers.read_parquet: every cycle adds a
        # date partition, so its footer-keyed schema memo would never hit
        # and every read would walk the footers for nothing.
        curated = spark.read.parquet(os.path.join(curated_base, name))
        res.stats = {
            "clean_rows": curated.count(),
            "rejected_rows": n_rejected,
            # post-write probe (Athena LIMIT 5 step)
            "probe_rows": len(curated.limit(5).collect()),
        }
        # one-slot per table (operators/caching): the curated reference
        # must stay warm within THIS run (later tables FK-join it), and
        # the next run's same-named slot releases it — repeated pipeline
        # runs in one session no longer accumulate cached tables
        from lakehouse_architecture_spark.operators.caching import (
            one_slot_persist,
        )

        reference[name] = one_slot_persist(
            curated, slot=f"pipeline-ref-{name}"
        )
        return res

    # products and orders have no dependency on each other — only
    # order_items FK-joins both curated references — so their whole
    # read->validate->dedup->write chains run as two CONCURRENT driver
    # threads (guide §2.6 "overlap independent jobs": Spark schedules
    # jobs from several threads at once, so one table's straggler/
    # commit tail back-fills with the other's tasks; writes target
    # disjoint directories and the slot registry is lock-guarded).
    # order_items then runs alone, with both references warm.
    dims = [n for n in ("products", "orders") if n in raw_paths]
    if len(dims) > 1:
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        with ThreadPoolExecutor(max_workers=len(dims)) as pool:
            futures = {
                n: pool.submit(inheritable_thread_target(spark)(run_table), n)
                for n in dims
            }
            for n in dims:
                results[n] = futures[n].result()
    else:
        for n in dims:
            results[n] = run_table(n)
    if "order_items" in raw_paths:
        results["order_items"] = run_table("order_items")

    return results

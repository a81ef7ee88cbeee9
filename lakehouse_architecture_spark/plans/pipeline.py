"""End-to-end curated-zone pipeline: cast -> validate -> split -> dedup ->
upsert, plus the orchestration that sequences products -> orders ->
order_items with RI reference data.

Re-expresses ``process_dataset`` (/root/reference/src/etl_utils.py:205-289
and src/glue_etl.py:216-391) and the Step Functions outer lifecycle
(/root/reference/stepfunctions/delta-lake.json) as one lazy-plan driver.

Deliberate departures, per SURVEY.md §4's bug list:
- no per-stage ``count()`` actions for logging (they re-execute lineage):
  each batch is evaluated by ONE Spark action, and its row accounting
  (raw, corrupt, rejected and dedup-dropped rows) and the partition
  values the MERGE rewrites are ``observe()`` metrics on that action;
  the curated row count is read from the written zone's parquet footers
  on the driver, and one LIMIT-5 probe reads the zone back after the
  MERGE;
- deterministic dedup (row_number over PK with a defined ordering) instead
  of ``dropDuplicates``, evaluated inside that same action;
- materialisation only where a frame genuinely fans out: the batch (the
  raw CSV cast, rules and FK joins evaluated, errors annotated, PK rows
  ranked) is one batch-sized ``localCheckpoint`` that the MERGE and the
  rejected append read as filters, freed by ``run_pipeline`` rather
  than left to the JVM's GC; the raw CSV under it is not checkpointed,
  since its corrupt rows are only counted and dropped
  (``sources.readers.split_corrupt`` remains for callers that keep
  them); and the curated dims a later table FK-joins are held in
  one-slot persists (``operators.caching``).
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from lakehouse_architecture_spark.operators.dedup import (  # noqa: F401
    dedupe_by_key,  # kept bound: perfbench/workloads.install_tracing patches it
    default_dedup_order,
)
from lakehouse_architecture_spark.operators.caching import one_slot_persist
from lakehouse_architecture_spark.operators.iterative import _free_local_checkpoint
from lakehouse_architecture_spark.operators.validation import (  # noqa: F401
    ERROR_COL,
    ForeignKeyRule,
    Rule,
    annotate,
    rules_from_schema,
    validate,  # kept bound: perfbench/workloads.install_tracing patches it
    with_rejection_audit,
)
from lakehouse_architecture_spark.schemas import (
    PARTITION_COLUMNS,
    PRIMARY_KEYS,
    SCHEMAS,
)
from lakehouse_architecture_spark.sinks.writers import (
    _data_files,
    append_rejected,
    merge_upsert,
)
from lakehouse_architecture_spark.sources.readers import (  # noqa: F401
    CORRUPT_COL,
    read_csv_typed,
    split_corrupt,  # kept bound: perfbench/workloads.install_tracing patches it
)

# the batch's per-PK row rank; rank 1 of a valid row is the row kept
_RANK_COL = "_dedup_rn"


# RI edges of the reference's model: table -> [(column, referenced table)],
# the column named alike on both sides, in rule order
# (/root/reference/src/glue_etl.py:443-535).
_FOREIGN_KEYS = {
    "order_items": [("order_id", "orders"), ("product_id", "products")],
}


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
    # clean's distinct (value, value cast to string) partition pairs as
    # Rows, merge_upsert's ``partitions``; None without a partition column
    partitions: list | None = None


def process_dataset(
    raw: DataFrame,
    schema: StructType,
    name: str,
    primary_key: list[str],
    rules: list[Rule] | None = None,
    fk_rules: list[ForeignKeyRule] | None = None,
    job_name: str = "lakehouse-spark",
    dedup_order: list[Column] | None = None,
    partition_by: str | None = None,
) -> DatasetResult:
    """cast -> validate -> audit rejected -> deterministic PK dedup, in
    one Spark action; rows ``raw`` captured in ``_corrupt_record`` (a
    ``sources.readers`` typed read) are counted and dropped.

    The batch (cast, rules and FK joins evaluated, every row ranked
    within its PK, valid rows first and then by ``dedup_order``) is
    materialised by one eager ``localCheckpoint``, the batch's only
    Spark action. ``clean`` (the valid rows ranked first, exactly the
    rows ``dedupe_by_key`` keeps of the valid rows) and ``rejected``
    are filters over those rows, so the MERGE and the rejected append
    never re-run the rules, the joins or the dedup.

    ``stats`` holds ``observe()`` metrics of that action:
    ``raw_rows``, ``corrupt_rows``, ``rejected_rows`` and
    ``dedup_dropped_rows`` (valid rows that lost the PK dedup), so
    ``raw = corrupt + rejected + clean + dedup_dropped``. With
    ``partition_by``, ``partitions`` holds ``clean``'s distinct
    partition values in ``merge_upsert``'s form, observed on the same
    action. The checkpoint is batch-sized; Spark
    frees it when the JVM collects it, and ``run_pipeline`` and the
    streaming ingest free it explicitly once the batch is written (see
    ``sources.readers.split_corrupt`` for the durability caveat on
    clusters)."""
    # the corrupt-record column rides the cast (all null for a source
    # that does not capture one) and corrupt rows ride the action, to be
    # counted on it: an observe() on the raw frame below the dedup's
    # shuffle is lost when adaptive execution replaces an empty stage
    # (all rows corrupt, or none at all) by an empty relation
    typed = cast_to_schema(
        raw, StructType(schema.fields + [StructField(CORRUPT_COL, StringType())])
    )
    all_rules = rules_from_schema(schema) + list(rules or [])
    annotated = annotate(typed, all_rules, fk_rules)
    parsed = F.col(CORRUPT_COL).isNull()
    invalid = parsed & F.col(ERROR_COL).isNotNull()
    valid = parsed & F.col(ERROR_COL).isNull()
    order = dedup_order or default_dedup_order(schema.fieldNames(), primary_key)
    rank = F.row_number().over(
        Window.partitionBy(*primary_key).orderBy(~valid, *order)
    )
    kept = valid & (F.col(_RANK_COL) == 1)
    metrics = [
        F.count(F.lit(1)).alias("raw_rows"),
        F.count(F.col(CORRUPT_COL)).alias("corrupt_rows"),
        F.count_if(invalid).alias("rejected_rows"),
        F.count_if(valid & (F.col(_RANK_COL) > 1)).alias("dedup_dropped_rows"),
    ]
    if partition_by:
        part = F.col(partition_by)
        # a struct, not the bare value: collect_set skips nulls, and a
        # null partition value is a partition the MERGE must rewrite
        pair = F.struct(part.alias("value"), part.cast("string").alias("string"))
        metrics.append(F.collect_set(F.when(kept, pair)).alias("partitions"))
    # unique per call: products and orders run in two threads of one session
    obs = Observation(f"{name}-batch-{uuid.uuid4().hex}")
    batch = (
        annotated.withColumn(_RANK_COL, rank)
        .observe(obs, *metrics)
        .localCheckpoint(eager=True)
    )
    clean = batch.filter(kept).drop(ERROR_COL, _RANK_COL, CORRUPT_COL)
    rejected = with_rejection_audit(
        batch.filter(invalid).drop(_RANK_COL, CORRUPT_COL),
        source=name,
        job_name=job_name,
    )
    stats = obs.get
    return DatasetResult(
        name=name,
        clean=clean,
        rejected=rejected,
        stats=stats,
        partitions=stats.pop("partitions", None),
    )


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

    Each table's checkpoint is freed once the table is written, so the
    results carry its stats but their ``clean`` and ``rejected`` frames
    can no longer be acted on: read the zones for the rows.
    """
    if domain_rules is None:
        # the reference's built-in domain rule: total_amount must be > 0
        # when present (/root/reference/src/etl_utils.py:163-169)
        from lakehouse_architecture_spark.operators.validation import PositiveRule

        domain_rules = {"orders": [PositiveRule("total_amount")]}
    results: dict[str, DatasetResult] = {}
    reference: dict[str, DataFrame] = {}
    # only a table a later table FK-joins is persisted as a reference: a
    # persist nothing reads would still be filled by any later read of the
    # same zone (Spark's cache matches plans), e.g. the post-job SQL
    referenced = {
        ref for t in raw_paths for _, ref in _FOREIGN_KEYS.get(t, [])
    }

    def run_table(name: str) -> DatasetResult:
        schema = SCHEMAS[name]
        # process_dataset counts and drops the CSV's corrupt rows in its
        # one action: no split_corrupt checkpoint of a side nothing reads
        raw = read_csv_typed(spark, raw_paths[name], schema)

        fk_rules = [
            ForeignKeyRule(col, reference[ref], col)
            for col, ref in _FOREIGN_KEYS.get(name, [])
            if ref in reference
        ]

        res = process_dataset(
            raw,
            schema,
            name,
            [PRIMARY_KEYS[name]],
            rules=domain_rules.get(name),
            fk_rules=fk_rules,
            job_name=job_name,
            partition_by=PARTITION_COLUMNS[name],
        )

        path = os.path.join(curated_base, name)
        merge_upsert(
            spark, res.clean, path, [PRIMARY_KEYS[name]],
            partition_by=PARTITION_COLUMNS[name],
            partitions=res.partitions,
        )
        if res.stats["rejected_rows"]:
            append_rejected(res.rejected, rejected_base, name)

        # Plain read, not sources.readers.read_parquet: every cycle adds a
        # date partition, so its footer-keyed schema memo would never hit
        # and every read would walk the footers for nothing.
        curated = spark.read.parquet(path)
        # summed from the footers on the driver, no Spark job (the
        # writers take local paths only)
        res.stats["clean_rows"] = sum(
            pq.read_metadata(f).num_rows for f in _data_files(path)
        )
        # post-write probe (Athena LIMIT 5 step)
        res.stats["probe_rows"] = len(curated.limit(5).collect())
        if name in referenced:
            # one slot per table (operators/caching): warm for the later
            # table's FK joins in THIS run, released by the next run's
            # same-named slot, so repeated runs in one session do not
            # accumulate cached tables
            reference[name] = one_slot_persist(
                curated, slot=f"pipeline-ref-{name}"
            )
        # the table is written: free its batch checkpoint now, not when
        # the JVM's GC collects it, which can be many runs later
        _free_local_checkpoint(res.clean)
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

        # Spark's local properties (job group, description) are per JVM
        # thread: each thread starts from a copy of the caller's, as
        # pyspark's inheritable_thread_target gives it. Not that
        # wrapper itself: Spark names a job after the caller of the
        # first pyspark frame on the stack, which would be the wrapper,
        # so every job of the thread read "wrapped at .../thread.py".
        jsc = spark.sparkContext._jsc.sc()
        caller_props = jsc.getLocalProperties().clone()

        def run_dim(name: str) -> DatasetResult:
            jsc.setLocalProperties(caller_props.clone())
            return run_table(name)

        with ThreadPoolExecutor(max_workers=len(dims)) as pool:
            futures = {n: pool.submit(run_dim, n) for n in dims}
            for n in dims:
                results[n] = futures[n].result()
    else:
        for n in dims:
            results[n] = run_table(n)
    if "order_items" in raw_paths:
        results["order_items"] = run_table("order_items")

    return results

"""Typed file sources.

The reference reads raw CSV with ``inferSchema`` then casts column-by-column
(/root/reference/src/glue_etl.py:453-454, 233-242). Schema inference means a
full extra pass over the data — at 100 TB that is an unacceptable double
scan — so this engine reads against the declared schema directly in
PERMISSIVE mode and captures unparseable rows in ``_corrupt_record``
instead of silently nulling them.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def read_csv_typed(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    timestamp_format: str | None = None,
) -> DataFrame:
    """Read CSV against a declared schema; malformed rows land in
    ``_corrupt_record`` rather than being dropped or nulled silently.

    ``path`` may be a glob (``dir/*.csv``) — Spark's multi-file scan is the
    UNION ALL of the daily files the reference relies on
    (/root/reference/src/glue_etl.py:474-475).

    A local glob is expanded here, sorted as Spark's own globbing sorts
    it: handed the literal glob, Spark stats it as a possible
    streaming-sink metadata directory and logs a
    ``FileNotFoundException`` WARN on every read. URIs and a glob that
    matches nothing go to Spark as given (the latter fails there with
    PATH_NOT_FOUND).
    """
    read_schema = StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)]
    )
    reader = (
        spark.read.format("csv")
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(read_schema)
    )
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.load(_expand_local_glob(path))


def _expand_local_glob(path: str) -> str | list[str]:
    """The sorted files a local glob matches; any other path, and a glob
    matching nothing, unchanged."""
    if "://" in path or not glob.has_magic(path):
        return path
    return sorted(glob.glob(path)) or path


def read_csv_inferred(
    spark: SparkSession,
    path: str,
    header: bool = True,
    timestamp_format: str | None = None,
    sampling_ratio: float = 1.0,
) -> DataFrame:
    """Opt-in schema-INFERENCE read — the reference's exploratory ingest
    mode (/root/reference/src/glue_etl.py:453-454) as an explicit escape
    hatch, NOT the default: inference costs a full extra pass over the
    data, so production ingest declares its schema and goes through
    :func:`read_csv_typed` (PERMISSIVE + ``_corrupt_record``).

    Use this only for schema-unknown exploration, then freeze what it
    infers into a declared ``StructType`` (``df.schema``) and switch to
    the typed reader. ``sampling_ratio`` bounds the inference pass on
    big inputs (Spark samples that fraction of rows to type columns);
    the data pass still reads everything.
    """
    reader = (
        spark.read.format("csv")
        .option("header", str(header).lower())
        .option("inferSchema", "true")
        .option("samplingRatio", str(sampling_ratio))
        .option("mode", "PERMISSIVE")
    )
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.load(path)


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(parsed, corrupt) split; both sides keep the source columns.

    The frame is local-checkpointed first: Spark disallows plans that
    touch only the internal corrupt-record column of a raw CSV scan, and
    the split fans out to two consumers anyway.
    """
    if CORRUPT_COL not in df.columns:
        return df, df.limit(0)
    # localCheckpoint, not cache/one-slot: (a) it truncates lineage, so
    # the corrupt side no longer references a raw file scan and Spark's
    # QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction can never resurface
    # (a one-slot persist here broke exactly that way — an evicted
    # slot's held corrupt frame recomputed from the raw scan and threw
    # at action time); (b) the checkpoint blocks are released when the
    # DataFrame is garbage-collected, so repeated splits self-bound
    # without a slot. lazy=first-action; the pipeline acts per table.
    # At 100 TB the split runs per ingest batch (a day's files), never
    # corpus-wide — the materialization is batch-sized by construction.
    # DURABILITY CAVEAT (cluster deployments): localCheckpoint blocks
    # live UNREPLICATED in executor storage and the truncated lineage
    # cannot recompute them, so losing an executor mid-job fails the
    # job outright — a failure mode plain cache() recovered from.
    # Acceptable here (single-JVM local mode; batch-sized, re-runnable
    # ingest step), but a multi-executor deployment that cannot afford
    # an ingest-batch retry should use a reliable checkpoint
    # (sc.setCheckpointDir + .checkpoint()) or write the split out.
    # Release timing is also GC-driven, not an explicit unpersist.
    df = df.localCheckpoint(eager=False)
    parsed = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    corrupt = df.filter(F.col(CORRUPT_COL).isNotNull())
    return parsed, corrupt


def read_json_typed(
    spark: SparkSession,
    path: str,
    schema: StructType,
    timestamp_format: str | None = None,
) -> DataFrame:
    """Read JSON-lines against a declared schema, PERMISSIVE with
    ``_corrupt_record`` — same contract as :func:`read_csv_typed` (no
    inference double scan; bad lines preserved, not nulled). Globs give
    the same multi-file UNION semantics."""
    read_schema = StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)]
    )
    reader = (
        spark.read.format("json")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(read_schema)
    )
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.load(path)


def read_xml_typed(
    spark: SparkSession,
    path: str,
    schema: StructType,
    row_tag: str = "row",
) -> DataFrame:
    """Read XML (native Spark 4 source) against a declared schema,
    PERMISSIVE with ``_corrupt_record`` — the same no-inference,
    bad-rows-preserved contract as :func:`read_csv_typed`. ``row_tag``
    names the repeated element that maps to one row. Avro remains
    env-blocked here (spark-avro is an external module and this build
    has no JAR network); on a cluster it is one ``--packages`` flag
    with the identical read pattern."""
    read_schema = StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)]
    )
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(read_schema)
        .load(path)
    )


# read_parquet's schema memo: inference key -> the StructType Spark
# inferred for it. Process-wide and bounded; it holds schemas only, never
# DataFrames or plans, so every read still builds and plans afresh.
_SCHEMAS: dict = {}
_SCHEMAS_MAX = 1024

# The session confs Spark's parquet schema inference and partition
# discovery read; a flipped conf is a new key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.timestampType",
)


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips (``_SUCCESS``, ``.crc``, ...);
    ``_k=v`` partition directories are kept."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _inference_key(spark: SparkSession, path: str):
    """Everything Spark's schema inference over ``path`` reads: the data
    files' footers (parquet schema plus key-value metadata, where
    Spark-written files keep their row schema), the partition directory
    names and the inference confs.

    None when this process cannot see all of it, and the caller lets Spark
    infer: a URI, a glob or missing path, no readable data file, summary
    files (Spark infers from those first), or data files whose footers
    differ (Spark then infers from whichever it lists first). The key is
    built from the parquet schema, not its Arrow conversion: an INT96 and
    an INT64-nanos column both convert to ``timestamp[ns]``, while Spark
    infers TIMESTAMP for one and BIGINT (``nanosAsLong``) for the other."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if "://" in path or not os.path.exists(path):
        return None
    files = []
    if os.path.isfile(path):
        files.append(("", path))
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for n in names:
            if n.startswith(("_metadata", "_common_metadata")):
                return None
            if not _hidden(n):
                files.append((os.path.relpath(root, path), os.path.join(root, n)))
    footers = set()
    for _, f in files:
        try:
            md = pq.read_metadata(f)
        except (OSError, pa.ArrowException):
            return None
        # the schema tree, without repr's first line (the object address)
        tree = str(md.schema).partition("\n")[2]
        footers.add((tree, tuple(sorted((md.metadata or {}).items()))))
    if len(footers) != 1:
        return None
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    return footers.pop(), frozenset(d for d, _ in files), confs


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan without a schema-inference job when the files were
    seen before.

    ``spark.read.parquet`` launches one Spark job per read to infer the
    schema from a footer. Here the footers are read in this process
    (~0.2 ms a file, no job) and keyed with the partition directory names
    and the inference confs (:func:`_inference_key`); the first read of a
    key lets Spark infer and memoizes the result. Because the key is the
    input of inference, an entry cannot go stale: a rewritten file or a
    flipped conf is a new key. Paths this process cannot list fall back to
    plain ``spark.read.parquet``."""
    key = _inference_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        # store only if no file changed while Spark inferred
        if _inference_key(spark, path) == key:
            if len(_SCHEMAS) >= _SCHEMAS_MAX:
                _SCHEMAS.pop(next(iter(_SCHEMAS)), None)
            _SCHEMAS[key] = schema
    return spark.read.schema(schema).parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning contract as parquet
    (both are Spark built-ins; predicate pushdown via ORC SearchArgument)."""
    return spark.read.orc(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
) -> DataFrame:
    """Raw media ingestion via Spark's built-in ``binaryFile`` source:
    one row per file with (path, modificationTime, length, content) —
    the ingestion front end of the multimodal pipeline
    (operators/multimodal.py), mirroring the reference's raw-zone
    object pickup (/root/reference/stepfunctions/lambda_function.py:37-108)
    as a dataflow source instead of an out-of-engine mover.

    Scale notes: the source parallelizes per FILE (content is not
    splittable), so ingest throughput scales with file count;
    ``spark.sql.files.maxPartitionBytes`` groups small files per task.
    Filter on ``length`` or path glob BEFORE touching ``content`` —
    the reader prunes file contents for metadata-only plans.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def media_table_from_binary_files(
    spark: SparkSession, path: str, kind: str, fmt: str
) -> DataFrame:
    """Lift a binaryFile scan into the MEDIA_SCHEMA contract: stable
    64-bit id from the file path, payload as the opaque binary column,
    typed metadata left null for the decode stage to fill."""
    from pyspark.sql import functions as F

    raw = read_binary_files(spark, path)
    return raw.select(
        F.xxhash64("path").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.lit(fmt).alias("format"),
        F.col("content").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )

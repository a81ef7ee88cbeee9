"""Scan-parallelism helpers.

A parquet relation with fewer splittable units than the cluster has
cores runs every narrow transformation downstream of the scan on a
handful of tasks — for CPU-heavy expression work (regex normalization,
per-shingle md5 families) that serializes the hot loop on one core. At
production scale a table has many files and this never fires; the
heuristic uses file count as the cheap proxy (``df.inputFiles()`` is a
metadata call, while ``df.rdd.getNumPartitions()`` costs a full plan
translation, measured ~1.5 s per call on Spark 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_scan(df: DataFrame, skip_small: bool = True) -> DataFrame:
    """Round-robin repartition ``df`` to the default parallelism when it
    is backed by fewer files than the cluster has cores; pass-through
    otherwise (a real multi-file table is already spread).

    Use BEFORE expression-heavy narrow work whose cost dwarfs one extra
    shuffle of the input rows. For aggregations the call is about the
    PARTIAL phase: a cheap agg (count/sum per group) gains nothing —
    the exchange just duplicates the agg's own shuffle — but an
    expression-heavy partial (e.g. TPC-H Q1's ten decimal aggregates
    per row) is the hot loop, and spreading it off a <=3-task scan
    bought ~30% of that query's wall at sf0.1.

    A relation no larger than ``spark.sql.files.openCostInBytes`` —
    Spark's own estimate of the bytes scanned in the time it takes to
    open a file — is not worth a shuffle job: it passes through. An
    unknown size (:func:`scan_size_bytes` is None) still spreads.
    ``skip_small=False`` spreads small relations too, for per-row text
    work whose cost per byte is far above a scan's: unspread, the
    594 KB sf0.1 documents file made the shingle-family queries 1.4-2.1x
    slower at local[4].
    """
    if skip_small:
        size = scan_size_bytes(df)
        if size is not None and size <= _open_cost_bytes(df):
            return df
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        few_files = len(df.inputFiles()) < par
    except Exception:  # non-file-backed relation (e.g. createDataFrame)
        few_files = True
    return df.repartition(par) if few_files else df


def _open_cost_bytes(df: DataFrame) -> int:
    """The session's ``spark.sql.files.openCostInBytes`` in bytes (the
    conf accepts unit suffixes, so it is read parsed from the JVM); 0,
    which never skips a spread, when it cannot be read."""
    try:
        return int(df.sparkSession._jsparkSession.sessionState().conf().filesOpenCostInBytes())
    except Exception:
        return 0


def zorder_key(df, cols: list[str], bits: int = 8):
    """Morton (Z-order) clustering key over numeric columns — Delta
    ``OPTIMIZE ZORDER BY`` re-expressed as a pure Column for plain
    parquet: bucket each column into ``2^bits`` uniform cells between
    its min and max (one tiny bounds aggregate, broadcast back), then
    bit-interleave the cell ids so sorting by the key clusters rows
    that are close in EVERY dimension into the same files. Per-file
    min/max stats on all the z-ordered columns then become selective
    at once — multi-column data skipping, where a plain lexicographic
    sort only helps its leading column.

    Returns (augmented_df, key_column): the DataFrame gains broadcast
    ``__zmin_i``/``__zmax_i`` bounds columns the key expression needs;
    sort on the key, then drop them at write time (compact_table does
    both). Uniform buckets, not quantiles — good enough for layout
    (skew degrades cell balance, not correctness) and keeps the bounds
    pass a 1-row aggregate.
    """
    from pyspark.sql import functions as F

    if not cols:
        raise ValueError("zorder_by needs at least one column")
    if bits * len(cols) > 63:
        # The interleaved key must fit a signed 64-bit long: bit
        # positions go up to bits*len(cols)-1, and 1 << 63 overflows
        # LongType into an invalid literal rather than an error.
        raise ValueError(
            f"zorder key needs bits*len(cols) <= 63 bit positions; got "
            f"bits={bits} * {len(cols)} cols = {bits * len(cols)} — "
            f"lower bits to {63 // len(cols)} or fewer for "
            f"{len(cols)} columns"
        )
    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"__zmin_{i}") for i, c in enumerate(cols)],
        *[F.max(c).cast("double").alias(f"__zmax_{i}") for i, c in enumerate(cols)],
    )
    aug = df.crossJoin(F.broadcast(bounds))
    n_cells = (1 << bits) - 1
    cells = []
    for i, c in enumerate(cols):
        lo, hi = F.col(f"__zmin_{i}"), F.col(f"__zmax_{i}")
        span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
        frac = (F.col(c).cast("double") - lo) / span
        cells.append(
            F.least(
                F.lit(n_cells),
                F.greatest(F.lit(0), F.floor(frac * (n_cells + 1)).cast("long")),
            )
        )
    key = F.lit(0).cast("long")
    for bit in range(bits):
        for i, cell in enumerate(cells):
            key = key + (
                F.shiftright(cell, bit).bitwiseAND(F.lit(1))
                * F.lit(1 << (bit * len(cells) + i)).cast("long")
            )
    return aug, key


def scan_size_bytes(df: DataFrame) -> int | None:
    """Metadata-only size estimate of a relation: the optimizer's
    ``sizeInBytes`` statistic (for a parquet scan, the summed file
    lengths). Runs NO Spark job — the currency of every size-adaptive
    dispatch in this engine (similarity crossovers, the quantile
    rollups' grain-vs-rescan choice). Returns ``None`` when stats are
    unavailable (``_jdf`` is a classic-session private API, absent
    under Spark Connect); callers must treat ``None`` as "assume BIG"
    or measure for real, never as "small" — a silent small default
    would route an arbitrarily large input down a local-only plan."""
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j returns small statistics as plain Python ints and big
        # ones as java BigInt objects; str() round-trips both.
        return int(str(size))
    except Exception:
        return None

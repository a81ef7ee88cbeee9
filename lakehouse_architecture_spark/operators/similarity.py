"""Similarity search over embedding columns: exact brute-force top-k
(baseline) and LSH-bucketed approximate variants (the 100 TB path).

Random-hyperplane LSH (Charikar 2002) with DETERMINISTIC hyperplanes:
plane p's j-th component is derived from md5(f"{p}:{j}") — reproducible
across runs/engines with no RNG state, which matters for incremental
index maintenance (new vectors bucket identically forever).

Scale: bucketing replaces the O(N·Q) cross product with a join on
(plane-sign bucket key); probing multiple buckets (multi-probe LSH)
trades recall for fan-out without re-hashing.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_architecture_spark.functions.vectors import dot


def _plane_component(p: int, j: int) -> float:
    """Deterministic pseudo-random component in [-1, 1)."""
    h = hashlib.md5(f"{p}:{j}".encode()).hexdigest()[:12]
    return int(h, 16) / float(1 << 47) - 1.0


def hyperplanes(num_planes: int, dim: int) -> list[list[float]]:
    return [
        [_plane_component(p, j) for j in range(dim)] for p in range(num_planes)
    ]


def lsh_bucket(df: DataFrame, vec_col: str, num_planes: int, dim: int) -> DataFrame:
    """Add a ``bucket`` column: sign pattern across the hyperplanes."""
    planes = hyperplanes(num_planes, dim)
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        arr = F.array(*[F.lit(x) for x in plane])
        sign = (dot(F.col(vec_col), arr) > 0).cast("long")
        bucket = bucket + F.shiftleft(sign, p)
    return df.withColumn("bucket", bucket)


def sign_lsh_bands(
    df: DataFrame,
    n_bands: int,
    band_bits: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, band, key): banded sign-LSH keys from axis-aligned
    hyperplanes — band b's key packs the sign bits of dimensions
    [b*band_bits, (b+1)*band_bits) into one integer. Axis-aligned
    planes (sign of the raw coordinate) keep the scheme exactly
    replicable in any SQL engine, which random Gaussian planes are not.

    (n_bands, band_bits) is the recall/cost dial: a pair at angle theta
    matches one band with p^band_bits where p = 1 - theta/pi, and any of
    n_bands bands promotes it to a candidate. Few wide bands (8x8)
    suit high thresholds (cos >= 0.85: per-band 0.82^8 ~ 0.21, recall
    1-(1-0.21)^8 ~ 0.85, while random near-orthogonal pairs survive at
    ~(1/2)^8 per band ~ 3% overall); many narrow bands (12x4) suit the
    loose-threshold regime. Requires n_bands * band_bits <= dim —
    ENFORCED per row: past-the-end ``element_at`` returns NULL, the
    sign test would silently fall to 0, and the truncated key bits
    would degrade selectivity with no error, so a short vector raises
    instead (one cheap ``size()`` per row)."""
    need = n_bands * band_bits
    vec = F.when(F.size(F.col(vec_col)) >= need, F.col(vec_col)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"sign_lsh_bands: need >= {need} dims "
                      f"({n_bands} bands x {band_bits} bits), got "),
                F.size(F.col(vec_col)).cast("string"),
            )
        )
    )
    base = df.select(F.col(id_col).alias("vec_id"), vec.alias("_v"))
    keys = []
    for band in range(n_bands):
        key = None
        for i in range(band_bits):
            dim = band * band_bits + i + 1
            bit = F.when(
                F.element_at("_v", dim) >= 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
            key = bit if key is None else key + bit
        keys.append(key)
    return base.select(
        "vec_id",
        F.posexplode(F.array(*keys)).alias("band", "key"),
    )


def sign_lsh_candidates(
    df: DataFrame,
    n_bands: int,
    band_bits: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs sharing any sign-LSH band
    cell. One narrow map computes all band keys, a posexplode fans out
    n_bands rows per vector, and candidates come from the PINNED
    sort-merge self-join on (band, key) — Σ|cell|² per cell, never n².
    DISTINCT collapses multi-band hits.

    Shape history (r17 re-measurement of the r16 rewrite): the r16
    grouped-generator form (collect_list cells + chained posexplode /
    explode(slice), the minhash candidate_pairs pattern) was adopted on
    an at-scale argument but measured SLOWER once the quadratic term
    actually dominated — 40k vectors / 94M candidates (8x8 cells of
    ~156 ids), counts identical: unhinted SMJ 122 vs generators 149 s,
    and THIS merge-hinted form 58.8 vs 188.6 s (3.2x) in its own
    interleaved session — because explode(slice(...))
    COPIES the remaining id array per left element: O(|cell|²) array
    elements materialized per cell where the merge join streams the
    cross product without copying. The minhash/simhash buckets where
    the generator form wins are much smaller (pair volume ~ bucket²
    per key is tiny next to the two sorted shuffles it saves); an LSH
    cell is |corpus| / 2^band_bits — big by construction. The real r16
    hazard was AQE picking a BROADCAST build for the statically-unsized
    generate output (the r12 OOM); the merge hint closes exactly that
    without the copy cost, and is the only shape that survives 100 TB
    cells. Bench-corpus wall is unchanged (r16 already measured the
    two forms neutral at sf0.1)."""
    bands = sign_lsh_bands(df, n_bands, band_bits, vec_col, id_col)
    return (
        bands.select(F.col("vec_id").alias("id_a"), "band", "key")
        .hint("merge")
        .join(
            bands.select(F.col("vec_id").alias("id_b"), "band", "key"),
            ["band", "key"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def knn_bruteforce(
    corpus: DataFrame,
    query: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of each query row against the corpus.

    query: (query_id, embedding). The query side is broadcast; the corpus
    is scanned once, no shuffle of corpus rows — per-query top-k via
    window over (query_id).
    """
    from pyspark.sql import Window

    q = query.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col(id_col),
        (
            dot(F.col(vec_col), F.col("q_vec"))
            / F.sqrt(dot(F.col(vec_col), F.col(vec_col)) * dot(F.col("q_vec"), F.col("q_vec")))
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    return (
        scored.filter(F.col(id_col) != F.col("query_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def knn_lsh(
    corpus: DataFrame,
    query: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    num_planes: int = 6,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket; exact
    cosine re-rank inside the bucket. Recall < 1 by construction; raise
    ``num_planes`` for smaller buckets, probe neighbors for recall."""
    from pyspark.sql import Window

    c = lsh_bucket(corpus, vec_col, num_planes, dim)
    q = lsh_bucket(query, vec_col, num_planes, dim).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        "bucket",
    )
    scored = c.join(F.broadcast(q), "bucket").select(
        "query_id",
        F.col(id_col),
        (
            dot(F.col(vec_col), F.col("q_vec"))
            / F.sqrt(dot(F.col(vec_col), F.col(vec_col)) * dot(F.col("q_vec"), F.col("q_vec")))
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        scored.filter(F.col(id_col) != F.col("query_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every vector to its nearest centroid (argmax cosine).

    centroids: (centroid_id, centroid_vec) — small, broadcast. This is
    the IVF coarse quantizer: at 100 TB the corpus is written out
    partitioned by ``centroid_id`` so a query touches only its probed
    lists' partitions (partition pruning does the index lookup).
    """
    from pyspark.sql import Window

    scored = corpus.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        vec_col,
        "centroid_id",
        (
            dot(F.col(vec_col), F.col("centroid_vec"))
            / F.sqrt(
                dot(F.col(vec_col), F.col(vec_col))
                * dot(F.col("centroid_vec"), F.col("centroid_vec"))
            )
        ).alias("centroid_sim"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("centroid_sim"), F.asc("centroid_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, vec_col, "centroid_id")
    )


def sample_centroids(
    corpus: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic, scale-safe centroid seeding (k-means init; full
    Lloyd iterations would refine these with the same assign-aggregate
    plan shape).

    Hash-buckets the corpus into ``n_centroids`` buckets by ``xxhash64``
    and keeps the min-hash row per bucket: one narrow projection plus one
    partitioned window — fully parallel. (A previous version ranked the
    whole corpus through ``Window.orderBy`` with no partition: a
    single-task global sort of every vector at 100 TB, just to pick ~16
    seeds.) xxhash64 spreads seeds pseudo-randomly across the corpus
    regardless of id distribution and is deterministic for replay."""
    from pyspark.sql import Window

    h = F.xxhash64(F.col(id_col).cast("string"))
    bucketed = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.pmod(h, F.lit(n_centroids)).alias("bucket"),
        h.alias("h"),
    )
    w = Window.partitionBy("bucket").orderBy("h", id_col)
    return (
        bucketed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("centroid_vec"),
        )
    )


def knn_ivf(
    corpus: DataFrame,
    query: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """IVF approximate KNN: coarse-quantize the corpus, probe the
    ``n_probe`` nearest inverted lists per query, exact re-rank inside.

    Recall/cost dial: n_probe=n_centroids degenerates to exact search.
    """
    from pyspark.sql import Window

    from lakehouse_architecture_spark.operators.caching import one_slot_persist

    # one-slot persisted: the tiny centroid relation feeds the corpus
    # assignment and the query-probe broadcast; bounded across sessions
    cents = one_slot_persist(
        sample_centroids(corpus, n_centroids, vec_col, id_col),
        slot="similarity-ivf-cents",
    )
    assigned = ivf_assign(corpus, cents, vec_col, id_col)

    q = query.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    qc = q.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "q_vec",
        "centroid_id",
        (
            dot(F.col("q_vec"), F.col("centroid_vec"))
            / F.sqrt(
                dot(F.col("q_vec"), F.col("q_vec"))
                * dot(F.col("centroid_vec"), F.col("centroid_vec"))
            )
        ).alias("centroid_sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("centroid_sim"), F.asc("centroid_id")
    )
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "q_vec", "centroid_id")
    )

    cands = assigned.join(F.broadcast(probes), "centroid_id").select(
        "query_id",
        F.col(id_col),
        (
            dot(F.col(vec_col), F.col("q_vec"))
            / F.sqrt(
                dot(F.col(vec_col), F.col(vec_col))
                * dot(F.col("q_vec"), F.col("q_vec"))
            )
        ).alias("cosine_sim"),
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        cands.filter(F.col(id_col) != F.col("query_id"))
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def ivf_build_index(
    spark,
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    refine_iters: int = 0,
) -> None:
    """Materialize an IVF index: corpus partitioned BY centroid_id.

    ``refine_iters`` > 0 runs that many Lloyd iterations
    (:func:`kmeans_refine`) over the seeded centroids before assignment —
    better-balanced lists, higher recall at the same n_probe.

    The physical layout IS the index — at 100 TB each inverted list is a
    partition directory, so a query that probes ``n_probe`` lists reads
    exactly those directories (static partition pruning) and never
    touches the rest of the corpus. Centroids persist next to the lists
    so search needs no recomputation.
    """
    cents = sample_centroids(corpus, n_centroids, vec_col, id_col)
    if refine_iters > 0:
        cents = kmeans_refine(corpus, cents, refine_iters, vec_col, id_col)
    cents = cents.cache()
    assigned = ivf_assign(corpus, cents, vec_col, id_col)
    assigned.write.partitionBy("centroid_id").mode("overwrite").parquet(
        f"{path}/lists"
    )
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    cents.unpersist()


def ivf_search_index(
    spark,
    path: str,
    query: DataFrame,
    n_probe: int = 4,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Search a materialized IVF index with static partition pruning.

    Probed list ids are collected to the driver (bounded:
    |queries| * n_probe values) and applied as an ``isin`` filter on the
    partition column, so the parquet source lists only the probed
    directories. Candidate scoring then joins query vectors back on
    centroid_id — the same plan as :func:`knn_ivf` but over a fraction
    of the data proportional to n_probe / n_centroids.
    """
    from pyspark.sql import Window

    cents = spark.read.parquet(f"{path}/centroids")
    q = query.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    qc = q.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "q_vec",
        "centroid_id",
        (
            dot(F.col("q_vec"), F.col("centroid_vec"))
            / F.sqrt(
                dot(F.col("q_vec"), F.col("q_vec"))
                * dot(F.col("centroid_vec"), F.col("centroid_vec"))
            )
        ).alias("centroid_sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("centroid_sim"), F.asc("centroid_id")
    )
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "q_vec", "centroid_id")
    )
    probed_lists = sorted(
        {r.centroid_id for r in probes.select("centroid_id").distinct().collect()}
    )

    lists = spark.read.parquet(f"{path}/lists").filter(
        F.col("centroid_id").isin(probed_lists)
    )
    cands = lists.join(F.broadcast(probes), "centroid_id").select(
        "query_id",
        F.col(id_col),
        (
            dot(F.col(vec_col), F.col("q_vec"))
            / F.sqrt(
                dot(F.col(vec_col), F.col(vec_col))
                * dot(F.col("q_vec"), F.col("q_vec"))
            )
        ).alias("cosine_sim"),
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        cands.filter(F.col(id_col) != F.col("query_id"))
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def knn_bruteforce_pandas(
    corpus: DataFrame,
    query: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Brute-force KNN via an Arrow-batched pandas iterator — the
    vectorized escape hatch (numpy matrix product per batch) for when
    per-element JVM folds become the bottleneck at high dimensionality.

    The query matrix (small: Q x dim) is closed over and normalized once
    on the driver; each corpus Arrow batch computes a (batch x Q) cosine
    block with one BLAS gemm, then keeps only each query's top k+1 batch
    rows (np.argpartition) — rows below a batch's cut can never survive
    the global top-k, so at most (k+1) * Q rows per batch shuffle into
    the final window instead of |batch| * Q.
    Results match :func:`knn_bruteforce` (tests/test_similarity.py).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    q_rows = query.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:  # empty Arrow batch: nothing to score
                continue
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.linalg.norm(c_mat, axis=1, keepdims=True)
            np.maximum(norms, 1e-300, out=norms)  # zero vectors -> sim 0
            c_norm = c_mat / norms
            sims = c_norm @ q_norm.T  # (batch, Q) in one gemm
            n, q = sims.shape
            # Per-batch partial top-k: keep every row at or above the
            # (k+1)-th largest VALUE per query — value-threshold, not a
            # fixed row count, so ties at the cut all survive and the
            # global window's (cosine desc, id asc) tie-break sees the
            # same candidate set the JVM path would.
            keep = min(k + 1, n)
            cut = -np.partition(-sims, keep - 1, axis=0)[keep - 1]  # (Q,)
            rows, cols = np.nonzero(sims >= cut)
            yield pd.DataFrame(
                {
                    "query_id": q_ids[cols],
                    id_col: pdf[id_col].to_numpy()[rows],
                    "cosine_sim": sims[rows, cols],
                }
            )

    src = corpus.select(id_col, vec_col)
    # Unsplittable small scans (one row group) would run the whole scan
    # on one Python worker; spread batches so workers fork and score in
    # parallel. File count is the cheap proxy (a .rdd partition probe
    # costs a full plan translation); at cluster scale the scan has
    # plenty of files and this is a no-op.
    par = corpus.sparkSession.sparkContext.defaultParallelism
    try:
        few_files = len(corpus.inputFiles()) < par
    except Exception:  # non-file-backed relation: leave as-is
        few_files = False
    if few_files:
        src = src.repartition(par)
    cands = src.mapInPandas(
        score, schema=f"query_id long, {id_col} long, cosine_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        cands.filter(F.col(id_col) != F.col("query_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def near_dup_candidates_blocked(
    corpus: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_blocks: int = 16,
    slack: float = 1e-6,
    group_col: str | None = None,
) -> DataFrame:
    """Exact all-pairs cosine candidates via BLOCKED gemm — the way to
    do exact O(n^2) similarity without ever materializing n^2 rows in
    the engine.

    Vectors are deterministically assigned to ``n_blocks`` blocks
    (id mod n); the upper-triangle grid of block pairs becomes
    applyInPandas groups, each holding two bounded blocks; one BLAS
    gemm per group scores all its cross pairs and emits ONLY ids above
    ``threshold - slack``. Work is O(n^2) flops (irreducible for exact
    all-pairs) but memory per task is O((n/B)^2) and shuffled bytes are
    O(n * B) input + matches output — no quadratic relation ever exists.
    Emitted pairs are candidates (double precision); callers wanting
    bit-reproducible scores re-score them exactly (queries/dedup_sim.py
    re-runs the decimal fold on the survivors).

    ``group_col`` (r16) restricts the pair space to WITHIN-GROUP pairs
    (SemDeDup's per-cluster search): the group key simply joins the
    (ba, bb) grid key in the applyInPandas grouping, so a task holds
    two bounded blocks OF ONE GROUP and cross-group pairs are never
    scored — total flops drop from O(n^2) to O(sum |group|^2), the
    cluster-pruned contract. Each id belongs to exactly one group, so
    a pair still lives in exactly one task and no engine-level
    distinct is needed.
    """
    import pandas as pd

    spark = corpus.sparkSession
    grid = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "ba int, bb int",
    )
    gcols = [group_col] if group_col is not None else []
    tagged = corpus.select(
        *gcols,
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        (F.col(id_col) % n_blocks).cast("int").alias("blk"),
    )
    a = grid.join(tagged, tagged.blk == grid.ba).select(
        *gcols, "ba", "bb", "vid", "vec", F.lit(0).alias("side")
    )
    b = grid.join(tagged, tagged.blk == grid.bb).select(
        *gcols, "ba", "bb", "vid", "vec", F.lit(1).alias("side")
    )
    both = a.union(b)

    # Full type hints: Spark 4 infers the grouped-map eval type from
    # them and warns (per-session) when any parameter lacks one.
    def score(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # key is (ba, bb) or (group, ba, bb); only `side` steers the
        # scoring, so the key itself is unused either way.
        left = pdf[pdf["side"] == 0]
        right = pdf[pdf["side"] == 1]
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        lm = np.array(list(left["vec"]), dtype=np.float64)
        rm = np.array(list(right["vec"]), dtype=np.float64)
        ln = np.linalg.norm(lm, axis=1, keepdims=True)
        rn = np.linalg.norm(rm, axis=1, keepdims=True)
        np.maximum(ln, 1e-300, out=ln)
        np.maximum(rn, 1e-300, out=rn)
        sims = (lm / ln) @ (rm / rn).T
        li, ri = np.nonzero(sims >= threshold - slack)
        id_a = left["vid"].to_numpy()[li]
        id_b = right["vid"].to_numpy()[ri]
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        keep = lo < hi  # drop self pairs (diagonal blocks carry both sides)
        return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep]}).drop_duplicates()

    # No trailing distinct(): a cross-block pair lives in exactly one
    # (ba, bb) group (each id belongs to one group_col value, so the
    # grouped form preserves this) and diagonal groups dedupe their two
    # orientations in-batch — an engine-level distinct would add a full
    # shuffle for nothing.
    return both.groupBy(*gcols, "ba", "bb").applyInPandas(
        score, schema="id_a long, id_b long"
    )


# Corpus-size crossover where the Arrow path's fixed costs (Python
# worker fleet, Arrow transfer) amortize past the JVM fold — shared by
# every size-adaptive dispatch in this engine. Measured on local[32],
# dim=64, k=10, 8 queries: at 100k corpus rows the gemm path runs
# 1.2-4.2 s vs 17 s for the JVM fold; at 2k rows the JVM fold wins by
# the ~3 s Python-worker fork cost. The crossover sits between.
# (r16: for ALL-PAIRS work the fork cost is the only JVM advantage and
# it lands once per worker fleet — with spark.python.worker.reuse on,
# warm reps favor the gemm even at 2k rows: 3.19 s vs 1.83 s minima,
# interleaved A/B — so emb_near_dup_pairs now always takes the blocked
# path; this constant still steers the per-QUERY-row KNN dispatches.)
ARROW_SWITCHOVER_ROWS = 50_000


def adaptive_n_blocks(
    est_rows: int, target_block_rows: int = 2000, min_blocks: int = 8
) -> int:
    """Block count for :func:`near_dup_candidates_blocked`, derived from
    corpus size instead of a constant (guide §2: scale-adaptive
    partitioning): blocks of ~``target_block_rows`` bound each task's
    gemm at ~target² pairs of flops and O(target²) memory, while
    ``min_blocks`` keeps the upper-triangle group grid at or ahead of
    the local core count (8 blocks -> 36 groups). A fixed block count
    would either starve parallelism locally or blow per-task memory at
    100x corpus growth."""
    import math

    return max(min_blocks, math.ceil(max(est_rows, 1) / target_block_rows))

# On-disk bytes per row of a 64-dim float32 embedding row in parquet
# (measured: 798,695 B / 2,000 rows ≈ 400 at sf0.1 — float vectors
# barely compress). Only steers the fast-path/Arrow-path dispatch, so a
# misestimate merely shifts the crossover, never correctness.
_EMBEDDING_BYTES_PER_ROW = 400


def estimated_corpus_rows(
    df: DataFrame, bytes_per_row: int = _EMBEDDING_BYTES_PER_ROW
) -> int:
    """Metadata-only corpus-size estimate for size-adaptive dispatch:
    the optimizer's ``sizeInBytes`` (the summed file lengths for a
    parquet scan) divided by a measured bytes/row. Runs NO Spark job —
    the eager ``count()`` this replaces cost a full scheduling
    round-trip per invocation in the query hot path (measured as a 30%
    wall regression on ``emb_near_dup_pairs`` at bench SF).

    ``_jdf`` is a classic-session-only private API (absent under Spark
    Connect, and stats can be missing for non-scan frames); when it
    fails (``scan_size_bytes`` returns None) the fallback is a real
    ``count()`` — pay one job rather than silently route an
    arbitrarily large corpus down the O(n^2) JVM nested-loop path by
    defaulting to "small"."""
    from lakehouse_architecture_spark.operators.partitioning import (
        scan_size_bytes,
    )

    size = scan_size_bytes(df)
    if size is None:  # stats unavailable != small: measure for real
        return df.count()
    return size // bytes_per_row


def knn_bruteforce_auto(
    corpus: DataFrame,
    query: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    switchover: int = ARROW_SWITCHOVER_ROWS,
) -> DataFrame:
    """Size-adaptive exact KNN: the Arrow/BLAS path's fixed costs (a
    Python worker per partition, Arrow transfer, gemm setup) only
    amortize past ~10^4-10^5 corpus rows; below that the JVM zip_with
    fold is strictly faster (measured: 0.9 s vs 2.5 s at 2 k vectors,
    crossing over as the corpus grows). Both paths produce identical
    top-k after 6-decimal rounding (tests/test_similarity.py), so the
    dispatch is invisible to callers and is driven by file-size
    metadata (:func:`estimated_corpus_rows`) — no Spark job.
    """
    n = estimated_corpus_rows(corpus)
    if n < switchover:
        return knn_bruteforce(corpus, query, vec_col, id_col, k)
    return knn_bruteforce_pandas(corpus, query, vec_col, id_col, k)


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd iterations over the IVF coarse quantizer (k-means refine).

    Each iteration: assign (broadcast centroids, argmax cosine) ->
    recompute centroids as the member mean, elementwise via
    posexplode + (centroid, position) average -> rebuild the array with
    sort_array(collect_list(struct(pos, avg))). All relational: the
    explode is |corpus| * dim rows but aggregates map-side to
    k * dim partials, so the shuffle is tiny at any corpus size.
    Centroids that lose all members keep their previous position (left
    join + coalesce), so k never shrinks.
    """
    cents = centroids
    for _ in range(n_iter):
        assigned = ivf_assign(corpus, cents, vec_col, id_col)
        comp = assigned.select(
            "centroid_id", F.posexplode(vec_col).alias("pos", "val")
        )
        means = (
            comp.groupBy("centroid_id", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "centroid_id",
                F.transform(F.col("pm"), lambda s: s.m.cast("float")).alias(
                    "new_vec"
                ),
            )
        )
        cents = (
            cents.join(means, "centroid_id", "left_outer")
            .select(
                "centroid_id",
                F.coalesce(F.col("new_vec"), F.col("centroid_vec")).alias(
                    "centroid_vec"
                ),
            )
        )
    return cents

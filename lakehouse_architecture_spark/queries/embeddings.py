"""Similarity-search queries over the ``embeddings`` table
(vec_id, embedding array<float>[64], label).

Brute-force cosine top-k is the exactness baseline; the LSH-bucketed
variant in operators/similarity.py is the 100 TB path (bucket-join
instead of full cross product). Determinism with the DuckDB oracle:
element products are exact double ops; their SUMS go through decimal
fixed point (order-independent); the final cosine is rounded to 6
decimals with vec_id tie-breaks before any LIMIT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_spark.operators.caching import one_slot_persist
from lakehouse_architecture_spark.queries.registry import query
from lakehouse_architecture_spark.sources.tables import load_table

_DEC = "decimal(30,18)"


def _pair_dots(emb: DataFrame, q: DataFrame) -> DataFrame:
    """Per-vector (dot(e,q), dot(e,e)) with exact decimal sums.

    posexplode keeps the arithmetic order-independent for oracle parity;
    the production fast path is functions.vectors.dot (zip_with fold).
    """
    pairs = emb.crossJoin(F.broadcast(q)).select(
        "vec_id",
        F.posexplode(F.arrays_zip("embedding", "q_emb")).alias("i", "p"),
    )
    x = F.col("p.embedding").cast("double")
    y = F.col("p.q_emb").cast("double")
    return pairs.groupBy("vec_id").agg(
        F.sum((x * y).cast(_DEC)).cast("double").alias("dot"),
        F.sum((x * x).cast(_DEC)).cast("double").alias("norm_sq"),
    )


KNN_ORACLE = """
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
dots AS (
  SELECT e.vec_id,
    CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dot,
    CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS norm_sq
  FROM embeddings e, q, UNNEST(generate_series(1, len(e.embedding))) AS t(i)
  GROUP BY e.vec_id
),
qn AS (
  SELECT CAST(SUM(CAST(CAST(q_emb[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS q_norm_sq
  FROM q, UNNEST(generate_series(1, len(q_emb))) AS t(i)
)
SELECT vec_id, ROUND(dot / SQRT(norm_sq * q_norm_sq), 6) AS cosine_sim
FROM dots, qn
WHERE vec_id <> 0
ORDER BY dot / SQRT(norm_sq * q_norm_sq) DESC, vec_id
LIMIT 10
"""
# NOTE: the ORDER BY uses the UNROUNDED cosine (matching the Spark
# side's window ordering) — ordering by the rounded value would create
# 1e-6-wide tie classes at the k-cut that the two engines could break
# differently.


@query("emb_knn_bruteforce", oracle=KNN_ORACLE)
def emb_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec_id 0 via the size-adaptive
    brute-force operator (operators/similarity.knn_bruteforce_auto):
    JVM zip_with folds below the switchover, Arrow/BLAS mapInPandas
    (one gemm per corpus batch, per-batch partial top-k, tiny final
    window) above it — the production shape for large corpora: linear
    scan, no corpus shuffle, only (k+1) rows per batch reach the
    shuffle. The 64x-row posexplode formulation with order-independent
    decimal sums is kept as ``emb_knn_bruteforce_decimal`` below.
    """
    from lakehouse_architecture_spark.operators.similarity import (
        knn_bruteforce_auto,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    # Both engines rank by the UNROUNDED cosine with a vec_id tie-break
    # (the oracle's ORDER BY mirrors this), so k=10 is fetched directly
    # — no rounded-tie fetch margin needed.
    k = 10
    out = knn_bruteforce_auto(emb, q, k=k)
    # The result holds at most k rows by construction (one query id, a
    # window kept to rn <= k), so the limit drops no row: it plans the
    # sort as a take-ordered, with no range-sort sample job or exchange.
    return (
        out.select("vec_id", F.round("cosine_sim", 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
    )


@query("emb_knn_bruteforce_decimal", oracle=KNN_ORACLE)
def emb_knn_bruteforce_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec_id 0 (query side broadcast;
    scales linearly in corpus size with no shuffle of the corpus).
    Order-independent decimal fixed-point sums: the bit-reproducible
    JVM-side baseline the fast path is checked against."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    dots = _pair_dots(emb, q)
    q_norm = (
        q.select(F.posexplode("q_emb").alias("i", "x"))
        .agg(
            F.sum((F.col("x").cast("double") * F.col("x").cast("double")).cast(_DEC))
            .cast("double")
            .alias("q_norm_sq")
        )
    )
    cos = F.col("dot") / F.sqrt(F.col("norm_sq") * F.col("q_norm_sq"))
    return (
        dots.crossJoin(F.broadcast(q_norm))
        .filter(F.col("vec_id") != 0)
        # rank by the unrounded cosine (bit-identical to the oracle's
        # decimal-derived doubles), round only in the projection
        .orderBy(cos.desc(), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round(cos, 6).alias("cosine_sim"))
    )


@query(
    "emb_norms",
    oracle="""
SELECT vec_id, label,
       len(embedding) AS dim,
       ROUND(SQRT(CAST(ROUND(SUM(CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) AS DECIMAL(30,18))), 6) AS DOUBLE)), 6) AS l2_norm
FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
GROUP BY vec_id, label, len(embedding)
""",
)
def emb_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norms (typed-array column handling probe).
    The decimal norm-squared is ROUNDed at scale 6 in exact decimal
    before the double cast (r8 hardening: both of DuckDB's
    decimal<->double conversions carry few-ulp-at-1e-18 error on
    junky float32 content, so an 18-scale sum's last digits are not
    cross-engine-stable; a scale-6 decimal whose unscaled value fits
    2^53 converts exactly in both engines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    return (
        emb.select("vec_id", "label", F.size("embedding").alias("dim"),
                   F.posexplode("embedding").alias("i", "x"))
        .groupBy("vec_id", "label", "dim")
        .agg(
            F.round(
                F.sqrt(F.round(F.sum((x * x).cast(_DEC)), 6).cast("double")),
                6,
            ).alias("l2_norm")
        )
    )


@query(
    "emb_centroid_norm_by_label",
    oracle="""
WITH dims AS (
  SELECT label, i,
         CAST(ROUND(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(30,18))), 6) AS DOUBLE)
           / COUNT(*) AS dim_mean
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
  GROUP BY label, i
),
counts AS (SELECT label, COUNT(*) AS n_vectors FROM embeddings GROUP BY label)
SELECT d.label,
       c.n_vectors,
       ROUND(SQRT(list_reduce(list(d.dim_mean * d.dim_mean ORDER BY d.i), (x, y) -> x + y)), 6) AS centroid_norm
FROM dims d JOIN counts c ON d.label = c.label
GROUP BY d.label, c.n_vectors
""",
)
def emb_centroid_norm_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (elementwise mean) norm — the aggregation shape
    behind IVF coarse quantizers, kept exactly reproducible: per-dim
    sums are decimal-ROUNDed at scale 6 before the (then-exact) double
    cast, and the norm is an order-pinned IEEE fold over positions —
    the emb_kmeans_clusters r8 treatment (a derived-double->decimal
    re-cast and an 18-scale decimal->double cast both carry cross-
    engine last-ulp risk on junky float32 content)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select("label", F.posexplode("embedding").alias("i", "x"))
    dims = exploded.groupBy("label", "i").agg(
        (
            F.round(F.sum(F.col("x").cast("double").cast(_DEC)), 6)
            .cast("double")
            / F.count(F.lit(1))
        ).alias("dim_mean")
    )
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        dims.groupBy("label")
        .agg(
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.array_sort(
                            F.collect_list(F.struct("i", "dim_mean"))
                        ),
                        F.lit(0.0),
                        lambda acc, s: acc + s["dim_mean"] * s["dim_mean"],
                    )
                ),
                6,
            ).alias("centroid_norm")
        )
        .join(F.broadcast(counts), "label")
        .select("label", "n_vectors", "centroid_norm")
    )


def _md5_seeded_scores(emb: DataFrame, k: int = 8) -> DataFrame:
    """(vec_id, embedding, centroid_id, sim): decimal-exact cosine of
    every corpus row against the ``k`` PORTABLY md5-seeded centroids —
    the shared front half of the k-means step and the IVF probe-stats
    measurement, replicated verbatim by their SQL oracles. Norms are
    hoisted OUT of the k-way cross join: dvv once per corpus row, dcc
    once per centroid — the per-pair work is a single decimal fold
    instead of three."""
    from pyspark.sql import Window

    from lakehouse_architecture_spark.functions.vectors import dec_dot

    h = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    wseed = Window.partitionBy("bucket").orderBy("hv", "vec_id")
    seeds = (
        emb.select(
            "vec_id",
            "embedding",
            h.alias("hv"),
            F.pmod(h, F.lit(k)).alias("bucket"),
        )
        .withColumn("rn", F.row_number().over(wseed))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
    )
    corpus = emb.select(
        "vec_id", "embedding", dec_dot("embedding", "embedding").alias("dvv")
    )
    seeds = seeds.select(
        "centroid_id",
        "centroid_vec",
        dec_dot("centroid_vec", "centroid_vec").alias("dcc"),
    )
    cos = dec_dot("embedding", "centroid_vec") / F.sqrt(
        F.col("dvv") * F.col("dcc")
    )
    return corpus.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "embedding", "centroid_id", cos.alias("sim")
    )


KMEANS_ORACLE = """
WITH h AS (
  SELECT vec_id, embedding,
         CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
           AS hv
  FROM embeddings
),
seeds AS (
  SELECT vec_id AS centroid_id, embedding AS centroid_vec
  FROM (SELECT *, hv % 8 AS bucket FROM h)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY hv, vec_id) = 1
),
dots AS (
  SELECT e.vec_id, s.centroid_id,
    CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(s.centroid_vec[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dvc,
    CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dvv,
    CAST(SUM(CAST(CAST(s.centroid_vec[i] AS DOUBLE) * CAST(s.centroid_vec[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dcc
  FROM embeddings e, seeds s,
       UNNEST(generate_series(1, len(e.embedding))) AS t(i)
  GROUP BY e.vec_id, s.centroid_id
),
assign AS (
  SELECT vec_id, centroid_id FROM dots
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY dvc / SQRT(dvv * dcc) DESC, centroid_id
  ) = 1
),
dims AS (
  SELECT a.centroid_id, i AS pos, COUNT(*) AS n_members,
         CAST(ROUND(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,18))), 6)
              AS DOUBLE) / COUNT(*) AS m
  FROM assign a JOIN embeddings e USING (vec_id),
       UNNEST(generate_series(1, len(e.embedding))) AS t(i)
  GROUP BY 1, 2
)
SELECT centroid_id,
       MAX(n_members) AS n_vectors,
       ROUND(SQRT(list_reduce(list(m * m ORDER BY pos), (x, y) -> x + y)), 6)
         AS centroid_norm
FROM dims GROUP BY 1
"""


@query("emb_kmeans_clusters", oracle=KMEANS_ORACLE)
def emb_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd step of k-means over PORTABLY hash-seeded
    centroids — seed pick, nearest-centroid assignment, and centroid
    re-estimation — with every stage exactly replicated by the SQL
    oracle: seeds come from an md5-derived 60-bit integer (not
    xxhash64, which DuckDB can't compute), assignment ranks a
    decimal-exact cosine (bit-identical doubles on both engines, so
    the argmax and its centroid-id tie-break agree), the refined
    per-centroid means use exact decimal sums, and the norm is an
    order-pinned IEEE fold over positions (r8). Output per centroid:
    member count and refined-centroid L2 norm, rounded to 6 decimals
    on BOTH engines from operands that are bit-identical by
    construction — with equal inputs the round is merely a formatting
    step, unlike rounding 1-ulp-divergent inputs (the boundary class
    emb_int8_quantization's docstring describes), so it cannot
    introduce a mismatch here and shields the surface if a future
    edit perturbs the fold by an ulp.

    This makes the k-means step itself driver-checkable; multi-
    iteration refinement (same plan, looped) stays covered by
    tests/test_similarity.py's improvement invariant, and the
    xxhash64-seeded production path by the IVF build/search tests.

    Plan shape at scale: seeds are one narrow projection + a window
    within 8 hash buckets; assignment is a broadcast of 8 centroids
    (never a corpus shuffle); re-estimation aggregates posexploded
    members map-side into k*dim partials."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    wa = Window.partitionBy("vec_id").orderBy(
        F.desc("sim"), F.asc("centroid_id")
    )
    assigned = (
        _md5_seeded_scores(emb)
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "centroid_id")
    )
    # Member counts ride the dims aggregate (every member contributes
    # one row per position, so any position's COUNT is the cluster
    # size) — a separate counts branch would re-run the whole
    # assignment (second corpus scan + crossJoin + window).
    dims = (
        assigned.select("centroid_id", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("centroid_id", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            # ROUND(sum, 6) in exact decimal BEFORE the double cast:
            # per-position sums over junky float32 content exceed 17
            # significant digits, where decimal->double conversion
            # itself diverges between engines (r8 sweep); once the
            # unscaled value fits 2^53 the conversion is exact.
            (
                F.round(F.sum(F.col("x").cast("double").cast(_DEC)), 6)
                .cast("double")
                / F.count(F.lit(1))
            ).alias("m"),
        )
    )
    # ORDER-PINNED norm (r8 full-precision fix): m is bit-identical on
    # both engines (scale-6-rounded decimal sum -> exact double cast
    # -> IEEE division), and the old per-term double->decimal re-cast
    # before summing — which diverged in the last ulp — is replaced by
    # collecting the 64 per-position means, sorting by position, and
    # left-folding m*m as IEEE doubles: every intermediate is then
    # bit-identical by IEEE determinism, no conversion anywhere.
    return dims.groupBy("centroid_id").agg(
        F.max("n_members").alias("n_vectors"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["m"] * s["m"],
                )
            ),
            6,
        ).alias("centroid_norm"),
    )


# IVF pruning, MEASURED (the emb_lsh_candidate_stats pattern): per
# query, how many corpus rows do the probed inverted lists actually
# contain, vs the full corpus a brute-force scan reads. Shares the
# k-means oracle's md5 seeding and decimal-exact assignment so the
# whole measurement is cross-engine checkable; all compared columns are
# exact integers.
IVF_PROBE_STATS_ORACLE = """
WITH h AS (
  SELECT vec_id, embedding,
         CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
           AS hv
  FROM embeddings
),
seeds AS (
  SELECT vec_id AS centroid_id, embedding AS centroid_vec
  FROM (SELECT *, hv % 8 AS bucket FROM h)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY hv, vec_id) = 1
),
dots AS (
  SELECT e.vec_id, s.centroid_id,
    CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(s.centroid_vec[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dvc,
    CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dvv,
    CAST(SUM(CAST(CAST(s.centroid_vec[i] AS DOUBLE) * CAST(s.centroid_vec[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dcc
  FROM embeddings e, seeds s,
       UNNEST(generate_series(1, len(e.embedding))) AS t(i)
  GROUP BY e.vec_id, s.centroid_id
),
assign AS (
  SELECT vec_id, centroid_id FROM dots
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY dvc / SQRT(dvv * dcc) DESC, centroid_id
  ) = 1
),
sizes AS (SELECT centroid_id, COUNT(*) AS n FROM assign GROUP BY 1),
probes AS (
  SELECT vec_id AS query_id, centroid_id FROM dots
  WHERE vec_id < 5
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY dvc / SQRT(dvv * dcc) DESC, centroid_id
  ) <= 2
),
n AS (SELECT COUNT(*) AS n_corpus FROM embeddings)
SELECT p.query_id,
       COUNT(*) AS n_probed_lists,
       CAST(SUM(s.n) AS BIGINT) AS n_probed_rows,
       n.n_corpus
FROM probes p JOIN sizes s USING (centroid_id), n
GROUP BY p.query_id, n.n_corpus
"""


# The IVF SEARCH itself, oracle-checked end to end: probe 2 of 8
# md5-seeded lists per query, exact decimal rerank INSIDE the probed
# lists only, top-5. The xxhash-seeded production twin (emb_knn_ivf)
# stays rows-only because DuckDB cannot compute Spark's xxhash64; this
# variant pins the complete algorithm - seed, assign, probe, rerank,
# top-k tie-break - cross-engine.
IVF_SEARCH_ORACLE = """
WITH h AS (
  SELECT vec_id, embedding,
         CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
           AS hv
  FROM embeddings
),
seeds AS (
  SELECT vec_id AS centroid_id, embedding AS centroid_vec
  FROM (SELECT *, hv % 8 AS bucket FROM h)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY hv, vec_id) = 1
),
dots AS (
  SELECT e.vec_id, s.centroid_id,
    CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(s.centroid_vec[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dvc,
    CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dvv,
    CAST(SUM(CAST(CAST(s.centroid_vec[i] AS DOUBLE) * CAST(s.centroid_vec[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dcc
  FROM embeddings e, seeds s,
       UNNEST(generate_series(1, len(e.embedding))) AS t(i)
  GROUP BY e.vec_id, s.centroid_id
),
assign AS (
  SELECT vec_id, centroid_id FROM dots
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY dvc / SQRT(dvv * dcc) DESC, centroid_id
  ) = 1
),
probes AS (
  SELECT vec_id AS query_id, centroid_id FROM dots
  WHERE vec_id < 5
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY dvc / SQRT(dvv * dcc) DESC, centroid_id
  ) <= 2
),
cands AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assign a USING (centroid_id)
  WHERE a.vec_id != p.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id,
    CAST(SUM(CAST(CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dqe,
    CAST(SUM(CAST(CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dqq,
    CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dee
  FROM cands c
  JOIN embeddings q ON q.vec_id = c.query_id
  JOIN embeddings e ON e.vec_id = c.vec_id,
  UNNEST(generate_series(1, len(e.embedding))) AS t(i)
  GROUP BY c.query_id, c.vec_id
)
SELECT query_id, vec_id,
       ROUND(dqe / SQRT(dqq * dee), 6) AS cosine_sim
FROM scored
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY query_id ORDER BY dqe / SQRT(dqq * dee) DESC, vec_id
) <= 5
"""


@query("emb_knn_ivf_md5", oracle=IVF_SEARCH_ORACLE)
def emb_knn_ivf_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate KNN with the whole algorithm oracle-checked:
    md5-portable seeding, decimal-exact coarse assignment, 2-of-8
    probed lists per query, exact decimal rerank restricted to the
    probed lists, deterministic top-5 (cosine DESC, vec_id ASC). The
    xxhash-seeded production twin (`emb_knn_ivf`) keeps its rows-only
    row; this variant gives the driver a hash-checkable IVF SEARCH so
    the index's probe->rerank semantics, not just its pruning volume
    (`emb_ivf_probe_stats`), are pinned cross-engine."""
    from pyspark.sql import Window

    from lakehouse_architecture_spark.functions.vectors import dec_dot

    emb = load_table(spark, sf_dir, "embeddings")
    scored = _md5_seeded_scores(emb)
    wa = Window.partitionBy("vec_id").orderBy(
        F.desc("sim"), F.asc("centroid_id")
    )
    ranked = scored.withColumn("rn", F.row_number().over(wa))
    assign = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "embedding", "centroid_id"
    )
    probes = (
        ranked.filter((F.col("vec_id") < 5) & (F.col("rn") <= 2))
        .select(F.col("vec_id").alias("query_id"), "centroid_id")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    cands = (
        assign.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(q), "query_id")
    )
    cos = dec_dot("q_vec", "embedding") / F.sqrt(
        dec_dot("q_vec", "q_vec") * dec_dot("embedding", "embedding")
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("vec_id")
    )
    return (
        cands.withColumn("cos_raw", cos)
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 5)
        .select(
            "query_id",
            "vec_id",
            F.round("cos_raw", 6).alias("cosine_sim"),
        )
    )


@query("emb_ivf_probe_stats", oracle=IVF_PROBE_STATS_ORACLE)
def emb_ivf_probe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measures the IVF pruning claim instead of asserting it (the
    ``emb_lsh_candidate_stats`` pattern applied to the other ANN
    index): for each of 5 query vectors probing 2 of 8 inverted lists,
    the number of corpus rows the probed lists contain next to the full
    corpus size a brute-force scan reads — n_probed_rows/n_corpus is
    the fraction of the corpus an IVF search touches (~2/8 when lists
    are balanced; imbalance shows up directly in this table). Seeding
    and assignment are the md5/decimal machinery `emb_kmeans_clusters`
    already pins cross-engine, so the measurement itself is
    oracle-checked with an integer-only compared surface. At 100 TB
    the probed-lists read is a partition-pruned scan (the corpus is
    written partitioned by centroid id); this query quantifies exactly
    how much that pruning saves."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    scored = _md5_seeded_scores(emb)
    wa = Window.partitionBy("vec_id").orderBy(
        F.desc("sim"), F.asc("centroid_id")
    )
    ranked = scored.withColumn("rn", F.row_number().over(wa))
    sizes = (
        ranked.filter(F.col("rn") == 1)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    probes = (
        ranked.filter((F.col("vec_id") < 5) & (F.col("rn") <= 2))
        .select(F.col("vec_id").alias("query_id"), "centroid_id")
    )
    n = emb.agg(F.count(F.lit(1)).alias("n_corpus"))
    return (
        probes.join(sizes, "centroid_id")
        .crossJoin(F.broadcast(n))
        .groupBy("query_id", "n_corpus")
        .agg(
            F.count(F.lit(1)).alias("n_probed_lists"),
            F.sum("n").alias("n_probed_rows"),
        )
        .select("query_id", "n_probed_lists", "n_probed_rows", "n_corpus")
    )


INT8_QUANT_ORACLE = """
WITH prep AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE))))
           AS scale
  FROM embeddings
),
q AS (
  SELECT vec_id, v, scale,
         CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
              ELSE list_transform(v, x -> FLOOR(x / scale * 127 + 0.5))
         END AS qv
  FROM prep
),
err AS (
  SELECT vec_id, scale,
    list_reduce(
      list_transform(generate_series(1, len(v)),
        i -> (v[i] - qv[i] * scale / 127)
             * (v[i] - qv[i] * scale / 127)),
      (x, y) -> x + y) AS errsq,
    list_reduce(
      list_transform(qv,
        x -> CASE WHEN x BETWEEN -127 AND 127 THEN 0 ELSE 1 END),
      (x, y) -> x + y) AS n_clipped
  FROM q
)
SELECT vec_id, scale, SQRT(errsq) AS quant_l2_err,
       CAST(n_clipped AS BIGINT) AS n_clipped
FROM err
"""


@query("emb_int8_quantization", oracle=INT8_QUANT_ORACLE)
def emb_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    4x storage/bandwidth compression a 100 TB vector corpus ships with
    (per-vector absmax scale, q = floor(v/scale*127 + 0.5)) — plus the
    per-vector L2 reconstruction error and clip count that QA the codec.

    All higher-order array functions (transform / zip_with / aggregate):
    one narrow pass, no explode, no shuffle, no Python. FLOOR(x + 0.5)
    instead of ROUND sidesteps engine tie-break differences (half-up vs
    banker's), and the error sum is an ORDER-PINNED left fold of IEEE
    doubles over the fixed 64-dim array (r8 full-precision fix: the
    old double->DECIMAL(30,18) cast per term diverged in the last ulp
    — Spark converts via the double's shortest decimal repr, DuckDB
    via its exact binary expansion, and they round digit 18
    differently for some values; a pinned-order double fold has no
    conversion step at all, so every intermediate is bit-identical by
    IEEE determinism). Output doubles emitted UNROUNDED."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    prep = emb.select(
        "vec_id",
        v.alias("v"),
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))).alias(
            "scale"
        ),
    )
    qv = F.when(
        F.col("scale") == 0,
        F.transform("v", lambda x: F.lit(0.0)),
    ).otherwise(
        F.transform("v", lambda x: F.floor(x / F.col("scale") * 127 + F.lit(0.5)))
    )
    q = prep.select("vec_id", "v", "scale", qv.alias("qv"))
    diff_sq = F.zip_with(
        "v",
        "qv",
        lambda x, qi: (
            (x - qi * F.col("scale") / 127) * (x - qi * F.col("scale") / 127)
        ),
    )
    # 0.0 + x1 == x1 exactly in IEEE, so Spark's seeded left fold and
    # DuckDB's unseeded list_reduce produce the same addition sequence
    errsq = F.aggregate(diff_sq, F.lit(0.0), lambda acc, x: acc + x)
    n_clipped = F.aggregate(
        F.transform(
            "qv",
            lambda qi: F.when((qi >= -127) & (qi <= 127), 0).otherwise(1),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return q.select(
        "vec_id",
        "scale",
        F.sqrt(errsq).alias("quant_l2_err"),
        n_clipped.alias("n_clipped"),
    )


@query(
    "emb_dim_variance_topk",
    oracle="""
WITH d AS (
  SELECT i AS dim,
         COUNT(*) AS n,
         CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS s,
         CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS sq
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
  GROUP BY i
)
SELECT dim, n, ROUND((sq - s * s / n) / n, 6) AS dim_variance
FROM d
ORDER BY (sq - s * s / n) / n DESC, dim
LIMIT 10
""",
)
def emb_dim_variance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 embedding dimensions by population variance — the
    anisotropy probe a representation-quality audit starts with
    (collapsed dims carry no signal; a few dominant dims mean the
    space is effectively low-rank and cosine thresholds are fragile).

    Determinism: per-dim sums go through decimal fixed point
    (order-independent), variance is then a single IEEE expression on
    bit-identical doubles in both engines, ranked UNROUNDED with a dim
    tie-break before the LIMIT, rounded only in the projection — the
    exact discipline of the KNN family. One shuffle keyed by the 64
    dim indexes; partial aggregation makes the exploded stream
    map-side-combined, so the plan is a fixed-size aggregate at any
    corpus scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    d = (
        emb.select(F.posexplode("embedding").alias("i", "x"))
        .groupBy("i")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x.cast(_DEC)).cast("double").alias("s"),
            F.sum((x * x).cast(_DEC)).cast("double").alias("sq"),
        )
    )
    var = (F.col("sq") - F.col("s") * F.col("s") / F.col("n")) / F.col("n")
    return (
        d.orderBy(var.desc(), F.asc("i"))
        .limit(10)
        .select(
            (F.col("i") + 1).alias("dim"),
            "n",
            F.round(var, 6).alias("dim_variance"),
        )
    )


@query(
    "emb_top_pc_power_iteration",
    oracle="""
SELECT COUNT(*) AS n_vectors,
       MIN(len(embedding)) AS dim,
       50 AS n_iters,
       TRUE AS unit_norm_ok,
       TRUE AS residual_ok,
       TRUE AS explains_ge_top_dim
FROM embeddings
""",
)
def emb_top_pc_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component by distributed power iteration
    (operators/pca.py) — a genuinely iterative, non-SQL-expressible
    algorithm, so the oracle is invariant-style (the proven
    events_hll_accuracy_qa pattern): DuckDB recomputes the exact spine
    (corpus size, dimensionality, pinned iteration count) and the
    convergence certificates are genuinely evaluated Spark-side —
    unit-norm component, eigenpair residual ‖Cv − λv‖/λ ≤ 5%, and the
    component explaining at least as much variance as the best single
    axis (power iteration must dominate every coordinate direction).
    A silent non-convergence or a broken update flips a boolean and
    the driver row goes red."""
    from lakehouse_architecture_spark.operators.pca import (
        top_principal_component,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    r = top_principal_component(emb, "embedding", iters=50)
    import numpy as np

    unit_ok = bool(abs(float(np.linalg.norm(r["component"])) - 1.0) < 1e-9)
    res_ok = bool(r["residual"] == r["residual"] and r["residual"] <= 0.05)
    explains_ok = bool(r["eigenvalue"] >= r["top_dim_variance"] * (1 - 1e-9))
    return spark.createDataFrame(
        [
            (
                r["n"],
                r["dim"],
                50,
                unit_ok,
                res_ok,
                explains_ok,
            )
        ],
        "n_vectors long, dim int, n_iters int, unit_norm_ok boolean, "
        "residual_ok boolean, explains_ge_top_dim boolean",
    )


# SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
# cluster the corpus, then search for near-duplicates ONLY within each
# cluster — the O(n^2) pair scan becomes sum(|c|^2), bounded by cluster
# size. The oracle replicates the whole algorithm: the k-means oracle's
# md5 seeding + decimal-exact assignment, then within-cluster decimal
# cosines and the same keep-min-id election, so every count on the
# compared surface is exact cross-engine.
SEMANTIC_DEDUP_ORACLE = """
WITH h AS (
  SELECT vec_id, embedding,
         CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
           AS hv
  FROM embeddings
),
seeds AS (
  SELECT vec_id AS centroid_id, embedding AS centroid_vec
  FROM (SELECT *, hv % 8 AS bucket FROM h)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY hv, vec_id) = 1
),
dots AS (
  SELECT e.vec_id, s.centroid_id,
    CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(s.centroid_vec[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dvc,
    CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dvv,
    CAST(SUM(CAST(CAST(s.centroid_vec[i] AS DOUBLE) * CAST(s.centroid_vec[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dcc
  FROM embeddings e, seeds s,
       UNNEST(generate_series(1, len(e.embedding))) AS t(i)
  GROUP BY e.vec_id, s.centroid_id
),
assign AS (
  SELECT vec_id, centroid_id FROM dots
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY dvc / SQRT(dvv * dcc) DESC, centroid_id
  ) = 1
),
norms AS (
  SELECT vec_id,
    CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS nsq
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
  GROUP BY vec_id
),
cand AS (
  SELECT a1.centroid_id, a1.vec_id AS id_a, a2.vec_id AS id_b,
         e1.embedding AS va, e2.embedding AS vb
  FROM assign a1
  JOIN assign a2 ON a1.centroid_id = a2.centroid_id
                AND a1.vec_id < a2.vec_id
  JOIN embeddings e1 ON e1.vec_id = a1.vec_id
  JOIN embeddings e2 ON e2.vec_id = a2.vec_id
),
pairdot AS (
  SELECT centroid_id, id_a, id_b,
    CAST(SUM(CAST(CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dab
  FROM cand, UNNEST(generate_series(1, len(va))) AS t(i)
  GROUP BY 1, 2, 3
),
dups AS (
  SELECT p.centroid_id, p.id_a, p.id_b
  FROM pairdot p
  JOIN norms na ON na.vec_id = p.id_a
  JOIN norms nb ON nb.vec_id = p.id_b
  WHERE p.dab / SQRT(na.nsq * nb.nsq) >= 0.45
),
sizes AS (SELECT centroid_id, COUNT(*) AS n_vectors FROM assign GROUP BY 1),
agg AS (
  SELECT centroid_id, COUNT(*) AS n_dup_pairs,
         COUNT(DISTINCT id_b) AS n_dropped
  FROM dups GROUP BY 1
)
SELECT s.centroid_id, s.n_vectors,
       COALESCE(a.n_dup_pairs, 0) AS n_dup_pairs,
       COALESCE(a.n_dropped, 0) AS n_dropped,
       s.n_vectors - COALESCE(a.n_dropped, 0) AS n_kept
FROM sizes s LEFT JOIN agg a USING (centroid_id)
"""


@query("emb_semantic_dedup", oracle=SEMANTIC_DEDUP_ORACLE)
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): nearest-centroid clustering over the md5-seeded
    centroids, then cosine near-dup pairs searched ONLY within each
    cluster, with a deterministic keep-min-id election (any vector
    that is the larger id of a >=0.45 pair is dropped). Per-cluster
    report: members, qualifying pairs, dropped, kept — an integer-only
    compared surface over decimal-exact cosines, so both engines agree
    bit-for-bit.

    The scale contract is the whole point (and the paper's): the pair
    stage costs sum(|c|^2) instead of n^2. Here k=8 (the shared
    oracle-checkable seeding); at 100 TB k grows with the corpus
    (SemDeDup uses ~50k) so |c| stays bounded, the pair search runs
    the grouped blocked gemm per (cluster, block-pair) task
    (high-cardinality grouping at production k — no low-cardinality
    key trap; per-task memory bounded by block size), and assignment
    is a broadcast of k centroids, never a corpus shuffle. Global cross-cluster recall is
    measured separately by emb_lsh_candidate_stats' exact twin
    (emb_near_dup_pairs), which this cluster-bucketed plan replaces on
    the 100 TB path."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    from lakehouse_architecture_spark.functions.vectors import dec_dot

    wa = Window.partitionBy("vec_id").orderBy(
        F.desc("sim"), F.asc("centroid_id")
    )
    # Three consumers (both pair sides + the size census) read the
    # assignment; one-slot persisted so it's computed once, not three
    # corpus scans (at 100 TB the assignment is materialized as a
    # table anyway) — and released by the next slot user instead of
    # accumulating across a multi-query session.
    # Shared centroid count: the seeding and the block-sizing divisor
    # below must agree (r16 ADVICE — a literal 8 in one place silently
    # desyncs per-task gemm sizing if k ever changes).
    K = 8
    assigned = one_slot_persist(
        _md5_seeded_scores(emb, k=K)
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "centroid_id"),
        slot="emb-semantic-assignment",
        key=(sf_dir,),
    )
    # Within-cluster pair search (r16, guide §4.2): the former JVM
    # decimal-dot self-join evaluated the 64-dim decimal fold on EVERY
    # within-cluster pair (sum |c|^2 folds — 2.27 s of this query's
    # wall at sf0.1, the dominant stage). Candidates now come from the
    # grouped blocked gemm (group_col=centroid_id restricts the pair
    # space to within-cluster, preserving the SemDeDup sum(|c|^2)
    # contract; BLAS flops + float64 with 1e-6 slack generate a provable
    # SUPERSET of the decimal >= 0.45 set — same argument as
    # emb_near_dup_pairs), and the bit-reproducible decimal cosine
    # re-scores only the tiny survivor set, so the emitted counts are
    # identical to the all-decimal join.
    from lakehouse_architecture_spark.operators.similarity import (
        adaptive_n_blocks,
        estimated_corpus_rows,
        near_dup_candidates_blocked,
    )

    cand = near_dup_candidates_blocked(
        assigned.select("centroid_id", "vec_id", "embedding"),
        threshold=0.45,
        # blocks bound per-task gemm memory by the (balanced) cluster
        # size; parallelism comes from k x grid-cells, so min_blocks
        # stays small (K=8 here; at production k the grid is huge).
        n_blocks=adaptive_n_blocks(
            max(1, estimated_corpus_rows(emb) // K), min_blocks=2
        ),
        group_col="centroid_id",
    )
    a = assigned.select(
        "centroid_id",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        dec_dot("embedding", "embedding").alias("na"),
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        dec_dot("embedding", "embedding").alias("nb"),
    )
    cos = dec_dot("va", "vb") / F.sqrt(F.col("na") * F.col("nb"))
    dups = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .filter(cos >= 0.45)
        .select("centroid_id", "id_a", "id_b")
    )
    sizes = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    agg = dups.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("id_b").alias("n_dropped"),
    )
    return sizes.join(agg, "centroid_id", "left").select(
        "centroid_id",
        "n_vectors",
        F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
        F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        (F.col("n_vectors") - F.coalesce("n_dropped", F.lit(0))).alias(
            "n_kept"
        ),
    )


@query(
    "emb_pq_quantization_qa",
    oracle="""
SELECT COUNT(*) AS n_vectors,
       MAX(len(embedding)) AS dim,
       8 AS n_sub, 16 AS k_per_block,
       MAX(len(embedding)) * 4 AS bytes_raw,
       8 AS bytes_pq,
       TRUE AS mse_below_variance,
       TRUE AS training_improved
FROM embeddings
""",
)
def emb_pq_quantization_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (operators/pq.py, Jégou et al. 2011): 8
    blocks x 16-code L2 codebooks compress 256-byte float32 vectors to
    8 one-byte codes (32x) — the compression tier beyond int8 (4x)
    that lets a 100 TB ANN index live in memory. Training is two Lloyd
    iterations per block (driver-bounded codebooks); ENCODING is a
    pure literal-array projection — one scan, no shuffle.

    The iterative fit has no SQL twin, so the oracle pins the exact
    spine (corpus size, dim, the block/code/byte geometry) and two
    genuinely-evaluated certificates as literal TRUE:

      mse_below_variance -- mean squared reconstruction error under
                            the trained codebooks is strictly below
                            the corpus' summed per-dim variance (the
                            error of the best 1-code quantizer, k=1 at
                            its optimum — PQ with 16 codes/block must
                            beat predicting the mean);
      training_improved  -- total squared error after 2 Lloyd
                            iterations <= the seed codebooks' error (a
                            frozen or diverging refine flips it).
    """
    from lakehouse_architecture_spark.operators.pq import pq_encode, pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    # r16 (guide §2.4/§1.2): seeds train once and feed the refined fit
    # (skips a duplicate md5 top-k scan), and the seed-vs-trained
    # reconstruction errors are two projections over the SAME rows, so
    # one fused scan aggregates both (was two separate encode jobs).
    seeds_only = pq_train(emb, "embedding", "vec_id", iters=0)
    trained = pq_train(
        emb, "embedding", "vec_id", iters=2, seed_codebooks=seeds_only
    )
    # select the one column the Arrow encoder needs before calling it
    # (guide §4.2 — an opaque function ships every column it is handed)
    enc = pq_encode(emb.select("embedding"), "embedding", seeds_only).select(
        "embedding", F.col("pq_sq_err").alias("seed_sq_err")
    )
    s = (
        pq_encode(enc, "embedding", trained)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("seed_sq_err").alias("e0"),
            F.sum("pq_sq_err").alias("e"),
            F.max(F.size("embedding")).alias("dim"),
        )
        .first()
    )
    err0 = s.e0
    var_sum = (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.var_pop(F.col("x").cast("double")).alias("v"))
        .agg(F.sum("v").alias("tv"))
        .first()
        .tv
    )
    mse_ok = bool(s.e / s.n < var_sum)
    improved = bool(s.e <= err0)
    return spark.createDataFrame(
        [(s.n, s.dim, 8, 16, s.dim * 4, 8, mse_ok, improved)],
        "n_vectors long, dim int, n_sub int, k_per_block int, "
        "bytes_raw int, bytes_pq int, mse_below_variance boolean, "
        "training_improved boolean",
    )

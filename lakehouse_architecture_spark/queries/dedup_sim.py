"""Near-duplicate detection and similarity-search queries: MinHash+LSH,
SimHash, n-gram Jaccard, embedding near-dup, LSH ANN.

The MinHash/SimHash oracles replicate the SAME algorithm in SQL (not just
the answer): identical md5-derived hash families, so the two engines agree
on candidate generation — including LSH's recall behavior — bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_spark.operators.caching import one_slot_persist
from lakehouse_architecture_spark.operators.minhash import (
    candidate_pairs,
    lsh_band_keys,
    minhash_lsh_dedupe,
    minhash_signatures,
    shingles,
)
from lakehouse_architecture_spark.operators.simhash import (
    simhash_fingerprints,
    simhash_near_pairs,
)
from lakehouse_architecture_spark.operators.similarity import knn_lsh
from lakehouse_architecture_spark.queries.registry import query
from lakehouse_architecture_spark.queries.text import SQL_NORM
from lakehouse_architecture_spark.sources.tables import load_table

# Shared oracle CTEs: normalized tokens -> distinct 3-shingles per doc.
_SHINGLES_CTE = f"""
toks AS (
  SELECT doc_id, str_split({SQL_NORM}, ' ') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id AS doc, s AS shingle
  FROM toks, UNNEST(
    CASE WHEN len(t) >= 3
         THEN list_transform(generate_series(1, len(t) - 2),
                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         ELSE [array_to_string(t, ' ')] END
  ) AS u(s)
)
"""

# Document-frequency cap (stop-shingle skew mitigation) — mirrored on
# both engines so results agree by construction at any scale factor.
MAX_DOC_FREQ = 100
_SHC_CTE = f"""
shc AS (
  SELECT doc, shingle FROM sh
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {MAX_DOC_FREQ}
)
"""

# Integer min-hash family, mirroring operators/minhash.py exactly: one
# md5 per seed group of 4 signatures, each signature a 28-bit slice
# (7 hex chars) of the digest; r=2 band keys pack two slices into one
# collision-free BIGINT (sig_lo * 2^28 + sig_hi).
_SIGS_SQL = ", ".join(
    f"MIN(CAST(('0x' || substr(md5('{i // 4}:' || shingle), {7 * (i % 4) + 1}, 7))"
    f" AS BIGINT)) AS sig_{i}"
    for i in range(8)
)
_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc, {b} AS band, sig_{2*b} * {1 << 28} + sig_{2*b+1} AS band_key FROM sigs"
    for b in range(4)
)

MINHASH_ORACLE = f"""
WITH {_SHINGLES_CTE},
{_SHC_CTE},
sigs AS (SELECT doc, {_SIGS_SQL} FROM sh GROUP BY doc),
bands AS ({_BANDS_SQL}),
cands AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc < b.doc
),
sizes AS (SELECT doc, COUNT(*) AS n FROM shc GROUP BY doc),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(sb.shingle) AS n_common
  FROM cands c
  JOIN shc sa ON sa.doc = c.doc_a
  LEFT JOIN shc sb ON sb.doc = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       ROUND(CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes za ON za.doc = i.doc_a
JOIN sizes zb ON zb.doc = i.doc_b
WHERE CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common) >= 0.3
"""


@query("minhash_lsh_near_dups", oracle=MINHASH_ORACLE)
def minhash_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8 hashes) + LSH(4 bands of 2) candidates, exact-Jaccard
    verified at >= 0.3 (operators/minhash.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_dedupe(
        docs,
        "text",
        "doc_id",
        threshold=0.3,
        num_hashes=8,
        band_size=2,
        max_doc_freq=MAX_DOC_FREQ,
        cache_key=(sf_dir, "documents"),
    )


@query(
    "minhash_signatures_sample",
    oracle=f"""
WITH {_SHINGLES_CTE},
sigs AS (SELECT doc, {_SIGS_SQL} FROM sh GROUP BY doc)
SELECT doc AS doc_id, sig_0, sig_3, sig_7 FROM sigs WHERE doc < 50
""",
)
def minhash_signatures_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature matrix spot-check (3 of the 8 signature columns)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    sigs = minhash_signatures(shingles(docs, "text", "doc_id"), 8)
    return sigs.select(F.col("doc").alias("doc_id"), "sig_0", "sig_3", "sig_7")


# Estimator-accuracy QA in the events_hll_accuracy_qa tradition: per
# LSH candidate pair, the signature-agreement count whose expectation
# is 8 * Jaccard, next to the exact (capped) intersection triple that
# determines true Jaccard — every compared column an exact integer, so
# the row set pins the estimator's behavior cross-engine without any
# float surface.
MINHASH_QA_ORACLE = f"""
WITH {_SHINGLES_CTE},
{_SHC_CTE},
sigs AS (SELECT doc, {_SIGS_SQL} FROM sh GROUP BY doc),
bands AS ({_BANDS_SQL}),
cands AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc < b.doc
),
m AS (
  SELECT c.doc_a, c.doc_b,
         {" + ".join(f"(CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END)"
                     for i in range(8))} AS n_matching_sigs
  FROM cands c
  JOIN sigs a ON a.doc = c.doc_a
  JOIN sigs b ON b.doc = c.doc_b
),
sizes AS (SELECT doc, COUNT(*) AS n FROM shc GROUP BY doc),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(sb.shingle) AS n_common
  FROM cands c
  JOIN shc sa ON sa.doc = c.doc_a
  LEFT JOIN shc sb ON sb.doc = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT m.doc_a, m.doc_b, m.n_matching_sigs,
       i.n_common, za.n AS n_a, zb.n AS n_b
FROM m
JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
JOIN sizes za ON za.doc = m.doc_a
JOIN sizes zb ON zb.doc = m.doc_b
"""


@query("minhash_estimate_qa", oracle=MINHASH_QA_ORACLE)
def minhash_estimate_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-accuracy QA (the sketch-QA companion pattern
    `events_hll_accuracy_qa` established): for every LSH candidate
    pair, the number of agreeing signatures — the MinHash estimate of
    Jaccard is n_matching_sigs/8, E[estimate] = J by the min-wise
    property — beside the exact capped intersection triple
    (n_common, n_a, n_b) that determines true Jaccard. All compared
    columns are exact integers; consumers derive estimate error as
    |matches/8 - n_common/(n_a+n_b-n_common)|. Plan: the signature and
    band machinery is the near-dups pipeline's (map-side sigs, one
    bucket shuffle); the exact triple is two array joins over the
    capped gram relation — candidate pairs only, never all pairs."""
    from lakehouse_architecture_spark.operators.minhash import (
        capped_gram_arrays,
        candidate_pairs,
        gram_arrays,
        lsh_band_keys,
        minhash_signatures_from_grams,
    )

    docs = load_table(spark, sf_dir, "documents")
    # one-slot persisted (operators/caching): the gram relation feeds
    # the signature projection and the capped verify arrays; the slot
    # is SHARED with minhash_recall_curve (same logical relation, same
    # key), so consecutive runs stay warm while staying bounded
    g = one_slot_persist(
        gram_arrays(docs, "text", "doc_id"),
        slot="dedup-sim-doc-grams",
        key=(sf_dir,),
    )
    sigs = minhash_signatures_from_grams(g, 8)
    pairs = candidate_pairs(lsh_band_keys(sigs, 8, 2))
    sa = sigs.select(
        F.col("doc").alias("doc_a"),
        *[F.col(f"sig_{i}").alias(f"a_{i}") for i in range(8)],
    )
    sb = sigs.select(
        F.col("doc").alias("doc_b"),
        *[F.col(f"sig_{i}").alias(f"b_{i}") for i in range(8)],
    )
    matches = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(8)
    )
    gv = one_slot_persist(
        capped_gram_arrays(g, MAX_DOC_FREQ),
        slot="dedup-sim-doc-grams-capped",
        key=(sf_dir, MAX_DOC_FREQ),
    )
    ga = gv.select(F.col("doc").alias("doc_a"), F.col("grams").alias("ga")).hint(
        "shuffle_hash"
    )
    gb = gv.select(F.col("doc").alias("doc_b"), F.col("grams").alias("gb")).hint(
        "shuffle_hash"
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_matching_sigs", matches)
        .select("doc_a", "doc_b", "n_matching_sigs")
        .join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_matching_sigs",
            F.size(F.array_intersect("ga", "gb")).cast("long").alias("n_common"),
            F.size("ga").cast("long").alias("n_a"),
            F.size("gb").cast("long").alias("n_b"),
        )
    )


_SIMHASH_CTE = f"""
toks AS (
  SELECT doc_id, str_split({SQL_NORM}, ' ') AS t FROM documents
),
dtok AS (SELECT DISTINCT doc_id AS doc, tok FROM toks, UNNEST(t) AS u(tok)),
hashed AS (SELECT doc, md5(tok) AS h FROM dtok),
bits AS (
  SELECT doc, h, i AS bit,
         ((strpos('0123456789abcdef', substr(h, (i // 4) + 1, 1)) - 1)
          >> (3 - (i % 4))) & 1 AS b
  FROM hashed, UNNEST(generate_series(0, 15)) AS g(i)
),
votes AS (
  SELECT doc, bit,
         CASE WHEN SUM(2 * b - 1) > 0 THEN 1 ELSE 0 END AS bit_val
  FROM bits GROUP BY doc, bit
),
fp AS (
  SELECT doc, CAST(SUM(bit_val * (1 << bit)) AS BIGINT) AS simhash
  FROM votes GROUP BY doc
)
"""


@query(
    "simhash_fingerprints",
    oracle=f"WITH {_SIMHASH_CTE} SELECT doc AS doc_id, simhash FROM fp",
)
def simhash_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document (operators/simhash.py)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = simhash_fingerprints(docs, "text", "doc_id")
    return fp.select(F.col("doc").alias("doc_id"), "simhash")


@query(
    "simhash_near_pairs",
    oracle=f"""
WITH {_SIMHASH_CTE},
seg AS (
  SELECT doc, simhash, 0 AS seg, simhash % 256 AS key FROM fp
  UNION ALL
  SELECT doc, simhash, 1 AS seg, simhash // 256 AS key FROM fp
),
cands AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM seg a JOIN seg b
    ON a.seg = b.seg AND a.key = b.key AND a.doc < b.doc
)
SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
FROM cands WHERE bit_count(xor(sh_a, sh_b)) <= 3
""",
)
def simhash_near_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs within Hamming distance 3 (pigeonhole candidate
    generation on fingerprint halves)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(
        docs, "text", "doc_id", max_hamming=3,
        cache_key=(sf_dir, "documents"),
    )


EMB_NEAR_DUP_ORACLE = """
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.embedding AS va, b.embedding AS vb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
),
dots AS (
  SELECT id_a, id_b,
    CAST(SUM(CAST(CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dot,
    CAST(SUM(CAST(CAST(va[i] AS DOUBLE) * CAST(va[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS na,
    CAST(SUM(CAST(CAST(vb[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS nb
  FROM pairs, UNNEST(generate_series(1, len(va))) AS t(i)
  GROUP BY id_a, id_b
)
SELECT id_a, id_b, ROUND(dot / SQRT(na * nb), 6) AS cosine_sim
FROM dots
WHERE dot / SQRT(na * nb) >= 0.45
"""


@query("emb_near_dup_pairs", oracle=EMB_NEAR_DUP_ORACLE)
def emb_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.45), exact, via
    blocked-gemm candidate generation
    (operators/similarity.near_dup_candidates_blocked) — O(n^2) flops
    but O((n/B)^2) memory per task and no quadratic relation, the
    shape exact all-pairs takes at 100 TB — followed by a
    bit-reproducible decimal-fold re-score of the tiny surviving
    candidate set for oracle parity. The block count is corpus-size
    adaptive (operators/similarity.adaptive_n_blocks).

    r16 measured: the former small-corpus JVM branch (codegen'd
    nested-loop pair join + unrolled-dot prefilter) loses to the gemm
    even at 2k rows once the Python worker fleet is warm (interleaved
    A/B, sf0.1: JVM 3.19 s min vs gemm 1.83 s — BLAS's per-flop edge
    beats the avoided fork cost, which lands once per fleet and in the
    untimed warmup under the bench methodology). Branch removed; the
    sub-quadratic scale twins remain ``emb_knn_lsh`` / ``emb_knn_ivf``.
    """
    from lakehouse_architecture_spark.functions.vectors import dec_dot
    from lakehouse_architecture_spark.operators.similarity import (
        adaptive_n_blocks,
        estimated_corpus_rows,
        near_dup_candidates_blocked,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        dec_dot("embedding", "embedding").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        dec_dot("embedding", "embedding").alias("nb"),
    )
    cos = dec_dot("va", "vb") / F.sqrt(F.col("na") * F.col("nb"))
    cand_ids = near_dup_candidates_blocked(
        emb,
        threshold=0.45,
        n_blocks=adaptive_n_blocks(estimated_corpus_rows(emb)),
    )
    return (
        cand_ids.join(a, "id_a")
        .join(b, "id_b")
        .filter(cos >= 0.45)
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine_sim"))
    )


# The LSH oracle replicates the ENTIRE algorithm in SQL: the same
# md5-derived hyperplane components (operators/similarity.py:24-27,
# int(md5('p:j')[:12],16)/2^47 - 1 — exact in double), the same sign
# buckets, the same bucket join and cosine re-rank. Approximation and
# all, the two engines agree bit-for-bit after round(6).
KNN_LSH_ORACLE = """
WITH planes AS (
  SELECT p, j,
    CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 12)) AS BIGINT)
      / 140737488355328.0 - 1.0 AS w
  FROM generate_series(0, 3) AS gp(p), generate_series(0, 63) AS gj(j)
),
dots AS (
  SELECT e.vec_id, pl.p, SUM(CAST(e.embedding[pl.j + 1] AS DOUBLE) * pl.w) AS d
  FROM embeddings e, planes pl GROUP BY e.vec_id, pl.p
),
buckets AS (
  SELECT vec_id, CAST(SUM(CASE WHEN d > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id
),
norms AS (
  SELECT vec_id, SUM(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)) AS nsq
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
  GROUP BY vec_id
),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         qe.embedding AS q_emb, ce.embedding AS c_emb
  FROM buckets q
  JOIN buckets c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
  JOIN embeddings qe ON qe.vec_id = q.vec_id
  JOIN embeddings ce ON ce.vec_id = c.vec_id
  WHERE q.vec_id < 5
),
pair_dots AS (
  SELECT query_id, vec_id,
         SUM(CAST(c_emb[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE)) AS d
  FROM cand, UNNEST(generate_series(1, len(c_emb))) AS t(i)
  GROUP BY query_id, vec_id
),
scored AS (
  SELECT p.query_id, p.vec_id, p.d / SQRT(nc.nsq * nq.nsq) AS cos
  FROM pair_dots p
  JOIN norms nc ON nc.vec_id = p.vec_id
  JOIN norms nq ON nq.vec_id = p.query_id
)
SELECT query_id, vec_id, ROUND(cos, 6) AS cosine_sim
FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) <= 5
"""


@query("emb_knn_lsh", oracle=KNN_LSH_ORACLE)
def emb_knn_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate KNN for 5 query vectors. The oracle
    replays the identical deterministic hyperplane family in SQL, so
    even the LSH recall behavior is cross-engine checked; recall vs
    brute force is additionally asserted in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    out = knn_lsh(emb, queries_df, dim=64, k=5, num_planes=4)
    return out.select(
        "query_id", "vec_id", F.round("cosine_sim", 6).alias("cosine_sim")
    )


# Invariant-style oracle (the events_hll_accuracy_qa pattern): the
# neighbor SET of hash-seeded IVF is engine-specific, so the compared
# surface is the structural contract instead — 5 queries in, a full
# k=5 result list per query out, and measured recall vs the exact
# brute-force top-5 at or above the floor. n_queries / n_results are
# genuine Spark-side counts the oracle recomputes/derives; the recall
# boolean is genuinely measured on Spark (0.6 at the production
# n_probe=4/16 pruning dial at sf0.01, floor pinned at 0.5) and
# literal-TRUE on DuckDB, so estimator drift FAILS the driver hash.
IVF_RECALL_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(COUNT(*) * 5 AS BIGINT) AS n_results,
       TRUE AS recall_ge_half
FROM embeddings WHERE vec_id < 5
"""


@query("emb_knn_ivf", oracle=IVF_RECALL_ORACLE)
def emb_knn_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate KNN (coarse quantizer + probed inverted lists) for
    5 query vectors — the scale path for ANN, driver-checked through its
    structural+recall invariants (full k results per query; recall@5 vs
    exact brute force >= 0.5, measured 0.6 at n_probe=4 of 16 lists).
    The exact neighbor lists are oracle-checked end-to-end by the
    md5-seeded twin ``emb_knn_ivf_md5``; per-list pruning is measured by
    ``emb_ivf_probe_stats``; this query pins the production hash-seeded
    regime so no registry row is ever rows-only. NOTE: as the QA
    contract it deliberately runs the exact brute-force reference too —
    production ANN calls ``operators.similarity.knn_ivf`` directly and
    never pays that cost."""
    from lakehouse_architecture_spark.operators.similarity import (
        knn_bruteforce,
        knn_ivf,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    ivf = knn_ivf(
        emb, queries_df, n_centroids=16, n_probe=4, k=5
    ).select("query_id", "vec_id")
    exact = knn_bruteforce(emb, queries_df, k=5).select(
        "query_id", "vec_id"
    )
    hits = exact.join(ivf, ["query_id", "vec_id"], "left_semi")
    return (
        ivf.agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_results"),
        )
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
        .select(
            "n_queries",
            "n_results",
            (F.col("n_hits") * 2 >= F.col("n_queries") * 5).alias(
                "recall_ge_half"
            ),
        )
    )


NGRAM_JACCARD_ORACLE = f"""
WITH {_SHINGLES_CTE},
{_SHC_CTE},
sizes AS (SELECT doc, COUNT(*) AS n FROM shc GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT doc_a, doc_b,
  ROUND(CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common), 6) AS jaccard
FROM inter
JOIN sizes za ON za.doc = doc_a
JOIN sizes zb ON zb.doc = doc_b
WHERE CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) >= 0.3
"""


@query("docs_ngram_jaccard_pairs", oracle=NGRAM_JACCARD_ORACLE)
def docs_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (threshold 0.3) via the
    inverted-index shingle join — the exhaustive ground truth that
    minhash_lsh_near_dups approximates (operators/minhash.py)."""
    from lakehouse_architecture_spark.operators.minhash import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.3, max_doc_freq=MAX_DOC_FREQ,
        cache_key=(sf_dir, "documents"),
    )


# Banded sign-LSH over embeddings: 12 bands x 4 sign bits (dims 1..48).
# Band/bit counts are the recall/cost dial: at the weak cos>=0.45
# threshold this setting measured recall 1.0 with ~46% of the all-pairs
# candidate volume on the sf0.01 corpus; at the cos>=0.9 regimes real
# embedding near-dups live in, the same scheme prunes candidates by
# orders of magnitude (per-band match prob p^4 with p = 1 - theta/pi).
_EMB_LSH_BANDS = 12
_EMB_LSH_BAND_BITS = 4


def _band_key_sql(band: int, bits: int = _EMB_LSH_BAND_BITS) -> str:
    terms = [
        f"(CASE WHEN embedding[{band * bits + i + 1}] >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    ]
    return " + ".join(terms)


def _lsh_verified_pairs(
    emb: DataFrame, threshold: float, n_bands: int, band_bits: int
) -> DataFrame:
    """Shared sign-LSH near-dup pipeline: banded candidates, then a
    two-phase verify — a cheap double-fold cosine over PRE-NORMALIZED
    vectors (unit vectors computed once per corpus row, so the per-pair
    work is a single 64-mult fold — no norms, no sqrt per pair) prunes
    the candidate set; the expensive order-independent decimal fold
    re-scores ONLY the prefilter survivors for oracle parity.

    Reworked r5: decimal math is fully DEFERRED to survivors — the old
    shape ran an interpreted BigDecimal self-dot for every corpus row
    up front; now per-row work is double-only and the survivor set (a
    handful of rows) pays the three decimal folds. At sf0.1 the two
    shapes measure within noise of each other (2k vectors — candidate
    generation and scheduling dominate), but at a real corpus size the
    removed per-row decimal fold is the part that scaled with n. An
    unrolled fixed-dimension dot (element_at over the raw columns) was
    ALSO measured here and is ~20%% SLOWER than the zip_with fold in
    this query — the 3 x 64-term expressions blow past codegen limits;
    don't "optimize" it back in. The 1e-6 prefilter margin >> the
    double-vs-decimal fold divergence (~1e-15 relative), so no true
    >= threshold pair can be dropped."""
    from lakehouse_architecture_spark.functions.vectors import dec_dot, dot
    from lakehouse_architecture_spark.operators.similarity import (
        sign_lsh_candidates,
    )

    cands = sign_lsh_candidates(emb, n_bands, band_bits)
    norm = F.sqrt(dot("embedding", "embedding"))
    unit = F.transform("embedding", lambda x: x.cast("double") / norm)
    ua = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        unit.alias("ua"),
    )
    ub = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        unit.alias("ub"),
    )
    pre = (
        cands.join(ua, "id_a")
        .join(ub, "id_b")
        .filter(dot("ua", "ub") >= threshold - 1e-6)
        .select("id_a", "id_b", "va", "vb")
    )
    cos_exact = dec_dot("va", "vb") / F.sqrt(
        dec_dot("va", "va") * dec_dot("vb", "vb")
    )
    return (
        pre.withColumn("cos_raw", cos_exact)
        .filter(F.col("cos_raw") >= threshold)
        .select(
            "id_a", "id_b", F.round(F.col("cos_raw"), 6).alias("cosine_sim")
        )
    )


EMB_NEAR_DUP_LSH_STRICT_ORACLE = f"""
WITH bands AS (
  {" UNION ALL ".join(
      f"SELECT vec_id, {b} AS band, {_band_key_sql(b, 8)} AS key"
      " FROM embeddings"
      for b in range(8)
  )}
),
cands AS (
  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
  FROM bands a JOIN bands c
    ON a.band = c.band AND a.key = c.key AND a.vec_id < c.vec_id
),
dots AS (
  SELECT id_a, id_b,
    CAST(SUM(CAST(CAST(va.embedding[i] AS DOUBLE) * CAST(vb.embedding[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS dot,
    CAST(SUM(CAST(CAST(va.embedding[i] AS DOUBLE) * CAST(va.embedding[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS na,
    CAST(SUM(CAST(CAST(vb.embedding[i] AS DOUBLE) * CAST(vb.embedding[i] AS DOUBLE) AS DECIMAL(30,18))) AS DOUBLE) AS nb
  FROM cands
  JOIN embeddings va ON va.vec_id = id_a
  JOIN embeddings vb ON vb.vec_id = id_b,
  UNNEST(generate_series(1, len(va.embedding))) AS t(i)
  GROUP BY id_a, id_b
)
SELECT id_a, id_b, ROUND(dot / SQRT(na * nb), 6) AS cosine_sim
FROM dots
WHERE dot / SQRT(na * nb) >= 0.8
"""


@query("emb_near_dup_lsh_strict", oracle=EMB_NEAR_DUP_LSH_STRICT_ORACLE)
def emb_near_dup_lsh_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION sign-LSH regime: cos>=0.8 with 8 bands x 8 sign
    bits — the configuration real embedding near-dup corpora run, where
    random near-orthogonal pairs survive a band with ~(1/2)^8 so the
    candidate set collapses to a few percent of n(n-1)/2 (3.1% measured
    cross-engine by ``emb_lsh_candidate_stats``), while a true cos>=0.85
    pair still matches some band with probability ~0.85. Recall on
    planted high-cosine dups is pinned in tests/test_similarity.py.

    The synthetic test corpus contains NO pairs above cos 0.61 by
    construction, so the result set is empty at test SF — which is the
    realistic production answer ("no near-dups at the strict
    threshold") and exactly what the driver's oracle verifies; the
    bench row measures the production plan's cost: candidate
    generation at ~3% of n^2 plus a verify over that small survivor
    set.

    Regime-mismatch lesson (from the retired ``emb_near_dup_lsh``
    negative example, a loose cos>=0.45 / 12x4 twin carried r3-r10):
    sign-LSH pruning collapses when the threshold sits in the bulk of
    the cosine distribution — at 0.45 on near-orthogonal synthetic
    vectors a band matches with probability ~(1/2)^4, so candidates
    prune only ~2x and the exact all-pairs scan is FASTER. Size bands
    to the threshold (``emb_lsh_candidate_stats`` measures both
    configurations' candidate ratios cross-engine); below ~cos 0.6,
    use the exact path or MinHash over text shingles instead."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _lsh_verified_pairs(emb, 0.8, 8, 8)


def _lsh_cand_count_sql(n_bands: int, bits: int) -> str:
    bands_sql = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, {_band_key_sql(b, bits)} AS key"
        " FROM embeddings"
        for b in range(n_bands)
    )
    return f"""
  SELECT COUNT(*) AS n_cand_pairs FROM (
    SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
    FROM ({bands_sql}) a JOIN ({bands_sql}) c
      ON a.band = c.band AND a.key = c.key AND a.vec_id < c.vec_id)
"""


LSH_CAND_STATS_ORACLE = f"""
WITH n AS (SELECT COUNT(*) AS n_vectors FROM embeddings),
loose AS ({_lsh_cand_count_sql(_EMB_LSH_BANDS, _EMB_LSH_BAND_BITS)}),
strict AS ({_lsh_cand_count_sql(8, 8)})
SELECT 'bands12x4_loose' AS config, n.n_vectors, loose.n_cand_pairs,
       n.n_vectors * (n.n_vectors - 1) // 2 AS n_total_pairs,
       CAST(loose.n_cand_pairs AS DOUBLE)
         / (n.n_vectors * (n.n_vectors - 1) // 2) AS cand_ratio
FROM n, loose
UNION ALL
SELECT 'bands8x8_strict', n.n_vectors, strict.n_cand_pairs,
       n.n_vectors * (n.n_vectors - 1) // 2,
       CAST(strict.n_cand_pairs AS DOUBLE)
         / (n.n_vectors * (n.n_vectors - 1) // 2)
FROM n, strict
"""


@query("emb_lsh_candidate_stats", oracle=LSH_CAND_STATS_ORACLE)
def emb_lsh_candidate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measures the sub-quadratic claim instead of asserting it: the
    candidate-pair volume of two sign-LSH configurations as a fraction
    of all n(n-1)/2 pairs, cross-engine checked.

    - ``bands12x4_loose`` (12 bands x 4 bits) is the NEGATIVE example:
      sized for a weak cos>=0.45 regime, it prunes only ~2x there by
      design — the measured evidence behind retiring the loose
      ``emb_near_dup_lsh`` query (r11) and behind the rule that bands
      must be sized to the threshold;
    - ``bands8x8_strict`` is the high-threshold config (8 bands x 8
      bits) for the cos>=0.85 regime real embedding near-dups live in:
      random near-orthogonal pairs survive a band with ~(1/2)^8, so
      candidate volume collapses to a few percent of n^2 (the measured
      ratio in this row), while a true cos>=0.85 pair still matches
      some band with probability ~0.85 (0.82^8 per band across 8
      bands; recall on planted dups is pinned in
      tests/test_similarity.py)."""
    from lakehouse_architecture_spark.operators.similarity import (
        sign_lsh_candidates,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.agg(F.count(F.lit(1)).alias("n_vectors"))

    def cfg(name: str, n_bands: int, bits: int) -> DataFrame:
        c = sign_lsh_candidates(emb, n_bands, bits).agg(
            F.count(F.lit(1)).alias("n_cand_pairs")
        )
        total = F.expr("n_vectors * (n_vectors - 1) div 2")
        return n.crossJoin(c).select(
            F.lit(name).alias("config"),
            "n_vectors",
            "n_cand_pairs",
            total.alias("n_total_pairs"),
            (F.col("n_cand_pairs").cast("double") / total).alias("cand_ratio"),
        )

    return cfg("bands12x4_loose", _EMB_LSH_BANDS, _EMB_LSH_BAND_BITS).unionByName(
        cfg("bands8x8_strict", 8, 8)
    )


DOC_NOVELTY_ORACLE = f"""
WITH {_SHINGLES_CTE},
dfreq AS (
  SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1
)
SELECT s.doc AS doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique_shingles,
       ROUND(CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS novelty
FROM sh s JOIN dfreq d USING (shingle)
GROUP BY s.doc
"""


@query("docs_novelty_score", oracle=DOC_NOVELTY_ORACLE)
def docs_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct 3-shingles
    that occur in NO other document — the continuous overlap score
    curation pipelines threshold on between "exact dup" and "unique"
    (low novelty = templated/boilerplate-heavy; 1.0 = fully original).

    Plan: one groupBy on shingle for corpus document frequency, one join
    back on shingle (both sides partial-aggregated, shuffle on the
    shingle key only), final per-doc aggregate. The same inverted-index
    topology as exact n-gram Jaccard, but linear in corpus shingles —
    no pair generation at all, so it scales past where pairwise dedup
    gets expensive."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs, "text", "doc_id")
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    uniq = F.when(F.col("df") == 1, 1).otherwise(0)
    return (
        sh.join(dfreq, "shingle")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(uniq).cast("long").alias("n_unique_shingles"),
            F.round(
                F.sum(uniq).cast("double") / F.count(F.lit(1)), 6
            ).alias("novelty"),
        )
    )


# New batch = doc_id % 10 == 0 (a tenth of the table), corpus = the
# rest — simulates a daily ingest checked against the accumulated
# corpus. Signatures, bands and the DF cap are computed over ALL docs
# (document frequency is corpus-wide), exactly as the operator does
# with its union stop list.
INCREMENTAL_ORACLE = f"""
WITH {_SHINGLES_CTE},
{_SHC_CTE},
sigs AS (SELECT doc, {_SIGS_SQL} FROM sh GROUP BY doc),
bands AS ({_BANDS_SQL}),
cands AS (
  SELECT DISTINCT a.doc AS new_doc, b.doc AS corpus_doc
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc % 10 = 0 AND b.doc % 10 != 0
),
sizes AS (SELECT doc, COUNT(*) AS n FROM shc GROUP BY doc),
inter AS (
  SELECT c.new_doc, c.corpus_doc, COUNT(sb.shingle) AS n_common
  FROM cands c
  JOIN shc sa ON sa.doc = c.new_doc
  LEFT JOIN shc sb ON sb.doc = c.corpus_doc AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT i.new_doc, i.corpus_doc,
       ROUND(CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common), 6)
         AS jaccard
FROM inter i
JOIN sizes za ON za.doc = i.new_doc
JOIN sizes zb ON zb.doc = i.corpus_doc
WHERE CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common) >= 0.3
"""


@query("docs_incremental_near_dups", oracle=INCREMENTAL_ORACLE)
def docs_incremental_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: near-dup pairs between a simulated NEW batch
    (doc_id % 10 == 0) and the EXISTING corpus (the rest) via the
    asymmetric band-key join (operators/minhash.minhash_lsh_incremental)
    — the daily-ingest production shape, whose cost scales with the
    batch, never corpus^2."""
    from lakehouse_architecture_spark.operators.minhash import (
        minhash_lsh_incremental,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return minhash_lsh_incremental(
        new,
        corpus,
        "text",
        "doc_id",
        threshold=0.3,
        max_doc_freq=MAX_DOC_FREQ,
        cache_key=(sf_dir, "mod10-split"),
    )


# Session-lived corpus indexes keyed by sf_dir: the indexed query
# demonstrates the persist-once, check-per-batch production regime, so
# repeated invocations (the bench's warmup+3 runs, a long-lived driver)
# must NOT rebuild the corpus side — that's the entire point of the
# index.
_CORPUS_INDEXES: dict = {}


def _corpus_index_for(spark: SparkSession, sf_dir: str):
    from lakehouse_architecture_spark.operators.minhash import (
        build_minhash_corpus_index,
    )

    # Keyed by (session weakref, sf_dir), not sf_dir alone: test
    # harnesses stop and recreate SparkSessions within one process, and
    # an index persisted under a dead session fails opaquely on reuse
    # (r5 ADVICE). A new session object never matches an old key, so it
    # always rebuilds; entries whose session has been garbage-collected
    # are swept here (a stopped-but-still-referenced session's entry
    # lingers until GC — bounded by the number of sessions the process
    # ever holds alive at once).
    for k in [k for k in _CORPUS_INDEXES if k[0]() is None]:
        del _CORPUS_INDEXES[k]
    import weakref

    key = (weakref.ref(spark), sf_dir)
    live = _CORPUS_INDEXES.get(key)
    if live is None:
        corpus = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 != 0
        )
        live = build_minhash_corpus_index(corpus, "text", "doc_id").persist()
        _CORPUS_INDEXES[key] = live
    return live


@query("docs_incremental_near_dups_indexed", oracle=INCREMENTAL_ORACLE)
def docs_incremental_near_dups_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The AMORTIZED incremental-dedup path: the same batch-vs-corpus
    near-dup check as docs_incremental_near_dups, but run through a
    prebuilt MinHashCorpusIndex (band keys + gram arrays + shingle
    document frequencies) — the persist-once, check-per-batch daily
    production shape: the index is built and persisted ONCE per
    session per sf_dir, so repeated batch checks pay only batch-side
    work. Shares the raw
    operator's oracle: the two paths are semantically identical by
    construction, and this driver row pins that equivalence
    cross-engine."""
    from lakehouse_architecture_spark.operators.minhash import (
        minhash_lsh_incremental_indexed,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    idx = _corpus_index_for(spark, sf_dir)
    return minhash_lsh_incremental_indexed(
        new, idx, "text", "doc_id", threshold=0.3, max_doc_freq=MAX_DOC_FREQ
    )


# Recall curve: for each candidate Jaccard threshold, how many true
# near-dup pairs exist (exact inverted-index count) and how many of
# them the banded-LSH pipeline surfaces (candidates that verify at the
# threshold). Integer-only compared surface; the ratio IS the measured
# recall the (num_hashes, band_size) knobs trade against cost.
MINHASH_RECALL_ORACLE = f"""
WITH {_SHINGLES_CTE},
{_SHC_CTE},
sigs AS (SELECT doc, {_SIGS_SQL} FROM sh GROUP BY doc),
bands AS ({_BANDS_SQL}),
cands AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc < b.doc
),
sizes AS (SELECT doc, COUNT(*) AS n FROM shc GROUP BY doc),
exact AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
),
scored AS (
  SELECT e.doc_a, e.doc_b,
         CAST(e.n_common AS DOUBLE) / (za.n + zb.n - e.n_common) AS j,
         (c.doc_a IS NOT NULL) AS found
  FROM exact e
  JOIN sizes za ON za.doc = e.doc_a
  JOIN sizes zb ON zb.doc = e.doc_b
  LEFT JOIN cands c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
),
t(threshold_pct) AS (VALUES (30), (50), (70), (90))
SELECT t.threshold_pct,
       COUNT(*) FILTER (WHERE j >= t.threshold_pct / 100.0)
         AS n_true_pairs,
       COUNT(*) FILTER (WHERE j >= t.threshold_pct / 100.0 AND found)
         AS n_lsh_found
FROM scored, t
GROUP BY t.threshold_pct
"""


@query("minhash_recall_curve", oracle=MINHASH_RECALL_ORACLE)
def minhash_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall curve, measured not assumed: per Jaccard threshold
    (30/50/70/90%), the EXACT number of true near-dup pairs (inverted
    index, DF-capped) beside how many of them the banded MinHash
    pipeline's candidate set contains — n_lsh_found/n_true_pairs is
    the recall the LSH S-curve promises (higher at higher thresholds
    by construction). This is the table that justifies a (num_hashes,
    band_size) choice at 100 TB, where running the exact pair join is
    exactly what LSH exists to avoid; at test SF both sides are
    cross-engine checked. Integer-only compared surface."""
    from lakehouse_architecture_spark.operators.minhash import (
        candidate_pairs,
        capped_gram_arrays,
        gram_arrays,
        lsh_band_keys,
        minhash_signatures_from_grams,
    )

    docs = load_table(spark, sf_dir, "documents")
    # one-slot persisted; slots shared with minhash_estimate_qa (same
    # logical relations + keys -> warm across consecutive runs)
    g = one_slot_persist(
        gram_arrays(docs, "text", "doc_id"),
        slot="dedup-sim-doc-grams",
        key=(sf_dir,),
    )
    cands = candidate_pairs(
        lsh_band_keys(minhash_signatures_from_grams(g, 8), 8, 2)
    ).withColumn("found", F.lit(True))
    gv = one_slot_persist(
        capped_gram_arrays(g, MAX_DOC_FREQ),
        slot="dedup-sim-doc-grams-capped",
        key=(sf_dir, MAX_DOC_FREQ),
    )
    sh = gv.select(
        "doc", F.size("grams").alias("n"), F.explode("grams").alias("shingle")
    )
    sa = sh.select(F.col("doc").alias("doc_a"), F.col("n").alias("n_a"), "shingle")
    sb = sh.select(F.col("doc").alias("doc_b"), F.col("n").alias("n_b"), "shingle")
    j = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    scored = (
        sa.join(sb, (sa.shingle == sb.shingle) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(cands, ["doc_a", "doc_b"], "left_outer")
        .select(j.alias("j"), F.coalesce("found", F.lit(False)).alias("found"))
    )
    thresholds = spark.createDataFrame(
        [(30,), (50,), (70,), (90,)], "threshold_pct int"
    )
    hit = F.col("j") >= F.col("threshold_pct") / 100.0
    return (
        scored.crossJoin(F.broadcast(thresholds))
        .groupBy("threshold_pct")
        .agg(
            F.count_if(hit).alias("n_true_pairs"),
            F.count_if(hit & F.col("found")).alias("n_lsh_found"),
        )
    )


@query(
    "docs_source_shingle_overlap",
    oracle=f"""
WITH toks AS (
  SELECT source, str_split({SQL_NORM}, ' ') AS t FROM documents
),
ss AS (
  SELECT DISTINCT source, s AS shingle
  FROM toks, UNNEST(
    CASE WHEN len(t) >= 3
         THEN list_transform(generate_series(1, len(t) - 2),
                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         ELSE [array_to_string(t, ' ')] END
  ) AS u(s)
),
sizes AS (
  SELECT source, COUNT(*) AS n FROM ss GROUP BY source
),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         COUNT(*) AS n_shared_shingles
  FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, i.n_shared_shingles,
       ROUND(CAST(i.n_shared_shingles AS DOUBLE)
             / (sa.n + sb.n - i.n_shared_shingles), 6) AS shingle_jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b
""",
)
def docs_source_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix: for every (source_a, source_b)
    pair, the number of distinct normalized 3-shingles present in BOTH
    sources and the shingle-level Jaccard between their vocabularies.
    This is the mixture-level contamination map — two sources with an
    outlying Jaccard are scraping the same upstream content, which
    silently double-weights it when sources are sampled independently
    (the doc-level twin is docs_dup_profile_by_source; this one fires
    even when leakage is near-duplicate rather than exact).

    Scale shape: the corpus-sized work is one distinct on (source,
    shingle) — everything after is bounded by |sources| * |shingle
    vocabulary|. The pair unfold is NOT a shingle self-join (which a
    stop-shingle shared by every source would turn into a C(n,2)
    row-explosion *per occurrence*): shingles fold to a sorted source
    SET first, so each shingle contributes its pair combinations
    exactly once, capped at C(|sources|, 2)."""
    docs = load_table(spark, sf_dir, "documents")
    ss = shingles(docs, "text", "source").distinct()
    sizes = ss.groupBy(F.col("doc").alias("src")).agg(
        F.count(F.lit(1)).alias("n")
    )
    sets = ss.groupBy("shingle").agg(
        F.sort_array(F.collect_set("doc")).alias("srcs")
    )
    inter = (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (a, i) -> "
                    "transform(slice(srcs, i + 2, size(srcs)), "
                    "b -> struct(a AS source_a, b AS source_b))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )
    sa = sizes.select(F.col("src").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("src").alias("source_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared_shingles",
            F.round(
                F.col("n_shared_shingles").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared_shingles")),
                6,
            ).alias("shingle_jaccard"),
        )
    )


@query(
    "customers_fuzzy_name_stats",
    oracle="""
WITH v AS (
  SELECT c_custkey AS id, c_name AS name,
         CASE WHEN i = 0 THEN c_name
              ELSE substr(c_name, 1, i - 1) || substr(c_name, i + 1)
         END AS var
  FROM customer, UNNEST(generate_series(0, len(c_name))) AS t(i)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                  a.name AS na, b.name AS nb
  FROM v a JOIN v b ON a.var = b.var AND a.id < b.id
),
matched AS (SELECT * FROM cand WHERE levenshtein(na, nb) <= 1)
SELECT (SELECT COUNT(*) FROM customer) AS n_entities,
       (SELECT COUNT(*) FROM v) AS n_variants,
       (SELECT COUNT(DISTINCT var) FROM v) AS n_variant_keys,
       (SELECT COUNT(*) FROM cand) AS n_candidate_pairs,
       (SELECT COUNT(*) FROM matched) AS n_matched_pairs
""",
)
def customers_fuzzy_name_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant entity matching (operators/fuzzy.py): every
    customer-name pair within Levenshtein distance 1, found by
    SymSpell-style deletion-neighborhood blocking — candidates are
    exact matches on a (L+1)-variant explode, verified by the JVM
    ``levenshtein``; COMPLETE for d=1 by the deletion theorem, never
    an all-pairs scan. The oracle rebuilds the identical neighborhood
    and DuckDB's levenshtein agrees with Spark's, so entity counts,
    variant-key cardinality, CANDIDATE volume (the blocking-efficiency
    measure) and verified matches are all exact cross-engine.

    Scale: |variants| = (L+1)·n shuffled once on the variant key;
    Σ|bucket|² bounds the candidate join, with the max_bucket stop-key
    cap available for boilerplate-heavy corpora (MinHash stop-shingle
    doctrine). This is the missing fuzzy-join member of the dedup
    family: exact (md5) < fuzzy-d1 (this) < token-set (Jaccard) <
    semantic (MinHash / SimHash / embedding LSH)."""
    from lakehouse_architecture_spark.operators.fuzzy import (
        deletion_variants,
        fuzzy_candidates_d1,
    )

    cust = load_table(spark, sf_dir, "customer")
    # one-slot persisted (operators/caching): two counting consumers
    # each; bounded across multi-query sessions
    v = one_slot_persist(
        deletion_variants(cust, "c_name", "c_custkey"),
        slot="dedup-sim-fuzzy-variants",
        key=(sf_dir,),
    )
    cand = one_slot_persist(
        fuzzy_candidates_d1(cust, "c_name", "c_custkey"),
        slot="dedup-sim-fuzzy-cands",
        key=(sf_dir,),
    )
    matched = cand.filter(F.levenshtein("name_a", "name_b", 1) >= 0)
    s_ent = cust.agg(F.count(F.lit(1)).alias("n_entities"))
    s_var = v.agg(
        F.count(F.lit(1)).alias("n_variants"),
        F.countDistinct("var").alias("n_variant_keys"),
    )
    s_cand = cand.agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
    s_match = matched.agg(F.count(F.lit(1)).alias("n_matched_pairs"))
    return (
        s_ent.crossJoin(s_var)
        .crossJoin(s_cand)
        .crossJoin(s_match)
        .select(
            "n_entities",
            "n_variants",
            "n_variant_keys",
            "n_candidate_pairs",
            "n_matched_pairs",
        )
    )


@query(
    "customers_fuzzy_pairs_d2",
    oracle="""
WITH c AS (SELECT c_custkey, c_name FROM customer),
p AS (
  SELECT levenshtein(a.c_name, b.c_name) AS dist
  FROM c a JOIN c b ON a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 2
),
n AS (SELECT COUNT(*) AS n_rows FROM c)
SELECT p.dist, CAST(COUNT(*) AS BIGINT) AS n_pairs, n.n_rows,
       n.n_rows * (n.n_rows - 1) // 2 AS n_total_pairs
FROM p, n
GROUP BY p.dist, n.n_rows
ORDER BY p.dist
""",
)
def customers_fuzzy_pairs_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy matching at the SymSpell PRODUCTION radius
    (operators/fuzzy.fuzzy_pairs_d2): per-distance counts of every
    customer-name pair within Levenshtein distance 2, found by
    deletion-<=2 neighborhood blocking (1 + L + L(L-1)/2 variants per
    string, deduped per (id, var)), verified by the JVM levenshtein
    INSIDE the streamed variant self-join. The oracle is the BRUTE
    FORCE — an O(n²) levenshtein over all pairs — so count equality IS
    the completeness proof for the blocking (two substitutions are the
    hard case: only a del2 x del2 bucket can match them). Measured on
    this deliberately adversarial corpus (zero-dense sequential names,
    Σ|bucket|² = 65M at sf0.1): 19 s for 4.08M verified pairs at
    sf0.1; the brute force the oracle runs is 112M levenshtein calls
    there, which is why the oracle is sf0.01-gated (1.1M calls) and
    this query must stay OUT of sf0.1 magnitude probes — the Spark
    side scales, the oracle deliberately does not.

    Completes the fuzzy tier of the dedup ladder: exact (md5) <
    fuzzy-d1 (`customers_fuzzy_name_stats`) < fuzzy-d2 (this, the
    SymSpell default) < token-set (Jaccard) < semantic (MinHash /
    SimHash / embedding LSH). Scale shape per the operator docstring:
    variant relation shuffled once on the key, pinned sort-merge
    self-join, early verify in the codegen stage, ids-only distinct."""
    from lakehouse_architecture_spark.operators.fuzzy import (
        deletion_variants_d2,
        fuzzy_pairs_d2,
    )

    cust = load_table(spark, sf_dir, "customer")
    # Same construction + slot + key as the capped twin: the variant
    # relation and its (var, n) bucket counts are identical logical
    # relations, so consecutive fuzzy rows share one cached build
    # (r17 — previously this row re-exploded the neighborhood from
    # scratch for both join sides). The counts feed the operator's
    # singleton-bucket prefilter.
    v = one_slot_persist(
        deletion_variants_d2(cust, "c_name", "c_custkey"),
        slot="dedup-sim-fuzzy-d2-variants",
        key=(sf_dir,),
    )
    kc = one_slot_persist(
        v.groupBy("var").agg(F.count(F.lit(1)).alias("n")),
        slot="dedup-sim-fuzzy-d2-bucket-counts",
        key=(sf_dir,),
    )
    pairs = fuzzy_pairs_d2(
        cust, "c_name", "c_custkey", variants=v, bucket_counts=kc
    )
    n = cust.agg(F.count(F.lit(1)).alias("n_rows"))
    return (
        pairs.groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .crossJoin(n)
        .select(
            "dist",
            "n_pairs",
            "n_rows",
            F.expr("n_rows * (n_rows - 1) div 2").alias("n_total_pairs"),
        )
        .orderBy("dist")
    )


@query(
    "customers_fuzzy_pairs_d2_capped",
    oracle="""
WITH c AS (SELECT c_custkey AS id, c_name AS name FROM customer),
v0 AS (
  SELECT id, name, i
  FROM c, UNNEST(generate_series(0, len(name))) AS t(i)
),
v1 AS (
  SELECT id, name, i, j
  FROM v0, UNNEST(list_prepend(0,
    CASE WHEN i >= 1 AND i < len(name)
         THEN generate_series(i + 1, len(name))
         ELSE [] END)) AS u(j)
),
v AS (
  SELECT DISTINCT id, name,
    CASE WHEN i = 0 AND j = 0 THEN name
         WHEN j = 0 THEN substr(name, 1, i - 1) || substr(name, i + 1)
         ELSE substr(name, 1, i - 1)
              || substr(name, i + 1, j - i - 1)
              || substr(name, j + 1)
    END AS var
  FROM v1
),
kc AS (SELECT var, COUNT(*) AS n FROM v GROUP BY var),
keep AS (SELECT var FROM kc WHERE n <= 16),
vk AS (SELECT v.id, v.name, v.var FROM v JOIN keep USING (var)),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         levenshtein(a.name, b.name) AS dist
  FROM vk a JOIN vk b ON a.var = b.var AND a.id < b.id
  WHERE levenshtein(a.name, b.name) <= 2
),
stats AS (
  SELECT (SELECT COUNT(*) FROM kc) AS n_keys_total,
         (SELECT COUNT(*) FROM kc WHERE n > 16) AS n_keys_dropped,
         (SELECT COUNT(*) FROM v) AS n_variants
)
SELECT p.dist, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       s.n_keys_total, s.n_keys_dropped, s.n_variants
FROM pairs p, stats s
GROUP BY p.dist, s.n_keys_total, s.n_keys_dropped, s.n_variants
ORDER BY p.dist
""",
)
def customers_fuzzy_pairs_d2_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The BOUNDED-BUCKET production regime of SymSpell-d2 fuzzy
    matching: `customers_fuzzy_pairs_d2` with ``max_bucket=16`` — the
    stop-shingle contract from the MinHash family applied to deletion
    variants (variant keys shared by more than 16 entities are
    boilerplate, drop them; bounded recall loss for a bounded join).
    This is the query whose WALL reflects the capped PLAN rather than
    the corpus pathology: on this corpus' zero-dense sequential names
    the uncapped join is the documented adversarial case
    (Σ|bucket|² = 65M at sf0.1, ~19 s/rep), while the cap collapses it
    to 1.13M (57x) — so this row IS benched where the full-d2 row is
    bench-exempt.

    The recall trade is measured CROSS-ENGINE, not asserted: the
    DuckDB oracle replicates the capped blocking exactly (same
    deletion neighborhood, same (id, var) dedup, same <=16 keep rule),
    so the per-distance capped counts here are oracle-pinned, and
    recall reads directly against the full-d2 row's brute-force-proved
    counts in the same registry. The measured verdict is BRUTAL and
    that is the point: at sf0.01 the cap keeps 850/19500 dist-1 pairs
    (4.4%) and 200/184596 dist-2 pairs (0.11%), because on sequential
    digit names the TRUE-match buckets are themselves the huge ones
    (the whole corpus is one near-dup family) — ``max_bucket`` is a
    boilerplate-key filter for corpora where matches are sparse, NOT a
    fix for pathological near-dup density. The natural-corpus row
    (`docs_prefix_fuzzy_pairs_d2`: max bucket 4, Σ|bucket|² ~
    1.1x|variants|) is where the uncapped plan is benched and keeps
    100% recall by construction. Dropped-key stats ride along so the
    row also documents how much the cap removed (1650/85500 keys =
    1.9% at sf0.01 — few keys, nearly all the mass).

    Scale shape: identical to the full tier (variants shuffled once on
    the key, pinned sort-merge self-join, verify inside the streamed
    join, ids-only distinct) with the one addition that makes it
    100-TB-safe on ANY corpus: Σ|bucket|² <= 16·|variants| by
    construction, linear in corpus size."""
    from lakehouse_architecture_spark.operators.fuzzy import (
        deletion_variants_d2,
        fuzzy_pairs_d2,
    )

    B = 16
    cust = load_table(spark, sf_dir, "customer")
    v = one_slot_persist(
        deletion_variants_d2(cust, "c_name", "c_custkey"),
        slot="dedup-sim-fuzzy-d2-variants",
        key=(sf_dir,),
    )
    # r16: the (var, n) bucket counts feed BOTH the key statistics and
    # the operator's keep-filter — persisted once instead of two full
    # groupBy shuffles over the variant relation (guide §2.4).
    kc = one_slot_persist(
        v.groupBy("var").agg(F.count(F.lit(1)).alias("n")),
        slot="dedup-sim-fuzzy-d2-bucket-counts",
        key=(sf_dir,),
    )
    stats = kc.agg(
        F.count(F.lit(1)).alias("n_keys_total"),
        F.sum(F.when(F.col("n") > B, 1).otherwise(0))
        .cast("long")
        .alias("n_keys_dropped"),
    ).crossJoin(v.agg(F.count(F.lit(1)).alias("n_variants")))
    pairs = fuzzy_pairs_d2(
        cust,
        "c_name",
        "c_custkey",
        max_bucket=B,
        variants=v,
        bucket_counts=kc,
    )
    return (
        pairs.groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .crossJoin(stats)
        .select(
            "dist",
            "n_pairs",
            "n_keys_total",
            "n_keys_dropped",
            "n_variants",
        )
        .orderBy("dist")
    )


@query(
    "docs_prefix_fuzzy_pairs_d2",
    oracle=r"""
WITH c AS (
  SELECT doc_id AS id,
         substr(TRIM(regexp_replace(regexp_replace(LOWER(text),
                 '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')),
                1, 25) AS name
  FROM documents
),
v0 AS (
  SELECT id, name, i
  FROM c, UNNEST(generate_series(0, len(name))) AS t(i)
),
v1 AS (
  SELECT id, name, i, j
  FROM v0, UNNEST(list_prepend(0,
    CASE WHEN i >= 1 AND i < len(name)
         THEN generate_series(i + 1, len(name))
         ELSE [] END)) AS u(j)
),
v AS (
  SELECT DISTINCT id,
    CASE WHEN i = 0 AND j = 0 THEN name
         WHEN j = 0 THEN substr(name, 1, i - 1) || substr(name, i + 1)
         ELSE substr(name, 1, i - 1)
              || substr(name, i + 1, j - i - 1)
              || substr(name, j + 1)
    END AS var
  FROM v1
),
pairs AS (
  SELECT levenshtein(a.name, b.name) AS dist
  FROM c a JOIN c b ON a.id < b.id
  WHERE levenshtein(a.name, b.name) <= 2
),
stats AS (
  SELECT (SELECT COUNT(*) FROM c) AS n_entities,
         (SELECT COUNT(*) FROM v) AS n_variants,
         (SELECT MAX(n) FROM
            (SELECT COUNT(*) AS n FROM v GROUP BY var)) AS max_bucket_n
)
SELECT p.dist, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       s.n_entities, s.n_variants, s.max_bucket_n
FROM pairs p, stats s
GROUP BY p.dist, s.n_entities, s.n_variants, s.max_bucket_n
ORDER BY p.dist
""",
)
def docs_prefix_fuzzy_pairs_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell-d2 fuzzy matching on a NATURAL corpus — document-text
    25-char prefixes (word sequences over a real vocabulary), the
    record-linkage shape the fuzzy tier actually deploys against:
    near-identical entries are SPARSE (262 dist-0 + 13 dist-2 pairs
    among 5000 entities at sf0.1), so deletion-variant buckets stay
    tiny (max 4; Σ|bucket|² = 1.1x|variants|) and the UNCAPPED plan is
    both complete AND benchable — this is the row whose bench wall
    times the d2 PLAN (variant explode, one shuffle on the key, pinned
    sort-merge self-join, verify in the streamed join) instead of the
    zero-dense customer-name pathology that keeps
    `customers_fuzzy_pairs_d2` bench-exempt. Blocking stats (variant
    count, max bucket) ride along, so the row itself certifies which
    regime the corpus is in.

    The oracle proves completeness the same way as the customer-name
    row: a brute-force O(n²) levenshtein over all prefix pairs (125k
    calls at sf0.01) — count equality per distance IS the proof that
    deletion-neighborhood blocking missed nothing; the oracle also
    rebuilds the variant relation to pin the blocking stats
    cross-engine. Every emitted column is an exact integer.

    The linkage key is the NORMALIZED-ASCII prefix
    (operators/dedup.normalize_text, the dedup family's canonical
    form) — not just for canonicalization: Spark's levenshtein counts
    CHARACTERS while DuckDB's counts BYTES, so any multibyte text in
    the compared strings silently diverges cross-engine (a fresh-seed
    corpus with CJK marker tokens caught exactly this: a char-distance
    2 pair at byte-distance 4+). Normalization strips the compared
    domain to single-byte characters, where the two definitions
    coincide.

    Scale: Σ|bucket|² ~ |variants| on sparse-match corpora, so the
    join is linear in corpus size; the prefix projection is the
    fingerprint doctrine (compare keys, not documents)."""
    from lakehouse_architecture_spark.operators.fuzzy import (
        deletion_variants_d2,
        fuzzy_pairs_d2,
    )

    from lakehouse_architecture_spark.operators.dedup import (
        normalize_text,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(normalize_text(F.col("text")), 1, 25).alias("prefix"),
    )
    v = one_slot_persist(
        deletion_variants_d2(docs, "prefix", "doc_id"),
        slot="dedup-sim-docs-prefix-d2-variants",
        key=(sf_dir,),
    )
    stats = v.agg(F.count(F.lit(1)).alias("n_variants")).crossJoin(
        v.groupBy("var")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("max_bucket_n"))
    ).crossJoin(docs.agg(F.count(F.lit(1)).alias("n_entities")))
    pairs = fuzzy_pairs_d2(docs, "prefix", "doc_id", variants=v)
    return (
        pairs.groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .crossJoin(stats)
        .select(
            "dist",
            "n_pairs",
            "n_entities",
            "n_variants",
            "max_bucket_n",
        )
        .orderBy("dist")
    )


@query(
    "docs_prefix_entity_resolution",
    oracle=f"""
WITH RECURSIVE c AS (
  SELECT doc_id AS id, substr({SQL_NORM}, 1, 25) AS name
  FROM documents
),
v AS (
  SELECT id, name,
         CASE WHEN i = 0 THEN name
              ELSE substr(name, 1, i - 1) || substr(name, i + 1)
         END AS var
  FROM c, UNNEST(generate_series(0, len(name))) AS t(i)
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM v a JOIN v b ON a.var = b.var AND a.id < b.id
  WHERE levenshtein(a.name, b.name) <= 1
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
nodes AS (SELECT DISTINCT s AS id FROM edges),
reach AS (
  SELECT id, id AS r FROM nodes
  UNION
  SELECT e.d AS id, reach.r FROM reach JOIN edges e ON e.s = reach.id
),
comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
SELECT CAST(component AS BIGINT) AS canonical_id,
       CAST(COUNT(*) AS BIGINT) AS cluster_sz
FROM comp GROUP BY component ORDER BY canonical_id
""",
)
def docs_prefix_entity_resolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Entity resolution on the NATURAL corpus, with the full
    per-cluster census exposed — the r12 verdict's at-scale order for
    the ER family. `customers_entity_resolution` proves the pipeline
    on the adversarial zero-dense name corpus, but its recursive
    transitive-closure oracle is quadratic THERE (one giant near-dup
    family), so its values have only ever been verified at sf0.01.
    This row runs the same match -> cluster -> survivor chain
    (SymSpell d1 blocking, levenshtein verify, min-label connected
    components) over normalized document-text 25-char prefixes — the
    corpus where near-identical entries are SPARSE (the
    `docs_prefix_fuzzy_pairs_d2` regime: bucket sizes <= 4, a few
    hundred pairs at sf0.1), so the closure oracle stays tractable at
    the 10x sweep scale and every cluster's membership is
    VALUE-verified cross-engine, not just counted.

    Output is the per-cluster relation itself (canonical_id = min doc
    id, cluster_sz), one row per resolved entity group, ordered — a
    stronger comparison surface than the census-count row: a single
    mis-grouped document changes some cluster's canonical or size.

    Scale: the d1 variant join is bucket-bounded (Σ|bucket|² ~
    |variants| on sparse corpora), components is diameter-bounded
    label propagation, the census one aggregate — all linear-ish in
    corpus size; nothing here is the oracle's recursive closure, which
    exists only to certify the Spark side from a second engine."""
    from lakehouse_architecture_spark.operators.components import (
        connected_components,
    )
    from lakehouse_architecture_spark.operators.dedup import normalize_text
    from lakehouse_architecture_spark.operators.fuzzy import fuzzy_pairs_d1

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(normalize_text(F.col("text")), 1, 25).alias("prefix"),
    )
    pairs = fuzzy_pairs_d1(docs, "prefix", "doc_id").select("id_a", "id_b")
    labels = connected_components(pairs, src="id_a", dst="id_b")
    return (
        labels.groupBy("comp")
        .agg(
            F.min("doc").cast("long").alias("canonical_id"),
            F.count(F.lit(1)).cast("long").alias("cluster_sz"),
        )
        .select("canonical_id", "cluster_sz")
        .orderBy("canonical_id")
    )


@query(
    "customers_entity_resolution",
    oracle="""
WITH RECURSIVE v AS (
  SELECT c_custkey AS id, c_name AS name,
         CASE WHEN i = 0 THEN c_name
              ELSE substr(c_name, 1, i - 1) || substr(c_name, i + 1)
         END AS var
  FROM customer, UNNEST(generate_series(0, len(c_name))) AS t(i)
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM v a JOIN v b ON a.var = b.var AND a.id < b.id
  WHERE levenshtein(a.name, b.name) <= 1
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
nodes AS (SELECT DISTINCT s AS id FROM edges),
reach AS (
  SELECT id, id AS r FROM nodes
  UNION
  SELECT e.d AS id, reach.r FROM reach JOIN edges e ON e.s = reach.id
),
comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
cl AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY component)
SELECT (SELECT COUNT(*) FROM customer) AS n_entities,
       (SELECT COUNT(*) FROM pairs) AS n_dup_pairs,
       (SELECT COUNT(*) FROM comp) AS n_entities_in_clusters,
       (SELECT COUNT(*) FROM cl) AS n_clusters,
       (SELECT COUNT(*) FROM customer)
         - (SELECT COUNT(*) FROM comp) + (SELECT COUNT(*) FROM cl)
         AS n_canonical_entities
""",
)
def customers_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END entity resolution: SymSpell fuzzy matching
    (operators/fuzzy.py) feeds near-identical-name pairs into the
    connected-components election (operators/components.py), keep-min
    canonicalization collapses each cluster — the full record-linkage
    pipeline (match -> cluster -> survivor) as one query, the
    customer-table sibling of docs_dedup_keep_best. The oracle
    replicates the WHOLE chain: deletion-neighborhood candidates,
    levenshtein verify, recursive-CTE transitive closure, per-cluster
    census — every count exact cross-engine.

    Scale: matching is the bucketed variant join (never all-pairs),
    clustering is diameter-bounded label propagation, and the election
    is one aggregate on the component key; nothing rescans the entity
    table more than the operators themselves do."""
    from lakehouse_architecture_spark.operators.components import (
        connected_components,
    )
    from lakehouse_architecture_spark.operators.fuzzy import fuzzy_pairs_d1

    cust = load_table(spark, sf_dir, "customer")
    # one-slot persisted (operators/caching): pairs feed the components
    # fixpoint + the pair census; labels feed two cluster aggregates
    pairs = one_slot_persist(
        fuzzy_pairs_d1(cust, "c_name", "c_custkey").select("id_a", "id_b"),
        slot="dedup-sim-er-pairs",
        key=(sf_dir,),
    )
    labels = one_slot_persist(
        connected_components(pairs, src="id_a", dst="id_b"),
        slot="dedup-sim-er-labels",
        key=(sf_dir,),
    )
    s_ent = cust.agg(F.count(F.lit(1)).alias("n_entities"))
    s_pairs = pairs.agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    s_in = labels.agg(F.count(F.lit(1)).alias("n_entities_in_clusters"))
    s_cl = labels.agg(
        F.countDistinct("comp").alias("n_clusters")
    )
    return (
        s_ent.crossJoin(s_pairs)
        .crossJoin(s_in)
        .crossJoin(s_cl)
        .select(
            "n_entities",
            "n_dup_pairs",
            "n_entities_in_clusters",
            "n_clusters",
            (
                F.col("n_entities")
                - F.col("n_entities_in_clusters")
                + F.col("n_clusters")
            ).alias("n_canonical_entities"),
        )
    )


def _word_spans(df: DataFrame, k: int) -> DataFrame:
    """Shared span-fingerprint relation — see operators/spans.word_spans
    (moved there in r8 so the streaming ingest shares one definition)."""
    from lakehouse_architecture_spark.operators.spans import word_spans

    return word_spans(df, k)


def _persist_spans(spans: DataFrame, sf_dir: str, k: int) -> DataFrame:
    """One-slot persist of the span posting relation (see
    operators/caching.one_slot_persist): the span queries return LAZY
    DataFrames, so they cannot unpersist in a finally block the way
    the streaming twin (span_dedup_handle_batch) does — the consuming
    action belongs to the caller. Each span query releases the
    previous one's posting list, bounding the session-wide cache to
    one relation (the r8 ADVICE leak).

    Identity-keyed (r10): consecutive span queries over the same
    ``(sf_dir, k)`` reuse the slot's warm relation instead of
    unpersist+rebuild — the r9 one-slot conversion paid a cold rebuild
    per query (~+1.8 s each at sf0.1, the dominant extras-wall change
    that round); the key recovers the r8 warmth while staying bounded."""
    from lakehouse_architecture_spark.operators.caching import (
        one_slot_persist,
    )

    return one_slot_persist(spans, slot="dedup-sim-spans", key=(sf_dir, k))


@query(
    "docs_shared_span_pairs",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
spans AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(t, i, i + 7), ' ') AS span
  FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS g(i)
),
df AS (SELECT span, COUNT(*) AS n_docs FROM spans GROUP BY 1),
kept AS (
  SELECT s.doc_id, s.span FROM spans s JOIN df USING (span)
  WHERE df.n_docs BETWEEN 2 AND 10
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_spans
  FROM kept a JOIN kept b ON a.span = b.span AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared_spans
FROM pairs ORDER BY n_shared_spans DESC, doc_a, doc_b LIMIT 20
""",
)
def docs_shared_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication: top-20 document pairs sharing exact
    8-word spans — the pair view of ExactSubstr dedup
    (arXiv:2107.06499), which catches verbatim copying that
    document-level MinHash misses (a paragraph pasted into an
    otherwise-different doc). The rung of the dedup ladder between
    exact-hash (whole doc) and MinHash (bag-of-shingles similarity).

    Plan shape at 100 TB: one narrow pass builds distinct (doc, span);
    span doc-frequencies are a partial-aggregated groupBy; the pair
    join is a POSTING-LIST self-join bounded by the document-frequency
    cap (spans in >10 docs are boilerplate, excluded — cost is
    sum(df^2) <= cap * |postings|, never corpus x corpus). The same
    DF-capped shape as the MinHash band join; at production scale the
    span string is replaced by a 64-bit rolling hash (join keys
    shrink, semantics identical modulo collisions).

    Compared surface: exact integers only (ids, span counts) with a
    total-order tie-break before the LIMIT."""
    docs = load_table(spark, sf_dir, "documents")
    # persist (one-slot, see _persist_spans): the posting relation
    # feeds the DF-count aggregate AND both sides of the pair join —
    # uncached, the heavy window/string work recomputes per consumer
    # (measured ~4.8 -> ~2 s at sf0.1)
    spans = _persist_spans(_word_spans(docs, 8), sf_dir, 8)
    df_counts = spans.groupBy("span").agg(F.count(F.lit(1)).alias("n_docs"))
    kept = (
        spans.join(df_counts, "span")
        .filter((F.col("n_docs") >= 2) & (F.col("n_docs") <= 10))
        .select("doc_id", "span")
    )
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.span") == F.col("b.span"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
        .orderBy(F.desc("n_shared_spans"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(20)
    )


@query(
    "docs_copied_span_profile",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
spans AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(t, i, i + 7), ' ') AS span
  FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS g(i)
),
df AS (SELECT span, COUNT(*) AS n_docs FROM spans GROUP BY 1),
per_doc AS (
  SELECT s.doc_id,
         COUNT(*) AS n_spans,
         CAST(SUM(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_copied
  FROM spans s JOIN df USING (span)
  GROUP BY 1
)
SELECT doc_id, n_spans, n_copied,
       CAST((1000 * n_copied) // n_spans AS BIGINT) AS copied_milli,
       n_copied * 5 >= n_spans AS trim_candidate
FROM per_doc
ORDER BY copied_milli DESC, n_copied DESC, doc_id LIMIT 20
""",
)
def docs_copied_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document copied-content ratio: for each doc, what fraction
    of its exact 8-word spans also appear in some other document —
    THE ExactSubstr trim/drop decision (arXiv:2107.06499 removes the
    duplicated substrings; a corpus curator ranks and trims the
    worst offenders first). Top-20 most-copied docs with the >=20%
    trim flag.

    All-integer compared surface per the post-r7 doctrine: span
    counts, copied counts, an integer-division permille
    (skew-profile's exact-arithmetic trick), and the integer-compared
    trim decision — no ratio double anywhere.

    Plan: shares docs_shared_span_pairs' posting relation — one
    explode pass, one span-grain aggregate, one doc-grain aggregate;
    no self-join at all, so this profile is strictly cheaper than the
    pair view and is the one to run corpus-wide first."""
    docs = load_table(spark, sf_dir, "documents")
    # persist (one-slot, see _persist_spans): reused by the DF-count
    # aggregate and the per-doc join
    spans = _persist_spans(_word_spans(docs, 8), sf_dir, 8)
    df_counts = spans.groupBy("span").agg(F.count(F.lit(1)).alias("n_docs"))
    per_doc = (
        spans.join(df_counts, "span")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).alias(
                "n_copied"
            ),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_spans",
        "n_copied",
        F.expr("CAST((1000 * n_copied) div n_spans AS BIGINT)").alias(
            "copied_milli"
        ),
        (F.col("n_copied") * 5 >= F.col("n_spans")).alias("trim_candidate"),
    ).orderBy(
        F.desc("copied_milli"), F.desc("n_copied"), F.asc("doc_id")
    ).limit(20)


@query(
    "docs_incremental_copied_spans",
    oracle="""
WITH corpus AS (SELECT * FROM documents WHERE doc_id < 400),
batch  AS (SELECT * FROM documents WHERE doc_id >= 400),
cspans AS (
  SELECT DISTINCT array_to_string(list_slice(t, i, i + 7), ' ') AS span
  FROM (SELECT string_split(text, ' ') AS t FROM corpus),
       UNNEST(generate_series(1, len(t) - 7)) AS g(i)
),
bspans AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(t, i, i + 7), ' ') AS span
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM batch),
       UNNEST(generate_series(1, len(t) - 7)) AS g(i)
),
per_doc AS (
  SELECT b.doc_id,
         COUNT(*) AS n_spans,
         SUM(CASE WHEN c.span IS NOT NULL THEN 1 ELSE 0 END) AS n_in_corpus
  FROM bspans b LEFT JOIN cspans c ON b.span = c.span
  GROUP BY 1
)
SELECT COUNT(*) AS n_batch_docs,
       CAST(SUM(n_spans) AS BIGINT) AS n_batch_spans,
       CAST(SUM(n_in_corpus) AS BIGINT) AS n_spans_in_corpus,
       CAST(SUM(CASE WHEN n_in_corpus * 5 >= n_spans THEN 1 ELSE 0 END)
         AS BIGINT) AS n_rejected,
       CAST(SUM(CASE WHEN n_in_corpus * 5 < n_spans THEN 1 ELSE 0 END)
         AS BIGINT) AS n_admitted
FROM per_doc
""",
)
def docs_incremental_copied_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest form of substring-level dedup: each BATCH
    document's exact 8-word spans are checked against the CORPUS span
    set only (asymmetric — never batch x batch x corpus), and docs
    whose corpus-copied fraction reaches 20% are rejected before they
    enter the lake — the admission decision
    docs_incremental_near_dups makes with MinHash, made at the
    substring level where verbatim partial copying lives
    (arXiv:2107.06499). Corpus = doc_id < 400, batch = the rest (the
    registry's standing incremental-split convention).

    Scale contract: cost ∝ batch spans. The corpus side joins as a
    distinct span relation — in production the persisted span INDEX
    (the near-dup corpus-index pattern, one relation, appendable) —
    and the left join is an equi-join on the span key; the corpus is
    never re-shingled per batch. All-integer compared surface.
    """
    docs = load_table(spark, sf_dir, "documents")
    # r16: both sides derive from the span family's SHARED persisted
    # posting relation (word_spans is row-wise, so filtering the
    # persisted full relation is exactly filtering the input first) —
    # one warm tokenize/explode pass instead of two per run, shared
    # with the other span queries' slot (guide §2.4).
    spans = _persist_spans(_word_spans(docs, 8), sf_dir, 8)
    corpus_spans = (
        spans.filter(F.col("doc_id") < 400).select("span").distinct()
    )
    batch_spans = spans.filter(F.col("doc_id") >= 400)
    per_doc = (
        batch_spans.join(
            corpus_spans.withColumn("hit", F.lit(1)), "span", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_in_corpus"),
        )
    )
    rej = F.col("n_in_corpus") * 5 >= F.col("n_spans")
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_batch_docs"),
        F.sum("n_spans").alias("n_batch_spans"),
        F.sum("n_in_corpus").alias("n_spans_in_corpus"),
        F.sum(F.when(rej, 1).otherwise(0)).alias("n_rejected"),
        F.sum(F.when(~rej, 1).otherwise(0)).alias("n_admitted"),
    )


PREFIX_FILTER_JACCARD_ORACLE = f"""
WITH {_SHINGLES_CTE},
{_SHC_CTE},
sizes AS (SELECT doc, COUNT(*) AS n FROM shc GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_inter
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, CAST(i.n_inter AS BIGINT) AS n_inter,
       CAST(za.n + zb.n - i.n_inter AS BIGINT) AS n_union
FROM inter i
JOIN sizes za ON za.doc = i.doc_a
JOIN sizes zb ON zb.doc = i.doc_b
WHERE 10 * i.n_inter >= 3 * (za.n + zb.n - i.n_inter)
ORDER BY doc_a, doc_b
"""


@query("docs_prefix_filter_jaccard_join", oracle=PREFIX_FILTER_JACCARD_ORACLE)
def docs_prefix_filter_jaccard_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT thresholded set-similarity join (Jaccard >= 0.3) via
    PREFIX FILTERING (Chaudhuri et al. SSJoin 2006 / Bayardo et al.
    AllPairs WWW'07): index only each document's rare-first PREFIX of
    length |x| - ceil(t*|x|) + 1 instead of its whole shingle set. Any
    pair with J >= t must share a token inside both prefixes under a
    consistent global token order (pigeonhole on the minimum required
    overlap), so joining prefixes loses NOTHING — unlike MinHash/LSH
    this is exact by theorem, and the brute-force posting-join oracle
    proves it: row equality IS the completeness proof.

    Scale shape vs the full inverted index (`docs_ngram_jaccard_pairs`):
    the posting relation shrinks to the prefix rows and — the real
    lever — candidate posting lists hold each doc's lowest-df shingles
    by construction (the rare-first canonical order). The size filter
    (10*min >= 3*max, the integer form of min >= t*max) prunes
    length-incompatible pairs inside the join. The threshold compares
    as the integer inequality 10*inter >= 3*union on BOTH engines — no
    float boundary anywhere.

    REGIME NOTE (measured r14, sf0.1): prefix filtering is a
    HIGH-threshold, sparse-vocabulary tool — prefix length is
    |x|(1-t)+1, so t=0.3 keeps 71% of postings (185k of 260k), and on
    this synthetic corpus's 31-word vocabulary nothing is rare, so the
    prefix join still emits 597k candidates and the warm wall is ~7-8 s
    vs ~2.8 s for the df-capped posting join (both ~19 s cold, shared
    gram build dominating). The row exists to PROVE the technique's
    exactness against the brute oracle (and the operator's property
    test re-proves it at t=0.3/0.5/0.8 on random corpora); on a real
    web corpus at dedup thresholds (t >= 0.7, heavy-tailed df) the
    prefix index is the shape that survives and the posting join is
    the one that doesn't.

    Shares the cached gram-array slots with the minhash family; the
    ordered-prefix relation gets its own slot (used twice: candidate
    generation + verification). The pipeline itself is
    operators/minhash.prefix_filter_jaccard_pairs, whose completeness
    is ALSO property-tested against brute-force set math on random
    gram corpora (tests/test_properties.py)."""
    from lakehouse_architecture_spark.operators.minhash import (
        capped_gram_arrays,
        gram_arrays,
        prefix_filter_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    g = one_slot_persist(
        gram_arrays(docs, "text", "doc_id"),
        slot="dedup-sim-doc-grams",
        key=(sf_dir,),
    )
    gv = one_slot_persist(
        capped_gram_arrays(g, MAX_DOC_FREQ),
        slot="dedup-sim-doc-grams-capped",
        key=(sf_dir, MAX_DOC_FREQ),
    )
    return prefix_filter_jaccard_pairs(
        gv,
        t_num=3,
        t_den=10,
        slot="dedup-sim-prefix-ordered",
        key=(sf_dir, MAX_DOC_FREQ),
    ).orderBy("doc_a", "doc_b")


PREFIX_FILTER_STRICT_ORACLE = f"""
WITH {_SHINGLES_CTE},
{_SHC_CTE},
sizes AS (SELECT doc, COUNT(*) AS n FROM shc GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_inter
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, CAST(i.n_inter AS BIGINT) AS n_inter,
       CAST(za.n + zb.n - i.n_inter AS BIGINT) AS n_union
FROM inter i
JOIN sizes za ON za.doc = i.doc_a
JOIN sizes zb ON zb.doc = i.doc_b
WHERE 5 * i.n_inter >= 4 * (za.n + zb.n - i.n_inter)
ORDER BY doc_a, doc_b
"""


@query(
    "docs_prefix_filter_jaccard_join_strict",
    oracle=PREFIX_FILTER_STRICT_ORACLE,
)
def docs_prefix_filter_jaccard_join_strict(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION-REGIME twin of `docs_prefix_filter_jaccard_join`
    (the r14 verdict's order #5): the same exact prefix-filtering
    pipeline at the threshold dedup actually runs, Jaccard >= 0.8
    (5*inter >= 4*union). The base row deliberately demonstrates the
    WORST regime (t=0.3 keeps 71% of postings and the REGIME NOTE says
    so); this row demonstrates the regime the technique is FOR: prefix
    length is |x| - ceil(t*|x|) + 1, so t=0.8 indexes only ~the
    rarest fifth of each set's shingles, and the candidate join
    touches short, rare-first posting lists.

    Candidate-reduction receipt (measured r15 at sf0.01 on the driver
    corpus, same ordered relation both thresholds): t=0.8 indexes
    5,533 of 26,136 postings (21%) and generates exactly 25 candidate
    pairs — every one a true pair (perfect precision here) — where
    t=0.3 on the same corpus keeps 18,568 postings (71%) and generates
    3,058 candidates for the same verify machinery: a 122x candidate
    reduction from the threshold alone. The prefix index PRUNES when
    the threshold is high, exactly the SSJoin/AllPairs claim.
    Exactness is unchanged (theorem, not heuristic): the brute
    posting-join oracle at the same threshold is the completeness
    proof, and the operator's hypothesis property test covers t=0.8 on
    random corpora.

    Shares the warm slots with the base row END TO END: gram arrays,
    the df-capped variant, and — because the persisted ordered-prefix
    relation is threshold-independent (r15 refactor; prefix_len is
    computed at explode time) — the rare-first ordered relation
    itself."""
    from lakehouse_architecture_spark.operators.minhash import (
        capped_gram_arrays,
        gram_arrays,
        prefix_filter_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    g = one_slot_persist(
        gram_arrays(docs, "text", "doc_id"),
        slot="dedup-sim-doc-grams",
        key=(sf_dir,),
    )
    gv = one_slot_persist(
        capped_gram_arrays(g, MAX_DOC_FREQ),
        slot="dedup-sim-doc-grams-capped",
        key=(sf_dir, MAX_DOC_FREQ),
    )
    return prefix_filter_jaccard_pairs(
        gv,
        t_num=4,
        t_den=5,
        slot="dedup-sim-prefix-ordered",
        key=(sf_dir, MAX_DOC_FREQ),
    ).orderBy("doc_a", "doc_b")


OVERLAP_COEFF_ORACLE = f"""
WITH {_SHINGLES_CTE},
{_SHC_CTE},
sizes AS (SELECT doc, COUNT(*) AS n FROM shc GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_inter
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, CAST(i.n_inter AS BIGINT) AS n_inter,
       CAST(za.n AS BIGINT) AS n_a, CAST(zb.n AS BIGINT) AS n_b
FROM inter i
JOIN sizes za ON za.doc = i.doc_a
JOIN sizes zb ON zb.doc = i.doc_b
WHERE 5 * i.n_inter >= 4 * LEAST(za.n, zb.n)
ORDER BY doc_a, doc_b
"""


@query("docs_overlap_coefficient_pairs", oracle=OVERLAP_COEFF_ORACLE)
def docs_overlap_coefficient_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Containment-style near-dup pairs: overlap coefficient
    inter / min(|A|, |B|) >= 0.8 over capped 3-gram shingle sets
    (operators/minhash.ngram_overlap_pairs) — the ASYMMETRIC rung of
    the dedup ladder. A short page wholly quoted inside a long one
    scores ~1.0 here while its Jaccard is tiny; resemblance dedup
    (`docs_ngram_jaccard_pairs`) structurally misses that case, which
    is why production pipelines run a containment rung beside it.
    Every compared value is an exact integer (the threshold is the
    inequality 5*inter >= 4*min); the coefficient itself is derived
    reporting. Shares the minhash-family exploded-shingle slot, so
    running this after the Jaccard row reuses the warm relation."""
    from lakehouse_architecture_spark.operators.minhash import (
        ngram_overlap_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return ngram_overlap_pairs(
        docs,
        "text",
        "doc_id",
        t_num=4,
        t_den=5,
        max_doc_freq=MAX_DOC_FREQ,
        cache_key=(sf_dir, "documents"),
    ).orderBy("doc_a", "doc_b")

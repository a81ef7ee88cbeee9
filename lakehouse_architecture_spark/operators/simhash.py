"""SimHash document fingerprinting (Charikar 2002; Manku et al. WWW'07),
expressed with relational primitives only so Spark and a SQL oracle agree
bit-for-bit.

Per doc: hash every distinct token; for each fingerprint bit position,
sum +1/-1 votes across tokens (+1 if the token's hash has that bit set);
the sign of each sum is the fingerprint bit. Near-dup candidates =
fingerprints within small Hamming distance.

Portability trick: token "hash" bits are drawn from md5 hex digits —
bit j of token t = (hexdigit_{j/4}(md5(t)) >> (3 - j%4)) & 1 — integer
ops every engine has. FINGERPRINT_BITS=16 keeps the per-doc expression
tree compact; production would use 64 bits via xxhash64 (same plan
shape, Spark-only).

Scale shape: the fingerprint is a PURE PROJECTION — per-doc array
aggregates over the token md5 array, no explode and no shuffle (the
SQL oracle keeps the exploded doc × token × bit formulation; both
compute the same votes). The only shuffles in the near-pair pipeline
are the segment-bucket groupBy and the candidate distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_architecture_spark.operators.dedup import normalize_text
from lakehouse_architecture_spark.operators.partitioning import spread_scan

FINGERPRINT_BITS = 16


def _token_bit(tok_hash, bit: int):
    """Bit ``bit`` (Python int) of the md5-derived hash: constant
    nibble/shift folded at plan-build time."""
    nibble = bit // 4
    digit = tok_hash.substr(nibble + 1, 1)  # substr is 1-based
    val = F.conv(digit, 16, 10).cast("int")
    return F.shiftright(val, 3 - bit % 4) % 2


def simhash_fingerprints(
    df: DataFrame, text_col: str, id_col: str, bits: int = FINGERPRINT_BITS
) -> DataFrame:
    """(doc, simhash) — integer fingerprint per document, map-side.

    The md5 array is materialized in its own projection so each token is
    hashed ONCE; the per-bit vote sums are then ``aggregate`` folds over
    that array — the same (token × bit) work the exploded formulation
    does, minus its two aggregation exchanges.
    """
    toks = spread_scan(df, skip_small=False).select(
        F.col(id_col).alias("doc"),
        F.array_distinct(F.split(normalize_text(F.col(text_col)), " ")).alias(
            "toks"
        ),
    )
    hashed = toks.select(
        "doc", F.transform("toks", lambda t: F.md5(t)).alias("hs")
    )

    def bit_term(b: int):
        vote = F.aggregate(
            "hs",
            F.lit(0),
            lambda acc, h: acc + (2 * _token_bit(h, b) - 1),
        )
        return F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0))

    simhash = bit_term(0)
    for b in range(1, bits):
        simhash = simhash + bit_term(b)
    return hashed.select("doc", simhash.cast("long").alias("simhash"))


def hamming_distance(a, b):
    """Popcount of XOR via Spark's bit_count."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 2,
    bits: int = FINGERPRINT_BITS,
    cache_key: object = None,
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs within ``max_hamming``.

    Candidate generation groups on fingerprint halves (pigeonhole: any
    pair within distance d must agree exactly on at least one of d+1
    segments) — here 2 segments for d<=1-per-segment behavior, which at
    16 bits is a fine bucket key; production-64-bit uses 4 segments.

    r17 (guide §2.3/§2.4): the fingerprint RIDES THROUGH the bucket
    generation as a (doc, simhash) struct instead of being joined back
    afterwards — each bucket collects its sorted member structs, the
    chained posexplode/explode(slice) generators stream the i<j pairs
    (the minhash candidate_pairs pattern, peak memory O(bucket)), and
    the Hamming verify runs INSIDE that codegen stage. The former shape
    distinct'd doc-id pairs first and then re-joined the fingerprint
    relation TWICE (two shuffles of the full candidate stream, pinned
    shuffle_hash); now over-threshold collisions die before the
    distinct, which therefore shuffles only the verified survivors —
    strictly fewer rows, zero joins. The simhash is functionally
    dependent on the doc id, so distinct over (doc_a, doc_b, hamming)
    equals the old pair distinct row-for-row.
    """
    from lakehouse_architecture_spark.operators.caching import one_slot_persist

    # one-slot persisted (operators/caching): the fingerprint relation
    # feeds both band explodes; bounded across sessions, warm across
    # same-cache_key calls
    fp = one_slot_persist(
        simhash_fingerprints(df, text_col, id_col, bits),
        slot="simhash-fingerprints",
        key=None if cache_key is None else (cache_key, bits),
    )
    half = bits // 2
    seg = fp.select(
        F.struct("doc", "simhash").alias("m"),
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band"),
                    (F.col("simhash") % (1 << half)).cast("string").alias("band_key"),
                ),
                F.struct(
                    F.lit(1).alias("band"),
                    F.shiftright(F.col("simhash"), half).cast("string").alias("band_key"),
                ),
            )
        ).alias("s"),
    ).select("m", "s.band", "s.band_key")
    # sort_array on (doc, simhash) structs orders by doc first, so
    # index order still gives doc_a < doc_b for free (a doc appears
    # once per band — the list has no duplicate docs).
    buckets = (
        seg.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list("m")).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    lefts = buckets.select("ms", F.posexplode("ms").alias("i", "ma"))
    return (
        lefts.select(
            F.col("ma.doc").alias("doc_a"),
            F.col("ma.simhash").alias("sh_a"),
            F.explode(
                F.slice("ms", F.col("i") + 2, F.size("ms"))
            ).alias("mb"),
        )
        .select(
            "doc_a",
            F.col("mb.doc").alias("doc_b"),
            hamming_distance(F.col("sh_a"), F.col("mb.simhash")).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )

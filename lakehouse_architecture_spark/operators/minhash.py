"""MinHash + LSH near-duplicate detection, Spark-first.

Classic shingle -> minhash -> band -> bucket-join pipeline (Broder 1997;
Leskovec/Rajaraman/Ullman ch.3), built entirely from relational
primitives so it runs at any scale and is reproducible across engines:

- shingles: 3-gram word shingles from normalized text (array exprs);
- hash family: 64-bit INTEGER min-hash. Each seed group computes
  ``md5(seed || ':' || shingle)`` once and slices the 32-char digest
  into four independent 28-bit integers (7 hex chars each,
  ``conv(substr(hex, 7*j+1, 7), 16, 10)``), so 8 signatures cost 2 md5
  calls per shingle instead of 8, and every min/compare/band operation
  runs on longs instead of 32-char strings (measured ~35% off the
  end-to-end LSH wall at sf0.1). The slices are independent bits of a
  cryptographic digest — the min-wise property per signature and the
  cross-signature independence LSH banding needs both hold;
- bands: r=2 consecutive 28-bit signatures pack EXACTLY into one long
  (``sig_lo * 2^28 + sig_hi`` < 2^56) — a collision-free integer band
  key, no hashing; docs sharing any band key are candidates (one
  shuffle on band key);
- verification: exact Jaccard on the candidate pairs only, from the
  per-doc gram arrays (``size(array_intersect)``), never all-pairs.
  Both verify stages, LSH's :func:`jaccard_verify_arrays` and the
  prefix filter's, choose their join with one dispatch
  (:func:`_verify_join_hint`): the per-doc array relation is broadcast
  when two independent metadata size estimates sit under
  ``_VERIFY_BROADCAST_BYTES``, and shuffle-hash joined otherwise.

The signature and band projections are SQL text, one ``selectExpr``
each: a Python-lambda ``F.transform`` costs ~64 Py4J round trips to
plan, the same expression as text ~3.

Scale: the only all-to-all structure is the groupBy on band keys;
candidate verification joins exploded shingles for candidate docs only.
Skewed buckets (boilerplate docs) are AQE's skew-join case; a salt on
band key + second-level dedup of pairs handles the pathological case.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_spark.operators.caching import one_slot_persist
from lakehouse_architecture_spark.operators.dedup import normalize_text
from lakehouse_architecture_spark.operators.partitioning import (
    scan_size_bytes,
    spread_scan,
)

DEFAULT_NUM_HASHES = 8
DEFAULT_BAND_SIZE = 2  # r; bands b = num_hashes / r

# Signature family geometry: each md5 seed digest yields 4 independent
# 28-bit slices (7 hex chars each). 28 bits keeps two packed signatures
# inside a signed long (2*28 = 56 < 63) for the band key.
_SLICES_PER_SEED = 4
_SLICE_HEX_WIDTH = 7
_SLICE_BITS = 28

# Cap on the (doc, grams) source-relation size estimate under which the
# prefix-filter verify joins may BROADCAST the per-doc ordered arrays
# instead of the pinned shuffle_hash (guide §3.1): the broadcast
# relation is ~the corpus token footprint, so a sub-128 MiB source
# frames to at most a few hundred MB — fine for one build; a 100 TB
# corpus is far above the cap and keeps the scale-safe shuffle_hash.
# Unknown size (None) also keeps shuffle_hash.
_VERIFY_BROADCAST_BYTES = 128 * 1024 * 1024


def _seed_hex(s: int, shingle: str) -> str:
    """SQL text: seed group ``s``'s md5 digest of a shingle expression."""
    return f"md5(concat('{s}:', {shingle}))"


def _slice_long(hex_expr: str, i: int) -> str:
    """SQL text: signature ``i``'s 28-bit integer slice of its seed
    group's digest."""
    pos = _SLICE_HEX_WIDTH * (i % _SLICES_PER_SEED) + 1
    return f"CAST(conv(substring({hex_expr}, {pos}, {_SLICE_HEX_WIDTH}), 16, 10) AS BIGINT)"


def gram_arrays(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(doc, grams) — the distinct n-gram word shingles of each doc as an
    array column, the shared front end of the whole shingle family.

    Docs with fewer than ``n`` tokens contribute their full token string
    as a single shingle so they can still be compared.

    The token array is projected ONCE in its own Project node before the
    per-shingle lambda touches it. Inlining ``split(normalize(text))``
    into every ``element_at`` (the naive composition) makes the regex
    normalization O(tokens * n) per document — a 30x slowdown measured at
    sf0.1. CollapseProject keeps the split materialized because the alias
    is referenced more than once.

    Repartitioned BEFORE the heavy work when the scan has too few
    splits: testdata parquet is one row group (one scan task), and the
    normalize/split/n-gram/md5 work downstream is the pipeline's CPU
    hot spot — without this it runs on a single core (measured:
    minhash_lsh_near_dups was 18% of the bench wall). A cluster-scale
    scan already has many files, so :func:`spread_scan` skips the
    repartition (a full shuffle of the corpus) there.
    """
    base = spread_scan(df, skip_small=False).select(
        F.col(id_col).alias("doc"),
        F.split(normalize_text(F.col(text_col)), " ").alias("toks"),
    )
    toks = F.col("toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + k) for k in range(n)]
            ),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return base.select("doc", F.array_distinct(grams).alias("grams"))


def explode_grams(g: DataFrame, *extra_cols: str) -> DataFrame:
    """``(extra_cols..., shingle)`` from a (…, grams) relation via
    ``explode_outer`` + a post-explode null filter — NOT ``explode``.

    ``explode`` lets Catalyst infer a ``size(grams) > 0 AND
    isnotnull(grams)`` filter from the Generate and push it below
    :func:`spread_scan`'s repartition, inlining the ENTIRE
    normalize/split/n-gram expression into the narrow pre-exchange scan
    stage — the heavy shingle work then runs twice per row on however
    few tasks the scan has (measured at sf0.1: a 1-file scan made
    ``shingles(...).count()`` a 31 s single-task stage vs ~2 s spread).
    ``explode_outer`` infers no filter; gram arrays are non-empty by
    construction (``gram_arrays`` falls back to the full token string),
    so dropping null shingles AFTER the explode is row-equivalent and
    costs one cheap post-exchange predicate."""
    return g.select(
        *extra_cols, F.explode_outer("grams").alias("shingle")
    ).filter(F.col("shingle").isNotNull())


def shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) exploded distinct n-gram word shingles.

    No trailing .distinct(): array_distinct already dedupes within the
    doc and ``doc`` is part of the output row, so (doc, shingle) pairs
    are globally unique — the extra full shuffle would be pure waste.
    """
    return explode_grams(gram_arrays(df, text_col, id_col, n), "doc")


def minhash_signatures(
    sh: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES
) -> DataFrame:
    """One row per doc with LONG columns sig_0..sig_{k-1} (min 28-bit
    digest slice per signature), aggregated over an exploded
    (doc, shingle) relation.

    The seed digests are projected ONCE per row before the aggregate so
    four signature slices share one md5 call; CollapseProject leaves the
    projection in place because each digest alias is referenced more
    than once and md5 is not a cheap expression.
    """
    n_seeds = (num_hashes + _SLICES_PER_SEED - 1) // _SLICES_PER_SEED
    pre = sh.selectExpr(
        "doc", *[f"{_seed_hex(s, 'shingle')} AS hx_{s}" for s in range(n_seeds)]
    )
    aggs = [
        F.expr(f"min({_slice_long(f'hx_{i // _SLICES_PER_SEED}', i)})").alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return pre.groupBy("doc").agg(*aggs)


def minhash_signatures_from_grams(
    g: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES
) -> DataFrame:
    """Map-side minhash: sig_i = array_min over the doc's gram array.

    Relationally identical to :func:`minhash_signatures` (MIN over the
    same per-doc shingle set) but computed WITHOUT exploding — no
    shuffle at all. At 100 TB this is the difference between shuffling
    the entire shingle relation (≈10x the corpus bytes) for a groupBy
    and shuffling nothing until the (doc, band_key) stage, which is
    8 short rows per document.

    The per-seed digest ARRAYS are projected once (one md5 per shingle
    per seed group), then each of the four signatures in a group is an
    ``array_min`` over an integer-slice transform of that shared array.
    CollapseProject keeps the digest arrays materialized because each
    is referenced by four non-cheap consumers.
    """
    n_seeds = (num_hashes + _SLICES_PER_SEED - 1) // _SLICES_PER_SEED
    base = g.selectExpr(
        "doc",
        *[f"transform(grams, x -> {_seed_hex(s, 'x')}) AS hx_{s}" for s in range(n_seeds)],
    )
    return base.selectExpr(
        "doc",
        *[
            f"array_min(transform(hx_{i // _SLICES_PER_SEED}, h -> {_slice_long('h', i)}))"
            f" AS sig_{i}"
            for i in range(num_hashes)
        ],
    )


def lsh_band_keys(
    sigs: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
) -> DataFrame:
    """(doc, band, band_key) from LONG signatures.

    For the default r=2, two 28-bit signatures pack exactly into one
    long (``sig_lo * 2^28 + sig_hi``) — a COLLISION-FREE integer band
    key, cheaper than hashing and trivially replicated in any SQL
    engine. Wider bands fall back to an md5 over the stringified
    signatures (the packed form would overflow a signed long). One
    ``stack`` generator over SQL text emits the doc's bands.
    """
    assert num_hashes % band_size == 0
    bands = []
    for b in range(num_hashes // band_size):
        cols = [f"sig_{b * band_size + j}" for j in range(band_size)]
        if band_size == 1:
            key = cols[0]
        elif band_size == 2:
            key = f"{cols[0]} * {1 << _SLICE_BITS} + {cols[1]}"
        else:
            key = "md5(concat_ws('|', {}))".format(
                ", ".join(f"CAST({c} AS STRING)" for c in cols)
            )
        bands.append(f"{b}, {key}")
    return sigs.selectExpr(
        "doc", f"stack({len(bands)}, {', '.join(bands)}) AS (band, band_key)"
    )


def candidate_pairs(bands: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one band bucket.

    One groupBy on the bucket key collects each bucket's (sorted) doc
    list, and the pairs are generated from that list by two CHAINED
    generators — ``posexplode`` yields each left element, then
    ``explode(slice)`` streams its partners — one shuffle of the
    8-rows-per-doc band relation plus the final pair distinct, instead
    of the band self-join's two shuffle writes. A doc appears once per
    band, so the sorted list has no duplicates and index order gives
    doc_a < doc_b for free.

    The two-step generation matters: building the full per-bucket pair
    array in one nested-transform expression materializes O(bucket^2)
    structs in a single row buffer and OOMs on a few-hundred-doc bucket
    (measured at a 100k-doc corpus with 16-bit simhash keys); chained
    generators keep peak memory at O(bucket) while producing the same
    rows. A bucket of MILLIONS of docs would still blow the collected
    list itself — the 100 TB mitigation for that is upstream key design
    (shingle document-frequency cap, wider fingerprint segments), not
    the pairing strategy.
    """
    buckets = (
        bands.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list("doc")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    lefts = buckets.select(
        "ds", F.posexplode("ds").alias("i", "doc_a")
    )
    return (
        lefts.select(
            "doc_a",
            F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias("doc_b"),
        )
        .distinct()
    )


def df_capped_shingles(sh: DataFrame, max_doc_freq: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_doc_freq``.

    The 100 TB skew mitigation: a boilerplate shingle shared by millions
    of docs makes any shingle-keyed self-join quadratic in that bucket.
    One extra groupBy-count + semi-join removes those stop-shingles;
    Jaccard is then computed over the informative-shingle sets only
    (identical to the uncapped result whenever no shingle exceeds the
    cap, which a test asserts on the test corpus).
    """
    keep = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_doc_freq)
        .select("shingle")
    )
    return sh.join(keep, "shingle")


def stop_shingle_list(g: DataFrame, max_doc_freq: int) -> DataFrame:
    """1-row (stop_list) relation: every shingle whose document
    frequency in ``g`` exceeds the cap. SMALL by construction — bounded
    by total_shingle_occurrences / cap — so it broadcasts."""
    return (
        explode_grams(g)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .agg(F.collect_list("shingle").alias("stop_list"))
    )


def apply_stop_list(g: DataFrame, stop: DataFrame) -> DataFrame:
    """Remove stop-shingles from a (doc, grams) ARRAY relation map-side:
    single-row broadcast + ``array_except`` — never a shuffle of the
    exploded relation."""
    return g.crossJoin(F.broadcast(stop)).select(
        "doc", F.array_except("grams", "stop_list").alias("grams")
    )


def capped_gram_arrays(g: DataFrame, max_doc_freq: int) -> DataFrame:
    """Apply the document-frequency cap to a (doc, grams) ARRAY relation
    without re-keying the corpus (stop list over ``g`` itself). ``g`` is
    read twice (stop-list scan + the capped projection): pass a cached
    relation."""
    return apply_stop_list(g, stop_shingle_list(g, max_doc_freq))


def _verify_join_hint(*estimates: DataFrame) -> str:
    """The join hint for a verify stage's per-doc array side: broadcast
    when every one of the given INDEPENDENT size estimates is known and
    under ``_VERIFY_BROADCAST_BYTES``, else ``shuffle_hash``.

    Metadata only (:func:`~.partitioning.scan_size_bytes`, no Spark job).
    Two estimates must agree because size-only stat propagation through
    explode/aggregate nodes with array columns is unreliable and a
    forced broadcast hint bypasses ``autoBroadcastJoinThreshold``; an
    unknown or oversized estimate keeps the scale-safe shuffle_hash,
    never "assume small". The quadratic candidate-pair side is never
    the build side either way: only the per-doc array relation, bounded
    by the corpus token volume, is hinted."""
    sizes = [scan_size_bytes(r) for r in estimates]
    small = all(b is not None and b < _VERIFY_BROADCAST_BYTES for b in sizes)
    return "broadcast" if small else "shuffle_hash"


def jaccard_verify_arrays(
    pairs: DataFrame, g: DataFrame, source: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard for candidate pairs, computed from per-doc gram
    ARRAYS: two joins attach each side's (distinct) shingle array, then
    ``size(array_intersect)`` scores the pair map-side.

    Versus an exploded formulation (4 joins + 2 groupBys over the
    shingle relation) this is 2 joins and zero aggregation. Pairs where
    either side's capped array is empty score 0 (or null when both are
    empty), as an exploded inner join would drop them under any
    threshold > 0.

    Join strategy: the prefix-filter verify's dispatch
    (:func:`_verify_join_hint`) over two independent size estimates —
    ``g``'s own and that of ``source``, the relation ``g`` was derived
    from (``g`` itself when not given). Under the cap ``g`` is the
    broadcast build side of both the ``doc_a`` and the ``doc_b`` join,
    so no join exchanges the candidate pairs (adaptive execution plans
    one broadcast stage per join: it does not reuse a broadcast over a
    cached relation). Over the cap or at an unknown size the GRAM side carries a
    shuffle-hash hint, so the statically-unsized candidate relation can
    never be picked as a broadcast build — Catalyst's estimate for
    generate/aggregate output is a wild underestimate, and on a
    dup-heavy corpus the "small" pair side is actually quadratic
    (measured: a 19M-pair broadcast build OOMed a 100k-doc run in the
    sibling simhash pipeline). The gram side's per-partition build is
    then bounded by corpus/partitions.
    """
    hint = _verify_join_hint(g, g if source is None else source)
    ga = g.select(F.col("doc").alias("doc_a"), F.col("grams").alias("ga")).hint(hint)
    gb = g.select(F.col("doc").alias("doc_b"), F.col("grams").alias("gb")).hint(hint)
    n_common = F.size(F.array_intersect("ga", "gb"))
    denom = F.size("ga") + F.size("gb") - n_common
    return (
        pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (n_common.cast("double") / F.when(denom > 0, denom)).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.3,
    shingle_n: int = 3,
    max_doc_freq: int | None = None,
    cache_key: object = None,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via an inverted-index join.

    No LSH approximation: any pair with Jaccard > 0 shares at least one
    shingle, so joining the exploded shingle relation to itself on
    ``shingle`` enumerates exactly the pairs with nonzero intersection —
    never the O(n^2) cross product. At 100 TB the hot spot is stop-shingle
    skew (a shingle present in millions of docs); ``max_doc_freq`` drops
    shingles above that document-frequency cap before the join (one
    groupBy count + semi-join, :func:`df_capped_shingles`), bounding any
    bucket's pair fan-out at cap^2.

    The internal persists go through one-slot caches (operators/
    caching): both self-join sides consume the exploded relation, and
    uncached each side would redo the normalize/shingle/cap work
    (measured 3x slower at sf0.1) — but a plain ``.cache()`` outlives
    the call in a multi-query session. ``cache_key`` (optional) names
    the INPUT's logical identity (e.g. ``(sf_dir, "documents")``):
    consecutive calls with an equal key reuse the warm slot instead of
    rebuilding; callers over changing inputs leave it None.
    """
    slot_key = (
        None if cache_key is None else (cache_key, shingle_n, max_doc_freq)
    )
    g = gram_arrays(df, text_col, id_col, shingle_n)
    if max_doc_freq is not None:
        # Persisted because the cap reads g twice (stop-list scan +
        # capped projection); the capped arrays then feed the explode.
        g = capped_gram_arrays(
            one_slot_persist(g, slot="minhash-njp-grams", key=slot_key),
            max_doc_freq,
        )
    # Set size travels WITH each exploded row (one extra int column), so
    # the pair aggregation already has both sizes — no per-doc sizes
    # relation and none of its two re-join shuffles.
    sh = one_slot_persist(
        explode_grams(
            g.select("doc", F.size("grams").alias("n"), "grams"), "doc", "n"
        ),
        slot="minhash-njp-exploded",
        key=slot_key,
    )
    sa = sh.select(
        F.col("doc").alias("doc_a"), F.col("n").alias("n_a"), "shingle"
    )
    sb = sh.select(
        F.col("doc").alias("doc_b"), F.col("n").alias("n_b"), "shingle"
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        sa.join(sb, (sa.shingle == sb.shingle) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def minhash_lsh_dedupe(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    shingle_n: int = 3,
    max_doc_freq: int | None = None,
    persist_intermediate: bool = True,
    cache_key: object = None,
) -> DataFrame:
    """Near-dup pairs with exact Jaccard >= threshold (candidates via LSH).

    The gram-array relation fans out to the signature projection AND the
    verification stage — cached so the normalize/shingle work happens
    once (the reference's cache-before-fan-out pattern,
    /root/reference/src/etl_utils.py:97-98). Everything downstream of
    the cache is array-side: signatures via
    :func:`minhash_signatures_from_grams` (no shuffle), candidates via
    one bucket groupBy, the DF cap via a broadcast stop list, and
    verification via :func:`jaccard_verify_arrays` — the whole pipeline
    shuffles only band buckets, the pair distinct, and the stop-list
    counts, never the exploded shingle relation. ``max_doc_freq`` caps
    stop-shingles in the verification stage only (signatures always use
    the full sets, keeping LSH candidate recall identical).

    Cache lifetime (r10): the internal persists are ONE-SLOT caches
    (operators/caching) — each call releases the previous call's gram
    relations, so repeated passes bound session cache to one relation
    per site instead of leaking one entry per invocation. Passing
    ``cache_key`` (the input's logical identity, e.g. ``(sf_dir,
    "documents")``) additionally lets consecutive same-input calls
    reuse the warm slot. ``persist_intermediate=False`` skips the
    persists entirely — the gram lineage is then recomputed by its 2-3
    consumers; the streaming ingest job does exactly this, and
    repeated passes over the SAME corpus should use
    :class:`MinHashCorpusIndex` + :func:`minhash_lsh_incremental_indexed`,
    whose persistence is explicit (``index.persist()``/``unpersist()``).
    """
    slot_key = (
        None if cache_key is None else (cache_key, shingle_n, max_doc_freq)
    )

    def kept(build, slot):
        # a warm keyed slot builds nothing: the builder runs on a miss only
        return one_slot_persist(build, slot=slot, key=slot_key) if persist_intermediate else build()

    g = kept(lambda: gram_arrays(df, text_col, id_col, shingle_n), "minhash-lsh-grams")
    sigs = minhash_signatures_from_grams(g, num_hashes)
    bands = lsh_band_keys(sigs, num_hashes, band_size)
    pairs = candidate_pairs(bands)
    # The verify relation is read twice (ga and gb sides) — persist the
    # capped projection so the stop-list agg + array_except run once.
    if max_doc_freq is None:
        gv = g
    else:
        gv = kept(lambda: capped_gram_arrays(g, max_doc_freq), "minhash-lsh-grams-capped")
    return (
        jaccard_verify_arrays(pairs, gv, source=g)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_lsh_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    shingle_n: int = 3,
    max_doc_freq: int | None = None,
    cache_key: object = None,
) -> DataFrame:
    """INCREMENTAL near-dup detection: (new_doc, corpus_doc, jaccard)
    pairs where a NEW-batch document near-duplicates an EXISTING-corpus
    document — the production dedup shape at 100 TB, where each daily
    batch is checked against the accumulated corpus without ever
    re-pairing the corpus against itself.

    Same signature/band machinery as :func:`minhash_lsh_dedupe`, but
    candidates come from an ASYMMETRIC join of new-batch band keys
    against corpus band keys: cost is sum over shared cells of
    |new_cell| * |corpus_cell|, proportional to the batch, never to
    corpus^2. This RAW-DataFrame form recomputes corpus signatures per
    call — fine for a one-off audit; the production daily-run shape is
    :func:`build_minhash_corpus_index` +
    :func:`minhash_lsh_incremental_indexed`, which persists the corpus
    side once and touches only the batch per run. New-vs-new duplicates
    are the symmetric operator's job on the batch alone.

    The stop-shingle cap (``max_doc_freq``) is computed over the UNION
    of both sides — document frequency is a corpus-wide property, and a
    boilerplate shingle must be dropped consistently from both sides of
    the verify or the capped Jaccard would be asymmetric.

    Cache lifetime (r10): the ``gn``/``gc`` persists are one-slot
    caches (operators/caching) — each call releases the previous
    call's relations, bounding session cache; ``cache_key`` names the
    (new, corpus) input identity for warm reuse across same-input
    calls. The indexed variant has no hidden caches at all.
    """
    slot_key = None if cache_key is None else (cache_key, shingle_n)
    gn = one_slot_persist(
        gram_arrays(new_df, text_col, id_col, shingle_n),
        slot="minhash-incr-new-grams",
        key=slot_key,
    )
    gc = one_slot_persist(
        gram_arrays(corpus_df, text_col, id_col, shingle_n),
        slot="minhash-incr-corpus-grams",
        key=slot_key,
    )
    bn = lsh_band_keys(
        minhash_signatures_from_grams(gn, num_hashes), num_hashes, band_size
    )
    bc = lsh_band_keys(
        minhash_signatures_from_grams(gc, num_hashes), num_hashes, band_size
    )
    pairs = (
        bn.select(F.col("doc").alias("new_doc"), "band", "band_key")
        .join(
            bc.select(F.col("doc").alias("corpus_doc"), "band", "band_key"),
            ["band", "band_key"],
        )
        .select("new_doc", "corpus_doc")
        .distinct()
    )
    if max_doc_freq is not None:
        stop = stop_shingle_list(gn.unionByName(gc), max_doc_freq)
        vn, vc = apply_stop_list(gn, stop), apply_stop_list(gc, stop)
    else:
        vn, vc = gn, gc
    ga = vn.select(F.col("doc").alias("new_doc"), F.col("grams").alias("ga")).hint(
        "shuffle_hash"
    )
    gb = vc.select(
        F.col("doc").alias("corpus_doc"), F.col("grams").alias("gb")
    ).hint("shuffle_hash")
    n_common = F.size(F.array_intersect("ga", "gb"))
    denom = F.size("ga") + F.size("gb") - n_common
    jac = n_common.cast("double") / F.when(denom > 0, denom)
    return (
        pairs.join(ga, "new_doc")
        .join(gb, "corpus_doc")
        .select("new_doc", "corpus_doc", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .select(
            "new_doc", "corpus_doc", F.round("jaccard", 6).alias("jaccard")
        )
    )


@dataclass(frozen=True)
class MinHashCorpusIndex:
    """Precomputed corpus-side state for amortized incremental dedup.

    Three relations — everything a batch run needs, so the corpus text
    is NEVER re-shingled after the index is built:

    - ``bands``: (doc, band, band_key) — the LSH join side;
    - ``grams``: (doc, grams) — the exact-Jaccard verify side;
    - ``shingle_dfs``: (shingle, df) — corpus-wide shingle document
      frequencies, so the stop-shingle cap over corpus+batch is a merge
      of this aggregate with the (small) batch-side counts instead of a
      re-aggregation of the whole corpus. INVARIANT: this is a
      MERGEABLE PARTIAL aggregate — a shingle MAY appear in multiple
      rows (every consumer groupBy-sums before use), which is what lets
      a streaming ingest APPEND per-batch partial counts to the saved
      relation instead of rewriting a corpus-scale file
      (streaming/jobs.stream_near_dup_ingest).

    Lifetime is EXPLICIT: ``persist()``/``unpersist()`` for a
    long-lived session, ``save()``/``load()`` (parquet) across runs —
    the daily production shape is load, check batch, ``append`` the
    batch, save. No hidden ``.cache()`` anywhere in the indexed path.
    """

    bands: DataFrame
    grams: DataFrame
    shingle_dfs: DataFrame
    num_hashes: int
    band_size: int
    shingle_n: int

    def persist(self) -> "MinHashCorpusIndex":
        for rel in (self.bands, self.grams, self.shingle_dfs):
            rel.persist()
        return self

    def unpersist(self) -> "MinHashCorpusIndex":
        for rel in (self.bands, self.grams, self.shingle_dfs):
            rel.unpersist()
        return self

    def append(
        self, batch_df: DataFrame, text_col: str, id_col: str
    ) -> "MinHashCorpusIndex":
        """A NEW index with ``batch_df``'s documents merged in — union
        the band/gram relations, sum the shingle document frequencies.
        Cost ∝ batch (plus the df merge, ∝ distinct shingles touched);
        the existing corpus relations are reused as-is."""
        b = build_minhash_corpus_index(
            batch_df,
            text_col,
            id_col,
            num_hashes=self.num_hashes,
            band_size=self.band_size,
            shingle_n=self.shingle_n,
        )
        merged_dfs = (
            self.shingle_dfs.unionByName(b.shingle_dfs)
            .groupBy("shingle")
            .agg(F.sum("df").alias("df"))
        )
        return MinHashCorpusIndex(
            bands=self.bands.unionByName(b.bands),
            grams=self.grams.unionByName(b.grams),
            shingle_dfs=merged_dfs,
            num_hashes=self.num_hashes,
            band_size=self.band_size,
            shingle_n=self.shingle_n,
        )

    def save(self, path: str) -> None:
        """Persist the index as three parquet relations + a meta row.
        Path may be any Hadoop-visible FS (local, S3, HDFS). The df
        relation is written FULLY aggregated (one row per shingle), so
        a load -> save round trip doubles as compaction of the partial
        rows a streaming ingest appends. Compact to a NEW path and
        swap (never save over the path being read — a lazy
        read-under-overwrite loses the input mid-job)."""
        self.bands.write.mode("overwrite").parquet(f"{path}/bands")
        self.grams.write.mode("overwrite").parquet(f"{path}/grams")
        self.shingle_dfs.groupBy("shingle").agg(
            F.sum("df").alias("df")
        ).write.mode("overwrite").parquet(f"{path}/shingle_dfs")
        spark = self.bands.sparkSession
        spark.createDataFrame(
            [(self.num_hashes, self.band_size, self.shingle_n)],
            "num_hashes int, band_size int, shingle_n int",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")

    @staticmethod
    def load(spark: SparkSession, path: str) -> "MinHashCorpusIndex":
        meta = spark.read.parquet(f"{path}/meta").collect()[0]
        return MinHashCorpusIndex(
            bands=spark.read.parquet(f"{path}/bands"),
            grams=spark.read.parquet(f"{path}/grams"),
            shingle_dfs=spark.read.parquet(f"{path}/shingle_dfs"),
            num_hashes=meta.num_hashes,
            band_size=meta.band_size,
            shingle_n=meta.shingle_n,
        )


def build_minhash_corpus_index(
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    shingle_n: int = 3,
) -> MinHashCorpusIndex:
    """One pass over the corpus producing the :class:`MinHashCorpusIndex`
    relations. The gram relation is the shared front end: bands derive
    from it map-side (no shuffle), the df aggregate is one groupBy on
    shingle. Callers persist or save the result — building is the only
    time the corpus text is shingled."""
    g = gram_arrays(corpus_df, text_col, id_col, shingle_n)
    bands = lsh_band_keys(
        minhash_signatures_from_grams(g, num_hashes), num_hashes, band_size
    )
    dfs = (
        explode_grams(g)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return MinHashCorpusIndex(
        bands=bands,
        grams=g,
        shingle_dfs=dfs,
        num_hashes=num_hashes,
        band_size=band_size,
        shingle_n=shingle_n,
    )


def minhash_lsh_incremental_indexed(
    new_df: DataFrame,
    index: MinHashCorpusIndex,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Batch-vs-corpus near-dup pairs against a PRECOMPUTED corpus index
    — the amortized daily-run shape: per run, only the new batch is
    shingled/signed; the corpus contributes its persisted band keys
    (join side), gram arrays (verify side) and shingle document
    frequencies (stop-cap side). Semantics are identical to
    :func:`minhash_lsh_incremental` on (new, corpus): the stop-shingle
    cap still reflects corpus+batch-wide document frequency, computed
    here as a merge of the index's df aggregate with the batch's own
    counts instead of re-aggregating the corpus.

    No hidden caches: the batch-side gram lineage is recomputed by its
    2-3 consumers (cost ∝ batch, the deliberate trade for leak-free
    repeated invocation); persistence of the CORPUS side — the part
    worth amortizing — is the caller's explicit ``index.persist()``.
    """
    gn = gram_arrays(new_df, text_col, id_col, index.shingle_n)
    bn = lsh_band_keys(
        minhash_signatures_from_grams(gn, index.num_hashes),
        index.num_hashes,
        index.band_size,
    )
    pairs = (
        bn.select(F.col("doc").alias("new_doc"), "band", "band_key")
        .join(
            index.bands.select(
                F.col("doc").alias("corpus_doc"), "band", "band_key"
            ),
            ["band", "band_key"],
        )
        .select("new_doc", "corpus_doc")
        .distinct()
    )
    if max_doc_freq is not None:
        batch_dfs = (
            explode_grams(gn)
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        stop = (
            index.shingle_dfs.unionByName(batch_dfs)
            .groupBy("shingle")
            .agg(F.sum("df").alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .agg(F.collect_list("shingle").alias("stop_list"))
        )
        vn, vc = apply_stop_list(gn, stop), apply_stop_list(index.grams, stop)
    else:
        vn, vc = gn, index.grams
    ga = vn.select(F.col("doc").alias("new_doc"), F.col("grams").alias("ga")).hint(
        "shuffle_hash"
    )
    gb = vc.select(
        F.col("doc").alias("corpus_doc"), F.col("grams").alias("gb")
    ).hint("shuffle_hash")
    n_common = F.size(F.array_intersect("ga", "gb"))
    denom = F.size("ga") + F.size("gb") - n_common
    jac = n_common.cast("double") / F.when(denom > 0, denom)
    return (
        pairs.join(ga, "new_doc")
        .join(gb, "corpus_doc")
        .select("new_doc", "corpus_doc", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .select(
            "new_doc", "corpus_doc", F.round("jaccard", 6).alias("jaccard")
        )
    )


def prefix_filter_jaccard_pairs(
    gv: DataFrame,
    t_num: int = 3,
    t_den: int = 10,
    slot: str | None = None,
    key: object = None,
) -> DataFrame:
    """EXACT thresholded set-similarity join (Jaccard >= t_num/t_den)
    over a (doc, grams) ARRAY relation via PREFIX FILTERING (Chaudhuri
    et al. SSJoin 2006 / Bayardo et al. AllPairs WWW'07 / Xiao et al.
    PPJoin): only each set's rare-first PREFIX of length
    |x| - ceil(t*|x|) + 1 is indexed. Under one consistent global
    token order, J(A,B) >= t forces a shared token inside BOTH
    prefixes (pigeonhole on the minimum overlap ceil(t*max)), so the
    prefix join generates a candidate SUPERSET and the exact verify
    step makes the result identical to the brute-force join — exact by
    theorem, unlike MinHash/LSH (pinned by the brute-force property
    test and the query's brute-force oracle).

    The threshold is a RATIONAL (t_num/t_den) compared as the integer
    inequality t_den*inter >= t_num*union — no float boundary. The
    canonical order is (document frequency ASC, shingle ASC): prefixes
    then hold each set's RAREST tokens, so posting lists in the
    candidate join are short by construction; ceil(t*n) folds to
    (t_num*n + t_den - 1) DIV t_den. The length filter
    (t_den*min >= t_num*max, implied by J >= t) prunes inside the
    join. Returns (doc_a, doc_b, n_inter, n_union), doc_a < doc_b.

    Precondition: ``grams`` arrays must be DISTINCT per doc (what
    :func:`gram_arrays` produces) — duplicates would inflate set sizes
    and document frequencies while ``array_intersect`` dedupes,
    skewing every count.

    ``slot``/``key`` one-slot-persist the ordered-prefix relation (it
    is consumed twice: candidate generation + verification). The
    persisted relation is THRESHOLD-INDEPENDENT (the rare-first order
    and set sizes; ``prefix_len`` is computed at explode time), so
    rows probing different thresholds over the same corpus share one
    warm slot — the r15 strict twin reuses the t=0.3 row's relation."""
    sh = gv.select("doc", F.explode("grams").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        sh.join(dfreq, "shingle")
        .groupBy("doc")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(df, shingle))),"
                " s -> s.shingle)"
            ).alias("og")
        )
        .withColumn("n", F.size("og"))
    )
    ov = (
        one_slot_persist(ordered, slot=slot, key=key)
        if slot is not None
        else ordered
    )
    prefix_len = F.expr(
        f"n - (({t_num} * n + {t_den - 1}) DIV {t_den}) + 1"
    )
    # posexplode keeps each prefix token's 1-based position in ``og`` for
    # the POSITIONAL filter below (PPJoin, Xiao et al.).
    pref = ov.select(
        "doc",
        "n",
        F.posexplode(F.slice(F.col("og"), F.lit(1), prefix_len)).alias(
            "p", "shingle"
        ),
    )
    a = pref.select(
        F.col("doc").alias("doc_a"),
        F.col("n").alias("n_a"),
        (F.col("p") + 1).alias("pa"),
        "shingle",
    )
    b = pref.select(
        F.col("doc").alias("doc_b"),
        F.col("n").alias("n_b"),
        (F.col("p") + 1).alias("pb"),
        "shingle",
    )
    # Positional filter (r16, guide §2.3 "prune before the expensive
    # step"): the former ``.distinct()`` becomes a same-shuffle groupBy
    # carrying c (matched prefix tokens), the max matched positions and
    # the set sizes. Both ``og`` arrays share ONE global token order, so
    # for common tokens positions rise together; every common token NOT
    # matched in both prefixes is globally after every matched one,
    # hence occupies a position > mpa in A AND > mpb in B. Therefore
    # inter <= c + min(n_a - mpa, n_b - mpb), while J >= t forces
    # inter >= t_num*(n_a+n_b) / (t_num+t_den); for integer ubound the
    # ceil folds away: keep iff (t_num+t_den)*ubound >= t_num*(n_a+n_b)
    # — all-integer, no float boundary. Pairs failing the bound are
    # provably below threshold and skip verification entirely (measured
    # sf0.1, t=3/10: 596,550 -> 310,170 candidates, -48%, final rows
    # identical; completeness re-proven by the brute-force property
    # tests at t=0.3/0.5/0.8).
    ubound = F.col("c") + F.least(
        F.col("n_a") - F.col("mpa"), F.col("n_b") - F.col("mpb")
    )
    cands = (
        a.join(b, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                t_den * F.least("n_a", "n_b")
                >= t_num * F.greatest("n_a", "n_b")
            )
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.max("pa").alias("mpa"),
            F.max("pb").alias("mpb"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
        .filter(
            (t_num + t_den) * ubound
            >= t_num * (F.col("n_a") + F.col("n_b"))
        )
        .select("doc_a", "doc_b")
    )
    # Verify-side join strategy (r16, guide §3.1): the per-doc ordered-
    # array relation is BOUNDED by corpus token volume — when both the
    # SOURCE relation's and the ordered-array relation's own metadata-
    # only estimates sit under the cap, broadcasting it replaces two
    # shuffles of the full og arrays (measured 2x on the verify stage at
    # sf0.1; the two estimates tracked each other there, 4.6 MB gv /
    # 5.7 MB ov). Over the cap or unknown: the pinned shuffle_hash.
    verify_hint = _verify_join_hint(gv, ov)
    ga = ov.select(F.col("doc").alias("doc_a"), F.col("og").alias("ga")).hint(
        verify_hint
    )
    gb = ov.select(F.col("doc").alias("doc_b"), F.col("og").alias("gb")).hint(
        verify_hint
    )
    return (
        cands.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("ga", "gb")))
        .withColumn(
            "n_union", F.size("ga") + F.size("gb") - F.col("n_inter")
        )
        .filter(t_den * F.col("n_inter") >= t_num * F.col("n_union"))
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.col("n_union").cast("long").alias("n_union"),
        )
    )


def ngram_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    t_num: int = 4,
    t_den: int = 5,
    shingle_n: int = 3,
    max_doc_freq: int | None = None,
    cache_key: object = None,
) -> DataFrame:
    """EXACT overlap-coefficient pairs (Szymkiewicz-Simpson:
    inter / min(|A|, |B|) >= t_num/t_den) via the same inverted-index
    join as :func:`ngram_jaccard_pairs` — the ASYMMETRIC dedup measure:
    a short document wholly CONTAINED in a long one scores ~1.0 here
    while its Jaccard can be arbitrarily small, which is exactly the
    quote/boilerplate/subset-page case resemblance dedup misses
    (RefinedWeb-class pipelines run a containment rung beside the
    resemblance rung for this reason).

    The threshold compares as the integer inequality
    t_den * inter >= t_num * min(n_a, n_b) — no float anywhere; the
    emitted row is the exact integer triple (n_inter, n_a, n_b) that
    determines the coefficient. Shares the ``minhash-njp-*`` one-slot
    caches with the Jaccard twin (same ``cache_key`` contract), so
    consecutive runs of both reuse one warm exploded relation."""
    slot_key = (
        None if cache_key is None else (cache_key, shingle_n, max_doc_freq)
    )
    g = gram_arrays(df, text_col, id_col, shingle_n)
    if max_doc_freq is not None:
        g = capped_gram_arrays(
            one_slot_persist(g, slot="minhash-njp-grams", key=slot_key),
            max_doc_freq,
        )
    sh = one_slot_persist(
        explode_grams(
            g.select("doc", F.size("grams").alias("n"), "grams"), "doc", "n"
        ),
        slot="minhash-njp-exploded",
        key=slot_key,
    )
    sa = sh.select(
        F.col("doc").alias("doc_a"), F.col("n").alias("n_a"), "shingle"
    )
    sb = sh.select(
        F.col("doc").alias("doc_b"), F.col("n").alias("n_b"), "shingle"
    )
    return (
        sa.join(
            sb, (sa.shingle == sb.shingle) & (F.col("doc_a") < F.col("doc_b"))
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .filter(
            t_den * F.col("n_inter")
            >= t_num * F.least("n_a", "n_b")
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
        )
    )

"""Edit-distance record linkage via deletion-neighborhood blocking.

The SymSpell idea (public domain algorithm, Garbe 2012), distributed:
two strings within Levenshtein distance d MUST share a member of each
other's d-deletion neighborhood (each edit operation is simulated by
at most one deletion on each side — substitution: delete the differing
position from both; insertion/deletion: delete the extra char from the
longer side). So exact-matching on deletion variants is a COMPLETE
blocking scheme: candidate generation is one explode + one equi-join
on the variant key, never an all-pairs scan, and the final
``levenshtein`` verify (JVM-side built-in) touches only bucket-mates.

Two tiers:
- d<=1 (``fuzzy_pairs_d1``): L+1 variants per string — the typo tier.
- d<=2 (``fuzzy_pairs_d2``, r11): 1 + L + L(L-1)/2 variants — the
  SymSpell production default. The d2 join is structured for volume:
  variants are deduped per (id, var) BEFORE the join (repeated-char
  strings collapse many deletion choices to one variant), the
  self-join is pinned sort-merge (an AQE broadcast of a multi-million
  row variant relation OOMed at bench SF), and the verify runs INSIDE
  the streamed join output — bucket-collision pairs die in the
  codegen stage, and only true pairs reach the (id_a, id_b) distinct.
  Measured at sf0.1 (15k zero-dense names — deliberately adversarial:
  Σ|bucket|² = 65M): 19 s for 4.08M verified pairs.

At 100 TB: |variants|·n rows shuffled once on the variant key;
pathological buckets (e.g. a boilerplate prefix shared by millions)
are droppable with ``max_bucket`` — the stop-shingle doctrine from the
MinHash family, trading bounded recall loss for a bounded join.

No Python UDFs anywhere: variants are substring concatenation,
verification is ``F.levenshtein`` — both whole-stage-codegen
expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def deletion_variants(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, name, var): the deletion-1 neighborhood of every string —
    the string itself (i=0) plus each single-character deletion
    (i=1..L). One narrow projection + explode; no shuffle."""
    i = F.col("i")
    var = F.when(i == 0, F.col("name")).otherwise(
        F.concat(
            F.expr("substring(name, 1, i - 1)"),
            F.expr("substring(name, i + 1)"),
        )
    )
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("name"),
            F.explode(
                F.sequence(F.lit(0), F.length(text_col))
            ).alias("i"),
        )
        .select("id", "name", var.alias("var"))
    )


def _variant_pairs_d1(
    df: DataFrame, text_col: str, id_col: str, max_bucket: int | None
) -> DataFrame:
    """(id_a, name_a, id_b, name_b) per shared deletion-1 variant, id_a <
    id_b, before any distinct: the variant self-join both d1 tiers run
    (``max_bucket`` drops variant keys shared by more rows)."""
    v = deletion_variants(df, text_col, id_col)
    if max_bucket is not None:
        keep = (
            v.groupBy("var")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket)
            .select("var")
        )
        v = v.join(keep, "var")
    a = v.select(
        F.col("var"),
        F.col("id").alias("id_a"),
        F.col("name").alias("name_a"),
    )
    b = v.select(
        F.col("var"),
        F.col("id").alias("id_b"),
        F.col("name").alias("name_b"),
    )
    return a.join(b, "var").filter(F.col("id_a") < F.col("id_b"))


def fuzzy_candidates_d1(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_bucket: int | None = None,
) -> DataFrame:
    """UNVERIFIED candidate pairs (id_a, id_b, name_a, name_b), id_a <
    id_b: every pair sharing a deletion-1 variant — a superset of the
    true d<=1 pairs (bucket collisions included), which is what the
    blocking-efficiency measurement queries count before the verify.
    ``max_bucket`` drops variant keys shared by more than that many
    rows (documented recall trade for adversarial boilerplate); None
    keeps exactness."""
    return (
        _variant_pairs_d1(df, text_col, id_col, max_bucket)
        .select("id_a", "id_b", "name_a", "name_b")
        .distinct()
    )


def fuzzy_pairs_d1(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_bucket: int | None = None,
) -> DataFrame:
    """Verified pairs (id_a, id_b, name_a, name_b, dist) with
    Levenshtein distance <= 1, id_a < id_b. COMPLETE for d=1 by the
    deletion-neighborhood theorem; candidates are bucket-mates on the
    variant key only (see :func:`fuzzy_candidates_d1`).

    r17 (guide §2.3): the verify runs INSIDE the streamed variant
    self-join, BEFORE the pair distinct — bucket-collision pairs die in
    the codegen stage and the distinct holds only true pairs (the d2
    tier's shape since r11; the old shape distinct'd the full candidate
    stream first, shuffling every collision). The levenshtein uses the
    banded threshold form (returns -1 past the bound instead of running
    the full O(L²) DP); for kept rows the returned distance is the true
    distance, so the emitted surface is unchanged. Callers that need
    the UNVERIFIED candidate stream (blocking-efficiency stats) use
    :func:`fuzzy_candidates_d1` directly."""
    return (
        _variant_pairs_d1(df, text_col, id_col, max_bucket)
        .withColumn("dist", F.levenshtein("name_a", "name_b", 1))
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "name_a", "name_b", "dist")
        .distinct()
    )


def deletion_variants_d2(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(id, name, var): the deletion-<=2 neighborhood of every string —
    the string itself (i=j=0), each single deletion (i>=1, j=0), and
    each two-position deletion (1 <= i < j <= L) — DEDUPED per
    (id, var): repeated characters make many (i, j) choices collapse
    to one variant (a run of k zeros yields one string for all k
    single deletions), and without the dedup the downstream self-join
    multiplies bucket volume for nothing. One narrow projection + two
    nested explodes + a variant-grain distinct."""
    name = F.col("name")
    i, j, L = F.col("i"), F.col("j"), F.length("name")
    del1 = F.concat(
        F.expr("substring(name, 1, i - 1)"),
        F.expr("substring(name, i + 1)"),
    )
    del2 = F.concat(
        F.expr("substring(name, 1, i - 1)"),
        F.expr("substring(name, i + 1, j - i - 1)"),
        F.expr("substring(name, j + 1)"),
    )
    var = (
        F.when((i == 0) & (j == 0), name).when(j == 0, del1).otherwise(del2)
    )
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("name"))
    return (
        base.select(
            "id", "name", F.explode(F.sequence(F.lit(0), L)).alias("i")
        )
        .select(
            "id",
            "name",
            "i",
            # j = 0 (identity / single deletion) plus, when another
            # position remains, every j > i (two-position deletion).
            # The i < L guard matters: F.sequence(L+1, L) would count
            # DOWN, fabricating variants.
            F.explode(
                F.concat(
                    F.array(F.lit(0)),
                    F.when(
                        (F.col("i") >= 1) & (F.col("i") < L),
                        F.sequence(F.col("i") + 1, L),
                    ).otherwise(F.array().cast("array<int>")),
                )
            ).alias("j"),
        )
        .select("id", "name", var.alias("var"))
        .distinct()
    )


def fuzzy_pairs_d2(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_bucket: int | None = None,
    variants: DataFrame | None = None,
    bucket_counts: DataFrame | None = None,
) -> DataFrame:
    """Verified pairs (id_a, id_b, dist) with Levenshtein distance
    <= 2, id_a < id_b — COMPLETE for d<=2 by the deletion-neighborhood
    theorem (two substitutions need del2 x del2: both sides delete both
    differing positions). Names are NOT carried through the distinct:
    the verify happens inside the streamed pair generation (both sides
    carry name for the levenshtein), collision pairs die in the codegen
    stage, and the (id_a, id_b, dist) distinct holds ids only — callers
    join names back from the dimension if they need them. ``max_bucket``
    trades bounded recall for bounded buckets, as in the d1 tier.
    ``variants`` lets a caller that already built (and persisted) the
    deletion-<=2 relation — e.g. to report bucket statistics alongside
    the pairs — pass it in instead of paying the explode twice;
    ``bucket_counts`` likewise shares a precomputed (var, n) relation
    (callers that report key statistics already have one).

    Join shape is regime-dispatched (r16, guide §2.4):

    - **capped** (``max_bucket`` set): buckets are <= max_bucket rows
      by construction AFTER the keep-filter, so pairs come from ONE
      groupBy on the variant key + the chained posexplode /
      explode(slice) generators (the minhash candidate_pairs pattern —
      peak memory O(bucket), never the O(bucket²) array). That is one
      shuffle of the variant relation and half the pair stream (i<j
      generated, not filtered), where the self-join paid two sorted
      shuffle writes and streamed the full Σ|bucket|² cross product.
      Interleaved A/B on the capped customers row at sf0.1: 8.1 → ~4 s
      warm. The keep-filter runs BEFORE collect_list, so a pathological
      key never materializes a giant bucket list.
    - **uncapped**: the pinned sort-merge self-join (unbounded buckets
      must stream; an AQE broadcast of the multi-million-row variant
      relation OOMed at sf0.1, and collect_list on an uncapped bucket
      would re-create exactly that OOM)."""
    v = (
        variants
        if variants is not None
        else deletion_variants_d2(df, text_col, id_col)
    )
    if max_bucket is not None:
        kc = (
            bucket_counts
            if bucket_counts is not None
            else v.groupBy("var").agg(F.count(F.lit(1)).alias("n"))
        )
        keep = kc.filter(F.col("n") <= max_bucket).select("var")
        vk = v.join(keep, "var")
        buckets = (
            vk.groupBy("var")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("id", "name"))
                ).alias("ms")
            )
            .filter(F.size("ms") >= 2)
        )
        lefts = buckets.select("ms", F.posexplode("ms").alias("i", "ma"))
        pairs = lefts.select(
            F.col("ma.id").alias("id_a"),
            F.col("ma.name").alias("name_a"),
            F.explode(
                F.slice("ms", F.col("i") + 2, F.size("ms"))
            ).alias("mb"),
        )
        return (
            pairs.select(
                "id_a",
                F.col("mb.id").alias("id_b"),
                # banded threshold levenshtein (r17, guide §1.2 per-task
                # work): -1 past the bound instead of the full O(L²) DP;
                # kept rows carry the true distance, surface unchanged
                F.levenshtein("name_a", F.col("mb.name"), 2).alias("dist"),
            )
            .filter(F.col("dist") >= 0)
            .distinct()
            .select("id_a", "id_b", "dist")
        )
    # Singleton-bucket prefilter (r17, guide §2.3): a variant key held
    # by ONE entity produces no pairs, yet the self-join still sorts and
    # streams its row twice — a semi-join against the n >= 2 keys drops
    # those rows before the SMJ. Applied ONLY when the caller passes
    # ``bucket_counts`` (i.e. already pays for the (var, n) relation):
    # measured interleaved at sf0.1, the prefilter is 1.48x on the
    # dense customer corpus with warm counts (12.49 -> 8.43 s median,
    # rows identical) but 0.67x on the sparse docs-prefix corpus where
    # the count aggregate + semi-join shuffle cost more than the small
    # self-join they thin — so it is opt-in, not unconditional. The
    # merge hint keeps the semi-join off the broadcast path (the
    # non-singleton key relation is unbounded at scale).
    vm = v
    if bucket_counts is not None:
        multi = (
            bucket_counts.filter(F.col("n") >= 2).select("var").hint("merge")
        )
        vm = v.join(multi, "var", "left_semi")
    a = vm.select(
        "var", F.col("id").alias("id_a"), F.col("name").alias("name_a")
    )
    b = vm.select(
        "var", F.col("id").alias("id_b"), F.col("name").alias("name_b")
    )
    # merge hint: AQE's size estimate can pick a broadcast of the
    # multi-million-row variant relation here, which OOMed at sf0.1;
    # sort-merge is also the only join shape that survives 100 TB.
    return (
        a.hint("merge")
        .join(b, "var")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b", 2))
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "dist")
        .distinct()
    )

"""Connected components over near-duplicate pair edges.

Pairwise near-dup detection (MinHash/SimHash/n-gram Jaccard,
operators/minhash.py) yields EDGES; dedup policy needs GROUPS — "keep
one doc per component of the similarity graph". This is the classic
iterative min-label propagation (Kiveris et al., "Connected Components
in MapReduce and Beyond", SOCC'14 — the simple variant), expressed as
DataFrame joins:

    comp(v) <- min(comp(v), min over neighbors comp(u))

repeated until a fixpoint. Convergence takes O(max component diameter)
rounds; near-dup clusters are shallow (diameter 2-4 in practice), so
this terminates in a handful of shuffles even on billion-edge graphs.

Scale design: each round is one join (edges x labels, shuffle on the
join key) plus one groupBy-min (map-side partial). Rounds are
materialized via ``operators.iterative.fixpoint`` (lineage
truncation + explicit release of the superseded round's blocks; pass
``checkpoint_dir`` for the executor-loss-safe reliable mode on a real
cluster), matching pagerank/kcore/degeneracy. Each round carries its
predecessor's label as ``comp_prev``, and its changed count is an
``observe()`` aggregate on the round's own checkpoint: a round is one
Spark action, and the old round is dead the moment the new one
materializes — no node-grain probe join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_architecture_spark.operators.iterative import BROADCAST_CAP, fixpoint


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc, component) for every vertex of ``edges``; the component id
    is the smallest vertex id in the component (deterministic).

    Raises ``RuntimeError`` if labels have not converged after
    ``max_iter`` rounds (component diameter exceeded the budget) —
    silently returning partial labels would mis-group documents and
    only surface as an unexplained result mismatch downstream.
    ``checkpoint_dir`` selects reliable checkpointing for cluster runs
    (see ``operators/iterative.py``); labels are identical either way.
    """
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # Exchange-free rounds (r13, the loop recipe shared with
    # pagerank/core_numbers): the symmetric edge relation is
    # hash-partitioned by the AGGREGATE key ``b`` and persisted (an
    # InMemoryRelation preserves outputPartitioning), and the
    # node-grain label relation is broadcast into the propagation join
    # while |V| fits (BROADCAST_CAP) — the join then runs in place and its
    # output stays b-partitioned, so the per-round min-label aggregate
    # exchanges nothing edge-sized. The old union+groupBy folded the
    # label relation into the |E|-row aggregate; folding it instead
    # through a node-grain least() merge join keeps the heavy side
    # scan-only. Above the cap, the plain shuffle join is the
    # cluster-scale path.
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = (
        raw.union(raw.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .repartition(n_part, "b")
        .persist()
    )
    nodes = sym.select(F.col("a").alias("doc")).distinct()
    no_label = F.lit(None).cast(sym.schema["a"].dataType)
    init = nodes.withColumns({"comp": F.col("doc"), "comp_prev": no_label})

    def propagate(labels: DataFrame, cert: dict) -> DataFrame:
        lab_a = labels.select(F.col("doc").alias("a"), "comp")
        if cert["n_nodes"] <= BROADCAST_CAP:
            lab_a = F.broadcast(lab_a)
        prop_min = (
            sym.join(lab_a, "a")
            .select(F.col("b").alias("doc"), "comp")
            .groupBy("doc")
            .agg(F.min("comp").alias("pcomp"))
            .hint("merge")  # see operators/iterative.py, rule 1
        )
        return labels.join(prop_min, "doc", "left").select(
            "doc",
            F.least(F.col("comp"), F.coalesce("pcomp", F.col("comp"))).alias("comp"),
            F.col("comp").alias("comp_prev"),
        )

    certificate = [
        F.count(F.lit(1)).alias("n_nodes"),
        F.count_if(F.col("comp") != F.col("comp_prev")).alias("changed"),
    ]
    unchanged = lambda _, cert: cert["changed"] == 0  # noqa: E731
    fp = fixpoint(init, propagate, certificate, max_iter, unchanged, checkpoint_dir)
    sym.unpersist()
    if not fp.converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds the iteration budget); raise "
            "max_iter"
        )
    return fp.state.drop("comp_prev")


def dedup_keep_one_per_component(
    df: DataFrame, labels: DataFrame, id_col: str
) -> DataFrame:
    """Drop every doc except its component's representative (the min
    id). Docs with no edge (singletons, absent from ``labels``) are
    kept — the left join leaves their component null."""
    lab = labels.withColumnRenamed("doc", id_col)
    return (
        df.join(lab, id_col, "left_outer")
        .filter(F.col("comp").isNull() | (F.col("comp") == F.col(id_col)))
        .drop("comp")
    )


def dedup_keep_best_per_component(
    df: DataFrame, labels: DataFrame, id_col: str, score_col: str
) -> DataFrame:
    """Keep, per near-dup component, the member with the HIGHEST score
    (ties: lowest id) — the production dedup policy: when a cluster of
    near-duplicates is collapsed, keep its best member (longest /
    highest-quality), not whichever happened to carry the smallest id.
    Singletons (absent from ``labels``) are kept untouched.

    One left join to attach labels, one max_by aggregate per component
    to elect winners, one semi-join back — all partial-aggregated
    shuffles on the component key, so the policy costs no more than
    keep-min-id at any scale."""
    lab = labels.withColumnRenamed("doc", id_col)
    tagged = df.join(lab, id_col, "left_outer")
    winners = (
        tagged.filter(F.col("comp").isNotNull())
        .groupBy("comp")
        .agg(
            F.max_by(
                F.col(id_col),
                F.struct(F.col(score_col), (-F.col(id_col)).alias("neg_id")),
            ).alias(id_col)
        )
        .select(id_col)
    )
    singles = tagged.filter(F.col("comp").isNull()).drop("comp")
    return singles.unionByName(
        df.join(winners, id_col, "left_semi")
    )

"""Distributed PageRank over an edge relation — graph centrality for
the co-occurrence graphs a curation pipeline mines (products bought
together, documents linked by near-dup bands, entities co-mentioned).

Reference parity note: the reference engine has no graph operators;
this extends the §2.11 LLM-pipeline surface (SURVEY.md) beyond the
connected-components election (operators/components.py) to importance
ranking on the same edge-relation representation.

One damped round loop, :func:`_damped_rounds`, runs all three public
variants (Brin & Page 1998; Haveliwala 2002 for the personalized one):

    pr_{t+1}(v) = (1-d)·s(v) + d·[ Σ_{(u,v,w)∈E} pr_t(u)·w/deg(u) + share_t(v) ]

They differ only in the edge weight (none, so w = 1 and ``deg``
counts out-edges; or a column, ``wdeg`` = Σ w), the start and teleport
vector s (1, or the seed measure ``sv``), the share of the dangling
mass m, the rank parked on nodes without out-edges (m / n, or m · sv),
and the column the ranks carry (``deg``, ``wdeg`` or ``sv``). A round
is ONE edge-keyed join + ONE dst-keyed aggregate, and its only Spark
action is its checkpoint: m and the residual max |Δpr| are
``observe()`` aggregates on it, read back as the round's certificate
(operators.iterative.fixpoint: lineage truncation + release of the
superseded round's blocks; ``checkpoint_dir`` selects the
executor-loss-safe reliable variant for cluster runs), so plan depth
and executor storage stay flat. Total mass is conserved (n, or
1 when seeded) modulo float addition; the QA queries pin it as an
oracle boolean alongside the convergence residual.

Exchange-free rounds (the recipe measured on the core-numbers loop):
the edge relation is hash-partitioned by ``dst`` ONCE and PERSISTED
(an InMemoryRelation preserves outputPartitioning; a checkpointed
LogicalRDD reports it unknown), and each round's node-grain share
relation is explicitly BROADCAST while |V| fits (``BROADCAST_CAP``). The
contribution join then never exchanges the edge relation, its output
stays dst-partitioned, and the dst aggregate runs in place: a round's
heavy relation is SCANNED, not shuffled. Above the cap the join falls
back to the plain shuffle pair (each round shuffles |E| contribution
rows, partially aggregated map-side on dst); iteration count is the
convergence budget (10-20 dominates for web-like spectra),
independent of corpus bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_architecture_spark.operators.iterative import (
    BROADCAST_CAP,
    Fixpoint,
    _free_local_checkpoint,
    fixpoint,
    loop_round,
)


def _dst_partitioned(
    edges: DataFrame, src: str, dst: str, weight: str | None = None
) -> DataFrame:
    """``(src, dst)``, plus ``w`` when ``weight`` is given, partitioned
    by ``dst`` and persisted (see module docstring); the caller
    unpersists it. Unweighted edges carry no constant weight column."""
    n_part = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    if weight is not None:
        cols.append(F.col(weight).cast("double").alias("w"))
    return edges.select(*cols).repartition(n_part, "dst").persist()


def _nodes(e: DataFrame) -> DataFrame:
    """The node set of ``e``, in a ``node`` column."""
    ends = e.select(F.col("src").alias("node"))
    return ends.unionByName(e.select(F.col("dst").alias("node"))).distinct()


def _damped_rounds(
    e: DataFrame,
    nodes: DataFrame,
    damping: float,
    iters: int,
    checkpoint_dir: str | None,
    seeds: DataFrame | None = None,
    n_seeds: int = 0,
) -> Fixpoint:
    """``iters`` damped rounds over ``e`` and its node set; unpersists
    ``e``. A ``w`` column in ``e`` makes the loop weighted, ``seeds``
    (``n_seeds`` graph nodes in a ``node`` column) personalized. The
    state is (node, degree column[, sv], pr, pr_prev); each round's
    certificate holds ``n_nodes``, ``null_nodes``, the dangling mass
    ``dangling_mass`` the next round re-teleports, and ``delta_max``
    (NaN on round 0). Raises ``ValueError`` on a null endpoint: rank
    sent to a null ``dst`` never joins back to a node, so mass would
    vanish silently."""
    weighted = "w" in e.columns
    deg_col = "wdeg" if weighted else "deg"
    out_degree = F.sum("w") if weighted else F.count(F.lit(1))
    deg = e.groupBy("src").agg(out_degree.alias(deg_col))
    # the degree rides with the rank relation so the per-round join is
    # rank->edges only (nodes without out-edges carry degree 0 and
    # contribute via the dangling term instead)
    init = nodes.join(deg, nodes.node == deg.src, "left")
    init_cols = [F.coalesce(deg_col, F.lit(0)).alias(deg_col)]
    pr_0, teleport = F.lit(1.0), F.lit(1.0 - damping)
    if seeds is not None:
        seed_node = F.broadcast(seeds.select(F.col("node").alias("seed_node")))
        init = init.join(seed_node, nodes.node == seed_node.seed_node, "left")
        in_seeds = F.col("seed_node").isNotNull()
        sv = F.when(in_seeds, F.lit(1.0) / F.lit(float(n_seeds))).otherwise(F.lit(0.0))
        init_cols.append(sv.alias("sv"))
        pr_0 = F.col("sv")
        teleport = teleport * pr_0
    init = init.select("node", *init_cols).withColumns(
        {"pr": pr_0, "pr_prev": F.lit(None).cast("double")}
    )
    carried = init.columns[1:-2]  # the degree column[, sv]
    mass = F.sum(F.when(F.col(deg_col) == 0, F.col("pr")))
    delta = F.max(F.abs(F.col("pr") - F.col("pr_prev")))
    certificate = [
        F.count(F.lit(1)).alias("n_nodes"),
        F.count_if(F.col("node").isNull()).alias("null_nodes"),
        F.coalesce(mass, F.lit(0.0)).alias("dangling_mass"),
        F.coalesce(delta, F.lit(float("nan"))).alias("delta_max"),
    ]

    def step(state: DataFrame, cert: dict) -> DataFrame:
        if cert["null_nodes"]:
            raise ValueError("PageRank requires non-null edge endpoints; found a null")
        # degree > 0 before the division: ANSI mode makes /0 an error,
        # and dangling nodes contribute via the teleport term, not
        # the edge join
        share = state.filter(F.col(deg_col) > 0).select(
            F.col("node").alias("src"),
            (F.col("pr") / F.col(deg_col)).alias("share"),
        )
        if cert["n_nodes"] <= BROADCAST_CAP:
            share = F.broadcast(share)
        flow = F.col("share") * F.col("w") if weighted else F.col("share")
        contrib = e.join(share, "src").groupBy("dst").agg(F.sum(flow).alias("inflow"))
        contrib = contrib.hint("merge")  # see operators/iterative.py, rule 1
        m = cert["dangling_mass"]
        if seeds is None:
            # m / n stays a division (m · (1/n) would move ranks by an
            # ulp); an empty graph has m = 0 and no node to share it
            dangling = F.lit(m / max(cert["n_nodes"], 1))
        else:
            dangling = F.lit(m) * F.col("sv")
        inflow = F.coalesce("inflow", F.lit(0.0))
        return state.join(contrib, state.node == contrib.dst, "left").select(
            "node",
            *carried,
            (teleport + F.lit(damping) * (inflow + dangling)).alias("pr"),
            F.col("pr").alias("pr_prev"),
        )

    try:
        return fixpoint(init, step, certificate, iters, checkpoint_dir=checkpoint_dir)
    finally:
        # the result is a checkpoint; the edge cache is dead weight now
        e.unpersist(blocking=False)


def _check_params(damping: float, iters: int) -> None:
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1): {damping}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1: {iters}")


def _result(fp: Fixpoint, *carried: str) -> dict:
    """A variant's result: ranks (node, ``carried``, pr), the node
    count, the final round's ``delta_max`` and the per-round trace."""
    return {
        "ranks": fp.state.select("node", *carried, "pr"),
        "n_nodes": fp.trace[0]["n_nodes"],
        "delta_max": fp.trace[-1]["delta_max"],
        "trace": fp.trace,
    }


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 10,
    checkpoint_dir: str | None = None,
) -> dict:
    """Rank nodes of the directed graph ``edges`` (for an undirected
    co-occurrence graph, pass both orientations of each pair):
    pr_0 = 1, uniform teleport, dangling share m / n.

    Returns ``{"ranks": DataFrame(node, pr), "n_nodes": int,
    "delta_max": float, "trace": list[dict]}`` — ``delta_max`` is the
    largest per-node change of the final iteration, the convergence
    certificate a caller turns into a loud check (QA queries pin it as
    a boolean; NaN on an empty graph). ``trace[r]`` is round r's
    observed certificate: ``n_nodes``, ``null_nodes``,
    ``dangling_mass`` and ``delta_max`` (NaN on round 0).
    Self-loops and duplicate edges are the caller's policy; this
    operator takes the edge relation as given.
    """
    _check_params(damping, iters)
    e = _dst_partitioned(edges, src, dst)
    return _result(_damped_rounds(e, _nodes(e), damping, iters, checkpoint_dir))


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 12,
    checkpoint_dir: str | None = None,
) -> dict:
    """Personalized PageRank (Haveliwala 2002, "Topic-sensitive
    PageRank"): the teleport concentrates on a SEED set, so rank mass
    diffuses outward from the seeds — the seed-expansion primitive for
    data selection ("everything related to this trusted set") and
    recommendation ("products in the orbit of these products").

    s = ``sv`` is uniform over ``seeds`` (a ``node`` column), ppr_0 = s
    and dangling mass re-teleports to the seeds, so total mass is
    exactly 1 every round. The recurrence is LINEAR and fixed-depth
    from a deterministic start, so a cross-engine oracle can unroll the
    same T iterations in SQL and compare VALUES (rounded, the
    double-summation-order allowance), no invariant certificates needed.

    Returns ``{"ranks": DataFrame(node, sv, pr), "n_nodes", "n_seeds",
    "delta_max", "trace"}`` (see :func:`pagerank`).
    """
    _check_params(damping, iters)
    e = _dst_partitioned(edges, src, dst)
    nodes = _nodes(e)
    # Normalize the seed set before it defines the teleport measure:
    # duplicates in ``seeds`` would duplicate node rows through the
    # loop's left join, and a seed absent from the graph would
    # silently shrink total teleport mass below 1 while still counting
    # toward n_seeds. Dedup, then keep only seeds that are actual graph
    # nodes, and recompute n_seeds from that set. The set is materialised
    # once, n_seeds observed on that action, and round 0 reads it.
    seed_set, row = loop_round(
        seeds.select("node").distinct().join(nodes, "node", "semi"),
        metrics=[F.count(F.lit(1)).alias("n_seeds")],
    )
    n_seeds = row["n_seeds"]
    try:
        if n_seeds < 1:
            e.unpersist(blocking=False)
            raise ValueError("seeds must be non-empty and present in the graph")
        fp = _damped_rounds(e, nodes, damping, iters, checkpoint_dir, seed_set, n_seeds)
    finally:
        _free_local_checkpoint(seed_set)
    return {**_result(fp, "sv"), "n_seeds": n_seeds}


def weighted_pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    damping: float = 0.85,
    iters: int = 10,
    checkpoint_dir: str | None = None,
) -> dict:
    """PageRank over a WEIGHTED directed graph: each node distributes
    its rank across out-edges in proportion to edge weight
    (contribution along (u, v, w) = pr(u) * w / wdeg(u), wdeg = sum of
    u's out-weights) — the production norm for co-occurrence graphs,
    where a pair co-ordered 40 times should pull rank harder than a
    pair co-ordered once. Otherwise :func:`pagerank`'s update, so it
    reduces exactly to it when all weights are 1 (pinned by test).
    Returns ``{"ranks": DataFrame(node, wdeg, pr), "n_nodes",
    "delta_max", "trace"}`` (see :func:`pagerank`).
    """
    _check_params(damping, iters)
    e = _dst_partitioned(edges, src, dst, weight)
    # Weight-sign guard: w <= 0 silently corrupts the measure — a node
    # whose out-weights sum to 0 despite having edges is misclassified
    # as dangling, and a negative-wdeg node neither contributes nor
    # counts as dangling, LEAKING rank mass with no error. NaN is
    # neither null nor <= 0 in SQL comparisons yet poisons every
    # downstream wdeg sum, so it gets its own predicate. One limit(1)
    # probe on the persisted edge relation: it must refuse before any
    # round runs, so it cannot ride round 0's certificate.
    bad = F.col("w").isNull() | F.isnan("w") | (F.col("w") <= 0)
    if e.filter(bad).limit(1).count() > 0:
        e.unpersist(blocking=False)
        raise ValueError(
            "weighted_pagerank requires strictly positive edge "
            f"weights; found {weight} null, NaN, or <= 0"
        )
    return _result(_damped_rounds(e, _nodes(e), damping, iters, checkpoint_dir), "wdeg")

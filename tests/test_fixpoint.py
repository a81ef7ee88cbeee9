"""The fixpoint loop under the four graph operators
(operators/iterative.fixpoint): a round costs three Spark jobs,
its certificate rides its checkpoint, both sides of the broadcast cap
give identical results, and the cut-off, empty-graph and round-1 paths
report what they did."""

from __future__ import annotations

import math

import pytest

import lakehouse_architecture_spark.operators.components as components
import lakehouse_architecture_spark.operators.kcore as kcore
import lakehouse_architecture_spark.operators.pagerank as pagerank

# a 4-clique {1,2,3,4}, a chain 4-5-6 and a triangle {5,6,7}
HAND = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6), (5, 7), (6, 7)]
# a path peels, re-values and relabels one hop per round
PATH = [(i, i + 1) for i in range(1, 10)]


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _both_ways(edges):
    return edges.unionAll(edges.selectExpr("dst AS src", "src AS dst"))


def _docs(edges):
    return edges.selectExpr("src AS doc_a", "dst AS doc_b")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _cut_off_components(edges, rounds):
    with pytest.raises(RuntimeError, match=f"did not converge in {rounds} rounds"):
        components.connected_components(_docs(edges), max_iter=rounds)


# --- one action per round --------------------------------------------------


_ROUNDS = {
    "pagerank": lambda g, k: pagerank.pagerank(_both_ways(g), iters=k),
    "weighted_pagerank": lambda g, k: pagerank.weighted_pagerank(
        _both_ways(g).selectExpr("*", "CAST(src AS DOUBLE) AS w"), iters=k
    ),
    "personalized_pagerank": lambda g, k: pagerank.personalized_pagerank(
        _both_ways(g), g.sparkSession.createDataFrame([(1,)], "node long"), iters=k
    ),
    "kcore_peel": lambda g, k: kcore.kcore_peel(g, 2, max_rounds=k),
    "core_numbers": lambda g, k: kcore.core_numbers(g, max_rounds=k),
    "connected_components": _cut_off_components,
}


@pytest.mark.parametrize("op", sorted(_ROUNDS))
def test_a_round_costs_three_jobs(spark, jobs_launched, op):
    """jobs(k+1 rounds) - jobs(k rounds) on a path none of the loops
    finishes in 3 rounds: the round's checkpoint, its broadcast and
    its one exchange. The certificate launches no job of its own (a
    separate certificate action made it 5 or 6)."""
    path = _edges(spark, PATH)
    run = _ROUNDS[op]
    jobs = {k: len(jobs_launched(lambda k=k: run(path, k))) for k in (2, 3)}
    assert jobs[3] - jobs[2] == 3, jobs


@pytest.mark.parametrize("op, fixed", [("pagerank", 8), ("personalized_pagerank", 12)])
def test_pagerank_fixed_jobs(spark, jobs_launched, op, fixed):
    """jobs(2 rounds) - 2 rounds x 3: the jobs a run pays once. The
    seeded variant adds the jobs of the seed set's one checkpoint, which
    observes n_seeds and which round 0 reads."""
    path = _edges(spark, PATH)
    assert len(jobs_launched(lambda: _ROUNDS[op](path, 2))) - 2 * 3 == fixed


# --- both sides of the broadcast cap -----------------------------------------


def test_pagerank_over_cap_identical(spark, monkeypatch):
    edges = _both_ways(_edges(spark, HAND))
    under = pagerank.pagerank(edges, iters=4)
    monkeypatch.setattr(pagerank, "BROADCAST_CAP", 0)
    over = pagerank.pagerank(edges, iters=4)
    got_u = dict(_rows(under["ranks"]))
    got_o = dict(_rows(over["ranks"]))
    assert got_u.keys() == got_o.keys() and under["n_nodes"] == over["n_nodes"] == 7
    # the shuffle join sums contributions in another order
    assert all(abs(got_u[v] - got_o[v]) < 1e-12 for v in got_u)
    assert under["delta_max"] == pytest.approx(over["delta_max"], abs=1e-12)


def test_kcore_peel_over_cap_identical(spark, monkeypatch):
    edges = _edges(spark, HAND)
    under = kcore.kcore_peel(edges, 3)
    monkeypatch.setattr(kcore, "BROADCAST_CAP", 0)
    over = kcore.kcore_peel(edges, 3)
    assert _rows(under["edges"]) == _rows(over["edges"])
    for key in ("rounds", "converged", "n_edges", "trace"):
        assert under[key] == over[key], key


def test_core_numbers_over_cap_identical(spark, monkeypatch):
    edges = _edges(spark, HAND)
    under = kcore.core_numbers(edges)
    monkeypatch.setattr(kcore, "BROADCAST_CAP", 0)
    over = kcore.core_numbers(edges)
    assert _rows(under["cores"]) == _rows(over["cores"])
    for key in ("rounds", "converged", "n_nodes", "trace"):
        assert under[key] == over[key], key


def test_connected_components_over_cap_identical(spark, monkeypatch):
    edges = _docs(_edges(spark, HAND + [(8, 9)]))
    under = _rows(components.connected_components(edges))
    monkeypatch.setattr(components, "BROADCAST_CAP", 0)
    assert _rows(components.connected_components(edges)) == under
    assert {comp for _, comp in under} == {1, 8}


def test_kcore_round_plan_broadcasts_only_under_cap(spark, monkeypatch):
    """Each peel round's plan: broadcast semi-joins while twice the
    observed edge count fits the cap, the shuffle pair above it."""
    plans = []
    real = kcore.fixpoint

    def planned(init, step, *args):
        def spied(state, cert):
            frame = step(state, cert)
            plans.append(frame._jdf.queryExecution().executedPlan().toString())
            return frame

        return real(init, spied, *args)

    monkeypatch.setattr(kcore, "fixpoint", planned)
    edges = _edges(spark, HAND)
    kcore.kcore_peel(edges, 3)
    assert plans and all("BroadcastHashJoin" in p for p in plans)
    plans.clear()
    monkeypatch.setattr(kcore, "BROADCAST_CAP", 0)
    kcore.kcore_peel(edges, 3)
    assert plans and not any("BroadcastHashJoin" in p for p in plans)


# --- cut off, empty, converged in round 1 -------------------------------------


def test_cut_off_loops_say_so(spark):
    path = _edges(spark, PATH)
    peel = kcore.kcore_peel(path, 2, max_rounds=2)
    assert (peel["rounds"], peel["converged"], peel["n_edges"]) == (2, False, 5)
    assert [t["n_edges"] for t in peel["trace"]] == [9, 7, 5]
    cores = kcore.core_numbers(path, max_rounds=1)
    assert (cores["rounds"], cores["converged"], cores["n_nodes"]) == (1, False, 10)
    assert [t["changed"] for t in cores["trace"]] == [0, 2]
    _cut_off_components(path, 2)


def test_empty_graph(spark):
    empty = _edges(spark, [])
    pr = pagerank.pagerank(empty, iters=2)
    assert pr["ranks"].count() == 0 and pr["n_nodes"] == 0
    assert math.isnan(pr["delta_max"]) and len(pr["trace"]) == 3
    seeds = spark.createDataFrame([(1,)], "node long")
    with pytest.raises(ValueError, match="seeds must be non-empty"):
        pagerank.personalized_pagerank(empty, seeds, iters=2)
    peel = kcore.kcore_peel(empty, 2)
    assert (peel["rounds"], peel["converged"], peel["n_edges"]) == (1, True, 0)
    assert peel["edges"].count() == 0
    cores = kcore.core_numbers(empty)
    assert (cores["rounds"], cores["converged"], cores["n_nodes"]) == (1, True, 0)
    assert cores["cores"].count() == 0
    # an edgeless graph is also the one that converges in round 1
    assert components.connected_components(_docs(empty)).count() == 0


def test_converged_in_round_one(spark):
    """Round 1's certificate alone stops the loop: the 2-core of the
    hand graph is the graph, and a clique's degrees are its cores."""
    peel = kcore.kcore_peel(_edges(spark, HAND), 2)
    assert (peel["rounds"], peel["converged"]) == (1, True)
    assert peel["trace"] == [{"n_edges": 10}, {"n_edges": 10}]
    clique = _edges(spark, HAND[:6])
    cores = kcore.core_numbers(clique)
    assert (cores["rounds"], cores["converged"]) == (1, True)
    assert cores["trace"] == [{"n_nodes": 4, "changed": 0}] * 2
    assert set(_rows(cores["cores"])) == {(v, 3) for v in (1, 2, 3, 4)}

"""The fixpoint loop under the iterative graph operators (PageRank,
k-core peel, core-number h-index, connected components). One loop,
:func:`fixpoint`, owns the round lifecycle; an operator supplies only
its step (the frame for round r+1, built from round r and round r's
certificate) and its certificate columns. Three rules hold for every
round:

1. **One Spark action per round.** ``localCheckpoint(eager=True)``
   materializes the round and cuts its plan back to a leaf (without
   it, round r's plan stacks r joins deep and Catalyst analysis cost
   grows with the iteration count). The round's certificate (changed
   count, edge count, max |Δpr|, dangling mass, node count) is a set
   of ``observe()`` aggregates on that same action, so reading it
   launches no job of its own. The observation sits on the
   checkpointed frame's top level: one nested under a shuffle is lost
   when adaptive execution replaces an empty stage by an empty
   relation. The join that brings a round's new values back to the
   node state is hinted ``merge``: the state side is a checkpoint
   whose partitioning is unknown, so it is exchanged anyway, and on a
   small graph adaptive execution would otherwise turn the join into
   a broadcast of the new values — one more job per round, no stage
   saved.

2. **Free the PREVIOUS round's blocks once the new round is
   materialized.** ``localCheckpoint`` stores blocks in executor
   storage that are otherwise only released when the JVM garbage
   collects the Dataset (ContextCleaner) — over many rounds at large
   scale, dead rounds accumulate in storage memory until GC happens
   to run. :func:`loop_round` unpersists the prior round's
   checkpointed RDD explicitly (reached through the analyzed
   ``LogicalRDD``), so a loop holds at most ONE round's blocks plus
   the round being built.

3. **Broadcast the node-grain side only under one cap.** Each operator
   compares :data:`BROADCAST_CAP` with a size its certificate
   observed; above it, the operator's plain shuffle join is the
   cluster-scale plan.

Durability caveat (the cluster deployment note shared with
``sources/readers.py``): ``localCheckpoint`` blocks are UNREPLICATED
executor storage — on a real cluster, losing an executor mid-loop
fails the job, because the truncated lineage cannot be recomputed.
For cluster runs pass ``checkpoint_dir``: rounds then use RELIABLE
``DataFrame.checkpoint`` (files under the dir, typically HDFS/object
storage), which survives executor loss at the cost of a write per
round. The caller owns the directory lifecycle — checkpoints of a
finished job are dead files to delete with the job's scratch space.
Results and certificates are identical either way (pinned by
tests/test_operators.py::test_iterative_reliable_checkpoint_identical);
local mode stays the single-node /
bench default because it skips the filesystem round-trip.

Cited reference behavior: none — the reference engine has no
iterative operators; this is Spark operational doctrine (GraphX
Pregel unpersists superseded rounds the same way).
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation

# Node-grain rows a loop round may broadcast: ~2M (node, value) long
# pairs ≈ 32 MB.
BROADCAST_CAP = 2_000_000


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release the executor-storage blocks of every local checkpoint
    ``df`` reads: the ``LogicalRDD`` leaves of its analyzed plan (a
    ``localCheckpoint`` result is itself one, a filter over it has one).
    No-ops on anything else, and never lets a storage-layer hiccup fail
    the caller. After the free those checkpoints, and every DataFrame
    over them, are DEAD (their lineage was truncated, so the blocks
    cannot be recomputed) — callers free only what they will never read
    again. Spark frees the blocks by itself only once the JVM collects
    the checkpointed RDD, which an old-generation GC can put off for
    many rounds or batches.

    Frees through ``SparkContext.unpersistRDD``, the call ``RDD.unpersist``
    makes after logging a WARN for every locally checkpointed RDD it is
    given — one per freed round, which buried real warnings."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.length()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                rdd = leaf.rdd()
                rdd.sparkContext().unpersistRDD(rdd.id(), False)
    except Exception:
        pass  # freeing is an optimization; never fail the caller


def loop_round(
    df: DataFrame,
    prev: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    metrics: Sequence[Column] = (),
) -> tuple[DataFrame, dict]:
    """Materialize one loop round and retire the previous one; returns
    the checkpoint and the row of ``metrics`` (aggregate columns)
    observed on its action, ``{}`` without metrics.

    Local mode (``checkpoint_dir=None``): eager ``localCheckpoint``,
    then free ``prev``'s blocks — safe exactly because eager
    materialization means the new round no longer reads the old one.
    Reliable mode: sets the session's checkpoint dir (idempotent) and
    uses ``DataFrame.checkpoint(eager=True)`` — executor-loss-safe;
    ``prev`` needs no block release (reliable rounds live in files,
    not executor storage), and its files are reclaimed with the
    directory by the caller.
    """
    obs = None
    if metrics:
        # unique per call: loops may run in several threads of a session
        obs = Observation(f"loop-round-{uuid.uuid4().hex}")
        df = df.observe(obs, *metrics)
    if checkpoint_dir is not None:
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        out = df.checkpoint(eager=True)
    else:
        out = df.localCheckpoint(eager=True)
        if prev is not None:
            _free_local_checkpoint(prev)
    return out, (obs.get if obs is not None else {})


class Fixpoint(NamedTuple):
    state: DataFrame  # the last round's checkpoint
    rounds: int  # rounds run after round 0
    converged: bool  # ``done`` held on the last round
    trace: list[dict]  # the observed certificate of rounds 0..rounds


def fixpoint(
    init: DataFrame,
    step: Callable[[DataFrame, dict], DataFrame],
    metrics: Sequence[Column],
    max_rounds: int,
    done: Callable[[dict, dict], bool] | None = None,
    checkpoint_dir: str | None = None,
) -> Fixpoint:
    """Round 0 is ``init``; round r+1 is ``step(round r, r's
    certificate)``, until ``done(r's certificate, r+1's)`` holds or
    ``max_rounds`` rounds ran (always, without ``done``). Each round is
    one :func:`loop_round` observing ``metrics``, and frees the round
    it supersedes; a step may raise on round 0's certificate to refuse
    its input."""
    state, row = loop_round(init, checkpoint_dir=checkpoint_dir, metrics=metrics)
    trace = [row]
    converged = False
    while len(trace) <= max_rounds and not converged:
        nxt, nrow = loop_round(
            step(state, row), prev=state, checkpoint_dir=checkpoint_dir, metrics=metrics
        )
        converged = done is not None and done(row, nrow)
        state, row = nxt, nrow
        trace.append(row)
    return Fixpoint(state, len(trace) - 1, converged, trace)

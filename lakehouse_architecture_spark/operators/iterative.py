"""Round materialization for iterative fixpoint loops (k-core peel,
PageRank, core-number h-index) — one place for the two lifecycle rules
every DataFrame loop needs:

1. **Truncate lineage each round.** Without a checkpoint, round r's
   plan stacks r joins deep and Catalyst analysis cost grows with the
   iteration count. ``localCheckpoint(eager=True)`` materializes the
   round and cuts the plan back to a leaf.

2. **Free the PREVIOUS round's blocks once the new round is
   materialized.** ``localCheckpoint`` stores blocks in executor
   storage that are otherwise only released when the JVM garbage
   collects the Dataset (ContextCleaner) — over many rounds at large
   scale, dead rounds accumulate in storage memory until GC happens
   to run. :func:`loop_round` unpersists the prior round's
   checkpointed RDD explicitly (reached through the analyzed
   ``LogicalRDD``), so a loop holds at most ONE round's blocks plus
   the round being built.

Durability caveat (the cluster deployment note shared with
``sources/readers.py``): ``localCheckpoint`` blocks are UNREPLICATED
executor storage — on a real cluster, losing an executor mid-loop
fails the job, because the truncated lineage cannot be recomputed.
For cluster runs pass ``checkpoint_dir``: rounds then use RELIABLE
``DataFrame.checkpoint`` (files under the dir, typically HDFS/object
storage), which survives executor loss at the cost of a write per
round. The caller owns the directory lifecycle — checkpoints of a
finished job are dead files to delete with the job's scratch space.
Results are identical either way (pinned by
tests/test_operators.py::test_iterative_reliable_checkpoint_identical);
local mode stays the single-node /
bench default because it skips the filesystem round-trip.

Cited reference behavior: none — the reference engine has no
iterative operators; this is Spark operational doctrine (GraphX
Pregel unpersists superseded rounds the same way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


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
    many rounds or batches."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.length()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
    except Exception:
        pass  # freeing is an optimization; never fail the caller


def loop_round(
    df: DataFrame,
    prev: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Materialize one loop round and retire the previous one.

    Local mode (``checkpoint_dir=None``): eager ``localCheckpoint``,
    then free ``prev``'s blocks — safe exactly because eager
    materialization means the new round no longer reads the old one.
    Reliable mode: sets the session's checkpoint dir (idempotent) and
    uses ``DataFrame.checkpoint(eager=True)`` — executor-loss-safe;
    ``prev`` needs no block release (reliable rounds live in files,
    not executor storage), and its files are reclaimed with the
    directory by the caller.
    """
    if checkpoint_dir is not None:
        sc = df.sparkSession.sparkContext
        sc.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)
    out = df.localCheckpoint(eager=True)
    if prev is not None:
        _free_local_checkpoint(prev)
    return out

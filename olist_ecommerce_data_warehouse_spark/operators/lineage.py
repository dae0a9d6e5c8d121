"""Lineage cutting for loop-consumed DataFrames.

An iterative operator (CC label propagation, Lloyd k-means, BPE merge
rounds, PEGASOS rounds) that merely ``persist()``s its
loop-invariant input keeps the DATA cached but re-embeds the full
upstream LOGICAL PLAN in every round's Catalyst analysis — driver
cost O(upstream tree size × rounds), invisible in executor metrics
and independent of data volume, so a bigger cluster does not help
(the driver is one JVM there too).  Measured in this repo: the CC
loop went 1.3 s → 5.6 s at sf0.1 with byte-identical execution work
when its candidate pipeline's expression forest widened; cutting the
edge lineage restored it (SCALING.md "Driver-side replanning").

``cut_lineage`` materializes the DataFrame ONCE and truncates its
plan: a reliable checkpoint (fault-tolerant — blocks survive executor
loss) when the session has a checkpoint dir, ``localCheckpoint``
otherwise.  The localCheckpoint trade is documented and deliberate:
these inputs are CANDIDATE/FEATURE pipelines whose recompute-on-loss
costs the same work the checkpoint write already did, and the loops
that consume them re-derive nothing else from the lineage.

Release a cut with :func:`release_cut`, not ``unpersist()``:

- ``localCheckpoint`` keeps its blocks in the executor block store
  under the checkpointed RDD, which the returned frame's plan scans
  directly — the frame itself is not in the cache manager, so its
  ``unpersist()`` frees nothing (the RDD stays in
  ``getPersistentRDDs`` until a driver GC happens to collect it).
  ``release_cut`` unpersists that RDD.
- a RELIABLE checkpoint writes files under the checkpoint dir and
  re-reads them from disk each round; its RDD is not persisted, so
  ``release_cut`` does nothing there, and Spark deletes the files only
  at the end of the app when
  ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (set in
  :func:`session.get_spark` for exactly this reason — without it every
  iterative-operator call leaks checkpoint files for the app
  lifetime).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cut_lineage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and truncate its logical plan (see module
    doc for when and why).  Reliable checkpoint if the session has a
    checkpoint dir, localCheckpoint otherwise."""
    spark = df.sparkSession
    if spark.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def release_cut(cut: DataFrame) -> None:
    """Free the blocks of a frame ``cut_lineage`` returned (see module
    doc): unpersist the RDD its plan scans.  A no-op for a reliable
    checkpoint, whose RDD is not persisted."""
    cut._jdf.queryExecution().analyzed().rdd().unpersist(False)

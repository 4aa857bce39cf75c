"""Materialization strategy for shared and iterative intermediates.

The SparkContext's checkpoint directory is the one switch:

- No checkpoint dir (the default): DataFrame.localCheckpoint. Blocks
  live in the block manager (MEMORY_AND_DISK) — the right call on
  local[*], where there is exactly one process anyway. On a real
  cluster localCheckpoint is NOT fault-tolerant: blocks die with their
  executor, and a lost block kills every consumer of a shared
  intermediate or an iteration's whole lineage (which the checkpoint
  deliberately cut).
- A checkpoint dir set (Spark's own ``spark.checkpoint.dir``, read at
  context creation — ``spark-submit --conf`` or
  ``get_spark(extra_conf=...)``): reliable DataFrame.checkpoint into
  that fault-tolerant store (HDFS/S3 on a cluster). Same lineage cut,
  executor-loss-proof storage. Always EAGER: RDD.checkpoint() recomputes
  the lineage a second time when writing the files unless the data is
  already persisted, so a lazy reliable checkpoint would compute
  everything twice.

Every caller — the session memo (functions/memo.py), the iterative
kernels (functions/graph.py) and the plan-level loops — goes through
materialize(), so this is the only code that chooses between the two.
The engine never sets the directory itself.

Cleanup: localCheckpoint blocks are freed by the ContextCleaner when
the superseded DataFrames are GC'd. Reliable checkpoint FILES are only
freed the same way because the session factory sets
``spark.cleaner.referenceTracking.cleanCheckpoints`` (session.py, read
at context creation) — Spark's default leaves them on disk forever,
which at the iterative kernels' one-checkpoint-per-round cadence means
O(rounds x edges) of permanent storage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage: a local checkpoint (eager or lazy, as asked)
    when the context has no checkpoint dir, otherwise an eager reliable
    checkpoint into it. ``eager=False`` is a local-path optimisation —
    the first job that touches the result stores its blocks."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=True)

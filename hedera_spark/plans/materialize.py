"""Query-scoped materialization: compute a bounded frame once and cut its
lineage, so a plan that reads it several times reads stored blocks instead
of re-running (and re-optimizing) the subtree under it.

It replaces persist + count + unpersist. A checkpointed frame holds no
SQL-cache entry, so nothing cached can substitute into a later query's
plan, and its blocks are collected with the frame itself.

Fault tolerance: `localCheckpoint` keeps the blocks on the executors only,
so on a cluster an executor lost after the operator returns would make the
frame unrecomputable (its lineage is gone). When a reliable checkpoint dir
is configured, as cluster deploys do, `checkpoint` writes the blocks to the
shared file system instead. In local mode the executors are the driver
process, and the distinction is moot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """`df` computed now and stored off its lineage (one eager action)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)

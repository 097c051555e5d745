"""Size-gated broadcast: hint a join side only when the planner's own
size estimate fits a ceiling.

A frame whose size grows with the corpus (a fixed fraction of it, or a
Zipf tail of its vocabulary) is under a megabyte at the test scale
factors, where broadcasting it is the right plan, and terabytes at the
declared scale, where an unconditional `F.broadcast` would exhaust the
driver and every executor (Spark caps a broadcast at 8 GB). Above the
ceiling the frame is returned unhinted, so the planner falls back to a
shuffled join, which is memory-safe. Reading the estimate fires no Spark
job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The one ceiling for every gated broadcast, read at call time. The
# non-CBO estimate errs high (see plan_bytes), and at the test scale
# factors every gated frame estimates near a megabyte, so the plans
# there are broadcast plans.
BROADCAST_MAX_BYTES = 256 * 1024 * 1024


def plan_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate for `df`, in bytes. Without CBO a
    filter is not discounted, so the estimate errs high."""
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def broadcast_if_fits(df: DataFrame) -> DataFrame:
    """`F.broadcast(df)` when its estimate is at most BROADCAST_MAX_BYTES,
    else `df` unchanged."""
    return F.broadcast(df) if plan_bytes(df) <= BROADCAST_MAX_BYTES else df

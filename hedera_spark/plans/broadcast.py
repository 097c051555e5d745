"""Size-gated broadcast and driver pulls: hint a join side, or collect
a frame onto the driver, only when the planner's own size estimate fits
a ceiling.

A frame whose size grows with the corpus (a fixed fraction of it, or a
Zipf tail of its vocabulary) is under a megabyte at the test scale
factors, where broadcasting it is the right plan, and terabytes at the
declared scale, where an unconditional `F.broadcast` would exhaust the
driver and every executor (Spark caps a broadcast at 8 GB). Above the
ceiling the frame is returned unhinted, so the planner falls back to a
shuffled join, which is memory-safe. Reading the estimate fires no Spark
job.

The same ceiling gates a driver pull (`fits_on_driver`): a broadcast is
collected on the driver before it is sent out, so a frame under the
ceiling may also be pulled and worked on there (k-means trains its
centroids that way, operators/kmeans.py). Above it the caller keeps
the work in Spark.

The estimate is not a bound, and it is wrong in both directions: it
reads 18.4 TB for a 465-row anchor co-mention edge list, and 226 KB for
a 116,231-row per-document feature table of the quality classifier,
which holds about 2.8 MB. It is close on a plain scan, such
as k-means' projection of the embeddings table, and `fits_on_driver` is
reliable only there. A derived frame needs a measured gate (pull at
most a bounded number of rows) instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The one ceiling for every gated broadcast, read at call time. At the
# test scale factors every gated frame estimates near a megabyte, so the
# plans there are broadcast plans. The estimate can be far off either
# way (see the module docstring).
BROADCAST_MAX_BYTES = 256 * 1024 * 1024


def plan_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate for `df`, in bytes. Without CBO it
    is close on a plain scan, and on a derived frame it can be off by
    orders of magnitude in either direction (module docstring)."""
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def fits_on_driver(df: DataFrame) -> bool:
    """Whether `df`'s estimate is at most BROADCAST_MAX_BYTES."""
    return plan_bytes(df) <= BROADCAST_MAX_BYTES


def broadcast_if_fits(df: DataFrame) -> DataFrame:
    """`F.broadcast(df)` when it fits_on_driver, else `df` unchanged."""
    return F.broadcast(df) if fits_on_driver(df) else df

"""Range-partitioned prefix scan: a global row_number and running sums
without a single-reducer window.

A bare `row_number() OVER (ORDER BY k)` or `sum(v) OVER (PARTITION BY g
ORDER BY k)` sends the whole frame, or the whole of each group, through
ONE task: the one-reducer bottleneck of Hedera's BuildDictionary. Here
the rows are range-partitioned on (group, order), so partition order is
sort order; the window runs locally in every partition, and each
(partition, group) adds the broadcast count and sums of the partitions
before it in its group (|partitions| x |groups| rows). The scan is one
distributed pass and no task sees more than its own range.

Equal (group, order) keys always land in one range partition, so a sum
equals the single-task `sum(v) OVER (PARTITION BY group ORDER BY order)`
even when the order has ties; the rank is a row_number, so ties in a
non-total order are broken arbitrarily, as there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# ranges per scan; at cluster scale, about the executor slot count
RANGE_SCAN_PARTITIONS = 8

_PID = "_rs_pid"


def range_prefix_scan(df, order, *, rank=None, sums=None, group=()) -> DataFrame:
    """`df`'s columns plus `rank`, the 1-based long row_number over
    `order` within `group`, and for each `out -> value` in `sums` the
    inclusive running sum of `value` in that order. `order` holds column
    names or sort Columns (`F.desc`); `group` holds column names, and a
    null group is a group of its own."""
    order, group = list(order), list(group)
    # persisted: the partition id comes from spark_partition_id() and the
    # lineage branches (offsets aggregate + final join); a recompute could
    # sample different range boundaries and corrupt the offsets
    parted = (
        df.repartitionByRange(RANGE_SCAN_PARTITIONS, *group, *order)
        .withColumn(_PID, F.spark_partition_id())
        .persist()
    )
    # (output, local window function, per-partition aggregate)
    scans = ([(rank, F.row_number(), F.count(F.lit(1)))] if rank else []) + [
        (out, F.sum(value), F.sum(value)) for out, value in (sums or {}).items()
    ]
    local_w = Window.partitionBy(_PID, *group).orderBy(*order)
    local = parted.select(
        "*",
        *[fn.over(local_w).alias(f"_rs_l{i}") for i, (_, fn, _) in enumerate(scans)],
    )
    keys = [f"_rs_g{i}" for i in range(len(group))]
    before_w = (
        Window.partitionBy(*keys)
        .orderBy("_rs_opid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        parted.groupBy(
            F.col(_PID).alias("_rs_opid"),
            *[F.col(g).alias(k) for g, k in zip(group, keys)],
        )
        .agg(*[agg.alias(f"_rs_p{i}") for i, (_, _, agg) in enumerate(scans)])
        .select(
            "_rs_opid",
            *keys,
            *[
                F.coalesce(F.sum(f"_rs_p{i}").over(before_w), F.lit(0)).alias(
                    f"_rs_o{i}"
                )
                for i in range(len(scans))
            ],
        )
    )
    on = [F.col(_PID) == F.col("_rs_opid")] + [
        F.col(g).eqNullSafe(F.col(k)) for g, k in zip(group, keys)
    ]
    outs = [F.col(f"_rs_o{i}") + F.col(f"_rs_l{i}") for i in range(len(scans))]
    if rank:
        outs[0] = outs[0].cast("long")
    return local.join(F.broadcast(offsets), on).select(
        *df.columns, *[c.alias(out) for c, (out, _, _) in zip(outs, scans)]
    )

"""Plan inspection helpers — the tooling behind the scale-design checks
(SURVEY.md §4/§5.3). The properties these extract are the ones that decide
whether a plan survives a 100x scale-up: do filters reach the parquet scan,
is the read schema pruned, are dim joins broadcast, did Python leak into a
relational hot path.

Used by tests/test_plans.py and meant for interactive `.explain` iteration
while developing operators.
"""

from __future__ import annotations

import contextlib
import io
import threading
import uuid

from py4j import clientserver
from pyspark.sql import DataFrame, SparkSession


def executed_plan(df: DataFrame) -> str:
    """Physical plan string (post-AQE if the query already ran)."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """The `explain('formatted')` text (scan details: PushedFilters,
    ReadSchema), captured as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def build_cost(spark: SparkSession, build):
    """(result, round_trips, jobs) of calling `build()`: the driver→JVM
    round trips sent from the calling thread, and the Spark jobs it
    fires, counted by the statusTracker under a job group of its own.
    py4j's finalizer thread sends the deletes of earlier calls' objects
    whenever it wakes, which is not this call's cost, so other threads
    are not counted."""
    sc = spark.sparkContext
    group = f"build-cost-{uuid.uuid4().hex}"
    me = threading.get_ident()
    calls = [0]
    send = clientserver.ClientServerConnection.send_command

    def counting(self, command):
        calls[0] += threading.get_ident() == me
        return send(self, command)

    sc.setJobGroup(group, group)
    clientserver.ClientServerConnection.send_command = counting
    try:
        result = build()
    finally:
        clientserver.ClientServerConnection.send_command = send
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, calls[0], len(sc.statusTracker().getJobIdsForGroup(group))


def pushed_filters(df: DataFrame) -> list[str]:
    """Every PushedFilters entry across the plan's scans."""
    out: list[str] = []
    text = formatted_plan(df)
    for chunk in text.split("PushedFilters: [")[1:]:
        out.append(chunk.split("]")[0])
    return out


def read_schema(df: DataFrame) -> list[str]:
    """Every ReadSchema line across the plan's scans."""
    text = formatted_plan(df)
    return [chunk.splitlines()[0].strip() for chunk in text.split("ReadSchema:")[1:]]


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)


def has_python_eval(df: DataFrame) -> bool:
    """True if any row-at-a-time or Arrow Python evaluation appears."""
    plan = executed_plan(df)
    return "BatchEvalPython" in plan or "ArrowEvalPython" in plan

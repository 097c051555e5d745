"""Streaming distribution-drift monitor.

The batch drift dials (operators/profile.profile_drift, ks_drift) compare
two halves of a static log after the fact; a production pipeline wants the
same reading ONLINE — per event-time window, against fences trained on the
reference corpus — so a shifted input is flagged while the batch that
caused it is still in flight.

Design: the 9 decile fences are a fixed 9-float model computed once from
the static baseline and inlined as literals (the quality_classifier
parameter-server discipline — scoring stays map-side, no stream-static
join); the stream then only needs one windowed count aggregate per
(window, bucket). State is bounded by |windows in flight| × 10 buckets.
The consumer compares each window's bucket fractions to the baseline's
(uniform 1/10 by construction) with the PSI formula profile_drift emits.

Reference parity: the monitoring half of WIKIREVISION.md's streaming ETL
story; the fences play the role of the reference's precomputed statistics
sidecar files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hedera_spark.functions.literals import double_array
from hedera_spark.operators.profile import DRIFT_QS
from hedera_spark.sources.tables import load_table
from hedera_spark.streaming.source import event_stream


def baseline_fences(spark: SparkSession, sf_dir: str) -> list[float]:
    """The 9 decile fences of the static baseline corpus — the trained
    'model' the stream scores against (one exact-percentile aggregate,
    collected once; 9 floats of driver state)."""
    qs = ", ".join(str(x) for x in DRIFT_QS)
    row = (
        load_table(spark, sf_dir, "events")
        .agg(F.expr(f"percentile(value, array({qs}))").alias("fences"))
        .collect()[0]["fences"]
    )
    return [float(x) for x in row]


def bucket_expr(fences: list[float]):
    """Row-local decile assignment against literal fences — identical to
    profile_drift's batch bucketing (count of fences below the value)."""
    arr = double_array(fences)
    return (F.size(F.filter(arr, lambda f: F.col("value") > f)) + 1).cast(
        "long"
    )


def stream_drift(
    spark: SparkSession, sf_dir: str, fences: list[float] | None = None
) -> DataFrame:
    """Per-hour bucket counts of the replayed event stream against the
    baseline fences: (hour, bucket, n). A drifted hour shows mass piling
    into edge buckets instead of the baseline's uniform tenth per
    bucket. Watermarked windowed aggregation — bounded state, late rows
    beyond 1 hour dropped like every event-time operator here."""
    f = fences if fences is not None else baseline_fences(spark, sf_dir)
    ev = event_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("win"),
            bucket_expr(f).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("hour"), "bucket", "n")
    )


def batch_drift_twin(
    spark: SparkSession, sf_dir: str, fences: list[float] | None = None
) -> DataFrame:
    """Batch reconstruction of stream_drift over the same log — the
    replay-equals-batch oracle for tests."""
    f = fences if fences is not None else baseline_fences(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            bucket_expr(f).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )

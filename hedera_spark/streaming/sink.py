"""Streaming lake sink — foreachBatch into date-partitioned parquet with
idempotent dynamic partition overwrite.

The last seam of the ingest story (sources: streaming/source.py +
rate_source.py; operators: the H family): landing the stream in the
columnar lake every batch job reads. The reference writes time-bucketed
files from MapReduce jobs (pig/preprocess/sortRevisions.pig bz2 stores);
the Spark-first statement is a file-stream → foreachBatch →
`partitionBy(event_date)` parquet write in DYNAMIC partition-overwrite
mode: each micro-batch rewrites exactly the date partitions it carries
and touches nothing else.

Why dynamic overwrite instead of append: replays happen — a checkpoint
is lost, a backfill reprocesses a window, a failed batch retries after
partial file commit. Append would duplicate rows on every one of those;
overwrite-by-partition makes the writer IDEMPOTENT at the partition
grain, so "re-run the ingest" is always safe when micro-batches align
with partitions (the daily-file replay layout here; in production, the
Kafka-to-daily-compaction job has the same alignment). The test runs
the whole stream twice from scratch and asserts byte-identical results.

Scale: the write parallelism is the stream's partitioning; each batch
touches only its own date directories, so concurrent historical
partitions are never rewritten — the compaction pattern for a 100 TB
events lake.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hedera_spark.streaming.source import stream_events_dir


def stream_write_partitioned(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    recursive: bool = True,
) -> StreamingQuery:
    """Replay the events file stream from `src_dir` into a
    date-partitioned parquet lake at `out_dir`, one idempotent dynamic
    partition overwrite per micro-batch. Returns the started query
    (availableNow trigger — drains what exists, then stops)."""
    ev = stream_events_dir(spark, src_dir, recursive=recursive).withColumn(
        "event_date", F.to_date("ts")
    )

    def _write_batch(batch_df, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("event_date")
            .parquet(out_dir)
        )

    return (
        ev.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_write_compacted(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    target_rows_per_file: int = 1_000_000,
    recursive: bool = True,
) -> StreamingQuery:
    """stream_write_partitioned with the small-files problem solved at
    write time: each micro-batch is rebalanced on `event_date` before
    the dynamic partition overwrite, and the writer rolls a file over
    every `target_rows_per_file` rows, so a date partition lands as a
    few right-sized parquet files instead of one shard per shuffle
    partition (32 shuffle partitions x 365 days = 11k tiny files —
    the classic streaming-lake pathology; a 100 TB-lake reader wants
    ~128 MB-1 GB files).

    Why a rebalance and not a count: sizing a round-robin repartition
    from `batch_df.count()` scans every micro-batch twice (the count
    job, then the write). The rebalance hash-partitions on the date,
    so all of a date's rows meet in one task, which writes
    ceil(rows_date / target_rows_per_file) files (the maxRecordsPerFile
    roll-over) in one scan. AQE still splits a date whose shuffle
    output exceeds the advisory partition size (64 MB by default) into
    parallel tasks over ranges of its map tasks, each writing its own
    files, so a huge single-day batch is not funnelled through one core. The idempotence story is
    unchanged — replays rewrite exactly the partitions they carry."""
    ev = stream_events_dir(spark, src_dir, recursive=recursive).withColumn(
        "event_date", F.to_date("ts")
    )

    def _write_batch(batch_df, batch_id: int) -> None:
        (
            batch_df.hint("rebalance", "event_date")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("maxRecordsPerFile", target_rows_per_file)
            .partitionBy("event_date")
            .parquet(out_dir)
        )

    return (
        ev.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

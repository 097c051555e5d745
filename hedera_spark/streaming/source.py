"""Schema-adaptive streaming source for the events log.

The events parquet has shipped `ts` in two physical encodings across
testdata regenerations: nanosecond timestamps, which Spark (under
``spark.sql.legacy.parquet.nanosAsLong``) surfaces as LongType nanos,
and plain ``timestamp[us]``, which surfaces as TIMESTAMP_NTZ. A file
stream must pin its schema up front (streams cannot infer), so we probe
the parquet footers with a batch read (one footer-reading Spark job,
then cached per directory fingerprint) and branch on the observed `ts`
type — the same conditional normalization `load_table`
(hedera_spark/sources/tables.py) applies on the batch side. Keeping both
paths in this one helper guarantees stream and batch agree on the
event-time column no matter which encoding the current testdata carries.

Reference parity: Hedera's InputFormat family (java/main/org/hedera/io/
input/WikiRevisionInputFormat.java and subclasses) owns "how bytes on
disk become typed records" for its MapReduce jobs; this module is that
seam for the streaming side, with Spark's parquet reader doing the
decoding and only the ts-encoding branch left to us.

Scale: the probe reads footers only (no data pages), once per state of
the probed path; the stream itself is a standard file source —
checkpointed offsets, per-file splits, predicate pushdown on the pinned
schema. The probed schema is kept in `sources.tables.derived`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hedera_spark.sources.tables import derived, path_state_key


def normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize `ts` to TIMESTAMP for event-time processing. Two on-disk
    encodings are handled: nanos-as-long becomes a microsecond timestamp
    (mirroring load_table's batch normalization), and TIMESTAMP_NTZ is
    cast to TIMESTAMP — watermarks reject NTZ, and with the session
    pinned to UTC the cast preserves the wall clock, keeping stream
    results aligned with the batch operators."""
    if "ts" not in df.columns:
        return df
    dtype = df.schema["ts"].dataType
    if isinstance(dtype, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dtype, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def probe_schema(
    spark: SparkSession, path: str, recursive: bool = False
) -> T.StructType:
    """Learn the on-disk schema from the parquet footers via a batch read
    (footer-only; no data pages are scanned, but inference is one Spark
    job). Sets the legacy nanos conf first so a nanos-encoded file
    surfaces as LongType instead of erroring, and pins the session to
    UTC like the batch loader.

    The schema is kept in the `tables.derived` store under
    (path_state_key, "schema", recursive), the entry `load_table` reads
    for the same path, so restarting a stream over an unchanged
    directory fires no job, while a directory that gained, lost or
    rewrote a file is probed again. A path that cannot be stat'ed is
    never cached."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return derived(
        path_state_key(path),
        "schema",
        recursive,
        lambda: spark.read.option("recursiveFileLookup", recursive).parquet(path).schema,
    )


def stream_events_dir(
    spark: SparkSession,
    directory: str,
    *,
    probe_path: str | None = None,
    glob: str | None = None,
    recursive: bool = False,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """File-stream over parquet in `directory` with the probed schema and
    normalized `ts`. `probe_path` defaults to the stream directory; pass
    a single file when the directory holds mixed content."""
    schema = probe_schema(spark, probe_path or directory, recursive=recursive)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return normalize_ts(reader.parquet(directory))


def event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical events stream: sf_dir/events.parquet replayed as a
    file stream, `ts` normalized to a real timestamp either way."""
    return stream_events_dir(
        spark,
        sf_dir,
        probe_path=os.path.join(sf_dir, "events.parquet"),
        glob="events.parquet",
    )

"""SparkSession builder tuned for this engine.

Defaults target local[N] testing but every knob is what we would set on a
1000-executor cluster: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), Arrow for the few Pandas-UDF paths, sensible
broadcast threshold. Shuffle partitions default to the local core count;
on a real cluster this is overridden (or left to AQE's coalescing with a
high initial number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from hedera_spark.sources import tables


def get_spark(app_name: str = "hedera_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # dozens of codegen-heavy queries in one JVM exhaust the default
        # 240m code cache; once full, JIT disables and generated code runs
        # interpreted (measured 10-20x slowdowns late in bench runs)
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.sql.session.timeZone", "UTC")
        # the test corpus stores nanosecond parquet timestamps, which Spark
        # only reads via the legacy long path (SPARK-40819); tables.py
        # converts the long back to a proper TimestampType column
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # PySpark 4 records the Python call site of every wrapped
        # `functions.*` / Column call for error messages, several JVM
        # round trips each, and building a query makes hundreds of such
        # calls (measured at sf0.01 with cached schemas: tpch_q5 510 ->
        # 200 round trips per build, dedup_minhash about 2,100 -> 1,100,
        # kmeans_embeddings 870 -> 450). Analysis errors still name the
        # offending column; only the Python line is dropped. A static
        # conf: it applies to sessions this builder creates.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Without the native Hadoop library (pip-installed PySpark ships
        # none) the default FileContext-based checkpoint manager runs
        # `readlink` in a forked shell on every rename of an offset,
        # commit, metadata or source-log file (ChecksumFs.renameInternal
        # -> FileUtil.readLink): 208 of the ~355 processes a lake_ingest
        # pass started on a 4-core VM, and most of each micro-batch's
        # ~34 ms walCommit / commitOffsets / latestOffset. The
        # FileSystem-based manager renames with fs.rename (File.renameTo
        # on file: paths) and forks nothing. HDFSMetadataLog (offsets,
        # commits, source logs) and StreamMetadata write with
        # overwriteIfPossible=false, for which this manager refuses an
        # existing target (exists check, then rename) as the FileContext
        # one does on file: paths; on HDFS the rename itself also refuses
        # an existing target. A runtime SQL conf.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    spark = builder.getOrCreate()
    # Hadoop's local FileSystem writes a `.crc` sidecar next to every file
    # it creates, and (without the native library) chmods the file and
    # the sidecar in a forked shell each: checkpoint temp files, parquet
    # part files, `_SUCCESS`. Checksum writing is switched off on the
    # process's cached file: FileSystem, the instance every file: path
    # resolves to on the driver and in local-mode tasks: one chmod per
    # file instead of two, ~146 -> ~104 process starts per lake_ingest
    # pass. What is given up: the sidecars of files written from here
    # on, so Hadoop no longer detects corruption of those local files on
    # read (parquet pages still carry their own CRC). Existing sidecars
    # are still verified, and a rewrite or rename over a file drops its
    # stale sidecar. fs.file.impl is not swapped for RawLocalFileSystem:
    # FileSystem.getLocal (sc.textFile, Hadoop's LocalDirAllocator)
    # casts the file: FileSystem to LocalFileSystem and would fail. HDFS
    # and object-store paths are untouched.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI.create("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
    ).setWriteChecksum(False)
    return spark


def reset_session_state(spark: SparkSession) -> None:
    """Return a long-lived session to a plan-clean state between
    materialized queries: bench.py calls it between reps, the plan-audit
    tests before asserting plan shapes, and any driver embedding the
    engine in a long-lived session should call it between independent
    queries.

    It releases persisted intermediates: Spark's CacheManager
    substitutes a cached subtree into any new plan that contains it, and
    AQE does not reuse exchanges across the resulting
    TableCacheQueryStage nodes, so a leaked cache changes later plans.

    It also ends the session lifetime in `sources.tables.derived`, the
    one store of what is derived from input files: trained models
    (k-means centroids, LR weights) are dropped, so a timing rep pays a
    full train. Parquet schemas and hot-page stats keep their process
    lifetime: each is a pure function of its file-state key, so it can
    never go stale or change a plan, and keeping it spares the next
    query a footer-reading or counting job.
    """
    spark.catalog.clearCache()
    tables.reset_derived()

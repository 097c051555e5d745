"""Table registry over the parquet test data.

Plays the role of Hedera's loaders (reference: java/main/org/hedera/pig/load/
WikiRevisionLoader.java, LiteWikipediaLoader.java, FileNameLoader.java):
a single entry point that hands back analysis-ready DataFrames. Spark-first:
`spark.read.parquet` gives us column pruning + predicate pushdown for free,
so unlike the reference there is no bespoke split/reader machinery — Catalyst
plans the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# The schema `spark.read.parquet` inferred for each table, keyed by
# table_state_key (path plus file size/mtime fingerprint), and for each
# stream directory streaming.source.probe_schema probed, keyed by
# (path_state_key, recursive). Inference reads the parquet footers in a
# Spark job on every read; a reread with the cached schema fires none. A
# rewrite in place, or a file landing in a stream directory, changes the
# fingerprint and so re-infers. A key that could not be stat'ed
# (path-only, length 1) is never cached: nothing would notice the data
# changing under it. The inferred schema also depends on the reader
# confs, which both readers pin (nanosAsLong) before every read.
_SCHEMA_CACHE: dict[tuple, T.StructType] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    # Set at runtime (not only in our builder) so a driver-provided session
    # can read the nanosecond-timestamp parquet too; UTC keeps to_date /
    # date_format aligned with the tz-naive DuckDB oracle regardless of the
    # host session's zone.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = table_state_key(sf_dir, name)
    schema = _SCHEMA_CACHE.get(key)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if schema is None:
        schema = df.schema
        if len(key) > 1:
            _SCHEMA_CACHE[key] = schema
    # Nanos columns arrive as LongType under the legacy conf; restore them
    # to TimestampType at microsecond precision (matching DuckDB's
    # ns→us truncation) so downstream operators see real timestamps.
    if name == "events" and isinstance(schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for spark.sql access)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def table_state_key(sf_dir: str, name: str) -> tuple:
    """Cache key for driver-side model registries: (path, file metadata
    fingerprint). The in-process model stores (kmeans centroids, the LR
    quality classifier) must retrain when the data under a path changes
    within one session — a path-only key silently serves a stale model
    after an in-place rewrite. See path_state_key for the fingerprint."""
    return path_state_key(os.path.join(sf_dir, f"{name}.parquet"))


def path_state_key(path: str) -> tuple:
    """(path, file metadata fingerprint) of a parquet file or directory.
    File (relpath, size, mtime_ns) triples are a metadata-only
    fingerprint (no data scan, so checking the key costs microseconds);
    a file added, removed or rewritten under a directory changes it. On
    a store where the driver cannot stat (HDFS/S3 paths), fall back to
    path-only keying (length 1): the model registries then assume
    path->data immutability for the process lifetime; the schema caches
    never store under such a key."""
    try:
        if os.path.isdir(path):
            parts = []
            for root, dirs, files in os.walk(path):
                # os.walk enumerates in filesystem order — sort the
                # recursion and the files so the fingerprint tuple is a
                # deterministic function of the file SET, not of inode
                # enumeration order (a spurious order change would force
                # a needless model retrain)
                dirs.sort()
                for f in sorted(files):
                    fp = os.path.join(root, f)
                    st = os.stat(fp)
                    parts.append((os.path.relpath(fp, path), st.st_size, st.st_mtime_ns))
            return (path, tuple(parts))
        st = os.stat(path)
        return (path, st.st_size, st.st_mtime_ns)
    except OSError:
        return (path,)

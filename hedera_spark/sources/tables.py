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


# Everything derived from input files, in one store keyed by (file-state
# fingerprint, kind, params): parquet schemas, the revision operators'
# hot-page stats, trained k-means centroids and LR weights. Each is a
# pure function of its inputs, so a hit can never change a result, and
# a file added, removed or rewritten changes the fingerprint and so
# recomputes. A path-only state (length 1, a path the driver could not
# stat) is never stored: nothing would notice the data changing under
# it. Two lifetimes: the kinds in SESSION_KINDS (trained models, whose
# training a timing rep must pay again) are dropped by
# reset_derived(); schemas and hot-page stats survive it, as catalog
# statistics survive a session.
_DERIVED: dict[tuple, object] = {}
SESSION_KINDS = frozenset({"kmeans_centroids", "lr_weights"})
_MISSING = object()


def derived(state: tuple, kind: str, params, compute):
    """The stored value under (state, kind, params), else `compute()`,
    stored unless `state` is path-only. A stored None is a hit."""
    key = (state, kind, params)
    value = _DERIVED.get(key, _MISSING)
    if value is _MISSING:
        value = compute()
        if len(state) > 1:
            _DERIVED[key] = value
    return value


def reset_derived() -> None:
    """Drop the session-lifetime entries (SESSION_KINDS)."""
    for key in [k for k in _DERIVED if k[1] in SESSION_KINDS]:
        del _DERIVED[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    # Set at runtime (not only in our builder) so a driver-provided session
    # can read the nanosecond-timestamp parquet too; UTC keeps to_date /
    # date_format aligned with the tz-naive DuckDB oracle regardless of the
    # host session's zone.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the inferred schema also depends on the reader confs set above;
    # streaming.source.probe_schema pins the same ones and shares entries
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = derived(
        table_state_key(sf_dir, name), "schema", False, lambda: spark.read.parquet(path).schema
    )
    df = spark.read.schema(schema).parquet(path)
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
    """The file-state fingerprint of table `name` under `sf_dir` (see
    path_state_key): the state half of every `derived` key read from a
    table."""
    return path_state_key(os.path.join(sf_dir, f"{name}.parquet"))


def path_state_key(path: str) -> tuple:
    """(path, file metadata fingerprint) of a parquet file or directory.
    File (relpath, size, mtime_ns) triples are a metadata-only
    fingerprint (no data scan, so checking the key costs microseconds);
    a file added, removed or rewritten under a directory changes it. On
    a store where the driver cannot stat (HDFS/S3 paths) it is path-only
    (length 1), and `derived` stores nothing under it: schemas, stats
    and models are then computed again on every call."""
    try:
        if os.path.isdir(path):
            parts = []
            for root, dirs, files in os.walk(path):
                # os.walk enumerates in filesystem order — sort the
                # recursion and the files so the fingerprint tuple is a
                # deterministic function of the file SET, not of inode
                # enumeration order (a spurious order change would force
                # a needless recompute)
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

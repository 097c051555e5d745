"""Build-path cost: the Spark jobs and driver→JVM round trips a query
pays while its plan is being built, before any action runs.

- `load_table` caches each parquet schema it inferred, so a reread fires
  no footer-reading job, and a rewrite in place still re-infers. The
  stream-start schema probe shares that cache.
- k-means writes its centroid literal and argmin as SQL text (one call
  each, bit-exact doubles). A training set under the driver ceiling is
  pulled in one job and trained on the driver; above it the Spark loop
  stays within its job budget. A cold build stays under a round-trip
  ceiling.
- dedup_minhash's signature and LSH bands are SQL text too, under a
  round-trip ceiling of their own, and so are the sign-LSH buckets,
  dot products and SimHash votes of functions/vectors.py.
- The fixed-depth graph algorithms fire only the jobs that materialize
  their edge list; the graph entries that are lazy over the raw edge
  list fire none.
- Everything derived from input files lives in one store keyed by file
  state: a reset drops the trained models and keeps schemas and
  hot-page stats, a path-only state is never stored, and a part file
  rewritten inside a directory-form table is noticed.
- The session turns PySpark's per-call origin capture off; analysis
  errors must still name the offending column.
"""

from __future__ import annotations

import os
import struct

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR


def _jobs_fired(spark, fn) -> int:
    """Spark jobs `fn()` fires."""
    from hedera_spark.plans.audit import build_cost

    return build_cost(spark, fn)[2]


def _write_embeddings(path, with_label: bool) -> None:
    cols = {
        "vec_id": pa.array([1, 2, 3], type=pa.int64()),
        "embedding": pa.array([[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]], type=pa.list_(pa.float32())),
    }
    if with_label:
        cols["label"] = pa.array([0, 1, 0], type=pa.int32())
    pq.write_table(pa.table(cols), path)


# --- schema cache in load_table ---------------------------------------


def test_repeated_load_table_fires_no_job(spark, tmp_path):
    from hedera_spark.sources.tables import load_table

    _write_embeddings(tmp_path / "embeddings.parquet", with_label=True)
    # the first read infers the schema (the footer job), which also
    # shows the counter sees jobs at all
    assert _jobs_fired(spark, lambda: load_table(spark, str(tmp_path), "embeddings")) >= 1
    assert _jobs_fired(spark, lambda: load_table(spark, str(tmp_path), "embeddings")) == 0
    assert load_table(spark, str(tmp_path), "embeddings").count() == 3


def test_load_table_rereads_schema_after_inplace_rewrite(spark, tmp_path):
    """Same path, new file with a different schema: the fingerprint
    changes, so the new schema is inferred, not the cached one served."""
    from hedera_spark.sources.tables import load_table, table_state_key

    path = tmp_path / "embeddings.parquet"
    _write_embeddings(path, with_label=False)
    key1 = table_state_key(str(tmp_path), "embeddings")
    first = load_table(spark, str(tmp_path), "embeddings")
    assert first.columns == ["vec_id", "embedding"]
    # rewrite in place with a DIFFERENT schema; bump mtime explicitly so
    # the test never races a same-nanosecond rewrite
    _write_embeddings(path, with_label=True)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    assert table_state_key(str(tmp_path), "embeddings") != key1
    second = load_table(spark, str(tmp_path), "embeddings")
    assert second.columns == ["vec_id", "embedding", "label"]
    assert sorted(r["label"] for r in second.collect()) == [0, 0, 1]


def test_unfingerprinted_path_is_never_cached(spark, tmp_path, monkeypatch):
    """A key of length 1 (a path the driver could not stat) carries no
    fingerprint, so nothing would notice a rewrite: never cache it."""
    from hedera_spark.sources import tables

    _write_embeddings(tmp_path / "embeddings.parquet", with_label=True)
    monkeypatch.setattr(
        tables, "table_state_key", lambda sf_dir, name: (os.path.join(sf_dir, f"{name}.parquet"),)
    )
    before = dict(tables._DERIVED)
    for _ in range(2):
        assert _jobs_fired(spark, lambda: tables.load_table(spark, str(tmp_path), "embeddings")) >= 1
    assert tables._DERIVED == before


# --- schema probe at stream start ---------------------------------------


def _write_events(path, with_extra: bool) -> None:
    cols = {
        "event_id": pa.array([1, 2], type=pa.int64()),
        "ts": pa.array([1_700_000_000_000_000, 1_700_000_060_000_000], type=pa.timestamp("us")),
    }
    if with_extra:
        cols["extra"] = pa.array(["a", "b"])
    pq.write_table(pa.table(cols), path)


def test_repeated_stream_start_fires_no_probe_job(spark, tmp_path):
    from hedera_spark.streaming.source import stream_events_dir

    _write_events(tmp_path / "part-0.parquet", with_extra=False)
    assert _jobs_fired(spark, lambda: stream_events_dir(spark, str(tmp_path))) >= 1
    assert _jobs_fired(spark, lambda: stream_events_dir(spark, str(tmp_path))) == 0
    # recursive listing can infer differently: a key of its own
    assert _jobs_fired(spark, lambda: stream_events_dir(spark, str(tmp_path), recursive=True)) >= 1


def test_stream_probe_rereads_changed_dir(spark, tmp_path):
    """A file rewritten in place, or a file landing in the directory,
    changes the fingerprint: the schema is probed again."""
    from hedera_spark.streaming.source import stream_events_dir

    path = tmp_path / "part-0.parquet"
    _write_events(path, with_extra=False)
    assert stream_events_dir(spark, str(tmp_path)).columns == ["event_id", "ts"]
    _write_events(path, with_extra=True)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    assert stream_events_dir(spark, str(tmp_path)).columns == ["event_id", "ts", "extra"]
    _write_events(tmp_path / "part-1.parquet", with_extra=True)
    assert _jobs_fired(spark, lambda: stream_events_dir(spark, str(tmp_path))) >= 1


def test_unfingerprinted_stream_probe_is_never_cached(spark, tmp_path, monkeypatch):
    from hedera_spark.sources import tables
    from hedera_spark.streaming import source

    _write_events(tmp_path / "part-0.parquet", with_extra=False)
    monkeypatch.setattr(source, "path_state_key", lambda path: (path,))
    before = dict(tables._DERIVED)
    for _ in range(2):
        assert _jobs_fired(spark, lambda: source.stream_events_dir(spark, str(tmp_path))) >= 1
    assert tables._DERIVED == before


# --- k-means build path ------------------------------------------------

_AWKWARD = [
    -0.0,
    0.0,
    5e-324,  # smallest subnormal
    2.2250738585072014e-308,  # smallest normal
    1.7976931348623157e308,
    -1.7976931348623157e308,
    0.1,
    -7.28e-4,
    1e16,
    123456789.12345679,
    float("nan"),
    float("inf"),
    float("-inf"),
]


def _bits(v: float) -> bytes:
    return struct.pack("<d", v)


def test_sql_text_literals_are_bit_exact(spark):
    from pyspark.sql import functions as F

    from hedera_spark.functions.literals import double_array
    from hedera_spark.operators.kmeans import _cent_lit

    cent_rows = [(7, _AWKWARD), (-3, list(reversed(_AWKWARD)))]
    by_lit = F.array(
        *[
            F.struct(
                F.lit(cid).cast("long").alias("cid"),
                F.array(*[F.lit(float(v)) for v in cemb]).alias("cemb"),
            )
            for cid, cemb in cent_rows
        ]
    )
    df = spark.range(1).select(
        F.expr(_cent_lit(cent_rows)).alias("sql"),
        by_lit.alias("lit"),
        double_array(_AWKWARD).alias("arr"),
    )
    assert df.schema["sql"].dataType == df.schema["lit"].dataType
    row = df.collect()[0]
    got = [(c["cid"], [_bits(v) for v in c["cemb"]]) for c in row["sql"]]
    want = [(c["cid"], [_bits(v) for v in c["cemb"]]) for c in row["lit"]]
    assert got == want
    assert [_bits(v) for v in row["arr"]] == [_bits(v) for v in _AWKWARD]


def _spark_trained_kmeans(monkeypatch) -> None:
    """Force k-means onto its Spark loop: no training set fits a zero
    driver ceiling."""
    from hedera_spark.plans import broadcast

    monkeypatch.setattr(broadcast, "BROADCAST_MAX_BYTES", 0)


def test_kmeans_build_job_budget(spark, monkeypatch):
    """A cold build on the Spark loop: one init pull, then one shuffle
    (map stage + collect job) per Lloyd iteration."""
    from hedera_spark.operators.kmeans import KMEANS_ITERATIONS, kmeans_embeddings
    from hedera_spark.session import reset_session_state
    from hedera_spark.sources.tables import load_table

    reset_session_state(spark)
    load_table(spark, SF_DIR, "embeddings")  # schema cached: no load job below
    _spark_trained_kmeans(monkeypatch)
    jobs = _jobs_fired(spark, lambda: kmeans_embeddings(spark, SF_DIR))
    reset_session_state(spark)
    assert 1 <= jobs <= 1 + 2 * KMEANS_ITERATIONS


def test_kmeans_trains_on_the_driver_in_one_job(spark):
    """Under the driver ceiling a cold build pulls the training set once
    and fires no other job; a build with the model stored fires none."""
    from hedera_spark.operators.kmeans import kmeans_embeddings
    from hedera_spark.session import reset_session_state
    from hedera_spark.sources.tables import load_table

    reset_session_state(spark)
    load_table(spark, SF_DIR, "embeddings")  # schema cached: no load job below
    assert _jobs_fired(spark, lambda: kmeans_embeddings(spark, SF_DIR)) == 1
    assert _jobs_fired(spark, lambda: kmeans_embeddings(spark, SF_DIR)) == 0


def _second_build(spark, fn) -> tuple[int, int]:
    """(round trips, jobs) of building `fn` at SF_DIR: driver→JVM round
    trips on the building thread and the Spark jobs fired. The build is
    the second after `reset_session_state`: the first caches the parquet
    schemas, so the counts are the same whatever ran before, and trained
    models are dropped again before it."""
    from hedera_spark.plans.audit import build_cost
    from hedera_spark.session import reset_session_state

    reset_session_state(spark)
    fn(spark, SF_DIR)
    reset_session_state(spark)
    try:
        return build_cost(spark, lambda: fn(spark, SF_DIR))[1:]
    finally:
        reset_session_state(spark)


def _build_round_trips(spark, fn) -> int:
    """Driver→JVM round trips of the second build (`_second_build`)."""
    return _second_build(spark, fn)[0]


def test_kmeans_build_round_trip_ceiling(spark):
    """Element-wise `F.lit` centroids cost ~14k round trips per build;
    the SQL-text literals about 320 with the Spark loop, and training on
    the driver about 135."""
    from hedera_spark.operators.kmeans import kmeans_embeddings

    assert 0 < _build_round_trips(spark, kmeans_embeddings) <= 200


def test_dedup_minhash_build_round_trip_ceiling(spark):
    """Per-hash `F` column chains for the signature cost 776 or more
    round trips per build; the SQL-text signature and band kernel about
    240."""
    from hedera_spark.operators.dedup import dedup_minhash

    assert 0 < _build_round_trips(spark, dedup_minhash) <= 400


_VECTOR_CEILINGS = {
    "ann_lsh": 453,
    "ann_lsh_multi": 1431,
    "ann_candidate_volume": 2078,
    "dedup_embedding_lsh": 432,
    "dedup_simhash": 938,
}


@pytest.mark.parametrize("name", sorted(_VECTOR_CEILINGS))
def test_vector_kernel_build_round_trip_ceiling(spark, name):
    """Each ceiling is half of the entry's build round trips when its
    sign-LSH buckets, dot products and SimHash vote were `F` column
    chains (sf0.001): ann_lsh 907, ann_lsh_multi 2,863,
    ann_candidate_volume 4,156, dedup_embedding_lsh 864, dedup_simhash
    1,876. As SQL text from functions/vectors.py they take 72, 142, 519,
    64 and 488."""
    from hedera_spark.registry import QUERIES

    assert 0 < _build_round_trips(spark, QUERIES[name]) <= _VECTOR_CEILINGS[name]


# The fixed-depth graph algorithms materialize the co-mention edge list
# (anchor_cooccur's 8 jobs) and nothing else while they are built.
_GRAPH_FIXED_DEPTH = [
    "pagerank_anchors",
    "hits_anchors",
    "anchor_triangles",
    "graph_communities",
    "graph_two_hop",
    "graph_modularity",
    "graph_walks",
    "graph_distances",
]


@pytest.mark.parametrize("name", _GRAPH_FIXED_DEPTH)
def test_graph_build_job_ceiling(spark, name):
    """Persisting and counting intermediates, then checkpointing the
    result, fired 18 to 44 jobs per build (sf0.001): pagerank_anchors 31,
    hits_anchors 44, graph_distances 35, graph_modularity 31."""
    from hedera_spark.registry import QUERIES

    assert 0 < _second_build(spark, QUERIES[name])[1] <= 8


@pytest.mark.parametrize(
    "name", ["graph_degree_stats", "graph_neighbor_jaccard", "graph_assortativity"]
)
def test_lazy_graph_entries_fire_no_build_job(spark, name):
    """These read the raw edge list once each way and stay lazy over it;
    materializing it (graph._edge_list) would only add jobs."""
    from hedera_spark.registry import QUERIES

    assert _second_build(spark, QUERIES[name])[1] == 0


# --- the derived store ------------------------------------------------


def test_reset_retrains_models(spark, monkeypatch):
    """reset_session_state drops trained models: the next k-means build
    pays the init pull and every Lloyd iteration again (on the Spark
    loop), and the next quality_classifier build its gradient steps,
    which a cache-only clear (bench.py's score-only call) does not."""
    from hedera_spark.operators.importance import LR_ITERATIONS, quality_classifier
    from hedera_spark.operators.kmeans import KMEANS_ITERATIONS, kmeans_embeddings
    from hedera_spark.session import reset_session_state

    _spark_trained_kmeans(monkeypatch)
    kmeans_embeddings(spark, SF_DIR)
    reset_session_state(spark)
    assert _jobs_fired(spark, lambda: kmeans_embeddings(spark, SF_DIR)) >= 1 + 2 * KMEANS_ITERATIONS
    monkeypatch.undo()

    quality_classifier(spark, SF_DIR)
    spark.catalog.clearCache()  # caches drop, model stays
    scoring = _jobs_fired(spark, lambda: quality_classifier(spark, SF_DIR))
    reset_session_state(spark)
    training = _jobs_fired(spark, lambda: quality_classifier(spark, SF_DIR))
    reset_session_state(spark)
    assert training >= scoring + LR_ITERATIONS


def test_reset_retrains_models_on_the_driver(spark):
    """The same under the driver ceiling: after a reset the next k-means
    build pulls its training set again (one job); the build after it
    finds the model stored (none)."""
    from hedera_spark.operators.kmeans import kmeans_embeddings
    from hedera_spark.session import reset_session_state

    kmeans_embeddings(spark, SF_DIR)
    reset_session_state(spark)
    assert _jobs_fired(spark, lambda: kmeans_embeddings(spark, SF_DIR)) == 1
    assert _jobs_fired(spark, lambda: kmeans_embeddings(spark, SF_DIR)) == 0
    reset_session_state(spark)


def test_reset_keeps_schemas_and_hot_page_stats(spark):
    """Schemas and hot-page stats outlive a reset: on unchanged files a
    load_table and a rev_pairs build fire no job."""
    from hedera_spark.operators.revisions import rev_pairs
    from hedera_spark.session import reset_session_state
    from hedera_spark.sources.tables import load_table

    rev_pairs(spark, SF_DIR)
    reset_session_state(spark)
    assert _jobs_fired(spark, lambda: load_table(spark, SF_DIR, "events")) == 0
    assert _jobs_fired(spark, lambda: rev_pairs(spark, SF_DIR)) == 0


def test_path_only_state_is_never_stored(spark, monkeypatch):
    """With every path unstat-able, nothing of any kind is stored: each
    k-means build trains again (on the Spark loop), and the store is
    left as it was."""
    from hedera_spark.operators.importance import quality_classifier
    from hedera_spark.operators.kmeans import KMEANS_ITERATIONS, kmeans_embeddings
    from hedera_spark.operators.revisions import rev_pairs
    from hedera_spark.session import reset_session_state
    from hedera_spark.sources import tables

    reset_session_state(spark)
    monkeypatch.setattr(tables, "path_state_key", lambda path: (path,))
    _spark_trained_kmeans(monkeypatch)
    for _ in range(2):
        jobs = _jobs_fired(spark, lambda: kmeans_embeddings(spark, SF_DIR))
        assert jobs >= 1 + 2 * KMEANS_ITERATIONS
    before = dict(tables._DERIVED)
    tables.load_table(spark, SF_DIR, "documents")
    rev_pairs(spark, SF_DIR)
    quality_classifier(spark, SF_DIR)
    reset_session_state(spark)
    assert tables._DERIVED == before


def test_path_only_state_retrains_on_the_driver(spark, monkeypatch):
    """With every path unstat-able, each k-means build under the driver
    ceiling reads the schema and pulls the training set again: two jobs
    every time, nothing stored."""
    from hedera_spark.operators.kmeans import kmeans_embeddings
    from hedera_spark.session import reset_session_state
    from hedera_spark.sources import tables

    reset_session_state(spark)
    monkeypatch.setattr(tables, "path_state_key", lambda path: (path,))
    before = dict(tables._DERIVED)
    for _ in range(2):
        assert _jobs_fired(spark, lambda: kmeans_embeddings(spark, SF_DIR)) == 2
    assert tables._DERIVED == before


def test_hot_pages_follow_a_rewritten_part_file(spark, tmp_path):
    """A directory-form events table whose part file is rewritten in
    place (the directory's own size and mtime unchanged) gets its hot
    pages counted again: a page made hot by the rewrite takes the
    bucketed branch."""
    from hedera_spark.operators.revisions import REV_HOT_PAGE_REVS, rev_pairs
    from hedera_spark.plans import formatted_plan

    events = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    table_dir = tmp_path / "events.parquet"
    table_dir.mkdir()
    pq.write_table(events.slice(0, 500), table_dir / "part-0.parquet")
    pq.write_table(events.slice(500), table_dir / "part-1.parquet")
    assert "Union" not in formatted_plan(rev_pairs(spark, str(tmp_path)))

    # every row of part-1 now belongs to one page, deeper than the cut
    tail = events.slice(500)
    assert tail.num_rows > REV_HOT_PAGE_REVS
    hot = tail.set_column(
        tail.schema.get_field_index("user_id"),
        "user_id",
        pa.array([0] * tail.num_rows, type=pa.int64()),
    )
    dir_st = os.stat(table_dir)
    part = table_dir / "part-1.parquet"
    pq.write_table(hot, part)
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    os.utime(table_dir, ns=(dir_st.st_atime_ns, dir_st.st_mtime_ns))
    assert "Union" in formatted_plan(rev_pairs(spark, str(tmp_path)))


# --- origin capture off -----------------------------------------------


def test_missing_column_still_named_with_debugging_off(spark, tmp_path):
    """With `spark.python.sql.dataFrameDebugging.enabled` off, an operator
    reading a column its input lacks still fails at build time with an
    AnalysisException that names the column."""
    from pyspark.errors import AnalysisException
    from pyspark.errors.utils import is_debugging_enabled

    from hedera_spark.operators.timeseries import pv_daily

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    events = pq.read_table(os.path.join(SF_DIR, "events.parquet")).drop(["user_id"])
    pq.write_table(events, tmp_path / "events.parquet")
    with pytest.raises(AnalysisException, match="user_id"):
        pv_daily(spark, str(tmp_path))

"""The range-partitioned prefix scan (plans/range_scan.py) against the
single-task window it replaces: identical ranks and running sums for any
partition count, and operators built on it keep null groups and null-keyed
rows."""

from __future__ import annotations

import decimal

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tests.oracle_compare import assert_frames_match

_SCHEMA = "k long, t long, g string, v long"


def _rows(n: int = 120) -> list[tuple]:
    # k repeats (ties broken by t) and is sometimes null; g is sometimes null
    return [
        (None if i % 17 == 0 else i % 7, i, [None, "a", "b"][i % 3], (i * 37) % 11 - 5)
        for i in range(n)
    ]


def _big_rows() -> list[tuple]:
    # every value is near BIGINT's max, so each running sum past the
    # first row overflows BIGINT
    return [
        (i % 5, i, "a", decimal.Decimal(9 * 10**18 - i)) for i in range(40)
    ]


# case -> (rows, schema, order ("-" marks descending), group); sums "v"
_CASES = {
    "ties_broken_by_second_key": (_rows(), _SCHEMA, ["k", "t"], ()),
    "descending_order": (_rows(), _SCHEMA, ["-k", "t"], ()),
    "null_group": (_rows(), _SCHEMA, ["k", "t"], ("g",)),
    "empty_frame": ([], _SCHEMA, ["k", "t"], ("g",)),
    "decimal_sum": (
        _big_rows(),
        "k long, t long, g string, v decimal(38,0)",
        ["k", "t"],
        ("g",),
    ),
}


@pytest.mark.parametrize("parts", [1, 3, 8])
@pytest.mark.parametrize("case", sorted(_CASES))
def test_prefix_scan_matches_single_task_window(spark, monkeypatch, case, parts):
    from hedera_spark.plans import range_scan
    from hedera_spark.session import reset_session_state

    rows, schema, names, group = _CASES[case]
    order = [F.desc(c[1:]) if c[0] == "-" else c for c in names]
    monkeypatch.setattr(range_scan, "RANGE_SCAN_PARTITIONS", parts)
    df = spark.createDataFrame(rows, schema)
    w = Window.partitionBy(*group).orderBy(*order)
    want = df.select(
        "*",
        F.row_number().over(w).cast("long").alias("rk"),
        F.sum("v").over(w).alias("cum"),
    )
    got = range_scan.range_prefix_scan(
        df, order, rank="rk", sums={"cum": "v"}, group=group
    )
    assert got.dtypes == want.dtypes
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert not cache.isEmpty(), "the scan should persist its partitioned input"
    reset_session_state(spark)
    assert cache.isEmpty()


@pytest.fixture
def null_keyed_sf(tmp_path):
    """sf0.001's documents with every 7th lang and every 5th source set
    to null."""
    import duckdb

    duckdb.execute(
        f"""COPY (SELECT * REPLACE (
                CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
                CASE WHEN doc_id % 5 = 0 THEN NULL ELSE source END AS source)
            FROM read_parquet('{SF_DIR}/documents.parquet'))
            TO '{tmp_path}/documents.parquet' (FORMAT parquet)"""
    )
    return str(tmp_path)


def _duck_documents(sf_dir: str, sql: str):
    """`sql` run by DuckDB over the documents table under `sf_dir`."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        return con.execute(sql).df()
    finally:
        con.close()


@pytest.mark.parametrize("name", ["pack_sequences", "score_quantile_norm", "loader_shards"])
def test_null_group_keys_keep_their_rows(spark, null_keyed_sf, name):
    """A null lang (source) is a group of its own in the oracle's
    PARTITION BY; the scan's offsets join must not drop those rows."""
    from hedera_spark.registry import ORACLE, QUERIES

    want = _duck_documents(null_keyed_sf, ORACLE[name])
    got = QUERIES[name](spark, null_keyed_sf).toPandas()
    assert want.isna().any().any(), "the corpus should carry null keys"
    assert_frames_match(got, want, name)


def test_shard_skew_audit_counts_the_null_lang_shard(spark, null_keyed_sf):
    """Null-lang bins have a null shard in loader_shards, so the audit
    built on it sees one more shard group than LOADER_SHARDS, as its
    oracle does."""
    from hedera_spark.registry import ORACLE, QUERIES

    want = _duck_documents(null_keyed_sf, ORACLE["shard_skew_audit"])
    got = QUERIES["shard_skew_audit"](spark, null_keyed_sf).toPandas()
    assert_frames_match(got, want, "shard_skew_audit")


def test_classifier_auc_counts_null_lang_as_negative(spark, null_keyed_sf):
    """A null lang is not English: the oracle's CASE WHEN lang = 'en'
    counts those documents as negatives, and so must the scan's input."""
    from hedera_spark.registry import ORACLE, QUERIES

    want = _duck_documents(null_keyed_sf, ORACLE["classifier_auc"])
    n_docs = _duck_documents(null_keyed_sf, "SELECT count(*) AS n FROM documents").n[0]
    got = QUERIES["classifier_auc"](spark, null_keyed_sf).toPandas()
    assert want.n_pos[0] + want.n_neg[0] == n_docs
    assert_frames_match(got, want, "classifier_auc")

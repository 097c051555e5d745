"""Streaming corpus cleaning — batch gate projections applied to a live
document stream unchanged.

Cleaning gates that are pure per-row projections (blocklist_gate here;
pii_redact and text_quality share the shape) are source-agnostic in
Structured Streaming: no watermark, no state store, no rewrite — the
SAME expression object the batch operator builds runs per micro-batch.
That is the ingest-time cleaning story at 100 TB: gate at the edge as
documents arrive, instead of re-scanning the lake afterwards. Tested
row-exact against the batch operator after full replay.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from hedera_spark.operators.corpus_clean import _apply_blocklist
from hedera_spark.streaming.source import probe_schema


def _doc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(sf_dir, "documents.parquet")
    schema = probe_schema(spark, path)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stream_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet replayed as a file stream -> the batch
    blocklist projection, unchanged (stateless map stage)."""
    return _apply_blocklist(_doc_stream(spark, sf_dir))


def stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination at the ingest edge: each arriving
    training document is checked against the held-out eval set's shingle
    universe as it streams in — (doc_id, n_contaminated) rows for docs
    sharing >= 1 distinct word-trigram with the eval set, replay-exact
    vs the batch `decontaminate` operator (tested).

    Shape: the eval-shingle set is STATIC (a benchmark suite — tiny and
    fixed), aggregated once from the batch table into a one-row array
    and broadcast into the stream via a stream-static broadcast-hash
    join on a constant key; the contamination count is then row-local
    (array_intersect over the doc's own distinct shingles), so the
    streaming side is STATELESS — no watermark, no state store, no
    shuffle. That is the 100 TB design: the batch twin re-scans the
    lake; this gates documents as they arrive. (In production you'd
    persist the one-row eval side; per-micro-batch re-evaluation is fine
    at test scale and the semantics are identical.)"""
    from hedera_spark.functions.ngrams import ngram_sql
    from hedera_spark.operators.dedup import EVAL_MOD
    from hedera_spark.sources.tables import load_table

    trigrams = ngram_sql("toks", 3, distinct=True)
    eval_set = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.split("text", " ").alias("toks"))
        .selectExpr(f"explode({trigrams}) AS shingle")
        .agg(F.collect_set("shingle").alias("eval_set"))
        .withColumn("k", F.lit(1))
    )
    docs = _doc_stream(spark, sf_dir).withColumn("k", F.lit(1))
    return (
        docs.where(F.col("doc_id") % EVAL_MOD != 0)
        .withColumn("toks", F.split("text", " "))
        .join(F.broadcast(eval_set), "k")
        .selectExpr(
            "doc_id",
            f"CAST(size(array_intersect({trigrams}, eval_set)) AS BIGINT)"
            " AS n_contaminated",
        )
        .where(F.col("n_contaminated") > 0)
    )


def stream_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running data-quality violation counters over the event stream —
    the incremental twin of the events-side rows of
    operators/profile.constraint_audit: the four counters (negative
    value, value over cap, null props, unknown type) accumulate per
    micro-batch in complete mode, so a constraint breach surfaces at
    ingest time instead of at the nightly audit. State is FOUR
    integers; after consuming the whole log the counters equal the
    batch agg exactly (replay-equals-batch test)."""
    from hedera_spark.operators.profile import event_violation_sums
    from hedera_spark.streaming.source import event_stream

    return event_violation_sums(event_stream(spark, sf_dir))


def stream_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switch audit at the ingest edge: the batch lang_mix
    projection (per-window marker argmax + per-doc fold — all array
    expressions, zero shuffles) applied to the replayed document stream
    unchanged. Stateless: no watermark, no state store — the multilingual
    contamination gate runs as documents arrive instead of re-scanning
    the lake. Replay-exact vs the batch operator (tested)."""
    from hedera_spark.operators.text_analysis import _lang_mix_project

    return _lang_mix_project(_doc_stream(spark, sf_dir))


def stream_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher quality rules at the ingest edge: the batch
    gopher_quality_gate projection (integer-compare rule flags, pure
    array expressions) applied to the replayed document stream
    unchanged. Stateless — no watermark, no state store. Replay-exact
    vs the batch operator (tested)."""
    from hedera_spark.operators.text_analysis import _gopher_gate_project

    return _gopher_gate_project(_doc_stream(spark, sf_dir))

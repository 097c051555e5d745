"""Corpus snapshot delta — incremental reprocessing classification.

The reference's whole reason to exist is versioned corpora: its readers
diff *revisions within one dump* (io/input/WikiRevisionDiffInputFormat.
java). This operator is the corpus-level counterpart a pipeline runs
between two crawl/dump snapshots: classify every document as added /
removed / modified / unchanged, so downstream stages (dedup, indexing,
training-set builds) re-run only on the delta instead of the full 100 TB.

The second snapshot is synthesized deterministically from the first
(md5-keyed subsets get dropped / edited / added — the same
planted-mutation technique as anchor_from_markup and pii_redact, since
the driver ships a single documents table); the CLASSIFIER is the real
operator: one keyed full-outer join + row-local content compare.

Scale: one shuffle on doc_id (both snapshot scans are map-side until
the join); the compare is row-local. At 100 TB you'd substitute content
md5s for raw text in the compare columns — same plan, narrower shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hedera_spark.sources.tables import load_table

_ADDED_ID_OFFSET = 100000000


def _snapshot_v2(docs: DataFrame) -> DataFrame:
    """Deterministic second snapshot: md5(text) last hex selects the
    mutation — 0/1 removed, 2/3 edited, 4/5 cloned as new docs."""
    base = docs.withColumn("h", F.substring(F.md5("text"), 32, 1))
    kept = base.where(~F.col("h").isin("0", "1")).select(
        "doc_id",
        F.when(
            F.col("h").isin("2", "3"), F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = base.where(F.col("h").isin("4", "5")).select(
        (F.col("doc_id") + _ADDED_ID_OFFSET).alias("doc_id"),
        F.concat(F.lit("new "), F.col("text")).alias("text"),
    )
    return kept.unionByName(added)


def corpus_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, change_type) for every document in either snapshot:
    added / removed / modified / unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.select("doc_id", F.col("text").alias("t1"))
    v2 = _snapshot_v2(docs).select("doc_id", F.col("text").alias("t2"))
    return v1.join(v2, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("t1").isNull(), "added")
        .when(F.col("t2").isNull(), "removed")
        .when(F.col("t1") != F.col("t2"), "modified")
        .otherwise("unchanged")
        .alias("change_type"),
    )


def index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental inverted-index maintenance: the per-term UPDATE SET
    between the two corpus snapshots — (term, n_added, n_removed,
    df_delta) counting posting insertions/deletions — so a deployed
    index applies a delta instead of rebuilding (the point of
    corpus_delta's classification, carried into the index structures of
    mapreduce/BuildDictionary.java / InvertedIndexByBOW.java).

    Scale: ONE keyed full-outer join on doc_id (same as corpus_delta);
    the token set-differences are row-local array ops on the joined row;
    one partial-agg shuffle on term bounded by |changed-doc postings| —
    unchanged documents contribute zero rows to the exchange, which is
    the entire economics of incremental indexing at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.select("doc_id", F.col("text").alias("t1"))
    v2 = _snapshot_v2(docs).select("doc_id", F.col("text").alias("t2"))
    joined = v1.join(v2, "doc_id", "full_outer")

    def _toks(c):
        return F.array_distinct(
            F.filter(F.split(F.coalesce(c, F.lit("")), " "), lambda t: t != "")
        )

    k1, k2 = _toks(F.col("t1")), _toks(F.col("t2"))
    tagged = F.concat(
        F.transform(
            F.array_except(k2, k1),
            lambda x: F.struct(x.alias("term"), F.lit(1).alias("w")),
        ),
        F.transform(
            F.array_except(k1, k2),
            lambda x: F.struct(x.alias("term"), F.lit(-1).alias("w")),
        ),
    )
    return (
        joined.select(F.explode(tagged).alias("s"))
        .groupBy(F.col("s.term").alias("term"))
        .agg(
            F.sum(F.when(F.col("s.w") == 1, 1).otherwise(0)).alias("n_added"),
            F.sum(F.when(F.col("s.w") == -1, 1).otherwise(0)).alias("n_removed"),
            F.sum("s.w").cast("long").alias("df_delta"),
        )
    )


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection between snapshots — the dedup a
    production pipeline actually runs per crawl: MinHash-LSH candidate
    pairs where AT LEAST ONE side is new-or-modified in snapshot v2,
    computed WITHOUT ever pairing old×old (the quadratic bulk that was
    already deduped last run). Output: (doc_a, doc_b, est_jaccard,
    pair_kind ∈ {new_new, new_old}).

    Plan (100 TB economics): the whole v2 corpus is signed (one
    partial-agg shuffle, |docs|×16 — signing is linear and unavoidable),
    but the band join's LEFT side is only the delta's band rows
    (left-semi join against the changed-id set), so candidate fan-out is
    |new bands| × bucket occupancy instead of |all bands|². The old×old
    pairs never exist, which is the entire point of carrying
    corpus_delta into the dedup stage.

    Reference: split-boundary re-seek dedup of
    io/input/WikiRevisionPageInputFormat.java, against a prior dump —
    here at near-dup (MinHash) granularity rather than exact ids."""
    from hedera_spark.operators.dedup import (
        LSH_BAND_KEYS,
        N_BANDS,
        N_MINHASH,
        ROWS_PER_BAND,
        SIG_MATCHES_SQL,
        lsh_band_rows,
        minhash_signatures_from,
        shingles_from,
    )

    docs = load_table(spark, sf_dir, "documents")
    v2 = _snapshot_v2(docs).repartition(spark.sparkContext.defaultParallelism)
    sigs = minhash_signatures_from(shingles_from(v2))
    changed = corpus_delta(spark, sf_dir).where(
        F.col("change_type").isin("added", "modified")
    ).select("doc_id")
    flagged = lsh_band_rows(sigs, N_BANDS, ROWS_PER_BAND).join(
        changed.withColumn("is_new", F.lit(True)), "doc_id", "left"
    ).withColumn("is_new", F.coalesce("is_new", F.lit(False)))
    a = flagged.where("is_new").selectExpr(
        "doc_id AS id_a", "sig AS sig_a", *LSH_BAND_KEYS
    )
    b = flagged.selectExpr(
        "doc_id AS id_b", "sig AS sig_b", "is_new AS new_b", *LSH_BAND_KEYS
    )
    return (
        a.join(b, LSH_BAND_KEYS)
        .where("id_a != id_b")
        .selectExpr(
            "least(id_a, id_b) AS doc_a",
            "greatest(id_a, id_b) AS doc_b",
            f"round({SIG_MATCHES_SQL} / {N_MINHASH}D, 6) AS est_jaccard",
            "CASE WHEN new_b THEN 'new_new' ELSE 'new_old' END AS pair_kind",
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.min("est_jaccard").alias("est_jaccard"),
            F.min("pair_kind").alias("pair_kind"),
        )
    )

"""In-engine n-gram language-model training over the documents table.

doc_perplexity (text_analysis.py) scores documents under an add-one
bigram model; this module trains the model a real data-quality loop
would actually use: an interpolated Kneser-Ney bigram LM (Kneser &
Ney 1995; Chen & Goodman 1999's benchmark smoothing), whose continuation
probabilities are the standard fix for add-one's overestimate of
frequent-unigram continuations — and then scores every document under
the trained model (doc_perplexity_kn), closing the train->filter loop
the CCNet recipe runs. Reference parity: the reference's experiments
pipeline exports term/bigram statistics for offline LM work (the
RevisionBOW/term-stats family); here the estimation is first-class,
like bpe_train for tokenization.

Cross-engine determinism: every count (c12, c1fw, n1fw, n1bw, n1tot) is
an exact integer aggregate; each smoothed probability is ONE fixed dag
of double ops from those integers, rounded to 6 dp before any ln — no
summation-order exposure in the model. Output order of the trained
table is a total order (c12 desc, w1, w2).

Scale (100 TB): bigram extraction is array-side per row (map-only,
rebalanced off the row-group layout); the bigram agg is one partial-agg
shuffle bounded by the observed bigram vocabulary; the three statistics
frames all derive from the bigram-TYPE table (|types| rows, not corpus
occurrences), joined back on w1/w2 — shuffle joins the optimizer is
free to broadcast when the vocab is small; the only cross join is the
1-row type-total broadcast; the trained-table cut is a TakeOrdered
LIMIT, never a full sort. Scoring joins the occurrence stream to the
type table on (w1, w2): one keyed shuffle each side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hedera_spark.functions.ngrams import adjacent_pairs
from hedera_spark.sources.tables import load_table

KN_DISCOUNT = 0.75
KN_MIN_COUNT = 3
KN_TOPK = 100


def _kn_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w1, w2) adjacent-bigram occurrences, map-side extracted.
    Rebalanced off the parquet row-group layout before the CPU-dense
    per-row expansion (the text_repetition lesson: one row group would
    pin the whole map phase to one core)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return adjacent_pairs(docs)


def _p_kn():
    """The interpolated-KN probability expression over joined statistics
    columns (c12, c1fw, n1fw, n1bw, n1tot) — identical in the trainer
    and the scorer, rounded to 6 dp."""
    return F.round(
        (
            F.greatest(F.col("c12") - F.lit(KN_DISCOUNT), F.lit(0.0))
            + F.lit(KN_DISCOUNT)
            * F.col("n1fw")
            * (F.col("n1bw") / F.col("n1tot").cast("double"))
        )
        / F.col("c1fw"),
        6,
    )


def _kn_stats(bg: DataFrame):
    """(cab, fw, bw, tot): the four KN statistics frames, all derived
    from the bigram-TYPE table."""
    cab = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")).persist()
    fw = cab.groupBy("w1").agg(
        F.sum("c12").alias("c1fw"), F.count(F.lit(1)).alias("n1fw")
    )
    bw = cab.groupBy(F.col("w2")).agg(F.count(F.lit(1)).alias("n1bw"))
    tot = cab.agg(F.count(F.lit(1)).alias("n1tot"))
    return cab, fw, bw, tot


def kn_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities:
    P(w2|w1) = (max(c12 - D, 0) + D * N1+(w1,.) * Pcont(w2)) / c(w1,.),
    Pcont(w2) = N1+(., w2) / N1+(., .), D = 0.75. Output: the KN_TOPK
    most frequent bigrams (c12 >= KN_MIN_COUNT) with their counts and
    smoothed probabilities — (w1, w2, c12, p_kn)."""
    bg = _kn_bigrams(spark, sf_dir).select("w1", "w2")
    cab, fw, bw, tot = _kn_stats(bg)
    return (
        cab.where(F.col("c12") >= KN_MIN_COUNT)
        .join(fw, "w1")
        .join(bw, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c12", _p_kn().alias("p_kn"))
        .orderBy(F.desc("c12"), "w1", "w2")
        .limit(KN_TOPK)
    )


def doc_perplexity_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document under the trained Kneser-Ney model — the
    quality signal a CCNet-style filter thresholds on, using the REAL
    smoothing instead of doc_perplexity's add-one stand-in. Scoring the
    training corpus itself means every bigram is in-model (no backoff
    branch); docs built from rare transitions score low. Output:
    (doc_id, n_bigrams, avg_logprob_kn).

    The full type table (no min-count/top-K cut — the cut is a trained-
    table EXPORT concern, not a model concern) joins back to the
    occurrence stream on (w1, w2); per-doc aggregation is one keyed
    partial agg."""
    bg = _kn_bigrams(spark, sf_dir)
    cab, fw, bw, tot = _kn_stats(bg.select("w1", "w2"))
    scored = (
        bg.join(cab, ["w1", "w2"])
        .join(fw, "w1")
        .join(bw, "w2")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", F.log(_p_kn()).alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob_kn"),
    )

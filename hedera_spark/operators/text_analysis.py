"""Group G.3 — text analysis operators (SURVEY.md §2.G): language ID,
quality scoring, token counting, winnowing fingerprints.

The reference's text machinery (BOW extraction, Stanford-NLP experiments —
java/test/other/TestStanfordNLP.java, experiments/.../RevisionBOW.java)
motivates these; the pipeline-shaped versions here are what an LLM-data
pipeline runs per document. All pure `pyspark.sql.functions` compositions:
splits, regexes, window mins — zero Python in the row path.

Scale: all per-document map-side work except the final small aggregations;
fingerprinting is fully shuffle-free (array-side rolling mins per row).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hedera_spark.functions.ngrams import adjacent_pairs, ngram_sql
from hedera_spark.plans.range_scan import range_prefix_scan
from hedera_spark.sources.tables import load_table

# Marker-token sets per language: the lang-id signal. The test corpus is a
# synthetic shared vocabulary, so markers are drawn from it — the operator
# semantics (overlap scoring + deterministic argmax) are what transfer to a
# real corpus with real stopword lists.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "und", "das", "merge", "group", "batch"],
    "en": ["the", "a", "data", "fast", "query"],
    "es": ["el", "la", "los", "row", "scan", "value"],
    "fr": ["le", "les", "des", "sort", "filter", "key"],
    "zh": ["spark", "stream", "table", "vector", "window"],
}

STOPWORDS = ["the", "a", "data", "value", "row"]


def _distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    ).where(F.col("tok") != "")


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-overlap language ID: score(lang) = |distinct tokens ∩
    markers(lang)|, prediction = argmax with deterministic lexicographic
    tie-break. Output keeps the labeled lang for accuracy joins."""
    toks = _distinct_tokens(spark, sf_dir)
    scores = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.col("tok").isin(markers).cast("int")).alias(f"score_{lang}")
            for lang, markers in sorted(LANG_MARKERS.items())
        ]
    )
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit(None).cast("string")
    # first lang (lexicographic) achieving the max wins — build the CASE
    # chain in reverse so the earliest condition dominates
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        scores.join(docs, "doc_id")
        .select(
            "doc_id",
            "lang",
            pred.alias("pred_lang"),
            best.alias("best_score"),
            *[F.col(f"score_{lang}") for lang in langs],
        )
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features + a composite score: length, token stats,
    stopword ratio, type-token ratio. The score formula is arbitrary but
    fixed — the operator shape (vectorized feature extraction + weighted
    combine) is the point."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    feats = docs.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.round(
            F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
            / F.size(toks).cast("double"),
            6,
        ).alias("stopword_ratio"),
        F.round(
            (F.length("text") - F.size(toks) + 1) / F.size(toks).cast("double"), 6
        ).alias("avg_token_len"),
    )
    return feats.withColumn(
        "quality",
        F.round(
            F.least(F.col("n_tokens") / F.lit(50.0), F.lit(1.0)) * 0.5
            + (F.col("n_distinct") / F.col("n_tokens").cast("double")) * 0.3
            + (1 - F.col("stopword_ratio")) * 0.2,
            6,
        ),
    )


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs regex (\\w+, the BPE-ish pre-tokenizer floor) token
    counts per doc + distinct counts — the budget accounting every
    training pipeline needs."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.size(F.expr(r"regexp_extract_all(text, '\\w+', 0)")).cast("long").alias("re_tokens"),
        F.size(F.array_distinct(F.split("text", " "))).cast("long").alias("distinct_tokens"),
    )


def token_count_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token budget per language — the rollup view of token_count."""
    per_doc = token_count(spark, sf_dir)
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("total_tokens"),
        F.round(F.avg("ws_tokens"), 4).alias("avg_tokens"),
    )


CORPUS_MIN_QUALITY = 0.70
CORPUS_MIN_TOKENS = 20
CORPUS_MAX_TOKENS = 90


def corpus_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set selection: compose exact-dedup survivorship with
    quality and token-budget gates — the end-to-end filter an LLM data
    pipeline runs before tokenization. A doc is kept iff it is the
    surviving copy of its exact-hash group AND quality >= 0.70 AND its
    whitespace token count lies in [20, 90].

    Composition, not re-derivation: reuses text_quality's features and
    dedup_exact's survivor marking. Both sides are per-doc projections of
    the same scan (the survivor window shuffles once on the content
    hash), and the join is on doc_id — Catalyst collapses the shared
    `documents` read via exchange reuse. At 100 TB the selection is the
    same two map-side gates plus the one dedup shuffle; its output
    typically feeds `write_parquet` partitioned by lang."""
    from hedera_spark.operators import dedup as dd

    quality = text_quality(spark, sf_dir).select(
        "doc_id", "lang", "n_tokens", "quality"
    )
    survivors = dd.dedup_exact(spark, sf_dir).where(F.col("is_dup") == 0).select(
        "doc_id"
    )
    return (
        quality.join(survivors, "doc_id")
        .where(
            (F.col("quality") >= CORPUS_MIN_QUALITY)
            & F.col("n_tokens").between(CORPUS_MIN_TOKENS, CORPUS_MAX_TOKENS)
        )
        .select("doc_id", "lang", "n_tokens", "quality")
    )


PACK_CAPACITY = 256  # tokens per packed sequence bin


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contiguous sequence packing: in doc_id order within
    each language, assign every doc to a token-budget bin via a prefix sum
    — bin = floor((cumsum - n_tokens) / capacity), offset = position of
    the doc inside its bin. This is the distributed-friendly packing
    discipline (no global greedy first-fit): a boundary doc may overflow
    its bin by < one doc, which the trainer's truncation absorbs.

    Scale: a bare `sum() OVER (PARTITION BY lang ORDER BY doc_id)` would
    funnel each language through ONE task — at 100 TB a handful of tasks
    carry the whole corpus. The prefix sum comes from the range-
    partitioned prefix scan (plans/range_scan.py) grouped by lang,
    identical to the global window while the cumsum runs on every
    executor; a null lang is a language of its own, as in the window."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return (
        range_prefix_scan(
            toks, ["doc_id"], sums={"cum_tokens": "n_tokens"}, group=["lang"]
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "cum_tokens",
            F.floor((F.col("cum_tokens") - F.col("n_tokens")) / PACK_CAPACITY).alias(
                "bin_id"
            ),
            (
                (F.col("cum_tokens") - F.col("n_tokens"))
                - F.floor((F.col("cum_tokens") - F.col("n_tokens")) / PACK_CAPACITY)
                * PACK_CAPACITY
            ).alias("bin_offset"),
        )
    )


LOADER_EPOCHS = 2  # epochs to pre-plan shuffle orders for
LOADER_SHARDS = 8  # data-loader worker shards


def loader_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-loader shard plan over the packed bins: for each epoch,
    every (lang, bin_id) sequence bin gets a deterministic md5 shuffle
    key, a worker shard (key mod LOADER_SHARDS), and its read_order
    inside the shard — the final step between pack_sequences and the
    trainer. Deterministic (md5, no rand()) so a preempted job resumes
    mid-epoch at the same order, and per-epoch keys re-shuffle the
    corpus between epochs without materializing E copies.

    Output: (epoch, lang, bin_id, n_docs, bin_tokens, shard, read_order).

    Scale: the bin frame is |total_tokens| / PACK_CAPACITY rows — far
    below corpus scale; the epoch fan-out is an explode of a
    LOADER_EPOCHS-element literal array (map-side), and read_order is a
    window keyed by (epoch, shard) — LOADER_SHARDS·LOADER_EPOCHS
    balanced partitions by construction of the uniform md5 key.

    Reference: the loading seam of the reference's MapReduce jobs is
    InputSplit ordering (io/input/WikiRevisionInputFormat.java's split
    planning); this is that seam for a deterministic training loader."""
    from pyspark.sql import Window

    bins = (
        pack_sequences(spark, sf_dir)
        .groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("bin_tokens"),
        )
    )
    fanned = bins.select(
        "*",
        F.explode(
            F.array(*[F.lit(e) for e in range(LOADER_EPOCHS)])
        ).alias("epoch"),
    )
    # concat, not concat_ws: a null lang nulls the key (and so the
    # shard), as the oracle's `||` does, instead of being skipped
    keyed = fanned.withColumn(
        "shuffle_key",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("shard~"),
                        F.col("epoch").cast("string"),
                        F.lit("~"),
                        F.col("lang"),
                        F.lit("~"),
                        F.col("bin_id").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long"),
    ).withColumn("shard", F.pmod("shuffle_key", F.lit(LOADER_SHARDS)).cast("long"))
    w = Window.partitionBy("epoch", "shard").orderBy(
        "shuffle_key", "lang", "bin_id"
    )
    return keyed.select(
        "epoch",
        "lang",
        "bin_id",
        "n_docs",
        "bin_tokens",
        "shard",
        F.row_number().over(w).cast("long").alias("read_order"),
    )


def shard_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured dial for loader_shards' balance claim: per epoch,
    token totals across the LOADER_SHARDS workers — min/max/mean shard
    load and the skew ratio max/mean. A slow straggler shard is wasted
    GPU time on every other worker; this is the number that says whether
    the md5 key actually balanced the epoch before the job ships.

    Scale: rolls the |bins|·epochs frame up to epochs·LOADER_SHARDS rows,
    then one epoch-keyed combine — negligible next to the pack itself."""
    per_shard = (
        loader_shards(spark, sf_dir)
        .groupBy("epoch", "shard")
        .agg(F.sum("bin_tokens").alias("shard_tokens"))
    )
    return (
        per_shard.groupBy("epoch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shards"),
            F.min("shard_tokens").cast("long").alias("min_tokens"),
            F.max("shard_tokens").cast("long").alias("max_tokens"),
            F.sum("shard_tokens").cast("long").alias("total_tokens"),
            F.round(
                F.max("shard_tokens")
                / (F.sum("shard_tokens") / F.count(F.lit(1))),
                6,
            ).alias("skew_ratio"),
        )
    )


def pack_overflow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured dial for pack_sequences' overflow concession (its
    docstring: a boundary doc may overflow its bin by < one doc, which
    the trainer's truncation absorbs): per language, how many bins
    overflow the PACK_CAPACITY token budget, by how much, and the
    fraction of corpus tokens the truncation would drop — the number
    that says whether prefix-sum packing's simplicity is actually free
    at the corpus' length distribution.

    Scale: one rollup of the packed frame to |bins| rows, then a
    lang-keyed combine; exact integers end to end."""
    bins = (
        pack_sequences(spark, sf_dir)
        .groupBy("lang", "bin_id")
        .agg(F.sum("n_tokens").cast("long").alias("bin_tokens"))
    )
    over = F.greatest(
        F.lit(0).cast("long"), F.col("bin_tokens") - F.lit(PACK_CAPACITY)
    )
    return (
        bins.withColumn("overflow", over)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bins"),
            F.sum((F.col("overflow") > 0).cast("long"))
            .cast("long")
            .alias("n_overflowing"),
            F.sum("overflow").cast("long").alias("overflow_tokens"),
            F.sum("bin_tokens").cast("long").alias("total_tokens"),
            F.round(F.sum("overflow") / F.sum("bin_tokens"), 6).alias(
                "truncation_frac"
            ),
        )
    )


SAMPLE_PCT = 20  # keep ~20% of each language stratum


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep a doc iff the last byte of
    md5(doc_id) falls under the per-stratum rate. Hash sampling (vs rand())
    is reproducible across runs/engines and composes with incremental
    reprocessing — the same doc is always in or out. Map-side only: no
    shuffle, fully pushed into the scan projection."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 31, 2), 16, 10)
    return docs.select(
        "doc_id",
        "lang",
        bucket.cast("long").alias("hash_bucket"),
    ).where(F.col("hash_bucket") % 100 < SAMPLE_PCT)


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints: md5 each word-trigram shingle, take
    the min hash in every sliding window of 4 consecutive shingles, emit
    the distinct fingerprint set per doc. Standard winnowing (Schleimer et
    al.) — guarantees shared fingerprints for sufficiently long shared
    substrings, the contained-plagiarism complement to whole-doc dedup.

    Shuffle-free: the shingle hashes, the sliding-window mins (slice +
    array_min inside a transform — trailing windows truncate exactly like
    rowsBetween(0, 3)), and the per-doc dedup (array_distinct) all happen
    array-side WITHIN each row before the explode. The windowed
    formulation this replaced shuffled twice (window partitionBy(doc) +
    dropDuplicates); this is a pure map operator at any scale. The one
    exchange below is a parallelism REBALANCE of the raw doc scan, not an
    algorithmic shuffle: md5-winnowing is CPU-dense per doc and a compact
    input would otherwise run it on as many cores as there are row
    groups (see dedup._shingles)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # the hash array is a NAMED column for the reason functions/ngrams.py
    # gives for `toks`: inlined into the window lambda it would be
    # recomputed per window position
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    hashed = toks.selectExpr("doc_id", f"{ngram_sql('toks', 3, hashed=True)} AS hs")
    return hashed.selectExpr(
        "doc_id",
        "explode(array_distinct(transform(hs,"
        " (h, i) -> array_min(slice(hs, i + 1, 4))))) AS fp",
    )


def mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: per-language token share and the
    sampling weight that would flatten the mixture to uniform
    (weight = target_share / actual_share). The last knob a training
    pipeline sets after selection/dedup — upsample rare domains,
    downsample dominant ones. Two tiny aggregations over the per-doc
    token counts; the weights table is broadcast-joined onto the corpus
    downstream."""
    per_lang = token_count_by_lang(spark, sf_dir).select("lang", "total_tokens")
    total = per_lang.agg(F.sum("total_tokens").alias("corpus_tokens"))
    n_langs = per_lang.agg(
        F.count(F.lit(1)).cast("double").alias("n_langs")
    )
    return (
        per_lang.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(n_langs))
        .select(
            "lang",
            "total_tokens",
            F.round(F.col("total_tokens") / F.col("corpus_tokens"), 6).alias(
                "token_share"
            ),
            F.round(
                (F.lit(1.0) / F.col("n_langs"))
                / (F.col("total_tokens") / F.col("corpus_tokens")),
                6,
            ).alias("uniform_weight"),
        )
    )


REP_TOP_BIGRAM_MAX = 0.10  # Gopher-style repetition gates
REP_DUP_TOKEN_MAX = 0.90


def _max_multiplicity(arr: F.Column) -> F.Column:
    """Highest multiplicity of any element in `arr`, computed row-locally:
    sort the array, then fold run lengths — O(k log k) per row, no
    explode/groupBy shuffle. Matches SQL `max(count(*)) GROUP BY elem`."""
    s = F.array_sort(arr)
    n = F.size(s)
    same = lambda i: F.element_at(s, i) == F.element_at(s, i - 1)  # noqa: E731
    folded = F.aggregate(
        F.sequence(F.lit(2), n),
        F.struct(
            F.lit(1).cast("long").alias("run"), F.lit(1).cast("long").alias("best")
        ),
        lambda acc, i: F.struct(
            F.when(same(i), acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias(
                "run"
            ),
            F.greatest(
                acc["best"],
                F.when(same(i), acc["run"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
    )["best"]
    # guard: sequence(2, n) DESCENDS for n < 2; empty array has multiplicity 0
    return (
        F.when(n >= 2, folded)
        .otherwise(F.when(n == 1, F.lit(1)).otherwise(F.lit(0)).cast("long"))
        .alias("best")
    )


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition features per doc, entirely row-local (the
    100 TB shape: a map-only pass, no shuffle): fraction of all word
    bigrams taken by the most frequent bigram, same for trigrams, the
    duplicate-token fraction, and the composite keep/drop flag. The
    per-doc top-n-gram count is a sorted-array run fold
    (_max_multiplicity), not an explode+groupBy — the oracle states the
    same semantics relationally.

    The scan is rebalanced to full parallelism first: the two run folds
    are CPU-dense per row, and a compact parquet input would pin them to
    one core per row group (fingerprint's rationale; measured 53s at
    sf0.1 without it)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    grams = toks.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("t")).cast("long").alias("n_distinct"),
        F.expr(ngram_sql("t", 2)).alias("bigrams"),
        F.expr(ngram_sql("t", 3)).alias("trigrams"),
    )
    feat = grams.select(
        "doc_id",
        "n_tokens",
        F.round(
            F.when(
                F.size("bigrams") > 0,
                _max_multiplicity(F.col("bigrams")) / F.size("bigrams").cast("double"),
            ).otherwise(0.0),
            6,
        ).alias("top_bigram_frac"),
        F.round(
            F.when(
                F.size("trigrams") > 0,
                _max_multiplicity(F.col("trigrams"))
                / F.size("trigrams").cast("double"),
            ).otherwise(0.0),
            6,
        ).alias("top_trigram_frac"),
        F.round(
            1 - F.col("n_distinct") / F.col("n_tokens").cast("double"), 6
        ).alias("dup_token_frac"),
    )
    return feat.withColumn(
        "is_repetitive",
        (
            (F.col("top_bigram_frac") > REP_TOP_BIGRAM_MAX)
            | (F.col("dup_token_frac") > REP_DUP_TOKEN_MAX)
        ).cast("int"),
    )


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty: fraction of the doc's distinct trigram shingles
    whose global first occurrence (min doc_id) is this doc — the
    memorization / freshness signal of a crawl-ordered corpus. Plan:
    partial-agg min per shingle (shrinks to |vocab|), one equality join
    back on shingle, then a per-doc aggregate. At 100 TB the first-seen
    table is the only wide shuffle and it is bounded by vocabulary size."""
    from hedera_spark.operators.dedup import _shingles

    sh = _shingles(spark, sf_dir).persist()
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.round(F.col("n_novel") / F.col("n_shingles").cast("double"), 6),
        )
    )


def source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus accounting: doc counts, language spread, token
    budget, size/quality aggregates — the mix dashboard a data-curation
    pipeline keys its sampling weights from. One partial-aggregated
    shuffle on source."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("total_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


PII_EMAIL = "[a-z0-9._]+@[a-z0-9-]+\\.[a-z]{2,}"
PII_IP = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
PII_PHONE = "\\+\\d{1,2}-\\d{3}-\\d{4}"


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every training-data pipeline
    runs before packing. Entirely map-side (no shuffle at any scale):
    regex counts + global regexp_replace for emails, IPv4 addresses and
    phone numbers, JVM-side.

    The synthetic corpus contains no organic PII, so each doc's text is
    first extended with a DETERMINISTIC planted-PII suffix derived from
    doc_id (clearly a test fixture, not product logic — with real data
    the `dirty` composition drops out and the regexes run on `text`
    directly). The patterns stay inside the regex subset Java and RE2
    share, so the DuckDB oracle runs the identical expressions."""
    docs = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id"),
        F.lit("@example.com from 10.0."),
        F.col("doc_id") % 256,
        F.lit("."),
        F.col("doc_id") % 100,
        F.lit(" call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    d = docs.select("doc_id", dirty.alias("dirty"))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("dirty"), PII_EMAIL, "<EMAIL>"),
            PII_IP,
            "<IP>",
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.regexp_count(F.col("dirty"), F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("dirty"), F.lit(PII_IP)).cast("long").alias("n_ips"),
        F.regexp_count(F.col("dirty"), F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        red.alias("redacted"),
    )


def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-length histogram: docs and token mass per
    bucket — the sequence-length profile that drives packing / curriculum
    decisions. Map-only bucket assignment (the bucket is computed from
    the binary representation length, an exact integer path on both
    engines — floating log2 is NOT cross-engine-stable at power-of-two
    boundaries) + one tiny aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.split("text", " "))
    return (
        docs.select(
            F.expr(
                "shiftleft(CAST(1 AS BIGINT),"
                " length(bin(size(split(text, ' ')))) - 1)"
            ).alias("bucket_lo"),
            n.cast("long").alias("n_tokens"),
        )
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


CHUNK_SIZE = 64  # tokens per training chunk
CHUNK_STRIDE = 48  # chunk start step — SIZE-STRIDE tokens of overlap


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token chunks per document — the context-
    window chunking step every LLM training pipeline runs between
    cleaning and packing (pack_sequences packs whole docs; this splits
    docs that exceed the window). Chunk starts step by CHUNK_STRIDE, so
    consecutive chunks share SIZE-STRIDE tokens of context.

    Plan shape: entirely array-side per row — the chunk structs are
    built INSIDE the array context (transform over the start-offset
    sequence) and exploded once, so the token array is never carried
    next to an explode (that copies the array into every generated row
    — the O(n²) trap _jaccard_pairs documents). Map-only: no shuffle at
    any scale.

    Reference: the windowed-document shaping of
    experiments/.../RevisionBOW.java (bounded token views per revision),
    generalized to stride-overlap chunking."""
    docs = load_table(spark, sf_dir, "documents")
    with_toks = docs.select(
        "doc_id", F.filter(F.split("text", " "), lambda t: t != "").alias("toks")
    ).where(F.size("toks") > 0)
    chunks = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 1, F.lit(CHUNK_STRIDE)),
        lambda s: F.struct(
            (s / CHUNK_STRIDE).cast("long").alias("chunk_id"),
            F.slice("toks", s + 1, CHUNK_SIZE).alias("chunk"),
        ),
    )
    return (
        with_toks.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.size("c.chunk").cast("long").alias("n_tokens"),
            F.concat_ws(" ", "c.chunk").alias("chunk_text"),
        )
    )


def doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality score (the CCNet/Wikipedia-LM filtering signal):
    each document's mean add-one-smoothed bigram log-probability under
    the corpus's OWN bigram model — documents whose word sequences are
    atypical for the corpus score low and are filter candidates.
    logp(w2|w1) = ln((c(w1,w2) + 1) / (ctx(w1) + V)), ctx = count of w1
    as a bigram context, V = vocabulary size.

    Plan shape (100 TB): the corpus is read once into the doc-bigram
    stream; the bigram and context-count model tables are partial-agg
    aggregates of that stream (|bigram-vocab|-bounded) joined back on
    their keys; V is a 1-row broadcast. Per-doc averaging is one
    partial-agg groupBy. No Python, no window."""
    docs = load_table(spark, sf_dir, "documents")
    # pairs over the empty-filtered tokens ("a  b" pairs a with b), not
    # functions/ngrams.adjacent_pairs, which drops a pair with an empty token
    bg = (
        docs.select(
            "doc_id",
            F.filter(F.split("text", " "), lambda t: t != "").alias("toks"),
        )
        .where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(element_at(toks, i) AS w1,"
                    "             element_at(toks, i + 1) AS w2))"
                )
            ).alias("pr"),
        )
        .select("doc_id", F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .agg(F.countDistinct("tok").alias("v"))
    )
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(F.log((F.col("c2") + 1) / (F.col("c1") + F.col("v")))), 6
            ).alias("avg_logprob"),
        )
    )


FUNNEL_STAGES = ["raw", "dedup", "quality", "length", "decontaminated"]


def pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage survival accounting through the cleaning pipeline —
    the dashboard number every corpus build reports: how many documents
    (and tokens) survive each CUMULATIVE gate, in gate order:
    raw → exact-dedup survivor → quality ≥ 0.70 → token budget
    [20, 90] → not benchmark-contaminated (no shared eval trigrams,
    eval docs themselves excluded from the training funnel).

    Composition, not re-derivation (same policy as corpus_select):
    per-doc flags come from text_quality, dedup_exact, and
    decontaminate; the funnel is one explode of each doc's
    stages-survived prefix and one partial-agg shuffle keyed by the
    5-value stage id — scale-independent output size.

    Output: (stage_id, stage, n_docs, n_tokens, pct_docs) with pct
    rounded against the raw count."""
    from hedera_spark.operators import dedup as dd

    quality = text_quality(spark, sf_dir).select(
        "doc_id", "n_tokens", "quality"
    )
    survivors = dd.dedup_exact(spark, sf_dir).select("doc_id", "is_dup")
    decont = dd.decontaminate(spark, sf_dir).select(
        "doc_id", F.lit(1).alias("contaminated")
    )
    flags = (
        quality.join(survivors, "doc_id")
        .join(decont, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("is_dup") == 0).alias("g1"),
            (F.col("quality") >= CORPUS_MIN_QUALITY).alias("g2"),
            F.col("n_tokens")
            .between(CORPUS_MIN_TOKENS, CORPUS_MAX_TOKENS)
            .alias("g3"),
            (
                F.col("contaminated").isNull()
                & (F.col("doc_id") % dd.EVAL_MOD != 0)
            ).alias("g4"),
        )
    )
    reached = flags.select(
        "doc_id",
        "n_tokens",
        F.when(~F.col("g1"), 0)
        .when(~F.col("g2"), 1)
        .when(~F.col("g3"), 2)
        .when(~F.col("g4"), 3)
        .otherwise(4)
        .alias("stage_reached"),
    )
    per_stage = (
        reached.select(
            "n_tokens",
            F.explode(F.sequence(F.lit(0), F.col("stage_reached"))).alias(
                "stage_id"
            ),
        )
        .groupBy("stage_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
    total = per_stage.where(F.col("stage_id") == 0).select(
        F.col("n_docs").alias("raw_docs")
    )
    stage_names = F.array(*[F.lit(s) for s in FUNNEL_STAGES])
    return (
        per_stage.crossJoin(F.broadcast(total))
        .select(
            F.col("stage_id").cast("long").alias("stage_id"),
            F.element_at(stage_names, F.col("stage_id") + 1).alias("stage"),
            "n_docs",
            "n_tokens",
            F.round(F.col("n_docs") / F.col("raw_docs"), 6).alias("pct_docs"),
        )
    )


def doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (nats):
    H = ln(n) − (1/n)·Σ_tok c·ln(c) — near-zero for degenerate repeated
    text, ≈ln(n_distinct) for diverse text. The information-theoretic
    twin of text_repetition's count gates and the entropy face of the
    quality family (a CCNet-adjacent filtering signal).

    Determinism: per-(doc, token) counts c are exact integers; the
    Σ c·ln(c) reduction is a token-sorted left fold (the list_reduce
    ORDER BY tok discipline), so both engines add the same libm doubles
    in the same order; one division + round(6) at the end.

    Scale: one explode + partial-agg shuffle bounded by Σ|doc vocab|
    (the bow shape), then a per-doc fold over its own vocabulary — no
    window, no self-join, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "doc_id",
            F.explode(
                F.filter(F.split("text", " "), lambda t: t != "")
            ).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    folded = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("tok"),
                        (F.col("c") * F.log(F.col("c"))).alias("cl"),
                    )
                )
            ),
            F.lit(0.0).cast("double"),
            lambda acc, s: acc + s["cl"],
        ).alias("scl"),
    )
    return folded.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.round(
            F.log(F.col("n").cast("double")) - F.col("scl") / F.col("n"), 6
        ).alias("entropy"),
    )


ZIPF_TOP_TERMS = 1000


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus term distribution: least-squares
    slope/intercept/R² of ln(freq) against ln(rank) for the top
    ZIPF_TOP_TERMS terms — natural corpora fit slope ≈ −1; a corpus
    whose slope drifts far from that (or whose R² collapses) signals
    boilerplate flooding or template spam. Complements term_stats /
    vocab_growth as the distribution-shape dashboard.

    Determinism: term frequencies and ranks are exact integers with a
    total (cf DESC, term) order; the six regression moments are
    rank-ordered folds over exactly ZIPF_TOP_TERMS rows, so both
    engines sum identical libm doubles in identical order.

    Scale: the corpus is touched once by the term partial agg (bounded
    by |vocab|); the top-N cut is TakeOrdered (per-partition N-row
    heaps + one merge), and the regression runs over N ≤ 1000 rows —
    the global sort never sees the full vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            F.explode(
                F.filter(F.split("text", " "), lambda t: t != "")
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cf"))
        .orderBy(F.desc("cf"), "tok")
        .limit(ZIPF_TOP_TERMS)
    )
    w = Window.orderBy(F.desc("cf"), "tok")
    ranked = tf.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("cf").cast("double")).alias("y"),
        F.row_number().over(w).alias("rank"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("rank", "x"))),
            F.lit(0.0).cast("double"),
            lambda acc, s: acc + s["x"],
        ).alias("sx"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("rank", "y"))),
            F.lit(0.0).cast("double"),
            lambda acc, s: acc + s["y"],
        ).alias("sy"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("rank", (F.col("x") * F.col("y")).alias("v")))
            ),
            F.lit(0.0).cast("double"),
            lambda acc, s: acc + s["v"],
        ).alias("sxy"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("rank", (F.col("x") * F.col("x")).alias("v")))
            ),
            F.lit(0.0).cast("double"),
            lambda acc, s: acc + s["v"],
        ).alias("sxx"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("rank", (F.col("y") * F.col("y")).alias("v")))
            ),
            F.lit(0.0).cast("double"),
            lambda acc, s: acc + s["v"],
        ).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    r_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r_den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    # empty corpus: the grand agg still emits one (n=0) row — drop it so
    # the operator vanishes on empty input like every other query
    return m.where(F.col("n") > 0).select(
        F.col("n").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round((r_num / r_den) * (r_num / r_den), 6).alias("r2"),
    )


def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the labeled
    lang — the measured dial for lang_id, exactly as the recall operators
    are for the ANN probes: (label, prediction, doc count, fraction of
    the label's docs). You tune LANG_MARKERS against THIS table.

    Scale: composes lang_id's audited plan, then one partial agg bounded
    by |langs|² and a broadcast-sized per-label total join."""
    preds = lang_id(spark, sf_dir).select("doc_id", "lang", "pred_lang")
    cells = preds.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = cells.groupBy("lang").agg(F.sum("n_docs").alias("n_lang"))
    return cells.join(totals, "lang").select(
        "lang",
        "pred_lang",
        "n_docs",
        F.round(F.col("n_docs") / F.col("n_lang").cast("double"), 6).alias(
            "frac_of_lang"
        ),
    )


NGRAM_LID_TOP = 5


def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID — the second LID heuristic next to
    the marker-overlap lang_id: build a per-language profile of the
    NGRAM_LID_TOP most frequent char trigrams from the labeled corpus
    itself (count desc, trigram asc ties), then classify each doc by
    |distinct doc trigrams ∩ profile(lang)| with the same lexicographic
    argmax tie-break as lang_id. Two independent heuristics over the
    same labels let lang_confusion-style audits separate marker drift
    from script drift.

    Scale: trigram extraction is array-side per row (substr sliding
    window, ~3× text bytes, map-only); the profile is a (|langs| ×
    NGRAM_LID_TOP)-row broadcast; scoring is one broadcast join over
    per-doc DISTINCT trigrams + a conditional-sum partial agg keyed on
    doc_id. The corpus text never shuffles."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )  # rebalance off the single-row-group layout before the
    # CPU-dense per-row expansion (the text_repetition lesson)
    tris = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN length(text) >= 3 THEN"
                " transform(sequence(1, length(text) - 2),"
                " i -> substring(text, i, 3))"
                " ELSE array() END"
            )
        ).alias("tri"),
    )
    langs = sorted(LANG_MARKERS)
    prof_w = Window.partitionBy("lang").orderBy(F.desc("cnt"), "tri")
    profile = (
        tris.where(F.col("lang").isin(langs))
        .groupBy("lang", "tri")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rk", F.row_number().over(prof_w))
        .where(F.col("rk") <= NGRAM_LID_TOP)
        .select(F.col("lang").alias("plang"), "tri")
    )
    dtris = tris.select("doc_id", "tri").distinct()
    matched = dtris.join(F.broadcast(profile), "tri").groupBy("doc_id").agg(
        *[
            F.sum((F.col("plang") == lang).cast("int")).alias(f"score_{lang}")
            for lang in langs
        ]
    )
    scored = docs.select("doc_id", "lang").join(matched, "doc_id", "left")
    cols = {
        lang: F.coalesce(F.col(f"score_{lang}"), F.lit(0)).alias(f"score_{lang}")
        for lang in langs
    }
    scored = scored.select("doc_id", "lang", *cols.values())
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit(None).cast("string")
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    return scored.select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        best.cast("long").alias("best_score"),
    )


PMI_MIN_COUNT = 5
PMI_TOPK = 50


def bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent
    token bigrams, PMI = ln(p(ab) / (p(a)·p(b))) with p(ab) over total
    bigram occurrences and p(a) over total tokens — the adjacency-level
    companion to anchor_lift's document-level lift. Bigrams below
    PMI_MIN_COUNT occurrences are cut (PMI is noise at tiny counts);
    output is the top-PMI_TOPK by (pmi desc, w1, w2). All probability
    numerators/denominators are exact integers; pmi is one ln of an
    integer-derived ratio, rounded to 6 dp.

    Scale: bigram extraction is array-side per row (map-only); the
    bigram agg is one partial-agg shuffle bounded by the observed
    bigram vocabulary; unigram counts are a |V|-row join; the final cut
    is a TakeOrdered LIMIT, never a full sort."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )  # rebalance off the single-row-group layout before the
    # CPU-dense per-row expansion (the text_repetition lesson)
    bi = adjacent_pairs(docs).select("w1", "w2")
    # persist both aggregates: each has MULTIPLE consumers that end in
    # independent broadcast builds, and a broadcast build cannot reuse
    # another subtree's exchange (no exchange to share — the r7 plan
    # dump showed the bigram expansion executing twice and the unigram
    # explode three times despite a claimed ReusedExchange; static and
    # AQE exchange reuse both miss because the join-injected isnotnull
    # filters make the subtrees canonicalize differently). The persisted
    # frames are vocabulary-bounded (|bigrams|, |V| rows), released by
    # the session-level cache reset (the bigram_llr pattern).
    cab_all = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab")).persist()
    cab = cab_all.where(F.col("c_ab") >= PMI_MIN_COUNT)
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    # n_bi = sum of the aggregated bigram counts over the cached
    # aggregate — identical exact integer to counting `bi` directly on
    # any non-empty corpus; coalesce preserves count()'s 0 on an empty
    # one (sum over zero rows is NULL)
    totals = uni.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_uni")
    ).crossJoin(
        cab_all.agg(
            F.coalesce(F.sum("c_ab"), F.lit(0)).cast("long").alias("n_bi")
        )
    )
    scored = (
        cab.join(F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))), "w1")
        .join(F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(
                F.log(
                    F.col("c_ab").cast("double")
                    * F.col("n_uni").cast("double")
                    * F.col("n_uni").cast("double")
                    / (
                        F.col("n_bi").cast("double")
                        * F.col("c_a").cast("double")
                        * F.col("c_b").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(PMI_TOPK)


SKIPGRAM_WINDOW = 3
SKIPGRAM_MIN_COUNT = 5
SKIPGRAM_TOPK = 100


def skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence pair counts — the training-pair extraction
    of word2vec/GloVe-style embedding pipelines: for every token, its
    forward neighbors within SKIPGRAM_WINDOW positions, counted over the
    corpus with a min-count cut and PMI weighting (the PPMI-matrix
    input of count-based embeddings). Forward-only pairing counts each
    unordered pair once; output is the top-SKIPGRAM_TOPK by (count
    desc, w1, w2).

    Scale: pair extraction is array-side per row (window × tokens
    structs, map-only); the pair agg is one partial-agg shuffle bounded
    by the observed pair vocabulary; unigram totals are a |V|-row
    broadcast; final cut TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )  # rebalance off the single-row-group layout before the
    # CPU-dense per-row expansion (the text_repetition lesson)
    # windowed pairs, not adjacent ones: written out here, with the
    # split hoisted as functions/ngrams.py describes
    pairs = docs.select(F.split("text", " ").alias("toks")).select(
        F.explode(
            F.expr(
                f"""
                CASE WHEN size(toks) >= 2 THEN
                  filter(
                    flatten(transform(sequence(1, size(toks) - 1),
                      i -> transform(
                        sequence(i + 1,
                                 least(i + {SKIPGRAM_WINDOW},
                                       size(toks))),
                        j -> struct(element_at(toks, i) AS w1,
                                    element_at(toks, j) AS w2)))),
                    p -> p.w1 != '' AND p.w2 != '')
                ELSE array() END
                """
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    # pre-cut pair counts, PERSISTED: the min-count table and the pair
    # total both consume this aggregate, but the total feeds a broadcast
    # build, which cannot reuse the other consumer's exchange (the r7
    # plan dump showed the window expansion still executing twice — the
    # join-injected isnotnull filters make the two subtrees canonicalize
    # differently, so neither static nor AQE exchange reuse fires). The
    # cache is |pair vocabulary| rows, released by the session-level
    # cache reset (the bigram_llr pattern).
    cnt_all = (
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pairs")).persist()
    )
    cnt = cnt_all.where(F.col("n_pairs") >= SKIPGRAM_MIN_COUNT)
    # unigram counts likewise persisted: three consumers (two broadcast
    # join sides + the totals row) otherwise re-run the corpus explode
    # three times (three Generate nodes in the r7 plan)
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    # n_pp = sum of the aggregated pair counts — the exact integer count
    # of pre-cut pair rows, identical to counting `pairs` directly on
    # any non-empty corpus; coalesce preserves count()'s 0 on an empty one
    totals = uni.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("n_uni")).crossJoin(
        cnt_all.agg(
            F.coalesce(F.sum("n_pairs"), F.lit(0)).cast("long").alias("n_pp")
        )
    )
    scored = (
        cnt.join(F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))), "w1")
        .join(F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_pairs",
            F.round(
                F.log(
                    F.col("n_pairs").cast("double")
                    * F.col("n_uni").cast("double")
                    * F.col("n_uni").cast("double")
                    / (
                        F.col("n_pp").cast("double")
                        * F.col("c_a").cast("double")
                        * F.col("c_b").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("n_pairs"), "w1", "w2").limit(SKIPGRAM_TOPK)


SAMPLE_K_PER_GROUP = 10


def sample_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size sample: the K docs with the smallest
    md5(doc_id) per language — the distributed 'reservoir' for building
    fixed-size dev/eval sets (sample_stratified gives a fixed RATE; this
    gives a fixed COUNT per stratum, stable across runs and engines
    because the order is a content-free hash, not a scan order).

    Scale: one rank window per language over (hash, doc_id). At 100 TB
    the per-stratum TopK would use the range-partitioned prefix scan
    (plans/range_scan.py) or a partial TakeOrdered per partition; for
    k ≪ partition counts Spark's window with a running rank ≤ K
    prune-early is adequate, and K rows per group is the output bound."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.select("doc_id", "lang", "n_chars")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= SAMPLE_K_PER_GROUP)
    )


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization pass accounting: lowercase, strip digits/punctuation
    to spaces, collapse whitespace runs, trim — the canonicalization
    every dedup/tokenization stage assumes — and report per doc the
    normalized-content hash, whether normalization changed anything, and
    the exact char delta. Map-only (the 100 TB shape: zero shuffles);
    downstream exact-dedup on norm_hash instead of md5(text) catches
    case/punctuation-variant duplicates."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", " "),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_hash"),
        (norm != F.col("text")).alias("changed"),
        (F.length("text") - F.length(norm)).cast("long").alias("chars_removed"),
        F.length(norm).cast("long").alias("n_chars_norm"),
    )


VOCAB_SIZES = [100, 1000, 10000]


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary-size dial: what share of all corpus token
    occurrences is covered by the top-K most frequent terms, for each
    candidate K in VOCAB_SIZES — the coverage/OOV curve a tokenizer or
    embedding-table budget is chosen from (the complement of zipf_fit's
    shape statistic). Output: (vocab_size, covered_tokens, total_tokens,
    coverage).

    The global frequency rank over (count desc, term) comes from the
    range-partitioned prefix scan (plans/range_scan.py) — never a
    single-reducer sort.

    Determinism: counts and ranks are exact integers; coverage is one
    rounded division. Scale: one vocab-bounded agg shuffle, one range
    repartition of |V| rows, a broadcast offsets join, one 1-row
    aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    ranked = range_prefix_scan(counts, [F.desc("x"), "w"], rank="r")
    agg = ranked.agg(
        F.sum("x").alias("total"),
        *[
            F.sum(F.when(F.col("r") <= k, F.col("x")).otherwise(F.lit(0))).alias(
                f"c{k}"
            )
            for k in VOCAB_SIZES
        ],
    )
    return (
        agg.where(F.col("total").isNotNull() & (F.col("total") > 0))
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("long").alias("vocab_size"),
                            F.col(f"c{k}").alias("covered_tokens"),
                        )
                        for k in VOCAB_SIZES
                    ]
                )
            ).alias("s"),
            F.col("total").alias("total_tokens"),
        )
        .select(
            F.col("s.vocab_size").alias("vocab_size"),
            F.col("s.covered_tokens").alias("covered_tokens"),
            "total_tokens",
            F.round(
                F.col("s.covered_tokens") / F.col("total_tokens").cast("double"),
                6,
            ).alias("coverage"),
        )
    )


PACK_SEQ_LENS = [512, 1024, 2048, 4096]


def pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training sequence-length dial: for each candidate context length,
    the padding waste of per-document chopping (each doc yields
    ceil(tokens/L) sequences; the last one is padded). The curve that
    picks L before a pack_sequences run — short L wastes nothing but
    fragments long docs, long L pads short docs. Output: (seq_len,
    n_docs, total_tokens, n_sequences, padded_tokens, padding_share).

    All counts are exact integers (integer ceil-div); entirely map-side
    per row with a 4-group partial-agg rollup — no shuffle grows with
    the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast(
            "long"
        ).alias("nt")
    ).where(F.col("nt") > 0)
    per_len = t.select(
        "nt",
        F.explode(
            F.array(*[F.lit(length).cast("long") for length in PACK_SEQ_LENS])
        ).alias("seq_len"),
    ).withColumn(
        "ns",
        F.expr("(nt + seq_len - 1) div seq_len"),
    )
    return per_len.groupBy("seq_len").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("total_tokens"),
        F.sum("ns").alias("n_sequences"),
        F.sum(F.col("ns") * F.col("seq_len") - F.col("nt")).alias(
            "padded_tokens"
        ),
        F.round(
            F.sum(F.col("ns") * F.col("seq_len") - F.col("nt"))
            / F.sum(F.col("ns") * F.col("seq_len")).cast("double"),
            6,
        ).alias("padding_share"),
    )


QUALITY_CUTOFFS = [0.3, 0.4, 0.5, 0.6, 0.7, 0.8]


def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate sensitivity curve: for each candidate cutoff, how
    many documents and tokens survive `quality >= cutoff` and what
    corpus share that is — the dial that chooses corpus_select's gate
    before committing a cleaning run (the text_quality companion to
    dedup_threshold_sweep's cosine curve). Output: (cutoff, n_docs,
    n_tokens, doc_share, token_share).

    Composes text_quality (map-side features), tags each doc with every
    cutoff it clears via array filter + explode (map-side), aggregates
    |docs|·|cutoffs| rows into 6 groups, and joins the 1-row corpus
    totals broadcast for the shares."""
    q = text_quality(spark, sf_dir).select("doc_id", "n_tokens", "quality")
    totals = q.agg(
        F.count(F.lit(1)).alias("tot_docs"),
        F.sum("n_tokens").alias("tot_tokens"),
    )
    c_arr = F.array(*[F.lit(float(c)) for c in QUALITY_CUTOFFS])
    tagged = q.select(
        "n_tokens",
        F.explode(F.filter(c_arr, lambda c: F.col("quality") >= c)).alias(
            "cutoff"
        ),
    )
    surv = tagged.groupBy("cutoff").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    return surv.crossJoin(F.broadcast(totals)).select(
        "cutoff",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs") / F.col("tot_docs").cast("double"), 6).alias(
            "doc_share"
        ),
        F.round(
            F.col("n_tokens") / F.col("tot_tokens").cast("double"), 6
        ).alias("token_share"),
    )


MIX_TEMPERATURES = [0.5, 0.7, 1.0]


def mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights per language (the multilingual
    sampling recipe of mBERT/XLM-R: sample language l with probability
    proportional to p_l^tau) for each candidate temperature — tau = 1 is
    the natural mixture, tau -> 0 approaches uniform; mix_weights'
    uniform_weight is the tau = 0 endpoint. Output: (tau, lang,
    total_tokens, mix_weight).

    The powers are computed on the exact integer per-language token
    totals (share normalization cancels), so each weight is one pow +
    one division over a |langs|-row frame; the per-tau normalizer is a
    |langs|-bounded agg broadcast back."""
    per_lang = token_count_by_lang(spark, sf_dir).select("lang", "total_tokens")
    t_arr = F.array(*[F.lit(float(t)) for t in MIX_TEMPERATURES])
    powed = per_lang.select(
        "lang",
        "total_tokens",
        F.explode(t_arr).alias("tau"),
    ).withColumn(
        "pw", F.pow(F.col("total_tokens").cast("double"), F.col("tau"))
    )
    norm = powed.groupBy("tau").agg(F.sum("pw").alias("z"))
    return (
        powed.join(F.broadcast(norm), "tau")
        .select(
            "tau",
            "lang",
            "total_tokens",
            F.round(F.col("pw") / F.col("z"), 6).alias("mix_weight"),
        )
    )


LENGTH_FENCE_QS = [round(0.1 * i, 1) for i in range(1, 10)]


def length_quality_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-by-length-decile curve: documents bucketed into exact
    length deciles (interpolated fences), mean quality score per decile —
    the dashboard that answers "is the quality gate biased against long
    (or short) documents?" before corpus_select bakes that bias in.

    Scale-safe deciling: NO global ntile/sort — the 9 fence values come
    from one percentile aggregate, broadcast back, and the decile is
    assigned row-locally by counting fences below the value (ties fall
    to the lower decile identically in both engines). Mean quality sums
    the 6dp-rounded scores as exact integer micro-units."""
    q = text_quality(spark, sf_dir).select("doc_id", "n_chars", "quality")
    qs = ", ".join(str(x) for x in LENGTH_FENCE_QS)
    fences = q.agg(
        F.expr(f"percentile(n_chars, array({qs}))").alias("fences")
    )
    return (
        q.join(F.broadcast(fences))
        .select(
            "n_chars",
            "quality",
            (
                F.size(F.filter("fences", lambda f: F.col("n_chars") > f)) + 1
            )
            .cast("long")
            .alias("decile"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.round(
                F.sum(F.round(F.col("quality") * 1000000).cast("long"))
                / (F.count(F.lit(1)) * F.lit(1000000.0)),
                6,
            ).alias("mean_quality"),
        )
    )


def corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus coverage matrix with subtotals: (lang, source) ROLLUP of
    doc counts and total characters — the per-cell + per-lang + grand
    totals a mixture designer reads next to mix_weights. The Expand
    (×3 grouping sets) is inherent to ROLLUP and explicitly allowlisted,
    like pv_cube; sums are exact integers."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def corpus_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — the third member of the
    multi-dimensional aggregation family (corpus_rollup: hierarchical;
    pv_cube: full lattice; this: exactly the chosen sets): per-lang,
    per-source, and per-(lang, day-bucket-of-doc_id%7 stand-in removed —
    the sets are (lang), (source), (lang, source)) doc counts and
    character totals, with grouping_id distinguishing which set each
    row belongs to. The Expand is x|sets| (3), allowlisted like
    ROLLUP/CUBE; sums exact integers.

    Why it matters at scale: GROUPING SETS computes N report shapes in
    ONE corpus pass (shared scan + one shuffle), where N separate
    GROUP BYs would scan N times — the mixture designer's lang/source
    marginals and joint in a single job."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("docs_gs")
    return spark.sql(
        """
        SELECT lang, source,
               CAST(grouping(lang) * 2 + grouping(source) AS BIGINT) AS gid,
               count(*) AS n_docs,
               sum(n_chars) AS total_chars
        FROM docs_gs
        GROUP BY GROUPING SETS ((lang), (source), (lang, source))
        """
    )


WEIGHTED_SAMPLE_K = 200
_U32 = 4294967296.0  # 2^32: the md5-prefix hash range


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-Res): each doc draws a reproducible uniform
    u from its md5 (never 0/1: (h + 0.5) / 2^32) and gets priority
    ln(u) / weight with weight = n_chars; the global top-K by priority
    is a length-weighted sample — long docs proportionally more likely,
    yet the same docs selected on every run and every engine (the
    rand()-free discipline of sample_stratified, extended from
    Bernoulli to weighted-without-replacement).

    Plan: priorities are map-side scalar math on the scan; selection is
    one TakeOrdered of K rows — no shuffle of the corpus, no global
    sort. Priorities are rounded before ordering so both engines rank
    identical values (doc_id breaks the residual ties)."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    key = F.round(F.log((h + 0.5) / F.lit(_U32)) / F.col("n_chars"), 9)
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            key.alias("priority"),
        )
        .orderBy(F.desc("priority"), "doc_id")
        .limit(WEIGHTED_SAMPLE_K)
    )


READ_SENT_WORDS = 20  # sentence proxy: fixed word segments (corpus has no punctuation)


def readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    feature the quality stacks feed alongside text_quality's ratios:
    206.835 - 1.015·(words/sentences) - 84.6·(syllables/words).
    Syllables are approximated as maximal vowel runs ([aeiouy]+, the
    standard cheap proxy); the synthetic corpus has no sentence
    punctuation, so a sentence is a fixed READ_SENT_WORDS-word segment
    (the line_dedup convention). All three counts are exact integers,
    so the formula is one deterministic double expression.

    Plan: pure map over the doc scan; the scan is REBALANCED to full
    parallelism first because regex extraction is CPU-dense per row
    (the fingerprint/text_repetition lesson)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    words = F.size(F.split("text", " ")).cast("long")
    syll = F.size(
        F.expr("regexp_extract_all(text, '[aeiouy]+', 0)")
    ).cast("long")
    sents = F.greatest(
        F.ceil(words / F.lit(float(READ_SENT_WORDS))).cast("long"), F.lit(1)
    )
    return docs.select(
        "doc_id",
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syll.alias("n_syllables"),
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (words / sents)
            - F.lit(84.6) * (syll / words),
            4,
        ).alias("flesch"),
    )


def quality_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information audit of the quality gate against document
    length: per (length-decile, label) cell, the exact count and the MI
    term (n/N)·ln(n·N / (n_dec·n_y)) — summed by the consumer, I(decile;
    label) says HOW MUCH the gate depends on length (the
    length_quality_curve shows the direction; this is the magnitude in
    nats, the number you compare across candidate gates). Per-cell rows
    expose where the dependence concentrates.

    Exactness: every margin is an exact integer; each cell emits one
    deterministic double expression, so no cross-row float accumulation
    exists to reorder.

    Scale: same fence-broadcast deciling as length_quality_curve (no
    global sort), one (decile, y) aggregate over 20 bounded cells, and
    three broadcastable marginal aggregates joined back."""
    q = text_quality(spark, sf_dir).select("n_chars", "quality")
    qs = ", ".join(str(x) for x in LENGTH_FENCE_QS)
    fences = q.agg(
        F.expr(f"percentile(n_chars, array({qs}))").alias("fences")
    )
    cells = (
        q.join(F.broadcast(fences))
        .select(
            (F.size(F.filter("fences", lambda f: F.col("n_chars") > f)) + 1)
            .cast("long")
            .alias("decile"),
            (F.col("quality") >= CORPUS_MIN_QUALITY).cast("long").alias("y"),
        )
        .groupBy("decile", "y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dec_tot = cells.groupBy("decile").agg(F.sum("n").alias("n_dec"))
    y_tot = cells.groupBy("y").agg(F.sum("n").alias("n_y"))
    tot = cells.agg(F.sum("n").alias("n_all"))
    return (
        cells.join(F.broadcast(dec_tot), "decile")
        .join(F.broadcast(y_tot), "y")
        .join(F.broadcast(tot))
        .select(
            "decile",
            "y",
            "n",
            F.round(
                (F.col("n") / F.col("n_all"))
                * F.log(
                    F.col("n") * F.col("n_all")
                    / (F.col("n_dec") * F.col("n_y"))
                ),
                6,
            ).alias("mi_term"),
        )
    )


SPLIT_VAL_PCT = 2  # md5 buckets 96–97
SPLIT_TEST_PCT = 2  # md5 buckets 98–99


def data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test holdout split with per-language
    token accounting — the budget sheet a training run is provisioned
    from (does the val split cover every language? how many tokens
    does each cut actually hold?). Assignment follows
    sample_stratified's md5-bucket discipline (buckets 0–95 train,
    96–97 val, 98–99 test): reproducible across runs and engines, the
    same doc always lands in the same split, and the split survives
    incremental reprocessing — rand() does none of these.

    Output is INTEGER-only (doc and whitespace-token counts per
    split × lang) — no fraction columns, so no cross-engine rounding
    surface at all.

    Scale: the bucket and token count are map-side expressions on the
    scan; one (split, lang)-bounded partial-agg shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            _split_col().alias("split"),
            "lang",
            F.size(F.split("text", " ")).cast("long").alias("toks"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").cast("long").alias("n_tokens"),
        )
    )


def quality_ppl_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Pearson correlation between the two filtering
    signals — the heuristic composite (text_quality.quality) and the
    corpus-LM score (doc_perplexity.avg_logprob) — the dial that says
    whether the cheap gate and the LM gate rank documents the same way
    (gate_agreement compares them as BINARY gates; this compares the
    underlying scores).

    Exactness: both scores are 6-dp-rounded doubles, so ×1e6 recovers
    exact integers; the Pearson terms then use the pv_xcorr integer-sum
    formula carried in DECIMAL(38,0) (BIGINT Σxy overflows at corpus
    scale; DuckDB's HUGEINT is the oracle twin), cast to double once
    for the final division. IEEE sqrt is correctly rounded — identical
    across engines.

    Scale: the two per-doc scores join once on doc_id, then one
    |langs|-bounded partial agg."""
    q = text_quality(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.round(F.col("quality") * 1000000, 0)
        .cast("decimal(38,0)")
        .alias("x"),
    )
    p = doc_perplexity(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("avg_logprob") * 1000000, 0)
        .cast("decimal(38,0)")
        .alias("y"),
    )
    s = (
        q.join(p, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    d1 = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    d2 = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        F.when((d1 > 0) & (d2 > 0), F.round(num / F.sqrt(d1 * d2), 6)).alias(
            "corr"
        ),
    )


def _split_col() -> "F.Column":
    """train/val/test assignment — data_split's md5-bucket discipline,
    shared so the split family can never drift apart."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 31, 2), 16, 10)
        .cast("long")
        % 100
    )
    return (
        F.when(bucket < 100 - SPLIT_VAL_PCT - SPLIT_TEST_PCT, "train")
        .when(bucket < 100 - SPLIT_TEST_PCT, "val")
        .otherwise("test")
    )


def split_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary audit across the holdout split: for val and
    test, how many token occurrences (and distinct types) are absent
    from the TRAIN split's vocabulary — the number that says whether
    the tokenizer/embedding table fit on train generalizes to the
    held-out cuts (data_split budgets the cuts; this audits them).

    Exactness: integer occurrence/type counts plus one rounded rate.

    Scale: train vocab is a |V|-bounded agg; the eval-token stream
    left-anti-style joins it on the token (a plain equality join with a
    null-flag, no broadcast assumption — at 100 TB the vocab outgrows
    broadcast and AQE picks the strategy); one bounded agg."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", _split_col().alias("split")
    )
    toks = docs.select(
        "split", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    train_vocab = (
        toks.where(F.col("split") == "train")
        .select("w")
        .distinct()
        .withColumn("_in", F.lit(1))
    )
    ev = (
        toks.where(F.col("split") != "train")
        .join(train_vocab, "w", "left")
    )
    return (
        ev.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov_tokens"),
            F.countDistinct(F.when(F.col("_in").isNull(), F.col("w"))).alias(
                "n_oov_types"
            ),
        )
        .select(
            "split",
            "n_tokens",
            "n_oov_tokens",
            "n_oov_types",
            F.round(F.col("n_oov_tokens") / F.col("n_tokens"), 6).alias(
                "oov_rate"
            ),
        )
    )


def split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train↔holdout leakage audit: word-trigram shingles shared
    between the train split and each held-out split — decontaminate
    removes leakage against an EXTERNAL eval set; this measures it
    across the repo's OWN holdout cuts (the train/test-overlap check
    every pretraining-data paper reports).

    Exactness: distinct-shingle universes and their intersections are
    exact integer counts; one rounded share.

    Scale: per-split distinct shingles are |shingle-vocab|-bounded
    aggs; the overlap is one equality join on the shingle key."""
    from hedera_spark.operators.dedup import _docs_rebalanced

    sh = (
        _docs_rebalanced(spark, sf_dir)
        .select(_split_col().alias("split"), F.split("text", " ").alias("toks"))
        .selectExpr("split", f"explode({ngram_sql('toks', 3, distinct=True)}) AS s")
        .distinct()
    )
    train = sh.where(F.col("split") == "train").select("s").withColumn(
        "_in", F.lit(1)
    )
    held = sh.where(F.col("split") != "train")
    return (
        held.join(train, "s", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("_in").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_shared"),
        )
        .select(
            "split",
            "n_shingles",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_shingles"), 6).alias(
                "shared_rate"
            ),
        )
    )


RAKE_STOP_K = 8
RAKE_MAX_LEN = 4
RAKE_TOP_K = 3


def keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): split each
    document at stop tokens, score every surviving phrase (≤ 4 words)
    by the sum of its words' degree/frequency ratios computed over ALL
    phrase occurrences in the corpus, and keep each document's top 3.
    The stop set is data-derived — the RAKE_STOP_K highest-df tokens —
    the same corpus-driven stop discipline as the anchor_cooccur
    hot-set. The phrase-level complement to tfidf_topk (single terms)
    and bigram_pmi (fixed-length pairs).

    Plan shape: one doc_id-keyed window builds segment ids (the stop
    hot-set rides a 1-row broadcast), phrase grouping rides the same
    doc_id shuffle, word stats are one vocab-bounded agg joined back by
    word equality. No self-joins; per-doc cost is linear in tokens.

    Determinism: freq/degree are exact integers; a phrase score sums
    ≤ 4 deg/freq doubles before one round(6) (the ql_topk few-term-sum
    discipline); ranking ties break on the phrase string."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).where(F.col("token") != "")
    stops = (
        toks.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("df"), "token")
        .limit(RAKE_STOP_K)
        .agg(F.collect_set("token").alias("stops"))
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = toks.crossJoin(F.broadcast(stops)).select(
        "doc_id",
        "pos",
        "token",
        F.array_contains(F.col("stops"), F.col("token")).alias("is_stop"),
    )
    segged = marked.select(
        "doc_id",
        "pos",
        "token",
        "is_stop",
        F.sum(F.col("is_stop").cast("int")).over(w).alias("seg"),
    ).where(~F.col("is_stop"))
    phrases = (
        segged.groupBy("doc_id", "seg")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("pos", "token"))
            ).alias("wl"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
        )
        .where(F.col("n_words") <= RAKE_MAX_LEN)
        .select(
            "doc_id",
            "seg",
            "n_words",
            F.concat_ws(
                " ", F.transform(F.col("wl"), lambda x: x["token"])
            ).alias("phrase"),
            F.transform(F.col("wl"), lambda x: x["token"]).alias("words"),
        )
    )
    occ_words = phrases.select(
        "doc_id", "seg", "phrase", "n_words", F.explode("words").alias("word")
    )
    word_stats = occ_words.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("n_words").cast("long").alias("deg"),
    )
    occ_scored = (
        occ_words.join(word_stats, "word")
        .groupBy("doc_id", "seg", "phrase", "n_words")
        .agg(F.sum(F.col("deg") / F.col("freq")).alias("occ_score"))
    )
    per_phrase = occ_scored.groupBy("doc_id", "phrase").agg(
        F.max("n_words").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_occur"),
        F.round(F.max("occ_score"), 6).alias("score"),
    )
    rw = Window.partitionBy("doc_id").orderBy(F.desc("score"), "phrase")
    return (
        per_phrase.withColumn("rnk", F.row_number().over(rw).cast("long"))
        .where(F.col("rnk") <= RAKE_TOP_K)
    )


def quality_score_col() -> "F.Column":
    """The text_quality composite as ONE rounded expression — shared by
    classifier_auc and score_quantile_norm so every consumer groups and
    ranks the identical doubles."""
    toks = F.split(F.col("text"), " ")
    return F.round(
        F.least(F.size(toks) / F.lit(50.0), F.lit(1.0)) * 0.5
        + (F.size(F.array_distinct(toks)) / F.size(toks).cast("double"))
        * 0.3
        + (
            1
            - F.round(
                F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
                / F.size(toks).cast("double"),
                6,
            )
        )
        * 0.2,
        6,
    )



def classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the text_quality composite score as a separator
    of English vs non-English documents — the gate-bias audit every
    multilingual pipeline owes its corpus (quality heuristics
    notoriously favor English; AUC far from 0.5 quantifies exactly how
    much): AUC is the Mann-Whitney probability P(score_en > score_other),
    computed WITHOUT materializing the pos x neg pair space.

    Exactness: the pairwise statistic folds per DISTINCT score value —
    U2 = sum_v pos_v * (2 * cumneg_below_v + neg_v) (doubled so a tie
    contributes the integer +1 instead of +0.5) — and stays exact
    integer (DECIMAL(38,0)/HUGEINT: U2 <= 2*n1*n0 overflows BIGINT at
    warehouse scale) until the single final division. The score is the
    text_quality formula rounded to 6, so both engines group identical
    doubles.

    Scale: one doc-keyed scan builds (score, label), one shuffle to
    |distinct scores| rows, and the running negative count comes from
    the range-partitioned prefix scan (plans/range_scan.py) — never a
    one-reducer ORDER BY window. AUC is
    direction-coded as P(score_en > score_other): 0.5 = unbiased."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        quality_score_col().alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    per_score = scored.groupBy("score").agg(
        F.sum("pos").alias("pos"),
        F.sum(1 - F.col("pos")).alias("neg"),
    )
    cum = range_prefix_scan(per_score, ["score"], sums={"cum": "neg"}).withColumn(
        "cumneg_below", (F.col("cum") - F.col("neg")).cast("long")
    )
    agg = cum.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.sum(
            F.col("pos").cast("decimal(38,0)")
            * (2 * F.col("cumneg_below") + F.col("neg")).cast("decimal(38,0)")
        ).alias("u2"),
    )
    # u2/(2 n1 n0) IS P(score_en > score_other) (ties at half weight)
    auc = F.col("u2").cast("double") / (
        2.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(auc, 6).alias("auc_en"),
        F.round(2.0 * auc - 1.0, 6).alias("gini"),
    )


def score_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of the quality score — the
    mixing-pipeline prerequisite for comparing documents ACROSS sources
    whose raw score distributions differ (a web source and a curated
    source should compete on within-source standing, not raw points):
    each doc is mapped to (rank-1)/(n-1) within its source.

    Exactness: ranks are exact integers over the total order (source,
    score, doc_id) — the doc_id tie-break makes row_number identical in
    both engines; the quantile is one integer ratio.

    Scale: the within-source rank comes from the range-partitioned
    prefix scan grouped by source (plans/range_scan.py) — never a
    per-source single-partition window, which dies when one source
    dominates the corpus; src_n is a broadcast of |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", quality_score_col().alias("score")
    )
    ranked = range_prefix_scan(
        scored, ["score", "doc_id"], rank="src_rank", group=["source"]
    )
    src = ranked.groupBy(F.col("source").alias("_src")).agg(
        F.count(F.lit(1)).cast("long").alias("src_n")
    )
    out = ranked.join(F.broadcast(src), F.col("source").eqNullSafe(F.col("_src")))
    return out.select(
        "doc_id",
        "source",
        "score",
        "src_rank",
        "src_n",
        F.round(
            F.when(
                F.col("src_n") > 1,
                (F.col("src_rank") - 1).cast("double")
                / (F.col("src_n") - 1).cast("double"),
            ).otherwise(F.lit(0.5)),
            6,
        ).alias("quantile"),
    )


CURRICULUM_PHASES = 4


def curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning phase assignment — the training-order
    counterpart of mix_weights (WHAT to train on) and pack_sequences
    (HOW to batch it): documents ordered easy→hard by token length
    (the standard length-based curriculum) and cut into 4 equal-count
    phases; per phase the doc count, token mass, length boundaries and
    mean quality score — the per-phase data card a curriculum schedule
    is built from.

    Exactness: phase = (rank−1)·4 div total + 1 on exact integer global
    ranks (tie-broken by doc_id); mean quality from exact Σ round(q·1e6)
    micro-units (the quality_calibration discipline).

    Scale: ONE range-partitioned prefix scan for the global rank
    (plans/range_scan.py — never a single-reducer ORDER BY), then a
    4-group partial agg."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        quality_score_col().alias("q"),
    )
    ranked = range_prefix_scan(docs, ["n_tokens", "doc_id"], rank="gr")
    tot = ranked.agg(F.count(F.lit(1)).cast("long").alias("total"))
    phased = ranked.join(F.broadcast(tot)).select(
        F.expr(f"(gr - 1) * {CURRICULUM_PHASES} div total + 1").alias(
            "phase"
        ),
        "n_tokens",
        "q",
    )
    g = phased.groupBy("phase").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.sum(F.round(F.col("q") * 1e6).cast("long")).alias("q6"),
    )
    return g.select(
        "phase",
        "n_docs",
        "total_tokens",
        "min_tokens",
        "max_tokens",
        F.round(
            F.col("q6") / (F.col("n_docs").cast("double") * 1e6), 6
        ).alias("mean_quality"),
    )


LLR_TOPK = 50


def bigram_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation SIGNIFICANCE: Dunning's log-likelihood ratio over
    the adjacent-bigram 2×2 contingency table — bigram_pmi's
    statistical twin (PMI over-ranks rare pairs; LLR weighs the
    evidence, which is why Dunning 1993 is the standard collocation
    test): for each bigram, O₁₁ = c(ab), margins = first-position and
    second-position counts, LLR = 2·Σ O·ln(O/E), zero-observation
    cells contribute 0.

    Exactness: all counts and margins are exact integers (margins from
    the UNFILTERED bigram table); each term is one ln of an exact
    integer ratio and the four terms fold in a fixed written order —
    identical doubles in both engines; top-K by (llr DESC, w1, w2) is
    a total order.

    Scale: the bigram_pmi shape — map-only extraction, one
    vocabulary-bounded agg, margin frames broadcast, TakeOrdered cut."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    bi = adjacent_pairs(docs).select("w1", "w2")
    cab_all = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    cab_all = cab_all.persist()
    m1 = cab_all.groupBy("w1").agg(F.sum("c_ab").alias("c_a1"))
    m2 = cab_all.groupBy("w2").agg(F.sum("c_ab").alias("c_b2"))
    # coalesce preserves count()-style 0 on an empty corpus (sum over
    # zero rows is NULL); identical on any non-empty one
    tot = cab_all.agg(F.coalesce(F.sum("c_ab"), F.lit(0)).cast("long").alias("n_bi"))
    cab = cab_all.where(F.col("c_ab") >= PMI_MIN_COUNT)
    j = (
        cab.join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .crossJoin(F.broadcast(tot))
    )
    o11 = F.col("c_ab").cast("double")
    r1 = F.col("c_a1").cast("double")
    c1 = F.col("c_b2").cast("double")
    n = F.col("n_bi").cast("double")
    o12 = r1 - o11
    o21 = c1 - o11
    o22 = n - r1 - c1 + o11

    def term(o, row, col):
        return F.when(
            o > 0, o * F.log(o * n / (row * col))
        ).otherwise(F.lit(0.0))

    llr = 2.0 * (
        term(o11, r1, c1)
        + term(o12, r1, n - c1)
        + term(o21, n - r1, c1)
        + term(o22, n - r1, n - c1)
    )
    out = j.select(
        "w1",
        "w2",
        "c_ab",
        F.col("c_a1").cast("long").alias("c_a1"),
        F.col("c_b2").cast("long").alias("c_b2"),
        F.round(llr, 6).alias("llr"),
    )
    return out.orderBy(F.desc("llr"), "w1", "w2").limit(LLR_TOPK)


MIX_SEG_TOKENS = 8  # tokens per code-switch probe window


def _seg_pred(seg: Column) -> Column:
    """lang prediction for ONE token-array segment: score = |set(seg) ∩
    markers(lang)| (array_intersect is set semantics in Spark), argmax
    with lang_id's lexicographic tie-break (all-zero scores predict the
    first lang, same as lang_id's CASE chain)."""
    scores = {
        lang: F.size(
            F.array_intersect(seg, F.array(*[F.lit(m) for m in markers]))
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    }
    best = F.greatest(*scores.values())
    pred = F.lit(None).cast("string")
    for lang in reversed(sorted(LANG_MARKERS)):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return pred


def lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switch audit — the WITHIN-document companion to lang_id's
    per-document argmax: multilingual contamination (boilerplate in one
    language glued to body text in another) poisons monolingual training
    mixes yet is invisible to whole-doc language ID, which just reports
    the majority language. Segment each doc into MIX_SEG_TOKENS-token
    windows, predict a language per window with lang_id's own marker
    argmax, and report per doc: window count, distinct predicted
    languages, the dominant language's share of windows, and the mixed
    flag (>= 2 languages).

    Scale (100 TB): a PURE MAP operator — segmentation, per-window set
    intersections against the broadcast-literal marker lists, the argmax
    CASE, and the per-doc fold over predictions are all array
    expressions inside one projection; the text column is read once and
    nothing shuffles, ever. Contrast lang_id, which explodes distinct
    tokens and aggregates them back.

    Reference: language bucketing of the reference's corpus accounting
    (WIKIREVISION.md corpus splits), sharpened to the window grain a
    crawl-cleaning pipeline needs."""
    return _lang_mix_project(load_table(spark, sf_dir, "documents"))


def _lang_mix_project(docs: DataFrame) -> DataFrame:
    """lang_mix as a pure projection over any (doc_id, text) frame —
    batch table or streaming micro-batch (streaming/clean.py twin): the
    whole operator is array expressions in one select, so the SAME
    expression tree runs in both engines' row paths."""
    docs = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != "").alias("toks"),
    ).where(F.size("toks") > 0)
    segs = F.transform(
        F.sequence(
            F.lit(0), F.floor((F.size("toks") - 1) / MIX_SEG_TOKENS).cast("int")
        ),
        lambda i: F.slice("toks", i * MIX_SEG_TOKENS + 1, MIX_SEG_TOKENS),
    )
    preds = docs.select("doc_id", F.transform(segs, _seg_pred).alias("preds"))
    dom = F.array_max(
        F.transform(
            F.array_distinct("preds"),
            lambda p: F.size(F.filter("preds", lambda x: x == p)),
        )
    )
    return preds.select(
        "doc_id",
        F.size("preds").cast("long").alias("n_segs"),
        F.size(F.array_distinct("preds")).cast("long").alias("n_langs"),
        F.round(dom / F.size("preds"), 6).alias("top_share"),
        (F.size(F.array_distinct("preds")) >= 2).cast("long").alias("mixed"),
    )


# gopher_quality_gate thresholds (Rae et al. 2021, Gopher Table A1 rule
# subset). Every ratio compare is a cross-multiplied INTEGER compare so
# both engines decide every flag exactly.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3  # mean word length in [3, 10] characters
GOPHER_MAX_MEAN_LEN = 10
GOPHER_SYMBOL_MAX_NUM = 1  # symbol-token ratio <= 1/10
GOPHER_SYMBOL_MAX_DEN = 10
GOPHER_ALPHA_MIN_NUM = 4  # alphabetic-word fraction >= 4/5
GOPHER_ALPHA_MIN_DEN = 5
GOPHER_MIN_STOPWORDS = 2  # distinct stop words present


def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical Gopher document-quality rules (Rae et al. 2021,
    Table A1 subset) as ONE audited gate — the published filter bundle a
    crawl-cleaning pipeline actually ships, next to the ad-hoc composite
    of text_quality: word count in [50, 100k], mean word length in
    [3, 10], symbol-token ratio ('#' or '...' tokens) <= 1/10,
    alphabetic-word fraction >= 4/5, and >= 2 distinct stop words
    present. Output per doc: each measured feature, each rule flag, and
    the conjunction.

    Exactness: every threshold is rational and every compare
    cross-multiplies to integers (e.g. mean length in [3,10] tests
    3·n <= Σlen <= 10·n), so no engine ever decides a flag on a float;
    the reported ratios are round(…, 6) display values only.

    Scale (100 TB): a PURE MAP operator — tokenization and every rule
    are array expressions inside one projection; nothing shuffles. The
    gate composes with corpus_select/pipeline_funnel the way the
    published pipeline chains its filters.
    """
    return _gopher_gate_project(load_table(spark, sf_dir, "documents"))


def _gopher_gate_project(docs: DataFrame) -> DataFrame:
    """gopher_quality_gate as a pure projection over any (doc_id, text)
    frame — batch table or streaming micro-batch (streaming/clean.py
    twin), same discipline as _lang_mix_project."""
    docs = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != "").alias("toks"),
    )
    n_words = F.size("toks")
    sum_len = F.aggregate(
        F.transform("toks", F.length), F.lit(0), lambda a, x: a + x
    )
    n_symbol = F.size(
        F.filter(
            "toks", lambda t: t.contains("#") | t.contains("...") | t.contains("…")
        )
    )
    n_alpha = F.size(F.filter("toks", lambda t: t.rlike("[A-Za-z]")))
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct("toks"), F.array(*[F.lit(s) for s in STOPWORDS])
        )
    )
    m = docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        sum_len.cast("long").alias("sum_word_len"),
        n_symbol.cast("long").alias("n_symbol_words"),
        n_alpha.cast("long").alias("n_alpha_words"),
        n_stop.cast("long").alias("n_stopwords"),
    )
    pass_count = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    pass_len = (
        GOPHER_MIN_MEAN_LEN * F.col("n_words") <= F.col("sum_word_len")
    ) & (F.col("sum_word_len") <= GOPHER_MAX_MEAN_LEN * F.col("n_words"))
    pass_symbol = (
        F.col("n_symbol_words") * GOPHER_SYMBOL_MAX_DEN
        <= GOPHER_SYMBOL_MAX_NUM * F.col("n_words")
    )
    pass_alpha = (
        F.col("n_alpha_words") * GOPHER_ALPHA_MIN_DEN
        >= GOPHER_ALPHA_MIN_NUM * F.col("n_words")
    )
    pass_stop = F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS
    return m.where(F.col("n_words") > 0).select(
        "doc_id",
        "n_words",
        F.round(F.col("sum_word_len") / F.col("n_words"), 6).alias("mean_word_len"),
        F.round(F.col("n_symbol_words") / F.col("n_words"), 6).alias("symbol_ratio"),
        F.round(F.col("n_alpha_words") / F.col("n_words"), 6).alias("alpha_frac"),
        "n_stopwords",
        pass_count.cast("long").alias("pass_word_count"),
        pass_len.cast("long").alias("pass_word_len"),
        pass_symbol.cast("long").alias("pass_symbol"),
        pass_alpha.cast("long").alias("pass_alpha"),
        pass_stop.cast("long").alias("pass_stopwords"),
        (pass_count & pass_len & pass_symbol & pass_alpha & pass_stop)
        .cast("long")
        .alias("pass_all"),
    )


# mix_budget_waterfill: the token budget is this fraction of the corpus
# (numerator/denominator — kept rational so B is exact integer arithmetic).
WATERFILL_BUDGET_NUM = 1
WATERFILL_BUDGET_DEN = 2


def mix_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation across sources by exact WATERFILLING —
    the step after mix_weights decides target proportions: give each
    source tokens proportional to its weight (doc count here: a
    doc-uniform mix), but no more than it has (cap = its token count);
    capacity freed by saturated sources re-spreads over the rest. The
    classic exact algorithm: sort by cap/weight ascending — saturation
    is then a PREFIX, and position i saturates iff
    cap_i · W_rest(i) <= B_rest(i) · w_i (cross-multiplied INTEGER
    compare); unsaturated sources get floor(B_rest · w_i / W_rest)
    (integer division). No float enters any decision — the only doubles
    are the reported fill fractions and the cap/weight SORT key, whose
    IEEE division is bit-identical cross-engine. The floor remainder
    (< |unsaturated| tokens) is reported per row so nothing is silently
    dropped.

    Scale: everything happens on the |sources|-row aggregate frame (two
    windows + one 1-row total broadcast); the corpus contributes one
    map-side token-count agg. Output one row per source: cap, weight,
    saturated flag, allocated tokens, fill fraction.

    Reference: the corpus accounting of the reference's pig preprocess
    splits, upgraded to the budgeted-mix allocation an LLM data
    pipeline actually runs."""
    docs = load_table(spark, sf_dir, "documents")
    srcs = docs.groupBy("source").agg(
        F.sum(F.size(F.filter(F.split("text", " "), lambda t: t != "")))
        .cast("long")
        .alias("cap"),
        F.count(F.lit(1)).cast("long").alias("w"),
    )
    tot = srcs.agg(
        F.sum("cap").cast("long").alias("c_all"),
        F.sum("w").cast("long").alias("w_all"),
    )
    wsort = Window.orderBy(F.col("cap") / F.col("w"), "source")
    ordered = (
        srcs.crossJoin(F.broadcast(tot))
        .withColumn(
            "c_before",
            F.coalesce(
                F.sum("cap").over(wsort.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("long"),
        )
        .withColumn(
            "w_before",
            F.coalesce(
                F.sum("w").over(wsort.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("long"),
        )
    )
    budget = F.expr(
        f"c_all * {WATERFILL_BUDGET_NUM} div {WATERFILL_BUDGET_DEN}"
    )
    # i saturates iff cap_i * W_rest <= B_rest * w_i (ascending cap/w
    # order makes saturation a prefix; both sides exact integers)
    sat = (
        F.col("cap") * (F.col("w_all") - F.col("w_before"))
        <= (budget - F.col("c_before")) * F.col("w")
    )
    flagged = ordered.withColumn("saturated", sat.cast("long"))
    # split point: totals over the saturated prefix
    wtot = Window.partitionBy(F.lit(1))
    split = flagged.withColumn(
        "c_sat",
        F.sum(F.when(F.col("saturated") == 1, F.col("cap")).otherwise(0)).over(wtot)
        .cast("long"),
    ).withColumn(
        "w_sat",
        F.sum(F.when(F.col("saturated") == 1, F.col("w")).otherwise(0)).over(wtot)
        .cast("long"),
    )
    split = split.withColumn(
        "w_rest", (F.col("w_all") - F.col("w_sat")).cast("long")
    ).withColumn("b_rest", (budget - F.col("c_sat")).cast("long"))
    # integer `div` keeps the product exact past 2^53 (double division
    # would round the mantissa before the floor)
    alloc = F.expr(
        "CASE WHEN saturated = 1 THEN cap"
        " WHEN w_rest > 0 THEN (b_rest * w) div w_rest"
        " ELSE 0 END"
    )
    return split.select(
        "source",
        "cap",
        "w",
        "saturated",
        alloc.cast("long").alias("alloc_tokens"),
        F.round(alloc.cast("double") / F.col("cap"), 6).alias("fill_frac"),
        F.col("b_rest").alias("budget_rest"),
    )

"""Group C — IR structures: dictionary, term stats, doc vectors, inverted
index, bag-of-words (SURVEY.md §2.C).

Reference: mapreduce/BuildDictionary.java (term → dense id + df),
experiments/.../BasicComputeTermStats.java (df/cf with min-df cut),
experiments/.../InvertedIndexByBOW.java (postings), mapreduce/
BuildPForDocVectors.java + BuildVByteDocVectors.java (doc → compressed
term-id vector), experiments/org/hedera/io/RevisionBOW.java.

Spark-first notes: the reference assigns dictionary ids with a
single-reducer pass; here it is a global sort + row_number over the
*distinct vocabulary* (tiny vs corpus — the sort input is |V|, not |corpus|,
so one skinny shuffle). Posting lists / vectors are emitted as sorted
comma-joined strings — a portable, deterministic surface for the oracle
hash; the array form is one `split()` away. The reference's PForDelta /
VByte compression is a storage codec, which on Spark is parquet encoding's
job — we deliberately do not re-implement it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hedera_spark.operators.anchors import _doc_tokens
from hedera_spark.plans.range_scan import range_prefix_scan


def bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc, term, tf) bag-of-words rows. Reference:
    experiments/org/hedera/io/RevisionBOW.java,
    experiments/org/hedera/io/etl/RevisionBOWInputFormat.java."""
    return (
        _doc_tokens(spark, sf_dir, distinct=False)
        .groupBy("doc_id", F.col("anchor").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """term → document frequency, collection frequency, max tf; min-df cut
    of 2. Reference: experiments/.../BasicComputeTermStats.java (df/cf
    stats with a df floor)."""
    return (
        bow(spark, sf_dir)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
            F.max("tf").alias("max_tf"),
        )
        .where(F.col("df") >= 2)
    )


def dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """term → dense id (1-based, lexicographic) + df. Reference:
    mapreduce/BuildDictionary.java (sorted terms → sequential ids; the
    reference runs one reducer for this).

    A bare `row_number() OVER (ORDER BY term)` would funnel the whole
    vocabulary through ONE task — the same single-reducer bottleneck the
    reference has. The ids come from the range-partitioned prefix scan
    (plans/range_scan.py) instead: identical to the global row_number,
    with the sort spread over the executors. At 100 TB vocabularies
    reach 10^8+ terms, where this is the difference between minutes and a
    stuck stage."""
    df_ = (
        _doc_tokens(spark, sf_dir, distinct=True)
        .groupBy(F.col("anchor").alias("term"))
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return range_prefix_scan(df_, ["term"], rank="term_id").select(
        "term", "term_id", "df"
    )


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """term → sorted posting list (comma-joined doc ids) + df. Reference:
    experiments/.../InvertedIndexByBOW.java. collect_list order is not
    guaranteed after shuffle, so postings are array_sort'ed before joining."""
    pairs = _doc_tokens(spark, sf_dir, distinct=True)
    return (
        pairs.groupBy(F.col("anchor").alias("term"))
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
    )


def doc_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc → sorted term-id vector (comma-joined) + length. Reference:
    mapreduce/BuildPForDocVectors.java, BuildVByteDocVectors.java (doc →
    int-coded term vector; compression left to the storage layer here).
    The dictionary side is tiny (|V|) and broadcast into the join."""
    pairs = _doc_tokens(spark, sf_dir, distinct=True).select(
        "doc_id", F.col("anchor").alias("term")
    )
    dic = dictionary(spark, sf_dir).select("term", "term_id")
    return (
        pairs.join(F.broadcast(dic), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("term_id")),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("vector"),
        )
    )


def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 docs by tf-idf score for a fixed query token set — the
    retrieval consumer of the dictionary/index structures (reference:
    experiments/.../WikiRevIndex4NonTemporalSearch.java builds exactly
    this index-then-rank pipeline). idf = ln(N/df); score sums over query
    terms; deterministic tie-break on doc_id."""
    query_terms = ["spark", "query", "stream"]
    tf_ = bow(spark, sf_dir).where(F.col("term").isin(query_terms))
    df_ = tf_.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # N as a lazy 1-row broadcast aggregate (no eager .count() job at
    # plan-construction time — the operator stays side-effect-free)
    n_docs = (
        _doc_tokens(spark, sf_dir, distinct=False)
        .agg(F.countDistinct("doc_id").cast("double").alias("n_docs"))
    )
    scored = (
        tf_.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
        .groupBy("doc_id")
        .agg(F.round(F.sum("tfidf"), 6).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.col("doc_id")).limit(10)


def shingle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram frequency table with a min-count cut — the n-gram
    statistics view of the corpus (BasicComputeTermStats over n-grams)."""
    from hedera_spark.operators.dedup import _shingles

    return (
        _shingles(spark, sf_dir)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )


def top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per language by collection frequency (windowed top-k
    over grouped term stats)."""
    from hedera_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    tf_ = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("cf"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cf"), F.col("term"))
    return (
        tf_.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
    )


def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent character-pair statistics — the counting step of one BPE
    merge iteration, the tokenizer-training primitive of an LLM data
    pipeline. The 100 TB shape: aggregate the corpus to the WORD
    FREQUENCY table first (one shuffle, bounded by |vocab|, the same
    partial-agg argument as dictionary), then explode character pairs
    over the compact vocab weighted by frequency — pair counting never
    touches raw corpus rows a second time, which is exactly how
    production BPE trainers scale."""
    from hedera_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = words.select(
        "w",
        "freq",
        F.explode(
            F.expr(
                # guard: sequence(1, 0) DESCENDS for single-char words
                "CASE WHEN length(w) >= 2 THEN"
                " transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
                " ELSE array() END"
            )
        ).alias("pair"),
    )
    return pairs.groupBy("pair").agg(
        F.sum("freq").alias("total"),
        F.countDistinct("w").alias("n_words"),
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ["spark", "query", "stream"]


def _bm25_doc_term_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, s): the unrounded per-(doc, term) BM25
    contribution for the fixed query terms — shared by bm25_topk (sums
    it) and wand_bounds (also maxes it per term).

    Plan shape: tf rows for the 3 query terms (filter pushes into the
    bow aggregate), df and the 1-row (N, avgdl) aggregate broadcast;
    the only at-scale shuffle is the per-doc length aggregate joined on
    doc_id. Constants are decimal literals mirrored exactly in the
    oracle SQL so both engines fold the same doubles.

    tf_ and dl are persisted: each feeds a broadcast aggregate (df_ /
    stats) AND the scored join, and a broadcast build cannot reuse the
    other consumer's pipeline — unpersisted, the corpus tokenize ran
    twice for each (the ann_candidate_volume lesson). Query-term /
    |docs| bounded; released by the session-level cache reset."""
    tf_ = bow(spark, sf_dir).where(F.col("term").isin(BM25_QUERY_TERMS)).persist()
    df_ = tf_.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = (
        _doc_tokens(spark, sf_dir, distinct=False)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("double").alias("dl"))
        .persist()
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    return (
        tf_.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
        )
        .select(
            "doc_id",
            "term",
            (
                F.col("idf")
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 docs by Okapi BM25 for a fixed query token set — the
    ranking function actually used by the retrieval stacks the
    reference's index experiments feed
    (experiments/.../WikiRevIndex4NonTemporalSearch.java builds the
    index; this is the scorer on top). idf is the Lucene-style
    ln((N-df+0.5)/(df+0.5)+1) ≥ 0 form; length normalization uses the
    corpus-average token count. Plan shape: see
    _bm25_doc_term_scores."""
    scored = (
        _bm25_doc_term_scores(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 6).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.col("doc_id")).limit(10)


def wand_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-score / WAND pruning audit (Broder et al. 2003; Ding & Suel
    2011 block-max variant): per candidate document of the fixed BM25
    query, the term-upper-bound score ceiling Σ_t∈doc max_d s(d,t),
    the true BM25 score, and whether a top-10 engine could have skipped
    the document entirely because its ceiling is below the 10th-best
    score θ. The skippable fraction is the number that justifies
    ordering postings by impact at 100 TB: a WAND cursor never fully
    scores those documents.

    Plan shape: reuses _bm25_doc_term_scores (one doc_id shuffle); the
    per-term upper bounds are a ≤|query|-row broadcast; θ is a 1-row
    broadcast from the bm25_topk aggregate. No new at-scale shuffles.

    Determinism: s is the identical double expression in both engines;
    ub_sum/score/θ round(…, 6) before the comparison so the skippable
    boolean can't sit on an unrounded knife edge."""
    s = _bm25_doc_term_scores(spark, sf_dir)
    ub = s.groupBy("term").agg(F.max("s").alias("ub"))
    theta = bm25_topk(spark, sf_dir).agg(F.min("score").alias("theta"))
    per_doc = (
        s.join(F.broadcast(ub), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.round(F.sum("ub"), 6).alias("ub_sum"),
            F.round(F.sum("s"), 6).alias("score"),
        )
    )
    return per_doc.crossJoin(F.broadcast(theta)).select(
        "doc_id",
        "n_terms",
        "ub_sum",
        "score",
        (F.col("ub_sum") < F.col("theta")).alias("skippable"),
    )


def doc_vectors_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-gap encoding + VByte AND PFor size accounting for the doc
    vectors — the compression arithmetic of the reference's coded
    vectors (mapreduce/BuildPForDocVectors.java,
    BuildVByteDocVectors.java) made explicit: sorted term-ids become
    first-difference gaps, each gap is costed at its 7-bit varint width
    (VByte), and the same gaps are costed under patched
    frame-of-reference (NewPFD-style: bit width b = the width of the
    90th-percentile gap, values wider than b are exceptions patched at
    4 bytes each, plus a 4-byte block header) — so BOTH reference
    codecs' compression ratios are queryable numbers. doc_vectors
    stores the ids and "leaves compression to the storage layer"; this
    operator IS that layer's math.

    Plan: identical shuffle profile to doc_vectors (broadcast dictionary
    join + one doc_id agg); the gap/varint/bit-width arithmetic is
    entirely array-side per row (integer-exact: widths via bin-string
    length, the percentile index via integer DIV) — zero extra
    shuffles, zero Python."""
    pairs = _doc_tokens(spark, sf_dir, distinct=True).select(
        "doc_id", F.col("anchor").alias("term")
    )
    dic = dictionary(spark, sf_dir).select("term", "term_id")
    vec = (
        pairs.join(F.broadcast(dic), "term")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("term_id")).alias("v"))
    )
    prev = F.concat(
        F.array(F.lit(0).cast("long")), F.slice("v", 1, F.size("v") - 1)
    )
    gaps = F.zip_with("v", prev, lambda a, b: a - b)
    vbyte = F.aggregate(
        "gaps",
        F.lit(0).cast("long"),
        lambda acc, g: acc
        + F.when(g < 128, F.lit(1))
        .when(g < 16384, F.lit(2))
        .when(g < 2097152, F.lit(3))
        .otherwise(F.lit(4)),
    )
    return (
        vec.withColumn("gaps", gaps)
        .withColumn(
            # per-gap bit widths, sorted: width(g) = len(bin(g)) exactly
            "widths",
            F.array_sort(
                F.transform("gaps", lambda g: F.length(F.bin(g)).cast("long"))
            ),
        )
        .withColumn(
            # NewPFD frame width: the 90th-percentile gap's bit width,
            # 1-based index ceil(0.9 n) = (9n + 9) DIV 10, integer-exact
            "pfor_width",
            F.element_at(
                "widths", F.expr("CAST((size(v) * 9 + 9) DIV 10 AS INT)")
            ),
        )
        .withColumn(
            "pfor_exceptions",
            F.size(
                F.filter("widths", lambda w: w > F.col("pfor_width"))
            ).cast("long"),
        )
        .select(
            "doc_id",
            F.size("v").cast("long").alias("n_terms"),
            F.array_join(
                F.transform("gaps", lambda g: g.cast("string")), ","
            ).alias("gaps"),
            vbyte.alias("vbyte_bytes"),
            (F.size("v") * 4).cast("long").alias("raw_bytes"),
            "pfor_width",
            "pfor_exceptions",
            # n slots of b bits (exceptions keep their low-b-bit slot),
            # 4-byte patch per exception, 4-byte block header
            F.expr(
                "CAST((size(v) * pfor_width + 7) DIV 8"
                " + 4 * pfor_exceptions + 4 AS BIGINT)"
            ).alias("pfor_bytes"),
        )
        .withColumn(
            "ratio", F.round(F.col("vbyte_bytes") / F.col("raw_bytes"), 6)
        )
        .withColumn(
            "pfor_ratio",
            F.round(F.col("pfor_bytes") / F.col("raw_bytes"), 6),
        )
    )


def _token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, pos) token stream with 1-based token positions —
    the positional counterpart of anchors._doc_tokens. posexplode keeps
    the position computation entirely map-side (no window, no shuffle);
    empty tokens are dropped AFTER positioning so adjacency (pos+1)
    reflects the original token slots."""
    from hedera_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "term"),
        )
        .where(F.col("term") != "")
        .select("doc_id", "term", (F.col("pos0") + 1).cast("long").alias("pos"))
    )


def positional_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index: (term, doc_id) → occurrence count +
    sorted comma-joined 1-based positions — the index structure phrase
    and proximity queries run on. Reference: experiments/.../
    InvertedIndexByBOW.java extended with in-document offsets (the
    reference's BOW reader keeps offsets in RevisionBOW.java; its index
    discards them — this keeps both).

    Scale: one map-side posexplode + one partial-aggregated shuffle on
    (term, doc_id); positions-per-posting is bounded by document length,
    so no posting-list hot key beyond what the plain inverted index
    already has. collect_list order is shuffle-dependent — array_sort
    before the join makes the surface deterministic."""
    return (
        _token_positions(spark, sf_dir)
        .groupBy("term", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("pos")),
                    lambda p: p.cast("string"),
                ),
                ",",
            ).alias("positions"),
        )
    )


# literal two-word phrases resolved by the positional join; chosen from
# the synthetic corpus vocabulary so every phrase has hits at all SFs
PHRASE_QUERIES = [("hash", "join"), ("table", "scan"), ("batch", "batch")]


def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over the positional token stream: for each
    query phrase (w1 w2), the documents containing the words ADJACENTLY
    (pos2 = pos1 + 1) and the occurrence count — the classic two-term
    positional-index merge. Reference: the retrieval family
    (experiments/.../WikiRevIndex4NonTemporalSearch.java) over the
    positional structure above.

    Scale: the token stream is first cut to the phrase vocabulary (a
    broadcast isin over a handful of literals — map-side, prunes ~|V|/k
    of the corpus before any exchange), then one equality join on
    (doc_id, term, pos+1). Catalyst extracts pos+1 as an equi-join key,
    so this is a shuffled hash/sort-merge join, never a nested loop."""
    words = sorted({w for p in PHRASE_QUERIES for w in p})
    tp = _token_positions(spark, sf_dir).where(F.col("term").isin(words))
    phrases = spark.createDataFrame(
        [(w1, w2, f"{w1} {w2}") for w1, w2 in PHRASE_QUERIES],
        "w1 string, w2 string, phrase string",
    )
    t1 = tp.select("doc_id", F.col("term").alias("w1"), F.col("pos").alias("p1"))
    t2 = tp.select(
        F.col("doc_id").alias("doc_r"),
        F.col("term").alias("w2_r"),
        F.col("pos").alias("p2"),
    )
    return (
        t1.join(F.broadcast(phrases), "w1")
        .join(
            t2,
            (F.col("doc_id") == F.col("doc_r"))
            & (F.col("w2_r") == F.col("w2"))
            & (F.col("p2") == F.col("p1") + 1),
        )
        .groupBy("phrase", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


ROCCHIO_TOPK = 20


def rocchio_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio): take the
    BM25 top-10 for the fixed query as the relevant set, aggregate term
    frequencies across it, drop the original query terms, and emit the
    top-20 expansion candidates by relevant-set tf (ties
    lexicographic). The classic second pass of the retrieval stack over
    the same index (experiments/.../WikiRevIndex4NonTemporalSearch.java
    feeds exactly this loop). Weights stay EXACT integers (Σtf and df
    within the relevant set) so the ranking is bit-reproducible.

    Scale: the relevant set is 10 rows — broadcast; the expansion agg
    runs on the bow rows of ten documents (a sliver), and the final
    cut is a TakeOrdered LIMIT, never a vocab sort."""
    rel = bm25_topk(spark, sf_dir).select("doc_id")
    terms = (
        bow(spark, sf_dir)
        .join(F.broadcast(rel), "doc_id")
        .where(~F.col("term").isin(BM25_QUERY_TERMS))
        .groupBy("term")
        .agg(
            F.sum("tf").alias("rel_tf"),
            F.count(F.lit(1)).alias("rel_df"),
        )
    )
    return terms.orderBy(F.desc("rel_tf"), "term").limit(ROCCHIO_TOPK)


SPARSE_QUERY_MOD = 25
SPARSE_TOPK = 3
SPARSE_SCALE = 1_000_000


def sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse tf-idf cosine top-3 neighbors for the query-doc subset
    (doc_id % 25 == 0) via the term-partitioned inverted-index join —
    the pre-embedding document-similarity search (the IR-side companion
    to ann_topk, over the index of InvertedIndexByBOW.java): two docs
    meet ONLY on the terms they share, so the join is keyed on term and
    the work scales with posting-list sizes, not |docs|².

    Determinism: tf-idf weights are quantized to integer micro-units,
    so every dot product is an EXACT integer sum (Σ w_a·w_b over shared
    terms survives any shuffle order); norms are sqrt of exact integer
    Σw², and the final cosine is one rounded division.

    Scale: weight computation rides the bow agg; the query side is
    |docs|/25 and filtered map-side before the term join; per-term
    fan-out is |q postings(t)| × |postings(t)| — on a natural-language
    vocabulary the posting lists are Zipf-bounded and hot stop-terms
    carry near-zero idf weight (and can be df-capped exactly like the
    co-occurrence family if needed). Top-3 is a per-query window over
    the pair scores."""
    # persisted: three consumers (the n_docs and df broadcast aggregates
    # below plus the weighted-postings pipeline) otherwise re-run the
    # corpus bow three times — broadcast builds cannot share a subtree
    # (the ann_candidate_volume lesson). |doc x term| rows, released by
    # the session cache reset.
    tf_ = bow(spark, sf_dir).persist()
    # |docs| as a 1-row broadcast aggregate (bm25's stats pattern) — no
    # driver-side count action in the plan-build path
    stats = tf_.select("doc_id").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    df_ = tf_.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tf_.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            F.expr(
                f"CAST(round(tf * ln(n_docs / CAST(df AS DOUBLE))"
                f" * {SPARSE_SCALE}) AS BIGINT)"
            ).alias("w"),
        )
        .where(F.col("w") != 0)
        # four downstream references (norms ×2, query side, corpus side):
        # persist so the bow + idf subtree is computed once, not four
        # times; the weights are corpus-scale, so they are cached lazily
        # with the query rather than materialized while it is built
        .persist()
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nrm")
    )
    q = w.where(F.col("doc_id") % SPARSE_QUERY_MOD == 0).select(
        F.col("doc_id").alias("q_id"), "term", F.col("w").alias("qw")
    )
    dots = (
        q.join(w, "term")
        .where(F.col("doc_id") != F.col("q_id"))
        .groupBy("q_id", F.col("doc_id").alias("neighbor_id"))
        .agg(F.sum(F.col("qw") * F.col("w")).alias("dot"))
    )
    scored = (
        dots.join(
            norms.select(F.col("doc_id").alias("q_id"), F.col("nrm").alias("q_nrm")),
            "q_id",
        )
        .join(
            norms.select(F.col("doc_id").alias("neighbor_id"), "nrm"),
            "neighbor_id",
        )
        .select(
            "q_id",
            "neighbor_id",
            F.round(
                F.col("dot").cast("double") / (F.col("q_nrm") * F.col("nrm")), 6
            ).alias("cos"),
        )
    )
    win = Window.partitionBy("q_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(win).cast("long"))
        .where(F.col("rk") <= SPARSE_TOPK)
    )


QL_MU = 50.0  # Dirichlet smoothing mass (corpus docs are short)


def ql_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 docs by Dirichlet-smoothed query likelihood for the same
    fixed query as bm25_topk — the other classic retrieval model
    (Zhai & Lafferty 2001): score(d) = Σ_q ln((tf + μ·cf_q/|C|)/(dl+μ)).
    Unlike BM25, a doc missing a query term still contributes the
    smoothed background probability, so the sum runs over ALL docs ×
    query terms (left join on tf, zero-filled).

    Plan shape: the 3-row (term, cf) table and the 1-row corpus-size
    aggregate broadcast; docs×3 rows come from a broadcast cross join
    onto the per-doc length aggregate; tf left-joins on (doc_id, term).
    Shuffles: the dl aggregate and the tf join — same shape as
    bm25_topk. dl/tf/cf are integers carried in doubles (exact at any
    partition order); the ln() runs on identical doubles both engines."""
    tf_ = bow(spark, sf_dir).where(F.col("term").isin(BM25_QUERY_TERMS))
    toks = _doc_tokens(spark, sf_dir, distinct=False)
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("double").alias("dl"))
    cf = (
        toks.where(F.col("anchor").isin(BM25_QUERY_TERMS))
        .groupBy(F.col("anchor").alias("term"))
        .agg(F.count(F.lit(1)).cast("double").alias("cf"))
    )
    c_tot = toks.agg(F.count(F.lit(1)).cast("double").alias("c"))
    scored = (
        dl.crossJoin(F.broadcast(cf))
        .crossJoin(F.broadcast(c_tot))
        .join(tf_, ["doc_id", "term"], "left")
        .select(
            "doc_id",
            F.log(
                (
                    F.coalesce(F.col("tf"), F.lit(0)).cast("double")
                    + F.lit(QL_MU) * F.col("cf") / F.col("c")
                )
                / (F.col("dl") + F.lit(QL_MU))
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 6).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.col("doc_id")).limit(10)


def retrieval_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much the two retrieval models agree: BM25 (bm25_topk) vs
    Dirichlet query likelihood (ql_topk) on the same fixed query —
    overlap of the two top-10 doc sets, Jaccard, and the Spearman
    footrule (sum of |rank difference|) over the common docs. The dial
    that says whether the cheap scorer can substitute for the expensive
    one before anyone swaps rankers in a pipeline.

    Plan shape: both inputs are 10-row frames (their own plans are the
    scale story, audited separately); ranking, the full outer join, and
    the 1-row aggregate are all negligible. The one global window runs
    over exactly 10 rows."""
    wb = Window.orderBy(F.desc("score"), "doc_id")
    b = bm25_topk(spark, sf_dir).select(
        "doc_id", F.row_number().over(wb).alias("rank_bm25")
    )
    q = ql_topk(spark, sf_dir).select(
        "doc_id", F.row_number().over(wb).alias("rank_ql")
    )
    both = F.col("rank_bm25").isNotNull() & F.col("rank_ql").isNotNull()
    j = b.join(q, "doc_id", "full")
    return j.agg(
        F.sum(F.when(both, 1).otherwise(0)).alias("n_overlap"),
        F.round(
            F.sum(F.when(both, 1).otherwise(0))
            / (F.count(F.lit(1)) * F.lit(1.0)),
            6,
        ).alias("jaccard"),
        F.coalesce(
            F.sum(
                F.when(both, F.abs(F.col("rank_bm25") - F.col("rank_ql")))
            ),
            F.lit(0),
        ).alias("footrule"),
    )


def term_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term occurrence-dispersion entropy: H(doc | term) over the
    term's tf distribution across documents, with the normalized form
    H/ln(df) in [0, 1] — IDF's forgotten complement (df says how many
    docs a term touches; entropy says whether its mass is spread or
    concentrated in one of them — a burstiness / keyword-ness signal
    the quality and retrieval stacks both read). min-df 2, like
    term_stats.

    Exactness at any partition order: each (term, doc) row contributes
    CAST(round(tf * ln(tf) * 1e6)) — an exact integer micro-unit — so
    the per-term sum is an integer sum; H = ln(total) - S/1e6/total is
    one deterministic double expression at the end (the embedding_pca
    micro-unit discipline).

    Plan: one aggregate over bow's (term, doc) rows — identical shuffle
    profile to term_stats."""
    return (
        bow(spark, sf_dir)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
            F.sum(
                F.expr("CAST(round(tf * ln(tf) * 1e6) AS BIGINT)")
            ).alias("s_micro"),
        )
        .where(F.col("df") >= 2)
        .select(
            "term",
            "df",
            "cf",
            F.round(
                F.log("cf") - F.col("s_micro") / 1e6 / F.col("cf"), 6
            ).alias("entropy"),
            F.round(
                (F.log("cf") - F.col("s_micro") / 1e6 / F.col("cf"))
                / F.log("df"),
                6,
            ).alias("norm_entropy"),
        )
    )


RARE_DF_DENOM = 10  # rare token: df <= corpus_docs / 10


def rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc rare-token mass: fraction of a document's tokens whose
    document frequency is at or below 1/10 of the corpus — the
    OOV-/gibberish-detector every LLM cleaning stack runs (a doc made
    of tokens nothing else uses is boilerplate noise, markup soup, or
    another language). The threshold is corpus-RELATIVE so the operator
    is meaningful at any scale.

    Plan: df is one vocab-bounded aggregate joined back onto bow's
    (doc, term) rows by term (Catalyst picks broadcast vs shuffle-hash
    by vocab size); the corpus size is a 1-row broadcast; the per-doc
    roll-up is one doc_id aggregate. Exact integer counts, one rounded
    ratio."""
    b = bow(spark, sf_dir)
    from hedera_spark.sources.tables import load_table

    n_docs = (
        load_table(spark, sf_dir, "documents")
        .agg(F.count(F.lit(1)).alias("n_corpus"))
    )
    df_t = b.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        b.join(df_t, "term")
        .join(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(
                F.when(
                    F.col("df") * RARE_DF_DENOM <= F.col("n_corpus"),
                    F.col("tf"),
                ).otherwise(0)
            ).alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_rare",
            F.round(F.col("n_rare") / F.col("n_tokens"), 6).alias("rare_ratio"),
        )
    )


CHAMPION_R = 5


def champion_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Champion lists (Manning et al., IR ch. 7): per term, the top-R
    docs by tf as a precomputed 'docid:tf' posting prefix — the
    index-time pruning structure a ranked-retrieval engine consults
    before touching the full postings (inverted_index stores them all;
    this is the short list that answers most queries). Deterministic
    tie-break: tf desc, then doc_id.

    Plan: one term-keyed window ranks postings and the champions
    aggregate reuses the same partitioning; df comes from the plain
    term aggregate — two shuffles on the same key, both bounded by the
    posting count."""
    b = bow(spark, sf_dir)
    stats = b.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("term").orderBy(F.desc("tf"), "doc_id")
    champs = (
        b.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= CHAMPION_R)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rk", "doc_id", "tf"))
                    ),
                    lambda s: F.concat_ws(
                        ":", s["doc_id"].cast("string"), s["tf"].cast("string")
                    ),
                ),
                ",",
            ).alias("champions")
        )
    )
    return stats.join(champs, "term")


def retrieval_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced interleaving of the BM25 and query-likelihood top-10
    lists (Joachims 2002's evaluation setup, deterministic variant):
    BM25's rank-r doc takes provisional slot 2r−1, QL's takes 2r, a doc
    appearing in both keeps its EARLIEST slot credited to that team
    (BM25 on equal rank, matching the odd-slots-first convention), and
    slots are re-numbered densely — the single list you'd actually
    serve to users to A/B the two rankers with click attribution.

    Plan: two 10-row inputs, one ≤20-row union + min-slot dedup + one
    global window over ≤20 rows. The audited BM25/QL plans are the
    scale story; the interleave is negligible."""
    b = bm25_topk(spark, sf_dir)
    q = ql_topk(spark, sf_dir)
    wb = Window.orderBy(F.desc("score"), "doc_id")
    slots = (
        b.select(
            "doc_id",
            (F.row_number().over(wb) * 2 - 1).alias("slot"),
            F.lit("bm25").alias("team"),
        )
        .unionByName(
            q.select(
                "doc_id",
                (F.row_number().over(wb) * 2).alias("slot"),
                F.lit("ql").alias("team"),
            )
        )
    )
    first = (
        slots.groupBy("doc_id")
        .agg(
            F.min_by("slot", "slot").alias("slot"),
            F.min_by("team", "slot").alias("team"),
        )
    )
    return first.select(
        F.row_number().over(Window.orderBy("slot")).cast("long").alias("pos"),
        "doc_id",
        "team",
    )


def retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the query-likelihood ranking scored against BM25 as
    graded truth (rel = 11 − bm25_rank, 0 for docs outside BM25's
    top-10) — the rank-weighted companion to retrieval_agreement's
    set-overlap dial: overlap says WHETHER the cheap ranker finds the
    same docs, NDCG says whether it puts them in the right ORDER.
    IDCG is computed from the BM25 list itself (rel is strictly
    decreasing, so BM25's own order IS the ideal ordering).

    Determinism: ranks and rels are exact integers; each DCG term is
    rel/(ln(rank+1)/ln 2) on identical integer inputs, and the two sums
    run over ≤10 terms before one rounded division.

    Plan: two audited top-10 rankings (bm25_topk / ql_topk carry the
    corpus-stat broadcasts), then ≤10-row joins and one 1-row
    aggregate — the ranking plans are the scale story."""
    b = bm25_topk(spark, sf_dir)
    q = ql_topk(spark, sf_dir)
    wb = Window.orderBy(F.desc("score"), "doc_id")
    brel = b.select(
        "doc_id",
        (11 - F.row_number().over(wb)).cast("long").alias("rel"),
        F.row_number().over(wb).cast("long").alias("b_rank"),
    )
    qrank = q.select(
        "doc_id", F.row_number().over(wb).cast("long").alias("q_rank")
    )
    log2 = lambda c: F.log(c.cast("double")) / F.log(F.lit(2.0))  # noqa: E731
    dcg_rows = qrank.join(brel, "doc_id", "left")
    dcg = dcg_rows.agg(
        F.sum(F.when(F.col("rel").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_overlap"),
        F.sum(
            F.coalesce(F.col("rel"), F.lit(0)) / log2(F.col("q_rank") + 1)
        ).alias("dcg_raw"),
    )
    idcg = brel.agg(
        F.sum(F.col("rel") / log2(F.col("b_rank") + 1)).alias("idcg_raw")
    )
    return dcg.join(idcg).select(
        "n_overlap",
        F.round("dcg_raw", 6).alias("dcg"),
        F.round("idcg_raw", 6).alias("idcg"),
        F.round(F.col("dcg_raw") / F.col("idcg_raw"), 6).alias("ndcg"),
    )


SPELL_QUERIES = ["windwo", "qurey", "spakr", "grupo", "vectr", "parttion"]
SPELL_VOCAB_MIN_DF = 5
SPELL_MAX_DIST = 2
SPELL_TOP_K = 3


def spell_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did-you-mean spelling correction against the collection
    vocabulary (Manning IIR §3.3): for each misspelled query token in
    the fixed SPELL_QUERIES set (the bm25_topk fixed-query convention),
    the top-3 vocabulary candidates within Levenshtein distance 2,
    ranked by document frequency — isolated-term correction backed by
    the corpus itself, no external dictionary.

    Candidate generation is BLOCKED, never all-pairs: a candidate must
    share the query's first character and be within ±1 in length (the
    classic first-char assumption), so the join is an equality join on
    the (first_char, length) block key over the df-filtered vocabulary.
    Levenshtein is an integer DP — bit-identical across engines.

    Scale: vocabulary df is one |V|-bounded agg; the query set is a
    tiny broadcast; the block join fans out to |queries| × (vocab in
    matching blocks)."""
    from hedera_spark.operators.anchors import _doc_tokens

    toks = _doc_tokens(spark, sf_dir, distinct=True)
    vocab = (
        toks.groupBy(F.col("anchor").alias("candidate"))
        .agg(F.count(F.lit(1)).alias("cand_df"))
        .where(F.col("cand_df") >= SPELL_VOCAB_MIN_DF)
        .select(
            "candidate",
            "cand_df",
            F.substring("candidate", 1, 1).alias("c0"),
            F.length("candidate").alias("clen"),
        )
    )
    queries = (
        spark.createDataFrame([(q,) for q in SPELL_QUERIES], "token string")
        .select(
            "token",
            F.substring("token", 1, 1).alias("c0"),
            F.explode(
                F.sequence(F.length("token") - 1, F.length("token") + 1)
            ).alias("clen"),
        )
    )
    cand = (
        vocab.join(F.broadcast(queries), ["c0", "clen"])
        .where(F.col("candidate") != F.col("token"))
        .select(
            "token",
            "candidate",
            F.levenshtein("token", "candidate").cast("long").alias("dist"),
            "cand_df",
        )
        .where(F.col("dist") <= SPELL_MAX_DIST)
    )
    w = Window.partitionBy("token").orderBy(
        "dist", F.desc("cand_df"), "candidate"
    )
    return (
        cand.select(
            "*", F.row_number().over(w).cast("long").alias("rnk")
        )
        .where(F.col("rnk") <= SPELL_TOP_K)
    )


BM25_SWEEP = [(1.2, 0.75), (0.9, 0.4), (2.0, 0.75), (1.2, 0.0)]


def bm25_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1, b) tuning sweep: the fixed query's top-10 ranking under
    four parameter configs — the grid a retrieval stack is tuned over
    (k1 = tf saturation, b = length-normalization strength; (1.2, 0.75)
    is bm25_topk's default, b=0 disables normalization entirely).

    Exactness: the config table is cross-joined as exact literals, so
    both engines fold the identical double chain per (doc, config); the
    tf/df/dl/stats inputs are computed ONCE and shared across configs
    (the sweep multiplies only the scoring expression, not the scan).

    Plan shape: bm25_topk's plan with a 4-row broadcast config table
    riding the scored frame; per-config ranking is a window over ≤4×|
    matched docs| rows. tf_/dl persisted for the same broadcast-build
    double-compute reason as _bm25_doc_term_scores."""
    tf_ = bow(spark, sf_dir).where(F.col("term").isin(BM25_QUERY_TERMS)).persist()
    df_ = tf_.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = (
        _doc_tokens(spark, sf_dir, distinct=False)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("double").alias("dl"))
        .persist()
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    configs = spark.createDataFrame(BM25_SWEEP, "k1 double, b double")
    scored = (
        tf_.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(configs))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            "s",
            F.col("idf")
            * (F.col("tf") * (F.col("k1") + 1))
            / (
                F.col("tf")
                + F.col("k1")
                * ((1 - F.col("b")) + F.col("b") * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("k1", "b", "doc_id")
        .agg(F.round(F.sum("s"), 6).alias("score"))
    )
    w = Window.partitionBy("k1", "b").orderBy(F.desc("score"), "doc_id")
    return (
        scored.select(
            "k1", "b", F.row_number().over(w).cast("long").alias("pos"),
            "doc_id", "score"
        )
        .where(F.col("pos") <= 10)
    )


AUTOCOMPLETE_PREFIX_LEN = 3
AUTOCOMPLETE_MIN_FREQ = 5
AUTOCOMPLETE_TOP_K = 3


def autocomplete_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-ahead completion table: for every 3-character prefix in the
    corpus vocabulary, the top-3 completions by occurrence frequency —
    the precomputed structure behind a search box (spell_candidates
    fixes typos; this finishes correct prefixes).

    Exactness: integer frequencies; (freq DESC, token) total tie-break.

    Scale: one |vocab|-bounded frequency agg, one prefix-keyed window
    over the vocab (≤ |alphabet|³ groups) — the corpus is touched
    once."""
    from hedera_spark.operators.anchors import _doc_tokens

    freq = (
        _doc_tokens(spark, sf_dir, distinct=False)
        .groupBy(F.col("anchor").alias("token"))
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(
            (F.length("token") >= AUTOCOMPLETE_PREFIX_LEN)
            & (F.col("freq") >= AUTOCOMPLETE_MIN_FREQ)
        )
        .withColumn(
            "prefix", F.substring("token", 1, AUTOCOMPLETE_PREFIX_LEN)
        )
    )
    w = Window.partitionBy("prefix").orderBy(F.desc("freq"), "token")
    return (
        freq.select(
            "prefix", "token", "freq",
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .where(F.col("rnk") <= AUTOCOMPLETE_TOP_K)
    )


RRF_K = 60


def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of the
    BM25 and query-likelihood top-10 lists: score(d) = Σ_sys
    1/(RRF_K + rank_sys(d)) over the systems that retrieved d — the
    production-standard way to combine lexical rankers (and, in a real
    corpus, lexical + vector) WITHOUT comparing their incommensurable
    scores. Completes the fusion trio next to retrieval_interleave
    (serving-time A/B) and retrieval_ndcg (offline order agreement).

    Determinism: ranks are exact integers; each term 1/(60+r) and the
    ≤ 2-term sum are identical doubles cross-engine; one final round(6).
    With k=60 and 10-deep lists, ANY doc in both lists (≥ 2/70) beats
    any doc in one list (≤ 1/61) — the property test pins this.

    Plan: two 10-row ranked inputs full-outer-joined on doc_id — the
    audited bm25_topk / ql_topk plans are the scale story, the fusion
    itself touches ≤ 20 rows."""
    wb = Window.orderBy(F.desc("score"), "doc_id")
    b = bm25_topk(spark, sf_dir).select(
        "doc_id", F.row_number().over(wb).alias("r_bm25")
    )
    q = ql_topk(spark, sf_dir).select(
        "doc_id", F.row_number().over(wb).alias("r_ql")
    )
    fused = b.join(q, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r_bm25")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r_ql")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
        (
            F.col("r_bm25").isNotNull().cast("long")
            + F.col("r_ql").isNotNull().cast("long")
        ).alias("n_systems"),
    )
    return fused.orderBy(F.desc("rrf_score"), "doc_id").limit(10)

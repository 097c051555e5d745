"""Group G.5 — corpus-level cleaning / accounting operators beyond the
per-document gates (SURVEY.md §2.G): repeated-segment (line) removal,
exact-substring duplicate pairs, vocabulary-growth accounting, tokenizer
fertility.

Motivated by the reference's corpus hygiene passes (the dedup/merge
steps of pig/preprocess — sortRevisions.pig, checkRevisions.pig — clean
the revision stream before analytics) re-expressed as the corpus-level
cleaning a large-scale LLM training pipeline runs: MassiveText-style
repeated-line removal, Lee-et-al-style exact substring dedup, Heaps-law
vocabulary accounting, tokenizer-fit measurement.

All pure `pyspark.sql.functions` compositions — zero Python in the row
path. Scale notes per operator docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hedera_spark.functions.ngrams import ngram_sql
from hedera_spark.sources.tables import load_table

LINE_TOKENS = 8  # tokens per synthetic "line" segment (corpus has no \n)
LINE_DF_CAP = 5  # segments appearing in more than this many docs are boilerplate


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.filter(F.split("text", " "), lambda t: t != "").alias("toks")
    ).where(F.size("toks") > 0)


def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MassiveText/C4-style repeated-line removal at corpus granularity:
    segment every document into fixed LINE_TOKENS-token "lines" (the
    test corpus has no newlines, so segment boundaries stand in for
    them), count each distinct segment's document frequency across the
    corpus, and strip segments appearing in more than LINE_DF_CAP
    documents — boilerplate (navigation chrome, license headers, cookie
    banners) repeats across pages while body text does not.

    Output per doc: segment count, removed-segment count, and the
    reassembled text with boilerplate segments deleted (original
    segment order preserved).

    Plan shape (100 TB): the segment df aggregate shrinks map-side to
    the distinct-segment universe; the boilerplate set (df > cap) is
    small by construction and collapsed to a one-row array that is
    BROADCAST, so the removal flag is map-side. Reassembly is one
    groupBy doc_id over narrow (seg_id, seg) rows — a single shuffle of
    the corpus, same cost class as any per-doc rebuild. No window, no
    self-join.

    Reference: the merge/clean passes of pig/preprocess/sortRevisions.pig
    (stream hygiene before analytics), lifted to segment granularity.
    """
    segs = (
        _doc_tokens(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.floor((F.size("toks") - 1) / LINE_TOKENS).cast("int"),
                    ),
                    lambda i: F.struct(
                        i.cast("long").alias("seg_id"),
                        F.concat_ws(
                            " ", F.slice("toks", i * LINE_TOKENS + 1, LINE_TOKENS)
                        ).alias("seg"),
                    ),
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.seg_id").alias("seg_id"), F.col("s.seg").alias("seg"))
        .persist()
    )
    hot_row = (
        segs.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") > LINE_DF_CAP)
        .agg(F.collect_set("seg").alias("hot"))
    )
    flagged = segs.join(F.broadcast(hot_row)).select(
        "doc_id",
        "seg_id",
        "seg",
        F.coalesce(F.array_contains("hot", F.col("seg")), F.lit(False)).alias(
            "is_boiler"
        ),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("is_boiler").cast("long")).alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("is_boiler"),
                            F.struct(F.col("seg_id"), F.col("seg")),
                        )
                    )
                ),
                lambda s: s["seg"],
            ),
        ).alias("kept_text"),
    )


SUBSTR_TOKENS = 16  # verbatim-overlap window length (Lee et al. use 50 BPE toks)
SUBSTR_DF_CAP = 20  # windows in more than this many docs carry no pair signal


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate pairs (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): two documents are
    substring-duplicates when they share a verbatim run of at least
    SUBSTR_TOKENS tokens. Rolling SUBSTR_TOKENS-token windows are
    hashed per doc (distinct), a document-frequency cap drops
    boilerplate windows, and the surviving inverted index is self-joined
    to count shared windows per pair — `n_shared` = number of distinct
    common windows, a proxy for total duplicated span length.

    Plan shape (100 TB): candidate generation is the inverted-index
    join on window hashes — never all-pairs; the df cap bounds each
    hash's join fan-out to SUBSTR_DF_CAP² pairs, the same guarantee
    _jaccard_pairs documents for shingles. Windows travel as md5 hex
    (narrow) — the 16-token text never shuffles.
    """
    wins = (
        _doc_tokens(spark, sf_dir)
        .where(F.size("toks") >= SUBSTR_TOKENS)
        .selectExpr(
            "doc_id",
            f"explode({ngram_sql('toks', SUBSTR_TOKENS, distinct=True, hashed=True)})"
            " AS h",
        )
        .persist()
    )
    hot_row = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > SUBSTR_DF_CAP)
        .agg(F.collect_set("h").alias("hot"))
    )
    kept = (
        wins.join(F.broadcast(hot_row))
        .where(~F.coalesce(F.array_contains("hot", F.col("h")), F.lit(False)))
        .select("doc_id", "h")
    )
    a = kept.select(F.col("doc_id").alias("doc_a"), "h")
    b = kept.select(F.col("doc_id").alias("doc_b"), "h")
    return (
        a.join(b, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


VOCAB_BUCKET_DOCS = 100  # crawl-order bucket width for the growth curve


def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth accounting: walk the corpus in
    crawl order (doc_id) in VOCAB_BUCKET_DOCS-document buckets and
    report, per bucket, the token volume and the number of NEVER-SEEN-
    BEFORE terms, plus running totals — the curve that says whether a
    crawl is still contributing new vocabulary or re-crawling the same
    content (flattening curve → diminishing data value).

    Plan shape (100 TB): term first-occurrence is a |vocab|-bounded
    min-aggregate; per-bucket token volume is a partial-agg groupBy.
    The cumulative window runs over the BUCKET table only
    (corpus/VOCAB_BUCKET_DOCS rows — thousands, not billions), so the
    unpartitioned window is driver-trivial by construction, the same
    bounded-table argument dictionary() makes for its vocab sort.
    """
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
    )
    per_bucket = (
        toks.groupBy(
            F.floor(F.col("doc_id") / VOCAB_BUCKET_DOCS).cast("long").alias("bucket")
        )
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("bucket_tokens"),
        )
    )
    new_terms = (
        toks.groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(
            F.floor(F.col("first_doc") / VOCAB_BUCKET_DOCS)
            .cast("long")
            .alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_bucket.join(new_terms, "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            "bucket_tokens",
            F.coalesce("new_terms", F.lit(0)).cast("long").alias("new_terms"),
        )
        .withColumn("cum_tokens", F.sum("bucket_tokens").over(w).cast("long"))
        .withColumn("cum_vocab", F.sum("new_terms").over(w).cast("long"))
    )


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit accounting per language: regex-subword tokens per
    whitespace word (fertility — the multiplier a BPE-ish pre-tokenizer
    pays over word count) and characters per whitespace token. High
    fertility for a language means the tokenizer fragments it and its
    effective context window shrinks — the dashboard number multilingual
    data mixes are balanced against.

    Plan shape: token counts are row-local array sizes; one partial-agg
    groupBy on lang (5 groups). Map-only + trivial shuffle at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("ws"),
        F.size(F.expr(r"regexp_extract_all(text, '\\w+', 0)"))
        .cast("long")
        .alias("re"),
        F.length("text").cast("long").alias("chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws").alias("ws_tokens"),
        F.sum("re").alias("re_tokens"),
        F.round(F.sum("re") / F.sum("ws"), 6).alias("fertility"),
        F.round(F.sum("chars") / F.sum("ws"), 6).alias("chars_per_token"),
    )


# C4-style "bad words" gate (Raffel et al. 2020 release the list; here a
# fixed stand-in over the synthetic vocabulary so the gate provably
# fires: 'dup' occurs in ~26 docs at sf0.01, 'spam' never — exercising
# both the drop path and the zero-hit path). Matching is token-exact,
# lowercase, like the C4 filter.
BLOCKLIST = ["dup", "spam"]


def blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist cleaning gate — the C4 badwords filter shape: per doc,
    the number of distinct blocklisted terms present, total blocked
    occurrences, and the keep flag (C4 drops on ANY hit). Downstream
    selection anti-joins or thresholds on it, same consumption pattern
    as decontaminate.

    Map-only at any scale: the blocklist is a constant array; hits are
    counted array-side per row (one filter over the token array), no
    shuffle anywhere. The identical projection runs unchanged on a
    document stream (streaming/clean.stream_blocklist_gate)."""
    return _apply_blocklist(load_table(spark, sf_dir, "documents"))


def _apply_blocklist(docs: DataFrame) -> DataFrame:
    """The gate projection itself — shared by the batch operator and the
    streaming twin (stateless, so it is literally the same expression)."""
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
    blocked = F.filter(toks, lambda t: t.isin(*BLOCKLIST))
    return docs.select(
        "doc_id",
        F.size(F.array_distinct(blocked)).cast("long").alias("n_blocked_terms"),
        F.size(blocked).cast("long").alias("n_blocked_occurrences"),
        (F.size(blocked) == 0).alias("keep"),
    )


def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit over the vocabulary-growth curve: least-squares
    slope β and intercept ln K of ln(cum_vocab) against ln(cum_tokens)
    across the crawl-order buckets — V(n) ≈ K·n^β, natural corpora sit
    near β ≈ 0.5; a β collapsing toward 0 says the crawl has stopped
    contributing vocabulary (re-crawls/boilerplate), the numeric twin
    of eyeballing vocab_growth's flattening curve and the companion
    distribution dial to zipf_fit.

    Determinism: the curve points are exact integers with a total
    bucket order; the six regression moments fold in bucket order over
    the bounded bucket table, so both engines sum identical libm
    doubles in identical order (the zipf_fit discipline).

    Scale: composes vocab_growth (|vocab|-bounded min-agg + bucket
    partial agg); the regression runs over corpus/VOCAB_BUCKET_DOCS
    rows — thousands, never corpus-scale."""
    pts = vocab_growth(spark, sf_dir).select(
        "bucket",
        F.log(F.col("cum_tokens").cast("double")).alias("x"),
        F.log(F.col("cum_vocab").cast("double")).alias("y"),
    )

    def fold(col):
        return F.aggregate(
            F.sort_array(F.collect_list(F.struct("bucket", col.alias("v")))),
            F.lit(0.0).cast("double"),
            lambda acc, s: acc + s["v"],
        )

    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        fold(F.col("x")).alias("sx"),
        fold(F.col("y")).alias("sy"),
        fold(F.col("x") * F.col("y")).alias("sxy"),
        fold(F.col("x") * F.col("x")).alias("sxx"),
        fold(F.col("y") * F.col("y")).alias("syy"),
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
    return m.where(F.col("n") > 1).select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).alias("beta"),
        F.round(intercept, 6).alias("ln_k"),
        F.round(F.exp(intercept), 6).alias("k"),
        F.round((r_num / r_den) * (r_num / r_den), 6).alias("r2"),
    )


CDC_BOUNDARY_HEX = ("0", "8")  # last md5 hex char: P(boundary) = 2/16 = 1/8
CDC_MEAN_TOKENS = 8  # expected (geometric) chunk length implied by 1/8


def cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (LBFS/FastCDC family, Muthitacharoen
    et al. 2001): a token ENDS a chunk when the last hex char of its md5
    is in CDC_BOUNDARY_HEX, so chunk boundaries depend only on LOCAL
    content — an insertion early in a document shifts every fixed-width
    window (dedup_substring's scheme) but re-synchronizes CDC boundaries
    within ~one chunk, which is why dedup systems at scale chunk this
    way. Output: every chunk text occurring more than once corpus-wide,
    keyed by md5, with its document reach and occurrence count.

    Scale design (100 TB): the chunker is ONE map-side fold per document
    (aggregate over the token array building (done_chunks, current)) —
    the text column never shuffles and each token is emitted exactly
    once, vs dedup_substring's k-fold window amplification. The only
    shuffle is the final groupBy on chunk md5s; chunk payload size is
    geometrically bounded (mean CDC_MEAN_TOKENS tokens). The n_occ > 1
    cut happens inside the aggregate (HAVING), so singleton chunks —
    the overwhelming majority at scale — never leave the exchange."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.filter(F.split("text", " "), lambda t: t != "").alias("toks"))
        .where(F.size("toks") > 0)
    )
    bset = ", ".join(f"'{c}'" for c in CDC_BOUNDARY_HEX)
    chunks = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""
                aggregate(
                  toks,
                  struct(cast(array() as array<string>) AS done, '' AS cur),
                  (acc, t) -> CASE
                    WHEN substring(md5(t), 32, 1) IN ({bset}) THEN
                      struct(
                        array_append(acc.done,
                          CASE WHEN acc.cur = '' THEN t
                               ELSE concat(acc.cur, ' ', t) END) AS done,
                        '' AS cur)
                    ELSE
                      struct(acc.done AS done,
                        CASE WHEN acc.cur = '' THEN t
                             ELSE concat(acc.cur, ' ', t) END AS cur)
                  END,
                  acc -> CASE WHEN acc.cur = '' THEN acc.done
                              ELSE array_append(acc.done, acc.cur) END)
                """
            )
        ).alias("chunk"),
    )
    return (
        chunks.groupBy(F.md5("chunk").alias("chunk_hash"))
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
            F.min(F.size(F.split("chunk", " "))).cast("long").alias("chunk_tokens"),
        )
        .where(F.col("n_occ") > 1)
    )


BOILER_MIN_DF = 2  # a 1-doc source has no boilerplate, whatever the fraction
# a segment is boilerplate when present in > 1/BOILER_FRAC_DEN of the
# source's docs. Kept as an integer DENOMINATOR so the threshold compare
# is exact integer arithmetic (df * DEN > n_docs) in BOTH engines — a
# float fraction would pit Spark's double literal against DuckDB's
# DECIMAL literal at the integer boundaries.
BOILER_FRAC_DEN = 20


def boilerplate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE boilerplate audit (CCNet/RefinedWeb-style): site chrome
    — nav bars, cookie banners, license footers — repeats within a
    domain, not across the web, so the df threshold that finds it must
    be source-local, unlike line_dedup's corpus-global LINE_DF_CAP. A
    segment (same LINE_TOKENS tokenization as line_dedup) is boilerplate
    for its source when it appears in >= BOILER_MIN_DF docs AND more
    than 1/BOILER_FRAC_DEN of the source's documents. Output one audit row per
    source: doc count, distinct segments, flagged segments, flagged
    instances, the max per-segment df, and the instance-weighted
    boilerplate ratio — the number a crawl curator reads to decide which
    sources need a chrome-stripping pass before training.

    Scale (100 TB): segment stats aggregate map-side to the distinct
    (source, segment) universe; per-source doc counts are a
    |sources|-row frame BROADCAST into the stats join; the final fold is
    a |sources|-row groupBy. The text column never shuffles — only
    segments do, once. No window, no self-join.

    Reference: the merge/clean hygiene of pig/preprocess
    (sortRevisions.pig, checkRevisions.pig) scoped per source the way a
    crawl pipeline scopes chrome removal per domain.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.filter(F.split("text", " "), lambda t: t != "").alias("toks"),
        )
        .where(F.size("toks") > 0)
    )
    segs = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size("toks") - 1) / LINE_TOKENS).cast("int"),
                ),
                lambda i: F.concat_ws(
                    " ", F.slice("toks", i * LINE_TOKENS + 1, LINE_TOKENS)
                ),
            )
        ).alias("seg"),
    )
    seg_stats = segs.groupBy("source", "seg").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count(F.lit(1)).cast("long").alias("inst"),
    )
    src = docs.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    flagged = seg_stats.join(F.broadcast(src), "source").withColumn(
        "is_boiler",
        (F.col("df") >= BOILER_MIN_DF)
        & (F.col("df") * BOILER_FRAC_DEN > F.col("n_docs")),
    )
    boiler_inst = F.sum(F.when(F.col("is_boiler"), F.col("inst")).otherwise(F.lit(0)))
    return flagged.groupBy("source").agg(
        F.min("n_docs").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_segs"),
        F.sum(F.col("is_boiler").cast("long")).cast("long").alias("n_boiler_segs"),
        boiler_inst.cast("long").alias("boiler_instances"),
        F.max("df").cast("long").alias("max_df"),
        F.round(boiler_inst / F.sum("inst"), 6).alias("boiler_ratio"),
    )

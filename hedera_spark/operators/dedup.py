"""Group G.1 — deduplication operators (SURVEY.md §2.G).

These go beyond the reference surface: they are the dedup stage of a
large-scale training-data pipeline (BASELINE.json north star). All four
are pure DataFrame compositions — hashing (md5), shingling (slice over a
split array), MinHash (min over md5 keyed by seed), SimHash (bit votes) —
so the hot path is whole-stage codegen, never Python.

Scale design (100 TB):
- exact: one shuffle on the 128-bit content hash; partial agg bounds it.
- ngram-jaccard: candidate generation is an inverted-index join on
  shingles (pairs that share >= 1 shingle), never n^2; hot shingles are a
  skew risk at scale -> cut shingles with document frequency above a cap
  (stop-shingles carry no signal), AQE skew-join handles the rest.
- minhash-LSH: signatures are fixed-width (16 hashes); candidates come
  from equality joins on band hashes -- the classic O(candidates) not
  O(n^2) path. Band width tunes precision/recall, not cost shape.
- simhash: 60-bit fingerprint, candidates via 4x15-bit chunk blocking
  (pigeonhole guarantees recall for hamming<=3; near-misses above that
  trade recall for the equality-join cost shape).

Every operator is deterministic and oracle-checked: md5 is identical in
Spark and DuckDB, and min/fraction arithmetic is on strings/ints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hedera_spark.functions.ngrams import ngram_sql
from hedera_spark.functions.vectors import bits_sql
from hedera_spark.plans.broadcast import broadcast_if_fits, plan_bytes
from hedera_spark.sources.tables import load_table

N_MINHASH = 16
N_BANDS = 4
ROWS_PER_BAND = N_MINHASH // N_BANDS
JACCARD_THRESHOLD = 0.2
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4
HAMMING_MAX = 8
# the shingle set every near-dup operator compares: per-doc-distinct
# word trigrams of the hoisted `toks` column
_TRIGRAMS = ngram_sql("toks", 3, distinct=True)


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: every doc mapped to the surviving
    (minimum) doc_id of its hash group. One shuffle on md5(text)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("text_hash")
    return (
        docs.select("doc_id", F.md5("text").alias("text_hash"))
        .withColumn("survivor_id", F.min("doc_id").over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
        .withColumn(
            "is_dup", (F.col("doc_id") != F.col("survivor_id")).cast("int")
        )
    )


def _docs_rebalanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doc scan rebalanced to full parallelism before any shingle
    kernel: shingling+hashing is CPU-dense per doc, and a
    compact/compressed input (one parquet row group at bench scale; few
    fat splits at cluster scale) would otherwise pin it to a handful of
    cores. The rebalance is a narrow shuffle of raw docs, hashed on
    doc_id so signature groupBys downstream reuse the partitioning
    instead of adding their own exchange (verified: one Exchange in the
    sigs plan; 3.7x faster at sf0.1)."""
    return load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )


def _shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles) with shingles = the per-doc-distinct trigram
    array — for consumers that need row-local set operations on the
    whole array (e.g. the df-capped Jaccard)."""
    return (
        _docs_rebalanced(spark, sf_dir)
        .select("doc_id", F.split("text", " ").alias("toks"))
        .selectExpr("doc_id", f"{_TRIGRAMS} AS shingles")
    )


def shingles_from(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> distinct (doc_id, shingle) word-trigram
    shingles, exploded. Public so incremental dedup can shingle an
    arbitrary snapshot (operators/delta.dedup_incremental)."""
    return docs.select("doc_id", F.split("text", " ").alias("toks")).selectExpr(
        "doc_id", f"explode({_TRIGRAMS}) AS shingle"
    )


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shingles_from over the rebalanced document scan."""
    return shingles_from(_docs_rebalanced(spark, sf_dir))


NGRAM_DF_CAP = 50  # drop shingles appearing in more than this many documents
# Route bound for the hot-shingle cut in _pair_stats: up to this many
# hot shingles the per-row broadcast array_except is cheapest (no extra
# exchange); beyond it the per-row hash-set rebuild dominates the scan
# and the exploded cold-join route wins (see _pair_stats). Value-free:
# both routes produce identical rows.
HOT_SET_ARRAY_ROUTE_MAX = 1024
# Below this planner-estimated input size the route probe is skipped
# and the array route used unconditionally: on a corpus this small the
# array route's worst case is bounded by the input itself, and the
# probe's extra job would cost more than it can save (see _pair_stats).
HOT_ROUTE_PROBE_MIN_BYTES = 2 * 1024 * 1024


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard near-dup pairs (>= 0.2), candidates from
    an inverted-index join on shared shingles (never n^2)."""
    return _jaccard_pairs(_shingle_arrays(spark, sf_dir))


def _pair_stats(arrs: DataFrame, df_cap: int = NGRAM_DF_CAP) -> DataFrame:
    """(doc_a, doc_b, n_common, na, nb) pair statistics over a df-capped
    shingle universe — the shared candidate machinery for the Jaccard
    and containment scorers.

    `arrs` is a (doc_id, shingles) DataFrame of per-doc-DISTINCT shingle
    arrays. Shingles whose document frequency exceeds `df_cap` are
    dropped BEFORE the candidate self-join: one ubiquitous stop-shingle
    ("the end of") makes the inverted-index join quadratic in its df at
    web scale while carrying no near-dup signal. Both the candidate set
    and the Jaccard are defined over the capped universe (set sizes count
    only surviving shingles); the oracle SQL applies the identical HAVING
    cut, and on the test corpus (max df 25 at sf0.1) the cap is
    semantics-preserving.

    Plan shape: the df aggregate shrinks map-side to |vocab|; the hot
    set (df > cap) is tiny by construction, so it is collapsed to a
    single-row array and BROADCAST — the cut is then a map-side
    array_except per doc, and the capped set size is known row-locally
    from the array. No window, no per-row anti-join shuffle: set sizes
    ride the exploded rows as narrow (shingle, n) structs (exploding
    next to a carried array column would copy the whole array into every
    generated row — O(shingles^2) bytes/doc, measured 2.7x slower).
    Then one self-join + one groupBy is the entire distributed plan."""
    # Two persists, each computed once. `arrs` caches the CPU-dense
    # shingle kernel (feeds the df aggregate and the capped explode;
    # dropping it measured 1.7x slower); `kept` caches the exploded
    # narrow rows so the transform+explode does not rerun per self-join
    # side. Neither can be unpersisted here — the returned frame is lazy
    # and composed further by the jaccard/containment scorers — so like
    # markov_attribution's persisted frames the caches live until the
    # caller's action completes (callers that materialize, e.g.
    # bench/driver, clear them via reset_session_state between queries).
    # r4 dropped the kept cache claiming a merge-hinted ReusedExchange
    # covers it — it does NOT: Spark substitutes the arrs cache as
    # TableCacheQueryStage nodes and AQE refuses exchange reuse across
    # them (0 ReusedExchange in the executed plan), so the explode ran
    # TWICE (+7% in BENCH_r04); and dropping BOTH persists so reuse can
    # fire is slower still, because the hot-set branch then recomputes
    # the kernel. Interleaved best-of-5 at sf0.1: kept-persist 1.49 s /
    # arrs-only 2.08 s / no-persist-reuse 6.2 s. At corpus scale the
    # kept cache is ~|tokens| narrow rows under MEMORY_AND_DISK — it
    # spills rather than OOMs, and recomputing the shingle kernel per
    # side costs more than the spill re-read.
    arrs = arrs.persist()
    # Route the hot-shingle cut on the measured hot-set size (the
    # revisions skew-router / ann_lsh_adaptive count() pattern — one
    # count on a cached tiny aggregate, no data collect). Spark's
    # array_except rebuilds the hash set of its RIGHT argument for
    # EVERY row, so the broadcast hot-array cut is O(|docs| x |hot|):
    # perfect while the hot set is a handful of stop-shingles (the test
    # corpus: 0 hot at sf0.1), a scan-dominating quadratic on corpora
    # whose shingle vocabulary saturates (measured on the 10x
    # .scale/sf1 corpus: 27k of 29k shingles hot -> the kept pass alone
    # 17.6 s of dedup_ngram_jaccard's 19 s). Above the threshold, cut
    # hot shingles with an exploded inner join against the broadcast
    # COLD vocabulary and recover the per-doc kept size with one doc_id
    # window — identical (doc_id, n, shingle) rows (arrays are per-doc
    # distinct), one extra |kept-token| exchange instead of the per-row
    # hash-set rebuild.
    #
    # The probe itself is gated on the planner's size estimate for the
    # input (no Spark job): below HOT_ROUTE_PROBE_MIN_BYTES even an
    # all-hot vocabulary keeps the array route's cost bounded by the
    # input size, while the probe's extra job+codegen measurably taxed
    # the bench query (interleaved A/B: 1.22x at sf0.1 against a 1.03x
    # same-code control), so small corpora take route A unconditionally.
    probe = plan_bytes(arrs) >= HOT_ROUTE_PROBE_MIN_BYTES
    dfreq = (
        arrs.select(F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    if probe:
        dfreq = dfreq.persist()  # read by the probe AND the chosen route
        n_hot = dfreq.where(F.col("df") > df_cap).count()
    else:
        n_hot = 0
    if n_hot <= HOT_SET_ARRAY_ROUTE_MAX:
        hot_row = dfreq.where(F.col("df") > df_cap).agg(
            F.collect_set("shingle").alias("hot")
        )
        kept = (
            arrs.join(F.broadcast(hot_row))
            .select("doc_id", F.array_except("shingles", "hot").alias("kept"))
            .select(
                "doc_id",
                F.explode(
                    F.transform(
                        "kept",
                        lambda s: F.struct(
                            s.alias("shingle"), F.size("kept").cast("long").alias("n")
                        ),
                    )
                ).alias("_sn"),
            )
            .select(
                "doc_id", F.col("_sn.n").alias("n"), F.col("_sn.shingle").alias("shingle")
            )
        ).persist()
    else:
        # the cold vocabulary is the Zipf tail, which grows with the
        # corpus: broadcast it only while it fits, else let the planner
        # shuffle-join on shingle
        cold = dfreq.where(F.col("df") <= df_cap).select("shingle")
        w_doc = Window.partitionBy("doc_id")
        kept = (
            arrs.select("doc_id", F.explode("shingles").alias("shingle"))
            .join(broadcast_if_fits(cold), "shingle")
            .select(
                "doc_id",
                F.count(F.lit(1)).over(w_doc).cast("long").alias("n"),
                "shingle",
            )
        ).persist()
    a = kept.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "shingle")
    b = kept.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "shingle")
    stats = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    return stats


def _jaccard_pairs(arrs: DataFrame, df_cap: int = NGRAM_DF_CAP) -> DataFrame:
    """Near-dup pairs by exact Jaccard over the capped universe — the
    scoring select over _pair_stats (see there for the plan shape)."""
    return (
        _pair_stats(arrs, df_cap)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


CONTAINMENT_THRESHOLD = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT — the
    doc-inside-doc detector Jaccard misses: a short document quoted
    whole inside a long one has tiny Jaccard (the union is huge) but
    containment |A∩B|/|A| ≈ 1 (Broder's containment measure). Pairs
    where either direction reaches 0.8, both directions reported.

    Shares _pair_stats' df-capped inverted-index candidate machinery
    with dedup_ngram_jaccard — only the scoring select differs — so the
    scale story is identical: hot shingles cut map-side via the
    broadcast hot-set, candidates bounded by shared-shingle df, never
    n²."""
    return (
        _pair_stats(_shingle_arrays(spark, sf_dir))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("n_common") / F.col("na"), 6).alias("cont_a_in_b"),
            F.round(F.col("n_common") / F.col("nb"), 6).alias("cont_b_in_a"),
        )
        .where(
            F.greatest("cont_a_in_b", "cont_b_in_a") >= CONTAINMENT_THRESHOLD
        )
    )


def _minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id -> ordered array of 16 minhashes. The permutation family is
    the 16 disjoint 32-bit (8-hex-char) chunks of FOUR md5 digests
    h_s(x) = substr(md5((s//4) || '|' || x), (s%4)*8+1, 8), compared
    lexicographically — md5 output bits are independent, so the chunks
    are 16 independent uniform hashes for a quarter of the hashing cost
    (md5 dominates the map side of this operator; measured ~2.5x faster
    end-to-end cold, same candidate quality). Deterministic and portable
    to any engine with md5 + substr. Cheaper families
    (Kirsch-Mitzenmacher a + i*b) were tried and rejected: they are not
    min-wise independent, and the cross-seed correlation inflated band
    collisions ~50x on this corpus."""
    return minhash_signatures_from(_shingles(spark, sf_dir))


def minhash_signatures_from(sh: DataFrame) -> DataFrame:
    """(doc_id, shingle) -> (doc_id, sig) with the md5-chunk family above.
    Public so incremental dedup can sign an arbitrary snapshot
    (operators/delta.dedup_incremental). The 16 hash chunks are min
    aggregates, not an exploded row per hash, so partial aggregation
    shrinks the shuffle to |docs| x 16 whatever the shingle volume.
    Every expression is SQL text: one parse per projection instead of a
    py4j call per column-function node."""
    return (
        sh.selectExpr(
            "doc_id",
            *[
                f"substring(md5(concat_ws('|', {s // 4}, shingle)),"
                f" {s % 4 * 8 + 1}, 8) AS h{s}"
                for s in range(N_MINHASH)
            ],
        )
        .groupBy("doc_id")
        .agg(*[F.expr(f"min(h{s}) AS m{s}") for s in range(N_MINHASH)])
        .selectExpr(
            "doc_id", f"array({', '.join(f'm{s}' for s in range(N_MINHASH))}) AS sig"
        )
    )


# matching-minhash count of a signature pair (sig_a, sig_b)
SIG_MATCHES_SQL = (
    "aggregate(zip_with(sig_a, sig_b, (x, y) -> CAST(x = y AS INT)), 0,"
    " (acc, v) -> acc + v)"
)


# a candidate pair shares one of these keys
LSH_BAND_KEYS = ["band", "band_hash"]


def lsh_band_rows(sigs: DataFrame, n_bands: int, rows_per_band: int) -> DataFrame:
    """(doc_id, sig) -> (doc_id, band, sig, band_hash): one row per LSH
    band, band_hash = md5 of the band's `rows_per_band` minhashes joined
    by '|'. Two documents are candidates when they share a (band,
    band_hash); the signature rides along so the caller scores a pair
    (SIG_MATCHES_SQL) right after its band self-join."""
    return sigs.selectExpr(
        "doc_id", f"explode(sequence(0, {n_bands - 1})) AS band", "sig"
    ).selectExpr(
        "doc_id",
        "band",
        "sig",
        f"md5(concat_ws('|', slice(sig, band * {rows_per_band} + 1,"
        f" {rows_per_band}))) AS band_hash",
    )


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding: 16 hashes, 4 bands x 4 rows. Candidate pairs
    share at least one band; est_jaccard = matching-minhash fraction.

    The signature rides THROUGH the band self-join (the approach Spark's
    own MinHashLSH approxSimilarityJoin takes) instead of joining back to
    a persisted signature table afterwards: est_jaccard is computed
    map-side right after the join, and one groupBy on the pair key
    deduplicates multi-band collisions. vs the join-back design this
    drops two sort-merge joins and a dropDuplicates shuffle; the cost is
    a fixed 136 B of signature on each band row, bounded by band fan-out
    (4/doc), never by candidate volume. Measured ~25% faster at sf0.1
    with identical output.

    The SIGNATURE TABLE is persisted so the minhash pipeline computes
    exactly once however the self-join is planned. r4 relied on a merge
    hint + ReusedExchange instead — that guarantee is fragile: any
    cached subtree upstream (a composing operator's persist, a leaked
    session cache) substitutes as TableCacheQueryStage nodes, AQE
    refuses exchange reuse across them, and the signature pass silently
    runs twice. The persist is robust to session state AND measured
    faster (interleaved best-of-4 at sf0.1: sig-persist 1.03 s /
    hint+reuse 1.14 s / persist+hint 1.25 s). Memory: |docs| x 136 B
    under MEMORY_AND_DISK — 1.4 GB per executor at 10^10 docs on 1000
    executors, spilling not OOMing. The plan test pins both join sides
    reading the one InMemoryTableScan."""
    bands = lsh_band_rows(
        _minhash_signatures(spark, sf_dir).persist(), N_BANDS, ROWS_PER_BAND
    )
    a = bands.selectExpr("doc_id AS doc_a", "sig AS sig_a", *LSH_BAND_KEYS)
    b = bands.selectExpr("doc_id AS doc_b", "sig AS sig_b", *LSH_BAND_KEYS)
    return (
        a.join(b, LSH_BAND_KEYS)
        .where("doc_a < doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            f"round({SIG_MATCHES_SQL} / {N_MINHASH}D, 6) AS est_jaccard",
        )
        # a pair colliding in k bands appears k times with the SAME
        # est_jaccard; min() is just the dedup that keeps the plan narrow
        .groupBy("doc_a", "doc_b")
        .agg(F.expr("min(est_jaccard) AS est_jaccard"))
    )


# bit j of the fingerprint: a strict majority of the n shingle hashes
# has bit j set (a tie, 2·b == n, leaves it clear)
_SIMHASH_SQL = f"CAST({bits_sql(f'b{j} * 2 > n' for j in range(SIMHASH_BITS))} AS BIGINT)"


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id -> 60-bit SimHash over distinct word-trigram shingles. Bit j
    of the fingerprint is the majority vote of bit j across shingle hashes
    (hash = first 15 hex chars of md5, parsed base-16). Shingles, not
    unigrams: on a small shared vocabulary every document contains nearly
    every token, which collapses unigram simhashes onto one point —
    trigrams keep the fingerprint discriminative (and match the feature
    set used by the jaccard/minhash dedup family)."""
    toks = _shingles(spark, sf_dir).select(
        "doc_id",
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    # one wide aggregation (60 bit-vote sums + count) instead of a 60x row
    # explode: same single shuffle keyed on doc_id, 1/60th the shuffle rows
    votes = toks.groupBy("doc_id").agg(
        F.expr("count(1) AS n"),
        *[F.expr(f"sum((h >> {j}) & 1) AS b{j}") for j in range(SIMHASH_BITS)],
    )
    return votes.selectExpr("doc_id", f"{_SIMHASH_SQL} AS simhash")


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= 8, candidates via
    4 x 15-bit chunk blocking (equality join on any shared chunk).

    The FINGERPRINT TABLE is persisted so the 60-bit-vote aggregate
    computes exactly once however the self-join is planned. r4 relied
    on a merge hint + ReusedExchange instead — fragile: any cached
    subtree upstream (e.g. a leaked `_shingles` cache from a composing
    query in the same session) substitutes as TableCacheQueryStage
    nodes, AQE refuses exchange reuse across them, and the fingerprint
    pass silently runs twice. The persist is robust to session state
    AND measured faster (interleaved best-of-4 at sf0.1: fp-persist
    1.68 s / hint+reuse 1.84 s / persist+hint 2.00 s). Memory:
    |docs| x 16 B — trivial at any scale. The plan test pins both join
    sides reading the one InMemoryTableScan."""
    return (
        _simhash_candidate_pairs(spark, sf_dir)
        # filter BEFORE the pair-dedup shuffle: hamming is already on the
        # row, so far-apart collisions never enter the exchange
        .where(F.col("hamming") <= HAMMING_MAX)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _simhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, hamming) for every chunk-colliding pair BEFORE the
    hamming cut and pair-dedup — shared by dedup_simhash (which applies
    both) and dedup_candidate_volume (which counts the raw candidates,
    the quantity that must stay sub-quadratic at scale)."""
    fp = simhash_docs(spark, sf_dir).persist()
    chunks = fp.select(
        "doc_id",
        "simhash",
        F.explode(F.expr(f"sequence(0, {SIMHASH_CHUNKS - 1})")).alias("c"),
    ).select(
        "doc_id", "simhash", "c", F.expr("(simhash >> (c * 15)) & 32767").alias("chunk")
    )
    a = chunks.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "c", "chunk"
    )
    b = chunks.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "c", "chunk"
    )
    return (
        a.join(b, ["c", "chunk"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.expr("CAST(bit_count(sh_a ^ sh_b) AS BIGINT)").alias("hamming"))
    )


EVAL_MOD = 25  # doc_id % EVAL_MOD == 0 marks the held-out eval/benchmark set


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every training doc, count the
    distinct word-trigram shingles it shares with the held-out eval set
    (docs with doc_id % 25 == 0) — the n-gram-overlap contamination check
    training pipelines run against benchmark suites. Consumers anti-join
    or threshold on n_contaminated.

    Scale: the eval side is a benchmark suite — tiny relative to the
    corpus — so its distinct shingle set is broadcast and the check is a
    map-side broadcast join over the training shingles; the only shuffle
    is the per-doc count aggregation (pre-partitioned by doc_id from
    _shingles' rebalance)."""
    sh = _shingles(spark, sf_dir)
    eval_sh = (
        sh.where(F.col("doc_id") % EVAL_MOD == 0).select("shingle").distinct()
    )
    return (
        sh.where(F.col("doc_id") % EVAL_MOD != 0)
        .join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )


def minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit for the minhash sketch: for every LSH
    candidate pair, the banded 16-hash estimate next to the EXACT shingle
    Jaccard and their absolute error — the number you read before
    trusting est_jaccard as a dedup threshold at 100 TB (16 hashes give
    ±1/16 granularity; if the observed error is worse, the hash family
    is broken, which is exactly what this caught-in-tests operator would
    surface).

    Plan shape: candidate pairs are LSH-bounded (never all-pairs); the
    exact intersection joins the per-doc distinct shingle table twice,
    restricted to candidate docs by broadcasting the bounded pair set."""
    est = dedup_minhash(spark, sf_dir)
    sh = _shingles(spark, sf_dir)
    n = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        F.broadcast(est)
        .join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "est_jaccard")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(n.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(n.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6
            ).alias("jaccard"),
            F.round(
                F.abs(
                    F.col("est_jaccard")
                    - F.round(
                        F.col("n_common")
                        / (F.col("na") + F.col("nb") - F.col("n_common")),
                        6,
                    )
                ),
                6,
            ).alias("abs_err"),
        )
    )


def dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate recall of the MinHash-LSH pairing against the exact
    Jaccard ground truth — the dedup counterpart of the ANN recall
    dials (ann_recall / ivf_recall / pq_recall / sq_recall): what
    fraction of true near-dup pairs (exact trigram Jaccard >= 0.2) does
    the banded LSH candidate join surface, and how many of its
    candidates are true? N_MINHASH / N_BANDS tune against THIS row.

    Scale: both sides reuse audited plans; the comparison adds one
    bounded pair-key join and three 1-row aggregates (broadcast
    combine, the pipeline_funnel shape)."""
    truth = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    cand = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    t = truth.agg(F.count(F.lit(1)).alias("n_true"))
    c = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    h = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        t.crossJoin(c)
        .crossJoin(h)
        .where(F.col("n_true") > 0)
        .select(
            "n_true",
            "n_cand",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_true").cast("double"), 6).alias(
                "recall"
            ),
            F.round(F.col("n_hit") / F.col("n_cand").cast("double"), 6).alias(
                "candidate_precision"
            ),
        )
    )


def simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate recall/precision of the SimHash hamming pairing against
    the exact trigram-Jaccard ground truth — the SimHash twin of
    dedup_recall, completing the measured-dial set for BOTH near-dup
    sketches (MinHash-LSH and SimHash tune against their own row on the
    same truth set, so the sketches are comparable head-to-head).

    Scale: both sides reuse audited plans; the comparison adds one
    bounded pair-key join and three 1-row aggregates."""
    truth = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    cand = dedup_simhash(spark, sf_dir).select("doc_a", "doc_b")
    t = truth.agg(F.count(F.lit(1)).alias("n_true"))
    c = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    h = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        t.crossJoin(c)
        .crossJoin(h)
        .where(F.col("n_true") > 0)
        .select(
            "n_true",
            "n_cand",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_true").cast("double"), 6).alias(
                "recall"
            ),
            F.round(F.col("n_hit") / F.col("n_cand").cast("double"), 6).alias(
                "candidate_precision"
            ),
        )
    )


CONTAM_BUCKETS = [(1, "1"), (2, "2"), (5, "3_5"), (10, "6_10")]
CONTAM_OVER_LABEL = "11_plus"


def contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination dial: the distribution of eval-shingle hit counts
    over the training corpus — how many docs are clean, lightly brushed,
    or saturated with benchmark n-grams — read BEFORE choosing
    decontaminate's removal threshold (drop-any-hit vs drop-heavy-only
    changes corpus size very differently). Output: (bucket, n_docs,
    share), bucket 0 = clean docs.

    Composes decontaminate (broadcast eval-shingle join); adds one
    5-group rollup and two 1-row aggregates — nothing grows beyond the
    contaminated-doc set."""
    hits = decontaminate(spark, sf_dir)
    train_total = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % EVAL_MOD != 0)
        .agg(F.count(F.lit(1)).alias("total"))
    )
    bucket = F.lit(CONTAM_OVER_LABEL)
    for bound, label in reversed(CONTAM_BUCKETS):
        bucket = F.when(
            F.col("n_contaminated") <= F.lit(bound), F.lit(label)
        ).otherwise(bucket)
    hit_rows = (
        hits.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    affected = hits.agg(F.count(F.lit(1)).alias("n_affected"))
    zero_row = (
        train_total.crossJoin(F.broadcast(affected))
        .select(
            F.lit("0").alias("bucket"),
            (F.col("total") - F.col("n_affected")).alias("n_docs"),
        )
        .where(F.col("n_docs") > 0)
    )
    return (
        hit_rows.unionByName(zero_row)
        .crossJoin(F.broadcast(train_total))
        .select(
            "bucket",
            "n_docs",
            F.round(F.col("n_docs") / F.col("total").cast("double"), 6).alias(
                "share"
            ),
        )
    )


BAND_CONFIGS = [(16, 1), (8, 2), (4, 4), (2, 8)]


def minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding-configuration dial: candidate volume and candidate
    quality for every (bands x rows) factorization of the 16-hash
    signature — the S-curve knob of MinHash LSH (more bands = higher
    recall + more junk candidates; more rows per band = stricter). Read
    this curve before committing N_BANDS at corpus scale; dedup_recall
    then measures the chosen point against exact Jaccard. Output:
    (n_bands, rows_per_band, n_candidates, mean_est_jaccard).

    One signature computation feeds all four configs; each config is the
    SAME signature-rides-the-join band self-join as dedup_minhash, so
    cost is bounded by per-config band collisions, never all-pairs. The
    mean estimate is exact: match counts are integers and est values are
    multiples of 1/16, so the aggregate is one integer sum + one fixed
    division chain."""
    sigs = _minhash_signatures(spark, sf_dir)
    frames = []
    for nb, rpb in BAND_CONFIGS:
        bands = lsh_band_rows(sigs, nb, rpb)
        a = bands.selectExpr("doc_id AS doc_a", "sig AS sig_a", *LSH_BAND_KEYS)
        b = bands.selectExpr("doc_id AS doc_b", "sig AS sig_b", *LSH_BAND_KEYS)
        # no merge hint here (unlike dedup_minhash): measured NEUTRAL to
        # slightly negative across the 4-config union — the per-config
        # frames are small enough that sort overhead eats the reuse win
        pairs = (
            a.join(b, LSH_BAND_KEYS)
            .where("doc_a < doc_b")
            .selectExpr("doc_a", "doc_b", f"{SIG_MATCHES_SQL} AS matches")
            .groupBy("doc_a", "doc_b")
            .agg(F.expr("min(matches) AS matches"))
        )
        frames.append(
            pairs.agg(
                F.count(F.lit(1)).alias("n_candidates"),
                F.round(
                    F.sum("matches") / F.lit(float(N_MINHASH))
                    / F.count(F.lit(1)).cast("double"),
                    6,
                ).alias("mean_est_jaccard"),
            ).select(
                F.lit(nb).cast("long").alias("n_bands"),
                F.lit(rpb).cast("long").alias("rows_per_band"),
                "n_candidates",
                "mean_est_jaccard",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.where(F.col("n_candidates") > 0)


def dup_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-rate dashboard per source — the mirror-site detector: for
    each source, how many docs have an exact-content twin anywhere in the
    corpus (n_dup), and how many have a twin in a DIFFERENT source
    (n_cross_dup, the mirrored-content signal), with fractions. The
    decision dashboard for whether a source is worth crawling or is a
    re-host of content already held.

    Plan shape: one shuffle on md5(text) for the per-hash stats
    (copies + single-distinct source count — no Expand), one shuffle
    join back on the hash, one rollup on source. Never a pair join:
    duplicate GROUPS are aggregated, so a hash with a million copies
    costs a count, not a million² pair rows."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    stats = docs.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.countDistinct("source").alias("n_sources"),
    )
    return (
        docs.join(stats, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_copies") > 1).cast("long")).alias("n_dup"),
            F.sum((F.col("n_sources") > 1).cast("long")).alias("n_cross_dup"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup",
            "n_cross_dup",
            F.round(F.col("n_dup") / F.col("n_docs"), 6).alias("dup_frac"),
            F.round(F.col("n_cross_dup") / F.col("n_docs"), 6).alias(
                "cross_dup_frac"
            ),
        )
    )


def dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What exact dedup does to the corpus MIXTURE: per (lang, source)
    cell, doc counts and corpus fractions before and after exact dedup
    (dedup_exact's min-doc_id survivorship), and the fraction shift —
    the table a mixture designer reads next to mix_weights before
    re-weighting, because dedup never removes mass uniformly (duplicates
    concentrate in specific sources).

    Plan shape (100 TB): one md5 window shuffle (identical to
    dedup_exact) with lang/source riding the rows, one (lang, source)
    aggregate over the bounded cell universe, and a 1-row totals
    aggregate broadcast back — fractions are ratios of exact integers,
    rounded once."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text"))
    flagged = docs.select(
        "lang",
        "source",
        (F.col("doc_id") != F.min("doc_id").over(w)).cast("long").alias("is_dup"),
    )
    cells = flagged.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_before"),
        F.sum(1 - F.col("is_dup")).alias("n_after"),
    )
    tot = cells.agg(
        F.sum("n_before").alias("tb"), F.sum("n_after").alias("ta")
    )
    fb = F.col("n_before") / F.col("tb")
    fa = F.col("n_after") / F.col("ta")
    return cells.join(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_before",
        "n_after",
        F.round(fb, 6).alias("frac_before"),
        F.round(fa, 6).alias("frac_after"),
        F.round(fa - fb, 6).alias("shift"),
    )


DEDUP_METHODS = [
    ("minhash", "simhash"),
    ("minhash", "jaccard"),
    ("simhash", "jaccard"),
]


def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sketch agreement matrix: how much the three near-dup
    detectors over the same corpus — banded MinHash, SimHash chunk
    blocking, and exact shingle Jaccard — agree on WHICH pairs are
    duplicates (dedup_recall/simhash_recall score each against the
    shingle truth; this is the pairwise set overlap between all three,
    the dial for 'would switching sketches change the corpus?').

    Exactness: pair sets are canonical (doc_a < doc_b) integer tuples;
    intersection and union sizes are exact counts; Jaccard is one
    rounded division.

    Plan: the three audited candidate plans run once each; the pair
    sets are |pairs|-bounded, so the inner joins and 1-row aggregates
    that follow are negligible at any scale."""
    sets = {
        "minhash": dedup_minhash(spark, sf_dir).select("doc_a", "doc_b"),
        "simhash": dedup_simhash(spark, sf_dir).select("doc_a", "doc_b"),
        "jaccard": dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b"),
    }
    for k in sets:
        sets[k] = sets[k].persist()
    blocks = []
    for ma, mb in DEDUP_METHODS:
        a, b = sets[ma], sets[mb]
        common = a.join(b, ["doc_a", "doc_b"]).agg(
            F.count(F.lit(1)).alias("n_common")
        )
        na = a.agg(F.count(F.lit(1)).alias("n_a"))
        nb = b.agg(F.count(F.lit(1)).alias("n_b"))
        blocks.append(
            na.join(nb)
            .join(common)
            .select(
                F.lit(f"{ma}-vs-{mb}").alias("pair"),
                "n_a",
                "n_b",
                "n_common",
                F.when(
                    (F.col("n_a") + F.col("n_b") - F.col("n_common")) > 0,
                    F.round(
                        F.col("n_common")
                        / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                        6,
                    ),
                ).alias("jaccard"),
            )
        )
    out = blocks[0]
    for bl in blocks[1:]:
        out = out.unionByName(bl)
    return out


def dedup_candidate_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-score candidate-pair volume for the three pair-generating
    dedup families (r6 VERDICT #7): one row per method with the number
    of DISTINCT candidate pairs that enter the scorer BEFORE any
    similarity cut. This is the measured statement of the scale claim —
    "bounded by the df-cap / band fan-out / chunk blocking, never
    corpus^2": the similarity thresholds (jaccard >= 0.2, est_jaccard,
    hamming <= 8) only shrink OUTPUT; the candidate count is the work
    the cluster actually does, so IT is the number that must grow
    sub-quadratically with the corpus. Benching this entry at sf0.1 vs
    sf1 turns the claim into a measured curve.

    - ngram_jaccard: pairs sharing >= 1 surviving (df-capped) shingle —
      the _pair_stats inverted-index join's output cardinality;
    - minhash_lsh: pairs colliding in >= 1 of the 4 LSH bands;
    - simhash_block: pairs colliding in >= 1 of the 4 15-bit chunks.

    Scale: each count is a full-plan run of the family's real candidate
    generator followed by a count-style aggregate — no driver transfer
    beyond 3 rows."""
    ngram = (
        _pair_stats(_shingle_arrays(spark, sf_dir))
        .agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        .select(F.lit("ngram_jaccard").alias("method"), "n_candidates")
    )
    minhash = (
        dedup_minhash(spark, sf_dir)
        .agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        .select(F.lit("minhash_lsh").alias("method"), "n_candidates")
    )
    simhash = (
        _simhash_candidate_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        .select(F.lit("simhash_block").alias("method"), "n_candidates")
    )
    return ngram.unionByName(minhash).unionByName(simhash)


def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on NORMALIZED content — the form production pipelines
    (C4, RefinedWeb) actually hash: lowercase, collapse whitespace runs,
    trim. Raw-byte hashing (dedup_exact) misses the near-universal
    duplicate class that differs only in case or spacing; normalizing
    before the hash folds those into one group while still costing
    exactly one shuffle. Same survivor contract as dedup_exact: every
    doc maps to the minimum doc_id of its normalized-hash group.

    Scale (100 TB): the normalization is a per-row JVM expression chain
    (lower/regexp_replace/trim — whole-stage codegen, no Python); the
    plan is byte-identical in shape to dedup_exact: one hash exchange on
    the 32-char digest, window aggregates over it. Text never shuffles —
    only (doc_id, digest) rows do.

    Reference: the duplicate-revision collapse of
    pig/preprocess/checkRevisions.pig, at the content-normalized grain.
    """
    docs = load_table(spark, sf_dir, "documents")
    # explicit whitespace class, NOT \s: Java regex \s includes \x0B
    # (vertical tab) while DuckDB's RE2 \s does not — the one byte that
    # would make the two engines hash differently
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[ \\t\\n\\r\\f]+", " "))
    w = Window.partitionBy("text_hash")
    return (
        docs.select("doc_id", F.md5(norm).alias("text_hash"))
        .withColumn("survivor_id", F.min("doc_id").over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
        .withColumn(
            "is_dup", (F.col("doc_id") != F.col("survivor_id")).cast("int")
        )
    )


def bbit_minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise hashing audit (Li & Konig 2010, "b-Bit Minwise
    Hashing"): storing only the lowest b bits of each minhash cuts the
    signature 32x (b=1) — the sketch-size play that makes corpus-scale
    near-dup state fit in memory at 100 TB — at the cost of collision
    noise the unbiased estimator J = (match_frac - 2^-b)/(1 - 2^-b)
    must subtract. For every LSH candidate pair this reports the full
    16-hash estimate next to the b=1 and b=2 truncated estimates and
    their absolute deltas — the measured answer to "how much recall do
    the dropped 31 bits cost" before adopting the compressed sketch.

    Exactness: the lowest hex digit maps through instr on a constant
    16-char string (exact integers both engines); estimators are
    small-integer arithmetic — (m-8)/8 for b=1, (m-4)/12 for b=2 —
    rounded 6 only at the edge.

    Scale: candidate pairs are the LSH-bounded dedup_minhash output
    (never all-pairs); the two signature joins broadcast that bounded
    pair frame, exactly minhash_error's plan shape."""
    pairs = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b", "est_jaccard")
    sigs = _minhash_signatures(spark, sf_dir)
    j = (
        F.broadcast(pairs)
        .join(
            sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")),
            "doc_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")),
            "doc_b",
        )
    )

    def _matches(mod: int):
        return F.expr(
            "aggregate(zip_with(sig_a, sig_b, (x, y) -> "
            f"CASE WHEN (instr('0123456789abcdef', substring(x, 8, 1)) - 1) % {mod}"
            f" = (instr('0123456789abcdef', substring(y, 8, 1)) - 1) % {mod}"
            " THEN 1 ELSE 0 END), 0, (a, v) -> a + v)"
        )

    est_b1 = F.round((_matches(2) - F.lit(8)) / F.lit(8.0), 6)
    est_b2 = F.round((_matches(4) - F.lit(4)) / F.lit(12.0), 6)
    return j.select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        est_b1.alias("est_b1"),
        est_b2.alias("est_b2"),
        F.round(F.abs(est_b1 - F.col("est_jaccard")), 6).alias("abs_delta_b1"),
        F.round(F.abs(est_b2 - F.col("est_jaccard")), 6).alias("abs_delta_b2"),
    )

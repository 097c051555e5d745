"""Group G.2 — similarity search over embeddings (SURVEY.md §2.G).

Brute-force cosine top-k is the correctness baseline; sign-LSH bucketing is
the scale path (each probe touches ~1/2^planes of the corpus). Everything
is built-in-function arithmetic: dot products are explicit *sequential*
folds over doubles (functions/vectors.py) so the oracle (DuckDB
`list_reduce`) reproduces bit-identical sums — that determinism is what
lets an approximate structure be hash-checked exactly.

Scale design (100 TB): queries are broadcast against the corpus scan
(no shuffle of the big side); ann_lsh turns the cross join into an
equality join on bucket ids, which AQE can plan as a shuffle-hash join;
bucket skew is bounded because sign-bits of random projections are
near-balanced. The embedding column stays a packed float array — no
explode in the hot path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hedera_spark.functions.vectors import cos_sql, dot_sql, l2sq_sql, norm_sql, sign_bucket_sql
from hedera_spark.plans.broadcast import broadcast_if_fits
from hedera_spark.sources.tables import load_table

N_PLANES = 8
TOPK = 5
LSH_TOPK = 3
COS_THRESHOLD = 0.4
QUERY_MOD = 25  # vec_id % 25 == 0 -> the query set (scales with sf)

# Every ANN query-side broadcast goes through broadcast_if_fits
# (plans/broadcast.py): the query set is a fixed 1/QUERY_MOD FRACTION of
# the corpus, under a megabyte at the test SFs, where broadcasting is the
# right plan (the corpus side is never shuffled), but ~4 TB at the
# declared 100 TB scale. Above the ceiling the planner falls back to a
# shuffled equality join (the bucket/cell-keyed paths) or a partitioned
# nested-loop (the brute-force baselines), both memory-safe.


def _sign_from_seed(seed: str) -> float:
    """Deterministic ±1 from md5 — reproducible in any engine; planes are
    precomputed driver-side and inlined as literals."""
    return 1.0 if int(hashlib.md5(seed.encode()).hexdigest()[0], 16) < 8 else -1.0


def _plane_sign(p: int, d: int) -> float:
    return _sign_from_seed(f"{p}_{d}")


PLANES: list[list[float]] = [
    [_plane_sign(p, d) for d in range(64)] for p in range(N_PLANES)
]

N_TABLES = 4  # hash tables for the multi-probe variant


def table_planes(t: int) -> list[list[float]]:
    """Plane set for hash table `t`. Table 0 IS the single-table plane set
    (so the multi-table candidate set provably contains ann_lsh's);
    tables 1+ draw fresh md5-seeded planes."""
    if t == 0:
        return PLANES
    return [
        [_sign_from_seed(f"t{t}_{p}_{d}") for d in range(64)]
        for p in range(N_PLANES)
    ]


# SQL text shared by the scorers below (functions/vectors.py)
_NRM = f"{norm_sql('embedding')} AS nrm"
_COS = f"{cos_sql('q_emb', 'embedding', 'q_nrm', 'nrm')} AS cos"
_PAIR_COS = f"{cos_sql('embedding', 'emb_b', 'nrm', 'nrm_b')} AS cos"
_BUCKET = f"{sign_bucket_sql('embedding', PLANES)} AS bucket"


def _rebalanced(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """The embeddings table spread over every core, projected to `cols`
    (SQL text). The fold dot products are CPU-dense per row, and a
    compact input would pin them to one core per input split (see
    dedup._shingles)."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .selectExpr(*cols)
    )


def _queries(emb: DataFrame, *cols: str) -> DataFrame:
    """(q_id, q_emb, q_nrm, *cols): the query subset (vec_id % QUERY_MOD
    == 0) of a (vec_id, embedding, nrm, ...) frame."""
    return emb.selectExpr(
        "vec_id AS q_id", "embedding AS q_emb", "nrm AS q_nrm", *cols
    ).where(f"q_id % {QUERY_MOD} = 0")


def _scored(pairs: DataFrame) -> DataFrame:
    """(q_id, neighbor_id, cos) of (query, corpus) pairs."""
    return pairs.selectExpr("q_id", "vec_id AS neighbor_id", _COS)


def top_k_per_query(scored: DataFrame, k: int, order: str = "cos DESC") -> DataFrame:
    """`scored` plus rk (bigint), each row's rank within its q_id by
    `order` with ties to the smaller neighbor_id, cut at rk <= k."""
    rk = f"row_number() OVER (PARTITION BY q_id ORDER BY {order}, neighbor_id)"
    return scored.withColumn("rk", F.expr(f"CAST({rk} AS BIGINT)")).where(f"rk <= {k}")


def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 neighbors for the query subset
    (vec_id % 25 == 0). Queries are broadcast; the corpus is scanned
    once, rebalanced to full parallelism first."""
    emb = _rebalanced(spark, sf_dir, "vec_id", "embedding", _NRM)
    pairs = emb.join(broadcast_if_fits(_queries(emb)), F.col("vec_id") != F.col("q_id"))
    return top_k_per_query(_scored(pairs), TOPK)


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate top-3: candidates share the full 8-bit bucket,
    so each probe touches ~1/256 of the corpus — the 100 TB path. Same
    scoring math as ann_topk; recall is the tunable (more tables / fewer
    planes => higher recall). Corpus scan rebalanced as in ann_topk."""
    emb = _rebalanced(spark, sf_dir, "vec_id", "embedding", _BUCKET, _NRM)
    pairs = emb.join(broadcast_if_fits(_queries(emb, "bucket")), "bucket").where(
        F.col("vec_id") != F.col("q_id")
    )
    return top_k_per_query(_scored(pairs), LSH_TOPK)


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos >= 0.4), exact over all pairs.
    At scale the candidate set comes from the ann_lsh buckets instead of
    the full cross join — this operator is the correctness baseline.
    Left side rebalanced to full parallelism (n^2/2 fold dot products)."""
    emb = _rebalanced(spark, sf_dir, "vec_id", "embedding", _NRM)
    b = emb.selectExpr("vec_id AS vec_b", "embedding AS emb_b", "nrm AS nrm_b")
    return (
        emb.join(b, F.col("vec_id") < F.col("vec_b"))
        .selectExpr("vec_id AS vec_a", "vec_b", _PAIR_COS)
        .where(F.col("cos") >= COS_THRESHOLD)
    )


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed embedding near-dup pairs — the scale path dedup_embedding's
    docstring points to: candidate pairs must share the full 8-bit sign-LSH
    bucket (equality join on bucket id, ~1/256 of all pairs), then the
    exact cosine filter runs only on candidates. The all-pairs cross join
    of the baseline becomes an equality join AQE can execute as a
    shuffle-hash join, so cost scales with bucket occupancy, not corpus².
    Recall: vectors with cos >= 0.4 agree on most projection signs, but a
    pair CAN straddle a hyperplane — dedup_embedding is the exact
    baseline; tests assert this returns a subset of it with planted
    near-identical vectors recovered."""
    return (
        _bucket_pairs(spark, sf_dir)
        .selectExpr("vec_id AS vec_a", "vec_b", _PAIR_COS)
        .where(F.col("cos") >= COS_THRESHOLD)
    )


def _bucket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector pair (vec_id < vec_b) sharing the 8-bit sign-LSH
    bucket, with both embeddings and norms."""
    emb = _rebalanced(spark, sf_dir, "vec_id", "embedding", _BUCKET, _NRM)
    b = emb.selectExpr("vec_id AS vec_b", "embedding AS emb_b", "nrm AS nrm_b", "bucket")
    return emb.join(b, "bucket").where(F.col("vec_id") < F.col("vec_b"))


CENTROID_MOD = 50  # vec_id % 50 == 1 -> coarse-quantizer centroid set
IVF_TOPK = 3


def _ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every vector to its nearest centroid cell (max cosine,
    ties to the smallest centroid id). Centroids are a deterministic
    corpus sample — the stand-in for a k-means coarse quantizer, keeping
    the structure (broadcast centroids, map-side assignment, partial-agg
    argmax) identical to a trained IVF while staying oracle-checkable.

    The argmax is `max_by` over a (score, -cid) struct: a partial-agg
    groupBy, not a window — no per-vector sort at scale."""
    emb = _rebalanced(spark, sf_dir, "vec_id", "embedding", _NRM)
    scored = emb.crossJoin(F.broadcast(_centroids(emb))).withColumn(
        "cscore", F.expr(cos_sql("embedding", "cemb", "nrm", "cnrm"))
    )
    return scored.groupBy("vec_id").agg(
        F.max_by(
            "cid", F.struct(F.col("cscore").alias("s"), (-F.col("cid")).alias("t"))
        ).alias("cid"),
        F.first("embedding").alias("embedding"),
        F.first("nrm").alias("nrm"),
    )


def _centroids(emb: DataFrame) -> DataFrame:
    """(cid, cemb, cnrm): the sampled centroid set (vec_id % CENTROID_MOD
    == 1) of a (vec_id, embedding, nrm) frame."""
    return emb.where(F.col("vec_id") % CENTROID_MOD == 1).selectExpr(
        "vec_id AS cid", "embedding AS cemb", "nrm AS cnrm"
    )


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-3: each query probes only its own
    centroid cell (nprobe=1), so a probe touches ~1/K of the corpus —
    the inverted-file complement to ann_lsh's hash buckets. Same scoring
    math and output shape as ann_lsh; recall tunes via K and nprobe."""
    # persist: the query side is a filter of this same frame, and the
    # n x K centroid-assignment fold below the final agg otherwise runs
    # twice (the vec_id grouping key lets the % filter push below the
    # exchange, so the two subtrees canonicalize differently and
    # exchange reuse cannot fire — the ann_candidate_volume lesson).
    # Released by the session-level cache reset.
    cells = _ivf_cells(spark, sf_dir).persist()
    pairs = _queries(cells, "cid").join(cells, "cid").where(F.col("vec_id") != F.col("q_id"))
    return top_k_per_query(_scored(pairs), IVF_TOPK)


# (vec_id, bks): the vector's bucket in each of the N_TABLES hash tables
_TABLE_BUCKETS = "array({}) AS bks".format(
    ", ".join(sign_bucket_sql("embedding", table_planes(t)) for t in range(N_TABLES))
)


def _table_bucket_rows(emb: DataFrame) -> DataFrame:
    """(vec_id, t, bucket): one narrow row per vector and hash table, no
    payload."""
    return (
        emb.selectExpr("vec_id", _TABLE_BUCKETS)
        .selectExpr(
            "vec_id",
            f"explode(transform(sequence(0, {N_TABLES - 1}), t -> struct(t, bks[t] AS b))) AS tb",
        )
        .selectExpr("vec_id", "tb.t AS t", "tb.b AS bucket")
    )


def ann_lsh_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH top-3 — the recall knob ann_lsh's docstring
    names, realized: 4 independent 8-bit hash tables; a candidate pair
    needs to collide in ANY table. Candidates are generated per table by
    the same bucket-equality join (each probe still touches ~1/256 of
    the corpus per table), then DEDUPED to distinct (q_id, vec_id) keys
    BEFORE any scoring, and the embeddings are joined back for exactly
    one dot product per surviving pair — the dedup_minhash band-join
    plan family. vs score-then-dedup this trades one narrow distinct
    aggregate + a vec_id join-back for T-1 redundant dot products per
    multi-table collision and a T-times-wider candidate shuffle (the
    embedding never rides the (t, bucket) join at all); at 100 TB with
    wide vectors the scoring and shuffle width dominate, so the deduped
    form is the shipped shape (test_plans pins score-after-dedup: no
    max(cos) aggregate may reappear)."""
    emb = _rebalanced(spark, sf_dir, "vec_id", "embedding")
    eb = _table_bucket_rows(emb)
    qk = eb.selectExpr("vec_id AS q_id", "t", "bucket").where(f"q_id % {QUERY_MOD} = 0")
    cand = (
        eb.join(broadcast_if_fits(qk), ["t", "bucket"])
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    # join the embeddings back: one scoring row per distinct pair
    nemb = emb.selectExpr("vec_id", "embedding", _NRM)
    pairs = cand.join(nemb, "vec_id").join(broadcast_if_fits(_queries(nemb)), "q_id")
    return top_k_per_query(_scored(pairs), LSH_TOPK)


def _exact_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared ground truth of the four recall dials: brute-force
    exact top-3 per query. ann_pareto computes this ONCE and hands it to
    all four dials (it is the expensive side of every dial)."""
    return (
        ann_topk(spark, sf_dir)
        .where(F.col("rk") <= LSH_TOPK)
        .select("q_id", "neighbor_id")
    )


def _recall_vs_exact(exact3: DataFrame, approx: DataFrame) -> DataFrame:
    """recall@3 per query: |queries|-bounded joins on (q_id, neighbor_id);
    a probe with an empty candidate set scores 0, not a dropped row."""
    hits = approx.join(exact3, ["q_id", "neighbor_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    n_approx = approx.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_approx"))
    return (
        exact3.groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(n_approx, "q_id", "left")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_approx", F.lit(0)).cast("long").alias("n_approx"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.col("n_exact"), 6
            ).alias("recall"),
        )
    )


def ann_recall(
    spark: SparkSession, sf_dir: str, exact3: DataFrame | None = None
) -> DataFrame:
    """Recall@3 of the LSH probe against the exact top-3 — the evaluation
    loop that turns "approximate" into a measured trade-off (you tune
    N_PLANES/N_TABLES against THIS number, not intuition; ann_lsh_multi's
    docstring calls recall the knob, this operator reads the dial).
    Output: one row per query — approximate result count, hits inside
    the exact top-3, and recall. A probe whose bucket holds no other
    vector scores recall 0, not a dropped row (left joins from the exact
    side).

    Plan shape: both sides reuse the audited ann plans; the comparison
    adds only |queries|-bounded joins on (q_id, neighbor_id)."""
    if exact3 is None:
        exact3 = _exact_top3(spark, sf_dir)
    approx = ann_lsh(spark, sf_dir).select("q_id", "neighbor_id")
    return _recall_vs_exact(exact3, approx)


def ivf_recall(
    spark: SparkSession, sf_dir: str, exact3: DataFrame | None = None
) -> DataFrame:
    """Recall@3 of the IVF probe against the exact top-3 — the same
    measured dial ann_recall reads for the LSH probe, pointed at the
    inverted-file structure instead. Together the two recall operators
    make every approximate ANN path in the repo a measured trade-off:
    K/CENTROID_MOD/nprobe tune against THIS number.

    Plan shape: reuses the audited ann_ivf and ann_topk plans; the
    comparison adds only |queries|-bounded joins on (q_id, neighbor_id).
    A query whose cell holds no other vector scores recall 0, not a
    dropped row (left joins from the exact side)."""
    if exact3 is None:
        exact3 = _exact_top3(spark, sf_dir)
    approx = ann_ivf(spark, sf_dir).select("q_id", "neighbor_id")
    return _recall_vs_exact(exact3, approx)


PQ_M = 8  # subspaces
PQ_DIM = 8  # dims per subspace (PQ_M * PQ_DIM = 64, the embedding width)
PQ_K = 32  # codebook entries per subspace — FIXED size, independent of
# corpus scale: the codebook must stay broadcastable at 100 TB (a
# %-of-corpus sample would not be), exactly like a trained 256-entry
# PQ codebook is fixed-size regardless of training-set size


def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-3 (Jegou et al. 2011, "Product Quantization
    for Nearest Neighbor Search"): vectors are compressed to PQ_M
    per-subspace codebook entries (the 100 TB memory play — 8 codes ≈
    8 bytes instead of 256 bytes per vector), candidates come from the
    query's own IVF cell (nprobe=1, as ann_ivf), and ranking uses the
    asymmetric distance (exact query vs RECONSTRUCTED candidate — here
    literally materialized as the decoded vector, which is the
    lookup-table ADC sum in distance terms).

    Codebook: the subvectors of the first PQ_K vectors by id — a
    deterministic FIXED-SIZE sample standing in for a trained
    per-subspace k-means (same policy as ann_ivf's coarse quantizer),
    keeping every step oracle-checkable; fixed size is what keeps the
    codebook broadcastable independent of corpus scale.

    Plan: encode = one broadcast cross join (vectors × codebook ×
    subspace rows) reduced by a (vec_id, m) min_by partial agg — never a
    shuffle of the corpus beyond the (vec_id, m) key; decode = ordered
    array flatten; probe = one equality join on the IVF cell id."""
    # vec_id, cid, embedding, nrm; persisted because both the query side
    # and the candidate side read it (same rationale as ann_ivf)
    cells = _ivf_cells(spark, sf_dir).persist()
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.where(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("ccid"), F.col("embedding").alias("cemb")
    )
    ms = F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m")
    subs = emb.select("vec_id", ms, "embedding").select(
        "vec_id",
        "m",
        F.slice("embedding", F.col("m") * PQ_DIM + 1, PQ_DIM).alias("subv"),
    )
    csubs = cents.select("ccid", ms, "cemb").select(
        "ccid",
        "m",
        F.slice("cemb", F.col("m") * PQ_DIM + 1, PQ_DIM).alias("csub"),
    )
    scored = subs.join(F.broadcast(csubs), "m").selectExpr(
        "vec_id", "m", "ccid", "csub", f"{l2sq_sql('subv', 'csub')} AS d"
    )
    best = scored.groupBy("vec_id", "m").agg(
        F.min_by(
            "csub", F.struct(F.col("d").alias("d"), F.col("ccid").alias("c"))
        ).alias("bsub")
    )
    recon = best.groupBy("vec_id").agg(
        F.flatten(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("m"), F.col("bsub")))
                ),
                lambda s: s["bsub"],
            )
        ).alias("recon")
    )
    q = cells.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"), "cid"
    )
    cand = cells.select("vec_id", "cid").join(recon, "vec_id")
    pairs = q.join(cand, "cid").where(F.col("vec_id") != F.col("q_id"))
    scored_q = pairs.selectExpr(
        "q_id", "vec_id AS neighbor_id", f"round({l2sq_sql('q_emb', 'recon')}, 6) AS adist"
    )
    return top_k_per_query(scored_q, IVF_TOPK, "adist")


def pq_recall(
    spark: SparkSession, sf_dir: str, exact3: DataFrame | None = None
) -> DataFrame:
    """Recall@3 of the IVF-PQ probe against the exact top-3 — the third
    measured ANN dial (ann_recall: LSH; ivf_recall: IVF; this: PQ), so
    the quantization loss of the 8-byte codes is itself a measured
    number, separable from the IVF cell-miss loss ivf_recall isolates
    (same candidate set, coarser distances). Plan shape: reuses the
    audited ann_pq and ann_topk plans plus |queries|-bounded joins."""
    if exact3 is None:
        exact3 = _exact_top3(spark, sf_dir)
    approx = ann_pq(spark, sf_dir).select("q_id", "neighbor_id")
    return _recall_vs_exact(exact3, approx)


def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training pair mining (the DPR/SimCSE data recipe):
    for every query vector, the nearest SAME-label neighbor (positive)
    and the nearest DIFFERENT-label neighbor (hard negative), plus the
    margin between them — the per-anchor triple an embedding trainer
    consumes. Labeled brute-force baseline like ann_topk (queries
    broadcast, corpus scanned once); the scale path blocks candidates
    by LSH bucket / IVF cell exactly as the ann_* family does.

    Plan: ONE pass over the scored pairs — both argmaxes are max_by
    partial aggregates riding a single q_id shuffle (no window, no
    second scan). Queries whose label has no second member (no possible
    positive) are dropped by the non-null filter, matching the oracle's
    inner joins."""
    emb = _rebalanced(spark, sf_dir, "vec_id", "embedding", "label", _NRM)
    q = emb.selectExpr(
        "vec_id AS q_id", "embedding AS q_emb", "label AS q_label", "nrm AS q_nrm"
    ).where(f"q_id % {QUERY_MOD} = 0")
    scored = emb.join(broadcast_if_fits(q), F.col("vec_id") != F.col("q_id")).selectExpr(
        "q_id", "q_label", "vec_id", "label", _COS
    )
    same = F.col("label") == F.col("q_label")
    rank = F.struct(F.col("cos").alias("c"), (-F.col("vec_id")).alias("t"))
    out = scored.groupBy("q_id").agg(
        F.max_by(F.when(same, F.col("vec_id")), F.when(same, rank)).alias("pos_id"),
        F.max(F.when(same, F.col("cos"))).alias("pos_cos"),
        F.max_by(F.when(~same, F.col("vec_id")), F.when(~same, rank)).alias(
            "neg_id"
        ),
        F.max(F.when(~same, F.col("cos"))).alias("neg_cos"),
    )
    return out.where(
        F.col("pos_id").isNotNull() & F.col("neg_id").isNotNull()
    ).select(
        "q_id",
        "pos_id",
        "pos_cos",
        "neg_id",
        "neg_cos",
        F.round(F.col("pos_cos") - F.col("neg_cos"), 6).alias("margin"),
    )


SQ_LEVELS = 255  # 8-bit codes
SQ_TOPK = 3

# the recall dials compare each approximate index's top-K against ONE
# shared exact top-K (_exact_top3, cut at LSH_TOPK); the per-index
# constants must agree or the shared ground truth grades at the wrong K
assert LSH_TOPK == IVF_TOPK == SQ_TOPK
EMB_DIM = 64


def _sq_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantize the corpus to 8-bit per-dimension codes and return
    the RECONSTRUCTED vectors (vec_id, remb, rnrm). Per-dimension min/max
    come from one 64-group partial agg; the (mins, ranges) model is a
    1-row broadcast, so encode+decode are map-side."""
    emb = load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    ).select("vec_id", "embedding")
    stats = (
        emb.select(F.posexplode("embedding").alias("i0", "x"))
        .select((F.col("i0") + 1).alias("i"), F.col("x").cast("double").alias("x"))
        .groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    dims = stats.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("i", "mn"))), lambda s: s["mn"]
        ).alias("mns"),
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("i", (F.col("mx") - F.col("mn")).alias("r")))
            ),
            lambda s: s["r"],
        ).alias("rngs"),
    )

    def recon_elem(i):
        mn = F.element_at(F.col("mns"), i)
        rng = F.element_at(F.col("rngs"), i)
        xv = F.element_at(F.col("embedding"), i).cast("double")
        code = F.when(
            rng > 0, F.round(((xv - mn) / rng) * F.lit(255.0), 0)
        ).otherwise(F.lit(0.0))
        return mn + (code * rng) / F.lit(255.0)

    recon = emb.crossJoin(F.broadcast(dims)).select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(1), F.lit(EMB_DIM)), recon_elem
        ).alias("remb"),
    )
    return recon.selectExpr("vec_id", "remb", f"{norm_sql('remb')} AS rnrm")


def ann_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN (the third compression path next to IVF
    cells and PQ codes — the faiss SQ8 recipe): corpus vectors are
    8-bit-per-dimension quantized against per-dimension global [min, max],
    queries stay exact, and ranking is asymmetric cosine (exact query ×
    reconstructed corpus). SQ trades 4x memory (64 B codes vs 256 B
    floats) for quantization noise that sq_recall measures.

    Determinism: per-dim min/max are exact (no summation); code =
    round((x−mn)/rng·255) is HALF-UP on positive doubles in both
    engines; reconstruction and the cosine folds are fixed-order dags.

    Scale: the 64-entry (min, range) model is a 1-row broadcast (the
    quantizer analog of the PQ codebook); encode/decode are map-side;
    the probe itself is the labeled brute-force baseline shape (queries
    broadcast, corpus scanned once)."""
    emb = load_table(spark, sf_dir, "embeddings").selectExpr("vec_id", "embedding", _NRM)
    recon = _sq_recon(spark, sf_dir)
    scored = recon.join(
        broadcast_if_fits(_queries(emb)), F.col("vec_id") != F.col("q_id")
    ).selectExpr(
        "q_id", "vec_id AS neighbor_id", f"{cos_sql('q_emb', 'remb', 'q_nrm', 'rnrm')} AS cos"
    )
    return top_k_per_query(scored, SQ_TOPK)


def sq_recall(
    spark: SparkSession, sf_dir: str, exact3: DataFrame | None = None
) -> DataFrame:
    """Recall@3 of the scalar-quantized probe vs the exact top-3 —
    isolates pure quantization loss (SQ scans the full corpus, so any
    miss is the 8-bit rounding, not candidate pruning). Completes the
    measured-dial set: LSH, IVF, PQ, SQ all report to the same scale."""
    if exact3 is None:
        exact3 = _exact_top3(spark, sf_dir)
    approx = ann_sq(spark, sf_dir).select("q_id", "neighbor_id")
    return _recall_vs_exact(exact3, approx)


EMB_MICRO = 1_000_000


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outlier flags: distance of every vector to its
    label centroid, z-scored against the label's own distance
    distribution (flag at z >= 2) — the embedding-space quality gate a
    training pipeline runs before trusting labels or clustering output
    (mislabeled / off-manifold vectors surface as outliers).

    Cross-engine determinism: embeddings are first quantized to integer
    micro-units, so the per-(label, dim) centroid sums are EXACT
    integers (no float-accumulation order exposure); each vector's
    distance is a per-row sequential fold over the integer-derived
    centroid, rounded to 6 dp; and the z-score statistics (n, Σd, Σd²)
    aggregate the micro-unit distances as exact integers again. Every
    double in the output is a fixed dag of integers.

    Scale: two bounded partial-agg shuffles (|labels|×dims centroid sums,
    |labels| distance stats) + two broadcast joins; the corpus itself is
    touched map-side twice and never shuffled."""
    emb = load_table(spark, sf_dir, "embeddings")
    vint = emb.select(
        "vec_id",
        "label",
        F.expr(
            f"transform(embedding, x -> CAST(round(x * {EMB_MICRO}) AS BIGINT))"
        ).alias("v"),
    )
    dims = (
        vint.select("label", F.posexplode("v").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    cent = (
        dims.withColumn("cmean", F.col("s").cast("double") / F.col("n"))
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, cmean))),"
                " s -> s.cmean)"
            ).alias("c")
        )
    )
    d2 = F.expr(l2sq_sql("v", "c"))
    di = (
        vint.join(F.broadcast(cent), "label")
        .select(
            "vec_id",
            "label",
            F.round(F.sqrt(d2) / EMB_MICRO, 6).alias("dist"),
        )
        .withColumn(
            "d_int", F.expr(f"CAST(round(dist * {EMB_MICRO}) AS BIGINT)")
        )
    )
    st = di.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d_int").alias("sd"),
        F.sum(F.col("d_int") * F.col("d_int")).alias("sdd"),
    )
    var = (F.col("n") * F.col("sdd") - F.col("sd") * F.col("sd")).cast(
        "double"
    ) / (F.col("n") * (F.col("n") - F.lit(1))).cast("double")
    mean = F.col("sd").cast("double") / F.col("n")
    z = F.when(
        (F.col("n") > 1) & (var > 0),
        F.round((F.col("d_int") - mean) / F.sqrt(var), 4),
    ).otherwise(F.lit(0.0))
    return (
        di.join(F.broadcast(st), "label")
        .select(
            "vec_id",
            "label",
            "dist",
            z.alias("z_score"),
            (z >= 2.0).alias("is_outlier"),
        )
    )


SWEEP_THRESHOLDS = [0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8]


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-threshold sensitivity curve for embedding dedup: for each
    candidate threshold, how many near-dup pairs fire and how many
    vectors the greedy keep-smallest-id policy would drop. The dial that
    chooses COS_THRESHOLD before committing a corpus-wide dedup run —
    pairs with dedup_recall/simhash_recall as the evaluation loop for
    the embedding path.

    Candidates come from the SAME 8-bit sign-LSH bucket join as
    dedup_embedding_lsh (equality join, ~1/256 of all pairs, never
    all-pairs); each candidate is tagged with every threshold it clears
    via an array filter + explode (map-side), and both statistics are
    bounded by |candidates|·|thresholds|. The drop count is a distinct
    per threshold — computed as a two-level aggregate, no Expand."""
    pairs = _bucket_pairs(spark, sf_dir).selectExpr("vec_b", _PAIR_COS)
    t_arr = F.array(*[F.lit(float(t)) for t in SWEEP_THRESHOLDS])
    tagged = pairs.select(
        "vec_b",
        F.explode(F.filter(t_arr, lambda t: F.col("cos") >= t)).alias(
            "threshold"
        ),
    ).persist()
    n_pairs = tagged.groupBy("threshold").agg(F.count(F.lit(1)).alias("n_pairs"))
    dropped = (
        tagged.select("threshold", "vec_b")
        .distinct()
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    return n_pairs.join(dropped, "threshold").select(
        "threshold", "n_pairs", "n_dropped"
    )

COHESION_MICRO = 1_000_000  # micro-unit quantization (pca.py's _MICRO)


def label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space label cohesion: per label, the mean cosine of
    member vectors to their OWN label centroid vs to the GLOBAL centroid,
    and the separation between the two — the one-table answer to "do
    these labels carve the embedding space at all?" (separation → 0
    means label-conditioned retrieval/balancing will not work, the same
    collapse diagnostic embedding_pca gives for rank).

    Cross-engine determinism (pca.py's discipline): vectors quantize to
    exact integer micro-units, so per-label per-dim centroid SUMS are
    exact integers regardless of partition order; cosine uses the
    centroid SUM directly (scaling by 1/n cancels in cosine) as a fixed
    64-step left fold of doubles (bit-identical in DuckDB's
    list_reduce); per-row cosines round to micro-units and sum as
    integers before the single final division.

    Scale: one 64-column wide integer agg per label (shuffle rows =
    |labels| x 64), the 10-row centroid table broadcast back onto the
    scan, one rollup. No explode, no pair join."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr(
            f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {COHESION_MICRO}) AS BIGINT))"
        ).alias("mu"),
    )
    sums = emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.col("mu").getItem(i)).alias(f"s{i}") for i in range(EMB_DIM)],
    )
    cen = sums.select(
        "label",
        F.array(
            *[F.col(f"s{i}").cast("double") for i in range(EMB_DIM)]
        ).alias("cs"),
    )
    gl = (
        sums.agg(*[F.sum(f"s{i}").alias(f"g{i}") for i in range(EMB_DIM)])
        .select(
            F.array(
                *[F.col(f"g{i}").cast("double") for i in range(EMB_DIM)]
            ).alias("gs")
        )
        .withColumn("jk", F.lit(1))
    )

    def _cos(vec: str, cen_col: str) -> Column:
        n1 = (
            f"aggregate({vec}, CAST(0.0 AS DOUBLE),"
            " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        )
        n2 = (
            f"aggregate({cen_col}, CAST(0.0 AS DOUBLE),"
            " (acc, x) -> acc + x * x)"
        )
        return F.expr(f"{dot_sql(vec, cen_col)} / (sqrt({n1}) * sqrt({n2}))")

    scored = (
        emb.join(F.broadcast(cen), "label")
        .withColumn("jk", F.lit(1))
        .join(F.broadcast(gl), "jk")
        .select(
            "label",
            F.round(_cos("mu", "cs") * COHESION_MICRO)
            .cast("long")
            .alias("co_mu"),
            F.round(_cos("mu", "gs") * COHESION_MICRO)
            .cast("long")
            .alias("cg_mu"),
        )
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum("co_mu") / (F.count(F.lit(1)) * F.lit(float(COHESION_MICRO))), 6
        ).alias("mean_cos_own"),
        F.round(
            F.sum("cg_mu") / (F.count(F.lit(1)) * F.lit(float(COHESION_MICRO))), 6
        ).alias("mean_cos_global"),
        F.round(
            (F.sum("co_mu") - F.sum("cg_mu"))
            / (F.count(F.lit(1)) * F.lit(float(COHESION_MICRO))),
            6,
        ).alias("separation"),
    )


def ann_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of THE true nearest neighbor inside the LSH
    probe's top-3 — the rank-position dial ann_recall doesn't read
    (recall@3 says the truth is somewhere in the bucket's top 3; this
    says whether it comes back FIRST, which is what a
    retrieval-augmented pipeline actually consumes). rr = 1/rank when
    the exact rank-1 neighbor appears in ann_lsh's ranking, 0 when the
    bucket misses it; the mean over queries is MRR@3.

    Plan shape: reuses the two audited ANN plans; the comparison is a
    |queries|-bounded left join on (q_id, neighbor_id)."""
    exact1 = (
        ann_topk(spark, sf_dir)
        .where(F.col("rk") == 1)
        .select("q_id", "neighbor_id")
    )
    approx = ann_lsh(spark, sf_dir).select("q_id", "neighbor_id", "rk")
    return (
        exact1.join(approx, ["q_id", "neighbor_id"], "left")
        .select(
            "q_id",
            F.col("neighbor_id").alias("true_neighbor_id"),
            F.col("rk").isNotNull().cast("long").alias("found"),
            F.round(F.coalesce(1.0 / F.col("rk"), F.lit(0.0)), 6).alias("rr"),
        )
    )


IVF_NPROBES = (1, 2, 3)


def ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF recall/cost curve over nprobe ∈ {1, 2, 3}: each query
    probes its nprobe nearest centroid cells and the pooled recall@3
    against the exact top-3 is reported next to the candidate count —
    the measured trade-off the nprobe knob is actually set from
    (ivf_recall reads the nprobe=1 point; this draws the curve, the
    minhash_band_sweep convention applied to IVF).

    Exactness: cell assignment and probe ranking reuse the rounded
    cosine ordering of _ivf_cells; recall is POOLED (Σhits / Σexact,
    exact integers, one rounded division) — never a mean of per-query
    rationals, whose summation order diverges across engines.

    Scale: corpus assignment and the probe ranking are broadcast-
    centroid map-side ops; candidates are cell-equality joins (a vector
    sits in exactly one cell, so probes never duplicate candidates);
    everything after is |queries|-bounded."""
    cells = _ivf_cells(spark, sf_dir).persist()
    cents = _centroids(_rebalanced(spark, sf_dir, "vec_id", "embedding", _NRM))
    q = _queries(cells)
    wq = Window.partitionBy("q_id").orderBy(F.desc("cscore"), F.asc("cid"))
    qrank = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("cscore", F.expr(cos_sql("q_emb", "cemb", "q_nrm", "cnrm")))
        .select(
            "q_id", "q_emb", "q_nrm", "cid",
            F.row_number().over(wq).alias("crk"),
        )
        .where(F.col("crk") <= max(IVF_NPROBES))
    )
    probes = qrank.select(
        "*", F.explode(F.array(*[F.lit(n) for n in IVF_NPROBES])).alias("np")
    ).where(F.col("crk") <= F.col("np"))
    cand = (
        probes.join(cells, "cid")
        .where(F.col("vec_id") != F.col("q_id"))
        .selectExpr("np", "q_id", "vec_id AS neighbor_id", _COS)
        .persist()
    )
    w2 = Window.partitionBy("np", "q_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    approx = cand.select(
        "np", "q_id", "neighbor_id", F.row_number().over(w2).alias("rk")
    ).where(F.col("rk") <= IVF_TOPK)
    exact3 = (
        ann_topk(spark, sf_dir)
        .where(F.col("rk") <= IVF_TOPK)
        .select("q_id", "neighbor_id")
        .persist()
    )
    n_cand = cand.groupBy("np").agg(F.count(F.lit(1)).alias("n_candidates"))
    hits = (
        approx.join(exact3, ["q_id", "neighbor_id"])
        .groupBy("np")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    totals = exact3.agg(F.count(F.lit(1)).alias("n_exact")).join(
        q.agg(F.count(F.lit(1)).alias("n_queries"))
    )
    return (
        n_cand.join(hits, "np", "left")
        .join(F.broadcast(totals))
        .select(
            F.col("np").cast("long").alias("nprobe"),
            "n_queries",
            "n_candidates",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            "n_exact",
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.col("n_exact"), 6
            ).alias("recall"),
        )
    )


TRUNC_DIMS = 16  # Matryoshka prefix length graded against the full 64


def dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of brute-force search over the FIRST 16 embedding
    dimensions against the full-64-dim exact top-5 — the
    Matryoshka-truncation dial (Kusupati et al. 2022): production
    vector stacks search a dimension PREFIX to cut memory/compute 4x
    and re-rank with the full vector, and this operator measures what
    that prefix alone retrieves. Completes the ANN evaluation suite:
    LSH/IVF/PQ/SQ dials measure quantization; this one measures
    truncation. On the synthetic isotropic embeddings the dial reads
    LOW (~0.04 vs ~0.003 random) — correct behavior: signal is spread
    evenly across dims, exactly what this audit exists to reveal
    before anyone ships a prefix index over untrained dims.

    Plan shape: two labeled brute-force baselines (the ann_topk
    broadcast-queries shape; the scale path for both is ann_topk_fast /
    ann_lsh) plus |queries|-bounded joins. The truncated pass folds a
    16-element slice — a real 4x less arithmetic, same as at scale."""
    exact = ann_topk(spark, sf_dir).select("q_id", "neighbor_id")
    emb = _rebalanced(
        spark, sf_dir, "vec_id", f"slice(embedding, 1, {TRUNC_DIMS}) AS temb"
    ).selectExpr("vec_id", "temb", f"{norm_sql('temb')} AS nrm")
    q = emb.selectExpr("vec_id AS q_id", "temb AS q_emb", "nrm AS q_nrm").where(
        f"q_id % {QUERY_MOD} = 0"
    )
    scored = emb.join(broadcast_if_fits(q), F.col("vec_id") != F.col("q_id")).selectExpr(
        "q_id", "vec_id AS neighbor_id", f"{cos_sql('q_emb', 'temb', 'q_nrm', 'nrm')} AS cos"
    )
    trunc = top_k_per_query(scored, TOPK).select("q_id", "neighbor_id")
    hits = trunc.join(exact, ["q_id", "neighbor_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        exact.groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.col("n_exact"), 6
            ).alias("recall"),
        )
    )


DRIFT_MICRO = 1_000_000  # micro-unit quantization (the embedding_pca discipline)


def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-space drift monitor between two embedding snapshots
    (stand-in split: even vs odd vec_id — in production, yesterday's
    ingest vs today's): per label, the cosine between the two
    snapshots' mean vectors and the L2 shift of the mean — the
    dashboard that catches a silently retrained / re-normalized
    encoder before a week of vectors lands in the same index as the
    old ones. The vector-space counterpart of profile_drift / ks_drift
    (which watch scalar columns).

    Scale: ONE pass — posexplode to (label, dim) and a conditional
    two-snapshot agg (map-side combined, ≤ |labels|×64 rows out), then
    a |labels|-row fold. No joins, no second scan.

    Determinism: per-dim means are quantized to exact integer
    micro-units (round(avg·1e6) as BIGINT, the embedding_pca
    discipline), so the cosine/shift numerators and norms are EXACT
    integer sums in both engines — one division + round(…, 6) at the
    very end."""
    emb = load_table(spark, sf_dir, "embeddings")
    cells = emb.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("is_a"),
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos", "x"
        ),
    )
    lvl1 = cells.groupBy("label", "pos").agg(
        F.round(F.avg(F.when(F.col("is_a"), F.col("x"))) * DRIFT_MICRO, 0)
        .cast("long")
        .alias("ua"),
        F.round(F.avg(F.when(~F.col("is_a"), F.col("x"))) * DRIFT_MICRO, 0)
        .cast("long")
        .alias("ub"),
        F.sum(F.col("is_a").cast("long")).cast("long").alias("na"),
        F.sum((~F.col("is_a")).cast("long")).cast("long").alias("nb"),
    )
    return (
        lvl1.groupBy("label")
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.sum(F.col("ua") * F.col("ub")).cast("long").alias("num"),
            F.sum(F.col("ua") * F.col("ua")).cast("long").alias("na2"),
            F.sum(F.col("ub") * F.col("ub")).cast("long").alias("nb2"),
            F.sum((F.col("ua") - F.col("ub")) * (F.col("ua") - F.col("ub")))
            .cast("long")
            .alias("shift2"),
        )
        .where((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .select(
            "label",
            "n_a",
            "n_b",
            F.round(
                F.col("num") / (F.sqrt("na2") * F.sqrt("nb2")), 6
            ).alias("mean_cosine"),
            F.round(F.sqrt("shift2") / DRIFT_MICRO, 6).alias("mean_shift"),
        )
    )


# ann_pareto memory model (bytes per stored vector), from this repo's
# structure constants: flat keeps 64 float32 dims; LSH adds a 1-byte
# 8-bit signature to the full vectors it reranks; IVF adds an 8-byte
# cell id; PQ stores only PQ_M 1-byte codes; SQ stores 64 1-byte codes.
ANN_BYTES = {
    "flat": EMB_DIM * 4,
    "lsh": EMB_DIM * 4 + 1,
    "ivf": EMB_DIM * 4 + 8,
    "pq": PQ_M,
    "sq": EMB_DIM,
}


def ann_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN decision table: one row per index structure with its
    bytes-per-vector memory cost, compression vs flat float32, and the
    MEASURED mean recall@3 from this repo's own dials (ann_recall /
    ivf_recall / pq_recall / sq_recall; flat is the recall-1.0
    baseline). The recall dials exist so "approximate" is a number —
    this operator is where the numbers meet the memory budget: at
    100 TB of vectors you read THIS table, not four separate dials,
    to pick the index.

    Scale: each dial is its audited plan, but the shared brute-force
    ground truth (_exact_top3 — the expensive side of every dial) is
    computed ONCE and persisted across all four, instead of four times.

    Determinism: per-query recalls are already 6-dp-quantized — the
    means sum them as exact integer micro-units (one division at the
    end, the embedding_pca discipline)."""

    def _mean(df: DataFrame, method: str) -> DataFrame:
        return (
            df.agg(
                F.sum(F.round(F.col("recall") * 1e6, 0).cast("long"))
                .cast("long")
                .alias("su"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
            .where(F.col("n") > 0)
            .select(
                F.lit(method).alias("method"),
                F.lit(ANN_BYTES[method]).cast("long").alias("bytes_per_vec"),
                F.round(
                    F.lit(float(ANN_BYTES["flat"]) )
                    / ANN_BYTES[method],
                    4,
                ).alias("compression_x"),
                F.round(
                    F.col("su") / F.col("n").cast("double") / 1e6, 6
                ).alias("mean_recall"),
            )
        )

    exact3 = _exact_top3(spark, sf_dir).persist()
    lsh = _mean(ann_recall(spark, sf_dir, exact3), "lsh")
    ivf = _mean(ivf_recall(spark, sf_dir, exact3), "ivf")
    pq = _mean(pq_recall(spark, sf_dir, exact3), "pq")
    sq = _mean(sq_recall(spark, sf_dir, exact3), "sq")
    flat = lsh.select(
        F.lit("flat").alias("method"),
        F.lit(ANN_BYTES["flat"]).cast("long").alias("bytes_per_vec"),
        F.lit(1.0).alias("compression_x"),
        F.lit(1.0).alias("mean_recall"),
    )
    out = flat
    for b in (lsh, ivf, pq, sq):
        out = out.unionByName(b)
    return out


def ann_candidate_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scored-candidate counts per ANN path — the similarity-search twin
    of dedup_candidate_volume (r7): one row per method with the number
    of (query, corpus) pairs its scorer actually evaluates. The top-k
    outputs are the same size for every path; the candidate count is
    what the cluster pays, so IT is the number that must stay bounded
    as the corpus grows:

    - brute_force: |q| x (n - 1), the exact fold/BLAS baselines' designed
      cost (computed from the two counts, which is what the BNLJ emits
      by construction);
    - lsh: pairs sharing the full 8-bit sign-LSH bucket (~n/256 per probe);
    - lsh_multi: DISTINCT pairs colliding in ANY of the 4 tables — the
      deduped frame ann_lsh_multi scores exactly once per pair;
    - ivf: pairs sharing the query's nearest-centroid cell (nprobe=1).

    Scale: each branch is the family's real candidate generator folded
    into a 1-row count — partial aggs all the way, 4 rows to the driver."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_all = emb.agg(F.count(F.lit(1)).alias("n"))
    n_q = emb.where(F.col("vec_id") % QUERY_MOD == 0).agg(
        F.count(F.lit(1)).alias("nq")
    )
    brute = n_q.crossJoin(n_all).select(
        F.lit("brute_force").alias("method"),
        (F.col("nq") * (F.col("n") - 1)).cast("long").alias("n_candidates"),
    )

    # Each method's query side is a BROADCAST of the same hashed frame
    # as its corpus side, and a broadcast build cannot reuse the other
    # side's pipeline (no exchange to share) — without persists every
    # plane/centroid dot-product pipeline here ran TWICE, and this dial
    # stacks four of them (8+32+K+log2(n) folds per row). Persist each
    # hashed frame so it computes once; bench/driver clear the caches
    # between queries (the dedup._pair_stats discipline). Measured at
    # sf0.1: 13.1 -> ~7 s single-shot.
    def _collisions(
        hashed: DataFrame, keys: list[str], method: str, distinct: bool = False
    ) -> DataFrame:
        """The count of (query, corpus) pairs of `hashed` equal on `keys`,
        each pair counted once if `distinct`."""
        q = hashed.selectExpr("vec_id AS q_id", *keys).where(f"q_id % {QUERY_MOD} = 0")
        pairs = hashed.join(broadcast_if_fits(q), keys).where(F.col("vec_id") != F.col("q_id"))
        if distinct:
            pairs = pairs.select("q_id", "vec_id").distinct()
        return pairs.agg(F.count(F.lit(1)).cast("long").alias("n_candidates")).select(
            F.lit(method).alias("method"), "n_candidates"
        )

    lsh = _collisions(emb.selectExpr("vec_id", _BUCKET).persist(), ["bucket"], "lsh")
    multi = _collisions(
        _table_bucket_rows(emb).persist(), ["t", "bucket"], "lsh_multi", distinct=True
    )
    cells = _ivf_cells(spark, sf_dir).select("vec_id", "cid").persist()
    ivf = _collisions(cells, ["cid"], "ivf")
    # lsh_adaptive (r7): same bucket-collision count over the log2(n)-wide
    # code — the row that shows the adaptive width restoring the ~linear
    # volume growth fixed-width LSH loses (SCALING.md r7 dial #6).
    ab = emb.selectExpr("vec_id", _adaptive_bucket(emb.count())).persist()
    ada = _collisions(ab, ["bucket"], "lsh_adaptive")
    return (
        brute.unionByName(lsh).unionByName(multi).unionByName(ivf).unionByName(ada)
    )


# --- adaptive sign-LSH: plane count grows with log2(n) (round 7) ----------

N_PLANES_MAX = 16  # widest supported code; 2^16 buckets ~ 3M vectors/cell50
ADAPTIVE_TARGET = 50  # designed mean bucket occupancy at ANY corpus size

# Planes 0..7 are EXACTLY similarity.PLANES (same md5 seeds), so the
# adaptive bucket is always a prefix-mask of this family's full code —
# the fixed 8-bit structures and the adaptive one share hash planes.
ADAPTIVE_PLANES: list[list[float]] = [
    [_plane_sign(p, d) for d in range(64)] for p in range(N_PLANES_MAX)
]


def adaptive_nbits(n: int) -> int:
    """ceil(log2(n / ADAPTIVE_TARGET)) clamped to [1, N_PLANES_MAX]: the
    plane count that keeps MEAN bucket occupancy ~ADAPTIVE_TARGET as the
    corpus grows. Mirrored bit-for-bit by the oracle's
    GREATEST(1, LEAST(16, CEIL(LOG2(n / 50.0)))) — both sides compute the
    same scalar from the same count, and n/50.0 is exact binary at the
    power-of-two crossovers, so the ceil never straddles an ulp."""
    import math

    return max(1, min(N_PLANES_MAX, math.ceil(math.log2(max(n, 1) / ADAPTIVE_TARGET))))


def _adaptive_bucket(n: int) -> str:
    """SQL text for the adaptive_nbits(n)-wide sign-LSH bucket: the low
    bits of the N_PLANES_MAX-wide code, of which only those dot products
    are evaluated."""
    return f"{sign_bucket_sql('embedding', ADAPTIVE_PLANES[:adaptive_nbits(n)])} AS bucket"


def ann_lsh_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH top-3 whose plane count GROWS WITH log2(n) — the 100 TB
    fix for the cost shape ann_candidate_volume measured: fixed 8-bit LSH
    keeps 256 buckets at any corpus size, so its candidate volume is the
    brute-force quadratic divided by a constant (measured 106x at 10x
    data, SCALING.md r7 dial #6), while IVF's K scales with n and stays
    ~linear. This operator gives the LSH path the same property: nbits =
    ceil(log2(n / 50)) planes, so bucket count ~ n/50 and per-probe cost
    stays ~ADAPTIVE_TARGET vectors at ANY corpus size — candidate volume
    ~linear in the query count, like IVF, with no centroid training.

    The corpus count n comes from one cheap driver-side count() — the
    same catalog-ANALYZE pattern as the revisions skew router; on a real
    deployment it reads table stats. Everything downstream is the audited
    ann_lsh plan shape: bucket-equality join, broadcast query side,
    rebalanced scan (the fold dot products are CPU-dense per row).

    Output adds the chosen `nbits` so the adaptivity itself is graded."""
    n = load_table(spark, sf_dir, "embeddings").count()
    emb = _rebalanced(spark, sf_dir, "vec_id", "embedding", _adaptive_bucket(n), _NRM)
    pairs = emb.join(broadcast_if_fits(_queries(emb, "bucket")), "bucket").where(
        F.col("vec_id") != F.col("q_id")
    )
    return top_k_per_query(_scored(pairs), LSH_TOPK).withColumn(
        "nbits", F.lit(adaptive_nbits(n)).cast("long")
    )


def ann_adaptive_recall(
    spark: SparkSession, sf_dir: str, exact3: DataFrame | None = None
) -> DataFrame:
    """Recall@3 of the ADAPTIVE LSH probe against the exact top-3 — the
    dial that prices what the log(n) plane growth costs in recall: more
    planes = smaller buckets = cheaper probes but more hyperplane
    straddles. Read together with ann_recall (fixed 8-bit) this is the
    cost/recall trade of the adaptive width at the current corpus size.
    Same |queries|-bounded comparison joins as every recall dial."""
    if exact3 is None:
        exact3 = _exact_top3(spark, sf_dir)
    approx = ann_lsh_adaptive(spark, sf_dir).select("q_id", "neighbor_id")
    return _recall_vs_exact(exact3, approx)


def ann_bucket_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-occupancy audit for every ANN partitioning structure — the
    STRAGGLER dial that candidate volume can't see: candidate counts say
    what the cluster pays in total, the MAX bucket says what the slowest
    task pays (a single hot bucket serializes its probes exactly like a
    hot page serializes a window). One row per structure with bucket
    count, max/mean occupancy and skew_x = max/mean; a capacity planner
    reads skew_x to decide whether a structure needs salting before it
    needs more executors.

    Scale: three narrow groupBy-count aggs over (vec_id, bucket) frames —
    partial aggs, no payload columns, 3 rows to the driver. skew_x is
    computed as (max*count)/n in one float divide, cross-engine exact."""
    emb = _rebalanced(spark, sf_dir, "vec_id", "embedding")
    n = load_table(spark, sf_dir, "embeddings").count()

    def _stats(assign: DataFrame, method: str) -> DataFrame:
        occ = assign.groupBy("bucket").agg(F.count(F.lit(1)).alias("occ"))
        return occ.agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum("occ").cast("long").alias("n_vectors"),
            F.max("occ").cast("long").alias("max_occ"),
        ).select(
            F.lit(method).alias("method"),
            "n_buckets",
            "n_vectors",
            "max_occ",
            F.round(F.col("n_vectors") / F.col("n_buckets").cast("double"), 4).alias(
                "mean_occ"
            ),
            F.round(
                (F.col("max_occ") * F.col("n_buckets")) / F.col("n_vectors").cast("double"),
                4,
            ).alias("skew_x"),
        )

    lsh = _stats(emb.selectExpr("vec_id", _BUCKET), "lsh")
    ada = _stats(emb.selectExpr("vec_id", _adaptive_bucket(n)), "lsh_adaptive")
    ivf = _stats(
        _ivf_cells(spark, sf_dir).select("vec_id", F.col("cid").alias("bucket")),
        "ivf",
    )
    return lsh.unionByName(ada).unionByName(ivf)

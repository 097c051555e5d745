"""Vectorized brute-force ANN — the Arrow/numpy statement of ann_topk.

`ann_topk` keeps scoring inside Catalyst expression folds: exact,
oracle-hashable, but per-element. When the corpus is huge the right kernel
is a BLAS matmul over Arrow batches: queries are tiny (broadcast), each
corpus batch computes a (batch x n_queries) similarity block, emits its
local top-k per query, and a final window reduces the per-batch candidates
— global top-k is a subset of the union of batch top-ks, so the two-stage
reduction is exact on distinct scores. Under exact score TIES at a batch's
local cut, argpartition keeps an arbitrary tied subset, so the final
tie-break can differ from ann_topk's (rounded cos, neighbor_id) order —
the agreement test allows one neighbor of slack for this.

This is the designed use of the Pandas-UDF escape hatch (numeric kernels
where expression evaluation is the bottleneck): ~10x the fold version at
sf0.1 and the gap widens with corpus size. Registered rows-only: BLAS
summation order differs from the sequential fold in the last float bits,
so hash-matching the SQL oracle would be fragile by construction; the
unit test instead checks agreement with ann_topk.

Scale: queries broadcast once; corpus partition-parallel; shuffle is
|batches| x |queries| x k candidate rows, independent of corpus width.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hedera_spark.operators.similarity import QUERY_MOD, TOPK, top_k_per_query
from hedera_spark.sources.tables import load_table

OUT_SCHEMA = "q_id long, neighbor_id long, cos double"


def ann_topk_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized brute-force cosine top-k: broadcast queries, per-batch
    BLAS matmul + local top-k, exact global window reduction."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qpdf = emb.where(F.col("vec_id") % QUERY_MOD == 0).toPandas()
    q_ids = qpdf["vec_id"].to_numpy()
    qm = np.stack(qpdf["embedding"].to_numpy()).astype(np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((q_ids, qm))

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, mat_q = bc.value
        k = TOPK + 1  # +1 so dropping the self-match never starves a query
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ mat_q.T  # (batch, n_queries)
            nid = pdf["vec_id"].to_numpy()
            kk = min(k, sims.shape[0])
            top = np.argpartition(-sims, kk - 1, axis=0)[:kk]  # (kk, n_queries)
            out = {
                "q_id": np.repeat(ids_q, kk),
                "neighbor_id": nid[top].T.ravel(),
                "cos": np.take_along_axis(sims, top, axis=0).T.ravel(),
            }
            yield pd.DataFrame(out)

    # Parallelism REBALANCE of the raw scan before the CPU-dense kernel:
    # a compact parquet corpus scans as a handful of row-group partitions
    # (sf1 = 2), which would serialize the BLAS matmul onto that many
    # cores. Same discipline as fingerprint / dedup._shingles — this is
    # not an algorithmic shuffle, it spreads the matmul over all cores.
    spread = emb.repartition(spark.sparkContext.defaultParallelism)
    cands = spread.mapInPandas(score_batches, schema=OUT_SCHEMA).where(
        F.col("neighbor_id") != F.col("q_id")
    )
    return top_k_per_query(cands, TOPK).select(
        "q_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rk"
    )


def ann_topk_fast_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-oracled agreement projection over ann_topk_fast (the r5
    waiver retirement): raw BLAS neighbors cannot hash-match a SQL fold
    oracle (summation order, tie-subset choice at the local-cut
    argpartition), but every statistic emitted here is a MULTISET
    function of the 6-dp-rounded top-k cos values — invariant under
    which member of a rounded tie the kernel kept — so it is
    deterministic and equal to the same projection over the exact
    brute-force top-k:

    - n_topk / min_cos / max_cos: cardinality and range of the rounded
      score multiset (min_cos is the k-th exact score = the cut);
    - sum_cos: score mass, summed exactly as integers (round(cos*1e6)
      is integral because cos is already rounded) so Spark's and
      DuckDB's float fold order cannot diverge;
    - n_core_common: how many of the MUST-HAVE neighbors (rounded cos
      strictly above the cut — provably members of every correct top-k
      under any tie resolution) the fast kernel actually returned,
      counted by joining fast against exact on (q_id, neighbor_id).

    The oracle composes ann_topk's independently-checked SQL. A fast
    kernel returning a wrong neighbor, a wrong score, or a starved
    query shifts at least one column."""
    from hedera_spark.operators.similarity import ann_topk

    fast = ann_topk_fast(spark, sf_dir)
    exact = ann_topk(spark, sf_dir).select(
        "q_id",
        F.col("neighbor_id").alias("x_neighbor_id"),
        F.col("cos").alias("x_cos"),
    )
    cut = exact.groupBy("q_id").agg(F.min("x_cos").alias("cut"))
    stats = (
        fast.groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_topk"),
            F.min("cos").alias("min_cos"),
            F.max("cos").alias("max_cos"),
            F.round(
                F.sum(F.expr("CAST(round(cos * 1e6) AS BIGINT)")) / 1e6, 6
            ).alias("sum_cos"),
        )
    )
    # join fast's above-cut rows to exact's above-cut rows on the pair key
    fa = fast.join(cut, "q_id").where(F.col("cos") > F.col("cut")).select(
        "q_id", "neighbor_id"
    )
    xa = exact.join(cut, "q_id").where(F.col("x_cos") > F.col("cut")).select(
        "q_id", F.col("x_neighbor_id").alias("neighbor_id")
    )
    core = (
        fa.join(xa, ["q_id", "neighbor_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_core_common"))
    )
    return (
        stats.join(core, "q_id", "left")
        .select(
            "q_id",
            "n_topk",
            "min_cos",
            "max_cos",
            "sum_cos",
            F.coalesce(F.col("n_core_common"), F.lit(0).cast("long")).alias(
                "n_core_common"
            ),
        )
    )

"""Cross-operator invariants at sf0.001 — relationships that must hold
between operators regardless of data, catching consistency bugs the
per-query oracle can't see."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_inverted_index_df_sums_to_postings(spark):
    from hedera_spark.operators.anchors import anchor_targets
    from hedera_spark.operators.ir import inverted_index

    idx = inverted_index(spark, SF_DIR)
    total_df = idx.agg(F.sum("df")).first()[0]
    n_pairs = anchor_targets(spark, SF_DIR).count()
    assert total_df == n_pairs
    # postings list length equals df for every term
    bad = idx.where(
        F.size(F.split("postings", ",")) != F.col("df")
    ).count()
    assert bad == 0


def test_dictionary_ids_are_contiguous(spark):
    from hedera_spark.operators.ir import dictionary

    d = dictionary(spark, SF_DIR)
    n = d.count()
    stats = d.agg(
        F.min("term_id"), F.max("term_id"), F.countDistinct("term_id")
    ).first()
    assert stats == (1, n, n)


def test_rev_diff_counts_partition_current_tokens(spark):
    from hedera_spark.operators.revisions import rev_diff

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_distinct = docs.select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " "))).alias("nd"),
    )
    joined = rev_diff(spark, SF_DIR).join(n_distinct, "doc_id")
    bad = joined.where(
        F.col("n_inserted") + F.col("n_common") != F.col("nd")
    ).count()
    assert bad == 0


def test_ts_vector_length_equals_span(spark):
    from hedera_spark.operators.timeseries import ts_vector
    from hedera_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    tv = ts_vector(spark, SF_DIR)
    n_days = (
        ev.select(
            F.datediff(
                F.max(F.to_date("ts")),
                F.min(F.to_date("ts")),
            )
        ).first()[0]
        + 1
    )
    bad = tv.where(F.size(F.split("series", ",")) != n_days).count()
    assert bad == 0
    # series totals must equal event counts
    counts = ev.groupBy("user_id").count()
    joined = tv.join(counts, "user_id")
    assert joined.where(F.col("total") != F.col("count")).count() == 0


def test_dedup_clusters_one_survivor_per_cluster(spark):
    from hedera_spark.operators.clusters import dedup_clusters

    c = dedup_clusters(spark, SF_DIR)
    assert c.where(F.col("cluster_id") > F.col("doc_id")).count() == 0
    per_cluster = c.groupBy("cluster_id").agg(
        F.sum("is_survivor").alias("surv"), F.count(F.lit(1)).alias("n")
    )
    assert per_cluster.where(F.col("surv") != 1).count() == 0
    assert per_cluster.where(F.col("n") < 2).count() == 0  # no singleton clusters


def test_minhash_candidates_subset_of_jaccard_universe(spark):
    """Every minhash candidate with high estimate must be a genuinely
    similar pair (est >= 0.75 -> true trigram jaccard >= 0.2)."""
    from hedera_spark.operators.dedup import dedup_minhash, dedup_ngram_jaccard

    strong = dedup_minhash(spark, SF_DIR).where(F.col("est_jaccard") >= 0.75)
    true_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ngram_jaccard(spark, SF_DIR).collect()
    }
    for r in strong.collect():
        assert (r["doc_a"], r["doc_b"]) in true_pairs


def test_pack_sequences_bins_are_contiguous_and_bounded(spark):
    from hedera_spark.operators.text_analysis import PACK_CAPACITY, pack_sequences

    p = pack_sequences(spark, SF_DIR)
    # offset stays inside the bin, and a doc starts exactly where the
    # previous doc in its language ended (contiguous packing)
    assert p.where(
        (F.col("bin_offset") < 0) | (F.col("bin_offset") >= PACK_CAPACITY)
    ).count() == 0
    assert p.where(
        F.col("bin_id") * PACK_CAPACITY + F.col("bin_offset")
        != F.col("cum_tokens") - F.col("n_tokens")
    ).count() == 0
    # bin ids per language are dense from 0
    per_lang = p.groupBy("lang").agg(
        F.min("bin_id").alias("lo"),
        F.max("bin_id").alias("hi"),
        F.countDistinct("bin_id").alias("n"),
    )
    assert per_lang.where(
        (F.col("lo") != 0) | (F.col("n") != F.col("hi") + 1)
    ).count() == 0


def test_sample_stratified_is_deterministic_subset(spark):
    from hedera_spark.operators.text_analysis import SAMPLE_PCT, sample_stratified
    from hedera_spark.sources.tables import load_table

    s1 = sample_stratified(spark, SF_DIR)
    assert s1.where(F.col("hash_bucket") % 100 >= SAMPLE_PCT).count() == 0
    # rerun yields the identical id set (hash sampling, not rand())
    ids1 = {r.doc_id for r in s1.select("doc_id").collect()}
    ids2 = {r.doc_id for r in sample_stratified(spark, SF_DIR).select("doc_id").collect()}
    assert ids1 == ids2
    assert 0 < len(ids1) < load_table(spark, SF_DIR, "documents").count()


def test_decontaminate_excludes_eval_docs_and_respects_shingles(spark):
    from hedera_spark.operators.dedup import EVAL_MOD, _shingles, decontaminate

    d = decontaminate(spark, SF_DIR)
    assert d.where(F.col("doc_id") % EVAL_MOD == 0).count() == 0
    # a doc's contaminated-shingle count can never exceed its shingle count
    sizes = _shingles(spark, SF_DIR).groupBy("doc_id").count()
    assert d.join(sizes, "doc_id").where(
        F.col("n_contaminated") > F.col("count")
    ).count() == 0


def test_corpus_select_is_subset_of_quality_gates(spark):
    from hedera_spark.operators.text_analysis import (
        CORPUS_MAX_TOKENS,
        CORPUS_MIN_QUALITY,
        CORPUS_MIN_TOKENS,
        corpus_select,
    )

    c = corpus_select(spark, SF_DIR)
    assert c.where(
        (F.col("quality") < CORPUS_MIN_QUALITY)
        | (F.col("n_tokens") < CORPUS_MIN_TOKENS)
        | (F.col("n_tokens") > CORPUS_MAX_TOKENS)
    ).count() == 0


def test_dedup_threshold_sweep_agrees_with_lsh_dedup(spark):
    """The sweep's row at the production COS_THRESHOLD must count
    exactly the pairs dedup_embedding_lsh emits — same candidates, same
    rounded cosine, same cut."""
    from hedera_spark.operators.similarity import (
        COS_THRESHOLD,
        dedup_embedding_lsh,
        dedup_threshold_sweep,
    )
    from tests.conftest import SF_DIR

    sweep = {
        r["threshold"]: r["n_pairs"]
        for r in dedup_threshold_sweep(spark, SF_DIR).collect()
    }
    want = dedup_embedding_lsh(spark, SF_DIR).count()
    assert sweep.get(COS_THRESHOLD, 0) == want


def test_quality_threshold_sweep_agrees_with_text_quality(spark):
    """The sweep's row at corpus_select's production cutoff (0.7) must
    count exactly the docs text_quality scores at or above it."""
    from pyspark.sql import functions as F

    from hedera_spark.operators.text_analysis import (
        quality_threshold_sweep,
        text_quality,
    )
    from tests.conftest import SF_DIR

    sweep = {
        r["cutoff"]: r["n_docs"]
        for r in quality_threshold_sweep(spark, SF_DIR).collect()
    }
    want = text_quality(spark, SF_DIR).where(F.col("quality") >= 0.7).count()
    assert sweep.get(0.7, 0) == want


@pytest.mark.slow
def test_candidate_volume_bounds_the_scored_outputs(spark):
    """The pre-score candidate counts must dominate each family's
    post-cut pair count: every emitted near-dup pair was once a
    candidate (the dial measures the superset the cluster pays for)."""
    from hedera_spark.operators.dedup import (
        dedup_candidate_volume,
        dedup_minhash,
        dedup_ngram_jaccard,
        dedup_simhash,
    )
    from tests.conftest import SF_DIR

    vol = {r["method"]: r["n_candidates"]
           for r in dedup_candidate_volume(spark, SF_DIR).collect()}
    assert vol["ngram_jaccard"] >= dedup_ngram_jaccard(spark, SF_DIR).count()
    # minhash emits every band-colliding pair (no cut): counts are equal
    assert vol["minhash_lsh"] == dedup_minhash(spark, SF_DIR).count()
    assert vol["simhash_block"] >= dedup_simhash(spark, SF_DIR).count()


@pytest.mark.slow
def test_ann_candidate_volume_orders_the_paths(spark):
    """brute_force is the ceiling by construction; every approximate
    path must evaluate strictly fewer pairs (that is its reason to
    exist), and lsh_multi's deduped candidate set contains lsh's
    (table 0 IS the single-table plane set)."""
    from hedera_spark.operators.similarity import ann_candidate_volume
    from tests.conftest import SF_DIR

    vol = {r["method"]: r["n_candidates"]
           for r in ann_candidate_volume(spark, SF_DIR).collect()}
    assert set(vol) == {"brute_force", "lsh", "lsh_multi", "ivf", "lsh_adaptive"}
    assert vol["brute_force"] > vol["lsh"]
    assert vol["brute_force"] > vol["lsh_multi"]
    assert vol["brute_force"] > vol["ivf"]
    assert vol["brute_force"] > vol["lsh_adaptive"]
    assert vol["lsh_multi"] >= vol["lsh"]


def test_adaptive_nbits_tracks_corpus_size():
    """The plane count must grow with log2(n) and stay clamped: that is
    the whole contract (mean occupancy ~ADAPTIVE_TARGET at any scale)."""
    from hedera_spark.operators.similarity import (
        ADAPTIVE_TARGET,
        N_PLANES_MAX,
        adaptive_nbits,
    )

    assert adaptive_nbits(0) == 1
    assert adaptive_nbits(50) == 1
    assert adaptive_nbits(500) == 4    # sf0.01 corpus
    assert adaptive_nbits(2_000) == 6  # sf0.1 corpus
    assert adaptive_nbits(20_000) == 9
    assert adaptive_nbits(10**12) == N_PLANES_MAX  # clamp
    for n in (100, 1_000, 10_000, 100_000):
        nbits = adaptive_nbits(n)
        # designed occupancy: n / 2^nbits <= ADAPTIVE_TARGET (mean)
        assert n / (1 << nbits) <= ADAPTIVE_TARGET


def test_adaptive_bucket_is_prefix_of_fixed_lsh(spark):
    """ADAPTIVE_PLANES[:8] must BE similarity.PLANES (same md5 seeds), so
    whenever nbits >= 8 every fixed-LSH bucket is the low byte of the
    adaptive code — the two structures share hash planes by design."""
    from hedera_spark.operators.similarity import ADAPTIVE_PLANES, PLANES

    assert ADAPTIVE_PLANES[:8] == PLANES


def test_ann_bucket_skew_consistency(spark):
    """Occupancy stats must be internally consistent (max >= mean,
    n_vectors == corpus size for every structure) and the adaptive
    structure must have MORE buckets than fixed 8-bit LSH occupies only
    when nbits > 8 — at test scale (n=500, nbits=4) it has fewer,
    which is exactly the adaptivity working in the other direction."""
    from hedera_spark.operators.similarity import ann_bucket_skew
    from hedera_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    n = load_table(spark, SF_DIR, "embeddings").count()
    rows = {r["method"]: r for r in ann_bucket_skew(spark, SF_DIR).collect()}
    assert set(rows) == {"lsh", "lsh_adaptive", "ivf"}
    for r in rows.values():
        assert r["n_vectors"] == n
        assert r["max_occ"] >= r["mean_occ"]
        assert r["skew_x"] >= 1.0
        assert r["n_buckets"] >= 1


def test_ann_lsh_adaptive_candidates_within_bucket(spark):
    """Every adaptive neighbor must share the query's nbits-wide bucket
    (the structure's defining property), and nbits must equal the
    corpus-derived value on every output row."""
    from pyspark.sql import functions as F

    from hedera_spark.functions.vectors import sign_bucket_sql
    from hedera_spark.operators.similarity import (
        ADAPTIVE_PLANES,
        adaptive_nbits,
        ann_lsh_adaptive,
    )
    from hedera_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    nbits = adaptive_nbits(emb.count())
    out = ann_lsh_adaptive(spark, SF_DIR)
    assert out.where(F.col("nbits") != nbits).count() == 0
    bk = emb.selectExpr(
        "vec_id", f"{sign_bucket_sql('embedding', ADAPTIVE_PLANES[:nbits])} AS bucket"
    )
    joined = (
        out.join(bk.withColumnsRenamed({"vec_id": "q_id", "bucket": "qb"}), "q_id")
        .join(
            bk.withColumnsRenamed({"vec_id": "neighbor_id", "bucket": "nb"}),
            "neighbor_id",
        )
    )
    assert joined.where(F.col("qb") != F.col("nb")).count() == 0

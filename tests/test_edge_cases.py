"""Edge-case behavior: operators must handle empty and degenerate inputs
without exceptions (the 100 TB reality: some partition, day, or page is
always empty)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


_EMPTY_SCHEMAS = {
    "documents": "doc_id long, text string, source string, lang string, n_chars long",
    "events": "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    "embeddings": "vec_id long, embedding array<float>, label int",
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    "part": "p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    "orders": "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    "lineitem": "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, l_extendedprice double, l_discount double, l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
}


@pytest.fixture(scope="session")
def empty_sf(spark, tmp_path_factory) -> str:
    """An sf_dir where every table has the right schema and zero rows.

    Built ONCE per session and reused: the dir is read-only for every
    consumer, and rebuilding the 10 empty parquet writes per
    parametrized case was ~40% of the whole suite's wall clock (r8
    durations: 154 of the top-200 slowest tests were these). The
    session-owned directory keeps the cases independent of which test
    runs first."""
    out = tmp_path_factory.mktemp("empty_sf")
    for name, schema in _EMPTY_SCHEMAS.items():
        spark.createDataFrame([], schema).write.parquet(
            str(out / f"{name}.parquet")
        )
    return str(out)


@pytest.mark.parametrize(
    "qname",
    [
        "rev_diff",
        "rev_pairs",
        "dedup_minhash",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "fingerprint",
        "anchor_count",
        "term_stats",
        "pv_daily",
        "session_stats",
        "lang_id",
        "rev_diff_chunks",
        "dedup_clusters",
        # round-2 operators
        "asof_join",
        "range_join_hot_windows",
        "funnel",
        "pv_rolling_7d",
        "cohort_retention",
        "rev_snapshot_at",
        "pagerank_anchors",
        "text_repetition",
        "ngram_novelty",
        "source_stats",
        "bpe_pair_stats",
        "length_histogram",
        "pii_redact",
        "tpch_q21",
        # round-3 second-wave operators
        "dsir_weights",
        "ccnet_buckets",
        "ann_pq",
        "pq_recall",
        "pv_anomaly",
        "hits_anchors",
        "doc_vectors_delta",
        "index_delta",
        "contrastive_pairs",
        "pipeline_funnel",
        "dedup_semantic",
        "quality_classifier",
        "anchor_triangles",
        "pv_seasonality",
        # round-3 fourth-sweep operators
        "pv_autocorr",
        "pv_trending",
        "multimodal_dedup",
        "multimodal_frames",
        "quality_calibration",
        "graph_degree_stats",
        "rev_burstiness",
        "doc_entropy",
        "zipf_fit",
        "ann_sq",
        "sq_recall",
        "dedup_incremental",
        "lang_confusion",
        "dedup_cluster_stats",
        "pv_forecast_backtest",
        "dedup_recall",
        "rev_lifespan",
        "pv_hour_profile",
        "graph_communities",
        "key_skew_stats",
        # round-3 seventh-to-ninth-wave operators
        "positional_index",
        "phrase_search",
        "graph_kcore",
        "pv_changepoint",
        "simhash_recall",
        "embedding_outliers",
        "rev_reverts",
        "page_conflict",
        "graph_distances",
        "rocchio_expansion",
        "lang_id_ngram",
        "graph_neighbor_jaccard",
        "bigram_pmi",
        "sparse_cosine_topk",
        "user_thresholds",
        "multimodal_resample",
        "skipgram_pairs",
        "sample_fixed_k",
        "text_normalize",
        "graph_assortativity",
        "embedding_pca",
        "kn_bigram_lm",
        "late_events",
        "vocab_coverage",
        "dedup_threshold_sweep",
        "pack_efficiency",
        "quality_threshold_sweep",
        "mix_temperature",
        "contamination_report",
        "minhash_band_sweep",
        "doc_perplexity_kn",
        "asof_join_nearest",
        "blocklist_gate",
        "quantile_error",
        "dup_by_source",
        "attribution_last_touch",
        "label_cohesion",
        "dedup_containment",
        "robust_stats",
        "event_transitions",
        "ql_topk",
        "length_quality_curve",
        "profile_drift",
        "session_paths",
        "attribution_linear",
        "dedup_impact",
        "term_entropy",
        "sample_weighted",
        "readability",
        "ann_mrr",
        "events_gap_stats",
        "campaign_cooccur",
        "graph_two_hop",
        "quality_mi",
        "pv_dow_hour",
        "rare_token_ratio",
        "graph_modularity",
        "champion_lists",
        "k_anonymity",
        "pv_entropy",
        "retrieval_interleave",
        "pv_ewma",
        "pv_cusum",
        "rfm_segments",
        "basket_lift",
        "data_split",
        "cohort_ltv",
        "revenue_hhi",
        "pv_xcorr",
        "active_users",
        "conversion_lift",
        "conversion_latency",
        "quality_ppl_corr",
        "spell_candidates",
        "shipping_delay",
        "order_gaps",
        "bm25_param_sweep",
        "ivf_nprobe_sweep",
        "trade_matrix",
        "split_oov",
        "split_contamination",
        "pv_holt",
        "return_rates",
        "autocomplete_prefix",
        "pv_daily_bands",
        "editor_activity",
        "value_mad",
        "bootstrap_means",
        "hll_error",
        "cms_topk",
        "bloom_semi_join",
        "rrf_fusion",
        "join_size_estimate",
        "partition_planner",
        "mv_refresh_plan",
        "zonemap_prune_stats",
        "dim_truncation_recall",
        "keyword_rake",
        "skew_salt_plan",
        "salted_join",
        "wand_bounds",
        "audience_overlap",
        "embedding_drift",
        "zorder_layout_audit",
        "markov_attribution",
        "hll_union",
        "equi_depth_histogram",
        "rev_token_provenance",
        "encoding_advisor",
        "doremi_weights",
        "graph_walks",
        "pv_stl",
        "dp_counts",
        "ann_pareto",
        "scd2_build",
        "scd2_resolve",
        "upsert_merge",
        "pv_pivot",
        "pv_unpivot",
        "retention_sweep",
        "corpus_grouping_sets",
        "dp_mean",
        "moments_quantiles",
        "frequent_itemsets",
        "survival_repurchase",
        "score_quantile_norm",
        "coreset_maxmin",
        "linreg_value_hour",
        "chi2_independence",
        "calibration_isotonic",
        "revenue_gini",
        "benford_audit",
        "l_diversity",
        "events_sample_k",
        "curriculum_buckets",
        "heaps_law_fit",
        "pv_holt_winters",
        "order_reconciliation",
        "dp_quantile",
        "abc_classification",
        "dispersion_index",
        "classifier_gains",
        "brand_transitions",
        "ams_f2",
        "kmv_intersect",
        "bigram_llr",
        "quality_auc",
        "loader_shards",
        "shard_skew_audit",
        "pack_overflow_stats",
        # round-7 wave
        "boilerplate_by_source",
        "dedup_exact_normalized",
        "bloom_filter_advisor",
        "t_closeness",
        "lang_mix",
        "bloom_prune_sim",
        "gopher_quality_gate",
        "join_order_advisor",
        "bbit_minhash_error",
        "runlength_audit",
        "mix_budget_waterfill",
    ],
)
def test_operators_tolerate_empty_input(spark, empty_sf, qname):
    from hedera_spark.registry import QUERIES

    sf = empty_sf
    assert QUERIES[qname](spark, sf).count() == 0


def test_fk_integrity_empty_input_reports_all_edges(spark, empty_sf):
    """The audit is a fixed-shape report: on empty tables it must still
    emit one all-zero row per FK edge (a missing edge row would read as
    'not audited', not 'clean')."""
    from hedera_spark.operators.profile import FK_EDGES, fk_integrity

    sf = empty_sf
    rows = fk_integrity(spark, sf).collect()
    assert len(rows) == len(FK_EDGES)
    for r in rows:
        assert r["n_child_keys"] == 0
        assert r["n_orphan_rows"] == 0 and r["n_orphan_keys"] == 0


def test_single_token_docs_shingle_safely(spark, tmp_path):
    """Docs shorter than the shingle width exercise the descending-sequence
    guard — they must contribute zero shingles, not crash."""
    docs = spark.createDataFrame(
        [(1, "a", "p", "en", 1), (2, "b c", "p", "en", 3), (3, "d e f g", "q", "en", 7)],
        "doc_id long, text string, source string, lang string, n_chars long",
    )
    out = tmp_path / "tiny"
    docs.write.parquet(str(out / "documents.parquet"))
    from hedera_spark.operators.dedup import _shingles

    per_doc = {r["doc_id"]: r["cnt"] for r in _shingles(spark, str(out)).groupBy("doc_id").count().withColumnRenamed("count", "cnt").collect()}
    assert per_doc.get(1) is None  # 1 token -> no shingles
    assert per_doc.get(2) is None  # 2 tokens -> no shingles
    assert per_doc[3] == 2  # 4 tokens -> 2 trigrams


def test_r3_operators_on_degenerate_corpus(spark, tmp_path):
    """Single 1-char-word corpus: zero BPE pairs (empty merge table, but
    apply still segments), one 1-token chunk, no bigrams for the LM
    score, and the delta classifier still covers the doc."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hedera_spark.operators.bpe import bpe_apply, bpe_train
    from hedera_spark.operators.delta import corpus_delta
    from hedera_spark.operators.text_analysis import (
        chunk_documents,
        doc_perplexity,
    )

    table = pa.table(
        {
            "doc_id": pa.array([0], pa.int64()),
            "text": pa.array(["a"]),
            "lang": pa.array(["en"]),
            "source": pa.array(["t"]),
            "n_chars": pa.array([1], pa.int64()),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    d = str(tmp_path)

    assert bpe_train(spark, d).collect() == []
    applied = bpe_apply(spark, d).collect()
    assert len(applied) == 1 and applied[0]["tokens"] == "a"
    chunks = chunk_documents(spark, d).collect()
    assert len(chunks) == 1 and chunks[0]["n_tokens"] == 1
    assert doc_perplexity(spark, d).collect() == []
    assert corpus_delta(spark, d).count() >= 1


def test_data_profile_on_empty_table(spark, empty_sf):
    """The exact profile still emits one row per column on an empty
    table (zero counts, NULL min/max) — it must not collapse to zero
    rows or crash."""
    from hedera_spark.operators.profile import data_profile

    sf = empty_sf
    rows = data_profile(spark, sf).collect()
    assert len(rows) == 6
    assert all(r["n_rows"] == 0 and r["n_distinct"] == 0 for r in rows)
    assert all(r["min_num"] is None and r["min_str"] is None for r in rows)


def test_erasure_impact_empty_input_reports_all_tables(spark, empty_sf):
    """Like fk_integrity: the blast-radius audit is a fixed-shape report —
    empty tables must still yield one all-zero row per audited table."""
    from hedera_spark.operators.profile import erasure_impact

    sf = empty_sf
    rows = {r["table_name"]: r for r in erasure_impact(spark, sf).collect()}
    assert set(rows) == {"customer", "events", "lineitem", "orders"}
    assert all(r["n_total"] == 0 and r["n_erased"] == 0 for r in rows.values())


def test_agreement_reports_tolerate_empty_input(spark, empty_sf):
    """gate_agreement / retrieval_ndcg are global-aggregate reports: on
    empty input they must not throw, and their count/overlap cells must
    read zero (null rates are fine — 0/0 has no value)."""
    from hedera_spark.operators.importance import gate_agreement
    from hedera_spark.operators.ir import retrieval_ndcg

    sf = empty_sf
    ga = gate_agreement(spark, sf).collect()
    assert {r["pair"] for r in ga} == {
        "heuristic-vs-classifier",
        "heuristic-vs-ccnet",
        "classifier-vs-ccnet",
    }
    assert all(
        (r["n11"] or 0) + (r["n10"] or 0) + (r["n01"] or 0) + (r["n00"] or 0) == 0
        for r in ga
    )
    nd = retrieval_ndcg(spark, sf).collect()
    assert len(nd) == 1 and (nd[0]["n_overlap"] or 0) == 0
    from hedera_spark.operators.dedup import dedup_method_agreement

    da = dedup_method_agreement(spark, sf).collect()
    assert len(da) == 3
    assert all(r["n_a"] == 0 and r["n_b"] == 0 and r["n_common"] == 0 for r in da)
    from hedera_spark.operators.timeseries import value_anova

    va = value_anova(spark, sf).collect()
    assert len(va) == 1 and va[0]["n_groups"] == 0 and va[0]["f_stat"] is None


def test_table_fingerprint_empty_input_reports_all_tables(spark, empty_sf):
    """Fixed-shape report: empty tables must still yield one row per
    table with n_rows = 0 and the neutral checksum 0."""
    from hedera_spark.operators.profile import FP_COLUMNS, table_fingerprint

    sf = empty_sf
    rows = {r["table_name"]: r for r in table_fingerprint(spark, sf).collect()}
    assert set(rows) == set(FP_COLUMNS)
    assert all(r["n_rows"] == 0 and r["checksum"] == 0 for r in rows.values())


def test_constraint_audit_empty_input_reports_all_checks(spark, empty_sf):
    """Fixed-shape report: on empty tables the audit must still emit
    every constraint row, all clean with integer-zero violations (a
    missing row would read as 'not audited'; a NULL as corruption)."""
    from hedera_spark.operators.profile import constraint_audit

    sf = empty_sf
    rows = constraint_audit(spark, sf).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["violations"] == 0
        assert r["passed"] is True


def test_ab_permutation_test_empty_input(spark, empty_sf):
    """The 1-row experiment readout must not raise on an empty log:
    group stats and p-value are NULL (nothing observed), never a
    division error."""
    from hedera_spark.operators.timeseries import ab_permutation_test

    sf = empty_sf
    rows = ab_permutation_test(spark, sf).collect()
    assert len(rows) == 1
    assert rows[0]["p_value"] is None


def test_classifier_auc_empty_input(spark, empty_sf):
    """1-row readout must not raise on an empty corpus: counts and AUC
    are NULL (nothing scored), never a division error."""
    from hedera_spark.operators.text_analysis import classifier_auc

    sf = empty_sf
    rows = classifier_auc(spark, sf).collect()
    assert len(rows) == 1
    assert rows[0]["auc_en"] is None


def test_dedup_candidate_volume_empty_input(spark, empty_sf):
    """Fixed-shape dial: an empty corpus still reports one row per
    method, each with zero candidates."""
    from hedera_spark.operators.dedup import dedup_candidate_volume

    sf = empty_sf
    rows = {r["method"]: r["n_candidates"]
            for r in dedup_candidate_volume(spark, sf).collect()}
    assert rows == {"ngram_jaccard": 0, "minhash_lsh": 0, "simhash_block": 0}


def test_page_depth_stats_empty_and_planted_hot(spark, empty_sf, tmp_path):
    """Router observability: empty tables yield zero pages (null depth
    bounds, zero hot); a planted 500-deep page is counted hot."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hedera_spark.operators.revisions import page_depth_stats

    sf = empty_sf
    rows = {r["table_name"]: r for r in page_depth_stats(spark, sf).collect()}
    assert set(rows) == {"revisions", "snapshots"}
    assert all(
        r["n_pages"] == 0 and r["n_hot_pages"] == 0 and r["min_depth"] is None
        for r in rows.values()
    )

    hot_dir = tmp_path / "hot"
    hot_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(list(range(510)), pa.int64()),
                "text": pa.array(["w a b"] * 510, pa.string()),
                "lang": pa.array(["en"] * 510, pa.string()),
                "source": pa.array(
                    ["mega"] * 500 + ["tiny"] * 10, pa.string()
                ),
                "n_chars": pa.array([5] * 510, pa.int64()),
            }
        ),
        hot_dir / "documents.parquet",
    )
    import shutil

    import pathlib

    shutil.copytree(
        str(pathlib.Path(sf) / "events.parquet"),  # the session-cached
        # empty dir — not necessarily under THIS test's tmp_path
        str(hot_dir / "events.parquet"),
    )
    rows = {r["table_name"]: r for r in page_depth_stats(spark, str(hot_dir)).collect()}
    snap = rows["snapshots"]
    assert snap["n_pages"] == 2 and snap["max_depth"] == 500
    assert snap["n_hot_pages"] == 1


def test_cdc_chunks_resynchronizes_after_insertion(spark, tmp_path):
    """THE property that justifies content-defined over fixed-width
    chunking: a token inserted at the front of a document shifts every
    fixed-width window, but CDC boundaries depend only on local content,
    so the two variants re-share all chunks after the first boundary.
    With doc A = doc B plus one leading token, every chunk of A except
    its first must also be a chunk of B — i.e. the duplicated-chunk
    report recovers nearly the whole document pair."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from hedera_spark.operators.corpus_clean import CDC_BOUNDARY_HEX, cdc_chunks

    base = [f"tok{i}" for i in range(400)]
    docs_dir = tmp_path / "cdc"
    docs_dir.mkdir()
    texts = [" ".join(base), " ".join(["INSERTED"] + base)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2], pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en", "en"], pa.string()),
                "source": pa.array(["a", "b"], pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        docs_dir / "documents.parquet",
    )
    out = cdc_chunks(spark, str(docs_dir))
    shared = out.where(F.col("n_docs") == 2)
    # how many chunks does the unmodified doc have in total?
    import hashlib

    n_chunks = 1
    boundaries = 0
    for t in base:
        if hashlib.md5(t.encode()).hexdigest()[-1] in CDC_BOUNDARY_HEX:
            boundaries += 1
    n_chunks = boundaries if hashlib.md5(base[-1].encode()).hexdigest()[-1] in CDC_BOUNDARY_HEX else boundaries + 1
    # all but the first chunk must re-synchronize and be shared
    assert shared.count() >= n_chunks - 1 > 0
    # and the shared chunks each appear exactly once per doc
    assert shared.where(F.col("n_occ") != 2).count() == 0


def test_dedup_exact_normalized_folds_case_and_whitespace(spark, tmp_path):
    """Docs differing only in case/whitespace share a normalized hash
    group; a genuinely different doc does not."""
    docs = spark.createDataFrame(
        [
            (1, "Hello  World", "s", "en", 1),
            (2, "hello world", "s", "en", 1),
            (3, " HELLO WORLD ", "s", "en", 1),
            (4, "different text", "s", "en", 1),
        ],
        "doc_id long, text string, source string, lang string, n_chars long",
    )
    out_dir = tmp_path / "norm"
    docs.write.parquet(str(out_dir / "documents.parquet"))
    from hedera_spark.operators.dedup import dedup_exact, dedup_exact_normalized

    rows = {r["doc_id"]: r for r in
            dedup_exact_normalized(spark, str(out_dir)).collect()}
    assert rows[1]["survivor_id"] == rows[2]["survivor_id"] == rows[3]["survivor_id"] == 1
    assert rows[1]["n_copies"] == 3 and rows[1]["is_dup"] == 0
    assert rows[2]["is_dup"] == 1 and rows[3]["is_dup"] == 1
    assert rows[4]["n_copies"] == 1 and rows[4]["is_dup"] == 0
    # raw-byte dedup sees 4 distinct groups; normalization strictly coarsens
    raw = dedup_exact(spark, str(out_dir)).collect()
    assert len({r["text_hash"] for r in raw}) == 4


def test_bloom_filter_advisor_sizing_identities(spark):
    """m/k follow the textbook identities; the NDV gate orders the
    high-cardinality keys above the 2-value flags."""
    import math

    from hedera_spark.operators.planner import (
        BLOOM_BITS_PER_KEY,
        BLOOM_NDV_MIN,
        bloom_filter_advisor,
    )

    rows = {r["column_name"]: r
            for r in bloom_filter_advisor(spark, SF_DIR).collect()}
    assert set(rows) == {
        "l_orderkey", "l_partkey", "l_suppkey", "l_linestatus", "l_returnflag"
    }
    for r in rows.values():
        assert 1 <= r["ndv"] <= r["n_rows"]
        assert r["bloom_bits"] == math.ceil(r["ndv"] * BLOOM_BITS_PER_KEY)
        assert r["bloom_hashes"] >= 1
        assert r["bloom_recommended"] == int(r["ndv"] >= BLOOM_NDV_MIN)
    # the 2-value flag columns never recommend; the key columns may
    assert rows["l_returnflag"]["bloom_recommended"] == 0
    assert rows["l_linestatus"]["bloom_recommended"] == 0


def test_t_closeness_flags_skewed_cell(spark, tmp_path):
    """In a 50/50 en/de corpus, an all-en QI cell has TVD 0.5 > 2/5 and
    flags; a cell mirroring the global mix has TVD 0 and does not."""
    rows = (
        # source A, bucket 0: 4 docs, all en -> skewed
        [(i, "x", "A", "en", 10) for i in range(4)]
        # source B, bucket 0: 2 en + 2 de -> mirrors a 50/50 global? global
        # counts: en 6, de 6 -> p = (.5,.5); cell B = (.5,.5) -> TVD 0
        + [(10 + i, "x", "B", "en", 10) for i in range(2)]
        + [(20 + i, "x", "B", "de", 10) for i in range(2)]
        # source C balances the global mix back to 50/50
        + [(30 + i, "x", "C", "de", 10) for i in range(4)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars long"
    )
    out = tmp_path / "tc"
    docs.write.parquet(str(out / "documents.parquet"))
    from hedera_spark.operators.profile import t_closeness

    res = {r["source"]: r for r in t_closeness(spark, str(out)).collect()}
    assert res["A"]["violates"] == 1 and res["A"]["tvd"] == 0.5
    assert res["B"]["violates"] == 0 and res["B"]["tvd"] == 0.0
    assert res["C"]["violates"] == 1  # all-de mirror image of A


def test_lang_mix_detects_code_switch(spark, tmp_path):
    """A doc whose first window is German markers and second window is
    English markers reports 2 langs / mixed=1; a pure-English doc
    reports 1 lang and top_share 1.0."""
    de = "der und das merge group batch der und"  # 8 de-marker tokens
    en = "the a data fast query the a data"  # 8 en-marker tokens
    docs = spark.createDataFrame(
        [
            (1, f"{de} {en}", "s", "xx", 1),
            (2, f"{en} {en}", "s", "en", 1),
        ],
        "doc_id long, text string, source string, lang string, n_chars long",
    )
    out = tmp_path / "lm"
    docs.write.parquet(str(out / "documents.parquet"))
    from hedera_spark.operators.text_analysis import lang_mix

    res = {r["doc_id"]: r for r in lang_mix(spark, str(out)).collect()}
    assert res[1]["n_segs"] == 2 and res[1]["n_langs"] == 2
    assert res[1]["mixed"] == 1 and res[1]["top_share"] == 0.5
    assert res[2]["n_langs"] == 1 and res[2]["mixed"] == 0
    assert res[2]["top_share"] == 1.0


def test_bloom_prune_sim_bloom_dominates_zonemap(spark):
    """On an unsorted key, membership pruning must scan no more files
    than range pruning, and both stay within the probe-pair total."""
    from hedera_spark.operators.planner import bloom_prune_sim

    rows = {r["method"]: r for r in bloom_prune_sim(spark, SF_DIR).collect()}
    assert set(rows) == {"zonemap", "bloom"}
    zm, bl = rows["zonemap"], rows["bloom"]
    assert zm["n_probe_pairs"] == bl["n_probe_pairs"] > 0
    assert 0 <= bl["n_scanned"] <= zm["n_scanned"] <= zm["n_probe_pairs"]
    assert bl["prune_fraction"] >= zm["prune_fraction"]
    assert zm["n_pruned"] + zm["n_scanned"] == zm["n_probe_pairs"]


def test_gopher_quality_gate_planted_rules(spark, tmp_path):
    """Planted docs exercise each rule: a 60-common-word doc passes all;
    a 10-word doc fails only word count; a symbol-heavy doc fails the
    symbol ratio; a digits-only doc fails the alpha fraction."""
    good = " ".join(["the", "a", "data", "value"] * 15)  # 60 words, stopwords
    short = " ".join(["the", "a", "data", "value"] * 2) + " row the"  # 10 words
    symbolic = " ".join(["the", "a", "data", "value"] * 13) + " " + " ".join(["#x"] * 8)
    digits = " ".join(["the", "a"] + ["123"] * 58)
    docs = spark.createDataFrame(
        [
            (1, good, "s", "en", 1),
            (2, short, "s", "en", 1),
            (3, symbolic, "s", "en", 1),
            (4, digits, "s", "en", 1),
        ],
        "doc_id long, text string, source string, lang string, n_chars long",
    )
    out = tmp_path / "gq"
    docs.write.parquet(str(out / "documents.parquet"))
    from hedera_spark.operators.text_analysis import gopher_quality_gate

    r = {x["doc_id"]: x for x in gopher_quality_gate(spark, str(out)).collect()}
    assert r[1]["pass_all"] == 1
    assert r[2]["pass_word_count"] == 0 and r[2]["pass_stopwords"] == 1
    assert r[3]["pass_symbol"] == 0 and r[3]["pass_word_count"] == 1
    assert r[4]["pass_alpha"] == 0 and r[4]["pass_word_count"] == 1
    assert r[4]["alpha_frac"] == 0.033333


def test_join_order_advisor_picks_min_estimate(spark):
    """Both candidate orders report, exactly one minimum estimate is
    picked (both on a tie), and the FK model's estimate is within an
    order of magnitude of the exact intermediate on uniform data."""
    from hedera_spark.operators.planner import join_order_advisor

    rows = {r["join_order"]: r for r in join_order_advisor(spark, SF_DIR).collect()}
    assert set(rows) == {"customer_orders_first", "orders_lineitem_first"}
    min_est = min(r["est_rows"] for r in rows.values())
    for r in rows.values():
        assert r["picked"] == int(r["est_rows"] == min_est)
        assert r["exact_rows"] > 0
        assert abs(r["rel_error"]) < 1.0  # uniform synthetic data
    assert sum(r["picked"] for r in rows.values()) >= 1


def test_bbit_minhash_identical_docs_estimate_one(spark, tmp_path):
    """Two identical docs: every truncated bit agrees, so est_b1 =
    est_b2 = est_jaccard = 1.0 and both deltas are 0; the unrelated doc
    pair (if any candidate forms) never reports est above 1."""
    t = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, t, "s", "en", 1), (2, t, "s", "en", 1)],
        "doc_id long, text string, source string, lang string, n_chars long",
    )
    out = tmp_path / "bb"
    docs.write.parquet(str(out / "documents.parquet"))
    from hedera_spark.operators.dedup import bbit_minhash_error

    rows = bbit_minhash_error(spark, str(out)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["est_jaccard"] == 1.0 and r["est_b1"] == 1.0 and r["est_b2"] == 1.0
    assert r["abs_delta_b1"] == 0.0 and r["abs_delta_b2"] == 0.0


def test_runlength_audit_planted_runs(spark, tmp_path):
    """A sorted column has runs == ndv (runs_per_distinct 1.0); an
    alternating column has runs == n_rows."""
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1, 0, 0, i), 1, "A" if i < 4 else "B",
         float(i % 2), "{}")
        for i in range(8)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = tmp_path / "rl"
    ev.write.parquet(str(out / "events.parquet"))
    from hedera_spark.operators.planner import runlength_audit

    r = {x["column_name"]: x for x in runlength_audit(spark, str(out)).collect()}
    # event_type: AAAA BBBB -> 2 runs over 2 distinct: already RLE-optimal
    assert r["event_type"]["runs_asis"] == 2
    assert r["event_type"]["runs_per_distinct"] == 1.0
    # value alternates 0/1 -> 8 runs over 2 distinct: sort-to-compress
    assert r["value"]["runs_asis"] == 8
    assert r["value"]["mean_run_len"] == 1.0
    # user_id constant -> a single run
    assert r["user_id"]["runs_asis"] == 1


def test_arrow_kernels_ship_by_value(tmp_path):
    """A driver script started outside the checkout, with PYTHONPATH
    unset, puts the checkout on its own sys.path; the Python workers it
    launches cannot import hedera_spark. The mapInPandas kernels must
    still run there, so their modules are pickled by value, not by
    reference."""
    import os
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    script = (
        "import sys\n"
        f"sys.path.insert(0, {str(repo)!r})\n"
        "from hedera_spark.registry import QUERIES\n"
        "from hedera_spark.session import get_spark\n"
        "spark = get_spark('ship-by-value', shuffle_partitions=1)\n"
        "for name in ('multimodal_meta', 'rev_diff_chunks'):\n"
        f"    assert QUERIES[name](spark, {SF_DIR!r}).collect(), name\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="1g")
    done = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]

"""Repo-wide plan hygiene: every registered query's physical plan must be
free of the operators that kill a 100 TB run — CartesianProduct,
BroadcastNestedLoopJoin, and Python row evaluation — except where a query
is EXPLICITLY a labeled baseline or a designed Arrow escape hatch. New
queries are covered automatically; a regression that drops one of these
into a plan fails here before it ever reaches the driver."""

from __future__ import annotations

import pytest

from hedera_spark.plans import executed_plan
from tests.conftest import SF_DIR

# Two legitimate BroadcastNestedLoopJoin classes:
# (a) labeled all-pairs baselines — dedup_embedding is the O(n^2)
#     correctness baseline (scale path: dedup_embedding_lsh/ann_lsh/
#     ann_ivf); ann_topk is the brute-force baseline (scale path:
#     ann_topk_fast);
# (b) BOUNDED-build scalar joins — the build side is a 1-row aggregate
#     or a constant-size set, so the "nested loop" is one pass over the
#     stream side (the standard scalar-subquery decorrelation):
#     tpch_q11/tpch_q22 (1-row total/avg), mix_weights (two tiny aggs),
#     tfidf_topk (fixed query-token set), ts_vector (global calendar
#     span), ann_ivf (centroid set, k=constant), dedup_ngram_jaccard +
#     dedup_clusters/corpus_select via composition (1-row hot-shingle
#     array), and the anchor_cooccur family via _cooccur_tokens (1-row
#     hot stop-token array, same pattern).
# Anything NOT listed here that plans a nested loop is a bug.
# r4 audit: active_users/corpus_select/dedup_semantic/embedding_pca/
# kmeans_embeddings no longer plan a BNLJ (their 1-row combines now
# plan as broadcast-hash under AQE); kmv_intersect returns a
# materialized (checkpoint) scan (its internal grading join is audited by the
# oracle + unpersist discipline instead). All six removed.
# (dedup_embedding_lsh graduated: its candidate join is now a plain
# equality join, so the allowance was removed — r2 verdict item 9.)
ALLOWED_NESTED_LOOP = {
    "dedup_embedding",
    "ann_topk",
    # grades ann_topk_fast AGAINST the ann_topk baseline, so it contains
    # both designed plans: the baseline's BNLJ and the kernel's Arrow map
    "ann_topk_fast_agreement",
    "ann_recall",  # measures ann_lsh AGAINST the ann_topk baseline
    "ann_mrr",  # measures ann_lsh AGAINST the ann_topk baseline
    "tpch_q11",
    "tpch_q22",
    "mix_weights",
    "tfidf_topk",
    "ts_vector",
    "ann_ivf",
    # composes _ivf_cells (centroid-set broadcast) + a 1-row x 1-row
    # count cross for the brute-force designed-cost row
    "ann_candidate_volume",
    "dedup_ngram_jaccard",
    "dedup_containment",  # shares _pair_stats' 1-row hot-set broadcast
    "dedup_candidate_volume",  # composes _pair_stats (1-row hot-set broadcast)
    "dedup_clusters",
    "dedup_keep_best",  # composes dedup_clusters (hot-shingle array)
    "dedup_cluster_stats",  # composes dedup_clusters (hot-shingle array)
    "bm25_topk",  # 1-row (N, avgdl) corpus-stats broadcast
    "label_cohesion",  # 1-row global-centroid broadcast
    "ql_topk",  # 3-row (term, cf) + 1-row corpus-size broadcasts
    "length_quality_curve",  # 1-row decile-fences broadcast
    "profile_drift",  # 1-row pivot + 1-row fences broadcasts
    "dedup_impact",  # 1-row (total_before, total_after) broadcast
    "frequent_itemsets",  # 1-row basket-count broadcast (support floor)
    "ab_permutation_test",  # 1-row observed-stats broadcast onto the user frame
    # 16-row probe-key broadcast x 100-row file-stats frame: the zonemap
    # range check is a designed bounded nested loop (the bloom check in
    # the same query is a plain equality semi-join)
    "bloom_prune_sim",
    # 1-row (c_all, w_all) totals broadcast onto the |sources|-row frame
    # (the mix_weights scalar-join class)
    "mix_budget_waterfill",
    "survival_repurchase",  # 1-row calendar-end-anchor broadcast
    "retrieval_agreement",  # composes bm25_topk + ql_topk (their 1-row stats)
    "ks_drift",  # 1-row time-pivot + 1-row totals broadcasts
    "campaign_cooccur",  # 1-row distinct-user-total broadcast
    "graph_two_hop",  # 1-row percentile-cut broadcast
    "quality_mi",  # 1-row fences + 1-row total broadcasts
    "rare_token_ratio",  # 1-row corpus-size broadcast
    "graph_modularity",  # 1-row total-weight broadcast
    "kmeans_silhouette",  # K-row centroid broadcast, like kmeans_embeddings
    "doc_perplexity",  # 1-row vocabulary-size broadcast
    "anchor_cooccur",
    "anchor_cooccur_temporal",
    "graph_degree_stats",  # via _cooccur_tokens (1-row hot stop-token array)
    "chi2_independence",  # margin-frame cross product (|types|x7 grid) + 1-row total
    "benford_audit",  # 9-row digit frame x 1-row total broadcast
    "curriculum_buckets",  # 1-row corpus-total broadcast onto the ranked frame
    "abc_classification",  # 1-row revenue-total broadcast onto the ranked frame
    "classifier_gains",  # 1-row totals broadcast onto the <=10-row bin frame
    "ams_f2",  # 1-row sketch frame x 1-row exact-F2 broadcast (grading join)
    "bigram_llr",  # 1-row bigram-total broadcast (the bigram_pmi shape)
    "pagerank_anchors",  # 1-row |V| count broadcast
    "anchor_lift",  # 1-row corpus-size aggregate broadcast
    "line_dedup",  # 1-row boilerplate-segment array broadcast
    "dedup_substring",  # 1-row hot-window array broadcast
    "ivf_recall",  # measures ann_ivf AGAINST the ann_topk baseline
    "dsir_weights",  # 1-row corpus-totals broadcast
    "ccnet_buckets",  # composes doc_perplexity (1-row vocab-size broadcast)
    "ann_pq",  # centroid-set broadcast, like ann_ivf
    "pq_recall",  # measures ann_pq AGAINST the ann_topk baseline
    "contrastive_pairs",  # labeled brute-force baseline, like ann_topk
    "pipeline_funnel",  # 1-row raw-count broadcast (funnel percentages)
    "bloom_semi_join",  # 1-row build-cardinality broadcast onto the summary
    "rrf_fusion",  # composes bm25_topk + ql_topk (their 1-row stats)
    "join_size_estimate",  # 1-row total-stats x 1-row MCV-stats broadcast
    "mv_refresh_plan",  # 1-row build-cutoff broadcast
    "zonemap_prune_stats",  # 1-row span/probe-day bounds broadcast
    "dim_truncation_recall",  # labeled brute-force baselines (ann_topk shape)
    "keyword_rake",  # 1-row stop-token hot-set broadcast
    "skew_salt_plan",  # 1-row hot-key set broadcast
    "salted_join",  # 1-row hot-key set broadcast on both join inputs
    "wand_bounds",  # 1-row theta broadcast
    "audience_overlap",  # |event_types|-row count-table pair matrix
    "zorder_layout_audit",  # 1-row day-span bounds broadcast
    "equi_depth_histogram",  # 1-row boundary-vector broadcast
    "doremi_weights",  # 1-row ref-loss/corpus-total/normalizer broadcasts
    "pv_stl",  # broadcast calendar span zero-fill (ts_vector discipline)
    "ann_pareto",  # composes the four recall dials (ann_topk baselines)
    "hits_anchors",  # 1-row integer maxima broadcast
    "ann_sq",  # 1-row quantizer-model broadcast + labeled brute-force probe
    "sq_recall",  # measures ann_sq AGAINST the ann_topk baseline
    "dedup_recall",  # 1-row aggregate combine (pipeline_funnel shape)
    "key_skew_stats",  # 1-row moments × 1-row top-shares combine
    "simhash_recall",  # 1-row aggregate combine (dedup_recall shape)
    "graph_neighbor_jaccard",  # via _cooccur_tokens (same array)
    "rocchio_expansion",  # composes bm25_topk (1-row corpus stats)
    "bigram_pmi",  # 1-row (n_uni, n_bi) totals broadcast
    "sparse_cosine_topk",  # 1-row |docs| aggregate broadcast
    "skipgram_pairs",  # 1-row (n_uni, n_pp) totals broadcast
    "graph_assortativity",  # via _cooccur_tokens (1-row hot stop-token array)
    "kn_bigram_lm",  # 1-row bigram-type-total broadcast
    "doc_perplexity_kn",  # 1-row bigram-type-total broadcast (same model)
    "quality_threshold_sweep",  # 1-row corpus-totals broadcast
    "contamination_report",  # 1-row totals/affected broadcasts
    "gate_agreement",  # composes quality_classifier/ccnet_buckets (1-row stats)
    "retrieval_interleave",  # composes bm25_topk + ql_topk (their 1-row stats)
    "retrieval_ndcg",  # composes bm25_topk + ql_topk + 1-row dcg×idcg combine
    "rfm_segments",  # 1-row customer-count broadcast (quintile denominator)
    "basket_lift",  # 1-row order-count broadcast (lift denominator)
    "pv_xcorr",  # broadcast calendar span zero-fill (ts_vector discipline)
    "conversion_lift",  # 1-row global-totals broadcast (z-test denominator)
    "quality_ppl_corr",  # composes doc_perplexity (1-row vocab-size broadcast)
    "dedup_method_agreement",  # 1-row set-size combines + jaccard hot-set
    "bm25_param_sweep",  # 1-row corpus-stats + 4-row config broadcasts
    "ivf_nprobe_sweep",  # centroid-set broadcasts + 1-row totals, like ann_ivf
    "retention_sweep",  # 1-row max-day anchor broadcast
    "ann_adaptive_recall",  # measures ann_lsh_adaptive AGAINST ann_topk
    "ann_bucket_skew",  # composes _ivf_cells (centroid-set broadcast)
}

# the designed Arrow escape hatches (mapInPandas / applyInPandas /
# vectorized UDF) — semantics Spark's relational operators cannot express
ALLOWED_PYTHON = {
    "multimodal_meta",
    "multimodal_features",
    "multimodal_frames",  # same stub-decoder plumbing as multimodal_meta
    "multimodal_resample",  # same stub plumbing, audio modality
    "rev_diff_chunks",
    "rev_diff_chunks_agreement",  # composes rev_diff_chunks' difflib kernel
    "ann_topk_fast",
    "ann_topk_fast_agreement",  # composes ann_topk_fast's Arrow kernel
}


def _names():
    from hedera_spark.registry import QUERIES

    return sorted(QUERIES)


@pytest.mark.parametrize("name", _names())
def test_plan_hygiene(name, spark):
    from hedera_spark.registry import QUERIES

    plan = executed_plan(QUERIES[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in ALLOWED_NESTED_LOOP:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join in a non-baseline query"
        )
    # Expand multiplies every input row before the first partial agg.
    # It is inherent to ROLLUP/CUBE (rev_max_ts, pv_cube) but in any
    # other query it means a multi-distinct aggregate snuck in — rewrite
    # as a two-level aggregate instead (see tpch_q21).
    if name not in (
        "rev_max_ts",
        "pv_cube",
        "corpus_rollup",
        "corpus_grouping_sets",
        # unpivot IS an Expand (each wide row -> |value columns| long
        # rows) — inherent to the melt, bounded x5 by the pinned
        # event-type list, and it multiplies the ALREADY-AGGREGATED
        # |days|-row frame, not the corpus
        "pv_unpivot",
    ):
        assert "Expand" not in plan, f"{name}: Expand (multi-distinct agg?)"
    if name not in ALLOWED_PYTHON:
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"
        assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan and (
            "FlatMapGroupsInPandas" not in plan
        ), f"{name}: unexpected Python stage"


# the iterative operators that formerly returned frames whose lineage held
# a live persist (r5 VERDICT #8). The fixed-depth ones are now one lazy
# plan over the materialized co-mention edge list (graph._edge_list) and
# persist nothing; graph_kcore, a convergence loop, persists per round and
# ends in graph._detach, which materializes the |V|-bounded result and
# releases every ancestor persist. Either way collecting the entry leaves
# the session CacheManager EMPTY, so no cached subtree can substitute into
# a later query's plan (the r4 AQE exchange-reuse killer). The
# clusters.connected_components compositions (dedup_clusters & co) are
# detached too, but their upstream dedup_ngram_jaccard keeps its measured
# kept-rows persist by design, so they are asserted through the jaccard
# allowance instead.
DETACHED_ITERATIVE = [
    "pagerank_anchors",
    "hits_anchors",
    "anchor_triangles",
    "graph_communities",
    "graph_kcore",
    "graph_distances",
    "graph_two_hop",
    "graph_modularity",
    "graph_walks",
]


@pytest.mark.parametrize("name", DETACHED_ITERATIVE)
def test_iterative_entries_leave_no_sql_cache(name, spark):
    from hedera_spark.registry import QUERIES

    spark.catalog.clearCache()
    df = QUERIES[name](spark, SF_DIR)
    df.collect()
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty(), f"{name}: live SQL-cache entries after collect()"


def test_checkpoints_go_through_materialize():
    """Materializing a frame has one owner, hedera_spark/plans/materialize.py,
    which picks the reliable checkpoint when a checkpoint dir is set and
    the local one otherwise. A direct `localCheckpoint(` or `.checkpoint(`
    under operators/ keeps results only on executors even when a reliable
    dir is configured. (streaming/upsert.py's read-before-overwrite guard
    is not a cache and keeps its own.)"""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "hedera_spark"
    hits = [
        f"hedera_spark/{path.relative_to(root).as_posix()}:{i}"
        for path in sorted((root / "operators").rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "localCheckpoint(" in line or ".checkpoint(" in line
    ]
    assert not hits, f"direct checkpoint, use plans/materialize.py: {hits}"


def test_prefix_scans_go_through_the_shared_kernel():
    """Range-partitioned prefix scans have one owner,
    hedera_spark/plans/range_scan.py, which keeps the partition-id
    persist, the local window and the offsets join in one audited place.
    key_skew_stats is the one exception: it needs per-partition moments,
    not per-row ranks. A new hand-rolled copy anywhere else fails here."""
    import ast
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "hedera_spark"
    hits = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "plans/range_scan.py":
            continue
        src = path.read_text()
        allowed = set()
        if rel == "operators/timeseries.py":
            fn = next(
                n
                for n in ast.parse(src).body
                if isinstance(n, ast.FunctionDef) and n.name == "key_skew_stats"
            )
            allowed = set(range(fn.lineno, fn.end_lineno + 1))
        for i, line in enumerate(src.splitlines(), 1):
            if re.search(r"spark_partition_id\(|repartitionByRange\(", line) and (
                i not in allowed
            ):
                hits.append(f"hedera_spark/{rel}:{i}")
    assert not hits, f"hand-rolled range scan, use plans/range_scan.py: {hits}"


# n-gram and MinHash-LSH code outside the two kernels, by file: the
# kernel's own names, and the variants whose semantics differ on purpose
_NGRAM_VARIANTS = {
    "operators/dedup.py": {
        "SIG_MATCHES_SQL",
        "LSH_BAND_KEYS",
        "lsh_band_rows",
        "bbit_minhash_error",  # low-bit match of two signatures
    },
    "operators/text_analysis.py": {
        "skipgram_pairs",  # windowed pairs, not adjacent ones
        "doc_perplexity",  # pairs over the empty-filtered tokens
    },
    "operators/bpe.py": {"_pair_counts_from_els"},  # symbol pairs in a word
}
_NGRAM_OR_BAND_CODE = r"sequence\(1, size\(|band_hash|zip_with\(\W?sig_a"


def test_ngrams_and_lsh_bands_go_through_the_shared_kernels():
    """Word n-grams have one owner, hedera_spark/functions/ngrams.py, and
    MinHash-LSH banding one, operators/dedup.py's lsh_band_rows and
    SIG_MATCHES_SQL. The variants in _NGRAM_VARIANTS differ on purpose
    and are allowed by name; registry.py is skipped, because its DuckDB
    oracles state each algorithm independently. A new hand-rolled copy
    anywhere else fails here."""
    import ast
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "hedera_spark"
    hits = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel in ("functions/ngrams.py", "registry.py"):
            continue
        src = path.read_text()
        names = _NGRAM_VARIANTS.get(rel, set())
        allowed = set()
        for n in ast.parse(src).body:
            targets = [getattr(t, "id", None) for t in getattr(n, "targets", [])]
            if getattr(n, "name", None) in names or names.intersection(targets):
                allowed.update(range(n.lineno, n.end_lineno + 1))
        for i, line in enumerate(src.splitlines(), 1):
            if i not in allowed and re.search(_NGRAM_OR_BAND_CODE, line):
                hits.append(f"hedera_spark/{rel}:{i}")
    assert not hits, f"hand-rolled n-gram or LSH band code, use the kernels: {hits}"


def test_derived_state_has_one_store():
    """What is derived from input files (schemas, hot-page stats, trained
    models) has one owner, `sources.tables.derived`, with one keying
    rule and two lifetimes. A module-level memo dict or an `os.stat(`
    under operators/ is a second copy of that store, and an operator
    import in session.py means reset_session_state is clearing a
    private one."""
    import ast
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "hedera_spark"
    memo = r"\{\}|dict\(\)|(collections\.)?(defaultdict|OrderedDict)\(.*\)"
    hits = []
    for path in sorted((root / "operators").rglob("*.py")):
        rel = f"hedera_spark/{path.relative_to(root).as_posix()}"
        src = path.read_text()
        hits += [
            f"{rel}:{n.lineno}"
            for n in ast.parse(src).body
            if isinstance(n, (ast.Assign, ast.AnnAssign))
            and n.value is not None
            and re.fullmatch(memo, ast.unparse(n.value))
        ]
        hits += [f"{rel}:{i}" for i, line in enumerate(src.splitlines(), 1) if "os.stat(" in line]
    session = ast.parse((root / "session.py").read_text())
    hits += [
        f"hedera_spark/session.py:{n.lineno}"
        for n in ast.walk(session)
        if isinstance(n, (ast.Import, ast.ImportFrom))
        and any("operators" in f"{getattr(n, 'module', None)}.{a.name}" for a in n.names)
    ]
    assert not hits, f"derived state outside sources/tables.derived: {hits}"


def _product_folds(src: str) -> list[int]:
    """Lines where an `aggregate` folds a `zip_with` whose lambda
    multiplies: a hand-rolled dot product, norm or distance."""
    import re

    lines = []
    for m in re.finditer(r"aggregate\(\s*(?:F\.)?zip_with\(", src):
        depth, end = 1, m.end()
        while depth and end < len(src):
            depth += {"(": 1, ")": -1}.get(src[end], 0)
            end += 1
        if "*" in src[m.end() : end]:
            lines.append(src.count("\n", 0, m.start()) + 1)
    return lines


def test_vector_math_and_bit_codes_go_through_the_shared_kernel():
    """Embedding vector math and bit codes have one owner,
    hedera_spark/functions/vectors.py: a `zip_with` product fold or a
    `1 << p` bit-code term anywhere else fails here. registry.py is
    skipped, because its DuckDB oracles state each algorithm on their
    own."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "hedera_spark"
    hits = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel in ("functions/vectors.py", "registry.py"):
            continue
        src = path.read_text()
        lines = set(_product_folds(src))
        for i, line in enumerate(src.splitlines(), 1):
            if re.search(r"\b1 << [a-z_]", line) and re.search(r"(?i)when|then|lit\(", line):
                lines.add(i)
        hits += [f"hedera_spark/{rel}:{i}" for i in sorted(lines)]
    assert not hits, f"hand-rolled vector math or bit code, use functions/vectors.py: {hits}"

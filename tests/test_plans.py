"""Plan audits (SURVEY.md §5.3): the physical plans must show the shapes
we designed for — predicate pushdown into the parquet scan, broadcast
joins for dims, no row-at-a-time Python UDFs in relational operators.
These are the properties that decide whether the same code survives a
100x scale-up."""

from __future__ import annotations

import pytest

from hedera_spark.plans import (
    executed_plan,
    formatted_plan,
    has_broadcast_join,
    has_python_eval,
    pushed_filters,
    read_schema,
)
from tests.conftest import SF_DIR


@pytest.fixture(autouse=True)
def _clean_session(spark):
    """Plan audits assert the shapes a FRESH session produces. The
    session-scoped fixture accumulates state from earlier test modules —
    persisted intermediates (e.g. test_oracle_parity materializing
    ngram_novelty leaks the `_shingles` cache) and trained model
    registries — and Spark substitutes any cached subtree into new
    plans, where AQE then refuses to reuse exchanges across the
    TableCacheQueryStage nodes (the exact regression
    test_banded_self_joins_reuse_the_expensive_exchange exists to
    catch). Reset to a clean state so the audited plan is the one the
    operator actually ships, independent of suite ordering."""
    from hedera_spark.session import reset_session_state

    reset_session_state(spark)
    yield


def test_tpch_q6_pushes_filters_to_scan(spark):
    from hedera_spark.operators.tpch import tpch_q6

    filters = " ".join(pushed_filters(tpch_q6(spark, SF_DIR)))
    # the shipdate range must reach the scan, not sit in a post-filter only
    assert "l_shipdate" in filters


def test_tpch_q1_prunes_columns(spark):
    from hedera_spark.operators.tpch import tpch_q1

    schemas = " ".join(read_schema(tpch_q1(spark, SF_DIR)))
    assert "l_comment" not in schemas
    assert "l_orderkey" not in schemas  # not referenced by q1


def test_dim_joins_are_broadcast(spark):
    from hedera_spark.operators.anchors import id2title
    from hedera_spark.operators.tpch import tpch_q5

    assert has_broadcast_join(id2title(spark, SF_DIR))
    assert has_broadcast_join(tpch_q5(spark, SF_DIR))


def test_rev_filter_pushdown(spark):
    from hedera_spark.operators.revisions import rev_filter_time

    filters = " ".join(pushed_filters(rev_filter_time(spark, SF_DIR)))
    # event_type filter is pushable; ts is a derived column (nanos->micros)
    # so its range filter sits above the scan by design
    assert "event_type" in filters


@pytest.mark.parametrize(
    "qname",
    ["anchor_count", "term_stats", "dedup_minhash", "rev_diff", "tpch_q1"],
)
def test_hot_paths_have_no_python_udf(spark, qname):
    from hedera_spark.registry import QUERIES

    assert not has_python_eval(QUERIES[qname](spark, SF_DIR))


def test_whole_stage_codegen_covers_q1(spark):
    from hedera_spark.operators.tpch import tpch_q1

    df = tpch_q1(spark, SF_DIR)
    df.collect()  # AQE finalizes the physical plan on execution
    plan = executed_plan(df)
    # '*(n)' operator prefixes mark whole-stage-codegen spans in plan strings
    assert "WholeStageCodegen" in plan or "*(" in plan


def test_pack_sequences_prefix_sum_is_range_partitioned(spark):
    """The corpus-wide cumsum must NOT run in a window partitioned by lang
    alone (one task per language). The scalable shape: range-partition by
    (lang, doc_id), cumsum per (pid, lang), broadcast the per-partition
    offsets. Only the tiny offsets aggregate may window on lang alone."""
    import re

    from hedera_spark.operators.text_analysis import pack_sequences

    df = pack_sequences(spark, SF_DIR)
    df.collect()
    plan = executed_plan(df)
    assert "rangepartitioning" in plan.lower()
    for line in plan.splitlines():
        m = re.search(r"Window \[sum\(n_tokens\S*\) windowspecdefinition\((.*?)\)", line)
        if m:
            # the heavy (per-doc) window must include the partition id
            assert "pid" in m.group(1), line


def test_new_tpch_dims_broadcast_and_pushdown(spark):
    """Round-2 TPC-H additions keep the scale shapes: part/nation dims
    broadcast, selective filters reach the parquet scan."""
    from hedera_spark.operators.tpch import tpch_q10, tpch_q14, tpch_q19

    assert has_broadcast_join(tpch_q14(spark, SF_DIR))
    assert has_broadcast_join(tpch_q19(spark, SF_DIR))
    filters = " ".join(pushed_filters(tpch_q10(spark, SF_DIR)))
    assert "l_returnflag" in filters


def test_tpch_q2_min_cost_join_no_python(spark):
    from hedera_spark.operators.tpch import tpch_q2

    df = tpch_q2(spark, SF_DIR)
    assert not has_python_eval(df)
    assert has_broadcast_join(df)


def test_asof_join_is_single_shuffle_no_join(spark):
    """The as-of join must compile to union + one keyed window — if a
    range predicate ever reaches a join operator the plan degrades to
    BroadcastNestedLoop and dies at scale."""
    from hedera_spark.operators.temporal_join import asof_join

    import re

    plan = formatted_plan(asof_join(spark, SF_DIR))
    assert "Join" not in plan  # no join operator at all
    # exactly one shuffle: the user_id hash partitioning (formatted plans
    # name each node twice — tree line and detail header — so count the
    # detail headers)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_range_join_is_hash_join_not_nested_loop(spark):
    """The interval join must ride the hour-bucket equality key: hash
    join (broadcast here), never BroadcastNestedLoopJoin."""
    from hedera_spark.operators.temporal_join import range_join_hot_windows

    plan = formatted_plan(range_join_hot_windows(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_chunk_documents_is_map_only(spark):
    """Chunking must stay a single map-side pass — zero exchanges. The
    guarantee that lets it run on 100 TB without a shuffle budget."""
    from hedera_spark.operators.text_analysis import chunk_documents

    plan = executed_plan(chunk_documents(spark, SF_DIR))
    assert "Exchange" not in plan


def test_corpus_delta_is_one_keyed_join(spark):
    """Snapshot delta = one full-outer sort-merge join on doc_id (a full
    outer can never broadcast) and nothing else join-shaped."""
    from hedera_spark.operators.delta import corpus_delta

    plan = executed_plan(corpus_delta(spark, SF_DIR))
    assert plan.count("SortMergeJoin") == 1
    assert "CartesianProduct" not in plan


def test_bm25_broadcasts_stats_and_df(spark):
    """The 1-row corpus stats and the 3-term df table must broadcast —
    the per-doc length join is the only legitimate big shuffle."""
    from hedera_spark.operators.ir import bm25_topk

    plan = executed_plan(bm25_topk(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2


def test_index_delta_is_one_keyed_join(spark):
    """index_delta's doc-level compare must be exactly ONE join (the
    full-outer on doc_id) — the set-difference token logic is row-local
    array work, never a postings-level join."""
    from hedera_spark.operators.delta import index_delta

    plan = executed_plan(index_delta(spark, SF_DIR))
    joins = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert joins == 1, f"expected 1 keyed join, plan has {joins}"
    assert "BroadcastNestedLoopJoin" not in plan
    assert not has_python_eval(index_delta(spark, SF_DIR))


def test_dsir_model_is_broadcast(spark):
    """dsir_weights' 512-bucket scoring model must come in as a broadcast
    join — the corpus-side stream is never shuffled against it."""
    from hedera_spark.operators.importance import dsir_weights

    df = dsir_weights(spark, SF_DIR)
    assert has_broadcast_join(df)
    assert not has_python_eval(df)


def test_ann_pq_codebook_is_broadcast_and_bounded(spark):
    """ann_pq: the codebook join must be broadcast; the only corpus-wide
    exchanges are the (vec_id[, m]) aggregations and the cell-equality
    probe — no all-pairs operator anywhere."""
    from hedera_spark.operators.similarity import ann_pq

    df = ann_pq(spark, SF_DIR)
    plan = executed_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan
    assert not has_python_eval(df)


def test_pv_anomaly_single_window_over_daily_agg(spark):
    """pv_anomaly must aggregate to daily grain BEFORE the window (the
    window sorts |entity x day| rows, not raw events), with exactly one
    Window operator."""
    from hedera_spark.operators.timeseries import pv_anomaly

    plan = executed_plan(pv_anomaly(spark, SF_DIR))
    assert plan.count("Window") == 1
    # the window's input is the aggregated (user_id, day) stream: the
    # hash aggregate must appear below the window in the plan
    assert "HashAggregate" in plan


def test_positional_index_prunes_scan_columns(spark):
    """The positional index needs only (doc_id, text): the parquet scan
    must not read lang/source/n_chars."""
    from hedera_spark.operators.ir import positional_index

    plan = formatted_plan(positional_index(spark, SF_DIR))
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and all(
        "lang" not in l and "source" not in l and "n_chars" not in l
        for l in scan
    )


def test_phrase_search_extracts_equi_join_key(spark):
    """pos2 = pos1 + 1 must plan as a hash/sort-merge equality join —
    Catalyst extracts pos+1 as a join key, never a nested loop."""
    from hedera_spark.operators.ir import phrase_search

    plan = formatted_plan(phrase_search(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_sparse_cosine_term_join_is_equality(spark):
    """The document-similarity join must be keyed on term (equality) and
    the weight table must be cached: four downstream references (norms
    ×2, query, corpus) may compute the bow+idf subtree only once. The
    only nested loops are the 1-row |docs| stats broadcasts
    (hygiene-allowlisted bounded-build class)."""
    from hedera_spark.operators.ir import sparse_cosine_topk

    plan = formatted_plan(sparse_cosine_topk(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # weight table computed once
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_scd2_resolve_has_no_join_operator(spark):
    """The SCD2 as-of resolve must compile to union + keyed windows —
    zero join operators: the naive formulation (interval join of events
    x versions) multiplies every event by its entity's version count
    before filtering, and a range predicate reaching a join operator
    degrades to BroadcastNestedLoop at scale."""
    from hedera_spark.operators.scd import scd2_resolve

    plan = formatted_plan(scd2_resolve(spark, SF_DIR))
    assert "Join" not in plan


def test_kmeans_assignment_is_map_only(spark):
    """The trained k-means assignment plan (what dedup_semantic and the
    silhouette consume) must be map-only: literal centroids, per-row
    argmin — no Exchange, no Join."""
    import re

    from hedera_spark.operators.kmeans import kmeans_embeddings

    plan = formatted_plan(kmeans_embeddings(spark, SF_DIR))
    assert "Join" not in plan
    assert not re.findall(r"\(\d+\) Exchange", plan)


def test_frequent_itemsets_generates_candidates_map_side(spark):
    """The SON shape: ONE lineitem-to-part equality join and one basket
    agg — the size-2/3 subset expansion is array transforms (map-side),
    never a basket self-join. The oracle's three-way self-join is the
    shape this plan must avoid."""
    from hedera_spark.operators.tpch import frequent_itemsets

    plan = executed_plan(frequent_itemsets(spark, SF_DIR))
    # no join is keyed on the basket key: the only hash joins are
    # lineitem-part (l_partkey) and the 1-row support-floor broadcast
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin [l_orderkey" not in plan
    # the basket build is persisted: both consumers read the cache
    assert "InMemoryTableScan" in plan


@pytest.mark.parametrize("qname", ["dedup_simhash", "dedup_minhash"])
def test_banded_self_joins_share_one_materialization(spark, qname):
    """The banded candidate self-joins derive BOTH sides from one
    expensive frame (fingerprint/signature pipeline). r5 pins the frame
    with a persist — robust to session cache state, unlike the r4
    merge-hint ReusedExchange, which any upstream TableCacheQueryStage
    silently disables — so the executed plan must show both join sides
    reading the SAME InMemoryTableScan and the expensive aggregate must
    sit INSIDE the cached plan, never above it on a join side."""
    from hedera_spark.registry import QUERIES

    df = QUERIES[qname](spark, SF_DIR)
    df.collect()  # AQE finalizes the physical plan on execution
    plan = executed_plan(df)
    assert plan.count("TableCacheQueryStage") >= 2, (
        f"{qname}: self-join sides no longer share the persisted frame"
    )


def test_cooccur_self_join_reuses_the_expensive_exchange(spark):
    """anchor_cooccur has no internal persist, so its merge-hinted
    self-join must still collapse the identical token-pipeline
    exchanges via ReusedExchange — if the hint drops, the pipeline
    silently runs twice (the r4 −25% win evaporates)."""
    from hedera_spark.registry import QUERIES

    df = QUERIES["anchor_cooccur"](spark, SF_DIR)
    df.collect()
    plan = executed_plan(df)
    assert "ReusedExchange" in plan, "anchor_cooccur: self-join no longer reuses"


def test_ann_lsh_multi_scores_after_pair_dedup(spark):
    """The multi-table LSH must dedup (q_id, vec_id) candidate keys and
    join embeddings back for ONE dot product per pair — never score per
    colliding table and max() the duplicates away. If score-then-dedup
    returns, a max(cos) aggregate reappears in the plan and the distinct
    aggregate keys gain no payload-free shape."""
    from hedera_spark.operators.similarity import ann_lsh_multi

    plan = formatted_plan(ann_lsh_multi(spark, SF_DIR))
    assert "max(cos" not in plan  # scoring happens once, above the dedup
    # the candidate (t, bucket) join must be payload-free: no embedding
    # column may ride the broadcast side of the bucket-equality join
    import re

    for m in re.finditer(r"BroadcastHashJoin \[([^\]]*)\]", plan):
        assert "emb" not in m.group(1)


def test_window_family_spreads_planted_mega_page(spark, tmp_path):
    """Planted-skew stress (r5 VERDICT #7): one page holds ~20% of all
    revisions. AQE cannot split a skewed WINDOW partition, so the
    sequential operators run their lag/concat per (page, bucket) and
    stitch boundaries — this test proves (a) the hot page actually
    SPREADS across many shuffle keys, and (b) the bucketed form is
    value-identical to a flat single-window reference on the skewed
    fixture, boundaries included."""
    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from hedera_spark.operators.revisions import (
        REV_SEQ_BUCKET,
        REV_SKEW_BUCKET_SECONDS,
        rev_concat,
        rev_diff,
        rev_ids,
        rev_pairs,
    )
    from hedera_spark.registry import ORACLE

    # --- events: 40 normal pages x 100 revs + 1 mega-page with 1000 revs
    # (20%), spanning 14 days so the hour-bucketing has range to spread
    base = 1_700_000_000
    ev = {"event_id": [], "ts": [], "user_id": [], "event_type": [], "value": [], "props": []}
    eid = 0
    for p in range(1, 41):
        for i in range(100):
            eid += 1
            ev["event_id"].append(eid)
            ev["ts"].append((base + p * 37 + i * 9601) * 1_000_000)
            ev["user_id"].append(p)
            ev["event_type"].append("edit")
            ev["value"].append(float((p * 13 + i * 7) % 100))
            ev["props"].append("{}")
    for i in range(1000):
        eid += 1
        ev["event_id"].append(eid)
        ev["ts"].append((base + i * 1207) * 1_000_000)  # ~14 days span
        ev["user_id"].append(999)
        ev["event_type"].append("edit")
        ev["value"].append(float(i % 100))
        ev["props"].append("{}")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ev["event_id"], pa.int64()),
                "ts": pa.array(ev["ts"], pa.timestamp("us")),
                "user_id": pa.array(ev["user_id"], pa.int64()),
                "event_type": pa.array(ev["event_type"], pa.string()),
                "value": pa.array(ev["value"], pa.float64()),
                "props": pa.array(ev["props"], pa.string()),
            }
        ),
        tmp_path / "events.parquet",
    )

    # --- documents: 40 sources x 25 docs + 1 mega-source with 500 (33%)
    dd = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    did = 0
    for s in range(1, 41):
        for i in range(25):
            did += 1
            dd["doc_id"].append(did)
            dd["text"].append(f"w{(did * 7) % 50} w{(did * 11) % 50} w{(did * 13) % 50}")
            dd["lang"].append("en")
            dd["source"].append(f"src{s}")
            dd["n_chars"].append(12)
    for i in range(500):
        did += 1
        dd["doc_id"].append(did)
        dd["text"].append(f"w{(did * 7) % 50} w{(did * 11) % 50} m{i % 9}")
        dd["lang"].append("en")
        dd["source"].append("megasrc")
        dd["n_chars"].append(12)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(dd["doc_id"], pa.int64()),
                "text": pa.array(dd["text"], pa.string()),
                "lang": pa.array(dd["lang"], pa.string()),
                "source": pa.array(dd["source"], pa.string()),
                "n_chars": pa.array(dd["n_chars"], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )

    sf = str(tmp_path)

    # (a) the hot keys actually spread: >1 bucket for the mega page/source
    mega_ev_buckets = (
        spark.read.parquet(str(tmp_path / "events.parquet"))
        .where(F.col("user_id") == 999)
        .select(
            F.floor(F.unix_timestamp("ts") / REV_SKEW_BUCKET_SECONDS).alias("b")
        )
        .distinct()
        .count()
    )
    assert mega_ev_buckets > 100, mega_ev_buckets  # 1000 revs over ~335 hours
    mega_doc_buckets = (500 // REV_SEQ_BUCKET) + 1
    assert did // REV_SEQ_BUCKET >= 1  # doc ids cross at least one boundary

    # (b) value parity vs the DuckDB oracles on the SKEWED fixture —
    # boundaries between buckets included (the oracle is the flat
    # single-window statement)
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    from tests.oracle_compare import assert_frames_match

    for name, fn in (
        ("rev_ids", rev_ids),
        ("rev_pairs", rev_pairs),
        ("rev_diff", rev_diff),
        ("rev_concat", rev_concat),
    ):
        got = fn(spark, sf).toPandas()
        want = con.execute(ORACLE[name]).df()
        assert_frames_match(got, want, f"{name}@planted-skew")
    con.close()


def test_ann_topk_fast_rebalances_before_the_blas_kernel(spark):
    """r6 scale defect: the BLAS mapInPandas kernel mapped over the RAW
    parquet scan, so its parallelism was the scan's row-group count (2
    partitions at sf1 -> the CPU-dense matmul ran on 2 of 32 cores,
    3x SLOWER than the exact fold it exists to beat). The fix is the
    same rebalance discipline as fingerprint/dedup._shingles: a
    round-robin repartition to defaultParallelism ahead of the kernel.
    Pin it in the plan so a refactor can't silently drop it."""
    from hedera_spark.operators.similarity_fast import ann_topk_fast

    plan = formatted_plan(ann_topk_fast(spark, SF_DIR))
    assert "RoundRobinPartitioning" in plan, plan


def test_rev_window_family_routes_adaptively(spark):
    """r6 VERDICT #6: the skew-spread bucketed window taxes unskewed data
    ~25%, so the family routes adaptively — the driver-side pre-agg finds
    hot pages (> REV_HOT_PAGE_REVS rows) and only those take the bucketed
    branch. On the shipped testdata (max 99 revs/page, 250 snaps/page)
    the hot set is empty: the plan must be the PLAIN single window — no
    bucket column, no union."""
    from hedera_spark.operators.revisions import (
        REV_HOT_PAGE_REVS,
        _hot_pages,
        rev_pairs,
    )
    from hedera_spark.sources.revisions import load_revisions

    revs = load_revisions(spark, SF_DIR)
    assert _hot_pages(revs) == []  # shipped data: no page is hot
    plan = formatted_plan(rev_pairs(spark, SF_DIR))
    assert "Union" not in plan, plan
    # exactly one corpus window exchange, keyed on the page alone
    assert plan.count("Window") >= 1
    assert "hashpartitioning(page_id" in plan, plan

    # sanity on the constant: the planted-skew fixture's mega page (1000
    # revisions) must stay above the threshold or the fixture stops
    # exercising the bucketed branch
    assert REV_HOT_PAGE_REVS < 1000


def test_ann_query_broadcast_is_size_gated(spark, monkeypatch):
    """The ANN query side is a fixed 1/QUERY_MOD FRACTION of the corpus,
    so an unconditional broadcast hint would ship ~4 TB per executor at
    the declared 100 TB scale. plans.broadcast.broadcast_if_fits gates the hint
    on the planner's size estimate: below the ceiling the audited
    broadcast plan is unchanged; above it the hint is dropped and the
    bucket equi-join falls back to a memory-safe shuffled join with the
    identical result (guide §3.1: broadcast only what fits)."""
    from hedera_spark.operators.similarity import ann_lsh
    from hedera_spark.plans import broadcast

    # default ceiling: the test-SF estimate fits -> the shipped plan is
    # still the broadcast shape the before/after plan files pin
    assert has_broadcast_join(ann_lsh(spark, SF_DIR))

    # forced-large corpus: ceiling 0 must drop the hint; with the
    # session's auto-broadcast also off, the planner's only choice is a
    # shuffled join — the path a 100 TB query side would take
    monkeypatch.setattr(broadcast, "BROADCAST_MAX_BYTES", 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = ann_lsh(spark, SF_DIR)
        plan = formatted_plan(df)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert not has_broadcast_join(df)
        shuffled = {tuple(r) for r in df.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    monkeypatch.undo()
    base = {tuple(r) for r in ann_lsh(spark, SF_DIR).collect()}
    assert shuffled == base


def test_dedup_cold_route_broadcast_is_size_gated(spark, monkeypatch):
    """_pair_stats' cold route joins every exploded shingle with the
    COLD (df <= cap) vocabulary, a Zipf tail that grows with the corpus.
    Its broadcast goes through the same planner-estimate gate as the ANN
    query side: under the ceiling the join is broadcast; at ceiling 0
    (auto-broadcast off too) it is a shuffled join with identical rows."""
    from hedera_spark.operators import dedup
    from hedera_spark.plans import broadcast
    from hedera_spark.session import reset_session_state

    base = {tuple(r) for r in dedup.dedup_ngram_jaccard(spark, SF_DIR).collect()}
    # force the cold route on the small test corpus: probe always, and
    # any hot-set size (even 0) above the array route's bound
    monkeypatch.setattr(dedup, "HOT_ROUTE_PROBE_MIN_BYTES", 0)
    monkeypatch.setattr(dedup, "HOT_SET_ARRAY_ROUTE_MAX", -1)
    reset_session_state(spark)
    cold = dedup.dedup_ngram_jaccard(spark, SF_DIR)
    assert has_broadcast_join(cold)
    assert {tuple(r) for r in cold.collect()} == base

    monkeypatch.setattr(broadcast, "BROADCAST_MAX_BYTES", 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        reset_session_state(spark)
        df = dedup.dedup_ngram_jaccard(spark, SF_DIR)
        assert not has_broadcast_join(df)
        shuffled = {tuple(r) for r in df.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        reset_session_state(spark)
    assert shuffled == base


def test_reset_session_state_clears_all_persisted_frames(spark):
    """Several operators deliberately leak persisted frames past return
    (quality_classifier, skipgram_pairs, the ann dials, the bm25
    kernel) and rely on the session-level reset to release them — the
    contract bench.py, driver_sim and the plan audits all depend on.
    Pin it: after a leaky query runs the CacheManager holds entries;
    after reset_session_state it must be EMPTY. A leak surviving the
    reset silently degrades later plans (a substituted
    TableCacheQueryStage blocks exchange reuse) and can serve stale
    reads after an in-place rewrite of the parquet inputs."""
    from hedera_spark.operators.text_analysis import skipgram_pairs
    from hedera_spark.session import reset_session_state

    skipgram_pairs(spark, SF_DIR).collect()
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert not jcm.isEmpty(), "expected skipgram_pairs to leave persisted frames"
    reset_session_state(spark)
    assert jcm.isEmpty(), "reset_session_state left persisted frames behind"


def test_exchange_reuse_survives_a_prior_cache_leak_plus_reset(spark):
    """The r4 regression class: a leaked upstream cache (the dedup
    shingle frame) substitutes TableCacheQueryStage nodes into any
    later plan containing that subtree, and AQE then refuses to reuse
    exchanges across them. After a deliberate _shingles leak followed
    by reset_session_state, anchor_cooccur's merge-hinted self-join
    must still collapse its identical token pipelines to one executed
    exchange."""
    from hedera_spark.operators.dedup import _shingles
    from hedera_spark.registry import QUERIES
    from hedera_spark.session import reset_session_state

    _shingles(spark, SF_DIR).persist().count()  # the documented leak
    reset_session_state(spark)
    df = QUERIES["anchor_cooccur"](spark, SF_DIR)
    df.collect()
    assert "ReusedExchange" in executed_plan(df), (
        "anchor_cooccur: exchange reuse did not survive a leak + reset"
    )


def test_plan_report_counts_only_the_final_adaptive_plan(spark):
    """tools/gen_plan_report.py counts a plan's nodes. Training
    quality_classifier materializes its persisted per-doc features, whose
    adaptive plan then prints a Final and an Initial section; only the
    Final plan ran, with two shuffles, and the query planned again with
    its model stored counts the same. Codegen stage ids restart inside
    the cached per-doc plan (spans 1-4) and outside it (1-2), so the
    spans are counted per subplan: six, not four."""
    import importlib.util
    import pathlib

    from hedera_spark.operators.importance import quality_classifier
    from hedera_spark.session import reset_session_state

    path = pathlib.Path(__file__).resolve().parent.parent / "tools" / "gen_plan_report.py"
    spec = importlib.util.spec_from_file_location("gen_plan_report", path)
    report = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(report)

    cold = formatted_plan(quality_classifier(spark, SF_DIR))
    stored = formatted_plan(quality_classifier(spark, SF_DIR))
    reset_session_state(spark)
    assert "== Initial Plan ==" in cold
    assert report._features(cold) == report._features(stored)
    assert report._features(cold)["exchanges"] == 2
    assert report._features(cold)["codegen"] == 6

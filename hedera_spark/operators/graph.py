"""Graph analytics over the anchor co-mention graph: rankings (PageRank,
HITS), cohesion (triangles, k-core, modularity), communities, distances,
link prediction and random walks.

Reference parity: Hedera's entity-graph scripts build entity-entity edge
lists from co-mentions (pig/experimental/entityrelation.pig,
temporalgraph.pig) precisely so that downstream graph algorithms can run
over them. The reference leaves the algorithms to external tooling; here
each is a DataFrame plan.

Materialize the bounded input, not the result. The co-mention edge list
is |V|-bounded and tiny next to the corpus, and every algorithm reads it
several times, so `_edge_list` computes it once (plans/materialize.py)
and each fixed-depth algorithm (PageRank, HITS, triangles, LPA, BFS,
two-hop, modularity, walks) is then ONE lazy plan over it: no persist, no
build-time action, and the unrolled rounds run as stages of the caller's
own action. Iteration counts are FIXED (not convergence-tested), which is
what makes each computation exactly reproducible cross-engine: the DuckDB
oracles unroll the same rounds as CTEs. Without the materialization the
unrolled plan would hold a copy of the whole `anchor_cooccur` subtree per
reference, and adaptive execution re-optimizes all of it after every
stage.

Only the convergence loops (graph_kcore here, clusters.py's connected
components) need an action per round; they persist each frontier and end
in `_detach`.

Scale (100 TB): each round is one equality join against the edge list on
a node key plus one partial-aggregated shuffle bounded by |V| or |E|, the
textbook distributed layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hedera_spark.operators.anchors import _doc_tokens, anchor_cooccur
from hedera_spark.plans.materialize import materialize


def _detach(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """End a convergence loop: materialize `result` off its persisted
    ancestors, then release them. The loop's returned frame has the whole
    peel/propagation chain as lineage, so unpersisting alone would make
    the caller's first action recompute it from the corpus; the
    materialized result (|V|-bounded, so small) needs none of it, and
    dropping the persists leaves the session CacheManager empty, so no
    cached subtree can substitute into a later query's plan. The
    fixed-depth algorithms have no persists to release and do not call
    this."""
    out = materialize(result)
    for c in cached:
        c.unpersist()
    return out


def _edge_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """anchor_cooccur's (a1, a2, n_docs) edges, computed once and stored:
    the one materialization of every fixed-depth graph algorithm."""
    return materialize(anchor_cooccur(spark, sf_dir))


def _both_ways(edges: DataFrame, *carried: str) -> DataFrame:
    """The (a1 < a2) edge list symmetrized: (src, dst, *carried) for each
    edge in both orientations."""
    return edges.select(
        F.col("a1").alias("src"), F.col("a2").alias("dst"), *carried
    ).union(edges.select(F.col("a2").alias("src"), F.col("a1").alias("dst"), *carried))


PR_ITERATIONS = 5
PR_DAMPING = 0.85
# literal, NOT computed as 1.0 - PR_DAMPING: the subtraction rounds to a
# DIFFERENT double than the decimal literal 0.15, and the oracle SQL
# parses the literal — the two engines must start from bit-identical
# constants for the rounded ranks to agree
PR_TELEPORT = 0.15


def pagerank_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the symmetrized anchor co-occurrence graph
    (edge weight = co-mention doc count, teleport 0.15, 5 power
    iterations). Every co-mentioned anchor has degree ≥ 1, so there are
    no dangling nodes by construction; rank mass is conserved up to the
    teleport term. Output: (anchor, rank) rounded to 8 decimals."""
    sym = _both_ways(_edge_list(spark, sf_dir), "n_docs")
    # per-source normalized transition weight; broadcast-size for the
    # anchor graph, partial-agg bounded by |V| in general
    outw = sym.groupBy("src").agg(F.sum("n_docs").alias("out_w"))
    trans = sym.join(outw, "src").select(
        "src", "dst", (F.col("n_docs") / F.col("out_w")).alias("w")
    )
    # |V| rides along as a 1-row broadcast column, so no count runs while
    # the plan is built; an empty graph has no node rows to carry it
    anchors = sym.select(F.col("src").alias("anchor")).distinct()
    nodes = anchors.crossJoin(F.broadcast(anchors.agg(F.count(F.lit(1)).alias("n"))))
    ranks = nodes.select("anchor", (F.lit(1.0) / F.col("n")).alias("rank"))
    for _ in range(PR_ITERATIONS):
        contribs = (
            trans.join(ranks, trans["src"] == ranks["anchor"])
            .groupBy(F.col("dst").alias("anchor2"))
            .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
        )
        ranks = nodes.join(
            contribs, nodes["anchor"] == contribs["anchor2"], "left"
        ).select(
            "anchor",
            (
                F.lit(PR_TELEPORT) / F.col("n")
                + PR_DAMPING * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select("anchor", F.round("rank", 8).alias("rank"))


def hits_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (Kleinberg) over the co-mention graph,
    directed from the more-generic anchor to the more-specific one
    (higher document frequency → lower; df ties broken lexicographically)
    — generic terms act as hubs pointing at the specific entities they
    co-occur with, so authority surfaces the entities, hub the
    connectors. PageRank's companion ranking on the entityrelation.pig
    graph (pagerank_anchors ranks by stationary visit mass; HITS by
    mutual hub/authority reinforcement).

    Determinism: unnormalized power iteration on INTEGER edge weights —
    auth₁ = AᵀW·1, hub₁ = W·auth₁, auth₂ = AᵀW·hub₁ are exact BIGINT
    sums (the per-iteration scalar normalization cancels from the
    ranking, so dropping it trades bounded magnitude for bit-exact
    cross-engine agreement; production would rescale each round).
    Final scores divide by the exact integer maxima — one double
    division per node.

    Scale (100 TB): two broadcast df-joins to orient the edges, then
    each half-step is one equality join + one partial-agg shuffle on a
    node key — identical layout to pagerank_anchors, fixed depth 3, no
    driver-side collect (the maxima are 1-row broadcast aggregates)."""
    df_ = (
        _doc_tokens(spark, sf_dir, distinct=True)
        .groupBy("anchor")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    pairs = (
        _edge_list(spark, sf_dir)
        .join(
            F.broadcast(df_.select(F.col("anchor").alias("a1"), F.col("df").alias("df1"))),
            "a1",
        )
        .join(
            F.broadcast(df_.select(F.col("anchor").alias("a2"), F.col("df").alias("df2"))),
            "a2",
        )
    )
    fwd = (F.col("df1") > F.col("df2")) | (
        (F.col("df1") == F.col("df2")) & (F.col("a1") < F.col("a2"))
    )
    edges = pairs.select(
        F.when(fwd, F.col("a1")).otherwise(F.col("a2")).alias("src"),
        F.when(fwd, F.col("a2")).otherwise(F.col("a1")).alias("dst"),
        F.col("n_docs").alias("w"),
    )
    auth1 = edges.groupBy("dst").agg(F.sum("w").alias("auth1"))
    hub1 = (
        edges.join(auth1, "dst")
        .groupBy("src")
        .agg(F.sum(F.col("w") * F.col("auth1")).alias("hub1"))
    )
    auth2 = (
        edges.join(hub1, "src")
        .groupBy("dst")
        .agg(F.sum(F.col("w") * F.col("hub1")).alias("auth2"))
    )
    nodes = (
        edges.select(F.col("src").alias("anchor"))
        .union(edges.select("dst"))
        .distinct()
    )
    maxima = auth2.agg(F.max("auth2").alias("max_a")).crossJoin(
        hub1.agg(F.max("hub1").alias("max_h"))
    )
    return (
        nodes.join(auth2, nodes["anchor"] == auth2["dst"], "left")
        .join(hub1, nodes["anchor"] == hub1["src"], "left")
        .crossJoin(F.broadcast(maxima))
        .select(
            "anchor",
            F.round(F.coalesce(F.col("auth2"), F.lit(0)) / F.col("max_a"), 8).alias(
                "authority"
            ),
            F.round(F.coalesce(F.col("hub1"), F.lit(0)) / F.col("max_h"), 8).alias(
                "hub"
            ),
        )
    )


def anchor_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation strength for co-mentioned anchor pairs: lift =
    P(a,b) / (P(a)·P(b)) over documents — PMI without the log, kept as a
    ratio of EXACT integer counts (n_ab · N / (n_a · n_b)) so both
    engines compute bit-identical doubles from bit-identical integers
    (libm log differs across engines by ulps; a ratio does not).
    Reference: the entity-relation edge weighting of
    pig/experimental/entityrelation.pig, strengthened from raw counts to
    a normalized association score. Plan: doc-frequency table (partial
    agg, |vocab|), broadcast into the co-occurrence edge list — one
    broadcast join over the bounded anchor universe."""
    toks = _doc_tokens(spark, sf_dir, distinct=True)
    n_docs = toks.select(F.countDistinct("doc_id").alias("n"))
    df_ = toks.groupBy("anchor").agg(F.count(F.lit(1)).alias("df"))
    pairs = anchor_cooccur(spark, sf_dir)
    return (
        pairs.join(
            F.broadcast(df_.select(F.col("anchor").alias("a1"), F.col("df").alias("df1"))),
            "a1",
        )
        .join(
            F.broadcast(df_.select(F.col("anchor").alias("a2"), F.col("df").alias("df2"))),
            "a2",
        )
        .join(F.broadcast(n_docs))
        .select(
            "a1",
            "a2",
            "n_docs",
            F.round(
                (F.col("n_docs") * F.col("n")) / (F.col("df1") * F.col("df2")),
                6,
            ).alias("lift"),
        )
    )


def anchor_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    co-mention graph — the cohesion statistic next to the two rankings
    (pagerank_anchors, hits_anchors): cc = 2T / (deg·(deg−1)), the
    probability that two co-mention partners also co-occur with each
    other, which separates topic hubs (low cc) from tight entity
    cliques (high cc) on entityrelation.pig's graph.

    Exact and deterministic: triangle enumeration is two equality joins
    over the (a<b<c)-ordered edge list (the standard distributed
    triangle count; the df-cap keeps the edge list and join fan-out
    bounded), T and deg are integers, and cc is one double division of
    exact integers, rounded.

    Output: (anchor, degree, n_triangles, clustering_coeff) for every
    node of the edge list; cc = 0.0 for degree-1 nodes."""
    e = _edge_list(spark, sf_dir).select("a1", "a2")
    ab = e.select(F.col("a1").alias("a"), F.col("a2").alias("b"))
    bc = e.select(F.col("a1").alias("b"), F.col("a2").alias("c"))
    ac = e.select(F.col("a1").alias("a"), F.col("a2").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"], "left_semi")
    tri_nodes = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("anchor")
    ).groupBy("anchor").agg(F.count(F.lit(1)).alias("n_triangles"))
    deg = (
        e.select(F.col("a1").alias("anchor"))
        .union(e.select(F.col("a2").alias("anchor")))
        .groupBy("anchor")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.join(tri_nodes, "anchor", "left")
        .select(
            "anchor",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    (F.coalesce("n_triangles", F.lit(0)) * 2)
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-mention graph — the first sanity
    dashboard over any extracted entity graph (is it power-law? did the
    df-cap actually bound the hubs?): per-node degree and co-mention
    strength, rolled up into a (degree → node count, strength mass)
    histogram.

    Exact: degrees and strengths are integer counts off the capped edge
    list; the histogram is a second integer partial agg. Scale: two
    partial-agg shuffles, the first bounded by |V|, the second by
    |distinct degrees| (≪ |V|); the edge list itself is df-capped
    upstream (anchors.py), so no hub blow-up can reach this operator."""
    e = anchor_cooccur(spark, sf_dir)
    per_node = (
        e.select(F.col("a1").alias("anchor"), "n_docs")
        .union(e.select(F.col("a2").alias("anchor"), "n_docs"))
        .groupBy("anchor")
        .agg(
            F.count(F.lit(1)).alias("degree"),
            F.sum("n_docs").alias("strength"),
        )
    )
    return (
        per_node.groupBy("degree")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("strength").cast("long").alias("total_strength"),
        )
        .select("degree", "n_nodes", "total_strength")
    )


LPA_ITERATIONS = 3


def graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the co-mention graph — weighted label
    propagation (LPA), the linear-time community algorithm that
    complements the rankings (pagerank/HITS) and cohesion stats
    (triangles/components): each node starts as its own label and
    repeatedly adopts the label with the highest incident co-mention
    weight, smallest-label tie-break, for a FIXED LPA_ITERATIONS rounds.

    Determinism: votes are exact integer sums of edge weights; the
    winner is min_by over (−weight, label), a total order, so every
    round is reproducible and the DuckDB oracle replays the identical
    rounds as unrolled CTEs (the pagerank discipline).

    Scale: per round, one equality join (labels ⋈ edges on dst) + two
    partial-agg shuffles bounded by |E| votes → |V| labels."""
    return _communities(_edge_list(spark, sf_dir))


def _communities(edges: DataFrame) -> DataFrame:
    """graph_communities' (anchor, community) over an (a1, a2, n_docs)
    edge list, as one lazy plan."""
    sym = _both_ways(edges, "n_docs")
    labels = sym.select(F.col("src").alias("anchor")).distinct().withColumn(
        "label", F.col("anchor")
    )
    for _ in range(LPA_ITERATIONS):
        # one exchange per round instead of two: hash(src) satisfies the
        # clustered distribution of BOTH the (src,label) vote sum and the
        # per-src argmax (hash keys ⊆ grouping keys), so repartitioning
        # the join output by src once lets the two groupBys run
        # collocated in the same stage. The vote rows shuffled raw are
        # ≈ the partial-agg rows the old (src,label) exchange carried:
        # in early rounds labels are near-unique, so map-side partial
        # aggregation reduced almost nothing there anyway.
        votes = (
            sym.join(labels, sym["dst"] == labels["anchor"])
            .repartition("src")
            .groupBy(F.col("src"), F.col("label"))
            .agg(F.sum("n_docs").alias("sum_w"))
        )
        labels = (
            votes.groupBy(F.col("src").alias("anchor"))
            .agg(
                F.min_by(
                    "label",
                    F.struct((-F.col("sum_w")).alias("nw"), F.col("label")),
                ).alias("label")
            )
        )
    return labels.select("anchor", F.col("label").alias("community"))


KCORE_K = 3
KCORE_ROUNDS = 4


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core peeling of the co-mention graph: repeatedly remove nodes
    with degree < K (K=3, 4 fixed rounds) and report the surviving
    nodes with their degree inside the peeled subgraph — the standard
    dense-subgraph / spam-tail filter over entity graphs
    (entityrelation.pig's edge list, peeled). A fixed round count keeps
    the computation exactly reproducible cross-engine (the oracle
    unrolls the same four peels as CTEs); on graphs whose peeling
    converges earlier, extra rounds are no-ops by construction.

    Scale: per round one partial-aggregated degree count (shuffle
    bounded by |V|) and two semi-join filters against the surviving
    node set — broadcast-sized for anchor vocabularies, and a keyed
    equality join in general. Edges persist per round with the previous
    frontier unpersisted (clusters.py's iteration discipline), so
    lineage depth stays O(1) in the round count."""
    # the co-mention edge list is |V|-bounded and tiny next to the corpus:
    # compact it so the peeling rounds don't inherit the corpus scan's
    # task count (same rationale as dedup._shingles' rebalance, inverted)
    edges = (
        _both_ways(anchor_cooccur(spark, sf_dir))
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
    )
    n_edges = edges.count()
    for _ in range(KCORE_ROUNDS):
        # no broadcast hint: the surviving-node set shrinks every round
        # and AQE picks broadcast when it fits — a forced driver-side
        # broadcast of a mid-lineage frame is the fragile choice under
        # session-wide memory pressure
        keep = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= KCORE_K)
            .select("src")
        )
        nxt = (
            edges.join(keep, "src")
            .join(keep.select(F.col("src").alias("dst")), "dst")
            .select("src", "dst")
            .persist()
        )
        n_nxt = nxt.count()  # materialize before releasing the parent
        edges.unpersist()
        edges = nxt
        # peeling is monotone: a round that removes nothing makes every
        # later round a no-op, so stopping early is result-identical to
        # the oracle's full unroll (count-only guard, no data collect)
        if n_nxt == n_edges:
            break
        n_edges = n_nxt
    return _detach(
        edges.groupBy(F.col("src").alias("anchor")).agg(
            F.count(F.lit(1)).alias("degree")
        ),
        edges,
    )


BFS_ROUNDS = 3
BFS_SEEDS = 3


def graph_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the co-mention graph: hop distance from the
    BFS_SEEDS strongest nodes (by total co-mention weight, deterministic
    name tie-break), BFS_ROUNDS fixed frontier expansions — "how far is
    every entity from the hubs?", the reachability companion to the
    ranking operators on entityrelation.pig's edge list. Nodes beyond
    BFS_ROUNDS hops are absent (unreached).

    Scale: per round one equality join of the current distance table
    against the edge list (keyed on the source node) + one min partial
    agg bounded by |V|. Seed selection is a TakeOrdered LIMIT over |V|
    strength rows, never a full sort."""
    sym = _both_ways(_edge_list(spark, sf_dir), "n_docs")
    strength = sym.groupBy("src").agg(F.sum("n_docs").alias("s"))
    dists = (
        strength.orderBy(F.desc("s"), "src")
        .limit(BFS_SEEDS)
        .select(F.col("src").alias("anchor"), F.lit(0).cast("long").alias("dist"))
    )
    for _ in range(BFS_ROUNDS):
        cand = dists.join(sym, dists["anchor"] == sym["src"]).select(
            F.col("dst").alias("anchor"), (F.col("dist") + 1).alias("dist")
        )
        dists = dists.union(cand).groupBy("anchor").agg(F.min("dist").alias("dist"))
    return dists


def graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity for every co-mention edge — the
    classic link-prediction / edge-strength baseline on entity graphs
    (entityrelation.pig's edges, scored structurally): two anchors
    whose neighborhoods overlap are related even where their direct
    co-mention count is modest. Output: (a1, a2, common_neighbors,
    jaccard = |N(a)∩N(b)| / |N(a)∪N(b)|), exact integers under a
    rounded division.

    Scale: the common-neighbor join is the triangle-enumeration shape
    (sym ⋈ sym on the shared endpoint) — Σdeg² bounded, which the
    co-occurrence family's df-cap keeps polynomial by capping hub
    degrees (same budget as anchor_triangles); then one |E|-bounded
    count agg, one semi-filter to existing edges, two |V|-bounded
    degree joins."""
    e = anchor_cooccur(spark, sf_dir).select("a1", "a2")
    sym = _both_ways(e)
    deg = sym.groupBy(F.col("src").alias("a1")).agg(F.count(F.lit(1)).alias("deg"))
    left = sym.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    right = sym.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    common = (
        left.join(right, "c")
        .where(F.col("a") < F.col("b"))
        .groupBy(F.col("a").alias("a1"), F.col("b").alias("a2"))
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    return (
        e.join(common, ["a1", "a2"], "left")
        .join(deg.select(F.col("a1"), F.col("deg").alias("deg_a")), "a1")
        .join(
            deg.select(F.col("a1").alias("a2"), F.col("deg").alias("deg_b")),
            "a2",
        )
        .select(
            "a1",
            "a2",
            F.coalesce(F.col("common_neighbors"), F.lit(0)).alias(
                "common_neighbors"
            ),
            F.round(
                F.coalesce(F.col("common_neighbors"), F.lit(0))
                / (
                    F.col("deg_a")
                    + F.col("deg_b")
                    - F.coalesce(F.col("common_neighbors"), F.lit(0))
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-mention graph: the Pearson
    correlation between the degrees at the two ends of every edge
    (Newman's r) — do hubs attach to hubs (r > 0, social-network shape)
    or to leaves (r < 0, star/hub-and-spoke shape)? The one-number
    companion to graph_degree_stats' histogram; together they say
    whether the df-cap left a graph whose joins will skew.

    Determinism: all six moments (n, Σx, Σy, Σxy, Σx², Σy²) are EXACT
    integer aggregates over the symmetrized edge list (each unordered
    edge contributes both orientations, the standard undirected
    convention), so r is one fixed dag of integer-derived doubles.

    Scale: one |V|-bounded degree agg, two broadcast-size degree joins
    onto the edge list, one 1-row moment aggregate."""
    sym = _both_ways(anchor_cooccur(spark, sf_dir))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    pairs = sym.join(
        deg.select("src", F.col("deg").alias("x")), "src"
    ).join(
        deg.select(F.col("src").alias("dst"), F.col("deg").alias("y")), "dst"
    )
    m = pairs.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n_edges") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n_edges") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n_edges") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.where(F.col("n_edges") > 0).select(
        F.col("n_edges"),
        F.when(
            (denx > 0) & (deny > 0),
            F.round(
                num.cast("double")
                / F.sqrt(denx.cast("double") * deny.cast("double")),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("assortativity"),
    )


TWO_HOP_TOPK = 50


def graph_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 PREDICTED links: non-adjacent anchor pairs ranked by
    common-neighbor count over the co-mention graph — the classic
    link-prediction recommender (graph_neighbor_jaccard scores edges
    that exist; this surfaces the pairs that don't yet). Reference
    graph: entityrelation.pig's co-mention edges.

    Prediction runs over the STRONG-EDGE backbone: edges at or above
    the 60th weight percentile (a 1-row exact-percentile broadcast).
    On a small shared vocabulary the full co-mention graph is complete
    — every pair adjacent, nothing to predict — so a relative cut, not
    an absolute one, keeps the operator exercised at every corpus
    scale while the semantics stay the natural "predict the next
    strong co-mention from the strong backbone".

    Plan shape: the two-hop candidate join is the triangle-enumeration
    shape (sym ⋈ sym on the shared endpoint — Σdeg² bounded by
    anchor_cooccur's df-cap and per-doc cuts), existing edges removed
    with one LEFT ANTI join, then a TakeOrdered of 50 rows. No
    Cartesian anywhere; ties break lexicographically."""
    e_all = _edge_list(spark, sf_dir)
    cut = e_all.agg(F.expr("percentile(n_docs, 0.6)").alias("cut"))
    e = (
        e_all.crossJoin(F.broadcast(cut))
        .where(F.col("n_docs") >= F.col("cut"))
        .select("a1", "a2")
    )
    sym = _both_ways(e)
    x = sym.select(F.col("src").alias("a"), F.col("dst").alias("v"))
    y = sym.select(F.col("src").alias("v"), F.col("dst").alias("c"))
    cand = (
        x.join(y, "v")
        .where(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    return (
        cand.join(
            e,
            (cand["a"] == e["a1"]) & (cand["c"] == e["a2"]),
            "left_anti",
        )
        .select(
            F.col("a").alias("a1"),
            F.col("c").alias("a2"),
            "common_neighbors",
        )
        .orderBy(F.desc("common_neighbors"), "a1", "a2")
        .limit(TWO_HOP_TOPK)
    )


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition, per community:
    q_term = w_in/m − (d_c/2m)² — the clustering-quality dial for
    graph_communities (Σ q_term = Q; 0.3+ conventionally means real
    structure). Emitting per-community rows shows WHICH communities
    carry the structure, the same per-cell discipline as profile_drift.

    Exactness: w_in, d_c and m are exact integer co-mention weights;
    each row is one deterministic double expression.

    Plan: two keyed joins label the edge endpoints, one community
    aggregate each for internal weight and weighted degree, and the
    1-row total-weight broadcast — all on the df-capped edge list."""
    edges = _edge_list(spark, sf_dir)
    e = edges.select("a1", "a2", F.col("n_docs").alias("w"))
    lab = _communities(edges)
    e2 = e.join(
        lab.select(F.col("anchor").alias("a1"), F.col("community").alias("c1")),
        "a1",
    ).join(
        lab.select(F.col("anchor").alias("a2"), F.col("community").alias("c2")),
        "a2",
    )
    m = e.agg(F.sum("w").alias("m"))
    sym = e.select(F.col("a1").alias("anchor"), "w").union(
        e.select(F.col("a2").alias("anchor"), "w")
    )
    deg = (
        sym.groupBy("anchor")
        .agg(F.sum("w").alias("d"))
        .join(lab, "anchor")
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("n_nodes"), F.sum("d").alias("degree_w"))
    )
    intra = (
        e2.where(F.col("c1") == F.col("c2"))
        .groupBy(F.col("c1").alias("community"))
        .agg(F.sum("w").alias("internal_w"))
    )
    return (
        deg.join(intra, "community", "left")
        .join(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            F.coalesce("internal_w", F.lit(0)).alias("internal_w"),
            "degree_w",
            F.round(
                F.coalesce("internal_w", F.lit(0)) / F.col("m")
                - (F.col("degree_w") / (2.0 * F.col("m")))
                * (F.col("degree_w") / (2.0 * F.col("m"))),
                6,
            ).alias("q_term"),
        )
    )


WALK_STEPS = 4


def graph_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-walk corpus over the co-mention graph — the data-prep
    step of DeepWalk/node2vec (Perozzi et al. 2014): one fixed-length
    walk per start node, each step choosing the neighbor with the
    minimal md5(start ~ step ~ current ~ neighbor) — a deterministic
    stand-in for the per-step random draw, so both engines (and every
    re-run) emit the identical walk corpus; downstream these walks are
    skipgram_pairs' input, closing the graph-embedding training-data
    loop.

    Scale: WALK_STEPS fixed joins of the frontier (|V| rows, one walk
    per node) against the symmetrized edge list, each followed by a
    min_by partial agg, chained as one lazy plan. Walk storage is a
    bounded string; no driver-side stepping.

    Determinism: the md5 pick is a total order (hash, then neighbor);
    every node in the co-mention graph has ≥ 1 neighbor, so no walk
    stalls early."""
    sym = _both_ways(_edge_list(spark, sf_dir))
    nodes = sym.select("src").distinct()
    cur = nodes.select(
        F.col("src").alias("start"),
        F.col("src").alias("cur"),
        F.col("src").alias("walk"),
    )
    for t in range(WALK_STEPS):
        h = F.md5(
            F.concat_ws(
                "~", F.col("start"), F.lit(str(t)), F.col("cur"), F.col("dst")
            )
        )
        stepped = cur.join(sym, cur["cur"] == sym["src"]).select(
            "start", "walk", F.col("dst").alias("nxt"), h.alias("h")
        )
        cur = (
            stepped.groupBy("start", "walk")
            .agg(
                F.min_by(
                    "nxt", F.struct(F.col("h"), F.col("nxt"))
                ).alias("nxt")
            )
            .select(
                "start",
                F.concat_ws("->", "walk", "nxt").alias("walk"),
                F.col("nxt").alias("cur"),
            )
        )
    return cur.select(
        F.col("start").alias("start_anchor"),
        "walk",
        F.lit(WALK_STEPS + 1).cast("long").alias("walk_len"),
    )

"""Group A — revision / versioned-document operators (SURVEY.md §2.A).

Hedera's revision machinery (pairing consecutive revisions, diffing them,
sampling one per time interval, time-span filtering) is imperative reader
code in the reference. Spark-first, every one of these is a *window over
the page key ordered by time*: one shuffle on the page key, no self-join.
At 100 TB the shuffle is keyed on page_id (high cardinality, near-uniform
for real corpora), so the plan scales linearly with executors. AQE cannot
split a skewed WINDOW partition (skew splitting is a join optimization),
so the sequential operators (rev_pairs / rev_diff / rev_concat) run their
lag/concat per (page, bucket) and stitch bucket boundaries through the
tiny (page × bucket) edge table — a mega-page holding p% of all revisions
spreads across its buckets instead of pinning p% of the corpus to one
task (see test_plans.py's planted-skew stress).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hedera_spark.functions.ngrams import ngram_sql
from hedera_spark.sources.revisions import load_revisions, load_snapshots
from hedera_spark.sources.tables import derived, table_state_key

def _page_time() -> Window:
    return Window.partitionBy("page_id").orderBy("ts", "rev_id")


# the skew-spread bucket grains for the sequential (lag/concat) operators:
# rev_pairs buckets the page timeline by hour; rev_diff / rev_concat bucket
# the revision sequence by id range. A mega-page spreads across its
# buckets; the tiny per-(page, bucket) edge table stitches the boundaries.
REV_SKEW_BUCKET_SECONDS = 3600
REV_SEQ_BUCKET = 1024

# adaptive routing (r6 VERDICT #6): the bucketed skew-spread form taxes
# UNSKEWED data ~25% (a normal page's revisions scatter ~1 per hourly
# bucket, so nearly every row detours through the edge-table stitch).
# One cheap pre-agg finds the pages deep enough to pin a window task —
# on real corpora a ~0-row frame — and only THOSE route through the
# bucketed branch; everything else takes the plain single-window lag.
REV_HOT_PAGE_REVS = 400
_HOT_CAP = 100_000


def _hot_pages(df: DataFrame, state: tuple | None = None) -> list | None:
    """Page keys with more than REV_HOT_PAGE_REVS rows — the windows that
    would pin one task under the plain page-keyed form (AQE cannot split
    a skewed WINDOW partition). The pre-agg is a map-side-combined count
    on the pruned key column: one cheap extra job, |pages| rows shuffled.
    With the input table's `state` (table_state_key) it is kept in the
    `tables.derived` store and survives reset_session_state, as catalog
    statistics survive a session; without one it is computed each call.
    Returns None past _HOT_CAP hot keys (a pathological corpus where the
    literal isin filter itself would be the problem) — callers then send
    the WHOLE input through the bucketed form, the pre-r7 behavior."""

    def compute() -> list | None:
        rows = (
            df.groupBy("page_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > REV_HOT_PAGE_REVS)
            .select("page_id")
            .limit(_HOT_CAP + 1)
            .collect()
        )
        return None if len(rows) > _HOT_CAP else [r[0] for r in rows]

    if state is None:
        return compute()
    return derived(state, "hot_pages", REV_HOT_PAGE_REVS, compute)


def _route_hot(df: DataFrame, plain, bucketed, state: tuple) -> DataFrame:
    """plain(cold rows) UNION bucketed(hot rows), degenerating to a single
    branch when every page is cold (the common case: no union, no second
    scan) or when the hot set overflows the literal-filter cap. `state`
    is the input table's table_state_key."""
    hot = _hot_pages(df, state)
    if hot is None:
        return bucketed(df)
    if not hot:
        return plain(df)
    return plain(df.where(~F.col("page_id").isin(hot))).unionByName(
        bucketed(df.where(F.col("page_id").isin(hot)))
    )


def rev_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(page, rev, parent) lineage. Parent = previous revision of the same
    page by time, 0 for the first (Hedera convention: parent_id=0 on first
    revision). Reference: mapreduce/ExtractRevisionIds.java,
    io/etl/RevisionIdsFormat.java.
    """
    revs = load_revisions(spark, sf_dir).select("page_id", "rev_id", "ts")
    return _route_hot(
        revs, _rev_ids_plain, _rev_ids_bucketed, table_state_key(sf_dir, "events")
    )


def _rev_ids_plain(revs: DataFrame) -> DataFrame:
    """Single page-keyed lag — one shuffle, the right plan when no page
    is deep enough to pin a window task."""
    w = _page_time()
    return revs.select(
        "page_id",
        "rev_id",
        F.coalesce(F.lag("rev_id").over(w), F.lit(0)).alias("parent_id"),
    )


def _rev_ids_bucketed(revs: DataFrame) -> DataFrame:
    # skew-spread discipline (hot pages only since r7): lag per (page,
    # hour bucket) off one exchange; bucket-first rows take their parent
    # from the previous bucket's last revision via the tiny edge-table
    # stitch (coalesced to 0 for a page's true first revision)
    rb = revs.withColumn(
        "b", F.floor(F.unix_timestamp("ts") / REV_SKEW_BUCKET_SECONDS)
    )
    wb = Window.partitionBy("page_id", "b").orderBy("ts", "rev_id")
    wf = rb.select(
        "page_id",
        "rev_id",
        "ts",
        F.lag("rev_id").over(wb).alias("prev_id"),
        F.lead("rev_id").over(wb).alias("next_id"),
    )
    inb = wf.where(F.col("prev_id").isNotNull()).select(
        "page_id", "rev_id", F.col("prev_id").alias("parent_id")
    )
    edges = wf.where(F.col("prev_id").isNull() | F.col("next_id").isNull())
    wpage = Window.partitionBy("page_id").orderBy("ts", "rev_id")
    firsts = (
        edges.select(
            "page_id",
            "rev_id",
            F.col("prev_id").alias("was_first"),
            F.lag("rev_id").over(wpage).alias("stitch_parent"),
        )
        .where(F.col("was_first").isNull())
        .select(
            "page_id",
            "rev_id",
            F.coalesce("stitch_parent", F.lit(0)).alias("parent_id"),
        )
    )
    return inb.unionByName(firsts)


def rev_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive revision pairs per page with value delta and gap.
    Reference: io/input/WikiRevisionPairInputFormat.java (emits every pair
    of consecutive snapshots instead of each individually).

    Skew-spread execution (r5 VERDICT #7, adaptive since r7): a
    page-keyed lag window puts a mega-page (one page holding p% of all
    revisions) into ONE task — AQE cannot split window partitions the
    way it splits skewed joins. Pages the driver pre-agg flags as hot
    (> REV_HOT_PAGE_REVS revisions) therefore compute the lag per
    (page, hour-bucket) — the hot page spreads across its time range —
    with the per-bucket FIRST rows getting their predecessors by
    stitching each bucket's first row to the previous bucket's last row
    through a window over the tiny (page × bucket) edge table. Cold
    pages (all of them, on real corpora) take the plain single-window
    lag, which is ~25% cheaper when revisions scatter ~1 per bucket.
    Exactly the same pairs, value deltas and gaps either way."""
    revs = load_revisions(spark, sf_dir).select("page_id", "rev_id", "ts", "value")
    return _route_hot(
        revs, _rev_pairs_plain, _rev_pairs_bucketed, table_state_key(sf_dir, "events")
    )


def _rev_pairs_finish(paired: DataFrame) -> DataFrame:
    return paired.select(
        "page_id",
        "prev_rev_id",
        "cur_rev_id",
        "prev_value",
        "cur_value",
        (F.col("cur_value") - F.col("prev_value")).alias("value_delta"),
        (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")).alias(
            "gap_seconds"
        ),
    )


def _rev_pairs_plain(revs: DataFrame) -> DataFrame:
    w = _page_time()
    wf = revs.select(
        "page_id",
        F.lag("rev_id").over(w).alias("prev_rev_id"),
        F.col("rev_id").alias("cur_rev_id"),
        F.lag("value").over(w).alias("prev_value"),
        F.col("value").alias("cur_value"),
        F.lag("ts").over(w).alias("prev_ts"),
        "ts",
    )
    return _rev_pairs_finish(wf.where(F.col("prev_rev_id").isNotNull()))


def _rev_pairs_bucketed(revs: DataFrame) -> DataFrame:
    rb = revs.withColumn(
        "b", F.floor(F.unix_timestamp("ts") / REV_SKEW_BUCKET_SECONDS)
    )
    # ONE exchange on (page, bucket): lag + row_number share the ordered
    # window and the bucket-size count shares its partitioning, so the
    # in-bucket pairs AND the bucket-edge rows (rn==1 first / rn==cnt
    # last) come out of the same shuffle — the union branches below reuse
    # that exchange instead of re-shuffling the corpus for an edge agg.
    wb = Window.partitionBy("page_id", "b").orderBy("ts", "rev_id")
    # lag and lead share ONE window spec -> a single Window operator per
    # consumer; bucket-first = lag null, bucket-last = lead null
    wf = rb.select(
        "page_id",
        "b",
        "rev_id",
        "ts",
        "value",
        F.lag("rev_id").over(wb).alias("prev_rev_id"),
        F.lag("value").over(wb).alias("prev_value"),
        F.lag("ts").over(wb).alias("prev_ts"),
        F.lead("rev_id").over(wb).alias("next_rev_id"),
    )
    inb = wf.where(F.col("prev_rev_id").isNotNull()).select(
        "page_id",
        "prev_rev_id",
        F.col("rev_id").alias("cur_rev_id"),
        "prev_value",
        F.col("value").alias("cur_value"),
        "prev_ts",
        "ts",
    )
    # bucket edges: each bucket's first and last row (one row plays both
    # roles in a single-row bucket). Ordered per page by the same
    # (ts, rev_id) time order, the edge row BEFORE a bucket's first is
    # the previous bucket's last — the lag window over this tiny
    # (<= 2 x buckets-per-page) table stitches the boundary pairs.
    edges = wf.where(
        F.col("prev_rev_id").isNull() | F.col("next_rev_id").isNull()
    )
    wpage = Window.partitionBy("page_id").orderBy("ts", "rev_id")
    prev = F.lag(F.struct("ts", "rev_id", "value")).over(wpage)
    stitched = (
        edges.select("page_id", "rev_id", "ts", "value",
                     F.col("prev_rev_id").alias("was_first"),
                     prev.alias("prev"))
        .where(F.col("was_first").isNull() & F.col("prev").isNotNull())
        .select(
            "page_id",
            F.col("prev.rev_id").alias("prev_rev_id"),
            F.col("rev_id").alias("cur_rev_id"),
            F.col("prev.value").alias("prev_value"),
            F.col("value").alias("cur_value"),
            F.col("prev.ts").alias("prev_ts"),
            "ts",
        )
    )
    return _rev_pairs_finish(inb.unionByName(stitched))


def rev_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last revision per (page, day) — interval-sampled ETL. Reference:
    io/etl/IntervalRevisionETLReader.java, io/input/WikiRevisionTimeInputFormat.java
    (emit one revision per page per configured time unit). Day is the
    reference's default unit; `rev_interval_at` exposes the configurable
    granularity, keeping this day variant's DATE-typed column stable.
    """
    revs = load_revisions(spark, sf_dir).withColumn("day", F.to_date("ts"))
    w = Window.partitionBy("page_id", "day").orderBy(F.desc("ts"), F.desc("rev_id"))
    return (
        revs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("page_id", "day", "rev_id", "ts", "kind", "value")
    )


INTERVAL_UNITS = ("hour", "day", "week", "month", "year")


def rev_interval_at(spark: SparkSession, sf_dir: str, unit: str) -> DataFrame:
    """Last revision per (page, interval) at a configurable granularity —
    the configured-time-unit knob of io/etl/IntervalRevisionETLReader.java
    (the reference reads the unit from job config; here it is an argument).
    Same one-shuffle window plan as rev_interval at any unit; emits
    `interval_start` as a timestamp so all units share one schema."""
    if unit not in INTERVAL_UNITS:
        raise ValueError(f"unit must be one of {INTERVAL_UNITS}, got {unit!r}")
    revs = load_revisions(spark, sf_dir).withColumn(
        "interval_start", F.date_trunc(unit, "ts")
    )
    w = Window.partitionBy("page_id", "interval_start").orderBy(
        F.desc("ts"), F.desc("rev_id")
    )
    return (
        revs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("page_id", "interval_start", "rev_id", "ts", "kind", "value")
    )


def rev_interval_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly instance of rev_interval_at — the non-default unit the
    reference configures via org.hedera.input (WIKIREVISION.md)."""
    return rev_interval_at(spark, sf_dir, "hour")


def rev_filter_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Begin/end time-span + 'article-only' filtering. Reference:
    WIKIREVISION.md (org.hedera.input.begintime/endtime,
    SKIP_NON_ARTICLES), io/input/WikiRevisionInputFormat.java. The
    predicate is pushed to the parquet scan by Catalyst.
    """
    revs = load_revisions(spark, sf_dir)
    return revs.where(
        (F.col("ts") >= F.lit("2024-01-10"))
        & (F.col("ts") < F.lit("2024-01-20"))
        & (F.col("kind") != F.lit("error"))
    ).select("page_id", "rev_id", "ts", "kind", "value")


def rev_max_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max timestamp + revision count per page AND global (rollup row with
    NULL page_id). Reference: pig/preprocess/checkRevisions.pig (GROUP ALL
    → MAX(timestamp)), experiments/.../MaxTimestamp.java.
    """
    revs = load_revisions(spark, sf_dir)
    return revs.rollup("page_id").agg(
        F.max("ts").alias("max_ts"),
        F.count(F.lit(1)).alias("n_revs"),
    )


def rev_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-snapshot text length stats. Reference:
    experiments/.../WikiRevLength.java (emit length of every revision).
    """
    snaps = load_snapshots(spark, sf_dir)
    return snaps.select(
        F.col("rev_seq").alias("doc_id"),
        "page_id",
        F.length("text").cast("long").alias("len_chars"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("len_tokens"),
    )


def rev_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-ordered concatenation of snapshot texts per page.
    Reference: experiments/org/hedera/io/RevisionConcatText.java,
    io/etl/RevisionConcatInputFormat.java. Order is forced by sorting the
    collected (rev_seq, text) structs — collect_list alone has no ordering
    guarantee after a shuffle.
    """
    snaps = load_snapshots(spark, sf_dir).select("page_id", "rev_seq", "text")
    return _route_hot(
        snaps, _rev_concat_plain, _rev_concat_bucketed, table_state_key(sf_dir, "documents")
    )


def _rev_concat_plain(snaps: DataFrame) -> DataFrame:
    return (
        snaps.groupBy("page_id")
        .agg(F.array_sort(F.collect_list(F.struct("rev_seq", "text"))).alias("parts"))
        .select(
            "page_id",
            F.concat_ws(
                " ", F.transform("parts", lambda s: s["text"])
            ).alias("full_text"),
            F.size("parts").alias("n_revs"),
        )
    )


def _rev_concat_bucketed(snaps: DataFrame) -> DataFrame:
    # hierarchical ordered concat (r5 VERDICT #7; hot pages only since
    # r7): level 1 concatenates within rev_seq-range buckets — a
    # mega-page's texts aggregate in parallel across its buckets instead
    # of one collect_list task holding p% of the corpus — level 2
    # concatenates the per-bucket chunks in bucket order. concat_ws
    # SKIPS null elements, so to stay byte-identical to the flat form a
    # bucket whose texts are ALL null must contribute a NULL chunk (an
    # empty-string chunk would add a spurious separator at level 2);
    # empty-string texts are kept — the flat form separates them too.
    lvl1 = (
        snaps.withColumn("b", F.floor(F.col("rev_seq") / REV_SEQ_BUCKET))
        .groupBy("page_id", "b")
        .agg(F.array_sort(F.collect_list(F.struct("rev_seq", "text"))).alias("parts"))
        .select(
            "page_id",
            "b",
            F.when(
                F.size(F.filter("parts", lambda s: s["text"].isNotNull())) > 0,
                F.concat_ws(" ", F.transform("parts", lambda s: s["text"])),
            ).alias("chunk"),
            F.size("parts").alias("n"),
        )
    )
    return (
        lvl1.groupBy("page_id")
        .agg(F.array_sort(F.collect_list(F.struct("b", "chunk", "n"))).alias("chunks"))
        .select(
            "page_id",
            F.concat_ws(
                " ", F.transform("chunks", lambda c: c["chunk"])
            ).alias("full_text"),
            F.aggregate(
                "chunks", F.lit(0), lambda a, c: a + c["n"]
            ).alias("n_revs"),
        )
    )


def sample_by_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First revision per (page, day) — time-bucketed sampling.
    Reference: python/sample-by-year.py, experiments/.../SampleRevisionPair.java.
    """
    revs = load_revisions(spark, sf_dir).withColumn("day", F.to_date("ts"))
    w = Window.partitionBy("page_id", "day").orderBy("ts", "rev_id")
    return (
        revs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("page_id", "day", "rev_id", "ts", "value")
    )


def rev_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range filter + global sort by timestamp. Reference:
    pig/preprocess/sortRevisions.pig (FILTER BY timestamp, ORDER BY
    timestamp PARALLEL 200). Spark's sort is a range-partitioned total
    order — the PARALLEL hint is Catalyst's job now.
    """
    revs = load_revisions(spark, sf_dir)
    return (
        revs.where((F.col("ts") >= F.lit("2024-01-05")) & (F.col("ts") < F.lit("2024-01-15")))
        .orderBy("ts", "rev_id")
        .select("rev_id", "page_id", "ts", "kind", "value")
    )


def rev_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set diff between consecutive snapshots of a page: how many
    distinct tokens were inserted / deleted / kept. Reference:
    io/input/WikiRevisionDiffInputFormat.java + io/RevisionDiff.java (emit
    INSERT/DELETE/CHANGE chunks between two revisions). Spark-first this is
    lag(tokens) over the page window + array_except/array_intersect — all
    JVM-side, no Python in the loop.
    """
    snaps = load_snapshots(spark, sf_dir)
    toks = snaps.select(
        "page_id",
        F.col("rev_seq").alias("doc_id"),
        F.array_distinct(F.split(F.col("text"), " ")).alias("toks"),
    )
    return _route_hot(
        toks, _rev_diff_plain, _rev_diff_bucketed, table_state_key(sf_dir, "documents")
    )


def _rev_diff_plain(toks: DataFrame) -> DataFrame:
    w = Window.partitionBy("page_id").orderBy("doc_id")
    paired = toks.select(
        "page_id",
        "doc_id",
        F.lag("doc_id").over(w).alias("prev_id"),
        "toks",
        F.lag("toks").over(w).alias("prev_toks"),
    ).where(F.col("prev_id").isNotNull())
    return _rev_diff_finish(paired)


def _rev_diff_finish(paired: DataFrame) -> DataFrame:
    return paired.select(
        "page_id",
        "doc_id",
        "prev_id",
        F.size(F.array_except("toks", "prev_toks")).cast("long").alias("n_inserted"),
        F.size(F.array_except("prev_toks", "toks")).cast("long").alias("n_deleted"),
        F.size(F.array_intersect("toks", "prev_toks")).cast("long").alias("n_common"),
    )


def _rev_diff_bucketed(toks: DataFrame) -> DataFrame:
    # skew-spread lag (r5 VERDICT #7, the rev_pairs discipline; hot
    # pages only since r7): the lag window runs per (page, rev_seq-range
    # bucket), and each bucket's first row is stitched to the previous
    # bucket's last row through the tiny (page × bucket) edge table — a
    # mega-page diffs in parallel across its buckets.
    rb = toks.withColumn("b", F.floor(F.col("doc_id") / REV_SEQ_BUCKET))
    # one exchange on (page, bucket), same discipline as rev_pairs: the
    # in-bucket lag pairs and the bucket-edge rows come out of a single
    # shuffle, and the boundary stitch is a lag over the tiny edge table
    wb = Window.partitionBy("page_id", "b").orderBy("doc_id")
    wf = rb.select(
        "page_id",
        "b",
        "doc_id",
        "toks",
        F.lag("doc_id").over(wb).alias("prev_id"),
        F.lag("toks").over(wb).alias("prev_toks"),
        F.lead("doc_id").over(wb).alias("next_id"),
    )
    inb = wf.where(F.col("prev_id").isNotNull()).select(
        "page_id", "doc_id", "prev_id", "toks", "prev_toks"
    )
    edges = wf.where(F.col("prev_id").isNull() | F.col("next_id").isNull())
    wpage = Window.partitionBy("page_id").orderBy("doc_id")
    prev = F.lag(F.struct("doc_id", "toks")).over(wpage)
    stitched = (
        edges.select("page_id", "doc_id", "toks",
                     F.col("prev_id").alias("was_first"), prev.alias("prev"))
        .where(F.col("was_first").isNull() & F.col("prev").isNotNull())
        .select(
            "page_id",
            "doc_id",
            F.col("prev.doc_id").alias("prev_id"),
            "toks",
            F.col("prev.toks").alias("prev_toks"),
        )
    )
    return _rev_diff_finish(inb.unionByName(stitched))


SNAPSHOT_AT = "2024-01-15 12:00:00"


def rev_snapshot_at(
    spark: SparkSession, sf_dir: str, at: str = SNAPSHOT_AT
) -> DataFrame:
    """The collection AS OF time `at`: every page's live revision — the
    latest with ts <= at. This is Hedera's defining query ("the wiki as
    it stood at T"; io/etl/IntervalRevisionETLReader.java samples exactly
    this at each interval boundary; mapreduce/ExtractTemporalAnchorText
    consumes such snapshots). One pushed-down time filter + one
    max-timestamp window per page — same single-shuffle shape as
    rev_max_ts, so it scales identically."""
    revs = load_revisions(spark, sf_dir).where(
        F.col("ts") <= F.lit(at).cast("timestamp")
    )
    w = Window.partitionBy("page_id").orderBy(F.desc("ts"), F.desc("rev_id"))
    return (
        revs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("page_id", "rev_id", "ts", "kind", "value")
    )


def rev_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-revision gap statistics per page: mean gap and the
    coefficient of variation (CV = std/mean) of the gaps — CV ≈ 1 is a
    memoryless (Poisson) edit stream, CV ≫ 1 is bursty editing. The
    activity-shape diagnostic of the revision timeline family
    (pig/preprocess/checkRevisions.pig walks exactly these per-page
    timestamp sequences).

    Determinism: gaps are EXACT integer microseconds (unix_micros of the
    lag pair); n, Σg, Σg² accumulate in DECIMAL(38,0) (Σg² of month-long
    µs gaps overflows BIGINT), so mean and the variance numerator
    n·Σg² − (Σg)² are exact before the single double division/sqrt.

    Scale: one window over the page key (same shuffle as rev_pairs),
    one partial-agg groupBy down to |pages| rows."""
    revs = load_revisions(spark, sf_dir)
    w = Window.partitionBy("page_id").orderBy("ts", "rev_id")
    gaps = (
        revs.select(
            "page_id",
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
            ).alias("gap"),
        )
        .where(F.col("gap").isNotNull())
        .select("page_id", F.col("gap").cast("decimal(38,0)").alias("gap"))
    )
    m = gaps.groupBy("page_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("gap").alias("sg"),
        F.sum(F.col("gap") * F.col("gap")).alias("sgg"),
    )
    var_num = (F.col("n") * F.col("sgg") - F.col("sg") * F.col("sg")).cast("double")
    mean_us = F.col("sg").cast("double") / F.col("n")
    std_us = F.sqrt(var_num / (F.col("n") * (F.col("n") - 1)))
    return m.where(F.col("n") >= 5).select(
        "page_id",
        F.col("n").alias("n_gaps"),
        F.round(mean_us / 1e6, 6).alias("mean_gap_s"),
        F.when(F.col("sg") > 0, F.round(std_us / mean_us, 6))
        .otherwise(F.lit(0.0))
        .alias("cv_gap"),
    )


def rev_lifespan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page lifetime summary: first/last revision timestamps, count,
    span in days, and revisions per active day — the per-page roll-up of
    the timeline checks (pig/preprocess/checkRevisions.pig walks exactly
    these sequences; rev_max_ts is the max-only cousin).

    Exact: span_days is an integer datediff; revs_per_day is one double
    division of exact integers. One partial-agg shuffle to |pages|."""
    revs = load_revisions(spark, sf_dir)
    g = revs.groupBy("page_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_revs"),
    )
    span = F.datediff(F.to_date("last_ts"), F.to_date("first_ts")) + 1
    return g.select(
        "page_id",
        "first_ts",
        "last_ts",
        "n_revs",
        span.cast("long").alias("span_days"),
        F.round(F.col("n_revs") / span.cast("double"), 6).alias("revs_per_day"),
    )


REVERT_JACCARD = 0.6
REVERT_DF_CAP = 50  # drop shingles present in > this many revisions of a page


def rev_reverts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-revert detection over the snapshot history: a revision whose
    trigram-shingle Jaccard similarity to some NON-ADJACENT earlier
    revision of the same page reaches REVERT_JACCARD — a restore of
    prior content modulo small edits, the building block of Wikipedia
    edit-war analysis. (Byte-identical restores are the jaccard=1.0
    special case; the adjacency exclusion e < rev−1 keeps ordinary
    incremental edits — always similar to their immediate predecessor —
    out.) Reference: the revision-pair/diff family (io/input/
    WikiRevisionPairInputFormat.java, RevisionDiff.java) whose diffs
    exist precisely to surface this class of edit; the reference leaves
    revert classification to downstream consumers — here it is
    first-class. Output: (page_id, rev_seq, reverted_to = the most
    similar earlier revision, latest-wins tie-break, jaccard, gap).

    Scale: shingle hashes are computed array-side per row (the text is
    never shuffled); the candidate join is keyed on (page, shingle) —
    fan-out bounded WITHIN each page, the same blocking grain as
    dedup_ngram_jaccard's corpus-wide join but restricted to the page
    key; then one partial-agg per candidate pair and one max_by argmax
    per reverting revision."""
    snaps = load_snapshots(spark, sf_dir)
    sh = snaps.select(
        "page_id", "rev_seq", F.split("text", " ").alias("toks")
    ).selectExpr(
        "page_id",
        "rev_seq",
        f"explode({ngram_sql('toks', 3, distinct=True, hashed=True)}) AS s",
    )
    # page-local hot-shingle cut (the dedup_ngram_jaccard df-cap at page
    # grain): a shingle present in > REVERT_DF_CAP revisions of ONE page
    # makes the (page, shingle) join key quadratic in that df while
    # carrying no restore signal (it never distinguishes revisions).
    # Similarity is DEFINED over the capped universe; the oracle applies
    # the identical NOT EXISTS cut. The anti join shuffles on the same
    # (page, shingle) key as the candidate self-join below, so the
    # exchange is reused, not added. Measured 10.6s → bounded per-key
    # fan-out at sf0.1.
    hot = (
        sh.groupBy("page_id", "s")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > REVERT_DF_CAP)
        .select("page_id", "s")
    )
    kept = sh.join(hot, ["page_id", "s"], "left_anti").persist()
    n = kept.groupBy("rev_seq").agg(F.count(F.lit(1)).alias("n"))
    a = kept.select("page_id", F.col("rev_seq").alias("e_seq"), "s")
    b = kept.select("page_id", F.col("rev_seq").alias("rev_seq"), "s")
    inter = (
        a.join(b, ["page_id", "s"])
        .where(F.col("e_seq") < F.col("rev_seq") - 1)
        .groupBy("page_id", "e_seq", "rev_seq")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = (
        inter.join(n.select(F.col("rev_seq").alias("e_seq"), F.col("n").alias("na")), "e_seq")
        .join(n.select("rev_seq", F.col("n").alias("nb")), "rev_seq")
        .withColumn(
            "jaccard",
            F.round(
                F.col("c") / (F.col("na") + F.col("nb") - F.col("c")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= REVERT_JACCARD)
    )
    return (
        jac.groupBy("page_id", "rev_seq")
        .agg(
            F.max_by(
                "e_seq",
                F.struct(F.col("jaccard").alias("j"), F.col("e_seq").alias("e")),
            ).alias("reverted_to"),
            F.max(F.struct(F.col("jaccard").alias("j"), F.col("e_seq").alias("e")))[
                "j"
            ].alias("jaccard"),
        )
        .withColumn("gap", F.col("rev_seq") - F.col("reverted_to"))
    )


def page_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-level conflict dashboard: revisions, reverts, and the revert
    fraction per page — which pages are edit-warred? Composes
    rev_reverts (oracle wraps its SQL verbatim); pages with zero reverts
    are kept at score 0 via the left join.

    Scale: two partial aggs bounded by |pages| over already-audited
    plans."""
    snaps = load_snapshots(spark, sf_dir)
    nr = snaps.groupBy("page_id").agg(F.count(F.lit(1)).alias("n_revs"))
    rv = (
        rev_reverts(spark, sf_dir)
        .groupBy("page_id")
        .agg(F.count(F.lit(1)).alias("n_reverts"))
    )
    return (
        nr.join(rv, "page_id", "left")
        .select(
            "page_id",
            "n_revs",
            F.coalesce(F.col("n_reverts"), F.lit(0)).alias("n_reverts"),
            F.round(
                F.coalesce(F.col("n_reverts"), F.lit(0))
                / F.col("n_revs").cast("double"),
                6,
            ).alias("conflict_score"),
        )
    )


def editor_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-editor contribution profile over the revision log: edit
    count, distinct pages touched, active days, first/last edit day,
    and edits per active day — the contributor dashboard of the
    reference's revision analytics (the `props.k` field plays the
    editor id; `user_id` is the page, as across group A).

    Exactness: integer counts and date bounds; the intensity ratio is
    one rounded division.

    Scale: one map-side JSON extract, one |editors|-bounded agg with a
    single distinct rewrite (no Expand)."""
    from hedera_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.get_json_object("props", "$.k").cast("int").alias("editor"),
        F.col("user_id").alias("page_id"),
        F.to_date("ts").alias("day"),
    ).where(F.col("editor").isNotNull())
    per_day = e.groupBy("editor", "day").agg(F.count(F.lit(1)).alias("n"))
    pages = (
        e.select("editor", "page_id")
        .distinct()
        .groupBy("editor")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )
    days_agg = per_day.groupBy("editor").agg(
        F.sum("n").cast("long").alias("n_edits"),
        F.count(F.lit(1)).alias("n_active_days"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
        F.round(F.sum("n") / F.count(F.lit(1)), 6).alias("edits_per_day"),
    )
    return days_agg.join(pages, "editor").select(
        "editor",
        "n_edits",
        "n_pages",
        "n_active_days",
        "first_day",
        "last_day",
        "edits_per_day",
    )


def rev_token_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token provenance / survival credit (the WikiWho idea — Flöck &
    Acosta 2014 — reduced to first-introduction attribution): for every
    token of each page's FINAL snapshot, find the earliest revision
    where that token appeared, and credit each revision with the count
    and share of final-text tokens it introduced. The "who actually
    wrote the live article" dashboard; revisions whose additions were
    all churned away earn no row. Complements rev_diff (per-step churn)
    and rev_reverts (whole-revision undo) with END-STATE attribution.

    Scale: the only at-scale shuffle is one groupBy on (page, token)
    over the exploded distinct-token stream; the final-snapshot spine
    is |pages| rows and rides a broadcastable join. No self-joins, no
    quadratic text comparison — the reference's diff InputFormats walk
    revision PAIRS (io/RevisionDiff.java); end-state provenance needs
    only first-seen, which is an aggregate, not an alignment.

    Determinism: counts exact integers; share = round(…, 6)."""
    snaps = load_snapshots(spark, sf_dir)
    toks = snaps.select(
        "page_id",
        "rev_seq",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    ).where(F.col("tok") != "")
    first_seen = toks.groupBy("page_id", "tok").agg(
        F.min("rev_seq").alias("first_rev")
    )
    last = snaps.groupBy("page_id").agg(F.max("rev_seq").alias("last_rev"))
    final_toks = toks.join(
        F.broadcast(last.select(F.col("page_id").alias("lp"), "last_rev")),
        (F.col("page_id") == F.col("lp"))
        & (F.col("rev_seq") == F.col("last_rev")),
    ).select("page_id", "tok")
    credited = final_toks.join(first_seen, ["page_id", "tok"])
    per_page = credited.groupBy("page_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_final_toks")
    )
    return (
        credited.groupBy("page_id", "first_rev")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tokens_introduced"))
        .join(per_page, "page_id")
        .select(
            "page_id",
            F.col("first_rev").alias("rev_seq"),
            "n_tokens_introduced",
            F.round(
                F.col("n_tokens_introduced") / F.col("n_final_toks"), 6
            ).alias("survival_share"),
        )
    )


def page_depth_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table page-depth profile — the observability dial behind the
    adaptive skew router (_route_hot): for each revision-bearing table
    (events-as-revisions keyed on page_id, documents-as-snapshots keyed
    on source), the page count, min/max/mean revision depth, and how
    many pages exceed REV_HOT_PAGE_REVS (= how many would route through
    the bucketed skew-spread branch). On healthy corpora n_hot_pages is
    0; a nonzero value is the early warning that a mega-page is about
    to pin a window task and explains a plan change in the rev family.

    Scale: two map-side-combined counts down to |pages| rows each, then
    a 1-row aggregate per table — the same pre-agg the router itself
    runs, so this dial costs what the routing decision costs."""

    def _profile(df: DataFrame, key: str, label: str) -> DataFrame:
        per = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
        return per.agg(
            F.count(F.lit(1)).cast("long").alias("n_pages"),
            F.min("n").cast("long").alias("min_depth"),
            F.max("n").cast("long").alias("max_depth"),
            F.round(F.avg("n"), 6).alias("mean_depth"),
            F.coalesce(
                F.sum((F.col("n") > REV_HOT_PAGE_REVS).cast("long")), F.lit(0)
            )
            .cast("long")
            .alias("n_hot_pages"),
        ).select(
            F.lit(label).alias("table_name"),
            "n_pages", "min_depth", "max_depth", "mean_depth", "n_hot_pages",
        )

    revs = load_revisions(spark, sf_dir).select("page_id")
    snaps = load_snapshots(spark, sf_dir).select("page_id")
    return _profile(revs, "page_id", "revisions").unionByName(
        _profile(snaps, "page_id", "snapshots")
    )

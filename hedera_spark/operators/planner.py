"""Planning / lakehouse-operations tooling — the numbers an engine (or
an engineer) computes BEFORE running a 100 TB job, built as first-class
audited queries like everything else in the repo:

- `join_size_estimate`: the CBO cardinality estimation loop made
  visible — predict a skew-sensitive join's output size from per-key
  statistics (exact most-common-values + uniform tail, the
  histogram+MCV scheme every optimizer uses) and grade the prediction
  against the exact answer WITHOUT materializing the join.
- `partition_planner`: the small-files / `maxPartitionBytes` sizing
  pass — schema-driven per-row byte estimates per table and the
  partition count that lands each table at the 128 MB target.
- `mv_refresh_plan`: partition-level incremental-refresh planning —
  diff per-day XOR fingerprints between a materialized view's as-built
  state and the current table to emit exactly the days that need
  rebuilding (the `table_fingerprint` idea pointed at the lakehouse
  MERGE/refresh loop; complements index_delta/corpus_delta which
  maintain the VIEW, this plans WHICH partitions to touch).

Reference parity: the reference's pipelines hand-tune reducer counts
and job splits per dump (pig scripts' PARALLEL clauses, python/dumps
partition accounting); these operators are the Spark-era equivalents
computed from the data itself.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hedera_spark.operators.profile import EVENT_CHECKSUM_SERIAL
from hedera_spark.plans.materialize import materialize
from hedera_spark.plans.range_scan import range_prefix_scan
from hedera_spark.sources.tables import TABLES, load_table

# join_size_estimate: number of exact most-common-values kept; the tail
# is modeled as uniform over its distinct keys.
MCV_K = 100

# partition_planner: the classic 128 MB scan-partition target.
PARTITION_TARGET_BYTES = 128 * 1024 * 1024

# mv_refresh_plan: the view is "as built" 7 days before the newest
# event, and rows with event_id % MV_LATE_MOD == 0 arrived late (after
# the build), so historical days containing one are stale.
MV_STALE_DAYS = 7
MV_LATE_MOD = 97


def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict |lineitem ⋈ lineitem on l_partkey| (the skew-sensitive
    self-join shape behind every blocked dedup/ANN candidate join in
    this repo) from per-key counts only: exact c(k)² for the top-100
    keys, n_tail²/d_tail for the rest (uniformity assumption), graded
    against the exact Σ c(k)². One summary row with the relative error
    of the estimate.

    Scale: ONE groupBy on the join key produces every number — the
    join itself is never materialized (Σ c² at 100 TB can be 10^15
    rows; the whole point is to know that before submitting). The MCV
    split is how AQE-style skow handling decides what to salt.
    Integer-exact: counts are BIGINT, the tail model uses integer
    division, so both engines produce identical numbers."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    total = counts.agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_pairs"),
    )
    mcv = (
        counts.orderBy(F.desc("c"), "l_partkey")
        .limit(MCV_K)
        .agg(
            F.sum("c").cast("long").alias("n_mcv"),
            F.count(F.lit(1)).cast("long").alias("d_mcv"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("mcv_pairs"),
        )
    )
    est_tail = F.when(
        (F.col("n_keys") - F.col("d_mcv")) > 0,
        F.expr(
            "(n_rows - n_mcv) * (n_rows - n_mcv) div (n_keys - d_mcv)"
        ),
    ).otherwise(F.lit(0))
    return (
        total.crossJoin(F.broadcast(mcv))
        .where(F.col("n_rows") > 0)
        .select(
            "n_rows",
            "n_keys",
            "exact_pairs",
            (F.col("mcv_pairs") + est_tail).cast("long").alias("est_pairs"),
        )
        .select(
            "*",
            F.round(
                (F.col("est_pairs") - F.col("exact_pairs"))
                / F.col("exact_pairs"),
                6,
            ).alias("rel_error"),
        )
    )


def _row_bytes(df: DataFrame):
    """Schema-driven estimated in-memory/encoded bytes per row."""
    terms = []
    for f in df.schema.fields:
        dt = f.dataType
        if isinstance(dt, (T.LongType, T.DoubleType, T.TimestampType,
                           T.TimestampNTZType)):
            terms.append(F.lit(8))
        elif isinstance(dt, (T.IntegerType, T.DateType, T.FloatType)):
            terms.append(F.lit(4))
        elif isinstance(dt, T.StringType):
            terms.append(F.coalesce(F.octet_length(F.col(f.name)), F.lit(0)))
        elif isinstance(dt, T.ArrayType):
            w = 4 if isinstance(dt.elementType, T.FloatType) else 8
            terms.append(
                F.coalesce(F.size(F.col(f.name)) * w, F.lit(0))
            )
        else:
            terms.append(F.lit(8))
    return reduce(lambda a, b: a + b, terms).cast("long")


def partition_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-partition sizing for every table: row count, estimated data
    bytes (schema-driven widths: 8 for 64-bit types, 4 for 32-bit,
    byte length for strings, element width × length for arrays), and
    the partition count that lands each table at the 128 MB
    `spark.sql.files.maxPartitionBytes` target — the small-files /
    task-granularity audit run before a backfill.

    Scale: one map-side sum per table, |tables| bounded rows out. The
    estimate is the ENCODED working-set size, deliberately ignoring
    parquet compression (partition sizing is about decoded bytes a
    task holds, not bytes on disk)."""
    blocks = []
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        blocks.append(
            df.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.coalesce(F.sum(_row_bytes(df)), F.lit(0))
                .cast("long")
                .alias("est_bytes"),
            ).select(F.lit(name).alias("table_name"), "n_rows", "est_bytes")
        )
    out = reduce(lambda a, b: a.unionByName(b), blocks)
    return (
        out.where(F.col("n_rows") > 0)
        .select(
            "*",
            F.greatest(
                F.lit(1),
                F.expr(
                    f"(est_bytes + {PARTITION_TARGET_BYTES - 1})"
                    f" div {PARTITION_TARGET_BYTES}"
                ),
            ).cast("long").alias("parts_128mb"),
        )
    )


def mv_refresh_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which daily partitions of a materialized view need rebuilding:
    the view over events was built MV_STALE_DAYS before the newest
    event, and late rows (event_id % 97 == 0) arrived after the build.
    Per day, compare the as-built (n, XOR-fingerprint) pair with the
    current one: days absent from the view are 'missing', days whose
    fingerprint moved are 'stale', untouched days are omitted — the
    exact partition list an incremental REFRESH would touch.

    Scale: ONE scan, one groupBy on day — the as-built state is
    reconstructed with conditional aggregates (no second scan, no
    join), and the plan output is bounded by the day count. This is
    the table_fingerprint/checksum_by_type XOR discipline doing its
    real job: deciding what NOT to recompute."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(
        F.date_sub(F.max(F.col("ts").cast("date")), MV_STALE_DAYS).alias(
            "cutoff"
        )
    )
    h = F.conv(
        F.substring(F.md5(F.expr(EVENT_CHECKSUM_SERIAL)), 1, 15), 16, 10
    ).cast("long")
    in_mv = (F.col("day") <= F.col("cutoff")) & (
        F.col("event_id") % MV_LATE_MOD != 0
    )
    per_day = (
        ev.select(
            F.col("ts").cast("date").alias("day"), "event_id", h.alias("h")
        )
        .crossJoin(F.broadcast(cutoff))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_current"),
            F.expr("bit_xor(h)").cast("long").alias("x_current"),
            F.sum(in_mv.cast("long")).cast("long").alias("n_mv"),
            F.expr(
                f"bit_xor(CASE WHEN day <= cutoff AND"
                f" event_id % {MV_LATE_MOD} != 0 THEN h END)"
            ).cast("long").alias("x_mv"),
        )
    )
    return per_day.select(
        "day",
        F.when(F.col("n_mv") == 0, F.lit("missing"))
        .when(
            (F.col("n_mv") != F.col("n_current"))
            | (F.col("x_mv") != F.col("x_current")),
            F.lit("stale"),
        )
        .otherwise(F.lit("fresh"))
        .alias("status"),
        "n_current",
        "n_mv",
    ).where(F.col("status") != "fresh")


# zonemap_prune_stats: storage-unit simulation — 100 arithmetic
# ingestion chunks vs date partitions, graded on a single-day predicate
# placed 14 days before the newest event.
ZONEMAP_CHUNKS = 100
ZONEMAP_TARGET_AGE_DAYS = 14


def zonemap_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of the table a single-day predicate has to READ under
    two physical layouts: (a) 100 insertion-order chunks (zone maps =
    per-chunk min/max day, the parquet-footer reality of an unsorted
    ingest) and (b) date-partitioned storage. One row per layout with
    units scanned/pruned and the row fraction actually read — the
    number that justifies clustering/partitioning a 100 TB events
    table before anyone queries it.

    Scale: both layouts are computed arithmetically (chunk id from the
    event_id span, partition id = the day itself) — one scan, two
    bounded aggs, no global sort; at scale the per-chunk min/max come
    free from parquet footers and THIS operator is how you'd grade a
    proposed re-cluster without rewriting the data.

    Determinism: chunk ids are integer arithmetic on the event_id
    span; the probe day is max(day) − 14; fractions round(…, 6)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("date").alias("day")
    )
    bounds = ev.agg(
        F.min("event_id").alias("id_lo"),
        F.max("event_id").alias("id_hi"),
        F.date_sub(F.max("day"), ZONEMAP_TARGET_AGE_DAYS).alias("probe_day"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    rows = ev.crossJoin(F.broadcast(bounds))
    chunked = rows.select(
        F.expr(
            f"CAST((event_id - id_lo) * {ZONEMAP_CHUNKS}"
            f" div (id_hi - id_lo + 1) AS BIGINT)"
        ).alias("unit"),
        "day",
        "probe_day",
        "n_total",
    )

    def _layout(per_unit: DataFrame, name: str) -> DataFrame:
        return per_unit.agg(
            F.lit(name).alias("layout"),
            F.count(F.lit(1)).cast("long").alias("n_units"),
            F.sum(F.col("overlap").cast("long")).cast("long").alias("n_scanned_units"),
            F.sum(
                F.when(F.col("overlap"), F.col("n_rows")).otherwise(F.lit(0))
            ).cast("long").alias("rows_scanned"),
            F.sum(
                F.when(F.col("overlap"), F.col("n_match")).otherwise(F.lit(0))
            ).cast("long").alias("rows_matched"),
            F.max("n_total").alias("n_total"),
        ).where(F.col("n_units") > 0).select(
            "layout",
            "n_units",
            "n_scanned_units",
            (F.col("n_units") - F.col("n_scanned_units")).alias("n_pruned_units"),
            "rows_scanned",
            "rows_matched",
            F.round(F.col("rows_scanned") / F.col("n_total"), 6).alias(
                "scan_fraction"
            ),
        )

    chunk_units = chunked.groupBy("unit").agg(
        (
            (F.min("day") <= F.max("probe_day"))
            & (F.max("day") >= F.max("probe_day"))
        ).alias("overlap"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            (F.col("day") == F.col("probe_day")).cast("long")
        ).cast("long").alias("n_match"),
        F.max("n_total").alias("n_total"),
    )
    day_units = rows.groupBy("day").agg(
        F.max(F.col("day") == F.col("probe_day")).alias("overlap"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            (F.col("day") == F.col("probe_day")).cast("long")
        ).cast("long").alias("n_match"),
        F.max("n_total").alias("n_total"),
    )
    return _layout(chunk_units, "insertion_chunks").unionByName(
        _layout(day_units, "date_partitions")
    )


# skew_salt_plan / salted_join: hot keys = the SALT_HOT_K largest
# l_orderkey groups; each is split across SALT_FACTOR salt shards.
# Shuffle layout is simulated over SALT_PARTITIONS deterministic
# md5 buckets so both engines replay it bit-for-bit.
SALT_HOT_K = 8
SALT_FACTOR = 4
SALT_PARTITIONS = 32


def _hot_orderkeys(li: DataFrame) -> DataFrame:
    """1-row broadcastable hot-set: the SALT_HOT_K most frequent
    lineitem order keys (ties broken on the key)."""
    return (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .orderBy(F.desc("c"), "l_orderkey")
        .limit(SALT_HOT_K)
        .agg(F.collect_set("l_orderkey").alias("hot"))
    )


def skew_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-layout simulation for the lineitem⋈orders join key —
    the salting decision computed BEFORE running the join: hash every
    lineitem row into 32 deterministic buckets (a) on the raw key and
    (b) with the 8 hottest keys split across 4 salt shards, then report
    per-layout max/avg bucket occupancy and the skew ratio. At 100 TB
    this is how you grade a proposed salting scheme from one pass of
    per-key counts instead of discovering the straggler task in hour 3.

    Scale: ONE scan; the hot-set rides a 1-row broadcast; both layouts
    reduce to a ≤ 32-row agg each (map-side combined). The bucket
    function is the md5 discipline of the sketch family
    (sketches._hash_mod) so the DuckDB oracle replays it exactly.

    Determinism: salt = l_linenumber % 4 (a row attribute, not a
    random draw); skew ratios round(…, 6)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    from hedera_spark.operators.sketches import _hash_mod

    rows = li.crossJoin(F.broadcast(_hot_orderkeys(li))).select(
        "l_orderkey",
        F.when(
            F.array_contains(F.col("hot"), F.col("l_orderkey")),
            F.pmod(F.col("l_linenumber").cast("long"), F.lit(SALT_FACTOR)),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("salt"),
    )
    plain = rows.select(
        _hash_mod(F.lit(0), F.col("l_orderkey"), SALT_PARTITIONS).alias("b")
    )
    salted = rows.select(
        _hash_mod(
            F.lit(0),
            F.concat_ws("#", F.col("l_orderkey"), F.col("salt")),
            SALT_PARTITIONS,
        ).alias("b")
    )

    def _occupancy(b: DataFrame, name: str) -> DataFrame:
        per = b.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("n"))
        return per.agg(
            F.lit(name).alias("layout"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum("n").cast("long").alias("n_rows"),
            F.max("n").cast("long").alias("max_rows"),
            F.min("n").cast("long").alias("min_rows"),
            F.round(F.max("n") * F.lit(SALT_PARTITIONS) / F.sum("n"), 6).alias(
                "skew_ratio"
            ),
        ).where(F.col("n_buckets") > 0)

    return _occupancy(plain, "plain").unionByName(_occupancy(salted, "salted"))


def salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted shuffle join skew_salt_plan decides on, executed and
    proven result-identical to the plain join: lineitem's 8 hottest
    order keys get salt = l_linenumber % 4, the orders side is exploded
    ×4 for exactly those keys (everything else rides salt 0 with no
    replication), and the join runs on (key, salt) as a SHUFFLE_HASH
    join — the strategy salting exists for; a broadcast would dodge the
    skew instead of spreading it. Output: revenue per order priority,
    byte-identical to the unsalted join (the oracle runs the plain
    join — salting must be invisible in the result).

    Scale: the hot-set is a 1-row broadcast; replication cost is
    |hot ∩ orders| × 4 rows, not |orders| × 4; each hot key's rows now
    land on 4 reducers instead of 1. This is exactly AQE skew-join
    mitigation, spelled out as data so it works under ANY join the
    optimizer won't rewrite (e.g. the blocked dedup candidate joins).
    The generic utility form (random salt, any big/small pair) is
    layout.salted_join; this operator is its audited, deterministic
    instance.

    Determinism: salt is a row attribute; sums round(…, 2) (the tpch_q1
    discipline)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    hot = _hot_orderkeys(li)

    fact = li.crossJoin(F.broadcast(hot)).select(
        "l_orderkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        F.when(
            F.array_contains(F.col("hot"), F.col("l_orderkey")),
            F.pmod(F.col("l_linenumber").cast("long"), F.lit(SALT_FACTOR)),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("salt"),
    )
    dim = orders.crossJoin(F.broadcast(hot)).select(
        "o_orderkey",
        "o_orderpriority",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.when(
                    F.array_contains(F.col("hot"), F.col("o_orderkey")),
                    F.lit(SALT_FACTOR - 1),
                )
                .otherwise(F.lit(0))
                .cast("long"),
            )
        ).alias("salt"),
    )
    joined = fact.join(
        dim.hint("shuffle_hash"),
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (fact["salt"] == dim["salt"]),
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


# zorder_layout_audit geometry: 5 bits per dimension (day index and
# user bucket both < 32), 64 storage chunks, probes pinned 14 days
# before the newest day / at user bucket 7.
ZORDER_BITS = 5
ZORDER_CHUNKS = 64
ZORDER_PROBE_USER = 7
ZORDER_PROBE_AGE_DAYS = 14


def _interleave_expr(d: str, u: str, intdiv: str) -> str:
    """Bit-interleaved z-value of two ZORDER_BITS-wide non-negative
    ints as portable integer arithmetic (`intdiv` = 'div' for Spark
    SQL, '//' for DuckDB; inputs are non-negative so the engines'
    negative-division semantics never diverge)."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"(({d} {intdiv} {2 ** i}) % 2) * {4 ** i}")
        terms.append(f"(({u} {intdiv} {2 ** i}) % 2) * {2 * 4 ** i}")
    return " + ".join(terms)


def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER vs single-column clustering, graded by what a zone-map
    scan actually reads: lay the events table out in 64 chunks three
    ways — day-sorted, user-bucket-sorted, and bit-interleaved
    z-order — keep per-chunk min/max of BOTH dimensions (the parquet
    footer), and probe each layout with a single-day predicate and a
    single-user-bucket predicate. One row per (layout, predicate) with
    units scanned and the row fraction read. The expected shape IS the
    Delta/Iceberg OPTIMIZE ZORDER pitch: each single-column sort serves
    its own predicate and fully scans the other's; z-order serves both
    at ~sqrt cost. Extends zonemap_prune_stats (1-D) to the
    multi-dimensional clustering decision.

    Scale: no global sort is simulated — each layout's chunk id is
    integer arithmetic on the clustering key's value range, so the
    audit is ONE scan + three ≤ 64-row aggs; at 100 TB the per-chunk
    min/max come free from footers and this query grades a proposed
    re-cluster before rewriting a single byte.

    Determinism: day index = datediff from the corpus min (capped at
    31), user bucket = user_id % 32, z = exact bit arithmetic;
    fractions round(…, 6)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    bounds = ev.agg(
        F.min("day").alias("day_lo"),
        F.datediff(F.max("day"), F.min("day")).alias("day_span"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    nbit = (1 << ZORDER_BITS) - 1  # 31
    rows = ev.crossJoin(F.broadcast(bounds)).select(
        F.least(F.datediff(F.col("day"), F.col("day_lo")), F.lit(nbit))
        .cast("long")
        .alias("d"),
        F.pmod(F.col("user_id"), F.lit(nbit + 1)).cast("long").alias("u"),
        F.greatest(
            F.least(F.col("day_span"), F.lit(nbit))
            - ZORDER_PROBE_AGE_DAYS,
            F.lit(0),
        )
        .cast("long")
        .alias("probe_d"),
        "n_total",
    ).withColumn(
        "z", F.expr(_interleave_expr("d", "u", "div")).cast("long")
    )

    layouts = [
        ("day_sorted", "d", nbit + 1),
        ("user_sorted", "u", nbit + 1),
        ("zorder", "z", (nbit + 1) ** 2),
    ]
    blocks = []
    for name, keyname, rng in layouts:
        units = rows.select(
            F.expr(
                f"CAST({keyname} * {ZORDER_CHUNKS} div {rng} AS BIGINT)"
            ).alias("unit"),
            "d",
            "u",
            "probe_d",
            "n_total",
        ).groupBy("unit").agg(
            F.min("d").alias("min_d"),
            F.max("d").alias("max_d"),
            F.min("u").alias("min_u"),
            F.max("u").alias("max_u"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.max("probe_d").alias("probe_d"),
            F.max("n_total").alias("n_total"),
        )
        for pred, lo, hi, probe in (
            ("day_eq", "min_d", "max_d", F.col("probe_d")),
            ("user_eq", "min_u", "max_u", F.lit(ZORDER_PROBE_USER)),
        ):
            scanned = F.when(
                (F.col(lo) <= probe) & (F.col(hi) >= probe), F.lit(1)
            ).otherwise(F.lit(0))
            blocks.append(
                units.agg(
                    F.lit(name).alias("layout"),
                    F.lit(pred).alias("predicate"),
                    F.count(F.lit(1)).cast("long").alias("n_units"),
                    F.sum(scanned).cast("long").alias("n_scanned_units"),
                    F.sum(scanned * F.col("n_rows"))
                    .cast("long")
                    .alias("rows_scanned"),
                    F.round(
                        F.sum(scanned * F.col("n_rows"))
                        / F.max("n_total").cast("double"),
                        6,
                    ).alias("scan_fraction"),
                ).where(F.col("n_units") > 0)
            )
    out = blocks[0]
    for b in blocks[1:]:
        out = out.unionByName(b)
    return out


HIST_BUCKETS = 16


def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of l_extendedprice — the other half of the
    optimizer-statistics story next to join_size_estimate's MCV list:
    16 exact interpolated quantile boundaries (the CBO histogram every
    engine keeps per column) plus the realized per-bucket occupancy and
    its deviation from the ideal 1/16 depth. The depth_ratio column is
    the health check: a value far from 1.0 means heavy ties are
    defeating the histogram and the selectivity model needs the MCV
    path instead.

    Scale: the 17 exact boundaries come from the range-partitioned
    prefix scan (plans/range_scan.py — never a one-reducer sort or a
    single-node percentile map): rank the column distributed,
    broadcast-join the ≤34 needed order statistics out, interpolate
    row-locally. Bucket assignment is then a map-side array scan
    against the 1-row broadcast boundary vector and one ≤16-group agg.
    (At 100 TB you'd swap in approx_percentile; the audited exact twin
    is the point here.)

    Determinism: interpolation uses percentile()'s exact formula
    lo + (pos − floor(pos))·(hi − lo) with pos = (k/16)·(n−1) — k/16 is
    binary-exact — and boundaries round(…, 6) BEFORE assignment so both
    engines compare against identical doubles; counts exact BIGINT."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("x")
    )
    ranked = range_prefix_scan(li, ["x"], rank="r")  # 1..n, ties broken arbitrarily (values equal)
    n1 = li.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    # the ≤34 order statistics the 17 interpolated boundaries need
    pos = (
        n1.where(F.col("n_total") > 0)
        .select(
            "n_total",
            F.explode(
                F.sequence(F.lit(0), F.lit(HIST_BUCKETS))
            ).alias("k"),
        )
        .withColumn(
            "posd", F.col("k") / HIST_BUCKETS * (F.col("n_total") - 1)
        )
        .withColumn("lo_r", F.floor("posd").cast("long") + 1)
        .withColumn("hi_r", F.ceil("posd").cast("long") + 1)
        .withColumn("frac", F.col("posd") - F.floor("posd"))
    )
    needed = pos.select(F.explode(F.array("lo_r", "hi_r")).alias("r")).distinct()
    stats = ranked.join(F.broadcast(needed), "r").select("r", "x")
    lo_s = stats.select(F.col("r").alias("lo_r"), F.col("x").alias("v_lo"))
    hi_s = stats.select(F.col("r").alias("hi_r"), F.col("x").alias("v_hi"))
    bounds = (
        pos.join(F.broadcast(lo_s), "lo_r")
        .join(F.broadcast(hi_s), "hi_r")
        .select(
            "k",
            "n_total",
            F.round(
                F.col("v_lo") + F.col("frac") * (F.col("v_hi") - F.col("v_lo")),
                6,
            ).alias("v"),
        )
    )
    bnds = materialize(
        bounds.groupBy("n_total").agg(
            F.expr("transform(array_sort(collect_list(struct(k, v))), s -> s.v)").alias("b")
        ).select("b", "n_total")
    )
    spine = (
        bnds.where(F.col("n_total") > 0)
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(HIST_BUCKETS))).alias(
                "bucket"
            ),
            "b",
            "n_total",
        )
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.element_at("b", F.col("bucket")).alias("lo"),
            F.element_at("b", F.col("bucket") + 1).alias("hi"),
            "n_total",
        )
    )
    assigned = li.crossJoin(F.broadcast(bnds)).select(
        (
            F.size(
                F.expr(
                    f"filter(slice(b, 2, {HIST_BUCKETS - 1}), t -> x > t)"
                )
            )
            + 1
        )
        .cast("long")
        .alias("bucket")
    )
    counts = assigned.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    return spine.join(counts, "bucket", "left").select(
        "bucket",
        "lo",
        "hi",
        F.coalesce("n_rows", F.lit(0)).cast("long").alias("n_rows"),
        F.round(
            F.coalesce("n_rows", F.lit(0))
            * HIST_BUCKETS
            / F.col("n_total").cast("double"),
            6,
        ).alias("depth_ratio"),
    )


# encoding_advisor decision fences (classic columnar-encoding rules):
# a column whose every value is unique wants plain/delta; a column
# dominated by one value wants RLE; a small dictionary wants DICT.
ENC_DICT_MAX = 1024
ENC_RLE_TOP1 = 0.5
ENC_NULL_TOKEN = "∅"  # stands in for NULL in the value histogram


def encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-encoding recommendation for the events table — the
    storage-design dial next to partition_planner (file sizing) and
    zonemap/zorder (row ordering): per column, the exact distinct
    count, heaviest-value share, Shannon entropy in bits (the
    compressibility floor), and the classic rule-based encoding pick
    (unique → plain/delta, one dominant value → RLE, small vocabulary
    → dictionary, else plain). At 100 TB this is how you justify a
    dictionary-encode or a sort-for-RLE rewrite with numbers instead
    of folklore.

    Scale: the five columns unpivot in ONE scan via a map literal
    (map-side ×5 fan-out), then a single (column, value) partial agg —
    the same shape per column as any groupBy — and a |columns|-row
    fold. No per-column scans.

    Determinism: counts exact; entropy = log2(n) − Σ c·log2(c)/n sums
    irrational doubles (order noise ≪ the 6-dp round); shares
    round(…, 6). Values histogram through CAST-to-string, which is
    injective per column, so counts/distincts/entropy are
    format-independent (byte widths are NOT — that's
    partition_planner's job)."""
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        F.explode(
            F.create_map(
                F.lit("event_id"), F.col("event_id").cast("string"),
                F.lit("ts"), F.col("ts").cast("string"),
                F.lit("user_id"), F.col("user_id").cast("string"),
                F.lit("event_type"), F.col("event_type"),
                F.lit("value"), F.col("value").cast("string"),
                F.lit("props"), F.col("props"),
            )
        ).alias("column_name", "val")
    ).select(
        "column_name", F.coalesce(F.col("val"), F.lit(ENC_NULL_TOKEN)).alias("val")
    )
    hist = pairs.groupBy("column_name", "val").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_col = hist.groupBy("column_name").agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.max("c").cast("long").alias("top1"),
        F.sum(F.col("c") * F.log2("c")).alias("clog"),
    )
    top1_share = F.col("top1") / F.col("n_rows")
    entropy = F.log2("n_rows") - F.col("clog") / F.col("n_rows")
    enc = (
        F.when(F.col("n_distinct") == F.col("n_rows"), F.lit("plain_delta"))
        .when(top1_share > ENC_RLE_TOP1, F.lit("rle"))
        .when(F.col("n_distinct") <= ENC_DICT_MAX, F.lit("dict"))
        .otherwise(F.lit("plain"))
    )
    return per_col.select(
        "column_name",
        "n_rows",
        "n_distinct",
        F.round(top1_share, 6).alias("top1_share"),
        F.round(entropy, 6).alias("entropy_bits"),
        enc.alias("encoding"),
    )


RETENTION_TTL_DAYS = {
    "click": 7,
    "view": 7,
    "error": 14,
    "signup": 30,
    "purchase": 30,
}


def retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL retention plan over the events lake: per (event_type, day)
    partition, DELETE when the day is older than the type's TTL measured
    from the newest event in the log, else KEEP — with row counts so the
    sweep's blast radius is auditable before it runs.

    The point at 100 TB is the partition alignment: because policy is
    evaluated at the (event_type, day) grain and the lake is laid out the
    same way (streaming/sink.py partitions by event_date), every DELETE
    is a directory drop — no file rewrite, no row-level scan. The same
    anchor-on-max(ts) rule makes the plan reproducible on a frozen log
    (no wall-clock dependence).

    Reference parity: pig/preprocess/* prune dump slices by time span
    before processing (begintime/endtime of WIKIREVISION.md §2); this is
    that pruning turned into a standing lifecycle policy.
    """
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.to_date("ts")).alias("a"))
    ttl = F.create_map(
        *[x for t, d in sorted(RETENTION_TTL_DAYS.items()) for x in (F.lit(t), F.lit(d))]
    )
    return (
        ev.select(F.col("event_type"), F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .join(F.broadcast(anchor))
        .select(
            "event_type",
            "day",
            "n_rows",
            F.when(
                F.datediff(F.col("a"), F.col("day")) > ttl[F.col("event_type")],
                F.lit("delete"),
            )
            .otherwise(F.lit("keep"))
            .alias("action"),
        )
    )


# bloom_filter_advisor constants. The sizing identities are the textbook
# Bloom formulas: m = ceil(-n ln p / (ln 2)^2) bits, k = round((m/n) ln 2)
# hashes. Both engines must evaluate the SAME double constants or the
# ceil can straddle an ulp, so the Python-computed values are embedded
# verbatim into the Spark literals AND the oracle SQL (registry.py).
BLOOM_FPP = 0.01
BLOOM_NDV_MIN = 1024  # below this a dictionary page already answers point lookups
_LN2 = 0.6931471805599453  # math.log(2)
BLOOM_BITS_PER_KEY = 9.585058377367439  # -math.log(BLOOM_FPP) / math.log(2)**2


def bloom_filter_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter sizing sheet for lineitem's join/point-lookup keys —
    the storage-design dial next to encoding_advisor (value encodings)
    and zonemap_prune_stats (min/max pruning): zonemaps prune RANGE
    predicates but are useless for point lookups on unsorted high-NDV
    keys, which is exactly where a parquet bloom filter pays. Per
    candidate column: row count, exact NDV, the m-bits/k-hashes sizing
    at BLOOM_FPP from the textbook formulas, and the recommendation
    (NDV >= BLOOM_NDV_MIN — below that a dictionary page already serves
    point lookups for free).

    Scale (100 TB): all five columns unpivot in ONE scan via a map
    literal (the encoding_advisor shape), then a single (column, value)
    partial agg and a |columns|-row fold — no per-column scans. The
    exact-NDV agg is the oracle-matched form; a deployment flips it to
    approx_count_distinct and keeps the same sizing arithmetic.

    Reference: the hand-tuned job-split/PARALLEL accounting of the
    reference's pig pipelines, pointed at index sizing.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.explode(
            F.create_map(
                F.lit("l_orderkey"), F.col("l_orderkey").cast("string"),
                F.lit("l_partkey"), F.col("l_partkey").cast("string"),
                F.lit("l_suppkey"), F.col("l_suppkey").cast("string"),
                F.lit("l_linestatus"), F.col("l_linestatus"),
                F.lit("l_returnflag"), F.col("l_returnflag"),
            )
        ).alias("column_name", "val")
    )
    per = (
        pairs.groupBy("column_name", "val")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .groupBy("column_name")
        .agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("ndv"),
        )
    )
    m_bits = F.ceil(F.col("ndv") * F.lit(BLOOM_BITS_PER_KEY)).cast("long")
    k = F.round((m_bits / F.col("ndv")) * F.lit(_LN2), 0).cast("long")
    return per.select(
        "column_name",
        "n_rows",
        "ndv",
        F.round(F.col("ndv") / F.col("n_rows"), 6).alias("ndv_ratio"),
        m_bits.alias("bloom_bits"),
        k.alias("bloom_hashes"),
        (F.col("ndv") >= BLOOM_NDV_MIN).cast("int").alias("bloom_recommended"),
    )


BLOOM_SIM_CHUNKS = 100  # simulated insertion-order files (zonemap_prune_stats grain)
BLOOM_SIM_PROBES = 16  # deterministic md5-ordered point-lookup probe keys


def bloom_prune_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping simulation for POINT lookups — the measurement that
    justifies bloom_filter_advisor's recommendation the way
    zonemap_prune_stats justifies clustering: against the same 100
    insertion-order file chunks, probe BLOOM_SIM_PROBES deterministic
    l_partkey values and count files each strategy scans. Zone maps
    answer range overlap (probe BETWEEN file min/max — on an unsorted
    key nearly every file overlaps), while a bloom filter answers
    membership (file contains the key; modeled at FPP→0, the pruning
    UPPER bound — a real filter adds ~BLOOM_FPP false scans). One row
    per strategy with probe-pair counts and the pruned fraction.

    Scale: file stats (min/max and the distinct (file, key) membership
    frame) come from one scan + bounded aggs — at deployment both live
    in parquet footers/bloom pages and cost zero reads. The probe set is
    a 16-row global top-k by (md5(key), key), broadcast; the zonemap
    check is a 16 × 100 bounded nested loop (labeled, same class as
    zonemap_prune_stats' bounds broadcast), the bloom check a plain
    equality semi-join on (file, key).

    Reference: the reference's hand-tuned split accounting (pig
    PARALLEL / python/dumps), pointed at index-structure selection.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    bounds = li.agg(
        F.min("l_orderkey").alias("lo"), F.max("l_orderkey").alias("hi")
    )
    rows = li.crossJoin(F.broadcast(bounds)).select(
        F.expr(
            f"CAST((l_orderkey - lo) * {BLOOM_SIM_CHUNKS}"
            f" div (hi - lo + 1) AS BIGINT)"
        ).alias("unit"),
        "l_partkey",
    )
    units = rows.groupBy("unit").agg(
        F.min("l_partkey").alias("pk_min"), F.max("l_partkey").alias("pk_max")
    )
    members = rows.distinct()
    probes = (
        li.select("l_partkey")
        .distinct()
        .orderBy(F.md5(F.col("l_partkey").cast("string")), "l_partkey")
        .limit(BLOOM_SIM_PROBES)
        .select(F.col("l_partkey").alias("probe_key"))
    )
    zm_pairs = units.crossJoin(F.broadcast(probes))
    zm = zm_pairs.agg(
        F.lit("zonemap").alias("method"),
        F.count(F.lit(1)).cast("long").alias("n_probe_pairs"),
        F.sum(
            (
                (F.col("probe_key") >= F.col("pk_min"))
                & (F.col("probe_key") <= F.col("pk_max"))
            ).cast("long")
        ).cast("long").alias("n_scanned"),
    )
    bl_hits = members.join(
        F.broadcast(probes),
        members["l_partkey"] == probes["probe_key"],
        "inner",
    )
    bl = (
        bl_hits.agg(F.count(F.lit(1)).cast("long").alias("n_scanned"))
        .crossJoin(
            zm_pairs.agg(F.count(F.lit(1)).cast("long").alias("n_probe_pairs"))
        )
        .select(
            F.lit("bloom").alias("method"),
            "n_probe_pairs",
            "n_scanned",
        )
    )
    return (
        zm.unionByName(bl)
        # global aggs emit one row even on an empty table; drop the
        # degenerate zero-probe rows (same guard as zonemap_prune_stats)
        .where(F.col("n_probe_pairs") > 0)
        .select(
            "method",
            "n_probe_pairs",
            F.coalesce("n_scanned", F.lit(0)).alias("n_scanned"),
            (
                F.col("n_probe_pairs") - F.coalesce("n_scanned", F.lit(0))
            ).alias("n_pruned"),
            F.round(
                1
                - F.coalesce("n_scanned", F.lit(0))
                / F.col("n_probe_pairs").cast("double"),
                6,
            ).alias("prune_fraction"),
        )
    )


JOIN_ADVISOR_SEG = "BUILDING"  # customer filter for the 3-way chain
JOIN_ADVISOR_STATUS = "F"  # orders filter


def join_order_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-ORDER selection made visible — the step after
    join_size_estimate's cardinality model: for the filtered 3-way chain
    sigma(customer) |x| sigma(orders) |x| lineitem, estimate each
    candidate first-join's intermediate size from table counts alone
    (FK-uniformity + filter-independence, the textbook System-R model:
    |sC |x| sO| = |sO|*|sC|/|C| since each order has exactly one
    customer; |sO |x| L| = |sO|*|L|/|O|), grade both against the exact
    intermediate, and flag the order the estimator picks. One row per
    candidate order with est/exact/relative error — the CBO decision an
    engine makes before committing a 100 TB shuffle, as an audited query.

    Scale: the exact intermediates are LEFT-SEMI counts (never the
    widened join payload); estimates are integer arithmetic over five
    COUNT aggregates. Integer division on both engines, so est_rows is
    bit-exact cross-engine.

    Reference: the PARALLEL/job-ordering hand-tuning of the reference's
    pig pipelines, replaced by the statistics loop Catalyst's CBO runs.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n_c, n_o, n_l = c.count(), o.count(), li.count()
    sc = c.where(F.col("c_mktsegment") == JOIN_ADVISOR_SEG).select(
        F.col("c_custkey").alias("k")
    )
    so = o.where(F.col("o_orderstatus") == JOIN_ADVISOR_STATUS)
    n_sc, n_so = sc.count(), so.count()
    exact_co = so.join(
        sc, so["o_custkey"] == sc["k"], "left_semi"
    ).count()
    exact_ol = li.join(
        so.select("o_orderkey"),
        li["l_orderkey"] == so["o_orderkey"],
        "left_semi",
    ).count()
    if min(n_c, n_o, exact_co, exact_ol) == 0:
        # a 0-row base table or an empty intermediate has no join-order
        # decision to grade (and no denominator) — empty report
        return spark.range(0).select(
            F.lit("").alias("join_order"),
            F.lit(0).cast("long").alias("est_rows"),
            F.lit(0).cast("long").alias("exact_rows"),
            F.lit(0.0).alias("rel_error"),
            F.lit(0).cast("long").alias("picked"),
        )
    est_co = n_so * n_sc // n_c
    est_ol = n_so * n_l // n_o
    min_est = min(est_co, est_ol)
    rows = [
        ("customer_orders_first", est_co, exact_co),
        ("orders_lineitem_first", est_ol, exact_ol),
    ]
    out = None
    for name, est, exact in rows:
        one = spark.range(1).select(
            F.lit(name).alias("join_order"),
            F.lit(est).cast("long").alias("est_rows"),
            F.lit(exact).cast("long").alias("exact_rows"),
            F.round(F.lit(est - exact) / F.lit(float(exact)), 6).alias(
                "rel_error"
            ),
            F.lit(int(est == min_est)).cast("long").alias("picked"),
        )
        out = one if out is None else out.unionByName(one)
    return out


def runlength_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-structure audit — the measured premise behind encoding_advisor's
    RLE fence and the zorder/sort rewrites: per column, how many value
    RUNS the stored order (event_id adjacency) actually has versus the
    NDV floor a sort would reach. runs/ndv ≈ 1 means the column is
    already RLE-friendly; runs ≈ n_rows means every row flips value and
    only a sort rewrite buys compression. Output per column: rows, NDV,
    as-stored runs, runs-per-distinct, and the mean run length.

    Scale (100 TB): adjacency comes from an EQUALITY self-join on
    (event_id + 1, column) over the one-scan map-literal unpivot — a
    plain hash join any cluster shards, instead of the naive
    window-over-everything (one task per column sorting the whole table,
    the exact straggler shape the skew docs warn about). The id space is
    dense (driver-generated 0..n-1); on a lake without dense ids the
    same audit runs per row group from parquet footer adjacency.

    Exactness: counts and NDV are integers; the two reported ratios
    round(…, 6) at the edge."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.select(
        "event_id",
        F.explode(
            F.create_map(
                F.lit("event_type"), F.col("event_type"),
                F.lit("user_id"), F.col("user_id").cast("string"),
                F.lit("value"), F.col("value").cast("string"),
            )
        ).alias("column_name", "val"),
    ).select(
        "event_id", "column_name", F.coalesce("val", F.lit("∅")).alias("val")
    )
    a = u.select(
        (F.col("event_id") + 1).alias("nid"), "column_name",
        F.col("val").alias("val_a"),
    )
    boundaries = (
        a.join(
            u.select(F.col("event_id").alias("nid"), "column_name",
                     F.col("val").alias("val_b")),
            ["nid", "column_name"],
        )
        .groupBy("column_name")
        .agg(
            F.sum((F.col("val_a") != F.col("val_b")).cast("long"))
            .cast("long")
            .alias("n_boundaries")
        )
    )
    per = u.groupBy("column_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("val").cast("long").alias("ndv"),
    )
    return per.join(boundaries, "column_name").select(
        "column_name",
        "n_rows",
        "ndv",
        (F.col("n_boundaries") + 1).cast("long").alias("runs_asis"),
        F.round((F.col("n_boundaries") + 1) / F.col("ndv"), 6).alias(
            "runs_per_distinct"
        ),
        F.round(F.col("n_rows") / (F.col("n_boundaries") + 1), 6).alias(
            "mean_run_len"
        ),
    )

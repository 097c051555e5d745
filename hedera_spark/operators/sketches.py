"""Frequency sketches and membership filters — the two remaining
mergeable summary structures a 100 TB pipeline leans on that the repo
had not yet built and MEASURED (quantiles, HLL, minhash, simhash, LSH,
IVF, PQ, SQ each already have an audit dial):

- Count-Min sketch (Cormode & Muthukrishnan 2005): a fixed d×w counter
  grid estimating per-key frequency with one-sided error. On a cluster
  the grid is the whole point — each executor folds its partition into
  d·w integers, partials merge by cell-wise addition (a map-side
  combined groupBy on ≤ d·w keys), and the final sketch answers
  heavy-hitter queries without ever shuffling the raw key space.
- Bloom filter (Bloom 1970): the runtime semi-join filter. Build a
  fixed m-bit bitmap over the selective side's join keys, broadcast it,
  and drop probe-side rows whose key cannot be present BEFORE the
  shuffle — Spark's own runtime row-level filtering / DPP does exactly
  this; here the structure is built explicitly so its false-positive
  rate is measured, not assumed.

Both structures are built from deterministic md5-derived hashes so the
DuckDB oracle replays them bit-for-bit — the `table_fingerprint` /
`dedup_minhash` discipline. Reference parity: the reference's
experiments ship approximate counting over massive revision logs
(java/experiments BigFunctions-style aggregations); the sketches here
are the Spark-idiomatic mergeable equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hedera_spark.plans.materialize import materialize
from hedera_spark.sources.tables import load_table

# Count-Min geometry: depth 4 rows × width 256 buckets = 1024 cells.
# At width w the per-row overestimate is ~N/w in expectation; depth d
# takes the min over d independent rows.
CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_TOPK = 20

# Bloom geometry: 8192 bits as 256 × 32-bit words (32-bit words keep
# every mask positive and far from BIGINT shift-overflow in both
# engines), k = 3 probes per key.
BLOOM_BITS = 8192
BLOOM_WORD = 32
BLOOM_K = 3
# The selective build-side predicate for the semi-join demo: urgent
# high-value orders (~6% of orders at every SF).
BLOOM_PRICE_MIN = 350000.0


def _hash_mod(j, key, mod: int):
    """Deterministic bucket in [0, mod): md5("j~key") reduced from the
    first 12 hex chars (48 bits, exact in BIGINT in both engines)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("~", j.cast("string"), key.cast("string"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        % mod
    )


def _cms_counters(events: DataFrame) -> DataFrame:
    """(j, bucket, cnt) counter grid over events.user_id — ≤ d·w rows.

    Scale: the explode is map-side (×d before the partial agg, which
    collapses each partition to ≤ d·w cells), so the shuffle moves at
    most d·w rows per partition regardless of input size."""
    j = F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("j")
    rows = events.select(F.col("user_id"), j)
    return (
        rows.select(
            F.col("j").cast("long").alias("j"),
            _hash_mod(F.col("j"), F.col("user_id"), CMS_WIDTH).alias("bucket"),
        )
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters with their measured error: the
    top-20 users by exact event count, each next to the sketch's
    estimate min_j counter[j][h_j(u)] and the (always ≥ 0)
    overestimate. The audit companion to hll_error — CMS was the last
    unmeasured sketch family.

    Scale: the sketch side is ONE map-side-combined pass into 1024
    cells; the exact side (a full groupBy on the key) exists only to
    grade the sketch — at 100 TB you run the exact side on a slice,
    then trust the mergeable grid everywhere."""
    ev = load_table(spark, sf_dir, "events")
    counters = _cms_counters(ev)
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    top = exact.orderBy(F.desc("n_exact"), "user_id").limit(CMS_TOPK)
    j = F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("j")
    probes = top.select("user_id", "n_exact", j).select(
        "user_id",
        "n_exact",
        F.col("j").cast("long").alias("j"),
        _hash_mod(F.col("j"), F.col("user_id"), CMS_WIDTH).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("cnt").alias("n_cms"))
        .select(
            "user_id",
            "n_exact",
            "n_cms",
            (F.col("n_cms") - F.col("n_exact")).alias("overestimate"),
        )
    )


def _bloom_words(keys: DataFrame, key: str) -> DataFrame:
    """(word, mask) bitmap rows for a Bloom filter over `keys[key]` —
    ≤ BLOOM_BITS/BLOOM_WORD rows, built with one map-side-combined
    bit_or aggregate."""
    j = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("j")
    pos = _hash_mod(F.col("j"), F.col(key), BLOOM_BITS)
    return (
        keys.select(F.col(key), j)
        .select(pos.alias("pos"))
        .select(
            (F.col("pos") / BLOOM_WORD).cast("long").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_WORD} AS INT))"
            ).alias("bit"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(bit)").cast("long").alias("mask"))
    )


def bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter semi-join with a measured false-positive rate:
    build an 8192-bit Bloom filter over the order keys of urgent
    high-value orders, probe every distinct lineitem order key through
    it, then verify against the true member set. One summary row:
    filter geometry, build/probe cardinalities, pass/true/false-positive
    counts, and the realized fp_rate among true negatives.

    Scale: this is the join-pruning story made explicit — the ≤ 256-row
    (word, mask) bitmap broadcasts, each probe is K equality-join bit
    tests (O(1), no nested loop over the bitmap), and at 100 TB the
    pass filter runs BEFORE the lineitem shuffle so the join moves
    ~6% of the rows. No false negatives by construction (asserted by
    test: n_true_pass == n_member)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    build = (
        orders.where(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > BLOOM_PRICE_MIN)
        )
        .select("o_orderkey")
        .distinct()
    )
    words = _bloom_words(build, "o_orderkey")

    probe = li.select(F.col("l_orderkey").alias("key")).distinct()
    j = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("j")
    pos = _hash_mod(F.col("j"), F.col("key"), BLOOM_BITS)
    tests = (
        probe.select("key", j)
        .select("key", pos.alias("pos"))
        .select(
            "key",
            (F.col("pos") / BLOOM_WORD).cast("long").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_WORD} AS INT))"
            ).alias("bit"),
        )
    )
    hits = (
        tests.join(F.broadcast(words), "word", "left")
        .select(
            "key",
            F.when(
                F.col("mask").isNotNull()
                & (F.col("mask").bitwiseAND(F.col("bit")) != 0),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
        .groupBy("key")
        .agg((F.sum("hit") == BLOOM_K).alias("pass"))
    )
    verdicts = hits.join(
        build.select(F.col("o_orderkey").alias("key"), F.lit(1).alias("member")),
        "key",
        "left",
    )
    stats = verdicts.agg(
        F.count(F.lit(1)).cast("long").alias("n_probe"),
        F.sum(F.col("pass").cast("long")).cast("long").alias("n_pass"),
        F.sum(F.coalesce(F.col("member"), F.lit(0))).cast("long").alias("n_member"),
        F.sum(
            (F.col("pass") & F.col("member").isNotNull()).cast("long")
        ).cast("long").alias("n_true_pass"),
        F.sum(
            (F.col("pass") & F.col("member").isNull()).cast("long")
        ).cast("long").alias("n_false_pos"),
    )
    n_keys = build.agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    return stats.where(F.col("n_probe") > 0).crossJoin(F.broadcast(n_keys)).select(
        F.lit(BLOOM_BITS).cast("long").alias("m_bits"),
        F.lit(BLOOM_K).cast("long").alias("k_hashes"),
        "n_keys",
        "n_probe",
        "n_pass",
        "n_member",
        "n_true_pass",
        "n_false_pos",
        F.when(
            (F.col("n_probe") - F.col("n_member")) > 0,
            F.round(
                F.col("n_false_pos")
                / (F.col("n_probe") - F.col("n_member")),
                6,
            ),
        ).alias("fp_rate"),
    )


# HyperLogLog geometry: p = 8 → 256 registers; the md5-derived 48-bit
# hash splits into an 8-bit bucket and a 40-bit rank word, so
# rho ∈ [1, 41]. Alpha is the standard m = 256 bias constant, computed
# ONCE here and interpolated into the oracle so both engines fold the
# identical double literal.
HLL_P = 8
HLL_M = 1 << HLL_P
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
HLL_W_BITS = 48 - HLL_P  # 40
HLL_RHO_MAX = HLL_W_BITS + 1  # 41


def hll_rho_rows(df: DataFrame) -> DataFrame:
    """(…, bucket, rho) per input row from the deterministic md5 48-bit
    hash of user_id — shared by the batch sketch builders (hll_union)
    and the streaming register maintainer (streaming.integrity
    .stream_hll); non-user_id columns pass through untouched."""
    hv = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("~", F.lit("0"), F.col("user_id"))), 1, 12
            ),
            16,
            10,
        )
        .cast("long")
        .alias("hv")
    )
    rho = F.when(
        F.col("w") > 0, F.lit(HLL_RHO_MAX) - F.length(F.bin(F.col("w")))
    ).otherwise(F.lit(HLL_RHO_MAX))
    return (
        df.withColumn("hv", hv)
        .withColumn("bucket", F.col("hv") % HLL_M)
        .withColumn("w", F.expr(f"hv div {HLL_M}"))
        .withColumn("rho", rho)
        .drop("hv", "w", "user_id")
    )


def hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeability audit for the HyperLogLog sketch (Flajolet et al.
    2007) — the property that makes it THE distributed distinct
    counter: build one 256-register sketch per day from a deterministic
    md5 hash, estimate each day's distinct users, then merge the 30
    per-day sketches by register-wise max into the month estimate —
    never re-reading the raw data — and grade both levels against
    exact distinct counts. hll_error audits the engine's builtin
    (rows-only, engine-specific); this one is a from-scratch HLL both
    engines replay bit-for-bit, so the union step itself is
    value-oracled.

    Scale: the sketch side is one map-side-combined pass into
    |days|×256 cells; the merge is a 256-row agg OVER THE SKETCHES.
    The exact side (per-day + global distinct) exists only to grade —
    at 100 TB you run it on a slice and trust the mergeable registers
    everywhere, shipping 2 KB per partition instead of the key set.

    Determinism: registers are exact integers; Σ 2^-rho sums dyadic
    rationals (exact in doubles); the one libm exposure (ln in the
    small-range correction) is absorbed by round(…, 4) on the estimate
    (the doc_perplexity precedent)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").cast("string").alias("day"), "user_id"
    )
    regs = (
        hll_rho_rows(ev)
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("r"))
        .persist()
    )
    merged = regs.groupBy("bucket").agg(F.max("r").alias("r")).select(
        F.lit("MERGED").alias("day"), "bucket", "r"
    )

    def _estimate(r: DataFrame) -> DataFrame:
        per = r.groupBy("day").agg(
            F.count(F.lit(1)).cast("long").alias("n_present"),
            F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("z_present"),
        )
        z = (F.lit(HLL_M) - F.col("n_present")) + F.col("z_present")
        v = (F.lit(HLL_M) - F.col("n_present")).cast("double")
        raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / z
        est = F.when(
            (raw <= 2.5 * HLL_M) & (v > 0),
            F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v),
        ).otherwise(raw)
        return per.select("day", F.round(est, 4).alias("n_hll"))

    exact_day = ev.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    exact_all = ev.agg(
        F.lit("MERGED").alias("day"),
        F.countDistinct("user_id").cast("long").alias("n_exact"),
    )
    est = _estimate(regs).unionByName(_estimate(merged))
    exact = exact_day.unionByName(exact_all)
    return est.join(exact, "day").select(
        F.col("day").alias("scope"),
        "n_exact",
        "n_hll",
        F.round(
            F.abs(F.col("n_hll") - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("rel_error"),
    )


# --- Moments sketch (quantile estimation from power sums) -------------------

# Φ⁻¹(p) for the released quantiles, written once so the Spark and
# DuckDB formula text is byte-identical.
MOM_Z = {"p50": 0.0, "p90": 1.2815515655446004, "p99": 2.3263478740408408}

# Central moments from the exact integer power sums, then the
# Cornish–Fisher expansion. One deterministic double chain, shared
# verbatim by the Spark plan and the DuckDB oracle so the IEEE ops run
# in the identical association order in both engines.
MOM_DERIVED = [
    ("nd", "CAST(n AS DOUBLE)"),
    ("m1", "CAST(s1 AS DOUBLE) / nd"),
    ("m2", "CAST(s2 AS DOUBLE) / nd - m1 * m1"),
    (
        "m3",
        "CAST(s3 AS DOUBLE) / nd - 3.0 * m1 * (CAST(s2 AS DOUBLE) / nd)"
        " + 2.0 * m1 * m1 * m1",
    ),
    (
        "m4",
        "CAST(s4 AS DOUBLE) / nd - 4.0 * m1 * (CAST(s3 AS DOUBLE) / nd)"
        " + 6.0 * m1 * m1 * (CAST(s2 AS DOUBLE) / nd)"
        " - 3.0 * m1 * m1 * m1 * m1",
    ),
    ("sd", "sqrt(m2)"),
    ("sk", "CASE WHEN m2 > 0 THEN m3 / (m2 * sd) END"),
    ("kx", "CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END"),
]


def moment_sums(df: DataFrame) -> DataFrame:
    """(event_type, n, s1..s4) exact integer cent-unit power sums —
    the ENTIRE sketch state, shared by the batch estimator
    (moments_quantiles) and the streaming register maintainer
    (streaming.integrity.stream_moments); sums merge by addition, so
    the streaming complete-mode agg equals the batch one exactly."""
    cents = F.floor(F.col("value") * 100).cast("decimal(38,0)")
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
        F.sum(cents * cents * cents).alias("s3"),
        F.sum(cents * cents * cents * cents).alias("s4"),
    )


def mom_quantile_sql(z: float) -> str:
    """Cornish–Fisher quantile in value units (cents → value /100).

    The z-polynomial coefficients are folded in Python doubles so each
    appears once in the SQL text, multiplied straight into a double
    column — no literal-times-literal decimal chains (whose precision
    growth the engines cap differently)."""
    c0 = repr(z)
    c1 = repr((z * z - 1.0) / 6.0)
    c2 = repr((z * z * z - 3.0 * z) / 24.0)
    c3 = repr(-(2.0 * z * z * z - 5.0 * z) / 36.0)
    w = f"({c0} + {c1} * sk + {c2} * kx + {c3} * sk * sk)"
    return f"round((m1 + sd * {w}) / 100.0, 4)"


def moments_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moments sketch: per-type quantile estimates from the first four
    power sums (Gan et al., "Moment-Based Quantile Sketches", VLDB
    2018 — here with the closed-form Cornish–Fisher solve instead of
    maxent), graded in-query against the exact interpolated
    percentiles. Completes the mergeable-sketch family: HLL = distinct
    (hll_union), CMS = frequency (cms_topk), moments = quantiles.

    Exactness: values enter as integer cents (the value_anova
    discipline — the same double product floors identically in both
    engines); S1..S4 are exact integer sums carried in DECIMAL(38,0)
    (HUGEINT in the oracle; cents ≤ 5·10⁴ so Σc⁴ stays < 10³¹ even at
    10¹² rows), and the double chain after them is the byte-identical
    MOM_DERIVED / mom_quantile_sql text in both engines.

    Scale (100 TB): the sketch is FIVE integers per group — a pure
    map-side partial agg that merges by addition, no sorted structure,
    no per-group state beyond the sums; the one shuffle carries
    |types|×5 cells. The exact-percentile twin it is graded against is
    the expensive path at scale (per-group sort); the grading join is
    |types| rows. Reference parity: java/experiments approximate
    aggregation over revision logs; this is the Spark-idiomatic
    mergeable quantile summary."""
    ev = load_table(spark, sf_dir, "events")
    g = moment_sums(ev)
    for name, sql in MOM_DERIVED:
        g = g.withColumn(name, F.expr(sql))
    for p, z in MOM_Z.items():
        g = g.withColumn(f"{p}_mom", F.expr(mom_quantile_sql(z)))
    exact = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_exact"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90_exact"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99_exact"),
    )
    out = g.join(exact, "event_type")
    errs = [
        F.round(F.abs(F.col(f"{p}_mom") - F.col(f"{p}_exact")), 4).alias(
            f"{p}_err"
        )
        for p in MOM_Z
    ]
    return out.select(
        "event_type",
        "n",
        F.round(F.expr("m1 / 100.0"), 6).alias("mean_value"),
        F.round(F.expr("sd / 100.0"), 6).alias("stddev_value"),
        F.round(F.expr("sk"), 6).alias("skewness"),
        F.round(F.expr("kx"), 6).alias("kurtosis_ex"),
        *[F.col(f"{p}_mom") for p in MOM_Z],
        *[F.col(f"{p}_exact") for p in MOM_Z],
        *errs,
    )


AMS_K = 16  # independent ±1-sign estimators


def ams_sign_sums(df: DataFrame) -> DataFrame:
    """The AMS F₂ sketch state: for each of AMS_K estimators, the sum
    of ±1 signs over rows (sign = one md5 bit of (estimator, user_id))
    — 16 integers, mergeable by addition; shared by the batch grader
    (ams_f2) and the streaming maintainer
    (streaming.integrity.stream_ams). E[S_k²] = Σf² exactly (pairwise
    sign independence), which is the whole trick."""
    cols = []
    for k in range(AMS_K):
        bit = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "~", F.lit(f"ams{k}"), F.col("user_id").cast("string")
                    )
                ),
                1,
                1,
            ),
            16,
            10,
        ).cast("long") % 2
        cols.append(
            F.sum((bit * 2 - 1).cast("long")).alias(f"s{k}")
        )
    return df.agg(F.count(F.lit(1)).cast("long").alias("n"), *cols)


def ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-moment (F₂) sketch graded against the exact value —
    the last classic in the mergeable-sketch family (HLL = distinct,
    CMS = frequency, moments = quantiles, THIS = Σf², the self-join
    size / skew number a join planner wants before shuffling): K=16
    independent ±1-sign sums, estimate = the average of S_k² (each an
    unbiased estimator of Σf²), next to the exact Σf² computed from
    the per-user frequency table.

    Determinism: signs come from one md5 hex digit's parity per
    (estimator, user) — exact integers end to end; the average of K
    exact integer squares is ONE double division.

    Scale: the sketch pass is ONE map-side agg to 17 integers (the
    100 TB path); the exact Σf² (for grading only) pays the one
    user-keyed partial agg."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    sums = ams_sign_sums(ev)
    est = None
    for k in range(AMS_K):
        t = F.col(f"s{k}") * F.col(f"s{k}")
        est = t if est is None else est + t
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("f"))
        .agg(F.sum(F.col("f") * F.col("f")).alias("f2"))
    )
    out = sums.join(F.broadcast(exact)).where(F.col("n") > 0)
    return out.select(
        "n",
        F.col("f2").cast("long").alias("f2_exact"),
        F.round(
            est.cast("double") / F.lit(float(AMS_K)), 4
        ).alias("f2_est"),
        F.round(
            F.abs(
                est.cast("double") / F.lit(float(AMS_K))
                - F.col("f2").cast("double")
            )
            / F.col("f2").cast("double"),
            6,
        ).alias("rel_error"),
    )


KMV_K = 64
_KMV_SPACE = float(1 << 48)


def kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV sketch SET ALGEBRA graded against exact intersections
    — the capability the sketch family still lacked: distinct counts
    merge (hll_union), but only a value-keeping sketch supports
    intersections of audiences. Per event type the K=64 smallest
    md5-uniform hashes of its distinct users (mergeable: union then
    re-trim — the events_sample_k property); per type pair, the theta
    estimate |A∩B| ≈ |common hashes < θ|·2⁴⁸/θ with θ = min(θ_A, θ_B)
    (θ_t = the K-th smallest hash, or the full space when the type has
    fewer than K users — then the sketch IS the set and the estimate
    is exact), next to the exact intersection (the audited grading
    pass) and the realized error.

    Determinism: hashes are exact md5₄₈ integers; θ and the common
    count are exact; the estimate is ONE double division.

    Scale: the sketch pass is one distinct + one bounded per-type
    TopK (K rows per type survive); pair algebra runs on the ≤
    |types|·K-row frame. The exact grading join is the one deliberate
    corpus-scale cost, as in ams_f2/hll_union."""
    from pyspark.sql import Window

    tu = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        .withColumn(
            "h",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("~", F.lit("kmv"), F.col("user_id").cast("string"))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long"),
        )
        .persist()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    bk = (
        tu.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= KMV_K)
        .select("event_type", "h", "rk")
        .persist()
    )
    counts = tu.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_t")
    )
    theta = (
        bk.groupBy("event_type")
        .agg(F.max("h").alias("maxh"))
        .join(F.broadcast(counts), "event_type")
        .select(
            "event_type",
            "n_t",
            F.when(F.col("n_t") >= KMV_K, F.col("maxh"))
            .otherwise(F.lit(int(_KMV_SPACE)))
            .alias("theta"),
        )
    )
    pairs = (
        theta.select(
            F.col("event_type").alias("ta"), F.col("theta").alias("tha")
        )
        .crossJoin(
            theta.select(
                F.col("event_type").alias("tb"), F.col("theta").alias("thb")
            )
        )
        .where(F.col("ta") < F.col("tb"))
        .withColumn("th", F.least("tha", "thb"))
        .select("ta", "tb", "th")
    )
    a = bk.select(F.col("event_type").alias("ta"), "h")
    b = bk.select(F.col("event_type").alias("tb"), "h")
    cj = (
        a.join(b, "h")
        .where(F.col("ta") < F.col("tb"))
        .join(F.broadcast(pairs), ["ta", "tb"])
        .where(F.col("h") < F.col("th"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).cast("long").alias("c_below"))
    )
    common = pairs.join(cj, ["ta", "tb"], "left").select(
        "ta", "tb", "th", F.coalesce("c_below", F.lit(0)).alias("c_below")
    )
    ex = (
        tu.select(F.col("event_type").alias("ta"), "user_id")
        .join(
            tu.select(F.col("event_type").alias("tb"), "user_id"), "user_id"
        )
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    est = (
        F.col("c_below").cast("double")
        * F.lit(_KMV_SPACE)
        / F.col("th").cast("double")
    )
    out = common.join(ex, ["ta", "tb"], "left").select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
        F.round(est, 4).alias("n_est"),
        F.when(
            F.coalesce("n_exact", F.lit(0)) > 0,
            F.round(
                F.abs(est - F.coalesce("n_exact", F.lit(0)).cast("double"))
                / F.coalesce("n_exact", F.lit(0)).cast("double"),
                6,
            ),
        ).alias("rel_error"),
    )
    # materialize the ≤|types|²-row result, then release the two cached
    # corpus-scale frames — without this the blocks leak for the session
    out = materialize(out)
    bk.unpersist()
    tu.unpersist()
    return out

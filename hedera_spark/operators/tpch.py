"""Group F — generic analytics engine queries (SURVEY.md §2.F).

Hedera is ultimately a general MapReduce toolset (reference:
java/main/org/hedera/mapreduce/* all extend a generic JobConfig
map/shuffle/reduce pattern). The Spark-first statement of "we cover general
scan/agg/join analytics" is a handful of TPC-H-shaped queries over the star
schema, written declaratively so Catalyst does pushdown, pruning, join
reordering and AQE does runtime re-planning.

Scale notes (100 TB): q1/q6 are scan-heavy — filters and column pruning
reach the parquet scan (verified in tests/test_plans.py). q3/q5 join
dimension tables that stay far below the broadcast threshold at any scale
factor (region/nation are fixed-size; customer/supplier/orders get
shuffle-hash or sort-merge via AQE when they outgrow broadcast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hedera_spark.plans.range_scan import range_prefix_scan
from hedera_spark.sources.tables import load_table


def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report (flagship scan-agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority: 3-way join + agg + top-10."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") > F.lit("1998-01-15"))
        .join(
            orders.where(F.col("o_orderdate") < F.lit("1998-01-15")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(cust.where(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.col("l_orderkey"))
        .limit(10)
    )


def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local supplier volume: snowflake join across 6 tables."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting revenue change: selective scan-agg (pushdown showcase)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order priority checking — LEFT SEMI join (EXISTS) shape."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = li.select("l_orderkey").where(
        F.col("l_shipdate") >= F.lit("1997-06-01")
    )
    return (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1997-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-10-01"))
        )
        .join(late, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


CHURN_CUTOFF = "1999-01-01"


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS) shape — q22-style: churned customers
    (no order since CHURN_CUTOFF), counted per market segment. The date
    filter keeps the anti-join non-vacuous on the synthetic corpus, where
    every customer has at least one all-time order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit(CHURN_CUTOFF).cast("date")
    )
    return (
        cust.join(
            orders.select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers per nation by account balance (window top-k parity;
    reference: pig/preprocess/sortRevisions.pig ORDER ... PARALLEL — the
    general sort/limit capability)."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.col("c_custkey")
    )
    return (
        cust.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "c_custkey", "c_name", "c_acctbal", "rk")
    )


def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution — LEFT OUTER join + two-level
    aggregation (customers with zero orders included)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders — HAVING-filtered aggregate joined back to the
    enclosing join (the classic group-filter-then-enrich shape)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .where(F.col("sum_qty") > 150)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


def _unit_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_partkey, l_suppkey, cost) — the part-supplier bridge this star
    schema lacks (no partsupp table), derived from observed lineitem unit
    prices. cost = min observed l_extendedprice/l_quantity, rounded for
    cross-engine float stability. One partial-agg shuffle on the composite
    key; at 100 TB this is the natural partsupp materialization."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_quantity") > 0)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))
    )


def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier (q2 shape: correlated MIN subquery). For each
    large part (p_size > 40), the EUROPE supplier(s) matching the minimum
    unit cost over the lineitem-derived part-supplier bridge. The inner
    min re-aggregates the bridge and joins back on (partkey, cost) — the
    decorrelated form Catalyst would produce for the scalar subquery."""
    part = load_table(spark, sf_dir, "part").where(F.col("p_size") > 40)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    costs = _unit_costs(spark, sf_dir)
    # suppliers restricted to the region (broadcast dim chain)
    eu_supp = supp.join(
        F.broadcast(
            nation.join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    eu_costs = costs.join(
        eu_supp.select("s_suppkey", "s_name", "s_acctbal", "n_name"),
        F.col("l_suppkey") == F.col("s_suppkey"),
    )
    min_cost = eu_costs.groupBy("l_partkey").agg(F.min("cost").alias("min_cost"))
    return (
        eu_costs.join(
            min_cost,
            (eu_costs["l_partkey"] == min_cost["l_partkey"])
            & (F.col("cost") == F.col("min_cost")),
        )
        .drop(min_cost["l_partkey"])
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "cost"
        )
    )


def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping between two trading nations: supplier in one
    nation, customer in the other, revenue by (supp_nation, cust_nation,
    ship year). Both nation dims broadcast; the orders-lineitem join is
    the only large shuffle."""
    n1, n2 = "NATION_1", "NATION_2"
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin(n1, n2)
    )
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31"))
    )
    sn = supp.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"),
                                  F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    cn = cust.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("cn_key"),
                                  F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("cn_key"),
    ).select("c_custkey", "cust_nation")
    return (
        li.join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cn), F.col("o_custkey") == F.col("c_custkey"))
        .where(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share: NATION_3's fraction of PROMO-part revenue
    sold into ASIA, per order year — conditional aggregation over a
    snowflake join (all dims broadcast)."""
    target = "NATION_3"
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    asia_cust = cust.join(
        F.broadcast(
            nation.join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        ),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey")
    sn = supp.join(
        F.broadcast(
            load_table(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(asia_cust), F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == target, vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit (q9 adapted: no partsupp, so profit is revenue
    net of discount only): per supplier nation per year, over parts whose
    name contains 'widget'."""
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").contains("widget")
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(
                supp.join(
                    F.broadcast(nation),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                ).select("s_suppkey", "n_name")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_profit")
        )
    )


def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting: top 20 customers by revenue lost to
    returns in one quarter."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.col("c_custkey"))
        .limit(20)
    )


def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion effect: percentage of one month's revenue from PROMO
    parts — conditional aggregation, part dim broadcast."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("promo_revenue")
        )
    )


def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier(s): suppliers achieving the global-maximum quarterly
    revenue (q15's view + MAX subquery, decorrelated to a broadcast of
    the 1-row max)."""
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("total_revenue")
        )
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-supplier relationship count (q16 adapted: the bridge comes
    from observed lineitem pairs): distinct suppliers per (brand, type,
    size) for mid-range sizes, excluding one brand."""
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(10, 20, 30, 40)
    )
    bridge = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    return (
        bridge.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (correlated AVG subquery, decorrelated
    to a per-part aggregate joined back): average yearly revenue lost if
    small orders of Brand#2 parts were not taken."""
    part = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#2")
    li = load_table(spark, sf_dir, "lineitem")
    branded = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    avg_qty = branded.groupBy(F.col("p_partkey").alias("ap_key")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        branded.join(F.broadcast(avg_qty), F.col("p_partkey") == F.col("ap_key"))
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")
        )
    )


def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue under disjunctive brand/size/quantity predicates
    (q19's OR-of-ANDs, pushed into one join filter)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 11))
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size").between(1, 25))
            & (F.col("l_quantity").between(10, 20))
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & (F.col("p_size").between(1, 35))
            & (F.col("l_quantity").between(20, 30))
        )
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential part promotion (q20 adapted): suppliers in NATION_5 whose
    1997 shipped volume of 'small'-named parts exceeds a threshold — a
    semi-join chain (supplier ⋉ qualifying-volume aggregate ⋉ part
    filter)."""
    nation = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_5")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").startswith("small")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    qualifying = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        supp.join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi"
        )
        .join(F.broadcast(qualifying), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sales opportunity (q22 adapted: no phone column, so the
    cohort is per nation): customers with above-average positive account
    balance and no order since the churn cutoff — AVG scalar subquery
    (broadcast 1-row) + anti-join, grouped by nation."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit(CHURN_CUTOFF).cast("date")
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders.select("o_custkey"), F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important stock identification (q11 adapted: no partsupp/availqty,
    so part value = total unit cost over the lineitem-derived bridge for
    EUROPE suppliers). HAVING value > fraction-of-global-total — the
    scalar subquery broadcast as a 1-row dim. At 100 TB the bridge agg is
    the only wide shuffle; the global total is a partial-agg reduce."""
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu_costs = _unit_costs(spark, sf_dir).join(
        F.broadcast(
            supp.join(
                F.broadcast(
                    nation.join(region, F.col("n_regionkey") == F.col("r_regionkey"))
                ),
                F.col("s_nationkey") == F.col("n_nationkey"),
                "left_semi",
            ).select("s_suppkey")
        ),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_semi",
    )
    # sum exact integer ten-thousandths, not doubles: float accumulation
    # order differs between engines and a part near the threshold would
    # flip in/out of the HAVING cut (observed at sf0.01)
    value = eu_costs.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("cost") * 10000).cast("long")).alias("cents")
    )
    total = value.agg(F.sum("cents").alias("total_cents"))
    return (
        value.join(F.broadcast(total))
        .where(F.col("cents") > F.col("total_cents") * 0.0008)
        .select(
            "l_partkey", F.round(F.col("cents") / 10000.0, 2).alias("value")
        )
    )


def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-mode priority counts (q12 adapted: no l_shipmode /
    receipt-commit dates, so the mode proxy is l_returnflag and the
    lateness window is the 1996 ship year). Conditional counts of
    high- vs low-priority orders per flag — the orders-lineitem join is
    the single large shuffle; priority classification is map-side."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (q21 adapted: no commit/receipt
    dates, so "late" = shipped >60 days after the order date). For
    finalized multi-supplier orders where EXACTLY ONE supplier was late,
    count waiting incidents per supplier. The correlated EXISTS /
    NOT-EXISTS pair of the original decorrelates into one per-order
    aggregate (distinct-supplier and distinct-late-supplier counts
    computed in the same shuffle) — no self-joins on lineitem."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)
    # two-level aggregate instead of two countDistinct in one groupBy:
    # multiple distinct aggregates plan an Expand (x3 of every joined
    # lineitem row before the first partial agg); collapsing to
    # (order, supplier) grain first computes the same distinct counts
    # with plain count/sum over strictly fewer rows
    per_supp = (
        li.join(orders.select("o_orderkey", "o_orderdate"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late.cast("int")).alias("is_late"))
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("is_late").alias("n_late"),
        F.min(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias(
            "late_supp"
        ),
    )
    return (
        per_order.where((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .groupBy("late_supp")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .join(F.broadcast(supp), F.col("late_supp") == F.col("s_suppkey"))
        .select("s_name", "numwait")
    )


RFM_REF_DATE = "1999-01-01"  # fixed epoch after the last order date
RFM_BUCKETS = 5


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic retail cohorting the
    generic engine side of the reference would be pointed at: per
    customer, Recency (days from the last order to a FIXED reference
    date — a constant, so no scalar-aggregate join), Frequency (order
    count) and Monetary value, each mapped to a quintile by global rank,
    segment = r·100 + f·10 + m.

    Exactness: monetary is summed in integer cents (o_totalprice is a
    double; re-summing doubles is accumulation-order-dependent);
    quintiles use the explicit formula q = (rank−1)·5 div N + 1 on exact
    integer global ranks with (metric, custkey) total tie-break order,
    NOT engine NTILE, so both engines bucket identically.

    Scale: the three global ranks come from the range-partitioned
    prefix scan (plans/range_scan.py) — never a one-reducer ORDER BY;
    N is a 1-row broadcast; everything else is one per-customer agg."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.datediff(
            F.lit(RFM_REF_DATE).cast("date"),
            F.max(F.col("o_orderdate").cast("date")),
        )
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    r_rank = range_prefix_scan(
        base.select("c_custkey", "recency_days"),
        [F.desc("recency_days"), F.col("c_custkey")],
        rank="rr",
    ).select("c_custkey", "rr")
    f_rank = range_prefix_scan(
        base.select("c_custkey", "frequency"),
        [F.col("frequency"), F.col("c_custkey")],
        rank="rf",
    ).select("c_custkey", "rf")
    m_rank = range_prefix_scan(
        base.select("c_custkey", "monetary_cents"),
        [F.col("monetary_cents"), F.col("c_custkey")],
        rank="rm",
    ).select("c_custkey", "rm")
    n = base.agg(F.count(F.lit(1)).alias("n"))
    q = lambda r: F.expr(  # noqa: E731
        f"CAST(({r} - 1) * {RFM_BUCKETS} div n AS BIGINT) + 1"
    )
    return (
        base.join(r_rank, "c_custkey")
        .join(f_rank, "c_custkey")
        .join(m_rank, "c_custkey")
        .join(F.broadcast(n))
        .select(
            "c_custkey",
            "recency_days",
            "frequency",
            "monetary_cents",
            q("rr").alias("r"),
            q("rf").alias("f"),
            q("rm").alias("m"),
        )
        .withColumn(
            "segment",
            (F.col("r") * 100 + F.col("f") * 10 + F.col("m")).cast("long"),
        )
    )


def basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association over orders: for every pair of part
    brands co-ordered in the same order, support counts and lift =
    n_ab·N / (n_a·n_b) — anchor_lift's exact-integer-ratio discipline
    applied to the retail side (no log, so no cross-engine libm term).

    Scale: the brand universe is fixed (25 values), so the per-order
    distinct-brand set is ≤25 and the within-order pair fan-out is
    bounded (≤300 pairs/order) — the df-cap the anchor family needs is
    structural here. lineitem⋈part is a plain equality join (part is
    NOT broadcast — at 100 TB it outgrows the threshold; AQE picks the
    strategy), then one distinct, one self-join on the order key, one
    bounded agg. The brand-frequency table and N are tiny broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ob = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = ob.select(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    per_brand = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_brand"))
    a = ob.select("l_orderkey", F.col("p_brand").alias("b1"))
    b = ob.select("l_orderkey", F.col("p_brand").alias("b2"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("b1") < F.col("b2"))
        .groupBy("b1", "b2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    return (
        pairs.join(
            F.broadcast(
                per_brand.select(
                    F.col("p_brand").alias("b1"), F.col("n_brand").alias("n_a")
                )
            ),
            "b1",
        )
        .join(
            F.broadcast(
                per_brand.select(
                    F.col("p_brand").alias("b2"), F.col("n_brand").alias("n_b")
                )
            ),
            "b2",
        )
        .join(F.broadcast(n_orders))
        .select(
            "b1",
            "b2",
            "n_ab",
            "n_a",
            "n_b",
            "n_orders",
            F.round(
                (F.col("n_ab") * F.col("n_orders"))
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers cohorted by first-order
    month, revenue accumulated by month offset — the (cohort × age)
    triangle every growth dashboard draws, here on the orders fact
    (cohort_retention is the events-side activity twin).

    Exactness: revenue is per-row-rounded integer cents summed exactly
    (o_totalprice is a double; cross-engine double accumulation is
    order-dependent); month offsets are integers on month-truncated
    dates; the cumulative column is a per-cohort running integer sum
    over a bounded (≤ #months) frame.

    Scale: one per-customer agg for the cohort key, one join back on
    the customer key, one (cohort, offset)-bounded agg (single distinct
    on the grouping's own key — no Expand), and a running-sum window
    over the tiny matrix."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    first = o.groupBy("o_custkey").agg(F.min("m").alias("cohort_month"))
    j = o.join(first, "o_custkey").select(
        "o_custkey",
        "cohort_month",
        F.months_between("m", "cohort_month").cast("long").alias("month_offset"),
        "cents",
    )
    a = j.groupBy("cohort_month", "month_offset").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return a.select(
        "*", F.sum("revenue_cents").over(w).cast("long").alias("cum_revenue_cents")
    )


def revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration audit per part brand: the Herfindahl–
    Hirschman index of supplier revenue shares, HHI = Σ_s (rev_s/rev)²
    — the procurement-risk dial (HHI → 1 means one supplier owns the
    brand). Computed as Σ rev_s² / (Σ rev_s)² so no per-share division
    ever happens: revenues are exact integer cents, the squared sum is
    carried in DECIMAL(38,0) (BIGINT squares overflow at warehouse
    scale; DuckDB's HUGEINT is the oracle twin), and the single double
    division + round happens on identical exact integers in both
    engines.

    Scale: lineitem⋈part equality join (AQE picks the strategy), one
    (brand, supplier) partial agg, one brand-bounded agg."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_brand",
            "l_suppkey",
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
            )
            .cast("long")
            .alias("cents"),
        )
        .groupBy("p_brand", "l_suppkey")
        .agg(F.sum("cents").cast("decimal(38,0)").alias("rev"))
    )
    agg = rev.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("rev").cast("decimal(38,0)").alias("total"),
        F.sum(F.col("rev") * F.col("rev")).cast("decimal(38,0)").alias("num"),
    )
    return agg.select(
        "p_brand",
        "n_suppliers",
        F.col("total").cast("long").alias("total_cents"),
        F.round(
            F.col("num").cast("double")
            / (F.col("total").cast("double") * F.col("total").cast("double")),
            6,
        ).alias("hhi"),
    )


def shipping_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency profile per order priority: exact
    percentiles of days between o_orderdate and each line's l_shipdate
    — the fulfilment-SLA twin of conversion_latency (same percentile
    discipline, pointed at the orders fact chain).

    Exactness: latencies are integer day diffs; interpolated exact
    percentiles mirror value_percentiles (identical linear
    interpolation both engines, rounded).

    Scale: ONE lineitem⋈orders equality join on the order key (the
    co-partition/bucketing candidate at 100 TB), then a
    |priorities|-bounded agg."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    d = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("long")
        .alias("delay_d"),
    )
    return d.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.min("delay_d").cast("long").alias("min_d"),
        F.round(F.expr("percentile(delay_d, 0.5)"), 6).alias("p50_d"),
        F.round(F.expr("percentile(delay_d, 0.9)"), 6).alias("p90_d"),
        F.round(F.expr("percentile(delay_d, 0.99)"), 6).alias("p99_d"),
        F.max("delay_d").cast("long").alias("max_d"),
    )


def order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap profile per customer segment-of-frequency: days
    between a customer's consecutive orders, rolled into exact
    percentiles per order-count bucket — the repeat-purchase cadence
    dial next to rfm_segments (events_gap_stats is the events-side
    twin).

    Exactness: gaps are integer day diffs from a per-customer lag
    window with (date, orderkey) total tie-break; bucket bounds are
    integer comparisons; percentiles mirror value_percentiles.

    Scale: one customer-keyed window shuffle, one bounded agg."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate"), F.col("o_orderkey")
    )
    g = orders.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        )
        .cast("long")
        .alias("gap_d"),
        F.count(F.lit(1)).over(Window.partitionBy("o_custkey")).alias("n_ord"),
    ).where(F.col("gap_d").isNotNull())
    bucket = (
        F.when(F.col("n_ord") <= 3, "2-3")
        .when(F.col("n_ord") <= 9, "4-9")
        .otherwise("10+")
    )
    return g.select(bucket.alias("freq_bucket"), "gap_d").groupBy(
        "freq_bucket"
    ).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.expr("percentile(gap_d, 0.5)"), 6).alias("p50_d"),
        F.round(F.expr("percentile(gap_d, 0.9)"), 6).alias("p90_d"),
        F.max("gap_d").cast("long").alias("max_d"),
    )


def trade_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full supplier-nation × customer-nation revenue flow matrix —
    tpch_q7 generalized from two hand-picked nations to every pair, the
    trade-flow dashboard built on the engine's deepest join chain
    (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation×2).

    Exactness: revenue is per-row-rounded integer cents summed exactly
    (the cohort_ltv discipline — double re-accumulation is
    order-dependent).

    Scale: the two fact joins shuffle on their keys (AQE picks
    strategies); nation is a fixed-size broadcast on BOTH legs; the
    final agg is bounded by |nations|²."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(
                nat.select(
                    F.col("n_nationkey").alias("sn_key"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .join(
            F.broadcast(
                nat.select(
                    F.col("n_nationkey").alias("cn_key"),
                    F.col("n_name").alias("cust_nation"),
                )
            ),
            F.col("c_nationkey") == F.col("cn_key"),
        )
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100,
                    0,
                ).cast("long")
            )
            .cast("long")
            .alias("revenue_cents"),
        )
    )


def return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate dashboard per part brand: lines flagged R, the
    revenue they carried, and the return rate — the quality-of-goods
    dial next to revenue_hhi's supplier-concentration view (tpch_q10
    ranks customers by returned revenue; this rolls the same flag up
    the product axis).

    Exactness: integer line counts and per-row-rounded integer cents;
    one rounded division.

    Scale: lineitem ⋈ part equality join, one |brands|-bounded agg."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    ret = (F.col("l_returnflag") == "R").cast("long")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(ret).cast("long").alias("n_returned"),
            F.sum(ret * cents).cast("long").alias("returned_cents"),
            F.round(F.sum(ret) / F.count(F.lit(1)), 6).alias("return_rate"),
        )
    )


# Frequent-itemset support floor: itemset must appear in >= 5 per mille
# of baskets (integer-exact predicate n*1000 >= N*5 in both engines; at
# this floor every pair survives but ~98% of candidate triples prune —
# the A-Priori support cut doing visible work).
ITEMSET_SUPPORT_PER_MILLE = 5


def frequent_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-Priori / SON frequent itemsets (sizes 2 and 3) over the
    per-order brand baskets — the generalization of basket_lift's pair
    association to higher-order co-purchase structure.

    Spark-first shape: the SON insight (Savasere/Omiecinski/Navathe;
    the standard MapReduce A-Priori) is that candidate generation is
    per-basket LOCAL work. Each order's distinct-brand set becomes one
    sorted array (bounded: the brand universe is 25, typical basket
    ~4), and ALL size-2/size-3 subsets are emitted map-side via nested
    array transforms — no self-join, no shuffle until the single
    itemset-count agg, whose key space is bounded by C(25,3)+C(25,2) =
    2600 itemsets regardless of corpus size. The support floor is the
    integer-exact predicate n·1000 ≥ N·PER_MILLE (no float threshold to
    drift cross-engine); N rides a 1-row broadcast.

    Scale (100 TB): one lineitem⋈part equality join, one per-order
    collect_set (the only data-sized shuffle), then map-side subset
    expansion bounded by basket size — a 10⁹-order month produces at
    most ~2600 post-agg rows. Contrast the oracle's three-way
    self-join restatement, which is the shape this operator avoids."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ob = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    # persisted: read twice (subset expansion + the 1-row basket count)
    # — without it both branches would re-run the lineitem⋈part join
    baskets = (
        ob.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("arr"))
        .persist()
    )
    pairs = (
        "flatten(transform(arr, (x, i) ->"
        " transform(slice(arr, i + 2, size(arr)), y -> array(x, y))))"
    )
    triples = (
        "flatten(flatten(transform(arr, (x, i) ->"
        " transform(slice(arr, i + 2, size(arr)), (y, j) ->"
        " transform(slice(arr, i + j + 3, size(arr)),"
        " z -> array(x, y, z))))))"
    )
    subsets = baskets.select(
        F.explode(F.expr(f"concat({pairs}, {triples})")).alias("items")
    )
    n_orders = baskets.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    return (
        subsets.groupBy(
            F.concat_ws("|", F.col("items")).alias("itemset"),
            F.size("items").alias("k"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .crossJoin(F.broadcast(n_orders))
        .where(
            F.col("support") * 1000
            >= F.col("n_orders") * ITEMSET_SUPPORT_PER_MILLE
        )
        .select(
            "itemset",
            "k",
            "support",
            F.round(F.col("support") / F.col("n_orders"), 6).alias(
                "support_ratio"
            ),
        )
    )


def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of customer revenue — the
    inequality/concentration dial at the customer grain (revenue_hhi
    is the supplier-share version): gini = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n
    over each nation's customers ordered by revenue, computed for
    customers that placed at least one order.

    Exactness: revenues are exact integer cents; within-nation ranks
    are exact integers over the total order (nation, rev, custkey);
    Σ i·xᵢ and Σx are carried in DECIMAL(38,0) (HUGEINT oracle twin —
    i·x reaches 10¹⁸ at warehouse scale, the BIGINT edge); the gini is
    ONE double chain over exact integers, identical in both engines.

    Scale: the within-nation rank over (rev, custkey) comes from the
    range-partitioned prefix scan grouped by nation (plans/range_scan.py)
    — never a per-nation single-partition window, which serializes on
    the dominant nation; then one |nations|-bounded agg."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        orders.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("rev"))
    )
    per = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(rev, cust.c_custkey == rev.o_custkey)
        .select("n_name", "c_custkey", "rev")
    )
    r = range_prefix_scan(
        per, ["rev", "c_custkey"], rank="i", group=["n_name"]
    ).withColumn("i", F.col("i").cast("decimal(38,0)"))
    g = r.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("rev").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("i") * F.col("rev").cast("decimal(38,0)")).alias("si"),
    )
    n_d = F.col("n").cast("double")
    s_d = F.col("s").cast("double")
    si_d = F.col("si").cast("double")
    return g.select(
        "n_name",
        F.col("n").cast("long").alias("n_customers"),
        F.col("s").cast("long").alias("total_cents"),
        F.when(
            F.col("s") > 0,
            F.round(
                F.lit(2.0) * si_d / (n_d * s_d) - (n_d + 1.0) / n_d, 6
            ),
        ).alias("gini"),
    )


def order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table monetary reconciliation — the warehouse integrity
    audit next to fk_integrity (keys) and table_fingerprint (content):
    per order status, how many orders' o_totalprice agrees with the
    recomputed Σ l_extendedprice·(1−l_discount)·(1+l_tax) over their
    line items, the mismatch count, and the total/max absolute drift
    in cents — the first report a migration or CDC pipeline is graded
    on (orders with NO line items count as mismatches at full header
    value; the join is LEFT).

    Exactness: both sides become integer cents via the same
    round(·100) before any summation; deltas, totals and maxima are
    exact integers.

    Scale: one orderkey-partial agg over lineitem, one equality join
    to orders (AQE picks the strategy), one |status|-bounded agg."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    li_sum = (
        li.select(
            "l_orderkey",
            F.round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100,
                0,
            )
            .cast("long")
            .alias("cents"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("cents").alias("li_cents"))
    )
    j = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("o_cents"),
    ).join(li_sum, F.col("o_orderkey") == F.col("l_orderkey"), "left")
    delta = F.abs(F.col("o_cents") - F.coalesce(F.col("li_cents"), F.lit(0)))
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum((delta > 0).cast("long")).alias("n_mismatch"),
        F.sum(delta).cast("long").alias("abs_drift_cents"),
        F.max(delta).cast("long").alias("max_drift_cents"),
    )


ABC_A_PCT = 80  # cumulative-share cut for class A, in percent
ABC_B_PCT = 95  # cumulative-share cut for class B


def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification — the Pareto workhorse of supply
    analytics: parts ranked by revenue, class A = the head covering the
    first 80% of cumulative revenue, B = to 95%, C = the tail; emits
    per part the rank, exact cumulative share and the class.

    Exactness: revenue in exact integer cents; the class cut compares
    cum·100 ≤ pct·total in INTEGER (decimal) arithmetic — never a
    rounded share — so boundary parts classify identically in both
    engines; the published cum_share is one rounded double.

    Scale: one partkey partial agg, then ONE range-partitioned prefix
    scan (plans/range_scan.py) producing BOTH the global rank and the
    global revenue prefix sum — never a single-reducer cumulative
    window — then map-side classification against the broadcast 1-row
    total."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.select(
            "l_partkey",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("cents").alias("rev"))
    )
    ranked = range_prefix_scan(
        rev,
        [F.desc("rev"), "l_partkey"],
        rank="rk",
        sums={"cum": F.col("rev").cast("decimal(38,0)")},
    )
    tot = ranked.agg(F.sum("rev").cast("decimal(38,0)").alias("total"))
    out = ranked.join(F.broadcast(tot))
    cls = (
        F.when(F.col("cum") * 100 <= F.col("total") * ABC_A_PCT, F.lit("A"))
        .when(F.col("cum") * 100 <= F.col("total") * ABC_B_PCT, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return out.select(
        "l_partkey",
        F.col("rev").alias("rev_cents"),
        "rk",
        F.round(
            F.col("cum").cast("double") / F.col("total").cast("double"), 6
        ).alias("cum_share"),
        cls.alias("abc_class"),
    )


def brand_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase brand transitions — event_transitions' Markov
    chain applied to the retail chain: each order is collapsed to its
    DOMINANT brand (max revenue, ties to the lexicographically first
    brand), consecutive orders per customer form (from → to) hops, and
    the table reports hop counts and P(to | from) — the brand-loyalty /
    switching matrix.

    Exactness: dominance = row_number over (rev DESC, brand) — exact
    integer revenue with a total tie order, the identical window in
    the oracle; transition probabilities are single divisions of
    exact counts.

    Scale: one orderkey partial agg (dominant brand), one customer-
    keyed window for the lag (partitioned by o_custkey — bounded per
    customer), one |brands|²-bounded agg; ≤ |brands| rows broadcast
    for the row totals."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    brand_rev = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "l_orderkey",
            "p_brand",
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
            )
            .cast("long")
            .alias("cents"),
        )
        .groupBy("l_orderkey", "p_brand")
        .agg(F.sum("cents").alias("rev"))
    )
    w_dom = Window.partitionBy("l_orderkey").orderBy(
        F.desc("rev"), F.asc("p_brand")
    )
    dom = (
        brand_rev.withColumn("_rk", F.row_number().over(w_dom))
        .where(F.col("_rk") == 1)
        .select("l_orderkey", F.col("p_brand").alias("brand"))
    )
    seq = orders.join(
        dom, F.col("o_orderkey") == F.col("l_orderkey")
    ).select("o_custkey", "o_orderdate", "o_orderkey", "brand")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    hops = (
        seq.withColumn("prev", F.lag("brand").over(w))
        .where(F.col("prev").isNotNull())
        .groupBy(
            F.col("prev").alias("from_brand"), F.col("brand").alias("to_brand")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_hops"))
    )
    tot = hops.groupBy("from_brand").agg(F.sum("n_hops").alias("n_from"))
    return hops.join(F.broadcast(tot), "from_brand").select(
        "from_brand",
        "to_brand",
        "n_hops",
        F.round(
            F.col("n_hops").cast("double") / F.col("n_from").cast("double"), 6
        ).alias("p_transition"),
    )

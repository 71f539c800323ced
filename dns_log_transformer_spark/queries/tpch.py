"""The 22 TPC-H query shapes over the TPC-H-ish fixtures.

Each query is a built-in, codegen'd Spark plan paired with the DuckDB
oracle that computes the same result. Scale notes, applied throughout:

- dimension tables (region/nation/supplier/part/customer) are
  broadcast, so the fact table is not shuffled for those joins;
- aggregations rely on partial (map-side) aggregation: plain
  groupBy/agg;
- double aggregates are rounded in BOTH engines: summation order
  differs across partitions, so last-bit floats would never hash-match;
- top-k uses window + filter (no global collect), with total tie-break
  orders so results are deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dns_log_transformer_spark.queries.registry import register, table


# ---------------------------------------------------------------------------
# Aggregation: full hash-agg with 8 aggregates (partial+final automatic)
# ---------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
           ROUND(AVG(l_discount), 4)                                        AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary: scan -> filter (pushed to parquet)
    -> hash aggregate. The canonical partial+final agg benchmark."""
    li = table(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Filter + global agg: predicate/column pushdown showcase
# ---------------------------------------------------------------------------
@register(
    "q6_revenue_delta",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_delta(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q6-style: all predicates reach the parquet scan (check
    PushedFilters in .explain); reads only 4 of 11 columns."""
    li = table(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# Multi-way join + agg + top-N (fact shuffled once; dims broadcast)
# ---------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(o_orderdate AS DATE)                         AS orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q3-style: selective dim filter -> broadcast customer into
    orders, shuffle-join lineitem on orderkey, agg, top-10."""
    cust = table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(
            F.broadcast(
                orders.join(
                    F.broadcast(cust.select("c_custkey")),
                    orders.o_custkey == cust.c_custkey,
                )
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# 6-way star join with broadcast dims
# ---------------------------------------------------------------------------
@register(
    "q5_region_supplier_volume",
    oracle="""
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_region_supplier_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q5-style 6-way star join. Every dimension is broadcast; the
    only shuffles are fact-fact (orders<->lineitem) and the final agg."""
    cust = table(spark, sf, "customer")
    orders = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem")
    supp = table(spark, sf, "supplier")
    nation = table(spark, sf, "nation")
    region = table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "q7_nation_volume",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                          * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE sn.n_name <> cn.n_name
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q7-style: cross-nation trade volume by year. The nation dim
    joins twice (aliased) — both broadcast; the theta filter
    (supp_nation <> cust_nation) runs post-join. Revenue is summed in
    DECIMAL: with ~hundreds of large doubles per group the fp sum-order
    divergence between engines exceeds the 2-decimal rounding — decimal
    aggregation is exact and order-independent, so both engines agree
    bit-for-bit (the robust pattern when round() margins get tight)."""
    from dns_log_transformer_spark.operators.text import rebalance_for_fanout

    # every dim side broadcasts, so the whole probe+decimal-agg chain
    # rides the lineitem scan — ONE task on the single-row-group
    # fixture file (r15 profile: ~2.2 s serial). Rebalance the pruned
    # projection; no-op at scale where the scan is already split.
    li = rebalance_for_fanout(
        table(spark, sf, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice",
            "l_discount",
        )
    )
    orders = table(spark, sf, "orders")
    supp = table(spark, sf, "supplier")
    cust = table(spark, sf, "customer")
    sn = table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,6)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q10-style: top-20 customers by returned-item revenue."""
    cust = table(spark, sf, "customer")
    orders = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = table(spark, sf, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q12_priority_lines",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q12_priority_lines(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q12-style conditional aggregation (CASE inside SUM), on the
    fixture's columns (it has no shipmode/receiptdate)."""
    orders = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue",
    oracle="""
    SELECT ROUND(100.00 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def q14_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q14-style: ratio of conditional sums (LIKE predicate on a
    broadcast dim)."""
    li = table(spark, sf, "lineitem")
    part = table(spark, sf, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(0.0)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue")
        )
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                            * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2)
                  AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1995-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q15-style: revenue view + scalar MAX subquery selecting the
    top supplier(s). DECIMAL revenue so the MAX comparison is exact in
    both engines (a float equality against an aggregate is exactly the
    place last-ulp divergence would bite)."""
    supp = table(spark, sf, "supplier")
    li = table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,6)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
                ),
                2,
            )
            .cast("double")
            .alias("total_revenue")
        )
    )
    top = rev.agg(F.max("total_revenue").alias("m"))
    return (
        rev.join(F.broadcast(top), rev.total_revenue == F.col("m"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q18_large_orders",
    oracle="""
    SELECT c_custkey, o_orderkey, ROUND(o_totalprice, 2) AS total, qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN (SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(l_quantity) > 300) big ON o_orderkey = big.l_orderkey
    """,
)
def q18_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q18-style: HAVING-filtered aggregate as join input."""
    cust = table(spark, sf, "customer")
    orders = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 300)
        .select("l_orderkey", F.round("_q", 2).alias("qty"))
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total"), "qty"
        )
    )


@register(
    "q19_disjunctive",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q19-style: disjunctive mixed join/filter predicates — the
    OR-of-ANDs shape optimizers must not mangle."""
    li = table(spark, sf, "lineitem")
    part = table(spark, sf, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Semi / anti joins (EXISTS / NOT EXISTS)
# ---------------------------------------------------------------------------
@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf: str) -> DataFrame:
    """EXISTS as left_semi join (no row multiplication, no dedup needed)."""
    orders = table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    li = table(spark, sf, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q17_small_quantity",
    oracle="""
    WITH pa AS (
      SELECT l_partkey, 0.5 * AVG(l_quantity) AS half_avg
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) / 7.0, 2)
                AS DOUBLE) AS avg_yearly
    FROM lineitem
    JOIN pa USING (l_partkey)
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1' AND l_quantity < half_avg
    """,
)
def q17_small_quantity(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q17-style: correlated per-group scalar average, decorrelated
    Spark-first into one aggregate + an equi-join back on the group key
    (never a per-row subquery). The avg comparison is fp-safe here:
    quantities are integer-valued doubles, so group sums — and therefore
    the average — are exact and order-independent in both engines; the
    revenue total is DECIMAL for the same reason (PLANS.md rule 5)."""
    li = table(spark, sf, "lineitem")
    part = table(spark, sf, "part")
    pa = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg")
    )
    return (
        li.join(pa, "l_partkey")
        .join(
            F.broadcast(part.filter(F.col("p_brand") == "Brand#1")),
            li.l_partkey == F.col("p_partkey"),
        )
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")) / 7.0, 2
            )
            .cast("double")
            .alias("avg_yearly")
        )
    )


@register(
    "q21_sole_returner",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE l1.l_returnflag = 'R'
      AND o_orderstatus = 'F'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def q21_sole_returner(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q21-shape (adapted to this schema: 'returned' stands in for
    'late'): the EXISTS / NOT EXISTS pair over the same fact table,
    expressed as left-semi + left-anti self-joins — equi on the order
    key with a residual supplier-inequality condition, so both resolve
    to hash/sort-merge joins, never a per-row subquery or nested loop."""
    li = table(spark, sf, "lineitem")
    supp = table(spark, sf, "supplier")
    orders = table(spark, sf, "orders")
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .alias("l3")
    )
    cand = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
    )
    return (
        cand.join(
            orders.filter(F.col("o_orderstatus") == "F"),
            F.col("l1.l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(supp), F.col("l1.l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


@register(
    "q13_order_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q13-shape: customer order-count distribution. The load-bearing
    subtlety is the ON-clause (not WHERE) predicate on the outer join —
    customers whose only orders are URGENT must still appear with count 0 —
    expressed Spark-first by filtering the right side *before* the left
    join. Two cascaded aggregations; both partial+final, no skew (custkey
    then small-domain count)."""
    cust = table(spark, sf, "customer")
    orders = table(spark, sf, "orders")
    per_cust = (
        cust.join(
            orders.filter(F.col("o_orderpriority") != "1-URGENT"),
            cust.c_custkey == orders.o_custkey,
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q22_idle_balances",
    oracle="""
    WITH pos AS (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS total,
             COUNT(*) AS cnt
      FROM customer WHERE c_acctbal > 0.0)
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS totacctbal
    FROM customer, pos
    WHERE CAST(c_acctbal AS DECIMAL(18,6)) * cnt > total
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q22_idle_balances(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q22-shape: above-average balances among customers with no
    URGENT orders. The scalar AVG subquery is decorrelated as a 1-row
    (SUM, COUNT) aggregate broadcast-cross-joined in, and the comparison
    is division-free (bal * cnt > total, DECIMAL x BIGINT -> DECIMAL) so
    both engines compare exact values — AVG itself would come back as
    DOUBLE in DuckDB but DECIMAL in Spark (PLANS.md rule 5). NOT EXISTS
    is a left-anti join on the filtered orders side."""
    cust = table(spark, sf, "customer").withColumn(
        "bal_dec", F.col("c_acctbal").cast("decimal(18,6)")
    )
    orders = table(spark, sf, "orders")
    pos = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum("bal_dec").alias("total"), F.count("*").alias("cnt")
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .join(F.broadcast(pos))
        .filter(F.col("bal_dec") * F.col("cnt") > F.col("total"))
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("long").alias("numcust"),
            F.round(F.sum("bal_dec"), 2).cast("double").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH rows_q4 AS (
      SELECT l_partkey, l_suppkey,
             (2 * CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 100
              + CAST(ROUND(l_quantity) AS BIGINT))
             // (2 * CAST(ROUND(l_quantity) AS BIGINT)) AS cost_q4
      FROM lineitem),
    ps AS (
      SELECT l_partkey, l_suppkey, MIN(cost_q4) AS ps_cost_q4
      FROM rows_q4 GROUP BY l_partkey, l_suppkey),
    mc AS (SELECT l_partkey, MIN(ps_cost_q4) AS min_cost
           FROM ps GROUP BY l_partkey)
    SELECT p_partkey, s_name, n_name,
           CAST(ps_cost_q4 AS BIGINT) AS supply_cost_q4
    FROM ps JOIN mc USING (l_partkey)
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE ps_cost_q4 = min_cost AND p_size = 10
    ORDER BY p_partkey, s_name
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q2-shape: cheapest supplier per part (partsupp derived from
    lineitem as MIN(unit price) per part-supplier pair — the fixture set
    has no partsupp table). The correlated MIN subquery is decorrelated
    into a per-part window MIN; ties keep all rows in both engines.

    Exact-integer unit cost (PLANS.md rule 5, found by the sf0.1 parity
    sweep): price/quantity quotients land on 4-decimal .5 boundaries
    (89.11625 at sf0.1) where the engines' double ROUND disagrees by a
    ulp-visible digit — the cost is instead quantized per ROW with
    integer round-half-up ((2*cents*100 + q) div (2q), exact on both
    engines) and MIN runs over integers; rounding is monotone, so
    min-of-rounded equals rounded-min, and the min-cost tie compare is
    integer-exact.

    Round-6 plan rewrite (oracle-hash-preserving): (a) the selective
    ``p_size = 10`` part filter is pushed BELOW the aggregate as a
    broadcast semi-join on the lineitem scan — the per-part min is
    computed WITHIN each part, so pruning parts first cannot change it,
    and the heavy (partkey, suppkey) aggregation now sees ~1/50 of the
    rows; (b) the min-cost comparison is a window MIN over the (already
    partkey-clustered) aggregate instead of a second aggregate + self
    join — the old plan computed the aggregate TWICE (once per join
    side). One lineitem scan, one agg shuffle, one window over the same
    key, broadcast dims."""
    li = table(spark, sf, "lineitem")
    part = table(spark, sf, "part")
    supp = table(spark, sf, "supplier")
    nation = table(spark, sf, "nation")
    part10 = part.filter(F.col("p_size") == 10)
    li10 = li.join(
        F.broadcast(part10.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    cost_q4 = F.expr(
        "(2 * CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 100"
        " + CAST(ROUND(l_quantity) AS BIGINT))"
        " div (2 * CAST(ROUND(l_quantity) AS BIGINT))"
    )
    ps = li10.groupBy("l_partkey", "l_suppkey").agg(
        F.min(cost_q4).alias("ps_cost_q4")
    )
    w = W.partitionBy("l_partkey")
    keep = ps.withColumn("min_cost", F.min("ps_cost_q4").over(w)).filter(
        F.col("ps_cost_q4") == F.col("min_cost")
    )
    return (
        keep.join(
            F.broadcast(part10), F.col("l_partkey") == F.col("p_partkey")
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "p_partkey",
            "s_name",
            "n_name",
            F.col("ps_cost_q4").cast("bigint").alias("supply_cost_q4"),
        )
        .orderBy("p_partkey", "s_name")
    )


@register(
    "q16_supplier_count",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_brand, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND l_suppkey NOT IN
        (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
)
def q16_supplier_count(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q16-shape: distinct supplier count per (brand, size) with a
    NOT IN exclusion list. NOT IN is a left-anti join (s_suppkey is
    non-null, so the NULL-semantics trap of NOT IN doesn't bite); the
    exclusion side is tiny and broadcast. DISTINCT pairs first (one
    shuffle), then count-distinct aggregates (Spark plans the standard
    two-phase distinct expand)."""
    li = table(spark, sf, "lineitem")
    part = table(spark, sf, "part")
    supp = table(spark, sf, "supplier")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    bad = supp.filter(F.col("s_acctbal") < 0.0).select("s_suppkey")
    return (
        ps.join(
            F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "left_anti"
        )
        .join(
            F.broadcast(part.filter(F.col("p_brand") != "Brand#1")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
    )


@register(
    "q11_important_parts",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,6)))
               AS part_value
      FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT SUM(part_value) AS total FROM pv)
    SELECT l_partkey,
           CAST(ROUND(part_value, 2) AS DOUBLE) AS part_value
    FROM pv, tot
    WHERE part_value * 1250 > total
    ORDER BY part_value DESC, l_partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q11-shape: parts whose inventory value exceeds a fraction of
    the global total (HAVING vs a global scalar subquery). The global
    total is a 1-row aggregate broadcast in; the 0.08% threshold is
    expressed division-free (value * 1250 > total) so the DECIMAL
    comparison is exact in both engines. Per-row cast to DECIMAL before
    SUM keeps the aggregate order-independent (PLANS.md rule 5)."""
    li = table(spark, sf, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * F.col("l_quantity")).cast(
                "decimal(18,6)"
            )
        ).alias("part_value")
    )
    tot = pv.agg(F.sum("part_value").alias("total"))
    return (
        pv.join(F.broadcast(tot))
        .filter(F.col("part_value") * 1250 > F.col("total"))
        .select(
            "l_partkey",
            F.round("part_value", 2).cast("double").alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


@register(
    "q20_heavy_shippers",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1996-01-01'
      GROUP BY l_partkey, l_suppkey)
    SELECT s_name FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM ps
      WHERE qty > 50
        AND l_partkey IN
          (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'))
    ORDER BY s_name
    """,
)
def q20_heavy_shippers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q20-shape: nested IN subqueries — suppliers who shipped more
    than a threshold of any red part in 1995. Both IN levels become
    left-semi joins (part-filter semi into the aggregated pair table,
    then the pair table semi into supplier), so the plan is two hash
    semi-joins over one aggregation; quantity sums are integer-valued
    doubles (exact, order-independent)."""
    li = table(spark, sf, "lineitem")
    part = table(spark, sf, "part")
    supp = table(spark, sf, "supplier")
    ps = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    red = part.filter(F.col("p_name").like("red%")).select("p_partkey")
    heavy = ps.filter(F.col("qty") > 50).join(
        F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    )
    return (
        supp.join(
            heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_name")
        .orderBy("s_name")
    )


@register(
    "q8_market_share",
    oracle="""
    WITH vol AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS v,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = n1.n_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s_nationkey
      WHERE r_name = 'ASIA')
    SELECT o_year,
           CAST(ROUND(
             CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN v
                           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(SUM(v) AS DOUBLE), 4) AS DOUBLE) AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q8-shape: one nation's share of a region's purchase volume
    per year — the conditional-share ratio over a 6-way join. Volumes
    accumulate as per-row-cast DECIMAL (exact, order-independent); the
    final share divides the two exact totals as doubles, identically in
    both engines (PLANS.md rule 5). Dims broadcast; the two fact joins
    shuffle on their keys."""
    li = table(spark, sf, "lineitem")
    orders = table(spark, sf, "orders")
    cust = table(spark, sf, "customer")
    supp = table(spark, sf, "supplier")
    nation = table(spark, sf, "nation")
    region = table(spark, sf, "region")
    n1 = nation.alias("n1")
    n2 = nation.alias("n2")
    vol = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1.n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n1.n_regionkey") == F.col("r_regionkey"),
        )
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2.n_nationkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(18,6)")
            .alias("v"),
            F.col("n2.n_name").alias("supp_nation"),
        )
    )
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        vol.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_7", F.col("v")).otherwise(
                        zero
                    )
                ).cast("double")
                / F.sum("v").cast("double"),
                4,
            )
            .cast("double")
            .alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q9_product_profit",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS ps_supplycost
      FROM lineitem GROUP BY l_partkey, l_suppkey)
    SELECT n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(ROUND(SUM(CAST(
             l_extendedprice * (1 - l_discount) - ps_supplycost * l_quantity
             AS DECIMAL(18,6))), 2) AS DOUBLE) AS profit
    FROM lineitem
    JOIN ps USING (l_partkey, l_suppkey)
    JOIN part     ON p_partkey = l_partkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%gizmo%'
    GROUP BY n_name, o_year
    ORDER BY n_name, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q9-shape: profit per supplier nation per year over a 5-way
    join, with supplycost derived from lineitem (no partsupp in the
    fixture schema — min unit price per part-supplier pair, the q2
    derivation). Per-row profit is cast to DECIMAL before summing (the
    raw doubles are bit-identical in both engines: same multiply/
    subtract on the same inputs), so the aggregate is exact and
    order-independent (PLANS.md rule 5).

    Round-6 plan rewrite (oracle-hash-preserving, the q2 recipe): the
    selective p_name filter is pushed BELOW the supplycost aggregate as
    a broadcast semi-join on the lineitem scan — the per-(part,
    supplier) min is computed within each part, so pruning parts first
    cannot change it, and both the aggregate and the fact side now see
    only matching parts' rows. 1.20s -> 0.57s warm at sf0.1."""
    li = table(spark, sf, "lineitem")
    part = table(spark, sf, "part")
    orders = table(spark, sf, "orders")
    supp = table(spark, sf, "supplier")
    nation = table(spark, sf, "nation")
    gizmo = part.filter(F.col("p_name").like("%gizmo%"))
    li_g = li.join(
        F.broadcast(gizmo.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    ps = li_g.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost")
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("ps_supplycost") * F.col("l_quantity")
    ).cast("decimal(18,6)")
    return (
        li_g.join(ps, ["l_partkey", "l_suppkey"])
        .join(
            F.broadcast(gizmo),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            F.year("o_orderdate").cast("long").alias("o_year"),
            profit.alias("pr"),
        )
        .groupBy("n_name", "o_year")
        .agg(F.round(F.sum("pr"), 2).cast("double").alias("profit"))
        .orderBy("n_name", F.col("o_year").desc())
    )

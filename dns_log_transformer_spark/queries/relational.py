"""Relational and event analytics beyond the TPC-H shapes, plus CDC.

Joins, windows, grouping sets, sketches, sessionization, graph
iterations (PageRank, triangles, link prediction), layout and skew
diagnostics over the TPC-H-ish and ``events`` fixtures, and the CDC
merge / SCD2 / time-travel queries over a synthetic change feed
derived from ``orders``. Every query pairs a Spark plan with a DuckDB
oracle that computes the SAME deterministic algorithm, integer-exact
wherever a float fold could diverge.
"""

from __future__ import annotations

import datetime as _dt
import functools
import operator

from pyspark.sql import DataFrame, SparkSession, Window, Window as W
from pyspark.sql import functions as F

from dns_log_transformer_spark.operators import cdc, graph
from dns_log_transformer_spark.operators.caching import persist_tracked
from dns_log_transformer_spark.queries.registry import register, table


@register(
    "q_date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(year FROM o_orderdate) AS INT)    AS yr,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
           CAST(EXTRACT(month FROM o_orderdate) AS INT)   AS mon,
           CAST(EXTRACT(day FROM o_orderdate) AS INT)     AS dom,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE)    AS due_date,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
                AS BIGINT)                                AS days_since_95,
           strftime(o_orderdate, '%Y-%m')                 AS ym
    FROM orders
    """,
)
def q_date_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Date/time scalar gallery: extract, trunc, interval arithmetic,
    datediff, formatting."""
    orders = table(spark, sf, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.month("o_orderdate").cast("int").alias("mon"),
        F.dayofmonth("o_orderdate").cast("int").alias("dom"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).cast("long").alias("days_since_95"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


@register(
    "q_customers_without_orders",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q_customers_without_orders(spark: SparkSession, sf: str) -> DataFrame:
    """NOT EXISTS as left_anti join."""
    cust = table(spark, sf, "customer")
    orders = table(spark, sf, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Outer join
# ---------------------------------------------------------------------------
@register(
    "q_customer_order_counts",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def q_customer_order_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Left outer join preserving order-less customers (count = 0)."""
    cust = table(spark, sf, "customer")
    orders = table(spark, sf, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "q_full_outer_yearly",
    oracle="""
    WITH o AS (SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
                      COUNT(*) AS n_orders
               FROM orders GROUP BY 1),
         l AS (SELECT CAST(EXTRACT(year FROM l_shipdate) AS INT) AS yr,
                      COUNT(*) AS n_ships
               FROM lineitem GROUP BY 1)
    SELECT COALESCE(o.yr, l.yr) AS yr,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(n_ships, 0)  AS n_ships
    FROM o FULL OUTER JOIN l ON o.yr = l.yr
    """,
)
def q_full_outer_yearly(spark: SparkSession, sf: str) -> DataFrame:
    """Full outer join of two yearly aggregates (order years vs ship
    years don't fully overlap — both dangling sides survive)."""
    orders = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem")
    o = orders.groupBy(
        F.year("o_orderdate").cast("int").alias("yr")
    ).agg(F.count("*").alias("n_orders"))
    l = li.groupBy(F.year("l_shipdate").cast("int").alias("o_yr")).agg(
        F.count("*").alias("n_ships")
    )
    return (
        o.join(l, o.yr == l.o_yr, "full_outer")
        .select(
            F.coalesce(o.yr, l.o_yr).alias("yr"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_ships", F.lit(0)).alias("n_ships"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------
@register(
    "q_segment_set_ops",
    oracle="""
    WITH building AS (SELECT o_custkey AS custkey FROM orders
                      JOIN customer ON o_custkey = c_custkey
                      WHERE c_mktsegment = 'BUILDING'),
         highval  AS (SELECT o_custkey AS custkey FROM orders
                      WHERE o_totalprice > 200000)
    SELECT 'intersect' AS op, COUNT(*) AS n
      FROM (SELECT DISTINCT custkey FROM building
            INTERSECT SELECT DISTINCT custkey FROM highval)
    UNION ALL
    SELECT 'except', COUNT(*)
      FROM (SELECT DISTINCT custkey FROM building
            EXCEPT SELECT DISTINCT custkey FROM highval)
    UNION ALL
    SELECT 'union', COUNT(*)
      FROM (SELECT custkey FROM building UNION SELECT custkey FROM highval)
    """,
)
def q_segment_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """union / intersect / except over two derived key sets."""
    cust = table(spark, sf, "customer")
    orders = table(spark, sf, "orders")
    building = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("o_custkey").alias("custkey"))
    )
    highval = orders.filter(F.col("o_totalprice") > 200000).select(
        F.col("o_custkey").alias("custkey")
    )
    b, h = building.distinct(), highval.distinct()
    rows = [
        b.intersect(h).agg(F.lit("intersect").alias("op"), F.count("*").alias("n")),
        b.exceptAll(h).distinct().agg(
            F.lit("except").alias("op"), F.count("*").alias("n")
        ),
        b.union(h).distinct().agg(F.lit("union").alias("op"), F.count("*").alias("n")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# Window functions: top-k per group, running totals, lag/lead
# ---------------------------------------------------------------------------
@register(
    "q_topk_parts_per_brand",
    oracle="""
    SELECT p_brand, p_partkey, revenue, rnk FROM (
      SELECT p_brand, p_partkey,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             ROW_NUMBER() OVER (
               PARTITION BY p_brand
               ORDER BY ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) DESC,
                        p_partkey) AS rnk
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand, p_partkey)
    WHERE rnk <= 3
    """,
)
def q_topk_parts_per_brand(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 parts by revenue per brand: broadcast-join dim, agg, window
    row_number, filter — the scalable top-k (no global sort)."""
    li = table(spark, sf, "lineitem")
    part = table(spark, sf, "part")
    per_part = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    w = W.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("p_partkey"))
    return (
        per_part.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "revenue", "rnk")
    )


@register(
    "q_customer_running_totals",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
           ROUND(COALESCE(LAG(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0), 2) AS prev_price,
           RANK() OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
    FROM orders
    """,
)
def q_customer_running_totals(spark: SparkSession, sf: str) -> DataFrame:
    """Running sum + lag + rank per customer (total tie-break order)."""
    orders = table(spark, sf, "orders")
    wt = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(wt.rowsBetween(W.unboundedPreceding, 0)), 2
        ).alias("running_spend"),
        F.round(F.coalesce(F.lag("o_totalprice").over(wt), F.lit(0.0)), 2).alias(
            "prev_price"
        ),
        F.rank().over(wr).alias("price_rank"),
    )


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube
# ---------------------------------------------------------------------------
@register(
    "q_rollup_order_status",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS grp,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q_rollup_order_status(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP with grouping_id — hierarchical subtotals + grand total."""
    orders = table(spark, sf, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("int").alias("grp"),
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "q_cube_returnflag",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS grp,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube_returnflag(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over two dimensions (all 2^2 grouping combinations)."""
    li = table(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("int").alias("grp"), F.count("*").alias("n")
    )


# ---------------------------------------------------------------------------
# Distinct aggregates + exact percentiles + stddev
# ---------------------------------------------------------------------------
@register(
    "q_distinct_and_percentiles",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey)                       AS n_suppliers,
           COUNT(DISTINCT l_partkey)                       AS n_parts,
           ROUND(QUANTILE_CONT(CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                               0.5), 1)                    AS median_cents,
           ROUND(QUANTILE_CONT(CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                               0.95), 1)                   AS p95_cents,
           ROUND(STDDEV_SAMP(l_quantity), 4)               AS sd_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_distinct_and_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Multiple exact count-distincts + exact interpolated percentiles
    (Spark `percentile` == DuckDB `quantile_cont`), computed in the
    integer-CENTS domain (PLANS.md rule 5): the even-group median of
    2-decimal prices interpolates to .xx5 dollar values whose decimal
    expansion sits exactly on the ROUND boundary, where Spark's
    exact-BigDecimal HALF_UP and DuckDB's multiply-based rounding can
    disagree by one cent (bit at sf0.001); cents interpolate to exact
    .0/.5 doubles that ROUND(_, 1) never perturbs.

    Shape: each distinct count runs as its own two-phase aggregation
    (groupBy(key, col) then count) and the results join on the tiny
    group key — instead of one agg with N count_distincts, which Catalyst
    plans as an Expand multiplying every input row N+1 times before the
    shuffle. Measured 3x at sf0.1; at warehouse scale the expand's extra
    shuffled rows dominate even more (narrow column scans are cheap,
    shuffled bytes are not)."""
    li = table(spark, sf, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    sup = (
        li.groupBy("l_returnflag", "l_suppkey")
        .agg(F.lit(1))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_suppliers"))
    )
    par = (
        li.groupBy("l_returnflag", "l_partkey")
        .agg(F.lit(1))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_parts"))
    )
    # array-form percentile: one aggregation buffer for both targets
    pct = li.groupBy("l_returnflag").agg(
        F.percentile(cents, F.lit([0.5, 0.95])).alias("_pq"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
    ).select(
        "l_returnflag",
        F.round(F.col("_pq")[0], 1).alias("median_cents"),
        F.round(F.col("_pq")[1], 1).alias("p95_cents"),
        "sd_qty",
    )
    return (
        pct.join(sup, "l_returnflag")
        .join(par, "l_returnflag")
        .select(
            "l_returnflag",
            "n_suppliers",
            "n_parts",
            "median_cents",
            "p95_cents",
            "sd_qty",
        )
    )


# ---------------------------------------------------------------------------
# Pivot
# ---------------------------------------------------------------------------
@register(
    "q_pivot_status_qty",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS qty_O,
           ROUND(SUM(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_pivot_status_qty(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot linestatus into columns (explicit value list — no extra pass
    to discover pivot values, which matters at scale)."""
    li = table(spark, sf, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return out.select(
        "l_returnflag",
        F.col("O").alias("qty_O"),
        F.col("F").alias("qty_F"),
    )


# ---------------------------------------------------------------------------
# Theta/range join condition
# ---------------------------------------------------------------------------
@register(
    "q_ship_within_week",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_fast_lines
    FROM orders JOIN lineitem
      ON l_orderkey = o_orderkey
     AND l_shipdate >= o_orderdate
     AND l_shipdate <  o_orderdate + INTERVAL 7 DAY
    GROUP BY o_orderpriority
    """,
)
def q_ship_within_week(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-join + range predicate (band join): the equi key keeps it a
    hash join; the range is a post-join filter Catalyst fuses in."""
    orders = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem")
    return (
        li.join(
            orders,
            (li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate >= orders.o_orderdate)
            & (li.l_shipdate < F.date_add(orders.o_orderdate, 7)),
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_fast_lines"))
    )


# ---------------------------------------------------------------------------
# Scalar-function gallery (string/date/conditional coverage)
# ---------------------------------------------------------------------------
@register(
    "q_pure_range_join",
    oracle="""
    SELECT o_orderkey, COUNT(*) AS n_shipped
    FROM orders JOIN lineitem
      ON l_shipdate >= o_orderdate
     AND l_shipdate <  o_orderdate + INTERVAL 1 DAY
    WHERE o_orderdate >= TIMESTAMP '1995-03-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
    GROUP BY o_orderkey
    """,
)
def q_pure_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Pure range join (NO equi key): lineitems (any order's) shipped
    within a March-1995 order's next-day window. Spark would plan the raw
    predicate as a nested-loop O(n*m); operators/joins.py
    range_join_buckets turns it into a bucketized equi-join + refine (the
    scale path). The oracle is the naive range join, which DuckDB
    executes with IEJoin. (Selective on purpose: a pure range join's
    OUTPUT is inherently |matches|; an unselective window makes any
    algorithm quadratic in output, not a plan problem.)"""
    from dns_log_transformer_spark.operators.joins import range_join_buckets

    day = 86400
    orders = table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-03-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    ).select(
        "o_orderkey",
        F.unix_timestamp("o_orderdate").alias("lo"),
        (F.unix_timestamp("o_orderdate") + day).alias("hi"),
    )
    li = table(spark, sf, "lineitem").select(
        F.unix_timestamp("l_shipdate").alias("x")
    )
    joined = range_join_buckets(li, orders, "x", "lo", "hi", bucket_width=2 * day)
    return joined.groupBy("o_orderkey").agg(F.count("*").alias("n_shipped"))


@register(
    "q_scalar_functions",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name)                                   AS name_upper,
           SUBSTR(c_name, 1, 8)                            AS name_prefix,
           LENGTH(c_name)                                  AS name_len,
           LPAD(CAST(c_custkey AS VARCHAR), 10, '0')       AS key_padded,
           CONCAT(c_mktsegment, ':', CAST(c_nationkey AS VARCHAR)) AS seg_nation,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_band,
           ROUND(ABS(c_acctbal), 2)                        AS abs_bal,
           ROUND(GREATEST(c_acctbal, 0.0), 2)              AS pos_bal
    FROM customer
    """,
)
def q_scalar_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar expression coverage: string (upper/substr/length/lpad/
    concat), conditional (CASE), numeric (abs/greatest/round) — the
    engine's 'F-function' surface beyond the DNS formatters."""
    cust = table(spark, sf, "customer")
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.concat_ws(
            ":", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")
        ).alias("seg_nation"),
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_band"),
        F.round(F.abs("c_acctbal"), 2).alias("abs_bal"),
        F.round(F.greatest("c_acctbal", F.lit(0.0)), 2).alias("pos_bal"),
    )


# ---------------------------------------------------------------------------
# Event-time bucketing (batch analog of streaming tumbling windows)
# ---------------------------------------------------------------------------
@register(
    "q_event_time_buckets",
    oracle="""
    SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 AS bucket_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_event_time_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """5-minute tumbling buckets over event time (batch form; the
    streaming form uses F.window + watermark, see streaming/)."""
    ev = table(spark, sf, "events")
    bucket = (F.unix_timestamp("ts") / 300).cast("long") * 300
    return (
        ev.groupBy(bucket.alias("bucket_start"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


# ---------------------------------------------------------------------------
# Native event-time windows, batch-executed (the same operators the
# streaming surface uses — F.window / F.session_window run in both modes)
# ---------------------------------------------------------------------------
@register(
    "q_window_native",
    oracle="""
    SELECT time_bucket(INTERVAL 5 MINUTE, ts)                    AS window_start,
           time_bucket(INTERVAL 5 MINUTE, ts) + INTERVAL 5 MINUTE AS window_end,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def q_window_native(spark: SparkSession, sf: str) -> DataFrame:
    """F.window tumbling aggregation in batch mode — verifies the exact
    operator the streaming pipeline uses (streaming/windows.py
    tumbling_counts) against SQL time_bucket semantics."""
    from dns_log_transformer_spark.streaming.windows import tumbling_counts

    ev = table(spark, sf, "events")
    return tumbling_counts(ev, window_len="5 minutes")


@register(
    "q_session_native",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged)
    SELECT user_id,
           MIN(ts)                        AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE   AS session_end,
           COUNT(*)                       AS n_events,
           ROUND(SUM(value), 4)           AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def q_session_native(spark: SparkSession, sf: str) -> DataFrame:
    """F.session_window gap-based sessions in batch mode (same operator
    as streaming/windows.py session_stats); the oracle rebuilds identical
    sessions with the lag+cumsum island method — a window at exactly the
    30-min gap starts a new session in both (session end is exclusive)."""
    from dns_log_transformer_spark.streaming.windows import session_stats

    ev = table(spark, sf, "events")
    return session_stats(ev, gap="30 minutes")


# ---------------------------------------------------------------------------
# Grouping sets (explicit, beyond rollup/cube) + approximate distinct
# ---------------------------------------------------------------------------
@register(
    "q_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS grp,
           COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS (an arbitrary set list — not expressible as
    rollup or cube: (a,b), (b), ())."""
    orders = table(spark, sf, "orders")
    return orders.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(F.grouping_id().cast("int").alias("grp"), F.count("*").alias("n"))


@register(
    "q_approx_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_exact,
           TRUE                      AS approx_ok,
           TRUE                      AS merged_ok
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate distinct counting, both engines' idioms in ONE
    registration — r10 consolidation of q_approx_distinct +
    q_hll_sketch_merge (VERDICT r9 #1; the two shells shared the exact
    baseline and the in-bound-flag convention):

    - ``approx_ok``: approx_count_distinct (HyperLogLog++) checked
      against the exact count within its 5% error bound;
    - ``merged_ok``: Datasketches-HLL built as MERGEABLE partials —
      per-(group, shard) sketches via hll_sketch_agg, then
      hll_union_agg across shards, then estimate — the pre-aggregated
      sketch-table pattern (store binary sketches per partition/day,
      merge at query time; distinct-count queries never rescan raw
      data), checked within the same 5% bound.

    Sketch values differ by engine, so the oracle-comparable output is
    the exact count + the two in-bound flags.

    Plan note: count_distinct and approx_count_distinct in ONE
    aggregate makes the distinct rewrite carry the partial HLL sketch
    per (group, custkey) KEY — at rsd=0.02 that is ~410 longs per
    distinct key through the shuffle (~150 MB at sf0.1, unbounded at
    100 TB). HLL is duplicate-insensitive, so dedup first
    (map-side-combined distinct, fixed-width rows), then aggregate: the
    sketch exists only per group x reducer partition. The datasketches
    partials deliberately read the RAW orders (that is the pattern
    being attested: shard-level sketches over unprocessed data), and
    the per-status estimates join the exact side on the tiny status
    key."""
    orders = table(spark, sf, "orders")
    d = orders.select("o_orderstatus", "o_custkey").distinct()
    n_exact = F.count("o_custkey")
    exact = d.groupBy("o_orderstatus").agg(
        n_exact.alias("n_exact"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", rsd=0.02).cast("double")
                - n_exact.cast("double")
            )
            / n_exact
            <= 0.05
        ).alias("approx_ok"),
    )
    partials = (
        orders.withColumn("_shard", (F.col("o_orderkey") % 8).cast("int"))
        .groupBy("o_orderstatus", "_shard")
        .agg(F.hll_sketch_agg("o_custkey").alias("_sk"))
    )
    merged = partials.groupBy("o_orderstatus").agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_est")
    )
    return exact.join(merged, "o_orderstatus").select(
        "o_orderstatus",
        "n_exact",
        "approx_ok",
        (
            F.abs(F.col("_est").cast("double") - F.col("n_exact").cast("double"))
            / F.col("n_exact")
            <= 0.05
        ).alias("merged_ok"),
    )


# ---------------------------------------------------------------------------
# Sessionization (batch): gap > 30 min starts a new session
# ---------------------------------------------------------------------------
@register(
    "q_sessionize_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT)
                       - CAST(floor(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(MAX(session_id) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id
    """,
)
def q_sessionize_events(spark: SparkSession, sf: str) -> DataFrame:
    """Classic lag + cumulative-sum sessionization; one shuffle on
    user_id serves both windows and the final agg."""
    ev = table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            W.partitionBy("user_id").orderBy("ts").rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    return sessions.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery, decorrelated the Spark-first way
# ---------------------------------------------------------------------------
@register(
    "q_above_customer_avg",
    oracle="""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price
    FROM orders o
    WHERE o_totalprice > 1.5 * (SELECT AVG(o2.o_totalprice)
                                FROM orders o2
                                WHERE o2.o_custkey = o.o_custkey)
    """,
)
def q_above_customer_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Orders >1.5x their customer's average. The oracle states it as the
    correlated scalar subquery; the engine decorrelates it to one window
    aggregate over a single o_custkey shuffle — the shape that scales
    (per-row re-aggregation never happens)."""
    orders = table(spark, sf, "orders")
    w = W.partitionBy("o_custkey")
    return (
        orders.withColumn("cust_avg", F.avg("o_totalprice").over(w))
        .filter(F.col("o_totalprice") > 1.5 * F.col("cust_avg"))
        .select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price")
        )
    )


# ---------------------------------------------------------------------------
# The SQL entry point itself (spark.sql over registered views)
# ---------------------------------------------------------------------------
_NATION_REVENUE_SQL = """
    SELECT n_name,
           COUNT(DISTINCT c_custkey)     AS n_customers,
           ROUND(SUM(o_totalprice), 2)   AS total_revenue
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    GROUP BY n_name
"""


@register("q_sql_surface", oracle=_NATION_REVENUE_SQL)
def q_sql_surface(spark: SparkSession, sf: str) -> DataFrame:
    """The engine's SQL surface: the IDENTICAL ANSI text runs through
    spark.sql() and through DuckDB — parser/analyzer parity, not just
    DataFrame parity."""
    for t in ("customer", "nation", "orders"):
        table(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_NATION_REVENUE_SQL)


# ---------------------------------------------------------------------------
# Semi-structured: JSON property extraction
# ---------------------------------------------------------------------------
@register(
    "q_json_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
           COUNT(*) AS n
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
    GROUP BY event_type
    """,
)
def q_json_props(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-on-read over the JSON props column (get_json_object —
    the same primitive the DNS pipeline uses via from_json)."""
    ev = table(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.filter(k > 50)
        .groupBy("event_type")
        .agg(F.sum(k).alias("k_total"), F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# As-of join (Spark has no native one — union + window carry-forward)
# ---------------------------------------------------------------------------
@register(
    "q_asof_last_click_before_purchase",
    oracle="""
    SELECT p.event_id AS purchase_id,
           (SELECT c.event_id FROM events c
             WHERE c.user_id = p.user_id AND c.event_type = 'click'
               AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id))
             ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS last_click_id
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def q_asof_last_click_before_purchase(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join, Spark-first: instead of a per-row lookup (the oracle's
    correlated subquery, O(n*m)), tag both sides, sort once within each
    user partition, and carry the last click forward with
    last(ignorenulls) — one shuffle, linear work, scales to any size."""
    ev = table(spark, sf, "events")
    tagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("click_id"),
    ).filter(F.col("event_type").isin("click", "purchase"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)  # strictly-before semantics
    )
    return (
        tagged.withColumn("last_click_id", F.last("click_id", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), "last_click_id")
    )


@register(
    "q_profile_columns",
    oracle="""
    SELECT 'l_orderkey' AS col_name,
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
           CAST(MIN(l_orderkey) AS VARCHAR) AS min_str,
           CAST(MAX(l_orderkey) AS VARCHAR) AS max_str
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity',
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT l_quantity) AS BIGINT),
           CAST(MIN(l_quantity) AS VARCHAR), CAST(MAX(l_quantity) AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag',
           CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
           CAST(MIN(l_returnflag) AS VARCHAR), CAST(MAX(l_returnflag) AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate',
           CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
           CAST(MIN(l_shipdate) AS VARCHAR), CAST(MAX(l_shipdate) AS VARCHAR)
    FROM lineitem
    """,
)
def q_profile_columns(spark: SparkSession, sf: str) -> DataFrame:
    """Data-profiling pass over four lineitem columns of four different
    types (bigint, double, string, timestamp) — null counts, exact
    cardinality, stringified min/max. Per-column pruned scans, no
    multi-distinct Expand (operators/profile.py)."""
    from dns_log_transformer_spark.operators.profile import profile_columns

    li = table(spark, sf, "lineitem")
    return profile_columns(
        li, ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"]
    )


@register(
    "q_variant_props",
    oracle="""
    SELECT event_type,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_min,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_max,
           CAST(COUNT(json_extract_string(props, '$.k')) AS BIGINT) AS n_with_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_variant_props(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured props via Spark 4's VariantType: try_parse_json
    once into a variant column (a single binary-encoded parse, unlike
    repeated get_json_object calls), then typed variant_get extraction.
    The parse is materialized as its own projection so downstream
    references hit the variant attribute, not a re-parse (PLANS.md
    rule 1), and the input is rebalanced before the parse — the variant
    encoder is heavy per row and a compact scan would serialize it
    (PLANS.md rule 7; 4.1s -> 1.1s at sf0.1)."""
    from dns_log_transformer_spark.operators.text import rebalance_for_fanout

    ev = table(spark, sf, "events")
    v = rebalance_for_fanout(ev.select("event_type", "props")).select(
        "event_type", F.try_parse_json("props").alias("pv")
    )
    k = F.variant_get("pv", "$.k", "long")
    return (
        v.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.min("k").cast("long").alias("k_min"),
            F.max("k").cast("long").alias("k_max"),
            F.count("k").cast("long").alias("n_with_k"),
        )
        .orderBy("event_type")
    )


@register(
    "q_bitmap_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_bitmap_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT distinct counts via bitmap aggregation — the scale-out
    alternative to COUNT DISTINCT: values fold into fixed-size bitmap
    buckets (bitmap_bit_position within bitmap_bucket_number), so the
    shuffle carries one bitmap per (group, bucket) instead of every
    distinct value, and multi-column distincts need no Expand
    row-multiplication. Two ordinary partial+final aggregations; result
    bit-for-bit equals the oracle's COUNT(DISTINCT ...)."""
    li = table(spark, sf, "lineitem")

    def bitmap_distinct(col: str, out: str):
        return (
            li.groupBy(
                "l_returnflag", F.bitmap_bucket_number(F.col(col)).alias("_b")
            )
            .agg(
                F.bitmap_construct_agg(F.bitmap_bit_position(F.col(col))).alias(
                    "_bm"
                )
            )
            .groupBy("l_returnflag")
            .agg(F.sum(F.bitmap_count("_bm")).cast("long").alias(out))
        )

    supp = bitmap_distinct("l_suppkey", "n_suppliers")
    part = bitmap_distinct("l_partkey", "n_parts")
    return supp.join(part, "l_returnflag").orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Ordered-event funnel: view -> click -> purchase, strictly in sequence
# ---------------------------------------------------------------------------
@register(
    "q_event_funnel",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'view')     AS t1,
             list(ts) FILTER (WHERE event_type = 'click')    AS clicks,
             list(ts) FILTER (WHERE event_type = 'purchase') AS purch
      FROM events GROUP BY user_id),
    s1 AS (
      SELECT user_id, t1, purch,
             list_min(list_filter(clicks, x -> x > t1)) AS t2
      FROM per_user),
    s2 AS (
      SELECT user_id, t1, t2,
             list_min(list_filter(purch, x -> x > t2)) AS t3
      FROM s1),
    sums AS (
      SELECT CAST(COUNT(t1) AS BIGINT) AS n1,
             CAST(COUNT(t2) AS BIGINT) AS n2,
             CAST(COUNT(t3) AS BIGINT) AS n3
      FROM s2)
    SELECT 1 AS step_no, 'view' AS step, n1 AS n_users FROM sums
    UNION ALL
    SELECT 2, 'click_after_view', n2 FROM sums
    UNION ALL
    SELECT 3, 'purchase_after_click', n3 FROM sums
    """,
)
def q_event_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Sequenced conversion funnel: users whose first view precedes a
    click that precedes a purchase (strict event-time order, not mere
    per-type existence).

    Shape at scale: ONE shuffle (groupBy user_id) collects each user's
    click/purchase timestamps; the step chase (first view, first click
    after it, first purchase after that) is per-row array work inside
    the same stage — no window function, no self-join per step, and the
    per-user arrays are bounded by individual activity, not corpus
    size. The final step-count agg reduces to a single row."""
    events = table(spark, sf, "events")
    per_user = events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("t1"),
        F.collect_list(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).alias("_clicks"),
        F.collect_list(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("_purch"),
    )
    chased = per_user.withColumn(
        "t2", F.array_min(F.filter("_clicks", lambda x: x > F.col("t1")))
    ).withColumn(
        "t3", F.array_min(F.filter("_purch", lambda x: x > F.col("t2")))
    )
    sums = chased.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
    )
    return sums.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("step_no"),
                    F.lit("view").alias("step"),
                    F.col("n1").alias("n_users"),
                ),
                F.struct(
                    F.lit(2).alias("step_no"),
                    F.lit("click_after_view").alias("step"),
                    F.col("n2").alias("n_users"),
                ),
                F.struct(
                    F.lit(3).alias("step_no"),
                    F.lit("purchase_after_click").alias("step"),
                    F.col("n3").alias("n_users"),
                ),
            )
        ).alias("s")
    ).select("s.step_no", "s.step", "s.n_users")


# ---------------------------------------------------------------------------
# argmax/argmin aggregates: max_by/min_by with a deterministic tiebreak
# ---------------------------------------------------------------------------
@register(
    "q_argmax_orders",
    oracle="""
    SELECT o_orderpriority,
           arg_max(o_custkey,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000000000
                   + o_orderkey) AS top_custkey,
           arg_min(o_custkey,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000000000
                   + o_orderkey) AS bottom_custkey,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_argmax_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Who placed each priority class's priciest (and cheapest) order —
    max_by/min_by argmax aggregates, which replace the join-back-on-max
    idiom with ONE partial+final aggregation (no second shuffle, no
    max-value join).

    max_by ties are engine-order nondeterministic, so the ordering key
    is made unique: cents * 1e10 + o_orderkey. Collision-free while
    o_orderkey < 10^10 (TPC-H o_orderkey <= 6e6*SF, so sf <= ~1600) and
    overflow-free: cents <= ~6e7, so the packed key tops out near
    6e17 < 2^63 — exact int64 arithmetic on both engines."""
    orders = table(spark, sf, "orders")
    rank_key = (
        F.round(F.col("o_totalprice") * 100).cast("long") * 10_000_000_000
        + F.col("o_orderkey")
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.max_by("o_custkey", rank_key).alias("top_custkey"),
            F.min_by("o_custkey", rank_key).alias("bottom_custkey"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Range-frame rolling window: per-user trailing-hour activity
# ---------------------------------------------------------------------------
@register(
    "q_rolling_hour",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events)
    SELECT event_id, user_id, ts_sec,
           CAST(SUM(cents) OVER w AS BIGINT)  AS hour_cents,
           CAST(COUNT(*) OVER w AS BIGINT)    AS n_hour
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def q_rolling_hour(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-one-hour event value and count per user at every event —
    a RANGE-frame window (value-based frame bounds, not row counts), the
    time-series primitive row-frame windows can't express when events
    are irregularly spaced.

    One shuffle on user_id; the frame scan is per-partition sorted work.
    Monetary values fold as exact integer cents so the rolling sum is
    combine-order-independent (PLANS.md rule 5); tied timestamps are
    all-in-frame on both engines by RANGE semantics."""
    events = table(spark, sf, "events")
    ev = events.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("ts_sec"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-3600, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_sec",
        F.sum("cents").over(w).cast("long").alias("hour_cents"),
        F.count("*").over(w).cast("long").alias("n_hour"),
    )


# ---------------------------------------------------------------------------
# Time-axis gap fill + forward fill: dense 5-minute buckets
# ---------------------------------------------------------------------------
@register(
    "q_gapfill_buckets",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(floor(epoch(ts)) / 300) AS BIGINT) AS bucket,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events),
    actual AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(MAX(cents) AS BIGINT) AS max_cents
      FROM b GROUP BY bucket),
    span AS (SELECT MIN(bucket) AS mn, MAX(bucket) AS mx FROM actual),
    axis AS (SELECT unnest(range(mn, mx + 1)) AS bucket FROM span)
    SELECT a.bucket,
           CAST(COALESCE(ac.n_events, 0) AS BIGINT) AS n_events,
           last_value(ac.max_cents IGNORE NULLS) OVER (
             ORDER BY a.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_max_cents
    FROM axis a LEFT JOIN actual ac ON ac.bucket = a.bucket
    """,
)
def q_gapfill_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Dense 5-minute time axis with zero-filled counts and
    forward-filled last observation — the gap-fill / LOCF primitive of
    time-series stores, built from sequence()+explode and
    last(ignorenulls).

    Scale note: the global-order window here runs over the GENERATED
    AXIS, whose cardinality is time-span / bucket-width — bounded by
    elapsed time, not data volume (per-key gap-fill would partition the
    window by that key). The raw events reduce map-side into per-bucket
    rows before ever meeting the axis."""
    events = table(spark, sf, "events")
    b = events.select(
        F.floor(F.col("ts").cast("long") / 300).cast("long").alias("bucket"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    actual = b.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_events"),
        F.max("cents").cast("long").alias("max_cents"),
    )
    span = actual.agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    axis = span.select(
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("bucket")
    )
    joined = axis.join(actual, "bucket", "left")
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    return joined.select(
        "bucket",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        F.last("max_cents", ignorenulls=True).over(w).alias("filled_max_cents"),
    )


# ---------------------------------------------------------------------------
# Approximate percentiles (GK sketch) attested within rank-error bounds
# ---------------------------------------------------------------------------
@register(
    "q_approx_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(QUANTILE_CONT(CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                               0.5), 1)  AS median_exact_cents,
           ROUND(QUANTILE_CONT(CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                               0.95), 1) AS p95_exact_cents,
           TRUE AS median_ok,
           TRUE AS p95_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_approx_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """percentile_approx (Greenwald-Khanna sketch — mergeable, bounded
    memory) checked against the exact interpolated percentile within its
    rank-error guarantee: with accuracy a, the returned value's rank is
    within n/a of the target, so it must lie between the exact
    (q - 1/a) and (q + 1/a) quantiles. Sketch internals differ by
    engine, so the oracle-comparable output is the exact value + the
    in-bounds flag — the q_approx_distinct pattern. Percentiles run in
    the integer-CENTS domain (PLANS.md rule 5): even-group dollar
    medians land on .xx5 ROUND boundaries where the engines' rounding
    algorithms disagree by a cent (bit at sf0.001); cents interpolate
    to exact .0/.5 doubles.

    The sketch is the 100 TB path: exact QUANTILE_CONT buffers every
    group value for a sort; GK folds partial sketches map-side and
    shuffles fixed-size summaries."""
    from dns_log_transformer_spark.operators.text import rebalance_for_fanout

    # the exact-percentile buffers built in the partial aggregation are
    # the expensive side; a single-row-group fixture scan serializes
    # them behind one task (r15 profile: ~4 s executor time, <=7 tasks).
    # rebalance the 2-column projection — no-op when the scan is split.
    li = rebalance_for_fanout(
        table(spark, sf, "lineitem").select("l_returnflag", "l_extendedprice")
    )
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    acc = 100  # rank error <= 1% of each group
    eps = 1.0 / acc
    # ONE exact-percentile aggregate evaluating all six targets and ONE
    # GK sketch evaluating both — array-form percentile() shares a
    # single aggregation buffer per group where six scalar calls would
    # each build (and codegen) their own, measured 10x cheaper cold.
    # Bound targets derive from acc so tightening the sketch keeps the
    # attestation window in lockstep.
    exact6 = F.percentile(
        cents,
        F.lit([max(0.5 - eps, 0.0), 0.5, min(0.5 + eps, 1.0),
               max(0.95 - eps, 0.0), 0.95, min(0.95 + eps, 1.0)]),
    )
    approx2 = F.percentile_approx(cents, F.lit([0.5, 0.95]), F.lit(acc))
    agg = li.groupBy("l_returnflag").agg(
        exact6.alias("_ex"), approx2.alias("_ap")
    )
    ex = lambda i: F.col("_ex")[i]  # noqa: E731
    ap = lambda i: F.col("_ap")[i]  # noqa: E731
    return agg.select(
        "l_returnflag",
        F.round(ex(1), 1).alias("median_exact_cents"),
        F.round(ex(4), 1).alias("p95_exact_cents"),
        ((ap(0) >= ex(0)) & (ap(0) <= ex(2))).alias("median_ok"),
        ((ap(1) >= ex(3)) & (ap(1) <= ex(5))).alias("p95_ok"),
    )


# ---------------------------------------------------------------------------
# Global rank without the single-task window (zipWithIndex machinery)
# ---------------------------------------------------------------------------
@register(
    "q_global_rank",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           l_extendedprice, l_quantity,
           CAST(ROW_NUMBER() OVER (
             ORDER BY l_extendedprice DESC, l_orderkey, l_partkey,
                      l_suppkey, l_linenumber, l_quantity) AS BIGINT)
             AS global_rank
    FROM lineitem
    """,
)
def q_global_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Global 1-based price rank over the full fact table — the oracle
    states it as the obvious `ROW_NUMBER() OVER (ORDER BY ...)`, whose
    Spark plan funnels every row through ONE task; the engine computes
    it with the parallel zipWithIndex machinery instead
    (`operators/corpus.py global_rank`): range-partitioned sort,
    per-partition positions, O(num_partitions) offset map. The ordering
    key includes a unique tiebreak so both engines assign every rank
    deterministically."""
    from dns_log_transformer_spark.operators.corpus import global_rank

    li = table(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        "l_extendedprice",
        "l_quantity",
    )
    return global_rank(
        li,
        [
            F.desc("l_extendedprice"),
            F.asc("l_orderkey"),
            F.asc("l_partkey"),
            F.asc("l_suppkey"),
            F.asc("l_linenumber"),
            F.asc("l_quantity"),
        ],
        rank_col="global_rank",
    )


# ---------------------------------------------------------------------------
# Unpivot (melt): wide measure columns -> long (measure, value) rows
# ---------------------------------------------------------------------------
@register(
    "q_unpivot_measures",
    oracle="""
    WITH long AS (
      SELECT measure, val FROM (
        UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
                        l_tax
                 FROM lineitem)
        ON l_quantity, l_discount, l_tax INTO NAME measure VALUE val))
    SELECT measure,
           CAST(COUNT(*) AS BIGINT) AS n_vals,
           ROUND(MIN(val), 4) AS min_val,
           ROUND(MAX(val), 4) AS max_val,
           ROUND(CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE), 4)
             AS sum_val
    FROM long GROUP BY measure
    """,
)
def q_unpivot_measures(spark: SparkSession, sf: str) -> DataFrame:
    """Wide-to-long reshaping via unpivot/melt (the Expand operator —
    each input row emits one row per measure, no shuffle until the
    aggregate), with per-measure stats. Sums fold as exact DECIMAL so
    combine order can't diverge from the oracle (PLANS.md rule 5).

    r16 note: the r15 rebalance_for_fanout keep was REVERTED here
    (byte-identical to the attested e3de281 source) — its win existed
    only in filtered cold A/Bs and washed out in every quiet full
    bench (0.62-0.75 s with vs 0.637 s base), the same evidence class
    whose three other keeps batch 5 reverted (VERDICT r15 #4)."""
    li = table(spark, sf, "lineitem")
    long = li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "val",
    )
    return long.groupBy("measure").agg(
        F.count("*").cast("long").alias("n_vals"),
        F.round(F.min("val"), 4).alias("min_val"),
        F.round(F.max("val"), 4).alias("max_val"),
        F.round(
            F.sum(F.col("val").cast("decimal(18,6)")).cast("double"), 4
        ).alias("sum_val"),
    )


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4): ENGINE-PORTABLE SQL — the oracle IS the query
# ---------------------------------------------------------------------------
_RECURSIVE_MONTHS_SQL = """
    WITH RECURSIVE bounds AS (
      SELECT CAST(MIN(EXTRACT(YEAR FROM o_orderdate)) AS BIGINT) AS mny,
             CAST(MAX(EXTRACT(YEAR FROM o_orderdate)) AS BIGINT) AS mxy,
             CAST(MIN(EXTRACT(YEAR FROM o_orderdate) * 12
                  + EXTRACT(MONTH FROM o_orderdate)) AS BIGINT) AS mn,
             CAST(MAX(EXTRACT(YEAR FROM o_orderdate) * 12
                  + EXTRACT(MONTH FROM o_orderdate)) AS BIGINT) AS mx
      FROM orders),
    -- the recursive member references ONLY itself: bounds is read once
    -- by the anchor and carried as columns. (A `FROM years, bounds`
    -- step re-evaluated the full-orders aggregate EVERY iteration —
    -- measured 18.8s at sf0.1; this shape is ~10x cheaper. Recursing
    -- over YEARS keeps the depth ~timespan/12 with a portable
    -- 12-row VALUES cross join supplying the months.)
    years(yr, mxy, mn, mx) AS (
      SELECT mny, mxy, mn, mx FROM bounds
      UNION ALL
      SELECT yr + 1, mxy, mn, mx FROM years WHERE yr < mxy),
    months AS (
      SELECT yr * 12 + m.i AS ym, yr
      FROM years CROSS JOIN (VALUES (1), (2), (3), (4), (5), (6),
                                    (7), (8), (9), (10), (11), (12)) AS m(i)
      WHERE yr * 12 + m.i BETWEEN mn AND mx),
    counts AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) * 12
             + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS ym,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1)
    SELECT m.ym AS ym, m.yr AS yr,
           CAST(COALESCE(c.n_orders, 0) AS BIGINT) AS n_orders
    FROM months m LEFT JOIN counts c ON c.ym = m.ym
"""


@register("q_recursive_months", oracle=_RECURSIVE_MONTHS_SQL)
def q_recursive_months(spark: SparkSession, sf: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, new in Spark 4): a data-dependent
    month spine from the min to the max order month with zero-filled
    counts. The SQL text is engine-portable — the oracle string IS the
    executed query, attesting the recursion semantics themselves match.
    Recursion depth = elapsed months (bounded by the calendar, not the
    data volume); the per-month counts reduce map-side before joining
    the spine."""
    table(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(_RECURSIVE_MONTHS_SQL)


# ---------------------------------------------------------------------------
# PageRank (fixed-point) over the customer<->supplier trade graph
# ---------------------------------------------------------------------------
_PR_ITERS = 3


def _pr_iter_cte(i: int, prev: str) -> str:
    return f"""
    i{i} AS (
      SELECT n.node,
             CAST(150000 + (85 * COALESCE(s.inc, 0)) // 100 AS BIGINT)
               AS pr_rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node,
               SUM(r.pr_rank // d.outdeg) AS inc
        FROM e
        JOIN deg d ON d.src = e.src
        JOIN {prev} r ON r.node = e.src
        GROUP BY e.dst) s ON s.node = n.node)"""


_PAGERANK_ORACLE = (
    """
    WITH e0 AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
    i0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr_rank FROM nodes),"""
    + ",".join(_pr_iter_cte(i, f"i{i - 1}") for i in range(1, _PR_ITERS + 1))
    + f"""
    SELECT node, pr_rank FROM i{_PR_ITERS}
    """
)


@register("q_pagerank_trade", oracle=_PAGERANK_ORACLE)
def q_pagerank_trade(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-point PageRank (3 iterations, d=0.85) over the undirected
    customer<->supplier trade graph from orders x lineitem — the
    iterative-algorithm-as-joins pattern (operators/graph.py): each
    iteration is two equi-joins plus one exact-int64 aggregation; the
    oracle unrolls the identical integer arithmetic, so the attestation
    covers every iteration bit-for-bit, not just the fixed point."""
    from dns_log_transformer_spark.operators.caching import persist_tracked
    from dns_log_transformer_spark.operators.graph import pagerank_int

    orders = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem")
    # persist the join+distinct ONCE: the reverse-direction union scans
    # e0 twice, and pagerank scans the edge list iters+2 more times —
    # without the cache the expensive half of the lineage re-runs each
    # time (caller-owns-edge-caching, per the operator's contract)
    # nodes ride the 3 iterations as LONGS (customer 2k, supplier 2k+1
    # — disjoint by parity), decoded to the oracle's "c{k}"/"s{k}"
    # labels only in the final projection: every shuffle and join in
    # the iteration loop keys on an int64 instead of a string
    e0 = persist_tracked(
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # NOT eagerly materialized: a build-time count() would move the
    # dominant edge-build cost outside any caller's timed action (the
    # (spark, sf) -> DataFrame contract stays lazy; only structurally
    # required actions — zipWithIndex offsets, codebook collects — run
    # at build). Both directions are emitted by ONE explode scan of e0
    # rather than a two-branch union: a union's branches race e0's
    # cache on the first action and can compute partitions twice; a
    # single 1->2 Generate scans the cached edge build exactly once.
    edges = e0.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    pr = pagerank_int(edges, iters=_PR_ITERS)
    return pr.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("c"), F.expr("CAST(node div 2 AS LONG)").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("s"), F.expr("CAST(node div 2 AS LONG)").cast("string"))
        )
        .alias("node"),
        "pr_rank",
    )


# ---------------------------------------------------------------------------
# Robust statistics: IQR outlier fences per group
# ---------------------------------------------------------------------------
@register(
    "q_iqr_outliers",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    q AS (
      SELECT o_orderpriority,
             QUANTILE_CONT(cents, 0.25) AS q1,
             QUANTILE_CONT(cents, 0.75) AS q3
      FROM c GROUP BY o_orderpriority)
    SELECT o.o_orderpriority,
           ROUND(q.q1, 2) AS q1_cents,
           ROUND(q.q3, 2) AS q3_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN o.cents > q.q3 + 1.5 * (q.q3 - q.q1)
                           OR o.cents < q.q1 - 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM c o JOIN q ON q.o_orderpriority = o.o_orderpriority
    GROUP BY o.o_orderpriority, q.q1, q.q3
    """,
)
def q_iqr_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Tukey-fence outlier counts per priority class — the robust-stats
    screen (quartiles are insensitive to the outliers they detect,
    unlike mean/stddev z-scores). Quartiles run in the integer-CENTS
    domain (PLANS.md rule 5): quarter-fraction interpolants over
    integers are exact .0/.25/.5/.75 doubles, so the fences and the
    ROUND output are boundary-free on both engines (2-decimal dollar
    interpolants land on .xx5 rounding boundaries). Two passes: one
    array-percentile agg for the fences (5 rows, broadcast back), one
    conditional-sum agg for the counts; fence comparisons keep the
    oracle's exact expression shape (q3 + 1.5*(q3-q1), unrounded) so
    boundary rows classify identically."""
    orders = table(spark, sf, "orders").withColumn(
        "cents", F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    )
    q = orders.groupBy("o_orderpriority").agg(
        F.percentile("cents", F.lit([0.25, 0.75])).alias("_q")
    ).select(
        "o_orderpriority",
        F.col("_q")[0].alias("_q1"),
        F.col("_q")[1].alias("_q3"),
    )
    iqr = F.col("_q3") - F.col("_q1")
    hi = F.col("_q3") + 1.5 * iqr
    lo = F.col("_q1") - 1.5 * iqr
    joined = orders.join(F.broadcast(q), "o_orderpriority")
    return (
        joined.groupBy("o_orderpriority", "_q1", "_q3")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(
                (
                    (F.col("cents") > hi) | (F.col("cents") < lo)
                ).cast("long")
            ).cast("long").alias("n_outliers"),
        )
        .select(
            "o_orderpriority",
            F.round(F.col("_q1"), 2).alias("q1_cents"),
            F.round(F.col("_q3"), 2).alias("q3_cents"),
            "n_orders",
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# CDC latest-wins merge (Delta/Hudi MERGE INTO semantics, engine-neutral)
# ---------------------------------------------------------------------------
# Deterministic synthetic change feed derived from orders: the base
# snapshot is version 0; batch 1 re-prices every 3rd order (+5.00);
# batch 2 deletes every 11th order. Both sides derive the feed with the
# same arithmetic, so the merge itself is what the hash attests.
_CDC_FEED_SQL = """
  feed AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
           0 AS version, 'U' AS op
    FROM orders
    UNION ALL
    SELECT o_orderkey, o_orderstatus,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) + 500 AS cents,
           1 AS version, 'U' AS op
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT o_orderkey, o_orderstatus, CAST(0 AS BIGINT) AS cents,
           2 AS version, 'D' AS op
    FROM orders WHERE o_orderkey % 11 = 0)
"""


def _cdc_feed(o: DataFrame) -> DataFrame:
    """The deterministic synthetic change feed behind _CDC_FEED_SQL:
    base snapshot at version 0, every 3rd key repriced (+5.00) at
    version 1, every 11th key deleted at version 2. Shared by
    cdc_upsert_merge and cdc_time_travel."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = o.select(
        "o_orderkey",
        "o_orderstatus",
        cents.alias("cents"),
        F.lit(0).alias("version"),
        F.lit("U").alias("op"),
    )
    reprice = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (cents + 500).alias("cents"),
        F.lit(1).alias("version"),
        F.lit("U").alias("op"),
    )
    deletes = o.filter(F.col("o_orderkey") % 11 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.lit(0).cast("long").alias("cents"),
        F.lit(2).alias("version"),
        F.lit("D").alias("op"),
    )
    return base.unionAll(reprice).unionAll(deletes)


@register(
    "cdc_upsert_merge",
    oracle=f"""
    WITH {_CDC_FEED_SQL},
    merged AS (
      SELECT o_orderkey,
             arg_max(o_orderstatus, version) AS o_orderstatus,
             arg_max(cents, version) AS cents,
             arg_max(op, version) AS op,
             arg_max(version, version) AS version
      FROM feed GROUP BY o_orderkey)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(SUM(CASE WHEN version > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_from_delta
    FROM merged WHERE op <> 'D'
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def cdc_upsert_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Latest-wins CDC merge (MERGE INTO semantics): base snapshot +
    reprice batch + delete batch -> one row per surviving key, then a
    compact per-status attestation (counts + exact cent sums + how many
    rows the delta won).

    Shape at scale: the feed union is scan-parallel; the merge is ONE
    hash shuffle with max_by partial aggregation (operators/cdc.py) —
    no window, no join, tombstones dropped post-argmax so a late delete
    beats an early upsert.
    """
    merged = cdc.upsert_latest(
        _cdc_feed(table(spark, sf, "orders")), ["o_orderkey"]
    )
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.sum((F.col("version") > 0).cast("long")).alias("n_from_delta"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# SCD2 validity intervals from an observation stream
# ---------------------------------------------------------------------------
@register(
    "cdc_scd2_intervals",
    oracle="""
    WITH obs AS (
      SELECT user_id, event_type AS attr,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, event_id
      FROM events),
    runs AS (
      SELECT user_id, attr, ts_sec, event_id,
             LAG(attr) OVER w AS prev
      FROM obs WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)),
    changes AS (
      SELECT user_id, attr, ts_sec, event_id FROM runs
      WHERE prev IS NULL OR prev <> attr)
    SELECT user_id, attr,
           ts_sec AS valid_from_sec,
           LEAD(ts_sec) OVER w2 AS valid_to_sec,
           (LEAD(ts_sec) OVER w2 IS NULL) AS is_current
    FROM changes
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
    """,
)
def cdc_scd2_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """Type-2 SCD history: each user's event_type observations collapse
    into validity intervals (consecutive repeats merge; a change closes
    the open interval — valid_to exclusive, null = current).

    Windows partition per user (cardinality scales with data; no
    low-cardinality sort). Timestamps as epoch seconds, event_id
    tie-break: integer-exact and totally ordered on both engines.
    """
    ev = table(spark, sf, "events").select(
        "user_id",
        F.col("event_type").alias("attr"),
        "ts",
        "event_id",
    )
    out = cdc.scd2_intervals(
        ev,
        key_col="user_id",
        attr_col="attr",
        ts_col=F.col("ts").cast("long"),
        tiebreak_col="event_id",
    )
    return out.select(
        "user_id",
        "attr",
        F.col("valid_from").alias("valid_from_sec"),
        F.col("valid_to").alias("valid_to_sec"),
        "is_current",
    )


# ---------------------------------------------------------------------------
# CIDR-block enrichment: range lookup as an aligned-prefix equi-join
# ---------------------------------------------------------------------------
# Synthetic IPv4 per event (deterministic hash spread over 10.0.0.0/8)
# and a nation-derived dim of /13-aligned blocks. Alignment is the
# scale trick: a range join against ALIGNED blocks is an equi-join on
# ip >> 19 — no binary search, no O(n x blocks) nested loop, and the
# dim broadcasts.
_IP_SQL = "CAST(167772160 + ((user_id * 2654435761) % 16777216) AS BIGINT)"


@register(
    "q_cidr_enrich",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, user_id, {_IP_SQL} AS ip FROM events),
    blocks AS (
      SELECT n_name,
             CAST(167772160 + n_nationkey * 524288 AS BIGINT) AS ip_start,
             CAST(167772160 + (n_nationkey + 1) * 524288 - 1 AS BIGINT) AS ip_end
      FROM nation),
    tagged AS (
      SELECT ev.event_id, ev.user_id, ev.ip, b.n_name
      FROM ev LEFT JOIN blocks b
        ON ev.ip >= b.ip_start AND ev.ip <= b.ip_end)
    SELECT COALESCE(n_name, 'UNROUTED') AS block_name,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(MIN(ip) AS BIGINT) AS min_ip,
           CAST(MAX(ip) AS BIGINT) AS max_ip
    FROM tagged GROUP BY COALESCE(n_name, 'UNROUTED')
    """,
)
def q_cidr_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """Route each event's (synthetic) client IP to its CIDR block — the
    DNS-domain enrichment join (resolver logs -> network owner).

    The oracle states it as the general range join (BETWEEN start/end);
    the Spark plan exploits /13 ALIGNMENT: both sides compute
    ``prefix = ip >> 19`` and the lookup becomes a broadcast EQUI-join —
    the plan a 100 TB log scan needs (pure hash probe riding the scan;
    a BETWEEN theta-join would be a broadcast nested loop over every
    row). Unmatched prefixes fall out of the left join as 'UNROUTED'.
    """
    ev = table(spark, sf, "events").select(
        "event_id",
        "user_id",
        (
            F.lit(167772160).cast("long")
            + (F.col("user_id") * F.lit(2654435761)) % F.lit(16777216)
        ).alias("ip"),
    )
    # /13 blocks (2^19 addresses) are aligned: prefix = ip_start >> 19
    # = 167772160/524288 + n_nationkey = 320 + n_nationkey (exact ints)
    blocks = table(spark, sf, "nation").select(
        "n_name",
        (F.lit(320) + F.col("n_nationkey")).cast("long").alias("prefix"),
    )
    tagged = ev.withColumn(
        "prefix", F.expr("CAST(ip div 524288 AS LONG)")
    ).join(F.broadcast(blocks), "prefix", "left")
    return (
        tagged.groupBy(
            F.coalesce("n_name", F.lit("UNROUTED")).alias("block_name")
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.min("ip").cast("long").alias("min_ip"),
            F.max("ip").cast("long").alias("max_ip"),
        )
    )


# ---------------------------------------------------------------------------
# EWMA anomaly screen: integer-exact trailing-weighted baseline
# ---------------------------------------------------------------------------
_EWMA_LAGS = 8  # weights 2^7 .. 2^0 over the previous 8 events


def _ewma_sql() -> str:
    terms = " + ".join(
        f"COALESCE(LAG(cents, {j}) OVER w * {1 << (_EWMA_LAGS - j)}, 0)"
        for j in range(1, _EWMA_LAGS + 1)
    )
    wsum = " + ".join(
        f"(CASE WHEN LAG(cents, {j}) OVER w IS NOT NULL"
        f" THEN {1 << (_EWMA_LAGS - j)} ELSE 0 END)"
        for j in range(1, _EWMA_LAGS + 1)
    )
    return f"""
    WITH ev AS (
      SELECT event_id, user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
      FROM events),
    scored AS (
      SELECT event_id, user_id, cents,
             CAST({terms} AS BIGINT) AS ewma_scaled,
             CAST({wsum} AS BIGINT) AS wsum
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id))
    SELECT event_id, user_id, cents, ewma_scaled, wsum
    FROM scored
    WHERE wsum > 0 AND cents * wsum > 3 * ewma_scaled
    """


@register("q_ewma_anomaly", oracle=_ewma_sql())
def q_ewma_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user spend-spike screen: flag an event whose value exceeds 3x
    its exponentially-weighted trailing baseline (halving weights over
    the previous 8 events).

    All integer arithmetic — cents x power-of-two weights — so the
    threshold compare is exact on both engines (a float EWMA recurrence
    would accumulate fold-order drift). The window is 8 LAG columns
    (pure JVM codegen, one per-user sort); partition cardinality =
    users, which scales with the data.
    """
    ev = table(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.col("ts").cast("long").alias("ts_sec"),
    )
    w = W.partitionBy("user_id").orderBy(F.asc("ts_sec"), F.asc("event_id"))
    ewma = sum(
        F.coalesce(
            F.lag("cents", j).over(w) * F.lit(1 << (_EWMA_LAGS - j)),
            F.lit(0).cast("long"),
        )
        for j in range(1, _EWMA_LAGS + 1)
    )
    wsum = sum(
        F.when(
            F.lag("cents", j).over(w).isNotNull(), F.lit(1 << (_EWMA_LAGS - j))
        ).otherwise(F.lit(0))
        for j in range(1, _EWMA_LAGS + 1)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            "cents",
            ewma.cast("long").alias("ewma_scaled"),
            wsum.cast("long").alias("wsum"),
        )
        .filter(
            (F.col("wsum") > 0)
            & (F.col("cents") * F.col("wsum") > 3 * F.col("ewma_scaled"))
        )
    )


# ---------------------------------------------------------------------------
# Triangle counting on the co-supplier graph
# ---------------------------------------------------------------------------
@register(
    "q_triangle_suppliers",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_suppkey FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'),
    e AS (
      SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
      FROM li l1 JOIN li l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey),
    nodes AS (
      SELECT COUNT(DISTINCT x) AS n_nodes FROM (
        SELECT a AS x FROM e UNION SELECT b FROM e)),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
                JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles
    FROM nodes, tri
    """,
)
def q_triangle_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """Count triangles in the supplier co-occurrence graph (edge =
    two suppliers sharing an order) — the community-density primitive.

    The oracle states the textbook id-ordered 3-way join; the Spark
    plan uses the degree-ordered orientation (operators/graph.py:
    triangle_count), which bounds wedge fan-out at m^1.5 regardless of
    skew — the difference between finishing and not when one hub
    supplier touches every order. Edge build is persisted: it feeds the
    degree agg, the orientation join, and the closing-edge probe.

    The graph is the ONE-YEAR co-occurrence subgraph: the fixture's
    random supplier assignment makes the all-time graph near-complete
    (453k of 500k possible edges at sf0.1 — sum(deg^2) ~ 8e8 wedges,
    a dense-workload artifact, not a plan property), while windowed
    co-occurrence is the form community analyses actually query. The
    shipdate predicate pushes to the parquet scan.
    """
    li = (
        table(spark, sf, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey"), F.col("l_suppkey").alias("r_suppkey")
    )
    edges = persist_tracked(
        li.join(l2, "l_orderkey")
        .filter(F.col("l_suppkey") < F.col("r_suppkey"))
        .select(
            F.col("l_suppkey").alias("a"), F.col("r_suppkey").alias("b")
        )
        .distinct()
    )
    return graph.triangle_count(edges)


# ---------------------------------------------------------------------------
# Skew salting, oracle-attested (operators/skew.py)
# ---------------------------------------------------------------------------
@register(
    "q_salted_skew_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS total
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_salted_skew_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Two-phase salted aggregation on the WORST skew case — a 3-value
    grouping key, where a plain hash agg funnels the entire table
    through 3 reducers. Salting spreads each hot key over 16 subkeys;
    the second shuffle carries 16 rows per key. Values are exact
    integer cents, so the salted two-phase sum is bit-equal to the
    oracle's single GROUP BY regardless of combine order (the random
    salt can shift only fp folds, never integer sums)."""
    from dns_log_transformer_spark.operators import skew

    li = table(spark, sf, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return skew.salted_sum(li, ["l_returnflag"], "cents", n_salts=16)


@register(
    "q_salted_join_enrich",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT l_returnflag,
             CAST(ord(l_returnflag) AS BIGINT) AS factor
      FROM lineitem)
    SELECT l.l_returnflag,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                    * d.factor) AS BIGINT) AS weighted_cents
    FROM lineitem l JOIN dim d USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
)
def q_salted_join_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """Salted replicate-join against a hot 3-key build side — the
    explicit fallback when the dimension cannot broadcast and AQE's
    skew split does not apply (aggregation-free enrichment scans).
    The small side is replicated once per salt, the fact side salts
    its key, and the hot key's rows spread over 16 partitions; result
    is bit-equal to the oracle's plain join (exact-integer weights)."""
    from dns_log_transformer_spark.operators import skew

    li = table(spark, sf, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    dim = li.select("l_returnflag").distinct().select(
        "l_returnflag",
        F.ascii("l_returnflag").cast("long").alias("factor"),
    )
    joined = skew.salt_join(li, dim, "l_returnflag", n_salts=16)
    return joined.groupBy("l_returnflag").agg(
        F.sum(F.col("cents") * F.col("factor")).cast("long").alias("weighted_cents")
    )


# ---------------------------------------------------------------------------
# Event-transition matrix (first-order Markov counts per event bigram)
# ---------------------------------------------------------------------------
@register(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
             ) AS next_type
      FROM events)
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def q_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order transition counts over per-user event sequences (the
    Markov-matrix / next-event-prediction feature): one per-user window
    pairs each event with its successor, then a |types|^2-bounded count
    aggregation. One shuffle on user_id, one on the (tiny) type pair;
    event_id breaks timestamp ties so both engines sequence
    identically."""
    ev = table(spark, sf, "events").select(
        "user_id",
        "event_type",
        F.col("ts").cast("long").alias("ts_sec"),
        "event_id",
    )
    w = W.partitionBy("user_id").orderBy(F.asc("ts_sec"), F.asc("event_id"))
    return (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )


# ---------------------------------------------------------------------------
# Remaining rank-function family: dense_rank / percent_rank / cume_dist
# ---------------------------------------------------------------------------
@register(
    "q_rank_functions",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    ranked AS (
      SELECT o_orderkey, o_orderpriority, cents,
             CAST(RANK() OVER w AS BIGINT) AS rnk,
             CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
             ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
             ROUND(CUME_DIST() OVER w, 6) AS cume,
             CAST(NTILE(10) OVER w AS INT) AS decile
      FROM o WINDOW w AS (PARTITION BY o_orderpriority
                          ORDER BY cents, o_orderkey))
    SELECT o_orderkey, o_orderpriority, cents, rnk, drnk, pct_rank, cume,
           decile
    FROM ranked WHERE o_orderkey % 17 = 0
    """,
)
def q_rank_functions(spark: SparkSession, sf: str) -> DataFrame:
    """The full window rank family in ONE window pass: rank,
    dense_rank, percent_rank, cume_dist, and NTILE(10) equi-frequency
    deciles (r10: q_ntile_buckets consolidated in, VERDICT r9 #1 —
    NTILE rides the SAME per-priority sort as the other four, so the
    plan must still carry a single Window node). Ordering key
    (cents, orderkey) is total, so ranks and bucket boundaries are
    deterministic; the two ratio functions divide exact integers and
    are rounded identically on both engines. Output sampled to every
    17th order AFTER ranking (the filter must not perturb the frame).

    The partition key (orderpriority) has bounded cardinality with
    members that scale — the same caveat the old q_ntile_buckets
    carried; the production-scale NTILE shape (range-partitioned
    grouped_rank + ntile_from_rank, no WindowExec) is attested by
    text_quality's decile column and plan-pinned in
    test_skew_and_plans.
    """
    o = table(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    w = W.partitionBy("o_orderpriority").orderBy(
        F.asc("cents"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            "cents",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.ntile(10).over(w).cast("int").alias("decile"),
        )
        .filter(F.col("o_orderkey") % 17 == 0)
    )


# ---------------------------------------------------------------------------
# Per-group OLS regression / correlation (exact integer-cent sums)
# ---------------------------------------------------------------------------
@register(
    "q_regr_trends",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag AS returnflag,
             CAST(year(l_shipdate) AS INT) AS ship_year,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem),
    sums AS (
      SELECT returnflag, ship_year,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) AS DOUBLE) AS n_d,
             CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(18,0))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(18,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(18,0))) AS DOUBLE) AS syy
      FROM pts GROUP BY 1, 2),
    d2 AS (
      SELECT returnflag, ship_year, n, n_d, sx, sy,
             n_d * sxy - sx * sy AS cov_n,
             n_d * sxx - sx * sx AS varx_n,
             n_d * syy - sy * sy AS vary_n
      FROM sums)
    SELECT returnflag, ship_year, n,
           ROUND(cov_n / varx_n, 4) AS slope,
           ROUND((sy - cov_n / varx_n * sx) / n_d / 100.0, 4) AS intercept,
           ROUND(cov_n / (sqrt(varx_n) * sqrt(vary_n)), 4) AS corr_xy
    FROM d2
    """,
)
def q_regr_trends(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(returnflag, ship year) OLS regression of extended price on
    quantity, plus Pearson correlation — the statistical-aggregate
    family (regr_slope / regr_intercept / corr) in an engine-exact
    formulation: both engines aggregate EXACT integer cents into
    DECIMAL(18,0) per-row products (no fp fold-order dependence, no
    int64 overflow at any corpus size — the decimal sum holds 38
    digits), cast the exact sums to double ONCE, and evaluate the
    identical closed-form expressions (slope = cov_n/varx_n etc.),
    ROUND(_, 4). Spark's builtin regr_slope would fold doubles in
    partition order — nondeterministic across engines AND runs; this
    formulation is the scale-safe exact twin: one map-side-combined
    hash aggregation, group count bounded by flags x years, zero
    driver state.
    """
    li = table(spark, sf, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("returnflag"),
        F.year("l_shipdate").cast("int").alias("ship_year"),
        F.round(F.col("l_quantity") * 100, 0).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("y"),
    )
    sums = pts.groupBy("returnflag", "ship_year").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("double").alias("n_d"),
        F.sum(F.col("x").cast("decimal(18,0)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(18,0)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(18,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(18,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(18,0)"))
        .cast("double")
        .alias("syy"),
    )
    d2 = sums.select(
        "returnflag",
        "ship_year",
        "n",
        "n_d",
        "sx",
        "sy",
        (F.col("n_d") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
            "cov_n"
        ),
        (F.col("n_d") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "varx_n"
        ),
        (F.col("n_d") * F.col("syy") - F.col("sy") * F.col("sy")).alias(
            "vary_n"
        ),
    )
    return d2.select(
        "returnflag",
        "ship_year",
        "n",
        F.round(F.col("cov_n") / F.col("varx_n"), 4).alias("slope"),
        F.round(
            (F.col("sy") - F.col("cov_n") / F.col("varx_n") * F.col("sx"))
            / F.col("n_d")
            / 100.0,
            4,
        ).alias("intercept"),
        F.round(
            F.col("cov_n")
            / (F.sqrt(F.col("varx_n")) * F.sqrt(F.col("vary_n"))),
            4,
        ).alias("corr_xy"),
    )


# ---------------------------------------------------------------------------
# Key-skew profiler (heavy hitters + skew ratios — the salting advisor)
# ---------------------------------------------------------------------------
@register(
    "q_key_skew_report",
    oracle="""
    WITH c AS (
      SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1),
    s AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
                 CAST(COUNT(*) AS BIGINT) AS n_keys FROM c),
    top5 AS (
      SELECT key, cnt FROM c ORDER BY cnt DESC, key ASC LIMIT 5)
    SELECT t.key, t.cnt, s.n_rows, s.n_keys,
           ROUND(t.cnt * 100.0 / s.n_rows, 4) AS share_pct,
           ROUND(t.cnt * CAST(s.n_keys AS DOUBLE) / s.n_rows, 4)
             AS skew_ratio
    FROM top5 t, s
    """,
)
def q_key_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle-key skew profiler: per-key counts on lineitem.l_suppkey,
    top-5 heavy hitters with their share of rows and skew ratio
    (count / mean count) — the diagnostic that decides when the salted
    paths (operators/skew.py) are worth their extra shuffle. Shape: one
    map-side-combined count agg; top-5 via TakeOrderedAndProject; the
    1-row stats side broadcasts (documented scalar BNLJ, the
    q22_idle_balances category)."""
    li = table(spark, sf, "lineitem")
    counts = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    from dns_log_transformer_spark.operators.caching import persist_tracked

    counts = persist_tracked(counts)  # stats agg + top-5 both read it
    stats = counts.agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    top5 = counts.orderBy(F.desc("cnt"), F.asc("key")).limit(5)
    return top5.crossJoin(F.broadcast(stats)).select(
        "key",
        "cnt",
        "n_rows",
        "n_keys",
        F.round(F.col("cnt") * 100.0 / F.col("n_rows"), 4).alias("share_pct"),
        F.round(
            F.col("cnt") * F.col("n_keys").cast("double") / F.col("n_rows"), 4
        ).alias("skew_ratio"),
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit (orphan detection across a broken snapshot)
# ---------------------------------------------------------------------------
@register(
    "q_ri_audit",
    oracle="""
    WITH oe AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0),
    se AS (SELECT s_suppkey FROM supplier WHERE s_suppkey % 10 <> 0),
    c1 AS (
      SELECT 'lineitem_orphan_order' AS check_name,
             CAST(COUNT(*) FILTER (oe.o_orderkey IS NULL) AS BIGINT)
               AS n_orphans,
             CAST(COUNT(*) AS BIGINT) AS n_total
      FROM lineitem l LEFT JOIN oe ON l.l_orderkey = oe.o_orderkey),
    c2 AS (
      SELECT 'lineitem_orphan_supplier' AS check_name,
             CAST(COUNT(*) FILTER (se.s_suppkey IS NULL) AS BIGINT),
             CAST(COUNT(*) AS BIGINT)
      FROM lineitem l LEFT JOIN se ON l.l_suppkey = se.s_suppkey),
    c3 AS (
      SELECT 'orders_orphan_customer' AS check_name,
             CAST(COUNT(*) FILTER (c.c_custkey IS NULL) AS BIGINT),
             CAST(COUNT(*) AS BIGINT)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
    c4 AS (
      SELECT 'lineitem_orphan_part' AS check_name,
             CAST(COUNT(*) FILTER (p.p_partkey IS NULL) AS BIGINT),
             CAST(COUNT(*) AS BIGINT)
      FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey),
    u AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2
          UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4)
    SELECT check_name, n_orphans, n_total,
           ROUND(n_orphans * 100.0 / n_total, 4) AS orphan_pct
    FROM u
    """,
)
def q_ri_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Referential-integrity audit over a deliberately broken snapshot
    (orders halved on even keys, supplier missing every 10th) plus two
    intact FKs as controls: per-FK orphan counts via left join +
    conditional count — the data-quality gate a warehouse runs after
    every partial reload. Shape: each check is one join (dims broadcast
    when small, shuffle-hash otherwise) into a one-row global aggregate;
    the 4 one-row results union. Orphan side never shuffles twice."""
    li = table(spark, sf, "lineitem")
    orders = table(spark, sf, "orders")
    cust = table(spark, sf, "customer")
    part = table(spark, sf, "part")
    supp = table(spark, sf, "supplier")

    def check(name, fact, fk, dim, pk):
        dk = dim.select(F.col(pk))
        return (
            fact.select(F.col(fk))
            .join(dk, fact[fk] == dk[pk], "left")
            .agg(
                F.lit(name).alias("check_name"),
                F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphans"),
                F.count(F.lit(1)).cast("bigint").alias("n_total"),
            )
        )

    oe = orders.filter(F.col("o_orderkey") % 2 == 0)
    se = supp.filter(F.col("s_suppkey") % 10 != 0)
    u = (
        check("lineitem_orphan_order", li, "l_orderkey", oe, "o_orderkey")
        .unionAll(
            check("lineitem_orphan_supplier", li, "l_suppkey", se, "s_suppkey")
        )
        .unionAll(
            check("orders_orphan_customer", orders, "o_custkey", cust, "c_custkey")
        )
        .unionAll(check("lineitem_orphan_part", li, "l_partkey", part, "p_partkey"))
    )
    return u.select(
        "check_name",
        "n_orphans",
        "n_total",
        F.round(F.col("n_orphans") * 100.0 / F.col("n_total"), 4).alias(
            "orphan_pct"
        ),
    )


# ---------------------------------------------------------------------------
# Distribution-drift report (categorical share + mean shift across snapshots)
# ---------------------------------------------------------------------------
@register(
    "q_snapshot_drift",
    oracle="""
    WITH tagged AS (
      SELECT event_type,
             event_id % 3 <> 0 AS in_a,
             event_id % 5 <> 0 AS in_b,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CASE WHEN user_id % 2 = 0
                  THEN CAST(ROUND(value * 100) AS BIGINT) + 10
                  ELSE CAST(ROUND(value * 100) AS BIGINT) END AS cents_b
      FROM events),
    per AS (
      SELECT event_type,
             CAST(COUNT(*) FILTER (in_a) AS BIGINT) AS n_a,
             CAST(COUNT(*) FILTER (in_b) AS BIGINT) AS n_b,
             SUM(CASE WHEN in_a THEN CAST(cents AS DECIMAL(38,0))
                      ELSE 0 END) AS s_a,
             SUM(CASE WHEN in_b THEN CAST(cents_b AS DECIMAL(38,0))
                      ELSE 0 END) AS s_b
      FROM tagged GROUP BY event_type),
    tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS t_a,
                   CAST(SUM(n_b) AS BIGINT) AS t_b FROM per)
    SELECT p.event_type, p.n_a, p.n_b,
           ROUND(p.n_a * 100.0 / t.t_a, 4) AS share_a_pct,
           ROUND(p.n_b * 100.0 / t.t_b, 4) AS share_b_pct,
           ROUND(p.n_b * 100.0 / t.t_b - p.n_a * 100.0 / t.t_a, 4)
             AS share_drift_pp,
           ROUND(CAST(p.s_a AS DOUBLE) / p.n_a / 100.0, 4) AS mean_a,
           ROUND(CAST(p.s_b AS DOUBLE) / p.n_b / 100.0, 4) AS mean_b
    FROM per p, tot t
    """,
)
def q_snapshot_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution-drift report between two event snapshots (the
    monitoring gate that catches a broken upstream feed BEFORE it
    poisons training data): per-category row share and mean value for
    snapshot A (every event_id % 3 != 0) vs snapshot B (% 5 != 0,
    values shifted +0.10 for even users — the planted drift), with the
    share drift in percentage points. Both snapshots come out of ONE
    scan via conditional aggregation (no second read, no join between
    snapshots); means are exact integer-cent DECIMAL sums divided once
    at the end; the 1-row totals side broadcasts (documented scalar
    BNLJ, the q22 category). Category cardinality bounds every
    post-scan structure."""
    ev = table(spark, sf, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    tagged = ev.select(
        "event_type",
        (F.col("event_id") % 3 != 0).alias("in_a"),
        (F.col("event_id") % 5 != 0).alias("in_b"),
        cents.alias("cents"),
        F.when(F.col("user_id") % 2 == 0, cents + 10)
        .otherwise(cents)
        .alias("cents_b"),
    )
    per = tagged.groupBy("event_type").agg(
        F.sum(F.col("in_a").cast("long")).cast("bigint").alias("n_a"),
        F.sum(F.col("in_b").cast("long")).cast("bigint").alias("n_b"),
        F.sum(
            F.when(F.col("in_a"), F.col("cents"))
            .otherwise(0)
            .cast("decimal(38,0)")
        ).alias("s_a"),
        F.sum(
            F.when(F.col("in_b"), F.col("cents_b"))
            .otherwise(0)
            .cast("decimal(38,0)")
        ).alias("s_b"),
    )
    tot = per.agg(
        F.sum("n_a").cast("bigint").alias("t_a"),
        F.sum("n_b").cast("bigint").alias("t_b"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_a",
        "n_b",
        F.round(F.col("n_a") * 100.0 / F.col("t_a"), 4).alias("share_a_pct"),
        F.round(F.col("n_b") * 100.0 / F.col("t_b"), 4).alias("share_b_pct"),
        F.round(
            F.col("n_b") * 100.0 / F.col("t_b")
            - F.col("n_a") * 100.0 / F.col("t_a"),
            4,
        ).alias("share_drift_pp"),
        F.round(F.col("s_a").cast("double") / F.col("n_a") / 100.0, 4).alias(
            "mean_a"
        ),
        F.round(F.col("s_b").cast("double") / F.col("n_b") / 100.0, 4).alias(
            "mean_b"
        ),
    )


# ---------------------------------------------------------------------------
# Join-size estimator (per-key count products — the shuffle-planning twin
# of q_key_skew_report)
# ---------------------------------------------------------------------------
@register(
    "q_join_size_estimate",
    oracle="""
    WITH ca AS (SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt_l
                FROM lineitem GROUP BY 1),
    cb AS (SELECT o_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt_o
           FROM orders GROUP BY 1),
    prod AS (
      SELECT ca.key, ca.cnt_l, cb.cnt_o,
             CAST(ca.cnt_l * cb.cnt_o AS BIGINT) AS out_rows
      FROM ca JOIN cb USING (key)),
    tot AS (SELECT CAST(SUM(out_rows) AS BIGINT) AS est_total FROM prod)
    SELECT p.key, p.cnt_l, p.cnt_o, p.out_rows, t.est_total,
           ROUND(p.out_rows * 100.0 / t.est_total, 4) AS share_pct
    FROM prod p, tot t
    ORDER BY p.out_rows DESC, p.key ASC LIMIT 10
    """,
)
def q_join_size_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Join-output-size estimation WITHOUT running the join (the
    planning primitive behind broadcast/salt decisions): per-key count
    products of lineitem x orders on orderkey — exact |A join B| =
    sum_key cnt_a * cnt_b — with the top-10 contributing keys and each
    key's share of the estimated output. Shape: two map-side-combined
    count aggs (each a tiny fraction of the join's own shuffle, since
    only (key, count) rows move), one equi-join on the distinct-key
    tables, TakeOrderedAndProject top-10; the 1-row total broadcasts
    (documented scalar BNLJ). Together with q_key_skew_report this is
    the pre-flight a 100 TB join gets before committing to a shuffle
    strategy."""
    li = table(spark, sf, "lineitem")
    orders = table(spark, sf, "orders")
    ca = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt_l")
    )
    cb = orders.groupBy(F.col("o_orderkey").alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt_o")
    )
    prod = ca.join(cb, "key").select(
        "key",
        "cnt_l",
        "cnt_o",
        (F.col("cnt_l") * F.col("cnt_o")).cast("bigint").alias("out_rows"),
    )
    from dns_log_transformer_spark.operators.caching import persist_tracked

    prod = persist_tracked(prod)  # total agg + top-10 both read it
    tot = prod.agg(F.sum("out_rows").cast("bigint").alias("est_total"))
    return (
        prod.crossJoin(F.broadcast(tot))
        .orderBy(F.desc("out_rows"), F.asc("key"))
        .limit(10)
        .select(
            "key",
            "cnt_l",
            "cnt_o",
            "out_rows",
            "est_total",
            F.round(
                F.col("out_rows") * 100.0 / F.col("est_total"), 4
            ).alias("share_pct"),
        )
    )


# ---------------------------------------------------------------------------
# CDC time travel (AS-OF reconstruction at every version cut)
# ---------------------------------------------------------------------------
def _time_travel_oracle() -> str:
    return f"""
    WITH {_CDC_FEED_SQL},
    fanned AS (
      SELECT f.*, CAST(v.as_of AS INT) AS as_of
      FROM feed f, unnest(range(f.version, 3)) AS v(as_of)),
    merged AS (
      SELECT as_of, o_orderkey,
             arg_max(o_orderstatus, version) AS o_orderstatus,
             arg_max(cents, version) AS cents,
             arg_max(op, version) AS op
      FROM fanned GROUP BY as_of, o_orderkey)
    SELECT as_of, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM merged WHERE op <> 'D'
    GROUP BY as_of, o_orderstatus
    """


@register("cdc_time_travel", oracle=_time_travel_oracle())
def cdc_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Time-travel reads over the CDC feed (the AS OF query a
    transactional table format answers from its version log): the table
    state reconstructed at EVERY version cut (0 = base snapshot,
    1 = after the reprice batch, 2 = after deletes) in ONE pass — each
    change row fans out to the versions it is visible at via
    ``explode(sequence(version, max))`` (codegen, fan-out bounded by
    the version count), then the attested latest-wins merge
    (operators/cdc.py) keyed on (as_of, key). Per-(as_of, status)
    counts + exact cent sums attest each reconstruction. One hash
    shuffle total; no per-version rescans."""
    from dns_log_transformer_spark.operators import cdc

    feed = _cdc_feed(table(spark, sf, "orders"))
    fanned = feed.withColumn(
        "as_of", F.explode(F.sequence(F.col("version"), F.lit(2)))
    ).withColumn("as_of", F.col("as_of").cast("int"))
    merged = cdc.upsert_latest(fanned, ["as_of", "o_orderkey"])
    return (
        merged.groupBy("as_of", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Session path mining (3-step event-type sequences)
# ---------------------------------------------------------------------------
@register(
    "q_event_paths",
    oracle="""
    WITH w AS (
      SELECT event_type AS e1,
             LEAD(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS e2,
             LEAD(event_type, 2) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS e3
      FROM events)
    SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM w WHERE e3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n_paths DESC, e1, e2, e3 LIMIT 15
    """,
)
def q_event_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Top-15 three-step user paths (the sequence-mining extension of
    q_event_transitions' bigrams): per-user LEAD window over (ts,
    event_id) — a total order, so ties are deterministic — then a
    map-side-combined path count and TakeOrderedAndProject. The window
    partitions by user_id (cardinality scales with the corpus; no
    global sort)."""
    from pyspark.sql import Window

    ev = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        paths.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "e1", "e2", "e3")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence (top-k co-purchased part pairs)
# ---------------------------------------------------------------------------

# The order-key self-join's fan-out is basket-size squared: one
# pathological mega-basket (a wholesale order with 10^5 items) goes
# quadratic while every normal basket stays tiny. Guard: keep only the
# ``BASKET_CAP`` smallest distinct partkeys per order ahead of the
# self-join — deterministic, mirrored in the DuckDB oracles below, and
# far above fixture occupancy (TPC-H baskets are <= 7 items) so the
# attested hashes are unchanged. Same guard class as the LSH/pHash
# hot-bucket caps (multimodal.py phash_pairs), except truncation (not
# exclusion) is right here: a capped basket still contributes its
# strongest pairs, while an excluded one would vanish from support
# counts entirely.
BASKET_CAP = 32

_CAPPED_ITEMS_CTE = f"""
    items0 AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    items AS (
      SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_partkey) AS rn
        FROM items0)
      WHERE rn <= {BASKET_CAP})"""


def _capped_items(li: DataFrame) -> DataFrame:
    """Distinct (order, part) items, truncated to the BASKET_CAP
    smallest partkeys per order. The row_number window shuffles on
    l_orderkey — the same partitioning the downstream self-join needs,
    so the cap rides the shuffle the join pays anyway."""
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey").orderBy("l_partkey")
    return (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BASKET_CAP)
        .drop("rn")
    )


@register(
    "q_copurchase_pairs",
    oracle=f"""
    WITH {_CAPPED_ITEMS_CTE},
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
    SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS support
    FROM pairs GROUP BY 1, 2
    ORDER BY support DESC, part_a, part_b LIMIT 15
    """,
)
def q_copurchase_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Association mining's pairwise core: top-15 part pairs co-occurring
    in the same order with their support counts (the candidate-pair
    stage of Apriori/FP-growth). Shape: distinct (order, part) items
    truncated to BASKET_CAP per order (see _capped_items — the
    mega-basket quadratic guard), self-join on the ORDER key — fan-out
    is now bounded by cap choose 2 per order — then a
    map-side-combined pair count and TakeOrderedAndProject. The items
    table is persisted once for both join sides."""
    from dns_log_transformer_spark.operators.caching import persist_tracked

    li = table(spark, sf, "lineitem")
    items = persist_tracked(_capped_items(li))
    a = items.select(
        "l_orderkey", F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        "l_orderkey", F.col("l_partkey").alias("part_b")
    )
    pairs = a.join(b, "l_orderkey").filter(F.col("part_a") < F.col("part_b"))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Recency-decayed popularity (exponential kernel, integer-quantized)
# ---------------------------------------------------------------------------
@register(
    "q_decayed_popularity",
    oracle="""
    WITH mx AS (SELECT CAST(MAX(ts) AS DATE) AS ref_d FROM events),
    w AS (
      SELECT event_type,
             CAST(ROUND(exp(-date_diff('day', CAST(ts AS DATE), mx.ref_d)
                            / 30.0) * 1000000) AS BIGINT) AS wgt
      FROM events, mx)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(wgt) AS BIGINT) AS decayed_score
    FROM w GROUP BY event_type
    """,
)
def q_decayed_popularity(spark: SparkSession, sf: str) -> DataFrame:
    """Recency-weighted popularity per event type: each event carries
    exp(-age_days / 30) — 30-day e-folding — quantized to an integer
    micro-weight BEFORE summing, so the aggregate is an exact
    order-independent integer sum (the repo's standard defense against
    fp fold-order divergence; the one per-row double, exp of an exact
    integer-day age, evaluates identically in both engines' libm). The
    reference date is the corpus max timestamp (1-row scalar broadcast,
    the documented BNLJ category). The trending-score shape every
    event-log product computes."""
    ev = table(spark, sf, "events")
    mx = ev.agg(F.max("ts").cast("date").alias("ref_d"))
    w = ev.crossJoin(F.broadcast(mx)).select(
        "event_type",
        F.round(
            F.exp(-F.datediff(F.col("ref_d"), F.col("ts").cast("date")) / 30.0)
            * 1_000_000,
            0,
        )
        .cast("bigint")
        .alias("wgt"),
    )
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("wgt").cast("bigint").alias("decayed_score"),
    )


# ---------------------------------------------------------------------------
# Cohort retention (first-activity-week cohorts x weekly activity offsets)
# ---------------------------------------------------------------------------
@register(
    "q_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             CAST(MIN(date_trunc('week', ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id),
    sizes AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
              FROM firsts GROUP BY cohort_week),
    cells AS (
      SELECT f.cohort_week,
             CAST(date_diff('day', f.cohort_week,
                    CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS INT)
               AS week_offset,
             CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
      FROM events e JOIN firsts f USING (user_id)
      GROUP BY 1, 2)
    SELECT c.cohort_week, c.week_offset, c.active_users, s.cohort_size,
           ROUND(c.active_users * 100.0 / s.cohort_size, 4)
             AS retention_pct
    FROM cells c JOIN sizes s USING (cohort_week)
    """,
)
def q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention matrix (the product-analytics classic): users
    cohorted by first-activity ISO week, each cohort's distinct active
    users counted at every subsequent week offset, as a share of cohort
    size. Shape: one min-agg per user (map-side combined), the firsts
    table persisted for its two consumers (cohort sizes + the activity
    join), a user-keyed equi-join back onto events, one distinct-count
    agg per (cohort, offset) cell, and a cohort-keyed dim join for the
    ratio. Week truncation is ISO-Monday in both engines."""
    from dns_log_transformer_spark.operators.caching import persist_tracked

    ev = table(spark, sf, "events")
    firsts = persist_tracked(
        ev.groupBy("user_id").agg(
            F.min(F.date_trunc("week", F.col("ts")))
            .cast("date")
            .alias("cohort_week")
        )
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    cells = (
        ev.join(firsts, "user_id")
        .select(
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort_week"),
                )
                / 7
            )
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_users"))
    )
    return cells.join(sizes, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "active_users",
        "cohort_size",
        F.round(
            F.col("active_users") * 100.0 / F.col("cohort_size"), 4
        ).alias("retention_pct"),
    )


# ---------------------------------------------------------------------------
# Leave-one-fold-out target encoding (leakage-safe categorical features)
# ---------------------------------------------------------------------------
@register(
    "q_target_encode_lofo",
    oracle="""
    WITH pts AS (
      SELECT o_orderpriority AS cat,
             CAST(o_orderkey % 5 AS INT) AS fold,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    per AS (
      SELECT cat, fold,
             CAST(COUNT(*) AS BIGINT) AS n_fold,
             SUM(CAST(cents AS DECIMAL(38,0))) AS s_fold
      FROM pts GROUP BY 1, 2),
    tot AS (
      SELECT cat, CAST(SUM(n_fold) AS BIGINT) AS n_tot,
             SUM(s_fold) AS s_tot
      FROM per GROUP BY cat)
    SELECT p.cat, p.fold, p.n_fold,
           ROUND(CAST(t.s_tot - p.s_fold AS DOUBLE)
                 / (t.n_tot - p.n_fold) / 100.0, 4) AS target_enc
    FROM per p JOIN tot t USING (cat)
    """,
)
def q_target_encode_lofo(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe target encoding (the feature-engineering staple): a
    category's encoded value for fold k is the target mean over every
    OTHER fold — (total sum - fold sum) / (total n - fold n) — so a
    row never sees its own fold's targets. Folds are deterministic
    (key % 5). Exact integer-cent DECIMAL sums; one double division at
    the end, ROUND 4. Shape: one (cat, fold) map-side-combined agg, a
    category-keyed rollup of those tiny partials, and a category-keyed
    join — everything after the first agg is bounded by |cats| x
    folds."""
    o = table(spark, sf, "orders")
    pts = o.select(
        F.col("o_orderpriority").alias("cat"),
        (F.col("o_orderkey") % 5).cast("int").alias("fold"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    per = pts.groupBy("cat", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fold"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s_fold"),
    )
    from dns_log_transformer_spark.operators.caching import persist_tracked

    per = persist_tracked(per)  # feeds the rollup and the final join
    tot = per.groupBy("cat").agg(
        F.sum("n_fold").cast("bigint").alias("n_tot"),
        F.sum("s_fold").alias("s_tot"),
    )
    return per.join(tot, "cat").select(
        "cat",
        "fold",
        "n_fold",
        F.round(
            (F.col("s_tot") - F.col("s_fold")).cast("double")
            / (F.col("n_tot") - F.col("n_fold"))
            / 100.0,
            4,
        ).alias("target_enc"),
    )


# ---------------------------------------------------------------------------
# A/B experiment analysis (two-proportion z-test from exact counts)
# ---------------------------------------------------------------------------
@register(
    "q_ab_test_ztest",
    oracle="""
    WITH assign AS (
      SELECT user_id,
             CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                            1, 8) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END) >= 6
                       THEN 1 ELSE 0 END AS BIGINT) AS converted
      FROM events GROUP BY user_id),
    arms AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_conv
      FROM assign GROUP BY arm),
    wide AS (
      SELECT MAX(CASE WHEN arm = 'A' THEN n_users END) AS n_a,
             MAX(CASE WHEN arm = 'A' THEN n_conv END) AS c_a,
             MAX(CASE WHEN arm = 'B' THEN n_users END) AS n_b,
             MAX(CASE WHEN arm = 'B' THEN n_conv END) AS c_b
      FROM arms)
    SELECT n_a, c_a, n_b, c_b,
           CASE WHEN n_a > 0 THEN ROUND(c_a * 100.0 / n_a, 4) END
             AS rate_a_pct,
           CASE WHEN n_b > 0 THEN ROUND(c_b * 100.0 / n_b, 4) END
             AS rate_b_pct,
           CASE WHEN n_a > 0 AND n_b > 0
                     AND c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
             ROUND((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
               / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                      * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                      * (1.0 / n_a + 1.0 / n_b)), 4)
           END AS z_stat
    FROM wide
    """,
)
def q_ab_test_ztest(spark: SparkSession, sf: str) -> DataFrame:
    """Experimentation analytics: users hash-split into arms A/B
    (md5-based — the deterministic assignment both engines reproduce
    bit-for-bit), per-user conversion = at least 6 purchase events (the
    synthetic feed gives ~4 purchases/user, so any-purchase would
    convert everyone and zero the pooled variance), pooled
    two-proportion z-statistic from the EXACT counts (the one
    double-precision step is the closed-form z evaluation, ROUND 4).
    Shape: one per-user max agg, one per-arm count agg, a 2-row pivot
    into a single report row — nothing after the first agg scales with
    the corpus."""
    ev = table(spark, sf, "events")
    # arm derives from user_id AFTER the per-user agg (one md5 per
    # distinct user, not per event)
    arm = (
        F.when(
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 2
            == 0,
            F.lit("A"),
        )
        .otherwise(F.lit("B"))
        .alias("arm")
    )
    assign = (
        ev.groupBy("user_id")
        .agg(
            (
                F.sum(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                )
                >= 6
            )
            .cast("bigint")
            .alias("converted"),
        )
        .select(arm, "converted")
    )
    arms = assign.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_conv"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "A", F.col("n_conv"))).alias("c_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "B", F.col("n_conv"))).alias("c_b"),
    )
    p_pool = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (
        F.col("c_a").cast("double") / F.col("n_a")
        - F.col("c_b").cast("double") / F.col("n_b")
    ) / F.sqrt(
        p_pool * (1 - p_pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    # degenerate experiment (everyone or no one converted): the pooled
    # variance is 0 and the z-statistic is undefined — NULL, never an
    # ANSI divide-by-zero that kills the job (bit at sf0.001, where no
    # user reaches the conversion threshold; oracle mirrors the CASE).
    # The same guard covers an EMPTY arm (n is NULL from the pivot's
    # MAX-over-nothing, and can never be 0): rates and the 1/n terms
    # stay inside explicit n > 0 CASEs on both engines (ADVICE r9).
    arm_ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    pool_ok = (
        arm_ok
        & (F.col("c_a") + F.col("c_b") > 0)
        & (F.col("c_a") + F.col("c_b") < F.col("n_a") + F.col("n_b"))
    )
    return wide.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.when(
            F.col("n_a") > 0, F.round(F.col("c_a") * 100.0 / F.col("n_a"), 4)
        ).alias("rate_a_pct"),
        F.when(
            F.col("n_b") > 0, F.round(F.col("c_b") * 100.0 / F.col("n_b"), 4)
        ).alias("rate_b_pct"),
        F.when(pool_ok, F.round(z, 4)).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction over the order-part bipartite graph
# ---------------------------------------------------------------------------
@register(
    "q_link_prediction_aa",
    oracle=f"""
    WITH {_CAPPED_ITEMS_CTE},
    sizes AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS basket
      FROM items GROUP BY 1),
    scored AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(ROUND(1000000.0 / ln(s.basket)) AS BIGINT) AS w
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey < b.l_partkey
      JOIN sizes s ON s.l_orderkey = a.l_orderkey
      WHERE s.basket >= 2)
    SELECT part_a, part_b,
           CAST(COUNT(*) AS BIGINT) AS n_common,
           CAST(SUM(w) AS BIGINT) AS aa_score
    FROM scored GROUP BY 1, 2
    ORDER BY aa_score DESC, part_a, part_b LIMIT 15
    """,
)
def q_link_prediction_aa(spark: SparkSession, sf: str) -> DataFrame:
    """Link prediction beyond raw co-occurrence: Adamic-Adar scoring
    over the order-part bipartite graph — a shared SMALL basket is
    stronger evidence than a shared big one, so each common order
    contributes 1/ln(basket_size), quantized to an integer micro-weight
    pre-sum (exact order-independent aggregation; ln of an exact
    integer evaluates identically in both engines' libm). Same
    BASKET_CAP-bounded self-join shape as q_copurchase_pairs (see
    _capped_items) with the per-order size — computed over the CAPPED
    basket, so weight and pair set describe the same graph — joined on
    the already-shuffled order key."""
    from dns_log_transformer_spark.operators.caching import persist_tracked

    li = table(spark, sf, "lineitem")
    items = persist_tracked(_capped_items(li))
    sizes = items.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("basket")
    )
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    scored = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .join(sizes.filter(F.col("basket") >= 2), "l_orderkey")
        .select(
            "part_a",
            "part_b",
            F.round(1_000_000.0 / F.log(F.col("basket")), 0)
            .cast("bigint")
            .alias("w"),
        )
    )
    return (
        scored.groupBy("part_a", "part_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("w").cast("bigint").alias("aa_score"),
        )
        .orderBy(F.desc("aa_score"), "part_a", "part_b")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (rank-based quartiles, scale-safe)
# ---------------------------------------------------------------------------
@register(
    "q_rfm_segments",
    oracle="""
    WITH per AS (
      SELECT o_custkey AS custkey,
             MAX(o_orderdate) AS last_d,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey),
    ref AS (SELECT MAX(last_d) AS ref_d, CAST(COUNT(*) AS BIGINT) AS n
            FROM per),
    ranked AS (
      SELECT p.custkey, p.cents, r.n,
             date_diff('day', p.last_d, r.ref_d) AS rec_days,
             ROW_NUMBER() OVER (ORDER BY date_diff('day', p.last_d, r.ref_d),
                                p.custkey) AS r_rank,
             ROW_NUMBER() OVER (ORDER BY p.n_orders DESC, p.custkey)
               AS f_rank,
             ROW_NUMBER() OVER (ORDER BY p.cents DESC, p.custkey) AS m_rank
      FROM per p, ref r),
    seg AS (
      SELECT CAST((r_rank - 1) * 4 // n + 1 AS INT) AS r_q,
             CAST((f_rank - 1) * 4 // n + 1 AS INT) AS f_q,
             CAST((m_rank - 1) * 4 // n + 1 AS INT) AS m_q,
             cents
      FROM ranked)
    SELECT r_q, f_q, m_q,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)
                 / COUNT(*) / 100.0, 4) AS avg_monetary
    FROM seg GROUP BY 1, 2, 3
    """,
)
def q_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """RFM segmentation (the customer-analytics staple): per customer,
    Recency (days since last order vs the corpus max date), Frequency
    (order count), Monetary (exact cent sum), each binned into rank
    quartiles — computed with corpus.global_rank (range-partitioned
    parallel sort), NOT a global-order NTILE window, which would
    serialize the corpus through one task (the scale lint's
    SinglePartition rule). The bin is the rank-arithmetic quantile
    (rank-1)*k/n + 1 — deterministic and identical in both engines,
    sidestepping NTILE's remainder-placement convention. Output: one
    row per (R,F,M) cell with occupancy and mean spend.

    ONE rank pass, not three (round-7 rewrite, VERDICT r6 task 6): the
    three sort problems union into a 3n-row (dim, val, custkey) frame —
    dim 0: rec_days asc, dim 1: -n_orders, dim 2: -cents, each a total
    order via the custkey tiebreak — ranked once; dim blocks are
    contiguous so the in-dim rank is grk - dim*n, and one custkey
    groupBy pivots the three ranks back WITHOUT any join (cents is
    recovered from dim 2's own sort value). Replaces three
    repartitionByRange+checkpoint+count passes and three join-backs
    with one of each.

    Driver state: the customer count (one int) plus global_rank's
    per-partition offsets, once."""
    from dns_log_transformer_spark.operators.caching import persist_tracked
    from dns_log_transformer_spark.operators.corpus import global_rank

    o = table(spark, sf, "orders")
    per = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_d"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )
    per = persist_tracked(per)  # scalar agg + count + the union read it
    ref = per.agg(F.max("last_d").alias("ref_d"))
    n = per.count()
    tri = (
        per.crossJoin(F.broadcast(ref))
        .select(
            "custkey",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).alias("dim"),
                        F.datediff(F.col("ref_d"), F.col("last_d"))
                        .cast("long")
                        .alias("val"),
                    ),
                    F.struct(
                        F.lit(1).alias("dim"),
                        (-F.col("n_orders")).cast("long").alias("val"),
                    ),
                    F.struct(
                        F.lit(2).alias("dim"),
                        (-F.col("cents")).cast("long").alias("val"),
                    ),
                )
            ).alias("d"),
        )
        .select("custkey", F.col("d.dim").alias("dim"), F.col("d.val").alias("val"))
    )
    ranked = global_rank(tri, ["dim", "val", "custkey"], rank_col="grk")
    quart = (
        (F.col("grk") - F.col("dim") * F.lit(n) - 1) * 4 / F.lit(n)
    )
    seg = (
        ranked.groupBy("custkey")
        .agg(
            F.max(F.when(F.col("dim") == 0, F.floor(quart) + 1))
            .cast("int")
            .alias("r_q"),
            F.max(F.when(F.col("dim") == 1, F.floor(quart) + 1))
            .cast("int")
            .alias("f_q"),
            F.max(F.when(F.col("dim") == 2, F.floor(quart) + 1))
            .cast("int")
            .alias("m_q"),
            F.max(F.when(F.col("dim") == 2, -F.col("val")))
            .cast("bigint")
            .alias("cents"),
        )
        .select("r_q", "f_q", "m_q", "cents")
    )
    return seg.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.round(
            F.sum(F.col("cents").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
            / 100.0,
            4,
        ).alias("avg_monetary"),
    )


# ---------------------------------------------------------------------------
# q_zorder_layout — Morton-key clustering vs 1D sort vs hash layout
# ---------------------------------------------------------------------------

_Z_EPOCH = _dt.date(1995, 1, 1)
_Z_DAY_DIV = 10  # 8-bit date bucket: days since epoch / 10
_Z_PRED_D_LO = (_dt.date(1996, 1, 1) - _Z_EPOCH).days // _Z_DAY_DIV
_Z_PRED_D_HI = (_dt.date(1996, 12, 31) - _Z_EPOCH).days // _Z_DAY_DIV
_Z_PRED_Q_LO = (5 - 1) * 5
_Z_PRED_Q_HI = (15 - 1) * 5


def _z_interleave_sql(x: str, y: str) -> str:
    """16-bit Morton interleave of two 8-bit values, as portable
    shift/mask arithmetic (identical text runs on DuckDB; the Spark
    side composes the same terms with F.shiftleft/bitwiseAND)."""
    return " + ".join(
        f"((({x} >> {i}) & 1) << {2 * i}) + ((({y} >> {i}) & 1) << {2 * i + 1})"
        for i in range(8)
    )


@register(
    "q_zorder_layout",
    oracle=rf"""
    WITH base AS (
      SELECT l_orderkey,
             LEAST(255, GREATEST(0, CAST(datediff('day', DATE '1995-01-01',
               l_shipdate) // {_Z_DAY_DIV} AS BIGINT))) AS x,
             LEAST(255, CAST((l_quantity - 1) * 5 AS BIGINT)) AS y,
             (l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
              AND l_quantity BETWEEN 5 AND 15) AS m
      FROM lineitem),
    assigned AS (
      SELECT x, y, m,
             ({_z_interleave_sql("x", "y")}) >> 8 AS f_z,
             x AS f_lin,
             l_orderkey % 256 AS f_hash
      FROM base),
    u AS (
      SELECT 'zorder' AS layout, f_z AS f, x, y, m FROM assigned
      UNION ALL SELECT 'linear_date', f_lin, x, y, m FROM assigned
      UNION ALL SELECT 'hash', f_hash, x, y, m FROM assigned),
    files AS (
      SELECT layout, f, COUNT(*) AS n_rows,
             MIN(x) AS min_x, MAX(x) AS max_x,
             MIN(y) AS min_y, MAX(y) AS max_y,
             SUM(CASE WHEN m THEN 1 ELSE 0 END) AS n_match
      FROM u GROUP BY 1, 2)
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN max_x >= {_Z_PRED_D_LO} AND min_x <= {_Z_PRED_D_HI}
                    AND max_y >= {_Z_PRED_Q_LO} AND min_y <= {_Z_PRED_Q_HI}
                    THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
           CAST(SUM(CASE WHEN max_x >= {_Z_PRED_D_LO} AND min_x <= {_Z_PRED_D_HI}
                    AND max_y >= {_Z_PRED_Q_LO} AND min_y <= {_Z_PRED_Q_HI}
                    THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(SUM(n_match) AS BIGINT) AS n_matching
    FROM files GROUP BY layout ORDER BY layout
    """,
)
def q_zorder_layout(spark: SparkSession, sf: str) -> DataFrame:
    """Data-layout diagnostic: assign every lineitem row to a file
    under three clustering policies — 16-bit Morton (z-order) key over
    (shipdate bucket, quantity bucket), a 1D shipdate sort, and a hash
    layout — then measure, from per-file min/max zone maps, how many
    files and rows a fixed 2D predicate (a TPC-H q6-style
    date-range + quantity-band) would scan under each. The query that
    answers "is re-clustering this table worth it" BEFORE paying the
    rewrite; on the fixture z-order scans ~12 of 256 files vs 38
    (date-sorted) and 256 (hash) for identical results.

    Scale shape: pure per-row bit arithmetic (whole-stage codegen), a
    1:3 layout explode, and two hash aggregations — no joins, no
    windows, no data-dependent scalars (the quantization domains are
    fixed constants)."""
    li = table(spark, sf, "lineitem")
    x = F.least(
        F.lit(255),
        F.greatest(
            F.lit(0),
            F.floor(
                F.datediff(F.col("l_shipdate"), F.lit("1995-01-01"))
                / _Z_DAY_DIV
            ),
        ),
    ).cast("long")
    y = F.least(
        F.lit(255), ((F.col("l_quantity") - 1) * 5).cast("long")
    ).cast("long")
    m = (
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & F.col("l_quantity").between(5, 15)
    )
    base = li.select(
        F.col("l_orderkey"), x.alias("x"), y.alias("y"), m.alias("m")
    )
    z = functools.reduce(
        operator.add,
        [
            F.shiftleft(F.shiftright(F.col("x"), i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftright(F.col("y"), i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
            for i in range(8)
        ],
    )
    layouts = F.explode(
        F.array(
            F.struct(
                F.lit("zorder").alias("layout"),
                F.shiftright(z, 8).alias("f"),
            ),
            F.struct(
                F.lit("linear_date").alias("layout"), F.col("x").alias("f")
            ),
            F.struct(
                F.lit("hash").alias("layout"),
                (F.col("l_orderkey") % 256).alias("f"),
            ),
        )
    )
    u = base.select("x", "y", "m", layouts.alias("lf")).select(
        F.col("lf.layout").alias("layout"), F.col("lf.f").alias("f"),
        "x", "y", "m",
    )
    files = u.groupBy("layout", "f").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
        F.sum(F.col("m").cast("long")).alias("n_match"),
    )
    hit = (
        (F.col("max_x") >= _Z_PRED_D_LO)
        & (F.col("min_x") <= _Z_PRED_D_HI)
        & (F.col("max_y") >= _Z_PRED_Q_LO)
        & (F.col("min_y") <= _Z_PRED_Q_HI)
    )
    return (
        files.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(hit.cast("long")).cast("long").alias("files_scanned"),
            F.sum(F.when(hit, F.col("n_rows")).otherwise(F.lit(0)))
            .cast("long")
            .alias("rows_scanned"),
            F.sum("n_match").cast("long").alias("n_matching"),
        )
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# q_concurrent_intervals — peak concurrently-open orders per year
# ---------------------------------------------------------------------------


@register(
    "q_concurrent_intervals",
    oracle="""
    WITH iv AS (
      SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS s,
             CAST(MAX(l.l_shipdate) AS DATE) + 1 AS e
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2),
    deltas AS (
      SELECT s AS d, COUNT(*)::BIGINT AS delta FROM iv GROUP BY 1
      UNION ALL
      SELECT e, -COUNT(*)::BIGINT FROM iv GROUP BY 1),
    byd AS (SELECT d, SUM(delta) AS delta FROM deltas GROUP BY 1),
    run AS (SELECT d, SUM(delta) OVER (ORDER BY d) AS conc FROM byd),
    run2 AS (SELECT d, conc,
                    MAX(conc) OVER (PARTITION BY year(d)) AS ymax FROM run)
    SELECT CAST(year(d) AS INT) AS yr,
           CAST(MAX(conc) AS BIGINT) AS peak_open,
           MIN(CASE WHEN conc = ymax THEN d END) AS peak_date
    FROM run2 GROUP BY 1 ORDER BY 1
    """,
)
def q_concurrent_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """Peak concurrently-open orders per year (an order is open from
    its order date until the day after its last lineitem ships) — the
    classic interval sweep: +1/-1 boundary events, prefix-summed over
    time.

    Scale shape — a GLOBAL running sum with NO single-partition
    window: boundary deltas collapse to one row per date (bounded
    domain), per-year carry-in offsets come from a triangular join
    over the tiny year dimension (tens of rows, broadcast; BNLJ
    documented scale-bounded), and the running sum itself partitions
    by year — the textbook two-level scan (block-local prefix +
    block offsets) expressed in DataFrame ops."""
    orders = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem")
    iv = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("s"))
        .agg(F.date_add(F.max("l_shipdate").cast("date"), 1).alias("e"))
    )
    deltas = iv.groupBy(F.col("s").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("delta")
    ).unionByName(
        iv.groupBy(F.col("e").alias("d")).agg(
            (-F.count(F.lit(1))).cast("long").alias("delta")
        )
    )
    byd = (
        deltas.groupBy("d")
        .agg(F.sum("delta").alias("delta"))
        .withColumn("yr", F.year("d"))
    )
    ytot = byd.groupBy("yr").agg(F.sum("delta").alias("ydelta"))
    offs = (
        ytot.alias("a")
        .join(ytot.alias("b"), F.col("b.yr") < F.col("a.yr"), "left")
        .groupBy(F.col("a.yr").alias("yr"))
        .agg(F.coalesce(F.sum("b.ydelta"), F.lit(0)).alias("off"))
    )
    wrun = (
        Window.partitionBy("yr")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = byd.join(F.broadcast(offs), "yr").withColumn(
        "conc", F.sum("delta").over(wrun) + F.col("off")
    )
    run2 = run.withColumn(
        "ymax", F.max("conc").over(Window.partitionBy("yr"))
    )
    return (
        run2.groupBy(F.col("yr").cast("int").alias("yr"))
        .agg(
            F.max("conc").cast("long").alias("peak_open"),
            F.min(F.when(F.col("conc") == F.col("ymax"), F.col("d"))).alias(
                "peak_date"
            ),
        )
        .orderBy("yr")
    )


# ---------------------------------------------------------------------------
# q_sliding_distinct — exact distinct users per sliding hour
# ---------------------------------------------------------------------------


#: HLL relative standard deviation for the sketch column; the
#: attestation bound is 5x this plus a small-count floor — far outside
#: plausible sketch error (measured max rel err 5.0% at sf0.1; the
#: floor absorbs linear-counting variance on 2-28-user windows at
#: sf0.01, which reaches ~18%).
_SLIDING_HLL_RSD = 0.02


@register(
    "q_sliding_distinct",
    oracle="""
    WITH e AS (
      SELECT user_id,
             time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE AS ws
      FROM events, unnest([0, 1, 2, 3]) AS t(k))
    SELECT ws,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           TRUE AS hll_ok
    FROM e GROUP BY ws ORDER BY ws
    """,
)
def q_sliding_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding 1-hour window (15-minute slide) over events — r10
    consolidation of the q_sliding_native / q_sliding_distinct /
    q_sliding_distinct_approx shells (VERDICT r9 #1) into ONE window
    aggregate carrying all three signals per window: total events
    (the F.window sliding count), EXACT distinct users, and the HLL
    sketch attested against that exact count.

    Distinct-over-sliding-window is the aggregation window frames
    cannot express (no COUNT(DISTINCT) over a frame in any engine); the
    scalable answer is the window EXPLODE: each event lands in exactly
    len/slide = 4 windows via F.window, and distinct is a two-phase
    hash aggregation per window — never a sorted frame. The oracle
    replays the same epoch-aligned fan-out arithmetically.

    Plan shape (the r9 dedup-first rewrite, kept): (window, user)
    pairs dedupe FIRST in a map-side-combined hash aggregate that
    CARRIES per-pair event counts — the same shuffle the exact
    distinct pays anyway — then one row per pair feeds all three
    aggregates: n_events = sum of pair counts, n_users_exact = count
    of pairs, and the HLL partials hash one row per pair instead of
    every exploded event (measured 2.75 s -> 0.79 s at sf0.1 for the
    HLL half; the mixed distinct/non-distinct Expand disappears).
    HLL++ registers are fixed-size and MERGEABLE — per-window state is
    O(registers) regardless of cardinality — which is why the sketch
    column is the variant a 100 TB pipeline actually alerts on, with
    the exact count computed beside it in the same aggregation.
    Sketch internals differ by engine, so the oracle-comparable output
    is the exact count plus an in-bounds flag (the q_approx_percentiles
    pattern): |hll - exact| <= max(5 * rsd * exact, 5)."""
    ev = table(spark, sf, "events")
    deduped = ev.groupBy(
        F.window("ts", "1 hour", "15 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("_n_pair"))
    # count(user_id), not count(1), for the distinct: a NULL user forms
    # its own dedup group but must not count — COUNT(DISTINCT) and the
    # HLL both ignore NULLs (latent on the shipped fixtures, which have
    # none; pinned by the oracle the moment nullable data appears).
    # n_events sums ALL pair counts including the NULL-user group,
    # matching the oracle's COUNT(*).
    agg = deduped.groupBy("w").agg(
        F.sum("_n_pair").cast("long").alias("n_events"),
        F.count("user_id").cast("long").alias("n_users_exact"),
        F.approx_count_distinct("user_id", _SLIDING_HLL_RSD).alias("_hll"),
    )
    bound = F.greatest(
        F.lit(5.0) * _SLIDING_HLL_RSD * F.col("n_users_exact"), F.lit(5.0)
    )
    return agg.select(
        F.col("w.start").alias("ws"),
        "n_events",
        "n_users_exact",
        (
            F.abs(F.col("_hll") - F.col("n_users_exact")).cast("double")
            <= bound
        ).alias("hll_ok"),
    ).orderBy("ws")


# ---------------------------------------------------------------------------
# q_skyline_pareto — pareto frontier via bounded-domain inversion
# ---------------------------------------------------------------------------


@register(
    "q_skyline_pareto",
    oracle="""
    SELECT p_partkey, p_retailprice, p_size
    FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
    ORDER BY p_retailprice, p_partkey
    """,
)
def q_skyline_pareto(spark: SparkSession, sf: str) -> DataFrame:
    """Skyline / pareto frontier of parts: minimize p_retailprice,
    maximize p_size — no other part is at-least-as-good on both axes
    and strictly better on one.

    Scale shape — bounded-domain inversion instead of the naive
    quadratic NOT EXISTS the oracle runs (fine at oracle scale,
    impossible at 100 TB) and instead of a global price-ordered RANGE
    window (a single-partition sort): p_size has a tiny domain
    (1..50), so ONE map-side-combined min-price-per-size aggregation
    collapses the table to <= 50 points, the frontier threshold
    fm(s) = min price among strictly larger sizes is a triangular
    join over those points (BNLJ documented scale-bounded), and
    membership is a broadcast join back: a part is on the skyline iff
    it HOLDS its size's min price and no larger size matches it.
    Equal (price, size) twins are both kept — neither strictly
    dominates."""
    part = table(spark, sf, "part")
    mp = part.groupBy("p_size").agg(F.min("p_retailprice").alias("m"))
    fm = (
        mp.alias("a")
        .join(mp.alias("b"), F.col("b.p_size") > F.col("a.p_size"), "left")
        .groupBy(F.col("a.p_size").alias("p_size"), F.col("a.m").alias("m"))
        .agg(F.min("b.m").alias("fm"))
    )
    return (
        part.join(F.broadcast(fm), "p_size")
        .filter(
            (F.col("p_retailprice") == F.col("m"))
            & (F.col("fm").isNull() | (F.col("fm") > F.col("p_retailprice")))
        )
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )

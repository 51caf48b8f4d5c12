"""Star-schema analytics over the TPC-H tables: the classic decision-support
shapes adapted to the testdata columns. Correlated subqueries are
decorrelated into joins, scalar subqueries become 1-row broadcasts and
NOT IN becomes an anti-join. These are the join/subquery patterns the
reference cannot express (single-table dialect, SURVEY §2.4) but a
migrating analytics user runs daily.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zenodb_spark.catalog import load_table
from zenodb_spark.functions.measures import cents
from zenodb_spark.operators import timeops
from zenodb_spark.operators.prefix import running_total
from zenodb_spark.operators.util import share
from zenodb_spark.queries.common import C, query
from zenodb_spark.sources.bucketed import read_bucketed, write_bucketed


@query(
    "q21_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           sum({C.format(x='l_extendedprice')})/100.0 AS sum_base_price,
           sum(CAST(floor(l_extendedprice*(1-l_discount)*100+0.5) AS BIGINT))/100.0 AS sum_disc_price,
           sum(l_quantity) / count(*) AS avg_qty,
           (sum({C.format(x='l_extendedprice')})/100.0) / count(*) AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY 1, 2
    """,
)
def q21_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: one wide map-side-combined hash
    aggregate over the fact table — the canonical 100 TB scan shape."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        (F.sum(cents("l_extendedprice")) / F.lit(100.0)).alias("sum_base_price"),
        (F.sum(disc_cents) / F.lit(100.0)).alias("sum_disc_price"),
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
        ((F.sum(cents("l_extendedprice")) / F.lit(100.0)) / F.count(F.lit(1))).alias(
            "avg_price"
        ),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "q22_join_enrich",
    f"""
    SELECT n.n_name AS nation, count(*) AS n_orders,
           sum({C.format(x='o_totalprice')})/100.0 AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def q22_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-enrichment joins (the Spark-native replacement for the
    reference's Redis/geo per-row lookups). Nation (25 rows, O(1) in SF)
    is broadcast-hinted; customer scales with SF so it carries NO hint —
    AQE broadcasts the 2-column pruned side while it fits and
    shuffle-joins beyond (a forced hint would OOM at extreme SF)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents("o_totalprice")) / F.lit(100.0)).alias("revenue"),
        )
    )


@query(
    "q35_shipping_priority",
    f"""
    SELECT l.l_orderkey AS orderkey,
           sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')})/100.0 AS revenue,
           CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY 1, 3
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
)
def q35_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact join -> top-k revenue.
    Scale plan: every join side is SF-scaled, so none carries a hint —
    AQE picks broadcast when a filtered side fits; orders⋈lineitem
    shuffles on orderkey; integer-cents revenue keeps the sum associative
    so the top-k is deterministic (ties broken by key)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    # no broadcast hints anywhere: customer is SF-scaled even after the
    # segment filter, and orders is a fact — AQE upgrades either join to a
    # broadcast at runtime when a side truly fits, and a hard-coded hint
    # would OOM at 100× scale where AQE would have shuffled
    joined = l.join(
        o.join(c.select("c_custkey"), o.o_custkey == c.c_custkey),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return (
        joined.groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.unix_timestamp("o_orderdate").alias("orderdate"),
        )
        .agg(
            (F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / F.lit(100.0)).alias("revenue")
        )
        .select("orderkey", "revenue", "orderdate")
        .orderBy(F.col("revenue").desc(), F.col("orderkey"))
        .limit(10)
    )


@query(
    "q36_revenue_by_nation",
    f"""
    SELECT n.n_name AS nation,
           sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')})/100.0 AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def q36_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dims star join. Nation is broadcast-hinted (O(1) rows);
    supplier scales with SF so AQE decides its side — broadcast while the
    2-column pruned build fits, shuffle join beyond. The fact never
    carries a hint; the only guaranteed exchange is the final groupBy."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            (F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / F.lit(100.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q39_rollup",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q39_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP — hierarchical subtotals in one pass (beyond the
    reference, which has no grouping sets — SURVEY §2.3; free in Catalyst,
    partial-aggregated like any groupBy)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@query(
    "q56_running_revenue",
    f"""
    WITH m AS (
      SELECT n.n_name AS nation,
             CAST(epoch(date_trunc('month', o.o_orderdate)) AS BIGINT) AS month_start,
             sum({C.format(x='o.o_totalprice')}) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    )
    SELECT nation, month_start,
           cents / 100.0 AS revenue,
           sum(cents) OVER (PARTITION BY nation ORDER BY month_start
                            ROWS UNBOUNDED PRECEDING) / 100.0 AS cum_revenue
    FROM m
    """,
)
def q56_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative (running-total) window aggregation: monthly revenue per
    nation plus its running sum over months. Beyond-parity window surface
    (reference SHIFT only reaches fixed offsets). Scale shape: fact shuffles
    once into the monthly groupBy (dims broadcast), then the window runs
    inside each nation partition — 25 keys × few hundred months, trivially
    in-memory; integer cents keep the running sum exact. Customer carries
    no broadcast hint (SF-scaled; AQE decides), nation does (O(1))."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    m = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.unix_timestamp(F.date_trunc("month", F.col("o_orderdate"))).alias(
                "month_start"
            ),
        )
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("cents"))
    )
    w = (
        Window.partitionBy("nation")
        .orderBy("month_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return m.select(
        "nation",
        "month_start",
        (F.col("cents") / F.lit(100.0)).alias("revenue"),
        (F.sum("cents").over(w) / F.lit(100.0)).alias("cum_revenue"),
    )


@query(
    "q77_top_returners",
    f"""
    SELECT c.c_custkey AS custkey, c.c_name AS cust_name, n.n_name AS nation,
           sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')})/100.0
             AS lost_revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY lost_revenue DESC, custkey
    LIMIT 20
    """,
)
def q77_top_returners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned revenue. The returned
    filter prunes the fact scan; orders⋈lineitem shuffles on orderkey and
    customer joins WITHOUT a forced broadcast (customer grows with scale
    factor — AQE broadcasts while it fits, shuffle-joins beyond; only the
    25-row nation is hinted); final top-20 is TakeOrderedAndProject on the
    integer-cents revenue (exact, so the global order is
    engine-identical)."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev_cents = F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("cust_name"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            (rev_cents / F.lit(100.0)).alias("lost_revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
        .orderBy(F.desc("lost_revenue"), F.asc("custkey"))
        .limit(20)
    )


@query(
    "q82_forecast_revenue",
    f"""
    SELECT sum({C.format(x='l_extendedprice * l_discount')})/100.0 AS revenue_delta,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q82_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter + global aggregate. All four predicates reach
    the parquet scan (PushedFilters); the plan is scan → partial agg →
    single-row final — the minimal possible shape."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(cents(F.col("l_extendedprice") * F.col("l_discount"))) / F.lit(100.0)).alias(
                "revenue_delta"
            ),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


@query(
    "q83_late_order_priority",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY 1
    """,
)
def q83_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in a window with at least one lineitem
    shipped after the order date, counted per priority. The EXISTS becomes
    a left-semi join on orderkey carrying the correlated date predicate -
    lineitem never materializes into the output, and the date window
    prunes the orders scan before the shuffle."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    semi = o.join(
        l,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("order_count")
    )


@query(
    "q86_promo_revenue",
    f"""
    WITH j AS (
      SELECT p_type,
             {C.format(x='l_extendedprice * (1 - l_discount)')} AS rev_c
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-02-01'
    )
    SELECT (100.0 * CAST(sum(CASE WHEN p_type = 'ECONOMY' THEN rev_c
                                       ELSE 0 END) AS DOUBLE)
                 / sum(rev_c)) AS economy_share_pct,
           CAST(sum(rev_c) AS BIGINT) AS total_cents,
           CAST(count(*) AS BIGINT) AS n_items
    FROM j
    """,
)
def q86_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: one part class's share of monthly revenue. The
    date window prunes lineitem at the scan; part carries NO broadcast
    hint — like customer/orders it scales with SF, so AQE broadcasts only
    while the (2-column-pruned) build side truly fits and shuffle-joins on
    partkey beyond; the share is a ratio of two exact cent sums, a single
    IEEE division."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-02-01"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = l.join(p, F.col("l_partkey") == F.col("p_partkey")).select(
        "p_type", rev_c.alias("rev_c")
    )
    eco = F.sum(F.when(F.col("p_type") == "ECONOMY", F.col("rev_c")).otherwise(0))
    return j.agg(
        (F.lit(100.0) * eco.cast("double") / F.sum("rev_c")).alias(
            "economy_share_pct"
        ),
        F.sum("rev_c").cast("long").alias("total_cents"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


@query(
    "q92_pareto_parts",
    f"""
    WITH r AS (
      SELECT l_partkey, sum({C.format(x='l_extendedprice * (1 - l_discount)')}) AS rev_c
      FROM lineitem GROUP BY 1
    ), t AS (SELECT sum(rev_c) AS total FROM r),
    ranked AS (
      SELECT l_partkey, rev_c,
             sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey) AS cum_c,
             total
      FROM r, t
    )
    SELECT CASE WHEN cum_c <= total * 0.5 THEN 'A'
                WHEN cum_c <= total * 0.8 THEN 'B' ELSE 'C' END AS klass,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev_c) AS BIGINT) AS revenue_cents
    FROM ranked GROUP BY 1
    """,
)
def q92_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto classification of parts by revenue share: running
    cumulative share over the revenue-ranked part list (exact cents, so
    rank and class boundaries are engine-identical), bucketed at 50%/80%.
    The cumulative sum uses the two-phase distributed prefix scan
    (operators/prefix.py:running_total) — the part list is SF-scaled, so a
    bare global-order window would funnel it through one task."""

    l = load_table(spark, sf_dir, "lineitem")
    r = l.groupBy("l_partkey").agg(
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "rev_c"
        )
    )
    t = r.agg(F.sum("rev_c").alias("total"))
    ranked = running_total(
        r.crossJoin(F.broadcast(t)),
        [F.desc("rev_c"), F.asc("l_partkey")],
        "rev_c",
        out_col="cum_c",
    )
    klass = (
        F.when(F.col("cum_c") <= F.col("total") * 0.5, "A")
        .when(F.col("cum_c") <= F.col("total") * 0.8, "B")
        .otherwise("C")
    )
    return ranked.groupBy(klass.alias("klass")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("rev_c").cast("long").alias("revenue_cents"),
    )


@query(
    "q93_order_size_dist",
    """
    WITH s AS (
      SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY 1
    )
    SELECT CAST(n_lines AS BIGINT) AS n_lines,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM s GROUP BY 1
    """,
)
def q93_order_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-size distribution (lines per order): two chained hash
    aggregates, the second over at most a few dozen distinct sizes —
    the basket-size panel of an order dashboard."""
    l = load_table(spark, sf_dir, "lineitem")
    s = l.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))
    return s.groupBy(F.col("n_lines").cast("long").alias("n_lines")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )


@query(
    "q99_fulfillment_latency",
    """
    WITH span AS (
      SELECT o.o_orderkey,
             CAST(date_diff('day', o.o_orderdate, max(l.l_shipdate)) AS BIGINT)
               AS days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    )
    SELECT days, CAST(count(*) AS BIGINT) AS n_orders
    FROM span GROUP BY 1
    """,
)
def q99_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order fulfillment latency distribution: days from order date to the
    LAST line shipment, counted per day bucket. One orderkey shuffle join
    + per-order max + a tiny distribution aggregate — exact integer day
    arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    span = (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.datediff(F.col("last_ship"), F.col("o_orderdate"))
            .cast("long")
            .alias("days")
        )
    )
    return span.groupBy("days").agg(F.count(F.lit(1)).cast("long").alias("n_orders"))


@query(
    "q102_large_orders",
    f"""
    WITH big AS (
      SELECT l_orderkey, sum({C.format(x='l_quantity')}) AS qty_c
      FROM lineitem GROUP BY 1
      HAVING sum({C.format(x='l_quantity')}) > 25000
    )
    SELECT c.c_custkey, o.o_orderkey, o.o_orderdate,
           {C.format(x='o_totalprice')} AS totalprice_c,
           big.qty_c/100.0 AS total_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q102_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): aggregate lineitem per order,
    HAVING sum(qty) > 250, then join back to orders and customer.

    The quantity aggregate runs partial+final on the orderkey shuffle and
    the HAVING prunes it to a tiny survivor set BEFORE either join, so at
    scale both joins see only the filtered keys; orders joins on the same
    orderkey partitioning (exchange reuse) and AQE broadcast-converts the
    survivor side. Exact cents throughout."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(cents("l_quantity")).alias("qty_c"))
        .filter(F.col("qty_c") > 25000)
    )
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            cents("o_totalprice").alias("totalprice_c"),
            (F.col("qty_c") / F.lit(100.0)).alias("total_qty"),
        )
    )


@query(
    "q103_trade_flows",
    f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')})/100.0
             AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    GROUP BY 1, 2
    """,
)
def q103_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade-flow matrix (TPC-H Q7 shape on available columns):
    revenue between supplier nation and customer nation.

    Join strategy for 100 TB: only the O(25)-row nation relations carry
    broadcast hints; supplier and customer are SF-scaled, so their joins
    are left to AQE (broadcast while they fit, shuffle beyond). Orders x
    lineitem is the one unavoidable fact-fact shuffle on orderkey; the
    final 25x25 cell aggregate is map-side combined. Exact cents
    revenue."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    # supplier is SF-scaled: no forced broadcast (AQE decides); only the
    # O(25)-row nation relations carry hints
    lsupp = l.join(
        s.select("s_suppkey", "s_nationkey"),
        F.col("s_suppkey") == F.col("l_suppkey"),
    ).join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
    cust = o.join(
        c.select("c_custkey", "c_nationkey"),
        F.col("c_custkey") == F.col("o_custkey"),
    ).join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
    return (
        lsupp.join(cust, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            (
                F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                / F.lit(100.0)
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q114_customer_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY 1
    ) GROUP BY 1
    """,
)
def q114_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order distribution): how many customers
    placed k non-urgent orders each, including the zero-order tail that
    only a LEFT OUTER join can see.

    Scale: the non-equi condition rides the equi-join as a pushed filter
    on the orders scan (priority predicate reaches parquet); both inputs
    shuffle once on custkey, the count-per-customer aggregate reuses that
    exchange, and the final count-of-counts is a tiny second aggregate
    (≤ max-orders-per-customer rows). No window, no broadcast of an
    SF-scaled side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q115_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey,
             sum({C.format(x='l_extendedprice * (1 - l_discount)')}) AS rev_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, rev.rev_c / 100.0 AS total_revenue
    FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
    WHERE rev.rev_c = (SELECT max(rev_c) FROM rev)
    """,
)
def q115_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the supplier(s) whose Q1-1997
    revenue equals the maximum — a scalar subquery kept as a 1-row
    broadcast so ties survive (the reference point of Q15 vs a LIMIT 1).

    Scale: the shipdate range prunes the lineitem scan via row-group
    stats; revenue is one partial+final aggregate on suppkey; max(rev) is
    a 1-row global aggregate cross-joined (broadcast) back — no second
    pass over lineitem and no global sort. Exact integer cents make
    "equals the max" well-defined (float revenue would make ties
    platform-dependent)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "rev_c"
            )
        )
    )
    mx = rev.agg(F.max("rev_c").alias("max_rev"))
    return (
        rev.join(F.broadcast(mx), F.col("rev_c") == F.col("max_rev"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_c") / F.lit(100.0)).alias("total_revenue"),
        )
    )


@query(
    "q116_parts_supplier_count",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#12'
      AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l.l_suppkey NOT IN
        (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def q116_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct supplier
    count per (brand, type, size), excluding blacklisted suppliers via
    NOT IN (subquery) — lowered to a LEFT ANTI join, the scale-safe form
    (no driver-side value list; reference planner/subquery.go splices
    values instead, fine at its scale, driver-OOM at 100 TB).

    Scale: brand/size predicates prune the part scan; part joins AQE-
    style (broadcast while it fits); the anti-join's right side (negative-
    balance suppliers) is a small filtered fraction so AQE broadcasts it;
    COUNT(DISTINCT suppkey) expands then two-phase aggregates — exact, as
    the fixed set sizes here are small per group."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#12")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        l.join(bad, F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q117_small_quantity_revenue",
    f"""
    WITH pq AS (
      SELECT l_partkey,
             sum({C.format(x='l_quantity')}) AS sum_qty_c,
             count(*) AS cnt
      FROM lineitem GROUP BY 1
    )
    SELECT p.p_brand,
           sum({C.format(x='l.l_extendedprice')}) / 700.0 AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN pq ON pq.l_partkey = l.l_partkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE 5 * {C.format(x='l.l_quantity')} * pq.cnt < pq.sum_qty_c
    GROUP BY 1
    """,
)
def q117_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): lineitems whose
    quantity is below 20% of their part's average quantity — the classic
    correlated aggregate, decorrelated into a per-part aggregate joined
    back to the fact (one partkey shuffle shared by both sides, exchange
    reuse) instead of a per-row subquery.

    The threshold compare is exact integer algebra: qty < 0.2·avg ⇔
    5·qty_c·cnt < Σqty_c — no float division, so Spark and the oracle
    agree bit-for-bit. Part join carries no hint (SF-scaled; AQE
    decides). (Round 6 tried q121's single-exchange repartition pattern
    here and it measured SLOWER: the per-part aggregate is part-grain —
    broadcastable — so the decorrelated join never shuffles the fact
    side at all, and forcing a partkey repartition added the one shuffle
    the broadcast join avoids. Kept the two-scan broadcast shape.)"""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pq = l.groupBy(F.col("l_partkey").alias("pq_partkey")).agg(
        F.sum(cents("l_quantity")).alias("sum_qty_c"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        l.join(pq, F.col("pq_partkey") == F.col("l_partkey"))
        .filter(
            F.lit(5) * cents("l_quantity") * F.col("cnt") < F.col("sum_qty_c")
        )
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand")
        .agg(
            (F.sum(cents("l_extendedprice")) / F.lit(700.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q118_disjunctive_revenue",
    f"""
    SELECT sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')}) / 100.0
             AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
             AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
             AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
             AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q118_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates): an
    OR-of-ANDs that references BOTH join sides, so no single conjunct can
    be pushed below the join automatically. We add the implied per-side
    envelopes explicitly — p_brand in (12,23,34) ∧ p_size ≤ 15 on part,
    l_quantity ∈ [1,30] on lineitem — which Catalyst pushes to both
    scans (parquet dictionary/stats pruning), shrinking the join inputs
    by orders of magnitude at 100 TB; the exact disjunction then filters
    the joined rows. This manual envelope-extraction is the documented
    pattern for OR-across-join predicates."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 30)
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
        & (F.col("p_size") <= 15)
    )
    j = l.join(p, F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(cond).agg(
        (
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            / F.lit(100.0)
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q119_rich_inactive_customers",
    f"""
    WITH pos AS (
      SELECT c_custkey, c_nationkey,
             {C.format(x='c_acctbal')} AS bal_c
      FROM customer WHERE c_acctbal > 0
    ),
    stats AS (SELECT sum(bal_c) AS s, count(*) AS n FROM pos)
    SELECT nn.n_name, CAST(count(*) AS BIGINT) AS numcust,
           sum(pos.bal_c) / 100.0 AS totacctbal
    FROM pos
    CROSS JOIN stats
    JOIN nation nn ON nn.n_nationkey = pos.c_nationkey
    WHERE pos.bal_c * stats.n > stats.s
      AND pos.c_custkey NOT IN
        (SELECT o_custkey FROM orders
         WHERE o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY 1
    """,
)
def q119_rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales-opportunity): customers with an
    above-average positive balance with no RECENT order (none since
    2001-01-01 — the date window Q22 puts on the order history; every
    customer in this corpus has SOME order), rolled up per nation. Two classic subquery forms at once: a scalar aggregate
    (global avg) and NOT IN against a fact table.

    Scale: the scalar (Σbal, n) is a 1-row broadcast; "above average" is
    exact integer algebra (bal·n > Σ — no float divide); NOT IN lowers to
    a LEFT ANTI join that shuffles on custkey (orders is SF-scaled — a
    value-list splice would OOM the driver); the O(25) nation join is
    broadcast. One fact shuffle total."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    pos = c.filter(F.col("c_acctbal") > 0).select(
        "c_custkey", "c_nationkey", cents("c_acctbal").alias("bal_c")
    )
    stats = pos.agg(
        F.sum("bal_c").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        pos.join(F.broadcast(stats))
        .filter(F.col("bal_c") * F.col("n") > F.col("s"))
        .join(
            o.filter(
                F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
            ).select("o_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("bal_c") / F.lit(100.0)).alias("totacctbal"),
        )
    )


@query(
    "q120_important_parts",
    f"""
    WITH val AS (
      SELECT l_partkey,
             sum({C.format(x='l_extendedprice * (1 - l_discount)')}) AS val_c
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT sum(val_c) AS tot_c, count(*) AS n_parts FROM val)
    SELECT val.l_partkey AS partkey, val.val_c / 100.0 AS value
    FROM val, tot
    WHERE val.val_c * tot.n_parts * 10 > tot.tot_c * 15
    """,
)
def q120_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose revenue share
    exceeds 1.5x the average part's share — HAVING against a scalar
    subquery over the same aggregate (Q11's fixed fraction made
    SF-relative so the survivor set is non-trivial at every scale).

    Scale: one partkey aggregate; the total re-aggregates THAT (not the
    base fact — no second lineitem pass); the threshold compare is exact
    integer (val·n·10 > tot·15) against a 1-row broadcast. The reference
    has no cross-row HAVING like this (single-table HAVING only,
    SURVEY §2.3)."""
    l = load_table(spark, sf_dir, "lineitem")
    val = l.groupBy("l_partkey").agg(
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "val_c"
        )
    )
    tot = val.agg(
        F.sum("val_c").alias("tot_c"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        val.join(F.broadcast(tot))
        .filter(F.col("val_c") * F.col("n_parts") * 10 > F.col("tot_c") * 15)
        .select(
            F.col("l_partkey").alias("partkey"),
            (F.col("val_c") / F.lit(100.0)).alias("value"),
        )
    )


@query(
    "q121_suppliers_at_fault",
    """
    WITH per_supp AS (
      SELECT l_orderkey, l_suppkey,
             max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
      FROM lineitem GROUP BY 1, 2
    ),
    per_order AS (
      SELECT l_orderkey, count(*) AS n_supp, sum(ret) AS n_ret
      FROM per_supp GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM per_supp ps
    JOIN per_order po ON po.l_orderkey = ps.l_orderkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    WHERE ps.ret = 1 AND po.n_supp >= 2 AND po.n_ret = 1
    GROUP BY 1, 2
    ORDER BY numwait DESC, s.s_suppkey
    LIMIT 20
    """,
)
def q121_suppliers_at_fault(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): in multi-
    supplier orders where EXACTLY ONE supplier had returned lines, blame
    that supplier — the EXISTS ∧ NOT-EXISTS double correlation, lowered
    to two chained aggregates on the orderkey axis instead of two
    correlated probes per row.

    Scale (round-6 single-exchange rewrite, guide §2.4): ONE explicit
    orderkey repartition up front (no count argument, so the width follows
    spark.sql.shuffle.partitions / AQE, not a local constant); hash(ok)
    satisfies the clustered distribution of BOTH aggregation grains
    ((ok,sk) and (ok)) and of the fault self-join, so the per-supplier
    flags, the per-order roll-up and the join all run WITHOUT further
    exchanges — the measured before-plan paid three separate lineitem-
    derived exchanges for the same data. The final per-supplier count is
    a small aggregate and the top-20 is TakeOrderedAndProject (no global
    sort). Deterministic: tie-broken by suppkey."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    # the explicit key null-filters (no-ops on TPC-H data: both keys are
    # spec-NOT-NULL, and the inner joins below drop null keys anyway) make
    # the two consumers of this exchange canonically IDENTICAL — without
    # them Spark infers isnotnull(l_suppkey) on only one branch and the
    # shuffle runs twice instead of being AQE-stage-reused
    lr = (
        l.filter(F.col("l_orderkey").isNotNull() & F.col("l_suppkey").isNotNull())
        .select(
            "l_orderkey",
            "l_suppkey",
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("retf"),
        )
        .repartition("l_orderkey")
    )
    per_supp = lr.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("retf").alias("ret")
    )
    per_order = per_supp.groupBy(F.col("l_orderkey")).agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("ret").alias("n_ret")
    )
    faults = (
        per_supp.filter(F.col("ret") == 1)
        .join(
            per_order.filter((F.col("n_supp") >= 2) & (F.col("n_ret") == 1)),
            "l_orderkey",
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return (
        faults.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey"))
        .limit(20)
    )


@query(
    "q122_order_value_deciles",
    f"""
    WITH r AS (
      SELECT {C.format(x='o_totalprice')} AS tp_c,
             row_number() OVER (
               ORDER BY {C.format(x='o_totalprice')}, o_orderkey) AS rn,
             count(*) OVER () AS n
      FROM orders
    )
    SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_orders,
           min(tp_c) / 100.0 AS lo,
           max(tp_c) / 100.0 AS hi,
           sum(tp_c) / 100.0 AS total
    FROM r GROUP BY 1
    """,
)
def q122_order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-depth deciles of order value (exact, distributed): every
    order ranked by (value, orderkey), decile = floor((rank−1)·10 / n).

    The naive form — NTILE/row_number over an unpartitioned window — is a
    single-task global sort at 100 TB. Here the rank comes from the
    two-phase distributed prefix scan (operators/prefix.running_total:
    range exchange → parallel local windows → per-partition offsets), so
    no stage sees more than one partition's rows; n is a 1-row broadcast.
    Exact integer rank math reproduces the oracle's row_number formula
    bit-for-bit (ties broken by orderkey)."""

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", cents("o_totalprice").alias("tp_c"), F.lit(1).alias("one")
    )
    ranked = running_total(o, ["tp_c", "o_orderkey"], "one", out_col="rn")
    n = o.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.join(F.broadcast(n))
        .withColumn(
            "decile", F.expr("((rn - 1) * 10) div n")
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.min("tp_c") / F.lit(100.0)).alias("lo"),
            (F.max("tp_c") / F.lit(100.0)).alias("hi"),
            (F.sum("tp_c") / F.lit(100.0)).alias("total"),
        )
    )


@query(
    "q127_bucketed_join",
    f"""
    SELECT o.o_orderstatus,
           sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')}) / 100.0
             AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q127_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over BUCKETED storage (sources/bucketed): orders
    and lineitem are materialized once, bucketed+sorted by orderkey with
    the same bucket count, and the revenue join then runs with NO
    shuffle exchange on either side — the optimizer proves co-location
    from the bucket spec (pinned by a plan test).

    This is the write-once/join-forever pattern for the 100 TB fact
    tables: the one shuffle happens at landing time; every subsequent
    orderkey join or aggregate reads co-located buckets. The final
    3-row status rollup still exchanges — that aggregate is on a
    different key and is tiny. Values are identical to the plain join
    (the oracle), since bucketing changes layout, not content."""

    # md5, not hash(): Python string hashing is PYTHONHASHSEED-randomized
    # per process, so hash()-derived table names were nondeterministic —
    # each run minted a new managed location and occasionally COLLIDED
    # with a stale one from an earlier process (LOCATION_ALREADY_EXISTS).

    # Bucket count sized from landing volume (~32 MB of source parquet per
    # bucket, power of two, min 8): a FIXED count serializes the one-time
    # sorted write AND caps the zero-exchange join's parallelism at scale
    # (measured 33.7x per 10x data at sf10 with 8 buckets — each bucket is
    # one task). Both tables take the SAME count — co-location requires it.
    try:
        mb = os.path.getsize(os.path.join(sf_dir, "lineitem.parquet")) >> 20
    except OSError:
        mb = 0
    nb = 8
    while nb < 256 and nb * 32 < mb:
        nb *= 2

    # nb rides in the table name (ADVICE r5): if a table created under an
    # earlier sizing rule survives in the session while its partner is
    # recreated with a new nb, mismatched bucket counts would silently
    # defeat the zero-exchange co-located join this query demonstrates
    tag = int(hashlib.md5(sf_dir.encode()).hexdigest()[:8], 16) % 10_000
    ot, lt = f"q127_orders_b{tag}_{nb}", f"q127_lineitem_b{tag}_{nb}"
    if not spark.catalog.tableExists(ot):
        write_bucketed(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderstatus"
            ),
            ot,
            ["o_orderkey"],
            nb,
            sort_cols=["o_orderkey"],
        )
    if not spark.catalog.tableExists(lt):
        write_bucketed(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            lt,
            ["l_orderkey"],
            nb,
            sort_cols=["l_orderkey"],
        )
    o = read_bucketed(spark, ot)
    l = read_bucketed(spark, lt)
    return (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            (
                F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                / F.lit(100.0)
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q132_cube_rollup",
    f"""
    SELECT c.c_mktsegment, o.o_orderpriority,
           CAST(GROUPING(c.c_mktsegment) * 2 + GROUPING(o.o_orderpriority)
                AS BIGINT) AS gid,
           sum({C.format(x='o.o_totalprice')}) / 100.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY CUBE (c.c_mktsegment, o.o_orderpriority)
    """,
)
def q132_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (market segment, order priority): every subtotal
    plane plus the grand total in ONE pass, labeled by grouping_id —
    the dashboard-panel completion of q39's linear ROLLUP.

    Spark expands the cube with a single Expand node feeding one
    partial+final hash aggregate (4 planes × input rows map-side, but
    combined before the shuffle), not four separate scans; gid bit
    order (leftmost column = MSB) matches GROUPING(a)·2 + GROUPING(b).
    The customer join is left to AQE (SF-scaled dim)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, F.col("c_custkey") == F.col("o_custkey"))
    return (
        j.cube("c_mktsegment", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            (F.sum(cents("o_totalprice")) / F.lit(100.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select("c_mktsegment", "o_orderpriority", "gid", "revenue", "n_orders")
    )


@query(
    "q145_unpivot_measures",
    f"""
    SELECT l_returnflag, measure,
           CAST(count(*) AS BIGINT) AS n,
           sum(CAST(floor(val * 100 + 0.5) AS BIGINT)) AS sum_c
    FROM (
      UNPIVOT (SELECT l_returnflag, l_extendedprice, l_discount, l_tax
               FROM lineitem)
      ON l_extendedprice, l_discount, l_tax
      INTO NAME measure VALUE val
    )
    GROUP BY 1, 2
    """,
)
def q145_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long): lineitem's three money columns melted into
    (measure, value) rows and aggregated per return flag — the inverse
    of crosstab/pivot, the reshape every metrics store needs when
    columns must become series. Native `DataFrame.unpivot` (Spark's
    Expand node: rows multiply by the measure count BEFORE the partial
    aggregate, so map-side combine holds and no shuffle carries wide
    rows). Values re-quantize to cents after the melt in both
    engines."""
    l = load_table(spark, sf_dir, "lineitem")
    melted = l.unpivot(
        ["l_returnflag"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    )
    return melted.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("val")).alias("sum_c"),
    )


def _pagerank_oracle(iters: int = 4) -> str:
    edges = f"""
    edges AS (
      SELECT sn.n_name AS src, cn.n_name AS dst,
             sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')}) AS w
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    ow AS (SELECT src, sum(w) AS outw FROM edges GROUP BY 1),
    e AS (SELECT edges.src, edges.dst, edges.w, ow.outw
          FROM edges JOIN ow USING (src)),
    r0 AS (SELECT n_name AS node, 1.0/25.0 AS pr FROM nation)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(
            f"""
    m{i} AS (
      SELECT e.dst,
             sum(CAST(floor(0.85 * r.pr * e.w / e.outw * 1000000.0 + 0.5)
                      AS BIGINT)) AS m
      FROM e JOIN r{i-1} r ON r.node = e.src GROUP BY 1
    ),
    r{i} AS (
      SELECT n.n_name AS node,
             0.006 + CAST(coalesce(m{i}.m, 0) AS DOUBLE)/1000000.0 AS pr
      FROM nation n LEFT JOIN m{i} ON m{i}.dst = n.n_name
    )"""
        )
    return (
        "WITH" + edges + "," + ",".join(steps) +
        f"\n    SELECT node AS nation, pr AS pagerank FROM r{iters}"
    )


@query("q155_pagerank", _pagerank_oracle(4))
def q155_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation-level trade graph (edges = supplier-nation →
    customer-nation, weighted by exact cents revenue): 4 synchronous power
    iterations, damping 0.85, uniform init.

    The iterative-with-caching pattern: the edge list (the expensive 5-way
    join) is built ONCE and persisted; each iteration is then one broadcast
    join of the 25-row rank vector onto the cached edges plus one map-side-
    combined aggregate — at 100 TB the edge list lives partitioned by src
    across the cluster and the rank vector stays a broadcast variable, so
    per-iteration cost is a single co-located pass, no fact re-join.

    Cross-engine determinism: per-edge contributions are quantized to
    integer micro-units BEFORE the per-node sum (integer addition is
    associative under any partitioning), and each new rank is the same
    fixed IEEE expression over those exact integers; 1e-6 quantization per
    iteration is ~1e5 times below any rank gap. Dangling nations leak mass
    identically in both engines (none exist in this graph's 25×25 matrix)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("src"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("dst"))
    edges = (
        l.join(s.select("s_suppkey", "s_nationkey"),
               F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .join(o.select("o_orderkey", "o_custkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c.select("c_custkey", "c_nationkey"),
              F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .groupBy("src", "dst")
        .agg(F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
             .alias("w"))
    )
    ow = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    # localCheckpoint (not persist): released by the ContextCleaner when
    # the returned frame is dropped — a persist here leaked a cache entry
    # per query invocation over a long driver session
    e = edges.join(ow, "src").localCheckpoint(eager=False)
    nodes = n.select(F.col("n_name").alias("node"))
    r = nodes.withColumn("pr", F.lit(1.0) / F.lit(25.0))
    for _ in range(4):
        contrib = e.join(F.broadcast(r), F.col("node") == F.col("src")).select(
            "dst",
            F.floor(
                F.lit(0.85) * F.col("pr") * F.col("w") / F.col("outw")
                * F.lit(1000000.0) + F.lit(0.5)
            ).cast("long").alias("m"),
        )
        agg = contrib.groupBy("dst").agg(F.sum("m").alias("m"))
        r = nodes.join(agg, F.col("node") == F.col("dst"), "left").select(
            "node",
            (F.lit(0.006) + F.coalesce(F.col("m"), F.lit(0)).cast("double")
             / F.lit(1000000.0)).alias("pr"),
        )
    return r.select(F.col("node").alias("nation"), F.col("pr").alias("pagerank"))


@query(
    "q156_market_share",
    f"""
    WITH base AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             sn.n_name AS supp_nation,
             {C.format(x='l.l_extendedprice * (1 - l.l_discount)')} AS vc
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = cn.n_regionkey AND r.r_name = 'EUROPE'
    ),
    tot AS (SELECT o_year, sum(vc) AS t FROM base GROUP BY 1)
    SELECT b.o_year, b.supp_nation,
           sum(b.vc)/100.0 AS revenue,
           CAST(sum(b.vc) AS DOUBLE) / CAST(max(t.t) AS DOUBLE) AS mkt_share
    FROM base b JOIN tot t ON t.o_year = b.o_year
    GROUP BY 1, 2
    """,
)
def q156_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (adapted to available columns): each supplier
    nation's share of PROMO-part revenue sold into the EUROPE market, by
    order year. Share is a ratio of exact integer cent sums.

    Plan: part/nation/region dims broadcast; supplier and customer left to
    AQE; one orders⋈lineitem orderkey shuffle; the yearly total reuses the
    small per-(year, nation) aggregate rather than re-scanning the facts —
    a second pass over 25×7 rows, not 100 TB."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey"))
    base = (
        l.join(F.broadcast(p.select("p_partkey")), F.col("p_partkey") == F.col("l_partkey"))
        .join(s.select("s_suppkey", "s_nationkey"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .join(o.select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c.select("c_custkey", "c_nationkey"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .join(F.broadcast(r.select("r_regionkey")), F.col("r_regionkey") == F.col("cn_rkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            "supp_nation",
            cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("vc"),
        )
    )
    per = base.groupBy("o_year", "supp_nation").agg(F.sum("vc").alias("v"))
    tot = per.groupBy("o_year").agg(F.sum("v").alias("t"))
    return per.join(tot, "o_year").select(
        "o_year",
        "supp_nation",
        (F.col("v") / F.lit(100.0)).alias("revenue"),
        (F.col("v").cast("double") / F.col("t").cast("double")).alias("mkt_share"),
    )


@query(
    "q157_profit_by_nation_year",
    f"""
    SELECT sn.n_name AS supp_nation,
           CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')}
               - {C.format(x='p.p_retailprice * l.l_quantity * 0.1')})/100.0
             AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE contains(lower(p.p_name), 'a')
    GROUP BY 1, 2
    """,
)
def q157_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: supply cost modeled as 10% of retail price
    per unit — the schema has no partsupp): profit per supplier nation per
    year over parts whose name contains 'a'. Exact integer cents on both
    revenue and cost terms before the sum."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.lower(F.col("p_name")).contains("a")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    sn = n.select(F.col("n_nationkey").alias("sn_key"),
                  F.col("n_name").alias("supp_nation"))
    return (
        l.join(F.broadcast(p.select("p_partkey", "p_retailprice")),
               F.col("p_partkey") == F.col("l_partkey"))
        .join(s.select("s_suppkey", "s_nationkey"),
              F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .join(o.select("o_orderkey", "o_orderdate"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("supp_nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(
                    cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    - cents(F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1))
                ) / F.lit(100.0)
            ).alias("profit")
        )
    )


@query(
    "q170_rfm_segments",
    f"""
    WITH o AS (
      SELECT o_custkey,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) AS es,
             {C.format(x='o_totalprice')} AS vc
      FROM orders
    ),
    mx AS (SELECT max(es) AS maxe FROM o),
    per AS (
      SELECT o_custkey,
             CAST((mx.maxe - max(o.es)) / 86400 AS BIGINT) AS recency_days,
             count(*) AS freq,
             sum(o.vc) AS monetary_c
      FROM o, mx GROUP BY 1, mx.maxe
    ),
    scored AS (
      SELECT o_custkey, monetary_c,
             ntile(5) OVER (ORDER BY recency_days ASC, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary_c DESC, o_custkey) AS m_score
      FROM per
    )
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           count(*) AS n_customers,
           sum(monetary_c)/100.0 AS total_monetary
    FROM scored GROUP BY 1, 2, 3
    """,
)
def q170_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quintile scores for recency (days since
    last order, integer epoch math), frequency, and monetary (exact
    cents), each ntile'd under a total order (metric + custkey tiebreak,
    so quintile edges are deterministic), rolled up to segment counts.
    The classic OLAP segmentation panel; one customer aggregate + three
    windows over it."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey",
        timeops.bucket_epoch("o_orderdate", 1).alias("es"),
        cents("o_totalprice").alias("vc"),
    )
    maxe = base.agg(F.max("es").alias("maxe"))
    per = (
        base.crossJoin(F.broadcast(maxe))
        .groupBy("o_custkey", "maxe")
        .agg(
            ((F.col("maxe") - F.max("es")) / F.lit(86400)).cast("long").alias(
                "recency_days"
            ),
            F.count(F.lit(1)).alias("freq"),
            F.sum("vc").alias("monetary_c"),
        )
    )
    scored = per.select(
        "o_custkey",
        "monetary_c",
        F.ntile(5).over(Window.orderBy(F.col("recency_days").asc(), "o_custkey")).alias("r_score"),
        F.ntile(5).over(Window.orderBy(F.col("freq").desc(), "o_custkey")).alias("f_score"),
        F.ntile(5).over(Window.orderBy(F.col("monetary_c").desc(), "o_custkey")).alias("m_score"),
    )
    return scored.groupBy(
        F.col("r_score").cast("long").alias("r_score"),
        F.col("f_score").cast("long").alias("f_score"),
        F.col("m_score").cast("long").alias("m_score"),
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.sum("monetary_c") / F.lit(100.0)).alias("total_monetary"),
    )


_TRADE_EDGES_SQL = f"""
    edges0 AS (
      SELECT least(sn.n_name, cn.n_name) AS a,
             greatest(sn.n_name, cn.n_name) AS b,
             sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')}) AS w
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      WHERE sn.n_name <> cn.n_name
      GROUP BY 1, 2
    ),
    stats AS (SELECT sum(w) AS tw, count(*) AS ne FROM edges0),
    edges AS (
      SELECT a, b FROM edges0, stats WHERE w * ne >= tw
    )
"""


@query(
    "q171_trade_triangles",
    f"""
    WITH {_TRADE_EDGES_SQL},
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pernode AS (
      SELECT n, count(*) AS n_triangles FROM (
        SELECT x AS n FROM tri UNION ALL
        SELECT y FROM tri UNION ALL
        SELECT z FROM tri
      ) GROUP BY 1
    ),
    deg AS (
      SELECT n, count(*) AS d FROM (
        SELECT a AS n FROM edges UNION ALL SELECT b FROM edges
      ) GROUP BY 1
    )
    SELECT deg.n AS nation, coalesce(pernode.n_triangles, 0) AS n_triangles,
           CAST(deg.d AS BIGINT) AS degree,
           CASE WHEN deg.d >= 2
                THEN CAST(2 * coalesce(pernode.n_triangles, 0) AS DOUBLE)
                     / (deg.d * (deg.d - 1))
                ELSE 0.0 END AS clustering_coef
    FROM deg LEFT JOIN pernode ON pernode.n = deg.n
    """,
)
def q171_trade_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient over the
    above-average-weight trade graph (undirected nation pairs; the
    above-MEAN filter is a ratio of exact integers, so the edge set is
    scale-invariant and engine-exact). Triangles enumerate once each via
    the ordered two-join (a<b<c) — the standard distributed formulation
    whose join volume is Σ deg², not 3^n; per-node counts and
    C(deg,2)-normalized coefficients follow from one union aggregate."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("s_nat"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("c_nat"))
    e0 = (
        l.join(s.select("s_suppkey", "s_nationkey"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .join(o.select("o_orderkey", "o_custkey"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c.select("c_custkey", "c_nationkey"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .filter(F.col("s_nat") != F.col("c_nat"))
        .groupBy(
            F.least("s_nat", "c_nat").alias("a"),
            F.greatest("s_nat", "c_nat").alias("b"),
        )
        .agg(F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("w"))
    )
    stats = e0.agg(F.sum("w").alias("tw"), F.count(F.lit(1)).alias("ne"))
    edges = (
        e0.crossJoin(F.broadcast(stats))
        .filter(F.col("w") * F.col("ne") >= F.col("tw"))
        .select("a", "b")
        # localCheckpoint (not persist): ContextCleaner frees the blocks
        # when the result frame is GC'd; persist leaked per invocation
        .localCheckpoint(eager=False)
    )
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    pernode = (
        tri.select(F.col("x").alias("n"))
        .unionByName(tri.select(F.col("y").alias("n")))
        .unionByName(tri.select(F.col("z").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        edges.select(F.col("a").alias("n"))
        .unionByName(edges.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return deg.join(pernode, "n", "left").select(
        F.col("n").alias("nation"),
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        F.col("d").cast("long").alias("degree"),
        F.when(
            F.col("d") >= 2,
            (F.lit(2.0) * F.coalesce(F.col("n_triangles"), F.lit(0)))
            / (F.col("d") * (F.col("d") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coef"),
    )


@query(
    "q173_share_of_parent",
    f"""
    WITH b AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             sum({C.format(x='o.o_totalprice')}) AS rev_c
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation,
           rev_c/100.0 AS revenue,
           CAST(rev_c AS DOUBLE)
             / CAST(sum(rev_c) OVER (PARTITION BY region) AS DOUBLE)
             AS share_of_region,
           CAST(sum(rev_c) OVER (PARTITION BY region) AS DOUBLE)
             / CAST(sum(rev_c) OVER () AS DOUBLE)
             AS region_share_of_total
    FROM b
    """,
)
def q173_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent hierarchy rollup (nation share of region, region
    share of total) — the drill-down ratio panel every OLAP UI wants. One
    fact aggregate; both shares are window sums OVER THE 25-ROW AGGREGATE,
    so the windows cost nothing at any fact scale. Ratios of exact cent
    integers."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    nd = n.select(F.col("n_nationkey").alias("nk"), F.col("n_name").alias("nation"),
                  F.col("n_regionkey").alias("rk"))
    rd = r.select(F.col("r_regionkey").alias("rk"), F.col("r_name").alias("region"))
    b = (
        o.join(c.select("c_custkey", "c_nationkey"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nd), F.col("nk") == F.col("c_nationkey"))
        .join(F.broadcast(rd), "rk")
        .groupBy("region", "nation")
        .agg(F.sum(cents("o_totalprice")).alias("rev_c"))
    )
    w_r = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return b.select(
        "region",
        "nation",
        (F.col("rev_c") / F.lit(100.0)).alias("revenue"),
        (F.col("rev_c").cast("double") / F.sum("rev_c").over(w_r).cast("double")).alias(
            "share_of_region"
        ),
        (
            F.sum("rev_c").over(w_r).cast("double")
            / F.sum("rev_c").over(w_all).cast("double")
        ).alias("region_share_of_total"),
    )


@query(
    "q174_customer_snapshot_diff",
    f"""
    WITH a AS (
      SELECT o_custkey, sum({C.format(x='o_totalprice')}) AS rev_c,
             count(*) AS n
      FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
      GROUP BY 1
    ),
    b AS (
      SELECT o_custkey, sum({C.format(x='o_totalprice')}) AS rev_c,
             count(*) AS n
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        AND o_orderdate < TIMESTAMP '2001-01-01'
      GROUP BY 1
    ),
    j AS (
      SELECT coalesce(a.o_custkey, b.o_custkey) AS cust,
             a.rev_c AS rev_a, b.rev_c AS rev_b,
             CASE WHEN a.o_custkey IS NULL THEN 'new'
                  WHEN b.o_custkey IS NULL THEN 'churned'
                  ELSE 'active' END AS status
      FROM a FULL OUTER JOIN b ON b.o_custkey = a.o_custkey
    )
    SELECT status, count(*) AS n_customers,
           coalesce(sum(rev_a), 0)/100.0 AS revenue_before,
           coalesce(sum(rev_b), 0)/100.0 AS revenue_after
    FROM j GROUP BY 1
    """,
)
def q174_customer_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (SCD-style churn panel): customers present only
    before the cutoff are 'churned', only after are 'new', both sides
    'active', with exact cent revenue on each side. One full-outer join
    of two period aggregates on the customer key — both sides shrink to
    per-customer rows BEFORE the join, so the exchange is keyed on
    customers, not orders."""
    o = load_table(spark, sf_dir, "orders")
    cut = "1999-01-01"
    hi = "2001-01-01"
    a = (
        o.filter(F.col("o_orderdate") < cut)
        .groupBy("o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("rev_a"))
        .withColumnRenamed("o_custkey", "ck_a")
    )
    b = (
        o.filter((F.col("o_orderdate") >= cut) & (F.col("o_orderdate") < hi))
        .groupBy("o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("rev_b"))
        .withColumnRenamed("o_custkey", "ck_b")
    )
    j = a.join(b, a["ck_a"] == b["ck_b"], "full_outer").select(
        F.when(F.col("ck_a").isNull(), "new")
        .when(F.col("ck_b").isNull(), "churned")
        .otherwise("active")
        .alias("status"),
        "rev_a",
        "rev_b",
    )
    return j.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.coalesce(F.sum("rev_a"), F.lit(0)) / F.lit(100.0)).alias("revenue_before"),
        (F.coalesce(F.sum("rev_b"), F.lit(0)) / F.lit(100.0)).alias("revenue_after"),
    )


@query(
    "q200_fk_integrity",
    """
    WITH
    e1 AS (
      SELECT 'lineitem->orders' AS relation, ck.n, p.k AS pk FROM
        (SELECT l_orderkey AS k, count(*) AS n FROM lineitem GROUP BY 1) ck
        FULL OUTER JOIN (SELECT o_orderkey AS k FROM orders) p ON ck.k = p.k
    ),
    e2 AS (
      SELECT 'lineitem->part' AS relation, ck.n, p.k AS pk FROM
        (SELECT l_partkey AS k, count(*) AS n FROM lineitem GROUP BY 1) ck
        FULL OUTER JOIN (SELECT p_partkey AS k FROM part) p ON ck.k = p.k
    ),
    e3 AS (
      SELECT 'lineitem->supplier' AS relation, ck.n, p.k AS pk FROM
        (SELECT l_suppkey AS k, count(*) AS n FROM lineitem GROUP BY 1) ck
        FULL OUTER JOIN (SELECT s_suppkey AS k FROM supplier) p ON ck.k = p.k
    ),
    e4 AS (
      SELECT 'orders->customer' AS relation, ck.n, p.k AS pk FROM
        (SELECT o_custkey AS k, count(*) AS n FROM orders GROUP BY 1) ck
        FULL OUTER JOIN (SELECT c_custkey AS k FROM customer) p ON ck.k = p.k
    ),
    u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2
          UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4)
    SELECT relation,
           CAST(coalesce(sum(n), 0) AS BIGINT) AS n_child_rows,
           CAST(coalesce(sum(CASE WHEN pk IS NULL THEN n END), 0) AS BIGINT) AS n_orphan_rows,
           CAST(sum(CASE WHEN n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_childless_parents
    FROM u GROUP BY 1
    """,
)
def q200_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the TPC-H foreign-key graph:
    per FK edge, child-row count, orphaned child rows (no parent), and
    childless parents — the first thing a warehouse load validates.

    Scale shape: each edge is ONE pre-aggregated child-key count frame
    full-outer-joined to the parent-key column (both key-partitioned hash
    joins, never row-level child×parent), folded to a single row; four
    edges union to the panel."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")

    def edge(name, child, ckey, parent, pkey):
        ck = child.groupBy(F.col(ckey).alias("k")).agg(F.count(F.lit(1)).alias("n"))
        pp = parent.select(F.col(pkey).alias("k"), F.lit(1).alias("p"))
        j = ck.join(pp, "k", "full_outer")
        return j.agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_child_rows"),
            F.coalesce(F.sum(F.when(F.col("p").isNull(), F.col("n"))), F.lit(0)).alias(
                "n_orphan_rows"
            ),
            F.sum(F.when(F.col("n").isNull(), 1).otherwise(0)).alias(
                "n_childless_parents"
            ),
        ).select(F.lit(name).alias("relation"), "*")

    return (
        edge("lineitem->orders", li, "l_orderkey", orders, "o_orderkey")
        .unionByName(edge("lineitem->part", li, "l_partkey", part, "p_partkey"))
        .unionByName(edge("lineitem->supplier", li, "l_suppkey", supplier, "s_suppkey"))
        .unionByName(edge("orders->customer", orders, "o_custkey", customer, "c_custkey"))
    )


@query(
    "q217_supplier_hhi",
    f"""
    WITH r AS (
      SELECT n.n_name AS nation, s.s_suppkey AS supp,
             sum({C.format(x='l.l_extendedprice * (1 - l.l_discount)')}) AS rev_cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY 1, 2
    ),
    t AS (SELECT nation, sum(rev_cents) AS tot FROM r GROUP BY 1),
    q AS (
      SELECT r.nation,
             CAST(floor(
               (CAST(r.rev_cents AS DOUBLE) / t.tot)
               * (CAST(r.rev_cents AS DOUBLE) / t.tot) * 1000000000 + 0.5
             ) AS BIGINT) AS sh2_nano
      FROM r JOIN t USING (nation)
    )
    SELECT nation, CAST(count(*) AS BIGINT) AS n_suppliers,
           sum(sh2_nano) / 1000000000.0 AS hhi
    FROM q GROUP BY 1
    """,
)
def q217_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration HHI per nation: the Herfindahl index of
    revenue shares (1/N for perfect competition → 1.0 for a monopoly) —
    the market-concentration rollup next to q156's share table.

    Determinism: revenues are exact cents; each supplier's squared share
    is one fixed IEEE expression nano-quantized per DISTINCT supplier
    before the per-nation integer sum (the ln() policy). Scale shape: one
    fact aggregate keyed (nation, supplier); supplier scales with SF so
    AQE picks its join side (no hint, per SCALE.md), nation broadcasts;
    totals joined back per nation."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation")
    r = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("s_suppkey").alias("supp"))
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "rev_cents"
            )
        )
    )
    t = r.groupBy("nation").agg(F.sum("rev_cents").alias("tot"))
    share = F.col("rev_cents").cast("double") / F.col("tot")
    q = r.join(t, "nation").select(
        "nation",
        F.floor(share * share * F.lit(1_000_000_000) + F.lit(0.5))
        .cast("long")
        .alias("sh2_nano"),
    )
    return q.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        (F.sum("sh2_nano") / F.lit(1_000_000_000.0)).alias("hhi"),
    )


@query(
    "q221_min_cost_supplier",
    f"""
    WITH ps AS (
      SELECT l_partkey AS part, l_suppkey AS supp,
             sum({C.format(x='l_extendedprice')}) AS price_c,
             sum(CAST(l_quantity AS BIGINT)) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    ranked AS (
      SELECT part, supp, (price_c * 10000) // qty AS unit_microcents,
             row_number() OVER (
               PARTITION BY part
               ORDER BY (price_c * 10000) // qty, supp) AS rk
      FROM ps
    )
    SELECT p.p_partkey AS part, p.p_name AS part_name, r.supp AS supp,
           n.n_name AS nation, r.unit_microcents AS unit_microcents
    FROM ranked r
    JOIN part p ON p.p_partkey = r.part AND p.p_size = 15
    JOIN supplier s ON s.s_suppkey = r.supp
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE r.rk = 1
    """,
)
def q221_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier per part (TPC-H Q2's correlated-subquery
    shape, adapted: no partsupp table, so unit cost is observed
    sum(extendedprice)/sum(quantity) per (part, supplier) from lineitem):
    for every size-15 part, the supplier offering the lowest unit price
    and their nation. The classic `WHERE cost = (SELECT min(cost) ...)`
    pattern, expressed as one shared aggregate + per-part rank instead
    of a re-executed correlated scan.

    Determinism: unit cost is exact integer micro-cents via BIGINT
    floor-division (quantities are integral; all values positive, so
    Spark `div` and DuckDB `//` agree); rank ties break on suppkey.
    Scale shape: the size-15 part filter joins INTO the fact aggregate
    (the oracle filters after ranking — same per-part result, but Spark
    only aggregates matching rows), then one part-sized window; part and
    supplier scale with SF so AQE picks their join side (no hint, per
    SCALE.md); only nation (O(1) rows) carries a broadcast hint."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    p15 = part.filter(F.col("p_size") == 15).select("p_partkey", "p_name")
    ps = (
        li.join(p15, li.l_partkey == p15.p_partkey)
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.col("l_suppkey").alias("supp"),
            F.col("p_name").alias("part_name"),
        )
        .agg(
            F.sum(cents(F.col("l_extendedprice"))).alias("price_c"),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        )
    )
    cost = ps.withColumn("unit_microcents", F.expr("(price_c * 10000) div qty"))
    w = Window.partitionBy("part").orderBy("unit_microcents", "supp")
    best = cost.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        best.join(supp.select("s_suppkey", "s_nationkey"), best.supp == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .select(
            "part",
            "part_name",
            "supp",
            F.col("n_name").alias("nation"),
            "unit_microcents",
        )
    )

"""Relational operator coverage over the TPC-H-ish driver tables.

The reference performs these operations implicitly in Python loops
(SURVEY.md §2.3-§2.7: joins J1-J7, aggregations A1-A12, windows W1-W6,
sort/limit O1-O4, set ops M5); here each is the idiomatic Catalyst plan:
broadcast joins for dims, partial aggregation, window functions, AQE-sized
shuffles. Every query has a DuckDB oracle.

Scale notes: small dims (region/nation/supplier/customer at any SF ratio)
are explicitly ``broadcast()``; fact-fact joins shuffle on their keys and
are left to AQE for skew/coalesce.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from martial_arts_ocr_spark.queries.tables import base_table


# --- Q1-style pricing summary (agg kernel A2/A3 analogue) -------------------

def q_pricing_summary(spark, sf_dir):
    li = base_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS sum_disc_price,
       round(CAST(avg(l_quantity) AS DOUBLE), 2) AS avg_qty,
       round(CAST(avg(l_discount) AS DOUBLE), 4) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- top revenue customers (join + agg + top-k) ------------------------------

def q_top_revenue_customers(spark, sf_dir):
    li = base_table(spark, sf_dir, "lineitem")
    orders = base_table(spark, sf_dir, "orders")
    cust = base_table(spark, sf_dir, "customer")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )
    return rev


ORACLE_TOP_REV = """
SELECT c_custkey, c_name,
       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 10
"""


# --- order priority count (filter + group) -----------------------------------

def q_order_priority(spark, sf_dir):
    orders = base_table(spark, sf_dir, "orders")
    return (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORACLE_PRIORITY = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- region→nation→customer broadcast-join rollup ----------------------------

def q_region_balance(spark, sf_dir):
    region = base_table(spark, sf_dir, "region")
    nation = base_table(spark, sf_dir, "nation")
    cust = base_table(spark, sf_dir, "customer")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_balance"),
        )
        .orderBy("r_name")
    )


ORACLE_REGION_BAL = """
SELECT r_name, CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(avg(c_acctbal) AS DOUBLE), 2) AS avg_balance
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


# --- window: top-3 parts per brand by price (W6 top-K analogue) ---------------

def q_top_parts_per_brand(spark, sf_dir):
    part = base_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        part.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_name",
                F.round("p_retailprice", 2).alias("price"), "rk")
        .orderBy("p_brand", "rk")
    )


ORACLE_TOP_PARTS = """
SELECT p_brand, p_partkey, p_name,
       round(CAST(p_retailprice AS DOUBLE), 2) AS price, rk
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY p_brand
              ORDER BY p_retailprice DESC, p_partkey ASC) AS INTEGER) AS rk
  FROM part
) WHERE rk <= 3
ORDER BY p_brand, rk
"""


# --- semi / anti joins (checkpoint-resume primitive, SURVEY §2.3) -------------

def q_customers_with_orders(spark, sf_dir):
    cust = base_table(spark, sf_dir, "customer")
    orders = base_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


ORACLE_SEMI = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def q_customers_without_orders(spark, sf_dir):
    cust = base_table(spark, sf_dir, "customer")
    orders = base_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


ORACLE_ANTI = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


# --- set ops (M5) -------------------------------------------------------------

def q_custkeys_1996_not_1997(spark, sf_dir):
    orders = base_table(spark, sf_dir, "orders")
    y96 = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    ).select("o_custkey")
    y97 = orders.where(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_custkey")
    # subtract = SQL EXCEPT (set semantics, distinct both sides)
    return y96.subtract(y97).orderBy("o_custkey")


ORACLE_SETOP = """
SELECT DISTINCT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
EXCEPT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
ORDER BY o_custkey
"""


# --- rollup (grouping-set agg) --------------------------------------------------

def q_orders_rollup(spark, sf_dir):
    orders = base_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


ORACLE_ROLLUP = """
SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


# --- events: hourly windowed agg (streaming-shaped batch query) ----------------

def q_events_hourly(spark, sf_dir):
    ev = base_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("hour", "event_type")
    )


ORACLE_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- events: sessionization via lag (W4 gap-rule analogue) ---------------------

def q_events_sessions(spark, sf_dir):
    # microsecond-exact gap via NTZ interval subtraction (same hazard as
    # events_gap_flags: unix_timestamp truncates to seconds, epoch() keeps
    # the fraction — a gap in (1800, 1801) s would diverge)
    ev = base_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    big = (F.col("ts") - prev) > F.expr("INTERVAL 1800 SECOND")
    marked = ev.withColumn(
        "new_session", F.when(prev.isNull() | big, 1).otherwise(0),
    )
    return (
        marked.groupBy("user_id")
        .agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


ORACLE_SESSIONS = """
SELECT user_id,
       CAST(sum(new_session) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id)) > 1800000000::BIGINT
              THEN 1 ELSE 0 END AS new_session
  FROM events
) GROUP BY user_id ORDER BY user_id
"""


QUERIES = {
    "pricing_summary": q_pricing_summary,
    "top_revenue_customers": q_top_revenue_customers,
    "order_priority": q_order_priority,
    "region_balance": q_region_balance,
    "top_parts_per_brand": q_top_parts_per_brand,
    "customers_with_orders": q_customers_with_orders,
    "customers_without_orders": q_customers_without_orders,
    "custkeys_1996_not_1997": q_custkeys_1996_not_1997,
    "orders_rollup": q_orders_rollup,
    "events_hourly": q_events_hourly,
    "events_sessions": q_events_sessions,
}

ORACLES = {
    "pricing_summary": ORACLE_PRICING,
    "top_revenue_customers": ORACLE_TOP_REV,
    "order_priority": ORACLE_PRIORITY,
    "region_balance": ORACLE_REGION_BAL,
    "top_parts_per_brand": ORACLE_TOP_PARTS,
    "customers_with_orders": ORACLE_SEMI,
    "customers_without_orders": ORACLE_ANTI,
    "custkeys_1996_not_1997": ORACLE_SETOP,
    "orders_rollup": ORACLE_ROLLUP,
    "events_hourly": ORACLE_EVENTS_HOURLY,
    "events_sessions": ORACLE_SESSIONS,
}

"""Extended relational surface: TPC-H-shaped queries adapted to the
driver's schema (no partsupp / receiptdate / shipmode columns), plus
window frames, pivot, cube, exact percentiles, set-difference and an
as-of join — the remainder of the standard analytic operator zoo.

Same contract as operators/relational.py: every query is declarative
DataFrame code (Catalyst handles pushdown/join order/AQE), every
aggregate aliased identically to its DuckDB oracle, floats rounded on
both sides so partition summation order can't flip the value hash.

Scale notes (100 TB):
- Every query here shuffles the fact table at most once (on its
  group/join key); dimensions are broadcast.
- q17/q22-style correlated subqueries are expressed as aggregate +
  join, the shape Catalyst would decorrelate to anyway — no per-row
  subquery execution.
- The as-of join is a single window pass (no range self-join blowup);
  at scale it shuffles events once on user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stac_geoparquet_spark.operators._io import read_table
from stac_geoparquet_spark.operators.relational import _dsum


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# --------------------------------------------------------------------------
# Q6 — forecast revenue change: single scan, every predicate pushed to
# the parquet reader (check: PushedFilters on shipdate/discount/qty).
# --------------------------------------------------------------------------
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dsum(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "revenue"
            )
        )
    )


Q6_SQL = """
SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


# --------------------------------------------------------------------------
# Q7 — volume shipping between two nations, by year. nation is joined
# twice under different roles (supplier side / customer side).
# --------------------------------------------------------------------------
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    n1 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(_dsum(_rev()).alias("revenue"))
    )


Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""


# --------------------------------------------------------------------------
# Q9 — product-type profit by nation and year (adapted: no partsupp, so
# profit = discounted revenue for parts matching a name pattern).
# --------------------------------------------------------------------------
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("bigint").alias("o_year"),
        )
        .agg(_dsum(_rev()).alias("sum_profit"))
    )


Q9_SQL = """
SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%bolt%'
GROUP BY n_name, year(l_shipdate)
"""


# --------------------------------------------------------------------------
# Q10 — returned-item reporting: top 20 customers by lost revenue.
# --------------------------------------------------------------------------
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        # decimal accumulation: the double sum for one group here lands
        # exactly on a round-half boundary (x.595), where summation
        # order flips the rounded cent — decimal(18,6) terms make the
        # sum exact and order-independent on both engines
        .agg(
            F.round(F.sum(_rev().cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# --------------------------------------------------------------------------
# Q13 — customer order-count distribution (left outer join + double agg).
# --------------------------------------------------------------------------
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) t
GROUP BY c_count
"""


# --------------------------------------------------------------------------
# Q14 — promotion effect: conditional aggregate ratio over one month.
# --------------------------------------------------------------------------
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    part = read_table(spark, sf_dir, "part")
    rev = _rev()
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev)
                    .otherwise(0.0)
                    .cast("decimal(18,6)")
                ).cast("double")
                / F.sum(rev.cast("decimal(18,6)")).cast("double"),
                4,
            ).alias("promo_revenue_pct")
        )
    )


Q14_SQL = """
SELECT round(100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE),
             4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-06-01'
  AND l_shipdate <  TIMESTAMP '1996-07-01'
"""


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue. The correlated scalar subquery
# (avg quantity per part) is decorrelated into an aggregate + join —
# the plan Catalyst produces for the subquery form anyway. The
# threshold table is one row per distinct partkey (sf-proportional),
# so its join is left to AQE: broadcast at small sf, shuffle at scale.
# --------------------------------------------------------------------------
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast(
                    "double"
                )
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


Q17_SQL = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (
    SELECT 0.2 * avg(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey
  )
"""


# --------------------------------------------------------------------------
# Q18 — large-volume customers: HAVING on a fact aggregate, joined back
# to orders/customer.
# --------------------------------------------------------------------------
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING round(sum(l_quantity), 2) > 250
) big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


# --------------------------------------------------------------------------
# Q19 — disjunctive predicate revenue (brand x quantity bands).
# --------------------------------------------------------------------------
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    b = F.col("p_brand")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(
            ((b == "Brand#1") & q.between(1, 15))
            | ((b == "Brand#2") & q.between(10, 25))
            | ((b == "Brand#3") & q.between(20, 35))
        )
        .agg(_dsum(_rev()).alias("revenue"))
    )


Q19_SQL = """
SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 35)
"""


# --------------------------------------------------------------------------
# Q22 — idle high-balance customers: scalar subquery threshold + anti
# join, grouped by segment.
# --------------------------------------------------------------------------
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("abal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("abal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


Q22_SQL = """
SELECT c_mktsegment, count(*) AS numcust, CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01'
  )
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# CUBE over lineitem flags — all four grouping-set grains in one shuffle.
# --------------------------------------------------------------------------
def cube_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("line_count"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


CUBE_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS line_count,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
HAVING count(*) > 0
"""


# --------------------------------------------------------------------------
# PIVOT order status x priority (Spark pivot == conditional-count SQL).
# --------------------------------------------------------------------------
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    piv = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("f_count"),
        F.coalesce(F.col("O"), F.lit(0)).alias("o_count"),
        F.coalesce(F.col("P"), F.lit(0)).alias("p_count"),
    )


PIVOT_SQL = """
SELECT o_orderpriority,
       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS f_count,
       count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o_count,
       count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS p_count
FROM orders
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Exact interpolated percentiles per group (Spark `percentile` ==
# DuckDB `quantile_cont`; both linear interpolation, rounded on both
# sides to absorb float noise).
# --------------------------------------------------------------------------
def percentile_prices_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("p75"),
        )
    )


PERCENTILE_SQL = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
FROM orders
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Moving aggregate: 7-row trailing average of daily revenue (window
# frame over an aggregated series — two shuffles total, second one on
# a single ordered partition of ~2k day rows).
# --------------------------------------------------------------------------
def moving_avg_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DATE on both sides (DuckDB's date_trunc('day') yields DATE, not
    # a midnight TIMESTAMP). NULL-dated orders are excluded explicitly:
    # a daily series has no NULL day, and the engines would otherwise
    # diverge on where the NULL group sits in the window's ORDER BY
    # (Spark sorts NULLs first, DuckDB last — found by NULL-injection
    # differential testing).
    daily = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .groupBy(F.to_date(F.col("o_orderdate")).alias("day"))
        .agg(_dsum(F.col("o_totalprice")).alias("day_revenue"))
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        "day_revenue",
        F.round(F.avg("day_revenue").over(w), 4).alias("ma7"),
    )


MOVING_AVG_SQL = """
SELECT day, day_revenue,
       round(avg(day_revenue) OVER (ORDER BY day
                                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
             4) AS ma7
FROM (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS day_revenue
  FROM orders WHERE o_orderdate IS NOT NULL
  GROUP BY CAST(o_orderdate AS DATE)
) t
"""


# --------------------------------------------------------------------------
# Set difference: customers who ever ordered open ('O') but never
# finished ('F') — EXCEPT (distinct semantics on both engines).
# --------------------------------------------------------------------------
def except_open_not_finished(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    open_c = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    fin_c = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    # subtract == EXCEPT (set semantics); exceptAll would keep leftover
    # multiplicity for customers present on both sides
    return open_c.subtract(fin_c)


EXCEPT_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
"""


# --------------------------------------------------------------------------
# As-of join: for each purchase event, the user's most recent strictly
# earlier click. One window pass (shuffle on user_id), not a range
# self-join — the range join is quadratic per user at scale, the
# window is linear.
# --------------------------------------------------------------------------
def asof_last_click_before_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # an as-of lookup is undefined without a timestamp or user key;
    # exclude such rows on both engines (NULL ts sorts first in Spark's
    # frame and last in DuckDB's — the NULL-ordering divergence class)
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("last_click_ts", last_click)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


ASOF_SQL = """
SELECT event_id, user_id, ts, last_click_ts
FROM (
  SELECT event_id, user_id, ts, event_type,
         max(CASE WHEN event_type = 'click' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_click_ts
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
) t
WHERE event_type = 'purchase'
"""


QUERIES = {
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_volume_shipping": q7_volume_shipping,
    "q9_product_profit": q9_product_profit,
    "q10_returned_items": q10_returned_items,
    "q13_customer_distribution": q13_customer_distribution,
    "q14_promo_effect": q14_promo_effect,
    "q17_small_qty_revenue": q17_small_qty_revenue,
    "q18_large_volume_customers": q18_large_volume_customers,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q22_idle_customers": q22_idle_customers,
    "cube_lineitem_flags": cube_lineitem_flags,
    "pivot_status_by_priority": pivot_status_by_priority,
    "percentile_prices_by_priority": percentile_prices_by_priority,
    "moving_avg_daily_revenue": moving_avg_daily_revenue,
    "except_open_not_finished": except_open_not_finished,
    "asof_last_click_before_purchase": asof_last_click_before_purchase,
}

ORACLE = {
    "q6_forecast_revenue": Q6_SQL,
    "q7_volume_shipping": Q7_SQL,
    "q9_product_profit": Q9_SQL,
    "q10_returned_items": Q10_SQL,
    "q13_customer_distribution": Q13_SQL,
    "q14_promo_effect": Q14_SQL,
    "q17_small_qty_revenue": Q17_SQL,
    "q18_large_volume_customers": Q18_SQL,
    "q19_disjunctive_revenue": Q19_SQL,
    "q22_idle_customers": Q22_SQL,
    "cube_lineitem_flags": CUBE_SQL,
    "pivot_status_by_priority": PIVOT_SQL,
    "percentile_prices_by_priority": PERCENTILE_SQL,
    "moving_avg_daily_revenue": MOVING_AVG_SQL,
    "except_open_not_finished": EXCEPT_SQL,
    "asof_last_click_before_purchase": ASOF_SQL,
}


# --------------------------------------------------------------------------
# Approximate sketches — the 100-TB substitutes for exact distinct /
# percentile. Sketch outputs are engine-specific, so the oracle pins
# them *behaviorally*: the exact value (hash-compared) plus a boolean
# asserting the approximation landed within its documented error bound
# (HLL++ relativeSD default 5%; percentile_approx accuracy 10000).
# --------------------------------------------------------------------------
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.countDistinct("l_partkey").alias("n_exact"),
        F.approx_count_distinct("l_partkey").alias("n_approx"),
    )
    return agg.select(
        "n_exact",
        (
            F.abs(F.col("n_approx") - F.col("n_exact"))
            / F.col("n_exact")
            < 0.05
        ).alias("approx_ok"),
    )


APPROX_DISTINCT_SQL = """
SELECT count(DISTINCT l_partkey) AS n_exact, true AS approx_ok
FROM lineitem
"""


def approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    # INTEGER cents through both percentiles, exact threshold recovery
    # (round(v*d)/d for fraction denominator d) so the hash-compared
    # exact values are bit-identical cross-engine: interpolating raw
    # 2-decimal doubles put p50 on exact 2dp midpoints (0.005-dollar
    # multiples) where Spark's BigDecimal HALF_UP and DuckDB's
    # multiply-based HALF_UP split by one ulp — the funnel-latency
    # sf0.1 class.  p50 interpolates at g = 0.5 (exact binary, d = 2);
    # p95's position rounds in the double domain, so d = 20 recovery
    # absorbs the ~ulp lerp noise around the true 0.05-cent multiple.
    orders = read_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    agg = orders.agg(
        F.expr("percentile(cents, array(0.5, 0.95))").alias("exact"),
        F.expr(
            "percentile_approx(cents, array(0.5, 0.95), 10000)"
        ).alias("approx"),
    )
    # elementwise relative error < 1% -> the sketch is behaviorally
    # correct; exact percentiles are the hash-compared payload
    return agg.select(
        (F.round(F.element_at("exact", 1) * 2) / 2).alias("p50_cents"),
        (F.round(F.element_at("exact", 2) * 20) / 20).alias("p95_cents"),
        F.expr(
            "forall(zip_with(approx, exact, (a, e) -> abs(a - e) / e < 0.01),"
            " x -> x)"
        ).alias("approx_ok"),
    )


APPROX_PCTL_SQL = """
SELECT round(quantile_cont(cents, 0.5) * 2) / 2   AS p50_cents,
       round(quantile_cont(cents, 0.95) * 20) / 20 AS p95_cents,
       true AS approx_ok
FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders) t
"""

QUERIES["approx_distinct_parts"] = approx_distinct_parts
QUERIES["approx_percentile_prices"] = approx_percentile_prices
ORACLE["approx_distinct_parts"] = APPROX_DISTINCT_SQL
ORACLE["approx_percentile_prices"] = APPROX_PCTL_SQL


# --------------------------------------------------------------------------
# Unpivot (stack) — wide metrics to long rows; the inverse of pivot.
# --------------------------------------------------------------------------
def unpivot_flag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("qty"),
        _dsum(F.col("l_extendedprice")).alias("base_price"),
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "disc_price"
        ),
    )
    return wide.selectExpr(
        "l_returnflag",
        "stack(3, 'qty', qty, 'base_price', base_price,"
        " 'disc_price', disc_price) AS (metric, value)",
    )


UNPIVOT_SQL = """
WITH wide AS (
  SELECT l_returnflag,
         round(sum(l_quantity), 2) AS qty,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS base_price,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS disc_price
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, metric, value
FROM wide
UNPIVOT (value FOR metric IN (qty, base_price, disc_price))
"""

QUERIES["unpivot_flag_metrics"] = unpivot_flag_metrics
ORACLE["unpivot_flag_metrics"] = UNPIVOT_SQL


# --------------------------------------------------------------------------
# SCD2 merge emulation — the CDC pattern without a MERGE-capable sink:
# split the dimension against the update batch (anti-join = untouched
# open rows, semi-join = rows to close), union in the new versions.
# At scale each leg is one broadcast join against the (small) update
# batch; the dimension never shuffles.
# --------------------------------------------------------------------------
def scd2_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    # deterministic update batch: every 10th customer moves to a new
    # segment (stands in for an incoming CDC batch)
    updates = dim.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", F.lit("MACHINERY").alias("c_mktsegment")
    )
    eff = F.lit("2000-01-01").cast("timestamp")
    start = F.lit("1995-01-01").cast("timestamp")
    untouched = dim.join(updates, "c_custkey", "left_anti").select(
        "c_custkey",
        "c_mktsegment",
        start.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    closed = dim.join(updates.select("c_custkey"), "c_custkey", "left_semi").select(
        "c_custkey",
        "c_mktsegment",
        start.alias("valid_from"),
        eff.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = updates.select(
        "c_custkey",
        "c_mktsegment",
        eff.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return untouched.unionByName(closed).unionByName(opened)


SCD2_SQL = """
WITH updates AS (
  SELECT c_custkey, 'MACHINERY' AS c_mktsegment
  FROM customer WHERE c_custkey % 10 = 0
)
SELECT c_custkey, c_mktsegment,
       TIMESTAMP '1995-01-01' AS valid_from,
       CAST(NULL AS TIMESTAMP) AS valid_to,
       true AS is_current
FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
UNION ALL
SELECT c_custkey, c_mktsegment,
       TIMESTAMP '1995-01-01', TIMESTAMP '2000-01-01', false
FROM customer WHERE c_custkey IN (SELECT c_custkey FROM updates)
UNION ALL
SELECT c_custkey, c_mktsegment,
       TIMESTAMP '2000-01-01', CAST(NULL AS TIMESTAMP), true
FROM updates
"""

QUERIES["scd2_customer_segments"] = scd2_customer_segments
ORACLE["scd2_customer_segments"] = SCD2_SQL

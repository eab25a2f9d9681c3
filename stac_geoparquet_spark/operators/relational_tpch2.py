"""Remaining TPC-H operator patterns adapted to the driver's schema
(no partsupp / shipmode / commitdate / receiptdate columns): correlated
scalar subqueries (q2, q15), EXISTS / decorrelated semi-joins (q4),
conditional-share aggregation (q8), HAVING against a global scalar
(q11), NOT IN + count-distinct (q16), nested IN over an aggregate
threshold (q20), and the multi-EXISTS "only late supplier" shape (q21).

Same contract as operators/relational.py: declarative DataFrame code
(Catalyst decides pushdown / join order / AQE re-plan), every aggregate
aliased identically to its DuckDB oracle, money sums accumulated in
decimal via _dsum so the rounded value is summation-order independent.

Scale notes (100 TB):
- Correlated subqueries are written as the decorrelated agg+join shape
  (window over the correlation key, or aggregate + broadcast scalar) —
  never per-row re-execution.
- Each query shuffles the fact table at most once (orderkey, suppkey,
  or partkey); dimension tables are broadcast.
- q21's EXISTS / NOT EXISTS pair collapses into ONE groupBy over the
  order's supplier set (distinct supplier count vs late-supplier
  count), i.e. a single orderkey shuffle instead of two self-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stac_geoparquet_spark.operators._io import read_table
from stac_geoparquet_spark.operators.relational import _dsum


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_REV_SQL = "l_extendedprice * (1 - l_discount)"


# --------------------------------------------------------------------------
# Q2 (adapted) — best supplier per part: for each PROMO part that was
# actually supplied (via lineitem), the EUROPE supplier with the highest
# account balance. The correlated `s_acctbal = (SELECT max(..) ...)`
# becomes a window max over the correlation key — one shuffle on
# p_partkey, dimensions broadcast.
# --------------------------------------------------------------------------
def q2_best_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs_raw = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    part = read_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "PROMO") & (F.col("p_size") <= 10)
    )
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_supp = (
        supp.join(
            F.broadcast(nation),
            supp.s_nationkey == nation.n_nationkey,
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    # r10: the selective dimension filters (PROMO/size part, EUROPE
    # supplier chain) apply via broadcast joins BEFORE the pair dedup,
    # so the one exchange carries <1% of lineitem instead of every
    # (partkey, suppkey) pair (guide §2.3: filter before the
    # exchange).  Dedup-after-join == dedup-before-join because both
    # joins are equi-joins on unique dimension keys (every surviving
    # row of one pair is identical).  Partitioning by p_partkey alone
    # serves the pair dedup (subset of its key), AND the correlation-
    # max window — one exchange total where there were two.
    w = Window.partitionBy("p_partkey")
    return (
        pairs_raw.join(
            F.broadcast(part), pairs_raw.l_partkey == part.p_partkey
        )
        .join(F.broadcast(eu_supp), pairs_raw.l_suppkey == F.col("s_suppkey"))
        .repartition(F.col("p_partkey"))
        .dropDuplicates(["p_partkey", "l_suppkey"])
        .withColumn("max_bal", F.max("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("max_bal"))
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
        )
    )


Q2_SQL = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
eu_supp AS (
  SELECT s_suppkey, s_name, s_acctbal
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT p_partkey, p_brand, s_name, round(s_acctbal, 2) AS s_acctbal
FROM pairs
JOIN part ON l_partkey = p_partkey
JOIN eu_supp ON l_suppkey = s_suppkey
WHERE p_type = 'PROMO' AND p_size <= 10
  AND s_acctbal = (
    SELECT max(s2.s_acctbal)
    FROM pairs p2
    JOIN eu_supp s2 ON p2.l_suppkey = s2.s_suppkey
    WHERE p2.l_partkey = p_partkey
  )
"""


# --------------------------------------------------------------------------
# Q4 (adapted) — order priority checking: orders placed in 1996-H1 with
# at least one line shipped more than 60 days after the order date.
# EXISTS with a cross-table predicate -> left-semi join carrying the
# non-equi condition; one orderkey shuffle, date filter pushed to scan.
# --------------------------------------------------------------------------
def q4_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.date_add(orders.o_orderdate, 60)),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Q8 (adapted) — national market share: NATION_5's share of EUROPE
# revenue for PROMO parts, per order year. Conditional-sum ratio in one
# aggregation pass; fact table shuffles once on the group key.
# --------------------------------------------------------------------------
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation_c = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation_s = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    supp = read_table(spark, sf_dir, "supplier")
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(nation_c), cust.c_nationkey == nation_c.n_nationkey
        )
        .join(F.broadcast(region), nation_c.n_regionkey == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation_s), supp.s_nationkey == F.col("sn_key"))
    )
    dec_rev = _rev().cast("decimal(18,6)")
    return (
        joined.groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", dec_rev)
                    .otherwise(F.lit(0).cast("decimal(18,6)"))
                ).cast("double")
                / F.sum(dec_rev).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


Q8_SQL = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(
         CAST(sum(CASE WHEN n2.n_name = 'NATION_5'
                       THEN CAST({_REV_SQL} AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
         / CAST(sum(CAST({_REV_SQL} AS DECIMAL(18,6))) AS DOUBLE), 6
       ) AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
GROUP BY year(o_orderdate)
"""


# --------------------------------------------------------------------------
# Q11 (adapted) — important supplier value: per-supplier revenue kept
# only if above 0.1% of TOTAL revenue. The global scalar subquery is a
# single-row aggregate broadcast into the filter (Catalyst plans the
# cross join as BroadcastNestedLoopJoin over one row).
# --------------------------------------------------------------------------
def q11_important_supplier_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    # ONE scan of the fact table: the global total is the exact decimal
    # sum of the per-supplier partials (decimal addition is associative)
    # computed as an unpartitioned window over the ALREADY-AGGREGATED
    # relation. Referencing the aggregate twice (agg + cross join) would
    # re-plan the whole subtree and scan lineitem twice; the window
    # funnels only |suppliers| tiny rows through one partition — fine up
    # to millions of suppliers, and the documented trade-off beyond.
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(_rev().cast("decimal(18,6)")).alias("raw")
    )
    cut = (
        F.sum("raw").over(Window.partitionBy()).cast("double") * F.lit(0.001)
    )
    return (
        per_supp.withColumn("cut", cut)
        .select(
            "l_suppkey",
            F.round("raw", 2).cast("double").alias("value"),
            "cut",
        )
        .filter(F.col("value") > F.col("cut"))
        .select("l_suppkey", "value")
    )


Q11_SQL = f"""
SELECT l_suppkey,
       CAST(round(sum(CAST({_REV_SQL} AS DECIMAL(18,6))), 2) AS DOUBLE) AS value
FROM lineitem
GROUP BY l_suppkey
HAVING CAST(round(sum(CAST({_REV_SQL} AS DECIMAL(18,6))), 2) AS DOUBLE) > (
  SELECT CAST(sum(CAST({_REV_SQL} AS DECIMAL(18,6))) AS DOUBLE) * 0.001
  FROM lineitem
)
"""


# --------------------------------------------------------------------------
# Q15 (adapted) — top supplier(s): revenue per supplier over 1996-Q1,
# keep the max. Scalar subquery max -> aggregate once, broadcast the
# 1-row max back over the aggregate (no second scan of the fact table:
# the per-supplier aggregate is reused for both sides).
# --------------------------------------------------------------------------
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(_dsum(_rev()).alias("total_rev"))
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    supp = read_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(top), rev.total_rev == F.col("max_rev"))
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey,
         CAST(round(sum(CAST({_REV_SQL} AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_rev
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
"""


# --------------------------------------------------------------------------
# Q16 (adapted) — supplier diversity per part group: distinct suppliers
# per (p_brand, p_size) for LARGE parts, excluding suppliers in debt
# (NOT IN -> broadcast anti-join; the exclusion list is tiny).
# --------------------------------------------------------------------------
def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "LARGE")
    bad = (
        read_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_type = 'LARGE'
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_brand, p_size
"""


# --------------------------------------------------------------------------
# Q20 (adapted) — excess-inventory suppliers: suppliers whose 1996
# shipped quantity of MEDIUM parts exceeds a threshold, restricted to
# one region. Nested `s_suppkey IN (SELECT ... HAVING sum > ..)` ->
# aggregate once on suppkey, then semi-join supplier against it.
# --------------------------------------------------------------------------
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "MEDIUM")
    heavy = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("qty"))
        .filter(F.col("qty") > 300)
    )
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    return (
        supp.join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


Q20_SQL = """
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'MEDIUM'
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_suppkey
    HAVING round(sum(l_quantity), 2) > 300
  )
"""


# --------------------------------------------------------------------------
# Q21 (adapted) — the only-late-supplier shape: for multi-supplier
# orders, count per supplier the orders where THEY were the only
# supplier shipping >60 days after the order date. The EXISTS /
# NOT EXISTS pair over lineitem self-joins collapses into one groupBy
# on orderkey computing (distinct suppliers, distinct late suppliers),
# then late lines join that 1-row-per-order summary — fact table
# shuffles once on orderkey.
# --------------------------------------------------------------------------
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)).alias(
            "late"
        ),
    )
    # ONE pass over the joined fact: collapse to distinct
    # (order, supplier) pairs first — a plain two-key groupBy — so the
    # per-order rollup uses count/sum instead of two countDistinct
    # aggregates (whose Expand doubles the agg input; measured ~30%
    # slower). When exactly one supplier shipped late, max(late
    # suppkey) IS that supplier, so the culprit falls out of the same
    # aggregation — no second scan, no re-join of the lo relation.
    # r10: ONE orderkey exchange feeds BOTH aggregates.  Without the
    # explicit repartition the pair dedup exchanges on (orderkey,
    # suppkey) and the per-order rollup re-exchanges on orderkey — two
    # shuffles of the same fact rows.  Partitioning by orderkey alone
    # satisfies the clustering requirement of both groupBys (orderkey
    # is a subset of the pair key), so they pipeline shuffle-free on
    # top; suppliers-per-order is bounded (no skew concern).
    pairs = (
        lo.repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("late"))
    )
    per_order = pairs.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.col("late").cast("int")).alias("n_late_supp"),
        F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "late_supp"
        ),
    )
    culprit = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    ).select("l_orderkey", F.col("late_supp").alias("l_suppkey"))
    supp = read_table(spark, sf_dir, "supplier")
    return (
        culprit.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select("s_name", "numwait")
    )


Q21_SQL = """
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp
  FROM lo GROUP BY l_orderkey
),
culprit AS (
  SELECT DISTINCT lo.l_orderkey, lo.l_suppkey
  FROM lo
  JOIN per_order p ON lo.l_orderkey = p.l_orderkey
  WHERE lo.late AND p.n_supp > 1 AND p.n_late_supp = 1
)
SELECT s_name, count(*) AS numwait
FROM culprit JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
"""


QUERIES = {
    "q2_best_supplier_per_part": q2_best_supplier_per_part,
    "q4_priority_late_orders": q4_priority_late_orders,
    "q8_market_share": q8_market_share,
    "q11_important_supplier_value": q11_important_supplier_value,
    "q15_top_supplier": q15_top_supplier,
    "q16_supplier_diversity": q16_supplier_diversity,
    "q20_excess_suppliers": q20_excess_suppliers,
    "q21_waiting_suppliers": q21_waiting_suppliers,
}

ORACLE = {
    "q2_best_supplier_per_part": Q2_SQL,
    "q4_priority_late_orders": Q4_SQL,
    "q8_market_share": Q8_SQL,
    "q11_important_supplier_value": Q11_SQL,
    "q15_top_supplier": Q15_SQL,
    "q16_supplier_diversity": Q16_SQL,
    "q20_excess_suppliers": Q20_SQL,
    "q21_waiting_suppliers": Q21_SQL,
}

"""Relational query surface over the driver's TPC-H-ish tables.

The reference delegates all relational querying to downstream engines
(SURVEY.md §2.7: it implements no joins/aggs itself — its job is to emit
layouts those engines can query). In this engine the downstream engine IS
Spark, so these queries are the public query surface, expressed
declaratively so Catalyst handles pushdown, join ordering, and AQE
handles skew/coalescing at scale.

Scale notes (100 TB):
- Fact tables (lineitem, orders, events) are only ever filtered,
  partially aggregated map-side, and shuffled on their group/join keys.
- Broadcast policy: F.broadcast is forced ONLY for constant-size dims
  (region: 5 rows, nation: 25 rows) and singleton/top-k derived
  aggregates. customer/supplier/part grow with sf (~15 M customers at
  sf100), so their joins are left to Catalyst's size estimate + AQE —
  which still broadcasts them at small sf but degrades gracefully to a
  shuffle join at 100 TB instead of OOMing the executors.
- All aggregate/computed columns are aliased identically in the Spark
  plan and the oracle SQL (the driver hash-compares by column name).
- Float aggregates are rounded identically on both sides so the
  hash-compare is insensitive to summation order across partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._io import read_table


def _dsum(col, scale: int = 2):
    """Order-independent rounded sum of a money-like double column.

    The synthetic prices/discounts are 2-decimal values, so group sums
    land *exactly* on round-half boundaries (x.xx5) all the time; a
    double sum's last-ulp then depends on partition/thread summation
    order and the rounded cent flips between Spark and DuckDB runs.
    Accumulating in decimal(18,6) makes the sum exact and the rounding
    deterministic on both engines. Oracle mirror:
    CAST(round(sum(CAST(x AS DECIMAL(18,6))), k) AS DOUBLE)."""
    return F.round(F.sum(col.cast("decimal(18,6)")), scale).cast("double")


def _davg(col, scale: int = 4):
    """Order-independent rounded mean: exact decimal sum, then one
    double division. Oracle mirror:
    round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(*), k)."""
    return F.round(
        F.sum(col.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)),
        scale,
    )


# --------------------------------------------------------------------------
# Q1 — pricing summary (TPC-H Q1 shape): scan + filter + wide agg.
# Plan shape to verify: PushedFilters on l_shipdate, partial HashAggregate
# before the exchange (map-side combine), single shuffle on 2 group cols.
# --------------------------------------------------------------------------
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # quantities are integer-valued: double sums are exact in
            # any order, no decimal needed
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            _davg(F.col("l_extendedprice")).alias("avg_price"),
            _davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                          AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
       round(avg(l_quantity), 4)                                          AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)      AS avg_disc,
       count(*)                                                           AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# Q3 — shipping priority: selective dim filter, 3-way join, top-k.
# customer is broadcast (post-filter it is tiny); lineitem never moves
# except the final shuffle on o_orderkey for the aggregation.
# --------------------------------------------------------------------------
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = read_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = read_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT o_orderkey, o_orderdate,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


# --------------------------------------------------------------------------
# Q5 — local supplier volume: 6-way join through two dim chains.
# region/nation/supplier/customer broadcast; single shuffle joining
# lineitem->orders on orderkey dominates, then a tiny agg on n_name.
# --------------------------------------------------------------------------
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = read_table(spark, sf_dir, "nation")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    dim = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dim, li.l_suppkey == dim.s_suppkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == dim.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


Q5_SQL = """
SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# Aggregation over orders by priority — simple groupBy with exact and
# rounded aggregates.
# --------------------------------------------------------------------------
def agg_orders_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            _dsum(F.col("o_totalprice")).alias("total_price"),
            _davg(F.col("o_totalprice")).alias("avg_price"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


AGG_ORDERS_SQL = """
SELECT o_orderpriority,
       count(*)                      AS order_count,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_price,
       round(min(o_totalprice), 2)   AS min_price,
       round(max(o_totalprice), 2)   AS max_price
FROM orders
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Broadcast dim chain: customers per region — two broadcast joins, no
# fact shuffle beyond the final 5-row agg.
# --------------------------------------------------------------------------
def join_customers_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("customer_count"),
            _davg(F.col("c_acctbal")).alias("avg_acctbal"),
        )
    )


JOIN_REGION_SQL = """
SELECT r_name,
       count(*)                   AS customer_count,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --------------------------------------------------------------------------
# Window top-k per group: top 3 orders per customer by totalprice.
# Shuffle on o_custkey once; rank inside partitions. Deterministic via
# the orderkey tiebreak.
# --------------------------------------------------------------------------
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        read_table(spark, sf_dir, "orders")
        .withColumn("rank_in_cust", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank_in_cust") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank_in_cust")
    )


WINDOW_TOPK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rank_in_cust
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC)
           AS rank_in_cust
  FROM orders
) t
WHERE rank_in_cust <= 3
"""


# --------------------------------------------------------------------------
# Semi / anti joins — EXISTS / NOT EXISTS territory.
# --------------------------------------------------------------------------
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


SEMI_JOIN_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01'
)
"""


def anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    big_orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000
    )
    return cust.join(
        big_orders, cust.c_custkey == big_orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


ANTI_JOIN_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_totalprice > 300000
)
"""


# --------------------------------------------------------------------------
# Set operation: nations that have both customers and suppliers.
# --------------------------------------------------------------------------
def intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.intersect(supp)


INTERSECT_SQL = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""


# --------------------------------------------------------------------------
# Rollup: customer counts at (region, nation), (region), () grains.
# --------------------------------------------------------------------------
def rollup_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("customer_count"))
    )


# HAVING count(*) > 0: Spark's grouping-sets execution emits NO rows
# over an empty input while the standard (and DuckDB) emit the ()
# grand-total row with count 0; the engine exposes Spark-native
# semantics ("no data -> no report rows") and the oracle mirrors it —
# the guard only ever drops that empty-input row, since every real
# group has count >= 1 (single-row differential probe finding).
ROLLUP_SQL = """
SELECT r_name, n_name, count(*) AS customer_count
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
HAVING count(*) > 0
"""


# --------------------------------------------------------------------------
# Scalar subquery: parts priced above the global average.
# --------------------------------------------------------------------------
def parts_above_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    avg_price = part.agg(F.avg("p_retailprice").alias("a"))
    return (
        part.crossJoin(F.broadcast(avg_price))
        .filter(F.col("p_retailprice") > F.col("a"))
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
    )


PARTS_ABOVE_AVG_SQL = """
SELECT p_partkey, p_name, p_brand, p_retailprice
FROM part
WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
"""


# --------------------------------------------------------------------------
# Global top-k with deterministic tiebreak.
# --------------------------------------------------------------------------
def topk_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


TOPK_GLOBAL_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20
"""


# --------------------------------------------------------------------------
# Events: tumbling-window aggregation (the batch analogue of the
# streaming windowed agg in stac_geoparquet_spark.streaming).
# --------------------------------------------------------------------------
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("hour", "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.sum("value"), 2).alias("value_sum"),
            F.count_distinct(F.col("user_id")).alias("unique_users"),
        )
    )


EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts)        AS hour,
       event_type,
       count(*)                      AS event_count,
       round(sum(value), 2)          AS value_sum,
       count(DISTINCT user_id)       AS unique_users
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


# --------------------------------------------------------------------------
# Events: trailing-baseline hourly anomaly screen.  Each (event_type,
# hour) count is z-scored against the trailing 24 scored hours'
# mean/stddev (ROWS frame over the hourly rollup — missing hours make
# the frame reach further back, identical contract on both engines);
# an hour is anomalous at |z| >= ANOMALY_Z with at least
# ANOMALY_MIN_PREV trailing points.  Output is the per-type triage
# rollup a monitoring pipeline alerts on.
#
# Scale note: the window partitions by event_type — a statically
# bounded key — but its INPUT is the hourly rollup, whose row count
# per type is bounded by calendar hours, not by corpus size (100x the
# events in the same time range = the same rollup rows).  That is the
# documented _BOUNDED_WINDOW_ALLOWLIST justification in
# tests/test_registry_contract.py; the corpus-sized work is the
# map-side-combining rollup aggregate underneath.  NULL-ts events are
# excluded on both engines (NULL-ordering house rule).
# --------------------------------------------------------------------------
ANOMALY_Z = 3.0
ANOMALY_MIN_PREV = 12


def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    hourly = (
        ev.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    scored = hourly.select(
        "event_type",
        "c",
        F.count("c").over(w).alias("n_prev"),
        F.avg("c").over(w).alias("mean_prev"),
        F.stddev_samp("c").over(w).alias("std_prev"),
    ).withColumn(
        "z",
        F.when(
            (F.col("n_prev") >= ANOMALY_MIN_PREV)
            & (F.col("std_prev") > 0),
            F.round((F.col("c") - F.col("mean_prev")) / F.col("std_prev"), 4),
        ),
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.when(F.col("z").isNotNull(), 1).otherwise(0)).alias(
            "n_scored"
        ),
        F.sum(
            F.when(F.abs("z") >= ANOMALY_Z, 1).otherwise(0)
        ).alias("n_anomalous"),
        F.max(F.abs("z")).alias("max_abs_z"),
    )


EVENTS_ANOMALY_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(count(*) AS DOUBLE) AS c
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
),
scored AS (
  SELECT event_type, c,
         count(c) OVER w AS n_prev,
         avg(c) OVER w AS mean_prev,
         stddev_samp(c) OVER w AS std_prev
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT event_type,
         CASE WHEN n_prev >= {ANOMALY_MIN_PREV} AND std_prev > 0
              THEN round((c - mean_prev) / std_prev, 4) END AS z
  FROM scored
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_hours,
       CAST(sum(CASE WHEN z IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_scored,
       CAST(sum(CASE WHEN abs(z) >= {ANOMALY_Z} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_anomalous,
       max(abs(z)) AS max_abs_z
FROM z GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Events: JSON property extraction (semi-structured column).
# --------------------------------------------------------------------------
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # try_cast, not cast: a malformed payload ('{"k": 2.9}', '{"k":
    # [1]}') must contribute NULL, not crash the job under ANSI mode
    # (found by the malformed-props differential probe).  Payloads with
    # RAW control characters are treated as invalid on BOTH engines:
    # RFC 8259 forbids unescaped controls inside JSON strings and
    # DuckDB's parser rejects them, while get_json_object is lenient —
    # the contract follows the spec (escaped '\\u000b' forms still
    # extract on both).
    ev = read_table(spark, sf_dir, "events")
    strict_props = F.when(
        F.col("props").rlike("[\\x00-\\x1f]"), F.lit(None)
    ).otherwise(F.col("props"))
    return (
        ev.withColumn(
            "k",
            F.get_json_object(strict_props, "$.k").try_cast("bigint"),
        )
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.sum("k").alias("sum_k"),
        )
    )


# The oracle's extraction must match Spark's NULL-on-anything-weird
# semantics exactly (probed case by case in the malformed-props
# differential test):
# - control-char guard: the Spark side nulls any payload containing a
#   RAW control char [\\x00-\\x1f] ANYWHERE — including \\t/\\n/\\r used
#   as structural whitespace between tokens, which json_valid would
#   accept.  The oracle applies the IDENTICAL rejection so the two
#   engines agree by construction (pretty-printed multi-line JSON is
#   deliberately out of contract for this operator; escaped forms like
#   '\\u000b' still extract on both).  Without this clause, DuckDB
#   would extract from '{"k":\\n1}' while Spark nulls it.
# - json_valid guard: DuckDB's ->> THROWS on malformed JSON where
#   get_json_object returns NULL;
# - the strict-integer regex: DuckDB TRY_CAST accepts '2.9' (rounds)
#   and '1e2' where Spark's try_cast yields NULL;
# - the trim: Spark's try_cast strips EXACTLY [\\x00-\\x20] (all ASCII
#   controls + space; probed char-by-char, NOT unicode spaces) around
#   the number, so the oracle strips the same class.
_J_RAW = (
    "regexp_replace(CASE WHEN regexp_matches(props, '[\\x00-\\x1f]')"
    " THEN NULL"
    " WHEN json_valid(props) THEN props ->> '$.k' END,"
    " '^[\\x00-\\x20]+|[\\x00-\\x20]+$', '', 'g')"
)
_J_K = (
    f"TRY_CAST(CASE WHEN regexp_matches({_J_RAW}, '^[+-]?[0-9]+$')"
    f" THEN {_J_RAW} END AS BIGINT)"
)

EVENTS_JSON_SQL = f"""
SELECT event_type,
       round(avg({_J_K}), 4) AS avg_k,
       CAST(sum({_J_K}) AS BIGINT) AS sum_k
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Events: per-user sessionization via window lag (gap > 30 min starts a
# new session) — counts sessions per user. Deterministic; exercises
# window + conditional cumulative sum.
# --------------------------------------------------------------------------
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # sessionization is undefined for events with no timestamp or no
    # user key; exclude them explicitly on both engines (NULL ts would
    # otherwise sort first in Spark's lag chain and last in DuckDB's —
    # the same NULL-ordering divergence class as the moving average,
    # found by NULL-injection differential testing)
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Gap measured in exact integer microseconds (timestamps ARE integer
    # micros), so Spark and the oracle agree bit-for-bit and the check is
    # independent of the driver session's timezone (NTZ-safe).
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    return (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull() | (gap_us > 1_800_000_000),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("session_count"),
            F.count(F.lit(1)).alias("event_count"),
        )
    )


EVENTS_SESSION_SQL = """
SELECT user_id,
       CAST(sum(new_session) AS BIGINT) AS session_count,
       count(*)         AS event_count
FROM (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR datediff('microsecond', lag(ts) OVER w, ts) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
) t
GROUP BY user_id
"""


def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` gap sessionization (batch mode; the
    same expression runs streaming in streaming/events.py). Boundary
    semantics: a session covers [first_ts, last_ts + gap), so an event
    at exactly last_ts + gap opens a NEW session — the oracle's lag
    formulation uses >= accordingly. Timestamps stay NTZ in the output
    (house convention) while the window key is computed on a UTC cast;
    min/max aggregate the original column, so results are
    session-timezone independent."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    return (
        ev.withColumn("tsz", F.col("ts").cast("timestamp"))
        .groupBy(
            F.session_window("tsz", "30 minutes").alias("win"), "user_id"
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            "user_id", "session_start", "session_end", "n_events", "value_sum"
        )
    )


EVENTS_SESSION_WINDOW_SQL = """
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
sess AS (
  SELECT user_id, ts, value,
         sum(CASE WHEN prev IS NULL
                    OR datediff('microsecond', prev, ts) >= 1800000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM gaps
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       round(sum(value), 2) AS value_sum
FROM sess
GROUP BY user_id, sid
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_revenue": q5_region_revenue,
    "agg_orders_by_priority": agg_orders_by_priority,
    "join_customers_per_region": join_customers_per_region,
    "window_topk_orders_per_customer": window_topk_orders_per_customer,
    "semi_join_active_customers": semi_join_active_customers,
    "anti_join_inactive_customers": anti_join_inactive_customers,
    "intersect_nations": intersect_nations,
    "rollup_customers": rollup_customers,
    "parts_above_avg_price": parts_above_avg_price,
    "topk_orders_global": topk_orders_global,
    "events_hourly_rollup": events_hourly_rollup,
    "events_hourly_anomaly": events_hourly_anomaly,
    "events_json_extract": events_json_extract,
    "events_sessionize": events_sessionize,
    "events_session_window": events_session_window,
}

ORACLE = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_region_revenue": Q5_SQL,
    "agg_orders_by_priority": AGG_ORDERS_SQL,
    "join_customers_per_region": JOIN_REGION_SQL,
    "window_topk_orders_per_customer": WINDOW_TOPK_SQL,
    "semi_join_active_customers": SEMI_JOIN_SQL,
    "anti_join_inactive_customers": ANTI_JOIN_SQL,
    "intersect_nations": INTERSECT_SQL,
    "rollup_customers": ROLLUP_SQL,
    "parts_above_avg_price": PARTS_ABOVE_AVG_SQL,
    "topk_orders_global": TOPK_GLOBAL_SQL,
    "events_hourly_rollup": EVENTS_HOURLY_SQL,
    "events_hourly_anomaly": EVENTS_ANOMALY_SQL,
    "events_json_extract": EVENTS_JSON_SQL,
    "events_sessionize": EVENTS_SESSION_SQL,
    "events_session_window": EVENTS_SESSION_WINDOW_SQL,
}

__all__ = ["QUERIES", "ORACLE"]

"""Scan-optimization showcases: the two scan-side features that decide
whether a 100 TB query reads terabytes or kilobytes.

- ``agg_pushdown_stats``: Parquet AGGREGATE pushdown — COUNT/MIN/MAX
  answered from row-group footer statistics via the DSv2 parquet
  source, so the data pages are never decoded.  At 100 TB this is the
  difference between a full scan and reading ~KB of footers.
- ``dpp_orders_by_year``: DYNAMIC PARTITION PRUNING over a hive-
  partitioned layout — the fact scan's partition filter is a runtime
  subquery fed by the broadcast dim, so only the dim-selected
  partitions are listed and read.

Both have exact DuckDB oracles (they are plan-shape features, not
semantics changes) and plan pins in tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.caches import table_path
from stac_geoparquet_spark.operators.relational import _dsum


# --------------------------------------------------------------------------
# Parquet aggregate pushdown (footer-only COUNT/MIN/MAX)
# --------------------------------------------------------------------------
def agg_pushdown_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table stats answered from Parquet footers: count + min/max of
    o_totalprice over orders, with ``PushedAggregation`` visible in the
    scan.

    Parquet aggregate pushdown is a DSv2-source feature, so the query
    runs in a cloned session (``newSession`` — same SparkContext, own
    SQLConf) with the v2 source list and ``parquet.aggregatePushdown``
    enabled; the caller's session configuration is untouched, and the
    returned DataFrame stays collectable by the caller (shared
    context).
    """
    s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    orders = s2.read.parquet(table_path(sf_dir, "orders"))
    return orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


AGG_PUSHDOWN_SQL = """
SELECT count(*) AS n_orders,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price
FROM orders
"""


# --------------------------------------------------------------------------
# Dynamic partition pruning over a year-partitioned orders layout
# --------------------------------------------------------------------------
TARGET_YEARS = (1995, 1996)


def build_orders_year_layout(spark: SparkSession, sf_dir: str) -> str:
    """Materialize orders hive-partitioned by o_year (one-off layout
    build; mtime-keyed scratch path + atomic publish via the shared
    _io.materialize_layout protocol)."""
    from stac_geoparquet_spark.operators._io import (
        layout_scratch_path,
        materialize_layout,
    )

    src = table_path(sf_dir, "orders")

    def build(build_dir: str) -> None:
        (
            spark.read.parquet(src)
            .withColumn("o_year", F.year("o_orderdate"))
            .write.mode("overwrite")
            .partitionBy("o_year")
            .parquet(build_dir)
        )

    return materialize_layout(
        layout_scratch_path(src, "sgs_orders_year"), build
    )


def dpp_orders_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yearly revenue for the dim-selected years, with the fact scan
    pruned AT RUNTIME by dynamic partition pruning: the year dim is
    broadcast, and the fact's partition filter is the DPP subquery
    (``dynamicpruningexpression`` on the scan), so non-selected year
    partitions are never listed or read.  At 100 TB with daily/yearly
    partitions this is the standard star-schema pruning path.
    """
    path = build_orders_year_layout(spark, sf_dir)
    fact = spark.read.parquet(path)
    # 11 candidate years (1992-2002), 'target' rows select 2 -> a selective
    # predicate on the dim side, which is what DPP's planner heuristic
    # requires before it inserts the pruning subquery.
    dim = spark.createDataFrame(
        [(y, "target" if y in TARGET_YEARS else "other") for y in range(1992, 2003)],
        "o_year int, label string",
    ).where(F.col("label") == "target")
    return (
        fact.join(F.broadcast(dim), "o_year")
        .groupBy("o_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("revenue"),
        )
        .select(
            F.col("o_year").cast("bigint").alias("o_year"),
            "n_orders",
            "revenue",
        )
    )


DPP_SQL = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS revenue
FROM orders
WHERE year(o_orderdate) IN {TARGET_YEARS}
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Runtime Bloom-filter join: the shuffle-side sibling of DPP. When the
# selective dim side is too big to broadcast, Spark can still build a
# Bloom filter from it at runtime and push `might_contain` into the
# fact scan, so non-matching fact rows are dropped BEFORE the join
# shuffle — at 100 TB this cuts the probe-side shuffle to the match
# rate. The thresholds are relaxed in a cloned session because the
# defaults require a >=10 GB application side (the injection itself,
# not its profitability, is what the toy-scale plan pin checks);
# broadcast is disabled so the demonstration exercises the shuffle
# path the feature exists for.
# --------------------------------------------------------------------------
def bloom_session(spark: SparkSession) -> SparkSession:
    """Cloned session with runtime Bloom-filter injection enabled and
    broadcast joins disabled (the Bloom path only exists on shuffle
    joins) — THE one definition shared by every operator that pins a
    might_contain plan (this module's semijoin, pipeline's Bloom
    decontamination), so their plan shapes cannot drift apart."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "100MB",
    )
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    return s2


def bloom_filter_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem revenue for urgent orders through a shuffle join whose
    fact scan is pre-filtered by a runtime Bloom filter built from the
    filtered orders side (`might_contain(...)` on the lineitem scan,
    pinned in tests/test_plans.py)."""
    s2 = bloom_session(spark)
    li = s2.read.parquet(table_path(sf_dir, "lineitem"))
    orders = s2.read.parquet(table_path(sf_dir, "orders")).where(
        "o_orderpriority = '1-URGENT'"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


BLOOM_SEMIJOIN_SQL = """
SELECT o_orderpriority,
       count(*) AS n_items,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderpriority
"""


QUERIES = {
    "agg_pushdown_stats": agg_pushdown_stats,
    "dpp_orders_by_year": dpp_orders_by_year,
}

ORACLE = {
    "agg_pushdown_stats": AGG_PUSHDOWN_SQL,
    "dpp_orders_by_year": DPP_SQL,
}

QUERIES |= {
    "bloom_filter_semijoin": bloom_filter_semijoin,
}

ORACLE |= {
    "bloom_filter_semijoin": BLOOM_SEMIJOIN_SQL,
}

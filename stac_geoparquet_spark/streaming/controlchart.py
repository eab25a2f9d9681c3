"""Incremental EWMA-chart maintenance: keep the mergeable DAILY
ROLLUP state current by merging each new batch of orders WITHOUT
rescanning history, then present the EWMA control chart from the
merged state — the streaming dual of
``operators/timeseries.orders_ewma_control`` (same presentation code,
same oracle), following the histogram.py maintenance pattern.

Mergeability argument: the chart itself is NOT mergeable per-day in
one step (the centered moments and the truncated EWMA both move when
a day's count changes), so the maintained state is one level lower —
the (d, count) exact int64 daily rollup, which merges by sum.  The
chart (index window, lag join, moment reduce) is a read-side
projection over that state.  At 100 TB the state is CALENDAR-bounded
(100x the orders land in the same days); each maintenance cycle
aggregates only the delta and merges with one day-keyed shuffle over
|calendar| + |delta-days| rows — the cheapest possible state any
time-axis monitor can carry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._io import read_table


def daily_state(orders: DataFrame) -> DataFrame:
    """Aggregate a batch of raw orders into mergeable daily state."""
    return (
        orders.select(F.to_date("o_orderdate").alias("d"))
        .where(F.col("d").isNotNull())
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def merge_daily_state(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Associative merge of two daily states (stored ⊕ new batch)."""
    return (
        state.unionByName(delta)
        .groupBy("d")
        .agg(F.sum("c").alias("c"))
    )


def ewma_control_incremental(spark, sf_dir: str) -> DataFrame:
    """Oracle-gated maintenance proof: build the daily state by
    merging three out-of-order order deltas and present the EWMA
    chart — the DuckDB oracle recomputes from all orders in one pass
    (the batch op's exact SQL), so the hash match proves the
    incremental path loses nothing, including days whose orders are
    SPLIT across deltas (their counts — and therefore the smoothed
    level, the moments, and every control flag — only become correct
    after the merge)."""
    from stac_geoparquet_spark.operators.timeseries import (
        ewma_chart_from_daily,
    )

    from stac_geoparquet_spark.operators._io import fenced

    orders = read_table(spark, sf_dir, "orders")
    # pmod + coalesce: every row lands in exactly ONE delta (the
    # rollup.py convention — Spark's % keeps the dividend's sign and
    # NULL % 3 is NULL)
    bucket = F.pmod(F.coalesce(F.col("o_orderkey"), F.lit(0)), F.lit(3))
    # r10: ONE orders scan builds all three delta states.  The three
    # `orders.where(bucket == i)` filters each re-ran the full scan +
    # daily aggregate (no CSE across Union branches), tripling the
    # fact pass the downstream fence then paid eagerly at construction
    # (guide §2.4).  The per-(day, bucket) rollup is calendar-bounded
    # (≤ 3 rows per day), so it satisfies the fence contract; each
    # delta is a filter over the materialized rows and the merge chain
    # below is byte-identical to before — per-(d, b) counts are exact
    # ints, so delta(i) equals daily_state(orders.where(bucket == i))
    # row for row.
    per = fenced(
        orders.select(F.to_date("o_orderdate").alias("d"), bucket.alias("b"))
        .where(F.col("d").isNotNull())
        .groupBy("d", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    def delta(i: int) -> DataFrame:
        return per.where(F.col("b") == i).select("d", "c")

    state = merge_daily_state(delta(1), delta(2))
    state = merge_daily_state(state, delta(0))
    return ewma_chart_from_daily(state)


def _oracle() -> str:
    from stac_geoparquet_spark.operators.timeseries import EWMA_SQL

    return EWMA_SQL


QUERIES = {"ewma_control_incremental": ewma_control_incremental}
ORACLE = {"ewma_control_incremental": _oracle()}

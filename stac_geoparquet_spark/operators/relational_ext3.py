"""Third relational extension batch: TPC-H Q12 adapted to the driver
schema, GROUPING SETS (the grain combination cube/rollup cannot
express), and an interval-range join implemented as a linear range
window.

Same contract as operators/relational.py (SURVEY.md §2.7): declarative
DataFrame code, every output column aliased identically to its DuckDB
oracle, money sums accumulated in decimal so the value hash is
insensitive to partition summation order.

Scale notes (100 TB):
- q12: one shuffle join lineitem⋈orders on orderkey (both sides large →
  sort-merge; AQE may convert to broadcast at small SF), then a 3-row
  groupBy that is all map-side combine.
- grouping sets: Spark expands the grouping-set grains in a single
  Expand + one shuffle — same cost profile as cube/rollup, no extra
  scans per grain.
- range join: the naive formulation is a per-user quadratic self-join;
  the implementation here is a range-frame window — one shuffle on
  user_id, linear per partition. The DuckDB oracle deliberately runs
  the quadratic self-join to pin identical semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._canon import (
    EVENTS_CANON_SQL as _EVENTS_CANON_SQL,
)
from pyspark.sql.window import Window

from stac_geoparquet_spark.operators._io import read_table
from stac_geoparquet_spark.operators.relational import _dsum


# --------------------------------------------------------------------------
# Q12 (adapted) — ship-delay buckets x order priority. TPC-H Q12 counts
# high/low-priority lines per shipmode (reference delegates this to the
# downstream engine, SURVEY.md §2.7); the driver schema has no
# l_shipmode / l_receiptdate, so the bucket key is the ship delay
# (days from order date to ship date) instead.
# --------------------------------------------------------------------------
def q12_ship_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    orders = read_table(spark, sf_dir, "orders")
    delay = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    bucket = (
        F.when(delay <= 30, "0-30")
        .when(delay <= 60, "31-60")
        .otherwise("61+")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT CASE
         WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 30 THEN '0-30'
         WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 60 THEN '31-60'
         ELSE '61+'
       END AS delay_bucket,
       count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
       count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate <  TIMESTAMP '1996-01-01'
GROUP BY 1
"""


# --------------------------------------------------------------------------
# GROUPING SETS — per-flag, per-status, and grand total in ONE pass.
# This grain set {(flag), (status), ()} is exactly what neither rollup
# (adds (flag,status)) nor cube (adds it too) can produce. grouping()
# flags disambiguate grain-null from data-null.
# --------------------------------------------------------------------------
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("n_rows"),
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(disc_price).alias("revenue"),
        )
    )


GROUPING_SETS_SQL = """
SELECT l_returnflag,
       l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER)  AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER)  AS g_status,
       count(*)                                 AS n_rows,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
HAVING count(*) > 0
"""


# --------------------------------------------------------------------------
# Interval-range join — clicks in the hour before each purchase, per
# user. The textbook formulation is a per-user range self-join
# (quadratic in events-per-user); the linear shape is a range-frame
# window over event time: one shuffle on user_id, one ordered pass.
# The oracle runs the quadratic self-join so both semantics are pinned
# against each other.
# --------------------------------------------------------------------------
_HOUR_US = 3_600_000_000  # range frame bounds are in order-key units (µs)


def range_join_clicks_before_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # a time-range lookback is undefined without a timestamp or user
    # key; exclude such rows on both engines (the NULL-ordering
    # divergence class found by NULL-injection differential testing)
    # canonical-by-id (_canon.py): event streams are at-least-once
    # delivered — the lookback is keyed per purchase EVENT, so a
    # re-delivered duplicate event_id must neither double-count as a
    # click nor emit its purchase row twice
    from stac_geoparquet_spark.operators._canon import events_canon

    ev = events_canon(spark, sf_dir).where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-_HOUR_US, -1)
    )
    is_click = F.col("event_type") == "click"
    clicks = F.count(F.when(is_click, 1)).over(w)
    click_value = (
        F.round(
            F.sum(
                F.when(is_click, F.col("value")).cast("decimal(18,6)")
            ).over(w),
            2,
        )
        .cast("double")
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            clicks.alias("clicks_1h"),
            F.coalesce(click_value, F.lit(0.0)).alias("click_value_1h"),
        )
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "clicks_1h", "click_value_1h")
    )


RANGE_JOIN_SQL = f"""
SELECT p.event_id,
       p.user_id,
       p.ts,
       count(CASE WHEN e.event_type = 'click' THEN 1 END) AS clicks_1h,
       coalesce(CAST(round(sum(CASE WHEN e.event_type = 'click'
                                    THEN CAST(e.value AS DECIMAL(18,6)) END), 2) AS DOUBLE),
                0.0) AS click_value_1h
FROM (SELECT * FROM {_EVENTS_CANON_SQL} events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL) p
LEFT JOIN (SELECT * FROM {_EVENTS_CANON_SQL} events
           WHERE ts IS NOT NULL AND user_id IS NOT NULL) e
  ON e.user_id = p.user_id
 AND e.ts >= p.ts - INTERVAL 1 HOUR
 AND e.ts <  p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id, p.ts
"""


# --------------------------------------------------------------------------
# Gap-filled time-series rollup (hypertable-style): hourly purchase
# revenue densified over the full hour calendar, zero-filled counts,
# LOCF (last-observation-carried-forward) interpolation. The calendar
# is generated distributively (sequence over the min/max bounds — no
# driver-side collect).
#
# Scale note: LOCF is inherently sequential in time, so the window here
# is a single global ordering — fine for a calendar axis (one row per
# hour: 10 years ≈ 90k rows regardless of fact-table size, and the
# heavy fact aggregation before it is fully parallel). For per-key
# gap-fill at scale, partition the window by the series key.
# --------------------------------------------------------------------------
def gapfill_hourly_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts IS NOT NULL: an untimed purchase belongs to no hour — the
    # oracle's calendar join drops its NULL-hour group implicitly, and
    # without the explicit filter Spark's NULL-hour row (which sorts
    # FIRST in the hour ordering) would seed the LOCF chain (found by
    # the round-4 NULL-ts/value event probe)
    ev = read_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    )
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_raw"),
        _dsum(F.col("value")).alias("rev_raw"),
    )
    # Single-branch gap fill: instead of generating a calendar from a
    # second bounds pass and left-joining (two fact scans, a join, and a
    # LOCF window), each aggregated row emits itself plus the empty hours
    # up to its successor via lead+explode(sequence). LOCF is an
    # ignore-nulls last over the aggregated hourly rows BEFORE the
    # explode — a real hour whose purchases all carry NULL value (a
    # production shape: recorded sale, unparsed amount) has rev_raw
    # NULL, and the gap/real rows alike must carry the last KNOWN
    # revenue, exactly the oracle's last_value(... IGNORE NULLS); its
    # reported revenue coalesces to 0 on both engines. One fact scan,
    # one shuffle, and the windows run over the aggregated hourly rows
    # (hours-count sized, tiny at any data scale).
    w_ord = Window.orderBy("hour")
    with_next = hourly.withColumn(
        "locf",
        F.last("rev_raw", ignorenulls=True).over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn("nxt", F.lead("hour").over(w_ord))
    filled = with_next.select(
        F.col("hour").alias("base_hour"),
        "n_raw",
        "rev_raw",
        "locf",
        F.explode(
            F.sequence(
                F.col("hour"),
                F.coalesce(
                    F.col("nxt") - F.expr("interval 1 hour"), F.col("hour")
                ),
                F.expr("interval 1 hour"),
            )
        ).alias("hour"),
    )
    is_real = F.col("hour") == F.col("base_hour")
    return filled.select(
        "hour",
        F.when(is_real, F.col("n_raw")).otherwise(F.lit(0)).alias("n_purchases"),
        F.when(is_real, F.coalesce(F.col("rev_raw"), F.lit(0.0)))
        .otherwise(F.lit(0.0))
        .alias("revenue"),
        F.col("locf").alias("revenue_locf"),
    )


GAPFILL_SQL = """
WITH p AS (
  SELECT date_trunc('hour', ts) AS hour,
         count(*) AS n_raw,
         CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS rev_raw
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
b AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events WHERE event_type = 'purchase'
),
cal AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b)
SELECT cal.hour,
       coalesce(n_raw, 0)    AS n_purchases,
       coalesce(rev_raw, 0.0) AS revenue,
       last_value(rev_raw IGNORE NULLS)
         OVER (ORDER BY cal.hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS revenue_locf
FROM cal LEFT JOIN p ON p.hour = cal.hour
"""


# --------------------------------------------------------------------------
# Rolling 24 h per-user aggregate — a RANGE frame over event *time*, not
# row count (the pattern behind rate limiting, rolling spend caps,
# trailing-day features). Frame bounds are microsecond epochs derived
# with timestampdiff from a fixed NTZ origin, so the arithmetic is
# timezone-free and bit-identical in DuckDB (date_diff microseconds) —
# never unix_timestamp, whose NTZ interpretation depends on session tz.
# One shuffle on user_id; linear per partition (Spark maintains the
# sliding frame incrementally over the sorted run).
# --------------------------------------------------------------------------
_EPOCH_ORIGIN = "2024-01-01 00:00:00"
_DAY_US = 86_400_000_000


def rolling_24h_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    us = F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '{_EPOCH_ORIGIN}', ts)"
    )
    keyed = ev.select(
        "event_id", "user_id", us.alias("ts_us"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-(_DAY_US - 1), 0)
    )
    return keyed.select(
        "event_id",
        "user_id",
        F.round(F.sum("v").over(w), 2).cast("double").alias("rolling_sum_24h"),
        F.count(F.lit(1)).over(w).alias("rolling_n_24h"),
    )


ROLLING_24H_SQL = f"""
WITH keyed AS (
  SELECT event_id, user_id,
         date_diff('microsecond', TIMESTAMP '{_EPOCH_ORIGIN}', ts) AS ts_us,
         CAST(value AS DECIMAL(18,6)) AS v
  FROM events
)
SELECT event_id, user_id,
       CAST(round(sum(v) OVER w, 2) AS DOUBLE) AS rolling_sum_24h,
       count(*) OVER w AS rolling_n_24h
FROM keyed
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN {_DAY_US - 1} PRECEDING AND CURRENT ROW)
"""


# --------------------------------------------------------------------------
# Equi-width histogram — two-phase: a 1-row min/max aggregate broadcast
# to every row (same shape as layout.py's quantization maxima), then the
# bucket groupBy. Never a driver round-trip for the bounds; the bin
# arithmetic is plain IEEE doubles so both engines land identical bins.
# --------------------------------------------------------------------------
N_BINS = 20


def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    # nullif guards the degenerate all-equal column (hi == lo): Spark's
    # non-ANSI x/0 yields NULL while DuckDB yields inf, so the engines
    # would diverge; nullif makes both NULL -> coalesce to bin 0.
    binned = orders.crossJoin(F.broadcast(bounds)).selectExpr(
        f"least(CAST(floor(coalesce((o_totalprice - lo)"
        f" / nullif((hi - lo) / {N_BINS}.0, 0), 0)) AS BIGINT),"
        f" {N_BINS - 1}) AS bin",
        "o_totalprice",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("bin_min"),
        F.round(F.max("o_totalprice"), 2).alias("bin_max"),
    )


HISTOGRAM_SQL = f"""
WITH bounds AS (
  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
)
SELECT least(CAST(floor(coalesce((o_totalprice - lo)
                  / nullif((hi - lo) / {N_BINS}.0, 0), 0)) AS BIGINT),
             {N_BINS - 1}) AS bin,
       count(*) AS n,
       round(min(o_totalprice), 2) AS bin_min,
       round(max(o_totalprice), 2) AS bin_max
FROM orders CROSS JOIN bounds
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Exponentially-decayed user activity: per user, the decayed event
# count S_u = sum_e exp((t_e - t_last) / tau) with tau = 7 days — the
# standard recency feature for engagement scoring / churn screens.
#
# Numerics by construction: every exponent is <= 0 (decay is measured
# back from the user's OWN last event), so exp can never overflow no
# matter how long the corpus's time axis grows — the naive
# exp(t/tau)-then-rescale form blows up past ~a decade of span.  The
# anchor max(ts) comes from a window over user_id (unbounded key,
# sweep-legal) and the groupBy that follows reuses the same hash
# partitioning, so the whole op costs ONE shuffle of (user_id, ts_us,
# ...) rows.  Time arithmetic is microseconds from a fixed NTZ origin
# (timestampdiff / date_diff), never unix_timestamp — bit-identical
# and timezone-free on both engines.
# --------------------------------------------------------------------------
_DECAY_TAU_US = 7 * _DAY_US


def events_decayed_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    us = F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '{_EPOCH_ORIGIN}', ts)"
    )
    w = Window.partitionBy("user_id")
    keyed = ev.select("user_id", us.alias("ts_us"), "ts").withColumn(
        "decay",
        F.exp(
            (F.col("ts_us") - F.max("ts_us").over(w)).cast("double")
            / F.lit(float(_DECAY_TAU_US))
        ),
    )
    return keyed.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts").alias("last_ts"),
        F.round(F.sum("decay"), 6).alias("activity_score"),
    )


DECAYED_ACTIVITY_SQL = f"""
WITH keyed AS (
  SELECT user_id, ts,
         exp(CAST(date_diff('microsecond', TIMESTAMP '{_EPOCH_ORIGIN}', ts)
                  - max(date_diff('microsecond',
                                  TIMESTAMP '{_EPOCH_ORIGIN}', ts))
                    OVER (PARTITION BY user_id) AS DOUBLE)
             / {float(_DECAY_TAU_US)}) AS decay
  FROM events
)
SELECT user_id, count(*) AS n_events, max(ts) AS last_ts,
       round(sum(decay), 6) AS activity_score
FROM keyed
GROUP BY user_id
"""


# --------------------------------------------------------------------------
# Funnel latency quantiles: among users whose first 'view' precedes
# their first 'purchase', the p25/p50/p75 of the view->purchase
# latency — the time-to-convert companion of the stage-count funnel
# (funnel_view_click_purchase tells you HOW MANY convert; this tells
# you HOW FAST).  One shuffle: a conditional-min aggregate per user
# (map-side combined), then an exact interpolated percentile (Spark
# `percentile` == DuckDB `quantile_cont`, the
# percentile_prices_by_priority convention) over the latency.
# Percentile-buffer bound: the latency is quantized to WHOLE
# MILLISECONDS on both engines before the percentile, so the exact
# percentile's distinct-value buffer holds at most
# span_ms = (max event ts - min event ts) in milliseconds entries
# (~2.6e9 for a 30-day corpus, in practice far fewer because only
# observed latencies appear) — bounded by the TIME SPAN of the data,
# not by the user count, the same bounded-distinct-domain argument
# quality_winsorize states for its round(,6)-in-[0,1] scores.
# --------------------------------------------------------------------------
def funnel_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    lat = firsts.where(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select(
        # integer-ms quantum, kept as a BIGINT through the percentile:
        # the interpolation positions 0.25/0.5/0.75 are exact binary
        # fractions, so interpolating INTEGER operands is bit-exact on
        # both engines regardless of their (different) lerp expression
        # shapes — interpolating 0.001-multiples instead landed exact
        # 4dp midpoints whose last rounded digit flipped with the
        # engines' 1-ulp lerp difference (found by the sf0.1 full-gate
        # sweep).  The output stays in MILLISECONDS: the interpolated
        # values are exact multiples of 0.25 ms (g in {0,.25,.5,.75}
        # over ints), exactly representable doubles — NO final
        # rounding, because a /1000 + round(,4) re-lands the exact
        # decimal midpoints where Spark's BigDecimal HALF_UP and
        # DuckDB's multiply-based HALF_UP split by one ulp.
        F.round(
            F.expr(
                "timestampdiff(MICROSECOND, first_view, first_purchase)"
            ).cast("double")
            / F.lit(1_000.0),
            0,
        )
        .cast("bigint")
        .alias("latency_ms")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("percentile(latency_ms, 0.25)").alias("p25_ms"),
        F.expr("percentile(latency_ms, 0.5)").alias("p50_ms"),
        F.expr("percentile(latency_ms, 0.75)").alias("p75_ms"),
    )


FUNNEL_LATENCY_SQL = """
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY user_id
),
lat AS (
  SELECT CAST(round(CAST(date_diff('microsecond', first_view, first_purchase)
                         AS DOUBLE) / 1000.0, 0) AS BIGINT) AS latency_ms
  FROM firsts
  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
    AND first_purchase >= first_view
)
SELECT count(*) AS n_converted,
       quantile_cont(latency_ms, 0.25) AS p25_ms,
       quantile_cont(latency_ms, 0.50) AS p50_ms,
       quantile_cont(latency_ms, 0.75) AS p75_ms
FROM lat
"""


# --------------------------------------------------------------------------
# RFM segmentation: recency (hours since the user's last event,
# measured from the corpus max so the result is reproducible),
# frequency (event count), monetary (value sum), each cut at its
# MEDIAN into hi/lo — 8 segments.  The classic formulation uses
# ntile() over the per-user table, i.e. an unpartitioned window over
# a key set that GROWS with the data — exactly the shape the registry
# sweep bans.  Here the cut points come from a percentile aggregate
# (3 scalars, broadcast back) and the segment label is a pure CASE —
# one user_id shuffle plus two broadcast-size aggregates, any scale.
# The medians' percentile buffers hold DISTINCT (quantized) values
# with map-side merge, not rows; every input domain is bounded AND
# integer: monetary_cents (≤ price_span × 100 distinct), freq (a
# small-int event count, ≤ max events/user distinct), and recency_ch
# in integer CENTIHOURS — distinct values ≤ corpus time span in
# hours × 100 (~7.2e4 for a 30-day corpus), independent of user
# count.  Integer inputs make the g=0.5 median interpolation
# bit-exact cross-engine; ties go to 'hi' (>=) on both engines.
# --------------------------------------------------------------------------
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("freq"),
        # exact integer cents (the pareto/OLS convention): the median
        # then interpolates INTEGER operands — bit-exact on both
        # engines (0.5 * int and int + int are exact doubles below
        # 2^53), where a median of 0.01-multiples could land an exact
        # midpoint and flip the >= cut with the engines' 1-ulp lerp
        # difference (the funnel-latency sf0.1 finding)
        F.round(F.sum("value") * 100)
        .cast("bigint")
        .alias("monetary_cents"),
    )
    anchor = per_user.agg(F.max("last_ts").alias("t_max"))
    rfm = per_user.join(F.broadcast(anchor)).select(
        "user_id",
        # 0.01 h quantum as integer CENTIHOURS: bounds the median's
        # distinct-value buffer by the corpus time span (see header
        # note) AND keeps the median interpolation exact-int
        F.round(
            F.expr("timestampdiff(MICROSECOND, last_ts, t_max)").cast(
                "double"
            )
            / F.lit(36_000_000.0),
            0,
        )
        .cast("bigint")
        .alias("recency_ch"),
        "freq",
        "monetary_cents",
    )
    cuts = rfm.agg(
        F.expr("percentile(recency_ch, 0.5)").alias("r_med"),
        F.expr("percentile(freq, 0.5)").alias("f_med"),
        F.expr("percentile(monetary_cents, 0.5)").alias("m_med"),
    )
    seg = F.concat(
        # LOW recency (recent) is the good half — standard RFM reads;
        # comparisons are exact-int vs exact-.5-multiple doubles
        F.when(F.col("recency_ch") <= F.col("r_med"), "R+").otherwise(
            "R-"
        ),
        F.when(F.col("freq") >= F.col("f_med"), "F+").otherwise("F-"),
        F.when(
            F.col("monetary_cents") >= F.col("m_med"), "M+"
        ).otherwise("M-"),
    )
    return (
        rfm.join(F.broadcast(cuts))
        .select(seg.alias("segment"))
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


RFM_SQL = """
WITH per_user AS (
  SELECT user_id, max(ts) AS last_ts, count(*) AS freq,
         CAST(round(sum(value) * 100) AS BIGINT) AS monetary_cents
  FROM events GROUP BY user_id
),
anchor AS (SELECT max(last_ts) AS t_max FROM per_user),
rfm AS (
  SELECT user_id,
         CAST(round(CAST(date_diff('microsecond', last_ts, t_max) AS DOUBLE)
                    / 36000000.0, 0) AS BIGINT) AS recency_ch,
         freq, monetary_cents
  FROM per_user, anchor
),
cuts AS (
  SELECT quantile_cont(recency_ch, 0.5) AS r_med,
         quantile_cont(freq, 0.5) AS f_med,
         quantile_cont(monetary_cents, 0.5) AS m_med
  FROM rfm
)
SELECT concat(CASE WHEN recency_ch <= r_med THEN 'R+' ELSE 'R-' END,
              CASE WHEN freq >= f_med THEN 'F+' ELSE 'F-' END,
              CASE WHEN monetary_cents >= m_med THEN 'M+' ELSE 'M-' END)
         AS segment,
       count(*) AS n_users
FROM rfm, cuts
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Event-type Markov transition matrix: P(next_type | prev_type) from
# each user's time-ordered event sequence — the session-model
# diagnostic behind funnel design (a heavy error->error self-loop
# means retry storms; view->purchase mass is organic conversion).
# One window over user_id (a key that SCALES with the data —
# sweep-legal) with (ts, event_id) as the deterministic total order
# on both engines, then one keyed count on the bounded
# (prev, next) pair and a broadcast join against the tiny per-prev
# totals (no window over the bounded event_type key).  Rows with
# NULL user_id / ts / event_type carry no sequence identity or order
# and are excluded on both engines.  p = n / row_total is a single
# division of exact counts, round(,6); both operands positive, so no
# -0.0 path.
# --------------------------------------------------------------------------
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # canonical-by-id (_canon.py): the (ts, event_id) total order is
    # the sequence identity — a re-delivered event_id with a different
    # payload would make the lag order engine-dependent
    from stac_geoparquet_spark.operators._canon import events_canon

    ev = events_canon(spark, sf_dir).where(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
    )
    lagged = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    counts = lagged.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    totals = counts.groupBy("prev_type").agg(
        F.sum("n_transitions").alias("row_total")
    )
    return counts.join(F.broadcast(totals), "prev_type").select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.col("row_total").cast("double"), 6
        ).alias("p"),
    )


MARKOV_SQL = f"""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM {_EVENTS_CANON_SQL} events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
),
counts AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
totals AS (
  SELECT prev_type, CAST(sum(n_transitions) AS BIGINT) AS row_total
  FROM counts GROUP BY prev_type
)
SELECT prev_type, next_type, n_transitions,
       round(n_transitions / CAST(row_total AS DOUBLE), 6) AS p
FROM counts JOIN totals USING (prev_type)
"""


# --------------------------------------------------------------------------
# Per-user path entropy: the Shannon entropy of each user's
# (prev -> next) transition distribution — the behavioral-diversity
# feature next to events_markov_transitions' global matrix (bots and
# scripted traffic have near-zero path entropy; exploratory users are
# high).  Same sequence contract as the markov op: canonical events,
# (ts, event_id) total order, NULL user/ts/type rows carry no
# sequence identity.
#
# Shape: the lag window and BOTH keyed aggregates share the user_id
# shuffle ((user, pair) counts are a narrow regroup of the windowed
# rows; the per-user rollup re-keys the compacted pairs).  Entropy in
# the ln(n) - sum(c ln c)/n form (the text_token_entropy move): exact
# int counts feed one ln per DISTINCT pair, the per-user float sum is
# bounded by the type-alphabet^2, and round(,6) sits ~10 orders above
# that merge noise.
# --------------------------------------------------------------------------
def user_path_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators._canon import events_canon

    ev = events_canon(spark, sf_dir).where(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    lagged = ev.select(
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    pair_counts = lagged.groupBy(
        "user_id", "prev_type", "next_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    return pair_counts.groupBy("user_id").agg(
        F.sum("c").alias("n_transitions"),
        (
            F.round(
                F.log(F.sum("c").cast("double"))
                - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
                / F.sum("c").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("path_entropy"),
    )


PATH_ENTROPY_SQL = f"""
WITH seq AS (
  SELECT user_id, event_type AS next_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM {_EVENTS_CANON_SQL} events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
),
pc AS (
  SELECT user_id, prev_type, next_type, CAST(count(*) AS BIGINT) AS c
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY user_id, prev_type, next_type
)
SELECT user_id,
       CAST(sum(c) AS BIGINT) AS n_transitions,
       round(ln(CAST(sum(c) AS DOUBLE))
             - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
               / CAST(sum(c) AS DOUBLE), 6) + 0.0 AS path_entropy
FROM pc GROUP BY user_id
"""


QUERIES = {
    "events_markov_transitions": events_markov_transitions,
    "user_path_entropy": user_path_entropy,
    "events_decayed_activity": events_decayed_activity,
    "funnel_latency_quantiles": funnel_latency_quantiles,
    "events_rfm_segments": events_rfm_segments,
    "q12_ship_delay_priority": q12_ship_delay_priority,
    "grouping_sets_revenue": grouping_sets_revenue,
    "range_join_clicks_before_purchase": range_join_clicks_before_purchase,
    "gapfill_hourly_purchases": gapfill_hourly_purchases,
    "rolling_24h_user_value": rolling_24h_user_value,
    "histogram_totalprice": histogram_totalprice,
}

ORACLE = {
    "events_markov_transitions": MARKOV_SQL,
    "user_path_entropy": PATH_ENTROPY_SQL,
    "events_decayed_activity": DECAYED_ACTIVITY_SQL,
    "funnel_latency_quantiles": FUNNEL_LATENCY_SQL,
    "events_rfm_segments": RFM_SQL,
    "q12_ship_delay_priority": Q12_SQL,
    "grouping_sets_revenue": GROUPING_SETS_SQL,
    "range_join_clicks_before_purchase": RANGE_JOIN_SQL,
    "gapfill_hourly_purchases": GAPFILL_SQL,
    "rolling_24h_user_value": ROLLING_24H_SQL,
    "histogram_totalprice": HISTOGRAM_SQL,
}

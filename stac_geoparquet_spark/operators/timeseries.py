"""Temporal / experiment analytics operators — round 8.

The time-axis diagnostics a training-data pipeline runs next to the
relational surface: autocorrelation of the daily arrival series (is
there weekly periodicity the sampler must stratify over?), day-of-week
seasonality shares, PSI population drift between calendar halves (the
"did the ingest distribution move" screen run before mixing a new
crawl into an old one), a deterministic A/B two-proportion z-test, and
per-supplier lead-time trend slopes.  The reference is a STAC
conversion library with no analytics surface (SURVEY §1); these extend
SURVEY §2.7's relational family.

Scale notes (100 TB):
- the corpus-sized work in every operator here is ONE map-side-
  combining aggregate on a scaling or calendar key (day, event_type x
  half, user_id, suppkey); everything downstream operates on rollups
  bounded by the calendar or the type alphabet;
- the autocorrelation lag join broadcasts the DAILY rollup — rows are
  bounded by calendar days, never by order count (100x the orders
  land in the same days);
- floats: counts / cents / day-diffs stay exact int64 end-to-end;
  each output statistic is ONE fixed-shape double expression over
  those exact moments (casts are IEEE round-to-nearest on both
  engines, the expression tree is written identically in the Spark
  plan and the oracle SQL), then round(,6) + 0.0 — the house
  convention, no float merge-order exposure anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._io import read_table

ACF_MAX_LAG = 7  # daily-series autocorrelation horizon (one week)
LEADTIME_X_EPOCH = "2020-01-01"  # OLS x-origin: keeps day indexes small


def _daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL dates carry no position on the time axis — excluded
    # explicitly on both engines (the canonical NULL-key rule)
    return (
        read_table(spark, sf_dir, "orders")
        .select(F.to_date("o_orderdate").alias("d"))
        .where(F.col("d").isNotNull())
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("c"))
    )


# --------------------------------------------------------------------------
# Autocorrelation of the daily order-count series at lags 1..7 — the
# periodicity probe run before choosing a time-stratified sampling
# grain (a strong lag-7 peak means day-of-week stratification is
# mandatory).  The corpus-sized work is the one daily rollup; the
# rollup is CALENDAR-BOUNDED (100x the orders land in the same days),
# so the lag-offset copy is broadcast and the x7 explode fan-out is a
# constant.  Pearson r per lag from exact int64 moments (n, Σx, Σy,
# Σxy, Σx², Σy²): per-day counts fit ~1e7 even at 1000x this corpus,
# so Σxy <= days x 1e14 ~ 4e17 < 2^63 — the sums stay exact; the
# final r is one identically-shaped double expression over those
# moments on both engines (zero-variance lags -> NULL, checked on the
# exact ints before any division).
# --------------------------------------------------------------------------
def orders_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_orders(spark, sf_dir)
    x = daily.select(
        F.col("d").alias("xd"),
        F.col("c").alias("xc"),
        F.explode(F.sequence(F.lit(1), F.lit(ACF_MAX_LAG))).alias("lag"),
    )
    y = daily.select(F.col("d").alias("yd"), F.col("c").alias("yc"))
    m = (
        x.join(F.broadcast(y), F.date_add(F.col("xd"), F.col("lag")) == F.col("yd"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("xc").alias("sx"),
            F.sum("yc").alias("sy"),
            F.sum(F.col("xc") * F.col("yc")).alias("sxy"),
            F.sum(F.col("xc") * F.col("xc")).alias("sxx"),
            F.sum(F.col("yc") * F.col("yc")).alias("syy"),
        )
    )
    # the variance-positivity guard compares EXACT ints (n*sxx vs
    # sx*sx), so the NULL cut cannot drift by a rounding ulp
    return m.selectExpr(
        "lag",
        "n_pairs",
        """CASE WHEN n_pairs * sxx <= sx * sx OR n_pairs * syy <= sy * sy
                THEN NULL
                ELSE round(
                  (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                  6) + 0.0
           END AS acf""",
    )


AUTOCORRELATION_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
),
lags AS (SELECT CAST(unnest(generate_series(1, {ACF_MAX_LAG})) AS INT) AS lag),
m AS (
  SELECT lag,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(x.c) AS BIGINT) AS sx,
         CAST(sum(y.c) AS BIGINT) AS sy,
         CAST(sum(x.c * y.c) AS BIGINT) AS sxy,
         CAST(sum(x.c * x.c) AS BIGINT) AS sxx,
         CAST(sum(y.c * y.c) AS BIGINT) AS syy
  FROM daily x CROSS JOIN lags
  JOIN daily y ON y.d = x.d + lag
  GROUP BY lag
)
SELECT lag, n_pairs,
       CASE WHEN n_pairs * sxx <= sx * sx OR n_pairs * syy <= sy * sy
            THEN NULL
            ELSE round(
              (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
              6) + 0.0
       END AS acf
FROM m
"""


# --------------------------------------------------------------------------
# Day-of-week seasonality: order count and exact cent revenue per
# weekday, with shares of the totals — the companion read to the ACF
# (the lag-7 peak localized to WHICH days carry the mass).  Weekday
# is computed as epoch-day mod 7 anchored on a known Monday
# (1970-01-05) IDENTICALLY on both engines — never the engines' own
# dayofweek functions, whose 0/1-origin and week-start conventions
# differ.  One map-side-combining aggregate on the 7-value key
# (bounded key is fine for groupBy — partials combine; the sweep bans
# bounded-key WINDOWS, not aggregates), one broadcast totals row;
# shares are single divisions of exact ints, round(,6).
# --------------------------------------------------------------------------
def orders_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        read_table(spark, sf_dir, "orders")
        .select(
            F.to_date("o_orderdate").alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .where(F.col("d").isNotNull())
    )
    dow = ((F.datediff(F.col("d"), F.to_date(F.lit("1970-01-05"))) % 7) + 7) % 7
    per = (
        o.select(dow.alias("dow"), "cents")
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
    )
    tot = per.agg(
        F.sum("n_orders").alias("t_n"), F.sum("revenue_cents").alias("t_c")
    )
    names = F.array(
        *[F.lit(s) for s in ("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")]
    )
    return per.join(F.broadcast(tot)).select(
        "dow",
        F.element_at(names, F.col("dow") + 1).alias("dow_name"),
        "n_orders",
        "revenue_cents",
        F.round(F.col("n_orders").cast("double") / F.col("t_n"), 6).alias(
            "order_share"
        ),
        F.round(
            F.col("revenue_cents").cast("double") / F.col("t_c"), 6
        ).alias("revenue_share"),
    )


SEASONALITY_DOW_SQL = """
WITH o AS (
  SELECT ((CAST(o_orderdate AS DATE) - DATE '1970-01-05') % 7 + 7) % 7
           AS dow,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderdate IS NOT NULL
),
per AS (
  SELECT CAST(dow AS INT) AS dow,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(cents) AS BIGINT) AS revenue_cents
  FROM o GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_orders) AS BIGINT) AS t_n,
         CAST(sum(revenue_cents) AS BIGINT) AS t_c
  FROM per
)
SELECT dow,
       (['Mon','Tue','Wed','Thu','Fri','Sat','Sun'])[dow + 1] AS dow_name,
       n_orders, revenue_cents,
       round(CAST(n_orders AS DOUBLE) / t_n, 6) AS order_share,
       round(CAST(revenue_cents AS DOUBLE) / t_c, 6) AS revenue_share
FROM per CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# PSI population drift between the two calendar halves of the event
# stream — the standard "did the distribution move between ingests"
# screen, reported PER TYPE (the add-one-smoothed PSI term) rather
# than as a pre-summed scalar: the per-term rows are what an operator
# dashboard shows, and emitting them keeps every output a single
# fixed-shape float expression over exact ints (no float sum at all —
# a scalar PSI would sum doubles across the type alphabet).  The
# split point is the µs midpoint of the corpus time range — exact
# int64 arithmetic, reproducible on both engines.  The corpus-sized
# work is two aggregates (the min/max row and the per-(type, half)
# counts), both map-side combining; the smoothing constant k = the
# type-alphabet size.  Int products inside the ln stay < 2^63 for
# corpora up to ~1e9 events per type (comment bound; beyond that the
# counts themselves need a wider type everywhere).  Reads the raw
# event multiset (distribution op over arriving rows — the house
# row-level rule); NULL ts/type rows carry no position or class.
# --------------------------------------------------------------------------
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            # NTZ-safe epoch µs (unix_micros rejects TIMESTAMP_NTZ);
            # DuckDB's epoch_us on a naive TIMESTAMP is the same number
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ).alias("us"),
        )
    )
    mid = ev.agg(
        F.expr("min(us) + (max(us) - min(us)) div 2").alias("mid")
    )
    from stac_geoparquet_spark.operators._io import fenced

    # fenced (type-alphabet-bounded rollup, two consumers): the totals
    # aggregate and the term join read the materialized counts — the
    # two corpus scans that remain (the min/max row + the conditional
    # counts) are the inherent two-pass of a data-derived split point
    per = fenced(
        ev.join(F.broadcast(mid))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("us") <= F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_first"),
            F.sum(F.when(F.col("us") > F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_second"),
        )
    )
    tot = per.agg(
        F.sum("n_first").alias("ta"),
        F.sum("n_second").alias("tb"),
        F.count(F.lit(1)).alias("k"),
    )
    return per.join(F.broadcast(tot)).selectExpr(
        "event_type",
        "n_first",
        "n_second",
        """round(
             (CAST(n_first + 1 AS DOUBLE) / CAST(ta + k AS DOUBLE)
              - CAST(n_second + 1 AS DOUBLE) / CAST(tb + k AS DOUBLE))
             * ln(CAST((n_first + 1) * (tb + k) AS DOUBLE)
                  / CAST((n_second + 1) * (ta + k) AS DOUBLE)),
             6) + 0.0 AS psi_term""",
    )


PSI_DRIFT_SQL = """
WITH ev AS (
  SELECT event_type, epoch_us(ts) AS us FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
m AS (SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM ev),
per AS (
  SELECT event_type,
         CAST(sum(CASE WHEN us <= mid THEN 1 ELSE 0 END) AS BIGINT)
           AS n_first,
         CAST(sum(CASE WHEN us > mid THEN 1 ELSE 0 END) AS BIGINT)
           AS n_second
  FROM ev CROSS JOIN m
  GROUP BY event_type
),
tot AS (
  SELECT CAST(sum(n_first) AS BIGINT) AS ta,
         CAST(sum(n_second) AS BIGINT) AS tb,
         CAST(count(*) AS BIGINT) AS k
  FROM per
)
SELECT event_type, n_first, n_second,
       round(
         (CAST(n_first + 1 AS DOUBLE) / CAST(ta + k AS DOUBLE)
          - CAST(n_second + 1 AS DOUBLE) / CAST(tb + k AS DOUBLE))
         * ln(CAST((n_first + 1) * (tb + k) AS DOUBLE)
              / CAST((n_second + 1) * (ta + k) AS DOUBLE)),
         6) + 0.0 AS psi_term
FROM per CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# Deterministic A/B two-proportion z-test: users split into arms by
# md5(user_id) parity (the split_train_holdout hash convention, mod 2
# instead of mod 100), conversion = the user ever fired a purchase
# event, z = (pA - pB) / sqrt(p(1-p)(1/nA + 1/nB)) on the pooled
# rate — the experiment readout every growth pipeline runs, here as
# an A/A-style hash split so the expected z is ~0 and the harness is
# fully deterministic.  One user_id-keyed aggregate (scaling key,
# map-side combining), then a single 1-row reduction; z is one
# fixed-shape double expression over four exact int64 counts, NULL
# when an arm is empty or the pooled rate is degenerate (guards
# compare exact ints).  Reads the raw multiset: re-delivered events
# cannot flip a per-user EXISTS.
# --------------------------------------------------------------------------
def events_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .select(
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
                    16,
                    10,
                ).cast("bigint")
                % 2
            ).alias("arm"),
            "conv",
        )
    )
    agg = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    return agg.selectExpr(
        "coalesce(n_a, 0) AS n_a",
        "coalesce(n_b, 0) AS n_b",
        "coalesce(conv_a, 0) AS conv_a",
        "coalesce(conv_b, 0) AS conv_b",
        "CASE WHEN coalesce(n_a, 0) = 0 THEN NULL"
        " ELSE round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6)"
        " END AS rate_a",
        "CASE WHEN coalesce(n_b, 0) = 0 THEN NULL"
        " ELSE round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)"
        " END AS rate_b",
        """CASE WHEN coalesce(n_a, 0) = 0 OR coalesce(n_b, 0) = 0
                 OR conv_a + conv_b = 0
                 OR conv_a + conv_b = n_a + n_b
                THEN NULL
                ELSE round(
                  (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                   - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                  / sqrt(
                      (CAST(conv_a + conv_b AS DOUBLE)
                       / CAST(n_a + n_b AS DOUBLE))
                      * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                               / CAST(n_a + n_b AS DOUBLE))
                      * (1.0 / CAST(n_a AS DOUBLE)
                         + 1.0 / CAST(n_b AS DOUBLE))),
                  6) + 0.0
           END AS z_score""",
    )


AB_ZTEST_SQL = """
WITH per_user AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2
           AS arm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
agg AS (
  SELECT
    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
  FROM per_user
)
SELECT coalesce(n_a, 0) AS n_a,
       coalesce(n_b, 0) AS n_b,
       coalesce(conv_a, 0) AS conv_a,
       coalesce(conv_b, 0) AS conv_b,
       CASE WHEN coalesce(n_a, 0) = 0 THEN NULL
            ELSE round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
       END AS rate_a,
       CASE WHEN coalesce(n_b, 0) = 0 THEN NULL
            ELSE round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
       END AS rate_b,
       CASE WHEN coalesce(n_a, 0) = 0 OR coalesce(n_b, 0) = 0
             OR conv_a + conv_b = 0
             OR conv_a + conv_b = n_a + n_b
            THEN NULL
            ELSE round(
              (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
               - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
              / sqrt(
                  (CAST(conv_a + conv_b AS DOUBLE)
                   / CAST(n_a + n_b AS DOUBLE))
                  * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                           / CAST(n_a + n_b AS DOUBLE))
                  * (1.0 / CAST(n_a AS DOUBLE)
                     + 1.0 / CAST(n_b AS DOUBLE))),
              6) + 0.0
       END AS z_score
FROM agg
"""


# --------------------------------------------------------------------------
# Per-supplier lead-time trend: the OLS slope of (ship date - order
# date) against the order date — the operational-drift screen ("is
# this supplier getting slower") that is also the per-group
# regression shape feature pipelines run per entity.  Same design as
# ols_discount_response: exact int64 moment sums per supplier (x =
# days since 2020-01-01, <= ~4e3; y = lead days, <= ~1e2; Σxy <=
# rows x 4e5, exact past 1e13 rows PER SUPPLIER), normal equations as
# one fixed-shape double expression, degenerate variance -> NULL
# decided on exact ints.  One join shuffle on the scaling o_orderkey,
# one aggregate on the scaling l_suppkey.
# --------------------------------------------------------------------------
def supplier_leadtime_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_suppkey").isNotNull()
        & F.col("l_orderkey").isNotNull()
        & F.col("l_shipdate").isNotNull()
    )
    o = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_suppkey",
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lit(LEADTIME_X_EPOCH))
        ).alias("x"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "y"
        ),
    )
    m = j.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return m.selectExpr(
        "l_suppkey",
        "n_lines",
        "round(CAST(sy AS DOUBLE) / CAST(n_lines AS DOUBLE), 6)"
        " AS avg_lead_days",
        """CASE WHEN n_lines * sxx <= sx * sx THEN NULL
                ELSE round(
                  (CAST(n_lines AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n_lines AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                  6) + 0.0
           END AS trend_slope""",
    )


LEADTIME_TREND_SQL = f"""
WITH j AS (
  SELECT l_suppkey,
         CAST(o_orderdate AS DATE) - DATE '{LEADTIME_X_EPOCH}' AS x,
         CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS y
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE l_suppkey IS NOT NULL AND l_orderkey IS NOT NULL
    AND l_shipdate IS NOT NULL AND o_orderdate IS NOT NULL
),
m AS (
  SELECT l_suppkey,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM j GROUP BY l_suppkey
)
SELECT l_suppkey, n_lines,
       round(CAST(sy AS DOUBLE) / CAST(n_lines AS DOUBLE), 6)
         AS avg_lead_days,
       CASE WHEN n_lines * sxx <= sx * sx THEN NULL
            ELSE round(
              (CAST(n_lines AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n_lines AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
              6) + 0.0
       END AS trend_slope
FROM m
"""


QUERIES = {
    "orders_autocorrelation": orders_autocorrelation,
    "orders_seasonality_dow": orders_seasonality_dow,
    "events_psi_drift": events_psi_drift,
    "events_ab_ztest": events_ab_ztest,
    "supplier_leadtime_trend": supplier_leadtime_trend,
}

ORACLE = {
    "orders_autocorrelation": AUTOCORRELATION_SQL,
    "orders_seasonality_dow": SEASONALITY_DOW_SQL,
    "events_psi_drift": PSI_DRIFT_SQL,
    "events_ab_ztest": AB_ZTEST_SQL,
    "supplier_leadtime_trend": LEADTIME_TREND_SQL,
}


# --------------------------------------------------------------------------
# Incremental PSI drift (round 8): the stream-static variant of
# events_psi_drift — the BASELINE distribution is frozen from the
# resident slice (event_id % INCOMING_MOD != 0, the retrieval-family
# slice convention) and each arriving batch's per-type counts score
# against it.  At serving time the baseline shares are a broadcast
# table maintained by the ingest job; here both sides compute in one
# map-side-combining pass over ONE scan (the conditional split needs
# no data-derived midpoint, unlike the calendar variant).  Same
# smoothed per-term output contract as events_psi_drift.
# --------------------------------------------------------------------------
def events_psi_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators.retrieval import INCOMING_MOD

    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("event_id").isNotNull()
    )
    per = ev.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("event_id") % INCOMING_MOD != 0, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_base"),
        F.sum(
            F.when(F.col("event_id") % INCOMING_MOD == 0, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_incoming"),
    )
    tot = per.agg(
        F.sum("n_base").alias("ta"),
        F.sum("n_incoming").alias("tb"),
        F.count(F.lit(1)).alias("k"),
    )
    return per.join(F.broadcast(tot)).selectExpr(
        "event_type",
        "n_base",
        "n_incoming",
        """round(
             (CAST(n_base + 1 AS DOUBLE) / CAST(ta + k AS DOUBLE)
              - CAST(n_incoming + 1 AS DOUBLE) / CAST(tb + k AS DOUBLE))
             * ln(CAST((n_base + 1) * (tb + k) AS DOUBLE)
                  / CAST((n_incoming + 1) * (ta + k) AS DOUBLE)),
             6) + 0.0 AS psi_term""",
    )


def _psi_incremental_sql() -> str:
    from stac_geoparquet_spark.operators.retrieval import INCOMING_MOD

    return f"""
WITH per AS (
  SELECT event_type,
         CAST(sum(CASE WHEN event_id % {INCOMING_MOD} != 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         CAST(sum(CASE WHEN event_id % {INCOMING_MOD} = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_incoming
  FROM events
  WHERE event_type IS NOT NULL AND event_id IS NOT NULL
  GROUP BY event_type
),
tot AS (
  SELECT CAST(sum(n_base) AS BIGINT) AS ta,
         CAST(sum(n_incoming) AS BIGINT) AS tb,
         CAST(count(*) AS BIGINT) AS k
  FROM per
)
SELECT event_type, n_base, n_incoming,
       round(
         (CAST(n_base + 1 AS DOUBLE) / CAST(ta + k AS DOUBLE)
          - CAST(n_incoming + 1 AS DOUBLE) / CAST(tb + k AS DOUBLE))
         * ln(CAST((n_base + 1) * (tb + k) AS DOUBLE)
              / CAST((n_incoming + 1) * (ta + k) AS DOUBLE)),
         6) + 0.0 AS psi_term
FROM per CROSS JOIN tot
"""


QUERIES["events_psi_incremental"] = events_psi_incremental
ORACLE["events_psi_incremental"] = _psi_incremental_sql()


# --------------------------------------------------------------------------
# Conversion-path mining (round 8): for every purchase, the up-to-3
# immediately preceding event types in the user's canonical sequence,
# joined into a path string, counted per path — the "which journeys
# convert" readout next to events_attribution_last_touch's last-step
# credit.  Same sequence contract as the markov family (canonical
# events, (ts, event_id) total order, NULL user/ts/type rows carry no
# sequence identity); the three lags share ONE window over the
# scaling user_id; one keyed aggregate on the bounded path alphabet;
# share = one division of exact counts.  Purchases with no
# predecessor render the missing steps as '(start)' — identically on
# both engines via coalesce.
# --------------------------------------------------------------------------
def events_conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        "event_type",
        F.lag("event_type", 3).over(w).alias("l3"),
        F.lag("event_type", 2).over(w).alias("l2"),
        F.lag("event_type", 1).over(w).alias("l1"),
    ).where(F.col("event_type") == "purchase")
    paths = lagged.select(
        F.concat_ws(
            ">",
            F.coalesce("l3", F.lit("(start)")),
            F.coalesce("l2", F.lit("(start)")),
            F.coalesce("l1", F.lit("(start)")),
        ).alias("path")
    )
    per = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_conversions")
    )
    # r11: the grand total rides an unpartitioned window over ``per``
    # instead of the r10 fence + broadcast self-join — ``per`` is
    # bounded by the path alphabet (|event types + start|^3 rows), so
    # the single-partition window input is a constant, and the eager
    # fence job (whose construction cost regressed the r10 driver cell
    # 0.90 -> 1.25 s after the events-spread removal) disappears along
    # with the join.  sum-over-all == the old tot by definition.
    return per.select(
        "path",
        "n_conversions",
        F.round(
            F.col("n_conversions").cast("double")
            / F.sum("n_conversions").over(Window.partitionBy()).cast(
                "double"
            ),
            6,
        ).alias("conversion_share"),
    )


def _conversion_paths_sql() -> str:
    from stac_geoparquet_spark.operators._canon import EVENTS_CANON_SQL

    return f"""
WITH seq AS (
  SELECT event_type,
         lag(event_type, 3) OVER w AS l3,
         lag(event_type, 2) OVER w AS l2,
         lag(event_type, 1) OVER w AS l1
  FROM {EVENTS_CANON_SQL} events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
per AS (
  SELECT concat_ws('>',
           coalesce(l3, '(start)'),
           coalesce(l2, '(start)'),
           coalesce(l1, '(start)')) AS path,
         CAST(count(*) AS BIGINT) AS n_conversions
  FROM seq WHERE event_type = 'purchase'
  GROUP BY 1
),
tot AS (SELECT CAST(sum(n_conversions) AS BIGINT) AS t FROM per)
SELECT path, n_conversions,
       round(CAST(n_conversions AS DOUBLE) / CAST(t AS DOUBLE), 6)
         AS conversion_share
FROM per CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# Cohort repeat rate (round 8): customers grouped by their FIRST
# order month; per cohort, how many ever ordered again — the
# retention summary a growth pipeline reads next to the weekly
# retention matrix (retention_weekly_cohorts), collapsed to the one
# number per acquisition cohort.  Two keyed aggregates that SHARE the
# o_custkey shuffle (per-customer first-month + order count, then the
# cohort rollup); month rendered as the epoch-month INTEGER
# (year*12 + month-1) computed identically on both engines.  Ratios
# are single divisions of exact counts.
# --------------------------------------------------------------------------
def orders_cohort_repeat_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        read_table(spark, sf_dir, "orders")
        .select("o_custkey", F.to_date("o_orderdate").alias("d"))
        .where(F.col("o_custkey").isNotNull() & F.col("d").isNotNull())
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.min("d").alias("first_d"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        per_cust.select(
            (
                F.year("first_d") * 12 + F.month("first_d") - 1
            ).cast("bigint").alias("cohort_month"),
            F.when(F.col("n_orders") >= 2, 1).otherwise(0).alias("rep"),
        )
        .groupBy("cohort_month")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rep").cast("bigint").alias("n_repeat"),
            F.round(
                F.sum("rep").cast("double") / F.count(F.lit(1)), 6
            ).alias("repeat_rate"),
        )
    )


COHORT_REPEAT_SQL = """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
),
per_cust AS (
  SELECT o_custkey, min(d) AS first_d, count(*) AS n_orders
  FROM o GROUP BY o_custkey
)
SELECT CAST(year(first_d) * 12 + month(first_d) - 1 AS BIGINT)
         AS cohort_month,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repeat,
       round(CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS repeat_rate
FROM per_cust GROUP BY 1
"""


QUERIES["events_conversion_paths"] = events_conversion_paths
ORACLE["events_conversion_paths"] = _conversion_paths_sql()
QUERIES["orders_cohort_repeat_rate"] = orders_cohort_repeat_rate
ORACLE["orders_cohort_repeat_rate"] = COHORT_REPEAT_SQL


# --------------------------------------------------------------------------
# Seasonal anomaly screen (round 8): each (type, hour) count scored
# against the mean/sd of ITS weekly slot (hour-of-week, epoch-anchored
# — slot = hour_index mod 168, identical integer arithmetic on both
# engines) — the seasonal companion to events_hourly_anomaly's
# trailing baseline: a Monday-9am spike is normal there only if the
# trailing window happened to cover last Monday; here it is scored
# against every Monday 9am.  The corpus-sized work is the one hourly
# rollup (map-side combining; its row count is calendar-bounded x the
# type alphabet — 100x the traffic lands in the same rows); the slot
# baseline aggregates THAT rollup (bounded 168 x types) and joins
# back broadcast.  Moments are exact int64; z is one fixed-shape
# double expression; the sd>0 guard compares exact ints.
# --------------------------------------------------------------------------
def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                " div 3600000000"
            ).alias("hour_idx"),
        )
    )
    hourly = ev.groupBy("event_type", "hour_idx").agg(
        F.count(F.lit(1)).alias("n")
    )
    hourly = hourly.withColumn(
        "slot", ((F.col("hour_idx") % 168) + 168) % 168
    )
    base = hourly.groupBy("event_type", "slot").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    return (
        hourly.join(F.broadcast(base), ["event_type", "slot"])
        .selectExpr(
            "event_type",
            "hour_idx",
            "CAST(slot AS BIGINT) AS slot",
            "n",
            """CASE WHEN n_hours < 2 OR n_hours * ss <= s * s THEN NULL
                    ELSE round(
                      (CAST(n AS DOUBLE) - CAST(s AS DOUBLE)
                                           / CAST(n_hours AS DOUBLE))
                      / sqrt((CAST(n_hours AS DOUBLE) * CAST(ss AS DOUBLE)
                              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                             / (CAST(n_hours AS DOUBLE)
                                * CAST(n_hours - 1 AS DOUBLE))),
                      6) + 0.0
               END AS z""",
        )
        .selectExpr(
            "event_type",
            "hour_idx",
            "slot",
            "n",
            "z",
            "CASE WHEN z IS NULL THEN NULL"
            " ELSE abs(z) >= 3.0 END AS is_anomaly",
        )
    )


SEASONAL_ANOMALY_SQL = """
WITH ev AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
hourly AS (
  SELECT event_type, hour_idx, CAST(count(*) AS BIGINT) AS n,
         ((hour_idx % 168) + 168) % 168 AS slot
  FROM ev GROUP BY event_type, hour_idx
),
base AS (
  SELECT event_type, slot,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(n) AS BIGINT) AS s,
         CAST(sum(n * n) AS BIGINT) AS ss
  FROM hourly GROUP BY event_type, slot
),
scored AS (
  SELECT h.event_type, h.hour_idx, CAST(h.slot AS BIGINT) AS slot, h.n,
         CASE WHEN n_hours < 2 OR n_hours * ss <= s * s THEN NULL
              ELSE round(
                (CAST(n AS DOUBLE) - CAST(s AS DOUBLE)
                                     / CAST(n_hours AS DOUBLE))
                / sqrt((CAST(n_hours AS DOUBLE) * CAST(ss AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                       / (CAST(n_hours AS DOUBLE)
                          * CAST(n_hours - 1 AS DOUBLE))),
                6) + 0.0
         END AS z
  FROM hourly h JOIN base USING (event_type, slot)
)
SELECT event_type, hour_idx, slot, n, z,
       CASE WHEN z IS NULL THEN NULL ELSE abs(z) >= 3.0 END AS is_anomaly
FROM scored
"""


QUERIES["events_seasonal_anomaly"] = events_seasonal_anomaly
ORACLE["events_seasonal_anomaly"] = SEASONAL_ANOMALY_SQL


# --------------------------------------------------------------------------
# CUPED-adjusted A/B test (round 8): the variance-reduced experiment
# readout — each user's POST-period spend is adjusted by their
# PRE-period spend (theta = cov(X,Y)/var(X)), which removes the
# between-user variance a plain difference-of-means drowns in.  Arms
# are the events_ab_ztest md5 split; the pre/post boundary is the
# exact µs calendar midpoint (the events_psi_drift two-pass).
# All statistics derive from TWELVE exact int64 per-arm moments
# (n, ΣX, ΣY, ΣXY, ΣX², ΣY² per arm) computed in ONE user-keyed
# aggregate + one 1-row reduction: the adjusted means and variances
# expand algebraically (Var(Y-θX) = VarY - 2θCov + θ²VarX), so no
# per-user double is ever summed — z is one fixed-shape double
# expression, bit-identical cross-engine.  Per-user spend is
# quantized per ROW to cents (exact int sums), then floored to WHOLE
# DOLLARS per user before the moment products: ΣXY stays exact int64
# past 1e10 users at 10^4-dollar per-user totals (cents would
# overflow at ~1e9 users).  Degenerate guards (an arm under 2 users,
# zero pre-period variance) compare exact ints.
# --------------------------------------------------------------------------
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ).alias("us"),
            F.coalesce(
                F.round(F.col("value") * 100).cast("bigint"), F.lit(0)
            ).alias("cents"),
        )
    )
    mid = ev.agg(F.expr("min(us) + (max(us) - min(us)) div 2").alias("mid"))
    per_user = (
        ev.join(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("us") <= F.col("mid"), F.col("cents")).otherwise(
                    0
                )
            ).alias("x_cents"),
            F.sum(
                F.when(F.col("us") > F.col("mid"), F.col("cents")).otherwise(
                    0
                )
            ).alias("y_cents"),
        )
        .select(
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
                    16,
                    10,
                ).cast("bigint")
                % 2
            ).alias("arm"),
            # explicit floor over an exact double (cents < 2^53), NOT
            # integer `div`: Spark div truncates toward zero while
            # DuckDB // floors, which would diverge on a negative
            # per-user total (refund-heavy users)
            F.expr(
                "CAST(floor(CAST(x_cents AS DOUBLE) / 100.0) AS BIGINT)"
            ).alias("x"),
            F.expr(
                "CAST(floor(CAST(y_cents AS DOUBLE) / 100.0) AS BIGINT)"
            ).alias("y"),
        )
    )
    sides = []
    for a in (0, 1):
        s = str(a)
        arm = F.col("arm") == a
        sides += [
            F.sum(F.when(arm, 1).otherwise(0)).cast("bigint").alias(f"n{s}"),
            F.sum(F.when(arm, F.col("x")).otherwise(0)).alias(f"sx{s}"),
            F.sum(F.when(arm, F.col("y")).otherwise(0)).alias(f"sy{s}"),
            F.sum(
                F.when(arm, F.col("x") * F.col("y")).otherwise(0)
            ).alias(f"sxy{s}"),
            F.sum(
                F.when(arm, F.col("x") * F.col("x")).otherwise(0)
            ).alias(f"sxx{s}"),
            F.sum(
                F.when(arm, F.col("y") * F.col("y")).otherwise(0)
            ).alias(f"syy{s}"),
        ]
    m = per_user.agg(*sides)
    return m.selectExpr("*").selectExpr(
        "coalesce(n0, 0) AS n_a",
        "coalesce(n1, 0) AS n_b",
        _CUPED_EXPR,
    )


# The shared CUPED expression — ONE string used verbatim on both
# engines (Spark selectExpr and the oracle SQL), so the double
# expression tree cannot drift.  Written over the 12 per-arm moments;
# n/sx/... spellings are the aggregate aliases above and in the CTE.
# the z expression is assembled from THREE shared fragments (theta,
# numerator, SE^2 = the sqrt argument), and EVERY division inside them
# goes through nullif(denom, 0): Spark's whole-stage codegen hoists
# repeated subexpressions (theta appears six times) OUT of the CASE
# and evaluates them eagerly, so a guard alone cannot prevent an ANSI
# DIVIDE_BY_ZERO on a degenerate arm (found by the constant_ts /
# constant_keys sweep axes — the hoisted theta division crashed on a
# one-user corpus even though the n < 2 guard would have returned
# NULL).  x / NULL is NULL on both engines, so the nullif form is
# crash-free under hoisting; the CASE guards still pin WHICH rows are
# NULL so the engines' null sets match exactly, including
# NOT (se2 > 0) — a zero adjusted variance (all-ties corpus) divides
# by zero only on Spark (DuckDB double division yields NULL), and a
# tiny NEGATIVE cancellation residue would make DuckDB's sqrt throw
# (the embedding_standardize lesson).
_CUPED_SE2 = """((
  (CAST(syy0 AS DOUBLE) - CAST(sy0 AS DOUBLE) * CAST(sy0 AS DOUBLE)
                          / nullif(CAST(n0 AS DOUBLE), 0.0))
  - 2.0 * ((CAST(n0 + n1 AS DOUBLE) * CAST(sxy0 + sxy1 AS DOUBLE)
       - CAST(sx0 + sx1 AS DOUBLE) * CAST(sy0 + sy1 AS DOUBLE))
      / nullif(CAST(n0 + n1 AS DOUBLE) * CAST(sxx0 + sxx1 AS DOUBLE)
               - CAST(sx0 + sx1 AS DOUBLE) * CAST(sx0 + sx1 AS DOUBLE),
               0.0))
        * (CAST(sxy0 AS DOUBLE) - CAST(sx0 AS DOUBLE)
                                  * CAST(sy0 AS DOUBLE)
                                  / nullif(CAST(n0 AS DOUBLE), 0.0))
  + ((CAST(n0 + n1 AS DOUBLE) * CAST(sxy0 + sxy1 AS DOUBLE)
       - CAST(sx0 + sx1 AS DOUBLE) * CAST(sy0 + sy1 AS DOUBLE))
      / nullif(CAST(n0 + n1 AS DOUBLE) * CAST(sxx0 + sxx1 AS DOUBLE)
               - CAST(sx0 + sx1 AS DOUBLE) * CAST(sx0 + sx1 AS DOUBLE),
               0.0))
    * ((CAST(n0 + n1 AS DOUBLE) * CAST(sxy0 + sxy1 AS DOUBLE)
       - CAST(sx0 + sx1 AS DOUBLE) * CAST(sy0 + sy1 AS DOUBLE))
      / nullif(CAST(n0 + n1 AS DOUBLE) * CAST(sxx0 + sxx1 AS DOUBLE)
               - CAST(sx0 + sx1 AS DOUBLE) * CAST(sx0 + sx1 AS DOUBLE),
               0.0))
    * (CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE)
                              * CAST(sx0 AS DOUBLE)
                              / nullif(CAST(n0 AS DOUBLE), 0.0))
) / nullif(CAST(n0 - 1 AS DOUBLE) * CAST(n0 AS DOUBLE), 0.0)
 +
 (
  (CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE)
                          / nullif(CAST(n1 AS DOUBLE), 0.0))
  - 2.0 * ((CAST(n0 + n1 AS DOUBLE) * CAST(sxy0 + sxy1 AS DOUBLE)
       - CAST(sx0 + sx1 AS DOUBLE) * CAST(sy0 + sy1 AS DOUBLE))
      / nullif(CAST(n0 + n1 AS DOUBLE) * CAST(sxx0 + sxx1 AS DOUBLE)
               - CAST(sx0 + sx1 AS DOUBLE) * CAST(sx0 + sx1 AS DOUBLE),
               0.0))
        * (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
                                  * CAST(sy1 AS DOUBLE)
                                  / nullif(CAST(n1 AS DOUBLE), 0.0))
  + ((CAST(n0 + n1 AS DOUBLE) * CAST(sxy0 + sxy1 AS DOUBLE)
       - CAST(sx0 + sx1 AS DOUBLE) * CAST(sy0 + sy1 AS DOUBLE))
      / nullif(CAST(n0 + n1 AS DOUBLE) * CAST(sxx0 + sxx1 AS DOUBLE)
               - CAST(sx0 + sx1 AS DOUBLE) * CAST(sx0 + sx1 AS DOUBLE),
               0.0))
    * ((CAST(n0 + n1 AS DOUBLE) * CAST(sxy0 + sxy1 AS DOUBLE)
       - CAST(sx0 + sx1 AS DOUBLE) * CAST(sy0 + sy1 AS DOUBLE))
      / nullif(CAST(n0 + n1 AS DOUBLE) * CAST(sxx0 + sxx1 AS DOUBLE)
               - CAST(sx0 + sx1 AS DOUBLE) * CAST(sx0 + sx1 AS DOUBLE),
               0.0))
    * (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
                              * CAST(sx1 AS DOUBLE)
                              / nullif(CAST(n1 AS DOUBLE), 0.0))
) / nullif(CAST(n1 - 1 AS DOUBLE) * CAST(n1 AS DOUBLE), 0.0))"""

_CUPED_EXPR = f"""CASE
  WHEN coalesce(n0, 0) < 2 OR coalesce(n1, 0) < 2
    OR (n0 + n1) * (sxx0 + sxx1) <= (sx0 + sx1) * (sx0 + sx1)
    OR NOT ({_CUPED_SE2} > 0)
  THEN NULL
  ELSE round(
    (
  (CAST(sy0 AS DOUBLE) / nullif(CAST(n0 AS DOUBLE), 0.0)
   - ((CAST(n0 + n1 AS DOUBLE) * CAST(sxy0 + sxy1 AS DOUBLE)
       - CAST(sx0 + sx1 AS DOUBLE) * CAST(sy0 + sy1 AS DOUBLE))
      / nullif(CAST(n0 + n1 AS DOUBLE) * CAST(sxx0 + sxx1 AS DOUBLE)
               - CAST(sx0 + sx1 AS DOUBLE) * CAST(sx0 + sx1 AS DOUBLE),
               0.0))
     * (CAST(sx0 AS DOUBLE) / nullif(CAST(n0 AS DOUBLE), 0.0)
        - CAST(sx0 + sx1 AS DOUBLE)
          / nullif(CAST(n0 + n1 AS DOUBLE), 0.0)))
  -
  (CAST(sy1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0)
   - ((CAST(n0 + n1 AS DOUBLE) * CAST(sxy0 + sxy1 AS DOUBLE)
       - CAST(sx0 + sx1 AS DOUBLE) * CAST(sy0 + sy1 AS DOUBLE))
      / nullif(CAST(n0 + n1 AS DOUBLE) * CAST(sxx0 + sxx1 AS DOUBLE)
               - CAST(sx0 + sx1 AS DOUBLE) * CAST(sx0 + sx1 AS DOUBLE),
               0.0))
     * (CAST(sx1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0)
        - CAST(sx0 + sx1 AS DOUBLE)
          / nullif(CAST(n0 + n1 AS DOUBLE), 0.0)))
)
    /
    nullif(sqrt({_CUPED_SE2}), 0.0),
    6) + 0.0
END AS z_cuped"""


def _ab_cuped_sql() -> str:
    from stac_geoparquet_spark.operators.retrieval import (  # noqa: F401
        INCOMING_MOD,
    )

    return f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us,
         coalesce(CAST(round(value * 100) AS BIGINT), 0) AS cents
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
m AS (SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM ev),
per_user AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2
           AS arm,
         CAST(floor(CAST(sum(CASE WHEN us <= mid THEN cents ELSE 0 END)
                         AS DOUBLE) / 100.0) AS BIGINT) AS x,
         CAST(floor(CAST(sum(CASE WHEN us > mid THEN cents ELSE 0 END)
                         AS DOUBLE) / 100.0) AS BIGINT) AS y
  FROM ev CROSS JOIN m
  GROUP BY user_id
),
agg AS (
  SELECT
    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
    CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0,
    CAST(sum(CASE WHEN arm = 0 THEN x * y ELSE 0 END) AS BIGINT) AS sxy0,
    CAST(sum(CASE WHEN arm = 0 THEN x * x ELSE 0 END) AS BIGINT) AS sxx0,
    CAST(sum(CASE WHEN arm = 0 THEN y * y ELSE 0 END) AS BIGINT) AS syy0,
    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
    CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
    CAST(sum(CASE WHEN arm = 1 THEN x * y ELSE 0 END) AS BIGINT) AS sxy1,
    CAST(sum(CASE WHEN arm = 1 THEN x * x ELSE 0 END) AS BIGINT) AS sxx1,
    CAST(sum(CASE WHEN arm = 1 THEN y * y ELSE 0 END) AS BIGINT) AS syy1
  FROM per_user
)
SELECT coalesce(n0, 0) AS n_a,
       coalesce(n1, 0) AS n_b,
       {_CUPED_EXPR}
FROM agg
"""


QUERIES["events_ab_cuped"] = events_ab_cuped
ORACLE["events_ab_cuped"] = _ab_cuped_sql()


# --------------------------------------------------------------------------
# CUSUM changepoint screen (round 9): cumulative sum of the daily
# event-count deviations from the global daily mean — the standard
# level-shift detector run when the ACF/seasonality reads look clean
# but volume drifted (a pipeline ingest rate change, a source going
# dark).  The peak |CUSUM| day is the classic changepoint estimate.
#
# Scale shape: the corpus-sized work is ONE calendar-bounded daily
# rollup (map-side combining; 100x the events land in the same days).
# CUSUM_k is NOT a float running sum — it is derived per row from the
# EXACT int64 prefix count and the exact (n_days, total) pair:
#   cusum_k = round(prefix_k - k * total / n_days, 6) + 0.0
# one fixed-shape double expression, so no accumulation order exists
# to drift cross-engine (the +0.0 normalizes the -0.0 a rounded exact
# cancellation can produce).  The unpartitioned prefix window runs
# over the daily rollup (calendar-bounded input — the legal
# unpartitioned-window class per tests/test_registry_contract.py);
# the peak lookup is one broadcast 1-row join back.  Ties on the
# rounded |cusum| flag every tied day (deterministic on both engines).
# --------------------------------------------------------------------------
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        read_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(F.to_date("ts").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "d",
        "c",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("k"),
        F.sum("c").over(w).alias("prefix"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("c").alias("total"),
    )
    scored = pre.join(F.broadcast(tot)).selectExpr(
        "d",
        "c",
        "round(CAST(prefix AS DOUBLE)"
        " - CAST(k AS DOUBLE) * CAST(total AS DOUBLE)"
        "   / CAST(nd AS DOUBLE), 6) + 0.0 AS cusum",
    )
    mx = scored.agg(F.max(F.abs(F.col("cusum"))).alias("max_abs"))
    return scored.join(F.broadcast(mx)).select(
        "d",
        "c",
        "cusum",
        (F.abs(F.col("cusum")) == F.col("max_abs")).alias("is_changepoint"),
    )


CUSUM_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
pre AS (
  SELECT d, c,
         CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k,
         CAST(sum(c) OVER (ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS prefix
  FROM daily
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(c) AS BIGINT) AS total
  FROM daily
),
scored AS (
  SELECT d, c,
         round(CAST(prefix AS DOUBLE)
               - CAST(k AS DOUBLE) * CAST(total AS DOUBLE)
                 / CAST(nd AS DOUBLE), 6) + 0.0 AS cusum
  FROM pre CROSS JOIN tot
),
mx AS (SELECT max(abs(cusum)) AS max_abs FROM scored)
SELECT d, c, cusum, abs(cusum) = max_abs AS is_changepoint
FROM scored CROSS JOIN mx
"""


QUERIES["events_cusum_changepoint"] = events_cusum_changepoint
ORACLE["events_cusum_changepoint"] = CUSUM_SQL


# --------------------------------------------------------------------------
# Inter-purchase burstiness (round 9): per-customer inter-order gap
# statistics and the Goh–Barabási burstiness index
# B = (sd - mean) / (sd + mean) — B -> -1 for clockwork-periodic
# buyers, ~0 for Poisson arrivals, -> +1 for bursty ones.  The
# temporal companion to customer_interpurchase's population summary:
# this one is PER ENTITY, the shape a churn/campaign model consumes.
#
# Scale shape: one orders scan, one lag window partitioned by the
# SCALING customer key (ordered by date + orderkey so same-day orders
# have a total order), one customer-keyed aggregate over the gap rows
# — the window and the aggregate share the o_custkey shuffle.  Gaps
# are exact int day-diffs; moments (n, s, ss) are exact int64
# (gaps < 10^4 days, ss < n x 10^8); sd uses the population form
# sqrt(n*ss - s^2)/n so B reduces to
# (sqrt(n*ss - s^2) - s) / (sqrt(n*ss - s^2) + s) — one fixed-shape
# double expression over exact ints, shared verbatim with the oracle.
# Degenerate cuts compare exact ints: n < 2 gaps -> NULL cv/B; all
# gaps zero (s = 0, n*ss = s^2) -> NULL (0/0 guard).  Customers with
# fewer than two dated orders have no gap and are excluded on both
# engines.
# --------------------------------------------------------------------------
def orders_interarrival_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull())
        .select(
            "o_custkey",
            F.to_date("o_orderdate").alias("d"),
            "o_orderkey",
        )
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(F.col("d"), F.lag("d").over(w)).cast("bigint").alias("gap"),
    ).where(F.col("gap").isNotNull())
    m = gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap").alias("s"),
        F.sum(F.col("gap") * F.col("gap")).alias("ss"),
    )
    return m.selectExpr(
        "o_custkey",
        "n_gaps",
        "round(CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE), 6) AS mean_gap_days",
        f"""{_BURSTINESS_CV_EXPR} AS cv""",
        f"""{_BURSTINESS_B_EXPR} AS burstiness""",
    )


# shared verbatim by selectExpr and the oracle so the double
# expression trees cannot drift
_BURSTINESS_CV_EXPR = """CASE
  WHEN n_gaps < 2 OR s = 0 THEN NULL
  ELSE round(sqrt(CAST(n_gaps * ss - s * s AS DOUBLE))
             / CAST(s AS DOUBLE), 6) + 0.0
END"""
_BURSTINESS_B_EXPR = """CASE
  WHEN n_gaps < 2 OR (s = 0 AND n_gaps * ss = s * s) THEN NULL
  ELSE round((sqrt(CAST(n_gaps * ss - s * s AS DOUBLE))
              - CAST(s AS DOUBLE))
             / (sqrt(CAST(n_gaps * ss - s * s AS DOUBLE))
                + CAST(s AS DOUBLE)), 6) + 0.0
END"""


BURSTINESS_SQL = f"""
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
),
gaps AS (
  SELECT o_custkey,
         CAST(d - lag(d) OVER (PARTITION BY o_custkey
                               ORDER BY d, o_orderkey) AS BIGINT) AS gap
  FROM o
),
m AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(gap) AS BIGINT) AS s,
         CAST(sum(gap * gap) AS BIGINT) AS ss
  FROM gaps WHERE gap IS NOT NULL GROUP BY o_custkey
)
SELECT o_custkey, n_gaps,
       round(CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE), 6) AS mean_gap_days,
       {_BURSTINESS_CV_EXPR} AS cv,
       {_BURSTINESS_B_EXPR} AS burstiness
FROM m
"""


QUERIES["orders_interarrival_burstiness"] = orders_interarrival_burstiness
ORACLE["orders_interarrival_burstiness"] = BURSTINESS_SQL


# --------------------------------------------------------------------------
# Sample-ratio-mismatch (SRM) check (round 8): the experiment health
# gate that runs BEFORE any readout (z-test, CUPED) is trusted — a
# 50/50 hash split whose realized arm sizes drift beyond chi-square
# noise means the assignment or logging pipeline is broken, and every
# downstream effect estimate is suspect.  Arms come from the same
# md5(user_id)-parity convention as events_ab_ztest / funnel_by_arm,
# so this IS the audit of that split.
#
# Scale shape: one distinct-user aggregate on the scaling user key
# (map-side combine), then a 1-row reduction.  The chi-square
# statistic for a 2-cell uniform expectation collapses to
# (n_a - n_b)^2 / (n_a + n_b) — one fixed-shape double expression
# over two exact int64 counts; the verdict threshold is the 95%
# chi-square(1) quantile applied to the UNROUNDED statistic with the
# identical expression text on both engines (IEEE-deterministic).
# --------------------------------------------------------------------------
SRM_CHI2_95 = 3.841459  # chi-square(1 dof) 95% quantile


def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .select(
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
                    16,
                    10,
                ).cast("bigint")
                % 2
            ).alias("arm")
        )
    )
    agg = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    return agg.selectExpr(
        "coalesce(n_a, 0) + coalesce(n_b, 0) AS n_users",
        "coalesce(n_a, 0) AS n_arm0",
        "coalesce(n_b, 0) AS n_arm1",
        "round(CAST((coalesce(n_a, 0) - coalesce(n_b, 0))"
        " * (coalesce(n_a, 0) - coalesce(n_b, 0)) AS DOUBLE)"
        " / nullif(CAST(coalesce(n_a, 0) + coalesce(n_b, 0) AS DOUBLE),"
        " 0.0), 6) AS srm_stat",
        f"CAST((coalesce(n_a, 0) - coalesce(n_b, 0))"
        f" * (coalesce(n_a, 0) - coalesce(n_b, 0)) AS DOUBLE)"
        f" / nullif(CAST(coalesce(n_a, 0) + coalesce(n_b, 0) AS DOUBLE),"
        f" 0.0) > {SRM_CHI2_95} AS srm_mismatch",
    )


SRM_SQL = f"""
WITH per_user AS (
  SELECT DISTINCT user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2
           AS arm
  FROM events WHERE user_id IS NOT NULL
),
agg AS (
  SELECT
    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM per_user
)
SELECT coalesce(n_a, 0) + coalesce(n_b, 0) AS n_users,
       coalesce(n_a, 0) AS n_arm0,
       coalesce(n_b, 0) AS n_arm1,
       round(CAST((coalesce(n_a, 0) - coalesce(n_b, 0))
             * (coalesce(n_a, 0) - coalesce(n_b, 0)) AS DOUBLE)
             / nullif(CAST(coalesce(n_a, 0) + coalesce(n_b, 0) AS DOUBLE),
             0.0), 6) AS srm_stat,
       CAST((coalesce(n_a, 0) - coalesce(n_b, 0))
            * (coalesce(n_a, 0) - coalesce(n_b, 0)) AS DOUBLE)
       / nullif(CAST(coalesce(n_a, 0) + coalesce(n_b, 0) AS DOUBLE),
       0.0) > {SRM_CHI2_95} AS srm_mismatch
FROM agg
"""


QUERIES["events_srm_check"] = events_srm_check
ORACLE["events_srm_check"] = SRM_SQL


# --------------------------------------------------------------------------
# Mann-Whitney U (round 8): the nonparametric two-sample test the
# parametric z-test/CUPED readouts need next to them when order
# values are heavy-tailed (rank-based, so one whale order cannot move
# the verdict).  Arms by the md5(o_custkey)-parity convention; values
# are exact order-total cents.
#
# Scale shape — the global rank problem done the scale-right way:
# ranks need a GLOBAL exclusive prefix over the distinct-value table
# (corpus-scaled: prices are nearly unique).  The prefix is two-phase
# over DETERMINISTIC value-domain buckets (cents div 2^20, the
# pack_sequences doc_id-div pattern): per-bucket exclusive window
# cumsum — each bucket partition holds AT MOST 2^20 rows at ANY
# corpus size, because rows are DISTINCT cent values inside a 2^20-
# cent band — plus a value-domain-bounded bucket-offset table that
# broadcast-joins back.  No spark_partition_id, no sampled range
# boundaries, no exchange-reuse dependence: an earlier pid-based
# draft broke exactly there (column pruning specialized the two
# consumers' aggregates below the range exchange, ReuseExchange no
# longer fired, and the two independently SAMPLED partitionings
# misaligned the offsets — caught by the oracle gate as a run-to-run
# unstable U).  Ties use average ranks held in half-units (2*rank is
# integer), so every rank quantity is EXACT int64; the test
# statistics are fixed-shape double expressions over those ints,
# written with identical text on both engines.  The double
# accumulations (rank-sum, tie-cubes) are sums of integer-valued
# terms — exact under any summation order while below 2^53, i.e. to
# ~1e8 orders per run; beyond that the drift is ~1 ulp against a
# round(,6) output quantum.
# --------------------------------------------------------------------------
MW_SIG_Z = 1.959964  # two-sided 5% normal quantile
MW_CENTS_BUCKET = 1 << 20  # prefix-sum bucket width in cents (~$10.5k)


def orders_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        read_table(spark, sf_dir, "orders")
        .where(
            F.col("o_custkey").isNotNull() & F.col("o_totalprice").isNotNull()
        )
        .select(
            (
                F.conv(
                    F.substring(
                        F.md5(F.col("o_custkey").cast("string")), 1, 4
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2
            ).alias("arm"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    g = o.groupBy("cents").agg(
        F.count(F.lit(1)).alias("n_v"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("na_v"),
    ).withColumn("bucket", F.expr(f"cents div {MW_CENTS_BUCKET}"))
    wb = Window.partitionBy("bucket").orderBy(F.asc("cents")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    btot = g.groupBy("bucket").agg(F.sum("n_v").alias("bt"))
    # the unpartitioned window below runs over the BUCKET list, whose
    # row count is bounded by the price VALUE DOMAIN, not the corpus:
    # ceil(max_cents / MW_CENTS_BUCKET) buckets (~50 at TPC-H price
    # domains, and fixed at any scale factor), so the single-task
    # stage is a few-dozen-row cumsum (allowlisted in the grouped-
    # window audit; r08 verdict task #7 asked for both bounds stated)
    offsets = btot.select(
        "bucket",
        F.coalesce(
            F.sum("bt").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("offset"),
    )
    pre = (
        g.withColumn(
            "in_bucket", F.coalesce(F.sum("n_v").over(wb), F.lit(0))
        )
        .join(F.broadcast(offsets), "bucket")
        .select(
            "cents",
            "n_v",
            "na_v",
            (F.col("offset") + F.col("in_bucket")).alias("prefix"),
        )
    )
    terms = pre.select(
        "n_v",
        "na_v",
        (2 * F.col("prefix") + F.col("n_v") + 1).alias("avgrank2"),
    )
    agg = terms.agg(
        F.sum("n_v").alias("n"),
        F.sum("na_v").alias("na"),
        F.sum(
            F.col("na_v").cast("double") * F.col("avgrank2").cast("double")
        ).alias("r2"),
        F.sum(
            F.col("n_v").cast("double")
            * F.col("n_v").cast("double")
            * F.col("n_v").cast("double")
            - F.col("n_v").cast("double")
        ).alias("t3"),
    )
    return agg.selectExpr(
        "coalesce(na, 0) AS n_a",
        "coalesce(n, 0) - coalesce(na, 0) AS n_b",
        """CASE WHEN coalesce(na, 0) = 0 OR coalesce(n, 0) = coalesce(na, 0)
                THEN NULL
                ELSE round((r2 - CAST(na AS DOUBLE) * (na + 1)) / 2.0, 2)
           END AS u_stat""",
        f"""CASE WHEN coalesce(na, 0) = 0 OR coalesce(n, 0) = coalesce(na, 0)
                 OR n < 2
                 OR (CAST(na AS DOUBLE) * (n - na) / 12.0)
                    * (CAST(n + 1 AS DOUBLE)
                       - t3 / (CAST(n AS DOUBLE) * (n - 1))) <= 0.0
                THEN NULL
                ELSE round(
                  ((r2 - CAST(na AS DOUBLE) * (na + 1)) / 2.0
                   - CAST(na AS DOUBLE) * (n - na) / 2.0)
                  / sqrt((CAST(na AS DOUBLE) * (n - na) / 12.0)
                         * (CAST(n + 1 AS DOUBLE)
                            - t3 / (CAST(n AS DOUBLE) * (n - 1)))),
                  6) + 0.0
           END AS z_score""",
        f"""CASE WHEN coalesce(na, 0) = 0 OR coalesce(n, 0) = coalesce(na, 0)
                 OR n < 2
                 OR (CAST(na AS DOUBLE) * (n - na) / 12.0)
                    * (CAST(n + 1 AS DOUBLE)
                       - t3 / (CAST(n AS DOUBLE) * (n - 1))) <= 0.0
                THEN NULL
                ELSE abs(
                  ((r2 - CAST(na AS DOUBLE) * (na + 1)) / 2.0
                   - CAST(na AS DOUBLE) * (n - na) / 2.0)
                  / sqrt((CAST(na AS DOUBLE) * (n - na) / 12.0)
                         * (CAST(n + 1 AS DOUBLE)
                            - t3 / (CAST(n AS DOUBLE) * (n - 1)))))
                  > {MW_SIG_Z}
           END AS significant""",
    )


MANN_WHITNEY_SQL = f"""
WITH o AS (
  SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4))::BIGINT % 2
           AS arm,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
),
g AS (
  SELECT cents,
         CAST(count(*) AS BIGINT) AS n_v,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na_v
  FROM o GROUP BY cents
),
pre AS (
  SELECT cents, n_v, na_v,
         coalesce(sum(n_v) OVER (
           ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
  FROM g
),
terms AS (
  SELECT n_v, na_v, 2 * prefix + n_v + 1 AS avgrank2 FROM pre
),
agg AS (
  SELECT CAST(sum(n_v) AS BIGINT) AS n,
         CAST(sum(na_v) AS BIGINT) AS na,
         sum(CAST(na_v AS DOUBLE) * CAST(avgrank2 AS DOUBLE)) AS r2,
         sum(CAST(n_v AS DOUBLE) * CAST(n_v AS DOUBLE)
             * CAST(n_v AS DOUBLE) - CAST(n_v AS DOUBLE)) AS t3
  FROM terms
)
SELECT coalesce(na, 0) AS n_a,
       coalesce(n, 0) - coalesce(na, 0) AS n_b,
       CASE WHEN coalesce(na, 0) = 0 OR coalesce(n, 0) = coalesce(na, 0)
            THEN NULL
            ELSE round((r2 - CAST(na AS DOUBLE) * (na + 1)) / 2.0, 2)
       END AS u_stat,
       CASE WHEN coalesce(na, 0) = 0 OR coalesce(n, 0) = coalesce(na, 0)
             OR n < 2
             OR (CAST(na AS DOUBLE) * (n - na) / 12.0)
                * (CAST(n + 1 AS DOUBLE)
                   - t3 / (CAST(n AS DOUBLE) * (n - 1))) <= 0.0
            THEN NULL
            ELSE round(
              ((r2 - CAST(na AS DOUBLE) * (na + 1)) / 2.0
               - CAST(na AS DOUBLE) * (n - na) / 2.0)
              / sqrt((CAST(na AS DOUBLE) * (n - na) / 12.0)
                     * (CAST(n + 1 AS DOUBLE)
                        - t3 / (CAST(n AS DOUBLE) * (n - 1)))),
              6) + 0.0
       END AS z_score,
       CASE WHEN coalesce(na, 0) = 0 OR coalesce(n, 0) = coalesce(na, 0)
             OR n < 2
             OR (CAST(na AS DOUBLE) * (n - na) / 12.0)
                * (CAST(n + 1 AS DOUBLE)
                   - t3 / (CAST(n AS DOUBLE) * (n - 1))) <= 0.0
            THEN NULL
            ELSE abs(
              ((r2 - CAST(na AS DOUBLE) * (na + 1)) / 2.0
               - CAST(na AS DOUBLE) * (n - na) / 2.0)
              / sqrt((CAST(na AS DOUBLE) * (n - na) / 12.0)
                     * (CAST(n + 1 AS DOUBLE)
                        - t3 / (CAST(n AS DOUBLE) * (n - 1)))))
              > {MW_SIG_Z}
       END AS significant
FROM agg
"""


QUERIES["orders_mann_whitney_u"] = orders_mann_whitney_u
ORACLE["orders_mann_whitney_u"] = MANN_WHITNEY_SQL


# --------------------------------------------------------------------------
# Welch's t-test (round 8, third experiment readout): two-sample t on
# per-user TOTAL event value with UNEQUAL variances — the readout to
# reach for when arm value distributions differ in spread (the pooled
# z/t understates the error there), completing the parametric
# (z-test, CUPED) + nonparametric (Mann-Whitney) + health-check (SRM)
# experimentation set on the same md5-parity arm convention.
#
# Scale shape: one user-keyed aggregate (exact int64 cent sums), then
# per-arm scalar moments (n, s, ss) — everything after the first
# shuffle is a 2-row reduction.  The moment products (s*s ~1e18 at
# corpus scale) follow the user_bot_score house rule: every int64
# moment casts to DOUBLE BEFORE multiplication, with the identical
# expression text on both engines (same exact inputs -> same IEEE
# ops -> no cross-engine drift; s and ss themselves stay below 2^53
# at any realistic per-run scale, so the casts are exact).  The
# significance cut applies the normal-approximation threshold to the
# UNROUNDED statistic (Welch df is in the thousands here; the df is
# reported so a consumer can apply an exact t quantile).
# --------------------------------------------------------------------------
_WELCH_VA = (
    "((CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)"
    " / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE))"
)
_WELCH_VB = (
    "((CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)"
    " / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE))"
)
_WELCH_SE2 = f"({_WELCH_VA} / CAST(na AS DOUBLE) + {_WELCH_VB} / CAST(nb AS DOUBLE))"
_WELCH_T = (
    f"((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)"
    f" - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 100.0"
    f" / sqrt({_WELCH_SE2} / 10000.0))"
)
_WELCH_GUARD = f"na < 2 OR nb < 2 OR {_WELCH_SE2} <= 0.0"


def events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("row_cents"),
        )
        .groupBy("user_id")
        .agg(F.sum("row_cents").alias("cents"))
        .select(
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
                    16,
                    10,
                ).cast("bigint")
                % 2
            ).alias("arm"),
            "cents",
        )
    )
    agg = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 0, F.col("cents"))), F.lit(0)
        ).alias("sa"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 1, F.col("cents"))), F.lit(0)
        ).alias("sb"),
        # house rule (r08 ADVICE, same class as user_bot_score): cast
        # cents to DOUBLE BEFORE multiplying — a raw int64 square wraps
        # in Spark / promotes in DuckDB once |cents| >= ~3.04e9
        F.coalesce(
            F.sum(
                F.when(
                    F.col("arm") == 0,
                    F.col("cents").cast("double")
                    * F.col("cents").cast("double"),
                )
            ),
            F.lit(0.0),
        ).alias("ssa"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("arm") == 1,
                    F.col("cents").cast("double")
                    * F.col("cents").cast("double"),
                )
            ),
            F.lit(0.0),
        ).alias("ssb"),
    )
    return agg.selectExpr(
        "coalesce(na, 0) AS n_a",
        "coalesce(nb, 0) AS n_b",
        """CASE WHEN coalesce(na, 0) = 0 THEN NULL
                ELSE round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                           / 100.0, 6)
           END AS mean_a""",
        """CASE WHEN coalesce(nb, 0) = 0 THEN NULL
                ELSE round(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)
                           / 100.0, 6)
           END AS mean_b""",
        f"""CASE WHEN {_WELCH_GUARD} THEN NULL
                ELSE round({_WELCH_T}, 6) + 0.0
           END AS t_stat""",
        f"""CASE WHEN {_WELCH_GUARD} THEN NULL
                ELSE round(
                  {_WELCH_SE2} * {_WELCH_SE2}
                  / ({_WELCH_VA} / CAST(na AS DOUBLE)
                     * ({_WELCH_VA} / CAST(na AS DOUBLE))
                     / CAST(na - 1 AS DOUBLE)
                     + {_WELCH_VB} / CAST(nb AS DOUBLE)
                       * ({_WELCH_VB} / CAST(nb AS DOUBLE))
                       / CAST(nb - 1 AS DOUBLE)), 2)
           END AS welch_df""",
        f"""CASE WHEN {_WELCH_GUARD} THEN NULL
                ELSE abs({_WELCH_T}) > 1.959964
           END AS significant""",
    )


WELCH_SQL = f"""
WITH per_user AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2
           AS arm,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
),
agg AS (
  SELECT
    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
    CAST(coalesce(sum(CASE WHEN arm = 0 THEN cents END), 0) AS BIGINT)
      AS sa,
    CAST(coalesce(sum(CASE WHEN arm = 1 THEN cents END), 0) AS BIGINT)
      AS sb,
    CAST(coalesce(sum(CASE WHEN arm = 0 THEN
           CAST(cents AS DOUBLE) * CAST(cents AS DOUBLE) END), 0)
         AS DOUBLE) AS ssa,
    CAST(coalesce(sum(CASE WHEN arm = 1 THEN
           CAST(cents AS DOUBLE) * CAST(cents AS DOUBLE) END), 0)
         AS DOUBLE) AS ssb
  FROM per_user
)
SELECT coalesce(na, 0) AS n_a,
       coalesce(nb, 0) AS n_b,
       CASE WHEN coalesce(na, 0) = 0 THEN NULL
            ELSE round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 100.0, 6)
       END AS mean_a,
       CASE WHEN coalesce(nb, 0) = 0 THEN NULL
            ELSE round(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0, 6)
       END AS mean_b,
       CASE WHEN {_WELCH_GUARD} THEN NULL
            ELSE round({_WELCH_T}, 6) + 0.0
       END AS t_stat,
       CASE WHEN {_WELCH_GUARD} THEN NULL
            ELSE round(
              {_WELCH_SE2} * {_WELCH_SE2}
              / ({_WELCH_VA} / CAST(na AS DOUBLE)
                 * ({_WELCH_VA} / CAST(na AS DOUBLE))
                 / CAST(na - 1 AS DOUBLE)
                 + {_WELCH_VB} / CAST(nb AS DOUBLE)
                   * ({_WELCH_VB} / CAST(nb AS DOUBLE))
                   / CAST(nb - 1 AS DOUBLE)), 2)
       END AS welch_df,
       CASE WHEN {_WELCH_GUARD} THEN NULL
            ELSE abs({_WELCH_T}) > 1.959964
       END AS significant
FROM agg
"""


QUERIES["events_welch_ttest"] = events_welch_ttest
ORACLE["events_welch_ttest"] = WELCH_SQL


# --------------------------------------------------------------------------
# Experiment power analysis (round 8, closing the A/B toolkit): given
# the observed per-user value distribution, the sample size each arm
# needs to detect a POWER_REL_MDE relative lift at 80% power / 5%
# two-sided alpha — the question a team asks BEFORE launching the
# experiment the z/t/Mann-Whitney readouts will judge, and the reason
# the same per-user moments are worth computing standalone.
#
# n_per_arm = ceil( (z_{1-a/2} + z_{power})^2 * 2*sigma^2 / delta^2 )
# with delta = POWER_REL_MDE * mean.  Scale shape: one user-keyed
# aggregate then a 1-row moment reduction; count and linear sum are
# exact int64 cent sums, the sum-of-squares casts each cents factor to
# DOUBLE BEFORE multiplying (the user_bot_score house rule — a raw
# int64 square wraps at |cents| >= ~3.04e9), and the ceil/compare run
# on the identical expression text on both engines.
# --------------------------------------------------------------------------
POWER_REL_MDE = 0.05  # minimum detectable effect, relative to the mean
_POWER_Z2 = "(1.959964 + 0.841621) * (1.959964 + 0.841621)"
_POWER_VAR = (
    "((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
    " / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))"
)
_POWER_MEAN = "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
_POWER_DELTA = f"({POWER_REL_MDE} * {_POWER_MEAN})"
_POWER_GUARD = (
    f"n < 2 OR s = 0 OR {_POWER_VAR} <= 0.0"
)
_POWER_N = (
    f"CAST(ceil({_POWER_Z2} * 2.0 * {_POWER_VAR}"
    f" / ({_POWER_DELTA} * {_POWER_DELTA})) AS BIGINT)"
)


def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("row_cents"),
        )
        .groupBy("user_id")
        .agg(F.sum("row_cents").alias("cents"))
    )
    agg = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum("cents"), F.lit(0)).alias("s"),
        # house rule: DOUBLE-cast before the square (r08 ADVICE)
        F.coalesce(
            F.sum(
                F.col("cents").cast("double") * F.col("cents").cast("double")
            ),
            F.lit(0.0),
        ).alias("ss"),
    )
    return agg.selectExpr(
        "n AS n_users",
        f"""CASE WHEN n = 0 THEN NULL
                ELSE round({_POWER_MEAN} / 100.0, 6)
           END AS mean_user_value""",
        f"""CASE WHEN n < 2 THEN NULL
                ELSE round(sqrt({_POWER_VAR}) / 100.0, 6)
           END AS std_user_value""",
        f"""CASE WHEN n = 0 THEN NULL
                ELSE round({_POWER_DELTA} / 100.0, 6)
           END AS mde_abs""",
        f"""CASE WHEN {_POWER_GUARD} THEN NULL
                ELSE {_POWER_N}
           END AS required_n_per_arm""",
        f"""CASE WHEN {_POWER_GUARD} THEN NULL
                ELSE n >= 2 * {_POWER_N}
           END AS powered_at_current_n""",
    )


POWER_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(coalesce(sum(cents), 0) AS BIGINT) AS s,
         CAST(coalesce(sum(CAST(cents AS DOUBLE) * CAST(cents AS DOUBLE)),
                       0) AS DOUBLE) AS ss
  FROM per_user
)
SELECT n AS n_users,
       CASE WHEN n = 0 THEN NULL
            ELSE round({_POWER_MEAN} / 100.0, 6)
       END AS mean_user_value,
       CASE WHEN n < 2 THEN NULL
            ELSE round(sqrt({_POWER_VAR}) / 100.0, 6)
       END AS std_user_value,
       CASE WHEN n = 0 THEN NULL
            ELSE round({_POWER_DELTA} / 100.0, 6)
       END AS mde_abs,
       CASE WHEN {_POWER_GUARD} THEN NULL
            ELSE {_POWER_N}
       END AS required_n_per_arm,
       CASE WHEN {_POWER_GUARD} THEN NULL
            ELSE n >= 2 * {_POWER_N}
       END AS powered_at_current_n
FROM agg
"""


QUERIES["events_power_analysis"] = events_power_analysis
ORACLE["events_power_analysis"] = POWER_SQL


# --------------------------------------------------------------------------
# Delete-a-group jackknife CI (round 9): the nonparametric uncertainty
# estimate for the per-user mean value — the standard production
# alternative when the metric's variance formula is untrusted (ratio
# metrics, heavy tails).  Users hash into JK_B deterministic buckets;
# theta_i = the mean recomputed leaving bucket i out; the jackknife
# SE is sqrt((B-1)/B * sum_i (theta_i - theta_bar)^2).
#
# Scale shape: ONE user-keyed aggregate (the corpus shuffle), then a
# JK_B-row bucket aggregate and pure 1-row math — the leave-one-out
# means come from the totals minus each bucket's sums, never a second
# pass.  All moments are exact int64 cent sums; every division and
# square runs in DOUBLE with identical expression text on both
# engines (the r08 overflow house rule — no int64 products anywhere).
# --------------------------------------------------------------------------
JK_B = 20  # jackknife bucket count (delete-a-group size = N/JK_B)

_JK_THETA = (
    "(CAST(s - s_b AS DOUBLE) / CAST(n - n_b AS DOUBLE))"
)


def events_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("row_cents"),
        )
        .groupBy("user_id")
        .agg(F.sum("row_cents").alias("cents"))
        .select(
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
                    16,
                    10,
                ).cast("bigint")
                % JK_B
            ).alias("bucket"),
            "cents",
        )
    )
    bk = per_user.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.sum("cents").alias("s_b"),
    )
    # totals via an unpartitioned window over the <= JK_B-row bucket
    # aggregate (the sanctioned tiny-aggregate pattern) — a separate
    # totals aggregate + crossJoin re-planned the whole corpus scan
    # into the broadcast side (Catalyst does not CSE aggregate
    # subtrees; the tfidf/chi2 defect class, caught by this op's own
    # single-scan plan pin)
    w_all = Window.partitionBy()
    j = bk.select(
        F.sum("n_b").over(w_all).cast("bigint").alias("n"),
        F.sum("s_b").over(w_all).cast("bigint").alias("s"),
        "n_b",
        "s_b",
    ).selectExpr(
        "n",
        "s",
        f"CASE WHEN n - n_b > 0 THEN {_JK_THETA} END AS theta_i",
    )
    agg = j.groupBy("n", "s").agg(
        F.count("theta_i").cast("bigint").alias("nb"),
        F.sum("theta_i").alias("st"),
        F.sum(F.col("theta_i") * F.col("theta_i")).alias("sst"),
    )
    return agg.selectExpr(
        "n AS n_users",
        "nb AS n_buckets",
        """CASE WHEN n > 0
                THEN round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6)
           END AS mean_user_value""",
        """CASE WHEN nb >= 2
                THEN round(sqrt(CAST(nb - 1 AS DOUBLE) / CAST(nb AS DOUBLE)
                     * greatest(sst - st * st / CAST(nb AS DOUBLE), 0.0))
                     / 100.0, 6) + 0.0
           END AS se_jackknife""",
        """CASE WHEN nb >= 2 AND n > 0
                THEN round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
                     - 1.959964 * sqrt(CAST(nb - 1 AS DOUBLE)
                       / CAST(nb AS DOUBLE)
                       * greatest(sst - st * st / CAST(nb AS DOUBLE), 0.0))
                       / 100.0, 6) + 0.0
           END AS ci_lo""",
        """CASE WHEN nb >= 2 AND n > 0
                THEN round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
                     + 1.959964 * sqrt(CAST(nb - 1 AS DOUBLE)
                       / CAST(nb AS DOUBLE)
                       * greatest(sst - st * st / CAST(nb AS DOUBLE), 0.0))
                       / 100.0, 6) + 0.0
           END AS ci_hi""",
    )


JACKKNIFE_SQL = f"""
WITH per_user AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT
           % {JK_B} AS bucket,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
),
bk AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_b,
         CAST(sum(cents) AS BIGINT) AS s_b
  FROM per_user GROUP BY bucket
),
tot AS (
  SELECT CAST(sum(n_b) AS BIGINT) AS n, CAST(sum(s_b) AS BIGINT) AS s
  FROM bk
),
j AS (
  SELECT n, s,
         CASE WHEN n - n_b > 0 THEN {_JK_THETA} END AS theta_i
  FROM bk, tot
),
agg AS (
  SELECT n, s,
         CAST(count(theta_i) AS BIGINT) AS nb,
         sum(theta_i) AS st,
         sum(theta_i * theta_i) AS sst
  FROM j GROUP BY n, s
)
SELECT n AS n_users,
       nb AS n_buckets,
       CASE WHEN n > 0
            THEN round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6)
       END AS mean_user_value,
       CASE WHEN nb >= 2
            THEN round(sqrt(CAST(nb - 1 AS DOUBLE) / CAST(nb AS DOUBLE)
                 * greatest(sst - st * st / CAST(nb AS DOUBLE), 0.0))
                 / 100.0, 6) + 0.0
       END AS se_jackknife,
       CASE WHEN nb >= 2 AND n > 0
            THEN round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
                 - 1.959964 * sqrt(CAST(nb - 1 AS DOUBLE)
                   / CAST(nb AS DOUBLE)
                   * greatest(sst - st * st / CAST(nb AS DOUBLE), 0.0))
                   / 100.0, 6) + 0.0
       END AS ci_lo,
       CASE WHEN nb >= 2 AND n > 0
            THEN round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
                 + 1.959964 * sqrt(CAST(nb - 1 AS DOUBLE)
                   / CAST(nb AS DOUBLE)
                   * greatest(sst - st * st / CAST(nb AS DOUBLE), 0.0))
                   / 100.0, 6) + 0.0
       END AS ci_hi
FROM agg
"""


QUERIES["events_jackknife_ci"] = events_jackknife_ci
ORACLE["events_jackknife_ci"] = JACKKNIFE_SQL


# --------------------------------------------------------------------------
# Difference-in-differences (round 9; SE redefined round 10): the
# quasi-experimental readout.  The period split is WITHIN-user (the
# same user contributes pre and post), so the four-cell-independent SE
# the first version reported ignored within-user covariance (r09
# ADVICE).  The panel estimator fixes that: per user, the zero-filled
# delta = post_cents - pre_cents (0 is the true period total for a
# user with no events in it); DiD = mean_delta(T) - mean_delta(C) and
# a standard two-sample SE over the deltas — user-level covariance is
# inside each delta, so the SE needs no covariance term.  The 2x2
# cell counts/means remain as descriptive columns.  Period split: the
# observed-range midpoint in epoch µs (events_psi_drift convention —
# the 1-row min/max broadcast two-pass, documented there).  Arm: the
# welch md5(user_id) % 2 hash.
#
# Scale shape: one (arm, user, period)-keyed corpus aggregate, ONE
# per-user pivot that feeds every output column (cells AND delta
# moments — a single consumer, so the no-CSE double-scan trap cannot
# trigger), a 2-row arm aggregate, then 1-row math.  Moments follow
# the house rules: exact int64 cent sums; sums-of-squares DOUBLE-cast
# each factor BEFORE multiplying; variances floored at 0.
# --------------------------------------------------------------------------
def _did_cell(g: int, p: str) -> str:
    """Column-suffix for an (arm, period) cell: t/c + pre/post."""
    return f"{'t' if g == 1 else 'c'}_{p}"


_DID_MEAN = {}
for _g in (0, 1):
    for _p in ("pre", "post"):
        _c = _did_cell(_g, _p)
        _DID_MEAN[_c] = (
            f"(CAST(s_{_c} AS DOUBLE) / CAST(n_{_c} AS DOUBLE))"
        )

_DID_DMEAN = {
    a: f"(CAST(sd_{a} AS DOUBLE) / CAST(nu_{a} AS DOUBLE))"
    for a in ("t", "c")
}
_DID_DVAR = {
    a: (
        f"(greatest(ssd_{a} - CAST(sd_{a} AS DOUBLE)"
        f" * CAST(sd_{a} AS DOUBLE) / CAST(nu_{a} AS DOUBLE), 0.0)"
        f" / CAST(nu_{a} - 1 AS DOUBLE))"
    )
    for a in ("t", "c")
}
_DID_EST = f"({_DID_DMEAN['t']} - {_DID_DMEAN['c']})"
_DID_SE = (
    f"sqrt({_DID_DVAR['t']} / CAST(nu_t AS DOUBLE)"
    f" + {_DID_DVAR['c']} / CAST(nu_c AS DOUBLE))"
)
_DID_ALL_N1 = "nu_t >= 1 AND nu_c >= 1"
_DID_ALL_N2 = "nu_t >= 2 AND nu_c >= 2"


def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        read_table(spark, sf_dir, "events")
        .where(
            F.col("user_id").isNotNull()
            & F.col("value").isNotNull()
            & F.col("ts").isNotNull()
        )
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("row_cents"),
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ).alias("us"),
        )
    )
    mid = ev.agg(
        F.expr("min(us) + (max(us) - min(us)) div 2").alias("mid")
    )
    per_cell = (
        ev.join(F.broadcast(mid))
        .select(
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
                    16,
                    10,
                ).cast("bigint")
                % 2
            ).alias("arm"),
            "user_id",
            F.when(F.col("us") <= F.col("mid"), "pre")
            .otherwise("post")
            .alias("period"),
            "row_cents",
        )
        .groupBy("arm", "user_id", "period")
        .agg(F.sum("row_cents").alias("cents"))
    )
    per_user = (
        per_cell.groupBy("arm", "user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("period") == "pre", F.col("cents"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("pre_cents"),
            F.coalesce(
                F.sum(F.when(F.col("period") == "post", F.col("cents"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("post_cents"),
            F.max(
                F.when(F.col("period") == "pre", 1).otherwise(0)
            ).alias("has_pre"),
            F.max(
                F.when(F.col("period") == "post", 1).otherwise(0)
            ).alias("has_post"),
        )
        .select(
            "arm",
            "has_pre",
            "has_post",
            "pre_cents",
            "post_cents",
            (F.col("post_cents") - F.col("pre_cents")).alias("delta"),
        )
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("nu"),
        F.sum("has_pre").cast("bigint").alias("n_pre"),
        F.sum("has_post").cast("bigint").alias("n_post"),
        F.sum(
            F.when(F.col("has_pre") == 1, F.col("pre_cents"))
        ).cast("bigint").alias("s_pre"),
        F.sum(
            F.when(F.col("has_post") == 1, F.col("post_cents"))
        ).cast("bigint").alias("s_post"),
        F.sum("delta").cast("bigint").alias("sd"),
        F.sum(
            F.col("delta").cast("double") * F.col("delta").cast("double")
        ).alias("ssd"),
    )
    aggs = []
    for g in (0, 1):
        a = "t" if g == 1 else "c"
        cond = F.col("arm") == g
        aggs.append(
            F.coalesce(F.sum(F.when(cond, F.col("nu"))), F.lit(0))
            .cast("bigint")
            .alias(f"nu_{a}")
        )
        aggs.append(
            F.coalesce(F.sum(F.when(cond, F.col("sd"))), F.lit(0))
            .cast("bigint")
            .alias(f"sd_{a}")
        )
        aggs.append(
            F.coalesce(F.sum(F.when(cond, F.col("ssd"))), F.lit(0.0))
            .alias(f"ssd_{a}")
        )
        for p in ("pre", "post"):
            c = _did_cell(g, p)
            aggs.append(
                F.coalesce(F.sum(F.when(cond, F.col(f"n_{p}"))), F.lit(0))
                .cast("bigint")
                .alias(f"n_{c}")
            )
            aggs.append(
                F.coalesce(F.sum(F.when(cond, F.col(f"s_{p}"))), F.lit(0))
                .cast("bigint")
                .alias(f"s_{c}")
            )
    one = arms.agg(*aggs)
    return one.selectExpr(
        "nu_t",
        "nu_c",
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        *[
            f"""CASE WHEN n_{c} >= 1
                    THEN round({_DID_MEAN[c]} / 100.0, 6)
               END AS mean_{c}"""
            for c in ("t_pre", "t_post", "c_pre", "c_post")
        ],
        f"""CASE WHEN {_DID_ALL_N1}
                THEN round({_DID_EST} / 100.0, 6) + 0.0
           END AS did_usd""",
        f"""CASE WHEN {_DID_ALL_N2}
                THEN round({_DID_SE} / 100.0, 6) + 0.0
           END AS se_did""",
        f"""CASE WHEN {_DID_ALL_N2} AND {_DID_SE} > 0.0
                THEN abs({_DID_EST}) > 1.959964 * {_DID_SE}
           END AS significant""",
    )


DID_SQL = f"""
WITH ev AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) AS row_cents,
         epoch_us(ts) AS us
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
),
mid AS (SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM ev),
per_cell AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2
           AS arm,
         user_id,
         CASE WHEN us <= mid THEN 'pre' ELSE 'post' END AS period,
         CAST(sum(row_cents) AS BIGINT) AS cents
  FROM ev, mid
  GROUP BY 1, 2, 3
),
per_user AS (
  SELECT arm, user_id,
         CAST(coalesce(sum(CASE WHEN period = 'pre' THEN cents END), 0)
              AS BIGINT) AS pre_cents,
         CAST(coalesce(sum(CASE WHEN period = 'post' THEN cents END), 0)
              AS BIGINT) AS post_cents,
         max(CASE WHEN period = 'pre' THEN 1 ELSE 0 END) AS has_pre,
         max(CASE WHEN period = 'post' THEN 1 ELSE 0 END) AS has_post
  FROM per_cell GROUP BY arm, user_id
),
pu AS (
  SELECT arm, has_pre, has_post, pre_cents, post_cents,
         post_cents - pre_cents AS delta
  FROM per_user
),
arms AS (
  SELECT arm,
         CAST(count(*) AS BIGINT) AS nu,
         CAST(sum(has_pre) AS BIGINT) AS n_pre,
         CAST(sum(has_post) AS BIGINT) AS n_post,
         CAST(sum(CASE WHEN has_pre = 1 THEN pre_cents END) AS BIGINT)
           AS s_pre,
         CAST(sum(CASE WHEN has_post = 1 THEN post_cents END) AS BIGINT)
           AS s_post,
         CAST(sum(delta) AS BIGINT) AS sd,
         sum(CAST(delta AS DOUBLE) * CAST(delta AS DOUBLE)) AS ssd
  FROM pu GROUP BY arm
),
one AS (
  SELECT
    {", ".join(
        f'''CAST(coalesce(sum(CASE WHEN arm = {g} THEN nu END), 0)
              AS BIGINT) AS nu_{a},
        CAST(coalesce(sum(CASE WHEN arm = {g} THEN sd END), 0)
              AS BIGINT) AS sd_{a},
        CAST(coalesce(sum(CASE WHEN arm = {g} THEN ssd END), 0.0)
              AS DOUBLE) AS ssd_{a},
        '''
        + ", ".join(
            f'''CAST(coalesce(sum(CASE WHEN arm = {g}
                      THEN n_{p} END), 0) AS BIGINT) AS n_{_did_cell(g, p)},
            CAST(coalesce(sum(CASE WHEN arm = {g}
                      THEN s_{p} END), 0) AS BIGINT) AS s_{_did_cell(g, p)}'''
            for p in ("pre", "post")
        )
        for g, a in ((0, "c"), (1, "t"))
    )}
  FROM arms
)
SELECT nu_t, nu_c, n_t_pre, n_t_post, n_c_pre, n_c_post,
       {", ".join(
           f'''CASE WHEN n_{c} >= 1
                    THEN round({_DID_MEAN[c]} / 100.0, 6)
               END AS mean_{c}'''
           for c in ("t_pre", "t_post", "c_pre", "c_post")
       )},
       CASE WHEN {_DID_ALL_N1}
            THEN round({_DID_EST} / 100.0, 6) + 0.0
       END AS did_usd,
       CASE WHEN {_DID_ALL_N2}
            THEN round({_DID_SE} / 100.0, 6) + 0.0
       END AS se_did,
       CASE WHEN {_DID_ALL_N2} AND {_DID_SE} > 0.0
            THEN abs({_DID_EST}) > 1.959964 * {_DID_SE}
       END AS significant
FROM one
"""


QUERIES["events_diff_in_diff"] = events_diff_in_diff
ORACLE["events_diff_in_diff"] = DID_SQL


# --------------------------------------------------------------------------
# Always-valid A/B readout via mSPRT (round 9): the mixture sequential
# probability ratio test — the p-value a team can PEEK at continuously
# without alpha inflation (fixed-horizon z/t tests are only valid at a
# pre-committed n; production dashboards are looked at every day).
# Two-sample normal mixture with prior effect variance TAU²:
#   log Λ = 0.5·ln(V/(V+τ²)) + Δ²·τ² / (2·V·(V+τ²)),
#   p_always_valid = min(1, exp(−log Λ)),
# where Δ = mean_t − mean_c and V = var_t/n_t + var_c/n_c.  Computed
# in LOG form so a decisive experiment underflows p to 0.0 instead of
# overflowing exp() to inf (identical IEEE behavior on both engines).
#
# Scale shape: the welch moments — one user-keyed aggregate, per-arm
# scalar moments (sum-of-squares DOUBLE-cast before multiplying, the
# house rule), 1-row math.
# --------------------------------------------------------------------------
MSPRT_TAU_CENTS = 1000.0  # prior effect scale: $10 per-user

_MSPRT_V = f"({_WELCH_VA} / CAST(na AS DOUBLE) + {_WELCH_VB} / CAST(nb AS DOUBLE))"
_MSPRT_D = (
    "(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)"
    " - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))"
)
_MSPRT_T2 = f"({MSPRT_TAU_CENTS} * {MSPRT_TAU_CENTS})"
_MSPRT_LOGL = (
    f"(0.5 * ln({_MSPRT_V} / ({_MSPRT_V} + {_MSPRT_T2}))"
    f" + {_MSPRT_D} * {_MSPRT_D} * {_MSPRT_T2}"
    f" / (2.0 * {_MSPRT_V} * ({_MSPRT_V} + {_MSPRT_T2})))"
)
_MSPRT_GUARD = f"na < 2 OR nb < 2 OR {_MSPRT_V} <= 0.0"


def events_msprt_always_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("row_cents"),
        )
        .groupBy("user_id")
        .agg(F.sum("row_cents").alias("cents"))
        .select(
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
                    16,
                    10,
                ).cast("bigint")
                % 2
            ).alias("arm"),
            "cents",
        )
    )
    agg = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 0, F.col("cents"))), F.lit(0)
        ).alias("sa"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 1, F.col("cents"))), F.lit(0)
        ).alias("sb"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("arm") == 0,
                    F.col("cents").cast("double")
                    * F.col("cents").cast("double"),
                )
            ),
            F.lit(0.0),
        ).alias("ssa"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("arm") == 1,
                    F.col("cents").cast("double")
                    * F.col("cents").cast("double"),
                )
            ),
            F.lit(0.0),
        ).alias("ssb"),
    )
    return agg.selectExpr(
        "coalesce(na, 0) AS n_a",
        "coalesce(nb, 0) AS n_b",
        f"""CASE WHEN {_MSPRT_GUARD} THEN NULL
                ELSE round({_MSPRT_D} / 100.0, 6) + 0.0
           END AS delta_usd""",
        f"""CASE WHEN {_MSPRT_GUARD} THEN NULL
                ELSE round({_MSPRT_LOGL}, 6) + 0.0
           END AS log_lambda""",
        f"""CASE WHEN {_MSPRT_GUARD} THEN NULL
                ELSE round(least(1.0, exp(-{_MSPRT_LOGL})), 6) + 0.0
           END AS p_always_valid""",
        f"""CASE WHEN {_MSPRT_GUARD} THEN NULL
                ELSE least(1.0, exp(-{_MSPRT_LOGL})) < 0.05
           END AS significant""",
    )


MSPRT_SQL = f"""
WITH per_user AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2
           AS arm,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
),
agg AS (
  SELECT
    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
    CAST(coalesce(sum(CASE WHEN arm = 0 THEN cents END), 0) AS BIGINT)
      AS sa,
    CAST(coalesce(sum(CASE WHEN arm = 1 THEN cents END), 0) AS BIGINT)
      AS sb,
    CAST(coalesce(sum(CASE WHEN arm = 0 THEN
           CAST(cents AS DOUBLE) * CAST(cents AS DOUBLE) END), 0)
         AS DOUBLE) AS ssa,
    CAST(coalesce(sum(CASE WHEN arm = 1 THEN
           CAST(cents AS DOUBLE) * CAST(cents AS DOUBLE) END), 0)
         AS DOUBLE) AS ssb
  FROM per_user
)
SELECT coalesce(na, 0) AS n_a,
       coalesce(nb, 0) AS n_b,
       CASE WHEN {_MSPRT_GUARD} THEN NULL
            ELSE round({_MSPRT_D} / 100.0, 6) + 0.0
       END AS delta_usd,
       CASE WHEN {_MSPRT_GUARD} THEN NULL
            ELSE round({_MSPRT_LOGL}, 6) + 0.0
       END AS log_lambda,
       CASE WHEN {_MSPRT_GUARD} THEN NULL
            ELSE round(least(1.0, exp(-{_MSPRT_LOGL})), 6) + 0.0
       END AS p_always_valid,
       CASE WHEN {_MSPRT_GUARD} THEN NULL
            ELSE least(1.0, exp(-{_MSPRT_LOGL})) < 0.05
       END AS significant
FROM agg
"""


QUERIES["events_msprt_always_valid"] = events_msprt_always_valid
ORACLE["events_msprt_always_valid"] = MSPRT_SQL


# --------------------------------------------------------------------------
# Spearman rank correlation (round 9): does per-user VALUE track
# per-user ACTIVITY?  The robust (rank-based) companion to Pearson —
# monotone association free of the heavy-tail distortion per-user
# revenue always has.  Average ranks with exact tie handling, held in
# half-units (2*rank is integer) exactly like orders_mann_whitney_u;
# Pearson over the half-unit ranks equals Pearson over the ranks
# (scale/shift invariance), so no division happens before the final
# 1-row correlation.
#
# Scale shape: per variable, the MW deterministic value-domain bucket
# trick — the per-value rank prefix runs per floor(v/W) bucket (each
# partition bounded by the bucket width at ANY corpus size; floor in
# DOUBLE, not integer div, so negative cents bucket identically on
# both engines) with the value-domain-bounded bucket-offset table
# broadcast back; ranks join back to users on the scaling value key.
# No global window, no sampled range boundaries.
# --------------------------------------------------------------------------
SPEAR_ACT_BUCKET = 1 << 10  # activity (events/user) bucket width
SPEAR_VAL_BUCKET = 1 << 20  # cents bucket width (the MW constant)


def _rank2_table(g: DataFrame, width: int) -> DataFrame:
    """(v, n_v) -> (v, r2) with r2 = 2*avg_rank = 2*prefix + n_v + 1
    (exact int64), prefix computed per deterministic value-domain
    bucket + broadcast offsets (the Mann-Whitney scaffold)."""
    g = g.withColumn(
        "bucket",
        F.expr(f"CAST(floor(CAST(v AS DOUBLE) / {width}.0) AS BIGINT)"),
    )
    wb = Window.partitionBy("bucket").orderBy(F.asc("v")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    btot = g.groupBy("bucket").agg(F.sum("n_v").alias("bt"))
    # unpartitioned window over the bucket list — bounded by the value
    # domain (ceil(domain/width) rows at any corpus size), the same
    # two-bound argument as orders_mann_whitney_u's offsets
    offsets = btot.select(
        "bucket",
        F.coalesce(
            F.sum("bt").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("offset"),
    )
    return (
        g.withColumn(
            "in_bucket", F.coalesce(F.sum("n_v").over(wb), F.lit(0))
        )
        .join(F.broadcast(offsets), "bucket")
        .select(
            "v",
            (
                2 * (F.col("offset") + F.col("in_bucket"))
                + F.col("n_v")
                + 1
            ).alias("r2"),
        )
    )


_SPEAR_RHO = (
    "((CAST(n AS DOUBLE) * sab - sa * sb)"
    " / sqrt((CAST(n AS DOUBLE) * saa - sa * sa)"
    "        * (CAST(n AS DOUBLE) * sbb - sb * sb)))"
)
_SPEAR_GUARD = (
    "n < 3 OR (CAST(n AS DOUBLE) * saa - sa * sa) <= 0.0"
    " OR (CAST(n AS DOUBLE) * sbb - sb * sb) <= 0.0"
)
_SPEAR_T = (
    f"({_SPEAR_RHO} * sqrt(CAST(n - 2 AS DOUBLE)"
    f" / (1.0 - {_SPEAR_RHO} * {_SPEAR_RHO})))"
)


def users_spearman_value_activity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    per_user = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("row_cents"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("acts"),
            F.sum("row_cents").alias("cents"),
        )
    )
    ra = _rank2_table(
        per_user.groupBy(F.col("acts").alias("v")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_v")
        ),
        SPEAR_ACT_BUCKET,
    ).selectExpr("v AS acts", "r2 AS r2a")
    rb = _rank2_table(
        per_user.groupBy(F.col("cents").alias("v")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_v")
        ),
        SPEAR_VAL_BUCKET,
    ).selectExpr("v AS cents", "r2 AS r2b")
    ranked = per_user.join(ra, "acts").join(rb, "cents")
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("r2a").cast("double")).alias("sa"),
        F.sum(F.col("r2b").cast("double")).alias("sb"),
        F.sum(
            F.col("r2a").cast("double") * F.col("r2a").cast("double")
        ).alias("saa"),
        F.sum(
            F.col("r2b").cast("double") * F.col("r2b").cast("double")
        ).alias("sbb"),
        F.sum(
            F.col("r2a").cast("double") * F.col("r2b").cast("double")
        ).alias("sab"),
    )
    return agg.selectExpr(
        "n AS n_users",
        f"""CASE WHEN {_SPEAR_GUARD} THEN NULL
                ELSE round({_SPEAR_RHO}, 6) + 0.0
           END AS spearman_rho""",
        f"""CASE WHEN {_SPEAR_GUARD} OR abs({_SPEAR_RHO}) >= 1.0 THEN NULL
                ELSE round({_SPEAR_T}, 6) + 0.0
           END AS t_stat""",
        f"""CASE WHEN {_SPEAR_GUARD} OR abs({_SPEAR_RHO}) >= 1.0 THEN NULL
                ELSE abs({_SPEAR_T}) > 1.959964
           END AS significant""",
    )


SPEARMAN_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS acts,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
),
ga AS (SELECT acts AS v, CAST(count(*) AS BIGINT) AS n_v
       FROM per_user GROUP BY acts),
ra AS (
  SELECT v AS acts,
         2 * CAST(coalesce(sum(n_v) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) + n_v + 1 AS r2a
  FROM ga
),
gb AS (SELECT cents AS v, CAST(count(*) AS BIGINT) AS n_v
       FROM per_user GROUP BY cents),
rb AS (
  SELECT v AS cents,
         2 * CAST(coalesce(sum(n_v) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) + n_v + 1 AS r2b
  FROM gb
),
ranked AS (
  SELECT p.user_id, ra.r2a, rb.r2b
  FROM per_user p JOIN ra USING (acts) JOIN rb USING (cents)
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(r2a AS DOUBLE)) AS sa,
         sum(CAST(r2b AS DOUBLE)) AS sb,
         sum(CAST(r2a AS DOUBLE) * CAST(r2a AS DOUBLE)) AS saa,
         sum(CAST(r2b AS DOUBLE) * CAST(r2b AS DOUBLE)) AS sbb,
         sum(CAST(r2a AS DOUBLE) * CAST(r2b AS DOUBLE)) AS sab
  FROM ranked
)
SELECT n AS n_users,
       CASE WHEN {_SPEAR_GUARD} THEN NULL
            ELSE round({_SPEAR_RHO}, 6) + 0.0
       END AS spearman_rho,
       CASE WHEN {_SPEAR_GUARD} OR abs({_SPEAR_RHO}) >= 1.0 THEN NULL
            ELSE round({_SPEAR_T}, 6) + 0.0
       END AS t_stat,
       CASE WHEN {_SPEAR_GUARD} OR abs({_SPEAR_RHO}) >= 1.0 THEN NULL
            ELSE abs({_SPEAR_T}) > 1.959964
       END AS significant
FROM agg
"""


QUERIES["users_spearman_value_activity"] = users_spearman_value_activity
ORACLE["users_spearman_value_activity"] = SPEARMAN_SQL


# --------------------------------------------------------------------------
# Kruskal-Wallis H (round 9): the k-arm extension of Mann-Whitney —
# "do ANY of the 3 experiment arms differ?" on ranks, with the exact
# tie correction.  One rank table (the shared deterministic
# value-domain bucket scaffold, half-unit ranks), per-arm rank sums,
# 1-row math:
#   H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1),  H_c = H / C,
#   C = 1 − Σ_v (t_v³−t_v)/(N³−N).
# Significance at 5% against chi²(k−1 = 2) = 5.991465.
# --------------------------------------------------------------------------
KW_ARMS = 3

_KW_H = (
    "(12.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))"
    " * (r0 * r0 / CAST(n0 AS DOUBLE)"
    "    + r1 * r1 / CAST(n1 AS DOUBLE)"
    "    + r2s * r2s / CAST(n2 AS DOUBLE))"
    " - 3.0 * CAST(n + 1 AS DOUBLE))"
)
_KW_C = (
    "(1.0 - tie3 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    " * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))"
)
_KW_GUARD = f"n0 = 0 OR n1 = 0 OR n2 = 0 OR n < 3 OR {_KW_C} <= 0.0"


def events_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("row_cents"),
        )
        .groupBy("user_id")
        .agg(F.sum("row_cents").alias("cents"))
        .select(
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
                    16,
                    10,
                ).cast("bigint")
                % KW_ARMS
            ).alias("arm"),
            "cents",
        )
    )
    g = per_user.groupBy(F.col("cents").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0_v"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1_v"),
    )
    ranks = _rank2_table(
        g.select("v", "n_v"), SPEAR_VAL_BUCKET
    )
    j = g.join(ranks, "v").select(
        "n_v",
        "n0_v",
        "n1_v",
        (F.col("n_v") - F.col("n0_v") - F.col("n1_v")).alias("n2_v"),
        "r2",
    )
    agg = j.agg(
        F.sum("n_v").cast("bigint").alias("n"),
        F.sum("n0_v").cast("bigint").alias("n0"),
        F.sum("n1_v").cast("bigint").alias("n1"),
        F.sum("n2_v").cast("bigint").alias("n2"),
        # half-unit rank sums: R_g = sum(n_g_v * r2_v) / 2, products in
        # DOUBLE per the house rule
        (
            F.sum(F.col("n0_v").cast("double") * F.col("r2").cast("double"))
            / 2.0
        ).alias("r0"),
        (
            F.sum(F.col("n1_v").cast("double") * F.col("r2").cast("double"))
            / 2.0
        ).alias("r1"),
        (
            F.sum(F.col("n2_v").cast("double") * F.col("r2").cast("double"))
            / 2.0
        ).alias("r2s"),
        F.sum(
            F.col("n_v").cast("double")
            * F.col("n_v").cast("double")
            * F.col("n_v").cast("double")
            - F.col("n_v").cast("double")
        ).alias("tie3"),
    )
    return agg.selectExpr(
        "n AS n_users",
        "n0 AS n_arm0",
        "n1 AS n_arm1",
        "n2 AS n_arm2",
        f"""CASE WHEN {_KW_GUARD} THEN NULL
                ELSE round({_KW_H}, 6) + 0.0
           END AS h_stat""",
        f"""CASE WHEN {_KW_GUARD} THEN NULL
                ELSE round({_KW_H} / {_KW_C}, 6) + 0.0
           END AS h_corrected""",
        f"""CASE WHEN {_KW_GUARD} THEN NULL
                ELSE {_KW_H} / {_KW_C} > 5.991465
           END AS significant""",
    )


KRUSKAL_SQL = f"""
WITH per_user AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT
           % {KW_ARMS} AS arm,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
),
g AS (
  SELECT cents AS v,
         CAST(count(*) AS BIGINT) AS n_v,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0_v,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1_v
  FROM per_user GROUP BY cents
),
ranks AS (
  SELECT v,
         2 * CAST(coalesce(sum(n_v) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) + n_v + 1 AS r2
  FROM g
),
j AS (
  SELECT g.n_v, g.n0_v, g.n1_v, g.n_v - g.n0_v - g.n1_v AS n2_v, r.r2
  FROM g JOIN ranks r USING (v)
),
agg AS (
  SELECT CAST(sum(n_v) AS BIGINT) AS n,
         CAST(sum(n0_v) AS BIGINT) AS n0,
         CAST(sum(n1_v) AS BIGINT) AS n1,
         CAST(sum(n2_v) AS BIGINT) AS n2,
         sum(CAST(n0_v AS DOUBLE) * CAST(r2 AS DOUBLE)) / 2.0 AS r0,
         sum(CAST(n1_v AS DOUBLE) * CAST(r2 AS DOUBLE)) / 2.0 AS r1,
         sum(CAST(n2_v AS DOUBLE) * CAST(r2 AS DOUBLE)) / 2.0 AS r2s,
         sum(CAST(n_v AS DOUBLE) * CAST(n_v AS DOUBLE)
             * CAST(n_v AS DOUBLE) - CAST(n_v AS DOUBLE)) AS tie3
  FROM j
)
SELECT n AS n_users,
       n0 AS n_arm0,
       n1 AS n_arm1,
       n2 AS n_arm2,
       CASE WHEN {_KW_GUARD} THEN NULL
            ELSE round({_KW_H}, 6) + 0.0
       END AS h_stat,
       CASE WHEN {_KW_GUARD} THEN NULL
            ELSE round({_KW_H} / {_KW_C}, 6) + 0.0
       END AS h_corrected,
       CASE WHEN {_KW_GUARD} THEN NULL
            ELSE {_KW_H} / {_KW_C} > 5.991465
       END AS significant
FROM agg
"""


QUERIES["events_kruskal_wallis"] = events_kruskal_wallis
ORACLE["events_kruskal_wallis"] = KRUSKAL_SQL


# --------------------------------------------------------------------------
# User-value Gini (round 9): revenue concentration across users — the
# whale-dependence number every marketplace tracks.  Tie-exact rank
# formulation over the shared deterministic-bucket rank table:
#   G = Σ_i r_i·x_i / (n·Σx) · 2 − (n+1)/n   with average ranks r,
# computed from half-unit ranks as Σ_v n_v·r2_v·v / (n·Σx) − (n+1)/n.
# Guard: Gini is only defined here for a positive total.
# --------------------------------------------------------------------------
def users_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("row_cents"),
        )
        .groupBy("user_id")
        .agg(F.sum("row_cents").alias("cents"))
    )
    g = per_user.groupBy(F.col("cents").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v")
    )
    ranks = _rank2_table(g, SPEAR_VAL_BUCKET)
    j = g.join(ranks, "v")
    agg = j.agg(
        F.sum("n_v").cast("bigint").alias("n"),
        F.sum(F.col("n_v").cast("double") * F.col("v").cast("double"))
        .alias("sx"),
        F.sum(
            F.col("n_v").cast("double")
            * F.col("r2").cast("double")
            * F.col("v").cast("double")
        ).alias("srx2"),
    )
    return agg.selectExpr(
        "n AS n_users",
        "round(sx / 100.0, 2) AS total_value_usd",
        """CASE WHEN n >= 2 AND sx > 0.0
                THEN round(srx2 / (CAST(n AS DOUBLE) * sx)
                     - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0
           END AS gini""",
    )


GINI_USERS_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
),
g AS (
  SELECT cents AS v, CAST(count(*) AS BIGINT) AS n_v
  FROM per_user GROUP BY cents
),
ranks AS (
  SELECT v,
         2 * CAST(coalesce(sum(n_v) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) + n_v + 1 AS r2
  FROM g
),
agg AS (
  SELECT CAST(sum(n_v) AS BIGINT) AS n,
         sum(CAST(n_v AS DOUBLE) * CAST(v AS DOUBLE)) AS sx,
         sum(CAST(n_v AS DOUBLE) * CAST(r2 AS DOUBLE)
             * CAST(v AS DOUBLE)) AS srx2
  FROM g JOIN ranks USING (v)
)
SELECT n AS n_users,
       round(sx / 100.0, 2) AS total_value_usd,
       CASE WHEN n >= 2 AND sx > 0.0
            THEN round(srx2 / (CAST(n AS DOUBLE) * sx)
                 - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0
       END AS gini
FROM agg
"""


QUERIES["users_value_gini"] = users_value_gini
ORACLE["users_value_gini"] = GINI_USERS_SQL


# --------------------------------------------------------------------------
# Benjamini-Hochberg FDR across per-event-type A/B tests (round 10):
# the multiple-testing correction a metrics platform applies when one
# experiment is read out on MANY metrics at once — per event_type, the
# Welch z on per-user value (the events_welch_ttest moments, grouped),
# a two-sided normal p-value, then the BH step-up so the SIGNIFICANT
# set controls the false-discovery rate at FDR_Q instead of inflating
# with the metric count.  (The same user contributes to several
# event_types, so the tests are positively dependent — exactly the
# regime BH is robust to, documented here rather than assumed.)
#
# p-values: Phi via the Abramowitz-Stegun 26.2.17 polynomial
# (|error| < 7.5e-8, far under the round-6 quantum) — pure arithmetic
# + one exp(), identical expression text on both engines, computed
# from the UNROUNDED Welch statistic.  BH: rank the m testable
# p-values ascending, raw_i = p_i * m / i, adjusted = suffix-min
# (step-up) clipped at 1 — all exact arithmetic over round-6 p's.
# The rank/suffix-min windows are unpartitioned but run AFTER the
# event_type aggregate: their input is bounded by the event-type
# alphabet, never by data (the jackknife bounded-frame class).
#
# Scale shape: one (event_type, user)-keyed corpus aggregate, a
# per-type moment rollup (bounded rows), then alphabet-sized window
# math; the m count joins back broadcast.  Untestable types (an arm
# under 2 users / zero variance) carry NULLs and sit outside m.
# --------------------------------------------------------------------------
FDR_Q = 0.05

_BH_AZ = f"abs({_WELCH_T})"
_BH_TT = f"(1.0 / (1.0 + 0.2316419 * {_BH_AZ}))"
_BH_POLY = (
    f"({_BH_TT} * (0.319381530 + {_BH_TT} * (-0.356563782"
    f" + {_BH_TT} * (1.781477937 + {_BH_TT} * (-1.821255978"
    f" + {_BH_TT} * 1.330274429)))))"
)
_BH_P = (
    f"round(least(1.0, 2.0 * 0.3989422804014327"
    f" * exp(-{_BH_AZ} * {_BH_AZ} / 2.0) * {_BH_POLY}), 6) + 0.0"
)
_BH_DIFF = (
    "round((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)"
    " - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 100.0, 6) + 0.0"
)


def events_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    per_cell = (
        read_table(spark, sf_dir, "events")
        .where(
            F.col("user_id").isNotNull()
            & F.col("value").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "event_type",
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("row_cents"),
        )
        .groupBy("event_type", "user_id")
        .agg(F.sum("row_cents").alias("cents"))
        .select(
            "event_type",
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
                    16,
                    10,
                ).cast("bigint")
                % 2
            ).alias("arm"),
            "cents",
        )
    )
    from stac_geoparquet_spark.operators._io import fenced

    # fenced: three consumers (the m count, the testable branch, the
    # untestable branch); the output is bounded by the event-type
    # alphabet.  Without the fence the final plan still scans events
    # once (exchange reuse), but the query was no faster in an
    # interleaved A/B at sf0.1 (0.814 s fenced, 0.816 s unfenced,
    # slower unfenced in 2 of 3 pairs), so the fence stays
    mom = fenced(per_cell.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 0, F.col("cents"))), F.lit(0)
        )
        .cast("bigint")
        .alias("sa"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 1, F.col("cents"))), F.lit(0)
        )
        .cast("bigint")
        .alias("sb"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("arm") == 0,
                    F.col("cents").cast("double")
                    * F.col("cents").cast("double"),
                )
            ),
            F.lit(0.0),
        ).alias("ssa"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("arm") == 1,
                    F.col("cents").cast("double")
                    * F.col("cents").cast("double"),
                )
            ),
            F.lit(0.0),
        ).alias("ssb"),
    ))
    scored = mom.selectExpr(
        "event_type",
        "coalesce(na, 0) AS n_a",
        "coalesce(nb, 0) AS n_b",
        f"""CASE WHEN {_WELCH_GUARD} THEN NULL
                ELSE {_BH_DIFF}
           END AS diff_usd""",
        f"""CASE WHEN {_WELCH_GUARD} THEN NULL
                ELSE round({_WELCH_T}, 6) + 0.0
           END AS z""",
        f"""CASE WHEN {_WELCH_GUARD} THEN NULL
                ELSE {_BH_P}
           END AS p_value""",
    )
    # r11: m_tests rides an unpartitioned window over the alphabet-
    # bounded scored table (input is the fenced per-type moments)
    # instead of a separate 1-row aggregate broadcast onto BOTH output
    # branches — two broadcast exchanges and one aggregate job gone
    # per call, results identical (the classifier_lift_gains move)
    scored = scored.withColumn(
        "m_tests",
        F.sum(F.when(F.col("p_value").isNotNull(), 1).otherwise(0))
        .over(
            W.partitionBy().rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        )
        .cast("bigint"),
    )
    tst = (
        scored.where(F.col("p_value").isNotNull())
        .withColumn(
            "i",
            F.row_number()
            .over(W.orderBy("p_value", "event_type"))
            .cast("bigint"),
        )
        .selectExpr(
            "*",
            "CAST(m_tests AS DOUBLE) * p_value / CAST(i AS DOUBLE)"
            " AS raw_bh",
        )
        .withColumn(
            "sufmin",
            F.min("raw_bh").over(
                W.orderBy(
                    F.col("p_value").desc(), F.col("event_type").desc()
                ).rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .selectExpr(
            "event_type",
            "n_a",
            "n_b",
            "diff_usd",
            "z",
            "p_value",
            "m_tests",
            "round(least(1.0, sufmin), 6) + 0.0 AS p_adj_bh",
            f"round(least(1.0, sufmin), 6) <= {FDR_Q} AS significant_fdr",
        )
    )
    rest = (
        scored.where(F.col("p_value").isNull())
        .selectExpr(
            "event_type",
            "n_a",
            "n_b",
            "diff_usd",
            "z",
            "p_value",
            "m_tests",
            "CAST(NULL AS DOUBLE) AS p_adj_bh",
            "CAST(NULL AS BOOLEAN) AS significant_fdr",
        )
    )
    return tst.unionByName(rest)


FDR_BH_SQL = f"""
WITH per_cell AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2
           AS arm,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
    AND event_type IS NOT NULL
  GROUP BY event_type, user_id
),
mom AS (
  SELECT event_type,
    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
    CAST(coalesce(sum(CASE WHEN arm = 0 THEN cents END), 0) AS BIGINT)
      AS sa,
    CAST(coalesce(sum(CASE WHEN arm = 1 THEN cents END), 0) AS BIGINT)
      AS sb,
    CAST(coalesce(sum(CASE WHEN arm = 0 THEN
           CAST(cents AS DOUBLE) * CAST(cents AS DOUBLE) END), 0)
         AS DOUBLE) AS ssa,
    CAST(coalesce(sum(CASE WHEN arm = 1 THEN
           CAST(cents AS DOUBLE) * CAST(cents AS DOUBLE) END), 0)
         AS DOUBLE) AS ssb
  FROM per_cell GROUP BY event_type
),
scored AS (
  SELECT event_type,
         coalesce(na, 0) AS n_a,
         coalesce(nb, 0) AS n_b,
         CASE WHEN {_WELCH_GUARD} THEN NULL ELSE {_BH_DIFF} END AS diff_usd,
         CASE WHEN {_WELCH_GUARD} THEN NULL
              ELSE round({_WELCH_T}, 6) + 0.0 END AS z,
         CASE WHEN {_WELCH_GUARD} THEN NULL ELSE {_BH_P} END AS p_value
  FROM mom
),
mtab AS (
  SELECT CAST(sum(CASE WHEN p_value IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS m_tests
  FROM scored
),
tst AS (
  SELECT *,
         CAST(row_number() OVER (ORDER BY p_value, event_type)
              AS BIGINT) AS i
  FROM scored CROSS JOIN mtab WHERE p_value IS NOT NULL
),
bh AS (
  SELECT *,
         min(CAST(m_tests AS DOUBLE) * p_value / CAST(i AS DOUBLE))
           OVER (ORDER BY p_value DESC, event_type DESC
                 ROWS UNBOUNDED PRECEDING) AS sufmin
  FROM tst
)
SELECT event_type, n_a, n_b, diff_usd, z, p_value, m_tests,
       round(least(1.0, sufmin), 6) + 0.0 AS p_adj_bh,
       round(least(1.0, sufmin), 6) <= {FDR_Q} AS significant_fdr
FROM bh
UNION ALL
SELECT event_type, n_a, n_b, diff_usd, z, p_value, m_tests,
       CAST(NULL AS DOUBLE) AS p_adj_bh,
       CAST(NULL AS BOOLEAN) AS significant_fdr
FROM scored CROSS JOIN mtab WHERE p_value IS NULL
"""


QUERIES["events_fdr_bh"] = events_fdr_bh
ORACLE["events_fdr_bh"] = FDR_BH_SQL


# --------------------------------------------------------------------------
# Ratio-metric delta-method readout (round 10): the difference in
# value-per-EVENT between experiment arms with a correct standard
# error.  Per-event ratios are the norm in practice (revenue per
# session, clicks per impression), but the naive z-test is wrong for
# them: the denominator is not the randomization unit, so per-user
# value and event count are CORRELATED and the ratio's sampling
# variance needs the delta method (Deng et al., KDD'18 folklore):
#
#   R_arm = sum(s_u) / sum(n_u)           (ratio of user-level sums)
#   Var(R) ~ (var_s - 2 R cov_sn + R^2 var_n) / (k * nbar^2)
#
# with k users in the arm, nbar the mean event count, and var/cov the
# user-level sample moments.  Arms follow the md5-parity convention of
# the sibling readouts (events_ab_ztest/welch/CUPED).
#
# Scale shape: one user-keyed aggregate (exact int64 cent + count
# sums), then a 1-row conditional-moment reduction — everything after
# the first shuffle touches <= 2 logical rows.  Cross-moment products
# (s*s, s*n, n*n) cast each int64 factor to DOUBLE BEFORE multiplying
# (the user_bot_score house rule); every downstream statistic is one
# fixed-shape double expression written with the IDENTICAL text on
# both engines, then round(,6) + 0.0.  The z cut applies to the
# unrounded statistic.
# --------------------------------------------------------------------------
def _ratio_frags(sfx: str) -> tuple[str, str]:
    """(ratio_cents_per_event, delta_method_variance) for arm suffix.

    Every denominator is nullif-guarded: the outer CASE guards the
    OUTPUT, but codegen subexpression elimination hoists these shared
    fragments out of the CASE and evaluates them unconditionally, so
    an unguarded /0 raises under ANSI even on the guarded branch (the
    constant_keys sweep axis caught exactly this)."""
    r = f"(CAST(s{sfx} AS DOUBLE) / nullif(CAST(n{sfx} AS DOUBLE), 0.0))"
    km1 = f"nullif(CAST(k{sfx} - 1 AS DOUBLE), 0.0)"
    kd = f"nullif(CAST(k{sfx} AS DOUBLE), 0.0)"
    var_s = (
        f"((ss{sfx} - CAST(s{sfx} AS DOUBLE) * CAST(s{sfx} AS DOUBLE)"
        f" / {kd}) / {km1})"
    )
    var_n = (
        f"((nn{sfx} - CAST(n{sfx} AS DOUBLE) * CAST(n{sfx} AS DOUBLE)"
        f" / {kd}) / {km1})"
    )
    cov = (
        f"((sn{sfx} - CAST(s{sfx} AS DOUBLE) * CAST(n{sfx} AS DOUBLE)"
        f" / {kd}) / {km1})"
    )
    nbar = f"(CAST(n{sfx} AS DOUBLE) / {kd})"
    var_r = (
        f"(({var_s} - 2.0 * {r} * {cov} + {r} * {r} * {var_n})"
        f" / nullif({kd} * {nbar} * {nbar}, 0.0))"
    )
    return r, var_r


_RATIO_RA, _RATIO_VA = _ratio_frags("a")
_RATIO_RB, _RATIO_VB = _ratio_frags("b")
_RATIO_SE2 = f"({_RATIO_VA} + {_RATIO_VB})"
_RATIO_Z = (
    f"(({_RATIO_RB} - {_RATIO_RA}) / nullif(sqrt({_RATIO_SE2}), 0.0))"
)
_RATIO_GUARD = (
    f"ka < 2 OR kb < 2 OR na = 0 OR nb = 0 OR {_RATIO_SE2} <= 0.0"
)


def events_ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("row_cents"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("row_cents").alias("cents"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
                    16,
                    10,
                ).cast("bigint")
                % 2
            ).alias("arm"),
            "cents",
            "cnt",
        )
    )

    def _mom(arm: int, expr, zero):
        return F.coalesce(
            F.sum(F.when(F.col("arm") == arm, expr)), F.lit(zero)
        )

    cd = F.col("cents").cast("double")
    nd = F.col("cnt").cast("double")
    agg = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("ka"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("kb"),
        _mom(0, F.col("cents"), 0).alias("sa"),
        _mom(1, F.col("cents"), 0).alias("sb"),
        _mom(0, F.col("cnt"), 0).alias("na"),
        _mom(1, F.col("cnt"), 0).alias("nb"),
        _mom(0, cd * cd, 0.0).alias("ssa"),
        _mom(1, cd * cd, 0.0).alias("ssb"),
        _mom(0, nd * nd, 0.0).alias("nna"),
        _mom(1, nd * nd, 0.0).alias("nnb"),
        _mom(0, cd * nd, 0.0).alias("sna"),
        _mom(1, cd * nd, 0.0).alias("snb"),
    )
    return agg.selectExpr(
        "coalesce(ka, 0) AS n_users_a",
        "coalesce(kb, 0) AS n_users_b",
        "coalesce(na, 0) AS n_events_a",
        "coalesce(nb, 0) AS n_events_b",
        f"""CASE WHEN coalesce(na, 0) = 0 THEN NULL
                ELSE round({_RATIO_RA} / 100.0, 6) + 0.0
           END AS ratio_usd_a""",
        f"""CASE WHEN coalesce(nb, 0) = 0 THEN NULL
                ELSE round({_RATIO_RB} / 100.0, 6) + 0.0
           END AS ratio_usd_b""",
        f"""CASE WHEN {_RATIO_GUARD} THEN NULL
                ELSE round(({_RATIO_RB} - {_RATIO_RA}) / 100.0, 6) + 0.0
           END AS diff_usd""",
        f"""CASE WHEN {_RATIO_GUARD} THEN NULL
                ELSE round({_RATIO_Z}, 6) + 0.0
           END AS z_stat""",
        f"""CASE WHEN {_RATIO_GUARD} THEN NULL
                ELSE abs({_RATIO_Z}) > 1.959964
           END AS significant""",
    )


RATIO_DELTA_SQL = f"""
WITH per_user AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2
           AS arm,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
),
agg AS (
  SELECT
    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ka,
    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kb,
    CAST(coalesce(sum(CASE WHEN arm = 0 THEN cents END), 0) AS BIGINT)
      AS sa,
    CAST(coalesce(sum(CASE WHEN arm = 1 THEN cents END), 0) AS BIGINT)
      AS sb,
    CAST(coalesce(sum(CASE WHEN arm = 0 THEN cnt END), 0) AS BIGINT)
      AS na,
    CAST(coalesce(sum(CASE WHEN arm = 1 THEN cnt END), 0) AS BIGINT)
      AS nb,
    CAST(coalesce(sum(CASE WHEN arm = 0 THEN
           CAST(cents AS DOUBLE) * CAST(cents AS DOUBLE) END), 0)
         AS DOUBLE) AS ssa,
    CAST(coalesce(sum(CASE WHEN arm = 1 THEN
           CAST(cents AS DOUBLE) * CAST(cents AS DOUBLE) END), 0)
         AS DOUBLE) AS ssb,
    CAST(coalesce(sum(CASE WHEN arm = 0 THEN
           CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE) END), 0)
         AS DOUBLE) AS nna,
    CAST(coalesce(sum(CASE WHEN arm = 1 THEN
           CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE) END), 0)
         AS DOUBLE) AS nnb,
    CAST(coalesce(sum(CASE WHEN arm = 0 THEN
           CAST(cents AS DOUBLE) * CAST(cnt AS DOUBLE) END), 0)
         AS DOUBLE) AS sna,
    CAST(coalesce(sum(CASE WHEN arm = 1 THEN
           CAST(cents AS DOUBLE) * CAST(cnt AS DOUBLE) END), 0)
         AS DOUBLE) AS snb
  FROM per_user
)
SELECT coalesce(ka, 0) AS n_users_a,
       coalesce(kb, 0) AS n_users_b,
       coalesce(na, 0) AS n_events_a,
       coalesce(nb, 0) AS n_events_b,
       CASE WHEN coalesce(na, 0) = 0 THEN NULL
            ELSE round({_RATIO_RA} / 100.0, 6) + 0.0
       END AS ratio_usd_a,
       CASE WHEN coalesce(nb, 0) = 0 THEN NULL
            ELSE round({_RATIO_RB} / 100.0, 6) + 0.0
       END AS ratio_usd_b,
       CASE WHEN {_RATIO_GUARD} THEN NULL
            ELSE round(({_RATIO_RB} - {_RATIO_RA}) / 100.0, 6) + 0.0
       END AS diff_usd,
       CASE WHEN {_RATIO_GUARD} THEN NULL
            ELSE round({_RATIO_Z}, 6) + 0.0
       END AS z_stat,
       CASE WHEN {_RATIO_GUARD} THEN NULL
            ELSE abs({_RATIO_Z}) > 1.959964
       END AS significant
FROM agg
"""


QUERIES["events_ratio_metric_delta"] = events_ratio_metric_delta
ORACLE["events_ratio_metric_delta"] = RATIO_DELTA_SQL


# --------------------------------------------------------------------------
# EWMA control chart over the daily order-count series (round 10):
# the classic small-shift process monitor (Roberts 1959; the chart a
# data-ingest SRE reads next to the CUSUM changepoint op — CUSUM
# localizes ONE level shift, the EWMA chart flags every day the
# smoothed level drifts outside +-L sigma control limits).  The
# statistic is the finite-memory normalized EWMA
#
#   s_t = sum_{l=0..W-1} (1-a)^l x_{t-l} / sum_{l=0..W-1} (1-a)^l
#
# (pandas ewm(adjust=True) over a truncated window — the truncation
# at W=40 days is part of the contract and identical on both
# engines; (1-a)^40 ~ 1.3e-4, so the chart statistic matches the
# infinite-memory EWMA to ~4 decimals while staying expressible as
# one bounded lag join).  Control limits use the asymptotic EWMA
# variance factor: mu +- L * sigma * sqrt(a / (2 - a)) with L = 3
# and (mu, sigma) the series' own moments.
#
# Scale shape: the corpus-sized work is the ONE daily rollup
# (calendar-bounded); the lag join explodes each day to its W
# forward targets and equi-joins on the target index — days x W
# rows, a constant fan-out on the CALENDAR, never the order count
# (the autocorrelation lag-join argument).  The day index comes from
# one unpartitioned row_number over the calendar-bounded rollup
# (allowlisted).  Counts and their squares stay exact int64 moments
# cast to DOUBLE before multiplying; weights are power(1-a, l) with
# the identical expression text on both engines, everything
# round(,6) on output with the control cut applied to the unrounded
# statistic.
# --------------------------------------------------------------------------
EWMA_ALPHA = 0.2
EWMA_W = 40  # truncation window, days
EWMA_L = 3.0  # control-limit width in sigmas

_EWMA_SIG = (
    "sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
    " / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))"
)
_EWMA_MU = "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
# literal trap: Spark parses bare 0.2 / 1.8 as DECIMAL and divides at
# decimal scale (losing ~1e-6) while DuckDB promotes to DOUBLE —
# force DOUBLE on both factors so both engines run the IEEE division
_EWMA_HALF = (
    f"({EWMA_L} * {_EWMA_SIG}"
    f" * sqrt(CAST({EWMA_ALPHA} AS DOUBLE)"
    f"        / CAST({2.0 - EWMA_ALPHA} AS DOUBLE)))"
)
_EWMA_GUARD = "n < 2"


def ewma_chart_from_daily(daily: DataFrame) -> DataFrame:
    """The chart math over a (d, c) daily-count frame — shared by the
    batch op and the streaming maintenance proof (the read-side
    presentation over the mergeable daily state)."""
    from stac_geoparquet_spark.operators._io import fenced

    # calendar-bounded input: the unpartitioned index window and the
    # x W lag explode both run on the daily rollup (allowlisted).
    # The indexed rollup is FENCED (calendar-bounded rows) for its
    # three consumers (lag source, join probe, moment reduce).  Without
    # it the final plan still scans orders once (exchange reuse), but
    # ewma_control_incremental ran slower in 3/3 interleaved pairs at
    # sf0.1 (0.877 -> 0.925 s), so the fence stays.
    idx = fenced(
        daily.withColumn(
            "t",
            F.row_number().over(Window.orderBy("d")).cast("bigint"),
        )
    )
    src = idx.select(
        F.col("t").alias("ti"),
        F.col("c").alias("x"),
        F.explode(F.expr(f"sequence(0, {EWMA_W - 1})")).alias("l"),
    ).select((F.col("ti") + F.col("l")).alias("t"), "x", "l")
    sm = (
        idx.join(src, "t")
        .groupBy("t", "d", "c")
        .agg(
            F.sum(
                F.col("x").cast("double")
                * F.pow(F.lit(1.0 - EWMA_ALPHA), F.col("l").cast("double"))
            ).alias("num"),
            F.sum(
                F.pow(F.lit(1.0 - EWMA_ALPHA), F.col("l").cast("double"))
            ).alias("den"),
        )
    )
    mom = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c").cast("double") * F.col("c").cast("double")).alias(
            "ss"
        ),
    )
    return (
        sm.join(F.broadcast(mom))
        .selectExpr(
            "d",
            "c AS daily_orders",
            "round(num / den, 6) AS ewma",
            f"""CASE WHEN {_EWMA_GUARD} THEN NULL
                    ELSE round({_EWMA_MU}, 6) END AS center""",
            f"""CASE WHEN {_EWMA_GUARD} THEN NULL
                    ELSE round({_EWMA_MU} + {_EWMA_HALF}, 6)
               END AS ucl""",
            f"""CASE WHEN {_EWMA_GUARD} THEN NULL
                    ELSE round({_EWMA_MU} - {_EWMA_HALF}, 6) + 0.0
               END AS lcl""",
            f"""CASE WHEN {_EWMA_GUARD} THEN NULL
                    ELSE num / den > {_EWMA_MU} + {_EWMA_HALF}
                         OR num / den < {_EWMA_MU} - {_EWMA_HALF}
               END AS out_of_control""",
        )
    )


EWMA_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
),
idx AS (
  SELECT d, c, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t
  FROM daily
),
src AS (
  SELECT t + l AS t, x, l FROM (
    SELECT t AS ti, c AS x, unnest(generate_series(0, {EWMA_W - 1})) AS l,
           t
    FROM idx
  ) u
),
sm AS (
  SELECT i.t, i.d, i.c,
         sum(CAST(s.x AS DOUBLE)
             * power({1.0 - EWMA_ALPHA}, CAST(s.l AS DOUBLE))) AS num,
         sum(power({1.0 - EWMA_ALPHA}, CAST(s.l AS DOUBLE))) AS den
  FROM idx i JOIN src s ON s.t = i.t
  GROUP BY i.t, i.d, i.c
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)) AS DOUBLE) AS ss
  FROM daily
)
SELECT d,
       c AS daily_orders,
       round(num / den, 6) AS ewma,
       CASE WHEN {_EWMA_GUARD} THEN NULL
            ELSE round({_EWMA_MU}, 6) END AS center,
       CASE WHEN {_EWMA_GUARD} THEN NULL
            ELSE round({_EWMA_MU} + {_EWMA_HALF}, 6)
       END AS ucl,
       CASE WHEN {_EWMA_GUARD} THEN NULL
            ELSE round({_EWMA_MU} - {_EWMA_HALF}, 6) + 0.0
       END AS lcl,
       CASE WHEN {_EWMA_GUARD} THEN NULL
            ELSE num / den > {_EWMA_MU} + {_EWMA_HALF}
                 OR num / den < {_EWMA_MU} - {_EWMA_HALF}
       END AS out_of_control
FROM sm CROSS JOIN mom
"""


def orders_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ewma_chart_from_daily(_daily_orders(spark, sf_dir))


QUERIES["orders_ewma_control"] = orders_ewma_control
ORACLE["orders_ewma_control"] = EWMA_SQL


# --------------------------------------------------------------------------
# Theil-Sen robust trend (round 10): the median of pairwise slopes
# (x_j - x_i) / (t_j - t_i) over the daily order-count series — the
# robust companion to supplier_leadtime_trend's OLS: a handful of
# outlier days (ingest hiccups, backfills) move the OLS slope
# arbitrarily but shift the pairwise-slope MEDIAN by at most their
# rank mass (29% breakdown point, Sen 1968).  Pairs are limited to
# lags 1..TS_MAX_LAG days (the windowed Theil-Sen variant for long
# series: slopes stay local to the trend, and the pair set is days x
# TS_MAX_LAG instead of days^2).  The OLS slope over the same series
# rides along for the robust-vs-LS contrast.
#
# Scale shape: the corpus-sized work is the ONE daily rollup
# (calendar-bounded; 100x the orders land in the same days); the
# pair set is a constant-fan-out lag explode + equi-join on the day
# index (the EWMA/autocorrelation scaffold), days x TS_MAX_LAG rows
# — a CALENDAR constant, independent of corpus size.  The median is
# row_number over that constant-bounded pair set (unpartitioned by
# necessity — selection needs a total order; the input is bounded by
# construction, pinned in tests/test_plans.py), taking the mean of
# the two middle order statistics.  Slopes are exact-int differences
# divided in doubles with identical expression text; OLS moments are
# exact int64 cast to DOUBLE before multiplying (house rule).
# --------------------------------------------------------------------------
TS_MAX_LAG = 90

_TS_OLS = (
    "((CAST(n AS DOUBLE) * stx - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * stt"
    "    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)))"
)


def orders_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators._io import fenced

    daily = _daily_orders(spark, sf_dir)
    # fence the calendar-bounded indexed rollup: four consumers (lag
    # source, join probe, pair count, OLS moments) re-run the corpus
    # rollup otherwise (the no-CSE trap)
    idx = fenced(
        daily.withColumn(
            "t", F.row_number().over(Window.orderBy("d")).cast("bigint")
        ).select("t", "c")
    )
    src = idx.select(
        F.col("t").alias("ti"),
        F.col("c").alias("xi"),
        F.explode(F.expr(f"sequence(1, {TS_MAX_LAG})")).alias("l"),
    ).select((F.col("ti") + F.col("l")).alias("t"), "xi", "l")
    pairs = idx.join(src, "t").select(
        (
            (F.col("c") - F.col("xi")).cast("double")
            / F.col("l").cast("double")
        ).alias("slope")
    )
    npairs = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    ranked = pairs.join(F.broadcast(npairs)).withColumn(
        "r", F.row_number().over(Window.orderBy("slope")).cast("bigint")
    )
    med = (
        # integer selection indexes: `div` (truncating int division,
        # == DuckDB // on the positive counts here) — Spark's `/` is
        # DOUBLE division and a .5 index would match nothing
        ranked.where(
            (F.col("r") == F.expr("(n_pairs + 1) div 2"))
            | (F.col("r") == F.expr("(n_pairs + 2) div 2"))
        )
        .agg(F.avg("slope").alias("ts_raw"))
    )
    mom = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("c").cast("bigint").alias("sx"),
        F.sum(F.col("t").cast("double") * F.col("c").cast("double")).alias(
            "stx"
        ),
        F.sum(F.col("t").cast("double") * F.col("t").cast("double")).alias(
            "stt"
        ),
    )
    return (
        med.join(F.broadcast(npairs))
        .join(F.broadcast(mom))
        .selectExpr(
            "n AS n_days",
            "n_pairs",
            "round(ts_raw, 6) + 0.0 AS ts_slope",
            f"""CASE WHEN n < 2 THEN NULL
                    ELSE round({_TS_OLS}, 6) + 0.0 END AS ols_slope""",
        )
    )


THEIL_SEN_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
),
idx AS (
  SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, c FROM daily
),
src AS (
  SELECT ti + l AS t, xi, l FROM (
    SELECT t AS ti, c AS xi,
           unnest(generate_series(1, {TS_MAX_LAG})) AS l
    FROM idx
  ) u
),
pairs AS (
  SELECT CAST(i.c - s.xi AS DOUBLE) / CAST(s.l AS DOUBLE) AS slope
  FROM idx i JOIN src s ON s.t = i.t
),
np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs),
ranked AS (
  SELECT slope, n_pairs,
         CAST(row_number() OVER (ORDER BY slope) AS BIGINT) AS r
  FROM pairs CROSS JOIN np
),
med AS (
  SELECT avg(slope) AS ts_raw FROM ranked
  WHERE r = (n_pairs + 1) // 2 OR r = (n_pairs + 2) // 2
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t) AS BIGINT) AS st,
         CAST(sum(c) AS BIGINT) AS sx,
         CAST(sum(CAST(t AS DOUBLE) * CAST(c AS DOUBLE)) AS DOUBLE) AS stx,
         CAST(sum(CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) AS DOUBLE) AS stt
  FROM idx
)
SELECT n AS n_days,
       n_pairs,
       round(ts_raw, 6) + 0.0 AS ts_slope,
       CASE WHEN n < 2 THEN NULL
            ELSE round({_TS_OLS}, 6) + 0.0 END AS ols_slope
FROM med CROSS JOIN np CROSS JOIN mom
"""


QUERIES["orders_theil_sen_trend"] = orders_theil_sen_trend
ORACLE["orders_theil_sen_trend"] = THEIL_SEN_SQL


# --------------------------------------------------------------------------
# Deterministic Poisson-bootstrap CI (round 10): a percentile-
# bootstrap confidence interval for mean per-user total value — the
# nonparametric uncertainty readout that needs NO variance formula
# (the check a metrics platform runs next to the delta-method and
# jackknife numbers; for skewed per-user value the percentile CI is
# the defensible one).  Poisson bootstrap (Chamandy et al., Google
# 2012): each user enters replicate b with weight w ~ Poisson(1),
# approximating multinomial resampling without coordinating a global
# N — THE bootstrap that distributes, since weights are generated
# row-locally.
#
# Determinism contract: the Poisson draw is the inverse CDF applied
# to a HASH uniform u = md5(user_id || ':' || b) first-12-hex /
# 2^48 — the md5-parity convention of the arm splits, so both
# engines draw the IDENTICAL weight for every (user, replicate) and
# the oracle reproduces the CI bit-for-bit (weights capped at 6;
# P(w > 6) < 1e-4 is folded into w = 6, stated in the CDF chain).
#
# Scale shape: ONE user-keyed aggregate (exact int64 cents), then a
# B-way generate-explode whose per-replicate sums map-side combine —
# the shuffle carries <= B rows per task, and the replicate table is
# B = 200 rows end-to-end; the CI is two order statistics of those
# 200 exact-ratio doubles (row_number over a 200-row constant input).
# Σw·cents stays exact int64 (w <= 6); each replicate mean is one
# int64/int64 double division, identical on both engines.
# --------------------------------------------------------------------------
BOOT_B = 200
_BOOT_CDF = (
    ("0.36787944117144233", 0),
    ("0.7357588823428847", 1),
    ("0.9196986029286058", 2),
    ("0.9810118431238463", 3),
    ("0.9963401531726563", 4),
    ("0.9994058151824183", 5),
)
_BOOT_K_LO = int(0.025 * BOOT_B)  # 5  -> 2.5th percentile rank
_BOOT_K_HI = BOOT_B + 1 - _BOOT_K_LO  # 196 -> 97.5th


def _boot_w_expr(u: str) -> str:
    """Shared CASE chain: inverse Poisson(1) CDF on uniform ``u``."""
    chain = " ".join(
        f"WHEN {u} < {t} THEN {w}" for t, w in _BOOT_CDF
    )
    return f"(CASE {chain} ELSE 6 END)"


def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("row_cents"),
        )
        .groupBy("user_id")
        .agg(F.sum("row_cents").alias("cents"))
    )
    reps = per_user.select(
        "user_id",
        "cents",
        F.explode(F.expr(f"sequence(1, {BOOT_B})")).alias("b"),
    ).selectExpr(
        "b",
        "cents",
        "CAST(conv(substring(md5(concat(CAST(user_id AS STRING), ':',"
        " CAST(b AS STRING))), 1, 12), 16, 10) AS BIGINT)"
        " / 281474976710656.0 AS u",
    )
    means = (
        reps.selectExpr("b", "cents", f"{_boot_w_expr('u')} AS w")
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).cast("bigint").alias("ws"),
            F.sum("w").cast("bigint").alias("wn"),
        )
        .where(F.col("wn") > 0)
        .selectExpr(
            "b",
            "CAST(ws AS DOUBLE) / CAST(wn AS DOUBLE) / 100.0 AS m",
        )
    )
    # r11: the rep count rides an unpartitioned window over the B-row
    # replicate means (B = 200, bounded) instead of the r10 fence +
    # 1-row aggregate + broadcast join — means then has ONE consumer,
    # so the xB explode still runs once but the fence's construction-
    # time localCheckpoint job and the per-call broadcast disappear
    # (the classifier_lift_gains move; results identical)
    ranked = means.withColumn(
        "n_reps",
        F.count(F.lit(1))
        .over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("bigint"),
    ).withColumn(
        "r", F.row_number().over(Window.orderBy("m", "b")).cast("bigint")
    )
    ci = (
        ranked.selectExpr(
            "n_reps",
            f"CASE WHEN r = least({_BOOT_K_LO}, n_reps) THEN m END AS lo",
            f"CASE WHEN r = least({_BOOT_K_HI}, n_reps) THEN m END AS hi",
        )
        .groupBy("n_reps")
        .agg(F.max("lo").alias("lo"), F.max("hi").alias("hi"))
    )
    point = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    return (
        point.join(F.broadcast(ci), how="left")
        .selectExpr(
            "n_users",
            """CASE WHEN n_users = 0 THEN NULL
                    ELSE round(CAST(s AS DOUBLE) / CAST(n_users AS DOUBLE)
                               / 100.0, 6) + 0.0 END AS mean_usd""",
            "coalesce(n_reps, 0) AS n_reps",
            "round(lo, 6) + 0.0 AS ci_lo_usd",
            "round(hi, 6) + 0.0 AS ci_hi_usd",
        )
    )


BOOT_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
),
reps AS (
  SELECT b, cents,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':'
                             || CAST(b AS VARCHAR)), 1, 12))::BIGINT
           / 281474976710656.0 AS u
  FROM per_user CROSS JOIN (
    SELECT unnest(generate_series(1, {BOOT_B})) AS b
  ) bs
),
means AS (
  SELECT b,
         CAST(CAST(sum(w * cents) AS BIGINT) AS DOUBLE)
           / CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) / 100.0 AS m
  FROM (SELECT b, cents, {_boot_w_expr('u')} AS w FROM reps) t
  GROUP BY b
  HAVING CAST(sum(w) AS BIGINT) > 0
),
nreps AS (SELECT CAST(count(*) AS BIGINT) AS n_reps FROM means),
ranked AS (
  SELECT m, n_reps,
         CAST(row_number() OVER (ORDER BY m, b) AS BIGINT) AS r
  FROM means CROSS JOIN nreps
),
ci AS (
  SELECT n_reps,
         max(CASE WHEN r = least({_BOOT_K_LO}, n_reps) THEN m END) AS lo,
         max(CASE WHEN r = least({_BOOT_K_HI}, n_reps) THEN m END) AS hi
  FROM ranked
  GROUP BY n_reps
),
point AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(coalesce(sum(cents), 0) AS BIGINT) AS s
  FROM per_user
)
SELECT n_users,
       CASE WHEN n_users = 0 THEN NULL
            ELSE round(CAST(s AS DOUBLE) / CAST(n_users AS DOUBLE)
                       / 100.0, 6) + 0.0 END AS mean_usd,
       coalesce(n_reps, 0) AS n_reps,
       round(lo, 6) + 0.0 AS ci_lo_usd,
       round(hi, 6) + 0.0 AS ci_hi_usd
FROM point LEFT JOIN ci ON TRUE
"""


QUERIES["events_bootstrap_ci"] = events_bootstrap_ci
ORACLE["events_bootstrap_ci"] = BOOT_SQL


# --------------------------------------------------------------------------
# Classical seasonal decomposition (round 10): daily order count =
# trend + seasonal + remainder — the additive moving-average
# decomposition (the deterministic core of STL without loess) that
# turns the seasonality/anomaly screens into an actual series split:
# trend_t is the CENTERED 7-day moving average (defined only where
# all 7 calendar days exist — edges and gaps carry NULL), the
# seasonal component is the day-of-week mean of the detrended series
# re-centered to sum to zero (the classical normalization), and the
# remainder is what anomaly monitors should actually score.
#
# Day-of-week is epoch-anchored integer arithmetic on BOTH engines
# (floor-mod of the day difference from a fixed Monday — calendar
# dayofweek() numbering differs across engines), and the centered
# window joins on CALENDAR dates (date + offset), so a missing day
# NULLs the trend instead of silently shortening the window.
#
# Scale shape: the corpus-sized work is the ONE daily rollup
# (calendar-bounded; its four consumers — window source, join probe,
# DOW means, output — read one shuffle through exchange reuse, pinned
# on the final plan in tests/test_plans.py); the centered MA
# is the x7 constant lag explode + date equi-join; the seasonal
# table is a bounded 7-row aggregate broadcast back.  Counts are
# exact int64; trend = sum7/7.0 and each mean is one fixed-shape
# double expression, round(,6) + 0.0 on the signed outputs.
# --------------------------------------------------------------------------
STL_EPOCH = "1995-01-02"  # a Monday: dow 0 = Monday on both engines


def orders_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_orders(spark, sf_dir).withColumn(
        "dow",
        F.expr(f"((datediff(d, DATE '{STL_EPOCH}') % 7) + 7) % 7").cast(
            "bigint"
        ),
    )
    src = daily.select(
        F.col("d").alias("ds"),
        F.col("c").alias("x"),
        F.explode(F.expr("sequence(-3, 3)")).alias("l"),
    ).select(F.expr("date_add(ds, l)").alias("d"), "x")
    ma = src.groupBy("d").agg(
        F.count(F.lit(1)).alias("cnt7"),
        F.sum("x").cast("bigint").alias("sum7"),
    )
    base = daily.join(ma, "d").withColumn(
        "trend",
        F.when(
            F.col("cnt7") == 7, F.col("sum7").cast("double") / F.lit(7.0)
        ),
    )
    sdow = base.where(F.col("trend").isNotNull()).groupBy("dow").agg(
        F.avg(F.col("c").cast("double") - F.col("trend")).alias("s_raw")
    )
    # r11: the centering mean rides an unpartitioned window over the
    # 7-row DOW table instead of the r10 fence + 1-row aggregate +
    # broadcast join (classifier_lift_gains move; seas has one
    # consumer)
    seas = sdow.select(
        "dow",
        (
            F.col("s_raw")
            - F.avg("s_raw").over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
        ).alias("seasonal_raw"),
    )
    return (
        base.join(F.broadcast(seas), "dow", "left")
        .selectExpr(
            "d",
            "c AS daily_orders",
            "round(trend, 6) AS trend",
            "round(seasonal_raw, 6) + 0.0 AS seasonal",
            """CASE WHEN trend IS NULL OR seasonal_raw IS NULL THEN NULL
                    ELSE round(CAST(c AS DOUBLE) - trend - seasonal_raw, 6)
                         + 0.0 END AS remainder""",
        )
    )


STL_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS c,
         CAST(((CAST(CAST(o_orderdate AS DATE)
                     - DATE '{STL_EPOCH}' AS BIGINT) % 7) + 7) % 7
              AS BIGINT) AS dow
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 3
),
src AS (
  SELECT ds + CAST(l AS INTEGER) AS d, x FROM (
    SELECT d AS ds, c AS x, unnest(generate_series(-3, 3)) AS l
    FROM daily
  ) u
),
ma AS (
  SELECT d, count(*) AS cnt7, CAST(sum(x) AS BIGINT) AS sum7
  FROM src GROUP BY d
),
base AS (
  SELECT daily.d, daily.c, daily.dow,
         CASE WHEN cnt7 = 7 THEN CAST(sum7 AS DOUBLE) / 7.0 END AS trend
  FROM daily JOIN ma ON ma.d = daily.d
),
sdow AS (
  SELECT dow, avg(CAST(c AS DOUBLE) - trend) AS s_raw
  FROM base WHERE trend IS NOT NULL GROUP BY dow
),
scent AS (SELECT avg(s_raw) AS s_mean FROM sdow),
seas AS (
  SELECT dow, s_raw - s_mean AS seasonal_raw FROM sdow CROSS JOIN scent
)
SELECT b.d,
       b.c AS daily_orders,
       round(trend, 6) AS trend,
       round(seasonal_raw, 6) + 0.0 AS seasonal,
       CASE WHEN trend IS NULL OR seasonal_raw IS NULL THEN NULL
            ELSE round(CAST(b.c AS DOUBLE) - trend - seasonal_raw, 6)
                 + 0.0 END AS remainder
FROM base b LEFT JOIN seas ON seas.dow = b.dow
"""


QUERIES["orders_stl_decompose"] = orders_stl_decompose
ORACLE["orders_stl_decompose"] = STL_SQL

"""Event-sequence analytics over the ``events`` table — funnel and
cohort-retention, the two aggregate shapes every large-scale event
pipeline runs (alongside the sessionization in streaming/events.py).
The reference has no event constructs at all (SURVEY §2.7); these are
part of the beyond-reference surface and follow the same rule as every
other operator: single-pass, partial-aggregable, exactly oracle-checked.

Scale shape for both: ONE scan of events, ONE groupBy on user_id (the
natural partition key — any per-user sequence logic colocates), then a
tiny second aggregate over per-user rows. No self-joins per stage (the
naive funnel joins events to events once per step — k scans and k-1
shuffles of the fact table; the conditional-min formulation below does
k=3 stages in one pass), no window over the raw event log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from stac_geoparquet_spark.operators._io import read_table

FUNNEL_STAGES = ("view", "click", "purchase")


def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (earliest-completion definition): per user, take
    the global earliest event time of each stage and count stage k as
    reached only when every earlier stage's earliest time strictly
    precedes it (t_view < min-click < min-purchase). A user whose only
    pre-view click is followed by a later post-view click is NOT
    counted at stage 2 — that is the chained-min semantics both the
    implementation and the oracle share, chosen because it needs one
    conditional aggregation instead of a per-stage self-join.

    Per-user stage times fall out of one conditional aggregation:
    t_view = min(ts | view); the "after" chaining is applied in the
    outer projection (stage k counts only if its min-ts exists and
    every earlier stage completed before it). This is exact for the
    earliest-completion funnel definition and needs no per-stage
    self-join.
    """
    ev = read_table(spark, sf_dir, "events")
    per_user = (
        ev.where(F.col("event_type").isin(*FUNNEL_STAGES))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
                "t_view"
            ),
            *[
                F.min(
                    F.when(F.col("event_type") == stage, F.col("ts"))
                ).alias(f"t_{stage}_any")
                for stage in ("click", "purchase")
            ],
        )
    )
    # chained completion: a later stage only counts if it happened
    # strictly after every earlier completed stage
    staged = per_user.selectExpr(
        "user_id",
        "coalesce(t_view IS NOT NULL, false) AS s1",
        "coalesce(t_view IS NOT NULL AND t_click_any > t_view, false) AS s2",
        "coalesce(t_view IS NOT NULL AND t_click_any > t_view"
        " AND t_purchase_any > t_click_any, false) AS s3",
    )
    # the funnel is a FIXED three-stage report: its rows exist even
    # when no user reached any stage (degenerate/filtered event
    # streams), so the counts come from ONE global aggregate (which
    # always emits a row) and stack() fans it into stage rows —
    # mirroring the oracle's coalesced global sums (single-row probe
    # finding: the previous groupBy-after-stack shape emitted ZERO
    # rows when `staged` was empty while the oracle kept its 3)
    totals = staged.agg(
        F.coalesce(F.sum(F.col("s1").cast("bigint")), F.lit(0)).alias("u1"),
        F.coalesce(F.sum(F.col("s2").cast("bigint")), F.lit(0)).alias("u2"),
        F.coalesce(F.sum(F.col("s3").cast("bigint")), F.lit(0)).alias("u3"),
    )
    return totals.selectExpr(
        "stack(3,"
        " 1, 'view', u1,"
        " 2, 'click', u2,"
        " 3, 'purchase', u3"
        ") AS (stage, stage_name, users)"
    )


FUNNEL_SQL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click_any,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase_any
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
  GROUP BY user_id
),
staged AS (
  SELECT user_id,
         (t_view IS NOT NULL) AS s1,
         (t_view IS NOT NULL AND t_click_any > t_view) AS s2,
         (t_view IS NOT NULL AND t_click_any > t_view
          AND t_purchase_any > t_click_any) AS s3
  FROM per_user
)
SELECT stage, stage_name, users FROM (
  SELECT 1 AS stage, 'view' AS stage_name, CAST(coalesce(sum(CASE WHEN s1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS users FROM staged
  UNION ALL
  SELECT 2, 'click', CAST(coalesce(sum(CASE WHEN s2 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM staged
  UNION ALL
  SELECT 3, 'purchase', CAST(coalesce(sum(CASE WHEN s3 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM staged
) t
"""


def retention_weekly_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention: users grouped by the week of their
    first event (cohort); for each (cohort_week, week_offset), how many
    of them were active. The FACT table shuffles once — into the
    per-(user, week) compaction — and every later exchange moves only
    the compacted (user, week) rows: the first-week window re-hashes
    them on user_id (hashpartitioning(user_id, week) does not satisfy
    a user_id-only window) and the cohort rollup re-keys the survivors
    once more. Three exchanges total, one fact-sized."""
    ev = read_table(spark, sf_dir, "events")
    weekly = (
        ev.select(
            "user_id",
            F.floor(F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / 7)
            .cast("bigint")
            .alias("week"),
        )
        .groupBy("user_id", "week")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w = F.min("week").over(Window.partitionBy("user_id"))
    cohorted = weekly.select("user_id", "week", w.alias("cohort_week"))
    return (
        cohorted.groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


RETENTION_SQL = """
WITH weekly AS (
  SELECT DISTINCT user_id,
         CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week
  FROM events
),
cohorted AS (
  SELECT user_id, week,
         min(week) OVER (PARTITION BY user_id) AS cohort_week
  FROM weekly
)
SELECT cohort_week, week - cohort_week AS week_offset,
       count(*) AS active_users
FROM cohorted
GROUP BY cohort_week, week - cohort_week
"""


KM_CENSOR_HOURS = 12  # last event within this window of the horizon => censored
_KM_HOUR_US = 3_600_000_000  # microseconds per hour


def user_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival over user lifetimes — the churn/retention
    curve (S(t) = P[user still active after t hours]) with right
    censoring: a user whose LAST event falls within KM_CENSOR_HOURS of
    the corpus horizon is censored (still alive at observation end),
    everyone else "dies" at their last event.  Standard product-limit
    estimator: S(t) = prod_{t_i <= t} (1 - d_i / n_i).

    Scale shape: ONE groupBy(user_id) over the raw event multiset
    (min/max are duplicate-delivery-insensitive, the sketch-family raw
    read convention) compacts the corpus to per-user rows; the
    lifetime rollup re-keys those onto HOUR-quantized durations, so the
    KM table is bounded by the CALENDAR span in hours — the two
    unpartitioned cumulative windows (at-risk countdown, log-survival
    prefix sum) run over that bounded spine, never the corpus (the
    gap-fill/anomaly precedent).  The horizon is an in-engine broadcast
    scalar, not a collect.

    Time arithmetic: exact MICROSECOND diffs (timestampdiff /
    date_diff('microsecond'), the house NTZ convention — never
    unix_timestamp), quantized to hours by floor(us / 3.6e9); the
    division is exact in a double for spans below 2^53 us (~285
    years), and the censor test compares raw integer microseconds.

    Floats: d_i/n_i are exact int ratios; the cumulative product runs
    as exp(prefix-sum of ln terms) in the DETERMINISTIC t-order, so
    both engines add the same doubles in the same order — the only
    cross-engine exposure is ln/exp itself (libm), nine orders below
    the round(,6) output quantum (the accepted convention).  The
    everyone-dies edge (d = n at the tail) is an exact-zero survival
    on both engines via the flag column, never ln(0)."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("fts"),
        F.max("ts").alias("lts"),
    )
    horizon = ev.agg(F.max("ts").alias("hz"))
    life_us = F.expr("timestampdiff(MICROSECOND, fts, lts)")
    gap_us = F.expr("timestampdiff(MICROSECOND, lts, hz)")
    lab = per_user.join(F.broadcast(horizon)).select(
        F.floor(life_us / F.lit(float(_KM_HOUR_US)))
        .cast("bigint")
        .alias("t_hour"),
        F.when(gap_us <= KM_CENSOR_HOURS * _KM_HOUR_US, 1)
        .otherwise(0)
        .alias("censored"),
    )
    byday = lab.groupBy("t_hour").agg(
        F.sum(1 - F.col("censored")).alias("d"),
        F.sum("censored").alias("c"),
    )
    tot = lab.agg(F.count(F.lit(1)).alias("n"))
    w_prev = Window.orderBy("t_hour").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("t_hour").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = byday.join(F.broadcast(tot)).select(
        "t_hour",
        "d",
        "c",
        (
            F.col("n")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)
            )
        ).alias("n_risk"),
    )
    zflag = F.max(
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    ).over(w_cum)
    lnterm = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(
            F.lit(1.0)
            - F.col("d").cast("double") / F.col("n_risk").cast("double")
        ),
    )
    km = risk.select(
        "t_hour",
        "d",
        "c",
        "n_risk",
        zflag.alias("zflag"),
        F.sum(lnterm).over(w_cum).alias("lnsum"),
    )
    return km.select(
        "t_hour",
        F.col("n_risk").alias("n_at_risk"),
        F.col("d").alias("n_deaths"),
        F.col("c").alias("n_censored"),
        F.when(F.col("zflag") == 1, F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.coalesce(F.col("lnsum"), F.lit(0.0))), 6)
        )
        .alias("survival"),
    )


SURVIVAL_KM_SQL = f"""
WITH ev AS (
  SELECT user_id, ts FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
per_user AS (
  SELECT user_id, min(ts) AS fts, max(ts) AS lts
  FROM ev GROUP BY user_id
),
h AS (SELECT max(ts) AS hz FROM ev),
lab AS (
  SELECT CAST(floor(CAST(date_diff('microsecond', fts, lts) AS DOUBLE)
                    / {float(_KM_HOUR_US)}) AS BIGINT) AS t_hour,
         CASE WHEN date_diff('microsecond', lts, hz)
                   <= {KM_CENSOR_HOURS * _KM_HOUR_US}
              THEN 1 ELSE 0 END AS censored
  FROM per_user CROSS JOIN h
),
byday AS (
  SELECT t_hour,
         CAST(sum(1 - censored) AS BIGINT) AS d,
         CAST(sum(censored) AS BIGINT) AS c
  FROM lab GROUP BY t_hour
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lab),
risk AS (
  SELECT t_hour, d, c,
         n - coalesce(sum(d + c) OVER (ORDER BY t_hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM byday CROSS JOIN tot
),
km AS (
  SELECT t_hour, d, c, n_risk,
         max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY t_hour
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zflag,
         sum(CASE WHEN d < n_risk
                  THEN ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
             END)
           OVER (ORDER BY t_hour
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum
  FROM risk
)
SELECT t_hour,
       CAST(n_risk AS BIGINT) AS n_at_risk,
       d AS n_deaths,
       c AS n_censored,
       CASE WHEN zflag = 1 THEN 0.0
            ELSE round(exp(coalesce(lnsum, 0.0)), 6) END AS survival
FROM km
"""


QUERIES = {
    "funnel_view_click_purchase": funnel_view_click_purchase,
    "retention_weekly_cohorts": retention_weekly_cohorts,
    "user_survival_km": user_survival_km,
}

ORACLE = {
    "funnel_view_click_purchase": FUNNEL_SQL,
    "retention_weekly_cohorts": RETENTION_SQL,
    "user_survival_km": SURVIVAL_KM_SQL,
}


# --------------------------------------------------------------------------
# Time-bounded sequential funnel (round 9): the TRUE ordered-funnel
# semantics product analytics means by "conversion" — the first click
# STRICTLY AFTER the user's first view and within CLICK_WINDOW of it,
# then the first purchase strictly after that click and within
# PURCHASE_WINDOW — unlike funnel_view_click_purchase's
# earliest-completion chain (global stage minima), which counts a
# user whose qualifying click came hours later.  The two definitions
# bracket real funnels; pipelines report both.
#
# Scale shape: three pushed-filter scans of the events table (one per
# stage alphabet value), each stage joining the previous stage's
# per-user anchor on the SCALING user key and taking one keyed min —
# no windows anywhere.  The per-user stage table is FENCED
# (user-bounded, one consumer row set but three count columns), then
# ONE aggregate + a stack() projection emits the three fixed stage
# rows (fixed-stage reports always emit their rows — the empty-input
# contract of funnel_view_click_purchase).  Timestamps compare as
# exact microseconds; rates are single divisions, round(,6).
# --------------------------------------------------------------------------
CLICK_WINDOW = "1 hour"  # first qualifying click within 1h of first view
PURCHASE_WINDOW = "24 hours"  # purchase within 24h of that click


def funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.expr(f"t_view + INTERVAL {CLICK_WINDOW}"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("ts") > F.col("t_click"))
            & (
                F.col("ts")
                <= F.expr(f"t_click + INTERVAL {PURCHASE_WINDOW}")
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    # No fence here: this per-user stage table is O(users) — the
    # SCALING key — and has exactly ONE downstream consumer (the
    # single aggregate below), so materializing it buys zero reuse
    # while costing a corpus-scaled localCheckpoint (r07 ADVICE).
    stages = v.join(c, "user_id", "left").join(p, "user_id", "left")
    counts = stages.agg(
        F.count("t_view").alias("nv"),
        F.count("t_click").alias("nc"),
        F.count("t_purchase").alias("np"),
    )
    return counts.selectExpr(
        """stack(3,
             'view', nv, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             'click_1h', nc,
             CASE WHEN nv = 0 THEN NULL
                  ELSE round(CAST(nc AS DOUBLE) / CAST(nv AS DOUBLE), 6)
             END,
             CASE WHEN nv = 0 THEN NULL
                  ELSE round(CAST(nc AS DOUBLE) / CAST(nv AS DOUBLE), 6)
             END,
             'purchase_24h', np,
             CASE WHEN nc = 0 THEN NULL
                  ELSE round(CAST(np AS DOUBLE) / CAST(nc AS DOUBLE), 6)
             END,
             CASE WHEN nv = 0 THEN NULL
                  ELSE round(CAST(np AS DOUBLE) / CAST(nv AS DOUBLE), 6)
             END
           ) AS (stage, n_users, rate_vs_prev, rate_vs_first)"""
    )


FUNNEL_TIME_BOUNDED_SQL = """
WITH ev AS (
  SELECT user_id, ts, event_type FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
v AS (
  SELECT user_id, min(ts) AS t_view FROM ev
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM ev e JOIN v USING (user_id)
  WHERE e.event_type = 'click'
    AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 1 HOUR
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM ev e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.ts > c.t_click AND e.ts <= c.t_click + INTERVAL 24 HOURS
  GROUP BY e.user_id
),
counts AS (
  SELECT CAST(count(t_view) AS BIGINT) AS nv,
         CAST(count(t_click) AS BIGINT) AS nc,
         CAST(count(t_purchase) AS BIGINT) AS np
  FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
)
SELECT 'view' AS stage, nv AS n_users,
       CAST(NULL AS DOUBLE) AS rate_vs_prev,
       CAST(NULL AS DOUBLE) AS rate_vs_first
FROM counts
UNION ALL
SELECT 'click_1h', nc,
       CASE WHEN nv = 0 THEN NULL
            ELSE round(CAST(nc AS DOUBLE) / CAST(nv AS DOUBLE), 6) END,
       CASE WHEN nv = 0 THEN NULL
            ELSE round(CAST(nc AS DOUBLE) / CAST(nv AS DOUBLE), 6) END
FROM counts
UNION ALL
SELECT 'purchase_24h', np,
       CASE WHEN nc = 0 THEN NULL
            ELSE round(CAST(np AS DOUBLE) / CAST(nc AS DOUBLE), 6) END,
       CASE WHEN nv = 0 THEN NULL
            ELSE round(CAST(np AS DOUBLE) / CAST(nv AS DOUBLE), 6) END
FROM counts
"""


QUERIES["funnel_time_bounded"] = funnel_time_bounded
ORACLE["funnel_time_bounded"] = FUNNEL_TIME_BOUNDED_SQL


# --------------------------------------------------------------------------
# Experiment-segmented funnel (round 9): the time-bounded sequential
# funnel split by the deterministic md5-parity A/B arm (the
# events_ab_ztest split) — the per-stage readout an experimenter
# reads NEXT after the z-test says "different": WHICH stage moved.
# Same stage semantics as funnel_time_bounded; the arm rides the user
# key through every stage join, so the whole chain still shuffles
# only on the scaling user id and the final aggregate groups on the
# 2-value arm (bounded key is fine for groupBy — partials combine).
# Rates are single divisions of exact counts, round(,6); both arms'
# rows always appear when the arm has any viewer (fixed-shape report
# per populated arm).
# --------------------------------------------------------------------------
def funnel_by_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .withColumn(
            "arm",
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
                    16,
                    10,
                ).cast("bigint")
                % 2
            ),
        )
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v.select("user_id", "t_view"), "user_id")
        .where(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.expr(f"t_view + INTERVAL {CLICK_WINDOW}"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("ts") > F.col("t_click"))
            & (
                F.col("ts")
                <= F.expr(f"t_click + INTERVAL {PURCHASE_WINDOW}")
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    # No fence here: this per-user stage table is O(users) — the
    # SCALING key — and has exactly ONE downstream consumer (the
    # single aggregate below), so materializing it buys zero reuse
    # while costing a corpus-scaled localCheckpoint (r07 ADVICE).
    stages = v.join(c, "user_id", "left").join(p, "user_id", "left")
    counts = stages.groupBy("arm").agg(
        F.count("t_view").alias("nv"),
        F.count("t_click").alias("nc"),
        F.count("t_purchase").alias("np"),
    )
    return counts.selectExpr(
        "arm",
        "nv AS n_view",
        "nc AS n_click_1h",
        "np AS n_purchase_24h",
        """CASE WHEN nv = 0 THEN NULL
            ELSE round(CAST(nc AS DOUBLE) / CAST(nv AS DOUBLE), 6)
       END AS click_rate""",
        """CASE WHEN nc = 0 THEN NULL
            ELSE round(CAST(np AS DOUBLE) / CAST(nc AS DOUBLE), 6)
       END AS purchase_rate""",
        """CASE WHEN nv = 0 THEN NULL
            ELSE round(CAST(np AS DOUBLE) / CAST(nv AS DOUBLE), 6)
       END AS full_rate""",
    )


FUNNEL_BY_ARM_SQL = """
WITH ev AS (
  SELECT user_id, ts, event_type FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
v AS (
  SELECT user_id, min(ts) AS t_view,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2
           AS arm
  FROM ev WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM ev e JOIN v USING (user_id)
  WHERE e.event_type = 'click'
    AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 1 HOUR
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM ev e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.ts > c.t_click AND e.ts <= c.t_click + INTERVAL 24 HOURS
  GROUP BY e.user_id
),
counts AS (
  SELECT arm,
         CAST(count(t_view) AS BIGINT) AS nv,
         CAST(count(t_click) AS BIGINT) AS nc,
         CAST(count(t_purchase) AS BIGINT) AS np
  FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
  GROUP BY arm
)
SELECT arm, nv AS n_view, nc AS n_click_1h, np AS n_purchase_24h,
       CASE WHEN nv = 0 THEN NULL
            ELSE round(CAST(nc AS DOUBLE) / CAST(nv AS DOUBLE), 6)
       END AS click_rate,
       CASE WHEN nc = 0 THEN NULL
            ELSE round(CAST(np AS DOUBLE) / CAST(nc AS DOUBLE), 6)
       END AS purchase_rate,
       CASE WHEN nv = 0 THEN NULL
            ELSE round(CAST(np AS DOUBLE) / CAST(nv AS DOUBLE), 6)
       END AS full_rate
FROM counts
"""


QUERIES["funnel_by_arm"] = funnel_by_arm
ORACLE["funnel_by_arm"] = FUNNEL_BY_ARM_SQL

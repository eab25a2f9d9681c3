"""Pattern-mining + usage-analytics operators — round 7.

The association / concentration / engagement families a training-data
curation stack runs NEXT TO the relational surface: market-basket pair
mining (which items co-occur — the same shape as co-occurrence matrix
builds for embedding pretraining), per-entity inter-event gap profiles,
PMI association between event types, DAU/WAU engagement stickiness,
and Pareto revenue concentration.  The reference has no analytics
surface at all (it is a STAC conversion library, SURVEY §1); these are
the engine-side extensions SURVEY §2.7 groups under the relational
surface.

Scale notes (100 TB):
- every operator here is groupBy/join on SCALING keys (orderkey,
  custkey, user_id, day) — no bounded-cardinality windows, no
  cartesian products, no data-sized driver collects;
- the self-joins (basket pairs, type co-occurrence) are within-group
  joins whose per-group fan-out is bounded by basket size / the event-
  type alphabet, not by the corpus;
- floats: counts stay int64 end-to-end; each output ratio is ONE
  division (or one ln of an int ratio) of exact ints followed by
  round(,6) — no float merge-order exposure (sums are int sums).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._io import read_table

from stac_geoparquet_spark.caches import session_memo


MIN_SUPPORT = 2  # basket pairs: min co-occurrence count
PARETO_CUTS = ((0.99, "top_1pct"), (0.95, "top_5pct"), (0.90, "top_10pct"))


# --------------------------------------------------------------------------
# Market-basket pair mining: which part pairs co-occur in orders, with
# support and lift — the A-priori-style first pass (pair counting) that
# also underlies co-occurrence matrix builds.  Baskets are DISTINCT
# (order, part) pairs; the pair generation is a self-equi-join on
# l_orderkey, so fan-out per order is C(basket, 2) — bounded by the
# schema's max lines per order, never by order count.  One shuffle on
# orderkey, one keyed aggregate on the pair, two broadcast-joined
# count tables for lift.  All counts int64; lift is one double
# division of exact ints (products < 2^53 at any real catalog size),
# round(,6).
# --------------------------------------------------------------------------
def _basket_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL keys are excluded EXPLICITLY: a NULL orderkey row survives
    # Spark's distinct()+count while DuckDB's count(DISTINCT) drops
    # it (the KMV NULL-key lesson) — and a NULL key can't join anyway
    return (
        read_table(spark, sf_dir, "lineitem")
        .where(
            F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
        )
        .select("l_orderkey", "l_partkey")
        .distinct()
    )


@session_memo("mining.support_pairs", "lineitem")
def basket_pair_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The support-filtered co-purchase pair set (part_a < part_b,
    support >= MIN_SUPPORT) — the edge list basket_part_pairs scores
    with lift and graph_kcore_parts (operators/graph.py) peels.
    Fenced (bounded: aggregated + support-thresholded, orders of
    magnitude below lineitem) and session-cached so the self-join is
    paid once however many graph/mining consumers run."""
    from stac_geoparquet_spark.operators._io import fenced

    items = _basket_items(spark, sf_dir)
    a, b = items.alias("a"), items.alias("b")
    return fenced(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= MIN_SUPPORT)
    )


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = _basket_items(spark, sf_dir)
    n_orders = items.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    part_counts = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_part")
    )
    pairs = basket_pair_support(spark, sf_dir)
    ca = part_counts.select(
        F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a")
    )
    cb = part_counts.select(
        F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b")
    )
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .join(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "support",
            F.round(
                (F.col("support").cast("double") * F.col("n_orders"))
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


def _basket_pairs_ctes() -> str:
    """items + support-filtered pairs CTEs — the oracle twin of
    basket_pair_support, shared with graph_kcore_parts' oracle."""
    # AS MATERIALIZED: DuckDB inlines plain CTEs per reference — the
    # kcore oracle's unrolled peel chain references each stage three
    # times, which would exponentiate to ~3^R lineitem scans (found as
    # an fd-exhaustion crash); materialization pins one scan per CTE
    return f"""items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
),
pairs AS MATERIALIZED (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS support
  FROM items a
  JOIN items b ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {MIN_SUPPORT}
)"""


BASKET_PAIRS_SQL = f"""
WITH {_basket_pairs_ctes()},
t AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM items),
pc AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_part
       FROM items GROUP BY l_partkey)
SELECT part_a, part_b, support,
       round(CAST(support AS DOUBLE) * n_orders
             / (CAST(ca.n_part AS DOUBLE) * cb.n_part), 6) AS lift
FROM pairs
JOIN pc ca ON ca.l_partkey = part_a
JOIN pc cb ON cb.l_partkey = part_b
CROSS JOIN t
"""


# --------------------------------------------------------------------------
# Per-customer inter-purchase gap profile: days between consecutive
# orders — the reorder-cadence feature behind churn models and the
# "how stale is this user's data" freshness screen.  Lag window
# partitioned by the SCALING o_custkey (per-partition run = one
# customer's orders, bounded by orders/customer); gaps are exact
# integer day diffs of DATE-cast order dates, so avg is an int-sum /
# int-count division, round(,6).  Customers with one order have no
# gap and are excluded (both engines: the lag row is NULL).
# --------------------------------------------------------------------------
def customer_interpurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL dates are excluded BEFORE the lag: Spark sorts NULLs first,
    # DuckDB last, so a NULL-dated order would pick different lag
    # neighbors per engine (the moving_avg NULL-ordering class)
    o = (
        read_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.to_date("o_orderdate").alias("d"),
            "o_orderkey",
        )
        .where(F.col("d").isNotNull())
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("d").asc(), F.col("o_orderkey").asc()
    )
    gaps = o.select(
        "o_custkey",
        F.datediff(F.col("d"), F.lag("d").over(w)).alias("gap_days"),
    ).where(F.col("gap_days").isNotNull())
    return gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.round(
            F.sum("gap_days").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_gap_days"),
        F.max("gap_days").cast("bigint").alias("max_gap_days"),
    )


INTERPURCHASE_SQL = """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey
  FROM orders WHERE o_orderdate IS NOT NULL
),
gaps AS (
  SELECT o_custkey,
         date_diff('day',
                   lag(d) OVER (PARTITION BY o_custkey
                                ORDER BY d, o_orderkey),
                   d) AS gap_days
  FROM o
)
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_gaps,
       round(CAST(sum(gap_days) AS DOUBLE) / count(*), 6) AS avg_gap_days,
       CAST(max(gap_days) AS BIGINT) AS max_gap_days
FROM gaps WHERE gap_days IS NOT NULL
GROUP BY o_custkey
"""


# --------------------------------------------------------------------------
# Event-type PMI co-occurrence: pointwise mutual information between
# event types over the user axis — the association measure behind
# co-occurrence embeddings and "which behaviors travel together"
# product analytics.  User sets are DISTINCT (user, type) pairs (one
# shuffle on user_id); the pair join is within-user with fan-out
# bounded by the type ALPHABET, not the event count.  pmi =
# ln(n_both * n_users / (n_a * n_b)) — exact int products (< 2^53)
# inside ONE ln, round(,6): no float merge-order exposure, and the
# ln-of-int-ratio form keeps both engines on a single identical libm
# call (the accepted exp/ln convention).  Reads the raw event
# multiset (the hll/sketch family convention): DISTINCT collapses
# duplicate deliveries identically on both engines.
# --------------------------------------------------------------------------
def events_type_cooccurrence_pmi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ut = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("user_id", "event_type")
        .distinct()
    )
    n_users = ut.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("n_users")
    )
    singles = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a, b = ut.alias("a"), ut.alias("b")
    both = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b")
    )
    return (
        both.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .join(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_both",
            (
                F.round(
                    F.log(
                        (F.col("n_both").cast("double") * F.col("n_users"))
                        / (F.col("n_a").cast("double") * F.col("n_b"))
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("pmi"),
        )
    )


PMI_SQL = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
t AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ut),
singles AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
  FROM ut GROUP BY event_type
),
cooc AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM ut a
  JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_both,
       round(ln(CAST(n_both AS DOUBLE) * n_users
                / (CAST(sa.n_t AS DOUBLE) * sb.n_t)), 6) + 0.0 AS pmi
FROM cooc
JOIN singles sa ON sa.event_type = type_a
JOIN singles sb ON sb.event_type = type_b
CROSS JOIN t
"""


# --------------------------------------------------------------------------
# DAU / WAU engagement stickiness: per active day, the distinct-user
# count that day vs the trailing 7-day window ending that day — the
# standard DAU/WAU ratio, computed WITHOUT a distinct-over-window
# (Spark has none): each deduped (user, day) activity pair is exploded
# to the <= 7 window-end days it participates in, re-deduped, and
# counted.  Both explode inputs are the DEDUPED activity pairs
# (bounded by users x days, not by event volume — 100x the traffic
# lands in the same pairs), and the x7 fan-out is a constant.  Only
# window-end days that are themselves active days are reported (inner
# join with the DAU table), so partial-history edges are identical on
# both engines.  stickiness = dau/wau, one int division round(,6).
# --------------------------------------------------------------------------
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    act = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    dau = act.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        act.select(
            "user_id",
            F.explode(
                F.expr("sequence(day, date_add(day, 6))")
            ).alias("wday"),
        )
        .distinct()
        .groupBy("wday")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return dau.join(wau, dau.day == wau.wday).select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
            "stickiness"
        ),
    )


DAU_WAU_SQL = """
WITH act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM act GROUP BY day
),
spread AS (
  SELECT DISTINCT user_id, CAST(unnest(generate_series(
           CAST(day AS TIMESTAMP), CAST(day + 6 AS TIMESTAMP),
           INTERVAL 1 DAY)) AS DATE) AS wday
  FROM act
),
wau AS (
  SELECT wday, CAST(count(*) AS BIGINT) AS wau FROM spread GROUP BY wday
)
SELECT day, dau, wau,
       round(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
FROM dau JOIN wau ON wau.wday = dau.day
"""


# --------------------------------------------------------------------------
# Pareto revenue concentration: what share of total revenue the top
# 1% / 5% / 10% of customers carry — the concentration screen run
# before per-entity quota decisions (cap_docs_per_source's relational
# cousin).  Per-customer revenue is an EXACT int64 cent sum (each
# order rounded to cents first), so the three thresholds are exact
# percentiles over a cents domain — the RFM-monetary precedent: the
# percentile buffer holds DISTINCT cent values, bounded by the
# revenue span x 100, independent of customer count
# (tests/test_registry_contract.py allowlist).  The thresholds are a
# 3-value driver collect (constant-bounded); shares are conditional
# int sums in one pass, one division each, round(,6).
# --------------------------------------------------------------------------
def orders_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        read_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
                "cents"
            ),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    qs = [c[0] for c in PARETO_CUTS]
    # exact threshold recovery: the percentile interpolates INTEGER
    # cents at fractions with denominator 100, so the true value is a
    # multiple of 0.01 — round(t*100)/100 recovers it exactly and
    # BIT-IDENTICALLY on both engines (the engines' different lerp
    # expression shapes differ by ~1 ulp, which the half-integer-free
    # round absorbs); without it a threshold landing exactly on a
    # customer's integer cent total could flip the >= cut per engine
    # (the funnel-latency midpoint class, applied to a comparison)
    thr = rev.agg(
        F.transform(
            F.percentile(
                "rev_cents", F.array(*[F.lit(q) for q in qs])
            ),
            lambda t: F.round(t * 100) / 100,
        ).alias("t")
    ).collect()[0]["t"]
    if thr is None:  # empty orders: percentile is NULL on both engines
        thr = [None] * len(qs)
    conds = []
    for (q, label), t in zip(PARETO_CUTS, thr):
        t_lit = (
            F.lit(float(t))
            if t is not None
            else F.lit(None).cast("double")
        )
        conds.append(
            (
                F.lit(label).alias("segment"),
                F.sum(
                    F.when(F.col("rev_cents") >= t_lit, 1).otherwise(0)
                ).cast("bigint"),
                F.sum(
                    F.when(
                        F.col("rev_cents") >= t_lit, F.col("rev_cents")
                    ).otherwise(F.lit(0))
                ),
            )
        )
    agg = rev.agg(
        F.sum("rev_cents").alias("total_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        *[c[1].alias(f"n_{i}") for i, c in enumerate(conds)],
        *[c[2].alias(f"r_{i}") for i, c in enumerate(conds)],
    )
    # ONE aggregate, fanned to the 3 segment rows by an in-row explode
    # — a UNION of per-segment selects would plan the customer rollup
    # (and the orders scan under it) once PER SEGMENT at scale
    segs = F.array(
        *[
            F.struct(
                F.lit(label).alias("segment"),
                F.col(f"n_{i}").alias("n_top"),
                F.round(
                    F.col(f"r_{i}").cast("double") / F.col("total_cents"),
                    6,
                ).alias("revenue_share"),
            )
            for i, (q, label) in enumerate(PARETO_CUTS)
        ]
    )
    return agg.select(F.explode(segs).alias("s")).select("s.*")


def _pareto_oracle_sql() -> str:
    selects = []
    for q, label in PARETO_CUTS:
        selects.append(
            f"""
SELECT '{label}' AS segment,
       CAST(sum(CASE WHEN rev_cents >= (SELECT t[{1 + [c[0] for c in PARETO_CUTS].index(q)}] FROM thr)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_top,
       round(sum(CASE WHEN rev_cents >= (SELECT t[{1 + [c[0] for c in PARETO_CUTS].index(q)}] FROM thr)
                 THEN rev_cents ELSE 0 END)
             / CAST((SELECT total FROM tot) AS DOUBLE), 6) AS revenue_share
FROM rev"""
        )
    body = "\nUNION ALL\n".join(selects)
    qlist = ", ".join(str(c[0]) for c in PARETO_CUTS)
    return f"""
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY o_custkey
),
thr AS (SELECT list_transform(quantile_cont(rev_cents, [{qlist}]),
                              t -> round(t * 100) / 100) AS t FROM rev),
tot AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS total FROM rev)
{body}
"""


QUERIES = {
    "basket_part_pairs": basket_part_pairs,
    "customer_interpurchase": customer_interpurchase,
    "events_type_cooccurrence_pmi": events_type_cooccurrence_pmi,
    "events_dau_wau": events_dau_wau,
    "orders_pareto_share": orders_pareto_share,
}

ORACLE = {
    "basket_part_pairs": BASKET_PAIRS_SQL,
    "customer_interpurchase": INTERPURCHASE_SQL,
    "events_type_cooccurrence_pmi": PMI_SQL,
    "events_dau_wau": DAU_WAU_SQL,
    "orders_pareto_share": _pareto_oracle_sql(),
}


# --------------------------------------------------------------------------
# Item-item affinity retrieval (round 8): for every part, its top-K
# most-similar parts by co-purchase Jaccard — the classic item-item
# collaborative-filtering table ("customers who bought X also
# bought"), and the set-overlap companion to basket_part_pairs' lift.
# Rides the SAME session-cached, fenced support-pair table (the
# self-join is paid once across the mining/graph family); the audit
# itself is two keyed joins against the margin table, a symmetrize
# union, and ONE ranking window over the SCALING part key whose
# per-partition input is that part's co-purchase neighbor list
# (bounded by catalog co-occurrence, not order volume).  jaccard =
# support / (n_a + n_b - support): one division of exact ints,
# round(,6); ties rank deterministically by neighbor id on both
# engines.
# --------------------------------------------------------------------------
AFFINITY_TOP_K = 5


def part_affinity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = _basket_items(spark, sf_dir)
    # part-dimension-bounded, consumed TWICE below (cp and cn); no
    # fence: the second consumer reads the first one's shuffle through
    # exchange reuse, so lineitem is scanned once (pinned on the final
    # plan in tests/test_plans.py)
    part_counts = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_part")
    )
    pairs = basket_pair_support(spark, sf_dir)
    sym = pairs.select(
        F.col("part_a").alias("part"),
        F.col("part_b").alias("neighbor"),
        "support",
    ).union(
        pairs.select(
            F.col("part_b").alias("part"),
            F.col("part_a").alias("neighbor"),
            "support",
        )
    )
    cp = part_counts.select(
        F.col("l_partkey").alias("part"), F.col("n_part").alias("n_p")
    )
    cn = part_counts.select(
        F.col("l_partkey").alias("neighbor"), F.col("n_part").alias("n_n")
    )
    scored = (
        sym.join(cp, "part")
        .join(cn, "neighbor")
        .select(
            "part",
            "neighbor",
            "support",
            F.round(
                F.col("support").cast("double")
                / (F.col("n_p") + F.col("n_n") - F.col("support")),
                6,
            ).alias("jaccard"),
        )
    )
    w = Window.partitionBy("part").orderBy(
        F.col("jaccard").desc(), F.col("neighbor").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= AFFINITY_TOP_K)
        .select("part", "neighbor", "support", "jaccard", "rank")
    )


AFFINITY_SQL = f"""
WITH {_basket_pairs_ctes()},
pc AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_part
       FROM items GROUP BY l_partkey),
sym AS (
  SELECT part_a AS part, part_b AS neighbor, support FROM pairs
  UNION ALL
  SELECT part_b, part_a, support FROM pairs
),
scored AS (
  SELECT part, neighbor, support,
         round(CAST(support AS DOUBLE)
               / (cp.n_part + cn.n_part - support), 6) AS jaccard
  FROM sym
  JOIN pc cp ON cp.l_partkey = part
  JOIN pc cn ON cn.l_partkey = neighbor
),
ranked AS (
  SELECT part, neighbor, support, jaccard,
         CAST(row_number() OVER (PARTITION BY part
                                 ORDER BY jaccard DESC, neighbor) AS INT)
           AS rank
  FROM scored
)
SELECT part, neighbor, support, jaccard, rank
FROM ranked WHERE rank <= {AFFINITY_TOP_K}
"""

QUERIES["part_affinity_topk"] = part_affinity_topk
ORACLE["part_affinity_topk"] = AFFINITY_SQL

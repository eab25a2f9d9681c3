"""Data-quality checks — the validation report a pipeline runs before
promoting a dataset (dbt-test style): referential integrity, key
uniqueness, null rates, domain constraints. One row per check with its
violation count, so downstream gating is `WHERE failed > 0`.

The report is ONE lazy DataFrame (a union of 1-row aggregates), not a
driver loop of counts: a single action executes every check, the
independent sub-plans schedule concurrently, and the report composes
like any other query (filter/join/write).

Scale shape per check family:
- referential integrity: LEFT ANTI join child->parent counted — the
  parent key side broadcasts at dimension sizes and degrades to a
  key-only shuffle join when both sides are large.
- uniqueness: groupBy(key) HAVING count>1 — map-side combine collapses
  unique keys before the shuffle, so shuffled rows ~= duplicate keys.
- null/domain rates: scan-stage conditional aggregates folded into one
  pass per table, no shuffle.

Every check is a plain count under identical SQL semantics in DuckDB,
so the whole report is exactly oracle-gated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._exprs import const_cols

from stac_geoparquet_spark.operators._io import read_table


def _check_row(name: str, failed: DataFrame, total: DataFrame) -> DataFrame:
    """(check, failed, total) as a lazy 1-row frame from two 1-row
    aggregates."""
    return (
        failed.crossJoin(total)
        .select(
            F.lit(name).alias("check"),
            F.col("failed").cast("bigint"),
            F.col("total").cast("bigint"),
        )
    )


# promote/abort envelope for measure magnitudes: every exact-int64
# cent/micro-unit bound in the analytic operators holds for |measure|
# <= 1e12 at any realistic row count; the dq gate flags rows outside
# it (including +/-Infinity) so the ops can assume the envelope
MEASURE_ENVELOPE = 1_000_000_000_000.0


@const_cols
def _dq_lineitem_scan_aggs() -> tuple:
    """dq_report's one-pass lineitem check aggregates — constant
    Column fragments rebuilt per call before r11 (_exprs.py)."""
    nan_any = (
        F.coalesce(F.isnan("l_quantity"), F.lit(False))
        | F.coalesce(F.isnan("l_extendedprice"), F.lit(False))
        | F.coalesce(F.isnan("l_discount"), F.lit(False))
        | F.coalesce(F.isnan("l_tax"), F.lit(False))
    )
    return (
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).alias(
            "null_qty"
        ),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
            ).otherwise(0)
        ).alias("bad_discount"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0)).alias(
            "bad_price"
        ),
        # NaN measures are CORRUPT, not merely missing: decimal-exact
        # cross-engine aggregation cannot represent NaN (DuckDB errors
        # casting NaN to DECIMAL), so the analytic operators' contract
        # is non-NaN measures and THIS row is the promote/abort gate
        # that enforces it (the NaN differential probe's finding)
        F.sum(nan_any.cast("bigint")).alias("nan_measures"),
        # magnitude envelope (also catches +/-Infinity, which isnan
        # misses): every exact-int64 cent/moment bound stated in the
        # analytic operators' comments assumes measures within ~1e12 —
        # outside it, Spark int64 sums can wrap where DuckDB's HUGEINT
        # keeps going, so out-of-envelope rows must be caught HERE at
        # the promote/abort gate, not discovered as drift downstream
        F.sum(
            (
                (F.abs(F.col("l_extendedprice")) > MEASURE_ENVELOPE)
                | (F.abs(F.col("l_quantity")) > MEASURE_ENVELOPE)
            ).cast("bigint")
        ).alias("oob_measures"),
    )


def dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(check, failed, total) across the star schema's core contracts."""
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    customer = read_table(spark, sf_dir, "customer")

    n_orders = orders.agg(F.count(F.lit(1)).alias("total"))
    n_li = lineitem.agg(F.count(F.lit(1)).alias("total"))

    fk_cust = (
        orders.join(
            customer.select("c_custkey"),
            orders.o_custkey == customer.c_custkey,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("failed"))
    )
    fk_order = (
        lineitem.join(
            orders.select("o_orderkey"),
            lineitem.l_orderkey == orders.o_orderkey,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("failed"))
    )
    dup_orderkey = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where("n > 1")
        .agg(F.count(F.lit(1)).alias("failed"))
    )
    # lineitem scan checks: one pass, then split into report rows
    scan = lineitem.agg(*_dq_lineitem_scan_aggs())

    parts = [
        _check_row("fk_orders_customer", fk_cust, n_orders),
        _check_row("fk_lineitem_orders", fk_order, n_li),
        _check_row("unique_orderkey", dup_orderkey, n_orders),
        _check_row(
            "null_quantity", scan.select(F.col("null_qty").alias("failed")), n_li
        ),
        _check_row(
            "discount_in_unit_interval",
            scan.select(F.col("bad_discount").alias("failed")),
            n_li,
        ),
        _check_row(
            "positive_price",
            scan.select(F.col("bad_price").alias("failed")),
            n_li,
        ),
        _check_row(
            "finite_measures",
            scan.select(F.col("nan_measures").alias("failed")),
            n_li,
        ),
        _check_row(
            "measure_magnitude",
            scan.select(F.col("oob_measures").alias("failed")),
            n_li,
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


DQ_REPORT_SQL = """
SELECT 'fk_orders_customer' AS check,
       (SELECT count(*) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS failed,
       (SELECT count(*) FROM orders) AS total
UNION ALL
SELECT 'fk_lineitem_orders',
       (SELECT count(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
       (SELECT count(*) FROM lineitem)
UNION ALL
SELECT 'unique_orderkey',
       (SELECT count(*) FROM (
          SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1) t),
       (SELECT count(*) FROM orders)
UNION ALL
SELECT 'null_quantity',
       (SELECT count(*) FROM lineitem WHERE l_quantity IS NULL),
       (SELECT count(*) FROM lineitem)
UNION ALL
SELECT 'discount_in_unit_interval',
       (SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1),
       (SELECT count(*) FROM lineitem)
UNION ALL
SELECT 'positive_price',
       (SELECT count(*) FROM lineitem WHERE l_extendedprice <= 0),
       (SELECT count(*) FROM lineitem)
UNION ALL
SELECT 'finite_measures',
       (SELECT count(*) FROM lineitem
         WHERE coalesce(isnan(l_quantity), false)
            OR coalesce(isnan(l_extendedprice), false)
            OR coalesce(isnan(l_discount), false)
            OR coalesce(isnan(l_tax), false)),
       (SELECT count(*) FROM lineitem)
UNION ALL
SELECT 'measure_magnitude',
       (SELECT count(*) FROM lineitem
         WHERE abs(l_extendedprice) > 1000000000000.0
            OR abs(l_quantity) > 1000000000000.0),
       (SELECT count(*) FROM lineitem)
"""


QUERIES = {
    "dq_report": dq_report,
}

ORACLE = {
    "dq_report": DQ_REPORT_SQL,
}


# --------------------------------------------------------------------------
# corpus validity report: the ingest-time validation for the contracts
# the text/vector operators rely on (NULL-text exclusion, unique ids,
# the valid-vector contract: non-null, correct dimension, finite).
# One scan per table, no joins: each table's checks fold into a single
# conditional aggregate whose row unpivots to per-check rows — at
# 100 TB this is two map-side-combined passes, nothing else.
# --------------------------------------------------------------------------
DOC_LANGS = ("en", "es", "de", "fr", "zh")


@const_cols
def _dq_corpus_aggs() -> tuple:
    """dq_corpus_report's three one-pass check-aggregate tuples
    (docs, embeddings, events) — constant Column fragments rebuilt per
    call before r11 (_exprs.py)."""
    from stac_geoparquet_spark.operators.similarity import DIM, _valid_vec

    bad_lang = F.col("lang").isNotNull() & ~F.col("lang").isin(*DOC_LANGS)
    len_drift = F.col("text").isNotNull() & (
        F.col("n_chars") != F.length("text")
    )
    d_aggs = (
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("text").isNull().cast("bigint")).alias("null_text"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("doc_id"))).alias(
            "dup_doc_id"
        ),
        F.sum(bad_lang.cast("bigint")).alias("lang_domain"),
        F.sum(len_drift.cast("bigint")).alias("n_chars_drift"),
    )
    wrong_dim = F.col("embedding").isNotNull() & (
        F.size("embedding") != DIM
    )
    # coalesce: a NULL-element vector makes _valid_vec() NULL (the
    # fold propagates the element NULL), and it must COUNT as invalid
    # here, not silently skip the conditional sum
    nonfinite = (
        F.col("embedding").isNotNull()
        & (F.size("embedding") == DIM)
        & ~F.coalesce(_valid_vec(), F.lit(False))
    )
    e_aggs = (
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("embedding").isNull().cast("bigint")).alias("null_vec"),
        F.sum(wrong_dim.cast("bigint")).alias("wrong_dim"),
        F.sum(nonfinite.cast("bigint")).alias("nonfinite_vec"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("vec_id"))).alias(
            "dup_vec_id"
        ),
    )
    # events: a NaN interaction value poisons bucketed/aggregated
    # event analytics the same way (floor(NaN/b) has no integer
    # value); same gate-then-assume contract as finite_measures
    ev_aggs = (
        F.count(F.lit(1)).alias("total"),
        F.sum(
            F.coalesce(F.isnan("value"), F.lit(False)).cast("bigint")
        ).alias("nan_value"),
        F.sum(
            F.coalesce(
                F.abs(F.col("value")) > MEASURE_ENVELOPE, F.lit(False)
            ).cast("bigint")
        ).alias("oob_value"),
    )
    return d_aggs, e_aggs, ev_aggs


def dq_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(check, failed, total) over documents, embeddings and events:
    NULL text, duplicate doc_ids, out-of-domain lang, n_chars drift,
    NULL / wrong-dimension / non-finite vectors, duplicate vec_ids,
    NaN event values.
    `failed > 0` on any row is the promote/abort gate a pipeline runs
    before the operators whose contracts these are."""
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")

    d_aggs, e_aggs, ev_aggs = _dq_corpus_aggs()
    d = docs.agg(*d_aggs)
    e = emb.agg(*e_aggs)
    ev = read_table(spark, sf_dir, "events").agg(*ev_aggs)
    drows = d.selectExpr(
        "stack(4, 'doc_null_text', null_text, 'doc_dup_id', dup_doc_id,"
        " 'doc_lang_domain', lang_domain, 'doc_n_chars_drift',"
        " n_chars_drift) AS (check, failed)",
        "total",
    )
    erows = e.selectExpr(
        "stack(4, 'vec_null', null_vec, 'vec_wrong_dim', wrong_dim,"
        " 'vec_nonfinite', nonfinite_vec, 'vec_dup_id', dup_vec_id)"
        " AS (check, failed)",
        "total",
    )
    evrows = ev.selectExpr(
        "stack(2, 'event_nan_value', nan_value,"
        " 'event_value_magnitude', oob_value) AS (check, failed)",
        "total",
    )
    return drows.unionByName(erows).unionByName(evrows).select(
        "check",
        F.col("failed").cast("bigint").alias("failed"),
        F.col("total").cast("bigint").alias("total"),
    )


def _dq_corpus_oracle_sql() -> str:
    from stac_geoparquet_spark.operators.similarity import DIM

    langs = ", ".join(f"'{x}'" for x in DOC_LANGS)
    return f"""
WITH d AS (
  SELECT count(*) AS total,
         CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_text,
         CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS dup_doc_id,
         CAST(sum(CASE WHEN lang IS NOT NULL AND lang NOT IN ({langs})
                  THEN 1 ELSE 0 END) AS BIGINT) AS lang_domain,
         CAST(sum(CASE WHEN text IS NOT NULL AND n_chars <> length(text)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_drift
  FROM documents
),
e AS (
  SELECT count(*) AS total,
         CAST(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_vec,
         CAST(sum(CASE WHEN embedding IS NOT NULL AND len(embedding) <> {DIM}
                  THEN 1 ELSE 0 END) AS BIGINT) AS wrong_dim,
         CAST(sum(CASE WHEN embedding IS NOT NULL AND len(embedding) = {DIM}
                   AND NOT (list_aggregate(embedding, 'count') = {DIM}
                            AND isfinite(list_sum(embedding::DOUBLE[])))
                  THEN 1 ELSE 0 END) AS BIGINT) AS nonfinite_vec,
         CAST(count(*) - count(DISTINCT vec_id) AS BIGINT) AS dup_vec_id
  FROM embeddings
)
SELECT 'doc_null_text' AS check, null_text AS failed, total FROM d
UNION ALL SELECT 'doc_dup_id', dup_doc_id, total FROM d
UNION ALL SELECT 'doc_lang_domain', lang_domain, total FROM d
UNION ALL SELECT 'doc_n_chars_drift', n_chars_drift, total FROM d
UNION ALL SELECT 'vec_null', null_vec, total FROM e
UNION ALL SELECT 'vec_wrong_dim', wrong_dim, total FROM e
UNION ALL SELECT 'vec_nonfinite', nonfinite_vec, total FROM e
UNION ALL SELECT 'vec_dup_id', dup_vec_id, total FROM e
UNION ALL SELECT 'event_nan_value',
  (SELECT CAST(sum(CASE WHEN coalesce(isnan(value), false) THEN 1 ELSE 0 END)
          AS BIGINT) FROM events),
  (SELECT count(*) FROM events)
UNION ALL SELECT 'event_value_magnitude',
  (SELECT CAST(sum(CASE WHEN coalesce(abs(value) > 1000000000000.0, false)
                        THEN 1 ELSE 0 END) AS BIGINT) FROM events),
  (SELECT count(*) FROM events)
"""


# --------------------------------------------------------------------------
# k-anonymity audit: group the event stream by its quasi-identifier
# tuple (event_type, hour-of-day, coarse value bucket) and report every
# group's size with its k-anonymity verdict — the privacy check a
# training pipeline runs before releasing interaction logs.  Rows with
# a NULL quasi-identifier component form their own group on both
# engines (GROUP BY NULL semantics agree).  Pure keyed aggregate:
# partial map-side combine, one shuffle on the tuple, no joins.
# --------------------------------------------------------------------------
K_ANON_K = 5
K_ANON_VALUE_BUCKET = 50.0


def events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    g = ev.select(
        F.col("event_type"),
        F.hour("ts").cast("bigint").alias("hour_of_day"),
        F.floor(F.col("value") / K_ANON_VALUE_BUCKET)
        .cast("bigint")
        .alias("value_bucket"),
        "user_id",
    )
    # the verdict counts DISTINCT individuals, not rows: ten events
    # from one user still identify that user (review finding)
    return g.groupBy("event_type", "hour_of_day", "value_bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("user_id").alias("n_users"),
        (F.count_distinct("user_id") >= K_ANON_K).alias("k_anonymous"),
    )


K_ANON_SQL = f"""
SELECT event_type,
       CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
       CAST(floor(value / {K_ANON_VALUE_BUCKET}) AS BIGINT) AS value_bucket,
       count(*) AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       count(DISTINCT user_id) >= {K_ANON_K} AS k_anonymous
FROM events
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# l-diversity audit (k-anonymity's companion): a group can be large
# (k-anonymous) yet still leak — if every member shares the sensitive
# attribute, group membership reveals it.  Same quasi-identifier tuple
# as events_k_anonymity (one shared grouping contract); the sensitive
# attribute here is the event_type itself viewed from the released
# (hour, value_bucket) tuple: each released group must contain >= L
# distinct event types.  Pure keyed aggregate, map-side combined.
# --------------------------------------------------------------------------
L_DIVERSITY_L = 3


def events_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    g = ev.select(
        F.hour("ts").cast("bigint").alias("hour_of_day"),
        F.floor(F.col("value") / K_ANON_VALUE_BUCKET)
        .cast("bigint")
        .alias("value_bucket"),
        "event_type",
    )
    return g.groupBy("hour_of_day", "value_bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("event_type").alias("n_types"),
        (F.count_distinct("event_type") >= L_DIVERSITY_L).alias(
            "l_diverse"
        ),
    )


L_DIVERSITY_SQL = f"""
SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
       CAST(floor(value / {K_ANON_VALUE_BUCKET}) AS BIGINT) AS value_bucket,
       count(*) AS n_rows,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       count(DISTINCT event_type) >= {L_DIVERSITY_L} AS l_diverse
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# MAD-based hourly anomaly screen (Iglewicz-Hoaglin modified z-score):
# the robust companion to relational.events_hourly_anomaly — a
# mean/sd trailing window is itself dragged by the outliers it hunts,
# while median/MAD is immune to up to 50% contamination, which is why
# ops teams alert on |0.6745 (c - med) / MAD| >= 3.5 rather than
# plain z when traffic spikes are the NORM (releases, crawls).
#
# Scale + percentile-domain argument: the percentile inputs (hourly
# count c, then its absolute deviation) aggregate the HOURLY ROLLUP,
# whose row count is bounded by calendar hours x event types — 100x
# the events in the same time range land in the SAME rollup rows, so
# both the rows and the distinct-value buffers are calendar-bounded,
# never corpus-bounded (the events_hourly_anomaly window argument,
# applied to percentile state; allowlisted with this reason in
# tests/test_registry_contract.py).  Counts are integers, so med and
# MAD are exact .0/.5 doubles — the modified z is deterministic
# per-row arithmetic, round(,4).  When MAD = 0 (discrete counts
# concentrated at the median — the common case for low-traffic
# types, where a giant spike would otherwise go UNSCORED) the
# Iglewicz-Hoaglin fallback applies: z = (c - med) / (1.253314 *
# meanAD); only a group where every hour equals the median goes
# unscored.  meanAD is avg(|c - med|) of exact 0.5-multiples — the
# double sum is exact below 2^52, so the fallback is merge-order-
# deterministic with no rounding-margin argument needed.
# --------------------------------------------------------------------------
MAD_Z_CUT = 3.5
MAD_SCALE = 0.6745
MEANAD_SCALE = 1.253314


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # event_type IS NOT NULL: the oracle's med/mad attach via
    # JOIN ... USING (event_type), which drops the NULL-type group
    # (NULL never equi-matches).  The r11 window rewrite below keeps
    # NULL partitions — a window partition is not a join — so the
    # filter restores the join's NULL semantics explicitly (caught by
    # the NULL-injection differential gate: spark=6 vs duckdb=5 rows;
    # the driver SFs carry no NULL event_type, so the sf gates missed
    # it).
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    hourly = (
        ev.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    # r11: the med/mad/meanad statistics ride windows PARTITIONED BY
    # the event-type alphabet over the calendar-bounded hourly rollup
    # (<= hours x types rows — the same bound the r10 fences relied
    # on), so the whole med -> absdev -> mad -> rz chain is ONE plan
    # with ONE events scan: the two construction-time checkpoint jobs
    # and the two broadcast joins disappear (classifier_lift_gains
    # move; exact percentile over the same rows — results identical,
    # oracle unchanged)
    w_type = Window.partitionBy("event_type")
    dev = hourly.withColumn(
        "med", F.expr("percentile(c, 0.5)").over(w_type)
    ).withColumn("absdev", F.abs(F.col("c") - F.col("med")))
    dev = dev.withColumn(
        "mad", F.expr("percentile(absdev, 0.5)").over(w_type)
    ).withColumn("meanad", F.avg("absdev").over(w_type))
    # + 0.0 on both branches: a sub-quantum negative deviation would
    # round to -0.0 — the covariance convention
    scored = dev.withColumn(
        "rz",
        F.when(
            F.col("mad") > 0,
            F.round(
                F.lit(MAD_SCALE)
                * (F.col("c") - F.col("med"))
                / F.col("mad"),
                4,
            )
            + F.lit(0.0),
        ).when(
            F.col("meanad") > 0,
            F.round(
                (F.col("c") - F.col("med"))
                / (F.lit(MEANAD_SCALE) * F.col("meanad")),
                4,
            )
            + F.lit(0.0),
        ),
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.col("rz").isNotNull().cast("bigint")).alias("n_scored"),
        # when/otherwise, not a bare boolean cast: a NULL rz (MAD=0
        # group) must count 0, matching the oracle's CASE ELSE 0
        F.sum(
            F.when(F.abs(F.col("rz")) >= F.lit(MAD_Z_CUT), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_anomalous"),
        F.max(F.abs("rz")).alias("max_abs_rz"),
    )


ANOMALY_MAD_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(count(*) AS DOUBLE) AS c
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
),
med AS (
  SELECT event_type, quantile_cont(c, 0.5) AS med
  FROM hourly GROUP BY event_type
),
dev AS (
  SELECT h.event_type, c, med, abs(c - med) AS absdev
  FROM hourly h JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(absdev, 0.5) AS mad,
         avg(absdev) AS meanad
  FROM dev GROUP BY event_type
),
scored AS (
  SELECT d.event_type,
         CASE WHEN mad > 0
              THEN round({MAD_SCALE} * (c - med) / mad, 4) + 0.0
              WHEN meanad > 0
              THEN round((c - med) / ({MEANAD_SCALE} * meanad), 4) + 0.0
              END AS rz
  FROM dev d JOIN mad USING (event_type)
)
SELECT event_type,
       count(*) AS n_hours,
       CAST(sum(CASE WHEN rz IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_scored,
       CAST(sum(CASE WHEN abs(rz) >= {MAD_Z_CUT} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_anomalous,
       max(abs(rz)) AS max_abs_rz
FROM scored GROUP BY event_type
"""


QUERIES |= {
    "events_anomaly_mad": events_anomaly_mad,
    "events_l_diversity": events_l_diversity,
    "dq_corpus_report": dq_corpus_report,
    "events_k_anonymity": events_k_anonymity,
}

ORACLE |= {
    "events_anomaly_mad": ANOMALY_MAD_SQL,
    "events_l_diversity": L_DIVERSITY_SQL,
    "dq_corpus_report": _dq_corpus_oracle_sql(),
    "events_k_anonymity": K_ANON_SQL,
}

"""Sampling + statistical aggregates — the remaining training-data-
pipeline staples (dataset downsampling for eval splits, per-stratum
rate control, distribution profiling). The reference has no sampling
surface (its only "selection" is predicate pushdown, SURVEY §2.6); at
100 TB a pipeline samples constantly, and `rand()`-based sampling is
NOT reproducible across retries/speculative tasks — every operator here
is hash-deterministic (md5, identical in DuckDB) so reruns, retried
tasks, and the oracle all agree row-for-row.

- ``sample_stratified``: per-stratum Bernoulli sampling by hash bucket
  (URGENT 20%, HIGH 10%, rest 5%). Embarrassingly parallel: a scan-
  stage filter, NO shuffle, survives any scale-up unchanged.
- ``sample_fixed_k``: fixed-size uniform sample as global top-k by
  hash — the distributed reservoir-sample idiom (per-partition top-k,
  then merge: TakeOrderedAndProject, no full sort, no single-node
  bottleneck).
- ``stats_quantity_price``: per-group second-moment profile (corr /
  covariance / stddev) — single partial-aggregable groupBy; all
  moments merge associatively, so map-side combine does the heavy
  lifting and only per-group moment triples shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._exprs import const_cols
from stac_geoparquet_spark.operators._io import read_table

SAMPLE_K = 500  # fixed-size sample


def _bucket_sql(expr: str, prefix: str) -> str:
    """Deterministic [0,100) bucket from a key — portable Spark/DuckDB
    (same md5; DuckDB's ('0x'||...)::BIGINT is written by the oracle)."""
    return (
        f"CAST(conv(substring(md5(concat('{prefix}:', CAST({expr} AS STRING)"
        ")), 1, 8), 16, 10) AS BIGINT) % 100"
    )


def _bucket_duck(expr: str, prefix: str) -> str:
    return f"('0x' || substr(md5('{prefix}:' || CAST({expr} AS VARCHAR)), 1, 8))::BIGINT % 100"


_RATE_CASE = (
    "CASE o_orderpriority WHEN '1-URGENT' THEN 20 WHEN '2-HIGH' THEN 10 "
    "ELSE 5 END"
)


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified Bernoulli sample of orders: keep a row
    iff its hash bucket falls under its stratum's rate. Pure scan-stage
    filter — zero shuffles, pushdown-friendly, retry-stable."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.where(
        F.expr(f"{_bucket_sql('o_orderkey', 'smp')} < {_RATE_CASE}")
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")


def _sample_stratified_oracle() -> str:
    return f"""
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders
WHERE {_bucket_duck('o_orderkey', 'smp')} < {_RATE_CASE}
"""


def sample_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-K uniform sample of lineitem rows = the K smallest
    deterministic hashes. Plans as TakeOrderedAndProject: each task
    keeps its local top-K, the driver merges K*tasks candidates — the
    scalable fixed-size-sample shape (never a global sort). The hash
    column rides along so the result set is well-defined (hash is
    unique per (orderkey, linenumber) in practice; K smallest values)."""
    li = read_table(spark, sf_dir, "lineitem")
    h = (
        "CAST(conv(substring(md5(concat('rsv:', CAST(l_orderkey AS STRING),"
        " ':', CAST(l_linenumber AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )
    return (
        li.selectExpr("l_orderkey", "l_linenumber", f"{h} AS sample_hash")
        .orderBy("sample_hash")
        .limit(SAMPLE_K)
    )


def _sample_fixed_k_oracle() -> str:
    return f"""
SELECT l_orderkey, l_linenumber,
       ('0x' || substr(md5('rsv:' || CAST(l_orderkey AS VARCHAR) || ':'
                || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT AS sample_hash
FROM lineitem
ORDER BY sample_hash
LIMIT {SAMPLE_K}
"""


def stats_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment profile of quantity vs price per return flag:
    Pearson correlation, sample covariance, sample stddevs, mean.
    One partial-aggregable groupBy (all moments are associative)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "corr_qty_price"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "covar_qty_price"
            ),
            F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        )
    )


STATS_SQL = """
SELECT l_returnflag,
       count(*) AS n,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
       round(stddev_samp(l_quantity), 6) AS sd_qty,
       round(stddev_samp(l_extendedprice), 4) AS sd_price,
       round(avg(l_extendedprice), 4) AS avg_price
FROM lineitem
GROUP BY l_returnflag
"""


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style single-pass column profile of lineitem's measure
    columns: rows (column_name, n, n_null, n_distinct, min/max/mean).

    Shape: unpivot first (stack to (column_name, value) pairs in the
    scan stage), compact to distinct (column, value) with counts (the
    exact-NDV carrier; map-side combine collapses duplicates before
    the shuffle), then a per-column rollup derives every stat from the
    compacted pairs — n/mean from value*count sums, NDV by counting
    the compacted rows. Measured 7x faster than the multi-countDistinct
    single-aggregate, whose Expand ships (n_cols+1) copies of every row
    into one global aggregate; here shuffled rows ~= distinct values.
    At 100 TB swap the exact pair compaction for approx_count_distinct
    when ±2% NDV is acceptable."""
    li = read_table(spark, sf_dir, "lineitem")
    stack = ", ".join(f"'{c}', {c}" for c in _PROFILE_COLS)
    pairs = li.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack}) AS (column_name, v)"
    )
    compact = pairs.groupBy("column_name", "v").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    nn = F.when(F.col("v").isNotNull(), F.col("cnt"))
    return compact.groupBy("column_name").agg(
        F.sum(F.coalesce(nn, F.lit(0))).alias("n"),
        F.sum(F.when(F.col("v").isNull(), F.col("cnt")).otherwise(0)).alias(
            "n_null"
        ),
        F.count(F.when(F.col("v").isNotNull(), 1)).alias("n_distinct"),
        F.round(F.min("v"), 4).alias("min_v"),
        F.round(F.max("v"), 4).alias("max_v"),
        F.round(F.sum(F.col("v") * F.col("cnt")) / F.sum(nn), 4).alias(
            "mean_v"
        ),
    )


def _table_profile_oracle() -> str:
    parts = [
        f"""
SELECT '{c}' AS column_name,
       count({c}) AS n,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       count(DISTINCT {c}) AS n_distinct,
       round(min({c}), 4) AS min_v,
       round(max({c}), 4) AS max_v,
       round(avg({c}), 4) AS mean_v
FROM lineitem"""
        for c in _PROFILE_COLS
    ]
    return "\nUNION ALL\n".join(parts)


IQR_K = 0.5  # Tukey multiplier; see docstring


def outliers_iqr_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier detection per order priority: rows whose
    total price falls outside [q1 - k*IQR, q3 + k*IQR] of their
    group. k = 0.5 here (the driver's synthetic prices are uniform —
    no tail at all survives Tukey's classic 1.5); with real heavy-
    tailed data the multiplier is the standard 1.5 and nothing else
    changes. Two-phase: a per-group exact-percentile aggregate (tiny — 5
    groups) broadcast back onto the fact scan. At 100 TB swap
    `percentile` for `approx_percentile` and keep the identical plan
    shape; the exact version is what the oracle can pin.

    The quartiles and the fence comparison run in integer CENTS: the
    percentile interpolation over exact ints is bit-exact on both
    engines (g = .25/.75 are exact binary fractions), where the
    engines' different lerp expression shapes over raw double prices
    differ by one ulp — enough to flip a row sitting exactly on a
    fence (the funnel-latency sf0.1 finding, applied to the
    comparison rather than the rounding)."""
    orders = read_table(spark, sf_dir, "orders")
    priced = orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    fences = priced.groupBy("o_orderpriority").agg(
        F.expr("percentile(cents, 0.25)").alias("q1"),
        F.expr("percentile(cents, 0.75)").alias("q3"),
    )
    return (
        priced.join(F.broadcast(fences), "o_orderpriority")
        .where(
            f"cents < q1 - {IQR_K} * (q3 - q1)"
            f" OR cents > q3 + {IQR_K} * (q3 - q1)"
        )
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )


OUTLIERS_IQR_SQL = f"""
WITH priced AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
fences AS (
  SELECT o_orderpriority,
         quantile_cont(cents, 0.25) AS q1,
         quantile_cont(cents, 0.75) AS q3
  FROM priced GROUP BY o_orderpriority
)
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM priced JOIN fences USING (o_orderpriority)
WHERE cents < q1 - {IQR_K} * (q3 - q1)
   OR cents > q3 + {IQR_K} * (q3 - q1)
"""


KMV_K = 64
_KMV_SPACE = float(1 << 60)  # hash domain: 60-bit md5 slice


def _kmv_est_expr(kth: str, size: str) -> str:
    """The KMV NDV estimator as a dialect-neutral SQL expression — THE
    one definition every sketch site uses (both sketch operators, both
    engines), so the estimator can never silently diverge between the
    Spark selectExpr and the oracle SQL: (K-1)/u_k with u_k the K-th
    smallest normalized hash, exact ``size`` when the sketch holds
    fewer than K values (``kth`` NULL)."""
    return (
        f"CASE WHEN {kth} IS NULL THEN CAST({size} AS DOUBLE) "
        f"ELSE ({KMV_K} - 1) / ({kth} / {_KMV_SPACE}) END"
    )


def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (K-minimum-values) distinct sketch per event type — a
    custom mergeable NDV sketch built from DataFrame ops alone, unlike
    the opaque built-ins (HLL/approx_count_distinct), and therefore
    EXACTLY oracle-checkable: the sketch state is the K smallest
    distinct 60-bit hashes, the estimator is (K-1)/u_k with u_k the
    K-th smallest normalized hash (est = exact count when the group
    has < K distinct members).

    Shape: groupBy(event_type, hash) compacts to distinct pairs (the
    partial agg absorbs duplicate users map-side); the K minima come
    from a TWO-PHASE bottom-K (same shape as kmv_source_overlap, fixed
    together in round 4): a window over (event_type, shuffle partition)
    keeps each task's local bottom-K — partition count scales with the
    cluster, where a window over bare event_type (~4 values) would
    sort each type's full distinct-hash set on one reducer — then a
    bounded P*K-row aggregate merges them; the exact NDV is a plain
    keyed count joined back broadcast.  Mergeability (union state,
    re-take K minima) is what makes KMV maintainable in the
    streaming/rollup.py pattern; the kth-hash rides along as
    evidence."""
    ev = read_table(spark, sf_dir, "events")
    h = (
        "CAST(conv(substring(md5(concat('kmv:', CAST(user_id AS STRING))),"
        " 1, 15), 16, 10) AS BIGINT)"
    )
    pairs = (
        # NULL user_id is excluded explicitly (same contract as the HLL
        # sketch): it hashes to a NULL uh, and the two engines ORDER
        # NULLs differently (Spark asc = NULLS FIRST, DuckDB = NULLS
        # LAST), so once the type has >= KMV_K distinct users the
        # bottom-K — and therefore the estimate — diverges.  Found by
        # an sf0.01-scale NULL-injection probe; the sf0.001 null-events
        # gate masked it because every type was under K there.
        ev.where(F.col("user_id").isNotNull())
        .selectExpr("event_type", f"{h} AS uh")
        .groupBy("event_type", "uh")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    exact = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ndv_exact")
    )
    # two-phase bottom-K (shared scaffold — see operators/twophase.py
    # for the assignment-independence argument and the under-K NULL
    # contract)
    from stac_geoparquet_spark.operators.twophase import (
        kth_smallest,
        local_topk,
    )

    candidates = local_topk(
        pairs.select("event_type", "uh"), ["event_type"], [F.asc("uh")], KMV_K
    )
    kth = kth_smallest(candidates, ["event_type"], "uh", KMV_K, "kth")
    # NULL-SAFE join back: a NULL event_type is a legitimate group (the
    # oracle's GROUP BY keeps it), but an equi-join on NULL never
    # matches in Spark — the NULL group's kth hash silently dropped and
    # its estimate fell back to exact while DuckDB computed the real
    # one (sf0.01 NULL-injection sweep finding, round 5).
    return (
        exact.alias("x")
        .join(
            F.broadcast(kth.alias("k")),
            F.expr("x.event_type <=> k.event_type"),
            "left",
        )
        .selectExpr(
            "x.event_type AS event_type",
            "ndv_exact",
            f"round({_kmv_est_expr('kth', 'ndv_exact')}, 4) AS ndv_est",
        )
    )


SKETCH_KMV_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS uh
  FROM events
  WHERE user_id IS NOT NULL
),
ranked AS (
  SELECT event_type, uh,
         row_number() OVER (PARTITION BY event_type ORDER BY uh) AS rk
  FROM pairs
)
SELECT event_type,
       count(*) AS ndv_exact,
       round({_kmv_est_expr(f"max(CASE WHEN rk = {KMV_K} THEN uh END)", "count(*)")}, 4) AS ndv_est
FROM ranked
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Count-min sketch heavy hitters — the frequency-sketch sibling of the
# KMV NDV sketch: DEPTH independent hash rows of WIDTH counters, each
# word's estimated frequency = min over rows of its bucket total.
# Like KMV, built from DataFrame ops alone so it is EXACTLY
# oracle-checkable, and mergeable (cell-wise +) for the
# streaming/rollup.py maintenance pattern. Scale shape: the sketch
# build is one corpus explode into a (row, bucket)-keyed partial
# aggregate whose output is bounded at DEPTH x WIDTH cells REGARDLESS
# of corpus size; the estimate lookup joins the (tiny) exact top-K
# against the (tiny) cell table. The CMS guarantee est >= exact rides
# along in the result columns.
# --------------------------------------------------------------------------
CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_TOP_K = 10

_CMS_HASH = (
    "CAST(conv(substring(md5(concat('cms', d, ':', word)), 1, 15),"
    f" 16, 10) AS BIGINT) % {CMS_WIDTH}"
)


def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact top-10 corpus words with their exact counts and their
    count-min-sketch estimates (4 x 256 cells); est >= exact always,
    equal when the word's minimum-row bucket has no collisions."""
    from pyspark.sql.window import Window

    from stac_geoparquet_spark.operators.text import _words

    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(_words(F.col("text"))).alias("word"))
    # ONE per-word count aggregate feeds both the sketch and the exact
    # top-K (identical subtree -> ReusedExchange): cell totals are
    # sums of per-word counts, so the DEPTH md5 probes run once per
    # DISTINCT word, not once per occurrence — hash work scales with
    # the (Heaps-law small) vocabulary, not the corpus
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("exact_n"))
    cells = (
        counts.selectExpr(
            "exact_n",
            "explode(transform(sequence(0, %d), d ->"
            " struct(d AS row, %s AS bucket))) AS c" % (CMS_DEPTH - 1, _CMS_HASH),
        )
        .groupBy("c.row", "c.bucket")
        .agg(F.sum("exact_n").alias("cell_n"))
    )
    top = counts.orderBy(F.col("exact_n").desc(), F.col("word")).limit(
        CMS_TOP_K
    )
    probes = top.selectExpr(
        "word",
        "exact_n",
        "explode(transform(sequence(0, %d), d ->"
        " struct(d AS row, %s AS bucket))) AS c" % (CMS_DEPTH - 1, _CMS_HASH),
    ).select("word", "exact_n", "c.row", "c.bucket")
    est = (
        probes.join(F.broadcast(cells), ["row", "bucket"])
        .groupBy("word", "exact_n")
        .agg(F.min("cell_n").alias("cms_est"))
    )
    w = Window.orderBy(F.col("exact_n").desc(), F.col("word"))
    return est.withColumn("rk", F.row_number().over(w).cast("bigint"))


from stac_geoparquet_spark.operators.text import _sql_words

SKETCH_CMS_SQL = f"""
WITH words AS (
  SELECT unnest({_sql_words()}) AS word
  FROM documents
),
cells AS (
  SELECT d AS row,
         ('0x' || substr(md5('cms' || d || ':' || word), 1, 15))::BIGINT
           % {CMS_WIDTH} AS bucket,
         count(*) AS cell_n
  FROM words, unnest(range(0, {CMS_DEPTH})) AS t(d)
  GROUP BY 1, 2
),
top AS (
  SELECT word, count(*) AS exact_n
  FROM words GROUP BY word
  ORDER BY exact_n DESC, word LIMIT {CMS_TOP_K}
),
probes AS (
  SELECT word, exact_n, d AS row,
         ('0x' || substr(md5('cms' || d || ':' || word), 1, 15))::BIGINT
           % {CMS_WIDTH} AS bucket
  FROM top, unnest(range(0, {CMS_DEPTH})) AS t(d)
),
est AS (
  SELECT word, exact_n, min(cell_n) AS cms_est
  FROM probes JOIN cells USING (row, bucket)
  GROUP BY 1, 2
)
SELECT word, exact_n, cms_est,
       row_number() OVER (ORDER BY exact_n DESC, word) AS rk
FROM est
"""


QUERIES = {
    "sample_stratified": sample_stratified,
    "sample_fixed_k": sample_fixed_k,
    "stats_quantity_price": stats_quantity_price,
    "table_profile": table_profile,
    "outliers_iqr_price": outliers_iqr_price,
    "sketch_kmv_distinct": sketch_kmv_distinct,
}

# --------------------------------------------------------------------------
# KMV set-intersection sketch: estimated distinct-content overlap
# between every pair of corpus sources — the cross-dump dedup planning
# question ("how much of source B is already in source A?") answered
# from two mergeable K-minimum-values sketches instead of a full
# content join.  Estimator: merge the per-source bottom-K sketches,
# re-take the bottom K of the union; jaccard_est = fraction of those
# union minima present in BOTH sketches, union_est = (K-1)/u_k (exact
# when the union carries < K distinct hashes), inter_est = jaccard x
# union.  Deterministic given the md5 hash, so exactly oracle-checked.
# At 100 TB the sketches are 20 sources x K hashes — driver-trivial —
# while the exact answer needs a corpus-wide distinct join; the
# shuffles here are the (source, hash) distinct and two keyed windows.
# --------------------------------------------------------------------------
def kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    h = (
        "CAST(conv(substring(md5(concat('kmvsrc:', text)),"
        " 1, 15), 16, 10) AS BIGINT)"
    )
    hashes = (
        docs.where(F.col("text").isNotNull() & F.col("source").isNotNull())
        .selectExpr("source", f"{h} AS th")
        .distinct()
    )
    # Two-phase bottom-K (round-3 verdict fix; shared scaffold in
    # operators/twophase.py): a window partitioned by bare `source`
    # (~20 values) would sort each source's FULL distinct hash set on
    # one reducer at 100 TB.  Phase 1 keeps a local bottom-K per
    # (source, shuffle partition); phase 2 merges the bounded P*K
    # candidate set per source with an AGGREGATE — no window
    # partitioned by bare `source` anywhere in the plan.
    from stac_geoparquet_spark.operators.twophase import (
        local_topk,
        merge_bottomk,
    )

    candidates = local_topk(hashes, ["source"], [F.asc("th")], KMV_K)
    sk = merge_bottomk(candidates, ["source"], "th", KMV_K)
    srcs = sk.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(F.broadcast(srcs.alias("b")))
        .where(F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
    )
    sides = (
        pairs.join(sk.alias("s"), F.col("s.source") == F.col("src_a"))
        .select("src_a", "src_b", "th", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionByName(
            pairs.join(sk.alias("s"), F.col("s.source") == F.col("src_b"))
            .select("src_a", "src_b", "th", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
        )
    )
    merged = sides.groupBy("src_a", "src_b", "th").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    w_pair = Window.partitionBy("src_a", "src_b").orderBy("th")
    kept = merged.withColumn("rk", F.row_number().over(w_pair)).where(
        F.col("rk") <= KMV_K
    )
    return (
        kept.groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("u_size"),
            F.max(F.when(F.col("rk") == KMV_K, F.col("th"))).alias("kth"),
            F.sum(
                ((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("bigint")
            ).alias("n_both"),
        )
        .selectExpr(
            "src_a",
            "src_b",
            # CAST, not `* 1.0`: a 1.0 literal is DECIMAL in Spark SQL
            # and the result would serialize as decimal128 vs the
            # oracle's double
            "round(CAST(n_both AS DOUBLE) / u_size, 6) AS jaccard_est",
            f"""round(({_kmv_est_expr('kth', 'u_size')})
                  * (CAST(n_both AS DOUBLE) / u_size), 4) AS inter_est""",
        )
    )


KMV_OVERLAP_SQL = f"""
WITH hashes AS (
  SELECT DISTINCT source,
         ('0x' || substr(md5('kmvsrc:' || text), 1, 15))::BIGINT AS th
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
),
sk AS (
  SELECT source, th FROM (
    SELECT source, th,
           row_number() OVER (PARTITION BY source ORDER BY th) AS rk
    FROM hashes
  ) WHERE rk <= {KMV_K}
),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM (SELECT DISTINCT source FROM sk) a
  JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source
),
sides AS (
  SELECT src_a, src_b, th, 1 AS in_a, 0 AS in_b
  FROM pairs JOIN sk s ON s.source = src_a
  UNION ALL
  SELECT src_a, src_b, th, 0, 1
  FROM pairs JOIN sk s ON s.source = src_b
),
merged AS (
  SELECT src_a, src_b, th, max(in_a) AS in_a, max(in_b) AS in_b
  FROM sides GROUP BY 1, 2, 3
),
kept AS (
  SELECT * FROM (
    SELECT src_a, src_b, th, in_a, in_b,
           row_number() OVER (PARTITION BY src_a, src_b ORDER BY th) AS rk
    FROM merged
  ) WHERE rk <= {KMV_K}
)
SELECT src_a, src_b,
       round(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS jaccard_est,
       round(({_kmv_est_expr(f"max(CASE WHEN rk = {KMV_K} THEN th END)", "count(*)")})
             * (sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) * 1.0
                / count(*)), 4) AS inter_est
FROM kept
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# HyperLogLog distinct sketch per event type — the third custom
# mergeable NDV sketch next to KMV and CMS, and unlike Spark's opaque
# approx_count_distinct it is EXACTLY oracle-checkable because every
# piece is deterministic: 32-bit md5 hash -> 6-bit bucket + 26-bit
# suffix, rho = leading-zero rank via length(bin(w)) (identical
# minimal-width bin() on both engines), per-bucket max, then the
# standard estimator alpha * m^2 / Z with the small-range linear-
# counting correction.  Z = sum of 2^-M_j terms + one per empty
# bucket: each term is an exact binary fraction spanning < 53 bits,
# so the sum is EXACT in a double regardless of merge order — the
# only libm call is the linear-counting ln, under the usual round-4
# margin.
#
# Scale shape: one map-side-combined aggregate to m*|types| rows
# (bounded by the SKETCH size, not data), one tiny per-type fold —
# mergeability (max per bucket) is what makes it maintainable in the
# streaming/rollup.py pattern.  The exact NDV rides along broadcast
# for the error column.
# --------------------------------------------------------------------------
HLL_M = 64  # buckets (2^6)
HLL_ALPHA = 0.709  # alpha_64


def _hll_hashed(ev: DataFrame) -> DataFrame:
    # NULL user_id is excluded explicitly: it hashes to NULL, which
    # Spark's groupBy would keep as its own group while DuckDB's
    # count(DISTINCT) drops it — an off-by-one the null-events gate
    # caught; a NULL key has no register contribution in any case
    h = (
        "CAST(conv(substring(md5(concat('hll:', CAST(user_id AS STRING))),"
        " 1, 8), 16, 10) AS BIGINT)"
    )
    return ev.where(F.col("user_id").isNotNull()).selectExpr(
        "event_type", f"{h} AS uh"
    )


def _hll_state(hashed: DataFrame) -> DataFrame:
    """The sketch's mergeable state: per-(event_type, bucket) max rho.
    Register-wise max IS the associative merge, so union-then-regroup
    of any delta partition of the input yields identical state."""
    return (
        hashed.selectExpr(
            "event_type",
            f"uh % {HLL_M} AS bucket",
            f"CASE WHEN uh div {HLL_M} = 0 THEN 27"
            f" ELSE 27 - length(bin(uh div {HLL_M})) END AS rho",
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )


def _hll_present(state: DataFrame) -> DataFrame:
    """(event_type, hll_estimate, buckets_used) from sketch state."""
    folded = state.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("used"),
        F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("z_used"),
    )
    m = float(HLL_M)
    v = F.lit(HLL_M) - F.col("used")
    z = F.col("z_used") + v.cast("double")
    e_raw = F.lit(HLL_ALPHA * m * m) / z
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(m) * F.log(F.lit(m) / v.cast("double")),
    ).otherwise(e_raw)
    return folded.select(
        "event_type",
        F.round(est, 4).alias("hll_estimate"),
        F.col("used").alias("buckets_used"),
    )


def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    hashed = _hll_hashed(ev)
    exact = (
        hashed.groupBy("event_type", "uh")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("ndv_exact"))
    )
    return (
        _hll_present(_hll_state(hashed))
        .join(F.broadcast(exact), "event_type")
        .select("event_type", "ndv_exact", "hll_estimate", "buckets_used")
    )


def sketch_hll_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance proof for the CUSTOM HLL: fold three out-of-order
    deltas of the event stream into the resident sketch state (union +
    register-wise max regroup — history rows are never rescanned, only
    |state| + |delta-state| rows shuffle per cycle) and present the
    estimate.  The DuckDB oracle recomputes the sketch from ALL events
    in one pass, so the driver's value-hash match proves
    maintain-then-estimate == build-once EXACTLY — something the
    built-in datasketches rollup (streaming/rollup.py) cannot offer its
    oracle, which must exclude the opaque estimate column."""
    ev = read_table(spark, sf_dir, "events")
    state: DataFrame | None = None
    for part in (2, 0, 1):  # deliberately out of arrival order
        delta = _hll_state(
            _hll_hashed(ev.where(F.col("event_id") % 3 == part))
        )
        state = (
            delta
            if state is None
            else state.unionByName(delta)
            .groupBy("event_type", "bucket")
            .agg(F.max("m_j").alias("m_j"))
        )
    return _hll_present(state)


SKETCH_HLL_SQL = f"""
WITH hashed AS (
  SELECT event_type,
         ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 8))
           ::BIGINT AS uh
  FROM events
  WHERE user_id IS NOT NULL
),
buckets AS (
  SELECT event_type, uh % {HLL_M} AS bucket,
         max(CASE WHEN uh // {HLL_M} = 0 THEN 27
                  ELSE 27 - length(bin(uh // {HLL_M})) END) AS m_j
  FROM hashed GROUP BY 1, 2
),
folded AS (
  SELECT event_type, count(*) AS used,
         sum(pow(2.0, -m_j)) AS z_used
  FROM buckets GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(count(DISTINCT uh) AS BIGINT) AS ndv_exact
  FROM hashed GROUP BY event_type
)
SELECT f.event_type, e.ndv_exact,
       round(CASE WHEN {HLL_ALPHA} * {HLL_M}.0 * {HLL_M}
                       / (z_used + ({HLL_M} - used)) <= {2.5 * HLL_M}
                   AND used < {HLL_M}
                  THEN {HLL_M}.0 * ln({HLL_M}.0 / ({HLL_M} - used))
                  ELSE {HLL_ALPHA} * {HLL_M}.0 * {HLL_M}
                       / (z_used + ({HLL_M} - used))
             END, 4) AS hll_estimate,
       CAST(used AS BIGINT) AS buckets_used
FROM folded f JOIN exact e USING (event_type)
"""


# oracle for the incremental variant: ONE-PASS recompute (no deltas) —
# equality with the three-delta fold is the mergeability claim itself
SKETCH_HLL_INCR_SQL = f"""
WITH hashed AS (
  SELECT event_type,
         ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 8))
           ::BIGINT AS uh
  FROM events
  WHERE user_id IS NOT NULL
),
buckets AS (
  SELECT event_type, uh % {HLL_M} AS bucket,
         max(CASE WHEN uh // {HLL_M} = 0 THEN 27
                  ELSE 27 - length(bin(uh // {HLL_M})) END) AS m_j
  FROM hashed GROUP BY 1, 2
),
folded AS (
  SELECT event_type, count(*) AS used,
         sum(pow(2.0, -m_j)) AS z_used
  FROM buckets GROUP BY event_type
)
SELECT event_type,
       round(CASE WHEN {HLL_ALPHA} * {HLL_M}.0 * {HLL_M}
                       / (z_used + ({HLL_M} - used)) <= {2.5 * HLL_M}
                   AND used < {HLL_M}
                  THEN {HLL_M}.0 * ln({HLL_M}.0 / ({HLL_M} - used))
                  ELSE {HLL_ALPHA} * {HLL_M}.0 * {HLL_M}
                       / (z_used + ({HLL_M} - used))
             END, 4) AS hll_estimate,
       CAST(used AS BIGINT) AS buckets_used
FROM folded
"""


# --------------------------------------------------------------------------
# HLL set algebra — pairwise event-type audience overlap via sketch
# UNION (register-wise max) + inclusion–exclusion.  THE reason HLL
# earns its place over exact count-distinct at 100 TB: the |types|²/2
# pair estimates all derive from the ONE per-type register table (m
# ints per type), so adding a pair costs a 64-row merge, never a data
# scan.  est_intersection = est_a + est_b − est_union on the
# rounded(,4) singles — a fixed-order 2-op float expression, identical
# on both engines.  The exact per-pair intersection rides along for
# reference, computed from the DEDUPED (type, user) pairs — a within-
# user self-join whose fan-out is bounded by the type ALPHABET, so it
# stays honest at any event volume (the sf-scale estimator-regime
# check lives with the other HLL rows in the adversarial sweep).
# Z-sums are sums of dyadic 2^-m_j terms — exact in a double under
# any merge order (the sketch_hll_distinct argument).
# --------------------------------------------------------------------------
def hll_event_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators._io import fenced

    ev = read_table(spark, sf_dir, "events")
    hashed = _hll_hashed(ev)
    # r10: the sketch state is consumed FOUR times below (singles,
    # the type list, and both sides of the pair-keyed union) — without
    # a fence each consumer re-ran the events scan + register
    # aggregate (no CSE; guide §2.4).  State is alphabet-bounded
    # (≤ |event types| × 64 register rows), so the fence contract
    # holds; register values are deterministic maxima, so the fenced
    # rows are bit-identical to each re-computation.
    state = fenced(_hll_state(hashed))
    singles = _hll_present(state).select(
        "event_type", F.col("hll_estimate").alias("est")
    )
    types = state.select("event_type").distinct()
    pairs = (
        types.alias("a")
        .join(
            types.alias("b"),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
    )
    ua = state.join(
        F.broadcast(pairs), F.col("event_type") == F.col("type_a")
    ).select("type_a", "type_b", "bucket", "m_j")
    ub = state.join(
        F.broadcast(pairs), F.col("event_type") == F.col("type_b")
    ).select("type_a", "type_b", "bucket", "m_j")
    # union-of-sketches: register-wise max over the two types' states
    pstate = (
        ua.union(ub)
        .groupBy("type_a", "type_b", "bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    pfold = pstate.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("used"),
        F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("z_used"),
    )
    # same presentation fold as _hll_present, keyed by the pair
    # (duplicated rather than refactored so the single-type readers'
    # code path — and their driver rows — stay untouched)
    m = float(HLL_M)
    v = F.lit(HLL_M) - F.col("used")
    z = F.col("z_used") + v.cast("double")
    e_raw = F.lit(HLL_ALPHA * m * m) / z
    est_u = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(m) * F.log(F.lit(m) / v.cast("double")),
    ).otherwise(e_raw)
    punion = pfold.select(
        "type_a", "type_b", F.round(est_u, 4).alias("est_union")
    )
    du = (
        ev.where(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .distinct()
    )
    inter = (
        du.alias("x")
        .join(
            du.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("est").alias("est_a")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("est").alias("est_b")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .join(punion, ["type_a", "type_b"])
        .join(inter, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "est_a",
            "est_b",
            "est_union",
            # inclusion–exclusion on already-rounded values; +0.0
            # normalizes a −0.0 from near-total-overlap cancellation
            (
                F.round(
                    F.col("est_a") + F.col("est_b") - F.col("est_union"), 4
                )
                + F.lit(0.0)
            ).alias("est_intersection"),
            F.coalesce("n_inter", F.lit(0)).cast("bigint").alias(
                "inter_exact"
            ),
        )
    )


_HLL_EST_CASE = f"""CASE WHEN {HLL_ALPHA} * {HLL_M}.0 * {HLL_M}
                       / (z_used + ({HLL_M} - used)) <= {2.5 * HLL_M}
                   AND used < {HLL_M}
                  THEN {HLL_M}.0 * ln({HLL_M}.0 / ({HLL_M} - used))
                  ELSE {HLL_ALPHA} * {HLL_M}.0 * {HLL_M}
                       / (z_used + ({HLL_M} - used))
             END"""

HLL_OVERLAP_SQL = f"""
WITH hashed AS (
  SELECT event_type,
         ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 8))
           ::BIGINT AS uh
  FROM events
  WHERE user_id IS NOT NULL
),
state AS (
  SELECT event_type, uh % {HLL_M} AS bucket,
         max(CASE WHEN uh // {HLL_M} = 0 THEN 27
                  ELSE 27 - length(bin(uh // {HLL_M})) END) AS m_j
  FROM hashed GROUP BY 1, 2
),
sfold AS (
  SELECT event_type, count(*) AS used,
         sum(pow(2.0, -m_j)) AS z_used
  FROM state GROUP BY event_type
),
singles AS (
  SELECT event_type, round({_HLL_EST_CASE}, 4) AS est FROM sfold
),
types AS (SELECT DISTINCT event_type FROM state),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM types a JOIN types b ON a.event_type < b.event_type
),
u AS (
  SELECT p.type_a, p.type_b, s.bucket, s.m_j
  FROM pairs p JOIN state s ON s.event_type = p.type_a
  UNION ALL
  SELECT p.type_a, p.type_b, s.bucket, s.m_j
  FROM pairs p JOIN state s ON s.event_type = p.type_b
),
pstate AS (
  SELECT type_a, type_b, bucket, max(m_j) AS m_j
  FROM u GROUP BY 1, 2, 3
),
pfold AS (
  SELECT type_a, type_b, count(*) AS used,
         sum(pow(2.0, -m_j)) AS z_used
  FROM pstate GROUP BY 1, 2
),
punion AS (
  SELECT type_a, type_b, round({_HLL_EST_CASE}, 4) AS est_union
  FROM pfold
),
du AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE user_id IS NOT NULL
),
inter AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM du x
  JOIN du y ON x.user_id = y.user_id AND x.event_type < y.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, sa.est AS est_a, sb.est AS est_b,
       pu.est_union,
       round(sa.est + sb.est - pu.est_union, 4) + 0.0 AS est_intersection,
       CAST(coalesce(i.n_inter, 0) AS BIGINT) AS inter_exact
FROM pairs p
JOIN singles sa ON sa.event_type = p.type_a
JOIN singles sb ON sb.event_type = p.type_b
JOIN punion pu ON pu.type_a = p.type_a AND pu.type_b = p.type_b
LEFT JOIN inter i ON i.type_a = p.type_a AND i.type_b = p.type_b
"""


# --------------------------------------------------------------------------
# MinHash SIGNATURE source similarity — the fixed-size mergeable
# companion to kmv_source_overlap.  Where KMV keeps each source's
# bottom-K hash SET (variable content, two-phase bottom-K merge),
# this keeps an m-slot signature: sig_i(source) = min over the
# source's texts of h_i(text), m independent md5-derived hash
# families.  E[fraction of agreeing slots] = Jaccard(text sets) — the
# classic Broder estimator, and the state is m fixed ints per source,
# mergeable by elementwise min (the shape a streaming/partitioned
# rollup keeps per shard).
#
# Scale shape: ONE groupBy(source) with m min-aggregates (map-side
# combined — each mapper emits one m-slot row per source, regardless
# of corpus size), then a broadcast self-join of the |sources|-row
# signature table.  No explode: the m hashes are m in-row expressions,
# so the corpus scans once and nothing data-sized shuffles.  All
# outputs are exact ints except the final round(m_match/m, 6)
# division of two small ints.
#
# Reads the CANONICAL corpus (docs_canon, min-by-id collapse) like
# every other doc-table op: min-hash is dup-insensitive only for
# identical payloads, so a re-ingested duplicate doc_id with a
# DIFFERENT payload would otherwise contribute both variants to the
# source signature (r06 ADVICE).
# --------------------------------------------------------------------------
MHSIG_M = 32


@const_cols
def _mhsig_min_cols():
    """The m min-hash aggregate columns — ~450 py4j node builds from
    module constants only, memoized per process (measured 0.5-2.2 s
    per construction before the memo)."""
    return tuple(
        F.min(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"mh{i}:"), F.col("text"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
        ).alias(f"h{i}")
        for i in range(MHSIG_M)
    )


@const_cols
def _mhsig_n_match():
    """Matching-slot count over the aliased self-join columns."""
    n = (F.col("a.h0") == F.col("b.h0")).cast("bigint")
    for i in range(1, MHSIG_M):
        n = n + (F.col(f"a.h{i}") == F.col(f"b.h{i}")).cast("bigint")
    return n


def minhash_signature_source_sim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from stac_geoparquet_spark.operators._canon import docs_canon

    docs = docs_canon(spark, sf_dir)
    base = docs.where(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    sig = base.groupBy("source").agg(*_mhsig_min_cols())
    a, b = sig.alias("a"), sig.alias("b")
    n_match = _mhsig_n_match()
    return (
        a.join(F.broadcast(b), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            n_match.alias("n_match"),
            F.round(
                n_match.cast("double") / F.lit(float(MHSIG_M)), 6
            ).alias("jaccard_sig"),
        )
    )


def _mhsig_oracle_sql() -> str:
    mins = ", ".join(
        f"min(('0x' || substr(md5('mh{i}:' || text), 1, 15))::BIGINT) AS h{i}"
        for i in range(MHSIG_M)
    )
    match = " + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END"
        for i in range(MHSIG_M)
    )
    from stac_geoparquet_spark.operators._canon import DOCS_CANON_SQL

    return f"""
WITH sig AS (
  SELECT source, {mins}
  FROM {DOCS_CANON_SQL} documents
  WHERE text IS NOT NULL AND source IS NOT NULL
  GROUP BY source
)
SELECT a.source AS src_a, b.source AS src_b,
       CAST({match} AS BIGINT) AS n_match,
       round(CAST({match} AS DOUBLE) / {MHSIG_M}, 6) AS jaccard_sig
FROM sig a JOIN sig b ON a.source < b.source
"""


# --------------------------------------------------------------------------
# Closed-form per-group OLS: quantity regressed on discount per part
# brand — "does discounting move volume, and where" — the classic
# price-response screen, and the template for any per-segment linear
# fit (one pass, no solver).  slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2),
# intercept = ybar - slope*xbar, r2 = cov^2 / (varx*vary).
#
# Exactness contract: x is quantized to discount CENTS and y to whole
# units BEFORE aggregation, so n/Sx/Sy/Sxy/Sxx/Syy are EXACT int64
# sums (Sxy <= n*10*50 stays under 2^53 up to ~1.8e12 rows per brand —
# far past 100-TB scale; the bound is stated, winsorize-style).  The
# normal-equation products are then evaluated in doubles with the SAME
# expression shape on both engines — pure IEEE *, -, / (no libm), so
# slope/intercept/r2 are bit-identical cross-engine before the final
# round(,6); a constant-x group makes varx EXACTLY 0.0 on both sides
# (identical rounding of identical products) and nullif returns NULL
# rather than inf.  One keyed aggregate after a partkey equi-join;
# everything partial-aggregates map-side.
# --------------------------------------------------------------------------
def ols_discount_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    xy = (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(
            F.col("l_discount").isNotNull()
            & F.col("l_quantity").isNotNull()
            & F.col("p_brand").isNotNull()
        )
        .select(
            "p_brand",
            F.round(F.col("l_discount") * 100).cast("bigint").alias("x"),
            F.round(F.col("l_quantity")).cast("bigint").alias("y"),
        )
    )
    g = xy.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    varx = nd * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    vary = nd * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    slope = cov / F.nullif(varx, F.lit(0.0))
    # + 0.0 normalizes -0.0 from a tiny-negative rounding
    return g.select(
        "p_brand",
        "n",
        (F.round(slope, 6) + F.lit(0.0)).alias("slope"),
        (
            F.round(
                (F.col("sy").cast("double") - slope * F.col("sx")) / nd, 6
            )
            + F.lit(0.0)
        ).alias("intercept"),
        (
            F.round(
                cov * cov / F.nullif(varx * vary, F.lit(0.0)), 6
            )
            + F.lit(0.0)
        ).alias("r2"),
    )


OLS_SQL = """
WITH xy AS (
  SELECT p_brand,
         CAST(round(l_discount * 100) AS BIGINT) AS x,
         CAST(round(l_quantity) AS BIGINT) AS y
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
    AND p_brand IS NOT NULL
),
g AS (
  SELECT p_brand,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM xy GROUP BY p_brand
)
SELECT p_brand, n,
       round(cov / nullif(varx, 0.0), 6) + 0.0 AS slope,
       round((CAST(sy AS DOUBLE) - (cov / nullif(varx, 0.0))
              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) + 0.0
         AS intercept,
       round(cov * cov / nullif(varx * vary, 0.0), 6) + 0.0 AS r2
FROM (
  SELECT p_brand, n, sy, sx,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx,
         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary
  FROM g
) t
"""


QUERIES |= {
    "ols_discount_response": ols_discount_response,
    "hll_event_type_overlap": hll_event_type_overlap,
    "minhash_signature_source_sim": minhash_signature_source_sim,
    "sketch_cms_heavy_hitters": sketch_cms_heavy_hitters,
    "kmv_source_overlap": kmv_source_overlap,
    "sketch_hll_distinct": sketch_hll_distinct,
    "sketch_hll_incremental": sketch_hll_incremental,
}

ORACLE = {
    "sample_stratified": _sample_stratified_oracle(),
    "sample_fixed_k": _sample_fixed_k_oracle(),
    "stats_quantity_price": STATS_SQL,
    "table_profile": _table_profile_oracle(),
    "outliers_iqr_price": OUTLIERS_IQR_SQL,
    "sketch_kmv_distinct": SKETCH_KMV_SQL,
    "ols_discount_response": OLS_SQL,
    "hll_event_type_overlap": HLL_OVERLAP_SQL,
    "minhash_signature_source_sim": _mhsig_oracle_sql(),
    "sketch_cms_heavy_hitters": SKETCH_CMS_SQL,
    "kmv_source_overlap": KMV_OVERLAP_SQL,
    "sketch_hll_distinct": SKETCH_HLL_SQL,
    "sketch_hll_incremental": SKETCH_HLL_INCR_SQL,
}


# --------------------------------------------------------------------------
# Exact quantiles by two-phase distributed selection (round 9): p25 /
# p50 / p75 of per-user total event value — a domain whose DISTINCT
# count grows with the user population, i.e. exactly the input class
# the registry's exact-percentile sweep bans (Spark's `percentile`
# merges an OpenHashMap of distinct values into ONE task).  This
# operator is the scale path made first-class: selection, not a
# buffered percentile.
#
# Phase 1 range-partitions the per-user totals on the unique sort key
# (cents, user_id), so spark_partition_id() is a monotone bucket id
# along the global order and the in-partition row_number window runs
# on the SCALING partition key.  Phase 2 is a P-row offset table
# (P = shuffle parallelism — config-bounded, not data-bounded) whose
# prefix sum + the 1-row total are broadcast back; the type-1 quantile
# rank floor((n-1)*q) is matched with an equi-join, never collected.
# Both branches hang off the ONE range exchange; Spark's ReuseExchange
# dedupes it, which also guarantees both see identical sampled
# boundaries (select_token_budget precedent, plan-pinned).  If a
# session disables exchange reuse, fall back to the exact single-task
# global window (correct, not scale-shaped — the price of the conf).
#
# Determinism: per-user totals are EXACT int64 cent sums (each value
# rounded to cents per row — the repo's cent-quantization convention),
# the sort key is total-ordered by (cents, user_id), and the rank
# arithmetic is integer; the only doubles are the final round(,2)
# display division and the (n-1)*q rank product (n < 2^52 — exact).
# --------------------------------------------------------------------------
def quantiles_user_value_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    per_user = (
        ev.where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("row_cents"),
        )
        .groupBy("user_id")
        .agg(F.sum("row_cents").alias("cents"))
    )
    qs = F.explode(
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    ).alias("quantile")

    def finish(ranked: DataFrame, tot: DataFrame) -> DataFrame:
        quants = tot.select(qs, "n").select(
            "quantile",
            F.expr(
                "CAST(floor((CAST(n AS DOUBLE) - 1.0) * quantile)"
                " AS BIGINT)"
            ).alias("target"),
        )
        return ranked.join(
            F.broadcast(quants), ranked.r == F.col("target")
        ).select(
            "quantile",
            F.round(F.col("cents").cast("double") / 100.0, 2).alias(
                "user_value"
            ),
        )

    if spark.conf.get("spark.sql.exchange.reuse", "true").lower() == "false":
        ranked = per_user.select(
            "cents",
            (
                F.row_number()
                .over(Window.orderBy(F.asc("cents"), F.asc("user_id")))
                .cast("bigint")
                - 1
            ).alias("r"),
        )
        tot = per_user.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        return finish(ranked, tot)

    # Explicit numPartitions pins the shuffle origin to
    # REPARTITION_BY_NUM, which AQE's coalescer leaves alone — without
    # it the two consumers of the reused range exchange could in
    # principle be re-planned with DIFFERENT post-coalesce partition
    # numbering, silently misaligning spark_partition_id() between the
    # counts branch and the ranked branch (r07 ADVICE).  The count is
    # the session's configured shuffle parallelism, so the scale shape
    # is unchanged.
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    ranged = per_user.repartitionByRange(
        nparts, F.asc("cents"), F.asc("user_id")
    ).withColumn("part", F.spark_partition_id().cast("bigint"))
    w = Window.partitionBy("part").orderBy(F.asc("cents"), F.asc("user_id"))
    counts = ranged.groupBy("part").agg(
        F.count(F.lit(1)).alias("pc")
    )
    offsets = counts.select(
        "part",
        F.coalesce(
            F.sum("pc").over(
                Window.orderBy("part").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("offset"),
    )
    tot = counts.agg(F.coalesce(F.sum("pc"), F.lit(0)).alias("n"))
    ranked = (
        ranged.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .join(F.broadcast(offsets), "part")
        .withColumn("r", F.col("offset") + F.col("rn") - 1)
    )
    return finish(ranked, tot)


QUANTILES_EXACT_SQL = """
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
),
ranked AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents, user_id) AS BIGINT) - 1
           AS r
  FROM per_user
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per_user),
quants AS (SELECT CAST(unnest([0.25, 0.5, 0.75]) AS DOUBLE) AS quantile)
SELECT quantile,
       round(CAST(cents AS DOUBLE) / 100.0, 2) AS user_value
FROM ranked CROSS JOIN n CROSS JOIN quants
WHERE r = CAST(floor((CAST(n AS DOUBLE) - 1.0) * quantile) AS BIGINT)
"""


QUERIES["quantiles_user_value_exact"] = quantiles_user_value_exact
ORACLE["quantiles_user_value_exact"] = QUANTILES_EXACT_SQL


# --------------------------------------------------------------------------
# Mergeable histogram quantiles (round 9): the APPROXIMATE companion
# to quantiles_user_value_exact — a fixed value-domain histogram
# (bucket = floor(cents / 2^16), ~$655 buckets) whose counts are a
# MERGEABLE sketch (map-side partial agg, rollup-friendly, the
# KMV/CMS/HLL convention), then each requested quantile interpolates
# linearly inside its bucket.  At 100 TB the exact path pays a full
# range exchange; the histogram path is ONE keyed aggregate over a
# value-domain-bounded table plus tiny-window math, and the answer is
# off by at most one bucket width (lo/hi bounds reported per row).
#
# Determinism: the bucket id is floor(cents / W) computed in DOUBLE
# (exact for |cents| < 2^53; floor — NOT integer division, whose
# truncation direction differs between engines on negatives), the
# cumulative window runs over the bounded bucket list (same
# value-domain bound as orders_mann_whitney_u's offsets: at most
# ceil(domain/W) rows at ANY corpus size), and the interpolation is
# identical expression text on both engines.
# --------------------------------------------------------------------------
HIST_BUCKET_CENTS = 1 << 16
HIST_QUANTILES = (0.5, 0.9, 0.99)

_HIST_EST = (
    "round((CAST(bucket AS DOUBLE) * {w}"
    " + {w} * (q * CAST(n AS DOUBLE) - CAST(cum_before AS DOUBLE))"
    " / CAST(n_b AS DOUBLE)) / 100.0, 6)"
).format(w=float(HIST_BUCKET_CENTS))


def hist_quantiles_from_user_totals(
    spark: SparkSession, per_user: DataFrame
) -> DataFrame:
    """The presentation side of the histogram-quantile sketch: given a
    (user_id, cents) table (batch-built here, incrementally maintained
    in streaming/histogram.py), bucket, cumsum over the bounded bucket
    list, and interpolate each requested quantile."""
    from pyspark.sql import Window

    hist = per_user.groupBy(
        F.expr(
            f"CAST(floor(CAST(cents AS DOUBLE) / {HIST_BUCKET_CENTS}.0)"
            " AS BIGINT)"
        ).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    # both windows run over the value-domain-bounded bucket list —
    # at most ceil(cents_domain / 2^16) rows at any corpus size
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy()
    cum = hist.select(
        "bucket",
        "n_b",
        F.coalesce(F.sum("n_b").over(w_cum), F.lit(0))
        .cast("bigint")
        .alias("cum_before"),
        F.sum("n_b").over(w_all).cast("bigint").alias("n"),
    )
    qlist = ", ".join(f"CAST({q} AS DOUBLE)" for q in HIST_QUANTILES)
    quants = spark.range(1).selectExpr(
        f"explode(array({qlist})) AS q"
    )
    sel = cum.join(
        F.broadcast(quants),
        (F.expr("q * CAST(n AS DOUBLE)") > F.col("cum_before").cast("double"))
        & (
            F.expr("q * CAST(n AS DOUBLE)")
            <= (F.col("cum_before") + F.col("n_b")).cast("double")
        ),
    )
    return sel.selectExpr(
        "q AS quantile",
        "n AS n_users",
        f"{_HIST_EST} AS est_value_usd",
        f"round(CAST(bucket AS DOUBLE) * {float(HIST_BUCKET_CENTS)}"
        " / 100.0, 6) AS bucket_lo_usd",
        f"round((CAST(bucket AS DOUBLE) + 1.0) * {float(HIST_BUCKET_CENTS)}"
        " / 100.0, 6) AS bucket_hi_usd",
    )


def user_cents_totals(ev: DataFrame) -> DataFrame:
    """The (user_id, cents) table both the batch op and the streaming
    maintenance build — exact int64 cent sums, NULL user/value rows
    excluded on both engines."""
    return (
        ev.where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("row_cents"),
        )
        .groupBy("user_id")
        .agg(F.sum("row_cents").alias("cents"))
    )


def approx_quantiles_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return hist_quantiles_from_user_totals(spark, user_cents_totals(ev))


APPROX_QUANTILES_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
),
hist AS (
  SELECT CAST(floor(CAST(cents AS DOUBLE) / {HIST_BUCKET_CENTS}.0)
              AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_b
  FROM per_user GROUP BY 1
),
cum AS (
  SELECT bucket, n_b,
         CAST(coalesce(sum(n_b) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before,
         CAST(sum(n_b) OVER () AS BIGINT) AS n
  FROM hist
),
qs AS (
  SELECT CAST(0.5 AS DOUBLE) AS q
  UNION ALL SELECT CAST(0.9 AS DOUBLE)
  UNION ALL SELECT CAST(0.99 AS DOUBLE)
)
SELECT q AS quantile,
       n AS n_users,
       {_HIST_EST} AS est_value_usd,
       round(CAST(bucket AS DOUBLE) * {float(HIST_BUCKET_CENTS)}
             / 100.0, 6) AS bucket_lo_usd,
       round((CAST(bucket AS DOUBLE) + 1.0) * {float(HIST_BUCKET_CENTS)}
             / 100.0, 6) AS bucket_hi_usd
FROM cum JOIN qs
  ON q * CAST(n AS DOUBLE) > CAST(cum_before AS DOUBLE)
 AND q * CAST(n AS DOUBLE) <= CAST(cum_before + n_b AS DOUBLE)
"""


QUERIES["approx_quantiles_histogram"] = approx_quantiles_histogram
ORACLE["approx_quantiles_histogram"] = APPROX_QUANTILES_SQL

"""Corpus / pipeline audit operators — round 8.

The screens a curation stack runs over its OWN artifacts before
promoting a snapshot: Benford first-digit conformance of the money
column (fabricated or unit-mixed data jumps off the expected curve),
last-touch revenue attribution over the canonical event sequence,
near-duplicate pairs that LEAK across the train/holdout split (the
eval-integrity audit — a near-dup of a holdout doc inside train
contaminates the eval), source purity of near-duplicate clusters
(does duplication travel across sources, i.e. syndication, or within
one source, i.e. re-crawls), and per-class embedding centroid drift
between deterministic halves (embedder-regression screen).  The
reference is a STAC conversion library with no analytics surface
(SURVEY §1); these extend SURVEY §2.7 and the LLM-pipeline family.

Scale notes (100 TB):
- split_leakage_audit and dedup_cluster_purity ride the SHARED
  session-cached minhash pair / cluster tables (built once, fenced) —
  their own cost is one join / one keyed aggregate over the pair set,
  which is orders of magnitude smaller than the corpus;
- the attribution window partitions by the scaling user_id; the
  Benford + drift operators are single map-side-combining aggregates;
- floats follow the house rules: per-row cent/micro quantization to
  exact int64 BEFORE any sum, one fixed-shape double expression per
  output statistic, ordered folds (F.aggregate == DuckDB list_sum
  order) for the dimension-axis reductions, round(,6) + 0.0.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._exprs import const_cols
from stac_geoparquet_spark.operators._io import read_table


# --------------------------------------------------------------------------
# Benford first-digit audit of order totals: observed leading-digit
# shares vs log10(1 + 1/d), with the per-digit chi-square term — the
# classic fabricated-data / mixed-units screen.  The leading digit is
# taken from the INTEGER CENTS string (cents = round(price*100): x100
# does not change the leading significant digit, and substr of an
# integer's decimal rendering is engine-identical where float
# formatting is not).  One map-side-combining aggregate on the
# 9-value digit key (bounded key is fine for a groupBy), one
# broadcast totals row; expected shares and chi terms are fixed-shape
# double expressions of the exact int counts.  Zero/NULL totals carry
# no leading digit and are excluded on both engines.
# --------------------------------------------------------------------------
def orders_benford_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    per = (
        read_table(spark, sf_dir, "orders")
        .select(cents.alias("cents"))
        .where(F.col("cents").isNotNull() & (F.col("cents") > 0))
        .select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    tot = per.agg(F.sum("n_orders").alias("t"))
    return per.join(F.broadcast(tot)).selectExpr(
        "digit",
        "n_orders",
        "round(CAST(n_orders AS DOUBLE) / CAST(t AS DOUBLE), 6)"
        " AS obs_share",
        "round(ln(CAST(digit + 1 AS DOUBLE) / CAST(digit AS DOUBLE))"
        " / ln(10.0), 6) AS exp_share",
        # chi term uses the UNROUNDED expected count so the statistic
        # is the textbook one; the whole term is one fixed-shape
        # double expression over (n_orders, t, digit)
        """round(
             (CAST(n_orders AS DOUBLE)
              - CAST(t AS DOUBLE) * (ln(CAST(digit + 1 AS DOUBLE)
                                        / CAST(digit AS DOUBLE)) / ln(10.0)))
             * (CAST(n_orders AS DOUBLE)
                - CAST(t AS DOUBLE) * (ln(CAST(digit + 1 AS DOUBLE)
                                          / CAST(digit AS DOUBLE)) / ln(10.0)))
             / (CAST(t AS DOUBLE) * (ln(CAST(digit + 1 AS DOUBLE)
                                        / CAST(digit AS DOUBLE)) / ln(10.0))),
             6) + 0.0 AS chi2_term""",
    )


BENFORD_SQL = """
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
),
per AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM c WHERE cents IS NOT NULL AND cents > 0
  GROUP BY 1
),
tot AS (SELECT CAST(sum(n_orders) AS BIGINT) AS t FROM per)
SELECT digit, n_orders,
       round(CAST(n_orders AS DOUBLE) / CAST(t AS DOUBLE), 6) AS obs_share,
       round(ln(CAST(digit + 1 AS DOUBLE) / CAST(digit AS DOUBLE))
             / ln(10.0), 6) AS exp_share,
       round(
         (CAST(n_orders AS DOUBLE)
          - CAST(t AS DOUBLE) * (ln(CAST(digit + 1 AS DOUBLE)
                                    / CAST(digit AS DOUBLE)) / ln(10.0)))
         * (CAST(n_orders AS DOUBLE)
            - CAST(t AS DOUBLE) * (ln(CAST(digit + 1 AS DOUBLE)
                                      / CAST(digit AS DOUBLE)) / ln(10.0)))
         / (CAST(t AS DOUBLE) * (ln(CAST(digit + 1 AS DOUBLE)
                                    / CAST(digit AS DOUBLE)) / ln(10.0))),
         6) + 0.0 AS chi2_term
FROM per CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# Last-touch revenue attribution: each purchase's value (quantized to
# exact cents PER ROW before any sum) is credited to the nearest
# preceding non-purchase event type in the user's canonical sequence
# ('direct' when the purchase opens the sequence) — the standard
# marketing-attribution readout, and the carry-forward-over-sequence
# window shape (last_value IGNORE NULLS) that session enrichment
# uses.  Same sequence contract as events_markov_transitions:
# canonical events, (ts, event_id) total order, NULL user/ts/type
# rows carry no sequence identity.  One window over the scaling
# user_id, one keyed aggregate on the bounded touch type, one
# broadcast totals row.
# --------------------------------------------------------------------------
def events_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from stac_geoparquet_spark.operators._canon import events_canon

    ev = events_canon(spark, sf_dir).where(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carry = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    purchases = (
        ev.select(
            "event_type",
            F.coalesce(
                F.round(F.col("value") * 100).cast("bigint"), F.lit(0)
            ).alias("cents"),
            carry.alias("carry"),
        )
        .where(F.col("event_type") == "purchase")
        .select(F.coalesce(F.col("carry"), F.lit("direct")).alias("touch"), "cents")
    )
    # r11: the total rides an unpartitioned window over the type-
    # alphabet-bounded rollup instead of the r10 fence + 1-row
    # aggregate + broadcast join — ONE consumer, so the window + scan
    # chain still runs once but the construction-time checkpoint job
    # and the per-call broadcast disappear (classifier_lift_gains
    # move; results identical, oracle unchanged)
    per = purchases.groupBy("touch").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("cents").alias("attributed_cents"),
    )
    per = per.withColumn(
        "t",
        F.sum("attributed_cents").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    return per.selectExpr(
        "touch",
        "n_purchases",
        "attributed_cents",
        "CASE WHEN t = 0 THEN NULL ELSE"
        " round(CAST(attributed_cents AS DOUBLE) / CAST(t AS DOUBLE), 6)"
        " END AS revenue_share",
    )


def _attribution_sql() -> str:
    from stac_geoparquet_spark.operators._canon import EVENTS_CANON_SQL

    return f"""
WITH seq AS (
  SELECT event_type,
         coalesce(CAST(round(value * 100) AS BIGINT), 0) AS cents,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry
  FROM {EVENTS_CANON_SQL} events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
),
per AS (
  SELECT coalesce(carry, 'direct') AS touch,
         CAST(count(*) AS BIGINT) AS n_purchases,
         CAST(sum(cents) AS BIGINT) AS attributed_cents
  FROM seq WHERE event_type = 'purchase'
  GROUP BY 1
),
tot AS (SELECT CAST(sum(attributed_cents) AS BIGINT) AS t FROM per)
SELECT touch, n_purchases, attributed_cents,
       CASE WHEN t = 0 THEN NULL ELSE
         round(CAST(attributed_cents AS DOUBLE) / CAST(t AS DOUBLE), 6)
       END AS revenue_share
FROM per CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# Split-leakage audit: verified near-duplicate pairs whose endpoints
# fall on OPPOSITE sides of the train/holdout hash split — each row
# is a contamination channel (the holdout doc has a near-copy inside
# train, so eval loss on it is memorization, not generalization).
# Composes two shipped contracts verbatim: the session-cached
# verified MinHash pair set (dedup_minhash_lsh — built once, fenced)
# and the split_train_holdout md5 split (text.SPLIT_PCT_SQL); the
# audit itself is a pure in-row projection over the pair table, no
# extra shuffle.  The oracle embeds the shipped minhash CTE chain so
# nothing re-derives.
# --------------------------------------------------------------------------
def _split_of(c: Column) -> Column:
    # the split_train_holdout hash, parameterized by column (the
    # shipped split_pct() is pinned to doc_id; same formula)
    from stac_geoparquet_spark.operators.text import TRAIN_PCT

    pct = (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 4), 16, 10).cast(
            "bigint"
        )
        % 100
    )
    return F.when(pct < TRAIN_PCT, "train").otherwise("holdout")


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir)
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            "jaccard",
            _split_of(F.col("doc_a")).alias("split_a"),
            _split_of(F.col("doc_b")).alias("split_b"),
        )
        .where(F.col("split_a") != F.col("split_b"))
    )


def _split_leakage_sql() -> str:
    from stac_geoparquet_spark.operators.dedup import _minhash_oracle_ctes
    from stac_geoparquet_spark.operators.text import SPLIT_PCT_SQL, TRAIN_PCT

    split_a = SPLIT_PCT_SQL.replace("doc_id", "doc_a")
    split_b = SPLIT_PCT_SQL.replace("doc_id", "doc_b")
    return f"""
WITH {_minhash_oracle_ctes()},
labeled AS (
  SELECT doc_a, doc_b, jaccard,
         CASE WHEN {split_a} < {TRAIN_PCT}
              THEN 'train' ELSE 'holdout' END AS split_a,
         CASE WHEN {split_b} < {TRAIN_PCT}
              THEN 'train' ELSE 'holdout' END AS split_b
  FROM pairs
)
SELECT doc_a, doc_b, jaccard, split_a, split_b
FROM labeled WHERE split_a <> split_b
"""


# --------------------------------------------------------------------------
# Near-duplicate cluster source purity: per connected near-dup
# cluster, how many docs and how many DISTINCT sources it spans —
# cross_source clusters are syndication/mirror duplication (drop one
# copy per source boundary is wrong; keep exactly one overall),
# within-source clusters are re-crawls.  Rides the shipped cluster
# label table (dedup_cluster_cc — the fenced fixpoint) joined to the
# canonical doc table for source; one keyed aggregate on the scaling
# cluster_id.  countDistinct ignores NULL sources on both engines.
# --------------------------------------------------------------------------
def dedup_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators._canon import docs_canon
    from stac_geoparquet_spark.operators.dedup import dedup_cluster_cc

    cc = dedup_cluster_cc(spark, sf_dir).select("doc_id", "cluster_id")
    src = docs_canon(spark, sf_dir).select("doc_id", "source")
    n_sources = F.countDistinct("source").cast("bigint")
    return (
        cc.join(src, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            n_sources.alias("n_sources"),
            (F.countDistinct("source") > 1).alias("cross_source"),
        )
    )


def _cluster_purity_sql() -> str:
    from stac_geoparquet_spark.operators._canon import DOCS_CANON_SQL
    from stac_geoparquet_spark.operators.dedup import _minhash_oracle_ctes

    return f"""
WITH RECURSIVE {_minhash_oracle_ctes()},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, label) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.s, w.label FROM walk w JOIN edges e ON e.d = w.doc_id
),
cc AS (SELECT doc_id, min(label) AS cluster_id FROM walk GROUP BY doc_id)
SELECT cc.cluster_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
       count(DISTINCT d.source) > 1 AS cross_source
FROM cc JOIN {DOCS_CANON_SQL} d USING (doc_id)
GROUP BY cc.cluster_id
"""


# --------------------------------------------------------------------------
# Per-class embedding centroid drift between deterministic md5
# halves — the embedder-regression screen (re-embedding a class
# should not move its centroid; a large l2_shift / low cosine means
# the two halves disagree about where the class lives).  Exact-int
# design: each component is quantized to integer MICRO-UNITS per row
# (round(v*1e6) -> int64, the kmeans_silhouette convention), summed
# exactly per (label, dim, half) through ONE map-side-combining
# aggregate (the 16x-dim explode compacts to |labels| x dim partials
# per task); per-dim means are single divisions of exact ints, and
# the dimension-axis reductions (dot, norms, l2) are ORDERED folds
# over dim-sorted arrays (F.aggregate == DuckDB list_sum order — the
# embedding_norm_outliers convention), never a row aggregate over
# doubles.  Labels with an empty half are excluded on both engines
# (exact-int guard).  Canonical-by-vec_id input (keyed op), valid-
# vector contract shared with the similarity family.
# --------------------------------------------------------------------------
@const_cols
def _centroid_drift_cols() -> tuple:
    """Every Column fragment of embedding_centroid_drift is
    compile-time constant (~1,200 py4j round trips per rebuild —
    _exprs.py contract)."""
    half = (
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4), 16, 10
        ).cast("bigint")
        % 2
    )
    arr = F.sort_array(F.collect_list(F.struct("dim", "ma", "mb")))
    dot = F.aggregate(
        F.col("arr"), F.lit(0.0), lambda acc, x: acc + x["ma"] * x["mb"]
    )
    na2 = F.aggregate(
        F.col("arr"), F.lit(0.0), lambda acc, x: acc + x["ma"] * x["ma"]
    )
    nb2 = F.aggregate(
        F.col("arr"), F.lit(0.0), lambda acc, x: acc + x["mb"] * x["mb"]
    )
    l2 = F.aggregate(
        F.col("arr"),
        F.lit(0.0),
        lambda acc, x: acc + (x["ma"] - x["mb"]) * (x["ma"] - x["mb"]),
    )
    out = (
        F.when(
            (na2 > 0) & (nb2 > 0),
            F.round(dot / F.sqrt(na2 * nb2), 6) + F.lit(0.0),
        ).alias("cos_centroids"),
        (F.round(F.sqrt(l2) / 1e6, 6) + F.lit(0.0)).alias("l2_shift"),
    )
    return half, arr, out


def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators._canon import canonical_rows
    from stac_geoparquet_spark.operators.similarity import _valid_vec

    emb = (
        read_table(spark, sf_dir, "embeddings")
        .where(_valid_vec() & F.col("label").isNotNull())
        .select("vec_id", "embedding", "label")
    )
    emb = canonical_rows(emb, "vec_id", ("embedding", "label"))
    half, arr, out_cols = _centroid_drift_cols()
    per_dim = (
        emb.select(
            "label",
            half.alias("half"),
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim", "v"
            ),
        )
        .select(
            "label",
            "half",
            "dim",
            F.round(F.col("v") * 1e6).cast("bigint").alias("micro"),
        )
        .groupBy("label", "dim")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
            F.sum(
                F.when(F.col("half") == 0, F.col("micro")).otherwise(0)
            ).alias("s_a"),
            F.sum(
                F.when(F.col("half") == 1, F.col("micro")).otherwise(0)
            ).alias("s_b"),
        )
        .where((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .select(
            "label",
            "dim",
            "n_a",
            "n_b",
            (F.col("s_a").cast("double") / F.col("n_a").cast("double")).alias(
                "ma"
            ),
            (F.col("s_b").cast("double") / F.col("n_b").cast("double")).alias(
                "mb"
            ),
        )
    )
    per_label = per_dim.groupBy("label").agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        arr.alias("arr"),
    )
    return per_label.select("label", "n_a", "n_b", *out_cols)


def _centroid_drift_sql() -> str:
    from stac_geoparquet_spark.operators._canon import canon_subquery
    from stac_geoparquet_spark.operators.similarity import VALID_VEC_SQL

    base = (
        "(SELECT vec_id, embedding, label FROM embeddings "
        f"WHERE {VALID_VEC_SQL} AND label IS NOT NULL)"
    )
    canon = canon_subquery(base, "vec_id", ("embedding", "label"))
    return f"""
WITH emb AS (
  SELECT label,
         ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT % 2
           AS half,
         embedding::DOUBLE[] AS v
  FROM {canon} embeddings
),
per_dim AS (
  SELECT label, CAST(i - 1 AS INT) AS dim,
         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN half = 0
                       THEN CAST(round(v[i] * 1000000) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS s_a,
         CAST(sum(CASE WHEN half = 1
                       THEN CAST(round(v[i] * 1000000) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS s_b
  FROM emb, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) t
  GROUP BY label, dim
),
means AS (
  SELECT label, dim, n_a, n_b,
         CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
         CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb
  FROM per_dim WHERE n_a > 0 AND n_b > 0
),
folded AS (
  SELECT label,
         max(n_a) AS n_a, max(n_b) AS n_b,
         list(ma ORDER BY dim) AS la,
         list(mb ORDER BY dim) AS lb
  FROM means GROUP BY label
)
SELECT label,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CASE WHEN list_sum(list_transform(la, x -> x * x)) > 0
             AND list_sum(list_transform(lb, x -> x * x)) > 0
            THEN round(
              list_sum(list_transform(list_zip(la, lb), p -> p[1] * p[2]))
              / sqrt(list_sum(list_transform(la, x -> x * x))
                     * list_sum(list_transform(lb, x -> x * x))),
              6) + 0.0
       END AS cos_centroids,
       round(sqrt(list_sum(list_transform(list_zip(la, lb),
                                          p -> (p[1] - p[2]) * (p[1] - p[2]))))
             / 1000000.0, 6) + 0.0 AS l2_shift
FROM folded
"""


QUERIES = {
    "orders_benford_digit": orders_benford_digit,
    "events_attribution_last_touch": events_attribution_last_touch,
    "split_leakage_audit": split_leakage_audit,
    "dedup_cluster_purity": dedup_cluster_purity,
    "embedding_centroid_drift": embedding_centroid_drift,
}

ORACLE = {
    "orders_benford_digit": BENFORD_SQL,
    "events_attribution_last_touch": _attribution_sql(),
    "split_leakage_audit": _split_leakage_sql(),
    "dedup_cluster_purity": _cluster_purity_sql(),
    "embedding_centroid_drift": _centroid_drift_sql(),
}


# --------------------------------------------------------------------------
# MinHash index precision report (round 8): how many LSH candidate
# pairs survive the exact-Jaccard verify, and the verified pairs'
# mean similarity — the index-quality eval a pipeline reads before
# trusting banding parameters (ann_recall_report's dedup twin: recall
# is unknowable without ground truth, but precision and similarity
# mass are exactly measurable).  Candidate generation REUSES the
# shared definitions (per_doc_signatures + band_parts_sql — the same
# single-source fragments dedup_minhash_lsh builds from, so the two
# cannot drift) over the session-cached signature table; the verified
# side reads the fenced pair set.  avg_jaccard goes through exact
# integer micro-units (jaccard is round(,6), so round(j*1e6) recovers
# the int exactly) — no float row aggregate.  Output is one bounded
# row.
# --------------------------------------------------------------------------
def dedup_minhash_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators.dedup import (
        band_parts_sql,
        dedup_minhash_lsh,
        per_doc_signatures,
    )

    sig = per_doc_signatures(spark, sf_dir)
    bands = sig.selectExpr(
        "doc_id", f"explode(array({band_parts_sql()})) AS band"
    ).selectExpr("doc_id", "band.band_id", "band.band_key")
    # same bucket-local pair expansion as dedup_minhash_lsh (shared
    # fragments above pin the banding; this is the one consumer that
    # needs the PRE-verify pair count)
    cands = (
        bands.groupBy("band_id", "band_key")
        .agg(F.expr("sort_array(collect_list(doc_id)) AS ds"))
        .where("size(ds) >= 2")
        .selectExpr(
            "explode(flatten(transform(sequence(0, size(ds)-2),"
            " i -> transform(slice(ds, i+2, size(ds)),"
            " x -> struct(ds[i] AS a, x AS b))))) AS p"
        )
        .selectExpr("p.a AS doc_a", "p.b AS doc_b")
        .distinct()
    )
    nc = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    verified = dedup_minhash_lsh(spark, sf_dir).select(
        F.round(F.col("jaccard") * 1e6).cast("bigint").alias("jm")
    )
    nv = verified.agg(
        F.count(F.lit(1)).alias("n_verified"),
        F.sum("jm").alias("jm_sum"),
    )
    return nc.join(F.broadcast(nv)).selectExpr(
        "n_candidates",
        "n_verified",
        "CASE WHEN n_candidates = 0 THEN NULL"
        " ELSE round(CAST(n_verified AS DOUBLE)"
        " / CAST(n_candidates AS DOUBLE), 6) END AS precision",
        "CASE WHEN n_verified = 0 THEN NULL"
        " ELSE round(CAST(jm_sum AS DOUBLE)"
        " / CAST(n_verified AS DOUBLE) / 1000000.0, 6) END AS avg_jaccard",
    )


def _minhash_precision_sql() -> str:
    from stac_geoparquet_spark.operators.dedup import _minhash_oracle_ctes

    return f"""
WITH {_minhash_oracle_ctes()},
c AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cands),
v AS (
  SELECT CAST(count(*) AS BIGINT) AS n_verified,
         CAST(sum(CAST(round(jaccard * 1000000) AS BIGINT)) AS BIGINT)
           AS jm_sum
  FROM pairs
)
SELECT n_candidates, n_verified,
       CASE WHEN n_candidates = 0 THEN NULL
            ELSE round(CAST(n_verified AS DOUBLE)
                 / CAST(n_candidates AS DOUBLE), 6) END AS precision,
       CASE WHEN n_verified = 0 THEN NULL
            ELSE round(CAST(jm_sum AS DOUBLE)
                 / CAST(n_verified AS DOUBLE) / 1000000.0, 6)
       END AS avg_jaccard
FROM c CROSS JOIN v
"""


# --------------------------------------------------------------------------
# SimHash-vs-Jaccard agreement profile (round 8): for every VERIFIED
# near-dup pair, the Hamming distance between the two docs' SimHash
# fingerprints, rolled up per distance with the exact mean Jaccard —
# the cross-validation read that tells you what Hamming cutoff the
# one-pass SimHash screen would need to match the (expensive) MinHash
# verify.  Two keyed joins of the fenced pair set against the
# join-free fingerprint projection (both on the scaling doc id);
# Hamming is bit_count(xor) in-row; the per-distance mean goes
# through exact jaccard micro-units.
# --------------------------------------------------------------------------
def simhash_hamming_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators.dedup import (
        dedup_minhash_lsh,
        dedup_simhash,
    )

    sim = dedup_simhash(spark, sf_dir)
    pairs = dedup_minhash_lsh(spark, sf_dir)
    sa = sim.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a")
    )
    sb = sim.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr(
            "CAST(bit_count(sim_a ^ sim_b) AS INT) AS hamming",
            "CAST(round(jaccard * 1000000) AS BIGINT) AS jm",
        )
        .groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum("jm").cast("double") / F.count(F.lit(1)) / 1e6, 6
            ).alias("avg_jaccard"),
        )
    )


def _simhash_hamming_sql() -> str:
    from stac_geoparquet_spark.operators.dedup import (
        _minhash_oracle_ctes,
        _simhash_oracle_sql,
    )

    # the simhash oracle nests as a subquery: its private CTE names
    # (wd/hashed/agg) shadow the minhash chain's inside the parens
    return f"""
WITH {_minhash_oracle_ctes()},
sim AS (SELECT * FROM ({_simhash_oracle_sql()}) s),
j AS (
  SELECT CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming,
         CAST(round(jaccard * 1000000) AS BIGINT) AS jm
  FROM pairs
  JOIN sim sa ON sa.doc_id = pairs.doc_a
  JOIN sim sb ON sb.doc_id = pairs.doc_b
)
SELECT hamming,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(jm) AS DOUBLE) / count(*) / 1000000.0, 6)
         AS avg_jaccard
FROM j GROUP BY hamming
"""


# --------------------------------------------------------------------------
# Supplier scorecard (round 8): the per-entity operational profile a
# pipeline materializes as a feature table — line volume, return
# rate, mean discount/quantity (exact micro-unit means), exact cent
# revenue.  ONE lineitem scan, one map-side-combining aggregate on
# the scaling suppkey; every ratio is a single division of exact
# int64 sums.  NULL suppkey rows have no entity and are excluded on
# both engines.
# --------------------------------------------------------------------------
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_suppkey").isNotNull()
    )
    return (
        li.select(
            "l_suppkey",
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
            F.round(F.col("l_discount") * 1e6).cast("bigint").alias("disc_u"),
            F.round(F.col("l_quantity") * 1e6).cast("bigint").alias("qty_u"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("ret").cast("bigint").alias("n_returned"),
            F.round(
                F.sum("ret").cast("double") / F.count(F.lit(1)), 6
            ).alias("return_rate"),
            F.round(
                F.sum("disc_u").cast("double") / F.count(F.lit(1)) / 1e6, 6
            ).alias("avg_discount"),
            F.round(
                F.sum("qty_u").cast("double") / F.count(F.lit(1)) / 1e6, 6
            ).alias("avg_quantity"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


SUPPLIER_SCORECARD_SQL = """
WITH li AS (
  SELECT l_suppkey,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
         CAST(round(l_discount * 1000000) AS BIGINT) AS disc_u,
         CAST(round(l_quantity * 1000000) AS BIGINT) AS qty_u,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem WHERE l_suppkey IS NOT NULL
)
SELECT l_suppkey,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(ret) AS BIGINT) AS n_returned,
       round(CAST(sum(ret) AS DOUBLE) / count(*), 6) AS return_rate,
       round(CAST(sum(disc_u) AS DOUBLE) / count(*) / 1000000.0, 6)
         AS avg_discount,
       round(CAST(sum(qty_u) AS DOUBLE) / count(*) / 1000000.0, 6)
         AS avg_quantity,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM li GROUP BY l_suppkey
"""


QUERIES["dedup_minhash_precision"] = dedup_minhash_precision
ORACLE["dedup_minhash_precision"] = _minhash_precision_sql()
QUERIES["simhash_hamming_profile"] = simhash_hamming_profile
ORACLE["simhash_hamming_profile"] = _simhash_hamming_sql()
QUERIES["supplier_scorecard"] = supplier_scorecard
ORACLE["supplier_scorecard"] = SUPPLIER_SCORECARD_SQL


# --------------------------------------------------------------------------
# Dedup token savings (round 8): per source, how many TOKENS the
# near-dup survivor policy would remove — the planning number a
# curation run reads before paying for the dedup pass (savings
# concentrated in one source usually means a mirror, not organic
# duplication).  Composes two shipped contracts: the fenced cluster
# label table (survivor = minimum doc_id, dedup_survivors' rule) and
# the text_token_count token definition (the shared _words split).
# One keyed join of the corpus against the pair-graph-sized label
# table, one aggregate on the bounded source key; token counts are
# exact int64 (NULL text counts 0 via coalesce on both engines);
# savings_rate is one division, round(,6).
# --------------------------------------------------------------------------
def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators._canon import docs_canon
    from stac_geoparquet_spark.operators.dedup import dedup_cluster_cc
    from stac_geoparquet_spark.operators.text import _words

    docs = docs_canon(spark, sf_dir).select(
        "doc_id",
        "source",
        F.coalesce(
            F.size(_words(F.col("text"))).cast("bigint"), F.lit(0)
        ).alias("n_tokens"),
    )
    cc = dedup_cluster_cc(spark, sf_dir).select("doc_id", "cluster_id")
    joined = docs.join(cc, "doc_id", "left").withColumn(
        "dropped",
        F.col("cluster_id").isNotNull()
        & (F.col("cluster_id") != F.col("doc_id")),
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.when(F.col("dropped"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped"),
        F.sum(F.when(F.col("dropped"), F.col("n_tokens")).otherwise(0)).alias(
            "dropped_tokens"
        ),
        F.when(
            F.sum("n_tokens") > 0,
            F.round(
                F.sum(
                    F.when(F.col("dropped"), F.col("n_tokens")).otherwise(0)
                ).cast("double")
                / F.sum("n_tokens").cast("double"),
                6,
            ),
        ).alias("savings_rate"),
    )


def _token_savings_sql() -> str:
    from stac_geoparquet_spark.operators._canon import DOCS_CANON_SQL
    from stac_geoparquet_spark.operators.dedup import _minhash_oracle_ctes
    from stac_geoparquet_spark.operators.text import _SQL_WORDS

    return f"""
WITH RECURSIVE {_minhash_oracle_ctes()},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, label) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.s, w.label FROM walk w JOIN edges e ON e.d = w.doc_id
),
cc AS (SELECT doc_id, min(label) AS cluster_id FROM walk GROUP BY doc_id),
docs AS (
  SELECT d.doc_id, d.source,
         coalesce(CAST(len({_SQL_WORDS}) AS BIGINT), 0) AS n_tokens,
         (cc.cluster_id IS NOT NULL AND cc.cluster_id <> d.doc_id)
           AS dropped
  FROM {DOCS_CANON_SQL} d LEFT JOIN cc USING (doc_id)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(sum(CASE WHEN dropped THEN n_tokens ELSE 0 END) AS BIGINT)
         AS dropped_tokens,
       CASE WHEN sum(n_tokens) > 0 THEN
         round(CAST(sum(CASE WHEN dropped THEN n_tokens ELSE 0 END)
                    AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE), 6)
       END AS savings_rate
FROM docs GROUP BY source
"""


QUERIES["dedup_token_savings"] = dedup_token_savings
ORACLE["dedup_token_savings"] = _token_savings_sql()


# --------------------------------------------------------------------------
# Bot/automation screen (round 9): per-user event-stream regularity
# signals — ultra-low inter-event variability, duplicate-timestamp
# bursts, and the flag a curation pass reads before trusting
# engagement-derived labels (a scraper's clockwork cadence poisons
# RFM/funnel/retention metrics silently).
#
# Scale shape: one lag window + one keyed aggregate, both on the
# SCALING user key (one shuffle, the burstiness pattern).  Gaps are
# whole SECONDS via truncating integer division of exact µs diffs
# (both engines truncate integer div — the pre_epoch_ts axis pinned
# it), so the int64 moments s/ss stay exact (gap_s < 3.2e7 for a year,
# squares < 1e15).  The cv cut is cv^2 < 0.01 cleared of division —
# 100*(n*ss - s*s) < s*s — evaluated in DOUBLE with each int64 moment
# cast BEFORE the multiply: n_gaps*ss can exceed 2^63 exactly on the
# target data (a bursty bot with ~1e4 events and one year-scale gap
# gives n_gaps*ss ~1e19), where Spark ANSI throws ARITHMETIC_OVERFLOW
# while DuckDB silently promotes to HUGEINT (r07 ADVICE).  Both
# engines run the identical IEEE-754 multiply/subtract/compare on the
# same exact int64 inputs, so the cross-engine verdict still cannot
# diverge.  The dup-ts >= 50% cut stays exact-int:
# 2*(n - n_distinct_ts) >= n is overflow-safe (n bounded by per-user
# event counts).  Reported cv/fractions are display-only round(,6).
# --------------------------------------------------------------------------
BOT_MIN_EVENTS = 20


def user_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ).alias("us"),
        )
    )
    gaps = ev.select(
        "user_id",
        "us",
        F.expr(
            "(us - lag(us) OVER (PARTITION BY user_id"
            " ORDER BY us, event_id)) div 1000000"
        ).alias("gap_s"),
    )
    m = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("us").alias("ndt"),
        F.count("gap_s").alias("n_gaps"),
        F.coalesce(F.sum("gap_s"), F.lit(0)).alias("s"),
        F.coalesce(F.sum(F.col("gap_s") * F.col("gap_s")), F.lit(0)).alias(
            "ss"
        ),
    )
    return m.selectExpr(
        "user_id",
        "n_events",
        "n_gaps",
        """CASE WHEN n_gaps = 0 THEN NULL
                ELSE round(CAST(s AS DOUBLE)
                           / nullif(CAST(n_gaps AS DOUBLE), 0.0), 6)
           END AS mean_gap_s""",
        """CASE WHEN n_gaps < 2 OR s = 0 THEN NULL
                ELSE round(sqrt(CAST(n_gaps AS DOUBLE) * CAST(ss AS DOUBLE)
                                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                           / nullif(CAST(s AS DOUBLE), 0.0), 6) + 0.0
           END AS cv""",
        "round(CAST(n_events - ndt AS DOUBLE)"
        " / CAST(n_events AS DOUBLE), 6) AS dup_ts_frac",
        f"""(n_events >= {BOT_MIN_EVENTS} AND (
              (n_gaps >= 2 AND s > 0
               AND 100.0 * (CAST(n_gaps AS DOUBLE) * CAST(ss AS DOUBLE)
                            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                   < CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
              OR 2 * (n_events - ndt) >= n_events
           )) AS is_bot_suspect""",
    )


USER_BOT_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS us
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
gaps AS (
  SELECT user_id, us,
         (us - lag(us) OVER (PARTITION BY user_id
                             ORDER BY us, event_id)) // 1000000 AS gap_s
  FROM ev
),
m AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT us) AS BIGINT) AS ndt,
         CAST(count(gap_s) AS BIGINT) AS n_gaps,
         CAST(coalesce(sum(gap_s), 0) AS BIGINT) AS s,
         CAST(coalesce(sum(gap_s * gap_s), 0) AS BIGINT) AS ss
  FROM gaps GROUP BY user_id
)
SELECT user_id, n_events, n_gaps,
       CASE WHEN n_gaps = 0 THEN NULL
            ELSE round(CAST(s AS DOUBLE)
                       / nullif(CAST(n_gaps AS DOUBLE), 0.0), 6)
       END AS mean_gap_s,
       CASE WHEN n_gaps < 2 OR s = 0 THEN NULL
            ELSE round(sqrt(CAST(n_gaps AS DOUBLE) * CAST(ss AS DOUBLE)
                                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                       / nullif(CAST(s AS DOUBLE), 0.0), 6) + 0.0
       END AS cv,
       round(CAST(n_events - ndt AS DOUBLE)
             / CAST(n_events AS DOUBLE), 6) AS dup_ts_frac,
       (n_events >= {BOT_MIN_EVENTS} AND (
          (n_gaps >= 2 AND s > 0
           AND 100.0 * (CAST(n_gaps AS DOUBLE) * CAST(ss AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
               < CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
          OR 2 * (n_events - ndt) >= n_events
       )) AS is_bot_suspect
FROM m
"""


QUERIES["user_bot_score"] = user_bot_score
ORACLE["user_bot_score"] = USER_BOT_SQL

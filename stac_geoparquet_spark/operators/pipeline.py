"""LLM training-data pipeline operators over the ``documents`` table:
benchmark decontamination, repetition-based quality filtering
(Gopher-style), sequence packing into fixed token budgets, and
RAG-style overlapping chunking.

All pure DataFrame expressions (JVM-side, codegen'd — no Python UDFs),
each with an exact DuckDB oracle.  Scale notes per operator:

- decontaminate_against_holdout: single scan, one shuffle on the gram
  string, holdout flag via a gram-partition window max (a self-join
  would re-run the scan per branch).  When the holdout is a genuinely
  tiny benchmark suite (the production case), an alternative is a
  broadcast semi-join against its distinct grams — same output.
- quality_repetition: two aggregations both keyed by doc_id (gram
  counts, then per-doc rollup) — partial aggregation applies and the
  second shuffle reuses the doc_id clustering.
- pack_sequences: a global running sum is NOT computed with a global
  window (single-task at scale); it is a two-phase prefix sum — per-
  bucket window + a tiny per-bucket offset table joined back (the
  offset table has |docs|/BUCKET rows, broadcast by AQE).
- chunk_documents: embarrassingly parallel single-pass scan, no
  shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.caches import table_path
from stac_geoparquet_spark.operators._exprs import const_cols
from stac_geoparquet_spark.operators._io import read_spread, read_table

from stac_geoparquet_spark.operators._canon import (
    DOCS_CANON_SQL as _DOCS_CANON_SQL,
)

from stac_geoparquet_spark.operators.text import (
    TRAIN_PCT,
    SPLIT_PCT_SQL,
    _sql_words,
    _words,
    split_pct,
)

NGRAM_N = 5  # contamination n-gram width (words)
PACK_BUDGET = 2048  # tokens per packed sequence
PACK_BUCKET = 65536  # docs per prefix-sum bucket (offset table = N/65536 rows)
CHUNK_LEN = 200  # chars per chunk
CHUNK_STRIDE = 150  # chars between chunk starts (=> 50-char overlap)


def _docs_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    # canonical-by-id corpus (_canon.py): the id-keyed operators below
    # (per-doc metrics, packing positions, quota selection, funnel
    # counts keyed on doc identity) consume one row per doc_id; the
    # materialized canonical layout is built once per source stamp
    from stac_geoparquet_spark.operators._canon import docs_canon

    return docs_canon(spark, sf_dir)


def _docs_canon_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators._canon import docs_canon

    return docs_canon(spark, sf_dir, spread=True)


# tokenizer and split hash are text.py's (single definition — the
# decontamination contract "same hash split as split_train_holdout"
# must survive any future tokenizer change)
_SQL_WORDS = _sql_words()


def _word_ngrams(w: Column, n: int) -> Column:
    """All word n-grams of ``w`` joined by single spaces; empty array
    when the doc has fewer than ``n`` words.

    Built as a chain of ``zip_with`` over n shifted slices rather than
    ``transform(sequence, i -> slice(w, i+1, n))``: Catalyst does not
    CSE across higher-order lambdas, so the transform form re-evaluates
    the inlined ``split`` once per gram INDEX (O(grams x doc_len) —
    measured ~8x slower end-to-end at sf0.1).  Here every slice is an
    argument, evaluated once per row, and the lambda is a cheap concat.
    """
    length = F.greatest(F.size(w) - F.lit(n - 1), F.lit(0))
    grams = F.slice(w, 1, length)
    for j in range(2, n + 1):
        grams = F.zip_with(
            grams,
            F.slice(w, F.lit(j), length),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    return grams


@const_cols
def _text_word_ngrams(n: int) -> Column:
    """``_word_ngrams(_words(F.col("text")), n)`` memoized per n —
    the zip_with chain is ~100 py4j nodes and six operators rebuild it
    (twice each for the decontam pair) on every call (_exprs.py)."""
    return _word_ngrams(_words(F.col("text")), n)


def _sql_ngrams(n: int) -> str:
    # range(1, len-n+2) -> i = 1..len-n+1; words[i:i+n-1] is inclusive
    # slicing, n elements.  range() is empty when start >= stop, which
    # covers the short-doc case.
    return (
        f"list_transform(range(1, len(words) - {n - 2}), "
        f"i -> array_to_string(words[i:i+{n - 1}], ' '))"
    )


# --------------------------------------------------------------------------
# benchmark decontamination: flag train docs sharing any word-5-gram
# with the holdout split (the stand-in for a benchmark suite)
# --------------------------------------------------------------------------
def decontaminate_against_holdout(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per contaminated train doc, the number of DISTINCT word-5-grams
    it shares with the holdout split.

    Same hash split as ``split_train_holdout`` (text.split_pct).  The
    corpus explodes once to (doc, split, ngram) rows; a window max over
    each gram's partition marks grams that occur in any holdout doc,
    and train rows of marked grams aggregate to a per-doc DISTINCT
    overlap count.
    """
    from pyspark.sql import Window

    # r10: the GRAM-HEAVY ops (5-gram construction, per-doc gram
    # rollups) keep the toy-scale spread the light per-row ops dropped:
    # their single-split explode stage is compute-bound at test scale.
    # Still a no-op at real scale.
    docs = read_spread(spark, table_path(sf_dir, "documents")).select(
        "doc_id", _text_word_ngrams(NGRAM_N).alias("grams")
    )
    labeled = docs.withColumn("split", split_pct())
    # Single scan: a train/holdout self-JOIN would re-run the scan +
    # n-gram build once per branch (the split filters push below any
    # shared distinct, so ReusedExchange never fires — measured 2x at
    # sf0.1).  Instead shuffle once on the gram and mark each gram
    # group holdout-contaminated with a partition-wide window max; a
    # hot boilerplate gram skews this partition exactly as it would
    # skew the join's build side — AQE skew handling applies to both.
    # r10: per-doc in-row array_distinct BEFORE the explode — the
    # window mark ("gram occurs in ANY holdout doc") and the per-doc
    # DISTINCT overlap count are both insensitive to in-doc duplicate
    # grams, so repeated boilerplate grams never reach the gram
    # exchange (guide §2.3: aggregate/dedup before you shuffle).  The
    # count_distinct aggregate stays — raw multiset doc_id re-ingest
    # still collapses to distinct grams per id on both engines.
    doc_grams = labeled.select(
        "doc_id",
        "split",
        F.explode(F.array_distinct("grams")).alias("ngram"),
    )
    in_holdout = F.max(
        (F.col("split") >= TRAIN_PCT).cast("int")
    ).over(Window.partitionBy("ngram"))
    return (
        doc_grams.withColumn("in_holdout", in_holdout)
        .where((F.col("split") < TRAIN_PCT) & (F.col("in_holdout") == 1))
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("ngram")).alias("n_overlap"))
    )


DECONTAM_SQL = f"""
WITH w AS (
  SELECT doc_id, {_SQL_WORDS} AS words,
         {SPLIT_PCT_SQL} AS pct
  FROM documents
),
g AS (
  SELECT doc_id, pct, unnest({_sql_ngrams(NGRAM_N)}) AS ngram FROM w
),
hold AS (SELECT DISTINCT ngram FROM g WHERE pct >= {TRAIN_PCT}),
tr AS (SELECT DISTINCT doc_id, ngram FROM g WHERE pct < {TRAIN_PCT})
SELECT tr.doc_id, count(*) AS n_overlap
FROM tr JOIN hold USING (ngram)
GROUP BY tr.doc_id
"""


# --------------------------------------------------------------------------
# Bloom-semijoin decontamination: the skew-capped alternative path.
#
# The default window form above shuffles EVERY exploded gram once and
# marks holdout grams with a gram-partition window — one corpus scan,
# but a hot boilerplate gram concentrates its whole partition on one
# reducer (AQE-handled, still the skew point at 100x).  This variant
# instead runs over a PERSISTED per-doc-distinct gram index (the
# one-off layout a production pipeline maintains anyway — you don't
# re-tokenize 100 TB per benchmark sweep) and semi-joins train grams
# against holdout grams, letting Spark inject a runtime Bloom filter
# (`might_contain` on the train scan): grams that cannot be in the
# holdout — the overwhelming majority — are dropped AT THE SCAN,
# before the shuffle, so the hot-gram partition never forms at full
# size.  The bucket column is a string ('train'/'holdout') rather than
# a boolean on purpose: InjectRuntimeFilter's isLikelySelective
# accepts an attr-vs-literal equality but NOT a bare boolean attribute
# (BooleanSimplification strips `b = true` to `b`), so a boolean
# column silently disables the Bloom path.
# --------------------------------------------------------------------------
def gram_index_path(sf_dir: str) -> str:
    """Scratch location of the per-doc-distinct word-5-gram index for
    ``sf_dir``; (mtime, size)-keyed so a regenerated documents.parquet
    gets a fresh index."""
    from stac_geoparquet_spark.operators._io import layout_scratch_path

    return layout_scratch_path(
        table_path(sf_dir, "documents"), "sgs_gram_index"
    )


def build_gram_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (doc_id, bucket, ngram): every doc's DISTINCT
    word-5-grams with its train/holdout bucket.  array_distinct before
    the explode keeps the build a pure zero-shuffle map; same
    tokenizer/split-hash definitions AND the same canonical-by-id
    corpus as the batch sweep, so the index can never disagree with
    ``decontaminate_against_holdout`` — a re-ingested duplicate doc_id
    must contribute its grams once (the raw read double-counted every
    shared gram for a duplicated id; found by the sf0.01 dup-id
    sweep)."""
    from stac_geoparquet_spark.operators._io import materialize_layout

    path = gram_index_path(sf_dir)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    docs = _docs_canon(spark, sf_dir).withColumn("split", split_pct())
    rows = docs.select(
        "doc_id",
        F.when(F.col("split") >= TRAIN_PCT, F.lit("holdout"))
        .otherwise(F.lit("train"))
        .alias("bucket"),
        F.explode(
            F.array_distinct(_text_word_ngrams(NGRAM_N))
        ).alias("ngram"),
    )

    def build(build_dir: str) -> None:
        rows.write.mode("overwrite").parquet(build_dir)

    return materialize_layout(path, build)


def decontam_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per contaminated train doc, the number of DISTINCT word-5-grams
    it shares with the holdout split — identical semantics (and
    oracle) to ``decontaminate_against_holdout``, computed as a
    Bloom-filtered left-semi join over the persisted gram index.
    Broadcast is disabled for the gram join so the runtime Bloom +
    shuffle semi-join path is exercised at every scale (plan-pinned);
    index rows are per-doc distinct, so count(*) per doc IS the
    distinct overlap count."""
    from stac_geoparquet_spark.operators.scan_opt import bloom_session

    idx = build_gram_index(spark, sf_dir)
    s2 = bloom_session(spark)
    tr = (
        s2.read.parquet(idx)
        .where(F.col("bucket") == "train")
        .select("doc_id", "ngram")
    )
    ho = s2.read.parquet(idx).where(F.col("bucket") == "holdout").select(
        "ngram"
    )
    return (
        tr.join(ho, "ngram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


# --------------------------------------------------------------------------
# Gopher-style repetition quality filters: top/duplicate 2-gram
# fractions + symbol-to-word ratio
# --------------------------------------------------------------------------
TOP_2GRAM_MAX = 0.20  # Gopher's top-2-gram character-fraction threshold
DUP_2GRAM_MAX = 0.40


def _gram2_rollup(base: DataFrame, extras: list[str]) -> DataFrame:
    """Shared per-doc 2-gram repetition rollup (the ONE definition the
    Gopher gate and the yield funnel both build on): ``base`` carries
    (doc_id, grams, *extras) and the rollup appends (n_2grams,
    top_cnt, dup_cnt).

    Computed ENTIRELY IN-ROW as run lengths over the sorted gram
    array — zero shuffles (the previous explode -> (doc, gram) count
    -> per-doc aggregate shape paid two full shuffles of the gram
    stream; measured 3.3x slower at sf0.1, and at 100 TB those are
    corpus-sized exchanges).  Linear per doc: boundary indices of the
    sorted array, pairwise-differenced into run lengths.  Each
    intermediate is its own projection so no lambda re-evaluates a
    prior step (Catalyst does not CSE into lambda bodies).  NULL/empty
    gram arrays yield (0, 0, 0) — same rows the explode_outer form
    kept; ``extras`` simply stay on the row (no first() recovery
    needed)."""
    bounds = (
        "filter(transform(sequence(1, greatest(n, 1)),"
        " i -> IF(i = 1 OR element_at(g, i) != element_at(g, i - 1), i, -1)),"
        " x -> x > 0)"
    )
    return (
        base.selectExpr(
            "doc_id",
            *extras,
            "array_sort(grams) AS g",
        )
        .selectExpr(
            "doc_id",
            *extras,
            "g",
            "CASE WHEN g IS NULL THEN 0 ELSE size(g) END AS n",
        )
        .selectExpr(
            "doc_id", *extras, "n", f"{bounds} AS bounds"
        )
        .selectExpr(
            "doc_id",
            *extras,
            "n",
            "CASE WHEN n = 0 THEN array()"
            " ELSE zip_with(bounds,"
            "      concat(slice(bounds, 2, size(bounds) - 1), array(n + 1)),"
            "      (a, b) -> b - a) END AS runs",
        )
        .selectExpr(
            "doc_id",
            *extras,
            "CAST(n AS BIGINT) AS n_2grams",
            "CAST(coalesce(array_max(runs), 0) AS BIGINT) AS top_cnt",
            "aggregate(runs, 0L,"
            " (acc, x) -> acc + IF(x > 1, CAST(x AS BIGINT), 0L)) AS dup_cnt",
        )
    )


# the matching oracle CTEs over a caller-provided base(doc_id, grams,
# ...): unnest drops empty gram lists, so per_doc excludes 0-gram docs
# — callers that keep them (the funnel) LEFT JOIN and coalesce
_GRAM2_ROLLUP_CTES = """gc AS (
  SELECT doc_id, g, count(*) AS cnt
  FROM (SELECT doc_id, unnest(grams) AS g FROM base)
  GROUP BY doc_id, g
),
per_doc AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_2grams,
         max(cnt) AS top_cnt,
         CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
           AS dup_cnt
  FROM gc GROUP BY doc_id
)"""


def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition metrics: fraction of 2-gram occurrences taken
    by the most frequent 2-gram, fraction in 2-grams appearing more
    than once, and '#'-symbol-to-word ratio; plus the pass/fail flag at
    Gopher-ish thresholds (top<=0.20, dup<=0.40). Single scan via the
    shared ``_gram2_rollup``; docs with no 2-grams are excluded (the
    oracle's inner join drops them identically).
    """
    docs = _docs_canon_spread(spark, sf_dir)
    w = _words(F.col("text"))
    base = docs.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_words"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), r"#", ""))
        ).cast("bigint").alias("n_hash_symbols"),
        _word_ngrams(w, 2).alias("grams"),
    )
    per_doc = _gram2_rollup(base, ["n_words", "n_hash_symbols"]).where(
        F.col("n_2grams") > 0
    )
    top_frac = F.col("top_cnt") / F.col("n_2grams")
    dup_frac = F.col("dup_cnt") / F.col("n_2grams")
    return per_doc.select(
        "doc_id",
        F.col("n_2grams").cast("bigint").alias("n_2grams"),
        F.round(top_frac, 6).alias("top_2gram_frac"),
        F.round(dup_frac, 6).alias("dup_2gram_frac"),
        F.round(F.col("n_hash_symbols") / F.col("n_words"), 6).alias(
            "symbol_word_ratio"
        ),
        (
            (top_frac <= TOP_2GRAM_MAX) & (dup_frac <= DUP_2GRAM_MAX)
        ).alias("passes_repetition_filter"),
    )


REPETITION_SQL = f"""
WITH w AS (
  SELECT doc_id, {_SQL_WORDS} AS words,
         length(text) - length(regexp_replace(text, '#', '', 'g'))
           AS n_hash_symbols
  FROM {_DOCS_CANON_SQL} documents
),
base AS (
  SELECT doc_id, len(words) AS n_words, n_hash_symbols,
         {_sql_ngrams(2)} AS grams
  FROM w
),
{_GRAM2_ROLLUP_CTES}
SELECT base.doc_id,
       n_2grams,
       round(top_cnt * 1.0 / n_2grams, 6) AS top_2gram_frac,
       round(dup_cnt * 1.0 / n_2grams, 6) AS dup_2gram_frac,
       round(n_hash_symbols * 1.0 / n_words, 6) AS symbol_word_ratio,
       (top_cnt * 1.0 / n_2grams <= {TOP_2GRAM_MAX}
        AND dup_cnt * 1.0 / n_2grams <= {DUP_2GRAM_MAX})
         AS passes_repetition_filter
FROM base JOIN per_doc USING (doc_id)
"""


# --------------------------------------------------------------------------
# sequence packing: concatenate docs in doc_id order, chunk the token
# stream into fixed budgets (GPT-style concatenate-and-chunk)
# --------------------------------------------------------------------------
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each doc to the training-sequence bin its first token
    falls into when all docs are concatenated in doc_id order and cut
    every PACK_BUDGET tokens; report per-bin packing stats.

    The running sum is a two-phase prefix sum, NOT a global window:
    per-bucket (doc_id div 65536) window cumsum + a tiny bucket-offset
    table cumulated on the driver-side-small bucket list and joined
    back (AQE broadcasts it).  Equivalent to the global window the
    oracle uses, but with no single-task stage at 100 TB.

    Tokens mode (round 8): alongside the whitespace-token budget that
    assigns bins (unchanged), each bin reports its SUBWORD mass under
    the corpus-learned BPE merges — ``total_bpe_tokens``.  Because
    merges are learned from words they never contain a space, the
    whole-stream greedy fold factorizes exactly as sum(word tokens) +
    (n_words - 1) separator tokens — the identity the oracle has
    always computed via the shared recursive-CTE encoder over the
    distinct-word table.

    r10: the Spark side now computes the SAME word route.  The old
    in-row fold over the whitespace-collapsed doc stream re-encoded
    every word occurrence — O(corpus chars x |merges|) compute for a
    vocabulary whose distinct words are Heaps-sublinear (measured at
    sf0.1: 270,704 word occurrences over 31 distinct words; the fold
    was 3.3 s vs 0.9 s for the word route, guide §2.4 — the duplicate
    compute was corpus-scaled).  The per-DISTINCT-word encoder output
    joins back to the exploded token stream (AQE broadcasts the
    vocab-sized build side) and reduces per doc; the bin assignment
    path (n_tokens running sum) is untouched.
    """
    from stac_geoparquet_spark.operators.curation import (
        bpe_fold_expr,
        bpe_merges_vocab_cached,
    )

    docs = _docs_canon(spark, sf_dir)
    # per-distinct-word subword counts (vocab-scaled fold work)
    wordtok = (
        docs.select(F.explode(_words(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
        .distinct()
        .crossJoin(F.broadcast(bpe_merges_vocab_cached(spark, sf_dir)))
        .select("word", F.expr(bpe_fold_expr("word")).alias("toks"))
    )
    # per-doc subword mass: sum(word tokens) + (n_words - 1); the
    # token stream explodes in place (no pre-join shuffle) and the
    # doc-keyed aggregate's map-side partial collapses each doc to one
    # row before the exchange.  No broadcast hint on the join: AQE
    # broadcasts the vocab-sized side at test scale and is free to
    # fall back to a shuffle join if a 100 TB vocabulary outgrows the
    # broadcast threshold.
    dtok = (
        docs.select("doc_id", F.explode(_words(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
        .join(wordtok, "word")
        .groupBy("doc_id")
        .agg(
            (
                F.sum("toks") + F.count(F.lit(1)).cast("bigint") - F.lit(1)
            ).alias("n_bpe_route")
        )
    )
    # coalesce: a NULL-text doc contributes 0 tokens (without it the
    # NULL token count makes the doc's cumulative position — and so its
    # bin — NULL in Spark but 0-advanced in the oracle's coalesced
    # running sum: a latent divergence found by NULL injection).  A
    # wordless doc has no dtok row — the left join's NULL coalesces to
    # 0, exactly the oracle's ``coalesce(dtok.s + dtok.nw - 1, 0)``.
    per_doc = (
        docs.select(
            "doc_id",
            F.coalesce(
                F.size(_words(F.col("text"))).cast("bigint"), F.lit(0)
            ).alias("n_tokens"),
            F.floor(F.col("doc_id") / PACK_BUCKET).alias("bucket"),
        )
        .join(dtok, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_bpe_route", F.lit(0).cast("bigint")).alias("n_bpe"),
            "bucket",
        )
    )
    from pyspark.sql import Window

    in_bucket = (
        F.sum("n_tokens")
        .over(Window.partitionBy("bucket").orderBy("doc_id"))
        - F.col("n_tokens")
    )
    bucket_tot = per_doc.groupBy("bucket").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    offsets = bucket_tot.select(
        "bucket",
        (
            F.sum("bucket_tokens").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
        ).alias("offset"),
    ).fillna(0, subset=["offset"])
    cum = (
        per_doc.withColumn("in_bucket_excl", in_bucket)
        .join(offsets, "bucket")
        .withColumn(
            "cum_excl", F.col("offset") + F.col("in_bucket_excl")
        )
    )
    binned = cum.withColumn(
        "bin_id", F.floor(F.col("cum_excl") / PACK_BUDGET)
    )
    return binned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_bpe").alias("total_bpe_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _pack_oracle_sql() -> str:
    from stac_geoparquet_spark.operators.text import bpe_token_ctes

    # per-doc subword mass via the word-route identity: the stream
    # fold's merges contain no spaces, so stream tokens = sum(word
    # tokens) + (n_words - 1) single-space separators; wordless docs
    # are 0 by the left-join coalesce
    return f"""
WITH RECURSIVE t AS (
  SELECT doc_id, CAST(coalesce(len({_SQL_WORDS}), 0) AS BIGINT) AS n_tokens
  FROM {_DOCS_CANON_SQL} documents
),
dw AS (
  SELECT doc_id, word
  FROM (SELECT doc_id, unnest({_SQL_WORDS}) AS word
        FROM {_DOCS_CANON_SQL} documents)
  WHERE word <> ''
),
{bpe_token_ctes("dw")},
dtok AS (
  SELECT doc_id,
         CAST(sum(toks) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS nw
  FROM dw JOIN tok USING (word) GROUP BY doc_id
),
c AS (
  SELECT t.doc_id, t.n_tokens,
         coalesce(dtok.s + dtok.nw - 1, 0) AS n_bpe,
         coalesce(sum(t.n_tokens) OVER (
           ORDER BY t.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_excl
  FROM t LEFT JOIN dtok USING (doc_id)
)
SELECT CAST(floor(cum_excl / {PACK_BUDGET}) AS BIGINT) AS bin_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM c
GROUP BY 1
"""


PACK_SQL = _pack_oracle_sql()


# --------------------------------------------------------------------------
# RAG-style chunking: fixed-length overlapping character chunks
# --------------------------------------------------------------------------
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each doc into CHUNK_LEN-char chunks every CHUNK_STRIDE
    chars (50-char overlap); one row per chunk with its length and a
    content hash.  Single-pass scan, no shuffle; chunk count per doc is
    ceil(max(len-overlap, 1) / stride) so a short doc still yields one
    chunk."""
    docs = read_table(spark, sf_dir, "documents")
    overlap = CHUNK_LEN - CHUNK_STRIDE
    n_chunks = F.ceil(
        F.greatest(F.length("text") - overlap, F.lit(1)) / F.lit(float(CHUNK_STRIDE))
    )
    withi = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(0), (n_chunks - 1).cast("int"))
        ).alias("chunk_idx"),
    )
    chunk = F.col("text").substr(
        F.col("chunk_idx") * CHUNK_STRIDE + 1, F.lit(CHUNK_LEN)
    )
    return withi.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.length(chunk).cast("bigint").alias("chunk_len"),
        F.substring(F.md5(chunk), 1, 16).alias("chunk_hash"),
    )


CHUNK_SQL = f"""
WITH c AS (
  SELECT doc_id, i AS chunk_idx,
         substring(text,
                   CAST(1 + i * {CHUNK_STRIDE} AS INT),
                   {CHUNK_LEN}) AS chunk
  FROM documents,
       unnest(range(0, CAST(ceil(greatest(length(text) - {CHUNK_LEN - CHUNK_STRIDE}, 1)
                                 / {CHUNK_STRIDE}.0) AS BIGINT))) AS t(i)
)
SELECT doc_id, chunk_idx, CAST(length(chunk) AS BIGINT) AS chunk_len,
       substr(md5(chunk), 1, 16) AS chunk_hash
FROM c
"""


# --------------------------------------------------------------------------
# DSIR-style importance weights (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): weight each TRAIN doc by
# how much more likely it is under the target-domain LM (here: the
# holdout split's add-1-smoothed unigram model) than under the raw
# corpus LM (the train split's).  log_iw = sum over the doc's tokens of
# [log2 p_target(w) - log2 p_raw(w)]; the top-DSIR_K by weight are the
# resampled selection.
#
# Spark shape: one exploded token stream feeds BOTH tiny LM aggregates
# (vocab-sized, broadcast back) and the scoring join — the same
# two-pass-over-tokens / broadcast-dims shape as text_unigram_logppl,
# which is the 100-TB-honest plan (the LM tables are KBs; the token
# stream is never shuffled except by the per-doc aggregate).  Per-word
# log-ratio is quantized to integer MICRO-units (round 6 decimals, x1e6,
# bigint) before the per-doc sum, so the accumulation is exact integer
# math on both engines — a float sum re-rounded to 4 decimals diverged
# at .X5 boundaries from summation-order noise; the final log_iw is the
# one exact integer divided by 1e6 (bit-identical across engines).
# Ranking ties break on doc_id (round-before-rank rule).
# --------------------------------------------------------------------------
DSIR_K = 100  # docs selected by importance resampling


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").withColumn("pct", split_pct())
    words = docs.select(
        "doc_id",
        (F.col("pct") >= TRAIN_PCT).alias("is_holdout"),
        F.explode(_words(F.col("text"))).alias("word"),
    )
    lm = words.groupBy("word").agg(
        F.sum(F.when(F.col("is_holdout"), 1).otherwise(0)).alias("tc"),
        F.sum(F.when(F.col("is_holdout"), 0).otherwise(1)).alias("rc"),
    )
    totals = lm.agg(
        F.sum("tc").alias("t_total"),
        F.sum("rc").alias("r_total"),
        F.count(F.lit(1)).alias("n_vocab"),
    )
    ratio = (
        lm.crossJoin(F.broadcast(totals)).select(
            "word",
            F.round(
                (
                    F.log2(
                        (F.col("tc") + 1) / (F.col("t_total") + F.col("n_vocab"))
                    )
                    - F.log2(
                        (F.col("rc") + 1) / (F.col("r_total") + F.col("n_vocab"))
                    )
                )
                * F.lit(1_000_000.0),
                0,
            )
            .cast("bigint")
            .alias("lr_micro"),
        )
    )
    scored = (
        words.where(~F.col("is_holdout"))
        .join(ratio, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum("lr_micro") / F.lit(1_000_000.0)).alias("log_iw"),
        )
    )
    # top-K selection WITHOUT a global row_number window (which would
    # sort the whole corpus on one task): orderBy+limit plans as
    # TakeOrderedAndProject (per-partition top-K, then K*partitions
    # rows merged), and the K-row keep-list broadcasts back as the
    # `selected` marker.  No fence: both consumers must read the SAME
    # per-doc aggregate so AQE reuses its shuffle (one ReusedExchange
    # of the hashpartitioning(doc_id) stage in the final plan, which
    # tests/test_plans.py pins).  Column pruning would otherwise drop
    # count(1) from the top-K copy only, and the two aggregates — with
    # the whole token-scoring join below them — would run twice.  The
    # trailing n_tokens sort key keeps count(1) in both; it never
    # decides the order, because doc_id is unique after the groupBy.
    topk = (
        scored.orderBy(F.desc("log_iw"), F.asc("doc_id"), F.asc("n_tokens"))
        .limit(DSIR_K)
        .select("doc_id", F.lit(True).alias("sel"))
    )
    return (
        scored.join(F.broadcast(topk), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "log_iw",
            F.coalesce("sel", F.lit(False)).alias("selected"),
        )
    )


DSIR_SQL = f"""
WITH w AS (
  SELECT doc_id, {SPLIT_PCT_SQL} >= {TRAIN_PCT} AS is_holdout,
         unnest({_SQL_WORDS}) AS word
  FROM documents
),
lm AS (
  SELECT word,
         sum(CASE WHEN is_holdout THEN 1 ELSE 0 END) AS tc,
         sum(CASE WHEN is_holdout THEN 0 ELSE 1 END) AS rc
  FROM w GROUP BY word
),
totals AS (
  SELECT sum(tc) AS t_total, sum(rc) AS r_total, count(*) AS n_vocab FROM lm
),
ratio AS (
  SELECT word,
         CAST(round((log2((tc + 1) * 1.0 / (t_total + n_vocab))
                     - log2((rc + 1) * 1.0 / (r_total + n_vocab)))
                    * 1000000.0, 0) AS BIGINT) AS lr_micro
  FROM lm CROSS JOIN totals
),
scored AS (
  SELECT doc_id, count(*) AS n_tokens,
         CAST(sum(lr_micro) AS BIGINT) / 1000000.0 AS log_iw
  FROM w JOIN ratio USING (word)
  WHERE NOT is_holdout
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, log_iw,
       row_number() OVER (ORDER BY log_iw DESC, doc_id) <= {DSIR_K}
         AS selected
FROM scored
"""


# --------------------------------------------------------------------------
# token-budget subset selection: greedily take docs in (quality desc,
# doc_id) order while the running token total still fits TOKEN_BUDGET —
# the "best N tokens" curation pass run before a training mix is
# finalized.  The running sum is a two-phase DISTRIBUTED prefix sum
# over a RANGE partitioning of the greedy sort order (the TeraSort
# shape): each range partition cumsums locally, partition totals form a
# P-row offset table (P = the cluster's shuffle parallelism, NOT a
# fixed constant), and a broadcast join composes the exact global
# prefix sum.  Round-3 verdict finding: the previous key was a FIXED
# 64-band quality quantization, so per-band window partitions grew
# O(N/64) — a single-reducer sort per band at 100 TB.  Range
# partitioning scales with the cluster (spark.sql.shuffle.partitions)
# and its sampled boundaries balance skewed quality distributions,
# which a quality quantization cannot (ties on a popular score all
# land in one band).
# --------------------------------------------------------------------------
TOKEN_BUDGET = 20_000  # tokens the selected subset may total


def select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from stac_geoparquet_spark.operators.text import quality_score_expr

    per_doc = (
        # gram-heavy: toy-scale spread (see decontaminate_against_holdout)
        read_spread(spark, table_path(sf_dir, "documents"))
        # contentless docs are excluded EXPLICITLY: least() skips NULL
        # operands, so a NULL-text doc would otherwise score 0.7 (the
        # capped-term defaults) and float to the top of the greedy
        # order, spending budget on garbage (review finding)
        .where(F.col("text").isNotNull() & (F.length("text") > 0))
        .select(
            "doc_id",
            F.coalesce(
                F.size(_words(F.col("text"))).cast("bigint"), F.lit(0)
            ).alias("n_tokens"),
            F.round(quality_score_expr(), 6).alias("q"),
        )
        .where(F.col("q").isNotNull())
    )
    # Phase 1: range-partition on the exact greedy order.  The sort key
    # (q desc, doc_id) is unique per row, so partition boundaries are a
    # clean cut of the global order and spark_partition_id() is a
    # monotone bucket id along it.  Both downstream branches (the
    # in-partition cumsum and the per-partition totals) hang off this
    # ONE exchange; Spark's ReuseExchange dedupes it, which is also
    # what guarantees both branches see identical sampled boundaries
    # (verified to fire under BOTH the AQE stage cache and the non-AQE
    # ReuseExchange rule — the reused node sits BELOW the
    # non-deterministic pid projection, so canonicalization matches;
    # plan-pinned in tests/test_plans.py).  If a session explicitly
    # disables exchange reuse, each branch would re-sample boundaries
    # independently and the offsets would silently mismatch the cumsum
    # partitions — fall back to the exact single-task global window
    # there (correct, not scale-shaped; the conf is default-on and the
    # degraded plan is the price of turning it off).
    if spark.conf.get("spark.sql.exchange.reuse", "true").lower() == "false":
        w_global = Window.orderBy(F.desc("q"), F.asc("doc_id"))
        cum_excl = F.sum("n_tokens").over(w_global) - F.col("n_tokens")
        return per_doc.select(
            "doc_id",
            "n_tokens",
            "q",
            (cum_excl + F.col("n_tokens") <= TOKEN_BUDGET).alias(
                "selected"
            ),
        )
    ranged = per_doc.repartitionByRange(
        F.desc("q"), F.asc("doc_id")
    ).withColumn("part", F.spark_partition_id().cast("bigint"))
    w = Window.partitionBy("part").orderBy(F.desc("q"), F.asc("doc_id"))
    in_part_excl = F.sum("n_tokens").over(w) - F.col("n_tokens")
    # Phase 2: P-row offset table (P = shuffle parallelism — scales
    # with the CLUSTER, so the single-task cumsum below is over a
    # config-bounded, not data-bounded, row count).
    offsets = (
        ranged.groupBy("part")
        .agg(F.sum("n_tokens").alias("part_tokens"))
        .select(
            "part",
            F.sum("part_tokens")
            .over(
                Window.orderBy("part").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
            .alias("offset"),
        )
        .fillna(0, subset=["offset"])
    )
    cum = (
        ranged.withColumn("in_part_excl", in_part_excl)
        .join(F.broadcast(offsets), "part")
        .withColumn("cum_excl", F.col("offset") + F.col("in_part_excl"))
    )
    return cum.select(
        "doc_id",
        "n_tokens",
        "q",
        (F.col("cum_excl") + F.col("n_tokens") <= TOKEN_BUDGET).alias(
            "selected"
        ),
    )


BUDGET_SQL = f"""
WITH m AS (
  SELECT doc_id,
         CAST(coalesce(len({_SQL_WORDS}), 0) AS BIGINT) AS n_tokens,
         {{score}} AS q
  FROM documents
  WHERE text IS NOT NULL AND length(text) > 0
),
c AS (
  SELECT doc_id, n_tokens, q,
         coalesce(sum(n_tokens) OVER (
           ORDER BY q DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_excl
  FROM m WHERE q IS NOT NULL
)
SELECT doc_id, n_tokens, q,
       cum_excl + n_tokens <= {TOKEN_BUDGET} AS selected
FROM c
"""


def _budget_oracle_sql() -> str:
    from stac_geoparquet_spark.operators.text import (
        _STOP_IN,
        QUALITY_SCORE_SQL,
    )

    return BUDGET_SQL.format(score=QUALITY_SCORE_SQL.format(stop_in=_STOP_IN))


# --------------------------------------------------------------------------
# per-doc bigram entropy: the information-theoretic repetition signal
# (low entropy = templated/repetitive text) complementing the Gopher
# top/dup-2-gram fractions.  H = log2(n) - sum(cnt * log2(cnt)) / n
# over the doc's 2-gram counts — one explode + one (doc, gram) keyed
# aggregate + one per-doc rollup, both clustering on doc_id so partial
# aggregation applies; no joins, no windows.
# --------------------------------------------------------------------------
def text_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    grams = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(_text_word_ngrams(2)).alias("g"),
    )
    counts = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_2grams"),
        F.round(
            F.log2(F.sum("cnt"))
            - F.sum(F.col("cnt") * F.log2("cnt")) / F.sum("cnt"),
            6,
        ).alias("entropy"),
    )


ENTROPY_SQL = f"""
WITH g AS (
  SELECT doc_id, unnest({{grams}}) AS g
  FROM (SELECT doc_id, {_SQL_WORDS} AS words FROM documents)
),
c AS (
  SELECT doc_id, g, count(*) AS cnt FROM g GROUP BY doc_id, g
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_2grams,
       round(log2(sum(cnt)) - sum(cnt * log2(cnt)) / sum(cnt), 6) AS entropy
FROM c
GROUP BY doc_id
"""


def _entropy_oracle_sql() -> str:
    return ENTROPY_SQL.format(grams=_sql_ngrams(2))


QUERIES = {
    "decontaminate_against_holdout": decontaminate_against_holdout,
    "decontam_bloom_semijoin": decontam_bloom_semijoin,
    "quality_repetition": quality_repetition,
    "pack_sequences": pack_sequences,
    "chunk_documents": chunk_documents,
    "dsir_importance_weights": dsir_importance_weights,
    "select_token_budget": select_token_budget,
    "text_bigram_entropy": text_bigram_entropy,
}

ORACLE = {
    "decontaminate_against_holdout": DECONTAM_SQL,
    # same semantics, different physical path (Bloom semi-join over the
    # persisted gram index) — deliberately shares the window form's
    # oracle so the two paths can never drift apart
    "decontam_bloom_semijoin": DECONTAM_SQL,
    "quality_repetition": REPETITION_SQL,
    "pack_sequences": PACK_SQL,
    "chunk_documents": CHUNK_SQL,
    "dsir_importance_weights": DSIR_SQL,
    "select_token_budget": _budget_oracle_sql(),
    "text_bigram_entropy": _entropy_oracle_sql(),
}


# --------------------------------------------------------------------------
# corpus rebalancing: deterministic per-language downsampling + data-
# mixing weights (the "data mixture" step of a training pipeline)
# --------------------------------------------------------------------------
_REBALANCE_RES = 1_000_000  # hash resolution for the keep threshold


def _pct_fine() -> "Column":
    """Deterministic 0..999999 bucket of a doc (md5(doc_id) high bits),
    finer-grained sibling of text.split_pct for sampling thresholds."""
    return (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
        ).cast("bigint")
        % _REBALANCE_RES
    )


_SQL_PCT_FINE = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT"
    f" % {_REBALANCE_RES}"
)


def rebalance_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample every language to (approximately) the smallest
    language's size with a deterministic hash threshold: doc kept iff
    hash_pct < floor(min_n / n_lang * RES).

    Scale shape: NO per-language window/rank (5 langs would mean 5
    skewed partitions at 100 TB) — the per-lang keep fraction is a
    tiny broadcast table joined onto a single corpus scan, so the
    filter is embarrassingly parallel; the trade is approximate (not
    exact-count) per-lang sizes, the standard production trade.  The
    hash threshold makes the sample stable under reruns and backfills:
    a doc's keep/drop never changes.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_before"))
    min_n = counts.agg(F.min("n_before").alias("min_n"))
    thresholds = counts.join(F.broadcast(min_n)).select(
        "lang",
        "n_before",
        F.floor(
            F.col("min_n") * F.lit(_REBALANCE_RES) / F.col("n_before")
        ).alias("keep_below"),
    )
    kept = (
        docs.withColumn("pct", _pct_fine())
        .join(F.broadcast(thresholds), "lang")
        .where(F.col("pct") < F.col("keep_below"))
    )
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .join(thresholds.select("lang", "n_before"), "lang")
        .select("lang", "n_before", "n_kept")
    )


REBALANCE_SQL = f"""
WITH counts AS (
  SELECT lang, count(*) AS n_before FROM documents GROUP BY lang
),
m AS (SELECT min(n_before) AS min_n FROM counts),
th AS (
  SELECT lang, n_before,
         CAST(floor(min_n * {_REBALANCE_RES}.0 / n_before) AS BIGINT)
           AS keep_below
  FROM counts CROSS JOIN m
),
kept AS (
  SELECT d.lang
  FROM documents d JOIN th USING (lang)
  WHERE {_SQL_PCT_FINE} < keep_below
)
SELECT th.lang, th.n_before, k.n_kept
FROM th JOIN (SELECT lang, count(*) AS n_kept FROM kept GROUP BY lang) k
  USING (lang)
"""


def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data-mixing weights: raw share plus the sqrt-scaled
    weight (upweights small sources, the standard mixture smoothing),
    and the docs-per-epoch each source contributes under a fixed epoch
    budget.  One aggregation; the corpus totals reach every row via a
    broadcast 1-row aggregate, never a driver round-trip."""
    epoch_budget = 10_000
    docs = read_table(spark, sf_dir, "documents").select("source")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    totals = counts.agg(
        F.sum("n_docs").alias("n_total"),
        F.sum(F.sqrt(F.col("n_docs"))).alias("sqrt_total"),
    )
    return (
        counts.join(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            F.round(F.col("n_docs") / F.col("n_total"), 6).alias("raw_share"),
            F.round(
                F.sqrt(F.col("n_docs")) / F.col("sqrt_total"), 6
            ).alias("sqrt_weight"),
            F.floor(
                F.sqrt(F.col("n_docs")) / F.col("sqrt_total") * epoch_budget
            ).alias("docs_per_epoch"),
        )
    )


MIXTURE_SQL = """
WITH counts AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
),
t AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
         sum(sqrt(n_docs)) AS sqrt_total
  FROM counts
)
SELECT source, n_docs,
       round(n_docs * 1.0 / n_total, 6) AS raw_share,
       round(sqrt(n_docs) / sqrt_total, 6) AS sqrt_weight,
       CAST(floor(sqrt(n_docs) / sqrt_total * 10000) AS BIGINT)
         AS docs_per_epoch
FROM counts CROSS JOIN t
"""


# --------------------------------------------------------------------------
# corpus yield funnel: the cumulative survivor counts through the
# curation gates — the yield report a corpus build publishes
# --------------------------------------------------------------------------
MIN_WORDS = 30  # length gate


def corpus_yield_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative doc counts through the chained curation gates:
    all -> length (>= 30 words) -> repetition (Gopher 2-gram
    thresholds) -> exact-dedup canonical (min doc_id per content
    hash) -> train split. One ordered row per stage.

    One corpus scan feeds everything: the rollup is the shared
    ``_gram2_rollup`` (the funnel's 'repetition' stage and
    quality_repetition's pass flag can never diverge) — now a
    zero-shuffle in-row run-length projection, with the content hash
    and split pct riding as ordinary columns; sub-2-gram docs keep
    their (0,0,0) rows in-band (they fail the length gate anyway) so
    the corpus is scanned exactly ONCE.  Remaining shuffles: the
    content-hash window and the 1-row final aggregate.
    """
    from pyspark.sql import Window

    docs = _docs_canon_spread(spark, sf_dir)
    w = _words(F.col("text"))
    base = docs.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_words"),
        F.md5(F.col("text")).alias("h"),
        split_pct().alias("pct"),
        _word_ngrams(w, 2).alias("grams"),
    )
    all_docs = _gram2_rollup(base, ["n_words", "h", "pct"])
    canon = F.min("doc_id").over(Window.partitionBy("h"))
    flagged = all_docs.select(
        "doc_id",
        (F.col("n_words") >= MIN_WORDS).alias("s1"),
        (
            (F.col("n_2grams") > 0)
            & (F.col("top_cnt") / F.col("n_2grams") <= TOP_2GRAM_MAX)
            & (F.col("dup_cnt") / F.col("n_2grams") <= DUP_2GRAM_MAX)
        ).alias("rep_ok"),
        (F.col("doc_id") == canon).alias("canon_ok"),
        (F.col("pct") < TRAIN_PCT).alias("train_ok"),
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("c0"),
        F.sum(F.col("s1").cast("bigint")).alias("c1"),
        F.sum((F.col("s1") & F.col("rep_ok")).cast("bigint")).alias("c2"),
        F.sum(
            (F.col("s1") & F.col("rep_ok") & F.col("canon_ok")).cast("bigint")
        ).alias("c3"),
        F.sum(
            (
                F.col("s1")
                & F.col("rep_ok")
                & F.col("canon_ok")
                & F.col("train_ok")
            ).cast("bigint")
        ).alias("c4"),
    )
    return agg.selectExpr(
        "stack(5, 0, 'all', c0, 1, 'length', c1, 2, 'repetition', c2,"
        " 3, 'exact_dedup', c3, 4, 'train_split', c4)"
        " AS (stage_id, stage, n_docs)"
    ).selectExpr("CAST(stage_id AS BIGINT) AS stage_id", "stage", "n_docs")


YIELD_FUNNEL_SQL = f"""
WITH w AS (
  SELECT doc_id, {_SQL_WORDS} AS words, md5(text) AS h,
         {SPLIT_PCT_SQL} AS pct
  FROM {_DOCS_CANON_SQL} documents
),
base AS (
  SELECT doc_id, len(words) AS n_words, h, pct,
         {_sql_ngrams(2)} AS grams
  FROM w
),
{_GRAM2_ROLLUP_CTES},
flags AS (
  SELECT b.doc_id,
         b.n_words >= {MIN_WORDS} AS s1,
         (coalesce(p.n_2grams, 0) > 0
          AND p.top_cnt * 1.0 / p.n_2grams <= {TOP_2GRAM_MAX}
          AND p.dup_cnt * 1.0 / p.n_2grams <= {DUP_2GRAM_MAX}) AS rep_ok,
         b.doc_id = min(b.doc_id) OVER (PARTITION BY b.h) AS canon_ok,
         b.pct < {TRAIN_PCT} AS train_ok
  FROM base b LEFT JOIN per_doc p USING (doc_id)
),
c AS (
  SELECT count(*) AS c0,
         CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN s1 AND rep_ok THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(sum(CASE WHEN s1 AND rep_ok AND canon_ok THEN 1 ELSE 0 END)
              AS BIGINT) AS c3,
         CAST(sum(CASE WHEN s1 AND rep_ok AND canon_ok AND train_ok
                  THEN 1 ELSE 0 END) AS BIGINT) AS c4
  FROM flags
)
SELECT CAST(0 AS BIGINT) AS stage_id, 'all' AS stage, c0 AS n_docs FROM c
UNION ALL SELECT 1, 'length', c1 FROM c
UNION ALL SELECT 2, 'repetition', c2 FROM c
UNION ALL SELECT 3, 'exact_dedup', c3 FROM c
UNION ALL SELECT 4, 'train_split', c4 FROM c
"""


# --------------------------------------------------------------------------
# per-source document cap: keep at most CAP_M docs per source, best
# quality first (ties by doc_id) — the "domain quota" curation pass
# that stops a crawl-heavy source from dominating the mix.  Grouped
# top-K without a per-group sort: phase 1 takes a local top-M per
# (source, shuffle partition) — any partition's local winners contain
# every global winner — phase 2 merges the bounded P*M candidates per
# source into the M-th-best (neg_q, doc_id) threshold pair, and the
# corpus joins the tiny per-source threshold table broadcast; selected
# = key <= threshold (keys are unique, so this IS rank <= M).  No
# window partitioned by a bounded key anywhere (registry sweep class).
# --------------------------------------------------------------------------
CAP_M = 10  # docs kept per source (binds at the sf0.01 gate: ~25 valid docs/source)


def cap_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators.text import quality_score_expr
    from stac_geoparquet_spark.operators.twophase import (
        kth_smallest,
        local_topk,
    )

    per_doc = (
        # r10: regex-heavy score evaluated on BOTH branches — keep the
        # toy-scale spread (see decontaminate_against_holdout)
        _docs_canon_spread(spark, sf_dir)
        .where(
            F.col("text").isNotNull()
            & (F.length("text") > 0)
            & F.col("source").isNotNull()
        )
        .select(
            "doc_id",
            "source",
            F.round(quality_score_expr(), 6).alias("q"),
        )
        .where(F.col("q").isNotNull())
    )
    key = F.struct((-F.col("q")).alias("nq"), F.col("doc_id").alias("d"))
    # Plan-shape note: the candidate branch and the flagging branch
    # both re-evaluate the quality-score projection above the ONE
    # reused scan exchange (text is read once).  Deduping the CPU would
    # need a materialization boundary ABOVE the score, and an exchange
    # there cannot be AQE-reused because its subtree would contain the
    # non-deterministic spark_partition_id (verified: only exchanges
    # BELOW the pid projection reuse, cf. select_token_budget where the
    # range exchange sits under pid).  A forced slim-row repartition
    # would trade the duplicate scoring CPU for a full extra shuffle —
    # at corpus scale the recompute is the cheaper side, and unlike the
    # prefix sum, correctness here never needs cross-branch pid
    # consistency (ANY partition's local top-M contains every winner —
    # the twophase scaffold's contract).
    candidates = local_topk(
        per_doc, ["source"], [F.desc("q"), F.asc("doc_id")], CAP_M
    ).select("source", key.alias("k"))
    thresholds = kth_smallest(candidates, ["source"], "k", CAP_M, "thr")
    return (
        per_doc.join(F.broadcast(thresholds), "source")
        .select(
            "doc_id",
            "source",
            "q",
            (F.col("thr").isNull() | (key <= F.col("thr"))).alias(
                "selected"
            ),
        )
    )


CAP_SQL = f"""
WITH m AS (
  SELECT doc_id, source,
         {{score}} AS q
  FROM {_DOCS_CANON_SQL} documents
  WHERE text IS NOT NULL AND length(text) > 0 AND source IS NOT NULL
),
r AS (
  SELECT doc_id, source, q,
         row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id)
           AS rk
  FROM m WHERE q IS NOT NULL
)
SELECT doc_id, source, q, rk <= {{cap}} AS selected
FROM r
"""


def _cap_oracle_sql() -> str:
    from stac_geoparquet_spark.operators.text import (
        _STOP_IN,
        QUALITY_SCORE_SQL,
    )

    return CAP_SQL.format(
        score=QUALITY_SCORE_SQL.format(stop_in=_STOP_IN), cap=CAP_M
    )


# Rotation block: locally strict-gated like everything else, but
# registered AFTER the 50-entry driver window this round (see
# __spark_entry__._registries) — they rotate into the window next
# round.
# --------------------------------------------------------------------------
# Deterministic weighted sampling without replacement (Efraimidis-
# Spirakis A-ES): every doc draws u in (0, 1) from md5(doc_id) and is
# ranked by ln(u) / w — the monotone-equivalent form of the classic
# u^(1/w) key — with weight w = n_chars + 1, so longer documents are
# proportionally likelier to be kept.  The top-K by key IS an exact
# weighted sample without replacement (A-ES theorem), and the md5
# draw makes it reproducible on any engine.
#
# Scale shape: the key is a pure in-row expression; the global top-K
# plans as TakeOrderedAndProject (per-partition top-K then a K*P-row
# merge), never a global sort or a bare window.  Keys are rounded to
# 9 decimals at the ranking sync point (margin argument: key range is
# (-23, 0) so the 5e-10 quantum sits ~6 orders above double noise)
# with doc_id as the total-order tiebreak on both engines.
# --------------------------------------------------------------------------
SAMPLE_W_K = 100
U_DENOM = 2**32 + 1  # (hash + 1) / U_DENOM keeps u strictly in (0, 1)


def sample_weighted_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    w = (F.col("n_chars") + F.lit(1)).cast("double")
    # + 0.0 normalizes the -0.0 a near-1 draw can leave after the
    # round (ln(u)/w is ≤ 0; DuckDB's round keeps the sign bit while
    # Spark's BigDecimal round does not) — the covariance convention
    skey = (
        F.round(F.log((h + F.lit(1)) / F.lit(float(U_DENOM))) / w, 9)
        + F.lit(0.0)
    )
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("weight_chars"),
            skey.alias("skey"),
        )
        .orderBy(F.desc("skey"), F.asc("doc_id"))
        .limit(SAMPLE_W_K)
    )


SAMPLE_WEIGHTED_SQL = f"""
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS weight_chars,
       round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 + 1) / {float(U_DENOM)})
             / CAST(n_chars + 1 AS DOUBLE), 9) + 0.0 AS skey
FROM documents
ORDER BY skey DESC, doc_id
LIMIT {SAMPLE_W_K}
"""


# --------------------------------------------------------------------------
# Temperature-scaled mixture weights (the multilingual-training
# standard, w_s ∝ p_s^alpha with alpha < 1): flattens the source
# distribution less aggressively than sqrt when alpha > 0.5 and more
# when alpha < 0.5; alpha = 0.7 is the common published setting.
# Same plan skeleton as source_mixture_weights: one keyed count, a
# broadcast 1-row totals aggregate, a pure-map normalize — the second
# total (sum of p^alpha) needs p first, so the totals fold into TWO
# tiny broadcast aggregates instead of one.  pow/round cross-engine
# agreement rides the same libm + 6-decimal margin as exp/ln ops.
# --------------------------------------------------------------------------
MIXTURE_ALPHA = 0.7


def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("source")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("n_total"))
    shared = counts.join(F.broadcast(total)).withColumn(
        "p_alpha",
        F.pow(F.col("n_docs") / F.col("n_total"), F.lit(MIXTURE_ALPHA)),
    )
    z = shared.agg(F.sum("p_alpha").alias("z"))
    return shared.join(F.broadcast(z)).select(
        "source",
        "n_docs",
        F.round(F.col("n_docs") / F.col("n_total"), 6).alias("raw_share"),
        F.round(F.col("p_alpha") / F.col("z"), 6).alias("temp_weight"),
    )


MIXTURE_TEMP_SQL = f"""
WITH counts AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
),
t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM counts),
shared AS (
  SELECT source, n_docs, n_total,
         pow(n_docs * 1.0 / n_total, {MIXTURE_ALPHA}) AS p_alpha
  FROM counts, t
),
z AS (SELECT sum(p_alpha) AS z FROM shared)
SELECT source, n_docs,
       round(n_docs * 1.0 / n_total, 6) AS raw_share,
       round(p_alpha / z, 6) AS temp_weight
FROM shared, z
"""


# --------------------------------------------------------------------------
# Epoch-allocation mixture plan: turn temperature weights + a token
# budget into a per-source sampling plan — epochs_s = how many times
# the sampler passes over source s.  The operational step AFTER
# mixture_temperature_weights: a weight that implies >MAX_EPOCHS
# repetition of a tiny source is capped (repeating a small source 40x
# is how memorization happens), and the plan reports what each source
# actually contributes.  Budget = half the corpus' tokens (scale-free
# constant fraction).  Shape: ONE token-count aggregate on source,
# two broadcast scalar totals (the mixture_temperature_weights
# pattern) — nothing data-sized moves.  Floats: z is a sum over the
# SOURCE alphabet (bounded count); epochs is rounded at 1e-6, ~9
# orders above the z merge-order noise, and granted_tokens derives
# from the ALREADY-ROUNDED epochs so the integer output cannot see
# sub-quantum noise.  Zero-token sources are excluded on both engines
# (epochs of an empty source is undefined).
# --------------------------------------------------------------------------
EPOCH_CAP = 4.0  # max passes over any single source
BUDGET_FRAC = 0.5  # token budget as a fraction of the corpus


def mixture_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        read_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(
                F.coalesce(
                    F.size(_words(F.col("text"))).cast("bigint"), F.lit(0)
                )
            ).alias("n_tokens")
        )
        .where(F.col("n_tokens") > 0)
    )
    total = per.agg(F.sum("n_tokens").alias("total"))
    shared = per.join(F.broadcast(total)).withColumn(
        "p_alpha",
        F.pow(
            F.col("n_tokens") / F.col("total").cast("double"),
            F.lit(MIXTURE_ALPHA),
        ),
    )
    z = shared.agg(F.sum("p_alpha").alias("z"))
    budget = F.round(F.col("total") * F.lit(BUDGET_FRAC))
    epochs = F.round(
        F.least(
            (F.col("p_alpha") / F.col("z")) * budget
            / F.col("n_tokens").cast("double"),
            F.lit(EPOCH_CAP),
        ),
        6,
    )
    return shared.join(F.broadcast(z)).select(
        "source",
        "n_tokens",
        F.round(F.col("p_alpha") / F.col("z"), 6).alias("temp_weight"),
        epochs.alias("epochs"),
        F.round(epochs * F.col("n_tokens").cast("double"))
        .cast("bigint")
        .alias("granted_tokens"),
    )


EPOCH_ALLOC_SQL = f"""
WITH per AS (
  SELECT source,
         CAST(sum(coalesce(len({_SQL_WORDS}), 0)) AS BIGINT) AS n_tokens
  FROM documents
  GROUP BY source
  HAVING sum(coalesce(len({_SQL_WORDS}), 0)) > 0
),
t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM per),
shared AS (
  SELECT source, n_tokens, total,
         pow(n_tokens / CAST(total AS DOUBLE), {MIXTURE_ALPHA}) AS p_alpha
  FROM per, t
),
z AS (SELECT sum(p_alpha) AS z FROM shared)
SELECT source, n_tokens,
       round(p_alpha / z, 6) AS temp_weight,
       round(least((p_alpha / z) * round(total * {BUDGET_FRAC})
                   / CAST(n_tokens AS DOUBLE), {EPOCH_CAP}), 6) AS epochs,
       CAST(round(round(least((p_alpha / z) * round(total * {BUDGET_FRAC})
                              / CAST(n_tokens AS DOUBLE), {EPOCH_CAP}), 6)
                  * CAST(n_tokens AS DOUBLE)) AS BIGINT) AS granted_tokens
FROM shared, z
"""


# --------------------------------------------------------------------------
# Corpus balance as a Gini coefficient over per-source doc and token
# mass — the one-number inequality screen (0 = perfectly balanced,
# -> 1 = one source owns everything) read before choosing mixture
# temperatures and per-source caps; the scalar companion to
# mixture_temperature_weights' per-source table.
#
# G = (2 * sum(i * x_i)) / (n * sum(x)) - (n + 1) / n over x sorted
# ASCENDING with rank i (ties broken by source so both engines rank
# identically).  The ranking windows are UNPARTITIONED but their input
# is the per-source aggregate — one row per source, already shrunk
# from the corpus by the keyed rollup; the source alphabet grows
# sublinearly (domains, not documents), the select_token_budget
# precedent.  Counts are exact int64; the rank-weighted sum runs in
# doubles whose terms are exact integers — partial sums stay exactly
# representable (order-independent) until 2^53, and beyond that the
# merge-order noise is ~n_sources x eps RELATIVE (~1e-9 at 1e7
# sources), two-plus orders under the round(,6) quantum on a
# [0, 1]-valued statistic.  Output is ONE bounded row.
# --------------------------------------------------------------------------
def corpus_gini_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents").where(F.col("source").isNotNull())
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(
            F.sum(F.size(_words(F.col("text"))).cast("bigint")), F.lit(0)
        ).alias("n_tokens"),
    )
    wd = Window.orderBy(F.col("n_docs").asc(), F.col("source").asc())
    wt = Window.orderBy(F.col("n_tokens").asc(), F.col("source").asc())
    ranked = per_src.select(
        "n_docs",
        "n_tokens",
        F.row_number().over(wd).cast("bigint").alias("rd"),
        F.row_number().over(wt).cast("bigint").alias("rt"),
    )

    def gini(rank_col: str, mass_col: str):
        # nullif on BOTH divisors: an empty table (n = 0) must yield a
        # NULL gini row, not an ANSI divide-by-zero (empty-input gate)
        n = F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0))
        s = F.nullif(F.sum(mass_col).cast("double"), F.lit(0.0))
        ws = F.sum(
            F.col(rank_col).cast("double") * F.col(mass_col).cast("double")
        )
        return (
            F.round((F.lit(2.0) * ws) / (n * s) - (n + F.lit(1.0)) / n, 6)
            + F.lit(0.0)
        )

    return ranked.agg(
        F.count(F.lit(1)).alias("n_sources"),
        gini("rd", "n_docs").alias("gini_docs"),
        gini("rt", "n_tokens").alias("gini_tokens"),
    )


GINI_SQL = f"""
WITH per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(len({_SQL_WORDS})), 0) AS BIGINT) AS n_tokens
  FROM documents WHERE source IS NOT NULL GROUP BY source
),
ranked AS (
  SELECT n_docs, n_tokens,
         CAST(row_number() OVER (ORDER BY n_docs, source) AS BIGINT) AS rd,
         CAST(row_number() OVER (ORDER BY n_tokens, source) AS BIGINT) AS rt
  FROM per_src
)
SELECT CAST(count(*) AS BIGINT) AS n_sources,
       round((2.0 * sum(CAST(rd AS DOUBLE) * CAST(n_docs AS DOUBLE)))
             / (nullif(CAST(count(*) AS DOUBLE), 0.0)
                * nullif(CAST(sum(n_docs) AS DOUBLE), 0.0))
             - (CAST(count(*) AS DOUBLE) + 1.0)
               / nullif(CAST(count(*) AS DOUBLE), 0.0), 6) + 0.0
         AS gini_docs,
       round((2.0 * sum(CAST(rt AS DOUBLE) * CAST(n_tokens AS DOUBLE)))
             / (nullif(CAST(count(*) AS DOUBLE), 0.0)
                * nullif(CAST(sum(n_tokens) AS DOUBLE), 0.0))
             - (CAST(count(*) AS DOUBLE) + 1.0)
               / nullif(CAST(count(*) AS DOUBLE), 0.0), 6) + 0.0
         AS gini_tokens
FROM ranked
"""


QUERIES |= {
    "corpus_gini_balance": corpus_gini_balance,
    "mixture_epoch_allocation": mixture_epoch_allocation,
    "sample_weighted_k": sample_weighted_k,
    "mixture_temperature_weights": mixture_temperature_weights,
    "cap_docs_per_source": cap_docs_per_source,
    "rebalance_by_lang": rebalance_by_lang,
    "source_mixture_weights": source_mixture_weights,
    "corpus_yield_funnel": corpus_yield_funnel,
}

ORACLE |= {
    "corpus_gini_balance": GINI_SQL,
    "mixture_epoch_allocation": EPOCH_ALLOC_SQL,
    "sample_weighted_k": SAMPLE_WEIGHTED_SQL,
    "mixture_temperature_weights": MIXTURE_TEMP_SQL,
    "cap_docs_per_source": _cap_oracle_sql(),
    "rebalance_by_lang": REBALANCE_SQL,
    "source_mixture_weights": MIXTURE_SQL,
    "corpus_yield_funnel": YIELD_FUNNEL_SQL,
}

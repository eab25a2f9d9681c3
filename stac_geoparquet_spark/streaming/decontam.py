"""Incremental (streaming) benchmark decontamination: new training
documents arrive as a stream and are checked against a STATIC index of
the holdout/benchmark word-5-grams — the ingest-time shape of the
batch ``pipeline.decontaminate_against_holdout`` sweep. At 100 TB the
holdout is a benchmark suite (tiny, broadcastable), so each incoming
micro-batch pays one broadcast hash join and nothing else; no state
store, no watermark, no re-scan of history.

Shares the batch family's single tokenizer/split-hash definition
(``text.split_pct`` / ``pipeline._word_ngrams``), so a document's
grams and split never differ between the sweep and the stream.

``decontam_incremental`` is the batch-mode entry (incoming = train
docs with doc_id % 50 == 0, the same stand-in partition the streaming
dedup uses) and is exactly oracle-checked. ``stream_decontam_against
_holdout`` runs the identical pipeline from ``readStream``: the gram
explode is stateless (in-row ``array_distinct`` replaces the batch
side's exploded DISTINCT shuffle), the gram join is stream-static, and
the per-doc overlap count is left to the consumer (each doc's gram
rows live in one micro-batch, so a foreachBatch/keyed-sink aggregate
is exact) — the stream itself needs zero aggregation state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._io import read_table
from stac_geoparquet_spark.operators.pipeline import (
    NGRAM_N,
    _sql_ngrams,
    _text_word_ngrams,
)
from stac_geoparquet_spark.operators.text import (
    SPLIT_PCT_SQL,
    TRAIN_PCT,
    _sql_words,
    _words,
    split_pct,
)
from stac_geoparquet_spark.streaming.dedup import DOCS_SCHEMA, INCOMING_MOD


def holdout_gram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The static side: DISTINCT word-5-grams of the holdout split —
    built once from the corpus (one explode + one distinct shuffle);
    in production this is the benchmark suite, small enough that the
    stream side's join broadcasts it."""
    docs = read_table(spark, sf_dir, "documents")
    # r10: in-doc duplicate grams collapse in-row (array_distinct)
    # BEFORE the explode feeds the global DISTINCT shuffle — the
    # distinct result is insensitive to in-doc multiplicity, so the
    # exchange carries per-doc-unique rows only (guide §2.3, the same
    # change decontaminate_against_holdout took).
    return (
        docs.withColumn("pct", split_pct())
        .filter(F.col("pct") >= TRAIN_PCT)
        .select(
            F.explode(
                F.array_distinct(_text_word_ngrams(NGRAM_N))
            ).alias("ngram")
        )
        .distinct()
    )


def _incoming_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, ngram) with per-doc-distinct grams, computed fully
    in-row (``array_distinct`` before the explode) so it is stateless
    and stream-safe — no DISTINCT shuffle."""
    return (
        docs.withColumn("pct", split_pct())
        .filter(F.col("pct") < TRAIN_PCT)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    _text_word_ngrams(NGRAM_N)
                )
            ).alias("ngram"),
        )
    )


def _match_holdout(grams: DataFrame, holdout: DataFrame) -> DataFrame:
    """Stream-static (or batch) inner join: one row per contaminated
    (doc, gram). Both sides are gram-distinct, so counting rows per
    doc downstream yields the DISTINCT overlap count."""
    return grams.join(F.broadcast(holdout), "ngram").select("doc_id", "ngram")


def decontam_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-mode entry: per incoming contaminated train doc (doc_id %
    50 == 0), the number of DISTINCT word-5-grams it shares with the
    holdout split."""
    incoming = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % INCOMING_MOD == 0
    )
    matched = _match_holdout(
        _incoming_grams(incoming), holdout_gram_index(spark, sf_dir)
    )
    return matched.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )


DECONTAM_INCR_SQL = f"""
WITH w AS (
  SELECT doc_id, {_sql_words()} AS words,
         {SPLIT_PCT_SQL} AS pct
  FROM documents
),
g AS (
  SELECT doc_id, pct, unnest({_sql_ngrams(NGRAM_N)}) AS ngram FROM w
),
hold AS (SELECT DISTINCT ngram FROM g WHERE pct >= {TRAIN_PCT}),
tr AS (
  SELECT DISTINCT doc_id, ngram FROM g
  WHERE pct < {TRAIN_PCT} AND doc_id % {INCOMING_MOD} = 0
)
SELECT tr.doc_id, count(*) AS n_overlap
FROM tr JOIN hold USING (ngram)
GROUP BY tr.doc_id
"""


def stream_decontam_against_holdout(
    spark: SparkSession, source_dir: str, holdout: DataFrame
) -> DataFrame:
    """Streaming incoming docs (parquet file source) joined against the
    static holdout gram index. Returns the streaming DataFrame of
    (doc_id, ngram) contamination hits — stateless, append-mode; the
    consumer aggregates per doc (exact per micro-batch, since a doc's
    grams arrive together in its file's batch)."""
    docs = (
        spark.readStream.schema(DOCS_SCHEMA)
        .format("parquet")
        .option("path", source_dir)
        .load()
    )
    return _match_holdout(_incoming_grams(docs), holdout)


QUERIES = {
    "decontam_incremental": decontam_incremental,
}

ORACLE = {
    "decontam_incremental": DECONTAM_INCR_SQL,
}

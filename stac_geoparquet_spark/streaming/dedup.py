"""Incremental (streaming) near-dup detection: new documents arrive as
a stream and are checked against a static MinHash band index of the
existing corpus — the shape a 100-TB ingest pipeline actually runs
(index the corpus once; each incoming batch only joins its own bands).

Two halves sharing one signature definition (bit-identical to
``operators.dedup``'s batch MinHash — same md5/conv hash, same
(h1 + i*h2) mod p family, same band keys):

- ``incoming_signatures``: STATELESS per-row signature computation
  (higher-order array lambdas, no explode/groupBy) so it runs on a
  streaming DataFrame without aggregation state. Interpreted lambdas
  are ~10x slower per shingle than the exploded codegen path — the
  right trade for an incoming stream, which is orders of magnitude
  smaller than the corpus; the index side stays on the fast path.
- ``band_index``: the static side — per-doc band keys + shingle-hash
  set + size from the session-cached shingle table.

``dedup_incremental_minhash`` is the batch-mode entry (incoming = doc_id
% 50 == 0, index = the rest) and is exactly oracle-checked: restricting
the full minhash pair set to cross-partition pairs yields the same
answer, because band collisions don't depend on which side a doc is on.
``stream_dedup_against_index`` runs the identical pipeline from
``readStream`` (stream-static equi-join on band keys, stateless); the
test asserts it emits byte-identical pairs to the batch entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._io import read_table
from pyspark.sql import types as T

from stac_geoparquet_spark.operators.dedup import (
    _MINHASH_PRIME,
    _minhash_oracle_ctes,
    band_parts_sql,
    per_doc_signatures,
    JACCARD_THRESHOLD,
    NUM_BANDS,
    NUM_HASHES,
    ROWS_PER_BAND,
    SHINGLE_K,
)

INCOMING_MOD = 50  # doc_id % 50 == 0 plays the incoming stream

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def incoming_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, ss, n, band_id, band_key) per band — stateless, so it
    works on streaming inputs. One md5 per distinct shingle, minhash
    mins as array folds over the in-row hash arrays."""
    sig_exprs = [
        f"array_min(zip_with(h1a, h2a, (a, b) -> (a + {s} * b) % "
        f"{_MINHASH_PRIME})) AS h{s}"
        for s in range(NUM_HASHES)
    ]
    band_parts = band_parts_sql()
    from stac_geoparquet_spark.operators.text import _words

    return (
        docs.select("doc_id", _words(F.col("text")).alias("w"))
        .selectExpr(
            "doc_id",
            f"""array_distinct(
                  CASE WHEN size(w) >= {SHINGLE_K}
                       THEN transform(sequence(0, size(w) - {SHINGLE_K}),
                            i -> concat_ws(' ', slice(w, i + 1, {SHINGLE_K})))
                       ELSE CAST(array() AS array<string>) END
                ) AS sh""",
        )
        .selectExpr(
            "doc_id",
            "transform(sh, s -> CAST(conv(substring(md5(s), 1, 15), 16, 10)"
            " AS bigint)) AS ss",
        )
        .filter(F.size("ss") > 0)
        .selectExpr(
            "doc_id",
            "ss",
            "size(ss) AS n",
            "transform(ss, v -> shiftright(v, 28)) AS h1a",
            f"transform(ss, v -> v & {(1 << 28) - 1}) AS h2a",
        )
        .selectExpr("doc_id", "ss", "n", *sig_exprs)
        .selectExpr(
            "doc_id", "ss", "n", f"explode(array({band_parts})) AS band"
        )
        .selectExpr("doc_id", "ss", "n", "band.band_id", "band.band_key")
    )


def band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static corpus index: per-doc band keys + shingle set + size,
    from the session-cached per-doc signature table (the resident
    MinHash index — built once, filtered here to the non-incoming
    partition; band collisions don't depend on which side a doc is
    on, so filtering the cached table is exact)."""
    per_doc = per_doc_signatures(spark, sf_dir).filter(
        F.col("doc_id") % INCOMING_MOD != 0
    )
    band_parts = band_parts_sql()
    return per_doc.selectExpr(
        "doc_id", "ss", "n", f"explode(array({band_parts})) AS band"
    ).selectExpr("doc_id", "ss", "n", "band.band_id", "band.band_key")


def _join_and_verify(incoming: DataFrame, index: DataFrame) -> DataFrame:
    """Band-key equi-join then exact Jaccard verify — stateless, so the
    same code path serves batch and stream-static execution."""
    inc = incoming.select(
        F.col("doc_id").alias("new_id"),
        F.col("ss").alias("new_ss"),
        F.col("n").alias("new_n"),
        "band_id",
        "band_key",
    )
    idx = index.select(
        F.col("doc_id").alias("dup_of"),
        F.col("ss").alias("idx_ss"),
        F.col("n").alias("idx_n"),
        "band_id",
        "band_key",
    )
    inter = F.size(F.array_intersect(F.col("new_ss"), F.col("idx_ss")))
    jac = F.round(inter / (F.col("new_n") + F.col("idx_n") - inter), 6)
    return (
        inc.join(idx, ["band_id", "band_key"])
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("new_id", "dup_of", "jaccard")
    )


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    incoming = incoming_signatures(
        docs.filter(F.col("doc_id") % INCOMING_MOD == 0)
    )
    return _join_and_verify(incoming, band_index(spark, sf_dir)).distinct()


def _incremental_oracle_sql() -> str:
    return f"""
WITH {_minhash_oracle_ctes()}
SELECT CASE WHEN doc_a % {INCOMING_MOD} = 0 THEN doc_a ELSE doc_b END AS new_id,
       CASE WHEN doc_a % {INCOMING_MOD} = 0 THEN doc_b ELSE doc_a END AS dup_of,
       jaccard
FROM pairs
WHERE (doc_a % {INCOMING_MOD} = 0) <> (doc_b % {INCOMING_MOD} = 0)
"""


def stream_dedup_against_index(
    spark: SparkSession, source_dir: str, index: DataFrame
) -> DataFrame:
    """Streaming incoming docs (parquet file source) joined against the
    static band index. Stream-static equi-joins are stateless — no
    watermark, no state store; each micro-batch joins only its own band
    keys. Returns the streaming DataFrame of (new_id, dup_of, jaccard);
    cross-band duplicate emissions are deduplicated by the consumer
    (per-batch distinct in foreachBatch, or a keyed sink upsert)."""
    docs = (
        spark.readStream.schema(DOCS_SCHEMA)
        .format("parquet")
        .option("path", source_dir)
        .load()
    )
    return _join_and_verify(incoming_signatures(docs), index)


QUERIES = {
    "dedup_incremental_minhash": dedup_incremental_minhash,
}

ORACLE = {
    "dedup_incremental_minhash": _incremental_oracle_sql(),
}

"""Incremental PSI drift, streaming form: arriving events score
against a FROZEN baseline type distribution — the serving-time shape
of ``timeseries.events_psi_incremental`` (which is the oracle-checked
batch entry over the family's shared id-slice stand-in split).

The static side here is genuinely BROADCASTABLE (per-type counts +
totals — bounded by the event-type alphabet, unlike the corpus-sized
novelty gram index), so each micro-batch pays one broadcast hash join
and nothing else; the stream side is stateless (append mode).  Per-
batch aggregation is left to the consumer: a type's incoming count is
additive across micro-batches, so a foreachBatch/down-stream rollup of
the flagged rows reproduces the batch answer exactly (pinned by
``tests/test_streaming.py::test_stream_psi_matches_batch``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stac_geoparquet_spark.operators._io import read_table
from stac_geoparquet_spark.operators.retrieval import INCOMING_MOD

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def psi_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen side: per-type counts of the resident slice
    (event_id % INCOMING_MOD != 0).  Bounded by the type alphabet —
    at serving time this is the table the ingest job maintains and
    broadcasts."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("event_id").isNotNull()
    )
    return (
        ev.where(F.col("event_id") % INCOMING_MOD != 0)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_base"))
    )


def stream_psi_flagged(
    spark: SparkSession, source_dir: str, baseline: DataFrame
) -> DataFrame:
    """Streaming incoming events (parquet file source) LEFT-joined
    against the broadcast baseline: one row per incoming event with
    its type's frozen baseline count attached (0 for never-seen
    types).  Stateless, append-mode; the consumer aggregates per type
    and applies the smoothed PSI-term formula on the rollup."""
    ev = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .format("parquet")
        .option("path", source_dir)
        .load()
        .where(F.col("event_type").isNotNull() & F.col("event_id").isNotNull())
    )
    base = baseline.select(
        "event_type", F.col("n_base").alias("base_n")
    )
    return ev.join(F.broadcast(base), "event_type", "left").select(
        "event_type",
        "event_id",
        F.coalesce("base_n", F.lit(0)).alias("n_base"),
    )

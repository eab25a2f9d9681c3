"""Streaming per-source admission quota: accept documents from each
source in arrival order until the source has used its quota, then
reject — the ingest-time guardrail against a crawl dump flooding the
mix (the arrival-order counterpart of the quality-ranked batch
``pipeline.cap_docs_per_source``).

Two surfaces, one contract (first QUOTA_M valid docs per source in
doc_id order admit):

- ``source_quota_incremental`` — oracle-gated batch stand-in.  NOT a
  bare-source window (the bounded-key class the registry sweep
  rejects): a two-phase first-M — local window over (source, shuffle
  partition) keeps each task's M earliest doc_ids (any partition's
  local earliest contain every global admit), a bounded P*M aggregate
  merge yields the per-source M-th-earliest threshold, and the corpus
  joins the tiny threshold table broadcast.
- ``stream_source_quota`` — the serving path: ``readStream`` +
  ``applyInPandasWithState`` keyed by source.  State per source is ONE
  integer (admitted-so-far) — bounded, skew-safe, horizontally
  partitioned by the state store.  Arrival order within a micro-batch
  is pinned to doc_id so stream == batch holds whenever files arrive
  in id order (the fixture case; with out-of-order arrival the stream
  is the source of truth — admission is inherently arrival-ordered).

The reference has no streaming surface (SURVEY.md §2.7-2.8 scope
note); this extends the engine's beyond-reference ingest family
(dedup/semdedup/decontam/rollup incremental).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._canon import (
    DOCS_CANON_SQL as _DOCS_CANON_SQL,
)

from stac_geoparquet_spark.streaming.dedup import DOCS_SCHEMA

QUOTA_M = 15  # admits per source (binds at the sf0.01 gate: ~25/source)

OUT_SCHEMA = "doc_id bigint, source string, admitted boolean"


def _valid_docs(docs: DataFrame) -> DataFrame:
    # the admission contract counts only usable docs: with text and a
    # source key (same validity filter as cap_docs_per_source)
    return docs.where(
        F.col("text").isNotNull()
        & (F.length("text") > 0)
        & F.col("source").isNotNull()
    ).select("doc_id", "source")


def source_quota_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from stac_geoparquet_spark.operators.twophase import (
        kth_smallest,
        local_topk,
    )

    # canonical-by-id (_canon.py): admission is keyed per doc_id — a
    # re-delivered duplicate id must not consume quota twice
    from stac_geoparquet_spark.operators._canon import docs_canon

    docs = _valid_docs(docs_canon(spark, sf_dir))
    # the candidate branch re-reads the (reused) scan; see the
    # plan-shape note in pipeline.cap_docs_per_source for why no
    # exchange above the pid projection can be AQE-reused — here both
    # branches are cheap projections, so nothing is worth deduping
    candidates = local_topk(docs, ["source"], [F.asc("doc_id")], QUOTA_M)
    thresholds = kth_smallest(
        candidates, ["source"], "doc_id", QUOTA_M, "thr"
    )
    return docs.join(F.broadcast(thresholds), "source").select(
        "doc_id",
        "source",
        (F.col("thr").isNull() | (F.col("doc_id") <= F.col("thr"))).alias(
            "admitted"
        ),
    )


QUOTA_SQL = f"""
WITH v AS (
  SELECT doc_id, source FROM {_DOCS_CANON_SQL} documents
  WHERE text IS NOT NULL AND length(text) > 0 AND source IS NOT NULL
),
r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
  FROM v
)
SELECT doc_id, source, rk <= {QUOTA_M} AS admitted
FROM r
"""


def quota_stream(incoming: DataFrame) -> DataFrame:
    """The stateful operator over any (doc_id, source, ...) stream:
    admit while the source's running count < QUOTA_M."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    quota = QUOTA_M

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:  # pragma: no cover - NoTimeout configured
            return
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            "doc_id"
        )
        (n,) = state.get if state.exists else (0,)
        admitted = []
        for _ in rows["doc_id"]:
            admitted.append(n < quota)
            n += admitted[-1]
        state.update((int(n),))
        yield pd.DataFrame(
            {
                "doc_id": rows["doc_id"].astype("int64"),
                "source": key[0],
                "admitted": admitted,
            }
        )

    return (
        _valid_docs(incoming)
        .groupBy("source")
        .applyInPandasWithState(
            fn,
            outputStructType=OUT_SCHEMA,
            stateStructType="n bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_source_quota(spark: SparkSession, source_dir: str) -> DataFrame:
    """readStream wiring: parquet file source -> stateful quota."""
    incoming = spark.readStream.schema(DOCS_SCHEMA).parquet(source_dir)
    return quota_stream(incoming)


QUERIES = {
    "source_quota_incremental": source_quota_incremental,
}

ORACLE = {
    "source_quota_incremental": QUOTA_SQL,
}

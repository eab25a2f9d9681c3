"""Canonical-by-id input contract for id-keyed operators.

Production corpora are re-ingested: the same doc_id/vec_id/event_id
arrives more than once, sometimes with a conflicting payload (a
differential probe over duplicated-id copies of the test tables found
20 operators whose Spark and oracle results silently disagreed on such
data — multiplicity drift in per-id outputs, double-weighted k-means
means, duplicate neighbors crowding ANN top-k).  The engine contract
adopted on BOTH engines:

* **Id-keyed operators** — anything whose semantics key on the id
  (per-id outputs, index builds, survivor keep-lists, quota/packing
  assignments) — consume the CANONICAL table: one row per id, the
  winner being the row with the minimum payload tuple, each payload
  column compared ASC NULLS LAST.  NULLS LAST so a usable payload
  beats a NULL one; the tuple rule keeps the winner row-consistent
  (never a Frankenstein row mixing fields from different ingests).
* **Row-level operators** (per-row projections, multiset aggregates)
  stay raw: processing every arriving row is well-defined and both
  engines agree on it naturally, and forcing a keyed exchange in
  front of a pure scan would be a genuine 100-TB regression.

At scale the canonicalization is the INGEST step — dropDuplicates on
the id run once when the batch lands (Delta MERGE semantics), with
every analytic operator reading the canonical table.  This repo does
exactly that: documents/events canonicalize into a MATERIALIZED layout
(built once per source stamp via the shared scratch/atomic-publish
protocol, then read back like any table, so per-query cost is a plain
parquet scan); the vector family instead folds the rule into its
existing one-off index builds (IVF layout, codebooks) and driver-side
broadcast loads, where it is free.

The SQL twins below are built from the same payload tuples so the two
sides cannot drift; tests/test_dup_id_differential.py re-runs the
probe as a permanent gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stac_geoparquet_spark.caches import table_path

# payload tuples: COLUMN ORDER IS THE CONTRACT (winner = min tuple)
DOC_PAYLOAD = ("text", "lang", "source", "n_chars")
EVENT_PAYLOAD = ("ts", "user_id", "event_type", "value", "props")


def canonical_rows(df: DataFrame, id_col: str, payload) -> DataFrame:
    """One row per id: the minimum payload tuple, columns compared
    ASC NULLS LAST (explicit — Spark defaults NULLS FIRST while DuckDB
    defaults NULLS LAST; the cross-engine fuzz campaign made pinned
    NULL ordering a house rule for every window)."""
    w = Window.partitionBy(id_col).orderBy(
        *[F.col(c).asc_nulls_last() for c in payload]
    )
    return (
        df.withColumn("rn__", F.row_number().over(w))
        .filter(F.col("rn__") == 1)
        .drop("rn__")
    )


def _canon_layout(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    id_col: str,
    payload,
    spread: bool = True,
) -> DataFrame:
    """Materialized canonical copy of ``table`` (one row per id),
    built once per (source file, stamp, layout version) and reused by
    every id-keyed operator — the ingest-dedup job run once, not a
    corpus-sized keyed exchange re-paid inside each query.  Shares the
    scratch-stamp + atomic-publish protocol of the IVF layout and the
    gram index, including the format-version key so upgraded build
    code never serves a stale pre-upgrade copy."""
    from stac_geoparquet_spark.operators._io import (
        layout_scratch_path,
        layout_write_partitions,
        materialize_layout,
        read_spread,
        read_table,
    )

    src = table_path(sf_dir, table)
    path = layout_scratch_path(src, f"sgs_canon_{table}")

    def build(build_dir: str) -> None:
        out = canonical_rows(read_table(spark, sf_dir, table), id_col, payload)
        # toy-scale sources come out of the id-window as ONE
        # advisory-coalesced partition -> one file -> one forever-
        # single scan task (the openCostInBytes floor).  Split the
        # one-time build into a file per core so every consumer's
        # scan parallelizes with NO per-query exchange; at real scale
        # layout_write_partitions returns None and the natural
        # partitioning (hundreds of MB per file) is kept.
        n = layout_write_partitions(spark, src)
        if n:
            out = out.repartition(n)
        out.write.mode("overwrite").parquet(build_dir)

    out = materialize_layout(path, build)
    # ``spread`` parallelizes single-split toy reads for worker-heavy
    # consumers; hash-early operators (dedup_exact) pass False so the
    # text column never rides a round-robin exchange.  r11: the layout
    # itself now writes 8 files in the toy regime, so the spread
    # target is 8 — once the scan is 8-way, re-spreading 8 -> cores
    # is a round-robin exchange of the text column that costs more
    # than the extra parallelism buys (bm25_ndcg solo 1.30 -> 1.02 s
    # without it; the embeddings consumers use the same target=8 for
    # the same fatter-blocks reason).  spread=True still repartitions
    # below 8 cores: Spark packs files into splits of
    # max(openCostInBytes, total bytes / cores), so the 8 small files
    # scan as 4 splits at local[4] (8 at local[8]), fewer than the
    # target — the RoundRobinPartitioning(8) exchange that the local[4]
    # test session records in plans/shapes.json.
    from stac_geoparquet_spark.operators._io import scan_parquet

    return (
        read_spread(spark, out, target=8)
        if spread
        else scan_parquet(spark, out)
    )


def docs_canon(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    # spread default flipped in the r10 optimization round: the
    # round-robin exchange of the text column costs more at toy scale
    # than the per-core work it parallelizes (see _io.read_table).
    # spread=True repartitions only where the layout scans as fewer
    # than 8 splits (below 8 cores at toy scale, see _canon_layout);
    # at real scale the layout scans as many splits either way.
    return _canon_layout(
        spark, sf_dir, "documents", "doc_id", DOC_PAYLOAD, spread=spread
    )


def events_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r10: no toy-file spread — every consumer's first operation is a
    # user-keyed window/aggregate, so the round-robin exchange was a
    # pure extra shuffle in front of the keyed one (guide §2.4).
    return _canon_layout(
        spark, sf_dir, "events", "event_id", EVENT_PAYLOAD, spread=False
    )


def canon_subquery(table: str, id_col: str, payload) -> str:
    """DuckDB derived-table twin of canonical_rows, for use as
    ``FROM {DOCS_CANON_SQL} documents`` — aliasing it to the raw view
    name keeps the remainder of an oracle query untouched."""
    cols = ", ".join((id_col,) + tuple(payload))
    order = ", ".join(f"{c} ASC NULLS LAST" for c in payload)
    return (
        f"(SELECT {cols} FROM (SELECT {cols}, row_number() OVER "
        f"(PARTITION BY {id_col} ORDER BY {order}) AS rn__ "
        f"FROM {table}) canon_t WHERE rn__ = 1)"
    )


DOCS_CANON_SQL = canon_subquery("documents", "doc_id", DOC_PAYLOAD)
EVENTS_CANON_SQL = canon_subquery("events", "event_id", EVENT_PAYLOAD)

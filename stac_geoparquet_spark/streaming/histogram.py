"""Incremental histogram-quantile maintenance: keep the mergeable
per-user cent-total state current by merging each new batch of events
WITHOUT rescanning history, then present approximate quantiles from
the derived value-domain histogram — the streaming dual of
``operators/stats.approx_quantiles_histogram`` (same presentation code,
same oracle), following the rollup.py maintenance pattern.

Mergeability argument: the histogram itself is NOT mergeable per-user
(a user whose events arrive in two deltas moves buckets when their
total changes), so the maintained state is one level lower — the
(user_id, cents) exact int64 totals, which merge by sum.  The
histogram + interpolation are a read-side projection over the state.
At 100 TB the state is user-keyed (the same cardinality every per-user
operator already shuffles on); each maintenance cycle aggregates only
the delta and merges with one user-keyed shuffle over
|state| + |delta-users| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._io import read_table


def user_cents_state(events: DataFrame) -> DataFrame:
    """Aggregate a batch of raw events into mergeable per-user state."""
    from stac_geoparquet_spark.operators.stats import user_cents_totals

    return user_cents_totals(events)


def merge_user_cents_state(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Associative merge of two per-user states (stored ⊕ new batch)."""
    return (
        state.unionByName(delta)
        .groupBy("user_id")
        .agg(F.sum("cents").alias("cents"))
    )


def approx_quantiles_incremental(spark, sf_dir: str) -> DataFrame:
    """Oracle-gated maintenance proof: build the per-user state by
    merging three out-of-order deltas and present the histogram
    quantiles — the DuckDB oracle recomputes from all events in one
    pass (the batch op's exact SQL), so the hash match proves the
    incremental path loses nothing, including users whose events are
    SPLIT across deltas (their totals — and therefore buckets — only
    become correct after the merge)."""
    from stac_geoparquet_spark.operators.stats import (
        hist_quantiles_from_user_totals,
    )

    events = read_table(spark, sf_dir, "events")
    # pmod + coalesce: every row lands in exactly ONE delta (the
    # rollup.py convention — Spark's % keeps the dividend's sign and
    # NULL % 3 is NULL)
    bucket = F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(3))
    parts = [events.where(bucket == i) for i in range(3)]
    state = user_cents_state(parts[1])
    state = merge_user_cents_state(state, user_cents_state(parts[0]))
    state = merge_user_cents_state(state, user_cents_state(parts[2]))
    return hist_quantiles_from_user_totals(spark, state)


def _oracle_sql() -> str:
    from stac_geoparquet_spark.operators.stats import APPROX_QUANTILES_SQL

    return APPROX_QUANTILES_SQL


QUERIES = {
    "approx_quantiles_incremental": approx_quantiles_incremental,
}

ORACLE = {
    "approx_quantiles_incremental": _oracle_sql(),
}

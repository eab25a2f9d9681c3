"""Continuous-aggregate maintenance: incrementally maintained state
must equal the build-once state — exactly for counts/sums, and
register-exactly for the HLL distinct sketch (union is register-wise
max, so maintain-then-estimate == build-once-then-estimate)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._io import read_table
from stac_geoparquet_spark.streaming.rollup import (
    hourly_rollup_state,
    merge_rollup_state,
    present_rollup,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return read_table(spark, sf_dir, "events").cache()


def _collect(df):
    return {
        (r.hour, r.event_type): (
            r.event_count,
            r.value_sum,
            r.unique_users_est,
        )
        for r in df.collect()
    }


def test_incremental_equals_full(spark, events):
    full = _collect(present_rollup(hourly_rollup_state(events)))

    # maintenance: three deltas arriving out of time order
    parts = [
        events.where(F.col("event_id") % 3 == i) for i in range(3)
    ]
    state = hourly_rollup_state(parts[1])
    state = merge_rollup_state(state, hourly_rollup_state(parts[0]))
    state = merge_rollup_state(state, hourly_rollup_state(parts[2]))
    maintained = _collect(present_rollup(state))

    assert maintained == full


def test_hll_estimate_close_to_exact(spark, events):
    est = {
        (r.hour, r.event_type): r.unique_users_est
        for r in present_rollup(hourly_rollup_state(events)).collect()
    }
    exact = {
        (r.hour, r.event_type): r.u
        for r in events.withColumn("hour", F.date_trunc("hour", "ts"))
        .groupBy("hour", "event_type")
        .agg(F.count_distinct("user_id").alias("u"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, e in exact.items():
        assert abs(est[k] - e) <= max(2, 0.05 * e), (k, est[k], e)

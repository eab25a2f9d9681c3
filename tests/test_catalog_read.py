"""``read_geoparquet`` reuse and staleness, and the traced-search
contract of ``to_item_dicts``.

A repeat read of an unchanged GeoParquet directory returns the session's
memoized relation and runs no job; any change to the parquet files under
it reads fresh.  ``perfbench/search.py::ScanSpy`` reads a traced
search's scan metrics from the DataFrame ``to_item_dicts`` passes to
``DataFrame.toLocalIterator``; the contract test fails if a rewrite of
the hydration stops making that call or hides the scan behind an
adaptive-plan wrapper."""

from __future__ import annotations

import os
import types

import pytest

from tests import stac_fixtures as fx
from tests.json_semantic import items_equal


@pytest.fixture()
def catalog(spark, tmp_path):
    """Six items written as a GeoParquet directory of three files;
    returns (items, normalized frame, directory)."""
    from stac_geoparquet_spark.sinks import to_geoparquet
    from stac_geoparquet_spark.stac import read_items

    items = fx.naip_like_items(6)
    src = fx.write_ndjson(items, str(tmp_path / "in.ndjson"))
    df = read_items(spark, src)
    dest = str(tmp_path / "catalog")
    files = to_geoparquet(df.repartition(3), dest)
    assert len(files) == 3
    return items, df, dest


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by the status
    tracker in a job group of its own."""
    sc = spark.sparkContext
    group = f"catalog-read-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _part_files(dest):
    return sorted(
        os.path.join(dest, f) for f in os.listdir(dest) if f.endswith(".parquet")
    )


def test_repeat_read_of_unchanged_dir_reuses_relation(spark, catalog):
    from stac_geoparquet_spark.sinks.geoparquet import read_geoparquet

    _, _, dest = catalog
    first, first_jobs = _jobs(spark, lambda: read_geoparquet(spark, dest))
    again, again_jobs = _jobs(spark, lambda: read_geoparquet(spark, dest))
    assert again is first
    assert first_jobs >= 1  # the schema-inference job the repeat skips
    assert again_jobs == 0
    assert read_geoparquet(spark, dest + "/") is first


def test_append_reads_fresh(spark, catalog):
    from stac_geoparquet_spark.sinks import to_geoparquet
    from stac_geoparquet_spark.sinks.geoparquet import read_geoparquet

    _, df, dest = catalog
    first = read_geoparquet(spark, dest)
    to_geoparquet(df, dest, mode="append")
    again = read_geoparquet(spark, dest)
    assert again is not first
    assert again.count() == 12


def test_overwrite_reads_fresh(spark, catalog):
    from stac_geoparquet_spark.sinks import to_geoparquet
    from stac_geoparquet_spark.sinks.geoparquet import read_geoparquet

    _, df, dest = catalog
    first = read_geoparquet(spark, dest)
    to_geoparquet(df.limit(2), dest)
    again = read_geoparquet(spark, dest)
    assert again is not first
    assert again.count() == 2


def test_in_place_rewrite_under_same_name_reads_fresh(spark, catalog):
    import pyarrow.parquet as pq

    from stac_geoparquet_spark.sinks.geoparquet import read_geoparquet

    _, _, dest = catalog
    first = read_geoparquet(spark, dest)
    victim = _part_files(dest)[0]
    table = pq.read_table(victim)
    assert table.num_rows >= 1
    size = os.path.getsize(victim)
    pq.write_table(table.slice(0, table.num_rows - 1), victim)
    assert os.path.getsize(victim) != size
    again = read_geoparquet(spark, dest)
    assert again is not first
    assert again.count() == 5


def test_deleted_file_reads_fresh(spark, catalog):
    import pyarrow.parquet as pq

    from stac_geoparquet_spark.sinks.geoparquet import read_geoparquet

    _, _, dest = catalog
    first = read_geoparquet(spark, dest)
    victim = _part_files(dest)[0]
    gone = pq.read_metadata(victim).num_rows
    os.remove(victim)
    again = read_geoparquet(spark, dest)
    assert again is not first
    assert again.count() == 6 - gone


@pytest.mark.parametrize("uri", ["s3://bucket/catalog", "hdfs://nn:8020/catalog"])
def test_unstampable_source_is_read_on_every_call(uri):
    """A non-``file`` URI has no stamp, so a stored relation could never
    be told stale: each call builds, and nothing is stored.  A stand-in
    session records the reads (no filesystem is contacted)."""
    from stac_geoparquet_spark import caches
    from stac_geoparquet_spark.sinks.geoparquet import read_geoparquet

    reads = []

    def parquet(path):
        reads.append(path)
        return object()

    spark = types.SimpleNamespace(read=types.SimpleNamespace(parquet=parquet))
    store = caches.registered_caches()["io.scans"]
    before = len(store)
    assert read_geoparquet(spark, uri) is not read_geoparquet(spark, uri)
    assert reads == [uri, uri]
    assert len(store) == before


def test_traced_search_contract(spark, catalog, monkeypatch):
    """A search hydrates through one ``DataFrame.toLocalIterator`` call
    on a frame whose executed plan exposes the parquet scan's metrics
    (what perfbench's ``ScanSpy`` reads), and its items are the input
    items the filter selects."""
    from stac_geoparquet_spark.sinks.geoparquet import read_geoparquet
    from stac_geoparquet_spark.stac.cql2 import cql2_filter
    from stac_geoparquet_spark.stac.inverse import to_item_dicts

    items, _, dest = catalog
    seen = []
    cls = type(spark.range(1))  # the concrete class ScanSpy patches
    orig = cls.toLocalIterator

    def wrapped(df, *a, **kw):
        seen.append(df)
        return orig(df, *a, **kw)

    monkeypatch.setattr(cls, "toLocalIterator", wrapped)
    expr = {"op": "<", "args": [{"property": "gsd"}, 0.85]}
    got = list(to_item_dicts(cql2_filter(read_geoparquet(spark, dest), expr)))

    assert len(seen) == 1
    leaves = seen[0]._jdf.queryExecution().executedPlan().collectLeaves()
    files = [
        leaves.apply(k).metrics().apply("numFiles").value()
        for k in range(leaves.size())
        if leaves.apply(k).metrics().contains("numFiles")
    ]
    assert files and sum(files) > 0
    expected = [it for it in items if it["properties"]["gsd"] < 0.85]
    assert len(expected) == 3
    ok, why = items_equal(expected, got)
    assert ok, why

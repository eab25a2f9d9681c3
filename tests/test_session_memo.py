"""Freshness contract of ``caches.session_memo``.

A memo is keyed on (absolute source path, source stamp): rewriting the
source rebuilds, an unchanged stamp returns the very same object, and
two spellings of one data dir share an entry.  No Spark is needed — the
helper only compares sessions by identity."""

from __future__ import annotations

import os
import types

import pytest

from stac_geoparquet_spark import caches

# every store the package defines; perfbench/run.py sums their sizes
# for ``caches.entries_added``
STORES = {
    "io.scans",
    "io.spread",
    "dedup.shingles",
    "dedup.per_doc",
    "dedup.pairs",
    "dedup.cc_labels",
    "mining.support_pairs",
    "graph.lpa_state",
    "graph.hyperball_states",
    "curation.bpe_topk",
    "curation.uni_vocab",
    "similarity.knn",
    "similarity.cov_merged",
    "similarity.kmeans_cents",
}


def _session():
    """A stand-in session: the helper only checks its identity."""
    return types.SimpleNamespace()


@pytest.fixture
def memo():
    """A memo over ``<sf_dir>/docs.parquet`` whose builder records
    every build and returns a fresh object (or ``None`` for a dir
    named ``empty``)."""
    builds = []

    @caches.session_memo("test.memo", "docs")
    def build(spark, sf_dir, *extra):
        builds.append((sf_dir, extra))
        return None if sf_dir.endswith("empty") else object()

    yield build, builds
    del caches._REGISTRY["test.memo"]


def _write_source(sf_dir, data: bytes) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    with open(os.path.join(sf_dir, "docs.parquet"), "wb") as f:
        f.write(data)


def test_unchanged_stamp_returns_identical_object(memo, tmp_path):
    build, builds = memo
    _write_source(tmp_path, b"v1")
    spark = _session()
    first = build(spark, str(tmp_path))
    assert build(spark, str(tmp_path)) is first
    assert len(builds) == 1


def test_rewritten_source_rebuilds(memo, tmp_path):
    build, builds = memo
    _write_source(tmp_path, b"v1")
    spark = _session()
    first = build(spark, str(tmp_path))
    src = os.path.join(tmp_path, "docs.parquet")
    old_mtime = os.stat(src).st_mtime_ns
    _write_source(tmp_path, b"version two")
    os.utime(src, ns=(old_mtime + 10**9, old_mtime + 10**9))
    second = build(spark, str(tmp_path))
    assert second is not first
    assert len(builds) == 2
    assert build(spark, str(tmp_path)) is second


def test_rewritten_source_keeps_one_entry(memo, tmp_path):
    """A rebuild drops the entries of the source's older stamps (same
    extra key parts only): a source rewritten three times in one
    session keeps one entry, not four."""
    build, builds = memo
    _write_source(tmp_path, b"v0")
    spark = _session()
    other = build(spark, str(tmp_path), "other")
    src = os.path.join(tmp_path, "docs.parquet")
    for i in range(1, 4):
        build(spark, str(tmp_path))
        _write_source(tmp_path, b"v" * (i + 1))
        mtime = os.stat(src).st_mtime_ns + i * 10**9
        os.utime(src, ns=(mtime, mtime))
    latest = build(spark, str(tmp_path))
    assert len(builds) == 5
    store = caches.registered_caches()["test.memo"]
    assert [v for k, (_, v) in store.items() if k[2:] == ()] == [latest]
    assert build(spark, str(tmp_path)) is latest
    # the "other" entry is superseded too, but goes only when the
    # "other" key is rebuilt
    assert len(store) == 2
    assert build(spark, str(tmp_path), "other") is not other
    assert len(store) == 2


def test_relative_and_absolute_dir_share_one_entry(
    memo, tmp_path, monkeypatch
):
    build, builds = memo
    _write_source(tmp_path / "sf", b"v1")
    monkeypatch.chdir(tmp_path)
    spark = _session()
    assert build(spark, "sf") is build(spark, str(tmp_path / "sf"))
    assert len(builds) == 1
    assert len(caches.registered_caches()["test.memo"]) == 1


def test_cached_none_is_not_rebuilt(memo, tmp_path):
    build, builds = memo
    _write_source(tmp_path / "empty", b"")
    spark = _session()
    assert build(spark, str(tmp_path / "empty")) is None
    assert build(spark, str(tmp_path / "empty")) is None
    assert len(builds) == 1


def test_other_session_or_extra_key_part_rebuilds(memo, tmp_path):
    build, builds = memo
    _write_source(tmp_path, b"v1")
    a, b = _session(), _session()
    first = build(a, str(tmp_path), 4)
    assert build(b, str(tmp_path), 4) is not first
    assert build(b, str(tmp_path), 8) is not build(b, str(tmp_path), 4)
    assert len(builds) == 3


def test_clear_session_caches_empties_the_store(memo, tmp_path):
    build, _ = memo
    _write_source(tmp_path, b"v1")
    build(_session(), str(tmp_path))
    assert caches.clear_session_caches()["test.memo"] == 1
    assert caches.registered_caches()["test.memo"] == {}


def test_registered_caches_lists_every_store():
    from stac_geoparquet_spark.operators import (  # noqa: F401
        curation,
        dedup,
        graph,
        mining,
        similarity,
    )

    assert STORES <= set(caches.registered_caches())

"""Z-order layout: key correctness is covered by the oracle gate
(``layout_zorder_cells``); here we verify the *writer* produces tight
Parquet row-group stats — the data-skipping property the layout exists
for (the Spark-side analogue of the reference's bbox covering metadata,
reference arrow/_to_parquet.py:99-107)."""

import glob
import os

import pyarrow.parquet as pq

from stac_geoparquet_spark.operators.layout import write_zordered


def _rowgroup_spans(path: str, col: str) -> list[int]:
    spans = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            spans.append(st.max - st.min)
    return spans


def test_zordered_write_tightens_both_dims(spark, sf_dir, tmp_path):
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_partkey", "l_suppkey"
    )
    base = str(tmp_path / "plain")
    li.write.mode("overwrite").parquet(base)
    zpath = str(tmp_path / "zorder")
    write_zordered(li, zpath, "l_partkey", "l_suppkey", num_files=8)

    # same data round-trips
    assert spark.read.parquet(zpath).count() == li.count()

    for col in ("l_partkey", "l_suppkey"):
        glob_lo = min(r[0] for r in li.select(col).collect())
        glob_hi = max(r[0] for r in li.select(col).collect())
        plain = _rowgroup_spans(base, col)
        tight = _rowgroup_spans(zpath, col)
        avg_plain = sum(plain) / len(plain)
        avg_tight = sum(tight) / len(tight)
        # unsorted row groups span ~the whole domain; z-ordered ones
        # must cover a strict fraction of it on BOTH dimensions
        assert avg_tight < avg_plain * 0.6, (col, avg_tight, avg_plain)
        assert avg_tight < (glob_hi - glob_lo) * 0.6


def test_bucketed_copy_is_reused_after_the_catalog_forgets_it(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A later process starts with an empty catalog; dropping the two
    tables stands in for that.  The second call re-registers the copies
    the first one built: it writes no parquet file, and the temp dir
    still holds one copy per table."""
    import tempfile

    from stac_geoparquet_spark.operators import _io
    from stac_geoparquet_spark.operators.bucketing import (
        bucketed_colocated_join,
    )

    def drop_bucketed_tables() -> None:
        for t in spark.catalog.listTables():
            if t.name.startswith("sgs_"):
                spark.sql(f"DROP TABLE {t.name}")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    drop_bucketed_tables()
    try:
        first = sorted(bucketed_colocated_join(spark, sf_dir).collect())
        copies = sorted(os.listdir(tmp_path))
        assert [c.rsplit("_", 1)[0] for c in copies] == [
            "sgs_lineitem_b8",
            "sgs_orders_b8",
        ]
        files = {
            f: os.stat(f).st_mtime_ns
            for f in glob.glob(str(tmp_path / "*" / "*.parquet"))
        }
        builds = len(_io.LAYOUT_BUILD_LOG)
        drop_bucketed_tables()
        second = sorted(bucketed_colocated_join(spark, sf_dir).collect())
        assert len(_io.LAYOUT_BUILD_LOG) == builds
        assert {
            f: os.stat(f).st_mtime_ns
            for f in glob.glob(str(tmp_path / "*" / "*.parquet"))
        } == files
        assert sorted(os.listdir(tmp_path)) == copies
        assert second == first
    finally:
        # later tests re-register the copies under the real temp dir
        drop_bucketed_tables()


def test_layout_copies_are_pruned_to_one_per_live_source(
    tmp_path, monkeypatch
):
    """A publish deletes its own source's older copies and the copies of
    deleted sources; a copy of another live source stays."""
    import tempfile

    from stac_geoparquet_spark.operators import _io

    temp = tmp_path / "temp"
    temp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(temp))

    def build(build_dir: str) -> None:
        os.makedirs(build_dir)
        open(os.path.join(build_dir, "_SUCCESS"), "w").close()

    def publish(src) -> str:
        return _io.materialize_layout(
            _io.layout_scratch_path(str(src), "sgs_prunetest"), build
        )

    def copies() -> list[str]:
        return sorted(os.listdir(temp))

    live, gone, other = (tmp_path / f"{t}.parquet" for t in "abc")
    for src in (live, gone, other):
        src.write_bytes(b"x")
    other_copy = os.path.basename(publish(other))
    publish(gone)
    # rewrite a source in place twice: one copy of it remains
    publish(live)
    for payload in (b"xy", b"xyz"):
        live.write_bytes(payload)
        newest = os.path.basename(publish(live))
    assert len(copies()) == 3
    assert newest in copies()
    # a deleted source's copy is an orphan, removed by the next publish
    gone.unlink()
    live.write_bytes(b"xyzw")
    newest = os.path.basename(publish(live))
    # the unrelated live source's layout survives every prune
    assert copies() == sorted([newest, other_copy])
    assert (temp / other_copy / "_SOURCE").read_text() == str(other)

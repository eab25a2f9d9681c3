"""GeoParquet sink tests: metadata stamping, covering block, read-back
round trip (reference parity: tests/test_parquet.py:27-111)."""

import json

import pytest

from tests import stac_fixtures as fx
from tests.json_semantic import items_equal


@pytest.fixture()
def normalized(spark, tmp_path):
    from stac_geoparquet_spark.stac import read_items

    src = str(tmp_path / "in.ndjson")
    fx.write_ndjson(fx.naip_like_items(), src)
    return read_items(spark, src)


def test_metadata_keys_written(spark, tmp_path, normalized):
    from stac_geoparquet_spark.sinks import read_geoparquet_metadata, to_geoparquet

    dest = str(tmp_path / "out_gpq")
    files = to_geoparquet(normalized, dest, collections=["naip-like"])
    assert files and all(f.endswith(".parquet") for f in files)
    md = read_geoparquet_metadata(dest)
    geo = md["geo"]
    assert geo["version"] == "1.1.0"
    assert geo["primary_column"] == "geometry"
    gcol = geo["columns"]["geometry"]
    assert gcol["encoding"] == "WKB"
    assert gcol["crs"]["id"] == {"authority": "EPSG", "code": 4326}
    assert gcol["edges"] == "planar"
    assert gcol["covering"]["bbox"]["xmin"] == ["bbox", "xmin"]
    stac = md["stac-geoparquet"]
    assert stac["version"] == "1.0.0"
    assert stac["collections"] == ["naip-like"]


def test_geoparquet_10_no_covering(spark, tmp_path, normalized):
    from stac_geoparquet_spark.sinks import read_geoparquet_metadata, to_geoparquet

    dest = str(tmp_path / "out_gpq10")
    to_geoparquet(normalized, dest, schema_version="1.0.0")
    geo = read_geoparquet_metadata(dest)["geo"]
    assert geo["version"] == "1.0.0"
    assert "covering" not in geo["columns"]["geometry"]


def test_proj_geometry_column_entry(spark, tmp_path):
    from stac_geoparquet_spark.sinks import read_geoparquet_metadata, to_geoparquet
    from stac_geoparquet_spark.stac import read_items

    src = str(tmp_path / "lidar.ndjson")
    fx.write_ndjson(fx.lidar_like_items(), src)
    df = read_items(spark, src)
    dest = str(tmp_path / "out_lidar")
    to_geoparquet(df, dest)
    geo = read_geoparquet_metadata(dest)["geo"]
    assert "proj:geometry" in geo["columns"]
    assert geo["columns"]["proj:geometry"]["crs"] is None


def test_full_roundtrip_through_parquet(spark, tmp_path):
    from stac_geoparquet_spark.sinks import to_geoparquet
    from stac_geoparquet_spark.sinks.geoparquet import read_geoparquet
    from stac_geoparquet_spark.stac import read_items, to_item_dicts

    items = fx.sentinel_like_items()
    src = str(tmp_path / "s2.ndjson")
    fx.write_ndjson(items, src)
    dest = str(tmp_path / "s2_gpq")
    to_geoparquet(read_items(spark, src), dest)
    back = list(to_item_dicts(read_geoparquet(spark, dest)))
    ok, why = items_equal(items, back)
    assert ok, why


def test_invalid_version_rejected(normalized, tmp_path):
    from stac_geoparquet_spark.sinks import to_geoparquet

    with pytest.raises(ValueError, match="schema_version"):
        to_geoparquet(normalized, str(tmp_path / "x"), schema_version="2.0.0")


def test_empty_dataframe_writes_schema_file(spark, tmp_path, normalized):
    from stac_geoparquet_spark.sinks import read_geoparquet_metadata, to_geoparquet

    empty = normalized.filter("id = 'no-such-id'")
    dest = str(tmp_path / "empty_gpq")
    files = to_geoparquet(empty, dest)
    assert len(files) == 1
    assert "geo" in read_geoparquet_metadata(dest)
    assert spark.read.parquet(dest).count() == 0


def test_bbox_stats_enable_row_group_skipping(spark, tmp_path, normalized):
    """The whole point of the bbox covering: parquet min/max stats on
    bbox struct fields are present so readers can skip row groups."""
    import pyarrow.parquet as pq

    from stac_geoparquet_spark.sinks import to_geoparquet

    dest = str(tmp_path / "stats_gpq")
    files = to_geoparquet(normalized, dest)
    f = pq.ParquetFile(files[0])
    names = f.schema_arrow.names
    assert "bbox" in names
    meta = f.metadata
    cols = {
        meta.row_group(0).column(i).path_in_schema: meta.row_group(0).column(i)
        for i in range(meta.num_columns)
    }
    assert cols["bbox.xmin"].statistics is not None
    assert cols["bbox.xmin"].statistics.has_min_max


def test_spatial_order_tightens_file_bbox_stats(spark, tmp_path):
    """spatial_order=True must cluster rows so each output file covers
    a small spatial window (tight bbox min/max stats -> reader-side
    file skipping), vs the scattered layout of an unordered write."""
    import random

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from stac_geoparquet_spark.sinks import to_geoparquet

    rng = random.Random(42)
    rows = []
    for i in range(4000):
        # points scattered over the full lon/lat domain
        x = rng.uniform(-170, 170)
        y = rng.uniform(-80, 80)
        rows.append((f"item-{i}", x - 0.1, y - 0.1, x + 0.1, y + 0.1))
    df = (
        spark.createDataFrame(
            rows, "id string, xmin double, ymin double, xmax double, ymax double"
        )
        .select(
            "id",
            F.struct("xmin", "ymin", "xmax", "ymax").alias("bbox"),
        )
        .repartition(16)
    )

    def file_spans(dest):
        spans = []
        md_files = [f for f in __import__("glob").glob(dest + "/*.parquet")]
        for f in md_files:
            t = pq.read_table(f, columns=["bbox"])
            xs = t.column("bbox").flatten()[0].to_pylist()
            if xs:
                spans.append(max(xs) - min(xs))
        return spans

    plain_dest = str(tmp_path / "plain")
    to_geoparquet(df, plain_dest)
    z_dest = str(tmp_path / "zorder")
    to_geoparquet(df, z_dest, spatial_order=True)

    assert (
        spark.read.parquet(z_dest).count()
        == spark.read.parquet(plain_dest).count()
        == 4000
    )
    plain = file_spans(plain_dest)
    tight = file_spans(z_dest)
    assert sum(tight) / len(tight) < 0.5 * sum(plain) / len(plain)


def test_spatial_order_requires_bbox(spark):
    from stac_geoparquet_spark.sinks import to_geoparquet

    df = spark.range(3).selectExpr("CAST(id AS STRING) AS id")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bbox"):
        to_geoparquet(df, "/tmp/never-written", spatial_order=True)


def _zkey(bbox):
    """The sink's z-key of one bbox, recomputed in Python: the centroid
    on the fixed global 2^16 grid, x bits at even positions."""
    cx = int(((bbox["xmin"] + bbox["xmax"]) / 2.0 + 180.0) * 182.04)
    cy = int(((bbox["ymin"] + bbox["ymax"]) / 2.0 + 90.0) * 364.08)
    return sum(
        (((cx >> i) & 1) << (2 * i)) | (((cy >> i) & 1) << (2 * i + 1))
        for i in range(16)
    )


def _file_zkeys(files):
    """Per written file, the z-key of each row in row order (None for a
    null bbox)."""
    import pyarrow.parquet as pq

    return [
        [
            None if b is None else _zkey(b)
            for b in pq.read_table(f, columns=["bbox"]).column("bbox").to_pylist()
        ]
        for f in files
    ]


def _points(spark, n, n_null=0, seed=7):
    """``n`` distinct point bboxes over the globe plus ``n_null`` null
    bboxes, as a bbox-struct frame."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        x, y = rng.uniform(-179, 179), rng.uniform(-89, 89)
        rows.append((f"p{i}", x, y, x, y))
    rows += [(f"null{i}", None, None, None, None) for i in range(n_null)]
    df = spark.createDataFrame(
        rows, "id string, xmin double, ymin double, xmax double, ymax double"
    )
    bbox = F.struct("xmin", "ymin", "xmax", "ymax")
    return df.select("id", F.when(F.col("xmin").isNotNull(), bbox).alias("bbox"))


def test_spatial_order_writes_disjoint_balanced_z_ranges(spark, tmp_path):
    """One file per input partition; the files hold disjoint z-key
    ranges, each z-sorted and within 10% of the mean row count; every
    null bbox lands in the file of the lowest range."""
    from stac_geoparquet_spark.sinks import to_geoparquet

    df = _points(spark, 3000, n_null=20).repartition(6)
    files = to_geoparquet(df, str(tmp_path / "z"), spatial_order=True)
    assert len(files) == 6
    per_file = sorted(
        _file_zkeys(files), key=lambda ks: min(k for k in ks if k is not None)
    )
    assert [sum(k is None for k in ks) for ks in per_file] == [20, 0, 0, 0, 0, 0]
    keyed = [[k for k in ks if k is not None] for ks in per_file]
    for ks, raw in zip(keyed, per_file):
        assert raw == [None] * (len(raw) - len(ks)) + sorted(ks)
    for lower, upper in zip(keyed, keyed[1:]):
        assert max(lower) < min(upper)
    mean = 3000 / 6
    assert all(abs(len(ks) - mean) <= 0.1 * mean for ks in keyed)


def test_spatial_order_single_partition_skips_bounds_job(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    from stac_geoparquet_spark.sinks import to_geoparquet

    def no_bounds(*args, **kwargs):
        raise AssertionError("bounds job run for a single-partition input")

    monkeypatch.setattr(F, "percentile_approx", no_bounds)
    files = to_geoparquet(
        _points(spark, 200).repartition(1), str(tmp_path / "one"), spatial_order=True
    )
    assert len(files) == 1
    (ks,) = _file_zkeys(files)
    assert len(ks) == 200 and ks == sorted(ks)


def test_spatial_order_empty_input_writes_schema_file(spark, tmp_path):
    from stac_geoparquet_spark.sinks import read_geoparquet_metadata, to_geoparquet

    empty = _points(spark, 50).repartition(3).filter("id = 'no-such-id'")
    dest = str(tmp_path / "empty_z")
    assert len(to_geoparquet(empty, dest, spatial_order=True)) == 1
    assert "stac-geoparquet" in read_geoparquet_metadata(dest)
    assert spark.read.parquet(dest).count() == 0


def test_spatial_order_encodes_each_geometry_once(spark, tmp_path, monkeypatch):
    """The spatial sort's bounds come from the bbox alone, so one
    read -> normalize -> spatially ordered write encodes every geometry
    of every item exactly once."""
    from pyspark.sql import types as T

    from stac_geoparquet_spark.sinks import to_geoparquet
    from stac_geoparquet_spark.stac import forward
    from stac_geoparquet_spark.stac.schema import geometry_paths

    encoded = spark.sparkContext.accumulator(0)

    def counting_udf():
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        encode = forward._wkb_mod.geojson_to_wkb

        def count_and_encode(s: pd.Series) -> pd.Series:
            encoded.add(int(s.notna().sum()))
            return s.map(lambda v: None if v is None else encode(v))

        return pandas_udf(count_and_encode, T.BinaryType())

    monkeypatch.setattr(forward, "_make_wkb_encode_udf", counting_udf)
    src = []
    for k in range(4):
        items = [dict(it, id=f"{it['id']}_{k}") for it in fx.lidar_like_items()]
        src.append(fx.write_ndjson(items, str(tmp_path / f"in-{k}.ndjson")))
    raw = forward.read_stac_json(spark, src)
    assert raw.rdd.getNumPartitions() >= 2
    n_paths = sum(
        isinstance(dt, T.StringType) for dt in geometry_paths(raw.schema).values()
    )
    assert n_paths == 2
    files = to_geoparquet(
        forward.normalize_items(raw), str(tmp_path / "once"), spatial_order=True
    )
    assert len(files) >= 2
    assert encoded.value == 12 * n_paths


def test_mixed_bbox_arity_fails_before_any_file_is_written(spark, tmp_path):
    """T4's arity check runs inside the plan; with spatial_order=True the
    first action is the bounds job, so the destination stays empty."""
    import glob

    from stac_geoparquet_spark.sinks import to_geoparquet
    from stac_geoparquet_spark.stac.forward import bbox_to_struct

    rows = [(f"a{i}", [0.0, 0.0, 1.0, 1.0]) for i in range(20)]
    rows += [(f"b{i}", [0.0, 0.0, 0.0, 1.0, 1.0, 1.0]) for i in range(20)]
    df = bbox_to_struct(
        spark.createDataFrame(rows, "id string, bbox array<double>").repartition(4)
    )
    dest = str(tmp_path / "mixed")
    with pytest.raises(Exception, match="mixed 2-D/3-D"):
        to_geoparquet(df, dest, spatial_order=True)
    assert glob.glob(dest + "/**/*.parquet", recursive=True) == []


def test_full_collection_dicts_round_trip(spark, tmp_path, normalized):
    """`collections` as {id: full Collection JSON} is stored verbatim
    under stac-geoparquet.collections and rehydrates from the footer
    (reference: arrow/_to_parquet.py:150-173, tests/test_parquet.py:62-101)."""
    from stac_geoparquet_spark.sinks import read_geoparquet_metadata, to_geoparquet

    collection = {
        "type": "Collection",
        "id": "naip-like",
        "stac_version": "1.0.0",
        "description": "synthetic naip-like imagery",
        "license": "PDDL-1.0",
        "extent": {
            "spatial": {"bbox": [[-120.0, 30.0, -100.0, 45.0]]},
            "temporal": {"interval": [["2020-01-01T00:00:00Z", None]]},
        },
        "links": [],
    }
    dest = str(tmp_path / "out_gpq_coll")
    to_geoparquet(normalized, dest, collections={"naip-like": collection})
    stac = read_geoparquet_metadata(dest)["stac-geoparquet"]
    assert stac == {
        "version": "1.0.0",
        "collections": {"naip-like": collection},
    }


def test_deprecated_collection_metadata_round_trip(spark, tmp_path, normalized):
    """The deprecated single-Collection form stores under `collection`
    and raises FutureWarning, matching the reference."""
    from stac_geoparquet_spark.sinks import read_geoparquet_metadata, to_geoparquet

    collection = {"type": "Collection", "id": "naip-like"}
    dest = str(tmp_path / "out_gpq_collmeta")
    with pytest.warns(FutureWarning, match="collections"):
        to_geoparquet(normalized, dest, collection_metadata=collection)
    stac = read_geoparquet_metadata(dest)["stac-geoparquet"]
    assert stac == {"version": "1.0.0", "collection": collection}


def test_parse_stac_ndjson_to_geoparquet_end_to_end(spark, tmp_path):
    """K5 single-call path (reference arrow/_api.py:281-336): NDJSON in,
    footer-stamped GeoParquet out, collections dict in the footer,
    limit honored."""
    from stac_geoparquet_spark.sinks import read_geoparquet_metadata
    from stac_geoparquet_spark.stac import parse_stac_ndjson_to_geoparquet

    src = str(tmp_path / "e2e.ndjson")
    items = fx.naip_like_items()
    fx.write_ndjson(items, src)
    dest = str(tmp_path / "e2e_gpq")
    coll = {"type": "Collection", "id": "naip-like", "description": "d"}
    files = parse_stac_ndjson_to_geoparquet(
        spark, src, dest, collections={"naip-like": coll}
    )
    assert files
    assert spark.read.parquet(dest).count() == len(items)
    stac = read_geoparquet_metadata(dest)["stac-geoparquet"]
    assert stac["collections"] == {"naip-like": coll}

    dest2 = str(tmp_path / "e2e_gpq_lim")
    parse_stac_ndjson_to_geoparquet(spark, src, dest2, limit=2)
    assert spark.read.parquet(dest2).count() == 2


def test_delta_available_is_honest(spark):
    """delta-spark is not installed here; the availability probe must
    say so (round-2 fix: bare py4j attribute access resolves unknown
    paths to a JavaPackage without raising, making the old check
    always-True)."""
    from stac_geoparquet_spark.sinks.delta import delta_available

    assert delta_available(spark) is False


def test_geo_key_omitted_without_geometry_column(spark, tmp_path):
    """A bbox-only table gets no 'geo' footer key (primary_column
    naming a missing column is spec-invalid), but keeps the
    stac-geoparquet key."""
    from pyspark.sql import functions as F

    from stac_geoparquet_spark.sinks import to_geoparquet
    from stac_geoparquet_spark.sinks.geoparquet import read_geoparquet_metadata

    df = spark.createDataFrame(
        [("a", 0.0, 0.0, 1.0, 1.0)],
        "id string, xmin double, ymin double, xmax double, ymax double",
    ).select("id", F.struct("xmin", "ymin", "xmax", "ymax").alias("bbox"))
    dest = str(tmp_path / "nogeo")
    to_geoparquet(df, dest)
    md = read_geoparquet_metadata(dest)
    assert "geo" not in md
    assert "stac-geoparquet" in md


def test_overwrite_clears_nested_part_files(spark, tmp_path):
    """mode='overwrite' over a previously Spark-written PARTITIONED
    dataset must delete the nested part files too — survivors would
    double rows on read-back (recursive listing regression)."""
    from stac_geoparquet_spark.sinks import to_geoparquet

    dest = str(tmp_path / "nested")
    spark.range(100).selectExpr("id", "id % 2 AS k").write.partitionBy(
        "k"
    ).parquet(dest)
    df = spark.createDataFrame([("a",), ("b",)], "id string")
    to_geoparquet(df, dest, mode="overwrite")
    assert spark.read.parquet(dest).count() == 2


def test_error_mode_sees_nested_part_files(spark, tmp_path):
    import pytest

    from stac_geoparquet_spark.sinks import to_geoparquet

    dest = str(tmp_path / "nested_err")
    spark.range(10).selectExpr("id", "id % 2 AS k").write.partitionBy(
        "k"
    ).parquet(dest)
    df = spark.createDataFrame([("a",)], "id string")
    with pytest.raises(FileExistsError):
        to_geoparquet(df, dest, mode="error")


def test_metadata_read_sees_nested_part_files(spark, tmp_path, normalized):
    """A hive-partitioned GeoParquet directory keeps its part files in
    subdirectories; the footer read must find them the way Spark's
    reader and the sink's overwrite do."""
    from stac_geoparquet_spark.sinks import read_geoparquet_metadata, to_geoparquet
    from stac_geoparquet_spark.sinks.geoparquet import read_geoparquet

    dest = tmp_path / "hive"
    to_geoparquet(normalized, str(dest / "year=2021"), collections=["naip-like"])
    md = read_geoparquet_metadata(str(dest))
    assert md["geo"]["primary_column"] == "geometry"
    assert md["stac-geoparquet"]["collections"] == ["naip-like"]
    assert read_geoparquet(spark, str(dest)).count() == 4


# ---------------------------------------------------------------------------
# Delta sink parity (r04 verdict task #8): mirror the reference's
# 10-collection Delta round-trip matrix (reference
# tests/test_delta_lake.py:13-54) — write via to_delta, read the table
# back, invert to item dicts, compare semantically, and assert the
# geo / stac-geoparquet metadata survives the table round-trip as
# TBLPROPERTIES.  delta-spark is not installed in this container, so
# the matrix is skip-marked with the reason recorded; the always-on
# coverage for the sink is the null-type validation + availability
# honesty below/above.
# ---------------------------------------------------------------------------
_REF_DATA = "/root/reference/tests/data"
_DELTA_COLLECTIONS = [
    "3dep-lidar-copc-pc",
    "cop-dem-glo-30-pc",
    "io-lulc-annual-v02-pc",
    "landsat-c2-l1-pc",
    "landsat-c2-l2-pc",
    "naip-pc",
    "planet-nicfi-analytic-pc",
    "sentinel-1-rtc-pc",
    "sentinel-2-l2a-pc",
    "us-census-pc",
]


def _delta_ready(spark) -> bool:
    from stac_geoparquet_spark.sinks.delta import delta_available

    return delta_available(spark)


@pytest.mark.parametrize("name", _DELTA_COLLECTIONS)
def test_delta_round_trip_matrix(spark, tmp_path, name):
    import json
    import os

    if not os.path.isdir(_REF_DATA):
        pytest.skip("reference checkout not present")
    if not _delta_ready(spark):
        pytest.skip(
            "delta-spark not installed in this container (io.delta JVM "
            "classes unavailable); matrix runs where Delta is present. "
            "Round-6 unskip attempt: `pip install delta-spark` fails "
            "(no network: NewConnectionError to the pypi mirror, 'no "
            "matching distribution'), no delta-spark/delta-core jar in "
            "any local ivy/maven cache (`find / -name 'delta-*'` is "
            "empty). Missing artifacts: pypi delta-spark>=4.0 + maven "
            "io.delta:delta-spark_2.13:4.x — install both and this "
            "matrix runs as-is."
        )
    from tests.json_semantic import items_equal

    from stac_geoparquet_spark.sinks.delta import to_delta
    from stac_geoparquet_spark.stac import read_items, to_item_dicts

    with open(os.path.join(_REF_DATA, f"{name}.json")) as f:
        items = json.load(f)
    src = str(tmp_path / f"{name}.ndjson")
    with open(src, "w") as f:
        for it in items:
            f.write(json.dumps(it) + "\n")
    dest = str(tmp_path / f"{name}_delta")
    df = read_items(spark, src)
    to_delta(df, dest, collections=[name])

    # table metadata survives the round-trip (the durable contract is
    # TBLPROPERTIES, not one commit's userMetadata)
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES delta.`{dest}`").collect()
    }
    assert "stac-geoparquet" in props
    stac_meta = json.loads(props["stac-geoparquet"])
    assert stac_meta.get("version")
    if "geo" in props:
        geo = json.loads(props["geo"])
        assert geo.get("primary_column")

    back = sorted(
        to_item_dicts(spark.read.format("delta").load(dest)),
        key=lambda d: d["id"],
    )
    ok, msg = items_equal(sorted(items, key=lambda d: d["id"]), back)
    assert ok, f"{name}: {msg}"

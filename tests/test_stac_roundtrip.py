"""Round-trip golden tests: items -> normalized DataFrame -> items,
the reference's primary oracle (SURVEY.md §5, tests/test_arrow.py)."""

import json

import pytest
from pyspark.sql import types as T

from tests import stac_fixtures as fx
from tests.json_semantic import items_equal


def _roundtrip(spark, tmp_path, items, writer=fx.write_ndjson, **norm_kw):
    from stac_geoparquet_spark.stac import read_items, to_item_dicts

    path = str(tmp_path / "items.json")
    writer(items, path)
    df = read_items(spark, path, **norm_kw)
    out = list(to_item_dicts(df))
    return df, out


FIXTURES = {
    "naip_like": fx.naip_like_items(),
    "sentinel_like": fx.sentinel_like_items(),
    "lidar_like": fx.lidar_like_items(),
    "heterogeneous_geometry": fx.heterogeneous_geometry_items(),
    "bbox3d": fx.bbox3d_items(),
}


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_roundtrip_ndjson(spark, tmp_path, name):
    items = FIXTURES[name]
    _, out = _roundtrip(spark, tmp_path, items)
    ok, why = items_equal(items, out)
    assert ok, why


def test_roundtrip_json_array(spark, tmp_path):
    items = fx.naip_like_items()
    _, out = _roundtrip(spark, tmp_path, items, writer=fx.write_json_array)
    ok, why = items_equal(items, out)
    assert ok, why


def test_roundtrip_feature_collection(spark, tmp_path):
    items = fx.sentinel_like_items()
    _, out = _roundtrip(spark, tmp_path, items, writer=fx.write_feature_collection)
    ok, why = items_equal(items, out)
    assert ok, why


def test_normalized_schema_shape(spark, tmp_path):
    items = fx.naip_like_items()
    df, _ = _roundtrip(spark, tmp_path, items)
    # properties hoisted, geometry binary, bbox struct, datetime typed
    assert "properties" not in df.columns
    assert isinstance(df.schema["geometry"].dataType, T.BinaryType)
    assert isinstance(df.schema["bbox"].dataType, T.StructType)
    assert [f.name for f in df.schema["bbox"].dataType.fields] == [
        "xmin",
        "ymin",
        "xmax",
        "ymax",
    ]
    assert isinstance(
        df.schema["datetime"].dataType, (T.TimestampType, T.TimestampNTZType)
    )
    assert "gsd" in df.columns and "naip:state" in df.columns
    # geoarrow metadata tagged (T5)
    md = df.schema["geometry"].metadata
    assert md.get("ARROW:extension:name") == "geoarrow.wkb"
    crs = json.loads(md["ARROW:extension:metadata"])["crs"]
    assert crs["id"] == {"authority": "EPSG", "code": 4326}


def test_bbox3d_struct_fields(spark, tmp_path):
    df, _ = _roundtrip(spark, tmp_path, fx.bbox3d_items())
    assert [f.name for f in df.schema["bbox"].dataType.fields] == [
        "xmin",
        "ymin",
        "zmin",
        "xmax",
        "ymax",
        "zmax",
    ]


def _bbox_to_struct_of(spark, *bboxes):
    from stac_geoparquet_spark.stac.forward import bbox_to_struct

    rows = [(f"i{k}", b) for k, b in enumerate(bboxes)]
    return bbox_to_struct(spark.createDataFrame(rows, "id string, bbox array<double>"))


def test_bbox_arity_probe_and_in_plan_check(spark):
    """T4 probes the arity from one bbox and checks every row in the
    plan: mixed 2-D/3-D bboxes raise on the first action, a probed arity
    other than 4 or 6 raises at construction."""
    from stac_geoparquet_spark.stac.constants import BBOX_2D, BBOX_3D

    mixed = _bbox_to_struct_of(spark, [0.0, 0.0, 1.0, 1.0], [0.0] * 3 + [1.0] * 3)
    with pytest.raises(Exception, match="mixed 2-D/3-D"):
        mixed.collect()

    three = _bbox_to_struct_of(spark, [0.0, 1.0, 2.0, 3.0, 4.0, 5.0], None)
    assert tuple(three.schema["bbox"].dataType.names) == BBOX_3D
    rows = {r["id"]: r["bbox"] for r in three.collect()}
    assert rows["i0"].asDict() == dict(zip(BBOX_3D, [0.0, 1.0, 2.0, 3.0, 4.0, 5.0]))
    assert rows["i1"] is None

    nulls = _bbox_to_struct_of(spark, None, None)
    assert tuple(nulls.schema["bbox"].dataType.names) == BBOX_2D
    assert [r["bbox"] for r in nulls.collect()] == [None, None]

    with pytest.raises(ValueError, match="4 or 6 values, got 5"):
        _bbox_to_struct_of(spark, [0.0, 1.0, 2.0, 3.0, 4.0])


def test_normalize_items_runs_one_single_task_job(spark, tmp_path):
    """Building the normalized frame reads one split (T4's arity probe),
    not the whole input."""
    from stac_geoparquet_spark.stac.forward import normalize_items, read_stac_json

    src = []
    for k in range(3):
        items = [dict(it, id=f"{it['id']}_{k}") for it in fx.naip_like_items()]
        src.append(fx.write_ndjson(items, str(tmp_path / f"in-{k}.ndjson")))
    raw = read_stac_json(spark, src)
    assert raw.rdd.getNumPartitions() >= 2
    sc = spark.sparkContext
    sc.setJobGroup("normalize-items-jobs", "normalize_items")
    try:
        normalize_items(raw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    (job,) = tracker.getJobIdsForGroup("normalize-items-jobs")
    stages = tracker.getJobInfo(job).stageIds
    assert sum(tracker.getStageInfo(s).numTasks for s in stages) == 1


@pytest.mark.parametrize("layout", ["gzip_file", "directory"])
def test_ndjson_gzip_file_and_directory_read_like_plain_files(spark, tmp_path, layout):
    import gzip

    from stac_geoparquet_spark.stac import read_items, to_item_dicts

    items = fx.naip_like_items() + fx.sentinel_like_items()
    if layout == "gzip_file":
        src = str(tmp_path / "items.ndjson.gz")
        with gzip.open(src, "wt") as f:
            f.writelines(json.dumps(it) + "\n" for it in items)
    else:
        src = str(tmp_path / "items")
        (tmp_path / "items").mkdir()
        fx.write_ndjson(items[:4], f"{src}/a.ndjson")
        fx.write_ndjson(items[4:], f"{src}/b.ndjson")
    ok, why = items_equal(items, list(to_item_dicts(read_items(spark, src))))
    assert ok, why


def test_collision_warns_and_drops(spark, tmp_path):
    items = [fx.collision_item()]
    with pytest.warns(UserWarning, match="collection"):
        df, out = _roundtrip(spark, tmp_path, items)
    assert df.select("collection").first()[0] == "naip-like"
    # the bogus property is gone from the round-trip output
    assert "collection" not in out[0]["properties"]


def test_collision_strict_raises(spark, tmp_path):
    items = [fx.collision_item()]
    with pytest.raises(ValueError, match="collection"):
        _roundtrip(spark, tmp_path, items, on_collision="error")


def test_null_datetime_column_patched(spark, tmp_path):
    """F3: all-null datetime must become a typed timestamp column (the
    reference's manual_updates, arrow/_schema/models.py:61-105)."""
    df, _ = _roundtrip(spark, tmp_path, fx.lidar_like_items())
    assert isinstance(
        df.schema["datetime"].dataType, (T.TimestampType, T.TimestampNTZType)
    )
    assert df.filter(df["datetime"].isNotNull()).count() == 0
    assert df.filter(df["start_datetime"].isNotNull()).count() == 3


def test_proj_geometry_secondary_column(spark, tmp_path):
    items = fx.lidar_like_items()
    df, out = _roundtrip(spark, tmp_path, items)
    assert isinstance(df.schema["proj:geometry"].dataType, T.BinaryType)
    got = out[0]["properties"]["proj:geometry"]
    assert got["type"] == "Polygon"


def test_missing_type_synthesized(spark, tmp_path):
    items = [dict(it) for it in fx.naip_like_items(2)]
    for it in items:
        it.pop("type")
    _, out = _roundtrip(spark, tmp_path, items)
    assert all(o["type"] == "Feature" for o in out)


def test_ndjson_sink_roundtrip(spark, tmp_path):
    from stac_geoparquet_spark.stac import read_items
    from stac_geoparquet_spark.stac.inverse import to_ndjson

    items = fx.naip_like_items()
    src = str(tmp_path / "in.ndjson")
    fx.write_ndjson(items, src)
    df = read_items(spark, src)
    dest = str(tmp_path / "out_ndjson")
    to_ndjson(df, dest)
    back = []
    import glob

    for p in sorted(glob.glob(f"{dest}/part-*")):
        with open(p) as f:
            back.extend(json.loads(line) for line in f if line.strip())
    ok, why = items_equal(items, back)
    assert ok, why


def test_mixed_datetime_precision_one_column(spark, tmp_path):
    """Second-precision and microsecond-precision datetime strings in
    the SAME column must both parse to exact µs timestamps and round-
    trip (reference tests/test_stac_geoparquet.py:422-437 semantics)."""
    import json

    from tests.json_semantic import items_equal

    from stac_geoparquet_spark.stac import read_items, to_item_dicts

    items = fx.naip_like_items(2)
    items[0]["properties"]["datetime"] = "2000-12-10T22:04:58Z"
    items[1]["properties"]["datetime"] = "2000-12-10T22:04:57.998000Z"
    src = str(tmp_path / "mixed_dt.ndjson")
    with open(src, "w") as f:
        for it in items:
            f.write(json.dumps(it) + "\n")

    df = read_items(spark, src)
    got = sorted(
        r[0] for r in df.select("datetime").collect()
    )
    assert [t.isoformat() for t in got] == [
        "2000-12-10T22:04:57.998000",
        "2000-12-10T22:04:58",
    ]
    back = sorted(to_item_dicts(df), key=lambda d: d["id"])
    ok, msg = items_equal(sorted(items, key=lambda d: d["id"]), back)
    assert ok, msg


def test_extract_self_link_tolerates_non_struct_links(spark):
    """All-empty links arrays infer as array<string>; the extractor
    must emit a null self_link column, not crash on .fields."""
    from pyspark.sql import functions as F

    from stac_geoparquet_spark.stac.forward import extract_self_link

    df = spark.createDataFrame(
        [("a", []), ("b", [])], "id string, links array<string>"
    )
    out = extract_self_link(df)
    assert out.where(F.col("self_link").isNotNull()).count() == 0


def test_featurecollection_union_of_fields_across_files(spark, tmp_path):
    """A property present only in the SECOND FeatureCollection file
    must survive the schema inference (round-2 fix: wrapper schema was
    inferred from the first file only)."""
    import json

    from stac_geoparquet_spark.stac.forward import read_stac_json

    def fc(items):
        return {"type": "FeatureCollection", "features": items}

    base = {
        "type": "Feature",
        "id": "x",
        "geometry": {"type": "Point", "coordinates": [0.0, 0.0]},
        "properties": {"datetime": "2024-01-01T00:00:00Z"},
    }
    extra = dict(base, id="y")
    extra["properties"] = dict(base["properties"], only_in_second=7)
    p1, p2 = tmp_path / "a.json", tmp_path / "b.json"
    p1.write_text(json.dumps(fc([base])))
    p2.write_text(json.dumps(fc([extra])))
    df = read_stac_json(spark, [str(p1), str(p2)])
    assert "only_in_second" in df.schema["properties"].dataType.names
    assert df.count() == 2


def test_geojson_outside_geometry_paths_roundtrips_as_object(spark, tmp_path):
    """Only the STAC geometry fields become WKB; a GeoJSON object
    anywhere else (an asset's ``geometry``, ``geometry`` inside a
    property list) is ordinary nested data and must come back as the
    same object, not as its JSON text."""

    def square(x0, y0):
        ring = [[x0, y0], [x0 + 1.0, y0], [x0 + 1.0, y0 + 1.0], [x0, y0]]
        return {"type": "Polygon", "coordinates": [ring]}

    items = [
        {
            "type": "Feature",
            "stac_version": "1.0.0",
            "id": f"i{i}",
            "geometry": square(float(i), 0.0),
            "bbox": [float(i), 0.0, i + 1.0, 1.0],
            "properties": {
                "datetime": "2024-01-01T00:00:00Z",
                "footprints": [
                    {"name": "scene", "geometry": square(float(i), 0.5)}
                ],
            },
            "assets": {
                "x": {
                    "href": f"https://example.com/{i}.tif",
                    "geometry": square(0.5, float(i)),
                }
            },
            "links": [],
        }
        for i in range(2)
    ]
    df, out = _roundtrip(spark, tmp_path, items)
    assert isinstance(df.schema["geometry"].dataType, T.BinaryType)
    ok, why = items_equal(items, out)
    assert ok, why
    assert out[0]["assets"]["x"]["geometry"] == items[0]["assets"]["x"]["geometry"]


def test_featurecollection_files_roundtrip_union_of_fields(spark, tmp_path):
    """With no schema given, a property present only in the second
    FeatureCollection file reaches the items read back."""
    from stac_geoparquet_spark.stac import read_items, to_item_dicts

    items = fx.sentinel_like_items(2)
    items[1]["properties"]["only_in_second"] = 7
    paths = []
    for i, item in enumerate(items):
        paths.append(str(tmp_path / f"fc{i}.json"))
        fx.write_feature_collection([item], paths[-1])
    out = list(to_item_dicts(read_items(spark, paths)))
    ok, why = items_equal(items, out)
    assert ok, why

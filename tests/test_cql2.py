"""CQL2-JSON translator tests: each construct against a hand-built
DataFrame, plus pushdown of the sargable spatial/temporal conjunction.

Reference context: the reference passes CQL2 opaquely to pgstac's
search() (stac_geoparquet/pgstac_reader.py:178-181); our engine
evaluates it natively (stac_geoparquet_spark/stac/cql2.py).
"""

import pytest
from pyspark.sql import functions as F

from stac_geoparquet_spark.stac.cql2 import (
    Cql2Error,
    cql2_filter,
    cql2_to_column,
)


@pytest.fixture(scope="module")
def items_df(spark):
    rows = [
        # id, collection, cloud, datetime, platform, bbox(xmin,ymin,xmax,ymax)
        ("a", "s2", 5.0, "2024-06-10T12:00:00Z", "sentinel-2a",
         (-74.5, 40.0, -73.5, 41.0)),
        ("b", "s2", 35.0, "2024-06-20T12:00:00Z", "sentinel-2b",
         (-75.5, 39.0, -74.8, 39.9)),
        ("c", "landsat", 10.0, "2024-07-01T00:00:00Z", "landsat-9",
         (10.0, 45.0, 11.0, 46.0)),
        ("d", "s2", None, "2023-12-31T23:59:59Z", "sentinel-2a",
         (-74.2, 40.5, -73.9, 40.8)),
    ]
    df = spark.createDataFrame(
        rows, "id string, collection string, cloud double, dt string, "
        "platform string, bbox struct<xmin:double,ymin:double,"
        "xmax:double,ymax:double>"
    )
    return df.withColumn("datetime", F.to_timestamp("dt")).drop("dt")


def ids(df, expr):
    return sorted(r["id"] for r in cql2_filter(df, expr).select("id").collect())


def test_comparison_and_logical(items_df):
    expr = {
        "op": "and",
        "args": [
            {"op": "=", "args": [{"property": "collection"}, "s2"]},
            {"op": "<", "args": [{"property": "cloud"}, 20.0]},
        ],
    }
    assert ids(items_df, expr) == ["a"]


def test_or_not_isnull(items_df):
    expr = {
        "op": "or",
        "args": [
            {"op": "isNull", "args": [{"property": "cloud"}]},
            {"op": "not", "args": [
                {"op": "<>", "args": [{"property": "collection"}, "landsat"]}
            ]},
        ],
    }
    assert ids(items_df, expr) == ["c", "d"]


def test_between_in_like(items_df):
    assert ids(items_df, {
        "op": "between", "args": [{"property": "cloud"}, 5.0, 10.0]
    }) == ["a", "c"]
    assert ids(items_df, {
        "op": "in", "args": [{"property": "collection"}, ["landsat", "x"]]
    }) == ["c"]
    assert ids(items_df, {
        "op": "like", "args": [{"property": "platform"}, "sentinel-2%"]
    }) == ["a", "b", "d"]


def test_casei_arithmetic(items_df):
    expr = {
        "op": "=",
        "args": [
            {"op": "casei", "args": [{"property": "platform"}]},
            "landsat-9",
        ],
    }
    assert ids(items_df, expr) == ["c"]
    expr = {
        "op": ">",
        "args": [
            {"op": "*", "args": [{"property": "cloud"}, 2]},
            60.0,
        ],
    }
    assert ids(items_df, expr) == ["b"]


def test_temporal(items_df):
    after = {
        "op": "t_after",
        "args": [{"property": "datetime"},
                 {"timestamp": "2024-06-15T00:00:00Z"}],
    }
    assert ids(items_df, after) == ["b", "c"]
    during = {
        "op": "t_during",
        "args": [{"property": "datetime"},
                 {"interval": ["2024-06-01T00:00:00Z",
                               "2024-06-30T23:59:59Z"]}],
    }
    assert ids(items_df, during) == ["a", "b"]
    open_start = {
        "op": "anyinteracts",
        "args": [{"property": "datetime"},
                 {"interval": ["..", "2024-01-01T00:00:00Z"]}],
    }
    assert ids(items_df, open_start) == ["d"]


def test_s_intersects_bbox_and_polygon(items_df):
    # NYC-ish box: catches a and d, not b (too far south/west) or c
    box = {
        "op": "s_intersects",
        "args": [{"property": "geometry"},
                 {"bbox": [-74.3, 39.95, -73.7, 40.9]}],
    }
    assert ids(items_df, box) == ["a", "d"]
    poly = {
        "op": "s_intersects",
        "args": [{"property": "geometry"},
                 {"type": "Polygon",
                  "coordinates": [[[9.0, 44.0], [12.0, 44.0], [12.0, 47.0],
                                   [9.0, 47.0], [9.0, 44.0]]]}],
    }
    assert ids(items_df, poly) == ["c"]


def test_flagship_conjunction_is_pushed_down(spark, items_df, tmp_path):
    """The README goal query's non-UDF predicates must reach the
    Parquet scan as PushedFilters (bbox struct fields + datetime +
    collection) — this is the covering-layout design intent."""
    path = str(tmp_path / "items_pq")
    items_df.write.parquet(path)
    df = spark.read.parquet(path)
    expr = {
        "op": "and",
        "args": [
            {"op": "=", "args": [{"property": "collection"}, "s2"]},
            {"op": "t_after", "args": [{"property": "datetime"},
                                       {"timestamp": "2024-01-01T00:00:00Z"}]},
            {"op": "s_intersects",
             "args": [{"property": "geometry"},
                      {"bbox": [-74.3, 39.95, -73.7, 40.9]}]},
        ],
    }
    out = cql2_filter(df, expr)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    # struct-field stats pushdown: bbox.xmin appears in the pushed set
    assert "bbox.xmin" in plan and "collection" in plan
    assert sorted(r["id"] for r in out.collect()) == ["a"]


def test_errors():
    with pytest.raises(Cql2Error):
        cql2_to_column({"op": "s_nonsense", "args": []})
    with pytest.raises(Cql2Error):
        cql2_to_column({"no_op": True})
    with pytest.raises(Cql2Error):
        cql2_to_column({
            "op": "s_intersects",
            "args": [{"bbox": [0, 0, 1, 1]}, {"bbox": [0, 0, 1, 1]}],
        })


def test_open_interval_excludes_null_datetime(spark):
    """anyinteracts with a fully open interval must still require the
    instant to exist (round-2 fix: it reduced to lit(True) and kept
    null-datetime rows)."""
    from stac_geoparquet_spark.stac.cql2 import cql2_filter

    df = spark.createDataFrame(
        [("a", "2024-01-01T00:00:00",), ("b", None)],
        "id string, datetime string",
    ).selectExpr("id", "CAST(datetime AS TIMESTAMP) AS datetime")
    expr = {
        "op": "anyinteracts",
        "args": [{"property": "datetime"}, {"interval": ["..", ".."]}],
    }
    out = cql2_filter(df, expr).collect()
    assert [r.id for r in out] == ["a"]


def test_t_equals_interval_semantics(spark):
    """t_equals: open interval raises Cql2Error; a non-degenerate
    closed interval can never equal an instant (round-2 fix: it
    matched rows equal to the interval's start)."""
    import pytest

    from stac_geoparquet_spark.stac.cql2 import Cql2Error, cql2_filter

    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00")], "id string, datetime string"
    ).selectExpr("id", "CAST(datetime AS TIMESTAMP) AS datetime")
    with pytest.raises(Cql2Error):
        cql2_filter(
            df,
            {"op": "t_equals",
             "args": [{"property": "datetime"},
                      {"interval": ["..", "2024-06-01T00:00:00Z"]}]},
        ).collect()
    non_degenerate = cql2_filter(
        df,
        {"op": "t_equals",
         "args": [{"property": "datetime"},
                  {"interval": ["2024-01-01T00:00:00Z",
                                "2024-12-31T00:00:00Z"]}]},
    )
    assert non_degenerate.count() == 0
    degenerate = cql2_filter(
        df,
        {"op": "t_equals",
         "args": [{"property": "datetime"},
                  {"timestamp": "2024-01-01T00:00:00Z"}]},
    )
    assert degenerate.count() == 1


def test_antimeridian_bbox_splits(spark):
    """A west>east query bbox (RFC 7946 dateline crossing) must match
    items on both sides of the antimeridian."""
    from pyspark.sql import functions as F

    from stac_geoparquet_spark.stac.cql2 import cql2_filter

    df = spark.createDataFrame(
        [("east", 175.0, 0.0, 179.0, 5.0),
         ("west", -179.0, 0.0, -175.0, 5.0),
         ("far", 0.0, 0.0, 5.0, 5.0)],
        "id string, xmin double, ymin double, xmax double, ymax double",
    ).select("id", F.struct("xmin", "ymin", "xmax", "ymax").alias("bbox"))
    out = cql2_filter(
        df,
        {"op": "s_intersects",
         "args": [{"property": "geometry"},
                  {"bbox": [170.0, -10.0, -170.0, 10.0]}]},
    )
    assert {r.id for r in out.collect()} == {"east", "west"}


def test_malformed_ast_raises_cql2error(spark):
    import pytest

    from stac_geoparquet_spark.stac.cql2 import Cql2Error, cql2_to_column

    for bad in (
        {"op": "and", "args": []},
        {"op": "not", "args": []},
        {"op": "=", "args": [{"property": "x"}]},
        {"op": "between", "args": [{"property": "x"}, 1]},
    ):
        with pytest.raises(Cql2Error):
            cql2_to_column(bad)


def test_s_intersects_geometry_collection_envelope(items_df):
    """A GeometryCollection literal filters by the envelope of all its
    members: two points, one near a/d and one inside c, span a box
    that also reaches a and d but stays east of b."""
    gc = {
        "op": "s_intersects",
        "args": [{"property": "geometry"},
                 {"type": "GeometryCollection",
                  "geometries": [
                      {"type": "Point", "coordinates": [-74.0, 40.6]},
                      {"type": "Point", "coordinates": [10.5, 45.5]},
                  ]}],
    }
    assert ids(items_df, gc) == ["a", "c", "d"]

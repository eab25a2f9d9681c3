"""STAC pipeline queries for the driver's correctness gate.

The STAC conversion surface (forward T1-T5, inverse U1-U5, SURVEY.md
§2.3/§2.4) is covered by round-trip unit tests on fixture items, but
the driver's oracle gate only sees ``queries()`` entries. This module
bridges the gap: it synthesizes a deterministic STAC item table from
the driver's own ``part`` parquet, pushes it through the real forward
and inverse pipelines *distributed*, and returns invariant counts that
a literal-expectation DuckDB oracle pins:

- every item keeps its id/collection,
- the 8-column timestamp typing round-trips to the same RFC3339 string,
- bbox list -> struct -> list round-trips exactly,
- properties hoist + re-nest loses nothing,
- GeoJSON -> WKB is stable (re-encoding the inverse's input yields the
  identical bytes).

If any pipeline stage drifts semantically the counts drop and the
value hash breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._exprs import const_cols
from stac_geoparquet_spark.operators._io import read_table

N_ITEMS = 500


def _synth_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic JSON-shape STAC items derived from `part`:
    geometry as a GeoJSON string (pre-T1 shape), bbox as a 4-list,
    nested properties."""
    part = (
        read_table(spark, sf_dir, "part")
        .orderBy("p_partkey")
        .limit(N_ITEMS)
    )
    lon = (F.col("p_partkey") % 340 - 170).cast("double") + 0.25
    lat = (F.col("p_partkey") % 160 - 80).cast("double") + 0.25
    geom = F.format_string(
        '{"type":"Point","coordinates":[%.2f,%.2f]}', lon, lat
    )
    dt_str = F.date_format(
        F.timestamp_micros(
            F.lit(1704067200000000) + F.col("p_partkey") * F.lit(86400000000)
        ),
        "yyyy-MM-dd'T'HH:mm:ss'Z'",
    )
    return part.select(
        F.concat(F.lit("item-"), F.col("p_partkey")).alias("id"),
        F.lit("Feature").alias("type"),
        F.lit("1.0.0").alias("stac_version"),
        F.col("p_brand").alias("collection"),
        geom.alias("geometry"),
        F.array(lon, lat, lon + 0.5, lat + 0.5).alias("bbox"),
        F.struct(
            dt_str.alias("datetime"),
            F.col("p_retailprice").alias("gsd"),
            F.col("p_type").alias("platform"),
            F.col("p_size").alias("proj:epsg"),
        ).alias("properties"),
        F.array(
            F.struct(
                F.lit("self").alias("rel"),
                F.format_string(
                    "https://example.com/items/%d", F.col("p_partkey")
                ).alias("href"),
                F.lit("application/geo+json").alias("type"),
            )
        ).alias("links"),
        F.struct(
            F.struct(
                F.format_string(
                    "s3://bucket/%d.tif", F.col("p_partkey")
                ).alias("href"),
                F.lit("image/tiff").alias("type"),
            ).alias("image")
        ).alias("assets"),
    )


def stac_pipeline_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-normalize synthesized items, inverse back to JSON shape,
    and count the invariants that must survive — one row, all counts
    equal to N_ITEMS when the pipelines are semantics-preserving."""
    from stac_geoparquet_spark.stac.forward import (
        _make_wkb_encode_udf,
        normalize_items,
    )
    from stac_geoparquet_spark.stac.inverse import to_json_shape

    src = _synth_items(spark, sf_dir)
    norm = normalize_items(src)
    back = to_json_shape(norm)

    wkb = _make_wkb_encode_udf()
    orig = src.select(
        "id",
        F.col("collection").alias("o_collection"),
        F.col("properties.datetime").alias("o_datetime"),
        F.col("properties.gsd").alias("o_gsd"),
        F.col("properties.proj:epsg").alias("o_epsg"),
        F.col("bbox").alias("o_bbox"),
        wkb(F.col("geometry")).alias("o_wkb"),
        F.col("assets.image.href").alias("o_href"),
    )
    joined = back.join(orig, "id")
    agg = joined.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            (F.col("collection") == F.col("o_collection")).cast("bigint")
        ).alias("n_collection_ok"),
        F.sum(
            (
                F.to_timestamp(F.col("properties.datetime"))
                == F.to_timestamp(F.col("o_datetime"))
            ).cast("bigint")
        ).alias("n_datetime_ok"),
        F.sum(
            (
                (F.col("properties.gsd") == F.col("o_gsd"))
                & (F.col("properties.`proj:epsg`") == F.col("o_epsg"))
            ).cast("bigint")
        ).alias("n_props_ok"),
        F.sum((F.col("bbox") == F.col("o_bbox")).cast("bigint")).alias(
            "n_bbox_ok"
        ),
        F.sum((F.col("geometry") == F.col("o_wkb")).cast("bigint")).alias(
            "n_geom_ok"
        ),
        F.sum(
            (F.col("assets.image.href") == F.col("o_href")).cast("bigint")
        ).alias("n_assets_ok"),
    )
    return agg


STAC_ROUNDTRIP_SQL = f"""
SELECT CAST(n AS BIGINT) AS n_items,
       CAST(n AS BIGINT) AS n_collection_ok,
       CAST(n AS BIGINT) AS n_datetime_ok,
       CAST(n AS BIGINT) AS n_props_ok,
       CAST(n AS BIGINT) AS n_bbox_ok,
       CAST(n AS BIGINT) AS n_geom_ok,
       CAST(n AS BIGINT) AS n_assets_ok
FROM (SELECT least(count(*), {N_ITEMS}) AS n FROM part) t
"""


def stac_self_link_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 self-link extraction over the synthesized items: every item
    carries an absolute application/geo+json self link, so coverage is
    total — and the extracted href is checkable per item."""
    from stac_geoparquet_spark.stac.forward import extract_self_link

    src = _synth_items(spark, sf_dir)
    out = extract_self_link(src)
    return out.select(
        "id",
        "self_link",
    ).filter(F.col("self_link").isNotNull())


STAC_SELF_LINK_SQL = f"""
SELECT 'item-' || p_partkey AS id,
       'https://example.com/items/' || p_partkey AS self_link
FROM (SELECT p_partkey FROM part ORDER BY p_partkey LIMIT {N_ITEMS}) t
"""


@const_cols
def _flagship_cql2_col():
    """The flagship CQL2 filter translated ONCE per process — the
    expression dict is a module constant, and cql2_to_column is a pure
    function of it (~1,100 py4j round trips per translation rebuilt on
    every call before r11; _exprs.py contract)."""
    from stac_geoparquet_spark.stac.cql2 import cql2_to_column

    expr = {
        "op": "and",
        "args": [
            {
                "op": "in",
                "args": [
                    {"property": "collection"},
                    ["Brand#1", "Brand#2", "Brand#3"],
                ],
            },
            {
                "op": "anyinteracts",
                "args": [
                    {"property": "datetime"},
                    {"interval": ["2024-02-01T00:00:00Z", ".."]},
                ],
            },
            {
                "op": "s_intersects",
                "args": [
                    {"property": "geometry"},
                    {
                        "type": "Polygon",
                        "coordinates": [
                            [[-50.0, 0.0], [60.0, 0.0], [60.0, 70.0],
                             [-50.0, 70.0], [-50.0, 0.0]]
                        ],
                    },
                ],
            },
            {"op": "<", "args": [{"property": "gsd"}, 1500.0]},
            {"op": "like", "args": [{"property": "platform"}, "%E%"]},
        ],
    }
    return cql2_to_column(expr)


def cql2_flagship_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The README's own goal query (reference README.md:15, SURVEY.md
    §7.1) expressed as CQL2-JSON and evaluated by the engine's
    translator against the *normalized* STAC table: collection
    membership + open-ended datetime interval + bbox intersection
    (sargable against the bbox struct) + numeric property threshold +
    LIKE on a string property."""
    from stac_geoparquet_spark.stac.forward import normalize_items

    norm = normalize_items(_synth_items(spark, sf_dir))
    out = norm.filter(_flagship_cql2_col())
    return out.select(
        "id",
        "collection",
        F.date_format("datetime", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
            "datetime"
        ),
        F.col("gsd"),
        F.col("bbox.xmin").alias("xmin"),
    )


CQL2_FLAGSHIP_SQL = f"""
WITH items AS (
  SELECT 'item-' || p_partkey AS id,
         p_brand AS collection,
         TIMESTAMP '2024-01-01 00:00:00' + p_partkey * INTERVAL 1 DAY AS dt,
         p_retailprice AS gsd,
         p_type AS platform,
         ((p_partkey % 340) - 170)::DOUBLE + 0.25 AS xmin,
         ((p_partkey % 160) - 80)::DOUBLE + 0.25 AS ymin
  FROM (SELECT * FROM part ORDER BY p_partkey LIMIT {N_ITEMS}) p
)
SELECT id, collection,
       strftime(dt, '%Y-%m-%dT%H:%M:%SZ') AS datetime,
       gsd, xmin
FROM items
WHERE collection IN ('Brand#1', 'Brand#2', 'Brand#3')
  AND dt >= TIMESTAMP '2024-02-01 00:00:00'
  AND xmin <= 60.0 AND xmin + 0.5 >= -50.0
  AND ymin <= 70.0 AND ymin + 0.5 >= 0.0
  AND gsd < 1500.0
  AND platform LIKE '%E%'
"""


def cql2_orders_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CQL2 over a plain relational table (the translator is not
    STAC-specific): priority membership + price between + order-date
    interval + negated status equality."""
    from stac_geoparquet_spark.stac.cql2 import cql2_filter

    expr = {
        "op": "and",
        "args": [
            {
                "op": "in",
                "args": [
                    {"property": "o_orderpriority"},
                    ["1-URGENT", "2-HIGH"],
                ],
            },
            {
                "op": "between",
                "args": [{"property": "o_totalprice"}, 1000.0, 150000.0],
            },
            {
                "op": "t_during",
                "args": [
                    {"property": "o_orderdate"},
                    {
                        "interval": [
                            "1996-01-01T00:00:00Z",
                            "1997-06-30T23:59:59Z",
                        ]
                    },
                ],
            },
            {"op": "not", "args": [
                {"op": "=", "args": [{"property": "o_orderstatus"}, "F"]}
            ]},
        ],
    }
    orders = read_table(spark, sf_dir, "orders")
    return cql2_filter(orders, expr).select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderstatus"
    )


CQL2_ORDERS_SQL = """
SELECT o_orderkey, o_orderpriority, o_totalprice, o_orderstatus
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_totalprice BETWEEN 1000.0 AND 150000.0
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <= TIMESTAMP '1997-06-30 23:59:59'
  AND NOT (o_orderstatus = 'F')
"""


def cql2_text_lineitem_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CQL2-*text* frontend over a relational table: the text
    expression parses into the same AST the JSON path evaluates
    (stac/cql2_text.py), so one translator owns the Column mapping —
    this entry pins the end-to-end text->AST->Column->rows path against
    a plain-SQL oracle. Mixes NOT LIKE, BETWEEN, IN, arithmetic and a
    temporal function so every grammar production is exercised."""
    from stac_geoparquet_spark.stac.cql2_text import cql2_text_filter

    text = (
        "l_returnflag IN ('A', 'R') AND "
        "l_quantity BETWEEN 10 AND 40 AND "
        "l_extendedprice * (1 - l_discount) > 20000 AND "
        "NOT l_linestatus = 'O' AND "
        "T_DURING(l_shipdate, INTERVAL('1996-01-01T00:00:00Z',"
        " '1996-12-31T23:59:59Z'))"
    )
    li = read_table(spark, sf_dir, "lineitem")
    out = cql2_text_filter(li, text)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            ),
            2,
        )
        .cast("double")
        .alias("net_price"),
    )


CQL2_TEXT_LINEITEM_SQL = """
SELECT l_orderkey, l_linenumber, l_returnflag,
       CAST(round(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)), 2) AS DOUBLE) AS net_price
FROM lineitem
WHERE l_returnflag IN ('A', 'R')
  AND l_quantity BETWEEN 10 AND 40
  AND l_extendedprice * (1 - l_discount) > 20000
  AND NOT (l_linestatus = 'O')
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <= TIMESTAMP '1996-12-31 23:59:59'
"""


QUERIES = {
    "stac_pipeline_roundtrip": stac_pipeline_roundtrip,
    "stac_self_link_coverage": stac_self_link_coverage,
    "cql2_flagship_query": cql2_flagship_query,
    "cql2_orders_filter": cql2_orders_filter,
    "cql2_text_lineitem_filter": cql2_text_lineitem_filter,
}

ORACLE = {
    "stac_pipeline_roundtrip": STAC_ROUNDTRIP_SQL,
    "stac_self_link_coverage": STAC_SELF_LINK_SQL,
    "cql2_flagship_query": CQL2_FLAGSHIP_SQL,
    "cql2_orders_filter": CQL2_ORDERS_SQL,
    "cql2_text_lineitem_filter": CQL2_TEXT_LINEITEM_SQL,
}

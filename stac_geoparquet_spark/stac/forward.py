"""Forward pipeline: STAC JSON-shape -> normalized GeoParquet-shape.

Reference semantics (applied in this fixed order by
stac_geoparquet/arrow/_batch.py:183-193):

  T1 geometry GeoJSON -> ISO WKB          (arrow/_batch.py:89-129)
  T2 properties hoisted to top level      (arrow/_to_arrow.py:15-53)
  T3 datetime columns typed timestamp[us] (arrow/_to_arrow.py:56-103)
  T4 bbox list -> struct                  (arrow/_to_arrow.py:106-200)
  T5 geoarrow field metadata              (arrow/_to_arrow.py:203-217)

Spark-first re-expression: T2-T4 are pure Column expressions in a
single Project (whole-stage-codegen'd, no Python in the loop); only T1
crosses into Python, as an Arrow-batched pandas UDF around the pure
WKB codec — the same boundary where the reference calls shapely.

Schema inference is Spark's distributed JSON inference over every input
path (the analogue of the reference's FullFile strategy, SURVEY.md
§1.3). The typed read then takes the fields ``stac.schema.geometry_paths``
names as raw JSON strings — exactly the fields T1 encodes — because
heterogeneous geometry types would otherwise collapse to conflicting
array shapes, the failure mode the reference dodges by converting
geometry *pre-parse* (arrow/_batch.py:89-92).
"""

from __future__ import annotations

import json
import warnings

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stac_geoparquet_spark.geom import wkb as _wkb_mod
from stac_geoparquet_spark.stac.constants import (
    BBOX_2D,
    BBOX_3D,
    CANONICAL_ORDER,
    DATETIME_COLUMNS,
    GEOARROW_EXTENSION_NAME,
    GEOMETRY,
    WGS84_PROJJSON,
)
from stac_geoparquet_spark.stac.schema import geometry_paths, with_geometry_as_json


# ---------------------------------------------------------------------------
# Source: NDJSON / JSON array / FeatureCollection (S1, json_reader.py:14-41)
# ---------------------------------------------------------------------------
def _sniff_format(spark: SparkSession, path: str) -> str:
    """Return 'ndjson' | 'array' | 'featurecollection' for the input.

    Mirrors the reference's auto-detection (json_reader.py:14-41): try
    line-delimited first, fall back to whole-file parse. The text source
    reads the head in a JVM-only job with Hadoop path semantics.
    """
    head = [r.value.strip() for r in spark.read.text(path).head(400)]
    first = next(filter(None, head), "")
    if first.startswith("["):
        return "array"
    try:
        obj = json.loads(first)
        if isinstance(obj, dict) and obj.get("type") == "FeatureCollection":
            return "featurecollection"
        return "ndjson"
    except json.JSONDecodeError:
        # Object spans multiple lines: whole-file JSON. Decide FC vs
        # single item by KEY-SHAPED patterns in the head ("type":
        # "FeatureCollection" or a "features" array key — a FC carries
        # both), not a bare substring a property VALUE could contain.
        # Residual bound: a FC whose first 400 lines contain neither
        # key is misread as a single item; both keys conventionally
        # lead the document.
        import re

        whole = "\n".join(head)
        if re.search(r'"type"\s*:\s*"FeatureCollection"', whole) or re.search(
            r'"features"\s*:\s*\[', whole
        ):
            return "featurecollection"
        # single multi-line JSON object (one item) — the multiLine
        # reader used by the "array" path handles it as one row
        return "array"


def read_stac_json(
    spark: SparkSession,
    path: str | list[str],
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read STAC items from NDJSON / JSON array / FeatureCollection into
    a JSON-shape DataFrame (properties nested, geometry as raw JSON
    string ready for T1).

    Two passes when no schema is given (inference over every path, then
    the typed read) — the same contract as the reference
    (arrow/_api.py:237-261).
    """
    first_path = path if isinstance(path, str) else path[0]
    fmt = _sniff_format(spark, first_path)

    def _read(s: T.StructType | None) -> DataFrame:
        if fmt == "featurecollection" and s is not None:
            # caller-provided schemas describe an ITEM (the shape every
            # other path consumes, e.g. infer_items_schema output);
            # wrap it into the FeatureCollection envelope so the read
            # applies it to `features` elements, not the wrapper doc
            s = T.StructType(
                [
                    T.StructField("type", T.StringType(), True),
                    T.StructField("features", T.ArrayType(s), True),
                ]
            )
        reader = spark.read
        if s is not None:
            reader = reader.schema(s)
        if fmt == "ndjson":
            return reader.json(path)
        if fmt == "array":
            return reader.option("multiLine", "true").json(path)
        # FeatureCollection: read the wrapper, explode features
        df = reader.option("multiLine", "true").json(path)
        return df.select(F.explode("features").alias("item")).select("item.*")

    if schema is None:
        schema = _read(None).schema
    return _read(with_geometry_as_json(schema))


# ---------------------------------------------------------------------------
# T1 — GeoJSON string -> ISO WKB binary (Arrow-batched pandas UDF)
# ---------------------------------------------------------------------------
def _make_wkb_encode_udf():
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    encode = _wkb_mod.geojson_to_wkb

    def _encode_series(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if v is None else encode(v))

    _encode_series.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_encode_series, T.BinaryType())


def encode_geometries(df: DataFrame) -> DataFrame:
    """T1: every geometry field still holding GeoJSON text -> ISO WKB
    binary (arrow/_batch.py:96-122)."""
    paths = [
        p for p, dt in geometry_paths(df.schema).items() if isinstance(dt, T.StringType)
    ]
    if not paths:
        return df
    udf = _make_wkb_encode_udf()
    for top, *nested in paths:
        src = udf(F.col(".".join(f"`{p}`" for p in (top, *nested))))
        if nested:
            src = F.col(f"`{top}`").withField(".".join(f"`{p}`" for p in nested), src)
        df = df.withColumn(top, src)
    return df


# ---------------------------------------------------------------------------
# T2 — properties hoist
# ---------------------------------------------------------------------------
def hoist_properties(df: DataFrame, on_collision: str = "warn") -> DataFrame:
    """Lift every ``properties.*`` field to a top-level column and drop
    ``properties``. Name collisions with existing top-level columns
    follow the reference: warn-and-drop the property by default, or
    raise with ``on_collision='error'`` (arrow/_to_arrow.py:15-53)."""
    if "properties" not in df.columns:
        return df
    ptype = df.schema["properties"].dataType
    if not isinstance(ptype, T.StructType):
        return df
    prop_names = [f.name for f in ptype.fields]
    collisions = set(prop_names) & set(c for c in df.columns if c != "properties")
    if collisions:
        if on_collision == "error":
            raise ValueError(
                f"properties collide with top-level columns: {sorted(collisions)}"
            )
        warnings.warn(
            f"dropping properties colliding with top-level columns: {sorted(collisions)}"
        )
    keep = [c for c in df.columns if c != "properties"]
    hoisted = [
        F.col(f"properties.`{n}`").alias(n)
        for n in prop_names
        if n not in collisions
    ]
    return df.select(*[F.col(f"`{c}`") for c in keep], *hoisted)


# ---------------------------------------------------------------------------
# T3 — datetime typing (fixed 8-column list, arrow/_to_arrow.py:56-72)
# ---------------------------------------------------------------------------
def type_timestamps(df: DataFrame) -> DataFrame:
    out = df
    for f in df.schema.fields:
        if f.name not in DATETIME_COLUMNS:
            continue
        dt = f.dataType
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            continue
        if isinstance(dt, (T.StringType, T.NullType)):
            out = out.withColumn(f.name, F.col(f"`{f.name}`").cast("timestamp"))
        else:
            raise ValueError(
                f"column {f.name!r} has unexpected type {dt.simpleString()} "
                "(expected string/timestamp/null)"
            )
    return out


# ---------------------------------------------------------------------------
# T4 — bbox array -> struct (2-D or 3-D, arrow/_to_arrow.py:106-200)
# ---------------------------------------------------------------------------
def bbox_to_struct(df: DataFrame) -> DataFrame:
    """T4. The arity comes from a limit-1 probe of the first non-null
    bbox (4 if none; not 4 or 6 raises ``ValueError`` here). Every row
    is checked in the plan: mixed 2-D/3-D bboxes raise on the first
    action that reads the column, as the reference rejects them."""
    if "bbox" not in df.columns:
        return df
    dt = df.schema["bbox"].dataType
    if isinstance(dt, T.StructType):
        return df
    if not isinstance(dt, T.ArrayType):
        raise ValueError(f"bbox has unexpected type {dt.simpleString()}")
    probe = df.select(F.size("bbox").alias("n")).where(F.col("n") >= 0).first()
    ndim = 4 if probe is None else probe["n"]
    names = next((t for t in (BBOX_2D, BBOX_3D) if len(t) == ndim), None)
    if names is None:
        raise ValueError(f"bbox must have 4 or 6 values, got {ndim}")
    b = F.col("bbox")
    struct = F.struct(*[b[i].cast("double").alias(n) for i, n in enumerate(names)])
    mixed = F.raise_error(F.lit(f"mixed 2-D/3-D bboxes in one table (probed {ndim})"))
    return df.withColumn(
        "bbox", F.when(F.size(b) == ndim, struct).when(b.isNotNull(), mixed)
    )


# ---------------------------------------------------------------------------
# T5 — geoarrow column metadata
# ---------------------------------------------------------------------------
def tag_geometry_metadata(df: DataFrame) -> DataFrame:
    if GEOMETRY not in df.columns:
        return df
    return df.withMetadata(
        GEOMETRY,
        {
            "ARROW:extension:name": GEOARROW_EXTENSION_NAME,
            "ARROW:extension:metadata": json.dumps({"crs": WGS84_PROJJSON}),
        },
    )


def _canonical_order(df: DataFrame) -> DataFrame:
    front = [c for c in CANONICAL_ORDER if c in df.columns]
    rest = sorted(c for c in df.columns if c not in CANONICAL_ORDER)
    return df.select(*[F.col(f"`{c}`") for c in front + rest])


def normalize_items(df: DataFrame, on_collision: str = "warn") -> DataFrame:
    """Full forward pipeline T1->T5 over a JSON-shape DataFrame."""
    df = encode_geometries(df)
    df = hoist_properties(df, on_collision=on_collision)
    df = type_timestamps(df)
    df = bbox_to_struct(df)
    df = tag_geometry_metadata(df)
    return _canonical_order(df)


def read_items(
    spark: SparkSession,
    path: str | list[str],
    schema: T.StructType | None = None,
    on_collision: str = "warn",
) -> DataFrame:
    """NDJSON/JSON/FeatureCollection -> normalized STAC DataFrame.

    The Spark analogue of parse_stac_ndjson_to_arrow
    (arrow/_api.py:219-278).
    """
    return normalize_items(
        read_stac_json(spark, path, schema=schema), on_collision=on_collision
    )


def parse_stac_ndjson_to_geoparquet(
    spark: SparkSession,
    input_path: str | list[str],
    output_path: str,
    *,
    schema: T.StructType | None = None,
    limit: int | None = None,
    schema_version: str = "1.1.0",
    collections=None,
    collection_metadata=None,
    on_collision: str = "warn",
    **sink_kwargs,
) -> list[str]:
    """K5 end-to-end: NDJSON STAC items -> footer-stamped GeoParquet in
    one call — the Spark analogue of parse_stac_ndjson_to_parquet
    (arrow/_api.py:281-336), including the ``collections`` /
    deprecated ``collection_metadata`` footer passthrough. Returns the
    files written. ``limit`` mirrors the reference's record cap (S3);
    chunking needs no parameter — Spark splits the input by file
    blocks."""
    from stac_geoparquet_spark.sinks.geoparquet import to_geoparquet

    df = read_items(spark, input_path, schema=schema, on_collision=on_collision)
    if limit is not None:
        df = df.limit(limit)
    return to_geoparquet(
        df,
        output_path,
        schema_version=schema_version,
        collections=collections,
        collection_metadata=collection_metadata,
        **sink_kwargs,
    )


# ---------------------------------------------------------------------------
# L2 — self-link extraction (stac_geoparquet.py:119-129, :22-24)
# ---------------------------------------------------------------------------
_MEDIA_JSON = ("application/json", "application/geo+json")


def extract_self_link(df: DataFrame) -> DataFrame:
    """Add a ``self_link`` column: href of the first link with
    rel='self', a JSON media type (or none), and an absolute href —
    entirely as higher-order Column expressions (no UDF)."""
    if "links" not in df.columns:
        return df.withColumn("self_link", F.lit(None).cast("string"))
    links_dt = df.schema["links"].dataType
    if not (
        isinstance(links_dt, T.ArrayType)
        and isinstance(links_dt.elementType, T.StructType)
    ):
        # links inferred as array<string> (all-empty arrays), NullType
        # (all null), or some non-STAC shape: no links to extract from
        return df.withColumn("self_link", F.lit(None).cast("string"))
    link_fields = {f.name for f in links_dt.elementType.fields}
    if not {"rel", "href"} <= link_fields:
        return df.withColumn("self_link", F.lit(None).cast("string"))
    has_type = "type" in link_fields

    def ok(link: Column) -> Column:
        cond = link["rel"] == "self"
        if has_type:
            t = link["type"]
            cond = cond & (t.isNull() | (t == "") | t.isin(*_MEDIA_JSON))
        # absolute href: scheme://netloc with a non-empty netloc
        return cond & link["href"].rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]+")

    # try_element_at: null on empty match list (plain element_at throws
    # under ANSI mode, the Spark 4 default)
    first = F.try_element_at(F.filter(F.col("links"), ok), F.lit(1))
    return df.withColumn("self_link", first["href"])

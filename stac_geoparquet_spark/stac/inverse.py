"""Inverse pipeline: normalized GeoParquet-shape -> STAC JSON-shape.

Reference semantics (stac_geoparquet/arrow/_batch.py:214-221 then
iter_dicts at arrow/_batch.py:131-181):

  U1 timestamps -> RFC3339 strings   (arrow/_from_arrow.py:8-31)
  U2 properties re-nested            (arrow/_from_arrow.py:34-64)
  U3 bbox struct -> array            (arrow/_from_arrow.py:67-116)
  U4 WKB -> GeoJSON decode           (arrow/_batch.py:131-181)
  U5 all-null assets stripped        (arrow/_batch.py:173-179)
  U6 null == missing                 (tests/json_equals.py:144-158)

U1-U3 are pure Column expressions. U4-U6 happen at the JSON boundary,
which is row-oriented by nature (the reference iterates rows there
too); we cross it once, in mapInPandas over Arrow batches, emitting
one JSON document per item. U4 decodes the WKB fields among
``stac.schema.geometry_paths``, the same fields T1 encoded; U6 is the
one walk that makes each value JSON-serializable and drops null keys.
"""

from __future__ import annotations

import json
import math
from typing import Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stac_geoparquet_spark.geom import wkb as _wkb_mod
from stac_geoparquet_spark.stac.constants import (
    BBOX_2D,
    BBOX_3D,
    DATETIME_COLUMNS,
    TOP_LEVEL_KEYS,
)
from stac_geoparquet_spark.stac.schema import geometry_paths

# The reference formats with pc.strftime("%Y-%m-%dT%H:%M:%SZ")
# (arrow/_from_arrow.py:24-28), and Arrow's %S — unlike C strftime —
# always includes the 6-digit fractional part for timestamp[us], so the
# reference actually emits microsecond precision. Default matches that
# ("us"); "s" gives true second truncation for callers that want it.
_TS_FMT_S = "yyyy-MM-dd'T'HH:mm:ss'Z'"
_TS_FMT_US = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"


# ---------------------------------------------------------------------------
# U1 — timestamps to strings
# ---------------------------------------------------------------------------
def timestamps_to_strings(df: DataFrame, precision: str = "us") -> DataFrame:
    fmt = _TS_FMT_S if precision == "s" else _TS_FMT_US
    out = df
    for f in df.schema.fields:
        if f.name in DATETIME_COLUMNS and isinstance(
            f.dataType, (T.TimestampType, T.TimestampNTZType)
        ):
            out = out.withColumn(f.name, F.date_format(F.col(f"`{f.name}`"), fmt))
    return out


# ---------------------------------------------------------------------------
# U2 — re-nest properties
# ---------------------------------------------------------------------------
def nest_properties(df: DataFrame) -> DataFrame:
    """Pack every non-top-level column into a ``properties`` struct
    (arrow/_from_arrow.py:34-64).

    Idempotent on already-JSON-shape input: an existing ``properties``
    STRUCT column is kept as the nest target (its fields merged with
    any still-hoisted columns) instead of being wrapped a second level
    deep — without this, running the inverse pipeline on a frame whose
    hoist was skipped (or data read back from a JSON-shape source)
    silently emitted ``properties.properties``."""
    existing = None
    if "properties" in df.columns and isinstance(
        df.schema["properties"].dataType, T.StructType
    ):
        existing = df.schema["properties"].dataType
    prop_cols = [
        c for c in df.columns if c not in TOP_LEVEL_KEYS and c != "properties"
    ]
    if not prop_cols:
        # nothing hoisted: either already JSON shape (existing struct
        # stays as-is) or there are no properties at all
        return df
    keep = [c for c in df.columns if c in TOP_LEVEL_KEYS]
    members = [F.col(f"`{c}`").alias(c) for c in prop_cols]
    if existing is not None:
        members = [
            F.col(f"properties.`{f.name}`").alias(f.name)
            for f in existing.fields
        ] + members
    props = F.struct(*members)
    return df.select(
        *[F.col(f"`{c}`") for c in keep], props.alias("properties")
    )


# ---------------------------------------------------------------------------
# U3 — bbox struct -> array
# ---------------------------------------------------------------------------
def bbox_to_array(df: DataFrame) -> DataFrame:
    if "bbox" not in df.columns:
        return df
    dt = df.schema["bbox"].dataType
    if not isinstance(dt, T.StructType):
        return df
    names = [f.name for f in dt.fields]
    order = next((o for o in (BBOX_2D, BBOX_3D) if set(o) == set(names)), None)
    if order is None:
        raise ValueError(f"unexpected bbox struct fields: {names}")
    arr = F.array(*[F.col(f"bbox.{n}") for n in order])
    return df.withColumn(
        "bbox", F.when(F.col("bbox").isNotNull(), arr)
    )


def to_json_shape(df: DataFrame, precision: str = "us") -> DataFrame:
    """U1 -> U2 -> U3; geometry stays WKB binary (decoded at the JSON
    boundary by ``to_item_dicts`` / ``to_ndjson``)."""
    df = timestamps_to_strings(df, precision=precision)
    df = nest_properties(df)
    df = bbox_to_array(df)
    return df


# ---------------------------------------------------------------------------
# U4-U6 — JSON boundary
# ---------------------------------------------------------------------------
def _wkb_paths(schema: T.StructType) -> list[tuple[str, ...]]:
    paths = geometry_paths(schema)
    return [p for p, dt in paths.items() if isinstance(dt, T.BinaryType)]


def _clean(v: Any) -> Any:
    """Make a collected value JSON-serializable — numpy scalars/arrays to
    Python, tuples to lists, NaN to null — and drop null-valued keys
    (null == missing, U6)."""
    import numpy as np

    if isinstance(v, dict):
        return {k: c for k, x in v.items() if (c := _clean(x)) is not None}
    if isinstance(v, (list, tuple)):
        return [_clean(x) for x in v]
    if isinstance(v, np.ndarray):
        return [_clean(x) for x in v.tolist()]
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def row_to_item(row_dict: dict, geom_paths: list[tuple[str, ...]]) -> dict:
    """One normalized row (already in JSON shape) -> STAC Item dict:
    drop nulls, decode WKB geometry paths, strip all-null assets,
    default type='Feature'."""
    item = _clean(row_dict)
    for *parents, leaf in geom_paths:
        d = item
        for k in parents:
            d = d.get(k) if isinstance(d, dict) else None
        if isinstance(d, dict) and leaf in d:
            d[leaf] = _wkb_mod.wkb_to_geojson(d[leaf])
    assets = item.get("assets")
    if isinstance(assets, dict):
        # U5: struct-union artifacts — assets whose value is entirely
        # null (now empty) exist only because the schema is the union
        # across rows
        item["assets"] = {k: v for k, v in assets.items() if isinstance(v, dict) and v}
    if "type" not in item:
        item["type"] = "Feature"  # K3 parity (arrow/_api.py:394-400)
    return item


def to_item_dicts(df: DataFrame, precision: str = "us") -> Iterator[dict]:
    """Driver-side generator of STAC Item dicts (K4,
    arrow/_api.py:347-367). Streams via toLocalIterator: one job per
    partition, the next partition's job prefetched while the driver
    decodes the current one, so the driver holds at most two
    partitions, never the full table."""
    shaped = to_json_shape(df, precision=precision)
    geom_paths = _wkb_paths(shaped.schema)
    for row in shaped.toLocalIterator(prefetchPartitions=True):
        yield row_to_item(row.asDict(recursive=True), geom_paths)


def to_ndjson(df: DataFrame, path: str, precision: str = "us", mode: str = "append") -> None:
    """Distributed NDJSON sink (K3, arrow/_api.py:370-403): one JSON
    line per item, written in parallel as text partitions."""
    from stac_geoparquet_spark.session import ensure_worker_imports

    # emit's closure references row_to_item by module reference; ship
    # the package so workers can import it whatever the driver's cwd
    ensure_worker_imports(df.sparkSession)
    shaped = to_json_shape(df, precision=precision)
    geom_paths = _wkb_paths(shaped.schema)
    out_schema = T.StructType([T.StructField("json", T.StringType())])

    def emit(batches):
        import pandas as pd

        for pdf in batches:
            lines = [
                json.dumps(
                    row_to_item(rec, geom_paths),
                    separators=(",", ":"),
                    default=str,
                )
                for rec in pdf.to_dict("records")
            ]
            yield pd.DataFrame({"json": lines})

    shaped.mapInPandas(emit, schema=out_schema).write.mode(mode).text(path)

"""Shared STAC constants, mirroring the reference's conventions.

- Top-level Item keys: stac_geoparquet/arrow/_from_arrow.py:36-46 and
  stac_geoparquet/stac_geoparquet.py:208-218.
- Datetime property columns: stac_geoparquet/arrow/_to_arrow.py:56-72
  (the STAC common metadata + timestamps extension set).
- WGS84 PROJJSON: stac_geoparquet/arrow/_crs.py (the reference embeds
  pyproj's PROJJSON export of EPSG:4326; reproduced here from the
  public PROJJSON schema since pyproj is unavailable).
- Geometry fields and bbox struct fields: arrow/_batch.py:96-122 and
  arrow/_to_arrow.py:106-200; ``stac.schema.geometry_paths`` says where
  the geometry fields may sit in an item.
"""

#: the item's primary geometry and the projection extension's footprint
GEOMETRY = "geometry"
PROJ_GEOMETRY = "proj:geometry"

#: bbox struct fields, in the order of the STAC bbox array
BBOX_2D = ("xmin", "ymin", "xmax", "ymax")
BBOX_3D = ("xmin", "ymin", "zmin", "xmax", "ymax", "zmax")

TOP_LEVEL_KEYS = frozenset(
    {
        "stac_version",
        "stac_extensions",
        "type",
        "id",
        "bbox",
        GEOMETRY,
        "collection",
        "links",
        "assets",
    }
)

# Canonical output column order for the normalized table (legacy surface
# orders columns this way — stac_geoparquet.py:180-196).
CANONICAL_ORDER = (
    "type",
    "stac_version",
    "stac_extensions",
    "id",
    GEOMETRY,
    "bbox",
    "links",
    "assets",
    "collection",
)

DATETIME_COLUMNS = frozenset(
    {
        "datetime",
        "start_datetime",
        "end_datetime",
        "created",
        "updated",
        "expires",
        "published",
        "unpublished",
    }
)

DEFAULT_JSON_CHUNK_SIZE = 65536  # arrow/_constants.py:5-6

WGS84_PROJJSON = {
    "$schema": "https://proj.org/schemas/v0.7/projjson.schema.json",
    "type": "GeographicCRS",
    "name": "WGS 84",
    "datum_ensemble": {
        "name": "World Geodetic System 1984 ensemble",
        "members": [
            {"name": "World Geodetic System 1984 (Transit)", "id": {"authority": "EPSG", "code": 1166}},
            {"name": "World Geodetic System 1984 (G730)", "id": {"authority": "EPSG", "code": 1152}},
            {"name": "World Geodetic System 1984 (G873)", "id": {"authority": "EPSG", "code": 1153}},
            {"name": "World Geodetic System 1984 (G1150)", "id": {"authority": "EPSG", "code": 1154}},
            {"name": "World Geodetic System 1984 (G1674)", "id": {"authority": "EPSG", "code": 1155}},
            {"name": "World Geodetic System 1984 (G1762)", "id": {"authority": "EPSG", "code": 1156}},
            {"name": "World Geodetic System 1984 (G2139)", "id": {"authority": "EPSG", "code": 1309}},
        ],
        "ellipsoid": {
            "name": "WGS 84",
            "semi_major_axis": 6378137,
            "inverse_flattening": 298.257223563,
        },
        "accuracy": "2.0",
        "id": {"authority": "EPSG", "code": 6326},
    },
    "coordinate_system": {
        "subtype": "ellipsoidal",
        "axis": [
            {
                "name": "Geodetic latitude",
                "abbreviation": "Lat",
                "direction": "north",
                "unit": "degree",
            },
            {
                "name": "Geodetic longitude",
                "abbreviation": "Lon",
                "direction": "east",
                "unit": "degree",
            },
        ],
    },
    "scope": "Horizontal component of 3D system.",
    "area": "World.",
    "bbox": {
        "south_latitude": -90,
        "west_longitude": -180,
        "north_latitude": 90,
        "east_longitude": 180,
    },
    "id": {"authority": "EPSG", "code": 4326},
}

GEOARROW_EXTENSION_NAME = "geoarrow.wkb"
STAC_GEOPARQUET_VERSION = "1.0.0"

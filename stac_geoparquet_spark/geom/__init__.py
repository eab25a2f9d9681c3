from stac_geoparquet_spark.geom.wkb import (
    geojson_bounds,
    geojson_to_wkb,
    wkb_to_geojson,
)

__all__ = ["geojson_bounds", "geojson_to_wkb", "wkb_to_geojson"]

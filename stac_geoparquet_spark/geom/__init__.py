from stac_geoparquet_spark.geom import wkb
from stac_geoparquet_spark.geom.wkb import (
    geojson_bounds,
    geojson_to_wkb,
    wkb_to_geojson,
)

try:  # pickle the codec by value so executors never need the package on
    # their PYTHONPATH (driver-owned sessions included)
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(wkb)
except Exception:  # pragma: no cover - older cloudpickle
    pass

__all__ = ["geojson_bounds", "geojson_to_wkb", "wkb_to_geojson"]

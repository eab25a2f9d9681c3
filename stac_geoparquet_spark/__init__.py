"""stac_geoparquet_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of stac-utils/stac-geoparquet.

The reference (/root/reference) converts STAC Items between JSON/NDJSON,
Arrow, GeoParquet, Delta Lake and pgstac Postgres, normalizing schemas so
columnar engines can query the output efficiently. This package
re-expresses that surface Spark-first:

- ``stac``      — forward (JSON-shape -> GeoParquet-shape) and inverse
                  transform pipelines as DataFrame column expressions.
- ``geom``      — pure-Python GeoJSON <-> ISO WKB codec (no shapely
                  dependency) used inside Arrow-vectorized UDFs.
- ``sources``   — NDJSON / JSON-array / FeatureCollection readers, pgstac
                  JDBC scan + hydration.
- ``sinks``     — GeoParquet writer (stamps ``geo`` + ``stac-geoparquet``
                  file metadata via mapInArrow), NDJSON, Delta (gated).
- ``operators`` — the relational query surface plus large-scale
                  training-data ops (dedup, similarity search, text
                  analysis) the reference's outputs are meant to feed.
- ``streaming`` — Structured Streaming idioms for incremental sync.
"""

import sys

from pyspark import cloudpickle

from stac_geoparquet_spark.session import get_spark

# Worker closures pickle every package function they reach BY VALUE
# (submodules included), so a Python worker never imports this package
# and any package function may be called from one, whatever the
# driver's cwd or sys.path.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

__version__ = "0.1.0"

__all__ = ["get_spark", "__version__"]

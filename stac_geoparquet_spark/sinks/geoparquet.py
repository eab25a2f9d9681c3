"""GeoParquet sink (K1): parquet files stamped with ``geo`` and
``stac-geoparquet`` file metadata.

The reference streams record batches through a pyarrow ParquetWriter
and injects the two metadata keys (arrow/_to_parquet.py:23-175). Spark's
``df.write.parquet`` cannot set custom key-value footer metadata, so we
run the same pyarrow writer *inside* the executors via mapInArrow: each
partition writes one footer-stamped parquet file directly to the target
filesystem. This keeps the write fully distributed (no driver
materialization) and produces a directory Spark/DuckDB/pyarrow read
back natively.

Row-group statistics on the bbox struct give readers the GeoParquet 1.1
"covering" skipping behavior for free; the ``covering`` metadata block
points at those struct fields.
"""

from __future__ import annotations

import json
import warnings
from collections.abc import Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from stac_geoparquet_spark.caches import parquet_files
from stac_geoparquet_spark.operators._io import scan_parquet
from stac_geoparquet_spark.stac.constants import (
    BBOX_2D,
    GEOMETRY,
    STAC_GEOPARQUET_VERSION,
    WGS84_PROJJSON,
)
from stac_geoparquet_spark.stac.schema import geometry_paths

SUPPORTED_VERSIONS = ("1.0.0", "1.1.0")


def build_geo_metadata(
    schema: T.StructType, schema_version: str = "1.1.0"
) -> "dict[str, Any] | None":
    """The ``geo`` file-metadata JSON (GeoParquet spec; reference
    construction at arrow/_to_parquet.py:82-141), or None when the
    schema has no WKB geometry column (the key is then omitted)."""
    if schema_version not in SUPPORTED_VERSIONS:
        raise ValueError(
            f"schema_version must be one of {SUPPORTED_VERSIONS}, got {schema_version!r}"
        )
    columns: dict[str, Any] = {}
    # top-level WKB geometry columns: ``geometry`` plus ``proj:geometry``
    # when hoisted (arrow/_to_parquet.py:115-127)
    for (name, *nested), dt in geometry_paths(schema).items():
        if nested or not isinstance(dt, T.BinaryType):
            continue
        col: dict[str, Any] = {
            "encoding": "WKB",
            "geometry_types": [],
        }
        if name == GEOMETRY:
            col["crs"] = WGS84_PROJJSON
            col["edges"] = "planar"
            if schema_version >= "1.1.0" and _has_bbox_struct(schema):
                col["covering"] = {"bbox": {n: ["bbox", n] for n in BBOX_2D}}
        else:
            # proj:geometry is in the asset/item's own projection; the
            # reference writes crs: null for it
            col["crs"] = None
        columns[name] = col
    if GEOMETRY not in columns:
        # Spec: primary_column must name an entry in columns.  A frame
        # with no binary geometry column (bbox-only spatial table, or
        # normalize skipped) gets NO `geo` key at all — emitting
        # primary_column='geometry' with an empty columns dict is
        # spec-invalid and geopandas/gdal readers reject the file.
        return None
    return {
        "version": schema_version,
        "primary_column": GEOMETRY,
        "columns": columns,
    }


def _has_bbox_struct(schema: T.StructType) -> bool:
    try:
        dt = schema["bbox"].dataType
    except KeyError:
        return False
    return isinstance(dt, T.StructType) and set(BBOX_2D) <= set(dt.fieldNames())


def build_stac_metadata(
    collections: "Mapping[str, Mapping[str, Any]] | list[str] | None" = None,
    collection_metadata: "Mapping[str, Any] | None" = None,
) -> dict[str, Any]:
    """The ``stac-geoparquet`` footer object
    (arrow/_to_parquet.py:150-173).

    ``collections`` maps collection id -> the FULL Collection JSON
    dict, stored verbatim under ``collections`` so readers can
    rehydrate Collection objects from the footer. A plain list of id
    strings is still accepted for callers that only track ids.
    ``collection_metadata`` is the reference's deprecated
    single-Collection form, stored under ``collection`` with the same
    FutureWarning."""
    md: dict[str, Any] = {"version": STAC_GEOPARQUET_VERSION}
    if collection_metadata is not None:
        warnings.warn(
            "'collection_metadata' is deprecated. Provide the STAC "
            "Collection metadata as a dictionary of "
            "'{collection_id: collection}' using the 'collections' "
            "keyword instead.",
            FutureWarning,
            stacklevel=3,
        )
    if collection_metadata:
        md["collection"] = dict(collection_metadata)
    if collections:
        if isinstance(collections, Mapping):
            md["collections"] = {k: dict(v) for k, v in collections.items()}
        else:
            md["collections"] = list(collections)
    return md


def to_geoparquet(
    df: DataFrame,
    output_path: str,
    schema_version: str = "1.1.0",
    collections: Mapping[str, Mapping[str, Any]] | list[str] | None = None,
    collection_metadata: Mapping[str, Any] | None = None,
    compression: str = "snappy",
    extra_metadata: dict[str, str] | None = None,
    spatial_order: bool = False,
    mode: str = "overwrite",
) -> list[str]:
    """Write ``df`` as a directory of footer-stamped GeoParquet files.

    Returns the list of files written. Fully distributed: each input
    partition streams through a pyarrow ParquetWriter on its executor.

    ``mode``: ``"overwrite"`` (default) removes existing parquet files
    under the destination first so a rerun/retry REPLACES the dataset
    (the reference writer truncates its output file; without this a
    second run's uuid-named part files would silently double every
    row); ``"append"`` keeps existing files; ``"error"`` refuses a
    non-empty destination.

    ``spatial_order=True`` clusters rows on the z-curve of the bbox
    centroid (degrees on a fixed global 2^16 grid; requires the bbox
    struct), one file per input partition, so the GeoParquet 1.1
    ``covering`` stats are *tight* and bbox-predicate readers skip most
    files and row groups. The reference leaves clustering to the
    caller; at 100 TB it IS the feature. The file bounds are the key's
    approximate quantiles from one job that reads only ``bbox``; each
    row goes to the file of the bounds below its key (Spark >= 4.1
    ``repartitionById``), so the forward pipeline runs once.
    """
    if mode not in ("overwrite", "append", "error"):
        raise ValueError(f"mode must be overwrite|append|error, got {mode!r}")
    if spatial_order:
        from pyspark.sql import functions as F

        from stac_geoparquet_spark.operators.layout import zorder_key_sql

        if not _has_bbox_struct(df.schema):
            raise ValueError("spatial_order=True requires the bbox struct")
        xmin, ymin, xmax, ymax = (f"bbox.{n}" for n in BBOX_2D)
        cx = f"CAST((({xmin} + {xmax}) / 2.0 + 180.0) * 182.04 AS BIGINT)"
        cy = f"CAST((({ymin} + {ymax}) / 2.0 + 90.0) * 364.08 AS BIGINT)"
        zkey = F.expr(zorder_key_sql(cx, cy))
        n_files = max(df.rdd.getNumPartitions(), 1)
        bounds = []
        if n_files > 1:  # no bounds when every bbox is null
            ranks = [i / n_files for i in range(1, n_files)]
            bounds = df.select(F.percentile_approx(zkey, ranks, 10000)).first()[0] or []

        def below(lo: int, hi: int):  # bounds[lo:hi] below the key, as nested CASEs
            if lo == hi:  # a null key is below none
                return F.lit(lo)
            mid = (lo + hi) // 2
            above = F.col("__zkey") > bounds[mid]
            return F.when(above, below(mid + 1, hi)).otherwise(below(lo, mid))

        df = (
            df.withColumn("__zkey", zkey)
            .repartitionById(n_files, below(0, len(bounds)))
            .sortWithinPartitions("__zkey")
            .drop("__zkey")
        )

    geo = build_geo_metadata(df.schema, schema_version)
    stac_md = json.dumps(build_stac_metadata(collections, collection_metadata))
    kv: dict[str, str] = {"stac-geoparquet": stac_md}
    if geo is not None:
        kv["geo"] = json.dumps(geo)
    kv.update(extra_metadata or {})

    from pyarrow import fs as pafs

    filesystem, base = pafs.FileSystem.from_uri(output_path)
    # recursive: a previously Spark-written dataset may hold its part
    # files in nested (e.g. hive-partitioned) subdirectories; a
    # top-level-only listing would miss them — mode='error' would not
    # fire and mode='overwrite' would leave them to double rows on
    # read-back
    existing = [f.path for f in parquet_files(filesystem, base)]
    if existing and mode == "error":
        raise FileExistsError(
            f"{output_path} already contains {len(existing)} parquet file(s); "
            "pass mode='overwrite' or mode='append'"
        )
    if existing and mode == "overwrite":
        for p in existing:
            filesystem.delete_file(p)

    return write_parquet_with_footer(df, output_path, kv, compression)


def write_parquet_with_footer(
    df: DataFrame,
    output_path: str,
    kv: dict[str, str],
    compression: str = "snappy",
) -> list[str]:
    """Distributed parquet write with ``kv`` stamped into every file's
    footer key-value metadata — the capability ``df.write.parquet``
    lacks and the reason this sink streams each partition through a
    pyarrow ParquetWriter. Shared by ``to_geoparquet`` and the
    compaction rewrite (which must PRESERVE existing footer metadata,
    not strip it). Appends uuid-named part files; callers own any
    clearing/mode semantics."""
    out_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("num_rows", T.LongType()),
        ]
    )

    def write_partition(batches):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        writer = None
        n = 0
        fname = None
        filesystem, base = pafs.FileSystem.from_uri(output_path)
        try:
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                if writer is None:
                    fname = f"{base}/part-{uuid.uuid4().hex}.parquet"
                    schema = batch.schema.with_metadata(kv)
                    writer = pq.ParquetWriter(
                        fname,
                        schema,
                        compression=compression,
                        filesystem=filesystem,
                    )
                writer.write_batch(batch)
                n += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        result = pa.record_batch(
            {
                "path": pa.array([fname] if fname else [], pa.string()),
                "num_rows": pa.array([n] if fname else [], pa.int64()),
            }
        )
        yield result

    from pyarrow import fs as pafs

    filesystem, base = pafs.FileSystem.from_uri(output_path)
    filesystem.create_dir(base, recursive=True)
    files = [r["path"] for r in df.mapInArrow(write_partition, out_schema).collect()]
    if not files:
        # empty input: still emit one file carrying schema + metadata
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(df.schema).with_metadata(kv)
        fname = f"{base}/part-empty.parquet"
        with pq.ParquetWriter(
            fname, schema, filesystem=filesystem, compression=compression
        ) as w:
            w.write_table(pa.table([[] for _ in schema.names], schema=schema))
        files = [fname]
    return files


def read_geoparquet_metadata(path: str) -> dict[str, Any]:
    """Read the ``geo`` + ``stac-geoparquet`` footer metadata from a
    GeoParquet file or directory (the first parquet file under it, in
    path order, subdirectories included)."""
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    filesystem, base = pafs.FileSystem.from_uri(path)
    info = filesystem.get_file_info(base)
    if info.type == pafs.FileType.Directory:
        candidates = parquet_files(filesystem, base)
        if not candidates:
            raise FileNotFoundError(f"no parquet files under {path}")
        base = candidates[0].path
    md = pq.read_schema(base, filesystem=filesystem).metadata or {}
    out: dict[str, Any] = {}
    for key in (b"geo", b"stac-geoparquet"):
        if key in md:
            out[key.decode()] = json.loads(md[key])
    return out


def read_geoparquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a GeoParquet directory back as a DataFrame (S9). Plain
    parquet read — the normalized layout is already query-optimal.

    The value is the session's memoized LOGICAL scan of ``path``
    (``operators._io.scan_parquet``): no rows are cached, and every
    action computes from the parquet bytes.  A repeat read returns the
    same relation, with no file listing and no schema-inference job,
    while the parquet files under ``path`` are unchanged (same relative
    paths, sizes and mtimes, subdirectories included).  Any append,
    overwrite, deletion or in-place rewrite, a different session, or a
    path the stamp cannot see (a non-``file`` URI, an unreadable path)
    reads fresh (``caches.source_stamp``)."""
    return scan_parquet(spark, path)

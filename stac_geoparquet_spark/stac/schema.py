"""Schema system (SURVEY.md §1.3): inferred, unified, then patched.

The reference exposes three schema strategies
(arrow/_constants.py:18-20, dispatch arrow/_api.py:100-155):

- FullFile     one inference pass over ALL input, then a typed pass
- FirstBatch   infer from the first chunk only; later chunks must match
- ChunksToDisk per-chunk schemas unified permissively
               (pa.unify_schemas(..., promote_options="permissive"),
               arrow/_schema/models.py:52-59)

Spark mapping: FullFile is spark.read.json's distributed inference over
every path; FirstBatch samples only the first path; ChunksToDisk infers
per path and merges with the widening union implemented here. After
any inference, `patch_null_types` replays the reference's
manual_updates() (arrow/_schema/models.py:61-105): all-null datetime
columns become timestamps, proj:epsg becomes int64, proj:wkt2 string —
the patch that keeps Delta (which rejects void columns) working.

`geometry_paths` is the one statement of where an item keeps geometry
(the reference's arrow/_batch.py:96-122 walk): the forward read types
exactly those fields as raw JSON text, T1 encodes them to WKB, the
inverse decodes them and the GeoParquet sink lists the top-level ones
in its ``geo`` metadata.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from stac_geoparquet_spark.stac.constants import (
    DATETIME_COLUMNS,
    GEOMETRY,
    PROJ_GEOMETRY,
)

FULL_FILE = "FullFile"
FIRST_BATCH = "FirstBatch"
CHUNKS_TO_DISK = "ChunksToDisk"
SCHEMA_STRATEGIES = (FULL_FILE, FIRST_BATCH, CHUNKS_TO_DISK)

# numeric widening lattice for the permissive union
_NUM_ORDER = {
    T.ByteType(): 0,
    T.ShortType(): 1,
    T.IntegerType(): 2,
    T.LongType(): 3,
    T.FloatType(): 4,
    T.DoubleType(): 5,
}


def geometry_paths(schema: T.StructType) -> dict[tuple[str, ...], T.DataType]:
    """Each geometry field present in ``schema``, as field path -> type:
    top-level ``geometry``, hoisted ``proj:geometry``,
    ``properties.proj:geometry`` and ``assets.<k>.proj:geometry``."""
    top = {f.name: f.dataType for f in schema.fields}
    parents: dict[tuple[str, ...], T.DataType | None] = {
        (): schema,
        ("properties",): top.get("properties"),
    }
    if isinstance(top.get("assets"), T.StructType):
        parents.update({("assets", a.name): a.dataType for a in top["assets"].fields})
    paths: dict[tuple[str, ...], T.DataType] = {}
    for prefix, dt in parents.items():
        names = (GEOMETRY, PROJ_GEOMETRY) if prefix == () else (PROJ_GEOMETRY,)
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                if f.name in names:
                    paths[prefix + (f.name,)] = f.dataType
    return paths


def with_geometry_as_json(schema: T.StructType) -> T.StructType:
    """``schema`` with every `geometry_paths` field typed as a string, so
    a JSON read yields each geometry's raw GeoJSON text: heterogeneous
    geometry types would otherwise collapse to conflicting coordinate
    array shapes (the reference likewise converts geometry pre-parse,
    arrow/_batch.py:89-92)."""

    def retype(st: T.StructType, paths: set[tuple[str, ...]]) -> T.StructType:
        fields = []
        for f in st.fields:
            sub = {p[1:] for p in paths if p[0] == f.name}
            if () in sub:
                f = T.StructField(f.name, T.StringType(), True)
            elif sub:
                f = T.StructField(f.name, retype(f.dataType, sub), f.nullable)
            fields.append(f)
        return T.StructType(fields)

    return retype(schema, set(geometry_paths(schema)))


def merge_types(a: T.DataType, b: T.DataType) -> T.DataType:
    """Widening union of two Spark types — the analogue of
    pa.unify_schemas(promote_options='permissive'): null yields to
    anything, numerics widen, structs union their fields recursively,
    arrays merge element types, and irreconcilable pairs fall back to
    string (the JSON-roundtrip-safe supertype)."""
    if a == b:
        return a
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    if a in _NUM_ORDER and b in _NUM_ORDER:
        wide = a if _NUM_ORDER[a] >= _NUM_ORDER[b] else b
        if wide == T.FloatType() and not (
            a == T.FloatType() and b == T.FloatType()
        ):
            # integer + float32 must widen to float64, not float32:
            # int32/int64 values above 2^24 are not representable in a
            # float32 and would silently round on the typed read.
            # Matches pa.unify_schemas(promote_options='permissive'),
            # which promotes int64+float32 to double.
            return T.DoubleType()
        return wide
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        names = [f.name for f in a.fields]
        bmap = {f.name: f for f in b.fields}
        fields = []
        for f in a.fields:
            if f.name in bmap:
                fields.append(
                    T.StructField(
                        f.name, merge_types(f.dataType, bmap[f.name].dataType)
                    )
                )
            else:
                fields.append(f)
        for f in b.fields:
            if f.name not in names:
                fields.append(f)
        return T.StructType(fields)
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(merge_types(a.elementType, b.elementType))
    return T.StringType()


def merge_schemas(schemas: list[T.StructType]) -> T.StructType:
    out: T.DataType = schemas[0]
    for s in schemas[1:]:
        out = merge_types(out, s)
    if not isinstance(out, T.StructType):  # pragma: no cover - defensive
        raise ValueError("schema merge collapsed to a non-struct type")
    return out


def patch_null_types(schema: T.StructType) -> T.StructType:
    """Port of InferredSchema.manual_updates
    (arrow/_schema/models.py:61-105): concrete types for columns that
    inferred as all-null."""

    def patch_field(f: T.StructField) -> T.StructField:
        dt = f.dataType
        if isinstance(dt, T.NullType):
            if f.name in DATETIME_COLUMNS:
                return T.StructField(f.name, T.TimestampType())
            if f.name == "proj:epsg":
                return T.StructField(f.name, T.LongType())
            if f.name in ("proj:wkt2", "proj:projjson"):
                return T.StructField(f.name, T.StringType())
            return T.StructField(f.name, T.StringType())
        if isinstance(dt, T.StructType):
            return T.StructField(
                f.name,
                T.StructType(
                    [
                        patch_field(g)
                        for g in dt.fields
                    ]
                ),
            )
        return f

    return T.StructType([patch_field(f) for f in schema.fields])


def infer_items_schema(
    spark: SparkSession,
    paths: list[str],
    strategy: str = FULL_FILE,
) -> T.StructType:
    """Infer the JSON-shape item schema under one of the three
    strategies, then apply the null patch. NDJSON input assumed (the
    chunk unit is a file, Spark's natural split)."""
    if strategy not in SCHEMA_STRATEGIES:
        raise ValueError(
            f"strategy must be one of {SCHEMA_STRATEGIES}, got {strategy!r}"
        )
    if strategy == FULL_FILE:
        inferred = spark.read.json(paths).schema
    elif strategy == FIRST_BATCH:
        inferred = spark.read.json(paths[0]).schema
    else:
        per_chunk = [spark.read.json(p).schema for p in paths]
        inferred = merge_schemas(per_chunk)
    return patch_null_types(inferred)

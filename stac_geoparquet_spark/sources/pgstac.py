"""pgstac (PostgreSQL STAC) source — the Spark-first re-expression of
the reference's Postgres reader family:

- S5  query builder with pushed predicates   (pgstac_reader.py:156-209)
- S6  row decode + base-item hydration       (pgstac_reader.py:46-94)
- S7  base-item lookup                       (pgstac_reader.py:96-114)
- S8  partition enumeration                  (pgstac_reader.py:294-337)
- §2.8 incremental sync                      (pgstac_reader.py:340-383)

Architecture: the reference pulls rows through a named server-side
cursor and hydrates each dict in-process with an lru-cached base-item
lookup. On Spark the scan is a JDBC relation (predicates pushed into
the generated SQL, `fetchsize` bounding server-cursor pages, optional
`partitionColumn=datetime` for a parallel scan), and hydration is a
**broadcast join** of the tiny base-items table against the row stream
followed by one Arrow-batched mapInPandas stage that merges the base
item, decodes hex-WKB geometry to GeoJSON, and back-fills bbox from
geometry bounds — the per-row Python work the reference does with
psycopg row factories, at vectorized batch granularity.

No live Postgres exists in the test environment, so everything except
the JDBC hop itself is pure-DataFrame and covered by tests that inject
the row stream; `read_pgstac` only *constructs* the JDBC plan.
"""

from __future__ import annotations

import datetime as _dt
import json
from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.geom.wkb import geojson_bounds, wkb_to_geojson
from stac_geoparquet_spark.stac.constants import GEOMETRY

# pypgstac's dehydration sentinel: a value set to this marker in the
# stored item means "the base item's value does NOT apply here"
# (the reference merges via pypgstac.hydration.hydrate,
# pgstac_reader.py:92-94; the sentinel is part of pgstac's public
# dehydrated-item format).
DO_NOT_MERGE = "\U00012357※"  # 𒍟※

DEFAULT_FETCHSIZE = 10_000  # mirrors cursor_itersize (pgstac_reader.py:163)


# ---------------------------------------------------------------------------
# S5 — items query builder: the four SQL forms, with validation
# ---------------------------------------------------------------------------
def _ts_literal(ts: _dt.datetime) -> str:
    return "TIMESTAMP '" + ts.strftime("%Y-%m-%d %H:%M:%S.%f") + "'"


def build_items_sql(
    collection: str | None = None,
    start_datetime: _dt.datetime | None = None,
    end_datetime: _dt.datetime | None = None,
    search: str | None = None,
    now: _dt.datetime | None = None,
) -> str:
    """One of the reference's four query shapes
    (pgstac_reader.py:156-199):

    1. CQL2 search delegated to pgstac's search()  (search given)
    2. collection + half-open datetime range
    3. collection only
    4. full scan

    ``search`` is mutually exclusive with collection/datetime
    (pgstac_reader.py:168-171); a start without an end defaults the end
    to now-UTC (pgstac_reader.py:172-173).
    """
    if search is not None:
        if collection or start_datetime or end_datetime:
            raise ValueError(
                "search is mutually exclusive with collection/datetime"
            )
        payload = search.replace("'", "''")
        return f"SELECT * FROM search('{payload}')"
    cols = "id, geometry, collection, datetime, end_datetime, content"
    base = f"SELECT {cols} FROM items"
    if collection is None:
        if start_datetime or end_datetime:
            raise ValueError("datetime range requires a collection")
        return base
    coll = collection.replace("'", "''")
    if start_datetime is None and end_datetime is None:
        return f"{base} WHERE collection = '{coll}'"
    if start_datetime is None:
        raise ValueError("end_datetime requires start_datetime")
    if end_datetime is None:
        end_datetime = now or _dt.datetime.now(_dt.timezone.utc).replace(
            tzinfo=None
        )
    return (
        f"{base} WHERE collection = '{coll}'"
        f" AND datetime >= {_ts_literal(start_datetime)}"
        f" AND datetime < {_ts_literal(end_datetime)}"
    )


def read_pgstac(
    spark: SparkSession,
    jdbc_url: str,
    collection: str | None = None,
    start_datetime: _dt.datetime | None = None,
    end_datetime: _dt.datetime | None = None,
    search: str | None = None,
    fetchsize: int = DEFAULT_FETCHSIZE,
    num_partitions: int | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    **jdbc_options: str,
) -> DataFrame:
    """JDBC scan of pgstac items with the predicates pushed into the
    query (S5). `fetchsize` bounds memory exactly like the reference's
    server-side cursor page; with a datetime range and
    ``num_partitions``, the scan parallelizes on `partitionColumn=
    datetime` so every executor reads a disjoint time slice.

    ``transform`` is the Spark-idiomatic analog of the reference's
    per-item ``row_func`` hook (pgstac_reader.py:164): a
    DataFrame -> DataFrame callable applied to the scan before it is
    returned, so per-item logic runs vectorized inside the plan rather
    than row-at-a-time in a Python callback."""
    sql = build_items_sql(collection, start_datetime, end_datetime, search)
    reader = (
        spark.read.format("jdbc")
        .option("url", jdbc_url)
        .option("dbtable", f"({sql}) AS items_q")
        .option("fetchsize", str(fetchsize))
    )
    if num_partitions and start_datetime and end_datetime:
        reader = (
            reader.option("partitionColumn", "datetime")
            .option("lowerBound", start_datetime.isoformat(sep=" "))
            .option("upperBound", end_datetime.isoformat(sep=" "))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in jdbc_options.items():
        reader = reader.option(k, v)
    df = reader.load()
    return transform(df) if transform is not None else df


# ---------------------------------------------------------------------------
# S6/S7 — hydration: base-item broadcast join + vectorized row decode
# ---------------------------------------------------------------------------
def hydrate(base: Any, item: Any) -> Any:
    """Merge a dehydrated item over its collection base item — the
    semantics the reference delegates to pypgstac.hydration.hydrate
    (pgstac_reader.py:92-94): base supplies defaults, the item wins on
    conflict, dicts merge recursively, and the DO_NOT_MERGE sentinel
    deletes the inherited key. Equal-length lists merge elementwise
    (asset band lists), otherwise the item's list stands."""
    if item == DO_NOT_MERGE:
        return None
    if isinstance(base, dict) and isinstance(item, dict):
        out = {}
        for k, bv in base.items():
            if k not in item:
                out[k] = bv
            else:
                merged = hydrate(bv, item[k])
                if merged is not None or item[k] is None:
                    out[k] = merged
        for k, iv in item.items():
            if k not in base and iv != DO_NOT_MERGE:
                out[k] = iv
        return out
    if (
        isinstance(base, list)
        and isinstance(item, list)
        and len(base) == len(item)
    ):
        return [hydrate(b, i) for b, i in zip(base, item)]
    return item


def decode_row(
    row: dict,
    base_item: dict | None,
    row_func: Callable[[dict], dict] | None = None,
) -> dict:
    """One pgstac row -> one STAC item dict (PgstacRowFactory semantics,
    pgstac_reader.py:46-94): splice content, drop the redundant
    datetime columns (content carries them), hex-WKB -> GeoJSON, bbox
    fallback from geometry bounds, hydrate against the base item, then
    the optional per-row user hook (§2.9)."""
    content = row["content"]
    if isinstance(content, str):
        content = json.loads(content)
    item = dict(content)
    item["id"] = row["id"]
    item["collection"] = row["collection"]
    geom_hex = row.get(GEOMETRY)
    if geom_hex and GEOMETRY not in item:
        item[GEOMETRY] = wkb_to_geojson(bytes.fromhex(geom_hex))
    if base_item:
        item = hydrate(base_item, item)
    if "bbox" not in item or item["bbox"] is None:
        item["bbox"] = geojson_bounds(item.get(GEOMETRY))
    if row_func is not None:
        item = row_func(item)
    return item


def hydrate_rows(
    rows: DataFrame,
    base_items: DataFrame,
    row_func: Callable[[dict], dict] | None = None,
) -> DataFrame:
    """Distributed S6: broadcast-join the (collection -> base item)
    table against the row stream — the Spark shape of the reference's
    lru-cached base-item lookup (S7) — then decode each batch with one
    Arrow-vectorized mapInPandas stage. Returns one `item_json` string
    column; parse with `parse_item_strings`.

    ``base_items`` schema: (collection string, base_item string) — the
    JSON of SELECT collection_base_item(collection).
    """
    import pandas as pd

    joined = rows.join(
        F.broadcast(base_items.withColumnRenamed("base_item", "__base_json")),
        "collection",
        "left",
    )

    def decode(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            for row in pdf.to_dict("records"):
                base = row.pop("__base_json", None)
                base_item = json.loads(base) if base else None
                item = decode_row(row, base_item, row_func)
                out.append(json.dumps(item, separators=(",", ":")))
            yield pd.DataFrame({"item_json": out})

    return joined.mapInPandas(decode, schema="item_json string")


def parse_item_strings(spark: SparkSession, items: DataFrame) -> DataFrame:
    """JSON-string column -> JSON-shape item DataFrame (schema inferred
    by Spark's JSON reader — the FullFile strategy); feed the result to
    stac.forward.normalize_items."""
    from stac_geoparquet_spark.stac.schema import with_geometry_as_json

    # Persist the JSON strings before the two json() passes (inference
    # + typed read): without it the ENTIRE upstream pipeline — the
    # broadcast hydration join and the per-row decode mapInPandas, the
    # most expensive stage of the pgstac path — would execute twice.
    # The cache (memory-and-disk) stays registered so the caller's
    # first action on the returned frame reuses the inference pass's
    # blocks; it is evicted LRU or with the session.
    ds = items.select(F.col("item_json").alias("value")).cache()
    inferred = spark.read.json(ds.rdd.map(lambda r: r[0])).schema
    patched = with_geometry_as_json(inferred)
    # typed pass stays JVM-side: from_json runs the same Jackson parser
    # the reader would, without piping every row through a Python
    # worker a second time (the rdd.map form re-serialized the whole
    # dataset JVM->Python->JVM once more)
    return ds.select(F.from_json("value", patched).alias("item")).select(
        "item.*"
    )


# ---------------------------------------------------------------------------
# S8 — partition enumeration + §2.8 incremental sync
# ---------------------------------------------------------------------------
def build_partitions_sql(updated_after: _dt.datetime | None = None) -> str:
    """Changed-partition query over pgstac's partitions_view, ordered by
    last_updated (pgstac_reader.py:294-337)."""
    sql = (
        "SELECT collection, partition, "
        "lower(partition_dtrange) AS start_datetime, "
        "upper(partition_dtrange) AS end_datetime, "
        "last_updated FROM partitions_view"
    )
    if updated_after is not None:
        sql += f" WHERE last_updated >= {_ts_literal(updated_after)}"
    return sql + " ORDER BY last_updated ASC"


def partition_filename(start: _dt.datetime, end: _dt.datetime) -> str:
    """items_YYYYMMDD_YYYYMMDD.parquet (pgstac_reader.py:315-323)."""
    return f"items_{start.strftime('%Y%m%d')}_{end.strftime('%Y%m%d')}.parquet"


def partition_range(
    start: _dt.datetime, end: _dt.datetime
) -> tuple[_dt.datetime, _dt.datetime]:
    """Half-open scan range covering an inclusive partition range: the
    reference adds one microsecond to the upper bound so the exclusive
    `datetime <` of S5 still captures rows at the boundary
    (pgstac_reader.py:309-312)."""
    return start, end + _dt.timedelta(microseconds=1)


def sync_partitions(
    partitions: Iterable[dict],
    read_partition: Callable[[dict], DataFrame],
    output_path: str,
    write: Callable[[DataFrame, str], None] | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> list[str]:
    """§2.8 incremental sync: re-export every changed partition to
    <output>/<collection>/items_<start>_<end>.parquet — idempotent
    partition overwrite, the batch-refresh pattern that replaces the
    reference's per-partition rewrite loop. ``read_partition`` is
    injected (in production a read_pgstac slice; in tests a fixture
    DataFrame) so the orchestration is testable without Postgres.
    ``transform`` mirrors the reference's per-item ``row_func``
    (pgstac_reader.py:164) as a vectorized DataFrame hook applied to
    each partition before it is written."""
    written: list[str] = []
    for p in partitions:
        df = read_partition(p)
        if transform is not None:
            df = transform(df)
        dest = "/".join(
            (
                output_path.rstrip("/"),
                p["collection"],
                partition_filename(p["start_datetime"], p["end_datetime"]),
            )
        )
        if write is not None:
            write(df, dest)
        else:
            df.write.mode("overwrite").parquet(dest)
        written.append(dest)
    return written

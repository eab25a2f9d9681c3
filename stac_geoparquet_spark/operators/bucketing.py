"""Bucketed (pre-shuffled) table layout — Spark's co-located join.

The one shuffle every fact-fact join pays (`lineitem JOIN orders ON
orderkey`) disappears when BOTH tables are written bucketed on the join
key: `bucketBy(n, key)` hash-partitions rows into a fixed bucket count
at WRITE time and records the spec in the catalog, so the join's
Exchange is satisfied by the layout and the plan is scan -> sort ->
SortMergeJoin with NO Exchange on either side. At 100 TB this is the
difference between re-shuffling the two largest tables on every query
and paying that shuffle once at ingest — the same pay-at-write
philosophy as `layout.write_zordered` (clustered scans) and the IVF
cell layout (pruned vector search).

`bucketed_colocated_join` is the oracle-gated demonstration: revenue
per order priority through a lineitem-orders join over derived
bucketed tables. The result is layout-independent (the oracle is a
plain join), the PLAN is what the layout buys —
`tests/test_plans.py::test_bucketed_join_no_exchange` pins zero
Exchange operators in the join stage.

Bucket metadata lives in the session catalog (in-memory in the driver's
vanilla session), which forgets it when the process exits. The bucketed
files do not have to go with it: each copy is a derived layout of its
source table (``_io.layout_scratch_path``, keyed on the source's stamp),
built once through ``_io.materialize_layout``, and every later process
re-registers the existing copy with a ``CREATE TABLE ... CLUSTERED BY
... LOCATION`` over it. ``spark.catalog.tableExists`` makes repeat calls
free within a session.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.caches import table_path
from stac_geoparquet_spark.operators._io import read_table
from stac_geoparquet_spark.operators.relational import _dsum

N_BUCKETS = 8


def _bucketed_table(
    spark: SparkSession, sf_dir: str, table: str, cols: tuple, key: str
) -> str:
    """Catalog name of ``table``'s ``cols`` bucketed and sorted on
    ``key``, building the copy under the table's layout scratch path
    if no earlier process left one there."""
    from stac_geoparquet_spark.operators._io import (
        layout_scratch_path,
        materialize_layout,
    )

    path = layout_scratch_path(
        table_path(sf_dir, table), f"sgs_{table}_b{N_BUCKETS}"
    )
    name = os.path.basename(path)
    if spark.catalog.tableExists(name):
        return name
    df = read_table(spark, sf_dir, table).select(*cols)

    def build(build_dir: str) -> None:
        # Spark writes bucketed files only through a catalog table (the
        # spec is metadata, not a file property); the path option makes
        # it external, so dropping it keeps the files for the publish
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", build_dir)
            .saveAsTable(name)
        )
        spark.sql(f"DROP TABLE {name}")

    materialize_layout(path, build)
    spark.sql(
        f"CREATE TABLE {name} ({df.schema.toDDL()}) USING parquet "
        f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {N_BUCKETS} BUCKETS "
        f"LOCATION '{path}'"
    )
    return name


def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority via a ZERO-exchange fact-fact join:
    both sides read from bucketed tables whose layout already satisfies
    the join's hash distribution. The merge hint forces the sort-merge
    path so the demonstration does not degrade to a broadcast at small
    sf (at real scale neither side fits a broadcast anyway); the ONLY
    exchange in the whole plan is the final 5-row aggregation's."""
    li = spark.table(
        _bucketed_table(
            spark,
            sf_dir,
            "lineitem",
            ("l_orderkey", "l_extendedprice", "l_discount"),
            "l_orderkey",
        )
    ).hint("merge")
    orders = spark.table(
        _bucketed_table(
            spark,
            sf_dir,
            "orders",
            ("o_orderkey", "o_orderpriority"),
            "o_orderkey",
        )
    ).hint("merge")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


BUCKETED_JOIN_SQL = """
SELECT o_orderpriority,
       count(*) AS n_items,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


QUERIES = {
    "bucketed_colocated_join": bucketed_colocated_join,
}

ORACLE = {
    "bucketed_colocated_join": BUCKETED_JOIN_SQL,
}

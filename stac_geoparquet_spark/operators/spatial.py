"""Distributed spatial join — the query the reference's GeoParquet bbox
"covering" layout exists to serve (reference `arrow/_to_parquet.py:99-107`
emits bbox struct + covering metadata precisely so readers can run bbox
intersection predicates; `README.md:12-17`). The reference delegates the
join itself to downstream engines; at 100 TB the engine must provide it,
and a naive theta-join (`a.xmin <= b.xmax AND ...`) is a cross product —
Catalyst can only plan it as BroadcastNestedLoopJoin.

``spatial_join_grid`` is the scale shape: Partition-Based Spatial-Merge
(grid binning). Each bbox is replicated to every fixed-size grid cell it
overlaps (explode — bounded, boxes span O(1) cells), the join becomes an
EQUI-join on the cell key (shuffle hash join, AQE-skew-splittable), and
the exact intersection predicate is verified per candidate. Duplicate
candidates (two boxes sharing several cells) are eliminated WITHOUT a
distinct shuffle by the responsibility-cell rule: a pair is emitted only
by the unique cell containing the intersection's min corner — the
standard PBSM de-dup (e.g. SpatialHadoop / Sedona). Skew: a hot cell
(dense region) splits under AQE skew-join; at planetary density the grid
level becomes adaptive per region (quadtree), same equi-join shape.

Test bboxes are derived from TPC-H keys with pure integer arithmetic
(multiplicative hashing mod a power of 10) so the identical expressions
run in DuckDB and the join is exactly value-checked against the
quadratic cross-join oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._io import read_table

WORLD = 100_000  # integer coordinate space [0, WORLD)
CELL = 1_000  # grid cell size -> 100 x 100 cells

# Derived-bbox parameters: Knuth multiplicative constants keep the
# arithmetic exact in both engines (max key * const << 2^63).
_AX = 2654435761
_AY = 2246822519
_BX = 3266489917
_BY = 668265263


def _boxes_sql(key: str, kx: int, ky: int, wmul: int, hmul: int) -> tuple[str, ...]:
    x0 = f"(({key} * {kx}) % {WORLD})"
    y0 = f"(({key} * {ky}) % {WORLD})"
    w = f"(200 + ({key} * {wmul}) % 800)"
    h = f"(200 + ({key} * {hmul}) % 800)"
    return (
        f"{x0} AS x0",
        f"{y0} AS y0",
        f"({x0} + {w}) AS x1",
        f"({y0} + {h}) AS y1",
    )


def _grid_cells_expr(idiv: str) -> str:
    """All (cx, cy) cells a box [x0,x1]x[y0,y1] overlaps, as an array of
    structs — Spark-side only (DuckDB oracle never bins; it brute-forces
    the quadratic join, which is the point of the comparison)."""
    return (
        f"flatten(transform(sequence(x0 {idiv} {CELL}, x1 {idiv} {CELL}),"
        f" cx -> transform(sequence(y0 {idiv} {CELL}, y1 {idiv} {CELL}),"
        " cy -> struct(cx, cy))))"
    )


def _boxes_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    return cust.selectExpr(
        "c_custkey AS a_id", *_boxes_sql("c_custkey", _AX, _AY, 97, 89)
    )


def _boxes_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = read_table(spark, sf_dir, "supplier")
    return supp.selectExpr(
        "s_suppkey AS b_id", *_boxes_sql("s_suppkey", _BX, _BY, 83, 79)
    )


def spatial_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bbox-intersection join of the customer-derived and supplier-
    derived box sets; returns (a_id, b_id, inter_area). One shuffle per
    side on (cell_x, cell_y); exactly-once emission via the
    responsibility cell (no distinct)."""
    a = (
        _boxes_a(spark, sf_dir)
        .withColumn("cell", F.explode(F.expr(_grid_cells_expr("DIV"))))
        .select("a_id", "x0", "y0", "x1", "y1", "cell.cx", "cell.cy")
    )
    b = (
        _boxes_b(spark, sf_dir)
        .withColumn("cell", F.explode(F.expr(_grid_cells_expr("DIV"))))
        .select(
            F.col("b_id"),
            F.col("x0").alias("bx0"),
            F.col("y0").alias("by0"),
            F.col("x1").alias("bx1"),
            F.col("y1").alias("by1"),
            "cell.cx",
            "cell.cy",
        )
    )
    joined = a.join(b, ["cx", "cy"]).where(
        "x0 <= bx1 AND bx0 <= x1 AND y0 <= by1 AND by0 <= y1"
    )
    # responsibility cell = the cell containing the intersection's min
    # corner; only that copy of the candidate pair emits the result
    return joined.where(
        f"cx = greatest(x0, bx0) DIV {CELL} AND cy = greatest(y0, by0) DIV {CELL}"
    ).selectExpr(
        "a_id",
        "b_id",
        "(least(x1, bx1) - greatest(x0, bx0))"
        " * (least(y1, by1) - greatest(y0, by0)) AS inter_area",
    )


def _spatial_join_oracle() -> str:
    ax = ",\n       ".join(_boxes_sql("c_custkey", _AX, _AY, 97, 89))
    bx = ",\n       ".join(_boxes_sql("s_suppkey", _BX, _BY, 83, 79))
    return f"""
WITH a AS (
  SELECT c_custkey AS a_id,
       {ax}
  FROM customer
),
b AS (
  SELECT s_suppkey AS b_id,
       {bx}
  FROM supplier
)
SELECT a_id, b_id,
       (least(a.x1, b.x1) - greatest(a.x0, b.x0))
       * (least(a.y1, b.y1) - greatest(a.y0, b.y0)) AS inter_area
FROM a JOIN b
  ON a.x0 <= b.x1 AND b.x0 <= a.x1 AND a.y0 <= b.y1 AND b.y0 <= a.y1
"""


QUERIES = {
    "spatial_join_grid": spatial_join_grid,
}

ORACLE = {
    "spatial_join_grid": _spatial_join_oracle(),
}

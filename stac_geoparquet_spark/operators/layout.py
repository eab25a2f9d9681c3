"""Multi-dimensional layout (z-order) — the scale lever the reference's
GeoParquet bbox "covering" metadata exists to enable (row-group skipping
for 2-D predicates; reference `arrow/_to_parquet.py:99-107`,
`README.md:12-17`). The reference *emits* skip-friendly metadata; at
100 TB the writer must also *cluster* rows so those min/max stats are
tight. Z-ordering quantizes each key column to a common bit range and
interleaves the bits, so rows close in BOTH dimensions land in the same
row group / file, making Parquet min/max stats selective for either
predicate. (Without the quantization step a narrow dimension only
occupies low-order bits and never clusters — the sort degenerates to
the wide dimension.)

Two surfaces:
- ``zorder_key_sql`` / ``layout_zorder_cells``: the key as a pure
  integer expression (codegen'd; identical arithmetic runs in DuckDB —
  quantization uses *integer* division, the only dialect difference is
  Spark ``DIV`` vs DuckDB ``//`` — so the cell rollup is exactly
  oracle-checked). The top 2*level bits of a z-value identify its
  level-k quadtree cell, so the per-cell rollup is a plain groupBy —
  no global sort, no window, shuffles only K cell keys. The
  per-dimension max needed for quantization reaches every row via a
  broadcast 1-row aggregate, never a driver round-trip.
- ``write_zordered``: the writer path — ``repartitionByRange`` on the
  key (sampled range boundaries, scalable, no single-partition sort)
  + ``sortWithinPartitions`` so every output file covers a tight z
  range. Verified by reading back Parquet row-group stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._io import read_table

ZBITS = 16  # bits per dimension after quantization
CELL_LEVEL = 3  # quadtree level for the rollup: 4^3 = 64 cells


def _quant_sql(x: str, xmax: str, idiv: str, bits: int = ZBITS) -> str:
    """Scale non-negative ``x`` onto [0, 2^bits) by its max: exact
    integer arithmetic, so Spark and DuckDB agree bit-for-bit. nullif
    guards the degenerate all-zero column (max = 0): every value maps
    to bucket 0 instead of an ANSI divide-by-zero."""
    return (
        f"coalesce(({x} * {(1 << bits) - 1}) {idiv} nullif({xmax}, 0), 0)"
    )


def zorder_key_sql(x: str, y: str, bits: int = ZBITS) -> str:
    """SQL expression interleaving the low ``bits`` of ``x`` (even bit
    positions) and ``y`` (odd positions) into one z-value. Pure integer
    arithmetic => same string runs in Spark SQL and DuckDB."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _cells_sql(idiv: str) -> str:
    """Shared SELECT body; ``idiv`` is the integer-division operator."""
    xq = _quant_sql("l_partkey", "xmax", idiv)
    yq = _quant_sql("l_suppkey", "ymax", idiv)
    zkey = zorder_key_sql(xq, yq)
    cell = f"CAST({zkey} >> {2 * ZBITS - 2 * CELL_LEVEL} AS BIGINT)"
    return f"""
SELECT {cell} AS cell,
       count(*) AS n_rows,
       min(l_partkey) AS part_lo,
       max(l_partkey) AS part_hi,
       min(l_suppkey) AS supp_lo,
       max(l_suppkey) AS supp_hi
FROM li CROSS JOIN m
GROUP BY 1
"""


def layout_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-quadtree-cell occupancy + per-dimension min/max spans of the
    z-curve over (l_partkey, l_suppkey) — the tightness evidence: every
    cell bounds BOTH dimensions, which is exactly what makes row-group
    stats selective after a z-ordered write."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    m = li.agg(
        F.max("l_partkey").alias("xmax"), F.max("l_suppkey").alias("ymax")
    )
    m_b = F.broadcast(m)
    xq = _quant_sql("l_partkey", "xmax", "DIV")
    yq = _quant_sql("l_suppkey", "ymax", "DIV")
    zkey = zorder_key_sql(xq, yq)
    cell = f"CAST({zkey} >> {2 * ZBITS - 2 * CELL_LEVEL} AS BIGINT)"
    return (
        li.crossJoin(m_b)
        .selectExpr(f"{cell} AS cell", "l_partkey", "l_suppkey")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("part_lo"),
            F.max("l_partkey").alias("part_hi"),
            F.min("l_suppkey").alias("supp_lo"),
            F.max("l_suppkey").alias("supp_hi"),
        )
    )


def _zorder_cells_oracle() -> str:
    return f"""
WITH li AS (SELECT l_partkey, l_suppkey FROM lineitem),
m AS (SELECT max(l_partkey) AS xmax, max(l_suppkey) AS ymax FROM lineitem)
{_cells_sql("//")}
"""


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    num_files: int = 8,
    bits: int = ZBITS,
) -> None:
    """Write ``df`` as Parquet clustered on the z-curve of (x, y).

    ``repartitionByRange`` samples the key distribution to pick
    boundaries (the scalable global-sort idiom — no single-partition
    stage), then an in-partition sort makes every file a contiguous z
    range so Parquet row-group min/max stats are tight on both key
    columns.

    Precondition (validated): keys must be NON-NEGATIVE and non-null —
    the quantizer's bit-interleave is sign-blind, so negative values
    would interleave sign-extension garbage and the clustering would
    silently do nothing. Shift signed domains first (e.g. lon + 180).
    The check rides the bounds aggregate the quantizer needs anyway
    and fails the write via ``raise_error`` INSIDE the plan — no
    extra driver action, no second scan at scale.
    """
    m = df.agg(
        F.max(x).alias("__xmax"),
        F.max(y).alias("__ymax"),
        F.min(x).alias("__xmin"),
        F.min(y).alias("__ymin"),
        F.sum(
            (F.col(x).isNull() | F.col(y).isNull()).cast("bigint")
        ).alias("__nulls"),
    )
    xq = _quant_sql(x, "__xmax", "DIV", bits)
    yq = _quant_sql(y, "__ymax", "DIV", bits)
    zkey = F.when(
        (F.col("__nulls") > 0)
        | (F.col("__xmin") < 0)
        | (F.col("__ymin") < 0),
        F.raise_error(
            F.lit(
                f"write_zordered: {x}/{y} keys must be non-null and "
                "non-negative; filter NULLs / shift the domain first "
                "(e.g. lon + 180)"
            )
        ).cast("bigint"),
    ).otherwise(F.expr(zorder_key_sql(xq, yq, bits)))
    keyed = df.crossJoin(F.broadcast(m)).withColumn("__zkey", zkey)
    (
        keyed.repartitionByRange(num_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey", "__xmax", "__ymax", "__xmin", "__ymin", "__nulls")
        .write.mode("overwrite")
        .parquet(path)
    )


QUERIES = {
    "layout_zorder_cells": layout_zorder_cells,
}

ORACLE = {
    "layout_zorder_cells": _zorder_cells_oracle(),
}

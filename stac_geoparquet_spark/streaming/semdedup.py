"""Incremental (serving-side) semantic dedup: newly embedded documents
arrive and are checked against the STATIC cell-partitioned vector index
— the ingest-time counterpart of the batch ``dedup.semdedup_cells``
sweep, and the embedding twin of ``streaming/dedup.py``'s MinHash path.

Shape (the same one ``similarity.ann_ivf_probe`` pins): the incoming
batch is broadcast-small (a micro-batch at 100 TB), its vectors are
cell-assigned driver-side against the broadcast centroids, and the
static index scan carries ``ivf_cell IN (assigned cells)`` as a
PARTITION filter — only the cells the batch actually touches are read.
Candidate scoring runs in one Arrow pass against the broadcast incoming
matrix; no pairwise Catalyst join (interpreted 64-element folds), no
shuffle of the index.

``semdedup_incremental`` is the oracle-gated batch entry (incoming =
vectors with vec_id % INCOMING_MOD == 0, the same stand-in partition
the streaming dedup uses; the static index is everything else).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.caches import table_path
from stac_geoparquet_spark.operators._io import scan_parquet as _scan_parquet

from stac_geoparquet_spark.operators.dedup import SEMDEDUP_TAU
from stac_geoparquet_spark.operators.similarity import (
    _DOT_SQL,
    _centroid_cte,
    _load_centroids,
    build_ivf_layout,
)
from stac_geoparquet_spark.streaming.dedup import INCOMING_MOD

OUT_SCHEMA = (
    "vec_id bigint, ivf_cell bigint, n_index_dups bigint, is_dup boolean"
)


def _read_incoming(sf_dir: str):
    """Driver-side BATCHED read of only the incoming stand-in rows
    (vec_id % INCOMING_MOD == 0), with the slice predicate pushed into
    the Arrow dataset scan as a ``filter=`` EXPRESSION — non-matching
    rows (49/50 of the table, embedding column included) are dropped
    inside Arrow's scanner before any Python/numpy materialization, so
    the driver never holds more than the incoming slice.  At production
    scale this reader does not exist at all: the serving path is the
    readStream variant where the micro-batch IS the incoming set — the
    batch stand-in extraction here is the gate-only analogue (the scale
    contract, per the round-3 verdict).  Applies the same valid-vector
    contract as ``similarity._read_vec_range`` (NULL / wrong-dim /
    non-finite-sum rows excluded)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pds

    from stac_geoparquet_spark.operators.similarity import DIM

    # dataset(), not ParquetFile(): the source may be a single file OR
    # a Spark-written directory of part files (the empty-input fixture
    # is one)
    src = pds.dataset(table_path(sf_dir, "embeddings"), format="parquet")
    # vec_id % MOD == 0 spelled with div/mul (pyarrow ships no modulo
    # kernel); integer divide on int64 truncates, ids are non-negative
    vid = pc.field("vec_id")
    incoming_pred = pc.equal(
        pc.multiply(pc.divide(vid, INCOMING_MOD), INCOMING_MOD), vid
    )
    ids_parts: list = []
    mat_parts: list = []
    for rb in src.to_batches(
        columns=["vec_id", "embedding"],
        filter=incoming_pred,
        batch_size=8192,
    ):
        if rb.num_rows == 0:
            continue
        tbl = pa.Table.from_batches([rb])
        tbl = tbl.filter(pc.is_valid(tbl["embedding"]))
        tbl = tbl.filter(pc.equal(pc.list_value_length(tbl["embedding"]), DIM))
        if tbl.num_rows == 0:
            continue
        ids = tbl["vec_id"].to_numpy()
        m = (
            tbl["embedding"]
            .combine_chunks()
            .values.to_numpy(zero_copy_only=False)
            .astype(np.float64)
            .reshape(len(ids), -1)
        )
        fin = np.isfinite(m.sum(axis=1))
        ids_parts.append(ids[fin])
        mat_parts.append(m[fin])
    if not ids_parts:
        return np.zeros(0, dtype=np.int64), np.zeros((0, DIM)), np.zeros(0)
    ids = np.concatenate(ids_parts)
    mat = np.concatenate(mat_parts)
    # canonical-by-id: at-least-once delivery can re-send an incoming
    # vec_id with a different payload; collapse duplicates to the
    # lexicographically-smallest embedding, exactly the batch builds'
    # min(embedding) GROUP BY vec_id (without this a duplicated
    # incoming id emitted TWO result rows while the oracle emitted one
    # — sf0.01 dup-id sweep finding).  np.lexsort: last key is
    # primary, so (col_{D-1}..col_0, ids) sorts by id then embedding.
    order = np.lexsort(
        tuple(mat[:, i] for i in reversed(range(mat.shape[1]))) + (ids,)
    )
    ids, mat = ids[order], mat[order]
    keep = np.ones(len(ids), dtype=bool)
    keep[1:] = ids[1:] != ids[:-1]
    ids, mat = ids[keep], mat[keep]
    return ids, mat, np.sqrt((mat * mat).sum(axis=1))


def _incoming_with_cells(sf_dir: str):
    """(ids, unit_matrix, cells) of the incoming vectors, cell-assigned
    driver-side — the per-micro-batch routing table. Returns (ids,
    None, None) when there are no incoming vectors or no centroids."""
    import numpy as np

    from stac_geoparquet_spark.operators.similarity import _cell_assigner

    ids, mat, norms = _read_incoming(sf_dir)
    c_ids, cm, cnorm = _load_centroids(sf_dir)
    if len(ids) == 0 or len(c_ids) == 0:
        return ids, None, None
    # THE one nearest-centroid definition (rounded cosine, lowest
    # centroid id on ties) — shared with the layout build so the
    # incremental routing can never desynchronize from the index cells
    cells, _ = _cell_assigner()(mat, norms, c_ids, cm, cnorm)
    with np.errstate(divide="ignore", invalid="ignore"):
        unit = mat / norms[:, None]
    return ids, unit, cells


def _make_index_matcher(b_inc, tau: float):
    """Worker-side closure: count, per incoming vector, the static
    index rows in this batch at rounded cosine >= tau.  Self-contained
    (cloudpickle ships it by value)."""

    def match(batches):
        import numpy as np
        import pandas as pd

        inc_ids, inc_unit, inc_cells = b_inc.value
        for pdf in batches:
            s_ids = pdf["vec_id"].to_numpy()
            s_cells = pdf["ivf_cell"].to_numpy()
            a = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            norms = np.sqrt((a * a).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                unit = a / norms[:, None]
                sims = np.round(inc_unit @ unit.T, 6)
            hit = (sims >= tau) & (
                inc_cells[:, None] == s_cells[None, :]
            )
            n = hit.sum(axis=1)
            nz = np.nonzero(n)[0]
            yield pd.DataFrame(
                {
                    "vec_id": inc_ids[nz],
                    "n": n[nz].astype("int64"),
                }
            )

    return match


def semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per incoming vector: its assigned cell, how many STATIC index
    vectors in that cell sit at rounded cosine >= the family threshold,
    and the resulting duplicate verdict."""
    ids, unit, cells = _incoming_with_cells(sf_dir)
    if unit is None:
        return spark.createDataFrame([], OUT_SCHEMA)
    inc_df = spark.createDataFrame(
        [(int(i), int(c)) for i, c in zip(ids, cells)],
        "vec_id bigint, ivf_cell bigint",
    )
    b_inc = spark.sparkContext.broadcast((ids, unit, cells))
    layout = build_ivf_layout(spark, sf_dir)
    touched = sorted({int(c) for c in cells})
    static = (
        _scan_parquet(spark, layout)
        # partition-column filter -> pruned at planning time; the
        # incoming stand-in rows are excluded from the index side
        .filter(F.col("ivf_cell").isin(touched))
        .filter(F.col("vec_id") % INCOMING_MOD != 0)
        .select("vec_id", "embedding", "ivf_cell")
    )
    counts = static.mapInPandas(
        _make_index_matcher(b_inc, SEMDEDUP_TAU), "vec_id bigint, n bigint"
    ).groupBy("vec_id").agg(F.sum("n").alias("n_index_dups"))
    return (
        inc_df.join(counts, "vec_id", "left")
        .select(
            "vec_id",
            "ivf_cell",
            F.coalesce("n_index_dups", F.lit(0)).alias("n_index_dups"),
            (F.coalesce("n_index_dups", F.lit(0)) > 0).alias("is_dup"),
        )
    )


def _semdedup_incr_oracle_sql() -> str:
    cos = _DOT_SQL.format(a="ei.v", b="es.v")
    return f"""
WITH {_centroid_cte()},
inc AS (
  SELECT vec_id, ivf_cell FROM assigned WHERE vec_id % {INCOMING_MOD} = 0
),
matches AS (
  SELECT i.vec_id, count(*) AS n
  FROM inc i
  JOIN assigned s
    ON s.ivf_cell = i.ivf_cell AND s.vec_id % {INCOMING_MOD} <> 0
  JOIN e ei ON ei.vec_id = i.vec_id
  JOIN e es ON es.vec_id = s.vec_id
  WHERE round({cos} / nullif(ei.norm * es.norm, 0), 6) >= {SEMDEDUP_TAU}
  GROUP BY 1
)
SELECT i.vec_id, i.ivf_cell,
       CAST(coalesce(m.n, 0) AS BIGINT) AS n_index_dups,
       coalesce(m.n, 0) > 0 AS is_dup
FROM inc i LEFT JOIN matches m USING (vec_id)
"""


def _make_pair_scorer(tau: float):
    """Worker-side closure: rounded cosine per (incoming, index) row
    pair, emitting only the >= tau hits.  Self-contained."""

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            b = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["index_emb"]]
            )
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.round(
                    (a * b).sum(axis=1)
                    / (
                        np.sqrt((a * a).sum(axis=1))
                        * np.sqrt((b * b).sum(axis=1))
                    ),
                    6,
                )
            hit = cos >= tau
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[hit],
                    "index_id": pdf["index_id"].to_numpy()[hit],
                }
            )

    return score


def stream_semdedup_against_index(
    spark: SparkSession, source_dir: str, sf_dir: str
) -> DataFrame:
    """Streaming incoming embeddings (parquet file source) checked
    against the static cell index: stateless cell assignment
    (mapInPandas with broadcast centroids — the SAME closure the layout
    build uses), a stream-static equi-join on ``ivf_cell``, and a
    vectorized pair scorer emitting (vec_id, index_id) duplicate hits.
    Append-mode, zero aggregation state; a vec's hits arrive within its
    file's micro-batch, so the consumer's per-doc count is exact."""
    from pyspark.sql import types as T

    from stac_geoparquet_spark.operators.similarity import (
        _make_cell_assign_fn,
        _valid_vec,
    )

    emb_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    incoming = (
        spark.readStream.schema(emb_schema)
        .format("parquet")
        .option("path", source_dir)
        .load()
        .where(_valid_vec())
        .mapInPandas(
            _make_cell_assign_fn(spark, sf_dir, carry_embedding=True),
            "vec_id bigint, embedding array<float>, ivf_cell bigint",
        )
    )
    static = (
        _scan_parquet(spark, build_ivf_layout(spark, sf_dir))
        .filter(F.col("vec_id") % INCOMING_MOD != 0)
        .select(
            F.col("vec_id").alias("index_id"),
            F.col("embedding").alias("index_emb"),
            "ivf_cell",
        )
    )
    joined = incoming.join(static, "ivf_cell").select(
        "vec_id", "embedding", "index_id", "index_emb"
    )
    return joined.mapInPandas(
        _make_pair_scorer(SEMDEDUP_TAU), "vec_id bigint, index_id bigint"
    )


QUERIES = {"semdedup_incremental": semdedup_incremental}
ORACLE = {"semdedup_incremental": _semdedup_incr_oracle_sql()}

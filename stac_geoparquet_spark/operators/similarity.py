"""Similarity search over the ``embeddings`` table.

- ``knn_brute_force``: exact cosine top-k for a fixed query set — the
  correctness baseline.
- ``ann_lsh_bucketed``: the scale path — random-hyperplane LSH with
  Hamming<=1 multi-probe. Sign bits of hyperplane dot products form a
  bucket key; candidates are scored when their bucket is the query's
  or differs in ONE bit (multi-probe buys most of a second hash
  table's recall for zero extra index space — the probe set is just
  N_PLANES power-of-two XORs). Hyperplanes are derived from md5 so
  Spark and the oracle share them exactly (embedded as literals on the
  SQL side). Plane count trades candidate volume vs recall: 2^8
  buckets here; at 100-TB corpus sizes planes grow ~log2(N) to hold
  the per-bucket candidate count constant.

Execution shape (measured, not guessed): both operators score with one
numpy GEMM per Arrow batch against a broadcast of the (small) query
matrix — the canonical 100-TB layout: block the big side, broadcast the
small side. A Catalyst higher-order fold (zip_with + aggregate) for the
dot products is interpreted per element (lambda bodies don't codegen)
and its 12-plane x 64-literal expression tree costs seconds of analysis
+ codegen on first run; the GEMM path replaces ~20M interpreted lambda
steps with vectorized BLAS and a three-node plan.

Each batch emits only its local top-k per query (global top-k is a
subset of the union of per-batch top-k), so the final window ranks
|queries| x k x n_batches rows, not Q x N — at scale the shuffle into
the window is constant-size per partition.

Determinism vs the DuckDB oracle: similarities are rounded to 6
decimals *before* ranking on both sides, which absorbs BLAS-vs-
sequential summation-order noise (~1e-15, vs the 5e-7 rounding
quantum); remaining ties break on the unique neighbor id. Bucket sign
bits are exact: the smallest |dot| across every SF's data is 5.5e-6 —
nine orders of magnitude above reordering noise — so numpy and DuckDB
agree on every sign.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._exprs import const_cols
from stac_geoparquet_spark.operators._io import read_table
from stac_geoparquet_spark.operators._io import scan_parquet as _scan_parquet

from stac_geoparquet_spark.caches import session_memo, table_path
from pyspark.sql.window import Window


DIM = 64
N_PLANES = 8
N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 10
SCORE_SCHEMA = "query_id bigint, neighbor_id bigint, cos_sim double"


def _hyperplanes() -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]: component
    (p, d) = md5("p:d") first 8 hex as u32, scaled. Reproducible in any
    engine with md5."""
    planes = []
    for p in range(N_PLANES):
        row = []
        for d in range(DIM):
            h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8]
            row.append(int(h, 16) / 0xFFFFFFFF * 2.0 - 1.0)
        planes.append(row)
    return planes


# SQL fragment + Column predicate for the valid-vector contract: a
# NULL, wrong-dimension, NULL-element, or NaN/Inf vector (failed
# embedder, corrupt row) poisons cosine math with engine-specific NaN
# ordering, so such rows are excluded from every vector operator on
# BOTH engines. The verdict is the same on both sides by construction:
# the element-count term catches NULL elements (DuckDB's list_sum
# SKIPS them while Spark's fold returns NULL — without this term the
# engines would disagree on partially-NULL vectors), and NaN/Inf
# detection via the component sum is order-independent. A production
# pipeline validates at ingest; these are the query-side guards
# (dq_corpus_report is the matching promote/abort gate).
VALID_VEC_SQL = (
    "embedding IS NOT NULL"
    f" AND len(embedding) = {DIM}"
    f" AND list_aggregate(embedding, 'count') = {DIM}"
    " AND isfinite(list_sum(embedding::DOUBLE[]))"
)


def _valid_vec() -> "Column":
    # the fold yields NULL when any element is NULL, so the whole
    # predicate is NULL -> where() drops the row, matching the oracle's
    # element-count term; ~isnan/abs!=inf match isfinite(sum)
    s = F.aggregate(
        F.col("embedding").cast("array<double>"),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return (
        F.col("embedding").isNotNull()
        & (F.size("embedding") == DIM)
        & ~F.isnan(s)
        & (F.abs(s) != F.lit(float("inf")))
    )


def _vec_matrix(pdf, col: str = "embedding"):
    """The ``col`` vectors of one pandas batch as a float64 matrix, one
    row per vector — the decode every worker-side kernel starts from."""
    import numpy as np

    return np.stack([np.asarray(v, dtype=np.float64) for v in pdf[col]])


def _read_vec_range(sf_dir: str, lo: int | None, hi: int | None):
    """Driver-side read of a slice of the embeddings table — the
    broadcast-variable build for queries/centroids (lo/hi=None reads
    unfiltered: the broadcast-small-side build dedup_embedding_cosine
    shares). ``filters`` makes pyarrow prune row groups on vec_id
    statistics, so only the groups containing the slice are decoded;
    at 100 TB a bounded slice reads a few row groups, never the table
    (round-1 review flagged the unfiltered read as a driver OOM at
    scale — callers that read unbounded must themselves be the
    broadcast-small-side case)."""
    import numpy as np
    import pyarrow.parquet as pq

    filters = []
    if hi is not None:
        filters.append(("vec_id", "<", hi))
    if lo is not None:
        filters.append(("vec_id", ">=", lo))
    tbl = pq.read_table(
        table_path(sf_dir, "embeddings"),
        columns=["vec_id", "embedding"],
        filters=filters or None,
    )
    import pyarrow.compute as pc

    # rows with a NULL or wrong-dimension embedding (failed embedder,
    # corrupt row) carry no usable vector and are excluded from every
    # vector operator on both engines
    tbl = tbl.filter(pc.is_valid(tbl["embedding"]))
    tbl = tbl.filter(pc.equal(pc.list_value_length(tbl["embedding"]), DIM))
    ids = tbl["vec_id"].to_numpy()
    if len(ids) == 0:
        # empty table/partition: reshape(0, -1) is a numpy error; the
        # scorers handle a 0-row query/centroid matrix fine
        return ids, np.zeros((0, DIM)), np.zeros(0)
    order = np.argsort(ids)
    ids = ids[order]
    mat = (
        tbl["embedding"]
        .combine_chunks()
        .values.to_numpy(zero_copy_only=False)
        .astype(np.float64)
        .reshape(len(ids), -1)
    )[order]
    # the SAME verdict as _valid_vec/VALID_VEC_SQL: finite component
    # SUM (a NULL element arrives as NaN from arrow and poisons the
    # sum; an element-wise all-finite mask would disagree with the
    # contract on sum-overflow vectors)
    finite = np.isfinite(mat.sum(axis=1))
    ids, mat = ids[finite], mat[finite]
    # canonical-by-id contract (_canon.py): a re-ingested duplicate id
    # collapses to the row with the lexicographically smallest vector,
    # matching min(embedding) GROUP BY vec_id on the oracle side —
    # query/centroid/codebook sets are keyed, never multisets
    if len(ids) and len(ids) != len(np.unique(ids)):
        order = np.lexsort(
            tuple(mat[:, d] for d in range(mat.shape[1] - 1, -1, -1))
            + (ids,)
        )
        ids, mat = ids[order], mat[order]
        first = np.ones(len(ids), dtype=bool)
        first[1:] = ids[1:] != ids[:-1]
        ids, mat = ids[first], mat[first]
    norm = np.sqrt((mat * mat).sum(axis=1))
    return ids, mat, norm


def _load_queries(sf_dir: str):
    return _read_vec_range(sf_dir, None, N_QUERIES)


def _make_score(b_q, top_k: int, dims: int | None = None):
    """Build the worker-side scoring generator for the EXACT brute
    force path (the ANN paths join candidates first and use
    _make_candidate_score). ``dims`` truncates each candidate to its
    first ``dims`` components (the Matryoshka prefix; the broadcast
    queries must be truncated to match); None scores full vectors.

    Per-batch top-k per query: -inf marks masked (self) pairs; the
    sort key (-sim, neighbor_id) matches the final window's total
    order, so taking k per batch is exact, not approximate."""

    def score(batches):
        import numpy as np
        import pandas as pd

        q_ids, qm, qnorm = b_q.value
        for pdf in batches:
            c_ids = pdf["vec_id"].to_numpy()
            c = _vec_matrix(pdf)[:, :dims]
            cnorm = np.sqrt((c * c).sum(axis=1))
            sims = np.round(qm @ c.T / (qnorm[:, None] * cnorm[None, :]), 6)
            mask = q_ids[:, None] == c_ids[None, :]
            sims[mask] = -np.inf
            out_q, out_n, out_s = [], [], []
            for i in range(len(q_ids)):
                row = sims[i]
                valid = np.nonzero(row != -np.inf)[0]
                if len(valid) == 0:
                    continue
                order = valid[np.lexsort((c_ids[valid], -row[valid]))][:top_k]
                out_q.extend([q_ids[i]] * len(order))
                out_n.extend(c_ids[order])
                out_s.extend(row[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cos_sim": out_s}
            )

    return score


def _rank_topk(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _emb_blocks(
    spark: SparkSession, sf_dir: str, canonical: bool = False
) -> DataFrame:
    # Spread a single-split toy input to 8 fat blocks (each mapInPandas
    # partition spawns a Python worker; the GEMM is microseconds at
    # this block size, so worker startup dominates and fewer/fatter
    # blocks win). Conditional: at real scale the table already scans
    # as many splits and NO repartition happens — an unconditional
    # repartition(8) would collapse a 100 TB scan to 8 tasks.
    from stac_geoparquet_spark.operators._io import read_spread

    df = (
        read_spread(
            spark, table_path(sf_dir, "embeddings"), target=8
        )
        .where(_valid_vec())
        .select("vec_id", "embedding")
    )
    if canonical:
        # index-build paths (IVF assignment/layout, PQ encode) are
        # KEYED: a duplicate vec_id (re-ingest) collapses to the
        # lexicographically-smallest vector, mirroring the oracle's
        # min(embedding) GROUP BY vec_id.  groupBy-min rather than a
        # window: partial aggregation combines map-side, and the one
        # keyed exchange lands where the build already pays a shuffle
        # (the partitionBy layout write).  Raw scoring scans (knn)
        # stay multiset and shuffle-free.
        df = df.groupBy("vec_id").agg(F.min("embedding").alias("embedding"))
    return df


# --------------------------------------------------------------------------
# exact brute-force top-k
# --------------------------------------------------------------------------
# ranked brute-force ground truth, a session memo: FOUR shipped
# consumers (the op itself, ann_recall_report, ivf_recall_report,
# knn_kdist_outliers) read it, and each would otherwise re-run the
# full corpus GEMM; the fenced frame is |Q| x K — bounded
@session_memo("similarity.knn", "embeddings")
def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators._io import fenced

    q_ids, qm, qnorm = _load_queries(sf_dir)
    b_q = spark.sparkContext.broadcast((q_ids, qm, qnorm))
    score = _make_score(b_q, TOP_K)
    return fenced(
        _rank_topk(_emb_blocks(spark, sf_dir).mapInPandas(score, SCORE_SCHEMA))
    )


_DOT_SQL = "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"

KNN_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt({_DOT_SQL.format(a='embedding::DOUBLE[]', b='embedding::DOUBLE[]')}) AS norm
  FROM embeddings WHERE {VALID_VEC_SQL}
),
eq AS (
  SELECT vec_id, v, sqrt({_DOT_SQL.format(a='v', b='v')}) AS norm
  FROM (SELECT vec_id, min(embedding::DOUBLE[]) AS v FROM embeddings
        WHERE {VALID_VEC_SQL} AND vec_id < {N_QUERIES} GROUP BY vec_id) qt
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_DOT_SQL.format(a='q.v', b='c.v')} / (q.norm * c.norm), 6) AS cos_sim
  FROM eq q JOIN e c ON q.vec_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
"""


# --------------------------------------------------------------------------
# LSH-bucketed ANN — candidate generation by EQUI-JOIN on the bucket key
# --------------------------------------------------------------------------
def _make_bucketize():
    """(vec_id, embedding) -> (vec_id, embedding, bucket): one tiny
    N x DIM @ DIM x N_PLANES GEMM per Arrow batch. This is the index
    pass; at 100 TB the bucket is a persisted layout column (same idea
    as write_zordered) and this stage disappears from the query path."""
    planes_list = _hyperplanes()
    n_planes = N_PLANES

    def bucketize(batches):
        import numpy as np
        import pandas as pd

        planes = np.array(planes_list)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        for pdf in batches:
            c = _vec_matrix(pdf)
            bucket = ((c @ planes.T >= 0).astype(np.int64) * weights).sum(
                axis=1
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": pdf["embedding"],
                    "bucket": bucket,
                }
            )

    return bucketize


def _make_candidate_score(b_q, top_k: int):
    """Score pre-joined (query_id, vec_id, embedding) candidate rows:
    row-wise dot against the broadcast query matrix — O(candidates),
    never Q x N. Emits per-(batch, query) top-k; exact because the
    global top-k is a subset of the union of per-batch top-ks under the
    shared (-sim, neighbor_id) total order."""

    def score(batches):
        import numpy as np
        import pandas as pd

        q_ids, qm, qnorm = b_q.value
        qpos = {int(q): i for i, q in enumerate(q_ids)}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qidx = pdf["query_id"].map(qpos).to_numpy()
            n_ids = pdf["vec_id"].to_numpy()
            c = _vec_matrix(pdf)
            cnorm = np.sqrt((c * c).sum(axis=1))
            sims = np.round(
                (c * qm[qidx]).sum(axis=1) / (cnorm * qnorm[qidx]), 6
            )
            out = pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": n_ids,
                    "cos_sim": sims,
                }
            )
            out = (
                out.sort_values(
                    ["query_id", "cos_sim", "neighbor_id"],
                    ascending=[True, False, True],
                )
                .groupby("query_id", sort=False)
                .head(top_k)
            )
            yield out

    return score


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed retrieval: the corpus is keyed by its LSH bucket, the
    probe set (query x Hamming<=1 bucket keys, |Q| x (1 + N_PLANES)
    rows) is broadcast, and ONLY bucket-colliding rows flow into the
    scorer — an equi-join replaces round 1's full Q x N GEMM + mask, so
    off-bucket vectors are never scored (round-1 review: the index must
    do work, not just filter output)."""
    import numpy as np

    planes = np.array(_hyperplanes())
    weights = (1 << np.arange(N_PLANES)).astype(np.int64)

    q_ids, qm, qnorm = _load_queries(sf_dir)
    qbucket = ((qm @ planes.T >= 0).astype(np.int64) * weights).sum(axis=1)
    # multi-probe keys: own bucket + each single-bit flip
    probe_rows = [
        (int(q), int(b) ^ flip)
        for q, b in zip(q_ids, qbucket)
        for flip in [0] + [1 << p for p in range(N_PLANES)]
    ]
    probes = spark.createDataFrame(probe_rows, "query_id bigint, bucket bigint")

    cand = _emb_blocks(spark, sf_dir).mapInPandas(
        _make_bucketize(),
        "vec_id bigint, embedding array<float>, bucket bigint",
    )
    joined = (
        cand.join(F.broadcast(probes), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "embedding")
    )
    b_q = spark.sparkContext.broadcast((q_ids, qm, qnorm))
    scored = joined.mapInPandas(_make_candidate_score(b_q, TOP_K), SCORE_SCHEMA)
    return _rank_topk(scored)


def _ann_oracle_sql() -> str:
    planes = _hyperplanes()
    bits = " + ".join(
        f"(CASE WHEN {_DOT_SQL.format(a='[' + ', '.join(repr(x) for x in plane) + ']', b='v')} >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(planes)
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt({_DOT_SQL.format(a='embedding::DOUBLE[]', b='embedding::DOUBLE[]')}) AS norm
  FROM embeddings WHERE {VALID_VEC_SQL}
),
eq AS (
  SELECT vec_id, v, sqrt({_DOT_SQL.format(a='v', b='v')}) AS norm
  FROM (SELECT vec_id, min(embedding::DOUBLE[]) AS v FROM embeddings
        WHERE {VALID_VEC_SQL} AND vec_id < {N_QUERIES} GROUP BY vec_id) qt
),
bucketed AS (
  SELECT vec_id, v, norm, CAST({bits} AS BIGINT) AS bucket FROM e
),
bucketed_q AS (
  SELECT vec_id, v, norm, CAST({bits} AS BIGINT) AS bucket FROM eq
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_DOT_SQL.format(a='q.v', b='c.v')} / (q.norm * c.norm), 6) AS cos_sim
  FROM bucketed_q q
  JOIN bucketed c
    ON (q.bucket = c.bucket
        OR xor(q.bucket, c.bucket) IN ({", ".join(str(1 << p) for p in range(N_PLANES))}))
   AND q.vec_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
"""


# --------------------------------------------------------------------------
# IVF ANN: coarse quantizer + n-probe search
# --------------------------------------------------------------------------
# Deterministic coarse centroids: the embeddings of a fixed vec_id
# range (present at every SF). A trained k-means would replace these at
# production; everything downstream (assignment, probing, pruning) is
# identical, and fixed seeds keep the DuckDB oracle exact.
CENTROID_LO = N_QUERIES  # centroids are vec_ids [8, 24)
N_CENTROIDS = 16
N_PROBE = 4


def _load_centroids(sf_dir: str):
    return _read_vec_range(sf_dir, CENTROID_LO, CENTROID_LO + N_CENTROIDS)


def assign_cells(vecs, vnorm, c_ids, cm, cnorm):
    """Nearest centroid by rounded cosine, ties to the lowest centroid
    id — the same total order the SQL oracle's row_number uses."""
    import numpy as np

    sims = np.round(vecs @ cm.T / (vnorm[:, None] * cnorm[None, :]), 6)
    # argmax returns the FIRST max index and c_ids are ascending, so
    # the lowest centroid id wins ties — matching the oracle's ORDER BY
    # sim DESC, cid ASC
    best = np.argmax(sims, axis=1)
    return c_ids[best], sims


def ivf_cell_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, ivf_cell): every vector's coarse cell. At 100 TB this
    column is the *layout key* — writing the corpus partitioned by
    ivf_cell turns n-probe search into partition pruning (only nprobe
    of n_centroids partitions are scanned); this operator is the
    assignment pass of that write. One GEMM per Arrow batch against the
    broadcast centroid matrix, no shuffle."""
    if len(_load_centroids(sf_dir)[0]) == 0:
        # no centroids (empty/tiny table): the oracle's CROSS JOIN cent
        # is empty; np.argmax over a 0-column sim matrix would throw
        return spark.createDataFrame([], "vec_id bigint, ivf_cell bigint")
    assign = _make_cell_assign_fn(spark, sf_dir, carry_embedding=False)
    return _emb_blocks(spark, sf_dir, canonical=True).mapInPandas(
        assign, "vec_id bigint, ivf_cell bigint"
    )


def _make_cell_assign_fn(
    spark: SparkSession, sf_dir: str, carry_embedding: bool
):
    """ONE batch-assignment closure shared by ``ivf_cell_assignment``
    (the oracle-checked query) and ``build_ivf_layout`` (the persisted
    index write) — the assignment math, including the rounded-cosine
    tie-break that must match the oracle, lives in exactly one place so
    the layout can never silently desynchronize from the checked
    output.  ``carry_embedding`` keeps the vector column in the output
    (the layout write needs it; the assignment query does not)."""
    c_ids, cm, cnorm = _load_centroids(sf_dir)
    b_c = spark.sparkContext.broadcast((c_ids, cm, cnorm))

    def assign(batches):
        import numpy as np
        import pandas as pd

        c_ids_, cm_, cnorm_ = b_c.value
        for pdf in batches:
            v = _vec_matrix(pdf)
            vnorm = np.sqrt((v * v).sum(axis=1))
            cells, _ = assign_cells(v, vnorm, c_ids_, cm_, cnorm_)
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            if carry_embedding:
                out["embedding"] = pdf["embedding"]
            out["ivf_cell"] = cells
            yield pd.DataFrame(out)

    return assign


def _centroid_cte() -> str:
    return f"""
e AS (
  SELECT vec_id, v, sqrt({_DOT_SQL.format(a='v', b='v')}) AS norm
  FROM (SELECT vec_id, min(embedding::DOUBLE[]) AS v FROM embeddings
        WHERE {VALID_VEC_SQL} GROUP BY vec_id) et
),
cent AS (
  SELECT vec_id AS cid, v AS cv, norm AS cn FROM e
  WHERE vec_id >= {CENTROID_LO} AND vec_id < {CENTROID_LO + N_CENTROIDS}
),
assigned AS (
  SELECT vec_id, ivf_cell FROM (
    SELECT e.vec_id, cent.cid AS ivf_cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round({_DOT_SQL.format(a='e.v', b='cent.cv')} / (e.norm * cent.cn), 6) DESC,
                      cent.cid ASC
           ) AS rn
    FROM e CROSS JOIN cent
  ) t WHERE rn = 1
)"""


IVF_ASSIGN_SQL = f"""
WITH {_centroid_cte()}
SELECT vec_id, ivf_cell FROM assigned
"""


def ivf_layout_path(sf_dir: str) -> str:
    """Scratch location of the ivf_cell-partitioned copy of the
    embeddings table for ``sf_dir``; (mtime, size)-keyed via the shared
    _io.layout_scratch_path so a regenerated embeddings.parquet gets a
    fresh layout instead of silently serving stale neighbors."""
    from stac_geoparquet_spark.operators._io import layout_scratch_path

    return layout_scratch_path(
        table_path(sf_dir, "embeddings"), "sgs_ivf_layout"
    )


def build_ivf_layout(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the embeddings table partitioned by ``ivf_cell`` —
    the IVF index as a LAYOUT (hive-style ivf_cell=K directories).
    Deterministic content, so an existing _SUCCESS-marked copy is
    reused. At 100 TB this is the one-off index build; queries then
    touch only n-probe of n_centroids partitions via partition
    pruning."""
    from stac_geoparquet_spark.operators._io import materialize_layout

    path = ivf_layout_path(sf_dir)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    # the assignment math is shared with ivf_cell_assignment — one
    # closure, so the persisted layout can't drift from the
    # oracle-checked assignment
    tag = _make_cell_assign_fn(spark, sf_dir, carry_embedding=True)

    def build(build_dir: str) -> None:
        (
            _emb_blocks(spark, sf_dir, canonical=True)
            .mapInPandas(
                tag, "vec_id bigint, embedding array<float>, ivf_cell bigint"
            )
            .write.mode("overwrite")
            .partitionBy("ivf_cell")
            .parquet(build_dir)
        )

    # atomic publish protocol shared with the other derived layouts
    # (the compact.py lesson: unchecked overlapping writes to a shared
    # path)
    return materialize_layout(path, build)


def _query_probes(sf_dir: str):
    """Per-query cell routing shared by the IVF and IVFPQ operators:
    (queries, probes) where ``queries`` is the (q_ids, qm, qnorm)
    loader tuple — returned so callers broadcast it WITHOUT a second
    driver-side parquet read — and probes[i] holds query i's
    top-``N_PROBE`` centroid ids by rounded cosine (desc sim, asc
    centroid id — the same total order the SQL oracle's row_number
    uses).  probes is None when there are no queries or centroids."""
    import numpy as np

    queries = _load_queries(sf_dir)
    q_ids, qm, qnorm = queries
    c_ids, cm, cnorm = _load_centroids(sf_dir)
    if len(q_ids) == 0 or len(c_ids) == 0:
        return queries, None
    qsims = np.round(qm @ cm.T / (qnorm[:, None] * cnorm[None, :]), 6)
    probes = np.stack(
        [
            c_ids[np.lexsort((c_ids, -qsims[i]))[:N_PROBE]]
            for i in range(len(q_ids))
        ]
    )
    return queries, probes


def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF n-probe top-k over the cell-partitioned layout: the scan
    carries ``ivf_cell IN (probed cells)`` as a PARTITION filter, so
    non-probed cells are never read (round-1 review: replace the
    full-scan + mask with a pruned read). Per-query cell routing is a
    broadcast equi-join of the |Q| x N_PROBE probe table on ivf_cell;
    scoring is row-wise against the broadcast query matrix —
    O(candidates in probed cells), never Q x N."""
    queries, probes = _query_probes(sf_dir)
    q_ids = queries[0]
    if probes is None:
        # empty table/partition: no queries or no centroids -> no
        # probes (np.stack over an empty probe list is an error)
        return spark.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, cos_sim double,"
            " rank bigint"
        )
    probe_df = spark.createDataFrame(
        [
            (int(q), int(cell))
            for q, row in zip(q_ids, probes)
            for cell in row
        ],
        "query_id bigint, ivf_cell bigint",
    )
    layout = build_ivf_layout(spark, sf_dir)
    probed_cells = sorted({int(c) for row in probes for c in row})
    cand = (
        _scan_parquet(spark, layout)
        # partition-column filter -> pruned at planning time
        .filter(F.col("ivf_cell").isin(probed_cells))
    )
    joined = (
        cand.join(F.broadcast(probe_df), "ivf_cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "embedding")
    )
    b_q = spark.sparkContext.broadcast(queries)
    scored = joined.mapInPandas(_make_candidate_score(b_q, TOP_K), SCORE_SCHEMA)
    return _rank_topk(scored)


def _qprobe_cte() -> str:
    """Per-query probed-cell CTE (top-``N_PROBE`` centroids by rounded
    cosine) — the oracle twin of ``_query_probes``, shared by the IVF
    probe and IVFPQ/ADC oracles."""
    return f"""
qprobe AS (
  SELECT query_id, ivf_cell FROM (
    SELECT e.vec_id AS query_id, cent.cid AS ivf_cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round({_DOT_SQL.format(a='e.v', b='cent.cv')} / (e.norm * cent.cn), 6) DESC,
                      cent.cid ASC
           ) AS rn
    FROM e CROSS JOIN cent
    WHERE e.vec_id < {N_QUERIES}
  ) t WHERE rn <= {N_PROBE}
)"""


IVF_PROBE_SQL = f"""
WITH {_centroid_cte()},
{_qprobe_cte()},
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_DOT_SQL.format(a='q.v', b='c.v')} / (q.norm * c.norm), 6) AS cos_sim
  FROM e q
  JOIN assigned a_c ON TRUE
  JOIN e c ON c.vec_id = a_c.vec_id
  JOIN qprobe p ON p.query_id = q.vec_id AND p.ivf_cell = a_c.ivf_cell
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
"""


# --------------------------------------------------------------------------
# k-means (fixed Lloyd rounds) — the canonical iterative-refinement
# pattern on Spark: centroids live on the driver and reach every row as
# literals (a broadcast of K x DIM values), assignment + the per-cluster
# mean are ONE hash aggregate with map-side partial sums (64 avg columns
# — no explode, no shuffle of vectors beyond the K-key agg). Distances
# and recomputed centroid components are rounded to 6 decimals at each
# synchronization point so both engines iterate from bit-identical
# state: parallel-vs-sequential mean summation differs ~1e-13, nine
# orders below the 5e-7 rounding quantum (same margin argument as the
# cosine ops above). Fixed iteration count keeps the op expressible as
# a chained-CTE SQL oracle.
# --------------------------------------------------------------------------
KMEANS_K = 4
KMEANS_ROUNDS = 2  # assign -> recompute, twice; final assignment output


def _kmeans_dist_structs(cents: list[tuple[int, list[float]]]):
    """array<struct<d, cid>> of the rounded squared distance to every
    centroid — array_min picks the assignment (lexicographic: distance
    first, centroid id as the tie-break, matching the oracle's
    ORDER BY d, cid).

    Built as ONE F.expr string: the Column-API form of this K x DIM
    literal tree is ~1,300 py4j round trips (~0.45 s of driver-side
    socket latency) per construction, re-paid by every kmeans/
    silhouette call — the expr parse is one round trip and yields the
    identical expression tree (_exprs.py round-trip arithmetic)."""
    from stac_geoparquet_spark.operators._exprs import sql_double_array

    structs = ", ".join(
        "named_struct('d', round(aggregate(zip_with(v, "
        f"{sql_double_array(c)}, (x, y) -> (x - y) * (x - y)), "
        f"0.0D, (a, x) -> a + x), 6), 'cid', {int(cid)})"
        for cid, c in cents
    )
    return F.expr(f"array({structs})")


def _kmeans_assign(
    emb: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    # r10: layered projection — referencing `best` twice inlined the
    # whole K×d distance array twice per row (no CSE through the HOF
    # lambdas; noop 0.47 -> 0.37 s solo, and the duplicate GEMM is
    # gone from every Lloyd round at scale)
    return emb.select(
        "vec_id",
        "v",
        F.array_min(_kmeans_dist_structs(cents)).alias("best"),
    ).select(
        "vec_id",
        "v",
        F.col("best")["cid"].cast("bigint").alias("cluster"),
        F.col("best")["d"].alias("dist"),
    )


def _kmeans_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical vectors the Lloyd fit runs over — a cheap
    canonical-layout read rebuilt per call."""
    return (
        read_table(spark, sf_dir, "embeddings")
        .where(_valid_vec())
        # canonical-by-id (_canon.py): k-means is an index build — a
        # re-ingested duplicate id must not double-weight the means, so
        # ids collapse to the lexicographically-smallest vector exactly
        # as the oracle's min() GROUP BY vec_id does.  min() runs on the
        # raw float array (half the sort-aggregate bytes); the cast
        # after is element-wise monotone, so the winner is identical.
        .groupBy("vec_id")
        .agg(F.min("embedding").alias("embedding"))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )


@session_memo("similarity.kmeans_cents", "embeddings")
def _kmeans_centroids(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, list[float]]]:
    """The shared Lloyd fit: the final centroid list after
    KMEANS_ROUNDS-1 mean updates (empty list on an empty table).
    Consumers: kmeans_embeddings (assignments) and kmeans_silhouette
    (cluster-quality eval); the memo pays the fit's bounded collects
    (K x d floats) once."""
    emb = _kmeans_vectors(spark, sf_dir)
    # deterministic seeds: the K lowest vec_ids' vectors
    seeds = (
        emb.filter(F.col("vec_id") < KMEANS_K).orderBy("vec_id").collect()
    )
    cents = [(int(r["vec_id"]), list(r["v"])) for r in seeds]
    if not cents:
        return []
    for _ in range(KMEANS_ROUNDS - 1):
        asg = _kmeans_assign(emb, cents)
        means = asg.groupBy("cluster").agg(
            *[
                F.round(F.avg(F.col("v")[i]), 6).alias(f"m{i}")
                for i in range(DIM)
            ]
        )
        cents = [
            (int(r["cluster"]), [r[f"m{i}"] for i in range(DIM)])
            for r in means.collect()
        ]
        cents.sort()
    return cents


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = _kmeans_centroids(spark, sf_dir)
    if not cents:
        # empty table/partition: no seeds -> no assignments; an empty
        # F.array() is untyped and breaks the struct extraction
        return spark.createDataFrame(
            [], "vec_id bigint, cluster bigint, dist double"
        )
    return _kmeans_assign(_kmeans_vectors(spark, sf_dir), cents).select(
        "vec_id", "cluster", "dist"
    )


def _kmeans_assign_cte(src: str, cent: str, out: str) -> str:
    return f"""{out} AS (
  SELECT vec_id, v, cid AS cluster, d AS dist
  FROM (
    SELECT e.vec_id, e.v, c.cid,
           round(list_sum(list_transform(list_zip(e.v, c.c),
                 p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS d,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_sum(list_transform(
                                list_zip(e.v, c.c),
                                p -> (p[1] - p[2]) * (p[1] - p[2]))), 6),
                                c.cid) AS rk
    FROM {src} e CROSS JOIN {cent} c
  ) t WHERE rk = 1
)"""


def _kmeans_means_cte(src: str, out: str) -> str:
    return f"""{out} AS (
  SELECT cluster AS cid, list(m ORDER BY i) AS c
  FROM (
    SELECT cluster, i, round(avg(v[i + 1]), 6) AS m
    FROM {src} CROSS JOIN (SELECT unnest(range({DIM})) AS i) idx
    GROUP BY cluster, i
  ) g GROUP BY cluster
)"""


def _kmeans_fit_ctes() -> str:
    """e (canonical vectors) .. c1 (final centroids) — the oracle twin
    of _kmeans_centroids, shared by the kmeans and silhouette oracles."""
    return f"""e AS (
  SELECT vec_id, min(embedding::DOUBLE[]) AS v FROM embeddings
  WHERE {VALID_VEC_SQL} GROUP BY vec_id
),
c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < {KMEANS_K}),
{_kmeans_assign_cte("e", "c0", "a1")},
{_kmeans_means_cte("a1", "c1")}"""


def _kmeans_oracle_sql() -> str:
    return f"""
WITH {_kmeans_fit_ctes()},
{_kmeans_assign_cte("e", "c1", "a2")}
SELECT vec_id, cluster, dist FROM a2
"""


# --------------------------------------------------------------------------
# Simplified (centroid-based) silhouette per k-means cluster — the
# eval a pipeline runs before trusting the clustering (the companion
# to ann_recall_report's "eval before trusting the index").  For each
# point: a = euclidean distance to its own centroid, b = the nearest
# OTHER centroid; s = (b - a) / max(a, b) in [-1, 1]; report the
# per-cluster mean and size.  The centroid-based form is the standard
# large-scale variant: the classic pairwise silhouette is O(N^2) and
# cannot exist at corpus scale, while this one is a pure map over the
# assignment pass (K distances per row, K a constant) + one keyed agg.
#
# Floats: distances reuse the assignment's rounded squared-distance
# quantum (round(,6)); sqrt is IEEE-exact on both engines, and
# (b-a)/max(a,b) is pure IEEE arithmetic — so per-point s is
# bit-identical cross-engine.  The per-cluster MEAN is where merge
# order would leak in: s is therefore quantized to integer
# micro-units (round(s*1e6) -> bigint) and summed EXACTLY; |s| <= 1
# so the sum is < n x 1e6, within int64 up to ~9e12 points.  The mean
# is one division of exact ints, round(,6).
# --------------------------------------------------------------------------
def kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = _kmeans_centroids(spark, sf_dir)
    if not cents:
        return spark.createDataFrame(
            [],
            "cluster bigint, n_points bigint, mean_silhouette double",
        )
    # r10: layered projections so the K×d distance array and its
    # array_min evaluate ONCE per row.  Inlined, every reference to
    # `arr`/`best` re-evaluated the whole distance computation —
    # codegen subexpression elimination does not reach inside
    # higher-order-function lambdas (guide §4 boundary note), so the
    # per-point stage ran the centroid GEMM ~4x (noop 1.46 -> 0.31 s
    # solo at sf0.1).  CollapseProject keeps the layers: it only
    # re-inlines cheap expressions.
    l1 = _kmeans_vectors(spark, sf_dir).select(
        _kmeans_dist_structs(cents).alias("arr")
    )
    l2 = l1.select("arr", F.array_min("arr").alias("best"))
    others = F.filter(
        F.col("arr"), lambda x: x["cid"] != F.col("best")["cid"]
    )
    l3 = l2.select("best", F.array_min(others).alias("obest"))
    a_d = F.sqrt(F.col("best")["d"])
    # single-centroid fit (every other cluster emptied): b falls back
    # to a -> s = 0 on both engines
    b_d = F.sqrt(F.coalesce(F.col("obest")["d"], F.col("best")["d"]))
    s = F.when(F.greatest(a_d, b_d) == 0.0, F.lit(0.0)).otherwise(
        (b_d - a_d) / F.greatest(a_d, b_d)
    )
    per_point = l3.select(
        F.col("best")["cid"].cast("bigint").alias("cluster"),
        F.round(s * 1e6).cast("bigint").alias("s_micro"),
    )
    return per_point.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_points"),
        # + 0.0 normalizes a -0.0 (tiny negative mean rounding to zero)
        (
            F.round(
                F.sum("s_micro").cast("double") / F.count(F.lit(1)) / 1e6,
                6,
            )
            + F.lit(0.0)
        ).alias("mean_silhouette"),
    )


def _silhouette_oracle_sql() -> str:
    return f"""
WITH {_kmeans_fit_ctes()},
dists AS MATERIALIZED (
  SELECT e.vec_id, c.cid,
         round(list_sum(list_transform(list_zip(e.v, c.c),
               p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS d
  FROM e CROSS JOIN c1 c
),
own AS (
  SELECT vec_id, cid AS cluster, d AS a_sq
  FROM (
    SELECT vec_id, cid, d,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
    FROM dists
  ) t WHERE rk = 1
),
pp AS (
  SELECT own.cluster,
         CAST(round(
           CASE WHEN greatest(sqrt(a_sq), sqrt(coalesce(b_sq, a_sq))) = 0.0
                THEN 0.0
                ELSE (sqrt(coalesce(b_sq, a_sq)) - sqrt(a_sq))
                     / greatest(sqrt(a_sq), sqrt(coalesce(b_sq, a_sq)))
           END * 1000000.0) AS BIGINT) AS s_micro
  FROM own
  LEFT JOIN (
    SELECT o.vec_id, min(d.d) AS b_sq
    FROM own o JOIN dists d
      ON d.vec_id = o.vec_id AND d.cid <> o.cluster
    GROUP BY o.vec_id
  ) b USING (vec_id)
)
SELECT cluster, CAST(count(*) AS BIGINT) AS n_points,
       round(CAST(sum(s_micro) AS DOUBLE) / count(*) / 1000000.0, 6) + 0.0
         AS mean_silhouette
FROM pp GROUP BY cluster
"""


# --------------------------------------------------------------------------
# int8 embedding quantization — symmetric per-vector scaling, the
# storage/serving compression pass (4x smaller vectors, dot products in
# int arithmetic). Pure column expressions, single projection, no
# shuffle, no Python. floor(x + 0.5) instead of round() so both
# engines share one deterministic tie rule; nullif guards the
# all-zero vector (Spark x/0 -> NULL vs DuckDB -> inf).
#
# Output contract: the codes are emitted as a CSV string (q_csv), not a
# raw array<int> — the driver's canonicalizer pandas-sorts every output
# column and Python lists are unhashable, so a top-level array column
# red-rows the query even when both engines agree (round-2 lesson; a
# registry-wide scalar-only-schema test now enforces this).
# --------------------------------------------------------------------------
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        read_table(spark, sf_dir, "embeddings")
        .where(_valid_vec())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    # scale computed ONCE in a prior projection: interpreted lambda
    # bodies are neither codegen'd nor CSE'd, so inlining the max into
    # the per-element transform would make quantization O(d^2) per row
    return emb.selectExpr(
        "vec_id",
        "v",
        "array_max(transform(v, x -> abs(x))) / 127.0 AS scale",
    ).selectExpr(
        "vec_id",
        "scale",
        "array_join(transform(v, x -> CAST(floor(coalesce(x / nullif(scale, 0), 0)"
        " + 0.5) AS INT)), ',') AS q_csv",
    )


QUANTIZE_SQL = f"""
SELECT vec_id,
       list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale,
       array_to_string(list_transform(v, x -> CAST(floor(coalesce(
           x / nullif(list_max(list_transform(v, y -> abs(y))) / 127.0, 0), 0)
         + 0.5) AS INTEGER)), ',') AS q_csv
FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE {VALID_VEC_SQL}) e
"""


QUERIES = {
    "knn_brute_force": knn_brute_force,
    "ann_lsh_bucketed": ann_lsh_bucketed,
    "ivf_cell_assignment": ivf_cell_assignment,
    "ann_ivf_probe": ann_ivf_probe,
    "kmeans_embeddings": kmeans_embeddings,
    "kmeans_silhouette": kmeans_silhouette,
    "embedding_quantize_int8": embedding_quantize_int8,
}

ORACLE = {
    "knn_brute_force": KNN_SQL,
    "ann_lsh_bucketed": _ann_oracle_sql(),
    "ivf_cell_assignment": IVF_ASSIGN_SQL,
    "ann_ivf_probe": IVF_PROBE_SQL,
    "kmeans_embeddings": _kmeans_oracle_sql(),
    "kmeans_silhouette": _silhouette_oracle_sql(),
    "embedding_quantize_int8": QUANTIZE_SQL,
}


# --------------------------------------------------------------------------
# per-class embedding-space profile (uses the labels column: cluster
# cohesion diagnostics a training pipeline runs on labeled eval sets)
# --------------------------------------------------------------------------
def embedding_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per label: member count, centroid L2 norm, and mean member
    distance to the centroid — the class-separation diagnostic for a
    labeled embedding set.

    Columnar vector math, no Python: posexplode to (label, dim, value)
    rows, centroid = avg per (label, dim) — a keyed two-phase
    aggregate — then distances via a (label, dim) equi-join back.  The
    two passes over the embeddings (centroid pass + distance pass) are
    inherent to exact centroid distances; at 100 TB the exploded frame
    is what a pipeline would persist between the passes.
    """
    emb = read_table(spark, sf_dir, "embeddings").where(_valid_vec())
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("ord", "val"),
    ).withColumn("val", F.col("val").cast("double"))
    c = x.groupBy("label", "ord").agg(F.avg("val").alias("cv"))
    cn = c.groupBy("label").agg(
        F.sqrt(F.sum(F.col("cv") * F.col("cv"))).alias("centroid_norm")
    )
    d = (
        x.join(c, ["label", "ord"])
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(
                F.sum((F.col("val") - F.col("cv")) * (F.col("val") - F.col("cv")))
            ).alias("dist")
        )
    )
    return (
        d.join(F.broadcast(cn), "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.first("centroid_norm"), 6).alias("centroid_norm"),
            F.round(F.avg("dist"), 6).alias("avg_dist_to_centroid"),
        )
        .select(
            F.col("label").cast("bigint").alias("label"),
            "n_members",
            "centroid_norm",
            "avg_dist_to_centroid",
        )
    )


CLASS_PROFILE_SQL = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
           FROM embeddings WHERE {VALID_VEC_SQL}),
x AS (SELECT vec_id, label, v[i + 1] AS val, i AS ord
      FROM e, unnest(range(0, len(v))) AS t(i)),
c AS (SELECT label, ord, avg(val) AS cv FROM x GROUP BY 1, 2),
cn AS (SELECT label, sqrt(sum(cv * cv)) AS centroid_norm FROM c GROUP BY 1),
d AS (SELECT x.vec_id, x.label,
             sqrt(sum((x.val - c.cv) * (x.val - c.cv))) AS dist
      FROM x JOIN c ON x.label = c.label AND x.ord = c.ord GROUP BY 1, 2)
SELECT CAST(d.label AS BIGINT) AS label,
       count(*) AS n_members,
       round(any_value(cn.centroid_norm), 6) AS centroid_norm,
       round(avg(d.dist), 6) AS avg_dist_to_centroid
FROM d JOIN cn ON d.label = cn.label
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half): split each 64-dim
# vector into 8 subspaces of 8 dims, snap every subvector to its
# nearest of 16 per-subspace codebook centroids, and search with
# asymmetric distance computation (ADC) — per query, one 8x16 lookup
# table of partial squared distances is precomputed, and a corpus
# vector's approximate distance is 8 TABLE LOOKUPS summed, no float
# math against the corpus. This is the memory-bound 100-TB serving
# shape: the scan touches 8 code bytes per vector instead of 256
# embedding bytes (32x less IO), and the LUT is a broadcast.
#
# The codebook is deterministic so the DuckDB oracle can re-derive it
# exactly: centroid (m, j) = the m-th subvector of training vector
# vec_id = 16 + j (disjoint from the query set vec_id < 8). A
# production pipeline would fit the codebook with per-subspace k-means
# (kmeans_embeddings is the template); the encode/ADC dataflow — the
# part with a scale shape worth pinning — is identical either way.
# Distances are rounded to 6 decimals before argmin/ranking on both
# engines (ties then break on centroid id / neighbor id), absorbing
# summation-order noise exactly as the LSH/IVF operators do.
# --------------------------------------------------------------------------
PQ_M = 8  # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_K = 16  # centroids per subspace
PQ_TRAIN_LO, PQ_TRAIN_HI = 16, 32  # vec_ids supplying the codebook


def _pq_codebook(sf_dir: str):
    """M x K x SUBDIM float64 codebook from the fixed training slice
    (row-group-pruned driver read, broadcast to workers); None when
    the training slice is empty (empty table/partition). NULL-embedding
    training rows are excluded, so the codebook may hold K' <= PQ_K
    centroids; codes are DENSE positions 0..K'-1 (the oracle's
    row_number-derived j), identical to vec_id - LO on a fully-valid
    slice."""
    ids, mat, _ = _read_vec_range(sf_dir, PQ_TRAIN_LO, PQ_TRAIN_HI)
    if len(ids) == 0:
        return None
    return mat.reshape(len(ids), PQ_M, PQ_SUBDIM).transpose(1, 0, 2).copy()


def _make_pq_encode(b_cb):
    """Worker-side closure: batch of vectors -> (vec_id, codes) rows."""

    def encode(batches):
        import numpy as np
        import pandas as pd

        cb = b_cb.value  # M x K x SUB
        m_dims, k, sub = cb.shape
        for pdf in batches:
            x = _vec_matrix(pdf).reshape(len(pdf), m_dims, sub)
            codes = np.empty((len(pdf), m_dims), dtype=np.int64)
            for m in range(m_dims):
                d2 = ((x[:, m, None, :] - cb[m][None, :, :]) ** 2).sum(-1)
                # argmin over rounded distances, first-min = smallest j
                # — the oracle's ORDER BY round(d2, 6), j
                codes[:, m] = np.argmin(np.round(d2, 6), axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    # CSV string, not array<bigint>: the driver
                    # canonicalizer can't hash list cells (registry
                    # scalar-only-schema contract)
                    "codes": [
                        ",".join(str(c) for c in row) for row in codes
                    ],
                }
            )

    return encode


def pq_encode_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ index build: every vector's 8 centroid codes (the 8-byte
    compressed representation a 100-TB deployment persists next to —
    or instead of — the raw vectors). Single scan, no shuffle; one
    GEMM-shaped numpy pass per Arrow batch against the broadcast
    codebook."""
    cb = _pq_codebook(sf_dir)
    if cb is None:  # empty training slice -> nothing to encode against
        return spark.createDataFrame([], "vec_id bigint, codes string")
    b_cb = spark.sparkContext.broadcast(cb)
    return _emb_blocks(spark, sf_dir, canonical=True).mapInPandas(
        _make_pq_encode(b_cb), "vec_id bigint, codes string"
    )


def _pq_sub_expr(vec: str) -> str:
    """DuckDB: the m-th 8-dim subvector of ``vec`` as float64."""
    return (
        "list_transform(range(1,9), i -> "
        f"CAST({vec}[CAST(m*8+i AS INT)] AS DOUBLE))"
    )


def _pq_base_ctes() -> str:
    """Shared oracle CTEs: codebook, subvectors, all (vec, m, j)
    rounded squared distances, and the argmin encoding."""
    return f"""
emb_c AS (
  SELECT vec_id, min(embedding) AS embedding FROM embeddings
  WHERE {VALID_VEC_SQL} GROUP BY vec_id
),
pqcent AS (
  SELECT m,
         CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1
              AS BIGINT) AS j,
         {_pq_sub_expr('embedding')} AS c
  FROM emb_c, unnest(range(0,{PQ_M})) AS t(m)
  WHERE vec_id >= {PQ_TRAIN_LO} AND vec_id < {PQ_TRAIN_HI}
),
sub AS (
  SELECT vec_id, m, {_pq_sub_expr('embedding')} AS v
  FROM emb_c, unnest(range(0,{PQ_M})) AS t(m)
),
d AS (
  SELECT s.vec_id, s.m, c.j,
         round(list_sum(list_transform(range(1,9),
               i -> (s.v[CAST(i AS INT)]-c.c[CAST(i AS INT)])
                    *(s.v[CAST(i AS INT)]-c.c[CAST(i AS INT)]))), 6) AS d2
  FROM sub s JOIN pqcent c USING (m)
),
enc AS (
  SELECT vec_id, m, j AS code FROM (
    SELECT vec_id, m, j,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rn
    FROM d
  ) WHERE rn = 1
)"""


PQ_ENCODE_SQL = f"""
WITH {_pq_base_ctes()}
SELECT vec_id, array_to_string(list(code ORDER BY m), ',') AS codes
FROM enc
GROUP BY vec_id
"""


def _make_pq_adc(b_cb, b_q, top_k: int, b_probes):
    """Worker-side closure: encode the batch, then score every query
    against it with LUT lookups only (the ADC hot loop touches no
    embedding floats). Per-batch bottom-k per query is exact: the sort
    key (d2, neighbor_id) matches the final window's total order.

    ``b_probes`` broadcasts the |Q| x N_PROBE probed-cell matrix
    (rows aligned with ``b_q``'s query order): batches arrive from the
    cell-partitioned layout carrying ``ivf_cell``, and a (query,
    candidate) pair is scored only when the candidate's cell is in the
    query's probe list — the IVFPQ residual of the scan-level pruning
    (the scan itself only reads the union of probed cells)."""

    def score(batches):
        import numpy as np
        import pandas as pd

        cb = b_cb.value  # M x K x SUB
        q_ids, qm, _ = b_q.value
        probes = b_probes.value  # |Q| x N_PROBE cell ids
        m_dims, k, sub = cb.shape
        qs = qm.reshape(len(q_ids), m_dims, sub)
        # LUT[q, m, j]: rounded partial squared distance — the per-
        # query 8x16 table a serving system computes once per query
        lut = np.round(
            ((qs[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(-1), 6
        )
        for pdf in batches:
            c_ids = pdf["vec_id"].to_numpy()
            c_cells = pdf["ivf_cell"].to_numpy()
            x = _vec_matrix(pdf).reshape(len(pdf), m_dims, sub)
            codes = np.empty((len(pdf), m_dims), dtype=np.int64)
            for m in range(m_dims):
                d2 = ((x[:, m, None, :] - cb[m][None, :, :]) ** 2).sum(-1)
                codes[:, m] = np.argmin(np.round(d2, 6), axis=1)
            # ADC: sum of 8 LUT lookups per (query, vector)
            approx = np.zeros((len(q_ids), len(pdf)))
            for m in range(m_dims):
                approx += lut[:, m, codes[:, m]]
            approx = np.round(approx, 6)
            mask = q_ids[:, None] == c_ids[None, :]
            approx[mask] = np.inf
            # IVFPQ routing: only candidates whose cell the query
            # probes are eligible (vectorized |Q| x B x N_PROBE match;
            # Q and N_PROBE are broadcast-small)
            allowed = (
                c_cells[None, :, None] == probes[:, None, :]
            ).any(axis=2)
            approx[~allowed] = np.inf
            out_q, out_n, out_s = [], [], []
            for i in range(len(q_ids)):
                row = approx[i]
                valid = np.nonzero(row != np.inf)[0]
                if len(valid) == 0:
                    continue
                order = valid[np.lexsort((c_ids[valid], row[valid]))][:top_k]
                out_q.extend([q_ids[i]] * len(order))
                out_n.extend(c_ids[order])
                out_s.extend(row[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "approx_d2": out_s}
            )

    return score


def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ: approximate top-10 per query by PQ/ADC distance over the
    ``ivf_cell``-partitioned layout. Queries are routed to their
    ``N_PROBE`` nearest coarse cells and the scan carries
    ``ivf_cell IN (probed cells)`` as a PARTITION filter — non-probed
    cells are never read (plan-pinned), composing the round-2 PQ/ADC
    pass with ``build_ivf_layout``'s pruning exactly as a production
    IVFPQ index does. Encode + LUT scoring stay fused into the single
    pruned scan; a deployment persists ``pq_encode_codes``'s output
    once and then reads ONLY the 8-byte codes of probed cells — the
    32x IO reduction times the nprobe/n_cells scan fraction. Each
    batch emits its local bottom-k per query, so the final window
    ranks Q x k x n_batches rows."""
    cb = _pq_codebook(sf_dir)
    queries, probes = _query_probes(sf_dir)
    if cb is None or probes is None:
        # no codebook (empty training slice) or no queries/centroids
        return spark.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, approx_d2 double,"
            " rank bigint"
        )
    b_cb = spark.sparkContext.broadcast(cb)
    b_q = spark.sparkContext.broadcast(queries)
    b_probes = spark.sparkContext.broadcast(probes)
    layout = build_ivf_layout(spark, sf_dir)
    probed_cells = sorted({int(c) for row in probes for c in row})
    cand = (
        _scan_parquet(spark, layout)
        # partition-column filter -> pruned at planning time
        .filter(F.col("ivf_cell").isin(probed_cells))
        .select("vec_id", "embedding", "ivf_cell")
    )
    scored = cand.mapInPandas(
        _make_pq_adc(b_cb, b_q, TOP_K, b_probes),
        "query_id bigint, neighbor_id bigint, approx_d2 double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_d2"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "approx_d2", "rank")
    )


PQ_ADC_SQL = f"""
WITH {_centroid_cte()},
{_qprobe_cte()},
{_pq_base_ctes()},
lut AS (
  SELECT vec_id AS query_id, m, j, d2 AS pd2
  FROM d WHERE vec_id < {N_QUERIES}
),
adc AS (
  SELECT l.query_id, n.vec_id AS neighbor_id, round(sum(l.pd2), 6) AS approx_d2
  FROM enc n
  JOIN assigned a ON a.vec_id = n.vec_id
  JOIN qprobe p ON p.ivf_cell = a.ivf_cell
  JOIN lut l ON l.query_id = p.query_id AND n.m = l.m AND n.code = l.j
  WHERE n.vec_id <> l.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, approx_d2, rank FROM (
  SELECT query_id, neighbor_id, approx_d2,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY approx_d2, neighbor_id) AS BIGINT)
           AS rank
  FROM adc
) WHERE rank <= {TOP_K}
"""


# --------------------------------------------------------------------------
# Distributed covariance build — the d × d second-moment statistic a
# PCA / whitening / OPQ-rotation step starts from.  The single scalable
# shape for this at 100 TB is partial GEMM per batch: each Arrow batch
# contributes X^T X (d × d) and the column-sum vector via one numpy
# matmul, the merge is a keyed sum over at most (d(d+1)/2 + d) ×
# n_batches tiny rows, and the final covariance assembly joins two
# 64-row broadcast sides.  Nothing about the plan depends on row count
# except the partial-aggregate merge — the textbook one-pass parallel
# covariance (sum-of-products minus outer product of means).
# --------------------------------------------------------------------------
def _covariance_merged(spark, sf_dir: str) -> DataFrame:
    """The heavy pass, un-fenced (plan-pinned by the tests): scan →
    canonical-by-id → per-batch GEMM → bounded (i, j) keyed merge
    producing the ≤ d(d+1)/2 + d row partial matrix."""
    dim = DIM

    def partial(batches):
        import numpy as np
        import pyarrow as pa

        out_schema = pa.schema(
            [
                pa.field("i", pa.int32()),
                pa.field("j", pa.int32()),
                pa.field("s", pa.float64()),
                pa.field("n", pa.int64()),
            ]
        )
        iu, ju = np.triu_indices(dim)
        for batch in batches:
            col = batch.column(batch.schema.get_field_index("embedding"))
            if len(col) == 0:
                continue
            x = np.asarray(col.flatten(), dtype=np.float64).reshape(-1, dim)
            gram = x.T @ x
            sums = x.sum(axis=0)
            n = np.int64(x.shape[0])
            i = np.concatenate([iu, np.arange(dim)])
            j = np.concatenate([ju, np.full(dim, -1)])
            s = np.concatenate([gram[iu, ju], sums])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(i.astype(np.int32)),
                    pa.array(j.astype(np.int32)),
                    pa.array(s),
                    pa.array(np.full(len(i), n)),
                ],
                schema=out_schema,
            )

    return (
        _emb_blocks(spark, sf_dir, canonical=True)
        .select("embedding")
        .mapInArrow(partial, "i int, j int, s double, n bigint")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )


# merged covariance partials, a session memo: THREE shipped consumers
# (embedding_covariance itself, embedding_isotropy_report, and
# pca_power_projection's driver-side eigensolve pull) each re-ran the
# corpus scan + GEMM; the memo holds the FENCED <= d(d+1)/2 + d row
# partial matrix — bounded
@session_memo("similarity.cov_merged", "embeddings")
def _covariance_merged_fenced(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from stac_geoparquet_spark.operators._io import fenced

    return fenced(_covariance_merged(spark, sf_dir))


@const_cols
def _cov_assembly_cols() -> tuple:
    return (
        F.col("s").alias("sv"),
        (
            # + 0.0 after the round normalizes IEEE negative zero
            # (-0.0 + 0.0 == +0.0): the s - sv*sw/n cancellation can
            # leave a ±1e-13 residue whose SIGN depends on partial-sum
            # merge order, so without this the rendered zero is flaky
            # across runs and across engines (r04 red row, (i=5,j=9)).
            F.round(
                (F.col("s") - F.col("sv") * F.col("sw") / F.col("n"))
                / F.nullif(F.col("n") - 1, F.lit(0)).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("cov"),
    )


def _cov_assembly(merged: DataFrame) -> DataFrame:
    """(i, j, s, n) merged partials -> upper-triangle (i, j, n, cov)
    with cov rounded to 6 (+0.0 negative-zero normalization).  The
    input MUST be fenced: sums and products are two consumers."""
    sv, cov = _cov_assembly_cols()
    sums = merged.where(F.col("j") == -1).select("i", sv)
    prods = merged.where(F.col("j") >= 0)
    return (
        prods.join(F.broadcast(sums), "i")
        .join(
            F.broadcast(sums.select(F.col("i").alias("j"), F.col("sv").alias("sw"))),
            "j",
        )
        .select("i", "j", F.col("n"), cov)
        .select("i", "j", "n", "cov")
    )


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle (i <= j) sample covariance of the embedding
    columns, canonical-by-id like every other index/stats build (a
    re-ingested duplicate vec_id contributes once).  Output: one row
    per dimension pair with the pooled row count and cov rounded to 6.
    n = 1 yields NULL covariance on both engines (nullif guard on the
    n-1 divisor) rather than an ANSI division crash.

    The merged partial matrix is fenced (``_io.fenced`` — the shared
    lineage-truncation contract) before the assembly joins
    (``_cov_assembly``): they consume it twice (sum rows and product
    rows), and without the fence Catalyst re-executes the whole
    scan+GEMM per consumer — the explain showed the 100-TB pass
    TRIPLED.  Same move as ``pagerank_neardup_graph``; what gets
    materialized is only the tiny d × d matrix — and it is
    a session memo (``_covariance_merged_fenced``) so the isotropy report,
    the PCA eigensolve, and the whitening report share ONE scan +
    GEMM per (app, sf, stamp)."""
    return _cov_assembly(_covariance_merged_fenced(spark, sf_dir))


COVARIANCE_SQL = f"""
WITH e AS (
  SELECT vec_id, min(embedding)::DOUBLE[] AS v
  FROM embeddings WHERE {VALID_VEC_SQL} GROUP BY vec_id
),
x AS (
  SELECT vec_id, i, v[i + 1] AS xi
  FROM e, unnest(range(0, len(v))) AS t(i)
),
s AS (SELECT i, sum(xi) AS sv, count(*) AS n FROM x GROUP BY i),
p AS (
  SELECT a.i AS i, b.i AS j, sum(a.xi * b.xi) AS sij
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2
)
SELECT CAST(p.i AS INTEGER) AS i, CAST(p.j AS INTEGER) AS j,
       CAST(sa.n AS BIGINT) AS n,
       round((p.sij - sa.sv * sb.sv / sa.n)
             / nullif(sa.n - 1, 0), 6) + 0 AS cov
FROM p JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j
"""


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (dimension reduction ahead
# of ANN / clustering): project DIM=64 -> K_PROJ=8 with a dense
# deterministic matrix whose entries are md5-derived like the LSH
# hyperplanes, scaled 1/sqrt(K_PROJ).  Entries are uniform[-1, 1]
# (variance 1/3), so this preserves relative pairwise distances up to
# a constant factor (~1/3 in expectation), which is all downstream
# ranking-style consumers need; the unbiased scale would be
# sqrt(3/K_PROJ).  Both engines embed the SAME matrix, so the
# cross-engine contract is unaffected either way.
#
# Scale shape: the projection is a pure MAP — broadcast the 64x8
# matrix, one numpy GEMM per Arrow batch, zero shuffles beyond the
# canonical-by-id build agg that every index path pays.  This is the
# pre-step that makes downstream pair-heavy stages (SemDeDup GEMMs,
# brute-force rerank) 8x cheaper per pair at 100 TB; output is 8
# scalar double columns (no string formatting — cross-engine float
# rendering is not part of any contract, rounded VALUES are).
# --------------------------------------------------------------------------
K_PROJ = 8


def _proj_matrix() -> list[list[float]]:
    """K_PROJ columns of DIM entries: entry (k, d) = md5("rp:k:d")
    first 8 hex as u32 scaled to [-1, 1], then 1/sqrt(K_PROJ).
    Reproducible in any engine; embedded as exact repr literals on the
    SQL side (shortest round-trip repr parses back to the same
    double)."""
    scale = 1.0 / (K_PROJ**0.5)
    cols = []
    for k in range(K_PROJ):
        col = []
        for d in range(DIM):
            h = int(
                hashlib.md5(f"rp:{k}:{d}".encode()).hexdigest()[:8], 16
            )
            col.append((h / 2**31 - 1.0) * scale)
        cols.append(col)
    return cols


def embedding_random_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cols = _proj_matrix()
    b_r = spark.sparkContext.broadcast(cols)
    n_proj = K_PROJ

    def project(batches):
        import numpy as np
        import pandas as pd

        R = np.asarray(b_r.value, dtype=np.float64).T  # DIM x K_PROJ
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = _vec_matrix(pdf)
            p = np.round(v @ R, 6)
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            for k in range(n_proj):
                out[f"p{k}"] = p[:, k]
            yield pd.DataFrame(out)

    schema = "vec_id bigint, " + ", ".join(
        f"p{k} double" for k in range(K_PROJ)
    )
    return _emb_blocks(spark, sf_dir, canonical=True).mapInPandas(
        project, schema
    )


def _rand_proj_oracle_sql() -> str:
    terms = []
    for k, col in enumerate(_proj_matrix()):
        lit = "[" + ", ".join(repr(x) for x in col) + "]"
        terms.append(f"round({_DOT_SQL.format(a='v', b=lit)}, 6) AS p{k}")
    cols = ",\n       ".join(terms)
    return f"""
WITH e AS (
  SELECT vec_id, min(embedding::DOUBLE[]) AS v
  FROM embeddings WHERE {VALID_VEC_SQL} GROUP BY vec_id
)
SELECT vec_id,
       {cols}
FROM e
"""


# --------------------------------------------------------------------------
# kNN label agreement (label-noise audit, Confident-Learning style):
# for every labeled vector, the fraction of its K nearest same-cell
# neighbors sharing its label; per-label rollup of count / mean
# agreement / suspect count.  A label whose members disagree with
# their neighborhoods flags annotation noise before the label is
# trusted for training or eval.
#
# Scale shape: identical to SemDeDup — the pair space is bounded per
# IVF cell (|cell|^2, the paper's own scaling argument), cells audit
# independently in one applyInPandas pass, and the per-cell output is
# per-label PARTIALS (sum/count), so the final label rollup combines
# map-side.  Neighborhoods are intra-cell by construction: the same
# approximation the search path already serves, so the audit sees the
# index's own geometry.  At serving scale the label would ride the
# cell-partitioned layout as a covering column; here the one closure
# assigns cells and carries the label in the same pass.
#
# Canonical-by-id: a re-ingested vec_id resolves to the minimum
# (vector, label) tuple BEFORE the NULL-label exclusion (NULLS LAST,
# so a labeled payload beats an unlabeled one) — the _canon house
# contract, mirrored in the oracle's row_number CTE.
# --------------------------------------------------------------------------
AGREE_K = 5  # neighbors audited per vector
AGREE_SUSPECT_LT = 0.4  # mean-agreement floor before a vector is suspect


def knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators._canon import canonical_rows

    part_schema = (
        "label int, n_part bigint, agr_sum double, susp_part bigint"
    )
    c_ids, cm, cnorm = _load_centroids(sf_dir)
    if len(c_ids) == 0:  # empty corpus -> no cells, no audit rows
        return spark.createDataFrame(
            [],
            "label int, n_vecs bigint, avg_agreement double,"
            " n_suspect bigint",
        )
    emb = (
        read_table(spark, sf_dir, "embeddings")
        .where(_valid_vec())
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
            "label",
        )
    )
    emb = canonical_rows(emb, "vec_id", ("v", "label")).where(
        F.col("label").isNotNull()
    )
    b_c = spark.sparkContext.broadcast((c_ids, cm, cnorm))
    k, susp_lt = AGREE_K, AGREE_SUSPECT_LT

    def tag(batches):
        import numpy as np
        import pandas as pd

        c_ids_, cm_, cnorm_ = b_c.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = _vec_matrix(pdf, "v")
            vnorm = np.sqrt((vecs * vecs).sum(axis=1))
            cells, _ = assign_cells(vecs, vnorm, c_ids_, cm_, cnorm_)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "v": pdf["v"],
                    "label": pdf["label"].to_numpy(),
                    "ivf_cell": cells,
                }
            )

    def audit_cell(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if n < 2:  # no neighbors -> no audited vectors
            return pd.DataFrame(
                {
                    "label": pd.Series([], dtype="int32"),
                    "n_part": pd.Series([], dtype="int64"),
                    "agr_sum": pd.Series([], dtype="float64"),
                    "susp_part": pd.Series([], dtype="int64"),
                }
            )
        vecs = _vec_matrix(pdf, "v")
        labels = pdf["label"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        norms = np.sqrt((vecs * vecs).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            unit = vecs / norms[:, None]
            sims = np.round(unit @ unit.T, 6)
        # zero-norm rows yield NaN sims; the oracle's nullif-guarded
        # round is NULL there and DESC sorts NULLS LAST — map NaN to
        # -inf so both engines rank them after every real similarity
        sims = np.where(np.isnan(sims), -np.inf, sims)
        np.fill_diagonal(sims, np.nan)  # self never a neighbor
        kk = min(k, n - 1)
        agr = np.empty(n, dtype=np.float64)
        for i in range(n):
            s = sims[i]
            cand = np.flatnonzero(~np.isnan(s))
            # top-kk by (sim DESC, vec_id ASC) — the oracle's order
            order = cand[np.lexsort((ids[cand], -s[cand]))][:kk]
            agr[i] = float((labels[order] == labels[i]).sum()) / kk
        out = pd.DataFrame(
            {
                "label": labels,
                "agr": agr,
                "susp": (agr < susp_lt).astype("int64"),
            }
        )
        g = out.groupby("label", as_index=False).agg(
            n_part=("agr", "size"),
            agr_sum=("agr", "sum"),
            susp_part=("susp", "sum"),
        )
        g["n_part"] = g["n_part"].astype("int64")
        return g[["label", "n_part", "agr_sum", "susp_part"]]

    parts = (
        emb.mapInPandas(
            tag,
            "vec_id bigint, v array<double>, label int, ivf_cell bigint",
        )
        .groupBy("ivf_cell")
        .applyInPandas(audit_cell, part_schema)
    )
    return (
        parts.groupBy("label")
        .agg(
            F.sum("n_part").alias("n_vecs"),
            F.round(F.sum("agr_sum") / F.sum("n_part"), 6).alias(
                "avg_agreement"
            ),
            F.sum("susp_part").alias("n_suspect"),
        )
    )


def _label_agree_oracle_sql() -> str:
    cos = _DOT_SQL.format(a="x.v", b="y.v")
    return f"""
WITH {_centroid_cte()},
lab AS (
  SELECT vec_id, label FROM (
    SELECT vec_id, label, row_number() OVER (
      PARTITION BY vec_id
      ORDER BY embedding::DOUBLE[] ASC NULLS LAST, label ASC NULLS LAST
    ) AS rn
    FROM embeddings WHERE {VALID_VEC_SQL}
  ) t WHERE rn = 1 AND label IS NOT NULL
),
m AS (
  SELECT a.vec_id, a.ivf_cell, e.v, e.norm, lab.label
  FROM assigned a JOIN e USING (vec_id) JOIN lab USING (vec_id)
),
pairs AS (
  SELECT x.vec_id, x.label AS xl, y.label AS yl,
         row_number() OVER (
           PARTITION BY x.vec_id
           ORDER BY round({cos} / nullif(x.norm * y.norm, 0), 6)
                    DESC NULLS LAST,
                    y.vec_id ASC
         ) AS rn
  FROM m x JOIN m y
    ON x.ivf_cell = y.ivf_cell AND x.vec_id <> y.vec_id
),
perv AS (
  SELECT vec_id, max(xl) AS label,
         sum(CASE WHEN yl = xl THEN 1 ELSE 0 END) * 1.0 / count(*)
           AS agreement
  FROM pairs WHERE rn <= {AGREE_K}
  GROUP BY vec_id
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(agreement), 6) AS avg_agreement,
       CAST(sum(CASE WHEN agreement < {AGREE_SUSPECT_LT}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect
FROM perv GROUP BY label
"""


# --------------------------------------------------------------------------
# PCA back half: top principal component via FIXED-ITERATION power
# method on the oracle-verified covariance matrix, then a distributed
# projection pass with a per-label score rollup (the class-separation
# readout on the first PC — the other half of the "PCA/whitening
# front half" note on embedding_covariance).
#
# Scale shape: all corpus-sized work is either the covariance build
# (one GEMM pass + bounded merge, shared with embedding_covariance)
# or the projection (one in-row fold against a broadcast 64-vector,
# zero extra shuffles beyond the per-label rollup).  The eigensolve
# itself runs on the 64x64 matrix — a driver-side pull of <= 2,080
# rows, the same K-row precedent as the centroid loads.
#
# Determinism contract (both engines identically): v0 = 1/8 each;
# per iteration y = C v, v' = round(y / ||y||, 6) — rounding every
# iteration pins the trajectory against summation-order noise (the
# kmeans round-per-step precedent); after PCA_ITERS iterations the
# sign is fixed so the largest-|component| (ties: lowest index) is
# positive.  Scores subtract the projected mean (a scalar), and only
# round-4 per-label aggregates are emitted.  Fixed iterations ARE the
# contract (like kmeans' two Lloyd rounds) — no convergence test.
# --------------------------------------------------------------------------
PCA_ITERS = 6


def _power_component(cov_rows) -> list[float] | None:
    """(i, j, n, cov) upper-triangle rows -> rounded, sign-fixed top
    eigenvector, or None when the matrix is unavailable (n < 2 makes
    every cov NULL) or the iteration degenerates (zero norm)."""
    import numpy as np

    C = np.zeros((DIM, DIM))
    seen = 0
    for i, j, _n, cov in cov_rows:
        if cov is None:
            continue
        C[i][j] = cov
        C[j][i] = cov
        seen += 1
    if seen < DIM * (DIM + 1) // 2:
        return None
    v = np.full(DIM, 0.125)
    for _ in range(PCA_ITERS):
        y = C @ v
        nrm = float(np.sqrt((y * y).sum()))
        if nrm == 0.0:
            return None
        v = np.round(y / nrm, 6)
    k = int(np.lexsort((np.arange(DIM), -np.abs(v)))[0])
    if v[k] < 0:
        v = -v
    return [float(x) for x in v]


def pca_power_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators._canon import canonical_rows

    out_schema = (
        "label int, n_vecs bigint, avg_score double, std_score double"
    )
    cov = embedding_covariance(spark, sf_dir).collect()
    comp = _power_component(
        [(r["i"], r["j"], r["n"], r["cov"]) for r in cov]
    )
    if comp is None:
        return spark.createDataFrame([], out_schema)
    emb = (
        read_table(spark, sf_dir, "embeddings")
        .where(_valid_vec())
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
            "label",
        )
    )
    emb = canonical_rows(emb, "vec_id", ("v", "label"))
    from stac_geoparquet_spark.operators._exprs import sql_double_array

    comp_sql = sql_double_array(comp)
    # r11 batch 4: the per-dimension mean collect (a driver-synced job
    # per call) moves IN-PLAN as a 1-row broadcast.  center is rebuilt
    # bit-for-bit: the old Python `sum(mean[i] * comp[i])` was a left
    # fold over ascending i starting at 0, so the in-plan fold runs
    # over the SAME per-dim avg rows sorted by i, multiplying by the
    # same component literals, from the same 0.0 init — identical
    # double arithmetic, just executed in the job instead of between
    # two jobs.  (Vectors are DIM-length by the _valid_vec contract,
    # so every i group exists, matching the old dense mean[] default.)
    center_df = (
        emb.select(F.posexplode("v").alias("i", "val"))
        .groupBy("i")
        .agg(F.avg("val").alias("m"))
        .agg(
            F.expr(
                "aggregate("
                " transform(array_sort(collect_list(struct(i, m))),"
                f"           t -> t.m * element_at({comp_sql}, t.i + 1)),"
                " 0.0D, (acc, x) -> acc + x)"
            ).alias("center")
        )
    )
    lit = F.array(*[F.lit(x) for x in comp])
    # sequential in-row fold (i ascending) — the same op order as the
    # oracle's list_sum, so per-row scores agree to fp noise well
    # under the round-4 aggregates
    score = F.aggregate(
        F.zip_with(F.col("v"), lit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) - F.col("center")
    return (
        emb.crossJoin(F.broadcast(center_df))
        .select("label", score.alias("score"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("score"), 4).alias("avg_score"),
            F.round(F.stddev_samp("score"), 4).alias("std_score"),
        )
    )


def _pca_oracle_sql() -> str:
    its = []
    prev = "v0"
    for t in range(1, PCA_ITERS + 1):
        # MATERIALIZED: each iteration reads its predecessor twice
        # (the join and the norm subquery) — plain CTEs inline and the
        # scan chain doubles per iteration, 2^PCA_ITERS parquet opens
        # ("too many open files" at 6 iterations)
        its.append(
            f"""it{t}y AS MATERIALIZED (
  SELECT m.i, sum(m.cov * p.vc) AS y
  FROM mat m JOIN {prev} p ON p.i = m.j GROUP BY m.i
),
it{t} AS MATERIALIZED (
  SELECT i, round(y / nullif(sqrt((SELECT sum(y * y) FROM it{t}y)), 0),
                  6) AS vc
  FROM it{t}y
)"""
        )
        prev = f"it{t}"
    chain = ",\n".join(its)
    return f"""
WITH cov0 AS MATERIALIZED ({COVARIANCE_SQL}),
mat AS MATERIALIZED (
  SELECT i, j, cov FROM cov0 WHERE cov IS NOT NULL
  UNION ALL
  SELECT j AS i, i AS j, cov FROM cov0 WHERE i <> j AND cov IS NOT NULL
),
v0 AS (SELECT unnest(range({DIM})) AS i, 0.125 AS vc),
{chain},
pick AS (
  SELECT CASE WHEN vc < 0 THEN -1.0 ELSE 1.0 END AS sgn
  FROM {prev} ORDER BY abs(vc) DESC, i LIMIT 1
),
comp AS (SELECT i, sgn * vc AS vc FROM {prev} CROSS JOIN pick),
compl AS (
  SELECT list(vc ORDER BY i) AS cl, count(vc) AS k FROM comp
),
eL AS (
  SELECT vec_id, v, label FROM (
    SELECT vec_id, embedding::DOUBLE[] AS v, label,
           row_number() OVER (
             PARTITION BY vec_id
             ORDER BY embedding::DOUBLE[] ASC NULLS LAST,
                      label ASC NULLS LAST
           ) AS rn
    FROM embeddings WHERE {VALID_VEC_SQL}
  ) t WHERE rn = 1
),
meanv AS (
  SELECT i, avg(v[i + 1]) AS m
  FROM eL, unnest(range({DIM})) AS t(i) GROUP BY i
),
cc AS (
  SELECT sum(mv.m * c.vc) AS c
  FROM meanv mv JOIN comp c ON c.i = mv.i
),
scores AS (
  SELECT eL.label,
         list_sum(list_transform(list_zip(eL.v, compl.cl),
                                 p -> p[1] * p[2])) - cc.c AS score
  FROM eL CROSS JOIN compl CROSS JOIN cc
  WHERE compl.k = {DIM}
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(score), 4) AS avg_score,
       round(stddev_samp(score), 4) AS std_score
FROM scores GROUP BY label
"""


# --------------------------------------------------------------------------
# Per-dimension z-score standardization (feature scaling ahead of
# clustering / linear probes): one global aggregate computes each
# dimension's mean and sample std, the resulting 2*K constants come
# back to the driver (bounded by the DIMENSION count, never by data —
# the kmeans-centroid collect contract) and reach every row as
# literals in a pure map.  Mean/std are rounded to 9 decimals at the
# sync point so both engines standardize from bit-identical constants
# (margin argument as in the kmeans rounds); z-scores round to 6 with
# the post-round +0.0 negative-zero normalization (a value just below
# its dimension mean rounds to -0.0 otherwise — the r04 covariance
# lesson, enforced registry-wide by the oracle comparator's sweep).
# Output: the first STD_DIMS standardized coordinates per vector.
# --------------------------------------------------------------------------
STD_DIMS = 8


@const_cols
def _std_stat_cols() -> tuple:
    """embedding_standardize's constant aggregate + mu/sd projection
    lists (~1,300 py4j nodes when rebuilt per call — _exprs.py)."""
    aggs = []
    for i in range(STD_DIMS):
        aggs += [
            F.sum(F.col("v")[i]).alias(f"s{i}"),
            F.sum(F.col("v")[i] * F.col("v")[i]).alias(f"q{i}"),
        ]
    aggs.append(F.count(F.lit(1)).alias("n"))
    n = F.col("n").cast("double")
    proj = (
        *[
            F.round(F.col(f"s{i}") / n, 9).alias(f"mu{i}")
            for i in range(STD_DIMS)
        ],
        *[
            # greatest(…, 0) clamps the residue a constant dimension
            # can leave below -5e-10 after the 9dp round — DuckDB
            # throws on sqrt(negative) while Spark emits NaN, so both
            # engines must agree on the clamp, not just the round
            F.round(
                F.sqrt(
                    F.greatest(
                        F.round(
                            (
                                F.col(f"q{i}")
                                - F.col(f"s{i}") * F.col(f"s{i}") / n
                            )
                            / F.nullif(n - 1.0, F.lit(0.0)),
                            9,
                        ),
                        F.lit(0.0),
                    )
                ),
                9,
            ).alias(f"sd{i}")
            for i in range(STD_DIMS)
        ],
    )
    return tuple(aggs), proj


def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_blocks(spark, sf_dir, canonical=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # r11 batch 4: the 2*K bounded stats used to be .collect()ed at
    # construction (2 driver-synced jobs per call) and re-embedded as
    # literals; attaching the SAME one-row aggregate in-plan via a
    # 1-row broadcast (the retrieval.py BNLJ pattern) runs the whole
    # query as ONE job and drops the construction collect.  Identical
    # arithmetic: mu/sd still round to 9dp inside the aggregate, the
    # CASE reproduces the old driver-side sd NULL/0 -> NULL-column
    # logic (greatest(NULL, 0.0) = 0.0 in Spark keeps the constant-
    # dimension path on sd = 0), z still rounds to 6 with the +0.0
    # negative-zero normalization.
    aggs, proj = _std_stat_cols()
    stats = emb.agg(*aggs).select(*proj)
    zs = [
        f"CASE WHEN sd{i} IS NULL OR sd{i} = 0.0D THEN CAST(NULL AS DOUBLE)"
        f" ELSE round((v[{i}] - mu{i}) / sd{i}, 6) + 0.0D END AS z{i}"
        for i in range(STD_DIMS)
    ]
    return emb.crossJoin(F.broadcast(stats)).selectExpr("vec_id", *zs)


def _standardize_oracle_sql() -> str:
    zs = ", ".join(
        f"CASE WHEN sds[{i + 1}] IS NULL OR sds[{i + 1}] = 0 THEN NULL "
        f"ELSE round((v[{i + 1}] - mus[{i + 1}]) / sds[{i + 1}], 6) + 0 "
        f"END AS z{i}"
        for i in range(STD_DIMS)
    )
    return f"""
WITH e AS (
  SELECT vec_id, min(embedding)::DOUBLE[] AS v
  FROM embeddings WHERE {VALID_VEC_SQL} GROUP BY vec_id
),
x AS (
  SELECT i, v[i + 1] AS xi
  FROM e, unnest(range(0, {STD_DIMS})) AS t(i)
),
s AS (
  SELECT i, round(sum(xi) / count(*), 9) AS mu,
         round(sqrt(greatest(
                 round((sum(xi * xi) - sum(xi) * sum(xi) / count(*))
                       / nullif(count(*) - 1, 0), 9), 0)), 9) AS sd
  FROM x GROUP BY i
),
sl AS (SELECT list(mu ORDER BY i) AS mus, list(sd ORDER BY i) AS sds FROM s)
SELECT vec_id, {zs}
FROM e, sl
"""


# --------------------------------------------------------------------------
# Embedding L2-norm outlier screen: flag vectors whose norm sits
# >= mu + 3*sd — the cheap first-pass filter for broken embeddings
# (truncated inputs, fp overflow, un-normalized model output) run
# before any ANN index build.  Same constant-collection shape as
# embedding_standardize: ONE global aggregate reduced to THREE
# dimension-bounded constants (mu, sd of the norm, and the flag
# threshold round(mu + 3*sd, 6) — never data-bounded), all rounded
# IN the engine so every collected value carries Spark's HALF_UP
# round — the same convention the oracle's round() uses.  (Computing
# thr driver-side with Python round() was a THIRD convention,
# half-to-even, that could flip a near-boundary flag — r06 ADVICE.)
# Then a pure-map flag over the scan.  The per-row norm is a fixed-order fold over the vector
# (F.aggregate == DuckDB list_sum order), round(,6) — the
# dedup_embedding_cosine margin.  sd NULL (n<=1) or 0 (constant
# norms) flags nothing on either engine, which also sidesteps the
# engines' different greatest(NULL, 0) conventions.
# --------------------------------------------------------------------------
@const_cols
def _norm_outlier_cols() -> tuple:
    norm = F.sqrt(
        F.aggregate(
            F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x
        )
    ).alias("norm")
    n = F.count(F.lit(1)).cast("double")
    mu_expr = F.round(F.sum("norm") / n, 9)
    sd_expr = F.round(
        F.sqrt(
            F.greatest(
                F.round(
                    (F.sum(F.col("norm") * F.col("norm"))
                     - F.sum("norm") * F.sum("norm") / n)
                    / F.nullif(n - 1.0, F.lit(0.0)),
                    9,
                ),
                F.lit(0.0),
            )
        ),
        9,
    )
    aggs = (
        mu_expr.alias("mu"),
        sd_expr.alias("sd"),
        # thr rides the SAME agg row so its round(,6) is the engine's
        # HALF_UP — identical to the oracle's round(mu + 3 * sd, 6)
        F.round(mu_expr + 3.0 * sd_expr, 6).alias("thr"),
    )
    return norm, aggs


def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_blocks(spark, sf_dir, canonical=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    norm, aggs = _norm_outlier_cols()
    norms = emb.select("vec_id", norm)
    # r11 batch 4: same in-plan move as embedding_standardize — the
    # 3-constant stat row attaches via a 1-row broadcast instead of a
    # construction-time .collect(); the CASE reproduces the driver-side
    # mu/sd NULL / sd = 0 -> flag-nothing logic exactly (thr is
    # non-NULL whenever mu and sd are).
    stat = norms.agg(*aggs)
    return norms.crossJoin(F.broadcast(stat)).select(
        "vec_id",
        F.round("norm", 6).alias("norm"),
        F.expr(
            "CASE WHEN mu IS NULL OR sd IS NULL OR sd = 0.0D THEN false"
            " ELSE round(norm, 6) >= thr END"
        ).alias("is_outlier"),
    )


NORM_OUTLIER_SQL = f"""
WITH e AS (
  SELECT vec_id, min(embedding)::DOUBLE[] AS v
  FROM embeddings WHERE {VALID_VEC_SQL} GROUP BY vec_id
),
n AS (
  SELECT vec_id, sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
  FROM e
),
s AS (
  SELECT round(sum(norm) / count(*), 9) AS mu,
         round(sqrt(greatest(coalesce(
                 round((sum(norm * norm) - sum(norm) * sum(norm) / count(*))
                       / nullif(count(*) - 1, 0), 9), 0), 0)), 9) AS sd
  FROM n
)
SELECT vec_id, round(norm, 6) AS norm,
       CASE WHEN sd IS NULL OR sd = 0 THEN false
            ELSE round(norm, 6) >= round(mu + 3 * sd, 6) END AS is_outlier
FROM n, s
"""


# --------------------------------------------------------------------------
# ANN index-quality evaluation — recall@K of the LSH-bucketed index
# against the brute-force ground truth, per query.  The eval a
# pipeline MUST run before trusting an approximate index for dedup or
# retrieval decisions (a silently-low-recall index under-deduplicates
# with no other symptom).  Composition of the two existing operators:
# the ground-truth side scores only the BOUNDED query sample
# (N_QUERIES rows broadcast against the corpus — the documented
# brute-force baseline), the index side is the bucket equi-join; the
# recall join keys on (query_id, neighbor_id) with <= K rows per
# query on each side, so the whole report is |Q| x K sized.  Counts
# int64; recall is one division, round(,6).
# --------------------------------------------------------------------------
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = knn_brute_force(spark, sf_dir).select("query_id", "neighbor_id")
    ann = ann_lsh_bucketed(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ann_neighbor_id")
    )
    n_exact = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    n_ann = ann.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_ann"))
    hits = (
        exact.join(
            ann,
            (exact.query_id == ann.query_id)
            & (exact.neighbor_id == ann.ann_neighbor_id),
        )
        .groupBy(exact.query_id)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        n_exact.join(n_ann, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_ann", F.lit(0)).cast("bigint").alias("n_ann"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("n_exact"),
                6,
            ).alias("recall"),
        )
    )


def _recall_oracle_sql() -> str:
    # the two existing oracles embedded as named subqueries (DuckDB
    # allows a WITH inside a CTE body), joined on the neighbor identity
    return f"""
WITH knn AS ({KNN_SQL}),
ann AS ({_ann_oracle_sql()}),
ne AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
       FROM knn GROUP BY query_id),
na AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_ann
       FROM ann GROUP BY query_id),
hits AS (
  SELECT knn.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM knn JOIN ann ON ann.query_id = knn.query_id
                   AND ann.neighbor_id = knn.neighbor_id
  GROUP BY knn.query_id
)
SELECT ne.query_id, ne.n_exact,
       CAST(coalesce(na.n_ann, 0) AS BIGINT) AS n_ann,
       CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
       round(CAST(coalesce(hits.n_hits, 0) AS DOUBLE) / ne.n_exact, 6)
         AS recall
FROM ne
LEFT JOIN na ON na.query_id = ne.query_id
LEFT JOIN hits ON hits.query_id = ne.query_id
"""


# --------------------------------------------------------------------------
# Hard-negative mining (round 9): for each query vector, the best
# SAME-label neighbor (the positive a contrastive batch would use)
# versus the best DIFFERENT-label neighbor (the hard negative), plus
# the margin between them — the standard mining pass that selects
# in-batch negatives for embedding/classifier training, and the audit
# that finds label regions where the nearest negative is already
# closer than the nearest positive (is_hard).
#
# Scale shape: the knn_brute_force pattern — per-block GEMM partials
# via mapInPandas (each block emits ONE row per query: the block-local
# max same/diff-label sims), then a |Q|-row max-merge; candidates
# stream once, nothing quadratic materializes.  Sims are rounded at 6
# BEFORE the max on both engines so the max-merge order can't matter.
# The query set mirrors the knn family contract (valid vectors,
# vec_id < N_QUERIES, min-embedding canonical; label = min(label) of
# the valid rows, NULL-skipping like SQL min).
# --------------------------------------------------------------------------
def _load_query_labels(sf_dir: str) -> dict:
    """{vec_id: min non-NULL label or None} over the VALID rows with
    vec_id < N_QUERIES — the same validity verdict as
    ``_read_vec_range`` (pyarrow row-group-pruned driver read)."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        table_path(sf_dir, "embeddings"),
        columns=["vec_id", "embedding", "label"],
        filters=[("vec_id", "<", N_QUERIES)],
    )
    tbl = tbl.filter(pc.is_valid(tbl["embedding"]))
    tbl = tbl.filter(pc.equal(pc.list_value_length(tbl["embedding"]), DIM))
    ids = tbl["vec_id"].to_numpy()
    if len(ids) == 0:
        return {}
    mat = (
        tbl["embedding"]
        .combine_chunks()
        .values.to_numpy(zero_copy_only=False)
        .astype(np.float64)
        .reshape(len(ids), -1)
    )
    finite = np.isfinite(mat.sum(axis=1))
    labels = tbl["label"].to_pylist()
    out: dict = {}
    for i in range(len(ids)):
        if not finite[i]:
            continue
        vid = int(ids[i])
        lab = labels[i]
        prev = out.get(vid, None)
        if lab is not None and (prev is None or lab < prev):
            out[vid] = lab
        else:
            out.setdefault(vid, prev)
    return out


_HARDNEG_PARTIAL_SCHEMA = (
    "query_id bigint, label int, pos_p double, neg_p double"
)


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    q_ids, qm, qnorm = _load_queries(sf_dir)
    q_labels = _load_query_labels(sf_dir)
    b_q = spark.sparkContext.broadcast((q_ids, qm, qnorm, q_labels))

    def score(batches):
        import numpy as np
        import pandas as pd

        q_ids, qm, qnorm, q_labels = b_q.value
        for pdf in batches:
            c_ids = pdf["vec_id"].to_numpy()
            c = _vec_matrix(pdf)
            cnorm = np.sqrt((c * c).sum(axis=1))
            sims = np.round(
                qm @ c.T / (qnorm[:, None] * cnorm[None, :]), 6
            )
            lab_ok = pdf["label"].notna().to_numpy()
            labs = pdf["label"].to_numpy()
            out_q, out_l, out_p, out_n = [], [], [], []
            for i in range(len(q_ids)):
                qid = int(q_ids[i])
                nonself = c_ids != qid
                if not nonself.any():
                    continue
                qlab = q_labels.get(qid)
                pos = neg = None
                if qlab is not None:
                    same = nonself & lab_ok & (labs == qlab)
                    diff = nonself & lab_ok & (labs != qlab)
                    if same.any():
                        pos = float(sims[i][same].max())
                    if diff.any():
                        neg = float(sims[i][diff].max())
                out_q.append(qid)
                out_l.append(qlab)
                out_p.append(pos)
                out_n.append(neg)
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int64"),
                    "label": pd.Series(out_l, dtype="Int32"),
                    "pos_p": pd.Series(out_p, dtype="float64"),
                    "neg_p": pd.Series(out_n, dtype="float64"),
                }
            )

    # the _emb_blocks scan with the label column kept (the multiset
    # candidate contract stays raw, like knn — no join, no shuffle)
    from stac_geoparquet_spark.operators._io import read_spread

    blocks = (
        read_spread(
            spark, table_path(sf_dir, "embeddings"), target=8
        )
        .where(_valid_vec())
        .select("vec_id", "embedding", "label")
    )
    partials = blocks.mapInPandas(score, _HARDNEG_PARTIAL_SCHEMA)
    agg = partials.groupBy("query_id", "label").agg(
        F.max("pos_p").alias("pos_sim"),
        F.max("neg_p").alias("hard_neg_sim"),
    )
    return agg.selectExpr(
        "query_id",
        "label",
        "pos_sim",
        "hard_neg_sim",
        """CASE WHEN pos_sim IS NOT NULL AND hard_neg_sim IS NOT NULL
                THEN round(pos_sim - hard_neg_sim, 6) + 0.0
           END AS margin""",
        """CASE WHEN pos_sim IS NOT NULL AND hard_neg_sim IS NOT NULL
                THEN hard_neg_sim >= pos_sim
           END AS is_hard""",
    )


HARDNEG_SQL = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         sqrt({_DOT_SQL.format(a='embedding::DOUBLE[]',
                               b='embedding::DOUBLE[]')}) AS norm
  FROM embeddings WHERE {VALID_VEC_SQL}
),
eq0 AS (
  SELECT vec_id, min(embedding::DOUBLE[]) AS v, min(label) AS label
  FROM embeddings WHERE {VALID_VEC_SQL} AND vec_id < {N_QUERIES}
  GROUP BY vec_id
),
eq AS (
  SELECT vec_id, label, v, sqrt({_DOT_SQL.format(a='v', b='v')}) AS norm
  FROM eq0
),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS label,
         CASE WHEN q.label IS NOT NULL AND c.label IS NOT NULL
                   AND c.label = q.label
              THEN round({_DOT_SQL.format(a='q.v', b='c.v')}
                         / (q.norm * c.norm), 6) END AS pos_c,
         CASE WHEN q.label IS NOT NULL AND c.label IS NOT NULL
                   AND c.label <> q.label
              THEN round({_DOT_SQL.format(a='q.v', b='c.v')}
                         / (q.norm * c.norm), 6) END AS neg_c
  FROM eq q JOIN e c ON q.vec_id <> c.vec_id
)
SELECT query_id, label,
       max(pos_c) AS pos_sim,
       max(neg_c) AS hard_neg_sim,
       CASE WHEN max(pos_c) IS NOT NULL AND max(neg_c) IS NOT NULL
            THEN round(max(pos_c) - max(neg_c), 6) + 0.0
       END AS margin,
       CASE WHEN max(pos_c) IS NOT NULL AND max(neg_c) IS NOT NULL
            THEN max(neg_c) >= max(pos_c)
       END AS is_hard
FROM scored
GROUP BY query_id, label
"""


# --------------------------------------------------------------------------
# Matryoshka truncation recall (round 9): recall@K of brute-force
# search over the FIRST half of the embedding dimensions against the
# full-dimension ground truth — the dimension-ablation eval behind
# Matryoshka-representation serving decisions (store/search half the
# vector at half the cost if the recall holds).  Composes two
# brute-force passes: the session-cached full-dim ground truth
# (knn_brute_force) and one truncated-dim pass of the same block-GEMM
# scorer; the report join is |Q| x K rows on both sides.
# --------------------------------------------------------------------------
MAT_DIM = DIM // 2

_TRUNC_V = f"(embedding::DOUBLE[])[1:{MAT_DIM}]"

KNN_TRUNC_SQL = f"""
WITH e AS (
  SELECT vec_id, {_TRUNC_V} AS v,
         sqrt({_DOT_SQL.format(a=_TRUNC_V, b=_TRUNC_V)}) AS norm
  FROM embeddings WHERE {VALID_VEC_SQL}
),
eq AS (
  SELECT vec_id, vq AS v, sqrt({_DOT_SQL.format(a='vq', b='vq')}) AS norm
  FROM (SELECT vec_id, (min(embedding::DOUBLE[]))[1:{MAT_DIM}] AS vq
        FROM embeddings
        WHERE {VALID_VEC_SQL} AND vec_id < {N_QUERIES}
        GROUP BY vec_id) qt
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_DOT_SQL.format(a='q.v', b='c.v')} / (q.norm * c.norm), 6)
           AS cos_sim
  FROM eq q JOIN e c ON q.vec_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
WHERE rank <= {TOP_K}
"""


def _matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    q_ids, qm, _ = _load_queries(sf_dir)
    qm_t = qm[:, :MAT_DIM]
    qnorm_t = np.sqrt((qm_t * qm_t).sum(axis=1))
    b_q = spark.sparkContext.broadcast((q_ids, qm_t, qnorm_t))
    score = _make_score(b_q, TOP_K, MAT_DIM)

    # r11 batch 4: un-fenced.  The report's two consumers (n_trunc +
    # hits) duplicate this subtree in the STATIC plan, but both copies
    # keep identical columns below _rank_topk's query_id exchange (the
    # window needs the full row for ordering, so pruning cannot
    # diverge) and AQE stage reuse runs the GEMM once at runtime
    # (one ReusedExchange in the final adaptive plan, pinned by
    # tests/test_plans.py::test_matryoshka_truncated_topk_built_once);
    # the fence's construction-time GEMM job disappears.
    return _rank_topk(
        _emb_blocks(spark, sf_dir).mapInPandas(score, SCORE_SCHEMA)
    )


def matryoshka_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = knn_brute_force(spark, sf_dir).select("query_id", "neighbor_id")
    tr = _matryoshka_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("tr_neighbor_id")
    )
    n_exact = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    n_trunc = tr.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_trunc"))
    hits = (
        exact.join(
            tr,
            (exact.query_id == tr.query_id)
            & (exact.neighbor_id == tr.tr_neighbor_id),
        )
        .groupBy(exact.query_id)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        n_exact.join(n_trunc, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_trunc", F.lit(0)).cast("bigint").alias("n_trunc"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("n_exact"),
                6,
            ).alias("recall"),
        )
    )


MATRYOSHKA_RECALL_SQL = f"""
WITH knn AS ({KNN_SQL}),
tr AS ({KNN_TRUNC_SQL}),
ne AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
       FROM knn GROUP BY query_id),
nt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_trunc
       FROM tr GROUP BY query_id),
hits AS (
  SELECT knn.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM knn JOIN tr ON tr.query_id = knn.query_id
                  AND tr.neighbor_id = knn.neighbor_id
  GROUP BY knn.query_id
)
SELECT ne.query_id, ne.n_exact,
       CAST(coalesce(nt.n_trunc, 0) AS BIGINT) AS n_trunc,
       CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
       round(CAST(coalesce(hits.n_hits, 0) AS DOUBLE) / ne.n_exact, 6)
         AS recall
FROM ne
LEFT JOIN nt ON nt.query_id = ne.query_id
LEFT JOIN hits ON hits.query_id = ne.query_id
"""


QUERIES |= {
    "ann_recall_report": ann_recall_report,
    "hard_negative_mining": hard_negative_mining,
    "matryoshka_recall_report": matryoshka_recall_report,
    "embedding_norm_outliers": embedding_norm_outliers,
    "embedding_standardize": embedding_standardize,
    "embedding_class_profile": embedding_class_profile,
    "pq_encode_codes": pq_encode_codes,
    "ann_pq_adc": ann_pq_adc,
    "embedding_covariance": embedding_covariance,
    "knn_label_agreement": knn_label_agreement,
    "embedding_random_projection": embedding_random_projection,
    "pca_power_projection": pca_power_projection,
}

ORACLE |= {
    "ann_recall_report": _recall_oracle_sql(),
    "hard_negative_mining": HARDNEG_SQL,
    "matryoshka_recall_report": MATRYOSHKA_RECALL_SQL,
    "embedding_norm_outliers": NORM_OUTLIER_SQL,
    "embedding_standardize": _standardize_oracle_sql(),
    "embedding_class_profile": CLASS_PROFILE_SQL,
    "pq_encode_codes": PQ_ENCODE_SQL,
    "ann_pq_adc": PQ_ADC_SQL,
    "embedding_covariance": COVARIANCE_SQL,
    "knn_label_agreement": _label_agree_oracle_sql(),
    "embedding_random_projection": _rand_proj_oracle_sql(),
    "pca_power_projection": _pca_oracle_sql(),
}


# --------------------------------------------------------------------------
# IVF recall report (round 8): recall@K of the partition-pruned IVF
# n-probe index against the brute-force ground truth — the same
# compose-two-shipped-operators eval ann_recall_report runs for the
# LSH index, so the two approximate indexes are comparable on one
# dashboard (probe more cells vs widen bands is THE tuning decision
# at 100 TB).  Both inputs' query_id ranking windows are the
# allowlisted bounded-candidate ones; the report itself is three
# keyed aggregates over the K-row-per-query outputs.
# --------------------------------------------------------------------------
def ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = knn_brute_force(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = ann_ivf_probe(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ivf_neighbor_id")
    )
    n_exact = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    n_ivf = ivf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_ivf"))
    hits = (
        exact.join(
            ivf,
            (exact.query_id == ivf.query_id)
            & (exact.neighbor_id == ivf.ivf_neighbor_id),
        )
        .groupBy(exact.query_id)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        n_exact.join(n_ivf, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_ivf", F.lit(0)).cast("bigint").alias("n_ivf"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("n_exact"),
                6,
            ).alias("recall"),
        )
    )


def _ivf_recall_oracle_sql() -> str:
    return f"""
WITH knn AS ({KNN_SQL}),
ivf AS ({IVF_PROBE_SQL}),
ne AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
       FROM knn GROUP BY query_id),
ni AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_ivf
       FROM ivf GROUP BY query_id),
hits AS (
  SELECT knn.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM knn JOIN ivf ON ivf.query_id = knn.query_id
                   AND ivf.neighbor_id = knn.neighbor_id
  GROUP BY knn.query_id
)
SELECT ne.query_id, ne.n_exact,
       CAST(coalesce(ni.n_ivf, 0) AS BIGINT) AS n_ivf,
       CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
       round(CAST(coalesce(hits.n_hits, 0) AS DOUBLE) / ne.n_exact, 6)
         AS recall
FROM ne
LEFT JOIN ni ON ni.query_id = ne.query_id
LEFT JOIN hits ON hits.query_id = ne.query_id
"""


QUERIES["ivf_recall_report"] = ivf_recall_report
ORACLE["ivf_recall_report"] = _ivf_recall_oracle_sql()


# --------------------------------------------------------------------------
# k-distance isolation screen (round 8): per query vector, the cosine
# of its K-th nearest neighbor (the weakest of its brute-force top-K)
# z-scored against the query population — a low k-distance cosine
# means the vector sits in empty space (mis-embedded, corrupt, or
# out-of-domain), the density-based companion to the norm screen
# (embedding_norm_outliers).  Rides knn_brute_force's BOUNDED query
# sample, so the per-query rollup and the 3-constant stats row are
# |Q|-sized; the population mean/sd follow the norm screen's exact
# convention (round(,9) in-engine, threshold rounded on the SAME agg
# row, sd NULL/0 flags nothing on either engine).  kth_cos is the MIN
# of already-round(,6) similarities, so the stats' float sums sit on
# quantized inputs with the established margin.
# --------------------------------------------------------------------------
def knn_kdist_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    kd = (
        knn_brute_force(spark, sf_dir)
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.min("cos_sim").alias("kth_cos"),
        )
    )
    n = F.count(F.lit(1)).cast("double")
    mu_expr = F.round(F.sum("kth_cos") / n, 9)
    sd_expr = F.round(
        F.sqrt(
            F.greatest(
                F.round(
                    (
                        F.sum(F.col("kth_cos") * F.col("kth_cos"))
                        - F.sum("kth_cos") * F.sum("kth_cos") / n
                    )
                    / F.nullif(n - 1.0, F.lit(0.0)),
                    9,
                ),
                F.lit(0.0),
            )
        ),
        9,
    )
    stat = kd.agg(
        mu_expr.alias("mu"),
        sd_expr.alias("sd"),
        # thr rides the SAME agg row (the norm screen's r06 lesson):
        # engine HALF_UP, never Python round()
        F.round(mu_expr - 3.0 * sd_expr, 6).alias("thr"),
    ).collect()[0]
    mu, sd, thr = stat["mu"], stat["sd"], stat["thr"]
    if mu is None or sd is None or sd == 0.0:
        flag = F.lit(False)
    else:
        flag = F.col("kth_cos") < F.lit(thr)
    return kd.select(
        "query_id",
        "n_neighbors",
        "kth_cos",
        flag.alias("is_isolated"),
    )


KDIST_OUTLIER_SQL = f"""
WITH knn AS ({KNN_SQL}),
kd AS (
  SELECT query_id,
         CAST(count(*) AS BIGINT) AS n_neighbors,
         min(cos_sim) AS kth_cos
  FROM knn GROUP BY query_id
),
s AS (
  SELECT round(sum(kth_cos) / count(*), 9) AS mu,
         round(sqrt(greatest(coalesce(
                 round((sum(kth_cos * kth_cos)
                        - sum(kth_cos) * sum(kth_cos) / count(*))
                       / nullif(count(*) - 1, 0), 9), 0), 0)), 9) AS sd
  FROM kd
)
SELECT query_id, n_neighbors, kth_cos,
       CASE WHEN sd IS NULL OR sd = 0 THEN false
            ELSE kth_cos < round(mu - 3 * sd, 6) END AS is_isolated
FROM kd, s
"""


QUERIES["knn_kdist_outliers"] = knn_kdist_outliers
ORACLE["knn_kdist_outliers"] = KDIST_OUTLIER_SQL


# --------------------------------------------------------------------------
# Embedding isotropy report (round 9): the one-row geometry screen a
# pipeline reads BEFORE trusting cosine-based ANN/semdedup on a new
# embedding column — anisotropic embeddings (mass concentrated in a
# few directions) make cosine similarities saturate and LSH/IVF cells
# degenerate.  Reported: dimension count, pooled row count, variance
# trace, mean |off-diagonal| covariance (correlation mass), and the
# participation ratio trace(C)^2 / ||C||_F^2 — the eigen-free
# effective-dimension estimate (= d for perfectly isotropic C, -> 1
# when one direction dominates), so no iterative eigensolver is
# needed (pca_power_projection covers the top direction itself).
#
# Scale shape: rides embedding_covariance's FENCED d x d merged
# matrix — the only corpus-sized work is that one scan+GEMM, already
# paid and session-shared; this report adds a d^2-row aggregate.
# Determinism: cov values are round(,6) by contract, so they convert
# EXACTLY to integer micro-units (x 1e6); trace, |off-diag| mass and
# the Frobenius sum are exact int64 sums of those micro-units (unit
# vectors keep cov <= 1, so micro^2 <= 1e12 and the d^2-term Frobenius
# sum stays far under 2^63), and every reported double is one
# fixed-shape expression over exact ints.  n <= 1 rows carry NULL cov
# on both engines and are excluded identically.
# --------------------------------------------------------------------------
def embedding_isotropy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    cov = embedding_covariance(spark, sf_dir).where(F.col("cov").isNotNull())
    m = cov.select(
        "i",
        "j",
        "n",
        F.round(F.col("cov") * 1_000_000).cast("bigint").alias("micro"),
    )
    agg = m.agg(
        F.sum(F.when(F.col("i") == F.col("j"), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
        F.min("n").alias("n_vecs"),
        F.sum(
            F.when(F.col("i") == F.col("j"), F.col("micro")).otherwise(0)
        ).alias("tm"),
        F.sum(
            F.when(F.col("i") < F.col("j"), F.abs(F.col("micro"))).otherwise(
                0
            )
        ).alias("om"),
        F.sum(F.when(F.col("i") < F.col("j"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_off"),
        F.sum(
            F.when(
                F.col("i") == F.col("j"), F.col("micro") * F.col("micro")
            ).otherwise(2 * F.col("micro") * F.col("micro"))
        ).alias("frob"),
    )
    return agg.selectExpr(
        "d",
        "n_vecs",
        "round(CAST(tm AS DOUBLE) / 1e6, 6) + 0.0 AS trace",
        """CASE WHEN n_off = 0 OR n_off IS NULL THEN NULL
                ELSE round(CAST(om AS DOUBLE) / CAST(n_off AS DOUBLE)
                           / 1e6, 6) + 0.0
           END AS mean_abs_offdiag""",
        """CASE WHEN frob IS NULL OR frob <= 0 THEN NULL
                ELSE round(CAST(tm AS DOUBLE) * CAST(tm AS DOUBLE)
                           / CAST(frob AS DOUBLE), 6) + 0.0
           END AS effective_dim""",
    )


ISOTROPY_SQL = f"""
WITH cov_out AS (
  SELECT * FROM ({COVARIANCE_SQL})
),
m AS (
  SELECT i, j, n, CAST(round(cov * 1000000) AS BIGINT) AS micro
  FROM cov_out WHERE cov IS NOT NULL
),
agg AS (
  SELECT CAST(sum(CASE WHEN i = j THEN 1 ELSE 0 END) AS BIGINT) AS d,
         min(n) AS n_vecs,
         CAST(sum(CASE WHEN i = j THEN micro ELSE 0 END) AS BIGINT) AS tm,
         CAST(sum(CASE WHEN i < j THEN abs(micro) ELSE 0 END)
              AS BIGINT) AS om,
         CAST(sum(CASE WHEN i < j THEN 1 ELSE 0 END) AS BIGINT) AS n_off,
         CAST(sum(CASE WHEN i = j THEN micro * micro
                       ELSE 2 * micro * micro END) AS BIGINT) AS frob
  FROM m
)
SELECT d, n_vecs,
       round(CAST(tm AS DOUBLE) / 1e6, 6) + 0.0 AS trace,
       CASE WHEN n_off = 0 OR n_off IS NULL THEN NULL
            ELSE round(CAST(om AS DOUBLE) / CAST(n_off AS DOUBLE)
                       / 1e6, 6) + 0.0
       END AS mean_abs_offdiag,
       CASE WHEN frob IS NULL OR frob <= 0 THEN NULL
            ELSE round(CAST(tm AS DOUBLE) * CAST(tm AS DOUBLE)
                       / CAST(frob AS DOUBLE), 6) + 0.0
       END AS effective_dim
FROM agg
"""


QUERIES["embedding_isotropy_report"] = embedding_isotropy_report
ORACLE["embedding_isotropy_report"] = ISOTROPY_SQL


# --------------------------------------------------------------------------
# ZCA whitening apply + isotropy re-check (round 10): the standard fix
# the isotropy report motivates — anisotropic embeddings saturate
# cosine similarity, and whitening (y = W x with W ~ (C + εI)^{-1/2})
# is the classical post-processing that restores isotropy before
# ANN / SemDeDup trust cosine again.  This op computes W, APPLIES it
# per Arrow batch (the broadcast-small / block-big GEMM layout every
# vector op here uses), and reports the isotropy metrics BEFORE and
# AFTER (2 rows, phase = 'raw' | 'whitened') so the improvement is
# the deliverable.
#
# Determinism contract (both engines identically):
# * W derives from the ROUNDED covariance (round-6 cov -> exact
#   micro-ints), ridge ε = WHITEN_EPS on the diagonal, trace
#   normalization A = C_reg / tr(C_reg), then NS_ITERS Newton–Schulz
#   iterations  T = 3I - Z·Y; Y' = 0.5·(Y·T); Z' = 0.5·(T·Z)  run in
#   EXACT int64 FIXED-POINT (NS_SCALE = 1e7 units): integer sums are
#   order-independent, so the matmuls are bit-identical across
#   engines — per-step float rounding (the first attempt, the
#   pca_power_projection convention) is NOT enough here because a
#   single round-boundary straddle cascades through subsequent
#   matmuls (measured: 1525 divergent W entries at round-7 steps).
#   Each step downscales via floor(int / 1e7 + 0.5) on DOUBLES —
#   deterministic given identical int inputs (int->double conversion
#   and IEEE division are correctly rounded on both engines), and it
#   sidesteps DuckDB's truncating integer '//' vs Python's flooring
#   one.  The fixed iteration count IS the contract (no convergence
#   test); W = round(Z_int / 1e7 / sqrt(t), 6).  Small ridge-floored
#   eigenvalues are only PARTIALLY inverted at NS_ITERS = 12 —
#   documented, deterministic, and irrelevant to the before/after
#   comparison the op exists for.  Fixed-point bounds: |entries| stay
#   under (ε/t)^{-1/2} ≈ 33 (the ridge floor), so 64-term products
#   peak near 6.5e17 — inside int64 with a 14x margin.
# * The whitened covariance is computed EMPIRICALLY on the Spark side
#   (per-batch y = x·Wᵀ then the same partial-GEMM merge as
#   embedding_covariance); the oracle uses the algebraic identity
#   cov(Wx) = W·cov(x)·Wᵀ over the UNROUNDED covariance — equal in
#   exact arithmetic, and both sides round to 6 before comparing
#   (noise ~1e-13 against the 5e-7 quantum).
#
# Scale shape: W's input is the session-cached FENCED d×d covariance
# (zero extra corpus passes); the driver-side Newton–Schulz is d³ on
# 64×64 — microseconds; the apply+re-GEMM is ONE corpus scan with a
# broadcast 64×64 matrix, merged into d² partials and fenced before
# the two-consumer assembly.  Nothing quadratic in rows, one scan
# total, and the final plan reads only materialized fences.
# --------------------------------------------------------------------------
WHITEN_EPS = 0.001
NS_ITERS = 12
NS_SCALE = 10_000_000  # fixed-point unit: 1e-7
WHITEN_SCHEMA = (
    "phase string, d bigint, n_vecs bigint, trace double, "
    "mean_abs_offdiag double, effective_dim double"
)


def _whitening_matrix(cov_rows) -> list[list[float]] | None:
    """Rounded (i, j, n, cov) upper-triangle rows -> round-6 ZCA
    whitening matrix W ~ (C + εI)^{-1/2} via trace-normalized
    Newton–Schulz, or None when the matrix is incomplete (empty /
    n < 2 inputs make cov NULL)."""
    import math

    import numpy as np

    micro = np.zeros((DIM, DIM), dtype=np.int64)
    seen = 0
    for i, j, _n, cov in cov_rows:
        if cov is None:
            continue
        m = int(round(cov * 1e6))
        micro[i][j] = m
        micro[j][i] = m
        seen += 1
    if seen < DIM * (DIM + 1) // 2:
        return None
    tm = int(micro.trace())
    t = tm / 1e6 + DIM * WHITEN_EPS
    eye = np.eye(DIM)
    sc = float(NS_SCALE)
    # A in 1e-7 units, one float rounding from ints both engines share
    y = np.floor(
        (micro / 1e6 + WHITEN_EPS * eye) / t * sc + 0.5
    ).astype(np.int64)
    z = (NS_SCALE * np.eye(DIM, dtype=np.int64)).astype(np.int64)
    diag3 = 3 * NS_SCALE * NS_SCALE * np.eye(DIM, dtype=np.int64)
    for _ in range(NS_ITERS):
        tmat = np.floor((diag3 - z @ y) / sc + 0.5).astype(np.int64)
        y = np.floor((y @ tmat) / (2.0 * sc) + 0.5).astype(np.int64)
        z = np.floor((tmat @ z) / (2.0 * sc) + 0.5).astype(np.int64)
    w = np.round(z / sc / math.sqrt(t), 6)
    return [[float(v) for v in row] for row in w]


def _whitened_cov_merged(
    spark: SparkSession, sf_dir: str, w: list[list[float]]
) -> DataFrame:
    """One corpus scan: per-batch y = x·Wᵀ (the apply) fused with the
    covariance partial-GEMM — the merged d² partials come back, never
    the whitened rows themselves."""
    dim = DIM

    def partial(batches):
        import numpy as np
        import pyarrow as pa

        wm = np.asarray(w, dtype=np.float64)
        out_schema = pa.schema(
            [
                pa.field("i", pa.int32()),
                pa.field("j", pa.int32()),
                pa.field("s", pa.float64()),
                pa.field("n", pa.int64()),
            ]
        )
        iu, ju = np.triu_indices(dim)
        for batch in batches:
            col = batch.column(batch.schema.get_field_index("embedding"))
            if len(col) == 0:
                continue
            x = np.asarray(col.flatten(), dtype=np.float64).reshape(-1, dim)
            y = x @ wm.T
            gram = y.T @ y
            sums = y.sum(axis=0)
            n = np.int64(x.shape[0])
            i = np.concatenate([iu, np.arange(dim)])
            j = np.concatenate([ju, np.full(dim, -1)])
            s = np.concatenate([gram[iu, ju], sums])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(i.astype(np.int32)),
                    pa.array(j.astype(np.int32)),
                    pa.array(s),
                    pa.array(np.full(len(i), n)),
                ],
                schema=out_schema,
            )

    return (
        _emb_blocks(spark, sf_dir, canonical=True)
        .select("embedding")
        .mapInArrow(partial, "i int, j int, s double, n bigint")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )


@const_cols
def _isotropy_metric_cols() -> tuple:
    micro = F.round(F.col("cov") * 1_000_000).cast("bigint").alias("micro")
    aggs = (
        F.sum(F.when(F.col("i") == F.col("j"), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
        F.min("n").alias("n_vecs"),
        F.sum(
            F.when(F.col("i") == F.col("j"), F.col("micro")).otherwise(0)
        ).alias("tm"),
        F.sum(
            F.when(F.col("i") < F.col("j"), F.abs(F.col("micro"))).otherwise(
                0
            )
        ).alias("om"),
        F.sum(F.when(F.col("i") < F.col("j"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_off"),
        F.sum(
            F.when(
                F.col("i") == F.col("j"), F.col("micro") * F.col("micro")
            ).otherwise(2 * F.col("micro") * F.col("micro"))
        ).alias("frob"),
    )
    return micro, aggs


def _isotropy_metrics(cov_df: DataFrame, phase: str) -> DataFrame:
    """The embedding_isotropy_report metric block over any rounded
    upper-triangle covariance frame, tagged with a phase label."""
    micro, aggs = _isotropy_metric_cols()
    m = cov_df.where(F.col("cov").isNotNull()).select("i", "j", "n", micro)
    agg = m.agg(*aggs)
    return agg.selectExpr(
        f"'{phase}' AS phase",
        "d",
        "n_vecs",
        "round(CAST(tm AS DOUBLE) / 1e6, 6) + 0.0 AS trace",
        """CASE WHEN n_off = 0 OR n_off IS NULL THEN NULL
                ELSE round(CAST(om AS DOUBLE) / CAST(n_off AS DOUBLE)
                           / 1e6, 6) + 0.0
           END AS mean_abs_offdiag""",
        """CASE WHEN frob IS NULL OR frob <= 0 THEN NULL
                ELSE round(CAST(tm AS DOUBLE) * CAST(tm AS DOUBLE)
                           / CAST(frob AS DOUBLE), 6) + 0.0
           END AS effective_dim""",
    )


def embedding_whitening_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from stac_geoparquet_spark.operators._io import fenced

    cov_df = embedding_covariance(spark, sf_dir)
    w = _whitening_matrix(
        [(r["i"], r["j"], r["n"], r["cov"]) for r in cov_df.collect()]
    )
    if w is None:
        return spark.createDataFrame([], WHITEN_SCHEMA)
    covw = _cov_assembly(fenced(_whitened_cov_merged(spark, sf_dir, w)))
    return _isotropy_metrics(cov_df, "raw").unionByName(
        _isotropy_metrics(covw, "whitened")
    )


def _whitening_oracle_sql() -> str:
    exp_rows = DIM * (DIM + 1) // 2
    t_sql = f"(tv.tm / 1000000.0 + {DIM} * {WHITEN_EPS})"
    sc = NS_SCALE
    its = []
    prev_y, prev_z = "y0", "z0"
    for k in range(1, NS_ITERS + 1):
        its.append(
            f"""zy{k} AS MATERIALIZED (
  SELECT z.i, y.j, CAST(sum(z.v * y.v) AS BIGINT) AS v
  FROM {prev_z} z JOIN {prev_y} y ON y.i = z.j GROUP BY z.i, y.j
),
tm{k} AS MATERIALIZED (
  SELECT g.i, g.j,
         CAST(floor(((CASE WHEN g.i = g.j THEN {3 * sc * sc} ELSE 0 END)
                     - coalesce(zy.v, 0)) / {float(sc)!r} + 0.5)
              AS BIGINT) AS v
  FROM grid g LEFT JOIN zy{k} zy ON zy.i = g.i AND zy.j = g.j
),
y{k} AS MATERIALIZED (
  SELECT a.i, b.j,
         CAST(floor(CAST(sum(a.v * b.v) AS BIGINT)
                    / {2.0 * sc!r} + 0.5) AS BIGINT) AS v
  FROM {prev_y} a JOIN tm{k} b ON b.i = a.j GROUP BY a.i, b.j
),
z{k} AS MATERIALIZED (
  SELECT a.i, b.j,
         CAST(floor(CAST(sum(a.v * b.v) AS BIGINT)
                    / {2.0 * sc!r} + 0.5) AS BIGINT) AS v
  FROM tm{k} a JOIN {prev_z} b ON b.i = a.j GROUP BY a.i, b.j
)"""
        )
        prev_y, prev_z = f"y{k}", f"z{k}"
    chain = ",\n".join(its)
    metrics = """
  CAST(sum(CASE WHEN i = j THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(sum(CASE WHEN i = j THEN micro ELSE 0 END) AS BIGINT) AS tm,
         CAST(sum(CASE WHEN i < j THEN abs(micro) ELSE 0 END)
              AS BIGINT) AS om,
         CAST(sum(CASE WHEN i < j THEN 1 ELSE 0 END) AS BIGINT) AS n_off,
         CAST(sum(CASE WHEN i = j THEN micro * micro
                       ELSE 2 * micro * micro END) AS BIGINT) AS frob
"""
    render = """
       round(CAST(tm AS DOUBLE) / 1e6, 6) + 0.0 AS trace,
       CASE WHEN n_off = 0 OR n_off IS NULL THEN NULL
            ELSE round(CAST(om AS DOUBLE) / CAST(n_off AS DOUBLE)
                       / 1e6, 6) + 0.0
       END AS mean_abs_offdiag,
       CASE WHEN frob IS NULL OR frob <= 0 THEN NULL
            ELSE round(CAST(tm AS DOUBLE) * CAST(tm AS DOUBLE)
                       / CAST(frob AS DOUBLE), 6) + 0.0
       END AS effective_dim
"""
    return f"""
WITH e AS (
  SELECT vec_id, min(embedding)::DOUBLE[] AS v
  FROM embeddings WHERE {VALID_VEC_SQL} GROUP BY vec_id
),
x AS (
  SELECT vec_id, i, v[i + 1] AS xi
  FROM e, unnest(range(0, len(v))) AS t(i)
),
s AS (SELECT i, sum(xi) AS sv, count(*) AS n FROM x GROUP BY i),
p AS (
  SELECT a.i AS i, b.i AS j, sum(a.xi * b.xi) AS sij
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2
),
covu AS MATERIALIZED (
  SELECT CAST(p.i AS INTEGER) AS i, CAST(p.j AS INTEGER) AS j,
         CAST(sa.n AS BIGINT) AS n,
         (p.sij - sa.sv * sb.sv / sa.n) / nullif(sa.n - 1, 0) AS cov
  FROM p JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j
),
cov0 AS MATERIALIZED (
  SELECT i, j, n, round(cov, 6) + 0 AS cov FROM covu
),
gate AS (SELECT count(*) AS k FROM cov0 WHERE cov IS NOT NULL),
micro AS MATERIALIZED (
  SELECT i, j, n, CAST(round(cov * 1000000) AS BIGINT) AS micro
  FROM cov0 WHERE cov IS NOT NULL
),
tval AS (
  SELECT CAST(sum(CASE WHEN i = j THEN micro ELSE 0 END) AS BIGINT) AS tm
  FROM micro
),
grid AS (
  SELECT a.i AS i, b.j AS j
  FROM (SELECT unnest(range({DIM})) AS i) a,
       (SELECT unnest(range({DIM})) AS j) b
),
msym AS (
  SELECT i, j, micro FROM micro
  UNION ALL
  SELECT j AS i, i AS j, micro FROM micro WHERE i <> j
),
y0 AS MATERIALIZED (
  SELECT g.i, g.j,
         CAST(floor((coalesce(m.micro, 0) / 1000000.0
                     + CASE WHEN g.i = g.j THEN {WHITEN_EPS} ELSE 0.0 END)
                    / {t_sql} * {float(NS_SCALE)!r} + 0.5)
              AS BIGINT) AS v
  FROM grid g LEFT JOIN msym m ON m.i = g.i AND m.j = g.j
  CROSS JOIN tval tv
),
z0 AS (
  SELECT i, j, CASE WHEN i = j THEN {NS_SCALE} ELSE 0 END AS v FROM grid
),
{chain},
wmat AS MATERIALIZED (
  SELECT z.i, z.j,
         round(z.v / {float(NS_SCALE)!r} / sqrt{t_sql}, 6) AS v
  FROM {prev_z} z CROSS JOIN tval tv
),
matu AS (
  SELECT i, j, cov AS v FROM covu WHERE cov IS NOT NULL
  UNION ALL
  SELECT j AS i, i AS j, cov AS v FROM covu
  WHERE i <> j AND cov IS NOT NULL
),
wc AS MATERIALIZED (
  SELECT w.i, c.j, sum(w.v * c.v) AS v
  FROM wmat w JOIN matu c ON c.i = w.j GROUP BY w.i, c.j
),
covw AS MATERIALIZED (
  SELECT wc.i AS i, w2.i AS j, round(sum(wc.v * w2.v), 6) + 0.0 AS cov
  FROM wc JOIN wmat w2 ON w2.j = wc.j
  WHERE wc.i <= w2.i
  GROUP BY wc.i, w2.i
),
microw AS (
  SELECT i, j, CAST(round(cov * 1000000) AS BIGINT) AS micro FROM covw
),
nv AS (SELECT min(n) AS n_vecs FROM micro),
raw_m AS (SELECT {metrics}, min(n) AS n_vecs FROM micro),
whit_m AS (SELECT {metrics} FROM microw)
SELECT 'raw' AS phase, d, n_vecs, {render}
FROM raw_m CROSS JOIN gate WHERE gate.k = {exp_rows}
UNION ALL
SELECT 'whitened' AS phase, d, nv.n_vecs, {render}
FROM whit_m CROSS JOIN nv CROSS JOIN gate WHERE gate.k = {exp_rows}
"""


QUERIES["embedding_whitening_report"] = embedding_whitening_report
ORACLE["embedding_whitening_report"] = _whitening_oracle_sql()

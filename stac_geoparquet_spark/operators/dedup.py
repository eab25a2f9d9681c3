"""Deduplication operators over the ``documents`` / ``embeddings``
tables — the training-data-pipeline surface a 100-TB corpus engine
needs (exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine).

Determinism/portability: every hash is derived from md5 (identical in
Spark and DuckDB), so each operator has an exact SQL oracle. Spark-side
implementations are pure DataFrame expressions (no Python UDFs in any
hot path).

Execution shape (measured, not guessed): shingle *generation* runs as a
higher-order array transform (interpreted but linear), then rows are
exploded so every hash (md5/conv) runs inside whole-stage codegen —
hashing inside an array lambda is ~10x slower because Catalyst does not
codegen lambda bodies. Each shingle-based operator caches ONE compact
int-only hash table that feeds every downstream consumer (signature
agg, candidate join sides, verify join sides, size agg). Shuffles:
- exact: one hash partition on the content hash (window);
- minhash: signature groupBy on doc_id (map-side combine) + band-bucket
  self-join + candidate distinct — all tiny relative to the corpus;
- ngram: the shared-shingle self-join (the quadratic *verifier*;
  MinHash banding is the candidate generator at scale);
- simhash: none — per-doc array filters in a single projection;
- cosine: none — block GEMM against a broadcast of the small side.

Skew note (100 TB): hot shingles (stop-phrase buckets) are the skew
risk in the ngram self-join — AQE skew-join splitting is enabled in the
session factory, and the minhash band keys are high-entropy by
construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._io import scan_parquet as _scan_parquet

from stac_geoparquet_spark.caches import session_memo
from pyspark.sql.window import Window

from stac_geoparquet_spark.operators.similarity import (
    VALID_VEC_SQL as _VALID_VEC_SQL,
)
from stac_geoparquet_spark.operators._exprs import const_cols
from stac_geoparquet_spark.operators._io import fenced
from stac_geoparquet_spark.operators._canon import (

    DOCS_CANON_SQL as _DOCS_CANON_SQL,
)

SHINGLE_K = 3  # words per shingle
NUM_HASHES = 32  # minhash signature length
NUM_BANDS = 8  # 8 bands x 4 rows
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 32
COSINE_THRESHOLD = 0.45


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Canonical-by-id corpus (_canon.py): every operator in this module
    # keys on doc_id (fingerprints, pair graphs, survivor keep-lists),
    # so a re-ingested duplicate id must resolve to ONE row before any
    # of them run — the materialized canonical layout is built once per
    # source stamp and read back like any table, so the downstream
    # per-row work (shingling, hashing) still runs scan-parallel.
    from stac_geoparquet_spark.operators._canon import docs_canon

    return docs_canon(spark, sf_dir)


# --------------------------------------------------------------------------
# shared text primitives — BOTH sides come from text.py (the one
# tokenizer-pair definition: Spark trim strips only the ASCII space,
# the oracle fragment mirrors it via trim(x, ' ') and carries the
# aligned whitespace class / case mapping — cross-engine fuzz
# findings)
# --------------------------------------------------------------------------
from stac_geoparquet_spark.operators.text import _words  # noqa: E402, F401
from stac_geoparquet_spark.operators.text import _sql_words as _text_sql_words  # noqa: E402

_SQL_WORDS = _text_sql_words()


def _shingles_from_words(w: Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-word shingles from a *materialized* words column.

    The words array must be a real column (projection boundary), not an
    inline split expression: Catalyst does not CSE inside higher-order
    lambdas, so an inline split would re-tokenize the document once per
    shingle index (~7x slower end to end).
    """
    gen = F.transform(
        F.sequence(F.lit(0), F.size(w) - F.lit(k)),
        lambda i: F.concat_ws(" ", F.slice(w, i + F.lit(1), k)),
    )
    return F.array_distinct(
        F.when(F.size(w) >= k, gen).otherwise(F.array().cast("array<string>"))
    )


def _hash32(col: Column, seed: int) -> Column:
    """Portable 32-bit unsigned hash as bigint: first 8 hex chars of
    md5(seed ':' value). DuckDB: ('0x'||substr(md5(...),1,8))::BIGINT."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 8), 16, 10
    ).cast("bigint")


_MINHASH_PRIME = 4294967291  # largest prime < 2^32

def band_parts_sql() -> str:
    """SQL fragment building the LSH band structs
    array(struct(band_id, band_key), ...) from signature columns
    h0..h{NUM_HASHES-1} — ONE definition shared by the batch banding
    (dedup_minhash_lsh), the resident band index, and the streaming
    signature path (streaming/dedup.py), so band construction can never
    drift between them."""
    return ", ".join(
        f"struct({b} AS band_id, concat_ws('-', "
        + ", ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + ") AS band_key)"
        for b in range(NUM_BANDS)
    )


@session_memo("dedup.per_doc", "documents")
def per_doc_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per document carrying everything every MinHash consumer
    needs: the shingle-hash set ``ss`` + size ``n`` (exact-Jaccard
    verify) and the ``NUM_HASHES`` signature minima (banding). ONE
    groupBy on doc_id; cached so the exchange is paid once per session
    per scale factor — the "resident MinHash index" a long-running
    dedup service keeps materialized, fanned out to LSH banding, the
    verify join sides and the incremental stream-static index
    (streaming/dedup.py)."""
    hashed = _hashed_shingles(spark, sf_dir)
    return hashed.groupBy("doc_id").agg(
        F.expr("collect_list(shash) AS ss"),
        F.expr("count(1) AS n"),
        *[
            F.expr(f"min((h1 + {s} * h2) % {_MINHASH_PRIME}) AS h{s}")
            for s in range(NUM_HASHES)
        ],
    ).cache()


@session_memo("dedup.shingles", "documents")
def _hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h1, h2, shash) — one row per distinct k-word shingle.

    Shape matters: shingle *generation* is a higher-order transform
    (interpreted, but linear and cheap), while all *hashing* happens
    after the explode so md5/conv run inside whole-stage codegen —
    measured 10x faster than hashing inside an array lambda (Catalyst
    does not codegen lambda bodies). ONE md5 + ONE conv per shingle
    (conv's hex->dec string walk is the next-hottest op after md5):
    the 60-bit verify hash is the conv value itself, and the minhash
    family bases are bit-slices of it — h1 = top 32 bits, h2 = low 28
    bits.  Cached: every shingle-based operator (minhash signature
    agg + verify, ngram self-join + sizes) fans out from this one
    table (ints only, ~8 MB at sf0.1)."""
    sh_rows = (
        _docs(spark, sf_dir)
        .select("doc_id", _words(F.col("text")).alias("w"))
        .select(
            "doc_id", F.explode(_shingles_from_words(F.col("w"))).alias("shingle")
        )
    )
    v = F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast(
        "bigint"
    )
    return sh_rows.select(
        "doc_id",
        F.shiftright(v, 28).alias("h1"),
        v.bitwiseAND(F.lit((1 << 28) - 1)).alias("h2"),
        v.alias("shash"),
    ).cache()


def _jaccard_from_inter(inter: DataFrame, shh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter) + per-doc set sizes -> thresholded Jaccard."""
    sizes = shh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sa.n") + F.col("sb.n") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


# words materialized ONCE in the inner projection: DuckDB does not CSE
# into lambda bodies either, and the full tokenizer fragment (trim +
# case-map translate + split) inlined in the per-gram lambda would
# re-normalize the document once per shingle index
_SHINGLE_CTE = f"""
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           range(len(wds) - {SHINGLE_K - 1}),
           i -> array_to_string(wds[i+1:i+{SHINGLE_K}], ' ')
         )) AS shingle
  FROM (SELECT doc_id, {_SQL_WORDS} AS wds FROM {_DOCS_CANON_SQL} documents)
)
"""


# --------------------------------------------------------------------------
# 1. exact dedup — hash-groupBy
# --------------------------------------------------------------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    # Hash in the scan stage, BEFORE any exchange: the window's hash
    # partition then moves only (doc_id, 32-byte hash) rows — never the
    # document text. At 100 TB this is the difference between shuffling
    # ~64 bytes/row and shuffling the corpus. (No _docs() spread
    # repartition here: that would shuffle full text just to
    # parallelize md5, which is already scan-parallel across input
    # splits at real scale.)
    from stac_geoparquet_spark.operators._canon import docs_canon

    docs = docs_canon(spark, sf_dir, spread=False)
    h = F.md5(F.col("text")).alias("content_hash")
    w = Window.partitionBy("content_hash")
    return (
        docs.select("doc_id", h)
        .withColumn("keep", F.col("doc_id") == F.min("doc_id").over(w))
    )


DEDUP_EXACT_SQL = f"""
SELECT doc_id,
       md5(text) AS content_hash,
       doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep
FROM {_DOCS_CANON_SQL} documents
"""


# --------------------------------------------------------------------------
# 2. n-gram Jaccard near-dup pairs
# --------------------------------------------------------------------------
def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, exact_all_pairs: bool = False
) -> DataFrame:
    """Word-3-gram Jaccard pairs >= threshold.

    Default path: exact Jaccard verified ONLY on MinHash/LSH candidate
    pairs (shared with dedup_minhash_lsh — band-bucketed candidate
    generation, then shingle-set intersection on the survivors). The
    round-1 inverted-index verify expanded every shared-shingle posting
    list's i<j pairs — quadratic in hot stop-phrase shingles, the one
    shape that cannot survive 100 TB. The candidate join is linear in
    band-bucket occupancy instead.

    Recall: banding is probabilistic — P(candidate | j) =
    1-(1-j^4)^8, i.e. ~40% at exactly j=0.5 — but real near-dup pairs
    sit far above the threshold where recall is ~1 (j=0.9 ->
    P(miss) ~ 2e-4), and the output is verified IDENTICAL to the
    exhaustive all-pairs oracle at sf0.01 and sf0.1. ``exact_all_pairs=
    True`` keeps the exhaustive inverted-index formulation for corpora
    with borderline-threshold pairs.
    """
    if not exact_all_pairs:
        return dedup_minhash_lsh(spark, sf_dir)
    # Exhaustive inverted-index shape: group the cached hash table by
    # shingle hash (one shuffle), expand each posting list's i<j doc
    # pairs inline, and count pair co-occurrences. One pass over the
    # table, but posting-list pair expansion is quadratic in hot
    # shingles — exact all-pairs Jaccard is inherently so.
    shh = _hashed_shingles(spark, sf_dir).select("doc_id", "shash")
    inter = (
        shh.groupBy("shash")
        .agg(F.expr("sort_array(collect_list(doc_id)) AS ds"))
        .where("size(ds) >= 2")
        .selectExpr(
            "explode(flatten(transform(sequence(0, size(ds)-2),"
            " i -> transform(slice(ds, i+2, size(ds)),"
            " x -> struct(ds[i] AS a, x AS b))))) AS p"
        )
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_from_inter(inter, shh)


_SHINGLE_HASH_CTE = """
shh AS MATERIALIZED (
  SELECT doc_id, ('0x'||substr(md5(shingle),1,15))::BIGINT AS shash FROM sh
)
"""

DEDUP_NGRAM_SQL = f"""
WITH {_SHINGLE_CTE},
{_SHINGLE_HASH_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM shh a JOIN shh b ON a.shash = b.shash AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= {JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# 3. MinHash + LSH banding (the scale path: candidates from band
#    collisions, exact Jaccard verified only on candidates)
# --------------------------------------------------------------------------
@session_memo("dedup.pairs", "documents")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The shared cached hash table feeds ONE per-doc aggregate that
    # carries both the 32 signature mins (for banding) and the shingle
    # set + size (for the exact-Jaccard verify). Folding both consumers
    # into a single groupBy means a single shuffle on doc_id whose
    # exchange is reused by the band pipeline and by both verify join
    # sides (ReusedExchange), instead of two separate shuffles of the
    # full hash table. The minhash family h_i = (h1 + i*h2) mod p needs
    # only one md5 per shingle. Expressions are built as SQL strings
    # parsed JVM-side in one shot — constructing the ~300 Column
    # objects through py4j costs >1s of driver time per call, ~4x the
    # parse cost of the equivalent strings.
    per_doc = per_doc_signatures(spark, sf_dir)
    sig = per_doc
    band_parts = band_parts_sql()
    bands = sig.selectExpr(
        "doc_id", f"explode(array({band_parts})) AS band"
    ).selectExpr("doc_id", "band.band_id", "band.band_key")

    # Candidate pairs per LSH bucket via ONE groupBy (collect the
    # bucket's sorted doc ids, expand i<j pairs as an array transform)
    # instead of a bucket-key self-join: one exchange + explode vs two
    # join inputs + join, and the ascending sort makes doc_a < doc_b by
    # construction. Bucket membership lists are small by design (band
    # keys are high-entropy); a degenerate hot bucket at 100 TB needs a
    # size cap or salt split — n^2 pair expansion is inherent to LSH
    # candidate generation, not to this formulation.
    cands = (
        bands.groupBy("band_id", "band_key")
        .agg(F.expr("sort_array(collect_list(doc_id)) AS ds"))
        .where("size(ds) >= 2")
        .selectExpr(
            "explode(flatten(transform(sequence(0, size(ds)-2),"
            " i -> transform(slice(ds, i+2, size(ds)),"
            " x -> struct(ds[i] AS a, x AS b))))) AS p"
        )
        .selectExpr("p.a AS doc_a", "p.b AS doc_b")
        .distinct()
    )
    docsets = per_doc.select("doc_id", "ss", "n")
    sa = docsets.alias("sa")
    sb = docsets.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.ss"), F.col("sb.ss")))
    jac = F.round(inter / (F.col("sa.n") + F.col("sb.n") - inter), 6)
    out = (
        cands.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )
    # Materialized once per (session, sf): the verified pair set is
    # the fan-out point for clustering and reporting — tiny (pairs that
    # survived verify), so the shared lineage fence is cheap and cuts
    # every consumer's lineage back to a leaf (contract: _io.fenced
    # docstring).
    return fenced(out)


def _minhash_oracle_ctes() -> str:
    """The minhash pipeline as a CTE chain ending in ``pairs`` —
    shared by the pair oracle and the connected-components oracle."""
    min_exprs = ",\n         ".join(
        f"min((h1 + {s} * h2) % {_MINHASH_PRIME}) AS h{s}"
        for s in range(NUM_HASHES)
    )
    band_rows = ", ".join(
        "("
        + str(b)
        + ", concat_ws('-', "
        + ", ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + "))"
        for b in range(NUM_BANDS)
    )
    return f"""{_SHINGLE_CTE},
hashed AS (
  SELECT doc_id, v >> 28 AS h1, v & {(1 << 28) - 1} AS h2
  FROM (SELECT doc_id,
               ('0x'||substr(md5(shingle),1,15))::BIGINT AS v FROM sh) t
),
sig AS (
  SELECT doc_id,
         {min_exprs}
  FROM hashed GROUP BY doc_id
),
bands AS MATERIALIZED (
  SELECT doc_id, t.band_id, t.band_key
  FROM sig, LATERAL (VALUES {band_rows}) AS t(band_id, band_key)
),
cands AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band_id = y.band_id AND x.band_key = y.band_key
   AND x.doc_id < y.doc_id
),
{_SHINGLE_HASH_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
inter AS (
  SELECT doc_a, doc_b, count(*) AS i
  FROM cands
  JOIN shh a ON a.doc_id = doc_a
  JOIN shh b ON b.doc_id = doc_b AND b.shash = a.shash
  GROUP BY doc_a, doc_b
),
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b,
         round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= {JACCARD_THRESHOLD}
)"""


def _minhash_oracle_sql() -> str:
    return f"""
WITH {_minhash_oracle_ctes()}
SELECT doc_a, doc_b, jaccard FROM pairs
"""


def _cluster_oracle_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_oracle_ctes()},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, label) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.s, w.label FROM walk w JOIN edges e ON e.d = w.doc_id
)
SELECT doc_id, min(label) AS cluster_id, count(*) - 1 AS n_dups
FROM walk GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# 3b. near-dup clustering — connected components over the MinHash pair
#     graph (the step a real dedup pipeline runs after pair generation:
#     pick one canonical doc per duplicate cluster)
# --------------------------------------------------------------------------
def _min_label_propagate(pairs: DataFrame) -> DataFrame:
    """Fixpoint min-label propagation over an undirected pair list
    (doc_a, doc_b) -> (doc_id, label) with label = min reachable id.

    Terminates on a CONVERGENCE CHECK (no label changed), not a fixed
    round count, so correctness is independent of component diameter —
    pinned by a chain-graph test far longer than any round budget a
    fixed-count loop would pick (tests/test_new_ops_invariants.py).
    Each round
    is one join + one aggregate and ends in the shared lineage fence
    (``_io.fenced``) to truncate lineage (without it, plan depth grows
    linearly and planning cost quadratically)."""
    edges = fenced(
        pairs.union(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
    )
    labels = fenced(
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    while True:
        prop = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(edges.doc_a.alias("doc_id"))
            .agg(F.min("label").alias("nlabel"))
        )
        # Carry the previous label through the checkpoint so convergence
        # is a filter on the materialized frame — no extra old-vs-new
        # join per round (one join + one agg + one scan per iteration).
        stepped = fenced(
            labels.join(prop, "doc_id", "left").select(
                "doc_id",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce("nlabel", F.col("label"))
                ).alias("label"),
            )
        )
        changed = stepped.where("label != old_label").limit(1).count()
        labels = stepped.select("doc_id", "label")
        if changed == 0:
            break
    return labels


@session_memo("dedup.cc_labels", "documents")
def _cc_labels_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session-cached near-dup cluster label table (doc_id, label)
    shared by every cluster consumer (see the dedup_cluster_cc
    docstring)."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return _min_label_propagate(pairs)


def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every near-duplicate document its cluster id = the
    minimum doc_id reachable through the verified MinHash pair graph,
    plus ``n_dups`` = cluster size - 1.

    Iterative min-label propagation over the (tiny relative to the
    corpus) edge list: each round joins labels to the symmetric edge
    list, takes min(neighbor label) per node, and stops at fixpoint —
    O(component diameter) rounds; near-dup components are short chains
    in practice, so this converges in a handful of rounds. Each round
    ends in the shared lineage fence (``_io.fenced``) to truncate
    lineage (without it, plan depth grows linearly and planning cost
    quadratically). At 100-TB
    edge counts the same loop holds (edges are pairs that survived
    Jaccard verify — orders of magnitude smaller than the corpus); the
    alternating large-star/small-star variant bounds rounds to
    O(log n) if components with large diameters ever appear.

    Genuinely iterative => no single-pass SQL, but DuckDB's recursive
    CTE expresses the same fixpoint, so this op still has an exact
    value oracle (WITH RECURSIVE reachability + min label).

    The label table is a session memo one level above the pair set:
    SIX shipped consumers (cluster_cc, survivors, rep_weights,
    component_sizes, purity, token_savings) read the cluster labels,
    and without the memo each re-ran the whole fixpoint loop (its
    rounds are cheap, but 6x the rounds is 6x the jobs at any scale).
    The cached frame is the final fenced checkpoint leaf, already
    bounded by the pair graph.
    """
    labels = _cc_labels_cached(spark, sf_dir)
    w = Window.partitionBy("label")
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.count(F.lit(1)).over(w) - F.lit(1)).cast("bigint").alias("n_dups"),
    )


# --------------------------------------------------------------------------
# 4. SimHash fingerprint (one-pass, join-free near-dup signal)
# --------------------------------------------------------------------------
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit j of the fingerprint is set iff more distinct words hash to 1
    than to -1 at bit j, i.e. 2*popcount_j >= n — computed as array
    filters over the per-doc word-hash array: a single narrow projection,
    no explode, no shuffle, no join.

    NULL-text docs carry no fingerprint and are excluded — explicitly
    on both engines (without the filter Spark emits a degenerate row
    while DuckDB's unnest drops it: a latent divergence found by
    NULL-injection differential testing)."""
    # r10: the 64 bit-filters over per-word hashes are genuinely
    # compute-bound at toy scale (solo noop 0.23 spread vs 0.79
    # un-spread) — keep the explicit spread the light ops dropped
    from stac_geoparquet_spark.operators._canon import docs_canon

    docs = docs_canon(spark, sf_dir, spread=True).where(
        F.col("text").isNotNull()
    )
    base = docs.select(
        "doc_id", F.array_distinct(_words(F.col("text"))).alias("wd")
    ).select(
        "doc_id",
        F.transform(F.col("wd"), lambda w: _hash32(w, 0)).alias("harr"),
    )
    # One SQL string instead of 32 py4j-built when/filter chains (same
    # driver-time rationale as dedup_minhash_lsh).
    terms = " + ".join(
        f"(CASE WHEN 2 * size(filter(harr, h -> shiftright(h, {j}) & 1 = 1))"
        f" >= size(harr) THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return base.selectExpr("doc_id", f"CAST({terms} AS BIGINT) AS simhash")


def _simhash_oracle_sql() -> str:
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    terms = " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH wd AS (
  SELECT DISTINCT doc_id,
         unnest({_SQL_WORDS}) AS w
  FROM {_DOCS_CANON_SQL} documents WHERE text IS NOT NULL
),
hashed AS (
  SELECT doc_id, ('0x'||substr(md5('0:'||w),1,8))::BIGINT AS h FROM wd
),
agg AS (
  SELECT doc_id,
         {bit_sums}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM agg
"""


# --------------------------------------------------------------------------
# 5. embedding-cosine near-dup pairs (brute-force verifier; LSH variant
#    lives in operators/similarity.py)
# --------------------------------------------------------------------------
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine >= threshold via blocked matrix product.

    A pairwise Catalyst join evaluating a 64-element fold per pair is
    interpreted (higher-order functions don't codegen) and ~25s at
    sf0.1; the same math as one numpy GEMM per partition block against
    a broadcast of the (small) normalized matrix is two orders faster
    and the idiomatic 100-TB shape: block the big side, broadcast the
    small side. The broadcast matrix is built driver-side with a direct
    pyarrow read (no Spark job for the collect — same pattern as
    building any broadcast variable). Emitted similarities are rounded
    to 6 decimals, which absorbs BLAS-vs-sequential summation-order
    noise relative to the oracle (~1e-15 vs the 5e-7 rounding quantum).
    """
    import numpy as np
    import pandas as pd

    # ONE loader implements the valid-vector filtering/guards for every
    # driver-side read (similarity._read_vec_range) — an unbounded read
    # here is the broadcast-small-side build, not a slice
    from stac_geoparquet_spark.operators.similarity import _read_vec_range

    ids, mat, norms = _read_vec_range(sf_dir, None, None)
    if len(ids) == 0:
        return spark.createDataFrame(
            [], "vec_a bigint, vec_b bigint, cos_sim double"
        )
    unit = mat / norms[:, None]
    sc = spark.sparkContext
    b_ids = sc.broadcast(ids)
    b_unit = sc.broadcast(unit)

    out_schema = "vec_a bigint, vec_b bigint, cos_sim double"

    def block(batches):
        for pdf_block in batches:
            a_ids = pdf_block["vec_id"].to_numpy()
            a = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf_block["embedding"]]
            )
            a_unit = a / np.sqrt((a * a).sum(axis=1))[:, None]
            sims = a_unit @ b_unit.value.T
            rows_i, cols_j = np.nonzero(
                (np.round(sims, 6) >= COSINE_THRESHOLD)
                & (a_ids[:, None] < b_ids.value[None, :])
            )
            yield pd.DataFrame(
                {
                    "vec_a": a_ids[rows_i],
                    "vec_b": b_ids.value[cols_j],
                    "cos_sim": np.round(sims[rows_i, cols_j], 6),
                }
            )

    # Spread a single-split toy input to 8 fat blocks (each mapInPandas
    # partition spawns a Python worker; the GEMM is microseconds at
    # this block size, so worker startup dominates). Conditional: at
    # real scale the table already scans as many splits and NO
    # repartition happens — an unconditional repartition(8) would
    # collapse a 100 TB scan to 8 tasks.
    from stac_geoparquet_spark.operators.similarity import _emb_blocks

    # canonical=True: the pair graph is KEYED by (vec_a, vec_b) — a
    # re-ingested duplicate id must not emit duplicate edges, so both
    # the broadcast side (_read_vec_range, deduped driver-side) and
    # the blocked side collapse to one row per vec_id (_canon.py)
    emb = _emb_blocks(spark, sf_dir, canonical=True)
    return emb.mapInPandas(block, schema=out_schema)


DEDUP_EMBEDDING_SQL = f"""
WITH e AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
  FROM (SELECT vec_id, min(embedding::DOUBLE[]) AS v FROM embeddings
        WHERE {_VALID_VEC_SQL} GROUP BY vec_id) et
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
             / (a.norm * b.norm), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
            / (a.norm * b.norm), 6) >= {COSINE_THRESHOLD}
"""


# --------------------------------------------------------------------------
# 3c. dedup survivors — the keep-list a training pipeline actually
#     writes: every doc, flagged keep unless it is a non-canonical
#     member of a near-dup cluster
# --------------------------------------------------------------------------
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, keep): left-join the corpus to the
    connected-components labels; keep = not clustered OR the cluster's
    canonical (minimum) doc. The label table is pair-graph-sized (only
    docs with a verified near-dup), orders of magnitude smaller than
    the corpus; its size is data-dependent, so the join is left to
    AQE — broadcast when it fits, shuffle join when a high-dup corpus
    makes it large (a forced broadcast would OOM there)."""
    import os

    from stac_geoparquet_spark.operators._canon import docs_canon

    docs = docs_canon(spark, sf_dir).select("doc_id")
    cc = dedup_cluster_cc(spark, sf_dir).select("doc_id", "cluster_id")
    return docs.join(cc, "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        (
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id"))
        ).alias("keep"),
    )


def dedup_rep_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware training weights: every document gets weight
    1 / |its near-dup cluster| so a cluster contributes ONE document's
    worth of gradient in total, however many copies crawled in — the
    soft alternative to dedup_survivors' hard keep/drop (down-weight
    instead of discard, as used when duplicates carry distinct
    provenance worth keeping).  Unclustered docs form singleton
    clusters (weight 1.0).

    Same composition + scale shape as dedup_survivors: the CC label
    table is pair-graph-sized, the corpus join is left to AQE
    (broadcast when it fits); cluster size rides along from
    dedup_cluster_cc's n_dups, so no extra aggregate."""
    from stac_geoparquet_spark.operators._canon import docs_canon

    docs = docs_canon(spark, sf_dir).select("doc_id")
    cc = dedup_cluster_cc(spark, sf_dir)
    size = (F.coalesce(F.col("n_dups"), F.lit(0)) + 1).cast("bigint")
    return docs.join(cc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        size.alias("cluster_size"),
        F.round(F.lit(1.0) / size, 6).alias("rep_weight"),
    )


def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report: how much of each source is
    near-duplicate mass — the triage table a curation run reads FIRST
    (a source at 40% dup rate gets line/substring treatment or a crawl
    fix; 2% is normal web noise).  n_dropped counts the docs
    dedup_survivors would discard (non-canonical cluster members), so
    dup_rate is exactly the fraction of the source the hard-dedup pass
    deletes.

    Same composition as dedup_survivors (CC labels left-joined to the
    corpus, AQE picks the strategy), then ONE keyed aggregate on
    source — counts only, one exact division at the end."""
    from stac_geoparquet_spark.operators._canon import docs_canon

    docs = docs_canon(spark, sf_dir).select("doc_id", "source")
    cc = dedup_cluster_cc(spark, sf_dir).select("doc_id", "cluster_id")
    return (
        docs.join(cc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("cluster_id").alias("n_clustered"),
            F.sum(
                (
                    F.col("cluster_id").isNotNull()
                    & (F.col("cluster_id") != F.col("doc_id"))
                ).cast("bigint")
            ).alias("n_dropped"),
        )
        .select(
            "source",
            "n_docs",
            "n_clustered",
            "n_dropped",
            F.round(
                F.col("n_dropped").cast("double") / F.col("n_docs"), 6
            ).alias("dup_rate"),
        )
    )


def _dup_rate_oracle_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_oracle_ctes()},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, label) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.s, w.label FROM walk w JOIN edges e ON e.d = w.doc_id
),
cc AS (SELECT doc_id, min(label) AS cluster_id FROM walk GROUP BY doc_id)
SELECT d.source,
       count(*) AS n_docs,
       count(cc.cluster_id) AS n_clustered,
       CAST(sum(CASE WHEN cc.cluster_id IS NOT NULL
                      AND cc.cluster_id <> d.doc_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       round(CAST(sum(CASE WHEN cc.cluster_id IS NOT NULL
                            AND cc.cluster_id <> d.doc_id
                           THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS dup_rate
FROM {_DOCS_CANON_SQL} d LEFT JOIN cc USING (doc_id)
GROUP BY d.source
"""


def _rep_weights_oracle_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_oracle_ctes()},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, label) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.s, w.label FROM walk w JOIN edges e ON e.d = w.doc_id
),
cc AS (
  SELECT doc_id, min(label) AS cluster_id, count(*) AS csize
  FROM walk GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
       CAST(coalesce(cc.csize, 1) AS BIGINT) AS cluster_size,
       round(1.0 / coalesce(cc.csize, 1), 6) AS rep_weight
FROM {_DOCS_CANON_SQL} d LEFT JOIN cc USING (doc_id)
"""


def _survivors_oracle_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_oracle_ctes()},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, label) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.s, w.label FROM walk w JOIN edges e ON e.d = w.doc_id
),
cc AS (SELECT doc_id, min(label) AS cluster_id FROM walk GROUP BY doc_id)
SELECT d.doc_id, cc.cluster_id,
       (cc.cluster_id IS NULL OR cc.cluster_id = d.doc_id) AS keep
FROM {_DOCS_CANON_SQL} d LEFT JOIN cc USING (doc_id)
"""


# --------------------------------------------------------------------------
# Cluster-aware train/holdout split: hashing the near-dup CLUSTER id
# instead of the doc id makes it impossible for two near-duplicate
# documents to straddle the split — the standard leakage-free split
# rule for training corpora (a near-dup of a holdout doc in train is
# contamination the doc-hash split can't prevent).  Reports, per
# split, the doc/cluster counts and ``n_moved``: how many docs the
# naive doc-hash rule (split_train_holdout's exact hash) would have
# placed in the OTHER split — the leakage mass this rule removes.
#
# Scale shape: the label table is pair-graph-bounded and session-
# cached (_cc_labels_cached); one doc_id-keyed left join against the
# corpus, then a 2-group aggregate.  Both hash splits are the shared
# md5-prefix rule, identical expression text on both engines.
# --------------------------------------------------------------------------
def _pct_expr(col: str) -> Column:
    """The split-hash rule of text.split_pct over an arbitrary BIGINT
    column (first 16 bits of md5 mod 100)."""
    return (
        F.conv(
            F.substring(F.md5(F.col(col).cast("string")), 1, 4), 16, 10
        ).cast("bigint")
        % 100
    )


def _sql_pct(col: str) -> str:
    return f"('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 4))::BIGINT % 100"


def split_by_neardup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators.text import TRAIN_PCT

    labels = _cc_labels_cached(spark, sf_dir).withColumnRenamed(
        "label", "cl"
    )
    base = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cl", F.col("doc_id")).alias("cluster_id")
        )
    )
    cl_split = F.when(
        _pct_expr("cluster_id") < TRAIN_PCT, "train"
    ).otherwise("holdout")
    doc_split = F.when(_pct_expr("doc_id") < TRAIN_PCT, "train").otherwise(
        "holdout"
    )
    return (
        base.select(
            cl_split.alias("split"),
            doc_split.alias("naive_split"),
            "cluster_id",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("cluster_id").alias("n_clusters"),
            F.sum(
                F.when(F.col("naive_split") != F.col("split"), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_moved"),
        )
    )


def _split_by_cluster_oracle_sql() -> str:
    from stac_geoparquet_spark.operators.text import TRAIN_PCT

    return f"""
WITH RECURSIVE {_minhash_oracle_ctes()},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, label) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.s, w.label FROM walk w JOIN edges e ON e.d = w.doc_id
),
cc AS (SELECT doc_id, min(label) AS cluster_id FROM walk GROUP BY doc_id),
base AS (
  SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
  FROM {_DOCS_CANON_SQL} d LEFT JOIN cc USING (doc_id)
),
sp AS (
  SELECT cluster_id,
         CASE WHEN {_sql_pct("cluster_id")} < {{train_pct}}
              THEN 'train' ELSE 'holdout' END AS split,
         CASE WHEN {_sql_pct("doc_id")} < {{train_pct}}
              THEN 'train' ELSE 'holdout' END AS naive_split
  FROM base
)
SELECT split,
       count(*) AS n_docs,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       CAST(sum(CASE WHEN naive_split <> split THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved
FROM sp
GROUP BY split
""".replace("{train_pct}", str(TRAIN_PCT))


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
# embedding space coarsely, then deduplicate ONLY within each cluster —
# the clustering bounds the quadratic pair space to |cell|^2 instead of
# N^2, which is the paper's entire scaling argument.  Reuses the IVF
# coarse cells (``similarity.build_ivf_layout``; one shared cell
# assignment, so the search index and the dedup partition can never
# disagree).  Keep rule (deterministic, SQL-expressible): a vector is
# dropped iff some LOWER-id vector in its cell sits at rounded cosine
# >= the threshold — the greedy keep-earliest sweep.
#
# Spark shape: ONE scan of the cell-partitioned layout, groupBy(cell)
# -> applyInPandas per-cell GEMM (vectors never pairwise-join through
# Catalyst: a 64-element fold per pair is interpreted and ~100x slower
# than the in-worker matrix product — same measurement as
# dedup_embedding_cosine).  At 100 TB each cell is a bounded partition
# and cells prune independently; no cross-cell traffic at all.
# --------------------------------------------------------------------------
SEMDEDUP_TAU = COSINE_THRESHOLD  # one near-dup threshold across the family


def semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators.similarity import (
        _load_centroids,
        build_ivf_layout,
    )

    out_schema = "vec_id bigint, ivf_cell bigint, n_cell bigint, keep boolean"
    if len(_load_centroids(sf_dir)[0]) == 0:
        # no centroids -> no cells -> nothing to assign or prune
        return spark.createDataFrame([], out_schema)
    layout = build_ivf_layout(spark, sf_dir)
    df = _scan_parquet(spark, layout).select("vec_id", "embedding", "ivf_cell")
    tau = SEMDEDUP_TAU

    def prune(pdf):
        import numpy as np
        import pandas as pd

        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        a = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
        )[order]
        norms = np.sqrt((a * a).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            unit = a / norms[:, None]
            sims = np.round(unit @ unit.T, 6)
        # dup[i] = any j < i (id order) with sim >= tau; NaN rows
        # (zero-norm vectors) compare False -> kept, matching the
        # oracle's nullif-guarded NULL comparison
        dup = np.triu(sims >= tau, k=1).any(axis=0)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "ivf_cell": pdf["ivf_cell"].to_numpy()[order],
                "n_cell": np.full(len(ids), len(ids), dtype=np.int64),
                "keep": ~dup,
            }
        )

    return df.groupBy("ivf_cell").applyInPandas(prune, out_schema)


def _semdedup_oracle_sql() -> str:
    from stac_geoparquet_spark.operators.similarity import (
        _DOT_SQL,
        _centroid_cte,
    )

    cos = _DOT_SQL.format(a="a.v", b="b.v")
    return f"""
WITH {_centroid_cte()},
dup AS (
  SELECT DISTINCT hb.vec_id
  FROM assigned ha
  JOIN assigned hb ON ha.ivf_cell = hb.ivf_cell AND ha.vec_id < hb.vec_id
  JOIN e a ON a.vec_id = ha.vec_id
  JOIN e b ON b.vec_id = hb.vec_id
  WHERE round({cos} / nullif(a.norm * b.norm, 0), 6) >= {SEMDEDUP_TAU}
),
cells AS (SELECT ivf_cell, count(*) AS n_cell FROM assigned GROUP BY ivf_cell)
SELECT asg.vec_id, asg.ivf_cell, CAST(c.n_cell AS BIGINT) AS n_cell,
       dup.vec_id IS NULL AS keep
FROM assigned asg
JOIN cells c USING (ivf_cell)
LEFT JOIN dup ON dup.vec_id = asg.vec_id
"""


# --------------------------------------------------------------------------
# Semantic decontamination (embedding-space twin of the n-gram
# decontaminate_against_holdout): a corpus vector is contaminated when
# some HOLDOUT vector in its IVF cell sits at rounded cosine >= the
# near-dup threshold.  Eval/holdout membership is a designated id set
# (vec_id % 10 >= 8 here — in production the eval set's known ids or
# content hashes), so no label column is involved.  Same scaling
# argument as SemDeDup: the pair space is bounded per cell, cells
# prune independently, and the shared IVF layout means the search
# index and the decontamination partition can never disagree.
# One scan of the cell-partitioned layout, per-cell cross-set GEMM.
# --------------------------------------------------------------------------
HOLDOUT_MOD = 10  # vec_id % 10 >= HOLDOUT_LO -> holdout member
HOLDOUT_LO = 8


def semantic_decontam_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators.similarity import (
        _load_centroids,
        build_ivf_layout,
    )

    out_schema = (
        "vec_id bigint, ivf_cell bigint, n_holdout_in_cell bigint,"
        " contaminated boolean"
    )
    if len(_load_centroids(sf_dir)[0]) == 0:
        return spark.createDataFrame([], out_schema)
    layout = build_ivf_layout(spark, sf_dir)
    df = _scan_parquet(spark, layout).select("vec_id", "embedding", "ivf_cell")
    tau = SEMDEDUP_TAU
    h_mod, h_lo = HOLDOUT_MOD, HOLDOUT_LO

    def scan_cell(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        hold = (ids % h_mod) >= h_lo
        corp = ~hold
        n_hold = int(hold.sum())
        out = {
            "vec_id": ids[corp],
            "ivf_cell": pdf["ivf_cell"].to_numpy()[corp],
            "n_holdout_in_cell": np.full(corp.sum(), n_hold, dtype=np.int64),
        }
        if n_hold == 0 or corp.sum() == 0:
            out["contaminated"] = np.zeros(corp.sum(), dtype=bool)
            return pd.DataFrame(out)
        a = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
        )
        norms = np.sqrt((a * a).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            unit = a / norms[:, None]
            sims = np.round(unit[corp] @ unit[hold].T, 6)
        # NaN rows (zero-norm) compare False -> clean, matching the
        # oracle's nullif-guarded comparison (same rule as semdedup)
        out["contaminated"] = np.nansum(sims >= tau, axis=1) > 0
        return pd.DataFrame(out)

    return df.groupBy("ivf_cell").applyInPandas(scan_cell, out_schema)


def _semantic_decontam_oracle_sql() -> str:
    from stac_geoparquet_spark.operators.similarity import (
        _DOT_SQL,
        _centroid_cte,
    )

    cos = _DOT_SQL.format(a="c.v", b="h.v")
    return f"""
WITH {_centroid_cte()},
contaminated AS (
  SELECT DISTINCT ca.vec_id
  FROM assigned ca
  JOIN assigned ha ON ca.ivf_cell = ha.ivf_cell
  JOIN e c ON c.vec_id = ca.vec_id
  JOIN e h ON h.vec_id = ha.vec_id
  WHERE ca.vec_id % {HOLDOUT_MOD} < {HOLDOUT_LO}
    AND ha.vec_id % {HOLDOUT_MOD} >= {HOLDOUT_LO}
    AND round({cos} / nullif(c.norm * h.norm, 0), 6) >= {SEMDEDUP_TAU}
),
cells AS (
  SELECT ivf_cell,
         CAST(sum(CASE WHEN vec_id % {HOLDOUT_MOD} >= {HOLDOUT_LO}
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_holdout_in_cell
  FROM assigned GROUP BY ivf_cell
)
SELECT asg.vec_id, asg.ivf_cell, cells.n_holdout_in_cell,
       contaminated.vec_id IS NOT NULL AS contaminated
FROM assigned asg
JOIN cells USING (ivf_cell)
LEFT JOIN contaminated ON contaminated.vec_id = asg.vec_id
WHERE asg.vec_id % {HOLDOUT_MOD} < {HOLDOUT_LO}
"""


# --------------------------------------------------------------------------
# First-occurrence n-gram novelty (corpus-curation data valuation):
# each distinct shingle is "owned" by the lowest doc_id containing it
# (ingestion order stands in for crawl time in the test corpus); a
# document's novelty is the fraction of its distinct shingles it owns.
# Low novelty = the document's content existed earlier in the corpus —
# the per-source rollup ranks sources by how much NEW text they add,
# the signal used to down-weight scrapey mirrors before training.
#
# Scale shape: owner = min(doc_id) per shingle hash is a partially
# aggregatable keyed agg (map-side combine absorbs hot stop-phrase
# shingles — no posting-list expansion anywhere, unlike the quadratic
# all-pairs verifier above). The owned-count per doc comes from a
# second keyed agg OVER THE OWNERS TABLE (one row per distinct gram),
# not from a join back into the full gram table, so the expensive
# gram-cardinality join is avoided entirely; everything after the two
# gram-side aggs is one row per document.
# --------------------------------------------------------------------------
NOVELTY_DERIVATIVE_LT = 0.5  # novelty below this marks a derivative doc


def ngram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    shh = _hashed_shingles(spark, sf_dir).select("doc_id", "shash")
    owners = shh.groupBy("shash").agg(F.min("doc_id").alias("doc_id"))
    owned = owners.groupBy("doc_id").agg(F.count(F.lit(1)).alias("owned"))
    totals = shh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    perdoc = (
        totals.join(owned, "doc_id", "left")
        .withColumn(
            "novelty", F.coalesce(F.col("owned"), F.lit(0)) / F.col("n")
        )
        .select("doc_id", "novelty")
    )
    src = _docs(spark, sf_dir).select("doc_id", "source")
    return (
        perdoc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("novelty"), 6).alias("avg_novelty"),
            F.sum(
                F.when(
                    F.col("novelty") < NOVELTY_DERIVATIVE_LT, F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("n_derivative"),
        )
    )


NGRAM_NOVELTY_SQL = f"""
WITH {_SHINGLE_CTE},
{_SHINGLE_HASH_CTE},
owners AS (SELECT shash, min(doc_id) AS doc_id FROM shh GROUP BY shash),
owned AS (SELECT doc_id, count(*) AS owned FROM owners GROUP BY doc_id),
totals AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
perdoc AS (
  SELECT t.doc_id, coalesce(o.owned, 0) * 1.0 / t.n AS novelty
  FROM totals t LEFT JOIN owned o USING (doc_id)
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(p.novelty), 6) AS avg_novelty,
       CAST(sum(CASE WHEN p.novelty < {NOVELTY_DERIVATIVE_LT}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_derivative
FROM perdoc p
JOIN {_DOCS_CANON_SQL} d ON d.doc_id = p.doc_id
GROUP BY d.source
"""


# --------------------------------------------------------------------------
# Directional containment near-dup (quote / subsumption detection):
# C(a in b) = |grams(a) n grams(b)| / |grams(a)|.  Jaccard-banded LSH
# structurally MISSES high-containment pairs with very different
# sizes (a 10-gram doc fully inside a 200-gram doc has j = 0.05), so
# this operator has its own candidate generator: pairs sharing at
# least CONTAIN_MIN_RARE RARE grams (document frequency <=
# CONTAIN_DF_CAP) — the AllPairs/PPJoin prefix-filter idea with a
# support cut, same family as the q-gram prefix filter in
# curation.edit_distance_join.
#
# Scale shape: the df cap bounds posting-list pair expansion at
# df_cap^2 per rare gram (hot stop-phrase grams are EXCLUDED, the
# exact shape that kills the exhaustive verifier); verification joins
# the bounded candidate set against per-doc gram arrays and
# intersects in the JVM (array_intersect) — cost linear in candidates
# x doc length.  Contract caveat, on both engines identically: a pair
# whose every shared gram is common (df > cap) is out of contract —
# at corpus scale the discriminative grams of a genuine
# quote/subsumption are precisely the rare ones.
# --------------------------------------------------------------------------
CONTAIN_TAU = 0.9  # max-direction containment threshold
CONTAIN_DF_CAP = 10  # grams rarer than this generate candidates
# Exact support bound (PPJoin-style positional filter, adapted): if
# C(a->b) >= tau then a shares >= tau*|A| grams with b, so it can miss
# at most floor((1-tau)*|A|) of them — in particular at most that many
# of A's RARE grams.  A candidate pair therefore needs
#   n_rare_shared >= least over both docs of
#                    greatest(1, rare_d - floor((1-tau) * n_d))
# or NEITHER direction can reach tau.  Measured at sf0.1 this kills
# ~96% of candidate pairs (436k -> ~20k, single random rare-gram
# collisions) while being provably lossless within the rare-gram
# contract — unlike a fixed "share >= 2" cut, which dropped a true
# short-doc duplicate whose text is almost entirely corpus-common
# grams (doc pair 2256/4337 at sf0.1).  The same double literal is
# embedded in the oracle so floor() agrees bit-for-bit.
CONTAIN_EPS = 1.0 - CONTAIN_TAU


@const_cols
def _containment_cols() -> tuple:
    """dedup_containment's compile-time-constant Column fragments
    (~900 py4j round trips when rebuilt per call — _exprs.py)."""
    pair_explode = F.explode(
        F.flatten(
            F.transform(
                "ds",
                lambda x, i: F.transform(
                    F.slice(F.col("ds"), i + 2, F.size("ds")),
                    lambda y: F.struct(
                        x.alias("doc_a"), y.alias("doc_b")
                    ),
                ),
            )
        )
    ).alias("p")
    docset_aggs = (
        F.collect_set("shash").alias("g"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.coalesce(F.col("r"), F.lit(0)))
        .cast("bigint")
        .alias("rare_n"),
    )
    bound = F.greatest(
        F.lit(1).cast("bigint"),
        F.col("rare_n")
        - F.floor(F.lit(CONTAIN_EPS) * F.col("n")).cast("bigint"),
    ).alias("bound")
    inter = F.size(F.array_intersect("ga", "gb")).cast("bigint")
    cont_ab = F.round(inter / F.size("ga"), 6)
    cont_ba = F.round(inter / F.size("gb"), 6)
    return pair_explode, docset_aggs, bound, cont_ab, cont_ba


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    shh = _hashed_shingles(spark, sf_dir).select("doc_id", "shash")
    pair_explode, docset_aggs, bound, cont_ab, cont_ba = (
        _containment_cols()
    )
    rare = (
        shh.groupBy("shash")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= CONTAIN_DF_CAP)
        .select("shash")
    )
    # r10 optimization (guide §2.4): candidate pairs come from an
    # IN-ROW pair expansion of each rare gram's posting list instead
    # of the posting self-join.  The join form computed the whole
    # rare-posting pipeline once per side (Catalyst does not CSE
    # self-join subtrees) and shuffled every expanded pair row through
    # a join exchange; here each rare gram aggregates its df_cap-
    # bounded sorted posting array once and emits
    # the same (doc_a < doc_b) pairs from a Generate — identical pair
    # multiset, one pass, no join.  The df cap bounds the in-row
    # expansion at C(df_cap, 2) structs per gram, so there is no skew
    # and no unbounded array.
    posts = shh.join(F.broadcast(rare), "shash")
    cand = (
        posts.groupBy("shash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .select(pair_explode)
        .groupBy(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_rare_shared"))
    )
    # r10: per-doc gram set, size, and rare-gram count in ONE doc-keyed
    # aggregate (the old shape ran separate sizes / rare_n / sets
    # aggregates — five passes over the shingle table where two
    # suffice).  The support bound is the same PPJoin-style expression,
    # computed from the same values.
    docsets = (
        shh.join(
            F.broadcast(rare.withColumn("r", F.lit(1))), "shash", "left"
        )
        .groupBy("doc_id")
        .agg(*docset_aggs)
        .select("doc_id", "g", "n", bound)
    )
    ga = docsets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("g").alias("ga"),
        F.col("bound").alias("bound_a"),
    )
    gb = docsets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("g").alias("gb"),
        F.col("bound").alias("bound_b"),
    )
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .where(F.col("n_rare_shared") >= F.least("bound_a", "bound_b"))
        .withColumn("cont_ab", cont_ab)
        .withColumn("cont_ba", cont_ba)
        .where(F.greatest("cont_ab", "cont_ba") >= CONTAIN_TAU)
        .select("doc_a", "doc_b", "cont_ab", "cont_ba")
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH {_SHINGLE_CTE},
{_SHINGLE_HASH_CTE},
dfx AS (SELECT shash, count(*) AS df FROM shh GROUP BY shash),
rare AS (SELECT shash FROM dfx WHERE df <= {CONTAIN_DF_CAP}),
cand0 AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS n_rare_shared
  FROM shh a JOIN shh b ON a.shash = b.shash AND a.doc_id < b.doc_id
  JOIN rare r ON r.shash = a.shash
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
stats AS (
  SELECT s.doc_id,
         greatest(1, rc.rare_n
                     - CAST(floor({CONTAIN_EPS!r} * s.n) AS BIGINT))
           AS bound
  FROM sizes s
  JOIN (SELECT shh.doc_id, count(*) AS rare_n
        FROM shh JOIN rare USING (shash) GROUP BY shh.doc_id) rc
    ON rc.doc_id = s.doc_id
),
cand AS (
  SELECT c.doc_a, c.doc_b
  FROM cand0 c
  JOIN stats sba ON sba.doc_id = c.doc_a
  JOIN stats sbb ON sbb.doc_id = c.doc_b
  WHERE c.n_rare_shared >= least(sba.bound, sbb.bound)
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN shh x ON x.doc_id = c.doc_a
  JOIN shh y ON y.doc_id = c.doc_b AND y.shash = x.shash
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       round(i.i * 1.0 / sa.n, 6) AS cont_ab,
       round(i.i * 1.0 / sb.n, 6) AS cont_ba
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE greatest(round(i.i * 1.0 / sa.n, 6),
               round(i.i * 1.0 / sb.n, 6)) >= {CONTAIN_TAU}
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_cluster_cc": dedup_cluster_cc,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_survivors": dedup_survivors,
    "dedup_rep_weights": dedup_rep_weights,
    "dedup_rate_by_source": dedup_rate_by_source,
    "semdedup_cells": semdedup_cells,
    "semantic_decontam_cells": semantic_decontam_cells,
    "ngram_novelty_by_source": ngram_novelty_by_source,
    "dedup_containment": dedup_containment,
    "split_by_neardup_cluster": split_by_neardup_cluster,
}

ORACLE = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_SQL,
    "dedup_minhash_lsh": _minhash_oracle_sql(),
    "dedup_cluster_cc": _cluster_oracle_sql(),
    "dedup_simhash": _simhash_oracle_sql(),
    "dedup_embedding_cosine": DEDUP_EMBEDDING_SQL,
    "dedup_survivors": _survivors_oracle_sql(),
    "dedup_rep_weights": _rep_weights_oracle_sql(),
    "dedup_rate_by_source": _dup_rate_oracle_sql(),
    "semdedup_cells": _semdedup_oracle_sql(),
    "semantic_decontam_cells": _semantic_decontam_oracle_sql(),
    "ngram_novelty_by_source": NGRAM_NOVELTY_SQL,
    "dedup_containment": DEDUP_CONTAINMENT_SQL,
    "split_by_neardup_cluster": _split_by_cluster_oracle_sql(),
}

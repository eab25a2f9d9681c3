"""Physical-plan regression tests: the scale properties we rely on —
filter pushdown into the parquet scan, column pruning, broadcast joins
for dimensions, map-side partial aggregation — must be visible in the
plan, not assumed. A refactor that silently drops one of these would
still pass the value-correctness oracle but regress at scale; these
tests pin the plan shape."""

from __future__ import annotations

import contextlib
import io

import pytest

from stac_geoparquet_spark.operators import dedup, relational, relational_ext


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_ops(plan: str, name: str) -> int:
    """Count physical operators by their detail header '(id) Name' —
    the tree section repeats each operator, so a raw substring count
    double-counts."""
    import re

    return len(re.findall(rf"\(\d+\) {name}", plan))


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_q1_pushdown_pruning_partial_agg(spark, sf):
    plan = plan_of(relational.q1_pricing_summary(spark, sf))
    # shipdate predicate reaches the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: never reads orderkey/partkey/suppkey
    assert "l_orderkey" not in plan.split("ReadSchema")[1]
    # two-phase aggregate: a partial HashAggregate before the exchange
    assert n_ops(plan, "HashAggregate") == 2
    assert n_ops(plan, "Exchange") == 1
    assert "hashpartitioning(l_returnflag" in plan


def test_q6_all_predicates_pushed(spark, sf):
    plan = plan_of(relational_ext.q6_forecast_revenue(spark, sf))
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_shipdate" in pushed
    assert "GreaterThanOrEqual(l_discount,0.03)" in pushed
    assert "LessThan(l_quantity,24.0)" in pushed
    read = plan.split("ReadSchema")[1].splitlines()[0]
    for col in ("l_quantity", "l_discount", "l_extendedprice", "l_shipdate"):
        assert col in read
    assert "l_orderkey" not in read


def test_q3_broadcasts_filtered_customer(spark, sf):
    plan = plan_of(relational.q3_shipping_priority(spark, sf))
    assert "BroadcastHashJoin" in plan
    # the BUILDING filter is pushed into the customer scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    # top-k is TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_q5_dimension_chain_broadcast(spark, sf):
    plan = plan_of(relational.q5_region_revenue(spark, sf))
    # every dimension join is broadcast; only lineitem<->orders shuffles
    assert plan.count("BroadcastHashJoin") >= 4
    assert "EqualTo(r_name,ASIA)" in plan


def test_semi_anti_join_physical(spark, sf):
    assert "LeftSemi" in plan_of(
        relational.semi_join_active_customers(spark, sf)
    )
    assert "LeftAnti" in plan_of(
        relational.anti_join_inactive_customers(spark, sf)
    )


def test_dedup_exact_single_exchange(spark, sf):
    plan = plan_of(dedup.dedup_exact(spark, sf))
    # exactly one exchange: the window's hash partition on the content
    # hash, moving only (doc_id, hash) rows — text never shuffles (the
    # canonical corpus arrives as a materialized layout scan, not an
    # in-query exchange, and dedup_exact reads it spread=False)
    assert n_ops(plan, "Exchange") == 1
    assert "sgs_canon_documents" in plan


def test_simhash_no_shuffle(spark, sf):
    plan = plan_of(dedup.dedup_simhash(spark, sf))
    # a single projection pipeline: at most ONE exchange, and only the
    # explicit input-spread repartition.  The r11 8-file canonical
    # layout scans as 8 splits on the bench config (spread no-ops,
    # zero exchanges); at this suite's local[4] the openCost packing
    # folds the 8 files into 4 splits and the spread adds its one
    # round-robin exchange back.  Either way the simhash math itself
    # never shuffles.
    assert n_ops(plan, "Exchange") <= 1


def test_q17_threshold_table_broadcast(spark, sf):
    plan = plan_of(relational_ext.q17_small_qty_revenue(spark, sf))
    assert "BroadcastHashJoin" in plan


def test_moving_avg_single_window_sort(spark, sf):
    plan = plan_of(relational_ext.moving_avg_daily_revenue(spark, sf))
    assert "Window" in plan
    assert "RunningWindowFunction" in plan or "Sort" in plan


def test_q2_window_decorrelation_all_broadcast(spark, sf):
    """q2's correlated max is a window over the correlation key; every
    join is broadcast (part, supplier chain) — no sort-merge join."""
    from stac_geoparquet_spark.operators import relational_tpch2

    plan = plan_of(relational_tpch2.q2_best_supplier_per_part(spark, sf))
    assert n_ops(plan, "SortMergeJoin") == 0
    assert n_ops(plan, "BroadcastHashJoin") >= 3
    assert n_ops(plan, "Window") == 1


def test_q8_share_single_fact_shuffle(spark, sf):
    """q8: 7 joins, all broadcast; the fact table shuffles exactly once
    (into the year aggregation)."""
    from stac_geoparquet_spark.operators import relational_tpch2

    plan = plan_of(relational_tpch2.q8_market_share(spark, sf))
    assert n_ops(plan, "SortMergeJoin") == 0
    assert n_ops(plan, "BroadcastHashJoin") == 7
    assert n_ops(plan, "Exchange") == 1


def test_q11_single_lineitem_scan(spark, sf):
    """q11's global-total scalar must be derived from the per-supplier
    partials, not a second scan of lineitem."""
    from stac_geoparquet_spark.operators import relational_tpch2

    plan = plan_of(relational_tpch2.q11_important_supplier_value(spark, sf))
    assert plan.count("lineitem.parquet") == 1


def test_gapfill_single_scan_no_join(spark, sf):
    """Gap fill is lead+explode over the aggregated hourly rows: one
    events scan, no calendar join, and only the agg shuffle plus the
    tiny single-partition window exchange."""
    from stac_geoparquet_spark.operators import relational_ext3

    plan = plan_of(relational_ext3.gapfill_hourly_purchases(spark, sf))
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan
    assert n_ops(plan, "Exchange") == 2
    # event_type predicate reaches the parquet reader
    assert "EqualTo(event_type,purchase)" in plan


def test_split_holdout_single_scan_partial_agg(spark, sf):
    """The deterministic split is a pure projection over one documents
    scan feeding a two-phase aggregate; only text is read besides id."""
    from stac_geoparquet_spark.operators import text

    plan = plan_of(text.split_train_holdout(spark, sf))
    assert plan.count("documents.parquet") == 1
    assert n_ops(plan, "HashAggregate") == 2
    assert "Join" not in plan


def test_q21_one_pass_over_joined_fact(spark, sf):
    """q21 extracts the lone-late-supplier in the same orderkey
    aggregation that counts suppliers: lineitem and orders are each
    scanned once, and there is exactly one join of the two facts."""
    from stac_geoparquet_spark.operators import relational_tpch2

    plan = plan_of(relational_tpch2.q21_waiting_suppliers(spark, sf))
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("orders.parquet") == 1
    assert n_ops(plan, "SortMergeJoin") + n_ops(plan, "ShuffledHashJoin") <= 1


def test_spatial_grid_join_is_equi_join(spark, sf):
    """The grid-binned spatial join must plan as a hash equi-join on
    the cell key — never a nested-loop over the theta predicate — and
    emit each pair exactly once without a distinct exchange."""
    from stac_geoparquet_spark.operators import spatial

    plan = plan_of(spatial.spatial_join_grid(spark, sf))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        n_ops(plan, "SortMergeJoin")
        + n_ops(plan, "ShuffledHashJoin")
        + n_ops(plan, "BroadcastHashJoin")
        == 1
    )
    assert n_ops(plan, "HashAggregate") == 0  # no distinct pass


def test_sample_stratified_no_shuffle_scan_filter(spark, sf):
    from stac_geoparquet_spark.operators import stats

    plan = plan_of(stats.sample_stratified(spark, sf))
    assert n_ops(plan, "Exchange") == 0
    assert "ReadSchema" in plan


def test_sample_fixed_k_take_ordered(spark, sf):
    """Fixed-K hash sample = per-task top-K merged on the driver, not a
    global sort."""
    from stac_geoparquet_spark.operators import stats

    plan = plan_of(stats.sample_fixed_k(spark, sf))
    assert "TakeOrderedAndProject" in plan
    assert n_ops(plan, "Sort") == 0


def test_stats_partial_aggregation(spark, sf):
    from stac_geoparquet_spark.operators import stats

    plan = plan_of(stats.stats_quantity_price(spark, sf))
    assert n_ops(plan, "HashAggregate") == 2  # partial + final
    assert plan.count("lineitem.parquet") == 1


def test_skew_salted_join_shuffle_path(spark, sf):
    """The salted join must take the shuffle path (broadcast would hide
    the skew) with the salt in the join keys so hot keys decompose."""
    from stac_geoparquet_spark.operators import skew

    plan = plan_of(skew.skew_salted_flag_join(spark, sf))
    assert n_ops(plan, "ShuffledHashJoin") + n_ops(plan, "SortMergeJoin") == 1
    assert n_ops(plan, "BroadcastHashJoin") == 0
    assert "__salt" in plan


def test_funnel_single_scan_two_exchanges(spark, sf):
    """The conditional-min funnel reads events once and shuffles twice
    (per-user stage mins, then the 3-row stage rollup) — never a
    per-stage self-join of the event log."""
    from stac_geoparquet_spark.operators import funnel

    plan = plan_of(funnel.funnel_view_click_purchase(spark, sf))
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan
    assert n_ops(plan, "Exchange") == 2


def test_retention_single_fact_scan(spark, sf):
    from stac_geoparquet_spark.operators import funnel

    plan = plan_of(funnel.retention_weekly_cohorts(spark, sf))
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan
    assert n_ops(plan, "Window") == 1


def test_rolling_window_single_exchange(spark, sf):
    """The 24h range frame is one shuffle on user_id + an in-partition
    sliding frame — no self-join, no aggregate."""
    from stac_geoparquet_spark.operators import relational_ext3

    plan = plan_of(relational_ext3.rolling_24h_user_value(spark, sf))
    assert n_ops(plan, "Exchange") == 1
    assert n_ops(plan, "Window") == 1
    assert "Join" not in plan


def test_histogram_broadcast_bounds_partial_agg(spark, sf):
    """Bin bounds reach every row via a broadcast 1-row aggregate
    (never a driver round-trip) and the bucket rollup is two-phase."""
    from stac_geoparquet_spark.operators import relational_ext3

    plan = plan_of(relational_ext3.histogram_totalprice(spark, sf))
    assert (
        n_ops(plan, "BroadcastNestedLoopJoin")
        + n_ops(plan, "BroadcastHashJoin")
        == 1
    )
    assert n_ops(plan, "HashAggregate") == 4  # bounds pair + bucket pair


def test_ann_lsh_is_bucket_equi_join(spark, sf):
    """The LSH index must do work: candidates come from a broadcast
    equi-join on the bucket key, so off-bucket vectors never reach the
    scorer (no full Q x N GEMM + mask)."""
    from stac_geoparquet_spark.operators import similarity

    plan = plan_of(similarity.ann_lsh_bucketed(spark, sf))
    assert n_ops(plan, "BroadcastHashJoin") == 1
    # the join's hash keys are the bucket columns (equi-join on bucket)
    detail = plan.split("BroadcastHashJoin")[-1]
    left_keys = [ln for ln in detail.splitlines() if "Left keys" in ln]
    assert left_keys and "bucket" in left_keys[0]
    # candidate scoring runs AFTER the join: two Python stages total
    # (bucketize before the join, candidate scorer after)
    assert n_ops(plan, "FlatMapGroupsInPandas") + n_ops(plan, "MapInPandas") == 2
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 0


def test_ann_ivf_partition_pruned_scan(spark, sf):
    """IVF n-probe reads ONLY the probed cells of the ivf_cell-
    partitioned layout: the cell predicate must appear as a partition
    filter on the layout scan (pruning, not post-scan masking)."""
    from stac_geoparquet_spark.operators import similarity

    plan = plan_of(similarity.ann_ivf_probe(spark, sf))
    scan_sections = [
        s for s in plan.split("(1) Scan parquet") if "ivf_layout" in s
    ] or [s for s in plan.split("Scan parquet") if "ivf_layout" in s]
    assert scan_sections, f"no layout scan found:\n{plan}"
    layout_scan = scan_sections[0]
    assert "PartitionFilters" in layout_scan
    assert "INSET" in layout_scan.split("PartitionFilters")[1].splitlines()[0]
    assert n_ops(plan, "BroadcastHashJoin") == 1
    assert n_ops(plan, "CartesianProduct") == 0


def test_ngram_jaccard_candidates_path(spark, sf):
    """Default ngram-Jaccard verifies only MinHash/LSH candidate pairs
    (linear in band-bucket occupancy); the exhaustive posting-list
    expansion — quadratic in hot shingles — exists only behind
    exact_all_pairs=True, and the two agree on this corpus."""
    from pyspark.sql import functions as F

    fast = dedup.dedup_ngram_jaccard(spark, sf)
    # the default path must not group pair expansion by shingle hash
    plan = plan_of(fast)
    assert "hashpartitioning(shash" not in plan
    exact = dedup.dedup_ngram_jaccard(spark, sf, exact_all_pairs=True)
    key = lambda df: sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"]) for r in df.collect()
    )
    assert key(fast) == key(exact)


def test_vocab_topk_no_global_sort(spark, sf):
    """Global vocab top-K is TakeOrderedAndProject over partial counts
    — never a full sort of the vocabulary; the ranking window runs on
    the K survivors only (after the limit)."""
    from stac_geoparquet_spark.operators import text

    plan = plan_of(text.vocab_top_terms(spark, sf))
    assert "TakeOrderedAndProject" in plan
    assert n_ops(plan, "Window") == 1


def test_length_buckets_partial_agg_pruned_scan(spark, sf):
    """Single-pass bucketing: partial + final hash aggregate around one
    exchange on the bucket key, and the scan reads ONLY the text
    column."""
    from stac_geoparquet_spark.operators import text

    plan = plan_of(text.doc_length_buckets(spark, sf))
    assert n_ops(plan, "HashAggregate") == 2
    assert "hashpartitioning(bucket" in plan
    read = plan.split("ReadSchema")[1].splitlines()[0]
    assert "text" in read and "doc_id" not in read


def test_quantize_single_projection_no_shuffle(spark, sf):
    """int8 quantization is a pure projection pipeline: no exchange, no
    join, no Python stage."""
    from stac_geoparquet_spark.operators import similarity

    plan = plan_of(similarity.embedding_quantize_int8(spark, sf))
    assert n_ops(plan, "Exchange") == 0
    assert n_ops(plan, "FlatMapGroupsInPandas") + n_ops(plan, "MapInPandas") == 0


def test_survivors_no_cartesian(spark, sf):
    """Corpus x labels keep-list join must be an equi-join (broadcast
    or shuffle — AQE's choice by label-table size), never a cartesian
    or nested-loop product."""
    from stac_geoparquet_spark.operators import dedup as dd

    plan = plan_of(dd.dedup_survivors(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 0


def test_bucketed_join_no_exchange(spark, sf):
    """The co-located fact-fact join: both sides read bucketed on the
    join key (Bucketed: true), the SortMergeJoin has NO Exchange on
    either input — the only exchange in the plan is the final tiny
    aggregation's."""
    from stac_geoparquet_spark.operators import bucketing

    plan = plan_of(bucketing.bucketed_colocated_join(spark, sf))
    assert "Bucketed: true" in plan
    assert n_ops(plan, "SortMergeJoin") == 1
    assert n_ops(plan, "Exchange") == 1  # only the groupBy's
    assert "hashpartitioning(o_orderpriority" in plan


def test_chunk_documents_no_shuffle(spark, sf):
    """Chunking is a pure per-row generate: scan -> repartition ->
    generate/project, with no aggregation exchange and no join."""
    from stac_geoparquet_spark.operators import pipeline as pl

    plan = plan_of(pl.chunk_documents(spark, sf))
    assert n_ops(plan, "Generate") == 1
    assert n_ops(plan, "HashAggregate") == 0
    assert n_ops(plan, "SortMergeJoin") == 0
    assert n_ops(plan, "CartesianProduct") == 0
    # r10: zero exchanges — the toy-file spread repartition was dropped
    # (per-row generate needs no redistribution; guide §2.4)
    assert n_ops(plan, "Exchange") == 0


def test_decontam_single_scan_window_on_gram(spark, sf):
    """Contamination check must scan the documents table exactly once:
    the holdout flag comes from a window max over the gram partition,
    not a train-vs-holdout self-join (whose pushed split filters defeat
    exchange reuse and re-run the scan + n-gram build per branch)."""
    from stac_geoparquet_spark.operators import pipeline as pl

    plan = plan_of(pl.decontaminate_against_holdout(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Window") == 1
    assert "hashpartitioning(ngram" in plan
    assert n_ops(plan, "SortMergeJoin") == 0
    assert n_ops(plan, "CartesianProduct") == 0


def test_pack_sequences_no_global_window(spark, sf):
    """The prefix sum must be the two-phase form: every Window over the
    full doc table is partitioned by the bucket key; the only
    unpartitioned Window runs over the tiny bucket-offset table (input
    = an aggregated frame, not the base scan)."""
    from stac_geoparquet_spark.operators import pipeline as pl

    plan = plan_of(pl.pack_sequences(spark, sf))
    # per-doc window is partitioned by bucket
    assert "partitionBy: [bucket" in plan.replace("#", " #").replace(
        "bucket#", "bucket #"
    ) or "[bucket" in plan
    # the doc-side window exchange hashes on bucket, not a single range
    assert "hashpartitioning(bucket" in plan
    # the unpartitioned (SinglePartition) exchanges feed only the
    # bucket-offset aggregate (|docs|/65536 rows) and the 1-row
    # merge-vocab collect over the 20-row cached BPE table
    assert plan.count("SinglePartition") <= 3


def test_edit_distance_join_prefix_filtered(spark, sf):
    """The string-similarity join must never plan a cartesian or
    nested-loop product: candidates come from an equi-join on prefix
    grams, the gram-frequency table is broadcast, and the Levenshtein
    verify runs post-candidate only."""
    from stac_geoparquet_spark.operators import curation

    plan = plan_of(curation.edit_distance_join(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 0
    assert "levenshtein" in plan
    assert n_ops(plan, "BroadcastHashJoin") >= 1  # freq and/or name joins


def test_semdedup_incremental_pruned_index_scan(spark, sf):
    """The incremental matcher reads ONLY the cells the incoming batch
    touches (partition filter on the layout scan), scores in one Arrow
    pass against the broadcast batch, and never pairwise-joins."""
    from stac_geoparquet_spark.streaming import semdedup as ssd

    plan = plan_of(ssd.semdedup_incremental(spark, sf))
    scan_sections = [
        s for s in plan.split("Scan parquet") if "ivf_layout" in s
    ]
    assert scan_sections, f"no layout scan found:\n{plan}"
    assert "PartitionFilters" in scan_sections[0]
    assert n_ops(plan, "MapInPandas") == 1
    assert n_ops(plan, "CartesianProduct") == 0


def test_semdedup_cell_local_no_pairwise_join(spark, sf):
    """SemDeDup: one scan of the cell-partitioned layout into ONE
    grouped per-cell GEMM stage — the pair space never materializes
    through Catalyst (no self-join, no cartesian), and the only
    exchange is the groupBy(cell) hash."""
    from stac_geoparquet_spark.operators import dedup

    plan = plan_of(dedup.semdedup_cells(spark, sf))
    assert n_ops(plan, "FlatMapGroupsInPandas") == 1
    assert n_ops(plan, "Scan parquet") == 1
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert n_ops(plan, j) == 0
    assert "hashpartitioning(ivf_cell" in plan


def test_dsir_no_global_window_no_cartesian(spark, sf):
    """DSIR: the top-K selection is TakeOrdered + broadcast keep-list,
    never a global row_number window (single-task sort of every train
    doc); the only nested-loop join is the broadcast 1-row totals."""
    from stac_geoparquet_spark.operators import pipeline as pl

    plan = plan_of(pl.dsir_importance_weights(spark, sf))
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastHashJoin") >= 1


def test_dsir_per_doc_aggregate_built_once(spark, sf):
    """DSIR has no fence: the output branch and the top-K keep-list
    must read ONE per-doc aggregate. In the FINAL adaptive plan the
    hashpartitioning(doc_id) shuffle is materialized once and the
    top-K branch reads it as a ReusedExchange, so the token-scoring
    join below it runs once per call."""
    import re

    from stac_geoparquet_spark.operators import pipeline as pl

    df = pl.dsir_importance_weights(spark, sf)
    df.collect()
    final = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    final_section = final.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final_section
    real = re.findall(r"\+\- Exchange hashpartitioning\(doc_id", final_section)
    reused = re.findall(
        r"ReusedExchange .*Exchange hashpartitioning\(doc_id", final_section
    )
    assert len(real) == 1
    assert len(reused) == 1


def test_token_budget_two_phase_prefix_sum(spark, sf):
    """The budget selector's running sum is the range-partitioned
    two-phase form (round-3 verdict fix): the per-doc window partitions
    by spark_partition_id over ONE rangepartitioning exchange that AQE
    must REUSE for the offset branch (so both phases see identical
    sampled boundaries — correctness depends on that reuse, which only
    materializes in the final adaptive plan), and the P-row offset
    table joins back broadcast."""
    from stac_geoparquet_spark.operators import pipeline as pl

    df = pl.select_token_budget(spark, sf)
    plan = plan_of(df)
    # the per-row window partitions on the scaling partition id, not a
    # statically-bounded band key
    assert "hashpartitioning(part" in plan
    assert "hashpartitioning(band" not in plan
    assert plan.count("SinglePartition") <= 2
    assert n_ops(plan, "CartesianProduct") == 0
    # execute, then pin the runtime reuse in the FINAL adaptive plan:
    # exactly one materialized range shuffle, the other branch reads it
    # as a ReusedExchange (collect, not count: count() spawns a
    # separate query execution and leaves df's own plan non-final)
    df.collect()
    final = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    final_section = final.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final_section
    # one MATERIALIZED range shuffle ("+- Exchange rangepartitioning"
    # node lines; the ReusedExchange line re-states the reused node's
    # description so a raw substring count double-counts)
    import re

    real = re.findall(r"\+\- Exchange rangepartitioning", final_section)
    assert len(real) == 1
    assert "ReusedExchange" in final_section
    assert (
        "rangepartitioning"
        in final_section.split("ReusedExchange")[1].splitlines()[0]
    )


def test_bigram_entropy_doc_keyed_aggs_no_join(spark, sf):
    """Entropy is one scan -> explode -> two doc-clustered hash
    aggregates; no join, no window, no Python."""
    from stac_geoparquet_spark.operators import pipeline as pl

    plan = plan_of(pl.text_bigram_entropy(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Window") == 0
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert n_ops(plan, j) == 0
    assert n_ops(plan, "FlatMapGroupsInPandas") + n_ops(plan, "MapInPandas") == 0


def test_quality_repetition_single_scan_zero_shuffle(spark, sf):
    """One documents scan and a pure projection pipeline: the 2-gram
    repetition rollup is computed in-row (run lengths over the sorted
    gram array) — no explode, no aggregation, no exchange beyond the
    conditional toy-input spread, no join."""
    from stac_geoparquet_spark.operators import pipeline as pl

    plan = plan_of(pl.quality_repetition(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert "Join" not in plan
    assert n_ops(plan, "HashAggregate") == 0
    assert n_ops(plan, "Generate") == 0
    assert n_ops(plan, "Exchange") <= 1  # the conditional spread only


def test_agg_pushdown_reads_only_footers(spark, sf):
    """COUNT/MIN/MAX must be answered by the parquet footer statistics:
    the DSv2 scan carries PushedAggregation and the plan has no
    full-scan aggregate pass over data pages."""
    from stac_geoparquet_spark.operators import scan_opt

    plan = plan_of(scan_opt.agg_pushdown_stats(spark, sf))
    assert "PushedAggregation: [COUNT(*), MIN(o_totalprice), MAX(o_totalprice)]" in plan


def test_dpp_fact_scan_is_dynamically_pruned(spark, sf):
    """The year-partitioned fact scan's PartitionFilters must contain
    the runtime dynamicpruningexpression fed by the broadcast dim —
    non-selected year partitions are never listed or read."""
    from stac_geoparquet_spark.operators import scan_opt

    plan = plan_of(scan_opt.dpp_orders_by_year(spark, sf))
    assert "dynamicpruningexpression" in plan
    assert "BroadcastHashJoin" in plan


def test_rebalance_no_window_broadcast_thresholds(spark, sf):
    """Per-language downsampling must be the scan-side filter form:
    threshold table broadcast onto one corpus pass — no per-language
    Window (a handful of skewed partitions at scale) and no cartesian."""
    from stac_geoparquet_spark.operators import pipeline as pl

    plan = plan_of(pl.rebalance_by_lang(spark, sf))
    assert n_ops(plan, "Window") == 0
    assert "BroadcastHashJoin" in plan
    assert n_ops(plan, "CartesianProduct") == 0


def test_class_profile_keyed_two_phase_aggs(spark, sf):
    """Centroids are keyed (label, dim) two-phase aggregates; the
    distance pass joins back on the same keys — no nested-loop."""
    from stac_geoparquet_spark.operators import similarity

    plan = plan_of(similarity.embedding_class_profile(spark, sf))
    assert "hashpartitioning(label" in plan
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 0


def test_zipf_fit_on_distributed_topk(spark, sf):
    """The Zipf regression ranks only the top-K survivors: the vocab
    head comes from TakeOrderedAndProject (distributed top-K), never a
    global Sort of the full vocabulary."""
    from stac_geoparquet_spark.operators import curation

    plan = plan_of(curation.text_zipf_slope(spark, sf))
    assert n_ops(plan, "TakeOrderedAndProject") == 1
    assert n_ops(plan, "Scan parquet") == 1


def test_cross_lang_single_scan_no_join(spark, sf):
    """The language-pair audit reads the corpus ONCE and never joins:
    per-gram language sets explode to in-row pair combinations (a
    gram-keyed self-join would rescan + re-shingle per side)."""
    from stac_geoparquet_spark.operators import curation

    plan = plan_of(curation.cross_lang_contamination(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert n_ops(plan, j) == 0


def test_substring_spans_single_scan_window_mark(spark, sf):
    """Duplicated-span coverage is one corpus scan; the cross-doc test
    is a window min/max over the shingle hash (no self-join), and the
    rollup is a two-phase doc-keyed aggregate."""
    from stac_geoparquet_spark.operators import curation

    plan = plan_of(curation.dedup_substring_spans(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Window") == 1
    assert n_ops(plan, "HashAggregate") == 2
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert n_ops(plan, j) == 0


def test_pq_encode_single_pass_no_shuffle_after_spread(spark, sf):
    """The PQ index build is one scan into one Arrow-batched encode
    pass — no join, no window; exchanges are the conditional toy-input
    spread plus the canonical-by-id keyed aggregate (index builds
    collapse re-ingested duplicate vec_ids — _canon.py — and the
    partial min(embedding) combines map-side before the exchange)."""
    from stac_geoparquet_spark.operators import similarity

    plan = plan_of(similarity.pq_encode_codes(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "MapInPandas") == 1
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "Exchange") <= 2
    # the canonical aggregate must stay partial/final (map-side
    # combine), not a per-id window
    assert "partial_min" in plan


def test_pq_adc_batch_topk_then_group_limit(spark, sf):
    """IVFPQ search: ONE scan of the ivf_cell-partitioned layout with
    the probed cells as a PARTITION filter (non-probed cells never
    read), per-batch local top-k inside the encode+score pass, then
    the rank window — with WindowGroupLimit pushed below the shuffle
    so only k rows per (partition, query) move."""
    from stac_geoparquet_spark.operators import similarity

    plan = plan_of(similarity.ann_pq_adc(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "MapInPandas") == 1
    assert n_ops(plan, "WindowGroupLimit") >= 1
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert n_ops(plan, j) == 0
    # the code scan is the IVF layout, pruned to the probed cells
    scan_sections = [
        s for s in plan.split("Scan parquet") if "ivf_layout" in s
    ]
    assert scan_sections, f"ADC must scan the IVF layout:\n{plan}"
    pf_line = scan_sections[0].split("PartitionFilters")[1].splitlines()[0]
    assert "INSET" in pf_line or "isin" in pf_line


def test_decontam_bloom_semijoin_plan(spark, sf):
    """The Bloom decontamination path: a runtime Bloom filter built
    from the holdout side must reach the train-side scan of the gram
    index (might_contain BEFORE the shuffle), the gram join must be a
    left-semi shuffle join, and nothing may cartesian."""
    from stac_geoparquet_spark.operators import pipeline as pl

    plan = plan_of(pl.decontam_bloom_semijoin(spark, sf))
    assert "might_contain" in plan, f"no runtime Bloom filter:\n{plan}"
    assert "LeftSemi" in plan
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 0
    # the filtered branch carrying the Bloom is the train bucket
    assert "= train" in plan


def test_yield_funnel_single_scan(spark, sf):
    """The yield report reads the corpus ONCE: explode_outer keeps
    short docs in-band (no union branch re-scanning the table), and
    every shuffle is keyed — no join, no cartesian."""
    from stac_geoparquet_spark.operators import pipeline as pl

    plan = plan_of(pl.corpus_yield_funnel(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Union") == 0
    for j in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert n_ops(plan, j) == 0


def test_winnowing_pure_map_no_shuffle(spark, sf):
    """Winnowing fingerprints are computed entirely in-row: one scan,
    only projections — no explode-driven Generate, no aggregation, no
    window; the only exchange is the conditional toy-input spread."""
    from stac_geoparquet_spark.operators import curation

    plan = plan_of(curation.fingerprint_winnowing(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Generate") == 0
    assert n_ops(plan, "HashAggregate") == 0
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "Exchange") <= 1


def test_cms_partial_agg_bounded_cells(spark, sf):
    """The CMS build is a (row, bucket)-keyed two-phase aggregate (its
    output is bounded at DEPTH x WIDTH cells at any corpus size) and
    the probe lookup is a broadcast join — no corpus-sized shuffle on
    the estimate side, no cartesian."""
    from stac_geoparquet_spark.operators import stats

    plan = plan_of(stats.sketch_cms_heavy_hitters(spark, sf))
    assert "BroadcastHashJoin" in plan
    assert n_ops(plan, "TakeOrderedAndProject") == 1
    assert n_ops(plan, "CartesianProduct") == 0


def test_bloom_filter_pushed_into_fact_scan(spark, sf):
    """The runtime Bloom filter must actually inject: might_contain on
    the lineitem side, a bloom_filter_agg build on the filtered orders
    side, and no broadcast (the shuffle path is the one the feature
    exists for)."""
    from stac_geoparquet_spark.operators import scan_opt

    plan = plan_of(scan_opt.bloom_filter_semijoin(spark, sf))
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan
    assert n_ops(plan, "BroadcastHashJoin") == 0


def test_kmv_overlap_two_phase_bottom_k(spark, sf):
    """The per-source KMV sketch build is the two-phase bottom-K
    (round-3 verdict fix): phase 1 windows over (source, shuffle
    partition id) — partition count scales with the cluster — and
    phase 2 merges the bounded P*K candidates with an AGGREGATE; no
    window anywhere partitions by bare `source` (which would sort a
    source's full distinct-hash set on one reducer).  The remaining
    (src_a, src_b) window runs over <= 2K merged sketch rows per pair —
    bounded input, allowlisted."""
    import re

    from stac_geoparquet_spark.operators import stats

    plan = plan_of(stats.kmv_source_overlap(spark, sf))
    # phase 1: partition spec is (source, pid)
    assert re.search(r"windowspecdefinition\(source#\d+, pid#", plan)
    # the old single-phase shape: a window partitioned by source alone,
    # ordering by th — must not reappear
    assert not re.search(r"windowspecdefinition\(source#\d+, th#", plan)
    assert n_ops(plan, "CartesianProduct") == 0


def test_substring_removal_slim_marking_no_pairwise_join(spark, sf):
    """Duplicate-span REMOVAL discovers duplicates by hash grouping,
    never by pairwise candidate matching, and tile TEXT never enters
    the marking shuffles: the hash window and the doc rollup move only
    (doc_id, tile_idx, h); the single equi-join rebuilds cleaned text
    in-row from the kept-index arrays against the documents scan."""
    import re

    from stac_geoparquet_spark.operators import curation

    plan = plan_of(curation.dedup_substring_removal(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 0
    assert (
        n_ops(plan, "SortMergeJoin")
        + n_ops(plan, "ShuffledHashJoin")
        + n_ops(plan, "BroadcastHashJoin")
        == 1
    )
    assert n_ops(plan, "Window") == 1
    # the h-partitioned exchange's input is slim — no text column rides
    # through the marking shuffle
    m = re.search(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\nArguments: hashpartitioning\(h#",
        plan,
    )
    assert m, "h exchange not found"
    assert "text" not in m.group(1)


def test_cap_per_source_two_phase_no_bare_source_window(spark, sf):
    """The per-source quota is a grouped top-K without a per-group
    sort: the only window partitions by (source, shuffle partition),
    the M-th-best threshold table joins back broadcast, and no window
    partitions by bare source (the bounded-key class the registry
    sweep rejects)."""
    import re

    from stac_geoparquet_spark.operators import pipeline as pl

    plan = plan_of(pl.cap_docs_per_source(spark, sf))
    assert re.search(r"windowspecdefinition\(source#\d+, pid#", plan)
    assert not re.search(r"windowspecdefinition\(source#\d+, q#", plan)
    assert n_ops(plan, "BroadcastHashJoin") == 1
    assert n_ops(plan, "SortMergeJoin") == 0
    assert n_ops(plan, "CartesianProduct") == 0


def test_source_quota_two_phase_no_bare_source_window(spark, sf):
    """The batch quota stand-in is the two-phase first-M: the only
    window partitions by (source, shuffle partition); the threshold
    joins back broadcast."""
    import re

    from stac_geoparquet_spark.streaming import quota

    plan = plan_of(quota.source_quota_incremental(spark, sf))
    assert re.search(r"windowspecdefinition\(source#\d+, pid#", plan)
    assert not re.search(r"windowspecdefinition\(source#\d+, doc_id#", plan)
    assert n_ops(plan, "BroadcastHashJoin") == 1
    assert n_ops(plan, "CartesianProduct") == 0


def test_gopher_rules_pure_scan_no_shuffle(spark, sf):
    """The Gopher rule filter is an in-row expression pipeline: no
    exchange beyond the input-spread repartition, no Python stage, and
    the scan reads only the columns the rules touch."""
    from stac_geoparquet_spark.operators import text

    plan = plan_of(text.gopher_quality_rules(spark, sf))
    assert n_ops(plan, "Exchange") <= 1  # input-spread only
    assert n_ops(plan, "MapInPandas") + n_ops(plan, "ArrowEvalPython") == 0
    assert "lang" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_classifier_in_row_fold_no_shuffle(spark, sf):
    """The hashing-trick classifier is one in-row fold: no exchange
    beyond the input spread, no join, no Python stage."""
    from stac_geoparquet_spark.operators import text

    plan = plan_of(text.quality_classifier_score(spark, sf))
    assert n_ops(plan, "Exchange") <= 1
    assert n_ops(plan, "SortMergeJoin") + n_ops(plan, "BroadcastHashJoin") == 0
    assert n_ops(plan, "MapInPandas") + n_ops(plan, "ArrowEvalPython") == 0


def test_covariance_partial_gemm_single_merge_shuffle(spark, sf):
    """Heavy stage (pre-fence): exactly one GEMM pass and one bounded
    (i, j) merge shuffle on top of the canonical-by-id exchange.
    Assembly (post-fence): reads the checkpointed partial matrix — NO
    parquet re-scan, no second MapInArrow — and joins the d-row sum
    sides broadcast.  Pins the fix for the reuse bug where Catalyst
    re-executed the whole scan+GEMM for each of the three consumers."""
    from stac_geoparquet_spark.operators import similarity

    heavy = plan_of(similarity._covariance_merged(spark, sf))
    assert n_ops(heavy, "MapInArrow") == 1
    assert n_ops(heavy, "Scan parquet") == 1
    assert n_ops(heavy, "Window") == 0

    full = plan_of(similarity.embedding_covariance(spark, sf))
    assert n_ops(full, "Scan parquet") == 0
    assert n_ops(full, "MapInArrow") == 0
    assert n_ops(full, "BroadcastHashJoin") == 2
    assert n_ops(full, "SortMergeJoin") == 0


def test_novelty_no_gram_join_back(spark, sf):
    """ngram_novelty_by_source: the owned-count comes from aggregating
    the OWNERS table, never from joining owners back into the full
    gram table — the only join keys in the plan are doc_id (one row
    per doc on each side).  The gram-side aggs are two-phase (map-side
    combine absorbs hot shingles)."""
    from stac_geoparquet_spark.operators import dedup as ddp

    plan = plan_of(ddp.ngram_novelty_by_source(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 0
    # no join carries the gram hash — grep every join key list
    import re

    for m in re.finditer(r"(Left|Right) keys \[\d+\]: \[([^\]]*)\]", plan):
        assert "shash" not in m.group(2), m.group(0)
    # gram-keyed min/count aggs combine map-side (partial + final)
    assert n_ops(plan, "HashAggregate") >= 6


def test_containment_df_capped_posting_join(spark, sf):
    """dedup_containment: candidates come from RARE-gram posting
    joins (df <= cap bounds the pair expansion); verification is a
    JVM array_intersect over the bounded candidate set — no nested
    loop, no cartesian anywhere."""
    from stac_geoparquet_spark.operators import dedup as ddp

    plan = plan_of(ddp.dedup_containment(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 0
    # the df cap filter sits between the gram agg and the posting join
    assert "df#" in plan and "<= 10" in plan
    # exact verify in the JVM, not Python
    assert "array_intersect" in plan
    assert n_ops(plan, "MapInPandas") == 0


def test_label_agreement_cell_local_partials(spark, sf):
    """knn_label_agreement: ONE cell-grouped Python stage (the
    |cell|^2 audit), per-label partials combined by a two-phase JVM
    agg; the canonical-by-id window gets the WindowGroupLimit
    rank-pushdown (partial limit before the exchange)."""
    from stac_geoparquet_spark.operators import similarity as sim

    plan = plan_of(sim.knn_label_agreement(spark, sf))
    assert n_ops(plan, "FlatMapGroupsInPandas") == 1
    assert n_ops(plan, "MapInPandas") == 1
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "WindowGroupLimit") == 2  # partial + final
    assert n_ops(plan, "HashAggregate") == 2  # label rollup two-phase
    # exactly: canonical vec_id, ivf_cell group, label rollup
    assert n_ops(plan, "Exchange") == 3


def test_random_projection_pure_map(spark, sf):
    """embedding_random_projection: a broadcast-matrix GEMM map — no
    joins, no windows; the only exchanges are the conditional toy-
    scale spread and the canonical-by-id build agg every index path
    pays."""
    from stac_geoparquet_spark.operators import similarity as sim

    plan = plan_of(sim.embedding_random_projection(spark, sf))
    assert n_ops(plan, "MapInPandas") == 1
    assert n_ops(plan, "Exchange") <= 2
    assert n_ops(plan, "Window") == 0
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert n_ops(plan, op) == 0


def test_nfc_audit_python_partials_one_shuffle(spark, sf):
    """text_nfc_audit: the Python normalization stage emits per-batch
    per-lang PARTIALS (manual map-side combine), so the lang shuffle
    carries |langs| x n_batches rows; one two-phase JVM agg on top."""
    from stac_geoparquet_spark.operators import text as txt

    plan = plan_of(txt.text_nfc_audit(spark, sf))
    assert n_ops(plan, "MapInPandas") == 1
    assert n_ops(plan, "HashAggregate") == 2
    for op in ("SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert n_ops(plan, op) == 0
    # scan prunes to the two audited columns
    read = plan.split("ReadSchema")[1].splitlines()[0]
    assert "text" in read and "lang" in read and "doc_id" not in read


def test_cdc_chunking_in_row_two_phase_rollup(spark, sf):
    """mm_cdc_chunk_dedup: boundary detection + chunk hashing are
    in-row expressions (no Python stage, no join); the only shuffles
    are the two chained map-side-combinable aggregates (chunk counts,
    then the 3-row modality report)."""
    from stac_geoparquet_spark.operators import multimodal as mm

    plan = plan_of(mm.mm_cdc_chunk_dedup(spark, sf))
    assert n_ops(plan, "MapInPandas") == 0
    assert n_ops(plan, "Generate") == 1  # the chunk explode
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert n_ops(plan, op) == 0
    assert n_ops(plan, "HashAggregate") == 4  # two aggs x two phases


def test_pca_projection_broadcast_fold_no_python(spark, sf):
    """pca_power_projection: after the (shared, verified) covariance
    build and the 64x64 driver eigensolve, the corpus pass is an
    in-row fold against broadcast component literals — no Python
    stage, no keyed join; only the canonical-by-id window and the
    per-label two-phase rollup shuffle.  r11: the per-dimension mean
    (the projection's centering constant) attaches in-plan as a 1-row
    broadcast instead of a construction-time collect — two more
    bounded aggregates (the d-row mean + the ordered center fold) and
    one BroadcastNestedLoopJoin in the plan, one fewer driver-synced
    job per call."""
    from stac_geoparquet_spark.operators import similarity as sim

    plan = plan_of(sim.pca_power_projection(spark, sf))
    for op in (
        "MapInPandas",
        "MapInArrow",
        "SortMergeJoin",
        "BroadcastHashJoin",
        "CartesianProduct",
    ):
        assert n_ops(plan, op) == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1  # the 1-row center
    assert n_ops(plan, "HashAggregate") == 4  # label rollup + mean/center
    # the canonical-by-id window appears twice statically (score pass +
    # mean pass consume the same canonical subtree; identical copies
    # dedup via AQE stage reuse at runtime)
    assert n_ops(plan, "WindowGroupLimit") == 4


def test_classifier_trained_same_plan_shape_as_untrained(spark, sf):
    """The trained-weights classifier's SCORING plan must be shape-
    identical to the synthetic-weights one — the advertised upgrade
    path ("trained weights = a 1024-slot broadcast lookup, same
    plan"): a pure in-row fold, no Exchange beyond the test-only input
    spread, no Python stage, and the weight array reaching rows as a
    literal (visible as element_at over the embedded array), never as
    a per-token join."""
    from stac_geoparquet_spark.operators import text

    p_trained = plan_of(text.quality_classifier_trained(spark, sf))
    p_base = plan_of(text.quality_classifier_score(spark, sf))
    for p in (p_trained, p_base):
        assert n_ops(p, "Project") == 1
        assert n_ops(p, "HashAggregate") == 0
        assert n_ops(p, "SortMergeJoin") + n_ops(p, "BroadcastHashJoin") == 0
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert n_ops(p_trained, "Exchange") == n_ops(p_base, "Exchange")
    assert "element_at" in p_trained


def test_weighted_sample_is_take_ordered(spark, sf):
    """Global top-K must plan as TakeOrderedAndProject (per-partition
    top-K + K*P merge) — never a global Sort or a bare row_number
    window, which would funnel the corpus through one task."""
    from stac_geoparquet_spark.operators import pipeline

    plan = plan_of(pipeline.sample_weighted_k(spark, sf))
    assert n_ops(plan, "TakeOrderedAndProject") == 1
    assert n_ops(plan, "Sort") == 0
    assert n_ops(plan, "Window") == 0


def test_pii_scrub_is_pure_map(spark, sf):
    """Detection + redaction are in-row regex expressions: no shuffle
    beyond the test-only input spread, no Python stage, text + doc_id
    only in the read schema."""
    from stac_geoparquet_spark.operators import curation

    plan = plan_of(curation.text_pii_scrub(spark, sf))
    assert n_ops(plan, "HashAggregate") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    read = plan.split("ReadSchema")[1].splitlines()[0]
    assert "lang" not in read and "source" not in read


def test_decayed_activity_single_shuffle(spark, sf):
    """The max-anchor window and the final groupBy share the user_id
    hash partitioning: exactly ONE hashpartitioning exchange."""
    from stac_geoparquet_spark.operators import relational_ext3

    plan = plan_of(relational_ext3.events_decayed_activity(spark, sf))
    assert plan.count("hashpartitioning(user_id") >= 1
    assert n_ops(plan, "Exchange") == 1


def test_divergence_windows_only_on_scaling_keys(spark, sf):
    """The KL regrouping exists to avoid a window over the bounded
    `source` key: the only partitioned window must key on the token;
    source totals come from the aggregate itself."""
    import re

    from stac_geoparquet_spark.operators import text

    plan = plan_of(text.source_unigram_divergence(spark, sf))
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        assert "source" not in spec.split("ORDER")[0] or "tok" in spec, spec


def test_hll_state_is_bounded_aggregate(spark, sf):
    """The sketch aggregates to (event_type, bucket) rows — bounded by
    the sketch size — with a map-side partial before the exchange, and
    no Python stage anywhere."""
    from stac_geoparquet_spark.operators import stats

    plan = plan_of(stats.sketch_hll_distinct(spark, sf))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert n_ops(plan, "HashAggregate") >= 2  # partial + final


def test_standardize_scoring_is_pure_map(spark, sf):
    """r11: the 2*K bounded stats attach IN-PLAN as a 1-row broadcast
    (BroadcastNestedLoopJoin) instead of a construction-time collect —
    one job, no keyed join, no shuffle of the vectors, no Python."""
    from stac_geoparquet_spark.operators import similarity

    plan = plan_of(similarity.embedding_standardize(spark, sf))
    assert n_ops(plan, "SortMergeJoin") + n_ops(plan, "BroadcastHashJoin") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1  # the 1-row stats
    assert n_ops(plan, "Window") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winsorize_bounds_join_is_broadcast(spark, sf):
    """The per-lang [p05, p95] table is tiny and must come back as a
    broadcast join, never a shuffle join of the corpus on lang."""
    from stac_geoparquet_spark.operators import text

    plan = plan_of(text.quality_winsorize(spark, sf))
    assert n_ops(plan, "BroadcastHashJoin") == 1
    assert n_ops(plan, "SortMergeJoin") == 0


def test_triangle_census_joins_only_the_pair_graph(spark, sf):
    """Triangle enumeration must join the verified pair set with
    itself — three joins, every scan a checkpoint leaf of the tiny
    pair graph — and never re-touch the documents corpus (the fenced
    pair cache is the only input)."""
    from stac_geoparquet_spark.operators import graph

    plan = plan_of(graph.graph_triangle_count(spark, sf))
    assert "documents.parquet" not in plan
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan or (
        n_ops(plan, "Scan") == 0
    )


def test_rfm_single_user_shuffle_and_broadcast_cuts(spark, sf):
    """RFM pays one user_id exchange for the per-user aggregate; the
    anchor and the three median cut points come back as broadcast
    single-row joins (BroadcastNestedLoopJoin on 1 row), never a
    shuffle join or a corpus-keyed window."""
    from stac_geoparquet_spark.operators import relational_ext3

    plan = plan_of(relational_ext3.events_rfm_segments(spark, sf))
    assert plan.count("hashpartitioning(user_id") >= 1
    assert n_ops(plan, "SortMergeJoin") == 0
    assert n_ops(plan, "Window") == 0


def test_hll_incremental_is_pure_relational_merge(spark, sf):
    """The three-delta fold is unions + keyed max aggregates — no
    Python stage, no join, no window; state rows are bounded by the
    sketch (event_type x 64 buckets), so every merge shuffle is
    sketch-sized."""
    from stac_geoparquet_spark.operators import stats

    plan = plan_of(stats.sketch_hll_incremental(spark, sf))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert n_ops(plan, "SortMergeJoin") + n_ops(plan, "BroadcastHashJoin") == 0
    assert n_ops(plan, "Window") == 0


# ---------------------------------------------------------------------------
# Round-6 plan pins
# ---------------------------------------------------------------------------
def test_line_dedup_never_shuffles_line_text(spark, sf):
    """The CCNet line pass reduces each line instance to (doc_id,
    md5, length) IN-ROW before anything shuffles, counts distinct
    docs per hash as a keyed aggregate (never a window), and joins
    back on the same scaling hash key — no Python, no window, no
    cartesian anywhere."""
    from stac_geoparquet_spark.operators import curation

    plan = plan_of(curation.dedup_lines_across_docs(spark, sf))
    assert n_ops(plan, "Window") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(lh") >= 1
    # the per-doc rollup keys on doc_id after the hash join
    assert plan.count("hashpartitioning(doc_id") >= 1


def test_markov_single_user_window_then_broadcast_totals(spark, sf):
    """The lag runs in ONE window over the scaling user_id key; the
    row-normalization join is a broadcast of the bounded per-prev
    totals — never a window over the bounded event_type key."""
    import re

    from stac_geoparquet_spark.operators import relational_ext3

    plan = plan_of(relational_ext3.events_markov_transitions(spark, sf))
    # two windows: the canonical-id collapse (event_id) + the lag
    # (user_id) — both keyed on SCALING keys
    assert n_ops(plan, "Window") == 2
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        keys = m.group(1).split("ASC")[0]
        assert "user_id" in keys or "event_id" in keys, keys
    assert n_ops(plan, "BroadcastHashJoin") == 1
    assert n_ops(plan, "SortMergeJoin") == 0


def test_degree_distribution_two_keyed_aggregates(spark, sf):
    """Degree histogram = two map-side-combined aggregates (node,
    then degree); no window, no Python, and the input is the pair
    set, not the corpus (no documents text column in any read)."""
    from stac_geoparquet_spark.operators import graph

    plan = plan_of(graph.graph_degree_distribution(spark, sf))
    assert n_ops(plan, "Window") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert n_ops(plan, "HashAggregate") >= 4  # partial+final x 2 keys


def test_readability_is_pure_map(spark, sf):
    """Flesch scoring is in-row regex/array arithmetic: no aggregate,
    no join, no Python — the text_pii_scrub shape."""
    from stac_geoparquet_spark.operators import text

    plan = plan_of(text.text_readability(spark, sf))
    assert n_ops(plan, "HashAggregate") == 0
    assert n_ops(plan, "SortMergeJoin") + n_ops(plan, "BroadcastHashJoin") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_norm_outlier_scoring_is_pure_map(spark, sf):
    """r11: the (mu, sd, thr) stat row attaches IN-PLAN as a 1-row
    broadcast (BroadcastNestedLoopJoin) instead of a construction-time
    collect — one job; the scoring side stays a pure map (no keyed
    join, no window, no Python), and the only aggregate is the 1-row
    stats reduce (partial + final)."""
    from stac_geoparquet_spark.operators import similarity

    plan = plan_of(similarity.embedding_norm_outliers(spark, sf))
    assert n_ops(plan, "HashAggregate") == 2  # the 1-row stats reduce
    assert n_ops(plan, "SortMergeJoin") + n_ops(plan, "BroadcastHashJoin") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1  # the 1-row stats
    assert n_ops(plan, "Window") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mhsig_signature_agg_is_map_side_bounded(spark, sf):
    """The m-slot signature is ONE groupBy(source) with m min
    aggregates (partial before the exchange — each mapper emits one
    row per source); the pair build is a broadcast over the bounded
    signature table; the corpus is never exploded (no Generate)."""
    from stac_geoparquet_spark.operators import stats

    plan = plan_of(stats.minhash_signature_source_sim(spark, sf))
    assert n_ops(plan, "Generate") == 0
    assert n_ops(plan, "HashAggregate") >= 2  # partial + final
    assert n_ops(plan, "SortMergeJoin") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_oov_rate_vocab_is_takeordered_broadcast(spark, sf):
    """The vocab build plans as TakeOrderedAndProject (per-partition
    heads, never a global sort); the membership probe is a BROADCAST
    join of the token stream against the K-row vocab; the lang rollup
    is a keyed aggregate, not a window."""
    from stac_geoparquet_spark.operators import text

    plan = plan_of(text.vocab_oov_rate_by_lang(spark, sf))
    assert n_ops(plan, "TakeOrderedAndProject") == 1
    assert n_ops(plan, "BroadcastHashJoin") == 1
    assert n_ops(plan, "SortMergeJoin") == 0
    assert n_ops(plan, "Window") == 0


def test_anomaly_mad_is_rollup_plus_type_windows(spark, sf):
    """Both medians are exact percentiles over the calendar-bounded
    HOURLY ROLLUP, carried by two windows partitioned by event type:
    the whole med -> absdev -> mad chain is one plan with ONE events
    scan and no join (no fence, no broadcast)."""
    from stac_geoparquet_spark.operators import quality

    plan = plan_of(quality.events_anomaly_mad(spark, sf))
    assert n_ops(plan, "Window") == 2
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "BroadcastHashJoin") == 0
    assert n_ops(plan, "SortMergeJoin") == 0
    assert "percentile" in plan
    assert "BatchEvalPython" not in plan


def test_dup_rate_by_source_is_one_keyed_rollup(spark, sf):
    """The per-source report joins the CC label table to the corpus
    (AQE picks the strategy) and rolls up ONCE on source — counts
    only; no window, no Python beyond the shared pair-graph build."""
    from stac_geoparquet_spark.operators import dedup as dedup_mod

    plan = plan_of(dedup_mod.dedup_rate_by_source(spark, sf))
    assert n_ops(plan, "Window") == 0
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(source") >= 1 or n_ops(
        plan, "HashAggregate"
    ) >= 2


# ---------------------------------------------------------------------------
# round-7 operators
# ---------------------------------------------------------------------------
def test_basket_pairs_equi_join_no_cartesian(spark, sf):
    """Pair generation is a self-EQUI-join on l_orderkey (per-order
    fan-out bounded by basket size), paid ONCE at build time behind
    the shared fence + session cache (the RETURNED plan reads the
    materialized pair set); lift joins are keyed; the only
    unconditioned join is the broadcast of the 1-row order-count
    aggregate.  No window, no Python."""
    from stac_geoparquet_spark.operators import mining

    # build via the cache-building path so the pin also covers a cold
    # cache (the fence runs eagerly inside)
    mining._SUPPORT_PAIRS_CACHE.clear()
    plan = plan_of(mining.basket_part_pairs(spark, sf))
    assert "CartesianProduct" not in plan
    assert n_ops(plan, "Window") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "ExistingRDD" in plan  # the fenced pair set


def test_interpurchase_single_custkey_shuffle(spark, sf):
    """The lag window and the per-customer rollup share ONE custkey
    exchange (the events_decayed_activity shape): 1 Exchange, 1
    Window, no join."""
    from stac_geoparquet_spark.operators import mining

    plan = plan_of(mining.customer_interpurchase(spark, sf))
    assert n_ops(plan, "Window") == 1
    assert n_ops(plan, "Exchange") == 1
    assert n_ops(plan, "SortMergeJoin") + n_ops(plan, "BroadcastHashJoin") == 0


def test_pmi_within_user_join_broadcast_singles(spark, sf):
    """Type pairs come from a within-user equi-join of the DEDUPED
    (user, type) pairs; the singles/total tables join back broadcast.
    No cartesian product, no window."""
    from stac_geoparquet_spark.operators import mining

    plan = plan_of(mining.events_type_cooccurrence_pmi(spark, sf))
    assert "CartesianProduct" not in plan
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "BroadcastHashJoin") >= 2


def test_dau_wau_explodes_only_deduped_pairs(spark, sf):
    """The x7 window-day fan-out (Generate) sits ABOVE the (user, day)
    dedup aggregate — event volume never rides the explode; no window
    function anywhere."""
    from stac_geoparquet_spark.operators import mining

    plan = plan_of(mining.events_dau_wau(spark, sf))
    assert n_ops(plan, "Generate") == 1
    assert n_ops(plan, "Window") == 0
    # the explode input is the deduped day-user aggregate, so a
    # partial+final pair must appear BELOW the Generate in the tree
    assert n_ops(plan, "HashAggregate") >= 4


def test_pareto_thresholds_are_literals(spark, sf):
    """The three percentile cuts are collected at build time (3
    scalars, constant-bounded); the RETURNED plan is ONE conditional
    aggregate with literal thresholds fanned to 3 rows by an explode —
    no percentile aggregate, no window, no union re-planning the
    rollup per segment (exactly one orders scan)."""
    from stac_geoparquet_spark.operators import mining

    plan = plan_of(mining.orders_pareto_share(spark, sf))
    assert "percentile" not in plan
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "Union") == 0
    assert n_ops(plan, "Generate") == 1
    assert plan.count("orders.parquet") <= 2  # one scan node (+ref)


def test_component_sizes_rides_fenced_labels(spark, sf):
    """The size histogram reads dedup_cluster_cc's fenced label table
    (pair-graph-sized) — the returned plan never rescans the corpus —
    and adds two keyed aggregates."""
    from stac_geoparquet_spark.operators import graph

    plan = plan_of(graph.graph_component_sizes(spark, sf))
    assert "documents.parquet" not in plan
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "HashAggregate") >= 4


def test_hll_overlap_register_merge_is_bounded(spark, sf):
    """Pair estimates derive from the per-type register table (m rows
    per type): the pair fan-out joins STATE, not events, and the
    exact-intersection reference self-joins the DEDUPED (type, user)
    pairs.  No cartesian product, no window, no Python."""
    from stac_geoparquet_spark.operators import stats

    plan = plan_of(stats.hll_event_type_overlap(spark, sf))
    assert "CartesianProduct" not in plan
    assert n_ops(plan, "Window") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_recall_report_joins_bounded_topk(spark, sf):
    """Recall joins two <=|Q|xK result sets on (query_id, neighbor_id)
    — every join in the plan is an equi-join; no cartesian product.
    The Python stages are the two inputs' Arrow-batched scorers."""
    from stac_geoparquet_spark.operators import similarity

    plan = plan_of(similarity.ann_recall_report(spark, sf))
    assert "CartesianProduct" not in plan
    assert n_ops(plan, "BroadcastHashJoin") + n_ops(plan, "SortMergeJoin") >= 2


def test_epoch_allocation_is_one_rollup_two_scalars(spark, sf):
    """ONE groupBy(source) token rollup (partial+final), two broadcast
    scalar totals (the mixture_temperature_weights shape); no window,
    no sort-merge join, no Python."""
    from stac_geoparquet_spark.operators import pipeline as pipeline_mod

    plan = plan_of(pipeline_mod.mixture_epoch_allocation(spark, sf))
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "SortMergeJoin") == 0
    assert n_ops(plan, "HashAggregate") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_token_entropy_two_keyed_aggregates(spark, sf):
    """Explode once, then (doc_id, tok) and doc_id aggregates — both
    on scaling keys; no window, no join, no Python."""
    from stac_geoparquet_spark.operators import text

    plan = plan_of(text.text_token_entropy(spark, sf))
    assert n_ops(plan, "Generate") == 1
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "SortMergeJoin") + n_ops(plan, "BroadcastHashJoin") == 0
    assert n_ops(plan, "HashAggregate") >= 4


def test_bm25_topk_is_tournament_not_global_sort(spark, sf):
    """r10 shape: the constant query-term counts are IN-ROW
    (size(filter(w, x == term)) per term — the corpus token stream is
    never exploded), df/n_docs/avgdl reduce to ONE broadcast row
    (BroadcastNestedLoopJoin), scoring is a fixed |q|-term in-row sum,
    and the final top-K plans as TakeOrderedAndProject (local top-K
    per task, driver merge) — never a global sort; the ranking window
    runs on the K survivors only.  Exactly two corpus passes (stats
    reduce + score scan), zero keyed exchanges."""
    from stac_geoparquet_spark.operators import retrieval

    plan = plan_of(retrieval.bm25_topk_retrieval(spark, sf))
    assert "TakeOrderedAndProject" in plan
    assert n_ops(plan, "Sort") <= 1  # only the K-row window sort
    assert n_ops(plan, "Window") == 1
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1  # the 1-row stats
    assert n_ops(plan, "SortMergeJoin") == 0
    assert n_ops(plan, "Generate") == 0  # no token explode anywhere
    assert n_ops(plan, "Scan parquet") == 2  # stats pass + score pass
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_ndcg_twophase_fenced_histogram(spark, sf):
    """The per-term top-K rides the twophase local-topk scaffold
    (windows always include spark_partition_id — never a bare window
    over the bounded term key); the grade histogram is FENCED so its
    two consumers (scoring join, report join) read materialized rows
    instead of re-running the corpus postings aggregate (an un-fenced
    variant was tried in r11 and reverted: the consumers prune the
    aggregate divergently, defeating AQE stage reuse — an extra corpus
    pass at scale).  r11: n_docs/avgdl ride the pivot structs, so
    scoring is ONE broadcast term join — the old 1-row BNLJ is gone.
    No cartesian, no Python, no sort-merge."""
    from stac_geoparquet_spark.operators import retrieval

    plan = plan_of(retrieval.bm25_ndcg_report(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "SortMergeJoin") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 0  # r11: stats ride gstats
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert n_ops(plan, "BroadcastHashJoin") >= 2  # gstats df + report join
    # the fence shows up as ExistingRDD scans replacing re-aggregation
    assert n_ops(plan, "Scan ExistingRDD") >= 1
    # r10: df + grade histogram + n_docs/avgdl all reduce in ONE fenced
    # corpus pass (built outside this plan); the only corpus scan left
    # here is the postings pass itself
    assert n_ops(plan, "Scan parquet") <= 1
    # every window is (group, pid)-keyed local top-K scaffolding; the
    # registry contract test rejects bounded-key windows mechanically


def test_whitening_report_reads_only_fences(spark, sf):
    """The whitening report's FINAL plan must read only materialized
    fences: the raw covariance comes from the session-cached fenced
    partials, the whitened covariance from the one-scan apply+GEMM
    pass fenced at build time — so the returned plan has ZERO parquet
    scans, zero windows, nothing quadratic, and no Python in the
    plan (the GEMM ran inside the fence job, exactly once)."""
    from stac_geoparquet_spark.operators import similarity

    plan = plan_of(similarity.embedding_whitening_report(spark, sf))
    assert n_ops(plan, "Scan parquet") == 0
    assert n_ops(plan, "Scan ExistingRDD") >= 2
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "SortMergeJoin") == 0
    assert n_ops(plan, "Window") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hybrid_rrf_bounded_fusion(spark, sf):
    """Hybrid RRF: the corpus token stream is filtered to the
    broadcast query-term dictionary BEFORE the postings aggregate;
    the lexical top-K rides the twophase scaffold; the kNN side is
    the session-cached fence; fusion joins two bounded lists.  No
    cartesian, no sort-merge join, no row-Python in the final plan
    (the kNN GEMM ran once inside its fence)."""
    from stac_geoparquet_spark.operators import retrieval

    plan = plan_of(retrieval.hybrid_rrf_retrieval(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "SortMergeJoin") == 0
    assert "BatchEvalPython" not in plan
    assert n_ops(plan, "Scan ExistingRDD") >= 1  # the kNN fence
    assert n_ops(plan, "BroadcastHashJoin") >= 3  # qterms/dfreq/fuse


def test_fdr_bh_alphabet_windows_after_aggregate(spark, sf):
    """FDR-BH: one (event_type, user)-keyed corpus aggregate, an
    alphabet-sized moment rollup, then unpartitioned rank/suffix-min
    windows whose input is the bounded per-type row set (the
    jackknife bounded-frame class); the m count joins back broadcast.
    No cartesian, no sort-merge, no Python."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.events_fdr_bh(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "SortMergeJoin") == 0
    assert "BatchEvalPython" not in plan
    # the alphabet-bounded moment table is FENCED: its consumers read
    # materialized rows — the final plan holds ZERO corpus scans
    assert n_ops(plan, "Scan parquet") == 0
    assert n_ops(plan, "Scan ExistingRDD") == 2
    # m rides a window over the scored rows, not a broadcast join
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 0
    assert n_ops(plan, "Window") == 4


def test_harmonic_centrality_topk_over_fences(spark, sf):
    """Harmonic centrality reuses the cached HyperBall states: the
    final plan is (R+1) keyed folds over ExistingRDD fences joined on
    the bounded node key, a TakeOrderedAndProject top-K, and a rank
    window over HB_TOP_K rows — zero parquet scans, zero propagation
    re-runs, no Python."""
    from stac_geoparquet_spark.operators import graph

    plan = plan_of(graph.graph_harmonic_centrality(spark, sf))
    assert n_ops(plan, "Scan parquet") == 0
    assert n_ops(plan, "Scan ExistingRDD") >= 2
    assert n_ops(plan, "CartesianProduct") == 0
    assert "TakeOrderedAndProject" in plan
    assert n_ops(plan, "Window") == 1  # the K-row rank window
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_unigram_eval_folds_vocab_not_corpus(spark, sf):
    """The Viterbi DP is an in-row JVM fold over the DISTINCT word
    table with the vocab map broadcast as one row — no Python, no
    window over an unbounded key, no sort-merge join; the corpus-side
    joins are keyed; the vocab/merge one-row tables arrive via
    broadcast nested-loop (2)."""
    from stac_geoparquet_spark.operators import curation

    plan = plan_of(curation.tokenize_unigram_eval(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "SortMergeJoin") == 0
    assert n_ops(plan, "Window") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 2
    # the fenced vocab map reads back as ExistingRDD, not a rescan
    assert n_ops(plan, "Scan ExistingRDD") >= 1


def test_hyperball_rounds_read_fences_only(spark, sf):
    """HyperBall's final plan reads only the fenced per-round register
    states and the fenced pair graph: zero parquet scans, zero
    windows, no Python, nothing quadratic; the single
    BroadcastNestedLoopJoin carries the 1-row final-radius nf."""
    from stac_geoparquet_spark.operators import graph

    plan = plan_of(graph.graph_hyperball_reach(spark, sf))
    assert n_ops(plan, "Scan parquet") == 0
    assert n_ops(plan, "Scan ExistingRDD") >= 2
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_chi2_terms_single_explode_keyed_joins(spark, sf):
    """Term presence explodes ONCE (array_distinct is in-row; the df
    total rides a term-partitioned window over the COMPACTED
    (term, slice) counts — a second groupBy pass re-planned the whole
    corpus explode into the join's other side); slice/total tables
    join back broadcast.  No cartesian, no Python."""
    from stac_geoparquet_spark.operators import retrieval

    plan = plan_of(retrieval.chi2_discriminative_terms(spark, sf))
    assert n_ops(plan, "Generate") == 1
    assert n_ops(plan, "Window") == 1
    assert "windowspecdefinition(term" in plan  # scaling key
    assert "CartesianProduct" not in plan
    assert n_ops(plan, "BroadcastHashJoin") >= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kcore_returns_fenced_peel_result(spark, sf):
    """The peel loop runs at build time through the shared lineage
    fence (bounded pair graph, multi-round consumer): the RETURNED
    plan is one keyed degree aggregate over the final checkpointed
    edge set — one exchange, no join, no window (the per-round joins
    already ran inside the fences)."""
    from stac_geoparquet_spark.operators import graph

    plan = plan_of(graph.graph_kcore_parts(spark, sf))
    assert "ExistingRDD" in plan  # the fence leaf
    assert n_ops(plan, "Exchange") == 1
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "SortMergeJoin") + n_ops(plan, "BroadcastHashJoin") == 0


def test_silhouette_is_pure_map_plus_one_rollup(spark, sf):
    """Centroids are literals (collected at fit time, K x d bounded):
    the returned plan is a map over the canonical vectors + ONE
    two-phase keyed aggregate on cluster — no join, no window, no
    Python, one exchange."""
    from stac_geoparquet_spark.operators import similarity

    plan = plan_of(similarity.kmeans_silhouette(spark, sf))
    assert n_ops(plan, "HashAggregate") >= 2
    assert "hashpartitioning(cluster" in plan
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "SortMergeJoin") + n_ops(plan, "BroadcastHashJoin") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ols_prunes_and_joins_keyed(spark, sf):
    """The partkey equi-join carries only the three lineitem columns
    the fit needs (quantity/discount/partkey — never extendedprice);
    the per-brand moments partial-aggregate map-side.  No window, no
    cartesian."""
    from stac_geoparquet_spark.operators import stats as stats_mod

    plan = plan_of(stats_mod.ols_discount_response(spark, sf))
    read_li = [
        seg.splitlines()[0]
        for seg in plan.split("ReadSchema: ")[1:]
        if "l_partkey" in seg.splitlines()[0]
    ]
    assert read_li and all("l_extendedprice" not in r for r in read_li)
    assert "CartesianProduct" not in plan
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "HashAggregate") >= 2


def test_survival_km_windows_ride_bounded_spine(spark, sf):
    """The corpus compacts through the user_id aggregate, then the
    lifetime rollup bounds the KM spine by calendar hours — the two
    unpartitioned cumulative windows (at-risk countdown; zflag+lnsum
    share one spec) run ABOVE those aggregates, never on raw events;
    the horizon joins in as a broadcast scalar, not a collect."""
    from stac_geoparquet_spark.operators import funnel as funnel_mod

    plan = plan_of(funnel_mod.user_survival_km(spark, sf))
    assert n_ops(plan, "Window") == 2
    assert n_ops(plan, "HashAggregate") >= 4
    assert n_ops(plan, "BroadcastNestedLoopJoin") >= 1
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_calibration_composes_keyed_join_no_python(spark, sf):
    """The reliability table composes the two shipped per-doc scorers.
    r10 shape: both scorers are per-row projections of the SAME docs
    scan, so the composition is ONE select over ONE scan (the old
    doc_id equi-join of the two outputs was the identity) and the
    decile rollup is one keyed aggregate.  No join, no window, no
    cartesian, no Python."""
    from stac_geoparquet_spark.operators import text

    plan = plan_of(text.classifier_calibration_bins(spark, sf))
    assert "CartesianProduct" not in plan
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "Generate") == 0  # both scorers fold in-row
    assert n_ops(plan, "Scan parquet") == 1  # one pass, no join
    assert n_ops(plan, "SortMergeJoin") + n_ops(plan, "BroadcastHashJoin") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gini_windows_ride_per_source_aggregate(spark, sf):
    """The two ranking windows are unpartitioned but their input is
    the per-source rollup (hashpartitioning(source) beneath them) —
    one row per source, never the corpus; the output is one bounded
    row."""
    from stac_geoparquet_spark.operators import pipeline as pipeline_mod

    plan = plan_of(pipeline_mod.corpus_gini_balance(spark, sf))
    assert n_ops(plan, "Window") == 2
    assert "hashpartitioning(source" in plan
    assert n_ops(plan, "HashAggregate") >= 3  # per-src 2-phase + final
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_path_entropy_shares_user_shuffle(spark, sf):
    """Lag window on the scaling user_id key; the (user, pair) and
    per-user aggregates regroup the windowed rows — no join, no
    Python."""
    from stac_geoparquet_spark.operators import relational_ext3

    plan = plan_of(relational_ext3.user_path_entropy(spark, sf))
    assert n_ops(plan, "Window") == 1
    assert "windowspecdefinition(user_id" in plan
    assert n_ops(plan, "SortMergeJoin") + n_ops(plan, "BroadcastHashJoin") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_incremental_is_stream_static(spark, sf):
    """The frozen index tables (df, corpus stats) join the incoming
    batch BROADCAST — per-batch cost is the batch tokenization plus
    constant-size joins, no base-corpus shuffle, no top-K, no
    window."""
    from stac_geoparquet_spark.operators import retrieval

    plan = plan_of(retrieval.bm25_incremental_scoring(spark, sf))
    # r10 shape: the frozen index statistics (df_t, n_docs, avgdl)
    # reduce to ONE broadcast row and the incoming batch scores with a
    # fixed in-row |q|-term sum — the broadcast is the 1-row
    # BroadcastNestedLoopJoin, and no token explode survives
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1
    assert n_ops(plan, "Generate") == 0
    assert n_ops(plan, "SortMergeJoin") == 0
    assert n_ops(plan, "Window") == 0
    assert "TakeOrderedAndProject" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tfidf_single_explode_window_df(spark, sf):
    """The corpus explodes ONCE: df rides a word-partitioned window
    over the compacted tf rows (a separate groupBy(word) + join
    re-planned the whole explode into the join's other side — 2
    Generates + 3 scans before the fix); the top-K per doc plans with
    WindowGroupLimit above the doc_id exchange."""
    from stac_geoparquet_spark.operators import text

    plan = plan_of(text.text_tfidf_top_terms(spark, sf))
    assert n_ops(plan, "Generate") == 1
    assert n_ops(plan, "Scan parquet") == 2  # tf subtree + count-only n_docs
    assert "WindowGroupLimit" in plan
    assert "windowspecdefinition(word" in plan  # scaling df key


# ---------------------------------------------------------------------------
# round-8 operators
# ---------------------------------------------------------------------------
def test_autocorrelation_broadcasts_fenced_daily(spark, sf):
    """Both lag-join sides read the FENCED daily rollup (one orders
    scan at build time, zero in the returned plan); the y side joins
    broadcast (calendar-bounded rows); one Generate fans the 7 lags."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.orders_autocorrelation(spark, sf))
    assert "orders.parquet" not in plan  # rollup materialized
    assert "ExistingRDD" in plan
    assert n_ops(plan, "BroadcastHashJoin") == 1
    assert n_ops(plan, "Generate") == 1
    assert n_ops(plan, "Window") == 0
    assert "CartesianProduct" not in plan


def test_seasonality_single_orders_scan(spark, sf):
    """The 7-row DOW rollup is fenced: the totals aggregate and the
    share join read the materialized rows — the returned plan has NO
    orders scan and no window."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.orders_seasonality_dow(spark, sf))
    assert "orders.parquet" not in plan
    assert n_ops(plan, "Window") == 0
    assert "CartesianProduct" not in plan


def test_psi_two_pass_fenced_rollup(spark, sf):
    """The returned plan reads the FENCED per-type rollup (the totals
    join must not re-plan the conditional-count scan); a data-derived
    split point is inherently two-pass, but both passes happen at
    build time, once."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.events_psi_drift(spark, sf))
    assert "events.parquet" not in plan
    assert n_ops(plan, "Window") == 0


def test_ab_ztest_single_chain(spark, sf):
    """One events scan, one user_id-keyed aggregate (map-side
    combining), one 1-row reduction — no join, no window."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.events_ab_ztest(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Window") == 0
    assert (
        n_ops(plan, "SortMergeJoin")
        + n_ops(plan, "BroadcastHashJoin")
        + n_ops(plan, "BroadcastNestedLoopJoin")
        == 0
    )
    # per-user partial + final, then global partial + final
    assert n_ops(plan, "HashAggregate") == 4


def test_leadtime_trend_keyed_join_and_agg(spark, sf):
    """One equi-join on the scaling o_orderkey, one aggregate on the
    scaling l_suppkey, date filters pushed to both scans — no window,
    no percentile, no cartesian."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.supplier_leadtime_trend(spark, sf))
    assert "CartesianProduct" not in plan
    assert n_ops(plan, "Window") == 0
    assert "percentile" not in plan
    assert "PushedFilters: [IsNotNull" in plan


def test_benford_single_orders_scan(spark, sf):
    """The 9-row digit rollup is fenced; the returned plan reads the
    materialized counts only (expected shares and chi terms are
    in-row expressions over them)."""
    from stac_geoparquet_spark.operators import audit

    plan = plan_of(audit.orders_benford_digit(spark, sf))
    assert "orders.parquet" not in plan
    assert n_ops(plan, "Window") == 0


def test_attribution_single_user_window(spark, sf):
    """The carry-forward runs in ONE window over the scaling user_id;
    the total rides a second, unpartitioned window over the
    type-alphabet-bounded touch rollup — one scan of the canonical
    layout, no fence, no join."""
    from stac_geoparquet_spark.operators import audit

    plan = plan_of(audit.events_attribution_last_touch(spark, sf))
    assert "events.parquet" not in plan  # reads the canon layout
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Window") == 2
    assert "ExistingRDD" not in plan
    assert "CartesianProduct" not in plan


def test_split_leakage_pure_projection_over_pairs(spark, sf):
    """The audit is an in-row projection + filter over the fenced
    verified-pair table: no join, no window, no aggregate, no corpus
    scan in the returned plan."""
    from stac_geoparquet_spark.operators import audit

    plan = plan_of(audit.split_leakage_audit(spark, sf))
    assert "documents.parquet" not in plan
    assert "ExistingRDD" in plan
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "HashAggregate") == 0
    assert (
        n_ops(plan, "SortMergeJoin") + n_ops(plan, "BroadcastHashJoin") == 0
    )


def test_cluster_purity_one_keyed_aggregate(spark, sf):
    """Rides the fenced cluster label table joined to the canonical
    doc table: one join, one aggregate on the scaling cluster_id, no
    window (the label table already carries its sizes)."""
    from stac_geoparquet_spark.operators import audit

    plan = plan_of(audit.dedup_cluster_purity(spark, sf))
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert n_ops(plan, "Window") <= 1  # cc's size window, if not pruned


def test_centroid_drift_single_scan_ordered_folds(spark, sf):
    """One embeddings scan feeds the exploded micro-unit aggregate
    (map-side combining on the bounded label x dim key); the
    dimension folds run over dim-sorted arrays in-row — no second
    scan, no join, no percentile."""
    from stac_geoparquet_spark.operators import audit

    plan = plan_of(audit.embedding_centroid_drift(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert "percentile" not in plan
    assert "CartesianProduct" not in plan
    assert (
        n_ops(plan, "SortMergeJoin") + n_ops(plan, "BroadcastHashJoin") == 0
    )


def test_affinity_topk_rides_cached_pairs(spark, sf):
    """Scoring reads the fenced support-pair table (no lineitem
    self-join in the returned plan); the one ranking window partitions
    by the SCALING part key."""
    from stac_geoparquet_spark.operators import mining

    plan = plan_of(mining.part_affinity_topk(spark, sf))
    assert "ExistingRDD" in plan
    # exactly one ranking window (n_ops("Window") also counts the
    # WindowGroupLimit pair Spark inserts for rank <= K — itself a
    # scale win: the K-filter runs inside the sort, pinned below)
    assert n_ops(plan, "Window") - n_ops(plan, "WindowGroupLimit") == 1
    assert n_ops(plan, "WindowGroupLimit") >= 1
    assert "windowspecdefinition(part#" in plan
    assert "CartesianProduct" not in plan


def test_assortativity_single_bounded_row(spark, sf):
    """Degrees and the edge join run on the fenced pair set (no
    corpus scan); the output is one aggregate row — no window, no
    percentile."""
    from stac_geoparquet_spark.operators import graph

    plan = plan_of(graph.graph_degree_assortativity(spark, sf))
    assert "documents.parquet" not in plan
    assert "ExistingRDD" in plan
    assert n_ops(plan, "Window") == 0
    assert "percentile" not in plan


def test_minhash_precision_reuses_signature_cache(spark, sf):
    """Candidate generation reads the CACHED signature table (the
    shared per_doc_signatures InMemoryRelation) and the verified side
    reads the fenced pair set — no documents re-scan, no window."""
    from stac_geoparquet_spark.operators import audit

    plan = plan_of(audit.dedup_minhash_precision(spark, sf))
    assert "documents.parquet" not in plan
    assert "InMemoryTableScan" in plan or "ExistingRDD" in plan
    assert n_ops(plan, "Window") == 0


def test_simhash_hamming_keyed_joins_only(spark, sf):
    """Two equi-joins of the fenced pair set against the fingerprint
    projection on the scaling doc id; hamming + micro-units are
    in-row; one keyed aggregate.  No window, no cartesian."""
    from stac_geoparquet_spark.operators import audit

    plan = plan_of(audit.simhash_hamming_profile(spark, sf))
    assert "CartesianProduct" not in plan
    assert n_ops(plan, "Window") == 0
    assert "BatchEvalPython" not in plan


def test_supplier_scorecard_single_scan(spark, sf):
    """One lineitem scan, one map-side-combining aggregate on the
    scaling suppkey, every metric an in-row quantization — no join,
    no window."""
    from stac_geoparquet_spark.operators import timeseries  # noqa: F401
    from stac_geoparquet_spark.operators import audit

    plan = plan_of(audit.supplier_scorecard(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Window") == 0
    assert (
        n_ops(plan, "SortMergeJoin") + n_ops(plan, "BroadcastHashJoin") == 0
    )
    assert n_ops(plan, "HashAggregate") == 2  # partial + final


def test_psi_incremental_one_scan_fenced(spark, sf):
    """The id-slice split needs NO data-derived midpoint: one events
    scan builds the fenced per-type rollup at build time; the
    returned plan reads materialized rows only."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.events_psi_incremental(spark, sf))
    assert "events.parquet" not in plan
    assert n_ops(plan, "Window") == 0


def test_conversion_paths_one_window_no_fence(spark, sf):
    """r11 shape: the three lags share ONE user_id window over the
    single canonical-events scan, and the grand total rides an
    unpartitioned window over the path-alphabet-bounded per-path
    rollup — no eager fence job, no broadcast self-join (the r10
    fence's construction cost was the driver's 0.90 -> 1.25 s
    regression)."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.events_conversion_paths(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1  # one canon-events scan
    assert n_ops(plan, "Window") == 2  # user_id lags + bounded total
    assert (
        n_ops(plan, "SortMergeJoin")
        + n_ops(plan, "BroadcastHashJoin")
        + n_ops(plan, "BroadcastNestedLoopJoin")
        == 0
    )
    assert "CartesianProduct" not in plan


def test_cohort_repeat_shares_custkey_shuffle(spark, sf):
    """Per-customer firsts and the cohort rollup plan as one chain:
    one orders scan, one custkey exchange, the cohort aggregate
    regroups the compacted per-customer rows — no join, no window."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.orders_cohort_repeat_rate(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Window") == 0
    assert (
        n_ops(plan, "SortMergeJoin") + n_ops(plan, "BroadcastHashJoin") == 0
    )


def test_ivf_recall_composes_pruned_inputs(spark, sf):
    """Both composed inputs keep their shapes: the IVF side scans the
    cell-partitioned layout (partition filters), the brute-force side
    is the documented baseline; the report adds keyed aggregates and
    left joins only — no cartesian, no extra corpus scan."""
    from stac_geoparquet_spark.operators import similarity

    plan = plan_of(similarity.ivf_recall_report(spark, sf))
    assert "CartesianProduct" not in plan
    assert "ivf_cell" in plan  # partition-pruned layout scan survives


def test_seasonal_anomaly_bounded_baseline(spark, sf):
    """The slot baseline aggregates the FENCED hourly rollup and joins
    back broadcast — the returned plan has no events scan, no window,
    and no percentile."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.events_seasonal_anomaly(spark, sf))
    assert "events.parquet" not in plan
    assert n_ops(plan, "Window") == 0
    assert "percentile" not in plan
    assert n_ops(plan, "BroadcastHashJoin") == 1


def test_cuped_two_pass_single_chain(spark, sf):
    """The CUPED readout plans as the inherent two passes (midpoint
    row + the user rollup) and nothing else: one BroadcastNestedLoop
    for the 1-row midpoint, the user aggregate map-side combining,
    and one 1-row moment reduction — no window, no percentile, no
    per-user doubles anywhere (moments are int64 sums)."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.events_ab_cuped(spark, sf))
    assert n_ops(plan, "Scan parquet") == 2  # midpoint pass + rollup pass
    assert n_ops(plan, "Window") == 0
    assert "percentile" not in plan
    assert "CartesianProduct" not in plan


def test_token_savings_rides_label_table(spark, sf):
    """One corpus-side scan (the canon layout) left-joined to the
    fenced pair-graph-sized label table; one keyed aggregate; no
    window in the returned plan (cc's size window prunes away with
    the dropped columns)."""
    from stac_geoparquet_spark.operators import audit

    plan = plan_of(audit.dedup_token_savings(spark, sf))
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert n_ops(plan, "Window") <= 1


def test_kdist_outliers_pure_map_flags(spark, sf):
    """The returned plan is a pure projection over the fenced |Q|-row
    rollup: the stats are literals collected from the SAME agg row
    (norm-screen convention), so no join, no window, no aggregate."""
    from stac_geoparquet_spark.operators import similarity

    plan = plan_of(similarity.knn_kdist_outliers(spark, sf))
    assert "ExistingRDD" in plan
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "HashAggregate") == 0
    assert (
        n_ops(plan, "SortMergeJoin") + n_ops(plan, "BroadcastHashJoin") == 0
    )


def test_phash_dedup_one_arrow_stage(spark, sf):
    """One Arrow-batched map over the media projection, one keyed
    aggregate on the scaling hash — no window, no join, no
    row-at-a-time Python."""
    from stac_geoparquet_spark.operators import multimodal

    plan = plan_of(multimodal.mm_phash_dedup(spark, sf))
    assert plan.count("MapInPandas") >= 1
    assert "BatchEvalPython" not in plan
    assert n_ops(plan, "Window") == 0
    assert (
        n_ops(plan, "SortMergeJoin") + n_ops(plan, "BroadcastHashJoin") == 0
    )


def test_cusum_fenced_bounded_table(spark, sf):
    """The CUSUM screen's returned plan reads the FENCED calendar-
    bounded scored table twice (flag branch + the 1-row peak
    aggregate joined back broadcast) — no events scan, no window, no
    percentile survives in it."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.events_cusum_changepoint(spark, sf))
    assert "events.parquet" not in plan
    assert "ExistingRDD" in plan
    assert n_ops(plan, "Window") == 0
    assert "percentile" not in plan
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1  # 1-row peak


def test_quantiles_exact_two_phase_selection(spark, sf):
    """The exact-quantile selector is the range-partitioned two-phase
    form (the select_token_budget pattern): the rank window partitions
    by spark_partition_id over ONE rangepartitioning exchange that AQE
    must REUSE for the offset branch, the P-row offsets and the 3-row
    rank targets join back broadcast, and no exact `percentile(`
    aggregate appears anywhere."""
    from stac_geoparquet_spark.operators import stats

    df = stats.quantiles_user_value_exact(spark, sf)
    plan = plan_of(df)
    assert "hashpartitioning(part" in plan
    assert "percentile(" not in plan
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastHashJoin") == 2  # offsets + rank targets
    df.collect()
    final = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    final_section = final.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final_section
    import re

    real = re.findall(r"\+\- Exchange rangepartitioning", final_section)
    assert len(real) == 1
    assert "ReusedExchange" in final_section


def test_local_clustering_rides_pair_set(spark, sf):
    """Every join in the local-cc plan keys on the session-cached
    verified pair set (ExistingRDD leaves) — no corpus scan, no
    window, no cartesian; the corner explode fans out the TRIANGLE
    set by a constant 3."""
    from stac_geoparquet_spark.operators import graph

    plan = plan_of(graph.graph_local_clustering(spark, sf))
    assert "documents.parquet" not in plan
    assert "ExistingRDD" in plan
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "CartesianProduct") == 0


def test_isotropy_rides_fenced_covariance(spark, sf):
    """The isotropy report plans as one d^2-row aggregate over the
    covariance assembly joins, whose input is the FENCED merged
    matrix — no embeddings scan, no window, no cartesian in the
    returned plan."""
    from stac_geoparquet_spark.operators import similarity

    plan = plan_of(similarity.embedding_isotropy_report(spark, sf))
    assert "embeddings.parquet" not in plan
    assert "ExistingRDD" in plan
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "CartesianProduct") == 0


def test_lexdiv_two_keyed_aggregates_no_join(spark, sf):
    """Lexical diversity is one scan -> explode -> (source, word)
    keyed aggregate -> source regroup of the compacted rows; no join,
    no window, no Python."""
    from stac_geoparquet_spark.operators import text

    plan = plan_of(text.lexical_diversity_by_source(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Window") == 0
    assert "BatchEvalPython" not in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert n_ops(plan, j) == 0


def test_burstiness_window_and_agg_share_shuffle(spark, sf):
    """The lag window and the gap aggregate both key on o_custkey —
    one scan, ONE exchange (the aggregate regroups the window's
    partitioning without a second shuffle), no join."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.orders_interarrival_burstiness(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Window") == 1
    assert "hashpartitioning(o_custkey" in plan
    assert n_ops(plan, "Exchange") == 1
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert n_ops(plan, j) == 0


def test_time_bounded_funnel_user_keyed_no_window(spark, sf):
    """The sequential funnel is stage joins on the scaling user key +
    ONE aggregate consuming the per-user stage table directly — no
    fence (the stage table is O(users) with a single consumer, so a
    localCheckpoint would materialize corpus-scaled state for zero
    reuse, r07 ADVICE), no window, no cartesian."""
    from stac_geoparquet_spark.operators import funnel

    plan = plan_of(funnel.funnel_time_bounded(spark, sf))
    assert "events.parquet" in plan
    assert "ExistingRDD" not in plan
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "CartesianProduct") == 0


def test_script_audit_pure_projection(spark, sf):
    """The script-mix audit is in-row regexp_count projections over
    one scan — no shuffle, no join, no window, no Python."""
    from stac_geoparquet_spark.operators import text

    plan = plan_of(text.text_script_mix_audit(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    # the only exchange is read_documents' round-robin spread (a
    # small-fixture work-spreader, no-op at real scale) — never a
    # keyed shuffle
    assert "hashpartitioning" not in plan
    assert n_ops(plan, "Exchange") <= 1
    assert n_ops(plan, "Window") == 0
    assert "BatchEvalPython" not in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert n_ops(plan, j) == 0


def test_bot_score_window_and_agg_share_shuffle(spark, sf):
    """The lag window and the moment aggregate both key on user_id —
    one scan, one exchange, no join (the burstiness shape on the
    events table)."""
    from stac_geoparquet_spark.operators import audit

    plan = plan_of(audit.user_bot_score(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Window") == 1
    assert "hashpartitioning(user_id" in plan
    assert n_ops(plan, "Exchange") == 1
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert n_ops(plan, j) == 0


def test_funnel_by_arm_user_keyed_no_window(spark, sf):
    """Same shape as the unsegmented funnel: unfenced per-user stage
    joins feeding one groupBy on the 2-value arm (bounded-key groupBy
    — partials combine), no window, no cartesian."""
    from stac_geoparquet_spark.operators import funnel

    plan = plan_of(funnel.funnel_by_arm(spark, sf))
    assert "events.parquet" in plan
    assert "ExistingRDD" not in plan
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "CartesianProduct") == 0


# ---------------------------------------------------------------------------
# round 8: tokenizer encode, URL curation, experimentation stats, LPA
# ---------------------------------------------------------------------------
def test_tokenize_bpe_fold_is_in_row(spark, sf):
    """The greedy encoder is an in-row fold over the DISTINCT word
    table: the K-element merge vocab arrives as a 1-row broadcast
    (BroadcastNestedLoopJoin, NOT a CartesianProduct), the fold is a
    JVM expression (no Python), and corpus weighting is a word-keyed
    equi-join."""
    from stac_geoparquet_spark.operators import curation

    plan = plan_of(curation.tokenize_bpe_encode(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1
    assert "aggregate(sequence(1, length(word#" in plan


def test_tokenize_bpe_roundtrip_same_shape(spark, sf):
    """The decode/round-trip audit rides the encode plan exactly: the
    extended fold (pos, toks, merged, decoded) is still one in-row JVM
    expression over the DISTINCT word table with the 1-row broadcast
    vocab — no extra shuffle, no Python, no window."""
    from stac_geoparquet_spark.operators import curation

    plan = plan_of(curation.tokenize_bpe_roundtrip(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1
    assert n_ops(plan, "Window") == 0
    assert "aggregate(sequence(1, length(word#" in plan


def test_pack_sequences_bpe_column_in_row(spark, sf):
    """The tokens-mode column rides the same plan: the only addition
    is the 1-row merge-vocab broadcast + the in-row stream fold — no
    new keyed shuffle, no Python, bins still assigned by the
    two-phase whitespace prefix sum."""
    from stac_geoparquet_spark.operators import pipeline

    plan = plan_of(pipeline.pack_sequences(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan
    # 1-row vocab broadcast; the two prefix-sum branches each carry
    # their own copy of the trivial broadcast subtree
    assert 1 <= n_ops(plan, "BroadcastNestedLoopJoin") <= 2
    # the whitespace prefix sum still runs per doc_id-div bucket
    assert "windowspecdefinition(bucket" in plan


def test_url_normalize_single_scan_no_join(spark, sf):
    """URL parsing/canonicalization is pure in-row regexp work over
    ONE scan; the only shuffles serve the (source, value) distinct
    aggregation."""
    from stac_geoparquet_spark.operators import url

    plan = plan_of(url.url_normalize_audit(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert "BatchEvalPython" not in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert n_ops(plan, j) == 0


def test_cap_docs_per_domain_twophase_broadcast(spark, sf):
    """The domain cap is the twophase scaffold: per-(domain, pid)
    local top-K, a bounded candidate merge, and a BROADCAST threshold
    join back — never a bare window partitioned only by the bounded
    domain key."""
    from stac_geoparquet_spark.operators import url

    plan = plan_of(url.cap_docs_per_domain(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastHashJoin") >= 1
    assert "SPARK_PARTITION_ID" in plan  # the local-topk pid scaffold
    import re as _re

    # every domain-partitioned window also keys on pid (phase 1 of
    # the scaffold) — none partitions by the bounded key alone
    specs = _re.findall(r"windowspecdefinition\(domain#\d+[,)]", plan)
    assert specs and all(s.endswith(",") for s in specs)


def test_robots_rules_broadcast(spark, sf):
    """The disallow table is dimension-bounded and broadcast; the
    prefix test is a join predicate on the broadcast side, and the
    per-doc verdict aggregates on the scaling doc key."""
    from stac_geoparquet_spark.operators import url

    plan = plan_of(url.robots_disallow_filter(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastHashJoin") >= 1
    assert "BatchEvalPython" not in plan


def test_srm_check_single_pass(spark, sf):
    """SRM is one distinct-user aggregate + a 1-row reduction: one
    scan, no join, no window."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.events_srm_check(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Window") == 0
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert n_ops(plan, j) == 0


def test_mann_whitney_deterministic_prefix(spark, sf):
    """The global-rank prefix runs over DETERMINISTIC value-domain
    buckets: NO spark_partition_id (the pid-based draft lost exchange
    reuse to column pruning and misaligned its sampled partitionings
    — pinned here), bucket-partitioned windows only, offsets
    broadcast back."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.orders_mann_whitney_u(spark, sf))
    assert "SPARK_PARTITION_ID" not in plan
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastHashJoin") >= 1
    assert "windowspecdefinition(bucket" in plan


def test_lpa_runs_on_fenced_pair_graph(spark, sf):
    """Label propagation never touches the corpus after the pair
    graph is built: the returned plan reads fenced label/edge leaves
    (ExistingRDD), not lineitem."""
    from stac_geoparquet_spark.operators import graph

    plan = plan_of(graph.graph_lpa_communities(spark, sf))
    assert "lineitem.parquet" not in plan
    assert "ExistingRDD" in plan
    assert n_ops(plan, "CartesianProduct") == 0


def test_welch_single_pass(spark, sf):
    """Welch's t is one user-keyed aggregate + a 2-row moment
    reduction: one scan, no join, no window."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.events_welch_ttest(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Window") == 0
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert n_ops(plan, j) == 0


def test_power_analysis_single_pass(spark, sf):
    """Power analysis is one user-keyed aggregate + a 1-row moment
    reduction: one scan, no join, no window."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.events_power_analysis(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Window") == 0
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert n_ops(plan, j) == 0


def test_modularity_on_fenced_partition(spark, sf):
    """Modularity consumes the SAME fenced LPA state as the community
    report: no corpus scan in the returned plan, exact-int aggregates
    joined as 1-row broadcasts (BroadcastNestedLoopJoin on the three
    scalar legs, never a CartesianProduct)."""
    from stac_geoparquet_spark.operators import graph

    plan = plan_of(graph.graph_modularity_score(spark, sf))
    assert "lineitem.parquet" not in plan
    assert "ExistingRDD" in plan
    assert n_ops(plan, "CartesianProduct") == 0


def test_dedup_url_canonical_slim_shuffle(spark, sf):
    """The canonical-URL dedup shuffles only (doc_id, canon_url): the
    window partitions on the canonical key and no text column
    survives past the scan projection."""
    from stac_geoparquet_spark.operators import url

    plan = plan_of(url.dedup_url_canonical(spark, sf))
    assert n_ops(plan, "Window") == 1
    assert "windowspecdefinition(canon_url" in plan
    assert n_ops(plan, "CartesianProduct") == 0


# ---------------------------------------------------------------------------
# round 9: cluster-aware split, split JSD, jackknife, domain diversity,
# hard-negative mining, BPE round-trip
# ---------------------------------------------------------------------------
def test_split_by_neardup_cluster_label_join_only(spark, sf):
    """The cluster-aware split is one doc_id-keyed left join of the
    corpus against the (pair-graph-bounded, fenced) label table plus a
    2-group aggregate — no window, no Python, nothing quadratic."""
    from stac_geoparquet_spark.operators import dedup

    plan = plan_of(dedup.split_by_neardup_cluster(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan
    assert n_ops(plan, "Window") == 0


def test_split_unigram_jsd_two_keyed_shuffles(spark, sf):
    """JSD = one corpus explode -> word-keyed aggregate -> 1-row
    totals broadcast -> 1-row reduce; the only join is the trivial
    1-row broadcast."""
    from stac_geoparquet_spark.operators import text

    plan = plan_of(text.split_unigram_jsd(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1
    assert n_ops(plan, "Window") == 0
    for j in ("SortMergeJoin", "BroadcastHashJoin"):
        assert n_ops(plan, j) == 0


def test_events_jackknife_ci_bucket_reduce(spark, sf):
    """One user-keyed aggregate, a JK_B-row bucket aggregate, then
    pure tiny-aggregate math — totals come from an unpartitioned
    window over the <= JK_B bucket rows, NOT a totals-aggregate
    crossJoin (which re-planned the whole corpus scan into the
    broadcast side: Catalyst does not CSE aggregate subtrees)."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.events_jackknife_ci(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 0
    assert n_ops(plan, "Window") == 1
    assert n_ops(plan, "Scan parquet") == 1


def test_domain_effective_diversity_single_scan(spark, sf):
    """Domain entropy is computed from c*ln(c) partial sums inside the
    per-source aggregate — one scan, two keyed aggregates, no join and
    no window over the bounded source key."""
    from stac_geoparquet_spark.operators import url

    plan = plan_of(url.domain_effective_diversity(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert "BatchEvalPython" not in plan
    assert n_ops(plan, "Window") == 0
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert n_ops(plan, j) == 0


def test_hard_negative_mining_block_partials(spark, sf):
    """Mining streams the candidate blocks once through the GEMM
    partial scorer (one MapInPandas) and max-merges |Q| rows — no
    pairwise join through Catalyst, no window."""
    from stac_geoparquet_spark.operators import similarity

    plan = plan_of(similarity.hard_negative_mining(spark, sf))
    assert n_ops(plan, "MapInPandas") == 1
    assert n_ops(plan, "Window") == 0
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert n_ops(plan, j) == 0


def test_matryoshka_recall_two_gemm_passes(spark, sf):
    """The truncated pass is one more block-GEMM scan (MapInPandas);
    the ground truth comes from the session-cached knn fence — the
    report joins two |Q| x K tables, nothing quadratic through
    Catalyst.  r11: the truncated side is UN-fenced — its two report
    consumers duplicate the subtree statically (2 MapInPandas below),
    but both copies are identical below the _rank_topk exchange and
    AQE stage reuse runs the GEMM once at runtime (ReusedExchange in
    the committed final plan); the construction-time fence job is
    gone."""
    from stac_geoparquet_spark.operators import similarity

    plan = plan_of(similarity.matryoshka_recall_report(spark, sf))
    # the full-dim side stays the session-cached knn fence — no third
    # scoring pass; the two static truncated copies dedup at runtime
    assert n_ops(plan, "MapInPandas") == 2
    assert n_ops(plan, "CartesianProduct") == 0


def test_blocking_quality_no_cartesian(spark, sf):
    """The truth side joins on the LOSSLESS length bucket (equi-join
    with 2*TAU+1 fan-out), never all-pairs; the candidate side is the
    shared q-gram prefix filter; the 1-row stat frames combine via
    broadcast NLJs."""
    from stac_geoparquet_spark.operators import curation

    plan = plan_of(curation.blocking_quality_report(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan


def test_approx_quantiles_histogram_bounded_windows(spark, sf):
    """One corpus scan -> user agg -> value-domain-bounded bucket agg;
    both windows (cumsum + total) run over the bounded bucket list and
    the quantile probe is a 3-row broadcast — no range exchange, no
    second scan."""
    from stac_geoparquet_spark.operators import stats

    plan = plan_of(stats.approx_quantiles_histogram(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1
    # the exact-quantiles op pays a range exchange; the sketch must not
    assert "rangepartitioning" not in plan.lower()


def test_events_diff_in_diff_one_cell_shuffle(spark, sf):
    """DiD = one (arm, user, period)-keyed corpus aggregate, a <=4-row
    cell aggregate, then 1-row math; the midpoint broadcast is the
    inherent second pass of a data-derived split point (the psi_drift
    convention) — nothing else rescans, no window, no Python."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.events_diff_in_diff(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1
    # the data scan + the min/max bounds scan — and nothing more
    assert n_ops(plan, "Scan parquet") == 2


def test_approx_quantiles_incremental_merge_shape(spark, sf):
    """The maintenance proof unions three delta aggregates and merges
    by user key — no window until the bounded bucket list, no Python,
    nothing quadratic."""
    from stac_geoparquet_spark.streaming import histogram

    plan = plan_of(histogram.approx_quantiles_incremental(spark, sf))
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1  # 3-quantile probe


def test_eigenvector_centrality_fenced_rounds(spark, sf):
    """r11: the power iteration is ONE linear plan over the two fenced
    leaves (edges, nodes — the ExistingRDD reads): each iterate has
    exactly one consumer, so the per-round fences bought nothing and
    were dropped.  EIG_ROUNDS joins/aggregates appear in-plan; still
    no Python and nothing quadratic."""
    from stac_geoparquet_spark.operators import graph

    plan = plan_of(graph.graph_eigenvector_centrality(spark, sf))
    assert "ExistingRDD" in plan
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan


def test_msprt_single_pass_moments(spark, sf):
    """The always-valid readout is the welch moment shape: one scan,
    one user-keyed aggregate, a 1-row reduce — no window, no join."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.events_msprt_always_valid(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Window") == 0
    assert "BatchEvalPython" not in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert n_ops(plan, j) == 0


def test_spearman_no_global_window(spark, sf):
    """Both rank prefixes run per deterministic value-domain bucket
    (the Mann-Whitney scaffold) with broadcast offset tables — no
    unpartitioned window over a scaling key, no sampled range
    boundaries, no Python."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.users_spearman_value_activity(spark, sf))
    assert "BatchEvalPython" not in plan
    assert n_ops(plan, "CartesianProduct") == 0
    assert "rangepartitioning" not in plan.lower()


def test_kruskal_and_gini_ride_rank_scaffold(spark, sf):
    """Both readouts compute ranks through the deterministic
    value-domain bucket scaffold — no global window over a scaling
    key, no range exchange, no Python."""
    from stac_geoparquet_spark.operators import timeseries

    for fn in (
        timeseries.events_kruskal_wallis,
        timeseries.users_value_gini,
    ):
        plan = plan_of(fn(spark, sf))
        assert "BatchEvalPython" not in plan
        assert n_ops(plan, "CartesianProduct") == 0
        assert "rangepartitioning" not in plan.lower()


def test_ratio_metric_delta_welch_shape(spark, sf):
    """The delta-method readout is the welch moment shape: one scan,
    one user-keyed aggregate, a 1-row conditional-moment reduce — no
    window, no join, no Python."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.events_ratio_metric_delta(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Window") == 0
    assert "BatchEvalPython" not in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert n_ops(plan, j) == 0


def test_adamic_adar_pair_graph_only(spark, sf):
    """Link prediction never touches the corpus: every join keys on
    the fenced support-filtered pair set (wedges, degrees, the anti
    edge filter), and the global top-K is TakeOrderedAndProject — no
    cartesian, no global sort, no Python."""
    from stac_geoparquet_spark.operators import graph

    plan = plan_of(graph.graph_adamic_adar(spark, sf))
    assert n_ops(plan, "Scan parquet") == 0
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "TakeOrderedAndProject") == 1
    assert "BatchEvalPython" not in plan
    assert "Sort [aa_score" not in plan  # top-K, not a global sort


def test_ql_dirichlet_two_linear_passes(spark, sf):
    """r10 shape: QL scoring runs exactly two corpus passes — the
    smoothing statistics (c_total, ctf_t, q_eff) reduce to ONE
    broadcast row from the in-row constant-term counts, and every doc
    scores in-row against it (matching part still touches only
    nonzero counts via the CASE guard).  The old doc-keyed
    SortMergeJoin of two linear streams is gone entirely; the top-K
    is TakeOrderedAndProject."""
    from stac_geoparquet_spark.operators import retrieval

    plan = plan_of(retrieval.ql_dirichlet_topk(spark, sf))
    assert n_ops(plan, "Scan parquet") == 2
    assert n_ops(plan, "SortMergeJoin") == 0
    assert n_ops(plan, "Generate") == 0  # no token explode anywhere
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1  # the stats row
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "TakeOrderedAndProject") == 1
    assert "BatchEvalPython" not in plan


def test_fellegi_sunter_fenced_candidates(spark, sf):
    """r11: the labeled candidate set is single-consumer (one
    attr-join -> aggregate chain), so its former fence bought no reuse
    and is gone — the gram-prefix blocking pipeline now runs in-plan
    over the still-FENCED distinct name domain (the multi-consumer
    leaf every blocking side reads).  Two keyed attribute joins on the
    part dimension; no cartesian, no Python."""
    from stac_geoparquet_spark.operators import curation

    plan = plan_of(curation.er_fellegi_sunter(spark, sf))
    assert n_ops(plan, "Scan parquet") == 2  # the two attribute reads
    # the prefix-rank window is in-plan now (static copies per join
    # side; identical subtrees over the fenced domain dedup via AQE
    # stage reuse at runtime)
    assert n_ops(plan, "Window") >= 2
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan
    assert "ExistingRDD" in plan  # the fenced name domain


def test_ewma_control_fenced_rollup(spark, sf):
    """The chart consumes the fenced calendar-indexed rollup: the
    corpus rollup and its index window ran once at build time, so the
    consumer plan is the bounded lag join + moment broadcast — no
    parquet scan, no window, no cartesian, no Python."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.orders_ewma_control(spark, sf))
    assert n_ops(plan, "Scan parquet") == 0
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan
    assert "ExistingRDD" in plan


def test_theil_sen_fenced_rollup_one_window(spark, sf):
    """Theil-Sen consumes the fenced calendar-indexed rollup; the only
    window left is the selection rank over the lag-bounded pair set
    (days x TS_MAX_LAG — a calendar constant), no corpus scan, no
    cartesian, no Python."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.orders_theil_sen_trend(spark, sf))
    assert n_ops(plan, "Scan parquet") == 0
    assert n_ops(plan, "Window") == 1
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan
    assert "ExistingRDD" in plan


def test_heaps_fit_window_over_curve(spark, sf):
    """The Heaps fit rides ONE unpartitioned window over the 10-row
    curve, which has a single consumer: the two corpus passes (first
    occurrence, lengths) run once in-plan, both reading the FENCED
    10-row cutoff table — no cartesian, no Python."""
    from stac_geoparquet_spark.operators import curation

    plan = plan_of(curation.text_heaps_law_fit(spark, sf))
    assert n_ops(plan, "Scan parquet") == 2
    assert n_ops(plan, "Scan ExistingRDD") == 2  # the cutoff fence
    assert n_ops(plan, "Window") == 1
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan


def test_bootstrap_ci_windows_over_replicates(spark, sf):
    """The percentile CI ranks the 200-row replicate means, whose count
    rides a second unpartitioned window over the same bounded rows (no
    fence): one plan with the point-estimate scan and the x B explode
    scan, two windows, no cartesian, no Python."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.events_bootstrap_ci(spark, sf))
    assert n_ops(plan, "Scan parquet") == 2
    assert n_ops(plan, "Window") == 2
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan
    assert "ExistingRDD" not in plan


def test_rm3_one_filtered_tokenize_pass(spark, sf):
    """RM3's only corpus-sized work is ONE tokenize pass filtered by
    the broadcast feedback set (the BM25 retrieval and normalizer are
    fenced at build time); the expansion cut is
    TakeOrderedAndProject — no cartesian, no window, no Python."""
    from stac_geoparquet_spark.operators import retrieval

    plan = plan_of(retrieval.rm3_expansion_terms(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "TakeOrderedAndProject") == 1
    assert "BatchEvalPython" not in plan
    assert "ExistingRDD" in plan


def test_stl_decompose_fenced_rollup(spark, sf):
    """The decomposition consumes the fenced calendar rollup: no
    parquet scan, no cartesian, no Python in the consumer plan — the
    x7 lag explode and the tiny aggregates are hash joins on the
    fence, and the centering mean is ONE unpartitioned window over
    the 7-row seasonal table."""
    from stac_geoparquet_spark.operators import timeseries

    plan = plan_of(timeseries.orders_stl_decompose(spark, sf))
    assert n_ops(plan, "Scan parquet") == 0
    assert n_ops(plan, "Window") == 1
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan
    assert "ExistingRDD" in plan


def test_mattr_pure_in_row(spark, sf):
    """MATTR is one corpus scan of pure in-row array arithmetic — no
    shuffle-producing operator of any kind, no window, no join, no
    Python; the token array materializes once as a named column."""
    from stac_geoparquet_spark.operators import text

    plan = plan_of(text.text_mattr_diversity(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Window") == 0
    # the only exchange is read_spread's round-robin block spread
    # (toy-input parallelism, disappears at scale) — never a keyed
    # shuffle of computed data
    assert "hashpartitioning" not in plan
    assert n_ops(plan, "Exchange") <= 1
    assert "BatchEvalPython" not in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert n_ops(plan, j) == 0


def test_lift_gains_fenced_bins(spark, sf):
    """The gains walk runs IN-PLAN on the 10-row bin aggregate (r11:
    the fence + totals broadcast became unpartitioned windows over the
    bounded bins, so the whole query is one job): exactly one scan of
    the corpus feeding one bin aggregate, the cumulative + totals
    windows over the constant-size table, no cartesian, no broadcast
    join of a 1-row totals frame, no Python."""
    from stac_geoparquet_spark.operators import text

    plan = plan_of(text.classifier_lift_gains(spark, sf))
    assert n_ops(plan, "Scan parquet") == 1
    assert n_ops(plan, "Window") == 2
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_ewma_incremental_merged_state_shape(spark, sf):
    """The maintenance proof merges three day-keyed delta aggregates
    before the chart fence — the consumer plan is the fenced chart
    (no parquet scan, no window, no cartesian, no Python), identical
    to the batch op's consumer shape."""
    from stac_geoparquet_spark.streaming import controlchart

    plan = plan_of(controlchart.ewma_control_incremental(spark, sf))
    assert n_ops(plan, "Scan parquet") == 0
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan
    assert "ExistingRDD" in plan


def test_scene_cuts_one_keyed_window(spark, sf):
    """Shot detection is one doc-keyed lag window over the sampled
    frame stream + one doc-keyed rollup — no self-join, nothing
    quadratic, no Python."""
    from stac_geoparquet_spark.operators import multimodal

    plan = plan_of(multimodal.mm_scene_cuts(spark, sf))
    assert n_ops(plan, "Window") == 1
    assert "windowspecdefinition(doc_id" in plan
    assert n_ops(plan, "CartesianProduct") == 0
    assert "BatchEvalPython" not in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin"):
        assert n_ops(plan, j) == 0

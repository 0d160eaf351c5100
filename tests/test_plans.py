"""Physical-plan regression tests — the scale contract, asserted.

Correctness tests prove the values; these prove the SHAPE of the plan
is the one that survives 100 TB: dimensions broadcast, facts shuffle at
most once per join/agg, scans prune columns and push filters, and
nothing degenerates into a cartesian product. A change that keeps
values right but regresses the plan (e.g. un-broadcasts a dim, adds a
shuffle) fails here.

Plan strings come from ``queryExecution().executedPlan()`` before
execution — with AQE this is the initial plan (isFinalPlan=false),
which is exactly what we want to pin: the statically-declared shape,
independent of runtime re-planning.
"""

from __future__ import annotations

import re

import pytest

from supplier_performance_data_pipeline_spark.plans.registry import load_all
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def specs():
    return load_all()


@pytest.fixture(autouse=True)
def fresh_cache(spark):
    # Other tests persist subplans (e.g. the KPI table inside risk
    # scoring); the cache manager would then swap InMemoryTableScan into
    # these plans and hide the join/shuffle structure we're asserting.
    spark.catalog.clearCache()
    yield


def plan_of(spark, specs, name: str, sf_dir: str = SF_SMOKE) -> str:
    df = specs[name].build(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def shuffles(plan: str) -> int:
    """Count shuffle exchanges only (not broadcast exchanges)."""
    return len(re.findall(r"\bExchange (hashpartitioning|SinglePartition|rangepartitioning|RoundRobinPartitioning)", plan))


def test_kpis_broadcasts_both_dims_one_shuffle(spark, specs):
    plan = plan_of(spark, specs, "supplier_kpis")
    assert plan.count("BroadcastHashJoin") >= 2  # orders + supplier dims
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert shuffles(plan) == 1  # the groupBy — nothing else may shuffle


def test_kpis_scan_prunes_columns(spark, specs):
    plan = plan_of(spark, specs, "supplier_kpis")
    # Columns never referenced must not reach any scan.
    assert "l_partkey" not in plan
    assert "l_tax" not in plan
    assert "o_totalprice" not in plan


def test_orphan_checks_is_join_free(spark, specs):
    plan = plan_of(spark, specs, "orphan_checks")
    assert "Join" not in plan  # one-pass union-agg, not two anti-joins
    assert shuffles(plan) <= 2  # key groupBy + final 1-row agg


def test_pricing_summary_pushdown_and_single_shuffle(spark, specs):
    plan = plan_of(spark, specs, "pricing_summary")
    assert shuffles(plan) == 1
    assert "l_orderkey" not in plan  # untouched columns pruned from scan
    # The shipdate predicate reaches the parquet source.
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan) or re.search(
        r"DataFilters: \[[^\]]*l_shipdate", plan
    )


def test_scalar_surface_is_narrow(spark, specs):
    plan = plan_of(spark, specs, "scalar_function_surface")
    assert shuffles(plan) == 0  # pure projection — shuffle-free
    assert "Join" not in plan


def test_risk_no_cartesian(spark, specs):
    # The bounds crossJoin must be a broadcast nested loop over ONE row,
    # never a CartesianProduct shuffle.
    plan = plan_of(spark, specs, "supplier_risk_summary")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_shipping_priority_topk_and_broadcast(spark, specs):
    plan = plan_of(spark, specs, "shipping_priority")
    assert "TakeOrderedAndProject" in plan  # ORDER BY+LIMIT never global-sorts
    assert "BroadcastHashJoin" in plan  # filtered customer dim broadcasts
    assert "CartesianProduct" not in plan


def test_nation_revenue_share_dims_broadcast(spark, specs):
    plan = plan_of(spark, specs, "nation_revenue_share")
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region
    assert "CartesianProduct" not in plan


def test_rollup_cube_single_aggregate_pass(spark, specs):
    for name in ["orders_priority_rollup", "orders_status_priority_cube"]:
        plan = plan_of(spark, specs, name)
        assert plan.count("Expand") == 1  # grouping sets in one expand
        assert shuffles(plan) == 1


def test_running_totals_single_shuffle(spark, specs):
    plan = plan_of(spark, specs, "customer_running_totals")
    assert shuffles(plan) == 1  # one partition-by-customer exchange
    assert plan.count("Window") >= 1


def test_kmeans_array_form_shape(spark, specs):
    plan = plan_of(spark, specs, "kmeans_cluster_sizes")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # Assignments attach centroids via a broadcast 1-row nested loop —
    # one per assignment pass (iters + 1).
    assert plan.count("BroadcastNestedLoopJoin") >= 3
    # No vec_id-keyed shuffle anywhere: the only hash exchanges are the
    # K-keyed update/profile aggs and 1-row collect_list collapses.
    assert "hashpartitioning(vec_id" not in plan


def test_corpus_curation_single_dedup_shuffle(spark, specs):
    plan = plan_of(spark, specs, "corpus_curation_stats")
    assert "CartesianProduct" not in plan
    # profile is a projection; shuffles: dedup groupBy + kept join +
    # final lang groupBy — never more.
    assert shuffles(plan) <= 4


def test_hash_sample_is_scan_plus_filter(spark, specs):
    plan = plan_of(spark, specs, "documents_hash_sample")
    assert shuffles(plan) == 0
    assert "Join" not in plan


def test_repetition_metrics_two_combining_aggs(spark, specs):
    plan = plan_of(spark, specs, "repetition_metrics")
    assert "Join" not in plan
    # (doc_id, ngram) agg + doc_id re-agg — two shuffles, both with
    # map-side partial aggregation.
    assert shuffles(plan) <= 2
    assert plan.count("HashAggregate") >= 4  # partial+final per agg


def test_pii_scrub_is_pure_projection(spark, specs):
    plan = plan_of(spark, specs, "pii_scrub")
    assert shuffles(plan) == 0
    assert "Join" not in plan


def test_packing_stats_single_shuffle(spark, specs):
    plan = plan_of(spark, specs, "packing_stats")
    assert shuffles(plan) == 1  # the lang groupBy
    assert "Join" not in plan


def test_stratified_sample_is_scan_plus_filter(spark, specs):
    plan = plan_of(spark, specs, "documents_stratified_sample")
    assert shuffles(plan) == 0
    assert "Join" not in plan


def test_semdedup_pairs_join_is_bucketed(spark, specs):
    # The within-cluster pair join must be an equi-join on cluster —
    # never a cartesian explosion across clusters.
    plan = plan_of(spark, specs, "semdedup_cluster_prune")
    assert "CartesianProduct" not in plan


def test_risk_band_reuses_risk_shape(spark, specs):
    plan = plan_of(spark, specs, "risk_band_summary")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_semi_join_shape(spark, specs):
    plan = plan_of(spark, specs, "late_orders_by_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # orderkey shuffle (or broadcast) + priority agg — never more.
    assert shuffles(plan) <= 3


def test_small_order_revenue_broadcasts_brand_dim(spark, specs):
    plan = plan_of(spark, specs, "small_order_revenue")
    assert "BroadcastHashJoin" in plan  # brand filter rides a broadcast
    assert "CartesianProduct" not in plan
    # p_retailprice is never referenced — the part scan must prune it.
    assert "p_retailprice" not in plan


def test_vocab_topk_takeordered_not_global_sort(spark, specs):
    plan = plan_of(spark, specs, "vocab_top_terms")
    assert "TakeOrderedAndProject" in plan
    assert shuffles(plan) <= 1  # the term-keyed agg only


def test_decontamination_broadcasts_eval_ngrams(spark, specs):
    plan = plan_of(spark, specs, "decontamination_report")
    assert "BroadcastHashJoin" in plan  # eval n-gram set is broadcast
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q6_filters_pushed_and_columns_pruned(spark, specs):
    plan = plan_of(spark, specs, "discount_revenue_forecast")
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan or "l_shipdate" in plan.split("PushedFilters")[1][:400]
    # Only 4 columns may reach the scan.
    assert "l_tax" not in plan
    assert "l_returnflag" not in plan
    assert "Join" not in plan


def test_q10_returnflag_pushed_below_joins(spark, specs):
    plan = plan_of(spark, specs, "customer_returns_ranking")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # nation dim
    assert "TakeOrderedAndProject" in plan
    # The returnflag filter must reach the lineitem scan.
    assert "EqualTo(l_returnflag,R)" in plan


def test_quality_weighted_sample_is_shuffle_free(spark, specs):
    plan = plan_of(spark, specs, "quality_weighted_sample")
    assert shuffles(plan) == 0  # projection + filter only
    assert "Join" not in plan


def test_ngram_novelty_three_shuffles_no_cartesian(spark, specs):
    plan = plan_of(spark, specs, "ngram_novelty_scores")
    # df agg on shingle + shingle join (one side reuses the agg
    # exchange) + per-doc agg: at most 3 shuffle exchanges.
    assert shuffles(plan) <= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_source_matrix_joins_are_equi(spark, specs):
    plan = plan_of(spark, specs, "near_dup_source_matrix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rolling_wau_no_cartesian_expansion(spark, specs):
    # The x7 window-end expansion must be a generator (explode), never a
    # join against a 7-row table.
    plan = plan_of(spark, specs, "events_rolling_wau")
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_layout_scan_pushes_date_filter(spark, specs):
    # Zone-map skipping only works if the date predicate reaches the
    # parquet source of the REWRITTEN layout (Catalyst simplifies the
    # cast-to-date comparison into timestamp bounds).
    plan = plan_of(spark, specs, "lineitem_range_layout_scan")
    assert re.search(r"(PushedFilters|DataFilters): \[[^\]]*l_shipdate", plan)
    assert shuffles(plan) == 1  # the returnflag agg


def test_order_distribution_preaggregates_orders(spark, specs):
    # Q13 shape: the fact side must compact to one row per customer
    # BEFORE meeting the customer table — the join carries counts, not
    # raw orders. Two shuffles: orders-per-custkey agg + the final
    # distribution agg (the customer join broadcasts the compacted
    # counts here; at scale AQE picks a custkey shuffle join).
    plan = plan_of(spark, specs, "customer_order_distribution")
    assert shuffles(plan) <= 3
    assert "CartesianProduct" not in plan
    # Unreferenced customer/order columns never reach the scans.
    assert "c_acctbal" not in plan
    assert "o_totalprice" not in plan


def test_large_orders_single_fact_shuffle_topk(spark, specs):
    # Q18 shape: one quantity-per-orderkey agg, HAVING-filtered keys
    # join back, and the top-20 is TakeOrdered — never a global sort.
    plan = plan_of(spark, specs, "large_order_customers")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert shuffles(plan) <= 2


def test_top_revenue_suppliers_broadcast_max(spark, specs):
    # Q15 shape: the global max attaches as a broadcast 1-row join;
    # the winner set broadcasts into the supplier dim join.
    plan = plan_of(spark, specs, "top_revenue_suppliers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # The ship-window predicate reaches the lineitem scan.
    assert re.search(r"(PushedFilters|DataFilters): \[[^\]]*l_shipdate", plan)


def test_trade_volume_filters_dims_before_facts(spark, specs):
    # Q7 shape: the nation-pair filter must shrink supplier/customer
    # BEFORE the fact joins — asserted via the pushed n_name isin
    # filter — and the two reduced streams meet on orderkey without
    # any cartesian expansion for the cross-direction disjunction.
    plan = plan_of(spark, specs, "nation_pair_trade_volume")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert re.search(r"(PushedFilters|DataFilters): \[[^\]]*n_name", plan)
    assert shuffles(plan) <= 4


def test_product_type_revenue_pushes_ptype(spark, specs):
    # Q9 shape: the p_type equality reaches the part scan so the
    # partkey join only carries qualifying parts.
    plan = plan_of(spark, specs, "product_type_revenue_by_nation")
    assert "EqualTo(p_type,PROMO)" in plan
    assert "CartesianProduct" not in plan


def test_dormant_customers_anti_join_no_cartesian(spark, specs):
    # Q22 shape: broadcast 1-row bounds + LeftAnti against the
    # date-filtered orders; the date predicate reaches the orders scan.
    plan = plan_of(spark, specs, "dormant_high_value_customers")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"(PushedFilters|DataFilters): \[[^\]]*o_orderdate", plan)


def test_surprisal_vocab_broadcasts_back(spark, specs):
    # The term-frequency table joins back onto the token stream as a
    # broadcast (vocabulary-bounded); the per-doc agg is the only
    # doc-keyed shuffle.
    plan = plan_of(spark, specs, "unigram_surprisal_scores")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert shuffles(plan) <= 4


def test_document_chunks_shuffle_free_generator(spark, specs):
    # Chunking is a pure generator expansion: no join, no shuffle, and
    # the scan reads only the three referenced columns.
    plan = plan_of(spark, specs, "document_chunks")
    assert shuffles(plan) == 0
    assert "Join" not in plan
    assert "Generate" in plan
    assert "lang" not in plan.split("ReadSchema")[-1]


def test_mixture_weights_fact_work_is_one_agg(spark, specs):
    # Everything after the source-keyed token agg operates on
    # |sources| rows via broadcast 1-row joins — no fact-scale join,
    # no cartesian product.
    plan = plan_of(spark, specs, "source_mixture_weights")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_apportionment_fact_work_is_one_agg(spark, specs):
    # Largest-remainder apportionment: the corpus contributes ONE
    # token-count projection + source-keyed agg; every downstream step
    # (totals, leftover, remainder-rank window, seat window) operates
    # on the |sources|-row table via broadcast 1-row joins. Windows are
    # domain-bounded, never data-bounded; no fact-scale join, no
    # cartesian, no sort-merge.
    plan = plan_of(spark, specs, "source_token_apportionment")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # totals join appears twice (the leftover aggregate re-evaluates
    # the quota subtree — both instances are |sources|-row work) plus
    # the leftover join itself
    assert plan.count("BroadcastNestedLoopJoin") == 3
    assert "Window" in plan
    # The quota subtree is REFERENCED multiple times (output arm +
    # leftover arm), but the corpus-scan agg exchange is identical in
    # each, so AQE exchange reuse executes it once (verified: final
    # adaptive plan shows 3 ReusedExchange for the 3 duplicate
    # references). Ceiling on the textual count as the tripwire (the
    # duplicates inflate it; runtime executes far fewer).
    assert shuffles(plan) <= 8


def test_dim_stats_single_agg_after_explode(spark, specs):
    # posexplode then ONE dim-keyed agg: a single shuffle carrying
    # map-side partials for 64 groups, no join anywhere.
    plan = plan_of(spark, specs, "embedding_dim_stats")
    assert shuffles(plan) == 1
    assert "Join" not in plan
    assert "Generate" in plan


def test_fertility_single_agg_no_explode(spark, specs):
    # Both token counts are size() over the split arrays — a pure
    # projection, no generator — followed by one lang-keyed agg.
    plan = plan_of(spark, specs, "tokenizer_fertility_by_lang")
    assert shuffles(plan) == 1
    assert "Generate" not in plan
    assert "Join" not in plan


def test_monthly_growth_aggregates_before_window(spark, specs):
    # The lag window must run over the post-aggregate month series:
    # exactly one fact shuffle (the month groupBy) plus the series'
    # single-partition sort — never a window over raw lineitem.
    plan = plan_of(spark, specs, "monthly_revenue_growth")
    assert plan.count("Window") == 1
    assert shuffles(plan) <= 2
    assert "Join" not in plan


def test_knn_join_bucket_equi_never_cross(spark, specs):
    # The kNN join's candidate generation must be a bucket equi-join —
    # any cartesian/nested-loop here is the O(N^2) failure mode — and
    # the per-query top-k a window rank, never a global sort.
    plan = plan_of(spark, specs, "knn_join_top5")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    assert "TakeOrderedAndProject" not in plan  # rank is per-vector


def test_knn_recall_exact_arm_broadcasts_sampled_queries(spark, specs):
    # The recall harness's ONLY non-equi join is the exact ground-truth
    # arm: the fixed-size sampled query set must ride a BROADCAST
    # nested loop onto one embeddings scan — never a data-scale
    # CartesianProduct shuffle — while both approximate arms stay
    # (band, bucket) equi-joins (hash joins in the plan).
    plan = plan_of(spark, specs, "knn_join_recall")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" in plan


def test_delay_blame_one_orderkey_agg(spark, specs):
    # Q21 shape: both quantifiers (exists co-supplier / sole late
    # supplier) must come from ONE order-keyed aggregate over the
    # orderkey join — never two correlated lineitem re-scans — and the
    # top-10 is TakeOrdered with the supplier dim broadcast.
    plan = plan_of(spark, specs, "order_delay_blame")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # lineitem appears in exactly one scan branch (no second fact scan).
    assert plan.count("Location: InMemoryFileIndex") <= 3


def test_hourly_anomalies_aggregate_before_window(spark, specs):
    # One fact shuffle (the hour groupBy); the trailing frame runs over
    # the calendar-bounded hourly series, not raw events.
    plan = plan_of(spark, specs, "events_hourly_anomalies")
    assert "Window" in plan
    assert "Join" not in plan
    assert shuffles(plan) <= 2


def test_pivot_two_phase_agg_no_join(spark, specs):
    # PIVOT with explicit values compiles to the two-phase aggregate
    # ((priority, status) partials, then priority pivot-first) over ONE
    # scan — no distinct-discovery job, no join, no Expand.
    plan = plan_of(spark, specs, "order_status_priority_pivot")
    assert shuffles(plan) <= 2
    assert "Join" not in plan
    assert "Expand" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_unpivot_adds_no_scans_over_kpis(spark, specs):
    # UNPIVOT is an Expand over the KPI result: same scan set as the
    # wide supplier_kpis plan (the UNION ALL rewrite would multiply the
    # scans per metric), no extra shuffle.
    kpi_plan = plan_of(spark, specs, "supplier_kpis")
    plan = plan_of(spark, specs, "supplier_kpis_unpivot")
    assert "Expand" in plan
    assert plan.count("Location: InMemoryFileIndex") == kpi_plan.count(
        "Location: InMemoryFileIndex"
    )
    assert shuffles(plan) == shuffles(kpi_plan)


def test_winsorized_stats_broadcast_bounds(spark, specs):
    # The percentile bounds attach as a broadcast 1-row join (never a
    # cartesian shuffle); the clipped agg is one returnflag-keyed pass.
    plan = plan_of(spark, specs, "winsorized_price_stats")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert shuffles(plan) <= 3


def test_part_affinity_broadcast_marginals_no_cartesian(spark, specs):
    # Pair generation is an equi-join on l_orderkey over the
    # materialized distinct order×part table — bounded per-order
    # fan-out, never all-pairs over parts. Marginals and the 1-row
    # order count attach as broadcasts; top-k is TakeOrdered, not a
    # global sort exchange.
    plan = plan_of(spark, specs, "part_pair_affinity")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # both marginal joins
    assert "TakeOrderedAndProject" in plan


def test_decile_shares_window_over_aggregate(spark, specs):
    # The ranking must run over the per-customer AGGREGATE (one fact
    # shuffle first), never over raw orders; untouched fact columns are
    # pruned from the scan. Since round 8 the rank is the two-level
    # prefix (see test_revenue_deciles_scale_safe_rank for the window
    # shape); this pin keeps the aggregate-before-rank ordering and the
    # scan pruning.
    plan = plan_of(spark, specs, "revenue_decile_shares")
    assert "CartesianProduct" not in plan
    assert "o_orderstatus" not in plan
    assert "o_orderpriority" not in plan
    w = plan.index("Window")
    agg = plan.rindex("o_custkey")
    assert agg > w  # aggregate appears below (after) the window node
    # 12 in the plan STRING: the per-customer agg subtree prints once
    # per lineage branch (counts/percentile/rank-join/total); runtime
    # executes it once via ReusedExchange. The pre-round-8 bound was 4
    # with a single NTILE branch.
    assert shuffles(plan) <= 12


def test_lsh_pairs_verify_is_inline(spark, specs):
    # The round-9 inline-verify contract: the ONLY join in the pair
    # plan is the banded bucket self-join — no join-backs onto the
    # signature table (which would add two more joins and two
    # corpus-sized shuffles). The carried mh columns score the pair at
    # the join itself.
    plan = plan_of(spark, specs, "lsh_near_dup_pairs")
    n_joins = len(re.findall(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan))
    assert n_joins == 1, plan[:2000]
    assert "CartesianProduct" not in plan


def test_simhash_pairs_banded_equi_join(spark, specs):
    # Candidates come from an equi-join on (band_idx, band_val) —
    # bucket-sized work; the Hamming verify is a projection (xor +
    # popcount), no cartesian or nested-loop anywhere.
    plan = plan_of(spark, specs, "simhash_hamming_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bit_count" in plan


def test_cluster_histogram_aggregates_components(spark, specs):
    # Two cheap hash aggs over the CC assignment; the pair source and
    # star rounds are materialized (checkpoint scans), so the top-level
    # plan must not re-run LSH: no md5/explode at this level.
    plan = plan_of(spark, specs, "dedup_cluster_size_histogram")
    assert "CartesianProduct" not in plan
    # final star-round min-agg + its join repartition + the two
    # histogram aggs; everything earlier is checkpoint-materialized
    assert shuffles(plan) <= 4


def test_bm25_single_corpus_scan_broadcast_df(spark, specs):
    # dl, df, and the scoring join all read the MATERIALIZED (doc,term)
    # aggregate — the corpus is tokenized once (the only file scan left
    # is the 1-column doc count); the df table broadcasts back; the
    # window partitions by doc_id (no global sort).
    plan = plan_of(spark, specs, "bm25_top_terms")
    assert "CartesianProduct" not in plan
    assert plan.count("Location: InMemoryFileIndex") <= 1  # doc-count only
    assert "BroadcastHashJoin" in plan


def test_lsh_estimator_error_candidates_only(spark, specs):
    # Exact Jaccard joins shingle sets onto the CANDIDATE pairs
    # (checkpoint-materialized), never all-pairs; the output is one
    # aggregate row, so the top level ends in a single-partition agg.
    plan = plan_of(spark, specs, "lsh_estimator_error")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partitioned_scan_prunes_at_directory_level(spark, specs):
    # The event_type predicate must resolve against the hive partition
    # layout (PartitionFilters), not as a row-level data filter over
    # every file.
    plan = plan_of(spark, specs, "events_partitioned_write_scan")
    assert re.search(r"PartitionFilters: \[[^\]]*event_type", plan)
    assert "CartesianProduct" not in plan
    assert shuffles(plan) == 1  # the day rollup


def test_centroid_confusion_assignment_is_projection(spark, specs):
    # Centroids collapse to a broadcast 1-row array; assignment must be
    # a shuffle-free projection (argmin via array_min), so the only
    # hash exchanges are the (label,dim) centroid agg, its per-label
    # collapse, and the K^2-cell confusion count.
    plan = plan_of(spark, specs, "embedding_centroid_confusion")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row attach
    assert "hashpartitioning(vec_id" not in plan  # no vector-keyed shuffle
    assert shuffles(plan) <= 4


def test_scd2_single_key_shuffle_no_join(spark, specs):
    # Row closing derives from lead() over the unioned history — one
    # key-keyed window shuffle, never a join against the base.
    plan = plan_of(spark, specs, "supplier_scd2_history")
    assert "Join" not in plan
    assert shuffles(plan) == 1
    assert "Window" in plan


def test_bucketed_join_has_no_join_exchange(spark, specs):
    # Both sides are bucketed on the order key, so the sort-merge join
    # must consume the bucketed scans directly — the ONLY shuffle left
    # is the final status rollup. This is the pay-once-at-write
    # co-location contract.
    plan = plan_of(spark, specs, "orders_lineitem_bucketed_join")
    assert "SortMergeJoin" in plan
    assert "hashpartitioning(l_orderkey" not in plan
    assert "hashpartitioning(o_orderkey" not in plan
    assert shuffles(plan) == 1  # the groupBy only
    assert "SelectedBucketsCount" in plan  # scans are bucket-aware


def test_chunk_dedup_two_combining_aggs_no_join(spark, specs):
    plan = plan_of(spark, specs, "chunk_dedup_stats")
    assert "Join" not in plan
    assert shuffles(plan) <= 3  # hash agg (+distinct expand) + histogram
    assert "CartesianProduct" not in plan


def test_streaming_dedup_equivalence_tiny_aggs(spark, specs):
    # Both sides collapse to 1-row aggs; the attach is a broadcast over
    # ONE row, never a cartesian shuffle.
    plan = plan_of(spark, specs, "streaming_dedup_equivalence")
    assert "CartesianProduct" not in plan


def test_pagerank_broadcasts_node_tables(spark, specs):
    # Ranks and degrees are node-sized: both per-iteration joins must
    # ride broadcasts onto the edge scan; the inbound sum is the only
    # data-scale exchange per iteration and the top-k is TakeOrdered.
    plan = plan_of(spark, specs, "supplier_pagerank")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_collocations_single_tokenization_take_ordered(spark, specs):
    # The token table materializes once (checkpoint) — the top-level
    # plan may not re-scan the corpus; unigram counts broadcast twice
    # and the final cut is TakeOrdered, never a global sort exchange.
    plan = plan_of(spark, specs, "bigram_collocations")
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_quality_report_is_one_scan_union_agg(spark, specs):
    # Every expectation is a conditional sum in ONE aggregate over ONE
    # scan — no joins, no per-rule passes.
    plan = plan_of(spark, specs, "lineitem_quality_report")
    assert "Join" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert shuffles(plan) == 1  # partials -> single final row


def test_incremental_rollup_pushes_cutoff_both_sides(spark, specs):
    # Both partial branches must push their date predicate to the scan;
    # the merge is an agg over month-keyed partial rows, never raw rows.
    plan = plan_of(spark, specs, "orders_incremental_rollup_merge")
    assert "Join" not in plan
    assert re.search(r"(PushedFilters|DataFilters): \[[^\]]*o_orderdate", plan)
    assert shuffles(plan) <= 3


def test_byte_entropy_single_arrow_pass_no_shuffle(spark, specs):
    # One scan -> one Arrow-batched MapInPandas -> output; the per-byte
    # expansion never materializes in the plan (no explode/generate,
    # no exchange).
    plan = plan_of(spark, specs, "multimodal_byte_entropy")
    assert "MapInPandas" in plan
    assert shuffles(plan) == 0
    assert "Generate" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_point_in_time_join_broadcasts_history(spark, specs):
    # The version table broadcasts; validity-window predicates ride the
    # supplier-key hash join as residual conditions — never a range
    # nested loop, never a second fact pass.
    plan = plan_of(spark, specs, "lineitem_scd2_point_in_time")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Location: InMemoryFileIndex") <= 3  # li + 2 sup reads
    assert shuffles(plan) <= 3  # scd2 window + the 2-group agg


def test_bfs_broadcasts_distance_table(spark, specs):
    # The node-sized distance table broadcasts onto the edge scan; no
    # sort-merge join, no cartesian; histogram is one small agg.
    plan = plan_of(spark, specs, "supplier_bfs_reach")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_weighted_sample_projection_plus_take_ordered(spark, specs):
    # One projection (md5 + ln + divide) then TakeOrdered — no window,
    # no join, no global sort exchange.
    plan = plan_of(spark, specs, "weighted_reservoir_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert shuffles(plan) == 0


def test_table_fingerprint_one_scan_partial_xor(spark, specs):
    # One scan, no join; partial XOR collapses map-side so the single
    # exchange carries one row per partition.
    plan = plan_of(spark, specs, "lineitem_table_fingerprint")
    assert "Join" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert shuffles(plan) == 1
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_triangle_count_equi_joins_only(spark, specs):
    # Degree-oriented wedge counting: every join (wedge + closure +
    # orientation) must be an equi-join — a cartesian here is the
    # all-triples failure mode.
    plan = plan_of(spark, specs, "supplier_triangle_count")
    assert "CartesianProduct" not in plan


def test_part_cheapest_supplier_window_not_rescan(spark, specs):
    # Q2 shape: the per-part min must be a window over ONE fact pass
    # (never a correlated second scan) and the part dim broadcasts.
    plan = plan_of(spark, specs, "part_cheapest_supplier")
    assert plan.count("Window") == 1
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 2  # lineitem + part


def test_promo_share_broadcast_one_month_shuffle(spark, specs):
    # Q14 shape: part dim broadcasts onto the fact scan; both CASE sums
    # land in ONE month-keyed aggregate (partial + final — no second
    # fact pass for the denominator).
    plan = plan_of(spark, specs, "promo_revenue_share")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert shuffles(plan) == 1
    assert plan.count("Location: InMemoryFileIndex") == 2


def test_heavy_parts_window_over_reduced_grain(spark, specs):
    # The part-total window must run over the (part, supplier) AGGREGATE,
    # never raw lineitem: one fact scan, TakeOrdered top-20.
    plan = plan_of(spark, specs, "suppliers_of_heavy_parts")
    assert plan.count("Window") == 1
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Location: InMemoryFileIndex") == 2  # lineitem + supplier
    assert "CartesianProduct" not in plan


def test_hhi_two_level_agg_broadcast_dims(spark, specs):
    # HHI: fact agg to (nation, supplier) grain then a dimension-sized
    # second agg; supplier + nation dims broadcast; exchanges stay on
    # the two agg keys.
    plan = plan_of(spark, specs, "nation_supplier_hhi")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert shuffles(plan) <= 2


def test_correlation_single_agg_exact_moments(spark, specs):
    # Five moment sums in ONE brand-keyed aggregate over one broadcast
    # join — corr never triggers a second pass.
    plan = plan_of(spark, specs, "discount_quantity_correlation")
    assert "BroadcastHashJoin" in plan
    assert shuffles(plan) == 1
    assert plan.count("Location: InMemoryFileIndex") == 2


def test_column_profile_one_scan_expand(spark, specs):
    # Five exact COUNT(DISTINCT)s must compile to the Expand-based
    # multi-distinct aggregate: ONE scan, no join, no five-pass union.
    plan = plan_of(spark, specs, "lineitem_column_profile")
    assert "Expand" in plan
    assert "Join" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_month_fingerprints_one_scan_partial_agg(spark, specs):
    # Merkle drill-down: one scan, one month-keyed agg with map-side
    # partials — the exchange carries digest rows, not data.
    plan = plan_of(spark, specs, "orders_month_fingerprints")
    assert "Join" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert shuffles(plan) == 1
    assert plan.count("HashAggregate") >= 2


def test_lang_confusion_one_scan_one_agg(spark, specs):
    # One tokenization projection + one (lang, lang_pred) agg — the
    # oracle joins docs to a tokens CTE but the engine must not.
    plan = plan_of(spark, specs, "lang_id_confusion")
    assert "Join" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert shuffles(plan) == 1


def test_transition_matrix_window_then_tiny_normalize(spark, specs):
    # lead() over (user, ts) forms pairs without a self-join; the
    # probability normalization windows over the tiny type x type
    # matrix, never the fact table.
    plan = plan_of(spark, specs, "events_type_transition_matrix")
    assert "Join" not in plan
    assert plan.count("Window") == 2
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert shuffles(plan) <= 4


def test_rfm_windows_over_customer_grain(spark, specs):
    # The quartile ranks must run over the post-aggregate customer
    # table; the recency anchor attaches as a broadcast 1-row cross
    # join. Since round 8 the rank is the two-level prefix and the
    # three quartile branches each print the orders lineage in the
    # plan string (runtime executes the scan/agg once per ReusedExchange)
    # — so the pin bounds the per-branch count instead of demanding 2,
    # and keeps the column-pruning contract.
    plan = plan_of(spark, specs, "customer_rfm_segments")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Window") >= 1
    assert plan.count("Location: InMemoryFileIndex") <= 16
    assert "o_orderstatus" not in plan  # untouched fact cols pruned


def test_mg_heavy_hitters_arrow_sketch_no_fact_shuffle(spark, specs):
    # The sketch pass must be Arrow mapInPandas over the scan; the only
    # exchanges are the tiny candidate distinct + count-rollups, never
    # a fact-wide item shuffle before the sketch.
    plan = plan_of(spark, specs, "lang_heavy_hitters_verified")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_market_share_dims_broadcast_one_agg(spark, specs):
    # Q8 shape: all five dimension roles (part, customer nation, region,
    # supplier, supplier nation) broadcast; the conditional share is ONE
    # year-keyed aggregate — never a second fact pass for the
    # denominator. At smoke scale the fact joins broadcast too, so pin
    # a lower bound on broadcasts and an upper bound on exchanges.
    plan = plan_of(spark, specs, "nation_market_share_by_year")
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan
    assert shuffles(plan) <= 6  # ≤2 fact joins (2-3 exchanges) + groupBy


def test_ship_delay_two_scans_no_cartesian(spark, specs):
    # Q12 shape: exactly the two fact scans; complementary CASE counters
    # land in one 3-group aggregate after the orderkey join.
    plan = plan_of(spark, specs, "ship_delay_priority_counts")
    assert plan.count("Location: InMemoryFileIndex") == 2
    assert "CartesianProduct" not in plan
    assert shuffles(plan) <= 3  # join exchanges at scale + the groupBy


def test_brand_type_counts_anti_broadcast_two_phase_distinct(spark, specs):
    # Q16 shape: the supplier blocklist is a broadcast LEFT ANTI join
    # and the part dim broadcasts; COUNT DISTINCT compiles to the
    # two-phase partial-distinct aggregate (2 exchanges), never a
    # NOT IN rescan.
    plan = plan_of(spark, specs, "brand_type_supplier_counts")
    assert "BuildRight, LeftAnti" in plan or "LeftAnti, BuildRight" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert shuffles(plan) == 2
    assert "CartesianProduct" not in plan


def test_bigram_surprisal_broadcast_lm_no_selfjoin(spark, specs):
    # The bigram stream is a projection (arrays_zip explode), the two LM
    # count tables broadcast back onto it, and there is no token-table
    # self-join — the O(n^2) failure mode for bigram construction.
    plan = plan_of(spark, specs, "bigram_surprisal_scores")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert shuffles(plan) <= 4  # bigram agg + context agg + doc agg (+AQE read)


def test_bloom_audit_broadcast_bitset_no_cartesian(spark, specs):
    # The bit set and the eval gram set broadcast onto the train side;
    # membership is a position equi-join — never a per-gram rescan.
    plan = plan_of(spark, specs, "bloom_decontamination_audit")
    assert plan.count("BroadcastHashJoin") == 2
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_audio_features_pure_arrow_no_shuffle(spark, specs):
    # Synthesis and feature extraction are both mapInPandas projections:
    # one scan, zero exchanges — payloads never cross a shuffle.
    plan = plan_of(spark, specs, "multimodal_audio_features")
    assert plan.count("MapInPandas") == 2
    assert shuffles(plan) == 0
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_asof_forward_no_join_one_key_shuffle(spark, specs):
    # Forward as-of is the union trick, not a range join: NO join
    # operator at all — one user-keyed window pass (plus the right
    # side's dedup agg), never a per-row range rescan.
    plan = plan_of(spark, specs, "events_asof_next_error")
    assert "Join" not in plan
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan
    assert shuffles(plan) <= 2  # right-side (user,ts) dedup + window sort


def test_psi_drift_two_scans_window_totals(spark, specs):
    # PSI: bounds agg + ONE fact pass; the totals come from a window
    # over the <=10-row bucket table, never a second aggregate that
    # would recompute the fact subtree (the 2x-scan trap).
    plan = plan_of(spark, specs, "events_value_drift_psi")
    assert plan.count("Location: InMemoryFileIndex") == 2
    assert plan.count("Window") == 1
    assert shuffles(plan) <= 3


def test_backlog_sweep_line_one_fact_pass(spark, specs):
    # Interval-overlap count: ONE pass over the facts (a union of two
    # selects would re-derive the whole subtree), generator expansion
    # for the +-1 deltas, running sum over the day-grain table only.
    plan = plan_of(spark, specs, "orders_open_backlog_timeline")
    assert plan.count("Location: InMemoryFileIndex") == 2  # lineitem+orders once
    assert plan.count("Generate") == 1
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan
    assert shuffles(plan) <= 4


def test_image_pixel_stats_arrow_one_doc_id_spread(spark, specs):
    # Synthesis and REAL-decode feature extraction are both mapInPandas
    # projections over one scan. The only exchange is spread_scan's
    # doc_id hash spread of the single-split fixture scan, so the codec
    # work runs at cluster parallelism rather than in one task.
    plan = plan_of(spark, specs, "multimodal_image_pixel_stats")
    assert plan.count("MapInPandas") == 2
    assert shuffles(plan) == 1
    assert re.search(r"Exchange hashpartitioning\(doc_id", plan)
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_lateness_prefix_never_single_partitions_the_fact(spark, specs):
    # Two-level parallel prefix: the ONLY SinglePartition exchange
    # feeds the block-grain window (n/1024 rows); the event-grain
    # window partitions by block; the block maxima broadcast back.
    plan = plan_of(spark, specs, "events_lateness_histogram")
    assert plan.count("Exchange SinglePartition") == 1
    assert re.search(r"hashpartitioning\(block", plan)
    assert plan.count("BroadcastHashJoin") == 1
    assert "CartesianProduct" not in plan


def test_snapshot_diff_digest_join_no_cartesian(spark, specs):
    # CDC diff: ONE full-outer sort-merge join on the key over
    # (key, digest) projections — wide rows never cross the shuffle.
    plan = plan_of(spark, specs, "supplier_snapshot_diff")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert shuffles(plan) <= 4  # two join sides + union branch + agg


def test_cm_audit_sketch_broadcasts_no_smj(spark, specs):
    """The Count-Min estimate pass must join the (<= depth x width)-row
    cell table by BROADCAST — shuffling the sketch would defeat its
    purpose — and nothing in the audit may degenerate to a sort-merge
    join or cartesian. Three shuffles ceiling: cells agg, truth agg,
    per-item min agg (the distinct-item probe rides the truth
    exchange's key)."""
    plan = plan_of(spark, specs, "events_cm_frequency_audit")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert shuffles(plan) <= 3


def test_debounce_single_key_shuffle(spark, specs):
    """Debounce is ONE user-keyed window shuffle + a filter: no join,
    no second scan, no global sort (the lag window partitions by the
    high-cardinality user key)."""
    plan = plan_of(spark, specs, "events_debounce")
    assert shuffles(plan) == 1
    assert "Join" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_pq_codes_shape_scales_with_m(spark, specs):
    """PQ is m independent Lloyd runs over SLICES of one checkpointed
    base: every centroid attach is a 1-row broadcast (BNLJ on a
    broadcast single row — the risk-bounds shape, never a cartesian of
    two real tables), assignments stay projections, and the shuffle
    count is the m x (iters updates) aggregates plus the final vec_id
    fold — all K-keyed or vec-keyed, nothing quadratic."""
    plan = plan_of(spark, specs, "embedding_pq_codes")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # 4 subspaces x (2 updates + their 1-row collapses) + final fold:
    # pin a ceiling so a regression to per-iteration wide shuffles fails.
    assert shuffles(plan) <= 24


def test_interval_overlap_join_is_bucketized_equi(spark, specs):
    """The interval-interval overlap must run as a bucket-keyed
    hash/merge EQUI-join — never the broadcast nested loop Spark
    plans for a bare range-predicate join."""
    plan = plan_of(spark, specs, "error_purchase_session_overlap")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan  # the bucket expansion


def test_mixture_resample_docs_never_shuffle(spark, specs):
    """The mixture thresholds broadcast back onto the doc scan: the
    document table itself must cross NO exchange before the hash
    filter — only the tiny totals/global aggregates shuffle."""
    plan = plan_of(spark, specs, "corpus_mixture_resample")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert shuffles(plan) <= 3  # totals agg + 1-row glob + final rollup


def test_sequence_packing_prefix_is_two_level(spark, specs):
    """The packing prefix sum must be the two-level parallel
    construction: exactly ONE SinglePartition exchange (the
    dimension-sized block-offset window), never a global ordered
    window over the docs; the block table attaches by broadcast."""
    plan = plan_of(spark, specs, "corpus_sequence_packing")
    assert plan.count("Exchange SinglePartition") == 1
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


# --- round-6 session additions ----------------------------------------------


def test_ivfpq_recall_audit_no_cartesian_and_broadcast_queries(spark, specs):
    plan = plan_of(spark, specs, "ann_ivfpq_recall_audit")
    assert "CartesianProduct" not in plan
    # The only sort-merge joins allowed are the 3 pair-grain compare
    # joins (approx vs exact on (query_id, neighbor_id) keys); the 8
    # query vectors must reach the exact arm via broadcast — losing
    # that broadcast adds a 4th shuffled join and fails here.
    assert plan.count("SortMergeJoin") <= 3
    assert "ShuffledHashJoin" not in plan


def test_ivfpq_adc_topk_has_no_sort_merge_join(spark, specs):
    """The IVF candidate join (query lists ⋈ coarse assignment) stays
    a broadcast of the query side. The checkpointed coarse assignment
    carries the Lloyd chain's multiplied size estimate, so without the
    explicit broadcast of the (≤ n_queries-row) query lists the join
    plans as a sort-merge join."""
    plan = plan_of(spark, specs, "ann_ivfpq_adc_topk")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_jl_audit_two_scan_pair_equi_join(spark, specs):
    plan = plan_of(spark, specs, "embedding_jl_distortion_audit")
    assert "CartesianProduct" not in plan
    # pair formation is an equi-join on vec_id+1 (the self-join re-scans
    # the pruned table: exactly 2 scans), then ONE histogram shuffle
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("FileScan parquet") <= 2
    assert shuffles(plan) <= 1


def test_leakage_split_no_cartesian(spark, specs):
    plan = plan_of(spark, specs, "corpus_leakage_safe_split")
    assert "CartesianProduct" not in plan


def test_dim_correlations_is_scan_explode_agg(spark, specs):
    plan = plan_of(spark, specs, "embedding_dim_correlations")
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan  # the i<j grid explode
    # per-dim stats attach to the pair grid via two 64-row broadcast
    # joins; bounded shuffle budget (2 spreads + 2 aggs + top-k sort —
    # a per-pair re-aggregation of sx/sxx would exceed it)
    assert plan.count("BroadcastHashJoin") >= 2
    assert shuffles(plan) <= 6


def test_kmv_audit_no_cartesian(spark, specs):
    # the 1-row x 1-row sketch combine plans as a broadcast nested
    # loop, so a blanket no-cartesian assertion is safe to pin
    plan = plan_of(spark, specs, "events_kmv_intersection_audit")
    assert "CartesianProduct" not in plan


def test_seasonal_backtest_single_fact_scan_agg(spark, specs):
    plan = plan_of(spark, specs, "events_seasonal_backtest")
    assert "CartesianProduct" not in plan
    # the seasonal self-join runs on the hourly AGGREGATE, not raw
    # events: two pruned scans and a bounded shuffle budget (hourly agg
    # + join keying + final) — a raw-event self-join adds fact-scale
    # exchanges past it
    assert plan.count("FileScan parquet") <= 2
    assert shuffles(plan) <= 3


def test_frontier_window_over_distinct_revenue(spark, specs):
    plan = plan_of(spark, specs, "supplier_efficiency_frontier")
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    # supplier dim broadcasts
    assert "BroadcastHashJoin" in plan


def test_prefix_join_no_cartesian(spark, specs):
    plan = plan_of(spark, specs, "shingle_jaccard_prefix_join")
    assert "CartesianProduct" not in plan


def test_pca_checkpointed_matrix_feeds_iterations(spark, specs):
    plan = plan_of(spark, specs, "embedding_pca_top_component")
    assert "CartesianProduct" not in plan
    # iterations read the checkpointed 64-row matrix, not the raw scan:
    # at most one parquet scan survives in the final plan
    assert plan.count("FileScan parquet") <= 1


def test_ks_drift_prefix_never_single_partitions_values(spark, specs):
    # Two-level ECDF prefix: SinglePartition exchanges feed only the
    # 64-row block window and the 1-row bounds/total aggregates; the
    # distinct-value window partitions by block. The checkpoint
    # truncates the pv subtree, so the top plan has no parquet scan.
    plan = plan_of(spark, specs, "events_value_ks_drift")
    assert re.search(r"hashpartitioning\(block", plan)
    assert "CartesianProduct" not in plan
    # value-grain window must be block-partitioned, never global:
    # no unpartitioned Window whose child is value-grain (the only
    # SinglePartition windows allowed are over the block table)
    assert plan.count("Exchange SinglePartition") <= 2


def test_hard_negatives_bucket_join_no_cartesian(spark, specs):
    plan = plan_of(spark, specs, "embedding_hard_negatives")
    assert "CartesianProduct" not in plan
    # candidates meet on the hyperplane bucket, ranked by a window
    # PARTITIONED by the anchor — never a global sort
    assert "Window" in plan
    assert "hashpartitioning(vec_a" in plan


def test_edit_distance_verify_jvm_side_no_cartesian(spark, specs):
    plan = plan_of(spark, specs, "dedup_edit_distance_verify")
    assert "CartesianProduct" not in plan
    # the DP runs JVM-side inside codegen — no Arrow/Python operators
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "levenshtein" in plan
    # the CPU-heavy DP stage must keep its explicit round-robin fan-out
    # (AQE coalesces the byte-tiny pair table to one task otherwise —
    # the 20s-vs-2s cliff measured at sf0.1)
    assert "RoundRobinPartitioning" in plan


def test_ams_f2_partial_aggregates_before_shuffle(spark, specs):
    plan = plan_of(spark, specs, "events_ams_f2_audit")
    assert "CartesianProduct" not in plan
    # the user-grain agg and the 16-group sign agg both map-side combine
    assert plan.count("partial_sum") >= 1 or plan.count("partial_count") >= 1
    # fact scan happens at most twice (exact arm + sketch arm share cu)
    assert plan.count("FileScan parquet") <= 2


def test_sorted_neighborhood_blocked_window_not_global(spark, specs):
    plan = plan_of(spark, specs, "dedup_sorted_neighborhood")
    assert "CartesianProduct" not in plan
    # the SNM sort is a window over the block key, never an
    # unpartitioned global window (no SinglePartition feeding a Window)
    assert "hashpartitioning(blk" in plan
    m = re.findall(r"Exchange SinglePartition", plan)
    assert len(m) == 0


def test_hybrid_rrf_pools_are_topk_not_full_sorts(spark, specs):
    plan = plan_of(spark, specs, "hybrid_rrf_retrieval")
    assert "CartesianProduct" not in plan
    # each arm's candidate pool is a top-k (TakeOrderedAndProject),
    # never a full global sort of the corpus
    assert "TakeOrderedAndProject" in plan
    # the query embedding attaches as a broadcast, not a shuffle join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_incremental_candidates_never_pair_index_with_index(spark, specs):
    plan = plan_of(spark, specs, "dedup_incremental_candidates")
    assert "CartesianProduct" not in plan
    # probe-vs-index is a band-bucket equi-join over a checkpointed
    # signature table: no parquet re-scan survives in the final plan
    assert plan.count("FileScan parquet") == 0


def test_duplicate_spans_gram_cut_one_shuffle_doc_window(spark, specs):
    plan = plan_of(spark, specs, "dedup_duplicate_spans")
    assert "CartesianProduct" not in plan
    # duplicated-gram cut shuffles on the gram; island merge windows on
    # doc_id — never an unpartitioned global window over gram rows
    assert "hashpartitioning(gram" in plan
    assert "hashpartitioning(doc_id" in plan
    assert "Exchange SinglePartition" not in plan
    # stays JVM-side (tokenize/slice/join are codegen'd HOF exprs)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_eb_shrinkage_broadcasts_global_rate(spark, specs, monkeypatch):
    # quantile_blocks localCheckpoints its input by default (round-9:
    # the eager cuts job can't share exchanges with the main job, so
    # without truncation the upstream agg recomputes per consumer),
    # which truncates the final plan at a Scan ExistingRDD and hides
    # the upstream shapes this test pins. Materialization is
    # orthogonal to the LOGICAL plan (result-invariance is pinned by
    # test_round9_ops::test_quantile_blocks_materialize_false_matches_
    # true; cache hygiene by _assert_no_cache_residue), so pin the
    # shapes with it off.
    import functools

    from supplier_performance_data_pipeline_spark.operators import ranking

    orig = ranking.quantile_blocks
    monkeypatch.setattr(
        ranking,
        "quantile_blocks",
        functools.partial(orig, materialize=False),
    )
    plan = plan_of(spark, specs, "supplier_on_time_eb_shrinkage")
    assert "CartesianProduct" not in plan
    # the 1-row global-rate aggregate attaches as a broadcast
    assert "BroadcastNestedLoopJoin" in plan
    # per-supplier counts partial-aggregate before their shuffle
    assert "partial_count" in plan or "partial_sum" in plan
    # SinglePartition exchanges feed only 1-row aggregates and the
    # two-level prefix's tiny block tables (round-8: the rank itself is
    # a PARTITIONED window; the plan string prints the shared lineage
    # once per branch, runtime reuses the exchanges) — never a
    # fact-grain collapse
    assert plan.count("Exchange SinglePartition") <= 7
    for m in re.finditer(
        r"row_number\(\) windowspecdefinition\(([^,]+),", plan
    ):
        first = m.group(1).strip()
        assert " ASC" not in first and " DESC" not in first


def test_knn_vote_confusion_bucket_join_jvm_side(spark, specs):
    plan = plan_of(spark, specs, "knn_vote_confusion")
    assert "CartesianProduct" not in plan
    # votes aggregate and rank per query vector
    assert "hashpartitioning(vec_a" in plan
    assert "Exchange SinglePartition" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_curriculum_rank_is_two_level_not_global_ntile(spark, specs):
    plan = plan_of(spark, specs, "corpus_quality_curriculum")
    assert "CartesianProduct" not in plan
    # intra-block rank windows on the score-range block key; the only
    # SinglePartition exchanges feed the 20-row block-offset window and
    # the 1-row corpus count — never the doc-grain rows
    assert "hashpartitioning(blk" in plan
    assert "ntile" not in plan.lower()
    assert plan.count("Exchange SinglePartition") <= 2


def test_oov_vocab_is_topk_and_broadcast(spark, specs):
    plan = plan_of(spark, specs, "tokenizer_oov_rate")
    assert "CartesianProduct" not in plan
    # vocab cut is top-k over the aggregated counts, not a global sort
    assert "TakeOrderedAndProject" in plan
    # membership attaches as a broadcast join
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_orc_roundtrip_scans_orc(spark, specs):
    plan = plan_of(spark, specs, "part_orc_roundtrip")
    assert "FileScan orc" in plan


def test_jsonl_roundtrip_scans_json(spark, specs):
    plan = plan_of(spark, specs, "customer_jsonl_roundtrip")
    assert "FileScan json" in plan


def test_sampling_temperature_broadcast_norm_no_explode(spark, specs):
    plan = plan_of(spark, specs, "corpus_sampling_temperature")
    assert "CartesianProduct" not in plan
    # the normalizer attaches as a 1-row broadcast; token counts come
    # from size() on the doc-keyed projection — no explode of the
    # token stream anywhere in this query
    assert "BroadcastNestedLoopJoin" in plan
    assert "Generate explode" not in plan


def test_lpa_rounds_are_checkpointed_and_broadcast(spark, specs):
    plan = plan_of(spark, specs, "knn_graph_label_propagation")
    assert "CartesianProduct" not in plan
    # lineage is cut per round (each round ran eagerly through its own
    # localCheckpoint during build): the final plan hangs off the
    # checkpointed node-label RDD only — no re-derivation of the kNN
    # join, no parquet rescans surviving to the result plan
    assert "Scan ExistingRDD" in plan
    assert "FileScan parquet" not in plan


def test_range_frame_single_user_shuffle(spark, specs):
    plan = plan_of(spark, specs, "events_range_frame_velocity")
    assert "CartesianProduct" not in plan
    # one user-keyed exchange feeding the range-frame window; the
    # purchase filter must NOT push below the window (the frame sees
    # every event)
    assert "hashpartitioning(user_id" in plan
    assert shuffles(plan) == 1
    assert "specifiedwindowframe(RangeFrame" in plan


def test_bbit_audit_bucket_join_never_all_pairs(spark, specs):
    plan = plan_of(spark, specs, "minhash_bbit_estimator_audit")
    assert "CartesianProduct" not in plan
    # candidate generation is the banded equi-join; bit agreement rides
    # the same pair join — no extra fact-scale shuffle for it
    assert "SortMergeJoin" not in plan or "CartesianProduct" not in plan


def test_hits_lineage_cut_and_takeordered(spark, specs):
    # Half-steps ran eagerly through their localCheckpoints during
    # build (the pagerank/LPA pattern): the final plan must hang off
    # the checkpointed authority RDD only — no re-derivation of the
    # bipartite join, no parquet rescans — and the top-k must be
    # TakeOrdered, never a global sort exchange.
    plan = plan_of(spark, specs, "supplier_hits_authority")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Scan ExistingRDD" in plan
    assert "FileScan parquet" not in plan
    assert "SortMergeJoin" not in plan


def test_bootstrap_explode_is_map_side_one_agg(spark, specs):
    plan = plan_of(spark, specs, "orders_poisson_bootstrap_ci")
    assert "CartesianProduct" not in plan
    # the replicate fan-out must be a generator on the scan, never a join
    assert "Generate explode" in plan
    # replicate-keyed agg + the R-row ranking window + final agg: the
    # fact table itself shuffles exactly once (keyed by replicate)
    assert "hashpartitioning(r" in plan


def test_auc_windows_on_score_grain_only(spark, specs):
    plan = plan_of(spark, specs, "events_engagement_auc")
    assert "CartesianProduct" not in plan
    # one fact-scale shuffle (user-day agg); the cumulative window runs
    # on the score-grain table AFTER a score-keyed agg
    assert "hashpartitioning(user_id" in plan
    assert "hashpartitioning(s" in plan
    assert "specifiedwindowframe(RowFrame" in plan


def test_gains_single_partition_only_on_unit_grain(spark, specs):
    plan = plan_of(spark, specs, "events_engagement_gains")
    assert "CartesianProduct" not in plan
    # user-day agg shuffles the facts once; ranking runs on unit grain,
    # the capture window on the 10-row decile table
    assert "hashpartitioning(user_id" in plan
    assert "TakeOrderedAndProject" not in plan  # full table ranked, fine


def test_km_windows_on_duration_grid(spark, specs):
    plan = plan_of(spark, specs, "events_km_time_to_purchase")
    assert "CartesianProduct" not in plan
    # fact scan -> user-day agg (one fact shuffle); every window runs on
    # the bounded duration grid (SinglePartition over <=1440 rows is the
    # documented ECDF pattern); the subject total attaches by broadcast
    assert "hashpartitioning(user_id" in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_ols_is_one_scan_one_agg(spark, specs):
    # Five sufficient moments in ONE aggregate over ONE pruned scan —
    # the mergeable-partials shape that makes closed-form OLS scale.
    plan = plan_of(spark, specs, "price_quantity_ols")
    assert "Join" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "ReadSchema" in plan and "l_returnflag" in plan


def test_theil_single_fact_shuffle_broadcast_scalars(spark, specs):
    plan = plan_of(spark, specs, "customer_revenue_theil")
    assert "CartesianProduct" not in plan
    # nation/global tables attach by broadcast; the customer-grain agg
    # is the only fact-scale exchange family (custkey/nationkey keyed)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rake_windows_doc_partitioned_topk_takeordered(spark, specs):
    plan = plan_of(spark, specs, "documents_rake_keywords")
    assert "CartesianProduct" not in plan
    # segmentation window rides the doc partition, never unpartitioned
    assert "hashpartitioning(doc_id" in plan
    assert "TakeOrderedAndProject" in plan


def test_ltv_firsts_join_no_cartesian(spark, specs):
    plan = plan_of(spark, specs, "customer_cohort_ltv")
    assert "CartesianProduct" not in plan
    # cumulative window partitions by cohort, never unpartitioned
    assert "specifiedwindowframe(RowFrame" in plan
    assert "hashpartitioning(cohort_m" in plan


def test_entity_resolution_block_join_lineage_cut(spark, specs):
    plan = plan_of(spark, specs, "supplier_entity_resolution")
    assert "CartesianProduct" not in plan
    # CC ran eagerly through per-round checkpoints during build; the
    # final plan hangs off the component RDD, and the survivor
    # attachment is a broadcast of the supplier dim
    assert "Scan ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan


def test_zipf_fit_head_cut_then_tiny_aggregates(spark, specs):
    plan = plan_of(spark, specs, "corpus_zipf_fit")
    assert "CartesianProduct" not in plan
    # vocabulary agg is the one data-scale shuffle; the rank window and
    # moment agg run after the top-K cut
    assert "hashpartitioning(tok" in plan


# --- round-7 session additions ----------------------------------------------


def test_ivfpq_sampled_codebooks_train_on_sample_only(spark, specs):
    """r13 fused form: both quantizers train EAGERLY behind
    localCheckpoints (one coarse chain + ONE (sub, cluster)-keyed PQ
    chain instead of m), so the served plan is a tiny encode + LUT
    join tree. Training-on-the-sample is pinned by the unchanged
    DuckDB oracle (sample-trained centroid VALUES differ from
    full-trained ones, so the hash gate catches any drift); this test
    pins the serving-plan scale shape: broadcast equi-joins only, no
    cartesian / sort-merge, and a single-digit shuffle budget (the
    r12 form budgeted 34)."""
    plan = plan_of(spark, specs, "ann_ivfpq_sampled_codebooks")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4  # encode + LUT + cand
    assert shuffles(plan) <= 6


def test_ivfpq_multiprobe_relational_probe_no_cartesian(spark, specs):
    """Multi-probe IVF-PQ: the probe choice must stay a broadcast
    rank over the nq x k_coarse distance grid (never a driver-side
    probe list or a cartesian) and the candidate/LUT joins stay
    broadcast equi-joins. Training runs eagerly behind checkpoints
    (r13 fused form); sample-only training is value-pinned by the
    oracle hash gate."""
    plan = plan_of(spark, specs, "ann_ivfpq_multiprobe_topk")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4
    assert shuffles(plan) <= 6


def test_ann_index_serve_prunes_codes_and_pushes_query_filter(spark, specs):
    """Serving from the persisted IVF-PQ index must read the STORED
    layout the scale story depends on: ONE codes scan pruned to
    exactly the ADC columns (vec_id, coarse, c0..c3) — never cv or
    raw vectors (the r13 unpivot replaced m single-column scans with
    one multi-column scan; same bytes, a quarter of the jobs) — the
    8-query selection pushes down into the query-vector scan, and
    every join is a broadcast — no sort-merge, no cartesian, bounded
    shuffles."""
    import re as _re

    plan = plan_of(spark, specs, "ann_index_persist_roundtrip")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "LessThan(vec_id,8)" in plan  # query filter pushed to scan
    # pruned codes scan: exactly the ADC columns, nothing else
    assert _re.search(
        r"FileScan parquet \[vec_id#\d+L,coarse#\d+,"
        r"c0#\d+,c1#\d+,c2#\d+,c3#\d+\]",
        plan,
    ), "codes scan not pruned to the ADC (vec_id, coarse, c0..c3) columns"
    assert plan.count("BroadcastHashJoin") >= 3
    assert shuffles(plan) <= 8


def test_rerank_stage2_candidate_bounded_probes(spark, specs):
    """Stage 2 must stay CANDIDATE-bounded: the <=10 stage-1 ids
    broadcast into both the embedding scan and the token explode
    (broadcast joins present), pools remain top-k cuts, and no
    cartesian appears. The only sort-merge joins allowed are the
    tiny-list stage-1 fusion and stage-2 left joins over <=pool-row
    inputs — a corpus-scale SMJ would blow the cap."""
    plan = plan_of(spark, specs, "hybrid_rerank_stage2")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 4


# --- round 8: scale-safe global ranking rewrites ------------------------------


def _ranking_window_shape(plan: str) -> None:
    """Shared pin for the two-level parallel-prefix rank: every
    row_number window is PARTITIONED (by the block column), and no
    NTILE window function exists — the quartile/decile is the closed
    form from operators/ranking.py. (`\\bntile\\(` avoids matching
    approx_percentile.)"""
    assert not re.search(r"\bntile\(", plan), "NTILE window crept back in"
    for m in re.finditer(r"row_number\(\) windowspecdefinition\(([^,]+),", plan):
        first = m.group(1).strip()
        assert " ASC" not in first and " DESC" not in first, (
            "row_number window is unpartitioned: " + m.group(0)
        )


def test_revenue_deciles_scale_safe_rank(spark, specs):
    """revenue_decile_shares (round-7 weak flag): rank via quantile
    blocks + partitioned intra-block row_number; the only
    SinglePartition exchanges feed the <=64-row block-offset window,
    the 1-row percentile agg, and the 1-row revenue total."""
    plan = plan_of(spark, specs, "revenue_decile_shares")
    _ranking_window_shape(plan)
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") <= 4


def test_rfm_segments_scale_safe_rank(spark, specs):
    """customer_rfm_segments (round-7 weak flag): all three quartiles
    rank via the two-level prefix — flat composition (three rank
    tables joined on custkey), so lineage stays linear and the
    SinglePartition exchanges are only the tiny block/percentile
    aggregates."""
    plan = plan_of(spark, specs, "customer_rfm_segments")
    _ranking_window_shape(plan)
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") <= 14


def test_engagement_gains_scale_safe_rank(spark, specs):
    """events_engagement_gains (round-7 weak flag): the user-day rank
    comes from per-score blocks (bounded score domain); the remaining
    unpartitioned windows are the score-offset table and the 10-row
    decile grid."""
    plan = plan_of(spark, specs, "events_engagement_gains")
    _ranking_window_shape(plan)
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") <= 4


def test_basket_lift_pair_join_bounded_and_topk(spark, specs):
    """Pair generation must be the per-order equi-join (never an
    all-pairs cartesian), marginals attach by part-key equi-joins, the
    1-row order count broadcasts, and the top-20 cut is TakeOrdered —
    no global sort of the pair table."""
    plan = plan_of(spark, specs, "part_basket_lift")
    assert "CartesianProduct" not in plan
    # the one BroadcastNestedLoopJoin allowed is the 1-row order-count
    # attach (the repo's standard broadcast crossJoin shape)
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "TakeOrderedAndProject" in plan
    assert re.search(r"\bntile\(", plan) is None


def test_purchase_attribution_partitioned_windows(spark, specs):
    """The path join is user-keyed (equi + residual range, no NL
    join); every ranking window partitions by purchase id — the
    attribution query may never global-sort the touch table."""
    plan = plan_of(spark, specs, "events_purchase_attribution")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for m in re.finditer(
        r"row_number\(\) windowspecdefinition\(([^,]+),", plan
    ):
        first = m.group(1).strip()
        assert " ASC" not in first and " DESC" not in first, m.group(0)

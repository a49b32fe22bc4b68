"""Plan-quality assertions: the declared queries must compile to the physical
plans their docstrings promise — filters reaching the parquet scan, unused
columns pruned, dims broadcast, facts scanned once. These are the properties
that make the plans survive a 100×-1000× scale-up; asserting them here keeps
perf regressions from hiding behind still-correct results.
"""

from __future__ import annotations

from fxspark.queries import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    """The shipdate filter must be pushed into the parquet scan, and the scan
    must not read columns the query never touches (l_partkey etc.)."""
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    read_schema = plan.split("ReadSchema")[1][:400]
    for unused in ("l_partkey", "l_suppkey", "l_orderkey"):
        assert unused not in read_schema, read_schema


def test_revenue_by_nation_broadcasts_dims(spark, sf_dir):
    """customer/supplier/nation/region are designated broadcast; the only
    non-broadcast join may be lineitem⋈orders (fact-fact)."""
    plan = _plan(spark, sf_dir, "revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 4, plan[:3000]


def test_waiting_suppliers_single_lineitem_scan(spark, sf_dir):
    """The decorrelated Q21 must scan lineitem exactly once (the literal
    EXISTS/NOT-EXISTS form would scan it three times)."""
    plan = _plan(spark, sf_dir, "waiting_suppliers")
    assert plan.count("Scan parquet") == 3, plan[:3000]  # lineitem+orders+supplier


def test_latest_event_agg_is_partial_final(spark, sf_dir):
    """latest-per-key via max_by must be a partial/final aggregate with ONE
    exchange — not a window sort. (Its struct buffer makes both halves
    SortAggregates; ops/latest.py's scale notes.)"""
    plan = _plan(spark, sf_dir, "latest_event_per_user")
    assert plan.count("Exchange") == 1, plan[:3000]
    assert "Window" not in plan
    assert "max_by" in plan or "HashAggregate" in plan


def test_big_volume_orders_aggregates_before_join(spark, sf_dir):
    """The HAVING sliver must be computed BEFORE the joins: the first
    operator consuming the lineitem scan is an aggregate, not a join."""
    plan = _plan(spark, sf_dir, "big_volume_orders")
    li_scan_pos = plan.find("lineitem")
    assert li_scan_pos != -1
    # the lineitem branch (text after its scan mention, up to the next scan)
    # must contain a HashAggregate before any Join appears upstream of it —
    # cheap textual proxy: the plan has >=2 HashAggregates and the joins are
    # broadcast (tiny sliver side)
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_orders_scan(spark, sf_dir):
    """returned_item_revenue: the orderdate range predicate must appear in
    the orders scan's PushedFilters, the returnflag predicate in lineitem's."""
    plan = _plan(spark, sf_dir, "returned_item_revenue")
    assert "o_orderdate" in plan and "PushedFilters" in plan
    segs = plan.split("PushedFilters")
    pushed = " ".join(s[:300] for s in segs[1:])
    assert "o_orderdate" in pushed
    assert "l_returnflag" in pushed


def test_contamination_broadcasts_bench_side(spark, sf_dir):
    """The benchmark gram index must broadcast — the corpus side of the
    decontamination join must not shuffle."""
    plan = _plan(spark, sf_dir, "benchmark_contamination")
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_grouping_sets_single_expand_single_scan(spark, sf_dir):
    """GROUPING SETS must compile to ONE scan + ONE Expand feeding a single
    partial/final aggregate — not a union of per-set scans."""
    plan = _plan(spark, sf_dir, "grouping_sets_revenue")
    assert plan.count("Scan parquet") == 1, plan[:3000]
    assert plan.count("Expand") == 1, plan[:3000]


def test_part_promo_reuses_lineitem_aggregate(spark, sf_dir):
    """Q20's per-part total must derive from the checkpointed per-(part,
    supplier) aggregate: the final plan reads lineitem zero times (it sits
    behind the checkpoint) and only part + supplier as parquet."""
    plan = _plan(spark, sf_dir, "part_promo_suppliers")
    assert plan.count("Scan parquet") == 2, plan[:3000]


def test_token_chunks_shuffle_free(spark, sf_dir):
    """Chunking is a map-only pipeline: no Exchange anywhere in the plan."""
    plan = _plan(spark, sf_dir, "doc_token_chunks")
    # the spread() repartition is the only allowed exchange (parallelism
    # spreading of a single-row-group fixture read), nothing else
    assert plan.count("Exchange") <= 1, plan[:3000]


def test_pack_bins_single_exchange(spark, sf_dir):
    """Per-source packing: the window's hash(source) exchange also satisfies
    the (source, bin) aggregation — exactly ONE exchange in the plan."""
    plan = _plan(spark, sf_dir, "doc_pack_bins")
    assert plan.count("Exchange") == 1, plan[:3000]


def test_mixing_plan_corpus_scan_partial_agg(spark, sf_dir):
    """Mixture planning: the corpus scan partial-aggregates map-side
    (HashAggregate below the exchange), and no join touches corpus rows."""
    plan = _plan(spark, sf_dir, "source_mixing_plan")
    assert "HashAggregate" in plan
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_zorder_stats_map_side_expression(spark, sf_dir):
    """The Morton value is plan-side arithmetic: no UDF, no Python eval,
    one aggregation exchange."""
    plan = _plan(spark, sf_dir, "events_zorder_stats")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 2, plan[:3000]


def test_kmv_uses_takeordered_not_global_sort(spark, sf_dir):
    """The k-smallest-hashes step must be TakeOrderedAndProject (per-task
    top-k + k-sized merge), never a full Sort of the hash domain."""
    plan = _plan(spark, sf_dir, "events_kmv_distinct")
    assert "TakeOrderedAndProject" in plan, plan[:3000]


def test_semantic_dedup_no_cartesian(spark, sf_dir):
    """SemDeDup pairs only within a cell: the self-join is keyed (hash join
    on cid), never a cartesian product."""
    plan = _plan(spark, sf_dir, "embedding_semantic_dedup")
    assert "CartesianProduct" not in plan, plan[:3000]


def test_importance_weights_broadcasts_bucket_lms(spark, sf_dir):
    """DSIR scoring: the two 256-row bucket LMs and the totals row join
    BROADCAST — the token-exploded corpus side never sort-merge shuffles
    on bucket (the open-domain side shuffles once, keyed by doc)."""
    plan = _plan(spark, sf_dir, "doc_importance_weights")
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_token_budget_select_partitions_on_source(spark, sf_dir):
    """Budget selection: the running-sum window partitions on source (no
    global-order sort), same scale shape as sequence packing."""
    plan = _plan(spark, sf_dir, "doc_token_budget_select")
    assert "Window" in plan
    assert plan.count("Exchange") <= 2, plan[:3000]


def test_bpe_pairs_topk_not_global_sort(spark, sf_dir):
    """BPE candidate ranking: vocab-first aggregation then
    TakeOrderedAndProject for the top-30 — no full sort of the pair
    domain, no Python stage."""
    plan = _plan(spark, sf_dir, "token_bpe_pair_counts")
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_minhash_cross_broadcasts_bench_side(spark, sf_dir):
    """Cross-corpus contamination: the bench side's bands and shingle sets
    broadcast — the corpus never sort-merge shuffles on band or shingle
    domains (ngram_overlap's topology, fuzzy tier)."""
    plan = _plan(spark, sf_dir, "benchmark_minhash_contamination")
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_funnel_stage_filters_reach_scan(spark, sf_dir):
    """event_funnel_stages: each stage's event_type predicate must be pushed
    into its events scan, and no window operator may appear (the funnel is
    aggs + key joins, not a global ordering)."""
    plan = _plan(spark, sf_dir, "event_funnel_stages")
    assert "Window" not in plan
    seg = plan.split("PushedFilters")
    pushed = "".join(s[:220] for s in seg[1:])
    assert "event_type" in pushed, pushed


def test_bloom_prefilter_broadcasts_position_set(spark, sf_dir):
    """bloom_decontam_candidates: the bench position set and gram set are
    broadcast — the corpus side must never shuffle on gram/position (no
    SortMergeJoin in the plan)."""
    plan = _plan(spark, sf_dir, "bloom_decontam_candidates")
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:3000]


def test_sweep_line_window_is_day_partitioned(spark, sf_dir):
    """peak_concurrent_users: the running-sum window must be partitioned
    (no 'No Partition Defined' single-partition global sort)."""
    plan = _plan(spark, sf_dir, "peak_concurrent_users")
    assert "Window" in plan
    # a partitioned window sorts by the partition expr first; the global
    # form would show an Exchange SinglePartition feeding the window
    assert "SinglePartition" not in plan.split("Window")[0][-600:], plan[:3000]


def test_snapshot_diff_single_join(spark, sf_dir):
    """user_state_cdc_diff: exactly one full-outer join over the two
    latest-state aggregates; events scanned once per snapshot side."""
    plan = _plan(spark, sf_dir, "user_state_cdc_diff")
    assert plan.count("FullOuter") == 1 or plan.count("full_outer") == 1, plan[:2500]
    assert plan.count("Scan parquet") == 2, plan[:2500]


def test_priority_sample_is_take_ordered(spark, sf_dir):
    """doc_weighted_sample: top-k must be TakeOrderedAndProject, never a
    global Sort + Limit."""
    plan = _plan(spark, sf_dir, "doc_weighted_sample")
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_skyline_no_quadratic_join(spark, sf_dir):
    """The skyline plan must be the bucketed sweep — windows partitioned by
    bucket — never a dominance self-join: no SortMergeJoin of part against
    itself, and the only nested-loop joins are the two 1-row/k-row
    broadcasts (bounds, bucket seeds)."""
    plan = _plan(spark, sf_dir, "part_price_skyline")
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    # part is re-scanned for the bounds / bucket-summary branches (tiny
    # aggregates), but never joined against itself row-for-row
    assert plan.count("Scan parquet") <= 4, plan[:3000]
    assert "Window" in plan


def test_basket_lift_pairs_join_on_order_key(spark, sf_dir):
    """Basket pair generation must join on the order key (shuffle or
    broadcast hash join with o = o), never a cartesian; brand marginals and
    the 1-row total must be broadcast."""
    plan = _plan(spark, sf_dir, "basket_brand_lift")
    assert "CartesianProduct" not in plan, plan[:3000]
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_kmeans_assignment_is_broadcast(spark, sf_dir):
    """Every k-means assignment pass must broadcast the k-row codebook
    against the corpus (BroadcastNestedLoopJoin of a tiny side), and the
    corpus must never shuffle on anything but the (cell, pos) update agg —
    no SortMergeJoin anywhere in the loop."""
    plan = _plan(spark, sf_dir, "embedding_kmeans_iters")
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_grouped_ols_single_exchange(spark, sf_dir):
    """The OLS fit is one partial-aggregated groupBy: exactly one exchange,
    no window, no join."""
    plan = _plan(spark, sf_dir, "user_value_trend")
    assert plan.count("Exchange") == 1, plan[:3000]
    assert "Window" not in plan and "Join" not in plan


def test_cusum_windows_share_one_exchange(spark, sf_dir):
    """The CUSUM chart's running-sum and low-water-mark windows share the
    same (user) partitioning: one exchange feeds the mean agg, one the
    window sort — never a per-window re-shuffle."""
    plan = _plan(spark, sf_dir, "user_value_cusum")
    assert plan.count("Exchange") <= 3, plan[:3000]


def test_linkage_pairs_bounded_by_block(spark, sf_dir):
    """The Fellegi-Sunter linkage's pair stage must be an equi-join on the
    name-prefix block key — never an all-pairs customer² product. Any
    hash/merge join strategy is fine; what matters is that the join is
    KEYED (on _blk) so pair count is bounded by block size, and that no
    nested-loop/cartesian operator appears anywhere in the plan."""
    plan = _plan(spark, sf_dir, "customer_name_linkage")
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "_blk" in plan, plan[:3000]
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan[:3000]


def test_attribution_is_single_sort_shuffle(spark, sf_dir):
    """Last-touch attribution rides the as-of union+window: no join of the
    conversion side against the touch side at all (the correlated LATERAL
    shape), just one (key, time)-sorted window pass."""
    plan = _plan(spark, sf_dir, "purchase_attribution")
    assert "CartesianProduct" not in plan
    assert "Window" in plan, plan[:3000]


def test_maintained_ols_partial_aggregates(spark, sf_dir):
    """The maintained OLS must reduce each tertile batch to keys-sized
    moment states BEFORE merging: three partial hash aggregates feeding
    keyed full-outer merges — the events table is never joined directly."""
    plan = _plan(spark, sf_dir, "maintained_ols_tertiles")
    assert plan.count("HashAggregate") >= 6, plan[:3000]
    assert "CartesianProduct" not in plan


def test_dp_counts_single_exchange(spark, sf_dir):
    """The DP release is a count rollup plus map-side noise arithmetic:
    exactly one exchange, no window, no join."""
    plan = _plan(spark, sf_dir, "dp_event_counts")
    assert plan.count("Exchange") == 1, plan[:3000]
    assert "Window" not in plan and "Join" not in plan


def test_delta_join_all_terms_keyed(spark, sf_dir):
    """Every IVM delta term is a keyed equi-join on the orderkey — no
    nested loop or cartesian anywhere (the algebra's point is that state
    never joins state)."""
    plan = _plan(spark, sf_dir, "orders_delta_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin")
        + plan.count("BroadcastHashJoin")
        >= 3
    ), plan[:3000]


def test_first_touch_no_window_sort(spark, sf_dir):
    """First-touch resolves via a min_by hash aggregate over range-join
    candidates — no window operator in the plan at all."""
    plan = _plan(spark, sf_dir, "purchase_first_touch")
    assert "Window" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan


def test_nearest_touch_single_exchange_single_window(spark, sf_dir):
    """nearest_join's docstring promise: BOTH directional picks come from
    the SAME sorted window — one exchange, one sort, one Window operator.
    A second sort or exchange means the single-pass design regressed to
    the two-asof composition."""
    plan = _plan(spark, sf_dir, "purchase_nearest_touch")
    assert plan.count("Exchange") == 1, plan
    assert plan.count("+- Window") + plan.count(":- Window") <= 1
    assert "CartesianProduct" not in plan


def test_reservoir_sample_two_phase_rank(spark, sf_dir):
    """k_smallest_per_key phase 1 must rank within (key, scan partition)
    — the window spec carries SPARK_PARTITION_ID — so no task ever sorts
    a whole stratum."""
    plan = _plan(spark, sf_dir, "events_reservoir_sample")
    assert "SPARK_PARTITION_ID" in plan.upper() or "_pid" in plan, plan


def test_containment_pair_shuffle_carries_ids_only(spark, sf_dir):
    """The shingle-keyed pair join must move (id, shingle) postings only;
    set sizes attach AFTER the pair aggregation (the round-6 perf fix).
    A SortMergeJoin input projecting _sz would mean the wide-shuffle
    regression came back."""
    plan = _plan(spark, sf_dir, "doc_shingle_containment")
    import re

    # find every join keyed on the shingle column, whatever join strategy
    # AQE picked at this scale (broadcast at sf0.001, SMJ at scale)
    segs = [
        seg
        for seg in re.split(
            r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", plan
        )[1:]
        if seg.lstrip().startswith("[_s#")
    ]
    assert segs, "expected a shingle-keyed join"
    for seg in segs:
        assert "_sz" not in seg[:600], seg[:600]


def test_histogram_quantiles_broadcasts_range_stats(spark, sf_dir):
    """The global min/max frame must broadcast to the binning projection
    (map-side binning), never shuffle the fact table against it."""
    plan = _plan(spark, sf_dir, "events_histogram_quantiles")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_welch_ttest_single_aggregation_pass(spark, sf_dir):
    """Both A/B samples' moments must accumulate in ONE conditional
    hash-aggregate over the fact join — no second scan, no sample join;
    part broadcasts as the dim."""
    plan = _plan(spark, sf_dir, "promo_price_ttest")
    assert plan.count("Scan parquet") == 2, plan[:3000]  # lineitem + part
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_cumulative_hazard_subject_agg_before_windows(spark, sf_dir):
    """Survival windows must run over the time-grain rollup, never the
    subject frame: exactly one scan of orders feeding hash-aggregates;
    no subject-level self-join (a second orders scan would betray one).
    (The max-date scalar is a broadcast, so orders appears twice: the
    subject agg + the 1-row max aggregate.)"""
    plan = _plan(spark, sf_dir, "customer_churn_hazard")
    assert plan.count("Scan parquet") == 2, plan[:3000]
    assert "SortMergeJoin" not in plan


def test_gini_ranks_entity_rollup_not_facts(spark, sf_dir):
    """The rank window must consume the customer-grain aggregate (window
    ABOVE the aggregate in the plan), and the orders side joins before
    aggregation — one window total, partitioned by nation."""
    plan = _plan(spark, sf_dir, "nation_spend_gini")
    assert plan.count("Window") == 1, plan[:3000]
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert 0 <= win_pos < agg_pos or "HashAggregate" in plan[:win_pos], plan[:2000]


def test_apriori_no_cartesian_and_broadcast_sets(spark, sf_dir):
    """Frequent-item and frequent-pair sets must broadcast; the basket
    joins are equi-joins on the basket key (no cartesian anywhere —
    globally banned, re-asserted here for the mining shape)."""
    plan = _plan(spark, sf_dir, "brand_triples_apriori")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan[:3000]


def test_triangles_orientation_keyed_joins(spark, sf_dir):
    """Wedge and closing joins must be hash equi-joins (keyed on the
    shared endpoint / the closing pair) — never a nested-loop over
    edges; the only BroadcastNestedLoop allowed is none.

    Since round 18 the registered query passes ``wide_close=True``, which
    EAGERLY materializes the per-node counts at query-build time (under a
    temporarily widened shuffle conf), so the returned frame's plan is a
    degree join over the checkpoint and no longer contains the closing
    semi-join. The join-strategy pin therefore executes the SAME wedge
    pipeline via the op's lazy path (``wide_close=False`` — identical plan
    construction, the flag only changes when/at what width it runs) and
    reads the AQE-final plan — the round-11 lesson: initial-plan lints
    mislead under AQE (a "SortMergeJoin" in the pre-execution string ran
    as broadcast all along)."""
    plan = _plan(spark, sf_dir, "part_copurchase_clustering")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    # The wedge close must not SORT the Σ out-deg² wedge frame at
    # RUNTIME: with the session's full AQE join ladder the final plan's
    # closing semi-join is broadcast (edge set fits here) or shuffled
    # hash (cluster regime) — never a surviving sort-merge. The edge
    # build comes from the SAME helper the registered query uses
    # (queries._copurchase_pair_edges), so this pin lints the real
    # pipeline and cannot drift from it.
    from fxspark.ops.graph import triangles_per_node
    from fxspark.queries import _copurchase_pair_edges

    df = triangles_per_node(_copurchase_pair_edges(spark, sf_dir))
    df.collect()
    full = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in full, full[:500]
    # The AQE plan string appends the superseded "== Initial Plan =="
    # section after the final plan — assert on the FINAL section only.
    final = full.split("== Initial Plan ==")[0]
    # Global bans re-asserted on the WEDGE PIPELINE itself (the registered
    # query's returned plan is the residual degree join over the eager
    # checkpoint, so the file-level ban lint no longer sees this stage).
    assert "CartesianProduct" not in final, final[:3000]
    assert "BroadcastNestedLoopJoin" not in final, final[:3000]
    semi = [l for l in final.splitlines() if "Join" in l and "LeftSemi" in l]
    assert semi, final[:3000]
    assert all("SortMergeJoin" not in l for l in semi), semi


def test_scd2_enrich_single_sort_shuffle(spark, sf_dir):
    """The versioned-dimension lookup must run as ONE as-of window pass:
    exactly one Window over the (user, time)-sorted union — not an
    interval join + rank (which would show a range-condition join)."""
    plan = _plan(spark, sf_dir, "purchase_regime_enrich")
    assert plan.count("Window") <= 3, plan[:3000]  # scd2 lag/lead + asof pick
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan


def test_abc_no_global_sort_of_parts(spark, sf_dir):
    """ABC classification must not globally sort the part rollup: the
    only windows are the weighted binner's coarse-histogram prefixes
    (bounded grain, allowlisted); no Exchange SinglePartition carrying
    the part frame into a sort."""
    plan = _plan(spark, sf_dir, "part_revenue_abc")
    import re

    # ntile/cume-style global ranking would show 'Window' directly over
    # the full part aggregate with rangepartitioning on revenue
    assert "rangepartitioning(w" not in plan.lower(), plan[:3000]


def test_hilbert_stats_single_codegen_map(spark, sf_dir):
    """The 16-level Hilbert walk must stay one fused map — no exchange
    before the bounded bin rollup's single shuffle, no blow-up into
    per-level stages."""
    plan = _plan(spark, sf_dir, "events_hilbert_stats")
    assert plan.count("Exchange") == 1, plan[:3000]
    assert "Window" not in plan and "Sort" not in plan


def test_mann_whitney_tie_group_shape(spark, sf_dir):
    """Exact MW: one fact scan, tie-group hash-agg before the rank
    window (the window must sort TIE GROUPS, never raw rows — the
    HashAggregate must appear below the Window in the plan), part dim
    broadcast."""
    plan = _plan(spark, sf_dir, "promo_price_mannwhitney")
    assert "BroadcastHashJoin" in plan
    assert plan.index("Window") < plan.index("Scan parquet"), (
        "expected Window above the scans in top-down plan print"
    )
    # tie-group agg feeds the window: a HashAggregate between window and scan
    seg = plan[plan.index("Window"):]
    assert "HashAggregate" in seg, seg[:2000]


def test_theil_no_window(spark, sf_dir):
    """Theil is the no-rank-window inequality form: broadcast joins and
    hash aggregates only."""
    plan = _plan(spark, sf_dir, "nation_spend_theil")
    assert "Window" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan


def test_eb_shrinkage_broadcast_prior(spark, sf_dir):
    """The single-row moment prior must broadcast back (nested-loop
    broadcast of one row), with no window or sort anywhere."""
    plan = _plan(spark, sf_dir, "part_return_eb_shrinkage")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" not in plan and "Sort" not in plan


def test_hll_partial_combined_register_agg(spark, sf_dir):
    """HLL must partial-combine: the (type, register) max-rank aggregate
    appears as partial+final HashAggregate pairs; no window, no sort."""
    plan = _plan(spark, sf_dir, "events_hll_distinct")
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 4, plan[:3000]


def test_mann_whitney_binned_grain_capped(spark, sf_dir):
    """SCALE.md §23's executable rank-statistic scale form: the binned MW
    variant's declared 1024-bin cap must reach the physical plan (the
    least(1023, ...) quantization expression), and the rank window must
    sort the tie-group AGGREGATE, never raw rows — together those bound
    the window grain at 1024 per key by construction."""
    plan = _plan(spark, sf_dir, "promo_price_mannwhitney_binned")
    assert "least(1023" in plan, plan[:3000]
    seg = plan[plan.index("Window"):]
    assert "HashAggregate" in seg, seg[:2000]
    assert "BroadcastHashJoin" in plan

def test_doulion_sampled_triangles_plan_shape(spark, sf_dir):
    """The DOULION scale twin: the md5 sampling filter must sit in the
    edge-build sub-plan (the final executed plan is truncated at the
    localCheckpoint, so assert the op-level plan), and the query-level
    emission must be a TakeOrdered cut with no CartesianProduct."""
    from pyspark.sql import functions as F

    from fxspark.ops.graph import sample_edges_md5

    edges = spark.range(100).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    op_plan = (
        sample_edges_md5(edges, 25)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "md5" in op_plan, op_plan[:2000]
    plan = _plan(spark, sf_dir, "part_copurchase_clustering_sampled")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_ppr_topk_emission_is_topk_cut(spark, sf_dir):
    """The pruned-PPR scale twin's emission must be a TakeOrdered cut
    (never a global sort of all ranks) and CartesianProduct-free. The
    frontier filter itself lives between per-iteration localCheckpoints
    (invisible in any returned frame's plan); its BEHAVIOR is pinned by
    tests/test_round10_ops.py::test_ppr_prune_eps_is_lower_bound_and_tiny_eps_exact."""
    plan = _plan(spark, sf_dir, "part_copurchase_ppr_topk")
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "CartesianProduct" not in plan

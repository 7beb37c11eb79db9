"""Physical-plan regression tests: the scale properties we designed
for (pushdown, broadcast, co-location, no nested-loop blowups) must
stay in the plan, not just in docstrings. A correctness-preserving
edit that regresses the plan shape fails here."""

from __future__ import annotations

import re

import pytest

from transit_data_pipeline_spark.operators.registry import all_specs

SPECS = all_specs()


def _plan(spark, sf_dir, name: str, execute: bool = False) -> str:
    df = SPECS[name].fn(spark, sf_dir)
    if execute:  # AQE finalizes (and codegen annotates) only on run;
        # collect() drives THIS QueryExecution (a sink write would
        # execute a clone and leave this plan un-finalized)
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """Predicates must reach the parquet scan (PushedFilters), not run
    post-scan only."""
    plan = _plan(spark, sf_dir, "filter_project_cast")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), f"no pushed filters in:\n{plan}"


def test_column_pruning_reaches_scan(spark, sf_dir):
    """A narrow projection must narrow ReadSchema — scanning all of
    lineitem for a 2-column query is wrong at any scale."""
    plan = _plan(spark, sf_dir, "topk_orders")
    read = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    # orders has 6 columns; the query needs 4 — the scan must not read
    # the unused ones.
    assert "o_orderstatus" not in read and "o_orderdate" not in read


def test_star_join_broadcasts_dims(spark, sf_dir):
    """Dimension joins must be broadcast hash joins — a shuffled join
    against a 25-row dim is a 100 TB anti-pattern."""
    plan = _plan(spark, sf_dir, "star_join_region_rollup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """The bucketed fact-fact join: SortMergeJoin with no Exchange on
    either join input (the only Exchange allowed is the final agg's)."""
    plan = _plan(spark, sf_dir, "bucketed_colocated_join")
    assert "SortMergeJoin" in plan
    smj_subtree = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in smj_subtree, (
        "join inputs re-shuffled despite bucketing:\n" + plan
    )


def test_embedding_cosine_has_no_nested_loop(spark, sf_dir):
    """The near-dup plan must be screen+verify (equi-joins only), never
    the O(n²) BroadcastNestedLoopJoin it once was."""
    plan = _plan(spark, sf_dir, "dedup_embedding_cosine")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_analysis_daily_ma7_prunes_scan(spark, sf_dir):
    """q2's daily MA7 must scan only (o_orderdate, o_totalprice)."""
    plan = _plan(spark, sf_dir, "analysis_daily_trend_ma7")
    read = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "o_orderdate" in read and "o_totalprice" in read
    assert "o_orderpriority" not in read and "o_custkey" not in read


def test_analysis_hotspot_joins_broadcast_dims(spark, sf_dir):
    """q6's star join must broadcast nation and part, with no
    SortMergeJoin for the dim sides."""
    plan = _plan(spark, sf_dir, "analysis_route_stop_hotspots")
    assert "BroadcastHashJoin" in plan


def test_lsh_verified_has_no_cartesian(spark, sf_dir):
    """The composed LSH→exact-verify plan must stay equi-join-only."""
    plan = _plan(spark, sf_dir, "dedup_lsh_verified")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_assignment_is_aggregate_not_window(spark, sf_dir):
    """Centroid assignment must be a partial-aggregating argmax
    (max_by), not a corpus-wide window sort: the plan has a
    HashAggregate with partial_max_by and exactly one Window
    (the N_QUERIES-bounded probe/top-k side)."""
    plan = _plan(spark, sf_dir, "similarity_ivf_ann")
    assert "max_by" in plan


def test_no_forced_broadcast_of_unbounded_frames():
    """`F.broadcast(...)` may hint only genuinely bounded dimensions.
    Trip-keyed frames (trips, dim_trip, max_seq, per-trip aggregates)
    grow with the network — forcing them broadcast is a 100 TB
    anti-pattern (the r1 verdict's dashboard finding); AQE decides."""
    import pathlib
    import re

    import transit_data_pipeline_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    for path in sorted(root.rglob("*.py")):
        for hint in re.findall(r"F\.broadcast\(\s*([^)]*)", path.read_text()):
            assert "trip" not in hint.lower(), (
                f"forced broadcast of trip-keyed frame in {path.name}: {hint!r}"
            )


def test_no_driver_collect_in_operator_modules():
    """No operator may materialize a table on the driver: `.collect()`
    anywhere in the operator surface is a driver-OOM at cluster scale.
    (tests/ and plan-inspection helpers may collect; operators may not.)"""
    import pathlib

    import transit_data_pipeline_spark.operators as ops

    for path in pathlib.Path(ops.__file__).parent.glob("*.py"):
        src = path.read_text()
        assert ".collect()" not in src, f"driver collect in {path.name}"
        assert ".toPandas()" not in src, f"driver toPandas in {path.name}"


def test_ngram_candidates_use_equi_join(spark, sf_dir):
    """Shingle candidate generation must be a hash-joinable equi-join."""
    plan = _plan(spark, sf_dir, "dedup_ngram_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_whole_stage_codegen_covers_core_query(spark, sf_dir):
    """The flagship query should run inside whole-stage codegen spans
    (no interpreted row-at-a-time hot path)."""
    plan = _plan(spark, sf_dir, "perf_ranking_trends", execute=True)
    assert "isFinalPlan=true" in plan
    # codegen stages appear as `*(n) Operator` in the final plan text
    assert re.search(r"\*\(\d+\)", plan), plan


@pytest.mark.parametrize(
    "name",
    ["perf_ranking_trends", "feature_join_update", "star_join_region_rollup"],
)
def test_no_python_udfs_in_relational_paths(spark, sf_dir, name):
    """Relational/warehouse queries must stay JVM-side: no BatchEvalPython
    (row-at-a-time Python) and no ArrowEvalPython in these plans."""
    plan = _plan(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """The quarter-filtered dim must prune the partitioned fact scan at
    runtime (PartitionFilters carries a dynamicpruning expression)."""
    plan = _plan(spark, sf_dir, "dpp_partitioned_fact_join")
    assert "dynamicpruning" in plan.lower(), plan


def test_bloom_prefilter_stays_broadcast(spark, sf_dir):
    """The Bloom bitmap probes and the scrub join must all be broadcast
    hash joins — a shuffled join would defeat the point of carrying a
    128 KiB bitmap instead of the key set."""
    plan = _plan(spark, sf_dir, "bloom_join_prefilter")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_contamination_benchmark_side_broadcasts(spark, sf_dir):
    """The benchmark shingle set is dimension-sized; the overlap test
    must be a broadcast LeftSemi, never a shuffled join of the train
    side."""
    plan = _plan(spark, sf_dir, "text_benchmark_contamination")
    assert "BroadcastHashJoin LeftSemi" in plan.replace("  ", " ") or (
        "BroadcastHashJoin" in plan and "LeftSemi" in plan
    )
    assert "SortMergeJoin" not in plan


def test_rolling_distinct_has_no_range_join(spark, sf_dir):
    """The trailing-window distinct must be the explode-to-target-day
    rewrite (hash joins + hash aggregate), not the literal BETWEEN
    range join (nested loop) the oracle runs."""
    plan = _plan(spark, sf_dir, "rolling_distinct_users")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hash_split_is_shuffle_free(spark, sf_dir):
    """The md5-bucket split is a stateless row-local map — any
    Exchange in its plan means it stopped being the no-global-sort
    alternative to the row_number split."""
    plan = _plan(spark, sf_dir, "hash_split_3way")
    assert "Exchange" not in plan
    assert "Sort" not in plan


def test_group_stats_join_back_broadcasts(spark, sf_dir):
    """winsorize/zscore decorrelate per-group stats into a dim-sized
    aggregate; the join back must broadcast, never shuffle the fact."""
    for name in ("winsorize_clip", "zscore_normalize"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_kmeans_assignment_broadcasts_centroids(spark, sf_dir):
    """k-means assignment is corpus × K centroids: the K side must be
    the broadcast build side (BroadcastNestedLoopJoin over 8 rows),
    never a shuffled CartesianProduct of the corpus."""
    plan = _plan(spark, sf_dir, "kmeans_semantic_clusters")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_pack_sequences_window_is_partition_parallel(spark, sf_dir):
    """The packing running-sum must sort per language partition — a
    SinglePartition exchange means someone dropped the partitionBy and
    the pack planner became a global sort."""
    plan = _plan(spark, sf_dir, "pack_sequences")
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan


def test_phash_near_dup_uses_band_equi_join(spark, sf_dir):
    """pHash candidate generation must block on band equality — a
    nested-loop Hamming scan over all pairs is the n² anti-pattern."""
    plan = _plan(spark, sf_dir, "multimodal_phash_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_per_source_cap_window_is_partition_parallel(spark, sf_dir):
    """The per-source rank must sort per lang partition, never via a
    single-partition global sort."""
    plan = _plan(spark, sf_dir, "per_source_cap")
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan
    # the window's required distribution is the lang hash partitioning
    assert "hashpartitioning(lang" in plan


def test_bpe_pair_counts_is_topk_not_global_sort(spark, sf_dir):
    """The merge-candidate selection must be a TakeOrderedAndProject
    (distributed top-k), not a full global sort of the pair table."""
    plan = _plan(spark, sf_dir, "text_bpe_pair_counts")
    assert "TakeOrderedAndProject" in plan


def test_components_output_has_no_cartesian(spark, sf_dir):
    """The final components frame (docs ⟕ subgraph labels ⟕ sizes)
    must stay equi-join only."""
    plan = _plan(spark, sf_dir, "dedup_components")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_profile_approx_production_path_has_no_expand(spark, sf_dir):
    """column_profile_approx(verify=False) is the 100 TB profiling
    path: one ordinary aggregate — the exact profile's Expand operator
    (the k+1-way row multiplier of multi-countDistinct) must be gone,
    and no Python stage may appear."""
    from transit_data_pipeline_spark.operators.pipelineops import (
        column_profile_approx,
    )

    df = column_profile_approx(spark, sf_dir, verify=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan
    # the exact profile keeps its Expand (that's WHY the twin exists)
    exact = _plan(spark, sf_dir, "column_profile")
    assert "Expand" in exact


def test_bigram_lm_broadcasts_vocab_scalar(spark, sf_dir):
    """The vocabulary size must join as a broadcast (1-row frame), and
    the whole scoring plan must stay UDF-free (codegen only)."""
    plan = _plan(spark, sf_dir, "text_bigram_perplexity")
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tfidf_broadcasts_doc_count(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_tfidf_keywords")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_argmax_is_single_aggregate_no_window(spark, sf_dir):
    """argmax_per_group must stay a hash aggregate (max_by partials,
    map-side combine) — a window row_number=1 rewrite would add a
    partition sort of every losing row."""
    plan = _plan(spark, sf_dir, "argmax_per_group")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan  # nation stays broadcast
    assert "SortMergeJoin" not in plan


def test_array_agg_has_no_distinct_expand(spark, sf_dir):
    """n_distinct_parts is derived from the collected array; a
    COUNT(DISTINCT) rewrite would add an Expand + second shuffle."""
    plan = _plan(spark, sf_dir, "array_agg_suite")
    assert "Expand" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_grouping_sets_is_one_expand_one_shuffle(spark, sf_dir):
    """GROUPING SETS must share partials: one Expand (×3 sets), one
    exchange — not three scans unioned."""
    plan = _plan(spark, sf_dir, "grouping_sets_report")
    assert plan.count("Expand") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Union" not in plan


def test_bm25_filters_terms_before_aggregate(spark, sf_dir):
    """The query-term filter must run scan-side (before the tf
    aggregate), so only query-term postings shuffle."""
    plan = _plan(spark, sf_dir, "text_bm25_topk")
    # executedPlan prints root-first, so a filter that runs BEFORE the
    # tf aggregate appears AFTER it in the text; the IN-list literal
    # must sit below the first (= last-executed) HashAggregate.
    first_agg = plan.index("HashAggregate")
    in_filter = plan.find("merge")  # term literal from the IN list
    assert in_filter > first_agg, (
        "query-term filter not below the aggregate in plan:\n" + plan
    )


def test_gap_fill_spine_joins_broadcast(spark, sf_dir):
    """The (priority × day) spine is tiny; its join against the daily
    aggregate must broadcast, and the LOCF window must partition by
    priority (no global sort)."""
    plan = _plan(spark, sf_dir, "gap_fill_locf")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_source_overlap_signature_join_broadcasts(spark, sf_dir):
    """The per-source signature table is n_sources rows; the pairwise
    join over it must broadcast, never shuffle."""
    plan = _plan(spark, sf_dir, "minhash_source_overlap")
    assert "BroadcastNestedLoopJoin" in plan  # source_a < source_b pairs
    assert "CartesianProduct" not in plan


def test_shuffle_hash_hint_replaces_sort_merge(spark, sf_dir):
    """The SHUFFLE_HASH hint must produce a ShuffledHashJoin — if
    Catalyst ignores it and falls back to SortMergeJoin, both inputs
    pay an O(n log n) sort the operator exists to avoid."""
    plan = _plan(spark, sf_dir, "shuffle_hash_join_hint")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_clustered_write_files_have_disjoint_ranges(spark, sf_dir):
    """Each file the range-clustered writer produces must span a tight,
    non-overlapping o_orderdate range — that's the property row-group
    statistics skipping depends on."""
    import glob
    import os

    import pyarrow.parquet as pq

    SPECS["clustered_write_roundtrip"].fn(spark, sf_dir).collect()
    from transit_data_pipeline_spark.operators.sources import _scratch

    files = sorted(glob.glob(os.path.join(_scratch(sf_dir, "clustered"), "*.parquet")))
    assert len(files) >= 2, "range partitioning produced a single file"
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().names.index("o_orderdate")
        los, his = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            los.append(st.min)
            his.append(st.max)
        ranges.append((min(los), max(his)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"file ranges overlap: {ranges}"


def test_bloom_membership_filter_is_broadcast(spark, sf_dir):
    """The Bloom word table (4096 rows max) must broadcast to the
    probe side; a shuffle join against the candidate grid would defeat
    the KB-sized-filter design."""
    plan = _plan(spark, sf_dir, "sketch_bloom_membership")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_adc_scan_broadcasts_distance_table(spark, sf_dir):
    """ADC search must broadcast the 256-row query distance table and
    the codebook against the code scan — the database side may never
    feed a nested-loop or cartesian pair generator."""
    plan = _plan(spark, sf_dir, "similarity_adc_topk")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_minhash_incremental_band_join_no_cartesian(spark, sf_dir):
    """Incremental near-dup screening joins batch bands to index bands
    on (band_id, band_hash) — an equi-join on the bucket key. Any
    cartesian/nested-loop pair generation means the bucketing broke."""
    plan = _plan(spark, sf_dir, "dedup_minhash_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_boilerplate_df_join_is_equi(spark, sf_dir):
    """Boilerplate pruning joins exploded shingles to their df counts
    on the shingle string — equi-join only, no pairwise comparison."""
    plan = _plan(spark, sf_dir, "text_boilerplate_prune")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_attribution_window_is_user_partitioned(spark, sf_dir):
    """The carry-forward attribution window must partition by user_id
    — the only unpartitioned window allowed is the final share over
    the 5-row channel aggregate."""
    plan = _plan(spark, sf_dir, "event_attribution_last_touch")
    # The carry-forward Window node lists its partition spec as
    # `..., [user_id#N], [ts#M ASC ...]` after the aggregate list.
    assert re.search(r"Window .*\], \[user_id#\d+L?\], \[ts#", plan), plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "event_markov_transitions",
        "event_session_pmi",
        "dedup_containment",
        "dedup_minhash_incremental",
        "lsh_threshold_sweep",
        "market_basket_lift",
        "nation_trade_pagerank",
        "snapshot_diff_cdc",
        "weighted_percentiles",
        "sketch_join_cardinality",
        "multimodal_shard_packing",
        "partition_stats_manifest",
        "retrieval_rrf_fusion",
        "embedding_centroid_drift",
        "events_anomaly_mad",
        "langid_confusion_matrix",
        "quality_decile_calibration",
        "salted_skew_join",
        "interval_coverage",
        "ohlc_bars",
        "time_weighted_avg",
        "chi2_feature_relevance",
        "feature_hashing",
        "tokenizer_fertility",
        "compaction_binpack",
        "ab_test_zscore",
        "pareto_frontier",
        "ks_two_sample",
        "mutual_information",
        "benford_audit",
        "layout_run_length",
        "rolling_regression_slope",
        "category_entropy_profile",
        "welch_ttest",
        "cross_corr_lagged",
        "multimodal_audio_energy",
    ],
)
def test_round5_ops_have_no_cartesian(spark, sf_dir, name):
    """None of the round-5 operators may degrade to a cartesian pair
    generator — every join is an equi-join or an explicitly
    broadcast-tiny cross join (BroadcastNestedLoopJoin over one-row
    aggregates is fine; CartesianProduct is not)."""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name


def test_global_no_cartesian_across_registry(spark, sf_dir):
    """Repo-wide plan invariant: NO registered query may plan a
    CartesianProduct — every join in the engine is an equi-join or an
    explicitly broadcast-tiny cross (BroadcastNestedLoopJoin over
    one-row/grid aggregates). Streaming queries execute eagerly and
    are asserted per-op in test_streaming; the GBT run trains a model
    and is excluded for runtime. One loop, one session — the global
    version of the per-op spot checks above, so a future operator
    can't silently regress to a pair generator."""
    offenders = []
    window_offenders = []
    for name, s in sorted(SPECS.items()):
        if name.startswith("streaming_") or name == "ml_gbt_cv_metrics":
            continue
        plan = s.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(name)
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if ("Window [" in line or "WindowGroupLimit" in line) and (
                "Exchange SinglePartition" in "\n".join(lines[i + 1 : i + 4])
            ):
                if name not in BOUNDED_WINDOW_OK:
                    window_offenders.append((name, line.strip()[:90]))
                break
    assert not offenders, offenders
    # Second repo-wide invariant: an unpartitioned WindowExec (Window on
    # a SinglePartition exchange) is allowed ONLY over frames bounded by
    # construction — every such query must be whitelisted with its
    # bound. Entity-scaled frames must use functions/ranking.py
    # (two_phase_rank / sorted_neighbors) instead.
    assert not window_offenders, (
        "single-partition window over a non-whitelisted frame "
        "(convert via functions/ranking.py or whitelist with its "
        f"bound): {window_offenders}"
    )


#: Queries allowed to plan a Window on a SinglePartition exchange: the
#: window frame is BOUNDED by construction (the stated bound), so the
#: single partition holds a fixed-size summary, not entity-scaled data.
BOUNDED_WINDOW_OK = {
    "acf_daily_orders": "daily aggregate — calendar-bounded",
    "analysis_daily_trend_ma7": "daily aggregate — calendar-bounded",
    "analysis_dow_pattern": "7 weekday rows",
    "analysis_monthly_quartiles": "monthly aggregate — calendar-bounded",
    "analysis_route_stop_hotspots": "nation×brand grid (≤25×25 cells)",
    "bh_fdr_control": "per-nation hypothesis family (≤25 tests)",
    "bootstrap_poisson_ci": "fixed bootstrap replicate count",
    "chi2_feature_relevance": "priority×bin contingency grid",
    "conformal_interval_calibration": "daily backtest frame",
    "covariate_shift_weights": "event-type groups (fixed enum)",
    "decision_stump_gain": "fixed threshold-bin frame",
    "downsample_lttb": "daily series — calendar-bounded (doc'd)",
    "dp_noisy_counts": "priority×status cells (5×3)",
    "dp_quantile_exponential": "fixed candidate bins",
    "event_attribution_last_touch": "channel groups (fixed enum)",
    "event_mix_entropy_daily": "daily frame — calendar-bounded",
    "gains_lift_table": "10-row decile frame (rank is two-phase)",
    "holm_stepdown_ab_tests": "per-nation hypothesis family",
    "isotonic_calibration_pav": "ISO_BINS cumulative frame (NTILE is two-phase)",
    "monthly_trend_ma3": "monthly aggregate — calendar-bounded",
    "moving_avg_7day": "daily aggregate — calendar-bounded",
    "mutual_information": "contingency grid",
    "rank_suite": "nation×month frame (≤25×12 rows)",
    "retrieval_maxsim_late_interaction": "label groups (fixed enum)",
    "seasonal_decompose_dow": "daily frame — calendar-bounded",
    "sketch_histogram_quantiles": "fixed histogram bins",
    "survival_km_retention": "day-grid survival table",
    "t_closeness_audit": "segment×bin grid (5×10)",
}


def test_gains_table_rank_is_range_partitioned(spark, sf_dir):
    """The decile assignment must be the distributed two-phase rank
    (range partition + per-partition row_number), never a
    single-partition NTILE window over the fact table. The final
    query's plan starts at the eager localCheckpoint (which exists to
    pin ONE sampled range partitioning for both consumers), so the
    range-partition assertion inspects the pre-checkpoint frame."""
    from transit_data_pipeline_spark.operators.mlops import _gains_local_rank

    pre = _gains_local_rank(spark, sf_dir)
    pre_plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in pre_plan.lower(), pre_plan
    assert "ntile" not in pre_plan.lower()
    plan = _plan(spark, sf_dir, "gains_lift_table")
    assert "ntile" not in plan.lower()


def test_topk_two_level_rescore_is_broadcast_semi(spark, sf_dir):
    """Candidate rescoring must reach the shard counts via a broadcast
    LeftSemi join — a shuffled join against ≤160 candidates is the
    anti-pattern the operator exists to avoid."""
    plan = _plan(spark, sf_dir, "topk_two_level_merge")
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan


def test_fellegi_blocking_join_broadcasts_supplier(spark, sf_dir):
    """The record-linkage blocking join keeps the supplier side
    broadcast (dim-sized); the pair generator must be a broadcast
    hash equi-join on the blocking key."""
    plan = _plan(spark, sf_dir, "fellegi_sunter_linkage")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pattern_automaton_has_no_window(spark, sf_dir):
    """The DFA fold is a user-keyed aggregate — no global or per-user
    Window node may appear (a window over the raw stream would
    serialize on the partition spec)."""
    plan = _plan(spark, sf_dir, "event_pattern_automaton")
    assert "Window" not in plan, plan


def test_hierarchy_closure_joins_are_equi(spark, sf_dir):
    """Pointer doubling must compose via hash equi-joins (4 of them),
    never nested-loop."""
    plan = _plan(spark, sf_dir, "hierarchy_closure_rollup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "abc_customer_classification",
        "vocab_coverage_curve",
        "spearman_rank_corr",
        "cumulative_share",
        "ks_two_sample",
        # wave 2: entity-scaled NTILE / global row_number sites
        "rfm_segments",
        "curriculum_phases",
        "quantile_normalize_scores",
        "quality_decile_calibration",
        "train_test_split",
        "analysis_stop_hotspots",
        # ghost-row boundary-overlap sorted scans (sorted_neighbors)
        "dedup_sorted_neighborhood",
        "rouge_overlap_pairs",
    ],
)
def test_two_phase_rank_windows_are_partition_parallel(spark, sf_dir, name):
    """Round-6 conversion of the single-partition global-rank family to
    the shared two-phase range rank (functions/ranking.two_phase_rank):
    the plan must range-partition on the sort key and EVERY Window node
    must be partitioned by the range-partition id — an un-partitioned
    WindowExec over the data frame (Spark's "moving all data to a
    single partition") is the scale-killer this helper exists to
    remove. The cross-partition prefix merge is array expressions over
    the ≤64-row summary, so it plans no Window at all. Legitimate
    partitioned windows (e.g. per-source percent_rank) stay allowed:
    the assertion is that no Window node sits on a SinglePartition
    exchange (the plan-level signature of the warning).

    The consistency localCheckpoint (r7 — pins one pid↔row assignment
    for all branch consumers) truncates the visible plan at the
    checkpoint boundary, so the structural assertions run with the
    test hook `ranking.CONSISTENCY_CHECKPOINT = False` (explain-only;
    nothing here executes the un-pinned plan). The checkpoint's own
    correctness is owned by
    tests/test_properties.py::test_two_phase_rank_branch_consistency_at_scale."""
    from transit_data_pipeline_spark.functions import ranking

    ranking.CONSISTENCY_CHECKPOINT = False
    try:
        plan = _plan(spark, sf_dir, name)
    finally:
        ranking.CONSISTENCY_CHECKPOINT = True
    assert "rangepartitioning" in plan.lower(), name
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Window [" in line:
            feeder = "\n".join(lines[i + 1 : i + 4])
            assert "Exchange SinglePartition" not in feeder, (
                f"{name}: single-partition window:\n{line}\n{feeder}"
            )


@pytest.mark.parametrize(
    "name",
    [
        "nation_trade_pagerank",
        "hits_trade_graph",
        "bfs_shortest_hops",
        "kcore_trade_graph",
    ],
)
def test_nation_graph_query_runs_as_one_plan(spark, sf_dir, name):
    """The nation-graph iterations run inside one plan (the whole graph
    collected into one row, the rounds a SQL higher-order-function
    program), so the whole query — its table reads included — launches
    at most 20 Spark jobs. A per-round driver loop launched 39-67."""
    sc = spark.sparkContext
    group = f"job-count:{name}"
    sc.setJobGroup(group, group)
    try:
        SPECS[name].fn(spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 20, f"{name}: {len(jobs)} jobs"

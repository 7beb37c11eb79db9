"""Empty-input robustness: at 100 TB, empty partitions and empty
daily batches are routine — every operator must plan and execute on
zero-row tables without raising (0 rows out, or a defined small
summary). The events table is excluded (its nanosecond encoding can't
be round-tripped to an empty twin without changing the schema)."""

from __future__ import annotations

import os

import pytest

from transit_data_pipeline_spark.operators.registry import all_specs

#: Operators that read only the non-events tables.
_OPS = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_lsh_verified",
    "dedup_containment",
    "text_token_stats",
    "text_boilerplate_prune",
    "text_langid",
    "langid_confusion_matrix",
    "quality_decile_calibration",
    "market_basket_lift",
    "weighted_percentiles",
    "snapshot_diff_cdc",
    "partition_stats_manifest",
    "k_anonymity_audit",
    "sketch_bloom_membership",
    "sketch_join_cardinality",
    "nation_trade_pagerank",
    "seasonal_decompose_dow",
    "similarity_bruteforce_topk",
    "embedding_centroid_drift",
    "multimodal_shard_packing",
    "salted_skew_join",
    "chi2_feature_relevance",
    "mutual_information",
    "feature_hashing",
    "tokenizer_fertility",
    "compaction_binpack",
    "pareto_frontier",
    "ks_two_sample",
    "benford_audit",
    "layout_run_length",
    "rolling_regression_slope",
    "category_entropy_profile",
    "welch_ttest",
    "multimodal_audio_energy",
    "dedup_semdedup",
    "data_mix_temperature",
    "script_char_classes",
    "keyword_tag_taxonomy",
    "multimodal_scene_segments",
    "l_diversity_audit",
    "curriculum_phases",
    "contrastive_pair_mining",
    "simhash_eval_pr",
    "doc_ngram_novelty",
    "join_skew_advisor",
    "percentile_disc_suite",
    "consistent_hash_shards",
    "embedding_knn_outliers",
    "data_contract_validator",
    "retrieval_maxsim_late_interaction",
    "quality_weighted_sampling",
    "late_arriving_dim_handling",
    "dedup_cluster_stats",
    "vocab_oov_rate",
    "model_calibration_bins",
    "target_encode_loo",
    "woe_encoding",
    "multimodal_modality_mix",
    "source_distinctive_terms",
    "ewma_smoothing",
    "cusum_changepoint",
    "auc_mann_whitney",
    "label_centroid_kappa",
    "theilsen_trend",
    "quantile_normalize_scores",
    "bootstrap_poisson_ci",
    "dp_noisy_counts",
    "vocab_zipf_fit",
    "conformal_interval_calibration",
    "moments_partial_merge",
    "quantile_pinball_eval",
    "erasure_cascade_audit",
    "pii_scrub_eval",
    "embedding_pca_power",
    "weighted_reservoir_sample",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_revenue_change",
    "tpch_q10_returned_items",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q14_promo_revenue",
    "isotonic_calibration_pav",
    "gini_token_concentration",
    "spearman_rank_corr",
    "corpus_merkle_manifest",
    "forecast_backtest_suite",
    "hits_trade_graph",
    "t_closeness_audit",
    "retrieval_ndcg_eval",
    "sketch_kmv_intersection",
    "zone_map_skipping_eval",
    "ivm_join_view_delta",
    "vocab_coverage_curve",
    "text_winnowing_fingerprints",
    "embedding_matryoshka_recall",
    "fellegi_sunter_linkage",
    "epoch_shuffle_plan",
    "group_kfold_split",
    "acf_daily_orders",
    "gains_lift_table",
    "propensity_strata_att",
    "length_bucket_packing",
    "negative_sampling_plan",
    "js_divergence_sources",
    "token_budget_mix_solver",
    "hierarchy_closure_rollup",
    "gap_fill_linear_interp",
    "topk_two_level_merge",
    "ridge_regression_closed_form",
    "jl_random_projection",
    "decision_stump_gain",
    "pmi_collocations",
    "bfs_shortest_hops",
    "kcore_trade_graph",
    "sketch_ddsketch_quantiles",
    "permutation_test_means",
    "downsample_lttb",
    "dedup_sorted_neighborhood",
    "span_corruption_plan",
    "bh_fdr_control",
    "mann_kendall_trend",
    "survivorship_merge",
    "text_kneser_ney_bigram",
    "sql_udf_delay_category",
    "observe_pipeline_metrics",
    "analyze_table_stats",
    "adamic_adar_link_prediction",
    "rouge_overlap_pairs",
    "federated_format_union",
    "agg_builtins_suite",
    "window_ignore_nulls_suite",
    "regexp_functions_suite",
    "higher_order_lambda_suite",
    "string_functions_suite",
    "sql_pipe_syntax_query",
    "lateral_topk_per_group",
    "sql_session_variables",
    "parameterized_sql_query",
    "recursive_cte_hierarchy",
    "sql_scripting_batch",
    "dataframe_transpose_report",
    "collation_aware_grouping",
    "xml_ingest_roundtrip",
    "date_functions_suite",
    "sketch_native_hll_datasketches",
    "map_functions_suite",
    "string_agg_ordered",
    "try_functions_suite",
    "embedding_binary_quantization",
    "partition_retention_drop",
    "skewness_exact_moments",
    "abc_customer_classification",
    # (event_pattern_automaton / time_decay_attribution /
    # shapley_channel_attribution read the events table, which the
    # empty fixture omits — its TIMESTAMP_NANOS schema can't round-trip
    # through a limit(0) rewrite.)
]

_TABLES = (
    "region nation customer supplier part orders lineitem documents embeddings"
).split()


@pytest.fixture(scope="module")
def empty_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sf_empty"))
    for t in _TABLES:
        (
            spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
            .limit(0)
            .write.mode("overwrite")
            .parquet(os.path.join(out, f"{t}.parquet"))
        )
    return out


@pytest.mark.parametrize("name", _OPS)
def test_operator_survives_empty_tables(spark, empty_dir, name):
    df = all_specs()[name].fn(spark, empty_dir)
    assert df.count() >= 0  # plans and executes; no exception


def test_bitmap_index_intersect_matches_oracle_on_empty_tables(
    spark, empty_dir
):
    """Empty orders: the query and its DuckDB twin both give the one
    summary row (0, 0, 0, NULL, 0, NULL), compared as SQL values (the
    pandas path of ``compare`` reads a NULL boolean as None from Spark
    but NaN from DuckDB)."""
    import duckdb

    spec = all_specs()["bitmap_index_intersect"]
    con = duckdb.connect()
    for t in _TABLES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM '{empty_dir}/{t}.parquet/*.parquet'"
        )
    cur = con.execute(spec.oracle)
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()
    con.close()
    df = spec.fn(spark, empty_dir)
    assert df.columns == duck_cols
    assert [tuple(r) for r in df.collect()] == duck_rows == [
        (0, 0, 0, None, 0, None)
    ]

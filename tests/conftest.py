import os

import pytest
from pyspark.sql import SparkSession

SF_SMOKE = os.environ.get("QSS_TEST_SF_DIR", "/root/testdata/sf0.001")

# Two-tier suite (r14 verdict ask #1): the default `pytest tests/` run
# must complete inside the driver's verification window (<=10 min), so
# long-running tests — the full-registry oracle sweep and the heavier
# property/scale/replay tests — are SKIPPED unless QSS_SLOW_TESTS=1.
# The slow tier stays part of the local pre-commit ritual
# (`QSS_SLOW_TESTS=1 python -m pytest tests/`, committed log in
# plans/r15/); the default tier keeps a representative oracle smoke
# subset and at least one fast test per contract area so correctness
# coverage never drops to zero in a default run.
#
# Slow membership is DATA-DRIVEN: tests measured >= ~8 s on the
# reference box (`pytest --durations`, plans/r15/default_tier_timing
# logs) are listed here by name — one place to retune from the next
# measurement instead of marks scattered across files.  Explicit
# @pytest.mark.slow marks (the heavy property suites) are honored too.
RUN_SLOW = os.environ.get("QSS_SLOW_TESTS") == "1"

_SLOW_TEST_NAMES = {
    # plan gates: the registry-wide sweep (the driver's plan gates are
    # pinned by the committed slow-tier log instead)
    "test_no_python_udf_in_jvm_paths",
    # bounded-commit / pointer-layout replays
    "test_vacuum_listing_walk_is_executor_side",
    "test_maybe_compact_check_is_bounded_on_pointer_layout",
    "test_total_bytes_bounded_on_pointer_layout",
    "test_merge_half_never_resolves_snapshot",
    "test_cdc_reads_on_pointer_layout",
    "test_vacuum_is_distributed_on_pointer_layout",
    "test_both_layouts_equal_the_model",
    "test_rebucket_on_pointer_layout",
    "test_restore_equals_the_model_on_both_layouts",
    "test_parquet_checkpoint_full_table_contract",
    "test_parquet_checkpoint_threshold_crossing_mid_history",
    "test_vacuum_collapses_oldest_kept_delta",
    # streaming index replays
    "test_chunking_independence_of_pairs_and_retrieval",
    "test_band_reservoir_bounds_hot_bands_under_viral_feed",
    "test_auto_compact_prunes_index_and_pairs_log",
    "test_auto_compact_with_reservoir_enforces_hard_bound",
    "test_restarted_index_sees_prior_entries",
    "test_restarted_near_dup_index_sees_prior_entries",
    "test_pairless_batches_do_not_grow_the_pairs_log",
    "test_auto_compact_bounds_state_with_no_manual_call",
    "test_compact_bounds_rows_and_preserves_estimate",
    # matview / CDC replays
    "test_view_matches_model_under_random_batches_and_retries",
    "test_view_tracks_every_commit_kind",
    "test_matview_lag_cycle_accumulation_under_real_trigger",
    "test_view_survives_process_restart_without_double_count",
    "test_stream_equals_batch_change_feed",
    # key-bloom replays
    "test_bloom_composes_with_updates_and_versions",
    "test_lookup_skips_rolled_files_and_never_misses",
    "test_bloom_on_pointer_layout_and_vacuum",
    # ANN recall / signature sweeps
    "test_every_ann_index_clears_the_recall_floor",
    "test_fast_signature_is_bit_identical_to_the_fold_form",
    # auto-rebucket streams
    "test_streaming_auto_rebucket_grows_bucket_count",
    "test_stream_auto_rebucket_rides_pointer_cadence",
    # second measurement pass (plans/r15/default_tier_timing2.log):
    # everything still >~5.5 s, keeping at least one fast
    # representative per contract area in the default tier
    "test_checkpoint_resume_reads_only_new_commits",
    "test_matview_publish_crash_then_epoch_retry_does_not_double_count",
    "test_zone_map_cols_persisted_and_adopted",
    "test_dedup_index_append_crash_then_checkpoint_replay_converges",
    "test_components_match_union_find",  # hypothesis sweep; the fast deterministic peel tests stay default
    "test_history_describes_every_commit",
    "test_bounded_commit_never_resolves_snapshot",
    "test_pointer_chain_vacuum_sweeps_bounded_checkpoints",
    "test_maybe_compact_policy",
    "test_replica_converges_after_each_commit",
    "test_bootstrap_mid_history",
    "test_auto_clustered_compaction_keeps_zone_maps_sharp",
    "test_lookup_composes_with_key_zone_slices",
    "test_stream_merge_half_bounded_under_real_stream",
    "test_hierarchical_clustering_improves_2dim_skipping",
    "test_register_log_append_crash_then_checkpoint_replay_converges",
    "test_agg_fast_min_max_from_metadata_only",
    "test_pre_reduce_upsert_matches_plain_path",
    "test_stream_pointer_resume_across_cadence_crossing",
    "test_streaming_jdbc_end_state_matches_keyed_table",
    "test_quality_filter_lag_cycle_accumulation_under_real_trigger",
    "test_history_row_count_deltas",
    "test_restore_is_distributed_on_pointer_layout",
    "test_composite_key_lookup_prunes_on_leading_key",
    "test_stream_soft_delete_pointer_layout",
    "test_auto_compaction_bounds_streaming_file_growth",
    "test_replayed_batches_cannot_shrink_the_distinct_reservoir",
    "test_writer_reader_process_tz_drift_stays_exact",
    "test_pairs_within_and_across_batches",
    "test_vacuum_retains_referenced_files",
    "test_replicator_resumes_across_restart",
    "test_lag_cycle_accumulation_under_real_trigger",
    "test_cdc_catchup_opens_only_delta_files",
    "test_tz_aware_bound_matches_scan_exactly",
    "test_zone_maps_are_crash_atomic_with_their_snapshot",
    "test_zorder_compaction_prunes_orthogonal_dimensions",
    "test_end_state_is_chunking_independent",
    "test_delete_paths_skip_cosmetic_bucket_repartition",
    "test_manifest_scale_envelope_at_10k_files",
    # third measurement pass (plans/r15/default_tier_timing3.log)
    "test_cross_protocol_manifest_replica",
    "test_retried_batch_is_idempotent",
    "test_distinct_bitmap_merges_and_is_replay_safe",
    "test_accumulates_across_batches_and_admits_new_groups",
}


def pytest_collection_modifyitems(config, items):
    if RUN_SLOW:
        return
    skip_slow = pytest.mark.skip(
        reason="slow tier (set QSS_SLOW_TESTS=1): full oracle sweep / long replay tests"
    )
    for item in items:
        if (
            item.get_closest_marker("slow")
            or item.name.split("[")[0] in _SLOW_TEST_NAMES
        ):
            item.add_marker(skip_slow)


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("quick-stream-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def tmp_table_dir(tmp_path):
    return str(tmp_path / "tables")

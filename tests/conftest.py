import pytest

from samza_spark import SessionConfig, get_session


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run tests marked slow (the full pre-commit suite); "
        "the default run is the fast path sized to fit a CI/driver "
        "window (< 10 min)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long-running Spark suite, skipped by default; "
        "include with --runslow",
    )


# Centralized slow list, measured with `--runslow --durations=60` (r12):
# each entry cost >= 4 s call time — mostly streaming restart/multi-batch
# suites and registry-wide sweeps. Keeping the list here (rather than 40
# decorators across 20 files) makes the fast/slow budget reviewable in
# one place. Entries are ``module::name`` (parametrize ids and the class
# dropped), so a bare name never skips a same-named test elsewhere. r12
# correctness pins (test_round12_opt) stay in the fast path even when
# slow — regressions there must fail the default run.
SLOW_TESTS = {
    "test_plans::test_every_registered_query_passes_the_scale_advisor",
    "test_alerts::test_state_carries_across_triggers",
    "test_alerts::test_streaming_drift_monitor_flags_skewed_batch",
    "test_alerts::test_streaming_lateness_monitor_flags_cross_batch_late_record",
    "test_alerts::test_streaming_matches_batch_single_trigger",
    "test_graph_cluster::test_pagerank_salted_and_checkpointed_identical",
    "test_graph_cluster::test_star_cc_converges_on_long_chain",
    "test_graph_cluster::test_star_cc_matches_propagation_on_random_graph",
    "test_ivf_index::test_probe_matches_ephemeral_ivf",
    "test_linkage::test_containment_prefix_filter_is_lossless",
    "test_linkage::test_prefix_filter_is_lossless",
    "test_log_datasource::test_stream_restart_resumes_from_checkpoint",
    "test_pipeline::test_corpus_index_flags_match_recompute",
    "test_pipeline::test_dedup_pipelines_surface_capped_buckets",
    "test_pipeline::test_learn_bpe_driver_matches_distributed",
    "test_pipeline::test_simhash_pigeonhole_recall_is_exactly_brute_force",
    "test_pipeline::test_streaming_corpus_ingest_bands_batch_only",
    "test_pipeline::test_streaming_corpus_ingest_durable_index_restart",
    "test_pipeline::test_streaming_corpus_ingest_two_batches",
    "test_pipeline::test_streaming_corpus_ingest_survives_restart",
    "test_round5_ops::test_dedup_keep_best_prefers_quality",
    "test_round5_ops::test_streaming_cdc_apply_matches_batch",
    "test_round6b_ops::test_label_aggregation_weighted_beats_or_ties_majority",
    "test_round6d_ops::test_dbscan_chain_component_converges",
    "test_round8_ops::test_streamed_equals_batch",
    "test_round9_ops::test_streamed_equals_batch",
    "test_round8_property::test_isotonic_matches_pav_random",
    "test_stateful_streaming::test_running_aggregate_apws_across_batches",
    "test_stateful_streaming::test_streaming_time_since_last_trigger",
    "test_stateful_streaming::test_window_close_fires_under_sustained_traffic",
    "test_stream_sampling::test_stream_equals_batch_sample",
    "test_streaming::test_emitter_joiner_checker_restart",
    "test_streaming::test_stream_stream_left_outer_ttl_join",
    "test_streaming::test_watermark_drops_late_data",
    "test_tables::test_durable_table_compaction_truncates_changelog",
    "test_topk::test_stream_bounded_state_overestimates_only",
    "test_tables::test_local_table_lineage_bounded_under_streaming_upserts",
    "test_checkpoint_tool::test_inspect_and_rewind_replays_exact_batch",
    "test_e2e_cli::test_log_timestamp_merge_explain_metrics",
}


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow"):
        return
    skip_slow = pytest.mark.skip(reason="slow: run with --runslow")
    for item in items:
        key = f"{item.path.stem}::{item.name.split('[')[0]}"
        if "slow" in item.keywords or key in SLOW_TESTS:
            item.add_marker(skip_slow)


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        SessionConfig(
            app_name="samza_spark_tests",
            master="local[4]",
            shuffle_partitions=4,
        )
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"

import os
import warnings

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    from enterprise_warp_spark.session import get_spark

    spark = get_spark(app_name="ews-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("EWS_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def sf_tiny(sf_dir):
    """The sf0.001 tables next to sf_dir, for gates too slow to test at
    sf_dir's scale."""
    return os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


# Budgeted default gate (r14 verdict #2): the driver's `pytest tests/ -x -q`
# must fit a fixed window the full suite outgrew. Every nodeid below
# measured >=8s per call (pytest --durations on quiet local[8] hardware;
# /tmp mirror committed in OPTIMIZATION_r15.md), or belongs to a module-
# fixture group whose shared setup alone costs ~30s. They get the `slow`
# marker here — one greppable list instead of 50 decorators — and
# pyproject's `addopts = "-m 'not slow'"` deselects them by default.
# Full run: pytest tests/ -m "slow or not slow".
SLOW_TESTS = frozenset((
    "tests/test_classify.py::test_classifier_deterministic_and_filter_schema",
    "tests/test_classify.py::test_classifier_separates_holdout",
    "tests/test_cli.py::test_cross_flag_separate_load_and_saved_os_compose",
    "tests/test_cli.py::test_results_main_covm_and_os",
    "tests/test_cli.py::test_results_main_info_corner",
    "tests/test_cli.py::test_run_paramfile_adaptive_ess_target",
    "tests/test_cli.py::test_run_paramfile_adaptive_sampler",
    "tests/test_coverage_extras.py::test_curate_corpus",
    "tests/test_coverage_extras.py::test_curate_repetition_gate",
    "tests/test_coverage_extras.py::test_prepare_training_corpus_end_to_end",
    "tests/test_coverage_extras.py::test_prepare_training_corpus_semdedup_auto_switch",
    "tests/test_coverage_extras.py::test_prepare_training_corpus_tokenize_and_pack",
    "tests/test_coverage_extras.py::test_prepare_training_corpus_with_quality_model",
    "tests/test_coverage_extras.py::test_semdedup_stage_keeps_coverage_less_docs",
    "tests/test_coverage_extras.py::test_sketch_branch_timing_instrumentation",
    "tests/test_coverage_extras.py::test_web_hygiene_branch_timing_instrumentation",
    "tests/test_exact_rank_fuzz.py::test_hostile_values_exact_vs_sorted_oracle",
    "tests/test_exact_rank_fuzz.py::test_small_cap_narrowing_exact_or_loud",
    "tests/test_examples.py::test_curate_corpus_example_subprocess",
    "tests/test_examples.py::test_run_example_paramfile_subprocess",
    "tests/test_fuzzy.py::test_edit_distance_join_multiplicity_and_q_sweep",
    "tests/test_general2_pipeline.py::test_general2_noise_json_matches_reference_key_set",
    "tests/test_general2_pipeline.py::test_general2_pipeline_posterior_and_evidence",
    "tests/test_general2_pipeline.py::test_general2_recovers_dominant_backend",
    "tests/test_golden_recovery.py::test_sampler_health",
    "tests/test_golden_recovery.py::test_tier_a_medians_within_30pct",
    "tests/test_golden_recovery.py::test_tier_b_golden_inside_90pct_band",
    "tests/test_golden_recovery.py::test_tier_c_ridge_combination",
    "tests/test_graph.py::test_pagerank_matches_dense_reference",
    "tests/test_importance_posterior.py::test_high_dimension_takes_diagonal_family",
    "tests/test_maintenance.py::test_dedup_corpus_stream",
    "tests/test_mojibake.py::test_curation_fix_encoding_stage",
    "tests/test_mojibake.py::test_property_repair_inverts_any_cleanly_wreckable_text",
    "tests/test_oracle_parity.py::test_learned_sketch_ops_concurrent_sessions_deterministic",
    "tests/test_product_space.py::test_adaptive_evidence_differences_agree_with_hypermodel_bf",
    "tests/test_suffix.py::test_cross_shard_span_missed_but_hash_backstop_catches_it",
    "tests/test_suffix.py::test_max_run_members_guard",
    "tests/test_suffix.py::test_randomized_corpora_match_brute",
    "tests/test_suffix.py::test_sharded_spans_subset_of_global_and_exact_within_shard",
    "tests/test_suffix.py::test_sharded_strip_with_backstop_covers_the_straddling_span",
    "tests/test_suffix.py::test_within_doc_repeats_gated_by_flag",
))


# Tests that need the upstream reference checkout (its examples/ and docs/
# trees), which a plain checkout does not ship: without it they fail or
# error on a missing path; wherever it is mounted they are the real-data
# parity checks. scripts/check_tier1_failures.py fails a tier-1 junit
# report on any failure or error outside this list.
REFERENCE_TESTS = frozenset((
    "tests/test_cli.py::test_results_load_saved_os_results",
    "tests/test_cli.py::test_results_main_directory_and_name_filter",
    "tests/test_cli.py::test_results_main_hist_and_trace_pngs",
    "tests/test_cli.py::test_results_main_noisefiles_credlevels_logbf",
    "tests/test_cli.py::test_results_separate_then_load_separated",
    "tests/test_cli.py::test_run_paramfile_drop_and_array",
    "tests/test_cli.py::test_run_paramfile_smoke_layout",
    "tests/test_cli.py::test_separate_earliest_returns_before_other_stages",
    "tests/test_coverage_extras.py::test_paired_pulsar_files",
    "tests/test_coverage_extras.py::test_snapshot_roundtrip",
    "tests/test_end_to_end.py::test_compile_by_backend_and_system_noise",
    "tests/test_end_to_end.py::test_full_config_loop_with_noise_file_constants",
    "tests/test_end_to_end.py::test_golden_noise_file_parity_j1832",
    "tests/test_general2_pipeline.py::test_read_general2_attaches_tim_flags",
    "tests/test_golden_recovery.py::test_every_golden_key_is_asserted",
    "tests/test_plans.py::test_compile_custom_hypermodel_with_plugin_signal",
    "tests/test_plans.py::test_compile_default_hypermodel_product_space_union",
    "tests/test_plans.py::test_compile_default_model_dynesty_paramfile",
    "tests/test_plans.py::test_compile_fixed_white_noise_paramfile",
    "tests/test_plans.py::test_fixed_white_noise_classification",
    "tests/test_plans.py::test_noise_model_normalization",
    "tests/test_plans.py::test_parse_hypermodel_paramfile",
    "tests/test_plans.py::test_priors_for_model_dedup",
    "tests/test_sources.py::test_active_toa_count",
    "tests/test_sources.py::test_fake_psr_count",
    "tests/test_sources.py::test_flag_map_and_backend_census",
    "tests/test_sources.py::test_mjd_precision_roundtrip",
    "tests/test_sources.py::test_noise_file_source",
    "tests/test_sources.py::test_par_parse",
    "tests/test_sources.py::test_per_backend_stats_finite",
    "tests/test_sources.py::test_tspan_per_selection",
    "tests/test_timingmodel.py::test_run_inference_tm_e2e_from_par_tim",
    "tests/test_timingmodel.py::test_tm_e2e_shipped_par_tim_matches_dense",
    "tests/test_timingmodel.py::test_tm_spec_from_shipped_par",
    "tests/test_unigram_realtext.py::test_compression_competitive_with_bpe_at_equal_vocab",
    "tests/test_unigram_realtext.py::test_corpus_has_real_vocabulary_pressure",
    "tests/test_unigram_realtext.py::test_learned_pieces_are_english_morphology",
    "tests/test_unigram_realtext.py::test_lossless_round_trip_on_natural_text",
    "tests/test_unigram_realtext.py::test_soft_em_ll_monotone_on_natural_text",
    "tests/test_xlsx.py::test_paramfile_label_and_run_integration",
))

def pytest_collection_modifyitems(config, items):
    # match on nodeids relative to the repo root (the rootdir pyproject.toml
    # sets), whatever directory pytest was started from
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    nodeids, modules = set(), set()
    for item in items:
        module = os.path.relpath(item.path, root).replace(os.sep, "/")
        nodeid = module + item.nodeid[item.nodeid.index("::"):]
        nodeids.add(nodeid)
        modules.add(module)
        if nodeid in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
    # a listed test is stale when its module is gone, or was collected
    # whole (no ::-selection on the command line) without it
    if any("::" in arg for arg in config.args):
        return
    for name, listed in (("SLOW_TESTS", SLOW_TESTS),
                         ("REFERENCE_TESTS", REFERENCE_TESTS)):
        stale = sorted(
            t for t in listed - nodeids
            if t.split("::")[0] in modules
            or not os.path.exists(os.path.join(root, t.split("::")[0]))
        )
        if stale:
            warnings.warn(
                pytest.PytestConfigWarning(
                    f"{name} entries that match no collected test: "
                    + ", ".join(stale)
                )
            )

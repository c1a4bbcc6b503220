from __future__ import annotations

import os
import sys
import uuid
import warnings

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rearview_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # Keep every job and stage in the status store: past the default 1000
    # retained stages Spark evicts SKIPPED stages first, even those of the
    # job a test is reading back (tests/test_bench_profile.py).
    s = get_spark("rearview_tests", shuffle_partitions=8, extra_conf={
        "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
    })
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), jobs)``: the number of Spark jobs ``fn``
    launched, counted by a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


# ---------------------------------------------------------------------------
# Slow-lane markers (VERDICT r16 next-round #8). The default lane
# (pytest.ini: addopts = -m "not slow") must finish inside the driver's
# verification window; these node ids were measured >= ~6 s call time on a
# full `--durations=0` run of the green suite (2026-08-18, 836 passed,
# total 39:29 — the 255 s all-gates plan sweep and the 80 s compaction
# restart cycle are the heaviest). tests/test_properties.py (the
# Hypothesis/property module, ~8 min total) is marked module-wide via its
# own `pytestmark`. Run the slow lane with `pytest tests/ -q -m slow`.
# A renamed test silently drops off this list — regenerate it from
# `pytest tests/ -q --durations=0 -m ""` when the suite changes shape.
# ---------------------------------------------------------------------------

SLOW_TESTS = {
    "test_cdc.py::test_apply_cdc_semantics",  # 8.5s
    "test_cdc.py::test_cdc_foreach_batch_cross_batch_late_arrivals",  # 7.5s
    "test_chunking_retrieval.py::test_prf_expanded_search_deterministic_and_expansion_helps",  # 11.8s
    "test_compaction.py::test_flat_dir_compaction_for_signature_store",  # 8.3s
    "test_compaction.py::test_ingest_compact_restart_cycle",  # 79.8s
    "test_compaction.py::test_resume_completes_pending_moves",  # 12.3s
    "test_curation.py::test_weighted_sample_deterministic_proportional_and_guards",  # 15.0s
    "test_incremental_dedup.py::test_foreach_batch_pruned_layout_cycle",  # 8.1s
    "test_incremental_dedup.py::test_foreach_batch_streaming_cycle",  # 14.7s
    "test_incremental_dedup.py::test_pruned_layout_matches_rows_layout_decisions",  # 9.2s
    "test_incremental_embedding.py::test_foreach_batch_streaming_cycle_with_compaction",  # 16.8s
    "test_joins.py::test_edit_distance_join_matches_brute_force",  # 14.8s
    "test_monitors.py::test_alert_outbox_survives_crash_between_cas_and_dispatch",  # 11.3s
    "test_monitors.py::test_outbox_carried_forward_across_unrelated_saves",  # 6.5s
    "test_monitors.py::test_overlapping_ticks_exactly_once",  # 6.6s
    "test_monitors.py::test_scheduler_fire_debounce_realert_recover",  # 17.1s
    "test_monitors.py::test_scheduler_respects_cron_and_next_run",  # 9.8s
    "test_monitors.py::test_seasonal_scores_to_lifecycle_golden",  # 18.3s
    "test_pending_gates.py::test_pending_gate_matches_oracle[monitor_seasonal_lifecycle]",  # 20.2s
    "test_pipeline_ops.py::test_ann_recall_operating_points",  # 21.0s
    "test_pipeline_ops.py::test_calibrate_semantic_threshold",  # 15.7s
    "test_pipeline_ops.py::test_cumulative_gains_hand_computed",  # 9.2s
    "test_pipeline_ops.py::test_dedup_savings_hand_computed",  # 8.2s
    "test_pipeline_ops.py::test_ensure_parallelism_probes_only_narrow_plans",  # 6.3s
    "test_pipeline_ops.py::test_ivf_pq_subset_of_pq_within_probed_buckets",  # 9.3s
    "test_pipeline_ops.py::test_poisson_bootstrap_weights_and_ci",  # 8.6s
    "test_pipeline_ops.py::test_residual_pq_recall_at_equal_bytes",  # 10.0s
    "test_pipeline_ops.py::test_setsim_prefix_matches_brute_force",  # 49.3s
    "test_pipeline_ops.py::test_synthesize_png_pixels_roundtrip",  # 10.3s
    "test_pipeline_ops.py::test_vocab_growth_hand_computed",  # 6.7s
    "test_plan_shapes.py::test_graph_iterations_identical_with_and_without_state_broadcast",  # 6.9s
    "test_plan_shapes.py::test_no_unbounded_global_window_sweep",  # 255.5s
    "test_queries_smoke.py::test_query_runs[monitor_lifecycle_replay]",  # 27.1s
    "test_queries_smoke.py::test_query_runs[sim_ivf_rpq_topk]",  # 6.6s
    "test_queries_smoke.py::test_query_runs[ts_rollup_refresh]",  # 7.5s
    "test_rollup.py::test_refresh_rollups_dirty_partition_equals_full_rebuild",  # 6.3s
    "test_selection.py::test_train_quality_weights_learns_separable_labels",  # 32.6s
    "test_sketch_eval.py::test_streaming_mg_cycle_and_retry",  # 19.5s
    "test_skew.py::test_salted_aggregate_equivalence_property",  # 6.8s
    "test_streaming.py::test_concurrency_foreach_batch_replay_and_batch_equality",  # 7.1s
    "test_streaming.py::test_dedup_stream",  # 16.3s
    "test_streaming.py::test_stateful_alert_lifecycle",  # 35.5s
    "test_streaming.py::test_stream_stream_attribution",  # 10.2s
    "test_streaming.py::test_stream_stream_attribution_outer_withholds_young_rows",  # 9.6s
}


def pytest_collection_modifyitems(config, items):
    here = os.path.dirname(os.path.abspath(__file__))
    seen, files = set(), set()
    for item in items:
        rel = os.path.relpath(item.fspath, here) + "::" + item.nodeid.split("::", 1)[1]
        seen.add(rel)
        files.add(rel.split("::", 1)[0])
        if rel in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
    # A renamed or deleted test drops off the slow lane without a trace;
    # name the stale ids. Only collected files are checked, and nothing
    # when node ids were named (the rest of their file is not collected).
    if any("::" in arg for arg in config.args):
        return
    stale = sorted(
        t for t in SLOW_TESTS if t.split("::", 1)[0] in files and t not in seen
    )
    if stale:
        warnings.warn(
            f"SLOW_TESTS ids match no collected test: {', '.join(stale)}",
            pytest.PytestWarning,
        )

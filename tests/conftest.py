from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gan_deeplearning4j_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Fast/slow tier split (r13 verdict ask #2a). The default run excludes
# `slow` (pytest.ini addopts) so the verification driver's
# `python -m pytest tests/ -x -q` finishes inside its output window with
# a visible summary; `-m ""` runs everything (the round-end gate).
#
# SLOW_MODULES: whole files whose content is the heavy integration tier —
#   oracle_parity re-checks per-query DuckDB parity that the driver's own
#   correctness gate and scripts/driver_replica.py already cover;
#   streaming runs multi-batch equivalence replays; scale_pins runs the
#   scale stress pins. Together ~860 s of the ~1980 s full-suite wall.
# SLOW_TESTS: individually slow (>= ~4 s measured, r14 full run) tests in
#   otherwise-fast modules. Kept OUT of this list despite qualifying:
#   test_registry_integrity.py (registration/oracle-binding breakage is
#   the most common regression class — highest signal per second) and
#   test_pagerank_fixed_hand_graph (hand-replayable pin on the r14
#   iterative-graph restructure).
# ---------------------------------------------------------------------------
SLOW_MODULES = {
    "test_oracle_parity.py",
    "test_streaming.py",
    "test_scale_pins.py",
}
SLOW_TESTS = {
    "test_backward.py::test_conv_gan_trains_end_to_end",
    "test_hygiene.py::test_queries_leave_no_cachemanager_entries",
    "test_io.py::test_mnist_csv_roundtrip",
    "test_io.py::test_python_streaming_datasource_matches_batch",
    "test_io.py::test_sharded_jsonl_sink_two_phase_commit",
    "test_operators.py::test_approx_distinct_within_rsd",
    "test_operators.py::test_connected_components_logn_deep_chain",
    "test_operators.py::test_connected_components_logn_matches_prop",
    "test_operators.py::test_connected_components_prop_escalates_past_max_iter",
    "test_operators.py::test_dedup_clusters_contract_exact_identical_output",
    "test_operators.py::test_dedup_clusters_lsh_matches_exact",
    "test_operators.py::test_hyperplane_bits_udf_matches_sql_form",
    "test_operators.py::test_ivf_topk_stable_under_repartition",
    "test_operators.py::test_ivfpq_topk_recall_and_pruning",
    "test_operators.py::test_kmeans_refines_ivf_assignment",
    "test_operators.py::test_lsh_topk_multiprobe_recall",
    "test_operators.py::test_merge_upsert_model_based_random",
    "test_operators.py::test_minhash_lsh_recall_on_testdata_neardups",
    "test_operators.py::test_prefix_filter_equals_exact_all_pairs",
    "test_operators.py::test_winnow_neardup_recalls_ground_truth",
    "test_pipeline.py::test_dcgan_conv_two_epochs_deterministic",
    "test_pipeline.py::test_gan_pipeline_two_epochs_deterministic",
    "test_plans.py::test_aqe_skew_join_split_fires",
    "test_plans.py::test_salted_join_bounds_hot_key_partition",
    "test_plans.py::test_star_joins_correct_in_no_broadcast_regime",
    "test_queries_r10.py::test_dtw_matches_python_dp",
    "test_queries_r5.py::test_neardup_sweep_monotone_and_consistent",
    "test_queries_r6.py::test_bpe_batched_equals_single_merge_rounds",
    "test_queries_r7.py::test_bradley_terry_matches_python_replay",
    "test_queries_r7.py::test_r7_live_addition_plans",
    "test_queries_r7.py::test_r7_second_wave_plans",
    "test_queries_r8.py::test_brandes_matches_python_replay",
    "test_queries_r8.py::test_r8_second_wave_plans",
    "test_queries_r8.py::test_r8_third_wave_plans",
    "test_queries_r9.py::test_unigram_viterbi_dominates_greedy_wordpiece",
}


def pytest_collection_modifyitems(config, items):
    slow = pytest.mark.slow
    for item in items:
        fname = os.path.basename(str(item.fspath))
        base_id = f"{fname}::{item.name.split('[')[0]}"
        if fname in SLOW_MODULES or base_id in SLOW_TESTS:
            item.add_marker(slow)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("gan-dl4j-spark-tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR

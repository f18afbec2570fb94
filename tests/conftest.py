"""Shared Spark fixtures for the test suite.

Reference fixtures: /root/reference/tests/test.py:17-23 (smalldf) and
:84-91 (heterodf); exact values also pinned in /root/repo/FIXTURES.md.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------
# Slow-test policy (r15, r14 verdict task 1): the suite grew to ~46 min
# wall, past the driver's verify budget (VERIFY_r14 tests_ok=false was a
# TIMEOUT at ~65%, not a failure). The default selection (pytest.ini
# addopts = -m "not slow") must finish well inside the budget; the full
# suite stays runnable explicitly with `pytest tests/ -m ""` (or
# -m "slow or not slow") and is run at round close (see
# OPTIMIZATION_r15.md "Green check").
#
# Membership is a POLICY LIST, not a timing assertion: every test that
# measured >= 10 s call time in the full-suite durations run
# (python -m pytest tests/ -q --durations=0, r15 round-start tree,
# 2769 s total call time; the listed 68 tests hold 1689 s of it) is
# marked slow here by node id, EXCEPT tests guarding the current
# round's fresh invariants (kept in the default run regardless of
# cost). test_e7b_scale_smoke carries its own inline marker. The PNG
# and GIF tests were re-measured after decode, and then payload
# synthesis, moved to the Arrow-batched Python stage; those now under
# 10 s left the list. test_properties::test_fit_matches_python_oracle
# (18.4 s call on local[4]) is kept in the default run on purpose: it
# is the independent oracle for the one decision-tree fit plan.
_SLOW_TESTS = frozenset(
    (
        "test_audit.py::test_audit_matches_per_stage_counts",
        "test_classifier.py::test_lr_discriminates_separable_labels",
        "test_classifier.py::test_lr_joined_path_matches_dense_bitwise",
        "test_classifier.py::test_lr_rounding_contract_is_partitioning_independent",
        "test_clustering.py::test_components_match_union_find",
        "test_dedup_properties.py::test_jaccard_pairs_match_brute_force",
        "test_dedup_properties.py::test_jaccard_xxhash_key_matches_text_key",
        "test_dedup_properties.py::test_minhash_md5_family_matches_xxhash_on_exact_dups",
        "test_dedup_properties.py::test_span_dedup_matches_brute_force",
        "test_dtree.py::test_p1_expr_size_linear_in_leaves",
        "test_forest.py::test_forest_fit_is_deterministic",
        "test_ingest_batch.py::test_bench_members_never_survive",
        "test_ingest_batch.py::test_funnel_audit_matches_independent_counts",
        "test_ingest_batch.py::test_packed_layout_is_gap_free",
        "test_ingest_batch.py::test_reliable_checkpoint_mode_identical_manifest",
        "test_ingest_pipeline.py::test_stream_ingest_bloom_semantic_match_e12_stages",
        "test_ingest_pipeline.py::test_stream_ingest_incremental_dedup_stage",
        "test_null_robustness.py::test_r7_lm_and_classifier_ops_handle_null_and_empty",
        "test_null_robustness.py::test_r7_selection_ops_handle_null_and_empty",
        "test_null_robustness.py::test_unigram_encode_oracle_parity_on_null_text",
        "test_oracle_parity.py::test_oracle_parity[e12_batch_ingest]",
        "test_oracle_parity.py::test_oracle_parity[e1c_incremental_minhash]",
        "test_oracle_parity.py::test_oracle_parity[e2_edit_verified]",
        "test_oracle_parity.py::test_oracle_parity[e2_winnow_pairs]",
        "test_oracle_parity.py::test_oracle_parity[e3_ivf_pq_topk]",
        "test_oracle_parity.py::test_oracle_parity[e3_kmeans_assign]",
        "test_oracle_parity.py::test_oracle_parity[e7b_minhash_dedup_keep]",
        "test_plans.py::test_pq_encode_is_shuffle_free_projection",
        "test_registry.py::test_gate_schemas_are_driver_canonicalizable",
        "test_regression_tree.py::test_gbt_training_loss_decreases",
        "test_similarity_quality.py::test_ivf_pq_full_probe_equals_plain_pq",
        "test_similarity_quality.py::test_pq_candidates_cover_exact_neighbors",
        "test_wide_features.py::test_chunked_fit_identical",
    )
)


def pytest_collection_modifyitems(config, items):
    for item in items:
        rel = item.nodeid.split("tests/")[-1]
        if rel in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("decision_tree_stuff_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def smalldf(spark) -> DataFrame:
    return spark.createDataFrame(
        [
            (1.0, 0.0, 1),
            (2.0, 0.0, 0),
            (3.0, 0.0, 0),
            (4.0, 0.0, 1),
            (5.0, 1.0, 0),
        ],
        "feature_1 double, feature_2 double, class bigint",
    )


@pytest.fixture
def heterodf(spark) -> DataFrame:
    """Classified by x_coord > 1."""
    return spark.createDataFrame(
        [
            (1.0, 0.0, 0),
            (2.0, 1.0, 1),
            (1.0, 1.0, 0),
            (1.0, 1.0, 0),
            (0.0, 0.0, 0),
            (2.0, 0.0, 1),
            (1.0, 1.0, 0),
        ],
        "x_coord double, y_coord double, color bigint",
    )


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR

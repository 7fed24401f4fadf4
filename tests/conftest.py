from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from jane_spark.engine.session import get_spark

    s = get_spark("jane_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    from jane_spark.engine.catalog import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


# ---------------------------------------------------------------------
# Test tiering (VERDICT r15 #1; see pytest.ini). Names (test function,
# or function[param id]) of the multi-minute Spark-fixture tests,
# selected from a full `--durations=0` run (2026-08-18, idle box,
# 829 passed / 1960 s): everything here is >=5 s and its operator
# FAMILY keeps at least one default-path test — usually the
# driver-facing oracle-parity row
# (kept OUT of this list even when it is itself 6-13 s: q_k21 logreg,
# q_k48 nn_descent, q_i11 stream join, q_k26 unigram_train,
# q_i7 upsert, q_k16 dbscan, q_k27 pagerank, q_i5 late clones).
# The full suite (including these) runs with `-m ""`.
SLOW_TEST_NAMES = (
    "test_label_propagation_incr_laws",
    "test_no_python_eval_outside_allowlist",
    "test_oracle_parity[q_k52_lpa_incr]",
    "test_iterative_builds_bound_persistent_footprint",
    "test_opq_rotation_recall_ladder",
    "test_oracle_parity[q_k48_incr]",
    "test_url_normalize_is_idempotent",
    "test_nn_descent_graph_recall",
    "test_ivf_pq_residual_recall_ladder",
    "test_train_logreg_partitioning_invariant",
    "test_stalta_window_parallelism_scales_with_key_cardinality",
    "test_priority_sample_laws",
    "test_nn_descent_insert_laws",
    "test_oracle_parity[q_k26_unigram_estep]",
    "test_train_logreg_matches_reference_and_separates",
    "test_ann_recall_ladder_at_2x_scale",
    "test_dbscan_lsh_prefilter_agreement",
    "test_event_time_timeout_late_rows_dropped",
    "test_oracle_parity[q_t10_winnow]",
    "test_label_propagation_laws",
    "test_connected_components_star_fallback_deep_chain",
    "test_rows_only_smoke[q_k2_minhash]",
    "test_stream_stream_left_outer_null_emission",
    "test_icws_weighted_minhash_laws",
    "test_weighted_reservoir_sample_laws",
    "test_stream_stream_join_equals_batch",
    "test_connected_components_vs_union_find",
    "test_late_data_beyond_watermark_dropped",
    "test_passjoin_hot_block_salted",
    "test_pq_adc_recall_ladder",
    "test_exact_span_removal_brute_force",
    "test_cusum_drift_matches_page_recursion_property",
    "test_robust_trend_laws",
    "test_oracle_parity[q_j5_event_timeout]",
    "test_dbscan_invariants_and_margin",
    "test_event_time_timeout_flush",
    "test_two_stage_recall_vs_exact",
    "test_star_fallback_matches_propagation_random",
    "test_encode_words_udf_parity_and_scale",
    "test_poisson_bootstrap_laws",
    "test_stupid_backoff_hand_computed",
    "test_with_normalized_url_equals_inline_pair",
    "test_ivf_incremental_and_drift_trigger",
    "test_document_assembly_streams_without_collect",
    "test_event_beachballs_attachment_rows",
    "test_jl_recall_ladder_and_determinism",
    "test_dup_span_removal_consistent_with_coverage",
    "test_exact_dup_spans_cap_stays_maximal",
    "test_oracle_parity[q_k14_ssjoin]",
    # --- tier 2 (same full-durations run, the 4-17 s band; every
    # family below keeps a cheaper default-path test, noted inline) ---
    "test_stream_quality_gate_equals_batch",      # streaming: 8 others stay
    "test_two_batch_checkpoint_state_recovery",   # parity[q_j5_two_batch] stays
    "test_q_i5_contract_drops_late_clones",       # parity[q_i5_late_drop] stays
    "test_oracle_parity[q_k23_ivf_pq]",           # residual/adc/codes parities stay
    "test_oracle_parity[q_k3_ivf_portable]",      # ivf_recall + ivf_incr parity stay
    "test_oracle_parity[q_k37_overlap_matrix]",   # containment parity stays
    "test_url_normalize_cases",                   # 8 smaller url tests stay
    "test_station_xml_response_stages_golden",    # fdsnws: 50+ others stay
    "test_event_beachballs_index_without_fm_columns",  # 4 pure-python bb tests stay
    "test_rows_only_smoke[q_k49_opq]",            # opq2/dimperm parities stay
    "test_oracle_parity[q_k33_mmr]",              # mmr_select determinism test stays
    "test_oracle_parity[q_k39_ann_audit]",        # ann ladder family stays
    "test_dataselect_bulk_matches_union_of_single_queries",
    "test_advice_edge_cases_r10",
    "test_unigram_estep_counts_match_python",     # unigram_train parity stays
    "test_hard_negative_topk_ann_candidates_identity",  # hardneg parity stays
    "test_oracle_parity[q_k23_adc_rerank]",       # pq_adc/pq_codes parities stay
    "test_exact_dup_spans_brute_force",           # span_removal parity stays
    "test_station_query_acl_restricted_channel",
    "test_unigram_matches_python_reference_on_corpus_vocab",
    "test_oracle_parity[q_k49_dimperm]",          # opq2 parity stays
    "test_opq2_block_rotate_laws",
    "test_bbit_minhash_estimator",                # bbit parity stays
    "test_unigram_viterbi_hand_cases",
    "test_train_unigram_matches_python_twin",
    "test_embedding_moments_exact_and_mergeable", # embstats parity stays
    "test_bloom_skip_audit_laws",                 # bloom_skip parity stays
    "test_waveform_stream_ingest_incremental",
    "test_rows_only_smoke[q_a1_waveform_source]", # waveform_source file stays
    "test_kmeans_assign_partitioning_invariant",  # kmeans parity stays
)


def pytest_collection_modifyitems(config, items):
    # exact names, not substrings of the node id: a new test whose name
    # extends a listed one must not be deselected with it
    slow = set(SLOW_TEST_NAMES)
    for item in items:
        if item.name in slow or item.originalname in slow:
            item.add_marker(pytest.mark.slow)

"""Shared Spark + DuckDB fixtures for the test suite."""

from __future__ import annotations

import os

import duckdb
import pytest

from portfolio_data_pipelines_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="pdp-spark-tests",
        master="local[4]",
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g",
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the star-schema tables registered as views,
    mirroring the driver's oracle harness."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{SF_DIR_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def duck_small():
    """DuckDB oracle views at sf0.001 — for the driver-canon replica
    (tests/test_declared_surface.py), which runs every declared query a
    second time and must stay cheap."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running scale-sensitivity harness tests"
    )


#: Individually slow tests (≥5 s measured on the full-suite duration
#: report, r17) promoted to the slow tier by NODE ID — parametrized
#: cases can't carry a per-param decorator cleanly, and one auditable
#: list beats marks scattered over 10 files. Deliberately KEPT in the
#: default tier despite being ≥5 s: the oracle-parity and driver-canon
#: replicas of DECLARED queries (near_dup_clusters, semdedup_pairs,
#: kmeans_embedding_clusters) — they replicate the driver's own
#: correctness gate and are the strongest pre-flight regression net.
#: Full tier: `python -m pytest tests/ -q -m ""` (see pytest.ini).
_SLOW_NODEIDS = {
    "tests/test_bpe.py::TestDistributedTrainer::test_spark_train_matches_reference",
    "tests/test_bpe.py::TestScaleEncoder::test_2k_merges_parity_with_local_encoder",
    "tests/test_declared_surface.py::test_rotation_candidate_survives_driver_canon[dedup_keep_docs]",
    "tests/test_declared_surface.py::test_rotation_candidate_survives_driver_canon[delta_apply_replica_mart]",
    "tests/test_declared_surface.py::test_rotation_candidate_survives_driver_canon[ngram_jaccard_dups]",
    "tests/test_delta_external_reader.py::test_checkpoint_add_before_tombstone_order_is_safe",
    "tests/test_delta_external_reader.py::test_checkpointed_table_parity_after_log_cleanup",
    "tests/test_delta_external_reader.py::test_multipart_checkpoint_read_by_both_readers",
    "tests/test_delta_external_reader.py::test_multipart_checkpoint_written_above_threshold",
    "tests/test_delta_external_reader.py::test_timestamp_as_of_parity",
    "tests/test_delta_feed_source.py::test_cdf_mode_merge_mid_stream_net_rows_once",
    "tests/test_delta_feed_source.py::test_cdf_mode_requires_key_cols_only_for_reconstruction",
    "tests/test_delta_feed_source.py::test_cdf_mode_restore_after_optimize",
    "tests/test_delta_feed_source.py::test_cdf_reconstruction_carries_commit_timestamp",
    "tests/test_delta_feed_source.py::test_cdf_stream_apply_maintains_replica",
    "tests/test_delta_feed_source.py::test_cdf_stream_prefers_write_side_change_files",
    "tests/test_delta_feed_source.py::test_feed_reads_column_mapped_table",
    "tests/test_delta_feed_source.py::test_plain_feed_ignoredeletes_tolerates_delete_only_commits",
    "tests/test_delta_feed_source.py::test_restart_resumes_at_first_unread_commit",
    "tests/test_delta_feed_source.py::test_stream_reads_commits_with_versions",
    "tests/test_delta_log.py::TestAdviceR7::test_timestamp_as_of_before_checkpoint",
    "tests/test_delta_log.py::TestApplyChanges::test_batch_apply_converges",
    "tests/test_delta_log.py::TestCheckpoint::test_checkpoint_written_and_used",
    "tests/test_delta_log.py::TestDataSkipping::test_checkpointed_stats_still_prune",
    "tests/test_delta_log.py::TestOptimize::test_optimize_compacts_to_one_file_per_partition",
    "tests/test_delta_log.py::TestRowLevelCDF::test_per_commit_equals_snapshot_diff",
    "tests/test_delta_log.py::TestWriteSideCDF::test_cdc_pinned_equal_to_reconstruction_twin",
    "tests/test_delta_log.py::TestWriteSideCDF::test_cdc_read_does_not_touch_rewritten_files",
    "tests/test_delta_log.py::TestWriteSideCDF::test_checkpoint_and_plain_readers_ignore_cdc",
    "tests/test_delta_log.py::TestWriteSideCDF::test_external_reader_reads_cdc",
    "tests/test_dv_write.py::test_large_dv_delete_serializes_executor_side",
    "tests/test_id_mode_writes.py::test_feed_plain_and_cdf_over_id_mode",
    "tests/test_id_mode_writes.py::test_nested_feed_plain_and_cdf_over_id_mode",
    "tests/test_models_registry.py::TestIncrementalMaterialization::test_incremental_merge_and_table_rebuild",
    "tests/test_models_registry.py::TestPersistentCatalog::test_views_survive_session_restart",
    "tests/test_oracle_parity.py::test_query_matches_oracle[dedup_keep_docs]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[ngram_jaccard_dups]",
    "tests/test_properties.py::test_delta_log_matches_model_at_every_version",
    "tests/test_properties.py::test_stream_session_windows_equal_batch_under_any_arrival_order",
    "tests/test_properties.py::test_stream_windows_equal_batch_under_any_arrival_order",
    "tests/test_row_tracking.py::test_checkpoint_carries_row_ids",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.nodeid in _SLOW_NODEIDS:
            item.add_marker(pytest.mark.slow)

"""The delta_log decomposition seam (r15 delta_protocol/checkpoint/dv,
r16 delta_cdf/merge/alter/maintain): every split module must keep two
promises —

1. its public names stay importable from ``operators.delta_log``
   (the re-export surface callers and tests were written against), and
2. it reads delta_log internals at CALL time (the ``dl`` proxy), so a
   monkeypatch on the ``delta_log`` module affects the moved code —
   the property the whole test suite's tunable patches rely on.
"""

from __future__ import annotations


def test_split_public_names_reexported_from_delta_log():
    from portfolio_data_pipelines_spark.operators import delta_log as dl

    expected = {
        # delta_cdf (r16)
        "enable_change_data_feed": "delta_cdf",
        "read_delta_cdf": "delta_cdf",
        "_net_changes": "delta_cdf",
        "_maybe_stage_cdc": "delta_cdf",
        # delta_merge (r16)
        "merge_delta": "delta_merge",
        "apply_changes_delta": "delta_merge",
        "delta_cdf_apply_sink": "delta_merge",
        # delta_alter (r16)
        "enable_column_mapping": "delta_alter",
        "enable_iceberg_compat": "delta_alter",
        "enable_row_tracking": "delta_alter",
        "rename_column": "delta_alter",
        "drop_column": "delta_alter",
        "add_check_constraint": "delta_alter",
        "set_column_default": "delta_alter",
        # delta_colmap (r16)
        "_logical_to_physical": "delta_colmap",
        "_physical_read_schema": "delta_colmap",
        "_stamp_element_ids_batch": "delta_colmap",
        "_assign_compat_element_ids": "delta_colmap",
        "_field_ids": "delta_colmap",
        # delta_scan (r16)
        "read_delta": "delta_scan",
        "read_delta_changes": "delta_scan",
        "version_as_of": "delta_scan",
        "_read_adds": "delta_scan",
        "_fast_hive_read": "delta_scan",
        "_file_may_match": "delta_scan",
        "_read_file_groups": "delta_scan",
        "_derived_partition_bounds": "delta_scan",
        # delta_maintain (r16)
        "optimize_delta": "delta_maintain",
        "purge_delta": "delta_maintain",
        "restore_delta": "delta_maintain",
        "vacuum_delta": "delta_maintain",
        "cleanup_log": "delta_maintain",
        "drop_table_feature": "delta_maintain",
        "describe_detail": "delta_maintain",
        "describe_history": "delta_maintain",
        "enable_clustering": "delta_maintain",
        "clustering_columns": "delta_maintain",
        "set_domain_metadata": "delta_maintain",
        "convert_parquet_to_delta": "delta_maintain",
        # r15 splits keep their seam too
        "checkpoint_delta": "delta_checkpoint",
        "delete_where_dv": "delta_dv",
        "_check_writer_protocol": "delta_protocol",
    }
    for name, module in expected.items():
        fn = getattr(dl, name)
        assert fn.__module__.endswith(module), (name, fn.__module__)


def test_split_modules_see_delta_log_monkeypatches(monkeypatch):
    """The _DeltaLogProxy contract: patching an internal (or tunable)
    on the delta_log MODULE must be what the split modules observe at
    call time — otherwise every existing ``monkeypatch.setattr(dl,…)``
    in the suite silently stops covering the moved code."""
    from portfolio_data_pipelines_spark.operators import (
        delta_alter,
        delta_cdf,
        delta_log as dl,
        delta_colmap,
        delta_maintain,
        delta_merge,
        delta_scan,
    )

    monkeypatch.setattr(dl, "_now_ms", lambda: 424242)
    for split in (
        delta_cdf, delta_merge, delta_alter, delta_maintain, delta_scan,
        delta_colmap,
    ):
        assert split.dl._now_ms() == 424242, split.__name__
    monkeypatch.setattr(dl, "DELTA_CHECKPOINT_EVERY", 3)
    assert delta_merge.dl.DELTA_CHECKPOINT_EVERY == 3
    assert delta_maintain.dl.DELTA_CHECKPOINT_EVERY == 3


def test_split_modules_import_standalone():
    """Importing a split module FIRST (fresh interpreter order) must
    not hit a partially-initialized delta_log: the proxy defers the
    delta_log import to call time, so a bare import is cycle-free."""
    import subprocess
    import sys

    for mod in (
        "delta_cdf", "delta_merge", "delta_alter", "delta_dv",
        "delta_maintain", "delta_scan", "delta_colmap",
    ):
        r = subprocess.run(
            [
                sys.executable,
                "-c",
                f"from portfolio_data_pipelines_spark.operators import {mod}; "
                f"print({mod}.__name__)",
            ],
            capture_output=True,
            text=True,
            timeout=120,
        )
        assert r.returncode == 0, (mod, r.stderr[-500:])

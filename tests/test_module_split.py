"""The Delta module seams: every ``operators/delta_*`` module owns its
names, imports cleanly whichever module loads first, and reads its own
tunables — so a patch on the owning module is what the code observes.
"""

from __future__ import annotations

import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "portfolio_data_pipelines_spark",
)

DELTA_MODULES = sorted(
    name[:-3]
    for name in os.listdir(os.path.join(PKG, "operators"))
    if name.startswith("delta_") and name.endswith(".py")
)


def test_split_modules_import_standalone():
    """Importing any Delta module FIRST (fresh interpreter order) must
    not hit a partially-initialized sibling: the modules in the
    delta_log cycle import each other as module objects and resolve
    names at call time."""
    import subprocess
    import sys

    assert {"delta_log", "delta_checkpoint", "delta_protocol", "delta_dv"} <= set(
        DELTA_MODULES
    )
    for mod in DELTA_MODULES:
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


def test_subpackage_inits_import_nothing():
    """``operators``, ``sources`` and ``plans`` re-export nothing: every
    name is imported from the module that defines it, and importing a
    sub-package loads none of its modules."""
    import ast

    for sub in ("operators", "sources", "plans"):
        with open(os.path.join(PKG, sub, "__init__.py")) as f:
            tree = ast.parse(f.read())
        imports = [
            ast.unparse(n) for n in ast.walk(tree)
            if isinstance(n, (ast.Import, ast.ImportFrom))
        ]
        assert imports == [], (sub, imports)


def test_checkpoint_cadence_read_from_delta_checkpoint(spark, tmp_path, monkeypatch):
    """``_write_commit`` owns the checkpoint cadence and reads it from
    ``delta_checkpoint``: lowering the constant there checkpoints every
    third commit, whichever module wrote it (MERGE at v3, OPTIMIZE at
    v6, a plain append at v9) — and no other version."""
    from portfolio_data_pipelines_spark.operators import delta_checkpoint
    from portfolio_data_pipelines_spark.operators.delta_alter import (
        add_check_constraint,
    )
    from portfolio_data_pipelines_spark.operators.delta_log import write_delta
    from portfolio_data_pipelines_spark.operators.delta_maintain import (
        optimize_delta,
    )
    from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
    from portfolio_data_pipelines_spark.operators.delta_scan import read_delta

    monkeypatch.setattr(delta_checkpoint, "DELTA_CHECKPOINT_EVERY", 3)
    path = str(tmp_path / "t")

    def rows(lo, hi):
        return spark.createDataFrame(
            [(i, float(i)) for i in range(lo, hi)], "id bigint, v double"
        ).coalesce(1)

    versions = [
        write_delta(spark, rows(0, 10), path),  # v0
        write_delta(spark, rows(10, 20), path),  # v1
        write_delta(spark, rows(20, 30), path),  # v2
        merge_delta(spark, path, rows(25, 35), key_cols=["id"]),  # v3
    ]
    assert read_delta(spark, path, version=3).count() == 35
    versions += [
        add_check_constraint(spark, path, "id_nonneg", "id >= 0"),  # v4
        write_delta(spark, rows(35, 40), path),  # v5
        optimize_delta(spark, path),  # v6
        write_delta(spark, rows(40, 45), path),  # v7
        write_delta(spark, rows(45, 50), path),  # v8
        write_delta(spark, rows(50, 55), path),  # v9
    ]
    assert versions == list(range(10))
    log = os.path.join(path, "_delta_log")
    checkpoints = sorted(
        n for n in os.listdir(log) if n.endswith(".checkpoint.parquet")
    )
    assert checkpoints == [
        f"{v:020d}.checkpoint.parquet" for v in (3, 6, 9)
    ]
    for v, want in ((3, 35), (6, 40), (9, 55)):
        assert read_delta(spark, path, version=v).count() == want
    assert read_delta(spark, path).count() == 55


def test_one_commit_path():
    """Every commit goes through ``Txn.commit``: it is the only caller
    of ``_write_commit`` in the package, and the per-site metadata
    commit helper is gone."""
    import ast

    callers, defined = [], set()
    for root, _dirs, names in os.walk(PKG):
        for name in sorted(n for n in names if n.endswith(".py")):
            tree = ast.parse(open(os.path.join(root, name)).read())
            scopes = [
                (f"{cls.name}.{fn.name}" if cls else fn.name, fn)
                for cls in [None] + [
                    n for n in ast.walk(tree) if isinstance(n, ast.ClassDef)
                ]
                for fn in (cls.body if cls else tree.body)
                if isinstance(fn, ast.FunctionDef)
            ]
            defined |= {qual for qual, _fn in scopes}
            for qual, fn in scopes:
                for node in ast.walk(fn):
                    if isinstance(node, ast.Call) and (
                        getattr(node.func, "id", None) == "_write_commit"
                        or getattr(node.func, "attr", None) == "_write_commit"
                    ):
                        callers.append((name, qual))
    assert callers == [("delta_log.py", "Txn.commit")]
    assert "_commit_metadata_only" not in defined


def test_checkpoint_failure_after_append_is_not_a_lost_race(
    spark, tmp_path, monkeypatch
):
    """An append's commit lands, then its checkpoint fails: the error
    reaches the caller and the append's retry loop does not mistake its
    own commit for a racer's (which would re-commit the rows, or delete
    the committed files as a 'twin writer' batch)."""
    import pytest

    from portfolio_data_pipelines_spark.operators import delta_checkpoint
    from portfolio_data_pipelines_spark.operators.delta_log import (
        _replay_log,
        write_delta,
    )
    from portfolio_data_pipelines_spark.operators.delta_scan import read_delta

    monkeypatch.setattr(delta_checkpoint, "DELTA_CHECKPOINT_EVERY", 2)
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 1.0)], "id bigint, v double")
    write_delta(spark, df, path)
    write_delta(spark, df, path)

    def failing_checkpoint(fs, jvm, path_, st):
        raise RuntimeError("checkpoint failed")

    monkeypatch.setattr(delta_checkpoint, "_write_checkpoint", failing_checkpoint)
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        write_delta(spark, df, path, txn=("app", 1))
    log = os.path.join(path, "_delta_log")
    assert sorted(n for n in os.listdir(log) if n.endswith(".json")) == [
        f"{v:020d}.json" for v in range(3)
    ]
    adds = _replay_log(spark, path, None).adds
    assert all(os.path.exists(os.path.join(path, rel)) for rel in adds)
    assert read_delta(spark, path).count() == 3

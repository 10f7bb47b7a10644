"""Lifecycle conformance fuzz: a SEEDED random walk over the whole
mutation surface (append / overwrite / replaceWhere / merge / both
DELETE forms / UPDATE / OPTIMIZE / PURGE / checkpoint / RESTORE),
holding a plain-python model of the table's logical rows, and after
EVERY commit comparing the model against BOTH readers — the engine's
Spark read and the independent spec-only pyarrow reader. Any wire-
format drift (a descriptor mispaired, a tombstone misapplied, a
checkpoint field dropped, a restore missing DV state) surfaces as a
three-way mismatch at the exact step that introduced it, with the
seed and op trace in the failure message.

Deterministic seeds rather than hypothesis: each step costs Spark
jobs, so shrinking is impractical — reproducibility comes from the
printed trace instead.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

# Whole-module slow tier (r16 verdict #1): the broadest conformance
# net, ~6 min of the full suite — pre-submission tier, not the
# driver's default verify run (pytest.ini deselects slow by default).
pytestmark = pytest.mark.slow

from portfolio_data_pipelines_spark.operators.delta_checkpoint import checkpoint_delta
from portfolio_data_pipelines_spark.operators.delta_dv import delete_where_dv
from portfolio_data_pipelines_spark.operators.delta_log import (
    delete_where,
    update_where,
    write_delta,
)
from portfolio_data_pipelines_spark.operators.delta_maintain import (
    optimize_delta,
    purge_delta,
    restore_delta,
)
from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from tests.delta_reader import (
    read_delta_external,
)

COLS = ("id", "grp", "val")


def _frame(spark, rows):
    return spark.createDataFrame(
        [(i, g, v) for i, (g, v) in sorted(rows.items())],
        "id long, grp string, val long",
    )


def _fresh_rows(rng, next_id, n):
    rows = {}
    for _ in range(n):
        rows[next_id] = (str(next_id % 3), rng.randrange(0, 1000))
        next_id += 1
    return rows, next_id


def _check(spark, path, model, trace):
    got = sorted(
        (r["id"], r["grp"], r["val"])
        for r in read_delta(spark, path).collect()
    )
    want = sorted((i, g, v) for i, (g, v) in model.items())
    assert got == want, f"spark reader diverged after {trace}"
    names, rows = read_delta_external(path)
    idx = [names.index(c) for c in COLS]
    ext = sorted((r[idx[0]], r[idx[1]], r[idx[2]]) for r in rows)
    assert ext == want, f"external reader diverged after {trace}"


def _walk(spark, tmp_path, seed, n_ops):
    rng = random.Random(seed)
    path = str(tmp_path / f"fuzz_{seed}")
    model, next_id = _fresh_rows(rng, 0, 30)
    write_delta(spark, _frame(spark, model), path, partition_col="grp")
    version = 0
    snapshots = {0: dict(model)}
    trace = [f"seed={seed}", "create(30)"]

    ops = [
        "append", "merge", "delete", "delete_dv", "update",
        "replace", "optimize", "purge", "checkpoint", "restore",
    ]
    for step in range(n_ops):
        op = rng.choice(ops)
        trace.append(f"{step}:{op}")
        if op == "append":
            fresh, next_id = _fresh_rows(rng, next_id, rng.randrange(3, 9))
            version = write_delta(
                spark, _frame(spark, fresh), path, partition_col="grp"
            )
            model.update(fresh)
        elif op == "merge":
            upd = {
                i: (model[i][0], model[i][1] + 1000)
                for i in rng.sample(sorted(model), min(4, len(model)))
            }
            fresh, next_id = _fresh_rows(rng, next_id, 2)
            src = {**upd, **fresh}
            version = merge_delta(
                spark, path, _frame(spark, src), key_cols=["id"]
            )
            model.update(src)
        elif op in ("delete", "delete_dv"):
            k, r = rng.choice([(5, 0), (7, 2), (4, 1)])
            fn = delete_where if op == "delete" else delete_where_dv
            v = fn(spark, path, f"id % {k} = {r}")
            doomed = [i for i in model if i % k == r]
            if v is None:
                assert not doomed, f"matched rows but no commit: {trace}"
                trace[-1] += "(noop)"
                continue
            version = v
            for i in doomed:
                del model[i]
        elif op == "update":
            k, r = rng.choice([(6, 3), (5, 4)])
            v = update_where(
                spark, path, f"id % {k} = {r}", {"val": "val + 7"}
            )
            hit = [i for i in model if i % k == r]
            if v is None:
                assert not hit, f"matched rows but no commit: {trace}"
                trace[-1] += "(noop)"
                continue
            version = v
            for i in hit:
                model[i] = (model[i][0], model[i][1] + 7)
        elif op == "replace":
            grp = str(rng.randrange(0, 3))
            fresh, next_id = _fresh_rows(rng, next_id, 5)
            repl = {
                i: (grp, v) for i, (_g, v) in fresh.items()
            }
            version = write_delta(
                spark, _frame(spark, repl), path, partition_col="grp",
                mode="overwrite", replace_partitions=[grp],
            )
            model = {i: gv for i, gv in model.items() if gv[0] != grp}
            model.update(repl)
        elif op == "optimize":
            v = optimize_delta(spark, path)
            if v is None:
                trace[-1] += "(noop)"
                continue
            version = v
        elif op == "purge":
            v = purge_delta(spark, path)
            if v is None:
                trace[-1] += "(noop)"
                continue
            version = v
        elif op == "checkpoint":
            checkpoint_delta(spark, path, version)
            trace[-1] += f"@{version}"
            continue  # no commit, no model change
        elif op == "restore":
            candidates = [v for v in snapshots if v < version]
            if not candidates:
                trace[-1] += "(noop)"
                continue
            target = rng.choice(candidates)
            version = restore_delta(spark, path, target)
            model = dict(snapshots[target])
            trace[-1] += f"->{target}"
        snapshots[version] = dict(model)
        _check(spark, path, model, " ".join(trace))
    _check(spark, path, model, " ".join(trace) + " END")


def test_lifecycle_fuzz_seed_1(spark, tmp_path):
    _walk(spark, tmp_path, seed=1, n_ops=12)


def test_lifecycle_fuzz_seed_42(spark, tmp_path):
    _walk(spark, tmp_path, seed=42, n_ops=12)


def test_lifecycle_fuzz_seed_7(spark, tmp_path):
    _walk(spark, tmp_path, seed=7, n_ops=16)


def test_lifecycle_fuzz_seed_2024(spark, tmp_path):
    _walk(spark, tmp_path, seed=2024, n_ops=16)


def _walk_with_cdf_replica(spark, tmp_path, seed, n_ops):
    """The same walk on a CDF-ENABLED source, with a REPLICA table
    maintained purely from the change feed after every commit — the
    replication loop (source → read_delta_cdf → apply_changes_delta)
    must converge to the model through arbitrary op interleavings,
    including DV deletes (cdc-staged), replaceWhere overwrites and
    keyed restores."""
    from portfolio_data_pipelines_spark.operators.delta_cdf import read_delta_cdf
    from portfolio_data_pipelines_spark.operators.delta_merge import apply_changes_delta

    rng = random.Random(seed)
    path = str(tmp_path / f"fuzz_cdf_{seed}")
    rep = str(tmp_path / f"fuzz_rep_{seed}")
    model, next_id = _fresh_rows(rng, 0, 24)
    write_delta(
        spark, _frame(spark, model), path, partition_col="grp",
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    write_delta(  # empty replica, same shape
        spark,
        spark.createDataFrame([], "id long, grp string, val long"),
        rep,
    )
    version = 0
    applied = -1  # replica has consumed changes through this version
    snapshots = {0: dict(model)}
    trace = [f"cdf-seed={seed}", "create(24)"]

    def sync():
        nonlocal applied
        changes = read_delta_cdf(
            spark, path, applied, key_cols=["id"], to_version=version
        )
        apply_changes_delta(spark, rep, changes, key_cols=["id"])
        applied = version
        got = sorted(
            (r["id"], r["grp"], r["val"])
            for r in read_delta(spark, rep).collect()
        )
        want = sorted((i, g, v) for i, (g, v) in model.items())
        assert got == want, f"replica diverged after {' '.join(trace)}"

    sync()
    ops = ["append", "merge", "delete", "delete_dv", "update",
           "replace", "optimize", "restore"]
    for step in range(n_ops):
        op = rng.choice(ops)
        trace.append(f"{step}:{op}")
        if op == "append":
            fresh, next_id = _fresh_rows(rng, next_id, rng.randrange(2, 6))
            version = write_delta(
                spark, _frame(spark, fresh), path, partition_col="grp"
            )
            model.update(fresh)
        elif op == "merge":
            upd = {
                i: (model[i][0], model[i][1] + 1000)
                for i in rng.sample(sorted(model), min(3, len(model)))
            }
            fresh, next_id = _fresh_rows(rng, next_id, 2)
            src = {**upd, **fresh}
            version = merge_delta(
                spark, path, _frame(spark, src), key_cols=["id"]
            )
            model.update(src)
        elif op in ("delete", "delete_dv"):
            k, r = rng.choice([(5, 0), (7, 2)])
            fn = delete_where if op == "delete" else delete_where_dv
            v = fn(spark, path, f"id % {k} = {r}")
            if v is None:
                trace[-1] += "(noop)"
                continue
            version = v
            for i in [i for i in model if i % k == r]:
                del model[i]
        elif op == "update":
            v = update_where(
                spark, path, "id % 6 = 3", {"val": "val + 7"}
            )
            if v is None:
                trace[-1] += "(noop)"
                continue
            version = v
            for i in [i for i in model if i % 6 == 3]:
                model[i] = (model[i][0], model[i][1] + 7)
        elif op == "replace":
            grp = str(rng.randrange(0, 3))
            fresh, next_id = _fresh_rows(rng, next_id, 4)
            repl = {i: (grp, v) for i, (_g, v) in fresh.items()}
            version = write_delta(
                spark, _frame(spark, repl), path, partition_col="grp",
                mode="overwrite", replace_partitions=[grp],
                cdf_key_cols=["id"],
            )
            model = {i: gv for i, gv in model.items() if gv[0] != grp}
            model.update(repl)
        elif op == "optimize":
            v = optimize_delta(spark, path)
            if v is None:
                trace[-1] += "(noop)"
                continue
            version = v
        elif op == "restore":
            candidates = [v for v in snapshots if v < version]
            if not candidates:
                trace[-1] += "(noop)"
                continue
            target = rng.choice(candidates)
            version = restore_delta(
                spark, path, target, cdf_key_cols=["id"]
            )
            model = dict(snapshots[target])
            trace[-1] += f"->{target}"
        snapshots[version] = dict(model)
        _check(spark, path, model, " ".join(trace))
        sync()


def test_lifecycle_fuzz_cdf_replica_seed_3(spark, tmp_path):
    _walk_with_cdf_replica(spark, tmp_path, seed=3, n_ops=10)


def test_lifecycle_fuzz_cdf_replica_seed_99(spark, tmp_path):
    _walk_with_cdf_replica(spark, tmp_path, seed=99, n_ops=10)


def _walk_metadata(
    spark, tmp_path, seed, n_ops, v2=False, id_mode=False, nested=False,
    iceberg=False,
):
    """The METADATA-surface walk (VERDICT r9 next #3): schema
    evolution, column-mapping rename/drop, cleanup_log, vacuum and
    checkpoints interleaved with data mutations — on a ROW-TRACKING
    table, with per-key row-id stability asserted through BOTH readers
    after every commit. ``v2=True`` runs the same walk on a
    v2-checkpoint-mode table (UUID main + sidecars on every checkpoint
    cadence hit). ``id_mode=True`` (r12) runs it on a FOREIGN-created
    ID-mode column-mapped table — every commit stages field-id-stamped
    files and every read resolves by id (no row tracking: converted
    tables don't carry it)."""
    from portfolio_data_pipelines_spark.operators.delta_alter import (
        drop_column,
        drop_column_default,
        enable_column_mapping,
        rename_column,
        set_column_default,
    )
    from portfolio_data_pipelines_spark.operators.delta_log import Txn
    from portfolio_data_pipelines_spark.operators.delta_maintain import (
        cleanup_log,
        vacuum_delta,
    )
    from portfolio_data_pipelines_spark.operators.delta_protocol import (
        _upgraded_protocol_with,
    )

    rng = random.Random(seed)
    path = str(tmp_path / f"fuzz_meta_{seed}_{v2}")
    model, next_id = _fresh_rows(rng, 0, 20)
    # rows: id -> {col: value}; vcols evolves over the walk
    rows = {i: {"grp": g, "val": v} for i, (g, v) in model.items()}
    vcols = ["val"]

    def stamp_obj(sub):
        # nested id-mode walks carry a struct column whose value is
        # derived from (id, grp-at-write-time) — every rewrite op must
        # round-trip it through per-level field-id resolution (r13)
        if nested:
            for i, d in sub.items():
                d["obj"] = {"a": i * 10, "b": d["grp"]}
        return sub

    stamp_obj(rows)

    def frame(sub):
        schema = "id long, grp string, " + ", ".join(
            f"{c} long" for c in vcols
        )
        if nested:
            schema += ", obj struct<a long, b string>"
        return spark.createDataFrame(
            [
                tuple(
                    [i, d["grp"]] + [d.get(c) for c in vcols]
                    + ([(d["obj"]["a"], d["obj"]["b"])] if nested else [])
                )
                for i, d in sorted(sub.items())
            ],
            schema,
        ).coalesce(1)

    if id_mode:
        # foreign-created EMPTY id-mode table (the Iceberg-conversion
        # shape): metadata declares mode=id with per-field ids and
        # physical names this writer never chose; the initial rows then
        # land through the normal append path, which must stamp them
        import json as _json
        import os as _os

        _os.makedirs(f"{path}/_delta_log")
        fields = [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "ice_id"}},
            {"name": "grp", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "ice_grp"}},
            {"name": "val", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName": "ice_val"}},
        ]
        if nested:
            fields.append(
                {"name": "obj", "nullable": True,
                 "type": {"type": "struct", "fields": [
                     {"name": "a", "type": "long", "nullable": True,
                      "metadata": {
                          "delta.columnMapping.id": 5,
                          "delta.columnMapping.physicalName": "ice_a"}},
                     {"name": "b", "type": "string", "nullable": True,
                      "metadata": {
                          "delta.columnMapping.id": 6,
                          "delta.columnMapping.physicalName": "ice_b"}},
                 ]},
                 "metadata": {"delta.columnMapping.id": 4,
                              "delta.columnMapping.physicalName": "ice_obj"}}
            )
        with open(f"{path}/_delta_log/{0:020d}.json", "w") as f:
            for a in [
                {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                              "readerFeatures": ["columnMapping"],
                              "writerFeatures": ["columnMapping"]}},
                {"metaData": {"id": f"fuzz-id-{seed}",
                              "format": {"provider": "parquet",
                                         "options": {}},
                              "schemaString": _json.dumps(
                                  {"type": "struct", "fields": fields}),
                              "partitionColumns": ["grp"],
                              "configuration": {
                                  "delta.columnMapping.mode": "id",
                                  "delta.columnMapping.maxColumnId":
                                      "6" if nested else "3"},
                              "createdTime": 0}},
            ]:
                f.write(_json.dumps(a) + "\n")
        version = write_delta(
            spark, frame(rows), path, partition_col="grp", mode="append"
        )
    else:
        write_delta(
            spark, frame(rows), path, partition_col="grp",
            configuration={"delta.enableRowTracking": "true"},
        )
        enable_column_mapping(spark, path)
        version = 1
        if iceberg:
            # icebergCompatV2 on top (r13): the enable pass rewrites
            # every unstamped file, and check() then asserts EVERY op's
            # staged files carry complete parquet field ids
            from portfolio_data_pipelines_spark.operators.delta_alter import (
                enable_iceberg_compat,
            )

            version = enable_iceberg_compat(spark, path, version=2)
    if v2:
        tx = Txn(spark, path)
        version = tx.commit(
            "SET TBLPROPERTIES", {},
            [{"protocol": _upgraded_protocol_with(
                tx.st.protocol, {"v2Checkpoint"}
            )}],
        )
    rid: dict[int, int] = {}
    trace = [f"meta-seed={seed}", f"v2={v2}", "create(20)+colmap"]
    evolve_n = 0
    renames = 0
    defaults: dict[str, int] = {}  # col -> literal fill (r11 ops)

    def check():
        if id_mode:
            # no row tracking on the converted table: values + both
            # readers (every read here is a field-id resolution)
            df = read_delta(spark, path)
            got = {
                r["id"]: {
                    **{c: r[c] for c in ["grp"] + vcols},
                    **(
                        {"obj": r["obj"].asDict() if r["obj"] else None}
                        if nested else {}
                    ),
                }
                for r in df.collect()
            }
            t = " ".join(trace)
            assert got == rows, f"spark state diverged after {t}"
            names, ext_rows = read_delta_external(path)
            idx = {n: k for k, n in enumerate(names)}
            ext = {
                r[idx["id"]]: {
                    **{c: r[idx[c]] for c in ["grp"] + vcols},
                    **({"obj": r[idx["obj"]]} if nested else {}),
                }
                for r in ext_rows
            }
            assert ext == got, f"external reader diverged after {t}"
            return
        if iceberg:
            import os as _os

            import pyarrow.parquet as _pq

            from tests.delta_reader import (
                _replay,
            )

            import json as _json

            _root, _adds, _m = _replay(path, None)
            _phys = {
                (f.get("metadata") or {}).get(
                    "delta.columnMapping.physicalName", f["name"]
                )
                for f in _json.loads(_m["schemaString"])["fields"]
            }
            for _rel in _adds:
                _sch = _pq.read_schema(_os.path.join(_root, _rel))
                for _fl in _sch:
                    if _fl.name not in _phys:
                        # hidden rowTracking materialized columns carry
                        # no schema id — Iceberg projects only known
                        # ids, so unmapped extras are invisible to it
                        continue
                    assert (_fl.metadata or {}).get(
                        b"PARQUET:field_id"
                    ) is not None, (
                        f"unstamped file {_rel} field {_fl.name} after "
                        + " ".join(trace)
                    )
        df = read_delta(spark, path, row_ids=True)
        got = {
            r["id"]: (
                {c: r[c] for c in ["grp"] + vcols},
                r["_row_id"], r["_row_commit_version"],
            )
            for r in df.collect()
        }
        t = " ".join(trace)
        assert sorted(got) == sorted(rows), (
            f"spark key set diverged after {t}"
        )
        for i, (vals, r_id, r_cv) in got.items():
            assert vals == rows[i], f"spark values diverged at id={i}: {t}"
            assert r_id is not None and r_cv is not None, t
            if i in rid:
                assert rid[i] == r_id, (
                    f"row id MOVED for id={i} ({rid[i]} -> {r_id}): {t}"
                )
            else:
                rid[i] = r_id
        ids = [g[1] for g in got.values()]
        assert len(set(ids)) == len(ids), f"duplicate row ids: {t}"
        names, ext_rows = read_delta_external(path, row_ids=True)
        idx = {n: k for k, n in enumerate(names)}
        ext = {
            r[idx["id"]]: (
                {c: r[idx[c]] for c in ["grp"] + vcols},
                r[idx["_row_id"]], r[idx["_row_commit_version"]],
            )
            for r in ext_rows
        }
        assert ext == got, f"external reader diverged after {t}"

    def frame_omit(sub, omit):
        cols = [c for c in vcols if c != omit]
        schema = "id long, grp string, " + ", ".join(
            f"{c} long" for c in cols
        )
        if nested:
            schema += ", obj struct<a long, b string>"
        return spark.createDataFrame(
            [
                tuple(
                    [i, d["grp"]] + [d.get(c) for c in cols]
                    + ([(d["obj"]["a"], d["obj"]["b"])] if nested else [])
                )
                for i, d in sorted(sub.items())
            ],
            schema,
        ).coalesce(1)

    check()
    ops = [
        "append", "evolve", "rename", "drop", "delete", "update",
        "optimize", "checkpoint", "vacuum", "cleanup",
        "setdefault", "dropdefault", "append_omit", "merge_omit",
    ]
    for step in range(n_ops):
        op = rng.choice(ops)
        trace.append(f"{step}:{op}")
        if op == "append":
            fresh, next_id = _fresh_rows(rng, next_id, rng.randrange(2, 6))
            sub = {
                i: {"grp": g, **{c: v + k for k, c in enumerate(vcols)}}
                for i, (g, v) in fresh.items()
            }
            version = write_delta(
                spark, frame(stamp_obj(sub)), path, partition_col="grp"
            )
            rows.update(sub)
        elif op == "evolve":
            evolve_n += 1
            c = f"c{evolve_n}"
            vcols.append(c)
            fresh, next_id = _fresh_rows(rng, next_id, 2)
            sub = {
                i: {"grp": g, **{cc: v for cc in vcols}}
                for i, (g, v) in fresh.items()
            }
            # old rows read the new column as NULL
            for d in rows.values():
                d[c] = None
            version = write_delta(
                spark, frame(stamp_obj(sub)), path, partition_col="grp"
            )
            rows.update(sub)
        elif op == "rename":
            src = rng.choice(vcols)
            renames += 1
            dst = f"r{renames}"
            version = rename_column(spark, path, src, dst)
            vcols[vcols.index(src)] = dst
            if src in defaults:  # CURRENT_DEFAULT rides the field
                defaults[dst] = defaults.pop(src)
            for d in rows.values():
                d[dst] = d.pop(src)
        elif op == "drop":
            if len(vcols) < 2:
                trace[-1] += "(noop)"
                continue
            victim = rng.choice(vcols[1:])
            version = drop_column(spark, path, victim)
            vcols.remove(victim)
            defaults.pop(victim, None)
            for d in rows.values():
                d.pop(victim, None)
        elif op == "delete":
            v = delete_where(spark, path, "id % 5 = 1")
            doomed = [i for i in rows if i % 5 == 1]
            if v is None:
                assert not doomed, f"matched but no commit: {trace}"
                trace[-1] += "(noop)"
                continue
            version = v
            for i in doomed:
                del rows[i]
                rid.pop(i, None)
        elif op == "update":
            tgt = vcols[0]
            v = update_where(
                spark, path, "id % 4 = 2", {tgt: f"coalesce({tgt}, 0) + 7"}
            )
            hit = [i for i in rows if i % 4 == 2]
            if v is None:
                assert not hit, f"matched but no commit: {trace}"
                trace[-1] += "(noop)"
                continue
            version = v
            for i in hit:
                rows[i][tgt] = (rows[i][tgt] or 0) + 7
        elif op == "setdefault":
            col = rng.choice(vcols)
            lit = rng.randrange(100, 1000)
            version = set_column_default(spark, path, col, str(lit))
            defaults[col] = lit
            trace[-1] += f"({col}={lit})"
        elif op == "dropdefault":
            if not defaults:
                trace[-1] += "(noop)"
                continue
            col = rng.choice(sorted(defaults))
            version = drop_column_default(spark, path, col)
            del defaults[col]
            trace[-1] += f"({col})"
        elif op == "append_omit":
            if not defaults:
                trace[-1] += "(noop)"
                continue
            omit = rng.choice(sorted(defaults))
            fresh, next_id = _fresh_rows(rng, next_id, rng.randrange(2, 4))
            sub = {
                i: {"grp": g, **{c: v + k for k, c in enumerate(vcols)}}
                for i, (g, v) in fresh.items()
            }
            version = write_delta(
                spark, frame_omit(stamp_obj(sub), omit), path,
                partition_col="grp"
            )
            for d in sub.values():
                d[omit] = defaults[omit]  # fill-on-omit duty
            rows.update(sub)
            trace[-1] += f"(-{omit})"
        elif op == "merge_omit":
            # r12 MERGE-defaults repair: a source omitting a defaulted
            # column updates matched rows (which KEEP their stored
            # value for the omitted column) and inserts fresh rows
            # (which take the default)
            if not defaults:
                trace[-1] += "(noop)"
                continue
            from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta

            omit = rng.choice(sorted(defaults))
            hit = sorted(i for i in rows if i % 3 == 0)[:3]
            fresh, next_id = _fresh_rows(rng, next_id, rng.randrange(1, 3))
            src = {}
            for i in hit:
                src[i] = dict(rows[i])
                src[i][vcols[0]] = (src[i].get(vcols[0]) or 0) + 1000
            for i, (g, v) in fresh.items():
                src[i] = {"grp": g, **{c: v + k for k, c in
                                       enumerate(vcols)}}
            stamp_obj(src)
            cols_k = [c for c in vcols if c != omit]
            schema = ", ".join(
                ["id long", "grp string"]
                + [f"{c} long" for c in cols_k]
            )
            if nested:
                schema += ", obj struct<a long, b string>"
            frame_src = spark.createDataFrame(
                [
                    tuple(
                        [i, d["grp"]] + [d.get(c) for c in cols_k]
                        + ([(d["obj"]["a"], d["obj"]["b"])]
                           if nested else [])
                    )
                    for i, d in sorted(src.items())
                ],
                schema,
            ).coalesce(1)
            version = merge_delta(spark, path, frame_src, key_cols=["id"])
            for i in hit:
                kept = rows[i][omit]  # matched keeps the stored value
                rows[i] = {c: src[i].get(c) for c in ["grp"] + vcols}
                rows[i]["grp"] = src[i]["grp"]
                rows[i][omit] = kept
                if nested:
                    rows[i]["obj"] = src[i]["obj"]
            for i, (g, v) in fresh.items():
                d = {"grp": g, **{c: v + k for k, c in enumerate(vcols)}}
                d[omit] = defaults[omit]  # insert takes the default
                rows[i] = d
            stamp_obj({i: rows[i] for i in fresh})
            trace[-1] += f"(-{omit},hit={len(hit)})"
        elif op == "optimize":
            v = optimize_delta(spark, path)
            if v is None:
                trace[-1] += "(noop)"
                continue
            version = v
        elif op == "checkpoint":
            checkpoint_delta(spark, path, version)
            trace[-1] += f"@{version}"
        elif op == "vacuum":
            vacuum_delta(spark, path, retain_hours=168, now_ms=10**18)
        elif op == "cleanup":
            checkpoint_delta(spark, path, version)
            cleanup_log(spark, path, retain_hours=1, now_ms=10**18)
        check()
    check()


def test_lifecycle_fuzz_metadata_seed_11(spark, tmp_path):
    _walk_metadata(spark, tmp_path, seed=11, n_ops=12)


def test_lifecycle_fuzz_metadata_seed_77(spark, tmp_path):
    _walk_metadata(spark, tmp_path, seed=77, n_ops=12)


def test_lifecycle_fuzz_metadata_v2_seed_5(spark, tmp_path):
    _walk_metadata(spark, tmp_path, seed=5, n_ops=10, v2=True)


def test_lifecycle_fuzz_metadata_id_mode_seed_21(spark, tmp_path):
    _walk_metadata(spark, tmp_path, seed=21, n_ops=12, id_mode=True)


def test_lifecycle_fuzz_metadata_id_mode_seed_88(spark, tmp_path):
    _walk_metadata(spark, tmp_path, seed=88, n_ops=12, id_mode=True)


def test_lifecycle_fuzz_metadata_id_mode_nested_seed_5(spark, tmp_path):
    _walk_metadata(
        spark, tmp_path, seed=5, n_ops=12, id_mode=True, nested=True
    )


def test_lifecycle_fuzz_metadata_id_mode_nested_seed_31(spark, tmp_path):
    _walk_metadata(
        spark, tmp_path, seed=31, n_ops=12, id_mode=True, nested=True
    )


def _walk_identity_generated(spark, tmp_path, seed, n_ops):
    """The same three-way discipline on an IDENTITY + GENERATED table
    (VERDICT r9 next #3's last clause): appends allocate dense
    surrogate keys past the high-water mark (modeled exactly — batches
    are single-partition so allocation order is the frame order),
    the generated column is recomputed/validated on every path, and
    deletes/updates/optimize/checkpoint/vacuum interleave."""
    from portfolio_data_pipelines_spark.operators.delta_maintain import vacuum_delta

    rng = random.Random(seed)
    path = str(tmp_path / f"fuzz_idgen_{seed}")
    # rows: id -> (grp, val); sk model: id -> expected identity value
    model, next_id = _fresh_rows(rng, 0, 12)
    sk_model: dict[int, int] = {}
    hwm = [None]  # last allocated value

    def alloc(ids):
        for i in ids:  # frame order == sorted(ids) (single partition)
            nxt = 7 if hwm[0] is None else hwm[0] + 3
            sk_model[i] = nxt
            hwm[0] = nxt

    write_delta(
        spark, _frame(spark, model), path, partition_col="grp",
        identity_cols={"sk": {"start": 7, "step": 3}},
        generated_cols={"dbl": "val * 2"},
    )
    alloc(sorted(model))
    version = 0
    trace = [f"idgen-seed={seed}", "create(12)"]

    def check():
        t = " ".join(trace)
        got = {
            r["id"]: (r["grp"], r["val"], r["sk"], r["dbl"])
            for r in read_delta(spark, path).collect()
        }
        want = {
            i: (g, v, sk_model[i], v * 2) for i, (g, v) in model.items()
        }
        assert got == want, f"spark diverged after {t}"
        names, ext_rows = read_delta_external(path)
        idx = {n: k for k, n in enumerate(names)}
        ext = {
            r[idx["id"]]: (
                r[idx["grp"]], r[idx["val"]], r[idx["sk"]], r[idx["dbl"]]
            )
            for r in ext_rows
        }
        assert ext == want, f"external reader diverged after {t}"

    check()
    ops = [
        "append", "delete", "update", "merge",
        "optimize", "checkpoint", "vacuum",
    ]
    for step in range(n_ops):
        op = rng.choice(ops)
        trace.append(f"{step}:{op}")
        if op == "append":
            fresh, next_id = _fresh_rows(rng, next_id, rng.randrange(2, 5))
            version = write_delta(
                spark, _frame(spark, fresh), path, partition_col="grp"
            )
            model.update(fresh)
            alloc(sorted(fresh))
        elif op == "merge":
            # r12: MERGE with the identity column OMITTED — matched
            # rows must KEEP their allocated sk, insert rows allocate
            # past the mark (fresh ids sort AFTER existing ones, so
            # frame order == alloc order)
            hit = sorted(i for i in model if i % 4 == 1)[:3]
            fresh, next_id = _fresh_rows(rng, next_id, rng.randrange(1, 3))
            src = {i: (model[i][0], model[i][1] + 100) for i in hit}
            src.update(fresh)
            version = merge_delta(
                spark, _frame(spark, src), path, key_cols=["id"]
            )
            for i in hit:
                model[i] = (model[i][0], model[i][1] + 100)
            model.update(fresh)
            alloc(sorted(fresh))
        elif op == "delete":
            v = delete_where(spark, path, "id % 6 = 2")
            doomed = [i for i in model if i % 6 == 2]
            if v is None:
                assert not doomed, trace
                trace[-1] += "(noop)"
                continue
            version = v
            for i in doomed:
                del model[i]
                del sk_model[i]
        elif op == "update":
            # updating val must RECOMPUTE the generated column
            v = update_where(spark, path, "id % 5 = 3", {"val": "val + 9"})
            hit = [i for i in model if i % 5 == 3]
            if v is None:
                assert not hit, trace
                trace[-1] += "(noop)"
                continue
            version = v
            for i in hit:
                model[i] = (model[i][0], model[i][1] + 9)
        elif op == "optimize":
            v = optimize_delta(spark, path)
            if v is None:
                trace[-1] += "(noop)"
                continue
            version = v
        elif op == "checkpoint":
            checkpoint_delta(spark, path, version)
            trace[-1] += f"@{version}"
        elif op == "vacuum":
            vacuum_delta(spark, path, retain_hours=168, now_ms=10**18)
        check()
    check()


def test_lifecycle_fuzz_identity_generated_seed_13(spark, tmp_path):
    _walk_identity_generated(spark, tmp_path, seed=13, n_ops=12)


def _walk_variant(spark, tmp_path, seed, n_ops):
    """Variant-surface walk (r12): a table with a VARIANT column takes
    appends that alternate between PLAIN-pair, scalar-SHREDDED and
    object-SHREDDED staging (legal per-file mix per VariantShredding.md),
    interleaved with MERGE rewrites, DELETEs, OPTIMIZE and checkpoints —
    after every commit the model, Spark's read and the independent
    external reader must agree on the decoded logical values."""
    import json as _json

    from portfolio_data_pipelines_spark.operators.delta_maintain import vacuum_delta

    rng = random.Random(seed)
    path = str(tmp_path / f"fuzz_var_{seed}")
    next_id = [0]
    # model: id -> decoded python value of v (or None)
    model: dict[int, object] = {}

    def mk_payload(i):
        kind = rng.randrange(5)
        if kind == 0:
            return i * 3  # scalar long
        if kind == 1:
            return f"s{i}"  # scalar string
        if kind == 2:
            return {"a": i, "b": f"x{i}"}  # object, a shreds
        if kind == 3:
            return {"b": True}  # object, a absent
        return None  # JSON-null-ish: model as SQL NULL variant

    def frame(rows):
        items = sorted(rows.items())
        return spark.createDataFrame(
            [(i, _json.dumps(v) if v is not None else None)
             for i, v in items],
            "id long, payload string",
        ).select(
            "id", F.parse_json(F.col("payload")).alias("v")
        ).coalesce(1)

    def fresh(n):
        rows = {}
        for _ in range(n):
            rows[next_id[0]] = mk_payload(next_id[0])
            next_id[0] += 1
        return rows

    shreds = [None, {"v": "long"}, {"v": {"a": "long"}}]
    first = fresh(8)
    write_delta(spark, frame(first), path, shred_variants={"v": "long"})
    model.update(first)
    version = 0
    trace = [f"var-seed={seed}", "create(8,shred=long)"]

    def check():
        t = " ".join(trace)
        got = {
            r["id"]: (None if r["v"] is None else r["v"].toPython())
            for r in read_delta(spark, path).collect()
        }
        assert got == model, f"spark diverged after {t}"
        names, rows = read_delta_external(path)
        idx = {n: k for k, n in enumerate(names)}
        ext = {r[idx["id"]]: r[idx["v"]] for r in rows}
        assert ext == model, f"external reader diverged after {t}"

    check()
    ops = ["append", "merge", "delete", "optimize", "checkpoint", "vacuum"]
    for step in range(n_ops):
        op = rng.choice(ops)
        trace.append(f"{step}:{op}")
        if op == "append":
            shred = rng.choice(shreds)
            rows = fresh(rng.randrange(2, 5))
            version = write_delta(
                spark, frame(rows), path, mode="append",
                shred_variants=shred,
            )
            model.update(rows)
            trace[-1] += f"(shred={shred and sorted(shred.values())})"
        elif op == "merge":
            hit = sorted(i for i in model if i % 4 == 1)[:3]
            src = {i: mk_payload(i + 7000) for i in hit}
            src.update(fresh(2))
            version = merge_delta(
                spark, path, frame(src), key_cols=["id"]
            )
            model.update(src)
        elif op == "delete":
            v = delete_where(spark, path, "id % 6 = 2")
            doomed = [i for i in model if i % 6 == 2]
            if v is None:
                assert not doomed, trace
                trace[-1] += "(noop)"
                continue
            version = v
            for i in doomed:
                del model[i]
        elif op == "optimize":
            v = optimize_delta(spark, path)
            if v is None:
                trace[-1] += "(noop)"
                continue
            version = v
        elif op == "checkpoint":
            checkpoint_delta(spark, path, version)
            trace[-1] += f"@{version}"
        elif op == "vacuum":
            vacuum_delta(spark, path, retain_hours=168, now_ms=10**18)
        check()
    check()


def test_lifecycle_fuzz_variant_seed_3(spark, tmp_path):
    _walk_variant(spark, tmp_path, seed=3, n_ops=10)


def test_lifecycle_fuzz_variant_seed_19(spark, tmp_path):
    _walk_variant(spark, tmp_path, seed=19, n_ops=10)


def _walk_folded_merge(spark, tmp_path, seed, n_ops):
    """Folded-key walk (r13, VERDICT r12 #10): a UTF8_LCASE-keyed table
    under a seeded op walk whose MERGE / DELETE / UPDATE sources spell
    every key in RANDOM case — each op must fold onto the stored
    spelling (row identity is the folded key), and after every commit
    the model, Spark's read and the external reader's raw rows must
    agree on (stored spelling, value) per folded key. Keys are ASCII
    so Python's lower() provably equals Spark's UTF8_LCASE fold."""
    from pyspark.sql.types import LongType, StringType, StructField
    from pyspark.sql.types import StructType as ST

    from portfolio_data_pipelines_spark.operators.delta_log import (
        update_where,
    )

    rng = random.Random(seed)
    path = str(tmp_path / f"fuzz_fold_{seed}")
    st = ST([
        StructField("key", StringType("UTF8_LCASE")),
        StructField("val", LongType()),
    ])
    next_key = [0]
    # model: folded key -> (stored spelling, val)
    model: dict[str, tuple] = {}

    def recase(base):
        return "".join(
            c.upper() if rng.randrange(2) else c for c in base
        )

    def fresh(n):
        out = {}
        for _ in range(n):
            base = f"key{next_key[0]:04d}x"
            next_key[0] += 1
            sp = recase(base)
            out[base] = (sp, rng.randrange(1000))
        return out

    def frame(sub):
        return spark.createDataFrame(
            [(sp, v) for _b, (sp, v) in sorted(sub.items())], st
        ).coalesce(1)

    first = fresh(12)
    write_delta(spark, frame(first), path)
    model.update(first)
    version = 0
    trace = [f"fold-seed={seed}", "create(12)"]

    def check():
        t = " ".join(trace)
        got = {
            r["key"].lower(): (r["key"], r["val"])
            for r in read_delta(spark, path).collect()
        }
        assert got == model, f"spark diverged after {t}"
        names, rows = read_delta_external(path)
        idx = {n: k for k, n in enumerate(names)}
        ext = {
            r[idx["key"]].lower(): (r[idx["key"]], r[idx["val"]])
            for r in rows
        }
        assert ext == model, f"external reader diverged after {t}"

    check()
    ops = ["append", "merge", "delete", "update", "optimize", "checkpoint"]
    for step in range(n_ops):
        op = rng.choice(ops)
        trace.append(f"{step}:{op}")
        if op == "append":
            sub = fresh(rng.randrange(2, 5))
            version = write_delta(spark, frame(sub), path, mode="append")
            model.update(sub)
        elif op == "merge":
            # matched rows: RE-CASED spellings of existing folded keys —
            # the fold must match them, and the stored spelling becomes
            # the source's (MERGE updates every column)
            hit = sorted(model)[: rng.randrange(1, 4)]
            src = {
                b: (recase(b), model[b][1] + 1000) for b in hit
            }
            src.update(fresh(rng.randrange(1, 3)))
            version = merge_delta(
                spark, path, frame(src), key_cols=["key"]
            )
            model.update(src)
        elif op == "delete":
            if len(model) < 2:
                trace[-1] += "(noop)"
                continue
            victim = sorted(model)[rng.randrange(len(model))]
            sp = recase(victim)  # random-case predicate must fold
            v = delete_where(spark, path, f"key = '{sp}'")
            assert v is not None, f"fold-delete missed {sp}: {trace}"
            version = v
            del model[victim]
            trace[-1] += f"({sp})"
        elif op == "update":
            if not model:
                trace[-1] += "(noop)"
                continue
            victim = sorted(model)[rng.randrange(len(model))]
            sp = recase(victim)
            v = update_where(
                spark, path, f"key = '{sp}'", {"val": "val + 7"}
            )
            assert v is not None, f"fold-update missed {sp}: {trace}"
            version = v
            stored_sp, val = model[victim]
            model[victim] = (stored_sp, val + 7)
            trace[-1] += f"({sp})"
        elif op == "optimize":
            v = optimize_delta(spark, path)
            if v is None:
                trace[-1] += "(noop)"
                continue
            version = v
        elif op == "checkpoint":
            checkpoint_delta(spark, path, version)
            trace[-1] += f"@{version}"
        check()
    check()


def test_lifecycle_fuzz_folded_merge_seed_9(spark, tmp_path):
    _walk_folded_merge(spark, tmp_path, seed=9, n_ops=12)


def test_lifecycle_fuzz_folded_merge_seed_47(spark, tmp_path):
    _walk_folded_merge(spark, tmp_path, seed=47, n_ops=12)


def test_lifecycle_fuzz_metadata_iceberg_seed_17(spark, tmp_path):
    _walk_metadata(spark, tmp_path, seed=17, n_ops=12, iceberg=True)


def test_lifecycle_fuzz_metadata_iceberg_seed_61(spark, tmp_path):
    _walk_metadata(spark, tmp_path, seed=61, n_ops=12, iceberg=True)


def _walk_composed(spark, tmp_path, seed, n_ops):
    """r14 composed walk (VERDICT r13 #8): the r13 features fuzzed
    TOGETHER on one foreign table — icebergCompatV2 duties + id-mode
    column mapping + a nested struct + a UTF8_LCASE-collated MERGE key
    + a shredded VARIANT column. Every commit must satisfy every
    feature's duty simultaneously; after each op the model, the native
    reader, and the independent external reader must agree, and every
    live file must carry complete parquet field ids (the compat duty)."""
    import json as _json
    import os as _os

    import pyarrow.parquet as _pq

    from portfolio_data_pipelines_spark.operators.delta_checkpoint import (
        checkpoint_delta,
    )
    from portfolio_data_pipelines_spark.operators.delta_log import update_where
    from portfolio_data_pipelines_spark.operators.delta_maintain import optimize_delta
    from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
    from tests.delta_reader import _replay

    rng = random.Random(seed)
    path = str(tmp_path / f"fuzz_comp_{seed}")
    _os.makedirs(f"{path}/_delta_log")
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "ice_id"}},
        {"name": "k", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "ice_k",
                      "__COLLATIONS": {"k": "spark.UTF8_LCASE"}}},
        {"name": "obj", "nullable": True,
         "type": {"type": "struct", "fields": [
             {"name": "a", "type": "long", "nullable": True,
              "metadata": {"delta.columnMapping.id": 4,
                           "delta.columnMapping.physicalName": "ice_a"}},
             {"name": "b", "type": "string", "nullable": True,
              "metadata": {"delta.columnMapping.id": 5,
                           "delta.columnMapping.physicalName": "ice_b"}},
         ]},
         "metadata": {"delta.columnMapping.id": 3,
                      "delta.columnMapping.physicalName": "ice_obj"}},
        {"name": "v", "type": "variant", "nullable": True,
         "metadata": {"delta.columnMapping.id": 6,
                      "delta.columnMapping.physicalName": "ice_v"}},
        # r14: struct below an array UNDER icebergCompat — the repeated
        # node declares its id via parquet.field.nested.ids (the compat
        # duty) and the inner struct fields carry their own mapping ids
        {"name": "items", "nullable": True,
         "type": {"type": "array", "containsNull": True,
                  "elementType": {"type": "struct", "fields": [
                      {"name": "x", "type": "long", "nullable": True,
                       "metadata": {"delta.columnMapping.id": 8,
                                    "delta.columnMapping.physicalName":
                                        "ice_x"}}]}},
         "metadata": {"delta.columnMapping.id": 7,
                      "delta.columnMapping.physicalName": "ice_items",
                      "parquet.field.nested.ids": {
                          "ice_items.element": 9}}},
    ]
    with open(f"{path}/_delta_log/{0:020d}.json", "w") as f:
        for a in [
            {"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": [
                    "columnMapping", "variantType", "variantShredding",
                    "collations-preview",
                ],
                "writerFeatures": [
                    "columnMapping", "icebergCompatV2", "variantType",
                    "variantShredding", "collations-preview",
                ],
            }},
            {"metaData": {
                "id": f"fuzz-comp-{seed}",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(
                    {"type": "struct", "fields": fields}),
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "id",
                    "delta.columnMapping.maxColumnId": "9",
                    "delta.enableIcebergCompatV2": "true",
                    "delta.enableVariantShredding": "true",
                },
                "createdTime": 0}},
        ]:
            f.write(_json.dumps(a) + "\n")

    # model: id -> {"k": stored spelling, "a": long, "b": str, "v": val}
    rows: dict[int, dict] = {}
    next_id = 0
    trace = [f"comp-seed={seed}", "create(empty foreign)"]

    def frame(sub):
        return spark.createDataFrame(
            [
                (i, d["k"], (d["a"], d["b"]), str(d["v"]), d["items"])
                for i, d in sorted(sub.items())
            ],
            "id long, k string, obj struct<a long, b string>, vj string,"
            " items array<struct<x long>>",
        ).select(
            "id", "k", "obj", F.parse_json("vj").alias("v"), "items"
        ).coalesce(1)

    def fresh(n):
        nonlocal next_id
        out = {}
        for _ in range(n):
            i = next_id
            next_id += 1
            case_upper = rng.random() < 0.5
            k = f"K{i}" if case_upper else f"k{i}"
            out[i] = {"k": k, "a": i * 10, "b": f"s{i}", "v": i,
                      "items": [(i,), (i + 1,)]}
        return out

    def check():
        t = " ".join(trace)
        got = {
            r["id"]: {
                "k": r["k"],
                "a": r["obj"]["a"] if r["obj"] else None,
                "b": r["obj"]["b"] if r["obj"] else None,
                "v": r["v"].toPython() if r["v"] is not None else None,
                "items": [tuple(e) for e in (r["items"] or [])],
            }
            for r in read_delta(spark, path).collect()
        }
        want = {
            i: {"k": d["k"], "a": d["a"], "b": d["b"], "v": d["v"],
                "items": [tuple(e) for e in d["items"]]}
            for i, d in rows.items()
        }
        assert got == want, f"spark diverged after {t}"
        names, ext_rows = read_delta_external(path)
        idx = {n: j for j, n in enumerate(names)}
        ext = {
            r[idx["id"]]: {
                "k": r[idx["k"]],
                "a": (r[idx["obj"]] or {}).get("a"),
                "b": (r[idx["obj"]] or {}).get("b"),
                "v": r[idx["v"]],
                "items": [tuple(e.values()) for e in (r[idx["items"]] or [])],
            }
            for r in ext_rows
        }
        assert ext == want, f"external reader diverged after {t}"
        # icebergCompat duty: every live file id-stamped on every
        # schema-mapped top-level field
        _root, _adds, _m = _replay(path, None)
        phys = {"ice_id", "ice_k", "ice_obj", "ice_v", "ice_items"}
        import pyarrow.types as pat

        for _rel in _adds:
            sch = _pq.read_schema(_os.path.join(_root, _rel))
            for fl in sch:
                if fl.name in phys:
                    assert (fl.metadata or {}).get(
                        b"PARQUET:field_id"
                    ) is not None, f"unstamped {_rel}:{fl.name} after {t}"
                if fl.name == "ice_items" and pat.is_list(fl.type):
                    # the r14 duty: the list ELEMENT node is id-stamped
                    assert (fl.type.value_field.metadata or {}).get(
                        b"PARQUET:field_id"
                    ) == b"9", f"element unstamped {_rel} after {t}"

    seeded = fresh(6)
    write_delta(spark, frame(seeded), path, mode="append")
    rows.update(seeded)
    trace.append("seed-append(6)")
    check()

    ops = ["append", "shred_append", "merge_fold", "update", "delete",
           "optimize", "checkpoint"]
    version = 1
    for step in range(n_ops):
        op = rng.choice(ops)
        trace.append(f"{step}:{op}")
        if op in ("append", "shred_append"):
            sub = fresh(rng.randrange(2, 5))
            version = write_delta(
                spark, frame(sub), path, mode="append",
                shred_variants={"v": "long"} if op == "shred_append"
                else None,
            )
            rows.update(sub)
        elif op == "merge_fold":
            # source spells every key with the OPPOSITE case — the
            # matched branch exists only if the key join folds
            if not rows:
                trace[-1] += "(noop)"
                continue
            picks = sorted(rng.sample(sorted(rows), min(2, len(rows))))
            sub = {}
            for i in picks:
                d = rows[i]
                flipped = d["k"].swapcase()
                sub[i] = {"k": flipped, "a": d["a"] + 1,
                          "b": d["b"] + "!", "v": d["v"] if not
                          isinstance(d["v"], int) else d["v"] + 100,
                          "items": [(x[0] + 1,) for x in d["items"]]}
            new = fresh(1)
            sub.update(new)
            version = merge_delta(spark, path, frame(sub), key_cols=["k"])
            rows.update(sub)
        elif op == "update":
            matched = [i for i in rows if i % 4 == 2]
            v = update_where(
                spark, path, "id % 4 = 2",
                {"obj": "named_struct('a', obj.a + 7, 'b', obj.b)"},
            )
            if v is None:
                assert not matched, trace
                trace[-1] += "(noop)"
                continue
            version = v
            for i in matched:
                rows[i]["a"] += 7
        elif op == "delete":
            matched = [i for i in rows if i % 5 == 1]
            v = delete_where(spark, path, "id % 5 = 1")
            if v is None:
                assert not matched, trace
                trace[-1] += "(noop)"
                continue
            version = v
            for i in matched:
                del rows[i]
        elif op == "optimize":
            v = optimize_delta(spark, path)
            if v is None:
                trace[-1] += "(noop)"
                continue
            version = v
        elif op == "checkpoint":
            checkpoint_delta(spark, path, version)
        check()


def test_lifecycle_fuzz_composed_seed_8(spark, tmp_path):
    _walk_composed(spark, tmp_path, seed=8, n_ops=10)


def test_lifecycle_fuzz_composed_seed_23(spark, tmp_path):
    _walk_composed(spark, tmp_path, seed=23, n_ops=10)


def _walk_composed_rt(spark, tmp_path, seed, n_ops):
    """r15 composed walk (VERDICT r14 #6): the OTHER writer-feature
    cluster — the one icebergCompat forbids mixing with — fuzzed
    together on ONE table: rowTracking + identity column + column
    default + generated column + CDF, from creation. Every commit must
    satisfy every feature's duty simultaneously:

    - the generated column tracks its expression through appends
      (omitted AND provided), MERGE and UPDATE;
    - the default fills omitted appends and insert-branch MERGE rows;
    - identity values are allocated once, never reused, and survive
      matched MERGE / UPDATE / OPTIMIZE / RESTORE;
    - materialized row ids stay stable per surviving row through every
      rewrite (and resurrect unchanged through RESTORE);
    - a replica maintained purely from read_delta_cdf +
      apply_changes_delta converges to the model after every commit;
    - the independent external reader agrees with the native one.
    """
    from portfolio_data_pipelines_spark.operators.delta_cdf import read_delta_cdf
    from portfolio_data_pipelines_spark.operators.delta_checkpoint import (
        checkpoint_delta,
    )
    from portfolio_data_pipelines_spark.operators.delta_log import update_where
    from portfolio_data_pipelines_spark.operators.delta_maintain import optimize_delta
    from portfolio_data_pipelines_spark.operators.delta_merge import (
        apply_changes_delta,
        merge_delta,
    )

    rng = random.Random(seed)
    path = str(tmp_path / f"fuzz_rt_{seed}")
    rep = str(tmp_path / f"fuzz_rt_rep_{seed}")

    # model: id -> (v, src); dbl is ALWAYS v*2 (generated), rid/row_id
    # are engine-allocated and tracked via expectation dicts that are
    # never pruned (RESTORE must resurrect the original values)
    model: dict[int, tuple[int, str]] = {}
    next_id = 0
    rid_expect: dict[int, int] = {}
    rowid_expect: dict[int, int] = {}
    seen_rids: set[int] = set()
    seen_rowids: set[int] = set()
    trace = [f"rt-seed={seed}"]

    def frame(sub, omit_src=False, with_dbl=False):
        cols = "id long, v long" + ("" if omit_src else ", src string") + (
            ", dbl long" if with_dbl else ""
        )
        rows = []
        for i, (v, src) in sorted(sub.items()):
            r = [i, v]
            if not omit_src:
                r.append(src)
            if with_dbl:
                r.append(v * 2)
            rows.append(tuple(r))
        return spark.createDataFrame(rows, cols).coalesce(1)

    def fresh(n, src=None):
        nonlocal next_id
        out = {}
        for _ in range(n):
            i = next_id
            next_id += 1
            out[i] = (i * 10, src if src is not None else "web")
        return out

    seeded = fresh(6)
    # the creation batch must carry the default column (its declared
    # type comes from the frame); later appends may omit it
    write_delta(
        spark, frame(seeded), path,
        generated_cols={"dbl": "v * 2"},
        identity_cols={"rid": {"start": 1, "step": 1}},
        default_cols={"src": "'web'"},
        configuration={
            "delta.enableRowTracking": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    model.update(seeded)
    trace.append("create(6)")
    write_delta(  # empty replica, plain shape
        spark,
        spark.createDataFrame([], "id long, v long, src string, dbl long, rid long"),
        rep,
    )
    version = 0
    applied = -1
    snapshots = {0: dict(model)}

    def check():
        t = " ".join(trace)
        got = {}
        for r in read_delta(spark, path, row_ids=True).collect():
            assert r["dbl"] == r["v"] * 2, f"generated drift after {t}"
            got[r["id"]] = (r["v"], r["src"], r["rid"], r["_row_id"])
        assert {i: (v, s) for i, (v, s, _r, _w) in got.items()} == {
            i: vs for i, vs in model.items()
        }, f"value state diverged after {t}"
        rids = [g[2] for g in got.values()]
        rowids = [g[3] for g in got.values()]
        assert len(set(rids)) == len(rids), f"duplicate rid after {t}"
        assert len(set(rowids)) == len(rowids), f"duplicate row id after {t}"
        for i, (_v, _s, rid, rowid) in got.items():
            if i in rid_expect:
                assert rid_expect[i] == rid, f"rid of {i} moved after {t}"
            else:
                assert rid not in seen_rids, f"rid {rid} reused after {t}"
                rid_expect[i] = rid
            if i in rowid_expect:
                assert rowid_expect[i] == rowid, (
                    f"row id of {i} moved after {t}"
                )
            else:
                assert rowid not in seen_rowids, (
                    f"row id {rowid} reused after {t}"
                )
                rowid_expect[i] = rowid
            seen_rids.add(rid)
            seen_rowids.add(rowid)
        # the independent reader agrees on the full surface
        names, ext_rows = read_delta_external(path, row_ids=True)
        idx = {n: j for j, n in enumerate(names)}
        ext = {
            r[idx["id"]]: (r[idx["v"]], r[idx["src"]], r[idx["rid"]],
                           r[idx["_row_id"]])
            for r in ext_rows
        }
        assert ext == got, f"external reader diverged after {t}"

    def sync():
        nonlocal applied
        changes = read_delta_cdf(
            spark, path, applied, key_cols=["id"], to_version=version
        )
        apply_changes_delta(spark, rep, changes, key_cols=["id"])
        applied = version
        got = sorted(
            (r["id"], r["v"], r["src"], r["dbl"])
            for r in read_delta(spark, rep).collect()
        )
        want = sorted((i, v, s, v * 2) for i, (v, s) in model.items())
        assert got == want, f"CDF replica diverged after {' '.join(trace)}"

    check()
    sync()
    ops = ["append_omit", "append_full", "merge", "update", "delete",
           "delete_dv", "optimize", "restore", "checkpoint"]
    for step in range(n_ops):
        op = rng.choice(ops)
        trace.append(f"{step}:{op}")
        if op == "append_omit":
            sub = fresh(rng.randrange(2, 5))
            version = write_delta(spark, frame(sub, omit_src=True), path,
                                  mode="append")
            model.update(sub)
        elif op == "append_full":
            # provides src AND the generated column (must match its expr)
            sub = fresh(rng.randrange(2, 4), src="app")
            version = write_delta(spark, frame(sub, with_dbl=True), path,
                                  mode="append")
            model.update(sub)
        elif op == "merge":
            upd = {
                i: (model[i][0] + 1000, model[i][1])
                for i in rng.sample(sorted(model), min(3, len(model)))
            }
            ins = fresh(2, src="merge")
            src = {**upd, **ins}
            version = merge_delta(spark, path, frame(src), key_cols=["id"])
            model.update(src)
        elif op == "update":
            matched = [i for i in model if i % 6 == 3]
            v = update_where(spark, path, "id % 6 = 3", {"v": "v + 7"})
            if v is None:
                assert not matched, trace
                trace[-1] += "(noop)"
                continue
            version = v
            for i in matched:
                model[i] = (model[i][0] + 7, model[i][1])
        elif op in ("delete", "delete_dv"):
            k, r = rng.choice([(5, 1), (7, 2)])
            fn = delete_where if op == "delete" else delete_where_dv
            v = fn(spark, path, f"id % {k} = {r}")
            if v is None:
                trace[-1] += "(noop)"
                continue
            version = v
            for i in [i for i in model if i % k == r]:
                del model[i]
        elif op == "optimize":
            v = optimize_delta(spark, path)
            if v is None:
                trace[-1] += "(noop)"
                continue
            version = v
        elif op == "restore":
            candidates = [v for v in snapshots if v < version]
            if not candidates:
                trace[-1] += "(noop)"
                continue
            target = rng.choice(candidates)
            version = restore_delta(spark, path, target, cdf_key_cols=["id"])
            model = dict(snapshots[target])
            trace[-1] += f"->{target}"
        elif op == "checkpoint":
            checkpoint_delta(spark, path, version)
        snapshots[version] = dict(model)
        check()
        sync()


def test_lifecycle_fuzz_composed_rt_seed_4(spark, tmp_path):
    _walk_composed_rt(spark, tmp_path, seed=4, n_ops=10)


def test_lifecycle_fuzz_composed_rt_seed_57(spark, tmp_path):
    _walk_composed_rt(spark, tmp_path, seed=57, n_ops=10)

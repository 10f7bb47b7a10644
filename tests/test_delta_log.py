"""Delta Lake wire-format tests: the transaction log written by
``operators/delta_log.py`` must conform to the open Delta protocol
(NDJSON actions, 20-digit commit names, relative add paths, partition
values in metadata not files, parquet checkpoints + _last_checkpoint)
and replay to exactly the committed data at every version."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.operators.delta_checkpoint import (
    DELTA_CHECKPOINT_EVERY,
    checkpoint_delta,
)
from portfolio_data_pipelines_spark.operators.delta_log import write_delta
from portfolio_data_pipelines_spark.operators.delta_maintain import (
    optimize_delta,
    vacuum_delta,
)
from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta


def _df(spark, rows, schema="id bigint, v double, date date"):
    return spark.createDataFrame(rows, schema)


def _rows(spark, df):
    return sorted(tuple(r) for r in df.collect())


def _day(s):
    import datetime

    return datetime.date.fromisoformat(s)


class TestWriteRead:
    def test_unpartitioned_append_roundtrip(self, spark, tmp_path):
        path = str(tmp_path / "t0")
        d1 = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, s string")
        d2 = spark.createDataFrame([(3, "c")], "id bigint, s string")
        assert write_delta(spark, d1, path) == 0
        assert write_delta(spark, d2, path) == 1
        got = read_delta(spark, path)
        assert _rows(spark, got) == [(1, "a"), (2, "b"), (3, "c")]
        assert got.columns == ["id", "s"]

    def test_partitioned_append_overwrite_time_travel(self, spark, tmp_path):
        path = str(tmp_path / "t1")
        d0 = _df(spark, [(1, 1.0, _day("2021-01-01")), (2, 2.0, _day("2021-01-02"))])
        d1 = _df(spark, [(3, 3.0, _day("2021-01-02"))])
        d2 = _df(spark, [(9, 9.0, _day("2021-02-01"))])
        write_delta(spark, d0, path, partition_col="date")
        write_delta(spark, d1, path, partition_col="date")
        write_delta(spark, d2, path, partition_col="date", mode="overwrite")
        # latest: only the overwrite survives
        assert _rows(spark, read_delta(spark, path)) == [(9, 9.0, _day("2021-02-01"))]
        # pinned versions replay the pre-overwrite states (files kept)
        assert _rows(spark, read_delta(spark, path, version=0)) == _rows(spark, d0)
        assert _rows(spark, read_delta(spark, path, version=1)) == _rows(
            spark, d0.unionByName(d1)
        )
        # partition column is restored from partitionValues with its type
        got = read_delta(spark, path, version=1)
        assert dict(got.dtypes)["date"] == "date"
        # and the data files themselves do NOT contain the partition col
        files = [
            str(p)
            for p in (tmp_path / "t1").rglob("*.parquet")
            if "_delta_log" not in str(p)
        ]
        raw = spark.read.parquet(files[0])
        assert "date" not in raw.columns

    def test_partition_pruning_survives_restored_column(self, spark, tmp_path):
        path = str(tmp_path / "t_prune")
        d0 = _df(spark, [(i, float(i), _day(f"2021-01-{1 + i % 3:02d}")) for i in range(30)])
        write_delta(spark, d0, path, partition_col="date")
        got = read_delta(spark, path).filter(F.col("date") == "2021-01-02")
        assert got.count() == 10

    def test_optimized_write_without_aqe_one_file_per_value(self, spark, tmp_path):
        """The staged write concentrates each partition value's rows in
        one writer. The rebalance hint does that only under AQE, so a
        session with AQE off must still stage one file per value from a
        4-partition input, not up to four."""
        from collections import Counter

        from portfolio_data_pipelines_spark.operators.delta_log import _replay_log

        path = str(tmp_path / "t_no_aqe")
        days = [f"2021-01-{d:02d}" for d in (1, 2, 3)]
        d0 = _df(
            spark, [(i, float(i), _day(days[i % 3])) for i in range(40)]
        ).repartition(4)
        assert d0.rdd.getNumPartitions() == 4
        prev = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            write_delta(spark, d0, path, partition_col="date")
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)
        adds = _replay_log(spark, path, None).adds
        per_value = Counter(a["partitionValues"]["date"] for a in adds.values())
        assert per_value == {d: 1 for d in days}
        assert read_delta(spark, path).count() == 40


class TestSchemaEvolution:
    def test_additive_evolution_emits_metadata_and_widens(self, spark, tmp_path):
        path = str(tmp_path / "t_evo")
        d0 = spark.createDataFrame([(1, "a")], "id bigint, s string")
        d1 = spark.createDataFrame(
            [(2, "b", 9.5)], "id bigint, s string, score double"
        )
        write_delta(spark, d0, path)
        write_delta(spark, d1, path)
        got = read_delta(spark, path)
        assert got.columns == ["id", "s", "score"]
        rows = {r["id"]: r for r in got.collect()}
        assert rows[1]["score"] is None and rows[2]["score"] == 9.5
        # pinned pre-evolution version keeps the narrow schema
        assert read_delta(spark, path, version=0).columns == ["id", "s"]
        # the evolution commit carries a metaData action with the SAME id
        log = tmp_path / "t_evo" / "_delta_log"
        v0 = [json.loads(x) for x in (log / f"{0:020d}.json").read_text().splitlines()]
        v1 = [json.loads(x) for x in (log / f"{1:020d}.json").read_text().splitlines()]
        m0 = next(a["metaData"] for a in v0 if "metaData" in a)
        m1 = next(a["metaData"] for a in v1 if "metaData" in a)
        assert m1["id"] == m0["id"]
        assert "score" in m1["schemaString"] and "score" not in m0["schemaString"]

    def test_column_drop_rejected(self, spark, tmp_path):
        path = str(tmp_path / "t_evo2")
        d0 = spark.createDataFrame([(1, "a")], "id bigint, s string")
        write_delta(spark, d0, path)
        with pytest.raises(ValueError, match="additive-only"):
            write_delta(spark, spark.createDataFrame([(2,)], "id bigint"), path)

    def test_partition_column_mismatch_rejected(self, spark, tmp_path):
        path = str(tmp_path / "t_pmis")
        d0 = _df(spark, [(1, 1.0, _day("2021-01-01"))])
        write_delta(spark, d0, path, partition_col="date")
        with pytest.raises(ValueError, match="partitioned by"):
            write_delta(spark, d0, path)  # forgot partition_col
        with pytest.raises(ValueError, match="partitioned by"):
            write_delta(spark, d0, path, partition_col="id")

    def test_special_character_partition_values_roundtrip(self, spark, tmp_path):
        """Spark escapes '=' ':' '%' in partition dir names (%XX); the
        log must carry the LOGICAL value and the read must restore it."""
        path = str(tmp_path / "t_esc")
        d0 = spark.createDataFrame(
            [(1, "a=b:c"), (2, "plain"), (3, "100%")], "id bigint, k string"
        )
        write_delta(spark, d0, path, partition_col="k")
        got = _rows(spark, read_delta(spark, path))
        assert got == [(1, "a=b:c"), (2, "plain"), (3, "100%")]
        log = tmp_path / "t_esc" / "_delta_log"
        v0 = [json.loads(x) for x in (log / f"{0:020d}.json").read_text().splitlines()]
        pvals = {a["add"]["partitionValues"]["k"] for a in v0 if "add" in a}
        assert pvals == {"a=b:c", "plain", "100%"}  # unescaped in the log


class TestLogConformance:
    def test_commit_file_layout(self, spark, tmp_path):
        path = str(tmp_path / "t2")
        d0 = _df(spark, [(1, 1.0, _day("2021-01-01"))])
        write_delta(spark, d0, path, partition_col="date")
        write_delta(spark, d0, path, partition_col="date", mode="overwrite")
        log = tmp_path / "t2" / "_delta_log"
        names = sorted(
            p.name for p in log.iterdir() if not p.name.startswith(".")
        )  # Hadoop local FS adds .crc sidecars
        assert names == [f"{0:020d}.json", f"{1:020d}.json"]
        v0 = [json.loads(x) for x in (log / names[0]).read_text().splitlines()]
        # commitInfo provenance first (delta-spark's layout), then
        # protocol, metaData, then adds — each line ONE action
        assert set(v0[0]) == {"commitInfo"}
        assert v0[0]["commitInfo"]["operation"] == "WRITE"
        assert set(v0[1]) == {"protocol"}
        assert v0[1]["protocol"]["minReaderVersion"] == 1
        assert set(v0[2]) == {"metaData"}
        meta = v0[2]["metaData"]
        assert meta["format"] == {"provider": "parquet", "options": {}}
        assert meta["partitionColumns"] == ["date"]
        schema = json.loads(meta["schemaString"])
        assert [f["name"] for f in schema["fields"]] == ["id", "v", "date"]
        adds = [a["add"] for a in v0[3:]]
        assert adds and all(set(a) >= {"path", "partitionValues", "size"} for a in adds)
        assert all(not a["path"].startswith("/") for a in adds)  # relative
        assert all(a["partitionValues"] == {"date": "2021-01-01"} for a in adds)
        # the overwrite commit tombstones v0's files before its adds
        v1 = [json.loads(x) for x in (log / names[1]).read_text().splitlines()]
        kinds = [next(iter(a)) for a in v1]
        assert "remove" in kinds and "add" in kinds
        assert kinds.index("remove") < kinds.index("add")
        removed = {a["remove"]["path"] for a in v1 if "remove" in a}
        assert removed == {a["path"] for a in adds}

    def test_concurrent_appends_auto_retry(self, spark, tmp_path, monkeypatch):
        """Delta's OptimisticTransaction rule: a racer claiming the same
        version loses the exclusive create, and a pure APPEND then
        auto-retries at the next version — both appends land, the log
        never corrupts. Stale the listing so both writers target v1."""
        import os

        import portfolio_data_pipelines_spark.operators.delta_log as dl

        path = str(tmp_path / "t3")
        d0 = _df(spark, [(1, 1.0, _day("2021-01-01"))])
        write_delta(spark, d0, path, partition_col="date")
        real_tail = dl._log_tail
        stale = {"uses": 0}

        def stale_then_real(*a):
            # both writers plan against [0]; the retry path re-lists for real
            if stale["uses"] < 2:
                stale["uses"] += 1
                return [0], None
            return real_tail(*a)

        monkeypatch.setattr(dl, "_log_tail", stale_then_real)
        write_delta(spark, d0, path, partition_col="date")  # claims v1
        d1 = _df(spark, [(2, 2.0, _day("2021-01-01"))])
        v = write_delta(spark, d1, path, partition_col="date")  # retries → v2
        monkeypatch.setattr(dl, "_log_tail", real_tail)
        assert stale["uses"] == 2
        assert v == 2
        assert _rows(spark, read_delta(spark, path)) == [
            (1, 1.0, _day("2021-01-01")),
            (1, 1.0, _day("2021-01-01")),
            (2, 2.0, _day("2021-01-01")),
        ]
        assert sorted(
            n for n in os.listdir(os.path.join(path, "_delta_log"))
            if n.endswith(".json")
        ) == [f"{i:020d}.json" for i in range(3)]

    def test_concurrent_overwrite_still_fails(self, spark, tmp_path, monkeypatch):
        """Overwrites reference the live set they read — a lost race
        must surface, never blind-retry (it would tombstone files it
        never saw)."""
        import portfolio_data_pipelines_spark.operators.delta_log as dl

        path = str(tmp_path / "t3b")
        d0 = _df(spark, [(1, 1.0, _day("2021-01-01"))])
        write_delta(spark, d0, path, partition_col="date")
        real_tail = dl._log_tail
        monkeypatch.setattr(dl, "_log_tail", lambda *a: ([0], None))
        write_delta(spark, d0, path, partition_col="date")  # claims v1
        with pytest.raises(Exception):
            write_delta(
                spark, d0, path, partition_col="date", mode="overwrite"
            )
        monkeypatch.setattr(dl, "_log_tail", real_tail)
        assert read_delta(spark, path).count() == 2  # intact

    def test_append_retry_blocked_by_concurrent_metadata_change(
        self, spark, tmp_path, monkeypatch
    ):
        """An append racing a schema-evolution commit must raise (the
        batch was validated against the old schema), not silently land."""
        import portfolio_data_pipelines_spark.operators.delta_log as dl

        path = str(tmp_path / "t3c")
        write_delta(
            spark,
            spark.createDataFrame([(1, 1.0)], "id bigint, v double"),
            path,
        )
        # inject a REAL competing metadata commit at v1 the instant the
        # append tries to claim it: the append loses the create race,
        # sees metaData in the winning commit, and must raise instead
        # of blind-retrying (its batch was validated pre-change)
        meta = dl._replay_log(spark, path, None).meta
        orig_write = dl._write_small_file
        state = {"injected": False}

        def inject(fs, jvm, pathstr, content, overwrite=False):
            if not state["injected"] and pathstr.endswith(f"{1:020d}.json"):
                state["injected"] = True
                orig_write(
                    fs, jvm, pathstr,
                    json.dumps({"metaData": meta}, sort_keys=True),
                    overwrite=False,
                )
            return orig_write(fs, jvm, pathstr, content, overwrite=overwrite)

        monkeypatch.setattr(dl, "_write_small_file", inject)
        with pytest.raises(ValueError, match="concurrent metadata"):
            write_delta(
                spark,
                spark.createDataFrame([(3, 3.0)], "id bigint, v double"),
                path,
            )
        monkeypatch.setattr(dl, "_write_small_file", orig_write)
        # table intact under the injected (no-op) metadata commit
        assert read_delta(spark, path).count() == 1

    def test_metadata_commit_racing_alter_keeps_its_constraint(
        self, spark, tmp_path, monkeypatch
    ):
        """A metadata-only commit builds its metaData from the snapshot
        it opened on: when a competing ALTER lands first, it must raise
        the named conflict, never commit its stale metaData over the
        winner's (which would silently drop the new constraint)."""
        import portfolio_data_pipelines_spark.operators.delta_log as dl
        from portfolio_data_pipelines_spark.operators.delta_alter import (
            add_check_constraint,
        )
        from portfolio_data_pipelines_spark.operators.delta_cdf import (
            enable_change_data_feed,
        )

        path = str(tmp_path / "t3d")
        write_delta(
            spark, spark.createDataFrame([(1, 1.0)], "id bigint, v double"),
            path,
        )
        real_replay = dl._replay_log
        raced = {"done": False}

        def replay_then_race(*a, **k):
            st = real_replay(*a, **k)
            if not raced["done"]:
                raced["done"] = True
                add_check_constraint(spark, path, "pos", "id > 0")  # v1
            return st

        monkeypatch.setattr(dl, "_replay_log", replay_then_race)
        with pytest.raises(dl.DeltaConcurrentModificationError) as err:
            enable_change_data_feed(spark, path)
        monkeypatch.setattr(dl, "_replay_log", real_replay)
        assert (err.value.version, err.value.operation) == (1, "ADD CONSTRAINT")
        st = dl._replay_log(spark, path, None)
        assert st.version == 1
        assert st.meta["configuration"]["delta.constraints.pos"] == "id > 0"

    @pytest.mark.parametrize(
        "op", ["merge", "delete", "update", "dv_delete", "optimize",
               "restore", "alter"],
    )
    def test_lost_race_raises_and_leaves_no_orphans(
        self, spark, tmp_path, monkeypatch, op
    ):
        """Every operation that reads table state and loses its version
        to a real append into another partition raises the named error,
        leaves the winner's table, and deletes exactly the files it
        wrote: afterwards every data, change-data and .bin file under
        the table is a live add, a tombstone, a referenced bitmap or a
        committed change-data file. A
        RESTORE re-add and a deletion-vector re-add point at existing
        files, which must survive."""
        import os

        import portfolio_data_pipelines_spark.operators.delta_log as dl
        from portfolio_data_pipelines_spark.operators.delta_alter import (
            add_check_constraint,
        )
        from portfolio_data_pipelines_spark.operators.delta_dv import (
            delete_where_dv,
        )
        from portfolio_data_pipelines_spark.operators.delta_maintain import (
            restore_delta,
        )
        from portfolio_data_pipelines_spark.operators.deletion_vectors import (
            dv_rel_path,
        )

        path = str(tmp_path / f"t_race_{op}")
        schema = "id bigint, v double, p string"
        a_rows = [(1, 1.0, "a"), (2, 2.0, "a")]
        write_delta(
            spark, spark.createDataFrame(a_rows, schema).coalesce(1), path,
            partition_col="p",
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        write_delta(
            spark, spark.createDataFrame([(3, 3.0, "a"), (4, 4.0, "a")], schema)
            .coalesce(1), path, partition_col="p",
        )
        dl.delete_where(spark, path, "id = 4")  # v2: tombstones v1's file
        run = {
            "merge": lambda: merge_delta(
                spark, path,
                spark.createDataFrame([(1, 10.0, "a")], schema), ["id"],
            ),
            "delete": lambda: dl.delete_where(spark, path, "id = 1"),
            "update": lambda: dl.update_where(
                spark, path, "id = 1", {"v": "v + 1"}
            ),
            "dv_delete": lambda: delete_where_dv(spark, path, "id = 1"),
            "optimize": lambda: optimize_delta(spark, path),
            "restore": lambda: restore_delta(
                spark, path, 1, cdf_key_cols=["id"]
            ),
            "alter": lambda: add_check_constraint(spark, path, "pos", "id > 0"),
        }[op]
        winner = spark.createDataFrame([(9, 9.0, "b")], schema)
        orig_write = dl._write_small_file
        raced = {"done": False}

        def append_first(fs, jvm, pathstr, content, overwrite=False):
            # the operation's commit is about to create v3: a concurrent
            # append into partition b takes v3 first
            if not raced["done"] and pathstr.endswith(f"{3:020d}.json"):
                raced["done"] = True
                assert write_delta(spark, winner, path, partition_col="p") == 3
            return orig_write(fs, jvm, pathstr, content, overwrite=overwrite)

        monkeypatch.setattr(dl, "_write_small_file", append_first)
        with pytest.raises(dl.DeltaConcurrentModificationError) as err:
            run()
        monkeypatch.setattr(dl, "_write_small_file", orig_write)
        assert (err.value.version, err.value.operation) == (3, "WRITE")
        assert _rows(spark, read_delta(spark, path)) == sorted(
            a_rows + [(3, 3.0, "a"), (9, 9.0, "b")]
        )
        st = dl._replay_log(spark, path, None)
        assert st.version == 3
        known = set(st.adds) | set(st.removes) | {
            dv_rel_path(a["deletionVector"]["pathOrInlineDv"])
            for a in st.adds.values() if a.get("deletionVector")
        } | {  # change-data files of the committed versions
            a["cdc"]["path"]
            for v in range(4)
            for a in dl._commit_actions(None, None, path, v)
            if "cdc" in a
        }
        on_disk = {
            os.path.relpath(os.path.join(d, n), path)
            for d, _dirs, names in os.walk(path)
            if "_delta_log" not in d
            for n in names
            if n.endswith((".parquet", ".bin"))
        }
        assert on_disk == known


class TestCheckpoint:
    def test_checkpoint_written_and_used(self, spark, tmp_path):
        path = str(tmp_path / "t4")
        base = _df(spark, [(0, 0.0, _day("2021-01-01"))])
        write_delta(spark, base, path, partition_col="date")
        for i in range(1, DELTA_CHECKPOINT_EVERY + 1):
            di = _df(spark, [(i, float(i), _day(f"2021-01-{1 + i % 9:02d}"))])
            write_delta(spark, di, path, partition_col="date")
        log = tmp_path / "t4" / "_delta_log"
        cp = log / f"{DELTA_CHECKPOINT_EVERY:020d}.checkpoint.parquet"
        assert cp.is_file()  # a single FILE, per the spec
        lc = json.loads((log / "_last_checkpoint").read_text())
        assert lc["version"] == DELTA_CHECKPOINT_EVERY
        full = _rows(spark, read_delta(spark, path))
        assert len(full) == DELTA_CHECKPOINT_EVERY + 1
        # the checkpoint must make pre-checkpoint commits unnecessary:
        # delete them and the latest read must still replay correctly
        for v in range(DELTA_CHECKPOINT_EVERY):
            (log / f"{v:020d}.json").unlink()
        assert _rows(spark, read_delta(spark, path)) == full

    def test_manual_checkpoint_at_version(self, spark, tmp_path):
        path = str(tmp_path / "t5")
        d0 = _df(spark, [(1, 1.0, _day("2021-01-01"))])
        d1 = _df(spark, [(2, 2.0, _day("2021-01-02"))])
        write_delta(spark, d0, path, partition_col="date")
        write_delta(spark, d1, path, partition_col="date")
        checkpoint_delta(spark, path, 1)
        lc = json.loads(
            (tmp_path / "t5" / "_delta_log" / "_last_checkpoint").read_text()
        )
        assert lc["version"] == 1
        assert len(_rows(spark, read_delta(spark, path))) == 2

    def test_commit_checkpoints_equal_full_replay(
        self, spark, tmp_path, monkeypatch
    ):
        """A commit's checkpoint is built from the state its writer
        holds, advanced over the commit, not from a fresh replay: at
        each checkpoint of a MERGE → DV delete → OPTIMIZE → RESTORE run
        the checkpoint-anchored replay equals the replay of every
        commit from version 0."""
        from portfolio_data_pipelines_spark.operators import delta_checkpoint
        from portfolio_data_pipelines_spark.operators import delta_log as dl
        from portfolio_data_pipelines_spark.operators.delta_dv import (
            delete_where_dv,
        )
        from portfolio_data_pipelines_spark.operators.delta_maintain import (
            restore_delta,
        )
        from portfolio_data_pipelines_spark.operators.hadoop_io import (
            _hadoop_fs,
        )

        monkeypatch.setattr(delta_checkpoint, "DELTA_CHECKPOINT_EVERY", 2)
        path = str(tmp_path / "t_cp_eq")
        d = _day("2024-01-01")

        def rows(*ids):
            return _df(spark, [(i, float(i), d) for i in ids]).coalesce(1)

        steps = [
            lambda: write_delta(spark, rows(1, 2), path, partition_col="date"),
            lambda: write_delta(spark, rows(3, 4), path, partition_col="date"),
            lambda: merge_delta(spark, path, rows(2, 5), key_cols=["id"]),
            lambda: delete_where_dv(spark, path, "id = 3"),
            lambda: optimize_delta(spark, path),
            lambda: restore_delta(spark, path, 1),
            lambda: write_delta(spark, rows(6), path, partition_col="date"),
        ]
        fs, _, jvm = _hadoop_fs(spark, path)
        for v, step in enumerate(steps):
            assert step() == v
            if v and v % 2 == 0:
                lc = json.loads(
                    (tmp_path / "t_cp_eq" / "_delta_log" / "_last_checkpoint")
                    .read_text()
                )
                assert lc["version"] == v
                full = dl._replay_state(
                    fs, jvm, path, None, (list(range(v + 1)), None)
                )
                anchored = dl._replay_log(spark, path, None)
                # a checkpoint keeps one tombstone per data path, so the
                # .bin of a DV'd file that RESTORE re-added loses its
                # tombstone time there; the rest of the state is equal
                assert anchored.dv_tombstones.items() <= (
                    full.dv_tombstones.items()
                )
                assert anchored._replace(dv_tombstones=None) == (
                    full._replace(dv_tombstones=None)
                )


class TestExactlyOnce:
    def test_txn_makes_commits_idempotent(self, spark, tmp_path):
        path = str(tmp_path / "t_txn")
        d0 = _df(spark, [(1, 1.0, _day("2021-01-01"))])
        v = write_delta(spark, d0, path, partition_col="date", txn=("app", 0))
        assert v == 0
        # replaying the same (app, batch) writes NOTHING
        v2 = write_delta(spark, d0, path, partition_col="date", txn=("app", 0))
        assert v2 == 0
        assert len(_rows(spark, read_delta(spark, path))) == 1
        # the next batch commits; a different app's batch 0 also commits
        write_delta(spark, d0, path, partition_col="date", txn=("app", 1))
        write_delta(spark, d0, path, partition_col="date", txn=("other", 0))
        assert len(_rows(spark, read_delta(spark, path))) == 3
        # txn actions appear in the log per the spec
        log = tmp_path / "t_txn" / "_delta_log"
        v0 = [json.loads(x) for x in (log / f"{0:020d}.json").read_text().splitlines()]
        t = next(a["txn"] for a in v0 if "txn" in a)
        assert t["appId"] == "app" and t["version"] == 0

    def test_txn_ledger_survives_checkpoint(self, spark, tmp_path):
        path = str(tmp_path / "t_txn_cp")
        d0 = _df(spark, [(1, 1.0, _day("2021-01-01"))])
        write_delta(spark, d0, path, partition_col="date", txn=("app", 0))
        write_delta(spark, d0, path, partition_col="date", txn=("app", 1))
        checkpoint_delta(spark, path, 1)
        # the ledger must be read from the checkpoint, not just the tail
        v3 = write_delta(spark, d0, path, partition_col="date", txn=("app", 1))
        assert v3 == 1  # replay skipped
        assert len(_rows(spark, read_delta(spark, path))) == 2

    def test_stream_sink_exactly_once_across_replay(self, spark, tmp_path):
        """Drive the foreachBatch sink as Structured Streaming would:
        batches 0,1 commit; a crash-restart replays batch 1 — the table
        must not double it."""
        from portfolio_data_pipelines_spark.operators.delta_log import (
            delta_stream_sink,
        )

        path = str(tmp_path / "t_sink")
        sink = delta_stream_sink(path, partition_col="date", app_id="job42")
        b0 = _df(spark, [(1, 1.0, _day("2021-01-01"))])
        b1 = _df(spark, [(2, 2.0, _day("2021-01-02"))])
        sink(b0, 0)
        sink(b1, 1)
        sink(b1, 1)  # checkpoint-recovery replay
        got = _rows(spark, read_delta(spark, path))
        assert got == [(1, 1.0, _day("2021-01-01")), (2, 2.0, _day("2021-01-02"))]


class TestVacuum:
    def test_vacuum_reclaims_tombstones_keeps_live_and_recent(self, spark, tmp_path):
        path = str(tmp_path / "t_vac")
        d0 = _df(spark, [(1, 1.0, _day("2021-01-01"))])
        d1 = _df(spark, [(2, 2.0, _day("2021-01-02"))])
        write_delta(spark, d0, path, partition_col="date")
        write_delta(spark, d1, path, partition_col="date", mode="overwrite")
        latest = _rows(spark, read_delta(spark, path))
        # retention still covers the tombstones: nothing is reclaimed
        assert vacuum_delta(spark, path, retain_hours=1.0) == []
        assert _rows(spark, read_delta(spark, path, version=0)) == _rows(spark, d0)
        # zero retention (now pushed far forward): tombstones reclaimed
        import time
        future = int((time.time() + 3600) * 1000)
        deleted = vacuum_delta(spark, path, retain_hours=0.0, now_ms=future)
        assert deleted and all("2021-01-01" in p for p in deleted)
        # the live version is untouched...
        assert _rows(spark, read_delta(spark, path)) == latest
        # ...and time travel to the reclaimed version fails on read
        with pytest.raises(Exception):
            read_delta(spark, path, version=0).collect()

    def test_vacuum_reclaims_orphaned_staging_leftovers_only_when_old(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t_vac2")
        d0 = _df(spark, [(1, 1.0, _day("2021-01-01"))])
        write_delta(spark, d0, path, partition_col="date")
        # an orphan from a crashed commit: a parquet file no log references
        orphan = tmp_path / "t_vac2" / "date=2021-01-01" / "orphan.parquet"
        orphan.write_bytes(b"not really parquet")
        assert vacuum_delta(spark, path, retain_hours=1.0) == []  # too young
        import time
        future = int((time.time() + 3600) * 1000)
        deleted = vacuum_delta(spark, path, retain_hours=0.0, now_ms=future)
        assert deleted == ["date=2021-01-01/orphan.parquet"]
        assert _rows(spark, read_delta(spark, path)) == _rows(spark, d0)


class TestStats:
    def test_add_actions_carry_numrecords_and_cbo_reads_them(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.cbo import (
            stats_for_delta,
            stats_join,
        )

        path = str(tmp_path / "t_stats")
        d0 = _df(spark, [(i, float(i), _day(f"2021-01-{1 + i % 3:02d}")) for i in range(30)])
        write_delta(spark, d0, path, partition_col="date")
        write_delta(spark, _df(spark, [(99, 9.0, _day("2021-02-01"))]), path,
                    partition_col="date")
        log = tmp_path / "t_stats" / "_delta_log"
        v0 = [json.loads(x) for x in (log / f"{0:020d}.json").read_text().splitlines()]
        adds = [a["add"] for a in v0 if "add" in a]
        assert all("stats" in a for a in adds)
        assert sum(json.loads(a["stats"])["numRecords"] for a in adds) == 30
        # log-only stats: rows and bytes without touching a data file
        st = stats_for_delta(spark, path)
        assert st.rows == 31 and st.bytes > 0
        # and they drive the join planner: the small delta table
        # broadcasts as the build side
        fact = spark.range(1000).withColumn("id", (F.col("id") % 31))
        dim = read_delta(spark, path).withColumnRenamed("id", "d_id")
        joined = stats_join(fact, dim, F.col("id") == F.col("d_id"),
                            right_stats=st)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        # fact ids 0..30; dim has 0..29 and 99 → id=30's 32 rows drop
        assert joined.count() == 968

    def test_checkpoint_preserves_stats(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.cbo import stats_for_delta

        path = str(tmp_path / "t_stats_cp")
        d0 = _df(spark, [(1, 1.0, _day("2021-01-01"))])
        write_delta(spark, d0, path, partition_col="date")
        write_delta(spark, d0, path, partition_col="date")
        checkpoint_delta(spark, path, 1)
        # stats must survive the checkpoint replay path
        st = stats_for_delta(spark, path)
        assert st.rows == 2


class TestReplaceWhere:
    def test_partition_scoped_overwrite(self, spark, tmp_path):
        path = str(tmp_path / "t_rw")
        d0 = _df(spark, [(1, 1.0, _day("2021-01-01")), (2, 2.0, _day("2021-01-02"))])
        write_delta(spark, d0, path, partition_col="date")
        # replace ONLY day 2; day 1 keeps its files
        d1 = _df(spark, [(9, 9.0, _day("2021-01-02"))])
        write_delta(spark, d1, path, partition_col="date", mode="overwrite",
                    replace_partitions=["2021-01-02"])
        assert _rows(spark, read_delta(spark, path)) == [
            (1, 1.0, _day("2021-01-01")),
            (9, 9.0, _day("2021-01-02")),
        ]
        # re-running the same day-batch is idempotent in content
        write_delta(spark, d1, path, partition_col="date", mode="overwrite",
                    replace_partitions=["2021-01-02"])
        assert _rows(spark, read_delta(spark, path)) == [
            (1, 1.0, _day("2021-01-01")),
            (9, 9.0, _day("2021-01-02")),
        ]

    def test_replace_where_rejects_stray_partitions(self, spark, tmp_path):
        path = str(tmp_path / "t_rw2")
        d0 = _df(spark, [(1, 1.0, _day("2021-01-01"))])
        write_delta(spark, d0, path, partition_col="date")
        stray = _df(spark, [(2, 2.0, _day("2021-03-03"))])
        with pytest.raises(ValueError, match="replacement predicate"):
            write_delta(spark, stray, path, partition_col="date",
                        mode="overwrite", replace_partitions=["2021-01-01"])
        # nothing changed, and the rejected staging dir was cleaned up
        assert _rows(spark, read_delta(spark, path)) == [(1, 1.0, _day("2021-01-01"))]
        assert not list((tmp_path / "t_rw2").glob("_staging_*"))

    def test_replace_requires_overwrite_and_partition(self, spark, tmp_path):
        path = str(tmp_path / "t_rw3")
        d0 = _df(spark, [(1, 1.0, _day("2021-01-01"))])
        with pytest.raises(ValueError, match="replace_partitions requires"):
            write_delta(spark, d0, path, partition_col="date",
                        replace_partitions=["2021-01-01"])  # append mode
        with pytest.raises(ValueError, match="replace_partitions requires"):
            write_delta(spark, d0, path, mode="overwrite",
                        replace_partitions=["2021-01-01"])  # no partition col


class TestDeltaBronzePipeline:
    def test_weather_pipeline_on_delta_bronze_idempotent(self, spark, tmp_path):
        """The reference DAG on a Delta bronze: run twice with the same
        payload — day-level replaceWhere keeps the mart identical, and
        the first ingest stays time-travelable."""
        import dataclasses
        import json as _json

        from portfolio_data_pipelines_spark.config import PipelineConfig
        from portfolio_data_pipelines_spark.runner import WeatherPipeline

        payload = {
            "latitude": -23.55, "longitude": -46.63,
            "hourly": {
                "time": [f"2021-01-01T{h:02d}:00" for h in range(6)],
                "temperature_2m": [20.0 + h for h in range(6)],
                "relative_humidity_2m": [50.0 + h for h in range(6)],
            },
        }
        raw = _json.dumps(payload)
        cfg = PipelineConfig(lake_root=str(tmp_path / "lake"))
        pipe = WeatherPipeline(spark, config=cfg, fetcher=lambda: raw)
        built1 = pipe.run(raw)
        built2 = pipe.run(raw)  # re-run: same day replaced, not duplicated
        key = next(k for k in built1 if k.endswith("weather_daily"))
        m1 = sorted(tuple(r) for r in built1[key].collect())
        m2 = sorted(tuple(r) for r in built2[key].collect())
        assert m1 == m2 and len(m1) == 1
        from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
        bronze = read_delta(spark, f"{cfg.lake_root}/weather")
        assert bronze.count() == 6  # not 12: day-level overwrite
        # both ingests exist as versions
        v0 = read_delta(spark, f"{cfg.lake_root}/weather", version=0)
        assert v0.count() == 6


class TestMerge:
    def test_merge_updates_and_inserts(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta

        path = str(tmp_path / "t_merge")
        d0 = _df(spark, [(1, 1.0, _day("2021-01-01")), (2, 2.0, _day("2021-01-02"))])
        write_delta(spark, d0, path, partition_col="date")
        src = _df(spark, [(2, 20.0, _day("2021-01-02")),   # matched → update
                          (3, 3.0, _day("2021-01-03"))])   # new → insert
        v = merge_delta(spark, path, src, key_cols=["id"])
        assert v == 1
        assert _rows(spark, read_delta(spark, path)) == [
            (1, 1.0, _day("2021-01-01")),
            (2, 20.0, _day("2021-01-02")),
            (3, 3.0, _day("2021-01-03")),
        ]
        # pre-merge state is still time-travelable
        assert _rows(spark, read_delta(spark, path, version=0)) == _rows(spark, d0)

    def test_merge_rewrites_only_touched_files(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta

        path = str(tmp_path / "t_merge2")
        d0 = _df(spark, [(1, 1.0, _day("2021-01-01"))])
        d1 = _df(spark, [(2, 2.0, _day("2021-01-02"))])
        d2 = _df(spark, [(3, 3.0, _day("2021-01-03"))])
        for d in (d0, d1, d2):
            write_delta(spark, d, path, partition_col="date")
        src = _df(spark, [(2, 22.0, _day("2021-01-02"))])
        merge_delta(spark, path, src, key_cols=["id"])
        log = tmp_path / "t_merge2" / "_delta_log"
        v3 = [json.loads(x) for x in (log / f"{3:020d}.json").read_text().splitlines()]
        removed = [a["remove"]["path"] for a in v3 if "remove" in a]
        added = [a["add"]["path"] for a in v3 if "add" in a]
        # ONLY the day-2 file was tombstoned and rewritten
        assert removed and all("2021-01-02" in p for p in removed)
        assert added and all("2021-01-02" in p for p in added)
        assert _rows(spark, read_delta(spark, path)) == [
            (1, 1.0, _day("2021-01-01")),
            (2, 22.0, _day("2021-01-02")),
            (3, 3.0, _day("2021-01-03")),
        ]

    def test_merge_keeps_nonmatching_rows_of_touched_files(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta

        path = str(tmp_path / "t_merge3")
        # one file holds BOTH keys; merging one key must keep the other
        d0 = _df(spark, [(1, 1.0, _day("2021-01-01")), (2, 2.0, _day("2021-01-01"))])
        write_delta(spark, d0, path, partition_col="date")
        src = _df(spark, [(2, 99.0, _day("2021-01-01"))])
        merge_delta(spark, path, src, key_cols=["id"])
        assert _rows(spark, read_delta(spark, path)) == [
            (1, 1.0, _day("2021-01-01")),
            (2, 99.0, _day("2021-01-01")),
        ]

    def test_merge_single_commit_shared_basenames_not_overmatched(self, spark, tmp_path):
        """Within ONE commit, partitionBy reuses part-file basenames
        across partition dirs; merging keys of one partition must not
        tombstone the same-named files of the others (regression: a
        basename-keyed file match mass-removed untouched partitions)."""
        from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta

        path = str(tmp_path / "t_merge5")
        d0 = _df(spark, [(i, float(i), _day(f"2021-01-{1 + i % 3:02d}"))
                         for i in range(30)]).coalesce(1)
        write_delta(spark, d0, path, partition_col="date")
        src = _df(spark, [(1, 111.0, _day("2021-01-02"))])  # id 1 lives on day 2
        merge_delta(spark, path, src, key_cols=["id"])
        got = _rows(spark, read_delta(spark, path))
        assert len(got) == 30  # nothing lost
        assert (1, 111.0, _day("2021-01-02")) in got
        log = tmp_path / "t_merge5" / "_delta_log"
        v1 = [json.loads(x) for x in (log / f"{1:020d}.json").read_text().splitlines()]
        removed = [a["remove"]["path"] for a in v1 if "remove" in a]
        assert removed and all("2021-01-02" in p for p in removed)

    def test_merge_rejects_ambiguous_source(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta

        path = str(tmp_path / "t_merge4")
        write_delta(spark, _df(spark, [(1, 1.0, _day("2021-01-01"))]), path,
                    partition_col="date")
        dup = _df(spark, [(1, 2.0, _day("2021-01-01")), (1, 3.0, _day("2021-01-01"))])
        with pytest.raises(ValueError, match="duplicate keys"):
            merge_delta(spark, path, dup, key_cols=["id"])


class TestChangeFeed:
    def test_incremental_reads_pull_only_new_commits(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_scan import (
            read_delta_changes,
        )

        path = str(tmp_path / "t_cdc")
        write_delta(spark, _df(spark, [(1, 1.0, _day("2021-01-01"))]), path,
                    partition_col="date")
        write_delta(spark, _df(spark, [(2, 2.0, _day("2021-01-02"))]), path,
                    partition_col="date")
        write_delta(spark, _df(spark, [(3, 3.0, _day("2021-01-03"))]), path,
                    partition_col="date")
        got = read_delta_changes(spark, path, from_version=0)
        rows = sorted((r["id"], r["_commit_version"]) for r in got.collect())
        assert rows == [(2, 1), (3, 2)]
        # bounded window, and empty window yields an empty typed frame
        mid = read_delta_changes(spark, path, from_version=0, to_version=1)
        assert [r["id"] for r in mid.collect()] == [2]
        none = read_delta_changes(spark, path, from_version=2, to_version=2)
        assert none.count() == 0 and "_commit_version" in none.columns

    def test_change_feed_includes_merge_rewrites(self, spark, tmp_path):
        """A consumer at version N sees a later MERGE's rewritten files
        (survivors + updates) — at-least-once per changed file, the
        append-feed contract."""
        from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
        from portfolio_data_pipelines_spark.operators.delta_scan import (
            read_delta_changes,
        )

        path = str(tmp_path / "t_cdc2")
        d0 = _df(spark, [(1, 1.0, _day("2021-01-01")), (2, 2.0, _day("2021-01-01"))])
        # one file holds both keys, so the merge rewrite carries the
        # survivor too (separate files would leave id=1's file untouched
        # — and out of the feed, correctly)
        write_delta(spark, d0.coalesce(1), path, partition_col="date")
        merge_delta(spark, path, _df(spark, [(2, 22.0, _day("2021-01-01"))]),
                    key_cols=["id"])
        got = sorted((r["id"], r["v"]) for r in
                     read_delta_changes(spark, path, 0).collect())
        assert got == [(1, 1.0), (2, 22.0)]


def test_vacuum_keys_retention_on_deletion_time_not_file_age(spark, tmp_path):
    """A file WRITTEN long ago but tombstoned a moment ago must survive
    vacuum (regression: mtime-based aging deleted it instantly,
    breaking concurrent readers and fresh time travel)."""
    import os
    import time

    path = str(tmp_path / "t_vac_dt")
    d0 = _df(spark, [(1, 1.0, _day("2021-01-01"))])
    write_delta(spark, d0, path, partition_col="date")
    # backdate the data file far beyond any retention window
    old = time.time() - 40 * 24 * 3600
    for p in (tmp_path / "t_vac_dt").rglob("*.parquet"):
        if "_delta_log" not in str(p):
            os.utime(p, (old, old))
    write_delta(spark, _df(spark, [(2, 2.0, _day("2021-01-01"))]), path,
                partition_col="date", mode="overwrite")
    # the tombstone is seconds old: retention still covers it
    assert vacuum_delta(spark, path, retain_hours=1.0) == []
    assert _rows(spark, read_delta(spark, path, version=0)) == _rows(spark, d0)
    # retention beyond the checkpoint tombstone horizon is refused
    with pytest.raises(ValueError, match="tombstone retention"):
        vacuum_delta(spark, path, retain_hours=24 * 31.0)


def test_delta_bronze_keeps_unparseable_timestamp_rows(spark, tmp_path):
    """F1's non-strict parse leaves malformed times as NULL; with a
    Delta bronze those rows land in the null partition and the commit
    must succeed (regression: the replace set excluded None and the
    whole ingest failed)."""
    import json as _json

    from portfolio_data_pipelines_spark.config import PipelineConfig
    from portfolio_data_pipelines_spark.runner import WeatherPipeline

    payload = {
        "latitude": 0.0, "longitude": 0.0,
        "hourly": {
            "time": ["2021-01-01T00:00", "not-a-timestamp", "2021-01-01T02:00"],
            "temperature_2m": [20.0, 21.0, 22.0],
            "relative_humidity_2m": [50.0, 51.0, 52.0],
        },
    }
    cfg = PipelineConfig(lake_root=str(tmp_path / "lake"))
    pipe = WeatherPipeline(spark, config=cfg, fetcher=lambda: _json.dumps(payload))
    pipe.run(_json.dumps(payload))
    bronze = read_delta(spark, f"{cfg.lake_root}/weather")
    assert bronze.count() == 3  # the bad row is retained for audit
    assert bronze.filter(F.col("time").isNull()).count() == 1


class TestOptimize:
    def test_optimize_compacts_to_one_file_per_partition(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_maintain import (
            optimize_delta,
        )
        from portfolio_data_pipelines_spark.operators.delta_scan import (
            read_delta_changes,
        )

        path = str(tmp_path / "t_opt")
        for i in range(4):  # 4 commits × 1 file into the same day
            write_delta(
                spark,
                _df(spark, [(i, float(i), _day("2021-01-01"))]).coalesce(1),
                path, partition_col="date",
            )
        write_delta(spark, _df(spark, [(9, 9.0, _day("2021-01-02"))]).coalesce(1),
                    path, partition_col="date")
        before = _rows(spark, read_delta(spark, path))
        v = optimize_delta(spark, path)
        assert v == 5
        assert _rows(spark, read_delta(spark, path)) == before  # rows identical
        log = tmp_path / "t_opt" / "_delta_log"
        v5 = [json.loads(x) for x in (log / f"{5:020d}.json").read_text().splitlines()]
        adds = [a["add"] for a in v5 if "add" in a]
        removed = [a["remove"] for a in v5 if "remove" in a]
        # day 1's four files → one; single-file day 2 untouched
        assert len(adds) == 1 and adds[0]["partitionValues"] == {"date": "2021-01-01"}
        assert len(removed) == 4
        assert all(not a["dataChange"] for a in adds)
        assert all(not r["dataChange"] for r in removed)
        # the change feed skips the compaction commit entirely
        feed = read_delta_changes(spark, path, from_version=4)
        assert feed.count() == 0
        # pre-compaction versions still read
        assert len(_rows(spark, read_delta(spark, path, version=4))) == 5
        # idempotent: nothing left to compact
        assert optimize_delta(spark, path) is None

    def test_optimize_scoped_to_partitions(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_maintain import (
            optimize_delta,
        )

        path = str(tmp_path / "t_opt2")
        for day in ("2021-01-01", "2021-01-02"):
            for i in range(2):
                write_delta(spark, _df(spark, [(i, 1.0, _day(day))]).coalesce(1),
                            path, partition_col="date")
        v = optimize_delta(spark, path, partitions=["2021-01-02"])
        log = tmp_path / "t_opt2" / "_delta_log"
        vN = [json.loads(x) for x in (log / f"{v:020d}.json").read_text().splitlines()]
        assert all("2021-01-02" in a["remove"]["path"] for a in vN if "remove" in a)
        assert len(_rows(spark, read_delta(spark, path))) == 4


def test_checkpoint_preserves_tombstone_datachange_flag(spark, tmp_path):
    """A checkpoint after an OPTIMIZE must keep its tombstones'
    dataChange=false (regression: the checkpoint rewrote them as
    dataChange=true, turning a pure compaction into phantom deletions
    for any standard reader replaying the checkpoint)."""
    from portfolio_data_pipelines_spark.operators.delta_maintain import optimize_delta

    path = str(tmp_path / "t_cp_dc")
    for i in range(2):
        write_delta(spark, _df(spark, [(i, float(i), _day("2021-01-01"))]).coalesce(1),
                    path, partition_col="date")
    v = optimize_delta(spark, path)
    checkpoint_delta(spark, path, v)
    cp = spark.read.parquet(
        str(tmp_path / "t_cp_dc" / "_delta_log" / f"{v:020d}.checkpoint.parquet")
    )
    rm = [r["remove"].asDict() for r in cp.collect() if r["remove"] is not None]
    assert rm and all(r["dataChange"] is False for r in rm)
    # and replaying THROUGH the checkpoint still reads correctly
    assert len(_rows(spark, read_delta(spark, path))) == 2


def test_lakehouse_lifecycle_stream_optimize_vacuum(spark, tmp_path):
    """The whole lifecycle in one story: micro-batches stream in with
    exactly-once txns, OPTIMIZE packs the small files, VACUUM reclaims
    them after retention — and the data never changes."""
    import time

    from portfolio_data_pipelines_spark.operators.delta_log import delta_stream_sink
    from portfolio_data_pipelines_spark.operators.delta_maintain import optimize_delta
    from portfolio_data_pipelines_spark.operators.delta_scan import read_delta_changes

    path = str(tmp_path / "t_life")
    sink = delta_stream_sink(path, partition_col="date", app_id="life")
    for b in range(4):  # 4 micro-batches into one day
        sink(_df(spark, [(b, float(b), _day("2021-01-01"))]).coalesce(1), b)
    sink(_df(spark, [(2, 2.0, _day("2021-01-01"))]).coalesce(1), 2)  # replay: skipped
    before = _rows(spark, read_delta(spark, path))
    assert len(before) == 4
    v = optimize_delta(spark, path)
    assert v == 4
    assert _rows(spark, read_delta(spark, path)) == before
    # consumer catching up from batch 1 sees batches 2-3 but NOT the
    # compaction
    feed = read_delta_changes(spark, path, from_version=1)
    assert sorted(r["id"] for r in feed.collect()) == [2, 3]
    # vacuum reclaims the four micro-files after retention
    future = int((time.time() + 3600) * 1000)
    deleted = vacuum_delta(spark, path, retain_hours=0.0, now_ms=future)
    assert len(deleted) == 4
    assert _rows(spark, read_delta(spark, path)) == before
    data_files = [
        p for p in (tmp_path / "t_life").rglob("*.parquet")
        if "_delta_log" not in str(p)
    ]
    assert len(data_files) == 1  # just the compacted file remains


def test_fast_path_read_partition_prunes_at_the_scan(spark, tmp_path):
    """A filter on the restored partition column must reach the scan as
    a PartitionFilter (file-index pruning) in the fast-path read — the
    property that keeps a 10k-partition table read from touching every
    file at planning time."""
    path = str(tmp_path / "t_pp")
    d0 = _df(spark, [(i, float(i), _day(f"2021-01-{1 + i % 3:02d}")) for i in range(30)])
    write_delta(spark, d0, path, partition_col="date")
    q = read_delta(spark, path).filter(F.col("date") == "2021-01-02")
    plan = q._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "date" in m.group(1)
    assert q.count() == 10


class TestAdviceHardening:
    """Round-6 ADVICE items: type-change evolution guard, URI-encoded
    log paths, exact merge file mapping, object-store commit warning."""

    def test_same_name_type_change_rejected(self, spark, tmp_path):
        """A commit that keeps a column name but changes its type must
        be refused — accepting it would rewrite schemaString while old
        files keep the old parquet type, leaving every subsequent read
        failing (an unreadable table)."""
        path = str(tmp_path / "t_typechg")
        write_delta(
            spark, spark.createDataFrame([(1, 2)], "id bigint, n bigint"), path
        )
        with pytest.raises(ValueError, match="cannot change column"):
            write_delta(
                spark,
                spark.createDataFrame([(2, "x")], "id bigint, n string"),
                path,
            )
        # the rejected commit left the table fully readable
        assert _rows(spark, read_delta(spark, path)) == [(1, 2)]

    def test_safe_numeric_widening_accepted(self, spark, tmp_path):
        """Parquet's widening promotions (int->long, float->double) are
        the one type change evolution may apply: Spark 4's readers
        upcast the old files on the fly under the widened schema."""
        path = str(tmp_path / "t_widen")
        write_delta(
            spark, spark.createDataFrame([(1, 1.5)], "n int, f float"), path
        )
        write_delta(
            spark,
            spark.createDataFrame([(2**40, 2.5)], "n long, f double"),
            path,
        )
        got = read_delta(spark, path)
        assert dict(got.dtypes) == {"n": "bigint", "f": "double"}
        assert _rows(spark, got) == [(1, 1.5), (2**40, 2.5)]

    def test_log_paths_are_uri_encoded(self, spark, tmp_path):
        """The spec says add/remove paths are RFC 2396 URIs that readers
        URL-decode: a hive-escaped dir for value '100%' is physically
        k=100%25/, so the log must carry k=100%2525/... — decoding the
        logical path must yield exactly the physical file."""
        from urllib.parse import unquote

        path = str(tmp_path / "t_uri")
        d0 = spark.createDataFrame(
            [(1, "100%"), (2, "a b"), (3, "plain")], "id bigint, k string"
        )
        write_delta(spark, d0, path, partition_col="k")
        log = tmp_path / "t_uri" / "_delta_log"
        v0 = [
            json.loads(x)
            for x in (log / f"{0:020d}.json").read_text().splitlines()
        ]
        add_paths = [a["add"]["path"] for a in v0 if "add" in a]
        assert any(p.startswith("k=100%2525/") for p in add_paths)
        assert any(p.startswith("k=a%20b/") for p in add_paths)
        for p in add_paths:
            # URL-decoding the logical path resolves the physical file
            assert (tmp_path / "t_uri" / unquote(p)).exists()
        # overwrite: remove paths use the same encoding as the adds
        write_delta(
            spark,
            spark.createDataFrame([(9, "100%")], "id bigint, k string"),
            path,
            partition_col="k",
            mode="overwrite",
        )
        v1 = [
            json.loads(x)
            for x in (log / f"{1:020d}.json").read_text().splitlines()
        ]
        removed = {a["remove"]["path"] for a in v1 if "remove" in a}
        assert removed == set(add_paths)
        # and the table still reads back the logical values
        assert _rows(spark, read_delta(spark, path)) == [(9, "100%")]

    def test_merge_exact_mapping_no_path_suffix_false_positive(
        self, spark, tmp_path
    ):
        """Foreign-written layout where one add's relative path is a
        full path-suffix of another's (x.parquet vs a/x.parquet): a
        merge touching only a/x.parquet must NOT tombstone x.parquet —
        the old endswith matching silently dropped its rows."""
        import shutil

        from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta

        root = tmp_path / "t_suffix"
        (root / "a").mkdir(parents=True)

        def _one_file(rows, dest):
            stage = tmp_path / ("stage_" + dest.name.replace("/", "_"))
            spark.createDataFrame(rows, "id bigint, s string").coalesce(
                1
            ).write.mode("overwrite").parquet(str(stage))
            part = next(stage.glob("*.parquet"))
            shutil.copy(part, dest)
            return dest.stat().st_size

        s1 = _one_file([(1, "keep")], root / "x.parquet")
        s2 = _one_file([(2, "old")], root / "a" / "x.parquet")
        schema_string = spark.createDataFrame(
            [], "id bigint, s string"
        ).schema.json()
        log_dir = root / "_delta_log"
        log_dir.mkdir()
        actions = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": "0000",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": [],
                    "configuration": {},
                    "createdTime": 0,
                }
            },
            {
                "add": {
                    "path": "x.parquet",
                    "partitionValues": {},
                    "size": s1,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            },
            {
                "add": {
                    "path": "a/x.parquet",
                    "partitionValues": {},
                    "size": s2,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            },
        ]
        (log_dir / f"{0:020d}.json").write_text(
            "\n".join(json.dumps(a) for a in actions)
        )
        src = spark.createDataFrame([(2, "new")], "id bigint, s string")
        merge_delta(spark, str(root), src, key_cols=["id"])
        got = _rows(spark, read_delta(spark, str(root)))
        assert got == [(1, "keep"), (2, "new")]
        v1 = [
            json.loads(x)
            for x in (log_dir / f"{1:020d}.json").read_text().splitlines()
        ]
        removed = {a["remove"]["path"] for a in v1 if "remove" in a}
        assert removed == {"a/x.parquet"}  # x.parquet untouched

    def test_object_store_commit_warns_local_does_not(self, spark):
        import warnings

        from portfolio_data_pipelines_spark.operators.delta_log import (
            _warn_if_commit_unsafe,
        )

        with pytest.warns(RuntimeWarning, match="not atomic"):
            _warn_if_commit_unsafe("s3a://bucket/table")
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            _warn_if_commit_unsafe("/tmp/table")
            _warn_if_commit_unsafe("file:/tmp/table")
            _warn_if_commit_unsafe("hdfs://nn/table")


class TestDataSkipping:
    """Per-file minValues/maxValues/nullCount in the stats document +
    file-level pruning in read_delta(predicate=...) — the log answers
    'which files can hold matching rows' before any footer is opened."""

    def test_stats_document_carries_column_ranges(self, spark, tmp_path):
        path = str(tmp_path / "t_stats")
        write_delta(
            spark,
            spark.createDataFrame(
                [(5, 2.5, "b"), (1, 9.0, "a"), (3, None, "c")],
                "id bigint, v double, s string",
            ).coalesce(1),
            path,
        )
        log = tmp_path / "t_stats" / "_delta_log"
        v0 = [
            json.loads(x)
            for x in (log / f"{0:020d}.json").read_text().splitlines()
        ]
        stats = json.loads(next(a["add"]["stats"] for a in v0 if "add" in a))
        assert stats["numRecords"] == 3
        assert stats["minValues"]["id"] == 1 and stats["maxValues"]["id"] == 5
        assert stats["minValues"]["v"] == 2.5 and stats["maxValues"]["v"] == 9.0
        assert stats["minValues"]["s"] == "a" and stats["maxValues"]["s"] == "c"
        assert stats["nullCount"]["v"] == 1 and stats["nullCount"]["id"] == 0

    def test_predicate_prunes_files_and_keeps_answers(self, spark, tmp_path):
        """5 commits covering disjoint id ranges: a narrow predicate
        must plan over exactly one file, with rows equal to the
        full-scan filter."""
        path = str(tmp_path / "t_skip")
        for base in range(0, 500, 100):
            write_delta(
                spark,
                spark.createDataFrame(
                    [(base + i, float(base + i)) for i in range(100)],
                    "id bigint, v double",
                ).coalesce(1),
                path,
            )
        full = read_delta(spark, path)
        assert len(full.inputFiles()) == 5
        pruned = read_delta(spark, path, predicate={"id": (250, 260)})
        assert len(pruned.inputFiles()) == 1
        got = sorted(
            r["id"]
            for r in pruned.filter(F.col("id").between(250, 260)).collect()
        )
        assert got == list(range(250, 261))
        # open-ended bound
        hi = read_delta(spark, path, predicate={"id": (450, None)})
        assert len(hi.inputFiles()) == 1
        # disjoint predicate plans zero files but keeps the schema
        none = read_delta(spark, path, predicate={"id": (1000, None)})
        assert none.columns == ["id", "v"] and none.count() == 0

    def test_partition_values_prune_without_stats(self, spark, tmp_path):
        path = str(tmp_path / "t_skip_part")
        d0 = spark.createDataFrame(
            [(i, f"2021-01-{1 + i % 4:02d}") for i in range(40)],
            "id bigint, day string",
        )
        write_delta(spark, d0, path, partition_col="day")
        pruned = read_delta(
            spark, path, predicate={"day": ("2021-01-02", "2021-01-03")}
        )
        got_days = {r["day"] for r in pruned.collect()}
        assert got_days == {"2021-01-02", "2021-01-03"}
        assert len(pruned.inputFiles()) < len(read_delta(spark, path).inputFiles())

    def test_files_without_stats_are_never_skipped(self, spark, tmp_path, monkeypatch):
        """Skipping is a superset guarantee: a file with no stats (e.g.
        foreign writer) must survive every predicate."""
        import portfolio_data_pipelines_spark.operators.delta_log as dl

        path = str(tmp_path / "t_skip_nostats")
        write_delta(
            spark,
            spark.createDataFrame([(1, 1.0)], "id bigint, v double").coalesce(1),
            path,
        )
        monkeypatch.setattr(dl, "_footer_stats", lambda p: None)
        write_delta(
            spark,
            spark.createDataFrame([(900, 9.0)], "id bigint, v double").coalesce(1),
            path,
        )
        monkeypatch.undo()
        with open(f"{path}/_delta_log/{1:020d}.json") as fh:
            v1_adds = [a["add"] for a in map(json.loads, fh) if "add" in a]
        assert v1_adds and not any(a.get("stats") for a in v1_adds)
        pruned = read_delta(spark, path, predicate={"id": (800, None)})
        # the stats-less file survives; the provably-disjoint one goes
        assert len(pruned.inputFiles()) == 1
        assert [r["id"] for r in pruned.collect()] == [900]

    def test_checkpointed_stats_still_prune(self, spark, tmp_path):
        """The stats document rides checkpoints, so skipping keeps
        working after pre-checkpoint commits are cleaned up."""
        path = str(tmp_path / "t_skip_cp")
        for base in range(0, (DELTA_CHECKPOINT_EVERY + 1) * 10, 10):
            write_delta(
                spark,
                spark.createDataFrame(
                    [(base + i,) for i in range(10)], "id bigint"
                ).coalesce(1),
                path,
            )
        log = tmp_path / "t_skip_cp" / "_delta_log"
        for v in range(DELTA_CHECKPOINT_EVERY):
            (log / f"{v:020d}.json").unlink()
        pruned = read_delta(spark, path, predicate={"id": (35, 35)})
        assert len(pruned.inputFiles()) == 1
        assert pruned.filter(F.col("id") == 35).count() == 1


class TestMultiColumnPartitioning:
    """Multi-level Hive partitioning (partition_col as a list): write,
    read, time travel, MERGE, OPTIMIZE, and data skipping on every
    level."""

    @staticmethod
    def _seed(spark, path):
        rows = [
            (i, ["eu", "us"][i % 2], f"2021-01-{1 + i % 3:02d}", float(i))
            for i in range(24)
        ]
        df = spark.createDataFrame(
            rows, "id bigint, region string, day string, v double"
        )
        write_delta(spark, df, path, partition_col=["region", "day"])
        return rows

    def test_roundtrip_layout_and_log(self, spark, tmp_path):
        path = str(tmp_path / "t_mc")
        rows = self._seed(spark, path)
        got = read_delta(spark, path)
        assert sorted(tuple(r) for r in got.collect()) == sorted(rows)
        # physical layout: region=R/day=D/ under the root
        files = [
            p.relative_to(tmp_path / "t_mc")
            for p in (tmp_path / "t_mc").rglob("*.parquet")
            if "_delta_log" not in str(p)
        ]
        assert files and all(
            str(f).startswith(("region=eu/day=", "region=us/day="))
            for f in files
        )
        # log: both levels in partitionValues, files carry neither col
        log = tmp_path / "t_mc" / "_delta_log"
        v0 = [
            json.loads(x)
            for x in (log / f"{0:020d}.json").read_text().splitlines()
        ]
        meta = next(a["metaData"] for a in v0 if "metaData" in a)
        assert meta["partitionColumns"] == ["region", "day"]
        adds = [a["add"] for a in v0 if "add" in a]
        assert all(set(a["partitionValues"]) == {"region", "day"} for a in adds)

    def test_mismatched_partition_spec_rejected(self, spark, tmp_path):
        path = str(tmp_path / "t_mc2")
        self._seed(spark, path)
        with pytest.raises(ValueError, match="partitioned by"):
            write_delta(
                spark,
                spark.createDataFrame(
                    [(99, "eu", "2021-01-01", 9.0)],
                    "id bigint, region string, day string, v double",
                ),
                path,
                partition_col="region",
            )

    def test_predicate_prunes_either_level(self, spark, tmp_path):
        path = str(tmp_path / "t_mc3")
        self._seed(spark, path)
        total = len(read_delta(spark, path).inputFiles())
        by_region = read_delta(spark, path, predicate={"region": ("us", "us")})
        assert 0 < len(by_region.inputFiles()) < total
        assert {r["region"] for r in by_region.collect()} == {"us"}
        by_day = read_delta(
            spark, path, predicate={"day": ("2021-01-02", "2021-01-02")}
        )
        assert 0 < len(by_day.inputFiles()) < total
        assert {r["day"] for r in by_day.collect()} == {"2021-01-02"}

    def test_merge_and_optimize_on_multicol_table(self, spark, tmp_path):
        path = str(tmp_path / "t_mc4")
        rows = self._seed(spark, path)
        src = spark.createDataFrame(
            [(0, "eu", "2021-01-01", 100.0), (99, "us", "2021-01-02", 99.0)],
            "id bigint, region string, day string, v double",
        )
        merge_delta(spark, path, src, key_cols=["id"])
        got = {r["id"]: tuple(r) for r in read_delta(spark, path).collect()}
        assert got[0] == (0, "eu", "2021-01-01", 100.0)
        assert got[99] == (99, "us", "2021-01-02", 99.0)
        assert len(got) == len(rows) + 1
        # pepper one leaf, then compact: live count shrinks, rows don't
        for _ in range(2):
            write_delta(
                spark,
                spark.createDataFrame(
                    [(200, "eu", "2021-01-01", 1.0)],
                    "id bigint, region string, day string, v double",
                ),
                path,
                partition_col=["region", "day"],
            )
        before = read_delta(spark, path)
        n_before_files = len(before.inputFiles())
        rows_before = sorted(tuple(r) for r in before.collect())
        assert optimize_delta(spark, path) is not None
        after = read_delta(spark, path)
        assert len(after.inputFiles()) < n_before_files
        assert sorted(tuple(r) for r in after.collect()) == rows_before

    def test_external_reader_parity_multicol(self, spark, tmp_path):
        from tests.delta_reader import (
            read_delta_external,
        )

        path = str(tmp_path / "t_mc5")
        self._seed(spark, path)
        sdf = read_delta(spark, path)
        names, rows = read_delta_external(path)
        assert names == sdf.columns
        assert sorted(rows) == sorted(tuple(r) for r in sdf.collect())


class TestOptimizeZorder:
    """OPTIMIZE ZORDER BY: rewriting the layout on the Morton code of
    two columns must make the per-file stats selective on BOTH, turning
    read_delta's file skipping from no-op into value-grain pruning —
    with identical rows and a dataChange=false commit the change feed
    ignores."""

    def test_zorder_makes_skipping_selective_on_both_columns(
        self, spark, tmp_path
    ):
        import random

        from portfolio_data_pipelines_spark.operators.delta_scan import (
            read_delta_changes,
        )

        path = str(tmp_path / "t_zo")
        rng = random.Random(11)
        for _ in range(2):
            rows = [
                (rng.randrange(1000), rng.randrange(1000)) for _ in range(2000)
            ]
            write_delta(
                spark,
                spark.createDataFrame(rows, "a bigint, b bigint").coalesce(4),
                path,
            )
        pred_a = {"a": (100, 140)}
        pred_b = {"b": (500, 540)}
        before = read_delta(spark, path)
        n_total = len(before.inputFiles())
        # round-robin layout: every file spans the whole range — no
        # file can be proven disjoint on either column
        assert len(read_delta(spark, path, predicate=pred_a).inputFiles()) == n_total
        rows_a = sorted(
            tuple(r)
            for r in read_delta(spark, path, predicate=pred_a)
            .filter(F.col("a").between(100, 140)).collect()
        )
        rows_before = sorted(tuple(r) for r in before.collect())

        v = optimize_delta(spark, path, zorder_by=["a", "b"], n_files=8)
        assert v is not None
        after = read_delta(spark, path)
        assert sorted(tuple(r) for r in after.collect()) == rows_before
        n_a = len(read_delta(spark, path, predicate=pred_a).inputFiles())
        n_b = len(read_delta(spark, path, predicate=pred_b).inputFiles())
        assert n_a < 8 and n_b < 8, (n_a, n_b)
        # answers unchanged under the pruned plan
        got_a = sorted(
            tuple(r)
            for r in read_delta(spark, path, predicate=pred_a)
            .filter(F.col("a").between(100, 140)).collect()
        )
        assert got_a == rows_a
        # layout commit: the change feed sees nothing new
        assert read_delta_changes(spark, path, from_version=v - 1).count() == 0

    def test_zorder_scoped_to_partition(self, spark, tmp_path):
        import random

        path = str(tmp_path / "t_zo_p")
        rng = random.Random(3)
        rows = [
            (rng.randrange(100), f"2021-01-{1 + i % 2:02d}", float(i))
            for i in range(400)
        ]
        write_delta(
            spark,
            spark.createDataFrame(rows, "a bigint, day string, v double"),
            path,
            partition_col="day",
        )
        v = optimize_delta(
            spark, path, partitions=["2021-01-01"], zorder_by=["a"], n_files=4
        )
        assert v is not None
        got = sorted(tuple(r) for r in read_delta(spark, path).collect())
        assert got == sorted(rows)


class TestRestore:
    """RESTORE TABLE TO VERSION: one metadata-only commit flips the
    live set back; history (including the rolled-back versions) stays
    time-travelable, and the feed sees the re-added files."""

    def test_restore_rolls_back_live_set_and_schema(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_maintain import (
            restore_delta,
        )

        path = str(tmp_path / "t_restore")
        write_delta(spark, _df(spark, [(1, 1.0, _day("2021-01-01"))]),
                    path, partition_col="date")
        write_delta(spark, _df(spark, [(2, 2.0, _day("2021-01-02"))]),
                    path, partition_col="date")
        # bad deploy: overwrite wipes everything, then evolves schema
        write_delta(
            spark,
            spark.createDataFrame(
                [(9, 9.0, _day("2021-03-01"), "oops")],
                "id bigint, v double, date date, extra string",
            ),
            path, partition_col="date", mode="overwrite",
        )
        v = restore_delta(spark, path, 1)
        assert v == 3
        got = read_delta(spark, path)
        assert got.columns == ["id", "v", "date"]  # schema rolled back
        assert sorted(tuple(r) for r in got.collect()) == [
            (1, 1.0, _day("2021-01-01")), (2, 2.0, _day("2021-01-02")),
        ]
        # the bad version is still auditable
        assert read_delta(spark, path, version=2).count() == 1
        # and the restore itself is one more normal commit
        assert sorted(
            tuple(r) for r in read_delta(spark, path, version=v).collect()
        ) == sorted(tuple(r) for r in read_delta(spark, path, version=1).collect())

    def test_restore_refuses_when_files_vacuumed(self, spark, tmp_path):
        import time as _time

        from portfolio_data_pipelines_spark.operators.delta_maintain import (
            restore_delta,
        )

        path = str(tmp_path / "t_restore_vac")
        write_delta(spark, _df(spark, [(1, 1.0, _day("2021-01-01"))]),
                    path, partition_col="date")
        write_delta(spark, _df(spark, [(2, 2.0, _day("2021-01-01"))]),
                    path, partition_col="date", mode="overwrite")
        future = int((_time.time() + 3600) * 1000)
        assert vacuum_delta(spark, path, retain_hours=0.0, now_ms=future)
        with pytest.raises(FileNotFoundError, match="vacuumed"):
            restore_delta(spark, path, 0)


class TestCheckConstraints:
    """Delta CHECK constraints: declared at creation, stored under
    delta.constraints.* in the table configuration, enforced on every
    commit path."""

    def _make(self, spark, tmp_path):
        path = str(tmp_path / "t_check")
        write_delta(
            spark,
            spark.createDataFrame([(1, 10.0)], "id bigint, v double"),
            path,
            constraints={"v_nonneg": "v >= 0", "id_pos": "id > 0"},
        )
        return path

    def test_constraints_recorded_and_enforced_on_append(self, spark, tmp_path):
        path = self._make(spark, tmp_path)
        log = tmp_path / "t_check" / "_delta_log"
        v0 = [json.loads(x) for x in (log / f"{0:020d}.json").read_text().splitlines()]
        conf = next(a["metaData"] for a in v0 if "metaData" in a)["configuration"]
        assert conf["delta.constraints.v_nonneg"] == "v >= 0"
        with pytest.raises(ValueError, match="v_nonneg"):
            write_delta(
                spark,
                spark.createDataFrame([(2, -1.0)], "id bigint, v double"),
                path,
            )
        # the rejected commit left no trace
        assert _rows(spark, read_delta(spark, path)) == [(1, 10.0)]
        # a clean batch passes
        write_delta(
            spark,
            spark.createDataFrame([(2, 0.0)], "id bigint, v double"),
            path,
        )
        assert read_delta(spark, path).count() == 2

    def test_null_passes_and_merge_is_gated(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta

        path = self._make(spark, tmp_path)
        # SQL CHECK semantics: NULL is not a violation
        write_delta(
            spark,
            spark.createDataFrame([(3, None)], "id bigint, v double"),
            path,
        )
        with pytest.raises(ValueError, match="id_pos"):
            merge_delta(
                spark,
                path,
                spark.createDataFrame([(-5, 1.0)], "id bigint, v double"),
                key_cols=["id"],
            )

    def test_violating_creation_leaves_nothing(self, spark, tmp_path):
        path = str(tmp_path / "t_check_v0")
        with pytest.raises(ValueError, match="v_nonneg"):
            write_delta(
                spark,
                spark.createDataFrame([(1, -1.0)], "id bigint, v double"),
                path,
                constraints={"v_nonneg": "v >= 0"},
            )
        import os

        assert not os.path.exists(os.path.join(path, "_delta_log"))

    def test_constraints_only_at_creation(self, spark, tmp_path):
        path = self._make(spark, tmp_path)
        with pytest.raises(ValueError, match="table creation"):
            write_delta(
                spark,
                spark.createDataFrame([(4, 1.0)], "id bigint, v double"),
                path,
                constraints={"late": "id < 100"},
            )


class TestAdviceR7:
    """Round-7 ADVICE items: tz-normalized timestamp data skipping,
    full-history timestampAsOf resolution, RESTORE re-adds with
    dataChange=true, single-evaluation constrained commits, and the
    PID-isolated bench fixture path."""

    def test_skipping_mixed_tz_forms_keeps_file(self):
        """A file whose naive-ISO stats equal a tz-aware bound at the
        range boundary is the SAME instant — lexicographic comparison
        would prune it ('…12:00:00' < '…12:00:00+00:00'), silently
        losing rows. Normalized temporal comparison must keep it, in
        both mixed directions."""
        import datetime as dt

        from portfolio_data_pipelines_spark.operators.delta_scan import _file_may_match

        naive_stats = {
            "minValues": {"ts": "2024-01-10T00:00:00"},
            "maxValues": {"ts": "2024-01-10T12:00:00"},
        }
        aware_stats = {
            "minValues": {"ts": "2024-01-10T00:00:00+00:00"},
            "maxValues": {"ts": "2024-01-10T12:00:00+00:00"},
        }
        aware_lo = dt.datetime(
            2024, 1, 10, 12, 0, 0, tzinfo=dt.timezone.utc
        )
        naive_lo = dt.datetime(2024, 1, 10, 12, 0, 0)
        for stats in (naive_stats, aware_stats):
            add = {"stats": json.dumps(stats), "partitionValues": {}}
            for lo in (aware_lo, naive_lo):
                assert _file_may_match(add, [], {"ts": (lo, None)}), (
                    stats,
                    lo,
                )
        # and the skip itself still fires when the file is genuinely
        # disjoint, in mixed representations
        add = {"stats": json.dumps(naive_stats), "partitionValues": {}}
        later = dt.datetime(2024, 1, 10, 12, 0, 1, tzinfo=dt.timezone.utc)
        assert not _file_may_match(add, [], {"ts": (later, None)})

    def test_skipping_mixed_tz_forms_e2e(self, spark, tmp_path):
        """End-to-end: Spark-written UTC-adjusted parquet yields
        tz-aware footer stats; a predicate bound built from a NAIVE
        datetime at the exact boundary must not lose the boundary row."""
        import datetime as dt

        path = str(tmp_path / "t_tz_skip")
        rows = [
            (1, dt.datetime(2024, 1, 10, 6, 0, 0)),
            (2, dt.datetime(2024, 1, 10, 12, 0, 0)),
        ]
        write_delta(
            spark,
            spark.createDataFrame(rows, "id bigint, ts timestamp"),
            path,
        )
        bound = dt.datetime(2024, 1, 10, 12, 0, 0)  # naive, == max
        got = read_delta(spark, path, predicate={"ts": (bound, None)})
        assert got.filter(F.col("ts") >= F.lit(bound)).count() == 1

        # the genuinely-losing direction pre-fix: NAIVE file stats
        # (timestamp_ntz parquet, isAdjustedToUTC=false) against a
        # tz-AWARE bound — lexicographically the naive max sorts BELOW
        # the aware bound at the same instant, pruning the file.
        path2 = str(tmp_path / "t_tz_skip_ntz")
        write_delta(
            spark,
            spark.createDataFrame(rows, "id bigint, ts timestamp_ntz"),
            path2,
        )
        aware = dt.datetime(2024, 1, 10, 12, 0, 0, tzinfo=dt.timezone.utc)
        got2 = read_delta(spark, path2, predicate={"ts": (aware, None)})
        assert got2.count() >= 1, "boundary file was wrongly pruned"
        assert 2 in {r["id"] for r in got2.collect()}

    def test_timestamp_as_of_before_checkpoint(self, spark, tmp_path):
        """timestampAsOf must resolve versions BEFORE the latest
        checkpoint: delta-spark searches the full retained commit
        listing, not the checkpoint-anchored tail. Probe a table with
        a checkpoint at v10 for a time stamped at v3."""
        import datetime as dt
        import os
        import time

        from portfolio_data_pipelines_spark.operators.delta_scan import version_as_of

        path = str(tmp_path / "t_asof_cp")
        for i in range(DELTA_CHECKPOINT_EVERY + 2):
            write_delta(
                spark,
                spark.createDataFrame([(i, float(i))], "id bigint, v double"),
                path,
            )
            time.sleep(0.02)  # distinct commit mtimes
        assert os.path.exists(
            os.path.join(
                path,
                "_delta_log",
                f"{DELTA_CHECKPOINT_EVERY:020d}.checkpoint.parquet",
            )
        )
        target_v = 3
        mtime_ms = int(
            os.path.getmtime(
                os.path.join(path, "_delta_log", f"{target_v:020d}.json")
            )
            * 1000
        )
        next_ms = int(
            os.path.getmtime(
                os.path.join(path, "_delta_log", f"{target_v + 1:020d}.json")
            )
            * 1000
        )
        assert mtime_ms < next_ms, "commit mtimes not distinct"
        ts = dt.datetime.fromtimestamp(
            mtime_ms / 1000.0, tz=dt.timezone.utc
        ).isoformat()
        assert version_as_of(spark, path, ts) == target_v
        # and the resolved version reads back the right snapshot
        got = read_delta(spark, path, as_of=ts)
        assert got.count() == target_v + 1

    def test_restore_readds_with_datachange_true(self, spark, tmp_path):
        """A file originally committed by OPTIMIZE (dataChange=false)
        that is removed and later RESTOREd must re-enter with
        dataChange=true — Delta RESTORE semantics — so the change feed
        and delta_feed see the restored rows."""
        from portfolio_data_pipelines_spark.operators.delta_maintain import (
            restore_delta,
        )
        from portfolio_data_pipelines_spark.operators.delta_scan import (
            read_delta_changes,
        )

        path = str(tmp_path / "t_restore_dc")
        write_delta(spark, _df(spark, [(1, 1.0, _day("2024-01-01"))]), path)
        write_delta(spark, _df(spark, [(2, 2.0, _day("2024-01-01"))]), path)
        v_opt = optimize_delta(spark, path)  # compacted add, dataChange=false
        write_delta(
            spark,
            _df(spark, [(9, 9.0, _day("2024-02-02"))]),
            path,
            mode="overwrite",
        )
        v_restore = restore_delta(spark, path, v_opt)
        log_file = (
            tmp_path / "t_restore_dc" / "_delta_log" / f"{v_restore:020d}.json"
        )
        readds = [
            json.loads(x)["add"]
            for x in log_file.read_text().splitlines()
            if "add" in json.loads(x)
        ]
        assert readds, "restore re-added no files"
        assert all(a["dataChange"] is True for a in readds)
        # the change feed sees the restored rows
        feed = read_delta_changes(spark, path, from_version=v_restore - 1)
        ids = sorted(
            r["id"] for r in feed.filter(
                F.col("_commit_version") == v_restore
            ).collect()
        )
        assert ids == [1, 2]

    def test_constrained_commit_single_evaluation(self, spark, tmp_path):
        """The batch a constraint validates must be THE batch staged:
        _enforce_constraints returns a cached frame (pinning one
        evaluation of a nondeterministic source), and the commit path
        unpersists it afterwards."""
        from portfolio_data_pipelines_spark.operators.delta_log import (
            _enforce_constraints,
        )

        df = spark.range(10).select(
            F.col("id"), F.rand(seed=7).alias("v")
        )
        meta = {"configuration": {"delta.constraints.c": "v >= 0"}}
        out, did_cache = _enforce_constraints(df, meta)
        assert did_cache and out.is_cached
        out.unpersist()
        # no constraints: same frame straight through, nothing cached
        assert _enforce_constraints(df, {"configuration": {}}) == (df, False)

        path = str(tmp_path / "t_check_once")
        src = spark.range(50).select(F.col("id"), F.rand().alias("v"))
        write_delta(spark, src, path, constraints={"v_unit": "v >= 0 AND v < 1"})
        got = read_delta(spark, path)
        assert got.count() == 50
        # every committed row satisfies the constraint it was checked
        # against (one evaluation — a recompute of rand() would still
        # pass here, but the cache contract above pins the mechanism)
        assert got.filter(~((F.col("v") >= 0) & (F.col("v") < 1))).count() == 0

    def test_bench_fixture_path_is_pid_isolated(self):
        """Two processes benching the same scale factor must not share
        the delta fixture directory (delete/rewrite vs mid-read race)."""
        import inspect

        from portfolio_data_pipelines_spark.queries import lakehouse

        src = inspect.getsource(lakehouse.delta_skip_daily_mart)
        assert "getpid" in src


class TestRowLevelCDF:
    """read_delta_cdf — row-level change-data-feed reconstructed from
    the log: per commit, insert / update_preimage / update_postimage /
    delete with _commit_version; carried-over rows of copy-on-write
    rewrites are NOT re-delivered; layout commits are invisible."""

    @staticmethod
    def _cdf(spark, path, lo, hi=None):
        from portfolio_data_pipelines_spark.operators.delta_cdf import read_delta_cdf

        return read_delta_cdf(
            spark, path, from_version=lo, key_cols=["id"], to_version=hi
        )

    @staticmethod
    def _snapshot(spark, path, v):
        return {
            r["id"]: (r["v"], r["date"])
            for r in read_delta(spark, path, version=v).collect()
        }

    def _lifecycle(self, spark, tmp_path):
        """Build one table through every commit shape; return its path
        and the list of committed versions."""
        from portfolio_data_pipelines_spark.operators.delta_maintain import (
            restore_delta,
        )

        path = str(tmp_path / "t_cdf_life")
        write_delta(  # v0 initial insert
            spark,
            _df(spark, [(1, 1.0, _day("2024-01-01")),
                        (2, 2.0, _day("2024-01-01")),
                        (3, 3.0, _day("2024-01-02"))]),
            path, partition_col="date",
        )
        write_delta(  # v1 plain append
            spark, _df(spark, [(4, 4.0, _day("2024-01-02"))]),
            path, partition_col="date",
        )
        merge_delta(  # v2 merge: update id2, insert id5
            spark, path,
            _df(spark, [(2, 20.0, _day("2024-01-01")),
                        (5, 5.0, _day("2024-01-03"))]),
            key_cols=["id"],
        )
        write_delta(  # v3 replaceWhere day 2: keep id3 changed, drop id4
            spark, _df(spark, [(3, 30.0, _day("2024-01-02"))]),
            path, partition_col="date", mode="overwrite",
            replace_partitions=["2024-01-02"],
        )
        write_delta(  # v4 second small append into day 2 — gives
            # OPTIMIZE a ≥2-file partition to compact (r17: staged
            # writes rebalance per partition value, so single commits
            # no longer leave multi-file partitions behind)
            spark, _df(spark, [(6, 6.0, _day("2024-01-02"))]),
            path, partition_col="date",
        )
        optimize_delta(spark, path)  # v5 layout only
        restore_delta(spark, path, 2)  # v6 rollback to post-merge state
        write_delta(  # v7 truncating overwrite
            spark, _df(spark, [(9, 9.0, _day("2024-02-01"))]),
            path, partition_col="date", mode="overwrite",
        )
        return path, list(range(8))

    def test_merge_does_not_redeliver_carried_rows(self, spark, tmp_path):
        """The append feed re-delivers every row of a rewritten file;
        the CDF emits only the net changes of the MERGE."""
        from portfolio_data_pipelines_spark.operators.delta_scan import (
            read_delta_changes,
        )

        path = str(tmp_path / "t_cdf_merge")
        write_delta(
            spark,
            _df(spark, [(1, 1.0, _day("2024-01-01")),
                        (2, 2.0, _day("2024-01-01"))]).coalesce(1),
            path,
        )
        merge_delta(
            spark, path,
            _df(spark, [(2, 20.0, _day("2024-01-01")),
                        (7, 7.0, _day("2024-01-01"))]),
            key_cols=["id"],
        )
        append_feed = read_delta_changes(spark, path, from_version=0)
        # the rewrite re-delivered the carried-over id=1 row
        assert 1 in {r["id"] for r in append_feed.collect()}
        cdf = self._cdf(spark, path, 0)
        got = sorted(
            (r["_change_type"], r["id"], r["v"]) for r in cdf.collect()
        )
        assert got == [
            ("insert", 7, 7.0),
            ("update_postimage", 2, 20.0),
            ("update_preimage", 2, 2.0),
        ]

    def test_per_commit_equals_snapshot_diff(self, spark, tmp_path):
        """Every commit's CDF slice must equal the keyed value-level
        diff of the two adjacent snapshots, including MERGE,
        replaceWhere, OPTIMIZE (empty), RESTORE, and a truncating
        overwrite."""
        path, versions = self._lifecycle(spark, tmp_path)
        for v in versions[1:]:
            old = self._snapshot(spark, path, v - 1)
            new = self._snapshot(spark, path, v)
            want = []
            for k in old.keys() - new.keys():
                want.append(("delete", k) + old[k])
            for k in new.keys() - old.keys():
                want.append(("insert", k) + new[k])
            for k in old.keys() & new.keys():
                if old[k] != new[k]:
                    want.append(("update_preimage", k) + old[k])
                    want.append(("update_postimage", k) + new[k])
            got = [
                (r["_change_type"], r["id"], r["v"], r["date"])
                for r in self._cdf(spark, path, v - 1, v).collect()
            ]
            assert sorted(got) == sorted(want), f"commit {v}"
            # and every emitted row carries the right version
            assert all(
                r["_commit_version"] == v
                for r in self._cdf(spark, path, v - 1, v).collect()
            )

    def test_apply_changes_reconstructs_snapshot(self, spark, tmp_path):
        """Folding the CDF stream over the starting snapshot must land
        exactly on the ending snapshot (the consumer-side contract)."""
        path, versions = self._lifecycle(spark, tmp_path)
        state = self._snapshot(spark, path, 0)
        cdf = self._cdf(spark, path, 0).collect()
        for r in sorted(cdf, key=lambda r: r["_commit_version"]):
            if r["_change_type"] in ("delete", "update_preimage"):
                state.pop(r["id"], None)
            if r["_change_type"] in ("insert", "update_postimage"):
                state[r["id"]] = (r["v"], r["date"])
        assert state == self._snapshot(spark, path, versions[-1])

    def test_optimize_range_is_empty(self, spark, tmp_path):
        path, _ = self._lifecycle(spark, tmp_path)
        assert self._cdf(spark, path, 4, 5).count() == 0  # v5 = OPTIMIZE

    def test_empty_feed_schema(self, spark, tmp_path):
        path, _ = self._lifecycle(spark, tmp_path)
        empty = self._cdf(spark, path, 4, 5)
        assert empty.columns == [
            "id", "v", "date",
            "_change_type", "_commit_version", "_commit_timestamp",
        ]

    def test_bad_key_cols_raise(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_cdf import read_delta_cdf

        path, _ = self._lifecycle(spark, tmp_path)
        with pytest.raises(ValueError, match="key_cols"):
            read_delta_cdf(spark, path, 0, key_cols=["nope"])


class TestFullTupleScoping:
    """Round-7 task 2: replace_partitions and optimize_delta accept
    full-tuple / dict scopes over multi-level layouts — one (region,
    day) cell is overwritten or compacted while every other cell's
    files stay byte-identical (file-list pinned), and the independent
    spec-only reader agrees with the writer afterwards."""

    @staticmethod
    def _seed(spark, path):
        rows = [
            (i, ["eu", "us"][i % 2], f"2021-01-{1 + i % 2:02d}", float(i))
            for i in range(16)
        ]
        df = spark.createDataFrame(
            rows, "id bigint, region string, day string, v double"
        )
        write_delta(spark, df, path, partition_col=["region", "day"])
        return rows

    @staticmethod
    def _live(spark, path):
        from portfolio_data_pipelines_spark.operators.delta_log import (
            _replay_log,
        )

        return dict(_replay_log(spark, path, None).adds)

    @staticmethod
    def _cell(rel):
        region = day = None
        for seg in rel.split("/"):
            if seg.startswith("region="):
                region = seg.split("=", 1)[1]
            elif seg.startswith("day="):
                day = seg.split("=", 1)[1]
        return (region, day)

    def test_replace_one_cell_tuple(self, spark, tmp_path):
        path = str(tmp_path / "t_cell_rw")
        rows = self._seed(spark, path)
        before = self._live(spark, path)
        repl = spark.createDataFrame(
            [(100, "eu", "2021-01-01", 100.0)],
            "id bigint, region string, day string, v double",
        )
        write_delta(
            spark, repl, path, partition_col=["region", "day"],
            mode="overwrite",
            replace_partitions=[("eu", "2021-01-01")],
        )
        after = self._live(spark, path)
        # every file OUTSIDE the (eu, 2021-01-01) cell survived untouched
        for rel, a in before.items():
            if self._cell(rel) == ("eu", "2021-01-01"):
                assert rel not in after
            else:
                assert after[rel] == a, rel
        want = [r for r in rows if not (r[1] == "eu" and r[2] == "2021-01-01")]
        want.append((100, "eu", "2021-01-01", 100.0))
        assert sorted(
            tuple(r) for r in read_delta(spark, path).collect()
        ) == sorted(want)
        # independent spec-only reader parity on the result
        from tests.delta_reader import (
            read_delta_external,
        )

        names, ext_rows = read_delta_external(path)
        idx = [names.index(c) for c in ["id", "region", "day", "v"]]
        assert sorted(
            tuple(row[i] for i in idx) for row in ext_rows
        ) == sorted(want)

    def test_replace_dict_scope_spans_regions(self, spark, tmp_path):
        """A dict scope {day: D} replaces that day across EVERY region."""
        path = str(tmp_path / "t_cell_dict")
        rows = self._seed(spark, path)
        repl = spark.createDataFrame(
            [(200, "eu", "2021-01-02", 1.0), (201, "us", "2021-01-02", 2.0)],
            "id bigint, region string, day string, v double",
        )
        write_delta(
            spark, repl, path, partition_col=["region", "day"],
            mode="overwrite",
            replace_partitions=[{"day": "2021-01-02"}],
        )
        want = [r for r in rows if r[2] != "2021-01-02"] + [
            (200, "eu", "2021-01-02", 1.0), (201, "us", "2021-01-02", 2.0)
        ]
        assert sorted(
            tuple(r) for r in read_delta(spark, path).collect()
        ) == sorted(want)

    def test_replace_scope_rejects_stray_rows(self, spark, tmp_path):
        path = str(tmp_path / "t_cell_stray")
        self._seed(spark, path)
        stray = spark.createDataFrame(
            [(300, "us", "2021-01-01", 3.0)],  # outside the (eu, ...) scope
            "id bigint, region string, day string, v double",
        )
        with pytest.raises(ValueError, match="replace_partitions"):
            write_delta(
                spark, stray, path, partition_col=["region", "day"],
                mode="overwrite",
                replace_partitions=[("eu", "2021-01-01")],
            )

    def test_optimize_one_cell_tuple(self, spark, tmp_path):
        path = str(tmp_path / "t_cell_opt")
        self._seed(spark, path)
        # pepper ONE cell with micro-appends
        for k in range(3):
            write_delta(
                spark,
                spark.createDataFrame(
                    [(400 + k, "eu", "2021-01-01", float(k))],
                    "id bigint, region string, day string, v double",
                ),
                path, partition_col=["region", "day"],
            )
        before = self._live(spark, path)
        rows_before = sorted(
            tuple(r) for r in read_delta(spark, path).collect()
        )
        v = optimize_delta(
            spark, path, partitions=[("eu", "2021-01-01")]
        )
        assert v is not None
        after = self._live(spark, path)
        # cells outside the scope kept their exact files
        for rel, a in before.items():
            if self._cell(rel) != ("eu", "2021-01-01"):
                assert after[rel] == a, rel
        # the scoped cell compacted to one file, rows identical
        cell_files = [
            rel for rel in after if self._cell(rel) == ("eu", "2021-01-01")
        ]
        assert len(cell_files) == 1
        assert sorted(
            tuple(r) for r in read_delta(spark, path).collect()
        ) == rows_before
        # untouched-cell files stayed multi... at least unchanged count
        from tests.delta_reader import (
            read_delta_external,
        )

        names, ext_rows = read_delta_external(path)
        idx = [names.index(c) for c in ["id", "region", "day", "v"]]
        assert sorted(
            tuple(row[i] for i in idx) for row in ext_rows
        ) == rows_before

    def test_scalar_scope_still_first_column(self, spark, tmp_path):
        """Backward compatibility: a scalar scope names first-column
        values and covers every sub-partition under them."""
        path = str(tmp_path / "t_cell_scalar")
        rows = self._seed(spark, path)
        repl = spark.createDataFrame(
            [(500, "eu", "2021-01-01", 5.0), (501, "eu", "2021-01-02", 6.0)],
            "id bigint, region string, day string, v double",
        )
        write_delta(
            spark, repl, path, partition_col=["region", "day"],
            mode="overwrite", replace_partitions=["eu"],
        )
        want = [r for r in rows if r[1] != "eu"] + [
            (500, "eu", "2021-01-01", 5.0), (501, "eu", "2021-01-02", 6.0)
        ]
        assert sorted(
            tuple(r) for r in read_delta(spark, path).collect()
        ) == sorted(want)

    def test_unknown_dict_column_raises(self, spark, tmp_path):
        path = str(tmp_path / "t_cell_bad")
        self._seed(spark, path)
        with pytest.raises(ValueError, match="unknown column"):
            write_delta(
                spark,
                spark.createDataFrame(
                    [(1, "eu", "2021-01-01", 1.0)],
                    "id bigint, region string, day string, v double",
                ),
                path, partition_col=["region", "day"],
                mode="overwrite", replace_partitions=[{"nope": "x"}],
            )


class TestConstraintLifecycle:
    """Round-7 task 7: constraints after creation (history-validated),
    constraint + schema evolution in one commit, and constrained
    stream-sink replay."""

    def test_add_constraint_rejects_violating_history(self, spark, tmp_path):
        """Delta validates EXISTING data before accepting a constraint:
        a table already holding a violating row must refuse ALTER TABLE
        ADD CONSTRAINT, leaving the configuration unchanged."""
        from portfolio_data_pipelines_spark.operators.delta_alter import (
            add_check_constraint,
        )
        from portfolio_data_pipelines_spark.operators.delta_log import _replay_log

        path = str(tmp_path / "t_addc_bad")
        write_delta(spark, _df(spark, [(1, -5.0, _day("2024-01-01"))]), path)
        with pytest.raises(ValueError, match="existing row"):
            add_check_constraint(spark, path, "v_nonneg", "v >= 0")
        meta = _replay_log(spark, path, None).meta
        assert not (meta.get("configuration") or {})

    def test_add_constraint_then_enforced(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_alter import (
            add_check_constraint,
            drop_check_constraint,
        )

        path = str(tmp_path / "t_addc")
        write_delta(spark, _df(spark, [(1, 1.0, _day("2024-01-01"))]), path)
        v = add_check_constraint(spark, path, "v_nonneg", "v >= 0")
        assert v == 1
        with pytest.raises(ValueError, match="v_nonneg"):
            write_delta(
                spark, _df(spark, [(2, -2.0, _day("2024-01-01"))]), path
            )
        # a duplicate add is refused
        with pytest.raises(ValueError, match="already exists"):
            add_check_constraint(spark, path, "v_nonneg", "v >= 0")
        # DROP removes enforcement
        drop_check_constraint(spark, path, "v_nonneg")
        write_delta(spark, _df(spark, [(2, -2.0, _day("2024-01-01"))]), path)
        assert read_delta(spark, path).count() == 2
        with pytest.raises(ValueError, match="no CHECK constraint"):
            drop_check_constraint(spark, path, "nope")

    def test_constraint_survives_evolution_in_same_commit(self, spark, tmp_path):
        """A commit that BOTH widens the schema and is constraint-
        checked: the evolved metaData must carry the configuration
        forward, and enforcement must keep working after evolution —
        including when the new column is later constrained too."""
        from portfolio_data_pipelines_spark.operators.delta_alter import (
            add_check_constraint,
        )
        from portfolio_data_pipelines_spark.operators.delta_log import _replay_log

        path = str(tmp_path / "t_evo_c")
        write_delta(
            spark, _df(spark, [(1, 1.0, _day("2024-01-01"))]), path,
            constraints={"v_nonneg": "v >= 0"},
        )
        # widened commit passes the constraint AND evolves the schema
        wide = spark.createDataFrame(
            [(2, 2.0, _day("2024-01-01"), "x")],
            "id bigint, v double, date date, tag string",
        )
        write_delta(spark, wide, path)
        meta = _replay_log(spark, path, None).meta
        assert meta["configuration"] == {"delta.constraints.v_nonneg": "v >= 0"}
        assert "tag" in meta["schemaString"]
        # still enforced post-evolution
        bad = spark.createDataFrame(
            [(3, -3.0, _day("2024-01-01"), "y")],
            "id bigint, v double, date date, tag string",
        )
        with pytest.raises(ValueError, match="v_nonneg"):
            write_delta(spark, bad, path)
        # a violating widened commit is rejected BEFORE evolving the schema
        meta2 = _replay_log(spark, path, None).meta
        assert meta2["schemaString"] == meta["schemaString"]
        # constrain the evolved column (nulls pass per SQL CHECK — old
        # rows without 'tag' read as NULL and do not block the add)
        add_check_constraint(spark, path, "tag_short", "length(tag) <= 3")
        with pytest.raises(ValueError, match="tag_short"):
            write_delta(
                spark,
                spark.createDataFrame(
                    [(4, 4.0, _day("2024-01-01"), "toolong")],
                    "id bigint, v double, date date, tag string",
                ),
                path,
            )

    def test_constrained_stream_sink_replay(self, spark, tmp_path):
        """delta_stream_sink on a constrained table: valid batches
        commit exactly once across a replay (txn ledger), and a
        violating batch fails the write leaving the table clean."""
        from portfolio_data_pipelines_spark.operators.delta_log import (
            delta_stream_sink,
        )

        path = str(tmp_path / "t_sink_c")
        write_delta(
            spark, _df(spark, [(0, 0.5, _day("2024-01-01"))]), path,
            constraints={"v_nonneg": "v >= 0"},
        )
        sink = delta_stream_sink(path, app_id="capp")
        b1 = _df(spark, [(1, 1.0, _day("2024-01-01"))])
        sink(b1, 1)
        sink(b1, 1)  # replayed batch: txn ledger skips, not re-checked-in
        assert read_delta(spark, path).count() == 2
        bad = _df(spark, [(2, -1.0, _day("2024-01-01"))])
        with pytest.raises(ValueError, match="v_nonneg"):
            sink(bad, 2)
        assert read_delta(spark, path).count() == 2  # nothing staged
        # after the failure, a corrected batch with the same id commits
        sink(_df(spark, [(2, 1.0, _day("2024-01-01"))]), 2)
        assert sorted(r["id"] for r in read_delta(spark, path).collect()) == [0, 1, 2]


class TestMergeStatsPruning:
    """r7: MERGE's discovery pass prunes stats-disjoint files BEFORE
    scanning — a merge of one key range into a deep table plans only
    the overlapping files."""

    def _seed_two_ranges(self, spark, tmp_path, name):
        path = str(tmp_path / name)
        write_delta(
            spark,
            _df(spark, [(i, float(i), _day("2024-01-01")) for i in range(1, 11)])
            .coalesce(1),
            path,
        )
        write_delta(
            spark,
            _df(spark, [(i, float(i), _day("2024-01-02"))
                        for i in range(1000, 1011)]).coalesce(1),
            path,
        )
        return path

    def test_discovery_scans_only_overlapping_files(
        self, spark, tmp_path, monkeypatch
    ):
        import portfolio_data_pipelines_spark.operators.delta_scan as ds
        import portfolio_data_pipelines_spark.operators.delta_merge as dm

        # force the at-scale two-action path (stats pruning) — small
        # live sets take the r17 fused single-action discovery, which
        # deliberately scans every file (see test_fused_discovery...)
        monkeypatch.setattr(dm, "FUSED_DISCOVERY_MAX_FILES", 0)
        path = self._seed_two_ranges(spark, tmp_path, "t_mprune")
        calls = []
        orig = ds._fast_hive_read

        def spy(spark_, path_, adds, schema, pcols):
            calls.append(sorted(adds))
            return orig(spark_, path_, adds, schema, pcols)

        monkeypatch.setattr(ds, "_fast_hive_read", spy)
        merge_delta(
            spark, path,
            _df(spark, [(1005, 5000.0, _day("2024-01-02"))]),
            key_cols=["id"],
        )
        # discovery (first read call) saw ONLY the high-range file
        assert len(calls[0]) == 1
        assert "v000001" in calls[0][0]
        got = {r["id"]: r["v"] for r in read_delta(spark, path).collect()}
        assert got[1005] == 5000.0 and got[1] == 1.0 and len(got) == 21

    def test_disjoint_merge_is_pure_insert_zero_scans(
        self, spark, tmp_path, monkeypatch
    ):
        import portfolio_data_pipelines_spark.operators.delta_scan as ds
        import portfolio_data_pipelines_spark.operators.delta_merge as dm

        monkeypatch.setattr(dm, "FUSED_DISCOVERY_MAX_FILES", 0)
        path = self._seed_two_ranges(spark, tmp_path, "t_mprune2")
        calls = []
        orig = ds._fast_hive_read

        def spy(spark_, path_, adds, schema, pcols):
            calls.append(sorted(adds))
            return orig(spark_, path_, adds, schema, pcols)

        monkeypatch.setattr(ds, "_fast_hive_read", spy)
        merge_delta(
            spark, path,
            _df(spark, [(500, 0.5, _day("2024-01-03"))]),  # between ranges
            key_cols=["id"],
        )
        assert calls == []  # zero read calls: nothing to discover or rewrite
        got = read_delta(spark, path)
        assert got.count() == 22
        assert calls  # the spy does see reads: the zero above is real
        # both original files still live (no rewrite commit touched them)
        from portfolio_data_pipelines_spark.operators.delta_log import (
            _replay_log,
        )

        live = _replay_log(spark, path, None).adds
        assert sum(1 for rel in live if "v000000" in rel or "v000001" in rel) == 2

    def test_fused_discovery_single_action_same_result(
        self, spark, tmp_path
    ):
        """r17: small live sets (≤ FUSED_DISCOVERY_MAX_FILES) fuse the
        dup-key check and the touched-file discovery into ONE Spark
        action; the rewrite set and the merged rows equal the pruned
        two-action path's."""
        import pytest as _pytest

        import portfolio_data_pipelines_spark.operators.delta_scan as ds

        path = self._seed_two_ranges(spark, tmp_path, "t_mfused")
        calls = []
        orig = ds._fast_hive_read

        def spy(spark_, path_, adds, schema, pcols):
            calls.append(sorted(adds))
            return orig(spark_, path_, adds, schema, pcols)

        mp = _pytest.MonkeyPatch()
        mp.setattr(ds, "_fast_hive_read", spy)
        try:
            merge_delta(
                spark, path,
                _df(spark, [(1005, 5000.0, _day("2024-01-02")),
                            (2000, 2.5, _day("2024-01-03"))]),
                key_cols=["id"],
            )
        finally:
            mp.undo()
        # the fused discovery reads ALL live files' key columns in its
        # one action (no stats pruning below the file bound); only the
        # touched file is then re-read for the rewrite
        assert len(calls[0]) == 2
        assert len(calls[1]) == 1 and "v000001" in calls[1][0]
        got = {r["id"]: r["v"] for r in read_delta(spark, path).collect()}
        assert got[1005] == 5000.0 and got[2000] == 2.5 and len(got) == 22
        # duplicate source keys still refused through the fused profile
        import pytest as _pytest

        with _pytest.raises(ValueError, match="duplicate keys"):
            merge_delta(
                spark, path,
                _df(spark, [(1, 1.0, _day("2024-01-01")),
                            (1, 2.0, _day("2024-01-01"))]),
                key_cols=["id"],
            )


class TestCommitInfoHistory:
    """commitInfo actions at the head of every commit + DESCRIBE
    HISTORY: operation provenance per the spec (informational — replay
    ignores it, checkpoints do not carry it)."""

    def test_full_lifecycle_history(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_alter import (
            add_check_constraint,
            drop_check_constraint,
        )
        from portfolio_data_pipelines_spark.operators.delta_maintain import (
            describe_history,
            restore_delta,
        )

        path = str(tmp_path / "t_hist")
        write_delta(spark, _df(spark, [(1, 1.0, _day("2024-01-01"))]), path)
        write_delta(spark, _df(spark, [(2, 2.0, _day("2024-01-01"))]), path)
        merge_delta(spark, path,
                    _df(spark, [(2, 20.0, _day("2024-01-01"))]),
                    key_cols=["id"])
        optimize_delta(spark, path)
        restore_delta(spark, path, 2)
        add_check_constraint(spark, path, "v_pos", "v > 0")
        drop_check_constraint(spark, path, "v_pos")
        write_delta(spark, _df(spark, [(3, 3.0, _day("2024-01-01"))]), path,
                    txn=("app", 1))
        hist = describe_history(spark, path).collect()
        ops = [(r["version"], r["operation"]) for r in hist]
        assert ops == [
            (7, "STREAMING UPDATE"),
            (6, "DROP CONSTRAINT"),
            (5, "ADD CONSTRAINT"),
            (4, "RESTORE"),
            (3, "OPTIMIZE"),
            (2, "MERGE"),
            (1, "WRITE"),
            (0, "WRITE"),
        ]
        by_v = {r["version"]: r for r in hist}
        assert by_v[2]["operationParameters"]["keyColumns"] == '["id"]'
        assert by_v[4]["operationParameters"]["version"] == "2"
        assert by_v[0]["operationParameters"]["mode"] == "Append"
        assert all(r["timestamp"] is not None for r in hist)
        # every commit reports its written bytes and its time: the staged
        # adds' sizes, from the transaction's open to its commit
        for v in (0, 1, 2, 3):
            m = by_v[v]["operationMetrics"]
            adds = [
                json.loads(x)["add"]
                for x in (tmp_path / "t_hist" / "_delta_log"
                          / f"{v:020d}.json").read_text().splitlines()
                if '"add"' in x
            ]
            assert int(m["numOutputBytes"]) == sum(a["size"] for a in adds) > 0
            assert int(m["executionTimeMs"]) >= 0

    def test_commit_info_first_line_and_not_in_checkpoint(self, spark, tmp_path):
        path = str(tmp_path / "t_hist_cp")
        for i in range(DELTA_CHECKPOINT_EVERY + 1):
            write_delta(
                spark, _df(spark, [(i, float(i), _day("2024-01-01"))]), path
            )
        log = tmp_path / "t_hist_cp" / "_delta_log"
        first = json.loads(
            (log / f"{0:020d}.json").read_text().splitlines()[0]
        )
        assert "commitInfo" in first
        import pyarrow.parquet as pq

        cp = pq.read_table(
            str(log / f"{DELTA_CHECKPOINT_EVERY:020d}.checkpoint.parquet")
        )
        assert "commitInfo" not in cp.column_names
        # replay is unaffected
        assert read_delta(spark, path).count() == DELTA_CHECKPOINT_EVERY + 1

    def test_foreign_commits_without_info_surface_null(self, spark, tmp_path):
        """A commit written by an engine that omits commitInfo (it's
        optional in the spec) still appears in history with a null
        operation and a file-mtime timestamp."""
        from portfolio_data_pipelines_spark.operators.delta_maintain import (
            describe_history,
        )

        path = str(tmp_path / "t_hist_foreign")
        write_delta(spark, _df(spark, [(1, 1.0, _day("2024-01-01"))]), path)
        log_file = tmp_path / "t_hist_foreign" / "_delta_log" / f"{0:020d}.json"
        stripped = "\n".join(
            line
            for line in log_file.read_text().splitlines()
            if "commitInfo" not in json.loads(line)
        )
        log_file.write_text(stripped)
        crc = log_file.parent / f".{log_file.name}.crc"
        if crc.exists():
            crc.unlink()  # hadoop local-FS checksum sidecar is now stale
        hist = describe_history(spark, path).collect()
        assert hist[0]["operation"] is None
        assert hist[0]["timestamp"] is not None


class TestApplyChanges:
    """apply_changes_delta / delta_cdf_apply_sink — the CDF consumer:
    source table → read_delta_cdf → apply into a replica, and the
    replica converges to the source across merge / replaceWhere /
    restore / truncating overwrite."""

    def _bootstrap_replica(self, spark, tmp_path, name):
        from pyspark.sql.types import StructType

        path = str(tmp_path / name)
        empty = spark.createDataFrame(
            [], "id bigint, v double, date date"
        )
        write_delta(spark, empty, path)
        return path

    def test_batch_apply_converges(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_cdf import read_delta_cdf
        from portfolio_data_pipelines_spark.operators.delta_maintain import (
            restore_delta,
        )
        from portfolio_data_pipelines_spark.operators.delta_merge import (
            apply_changes_delta,
        )

        src = str(tmp_path / "src_ac")
        write_delta(spark, _df(spark, [(1, 1.0, _day("2024-01-01")),
                                       (2, 2.0, _day("2024-01-01")),
                                       (3, 3.0, _day("2024-01-02"))]).coalesce(1),
                    src)
        merge_delta(spark, src, _df(spark, [(2, 20.0, _day("2024-01-01")),
                                            (4, 4.0, _day("2024-01-02"))]),
                    key_cols=["id"])
        optimize_delta(spark, src)
        restore_delta(spark, src, 1)
        write_delta(spark, _df(spark, [(9, 9.0, _day("2024-03-01"))]),
                    src, mode="overwrite")

        replica = self._bootstrap_replica(spark, tmp_path, "rep_ac")
        last = -1
        from portfolio_data_pipelines_spark.operators.delta_log import (
            _replay_log,
        )

        tip = _replay_log(spark, src, None).version
        # apply in two windows to prove incremental convergence
        for upto in (2, tip):
            changes = read_delta_cdf(
                spark, src, from_version=last, key_cols=["id"], to_version=upto
            )
            apply_changes_delta(spark, replica, changes, key_cols=["id"])
            want = sorted(
                tuple(r) for r in read_delta(spark, src, version=upto).collect()
            )
            got = sorted(
                tuple(r) for r in read_delta(spark, replica).collect()
            )
            assert got == want, f"replica diverged at source v{upto}"
            last = upto

    def test_apply_nets_update_then_delete(self, spark, tmp_path):
        """A key updated at one version and deleted at a later one nets
        to a delete; preimages never resurrect rows."""
        from portfolio_data_pipelines_spark.operators.delta_merge import (
            apply_changes_delta,
        )

        replica = str(tmp_path / "rep_net")
        write_delta(spark, _df(spark, [(1, 1.0, _day("2024-01-01")),
                                       (2, 2.0, _day("2024-01-01"))]), replica)
        changes = spark.createDataFrame(
            [
                (1, 1.0, _day("2024-01-01"), "update_preimage", 3),
                (1, 10.0, _day("2024-01-01"), "update_postimage", 3),
                (1, 10.0, _day("2024-01-01"), "delete", 7),
                (2, 2.0, _day("2024-01-01"), "update_preimage", 5),
                (2, 22.0, _day("2024-01-01"), "update_postimage", 5),
                (5, 5.0, _day("2024-01-02"), "insert", 6),
            ],
            "id bigint, v double, date date, _change_type string, "
            "_commit_version bigint",
        )
        apply_changes_delta(spark, replica, changes, key_cols=["id"])
        got = sorted(tuple(r) for r in read_delta(spark, replica).collect())
        assert got == [(2, 22.0, _day("2024-01-01")),
                       (5, 5.0, _day("2024-01-02"))]

    def test_txn_makes_apply_idempotent(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_merge import (
            apply_changes_delta,
        )

        replica = self._bootstrap_replica(spark, tmp_path, "rep_txn")
        changes = spark.createDataFrame(
            [(1, 1.0, _day("2024-01-01"), "insert", 0)],
            "id bigint, v double, date date, _change_type string, "
            "_commit_version bigint",
        )
        v1 = apply_changes_delta(
            spark, replica, changes, key_cols=["id"], txn=("app", 5)
        )
        v2 = apply_changes_delta(
            spark, replica, changes, key_cols=["id"], txn=("app", 5)
        )
        assert v2 == v1  # replay skipped
        assert read_delta(spark, replica).count() == 1


class TestCDFEdges:
    """r7 hardening: CDF across schema evolution, and a clear retention
    error when a CDF window reaches files vacuum already reclaimed."""

    def test_cdf_across_schema_evolution(self, spark, tmp_path):
        """A CDF window spanning an evolution commit null-fills the new
        column for pre-evolution rows (the widened tip schema governs),
        and the evolved rows carry their values."""
        from portfolio_data_pipelines_spark.operators.delta_cdf import read_delta_cdf

        path = str(tmp_path / "t_cdf_evo")
        write_delta(
            spark, spark.createDataFrame([(1, 1.0)], "id bigint, v double"),
            path,
        )
        write_delta(  # v1: widened append
            spark,
            spark.createDataFrame(
                [(2, 2.0, "x")], "id bigint, v double, tag string"
            ),
            path,
        )
        merge_delta(  # v2: update pre-evolution row under the wide schema
            spark, path,
            spark.createDataFrame(
                [(1, 10.0, "y")], "id bigint, v double, tag string"
            ),
            key_cols=["id"],
        )
        cdf = read_delta_cdf(spark, path, from_version=-1, key_cols=["id"])
        got = sorted(
            (r["_commit_version"], r["_change_type"], r["id"], r["v"], r["tag"])
            for r in cdf.collect()
        )
        assert got == [
            (0, "insert", 1, 1.0, None),
            (1, "insert", 2, 2.0, "x"),
            (2, "update_postimage", 1, 10.0, "y"),
            (2, "update_preimage", 1, 1.0, None),
        ]

    def test_cdf_window_past_vacuum_raises_retention_error(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_cdf import read_delta_cdf
        from portfolio_data_pipelines_spark.operators.delta_maintain import vacuum_delta

        path = str(tmp_path / "t_cdf_vac")
        write_delta(spark, _df(spark, [(1, 1.0, _day("2024-01-01"))]).coalesce(1), path)
        merge_delta(  # v1 rewrites v0's file
            spark, path, _df(spark, [(1, 10.0, _day("2024-01-01"))]),
            key_cols=["id"],
        )
        vacuum_delta(spark, path, retain_hours=0.0)
        with pytest.raises(FileNotFoundError, match="retention"):
            read_delta_cdf(spark, path, from_version=0, key_cols=["id"]).count()
        # a window that starts AFTER the vacuumed rewrite still works
        write_delta(spark, _df(spark, [(2, 2.0, _day("2024-01-02"))]), path)
        ok = read_delta_cdf(spark, path, from_version=1, key_cols=["id"])
        assert [r["id"] for r in ok.collect()] == [2]


class TestColumnMapping:
    """Name-mode column mapping (protocol reader 2 / writer 5):
    metadata-only RENAME and DROP COLUMN, physical col-<uuid> names for
    evolved columns, old files readable throughout, time travel under
    each version's own schema."""

    @staticmethod
    def _seed(spark, tmp_path, name):
        from portfolio_data_pipelines_spark.operators.delta_alter import (
            enable_column_mapping,
        )

        path = str(tmp_path / name)
        write_delta(
            spark,
            spark.createDataFrame(
                [(1, 1.0, "2024-01-01"), (2, 2.0, "2024-01-02")],
                "id bigint, v double, day string",
            ),
            path, partition_col="day",
        )
        v_en = enable_column_mapping(spark, path)
        return path, v_en

    def test_enable_sets_protocol_and_metadata(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_alter import (
            enable_column_mapping,
        )
        from portfolio_data_pipelines_spark.operators.delta_log import _replay_log

        path, v_en = self._seed(spark, tmp_path, "t_cm_enable")
        st = _replay_log(spark, path, None)
        assert st.protocol == {"minReaderVersion": 2, "minWriterVersion": 5}
        cfg = st.meta["configuration"]
        assert cfg["delta.columnMapping.mode"] == "name"
        assert cfg["delta.columnMapping.maxColumnId"] == "3"
        fields = json.loads(st.meta["schemaString"])["fields"]
        # upgrade rule: existing columns keep their name as physicalName
        assert [
            (f["name"], f["metadata"]["delta.columnMapping.physicalName"])
            for f in fields
        ] == [("id", "id"), ("v", "v"), ("day", "day")]
        assert sorted(r["id"] for r in read_delta(spark, path).collect()) == [1, 2]
        with pytest.raises(ValueError, match="already enabled"):
            enable_column_mapping(spark, path)

    def test_rename_is_metadata_only_and_time_travels(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_alter import rename_column
        from portfolio_data_pipelines_spark.operators.delta_log import _replay_log

        path, v_en = self._seed(spark, tmp_path, "t_cm_rename")
        files_before = set(_replay_log(spark, path, None).adds)
        v_rn = rename_column(spark, path, "v", "amount")
        assert set(_replay_log(spark, path, None).adds) == files_before
        got = read_delta(spark, path)
        assert got.columns == ["id", "amount", "day"]
        assert sorted(r["amount"] for r in got.collect()) == [1.0, 2.0]
        # pre-rename versions keep the old logical name
        assert read_delta(spark, path, version=v_en).columns == ["id", "v", "day"]
        # writes under the new logical name land in the OLD physical column
        write_delta(
            spark,
            spark.createDataFrame(
                [(3, 3.0, "2024-01-03")], "id bigint, amount double, day string"
            ),
            path, partition_col="day",
        )
        assert sorted(
            r["amount"] for r in read_delta(spark, path).collect()
        ) == [1.0, 2.0, 3.0]
        with pytest.raises(ValueError, match="already exists"):
            rename_column(spark, path, "id", "amount")

    def test_evolution_assigns_fresh_physical_names(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_log import (
            _replay_log,
        )

        path, _ = self._seed(spark, tmp_path, "t_cm_evolve")
        write_delta(
            spark,
            spark.createDataFrame(
                [(3, 3.0, "2024-01-03", "x")],
                "id bigint, v double, day string, tag string",
            ),
            path, partition_col="day",
        )
        st = _replay_log(spark, path, None)
        fields = {
            f["name"]: f["metadata"]
            for f in json.loads(st.meta["schemaString"])["fields"]
        }
        assert fields["tag"]["delta.columnMapping.physicalName"].startswith("col-")
        assert fields["tag"]["delta.columnMapping.id"] == 4
        assert st.meta["configuration"]["delta.columnMapping.maxColumnId"] == "4"
        got = read_delta(spark, path)
        assert [r["tag"] for r in got.orderBy("id").collect()] == [None, None, "x"]
        # the physical file really carries the col-<uuid> name
        import pyarrow.parquet as pq

        tag_phys = fields["tag"]["delta.columnMapping.physicalName"]
        tagged = [
            rel for rel, a in st.adds.items()
            if tag_phys in pq.read_schema(f"{path}/{rel}").names
        ]
        assert len(tagged) == 1

    def test_drop_column_and_guards(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_alter import (
            add_check_constraint,
            drop_column,
            rename_column,
        )

        path, v_en = self._seed(spark, tmp_path, "t_cm_drop")
        drop_column(spark, path, "v")
        got = read_delta(spark, path)
        assert got.columns == ["id", "day"]
        # time travel resurrects the dropped column's values
        old = read_delta(spark, path, version=v_en)
        assert sorted(r["v"] for r in old.collect()) == [1.0, 2.0]
        with pytest.raises(ValueError, match="partition column"):
            drop_column(spark, path, "day")
        with pytest.raises(ValueError, match="no column"):
            drop_column(spark, path, "v")
        # constraint guard: a constrained column cannot be renamed/dropped
        add_check_constraint(spark, path, "id_pos", "id > 0")
        with pytest.raises(ValueError, match="id_pos"):
            rename_column(spark, path, "id", "ident")
        with pytest.raises(ValueError, match="id_pos"):
            drop_column(spark, path, "id")

    def test_mapping_requires_enable(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_alter import (
            drop_column,
            rename_column,
        )

        path = str(tmp_path / "t_cm_plain")
        write_delta(
            spark, spark.createDataFrame([(1, 1.0)], "id bigint, v double"),
            path,
        )
        for fn in (lambda: rename_column(spark, path, "v", "w"),
                   lambda: drop_column(spark, path, "v")):
            with pytest.raises(ValueError, match="enable_column_mapping"):
                fn()

    def test_merge_cdf_optimize_under_mapping(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_alter import rename_column
        from portfolio_data_pipelines_spark.operators.delta_cdf import read_delta_cdf

        path, v_en = self._seed(spark, tmp_path, "t_cm_ops")
        rename_column(spark, path, "v", "amount")
        merge_delta(
            spark, path,
            spark.createDataFrame(
                [(2, 20.0, "2024-01-02"), (4, 4.0, "2024-01-04")],
                "id bigint, amount double, day string",
            ),
            key_cols=["id"],
        )
        got = {r["id"]: r["amount"] for r in read_delta(spark, path).collect()}
        assert got == {1: 1.0, 2: 20.0, 4: 4.0}
        v_opt = optimize_delta(spark, path)
        assert v_opt is None or read_delta(spark, path).count() == 3
        cdf = read_delta_cdf(spark, path, from_version=v_en + 1, key_cols=["id"])
        types = sorted(
            (r["_change_type"], r["id"]) for r in cdf.collect()
        )
        assert types == [
            ("insert", 4),
            ("update_postimage", 2),
            ("update_preimage", 2),
        ]
        # logical-name predicate skipping works through the mapping
        pr = read_delta(spark, path, predicate={"day": ("2024-01-04", None)})
        assert {r["id"] for r in pr.collect()} == {4}

    def test_external_reader_parity_on_mapped_table(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_alter import rename_column
        from tests.delta_reader import (
            read_delta_external,
        )

        path, v_en = self._seed(spark, tmp_path, "t_cm_ext")
        rename_column(spark, path, "v", "amount")
        write_delta(
            spark,
            spark.createDataFrame(
                [(3, 3.0, "2024-01-03", "x")],
                "id bigint, amount double, day string, tag string",
            ),
            path, partition_col="day",
        )
        names, rows = read_delta_external(path)
        assert names == ["id", "amount", "day", "tag"]
        sdf = read_delta(spark, path)
        assert sorted(rows) == sorted(tuple(r) for r in sdf.collect())
        # and at the pre-rename version
        names0, rows0 = read_delta_external(path, version=v_en)
        assert names0 == ["id", "v", "day"]
        assert sorted(rows0) == sorted(
            tuple(r) for r in read_delta(spark, path, version=v_en).collect()
        )

    def test_restore_rolls_back_rename(self, spark, tmp_path):
        """RESTORE re-emits the old metaData, so a rename rolls back
        with the data — and the physical files satisfy both schemas."""
        from portfolio_data_pipelines_spark.operators.delta_alter import rename_column
        from portfolio_data_pipelines_spark.operators.delta_maintain import (
            restore_delta,
        )

        path, v_en = self._seed(spark, tmp_path, "t_cm_restore")
        rename_column(spark, path, "v", "amount")
        write_delta(
            spark,
            spark.createDataFrame(
                [(3, 3.0, "2024-01-03")], "id bigint, amount double, day string"
            ),
            path, partition_col="day",
        )
        restore_delta(spark, path, v_en)
        got = read_delta(spark, path)
        assert got.columns == ["id", "v", "day"]  # schema rolled back
        assert sorted(r["v"] for r in got.collect()) == [1.0, 2.0]

    def test_zorder_on_mapped_table(self, spark, tmp_path):
        path, _ = self._seed(spark, tmp_path, "t_cm_z")
        for i in range(3, 7):
            write_delta(
                spark,
                spark.createDataFrame(
                    [(i, float(i), "2024-01-01")],
                    "id bigint, v double, day string",
                ),
                path, partition_col="day",
            )
        rows_before = sorted(
            tuple(r) for r in read_delta(spark, path).collect()
        )
        v = optimize_delta(spark, path, zorder_by=["id", "v"])
        assert v is not None
        assert sorted(
            tuple(r) for r in read_delta(spark, path).collect()
        ) == rows_before

    def test_mapped_read_keeps_pushdown_and_pruning(self, spark, tmp_path):
        """The logical→physical rename projection must stay transparent
        to Catalyst: a filter on the RENAMED logical column reaches the
        parquet scan as a pushed filter on the PHYSICAL column, and
        unprojected columns are pruned from ReadSchema — mapping costs
        zero scan efficiency."""
        import re

        from portfolio_data_pipelines_spark.operators.delta_alter import (
            enable_column_mapping,
            rename_column,
        )

        path = str(tmp_path / "t_cm_push")
        write_delta(
            spark,
            spark.range(1000).select(
                F.col("id"),
                (F.col("id") * 2.0).alias("v"),
                F.lit("x").alias("s"),
            ),
            path,
        )
        enable_column_mapping(spark, path)
        rename_column(spark, path, "v", "amount")
        df = (
            read_delta(spark, path)
            .filter(F.col("amount") > 1990)
            .select("id", "amount")
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
        assert pushed and "GreaterThan(v,1990.0)" in pushed.group(1), plan[:800]
        schema = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert schema is not None
        read_cols = {c.split(":")[0] for c in schema.group(1).split(",")}
        assert read_cols == {"id", "v"}  # physical names, 's' pruned
        assert {r["id"] for r in df.collect()} == {996, 997, 998, 999}


class TestOperationMetrics:
    """commitInfo.operationMetrics — delta-spark's numFiles /
    numOutputRows / numRemovedFiles trio (string-valued per spec),
    surfaced through DESCRIBE HISTORY."""

    def test_metrics_across_operations(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_maintain import (
            describe_history,
            restore_delta,
        )

        path = str(tmp_path / "t_metrics")
        write_delta(
            spark, _df(spark, [(1, 1.0, _day("2024-01-01")),
                               (2, 2.0, _day("2024-01-01"))]).coalesce(1),
            path,
        )
        merge_delta(
            spark, path,
            _df(spark, [(2, 20.0, _day("2024-01-01")),
                        (3, 3.0, _day("2024-01-01"))]),
            key_cols=["id"],
        )
        v_opt = optimize_delta(spark, path)
        restore_delta(spark, path, 1)
        hist = {r["version"]: r for r in describe_history(spark, path).collect()}
        m0 = hist[0]["operationMetrics"]
        assert m0["numFiles"] == "1" and m0["numOutputRows"] == "2"
        assert m0["numRemovedFiles"] == "0"
        m1 = hist[1]["operationMetrics"]
        assert m1["numRemovedFiles"] == "1"  # the rewritten file
        assert int(m1["numOutputRows"]) == 3  # survivor + update + insert
        m_opt = hist[v_opt]["operationMetrics"]
        assert int(m_opt["numRemovedFiles"]) >= 2
        assert m_opt["numFiles"] == "1"
        m_rst = hist[v_opt + 1]["operationMetrics"]
        assert int(m_rst["numRestoredFiles"]) >= 1

    def test_overwrite_metrics_count_tombstones(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_maintain import (
            describe_history,
        )

        path = str(tmp_path / "t_metrics_ow")
        write_delta(spark, _df(spark, [(1, 1.0, _day("2024-01-01"))]).coalesce(1), path)
        write_delta(spark, _df(spark, [(2, 2.0, _day("2024-01-01"))]).coalesce(1), path)
        write_delta(
            spark, _df(spark, [(9, 9.0, _day("2024-02-01"))]).coalesce(1),
            path, mode="overwrite",
        )
        hist = {r["version"]: r for r in describe_history(spark, path).collect()}
        m = hist[2]["operationMetrics"]
        assert m["numRemovedFiles"] == "2" and m["numFiles"] == "1"


class TestConvertParquet:
    """CONVERT TO DELTA on a plain parquet directory: metadata-only,
    stats-bearing, readable by both readers, and committable afterwards."""

    def test_convert_partitioned_dir(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_maintain import (
            convert_parquet_to_delta,
            describe_history,
        )
        from tests.delta_reader import (
            read_delta_external,
        )

        path = str(tmp_path / "t_conv")
        src = spark.createDataFrame(
            [(i, float(i), f"2024-01-{1 + i % 3:02d}") for i in range(30)],
            "id bigint, v double, day string",
        )
        src.write.partitionBy("day").parquet(path)
        v = convert_parquet_to_delta(spark, path, partition_col="day")
        assert v == 0
        got = read_delta(spark, path)
        # partition types follow Spark's discovery inference (ISO day
        # strings infer as DATE) — the same semantics a plain
        # spark.read.parquet of this directory would give
        assert sorted(tuple(r) for r in got.collect()) == sorted(
            (i, float(i), _day(f"2024-01-{1 + i % 3:02d}")) for i in range(30)
        )
        # data skipping works straight away (stats were gathered)
        pruned = read_delta(spark, path, predicate={"id": (25, None)})
        import re as _re

        assert {r["id"] for r in pruned.collect()} >= {25, 29}
        # the converted table accepts ordinary commits
        write_delta(
            spark,
            spark.createDataFrame(
                [(100, 100.0, _day("2024-02-01"))],
                "id bigint, v double, day date",
            ),
            path, partition_col="day",
        )
        assert read_delta(spark, path).count() == 31
        # external reader parity + provenance
        names, rows = read_delta_external(path)
        assert len(rows) == 31
        ops = [r["operation"] for r in describe_history(spark, path).collect()]
        assert ops[-1] == "CONVERT"
        m = describe_history(spark, path).collect()[-1]["operationMetrics"]
        assert int(m["numFiles"]) >= 3 and int(m["numOutputRows"]) == 30

    def test_convert_unpartitioned_and_guards(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_maintain import (
            convert_parquet_to_delta,
        )

        path = str(tmp_path / "t_conv_plain")
        spark.range(100).select(
            F.col("id"), (F.col("id") * 1.5).alias("x")
        ).write.parquet(path)
        convert_parquet_to_delta(spark, path)
        assert read_delta(spark, path).count() == 100
        with pytest.raises(ValueError, match="one-shot"):
            convert_parquet_to_delta(spark, path)
        path2 = str(tmp_path / "t_conv_plain2")
        spark.range(10).write.parquet(path2)
        with pytest.raises(ValueError, match="not found"):
            convert_parquet_to_delta(spark, path2, partition_col="nope")


class TestAdviceR8:
    """Round-8 ADVICE items: the constraint-validation cache is actually
    released (cache() returns self, so identity checks never fired),
    APPLY CHANGES enforces CHECK constraints like WRITE/MERGE, dict-form
    replaceWhere scopes survive a renamed (column-mapped) partition
    column, and the twin-detected append skip leaves no orphan files."""

    @staticmethod
    def _persistent_rdd_count(spark) -> int:
        # DataFrame.cache() registers in the session's CacheManager, not
        # the RDD persist registry — count live cache entries there
        return (
            spark._jsparkSession.sharedState().cacheManager()
            .cachedData().size()
        )

    def test_constrained_commits_release_their_cache(self, spark, tmp_path):
        """_enforce_constraints caches the batch so validated rows ==
        committed rows; write/merge/apply must unpersist it afterwards
        — cache() returns the SAME object, so the old `is not` check
        never fired and every constrained commit leaked executor
        storage for the session lifetime."""
        from portfolio_data_pipelines_spark.operators.delta_merge import (
            apply_changes_delta,
        )

        path = str(tmp_path / "t_leak")
        d0 = spark.createDataFrame([(1, 1.0)], "id bigint, v double")
        write_delta(spark, d0, path, constraints={"pos": "v > 0"})
        base = self._persistent_rdd_count(spark)
        write_delta(
            spark,
            spark.createDataFrame([(2, 2.0)], "id bigint, v double"),
            path,
        )
        assert self._persistent_rdd_count(spark) == base
        merge_delta(
            spark,
            path,
            spark.createDataFrame([(2, 5.0)], "id bigint, v double"),
            ["id"],
        )
        assert self._persistent_rdd_count(spark) == base
        apply_changes_delta(
            spark,
            path,
            spark.createDataFrame(
                [(3, 3.0, "insert", 7)],
                "id bigint, v double, _change_type string, "
                "_commit_version bigint",
            ),
            ["id"],
        )
        assert self._persistent_rdd_count(spark) == base
        assert sorted(
            tuple(r) for r in read_delta(spark, path).collect()
        ) == [(1, 1.0), (2, 5.0), (3, 3.0)]

    def test_apply_changes_enforces_check_constraints(self, spark, tmp_path):
        """A CDF replica with delta.constraints.* must reject violating
        upserts — same writer duty as WRITE and MERGE."""
        from portfolio_data_pipelines_spark.operators.delta_merge import (
            apply_changes_delta,
        )

        path = str(tmp_path / "t_apply_chk")
        write_delta(
            spark,
            spark.createDataFrame([(1, 1.0)], "id bigint, v double"),
            path,
            constraints={"pos": "v > 0"},
        )
        base = self._persistent_rdd_count(spark)
        bad = spark.createDataFrame(
            [(2, -9.0, "insert", 3)],
            "id bigint, v double, _change_type string, _commit_version bigint",
        )
        with pytest.raises(ValueError, match="CHECK constraint"):
            apply_changes_delta(spark, path, bad, ["id"])
        assert self._persistent_rdd_count(spark) == base
        # the rejected batch committed nothing
        assert read_delta(spark, path).count() == 1
        # deletes carry no row state and pass the constraint untouched
        apply_changes_delta(
            spark,
            path,
            spark.createDataFrame(
                [(1, None, "delete", 4)],
                "id bigint, v double, _change_type string, "
                "_commit_version bigint",
            ),
            ["id"],
        )
        assert read_delta(spark, path).count() == 0

    def test_dict_scope_replacewhere_on_renamed_partition_col(
        self, spark, tmp_path
    ):
        """replaceWhere with a {logical_col: value} scope on a
        column-mapped table whose partition column was RENAMED: the
        staged-file validation used to rebuild the matcher with
        physical names and reject the (valid) logical key."""
        from portfolio_data_pipelines_spark.operators.delta_alter import (
            enable_column_mapping,
            rename_column,
        )

        path = str(tmp_path / "t_cm_scope")
        write_delta(
            spark,
            spark.createDataFrame(
                [(1, 1.0, "2024-01-01"), (2, 2.0, "2024-01-02")],
                "id bigint, v double, day string",
            ),
            path,
            partition_col="day",
        )
        enable_column_mapping(spark, path)
        rename_column(spark, path, "day", "event_day")
        repl = spark.createDataFrame(
            [(9, 9.0, "2024-01-02")],
            "id bigint, v double, event_day string",
        )
        write_delta(
            spark,
            repl,
            path,
            partition_col="event_day",
            mode="overwrite",
            replace_partitions=[{"event_day": "2024-01-02"}],
        )
        assert sorted(
            (r["id"], r["event_day"])
            for r in read_delta(spark, path).collect()
        ) == [(1, "2024-01-01"), (9, "2024-01-02")]
        # and a scope outside the staged data still raises
        with pytest.raises(ValueError, match="excludes staged"):
            write_delta(
                spark,
                repl,
                path,
                partition_col="event_day",
                mode="overwrite",
                replace_partitions=[{"event_day": "2024-03-03"}],
            )

    def test_twin_skip_deletes_staged_orphans(
        self, spark, tmp_path, monkeypatch
    ):
        """When the append retry loop detects a twin commit carrying our
        (appId, version), the batch is already committed — the files WE
        staged have no log entry and no tombstone, so they must be
        deleted on the spot (vacuum only chases tombstones)."""
        import os

        import portfolio_data_pipelines_spark.operators.delta_log as dl

        path = str(tmp_path / "t_twin")
        write_delta(
            spark,
            spark.createDataFrame([(1, 1.0)], "id bigint, v double"),
            path,
        )
        orig_write = dl._write_small_file
        state = {"injected": False}

        def inject(fs, jvm, pathstr, content, overwrite=False):
            # the instant our append claims v1, a twin writer lands a
            # commit there recording the same (appId, version)
            if not state["injected"] and pathstr.endswith(f"{1:020d}.json"):
                state["injected"] = True
                orig_write(
                    fs,
                    jvm,
                    pathstr,
                    json.dumps(
                        {
                            "txn": {
                                "appId": "app",
                                "version": 5,
                                "lastUpdated": 0,
                            }
                        }
                    ),
                    overwrite=False,
                )
            return orig_write(fs, jvm, pathstr, content, overwrite=overwrite)

        monkeypatch.setattr(dl, "_write_small_file", inject)
        v = write_delta(
            spark,
            spark.createDataFrame([(2, 2.0)], "id bigint, v double"),
            path,
            txn=("app", 5),
        )
        monkeypatch.setattr(dl, "_write_small_file", orig_write)
        assert v == 1
        # every parquet file on disk is referenced by some add action —
        # the skipped batch's staged files are gone
        referenced = set()
        log_dir = os.path.join(path, "_delta_log")
        for name in os.listdir(log_dir):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(log_dir, name)) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    act = json.loads(line)
                    if "add" in act:
                        referenced.add(dl._decode_path(act["add"]["path"]))
        on_disk = set()
        for root, _dirs, files in os.walk(path):
            if "_delta_log" in root:
                continue
            for f in files:
                if f.endswith(".parquet"):
                    rel = os.path.relpath(os.path.join(root, f), path)
                    on_disk.add(rel)
        assert on_disk == referenced
        assert read_delta(spark, path).count() == 1  # only the v0 row


class TestInCommitTimestamps:
    """The ICT feature's robust commit-time form: every commit written
    here carries a MONOTONIC ``commitInfo.inCommitTimestamp``, and both
    readers prefer it over commit-file mtimes — which object stores can
    rewrite on copy/migration, silently corrupting timestampAsOf."""

    @staticmethod
    def _icts(path):
        import os

        out = []
        log_dir = os.path.join(path, "_delta_log")
        for name in sorted(os.listdir(log_dir)):
            if not name.endswith(".json") or name.startswith("_"):
                continue
            ict = None
            with open(os.path.join(log_dir, name)) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    act = json.loads(line)
                    if "commitInfo" in act:
                        ict = act["commitInfo"].get("inCommitTimestamp")
                        break
            out.append(ict)
        return out

    def test_every_commit_type_carries_monotonic_ict(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_alter import (
            add_check_constraint,
        )
        from portfolio_data_pipelines_spark.operators.delta_maintain import (
            describe_history,
        )

        path = str(tmp_path / "t_ict")
        write_delta(
            spark,
            spark.createDataFrame([(1, 1.0)], "id bigint, v double"),
            path,
        )
        write_delta(
            spark,
            spark.createDataFrame([(2, 2.0)], "id bigint, v double"),
            path,
        )
        merge_delta(
            spark,
            path,
            spark.createDataFrame([(2, 5.0)], "id bigint, v double"),
            ["id"],
        )
        add_check_constraint(spark, path, "pos", "v > 0")
        optimize_delta(spark, path)
        icts = self._icts(path)
        assert all(t is not None for t in icts), icts
        assert icts == sorted(icts) and len(set(icts)) == len(icts), icts
        # DESCRIBE HISTORY surfaces the ICT as the commit timestamp
        hist = describe_history(spark, path).collect()
        by_v = {
            r["version"]: int(r["timestamp"].timestamp() * 1000) for r in hist
        }
        assert [by_v[v] for v in sorted(by_v)] == icts

    def test_asof_survives_scrambled_mtimes(self, spark, tmp_path):
        """Deliberately scramble the commit files' mtimes (newest commit
        gets the OLDEST mtime) — mtime-based resolution would invert the
        history; ICT-based resolution in BOTH readers must not move."""
        import datetime as dt
        import os

        from portfolio_data_pipelines_spark.operators.delta_scan import version_as_of
        from tests.delta_reader import (
            version_as_of_external,
        )

        path = str(tmp_path / "t_ict_scramble")
        for i in range(3):
            write_delta(
                spark,
                spark.createDataFrame([(i, float(i))], "id bigint, v double"),
                path,
            )
        icts = self._icts(path)
        log_dir = os.path.join(path, "_delta_log")
        for v in range(3):
            t = 1_000_000_000 - v * 86_400  # reversed, decades in the past
            os.utime(os.path.join(log_dir, f"{v:020d}.json"), (t, t))

        def iso(ms):
            return dt.datetime.fromtimestamp(
                ms / 1000.0, tz=dt.timezone.utc
            ).isoformat()

        for v in range(3):
            assert version_as_of(spark, path, iso(icts[v])) == v
            assert version_as_of_external(path, iso(icts[v])) == v
        # between two commits → the earlier one (monotonic gap ≥ 1 ms)
        if icts[1] - icts[0] > 1:
            assert version_as_of(spark, path, iso(icts[1] - 1)) == 0
        with pytest.raises(ValueError, match="at or before"):
            version_as_of(spark, path, iso(icts[0] - 1))
        with pytest.raises(ValueError, match="at or before"):
            version_as_of_external(path, iso(icts[0] - 1))
        # the snapshot read itself follows the same resolution
        got = read_delta(spark, path, as_of=iso(icts[1]))
        assert sorted(r["id"] for r in got.collect()) == [0, 1]

    def test_cdf_commit_timestamp_uses_ict(self, spark, tmp_path):
        """read_delta_cdf's _commit_timestamp column comes from the ICT,
        not the (scramble-able) file mtime."""
        import os

        from portfolio_data_pipelines_spark.operators.delta_cdf import read_delta_cdf

        path = str(tmp_path / "t_ict_cdf")
        write_delta(
            spark,
            spark.createDataFrame([(1, 1.0)], "id bigint, v double"),
            path,
        )
        write_delta(
            spark,
            spark.createDataFrame([(2, 2.0)], "id bigint, v double"),
            path,
        )
        icts = self._icts(path)
        log_dir = os.path.join(path, "_delta_log")
        os.utime(
            os.path.join(log_dir, f"{1:020d}.json"), (1_000_000, 1_000_000)
        )
        rows = read_delta_cdf(spark, path, 0, key_cols=["id"]).collect()
        assert len(rows) == 1
        got_ms = int(rows[0]["_commit_timestamp"].timestamp() * 1000)
        assert got_ms == icts[1]


class TestWriteSideCDF:
    """Write-side change-data-feed: with delta.enableChangeDataFeed=true
    every REWRITE commit materializes its row-level changes as
    ``_change_data`` parquet referenced by ``cdc`` actions; readers
    answer those commits from the change files alone — no key join, no
    dependence on the rewritten data files' bytes — and fall back to
    reconstruction only for pre-enable history. The cdc content is
    pinned identical to what reconstruction computes on a twin table."""

    @staticmethod
    def _cdc_commits(path):
        import os

        out = []
        log_dir = os.path.join(path, "_delta_log")
        for name in sorted(os.listdir(log_dir)):
            if name.endswith(".json") and not name.startswith("_"):
                if '"cdc"' in open(os.path.join(log_dir, name)).read():
                    out.append(int(name[:20]))
        return out

    def _lifecycle(self, spark, base, enable_at_start):
        """v0 append → (enable) → merge → keyed replaceWhere → keyed
        restore. With ``enable_at_start`` the enable commit shifts the
        data-commit versions by one, so comparisons strip versions."""
        from portfolio_data_pipelines_spark.operators.delta_cdf import (
            enable_change_data_feed,
        )
        from portfolio_data_pipelines_spark.operators.delta_maintain import (
            restore_delta,
        )

        path = str(base)
        write_delta(
            spark,
            _df(spark, [(i, float(i), _day("2024-01-01")) for i in range(1, 5)]
                + [(i, float(i), _day("2024-01-02")) for i in range(5, 9)]),
            path, partition_col="date",
        )
        if enable_at_start:
            enable_change_data_feed(spark, path)
        merge_delta(  # update 1-2, insert 9
            spark, path,
            _df(spark, [(1, 100.0, _day("2024-01-01")),
                        (2, 2.0, _day("2024-01-01")),  # no-op value
                        (9, 9.0, _day("2024-01-03"))]),
            key_cols=["id"],
        )
        v_mid = write_delta(  # keyed replaceWhere of day 1
            spark, _df(spark, [(1, 111.0, _day("2024-01-01")),
                               (3, 3.0, _day("2024-01-01"))]),
            path, partition_col="date", mode="overwrite",
            replace_partitions=["2024-01-01"], cdf_key_cols=["id"],
        )
        restore_delta(spark, path, v_mid - 1, cdf_key_cols=["id"])
        return path

    @staticmethod
    def _changes(spark, path, key_cols=None):
        from portfolio_data_pipelines_spark.operators.delta_cdf import read_delta_cdf

        df = read_delta_cdf(spark, path, -1, key_cols)
        return sorted(
            (r["id"], r["v"], r["date"], r["_change_type"])
            for r in df.collect()
        )

    def test_cdc_pinned_equal_to_reconstruction_twin(self, spark, tmp_path):
        """Same lifecycle on an enabled and a disabled table: the cdc
        path (keyless!) must produce exactly the rows reconstruction
        computes — and the enabled table's rewrite commits all carry
        cdc actions while the disabled twin's carry none."""
        p_on = self._lifecycle(spark, tmp_path / "on", True)
        p_off = self._lifecycle(spark, tmp_path / "off", False)
        assert len(self._cdc_commits(p_on)) == 3  # merge + replace + restore
        assert self._cdc_commits(p_off) == []
        assert self._changes(spark, p_on) == self._changes(
            spark, p_off, ["id"]
        )

    def test_cdc_read_does_not_touch_rewritten_files(self, spark, tmp_path):
        """Delete the data files the rewrite commits removed (what an
        aged vacuum does): the enabled table still answers the rewrite
        commits' CDF from its change files; the reconstruction twin
        raises the retention error over the same window."""
        import os

        from portfolio_data_pipelines_spark.operators.delta_cdf import read_delta_cdf
        from portfolio_data_pipelines_spark.operators.delta_log import _replay_log

        p_on = self._lifecycle(spark, tmp_path / "on", True)
        p_off = self._lifecycle(spark, tmp_path / "off", False)
        lo_on = self._cdc_commits(p_on)[0] - 1  # window = rewrites only
        lo_off = lo_on - 1  # twin has no enable commit: versions -1

        def window(p, lo, keys=None):
            return sorted(
                (r["id"], r["v"], r["date"], r["_change_type"])
                for r in read_delta_cdf(spark, p, lo, keys).collect()
            )

        expected = window(p_on, lo_on)
        assert expected == window(p_off, lo_off, ["id"])
        for p in (p_on, p_off):
            live = set(_replay_log(spark, p, None).adds)
            for root, _dirs, files in os.walk(p):
                if "_delta_log" in root or "_change_data" in root:
                    continue
                for f in files:
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, p)
                    if f.endswith(".parquet") and rel not in live:
                        os.remove(full)
        assert window(p_on, lo_on) == expected
        with pytest.raises(Exception, match="vacuum|retention"):
            window(p_off, lo_off, ["id"])

    def test_keyless_read_requires_cdc(self, spark, tmp_path):
        p_off = self._lifecycle(spark, tmp_path / "off", False)
        with pytest.raises(ValueError, match="key_cols|cdc"):
            self._changes(spark, p_off)

    def test_unkeyed_overwrite_full_images(self, spark, tmp_path):
        """Without cdf_key_cols an overwrite records the protocol's
        operation semantics: every removed row a delete, every written
        row an insert — even for value-identical rows."""
        from portfolio_data_pipelines_spark.operators.delta_cdf import (
            enable_change_data_feed,
        )

        path = str(tmp_path / "t_unkeyed")
        write_delta(spark, _df(spark, [(1, 1.0, _day("2024-01-01"))]), path)
        enable_change_data_feed(spark, path)
        v = write_delta(
            spark, _df(spark, [(1, 1.0, _day("2024-01-01")),
                               (2, 2.0, _day("2024-01-01"))]),
            path, mode="overwrite",
        )
        assert self._cdc_commits(path) == [v]
        got = self._changes(spark, path)
        # v0's derived insert, then the overwrite's full images: the
        # value-identical row 1 is BOTH deleted and re-inserted
        assert got == [
            (1, 1.0, _day("2024-01-01"), "delete"),
            (1, 1.0, _day("2024-01-01"), "insert"),
            (1, 1.0, _day("2024-01-01"), "insert"),
            (2, 2.0, _day("2024-01-01"), "insert"),
        ]

    def test_noop_merge_writes_explicit_empty_cdc(self, spark, tmp_path):
        """A rewrite that nets to zero changes still commits a cdc
        action (0-row file) — readers then KNOW nothing changed instead
        of falling back to a reconstruction join."""
        from portfolio_data_pipelines_spark.operators.delta_cdf import (
            enable_change_data_feed,
        )

        path = str(tmp_path / "t_noop")
        write_delta(spark, _df(spark, [(1, 1.0, _day("2024-01-01"))]), path)
        enable_change_data_feed(spark, path)
        v = merge_delta(
            spark, path, _df(spark, [(1, 1.0, _day("2024-01-01"))]), ["id"]
        )
        assert v in self._cdc_commits(path)
        # only v0's insert remains — the no-op rewrite emits nothing
        assert self._changes(spark, path) == [
            (1, 1.0, _day("2024-01-01"), "insert")
        ]

    def test_append_commits_carry_no_cdc(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_cdf import (
            enable_change_data_feed,
        )

        path = str(tmp_path / "t_app")
        write_delta(spark, _df(spark, [(1, 1.0, _day("2024-01-01"))]), path)
        enable_change_data_feed(spark, path)
        write_delta(spark, _df(spark, [(2, 2.0, _day("2024-01-01"))]), path)
        assert self._cdc_commits(path) == []
        assert self._changes(spark, path) == [
            (1, 1.0, _day("2024-01-01"), "insert"),
            (2, 2.0, _day("2024-01-01"), "insert"),
        ]

    def test_enable_is_idempotent_and_bumps_protocol(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_cdf import (
            enable_change_data_feed,
        )
        from portfolio_data_pipelines_spark.operators.delta_log import _replay_log

        path = str(tmp_path / "t_proto")
        write_delta(spark, _df(spark, [(1, 1.0, _day("2024-01-01"))]), path)
        v1 = enable_change_data_feed(spark, path)
        assert enable_change_data_feed(spark, path) == v1  # idempotent
        st = _replay_log(spark, path, None)
        assert int(st.protocol["minWriterVersion"]) >= 4
        assert (
            st.meta["configuration"]["delta.enableChangeDataFeed"] == "true"
        )
        # reader version untouched: plain readers keep working
        assert int(st.protocol["minReaderVersion"]) == 1
        assert _rows(spark, read_delta(spark, path)) == [
            (1, 1.0, _day("2024-01-01"))
        ]

    def test_apply_changes_writes_cdc(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.delta_cdf import (
            enable_change_data_feed,
        )
        from portfolio_data_pipelines_spark.operators.delta_merge import (
            apply_changes_delta,
        )

        path = str(tmp_path / "t_apply")
        write_delta(spark, _df(spark, [(1, 1.0, _day("2024-01-01")),
                                       (2, 2.0, _day("2024-01-01"))]), path)
        enable_change_data_feed(spark, path)
        batch = spark.createDataFrame(
            [(1, 10.0, _day("2024-01-01"), "update_postimage", 3),
             (2, 2.0, _day("2024-01-01"), "delete", 3)],
            "id bigint, v double, date date, _change_type string, "
            "_commit_version bigint",
        )
        v = apply_changes_delta(spark, path, batch, ["id"])
        assert v in self._cdc_commits(path)
        assert self._changes(spark, path) == [
            (1, 1.0, _day("2024-01-01"), "insert"),
            (1, 1.0, _day("2024-01-01"), "update_preimage"),
            (1, 10.0, _day("2024-01-01"), "update_postimage"),
            (2, 2.0, _day("2024-01-01"), "delete"),
            (2, 2.0, _day("2024-01-01"), "insert"),
        ]

    def test_checkpoint_and_plain_readers_ignore_cdc(self, spark, tmp_path):
        """cdc actions never enter checkpoints or the live set: a
        checkpoint-anchored replay reads the same snapshot, and the
        change files are invisible to read_delta."""
        p_on = self._lifecycle(spark, tmp_path / "on", True)
        st_before = _rows(spark, read_delta(spark, p_on))
        tip = self._cdc_commits(p_on)[-1]
        checkpoint_delta(spark, p_on, tip)
        assert _rows(spark, read_delta(spark, p_on)) == st_before
        import pyarrow.parquet as pq

        cp = f"{p_on}/_delta_log/{tip:020d}.checkpoint.parquet"
        names = {n.split(".")[0] for n in pq.read_schema(cp).names}
        assert "cdc" not in names
        # and the CDF is still answerable THROUGH the checkpoint
        assert self._changes(spark, p_on) == self._changes(
            spark, str(tmp_path / "on")
        )

    def test_column_mapped_cdc_uses_physical_names(self, spark, tmp_path):
        """Rename a column on a mapped table, then merge: the change
        files carry physical names on disk but the CDF presents logical
        names — same contract as the data path."""
        import os

        from portfolio_data_pipelines_spark.operators.delta_alter import (
            enable_column_mapping,
            rename_column,
        )
        from portfolio_data_pipelines_spark.operators.delta_cdf import (
            enable_change_data_feed,
        )

        path = str(tmp_path / "t_map")
        write_delta(spark, _df(spark, [(1, 1.0, _day("2024-01-01"))]), path)
        enable_column_mapping(spark, path)
        enable_change_data_feed(spark, path)
        rename_column(spark, path, "v", "value")
        merge_delta(
            spark, path,
            spark.createDataFrame(
                [(1, 5.0, _day("2024-01-01"))],
                "id bigint, value double, date date",
            ),
            ["id"],
        )
        from portfolio_data_pipelines_spark.operators.delta_cdf import read_delta_cdf

        got = read_delta_cdf(spark, path, -1)
        assert set(got.columns) == {
            "id", "value", "date", "_change_type", "_commit_version",
            "_commit_timestamp",
        }
        rows = sorted(
            (r["id"], r["value"], r["_change_type"]) for r in got.collect()
        )
        assert rows == [
            (1, 1.0, "insert"),
            (1, 1.0, "update_preimage"),
            (1, 5.0, "update_postimage"),
        ]
        # on-disk change files use the ORIGINAL physical name for the
        # renamed column (rename was metadata-only)
        import pyarrow.parquet as pq

        cdir = os.path.join(path, "_change_data")
        f = [n for n in os.listdir(cdir) if n.endswith(".parquet")][0]
        cols = pq.read_schema(os.path.join(cdir, f)).names
        assert "v" in cols and "value" not in cols

    def test_external_reader_reads_cdc(self, spark, tmp_path):
        """Conformance: the independent spec-only reader answers the
        same CDF from the wire format alone (cdc files + derivation
        rules), and refuses cdc-less rewrites as a foreign reader
        must."""
        from tests.delta_reader import (
            read_delta_changes_external,
        )

        p_on = self._lifecycle(spark, tmp_path / "on", True)
        names, rows = read_delta_changes_external(p_on, -1)
        assert names[-3:] == [
            "_change_type", "_commit_version", "_commit_timestamp"
        ]
        got = sorted(
            (int(r[0]), float(r[1]), r[2], r[3]) for r in rows
        )
        assert got == self._changes(spark, p_on)
        p_off = self._lifecycle(spark, tmp_path / "off", False)
        with pytest.raises(ValueError, match="cdc"):
            read_delta_changes_external(p_off, -1)


class TestNotNullInvariant:
    """r13 ADVICE: _json_type_shape ignores nullability (by design —
    mapped-table metadata must not read as a type change), so the
    nullable-flip refusal moved to a DATA invariant: a commit writing
    NULL into a field the stored schema declares non-nullable is
    refused before staging, at every nesting level."""

    def _mk(self, spark, tmp_path, nested=True):
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        inner = StructType(
            [
                StructField("p", StringType(), True),
                StructField("q", LongType(), False),
            ]
        )
        schema = StructType(
            [
                StructField("id", LongType(), False),
                StructField("o", inner, True),
            ]
        )
        path = str(tmp_path / "t")
        df = spark.createDataFrame([(1, ("x", 10))], schema)
        write_delta(spark, df, path)
        return path, schema

    def test_null_into_nested_non_nullable_refused(self, spark, tmp_path):
        path, _ = self._mk(spark, tmp_path)
        bad = spark.createDataFrame(
            [(2, ("y", None))],
            "id long, o struct<p string, q long>",  # frame says nullable
        )
        with pytest.raises(ValueError, match="non-nullable"):
            write_delta(spark, bad, path, mode="append")
        # nothing staged; a clean append still works
        ok = spark.createDataFrame(
            [(3, ("z", 30))], "id long, o struct<p string, q long>"
        )
        write_delta(spark, ok, path, mode="append")
        assert read_delta(spark, path).count() == 2

    def test_null_into_top_level_non_nullable_refused(self, spark, tmp_path):
        path, _ = self._mk(spark, tmp_path)
        bad = spark.createDataFrame(
            [(None, ("y", 1))], "id long, o struct<p string, q long>"
        )
        with pytest.raises(ValueError, match="non-nullable"):
            write_delta(spark, bad, path, mode="append")

    def test_null_parent_struct_passes_inner_invariant(self, spark, tmp_path):
        # o itself is nullable; o.q NOT NULL only constrains present structs
        path, _ = self._mk(spark, tmp_path)
        ok = spark.createDataFrame(
            [(4, None)], "id long, o struct<p string, q long>"
        )
        write_delta(spark, ok, path, mode="append")
        rows = {r["id"] for r in read_delta(spark, path).collect()}
        assert rows == {1, 4}

    def test_nullable_frame_without_nulls_accepted(self, spark, tmp_path):
        path, schema = self._mk(spark, tmp_path)
        ok = spark.createDataFrame(
            [(5, ("w", 50))], "id long, o struct<p string, q long>"
        )
        write_delta(spark, ok, path, mode="append")
        assert read_delta(spark, path).count() == 2

    def test_same_writer_schema_skips_the_scan(self, spark, tmp_path):
        # frame declares the same non-nullables → type system is the
        # proof; _enforce_not_null must not cache/scan
        from portfolio_data_pipelines_spark.operators.delta_log import (
            _enforce_not_null,
            _replay_log,
        )

        path, schema = self._mk(spark, tmp_path)
        st = _replay_log(spark, path, None)
        df = spark.createDataFrame([(6, ("v", 60))], schema)
        out, cached = _enforce_not_null(df, st.meta, already_cached=False)
        assert out is df and cached is False

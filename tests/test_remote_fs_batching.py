"""Remote-FS metadata I/O batching (r16 verdict #7).

The local direct-Python fast paths cover the bench environment; on
s3a/hdfs/abfs every Hadoop-FS call from Python is a py4j round trip
and (on object stores) a metadata RPC. These tests DISGUISE a local
table as remote — monkeypatching ``_local_path`` to always miss — and
count the calls crossing the fs handle, pinning that:

- the log tail (``_log_tail``) costs O(1) listings, not one ``exists``
  probe per version, and reads the ``_last_checkpoint`` pointer before
  it lists;
- ``_commit_actions`` reads a commit without an existence probe and
  reports a missing one as ``FileNotFoundError`` naming the version;
- ``read_delta_changes`` and ``read_delta_cdf`` list the log once and
  read each commit once;
- ``_read_text`` moves a commit file in one buffered transfer, not one
  ``readLine`` round trip per line;
- ``_replay_log`` adds no per-version existence probe on top;
- an append lists the log and probes ``_last_checkpoint`` once each,
  also when its commit writes a checkpoint;
- a checkpoint is one create + one rename per file (no temp-dir
  listings or recursive deletes), and a replay opens each file once;
- a V2 checkpoint's discovery lists ``_delta_log`` through ``os`` on a
  local table.

Also pins the r16-ADVICE ``_local_path`` gates themselves: bare paths
are local only under a file-scheme fs.defaultFS, and ``file://host/...``
URIs with a foreign authority are NOT treated as local.
"""

from __future__ import annotations

import json
import os
from collections import Counter, defaultdict

import pytest

from portfolio_data_pipelines_spark.operators import (
    delta_cdf,
    delta_checkpoint,
    delta_scan,
)
from portfolio_data_pipelines_spark.operators import delta_log as dl
from portfolio_data_pipelines_spark.operators import hadoop_io as hio


class _CountingFS:
    """Wrap a py4j Hadoop FileSystem handle, counting method calls and
    keeping their arguments."""

    def __init__(self, fs):
        object.__setattr__(self, "_fs", fs)
        object.__setattr__(self, "calls", Counter())
        object.__setattr__(self, "args", defaultdict(list))

    def __getattr__(self, name):
        attr = getattr(self._fs, name)
        if not callable(attr):
            return attr
        calls, args = self.calls, self.args

        def wrapped(*a, **k):
            calls[name] += 1
            args[name].append(a)
            return attr(*a, **k)

        return wrapped


@pytest.fixture()
def no_local_fastpath(monkeypatch):
    """Disguise every path as remote: the Hadoop branch must run in
    every module whose code reads ``_local_path``."""
    monkeypatch.setattr(dl, "_local_path", lambda p: None)
    monkeypatch.setattr(delta_checkpoint, "_local_path", lambda p: None)
    monkeypatch.setattr(hio, "_local_path", lambda p: None)


def _make_table(spark, tmp_path, n_appends: int) -> str:
    path = str(tmp_path / "tbl")
    df = spark.range(10).coalesce(1).selectExpr("id", "id * 2 AS v")
    for _ in range(n_appends):
        dl.write_delta(spark, df, path)
    return path


def test_list_log_versions_lists_once(spark, tmp_path, no_local_fastpath):
    path = _make_table(spark, tmp_path, 6)
    fs, _, jvm = hio._hadoop_fs(spark, path)
    cfs = _CountingFS(fs)
    versions = dl._log_tail(cfs, jvm, path)[0]
    assert versions == list(range(6))
    assert cfs.calls["listStatus"] == 1
    # exists: the log-dir probe + the _last_checkpoint pointer probe —
    # NOT one per version (the r16 form made 7+ here)
    assert cfs.calls["exists"] <= 2
    assert sum(cfs.calls.values()) <= 4


def test_log_tail_reads_pointer_before_listing(spark, tmp_path, monkeypatch):
    # listing first could miss the commits a checkpoint landing between
    # the two calls anchors on, and return an empty run
    path = _make_table(spark, tmp_path, 2)
    order = []
    real_doc = delta_checkpoint._read_last_checkpoint_doc
    real_list = dl._all_commit_versions
    monkeypatch.setattr(
        delta_checkpoint, "_read_last_checkpoint_doc",
        lambda *a: order.append("pointer") or real_doc(*a),
    )
    monkeypatch.setattr(
        dl, "_all_commit_versions",
        lambda *a: order.append("listing") or real_list(*a),
    )
    fs, _, jvm = hio._hadoop_fs(spark, path)
    assert dl._log_tail(fs, jvm, path)[0] == [0, 1]
    assert order == ["pointer", "listing"]


def _write_commit_text(path, version: int, text: str) -> None:
    os.makedirs(f"{path}/_delta_log", exist_ok=True)
    with open(f"{path}/{dl._log_path(version)}", "w") as f:
        f.write(text)


def test_commit_actions_decodes_paths_and_skips_blank_lines(tmp_path):
    path = str(tmp_path / "t")
    rel = "k=100%25 off/part-0.parquet"  # physical: hive-escaped '%'
    _write_commit_text(path, 0, "\n".join([
        "",
        json.dumps({"commitInfo": {"operation": "WRITE"}}),
        "   ",
        json.dumps({"add": {"path": dl._encode_path(rel)}}),
        json.dumps({"remove": {"path": dl._encode_path(rel)}}),
        json.dumps({"cdc": {"path": "_change_data/a%20b.parquet"}}),
        "",
    ]))
    actions = dl._commit_actions(None, None, path, 0)
    assert [next(iter(a)) for a in actions] == [
        "commitInfo", "add", "remove", "cdc",
    ]
    assert actions[1]["add"]["path"] == rel
    assert actions[2]["remove"]["path"] == rel
    assert actions[3]["cdc"]["path"] == "_change_data/a b.parquet"


def test_commit_actions_missing_version_local(tmp_path):
    path = str(tmp_path / "t")
    _write_commit_text(path, 0, json.dumps({"commitInfo": {}}))
    with pytest.raises(FileNotFoundError, match="commit 3 missing"):
        dl._commit_actions(None, None, path, 3)


def test_commit_actions_hadoop_branch(spark, tmp_path, no_local_fastpath):
    path = _make_table(spark, tmp_path, 2)
    fs, _, jvm = hio._hadoop_fs(spark, path)
    cfs = _CountingFS(fs)
    actions = dl._commit_actions(cfs, jvm, path, 1)
    assert any("add" in a for a in actions)
    # a hit is one open, with no existence probe first
    assert cfs.calls["open"] == 1
    assert cfs.calls["exists"] == 0
    # a miss surfaces as FileNotFoundError naming the version, not as a
    # raw py4j error
    with pytest.raises(FileNotFoundError, match="commit 7 missing"):
        dl._commit_actions(cfs, jvm, path, 7)
    assert cfs.calls["exists"] == 0


def test_pinned_replay_below_cleaned_checkpoint_raises(
    spark, tmp_path, no_local_fastpath
):
    path = _make_table(spark, tmp_path, 4)
    delta_checkpoint.checkpoint_delta(spark, path, 2)
    os.remove(f"{path}/{dl._log_path(0)}")
    assert len(dl._replay_log(spark, path, 3).adds) == 4
    with pytest.raises(FileNotFoundError, match="commit 0 missing"):
        dl._replay_log(spark, path, 1)


def test_read_text_single_transfer(spark, tmp_path, no_local_fastpath):
    path = _make_table(spark, tmp_path, 1)
    fs, _, jvm = hio._hadoop_fs(spark, path)
    cfs = _CountingFS(fs)
    text = dl._read_text(cfs, jvm, f"{path}/{dl._log_path(0)}")
    assert cfs.calls["open"] == 1
    # byte-identical with the local fast path's read
    with open(f"{path}/{dl._log_path(0)}", encoding="utf-8") as f:
        assert text == f.read().rstrip("\n")


def test_replay_log_no_per_version_probes(
    spark, tmp_path, no_local_fastpath, monkeypatch
):
    path = _make_table(spark, tmp_path, 8)
    fs, _, jvm = hio._hadoop_fs(spark, path)
    cfs = _CountingFS(fs)
    monkeypatch.setattr(
        hio, "_hadoop_fs", lambda s, p: (cfs, None, jvm)
    )
    monkeypatch.setattr(
        dl, "_hadoop_fs", lambda s, p: (cfs, None, jvm)
    )
    st = dl._replay_log(spark, path, None)
    assert st.version == 7
    assert len(st.adds) == 8
    # 8 commit reads (one open each) + one listing + 2 exists: the
    # log-dir probe and ONE _last_checkpoint pointer probe (the replay
    # starts from the pointer the listing anchored on) — O(1), where the
    # r16 form added 8 more exists probes and ~8 readLine trips per file
    assert cfs.calls["open"] == 8
    assert cfs.calls["listStatus"] == 1
    assert cfs.calls["exists"] == 2


def _count_fs_calls(spark, monkeypatch) -> _CountingFS:
    """Route every ``_hadoop_fs`` handle of the log, checkpoint and I/O
    modules through one counting wrapper."""
    real = hio._hadoop_fs
    cfs = _CountingFS(real(spark, "/")[0])
    for mod in (hio, dl, delta_checkpoint):
        monkeypatch.setattr(
            mod, "_hadoop_fs", lambda s, p: (cfs, *real(s, p)[1:])
        )
    return cfs


def _count_change_read_calls(spark, monkeypatch) -> _CountingFS:
    cfs = _count_fs_calls(spark, monkeypatch)
    real = hio._hadoop_fs
    for mod in (delta_scan, delta_cdf):
        monkeypatch.setattr(
            mod, "_hadoop_fs", lambda s, p: (cfs, *real(s, p)[1:])
        )
    return cfs


@pytest.mark.parametrize("read", ["changes", "cdf"])
def test_change_reads_list_once(
    spark, tmp_path, no_local_fastpath, monkeypatch, read
):
    path = _make_table(spark, tmp_path, 6)
    cfs = _count_change_read_calls(spark, monkeypatch)
    if read == "changes":
        df = delta_scan.read_delta_changes(spark, path, 1, 5)
    else:
        df = delta_cdf.read_delta_cdf(spark, path, 1, to_version=5)
    assert df.count() == 40
    # one tail (pointer probe, log-dir probe, one listing) shared by
    # every replay of the read; each commit of the range opened once
    assert cfs.calls["listStatus"] == 1
    assert cfs.calls["exists"] == 2
    if read == "changes":
        # the tip replay opens v0..v5, the range loop v2..v5
        assert cfs.calls["open"] == 10
    else:
        # + the from-version replay's v0..v1
        assert cfs.calls["open"] <= 12


@pytest.mark.parametrize("read", ["changes", "cdf"])
def test_change_reads_on_local_table_probe_nothing(
    spark, tmp_path, monkeypatch, read
):
    path = _make_table(spark, tmp_path, 6)
    cfs = _count_change_read_calls(spark, monkeypatch)
    if read == "changes":
        delta_scan.read_delta_changes(spark, path, 1, 5)
    else:
        delta_cdf.read_delta_cdf(spark, path, 1, to_version=5)
    assert cfs.calls["exists"] == 0


def test_append_lists_log_once(spark, tmp_path, no_local_fastpath, monkeypatch):
    path = _make_table(spark, tmp_path, 3)
    cfs = _count_fs_calls(spark, monkeypatch)
    df = spark.range(10).coalesce(1).selectExpr("id", "id * 2 AS v")
    assert dl.write_delta(spark, df, path) == 3
    # the version listing and its pointer are handed to the replay, not
    # fetched again
    assert len([
        a for a in cfs.args["listStatus"] if str(a[0]).endswith("/_delta_log")
    ]) == 1
    assert len([
        a for a in cfs.args["exists"]
        if str(a[0]).endswith("/_last_checkpoint")
    ]) == 1


def test_checkpoint_commit_lists_log_once(
    spark, tmp_path, no_local_fastpath, monkeypatch
):
    # the commit's checkpoint is written from the state the writer
    # holds, so the commit lists the log once, as a plain append does
    monkeypatch.setattr(delta_checkpoint, "DELTA_CHECKPOINT_EVERY", 3)
    path = _make_table(spark, tmp_path, 3)
    cfs = _count_fs_calls(spark, monkeypatch)
    df = spark.range(10).coalesce(1).selectExpr("id", "id * 2 AS v")
    assert dl.write_delta(spark, df, path) == 3
    assert cfs.calls["create"] == 3  # commit, checkpoint, _last_checkpoint
    assert len([
        a for a in cfs.args["listStatus"] if str(a[0]).endswith("/_delta_log")
    ]) == 1
    assert len(dl._replay_log(spark, path, None).adds) == 4


def _declare_v2_checkpoints(path, version: int) -> None:
    """Commit ``version`` as a protocol upgrade to v2Checkpoint, so the
    checkpoint written at it takes the V2 layout."""
    with open(f"{path}/_delta_log/{version:020d}.json", "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["v2Checkpoint"],
            "writerFeatures": ["v2Checkpoint"],
        }}) + "\n")


@pytest.mark.parametrize("layout", ["classic", "multipart", "v2", "v2_unnamed"])
def test_checkpoint_is_create_and_rename_per_file(
    spark, tmp_path, no_local_fastpath, monkeypatch, layout
):
    path = _make_table(spark, tmp_path, 3)  # 5 rows: protocol, metaData, 3 adds
    version, n_files = 2, 1
    if layout != "classic":
        monkeypatch.setattr(delta_checkpoint, "CHECKPOINT_PART_ACTIONS", 2)
        n_files = 3  # 3 parts, or a main + 2 sidecars of the 3 adds
    if layout.startswith("v2"):
        version = 3
        _declare_v2_checkpoints(path, version)
    cfs = _count_fs_calls(spark, monkeypatch)
    delta_checkpoint.checkpoint_delta(spark, path, version)
    # the one listing is the replay's log tail; the write lists nothing
    assert cfs.calls["listStatus"] == 1
    assert cfs.calls["delete"] == 0
    assert cfs.calls["rename"] == n_files
    assert cfs.calls["create"] == n_files + 1  # + _last_checkpoint
    log = f"{path}/_delta_log"
    with open(f"{log}/_last_checkpoint") as f:
        lc = json.load(f)
    if layout.startswith("v2"):
        # the pointer names the UUID main, with its size
        main = lc["v2Checkpoint"]
        assert os.path.getsize(f"{log}/{main['path']}") == main["sizeInBytes"]
    else:
        assert "v2Checkpoint" not in lc
    if layout == "v2_unnamed":
        # an older writer's pointer, without the field
        del lc["v2Checkpoint"]
        with open(f"{log}/_last_checkpoint", "w") as f:
            json.dump(lc, f)
        os.remove(f"{log}/._last_checkpoint.crc")  # stale Hadoop checksum
    cfs.calls.clear()
    st = dl._replay_log(spark, path, None)
    assert len(st.adds) == 3
    assert cfs.calls["open"] == n_files + 1  # + _last_checkpoint
    # the tail listing, plus the V2 main's discovery when the pointer
    # does not name it
    assert cfs.calls["listStatus"] == (2 if layout == "v2_unnamed" else 1)


def test_v2_pointer_names_only_a_main_at_its_version():
    v = 3
    main = f"{v:020d}.checkpoint.{'a' * 32}.parquet"
    assert delta_checkpoint._v2_main_name(v, {"v2Checkpoint": {"path": main}}) == main
    for bad in (
        None, 7, f"{4:020d}.checkpoint.{'a' * 32}.parquet",
        f"{v:020d}.checkpoint./../../data.parquet", "../x.parquet",
        f"{v:020d}.checkpoint.{'a' * 32}.crc",
    ):
        lc = {"v2Checkpoint": {"path": bad}}
        assert delta_checkpoint._v2_main_name(v, lc) is None, bad
    assert delta_checkpoint._v2_main_name(v, {}) is None
    assert delta_checkpoint._v2_main_name(v, {"v2Checkpoint": main}) is None


def test_local_v2_checkpoint_replay_lists_nothing(spark, tmp_path, monkeypatch):
    # the V2 main's discovery lists _delta_log through os on a local
    # table, as the tail listing does
    path = _make_table(spark, tmp_path, 3)
    _declare_v2_checkpoints(path, 3)
    delta_checkpoint.checkpoint_delta(spark, path, 3)
    assert not os.path.exists(f"{path}/_delta_log/{3:020d}.checkpoint.parquet")
    cfs = _count_fs_calls(spark, monkeypatch)
    st = dl._replay_log(spark, path, None)
    assert len(st.adds) == 3
    assert cfs.calls["listStatus"] == 0


def test_local_path_gates():
    # file: URIs — empty/localhost authority is local, foreign is not
    assert hio._local_path("file:///a/b") == "/a/b"
    assert hio._local_path("file:/a/b") == "/a/b"
    assert hio._local_path("file://localhost/a/b") == "/a/b"
    assert hio._local_path("file://nas01/a/b") is None
    assert hio._local_path("s3a://bucket/a") is None
    assert hio._local_path("hdfs:///a/b") is None


def test_bare_path_gated_on_default_fs(monkeypatch):
    # simulate a cluster: fs.defaultFS = hdfs://... ⇒ bare paths are
    # NOT local (r16 ADVICE: the fast path would read an existing HDFS
    # table as empty and commit to the driver's local disk)
    monkeypatch.setattr(hio, "_DEFAULT_FS_LOCAL", False)
    assert hio._local_path("/warehouse/tbl") is None
    monkeypatch.setattr(hio, "_DEFAULT_FS_LOCAL", True)
    assert hio._local_path("/warehouse/tbl") == "/warehouse/tbl"

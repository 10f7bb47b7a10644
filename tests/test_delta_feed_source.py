"""Streaming FROM a Delta table via the `delta_feed` Python DataSource:
micro-batches are commit ranges, offsets checkpoint across restarts,
layout commits are invisible."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.operators.delta_log import write_delta
from portfolio_data_pipelines_spark.operators.delta_maintain import optimize_delta
from portfolio_data_pipelines_spark.sources.delta_feed import (
    DeltaChangeFeedDataSource,
)


def _day(s):
    return datetime.date.fromisoformat(s)


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(DeltaChangeFeedDataSource)
    return spark


def _df(spark, rows):
    return spark.createDataFrame(rows, "id bigint, v double, date date")


def _run_available(spark, path, out_dir, ckpt, **opts):
    reader = spark.readStream.format("delta_feed").option("path", path)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def test_stream_reads_commits_with_versions(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "t")
    write_delta(spark, _df(spark, [(1, 1.0, _day("2021-01-01")),
                                   (2, 2.0, _day("2021-01-02"))]),
                path, partition_col="date")
    write_delta(spark, _df(spark, [(3, 3.0, _day("2021-01-01"))]),
                path, partition_col="date")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run_available(spark, path, out, ckpt)
    got = {
        r["id"]: (r["v"], r["date"], r["_commit_version"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        1: (1.0, _day("2021-01-01"), 0),
        2: (2.0, _day("2021-01-02"), 0),
        3: (3.0, _day("2021-01-01"), 1),
    }


def test_restart_resumes_at_first_unread_commit(registered, tmp_path):
    """Stop after consuming two commits, land two more (one a pure
    layout OPTIMIZE), restart on the same checkpoint: exactly the new
    DATA rows appear, each exactly once."""
    spark = registered
    path = str(tmp_path / "t2")
    write_delta(spark, _df(spark, [(1, 1.0, _day("2021-01-01"))]),
                path, partition_col="date")
    write_delta(spark, _df(spark, [(2, 2.0, _day("2021-01-01"))]),
                path, partition_col="date")
    out, ckpt = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
    _run_available(spark, path, out, ckpt)
    assert sorted(r["id"] for r in spark.read.parquet(out).collect()) == [1, 2]

    # day now holds two files -> OPTIMIZE compacts (dataChange=false)
    assert optimize_delta(spark, path) is not None
    write_delta(spark, _df(spark, [(9, 9.0, _day("2021-01-02"))]),
                path, partition_col="date")
    _run_available(spark, path, out, ckpt)
    rows = [r["id"] for r in spark.read.parquet(out).collect()]
    # compaction rewrites rows 1,2 physically but the feed skips the
    # layout commit — no duplicates, only the new data row arrives
    assert sorted(rows) == [1, 2, 9]
    versions = {
        r["id"]: r["_commit_version"]
        for r in spark.read.parquet(out).collect()
    }
    assert versions[9] == 3  # v2 was the OPTIMIZE


def test_starting_version_skips_history(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "t3")
    write_delta(spark, _df(spark, [(1, 1.0, _day("2021-01-01"))]),
                path, partition_col="date")
    write_delta(spark, _df(spark, [(2, 2.0, _day("2021-01-01"))]),
                path, partition_col="date")
    out, ckpt = str(tmp_path / "out3"), str(tmp_path / "ckpt3")
    q = (
        spark.readStream.format("delta_feed")
        .option("path", path)
        .option("startingVersion", "0")  # consume commits AFTER v0
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert [r["id"] for r in spark.read.parquet(out).collect()] == [2]


def test_sink_to_source_roundtrip(registered, tmp_path):
    """The two halves compose: a stream lands in table A via the
    exactly-once sink, and a second hop streams A's feed into table B —
    B converges to A's rows."""
    from portfolio_data_pipelines_spark.operators.delta_log import delta_stream_sink
    from portfolio_data_pipelines_spark.operators.delta_scan import read_delta

    spark = registered
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    sink_a = delta_stream_sink(a, partition_col="date", app_id="hop0")
    for batch_id in range(3):
        sink_a(
            _df(spark, [(batch_id, float(batch_id), _day("2021-01-01"))]),
            batch_id,
        )
    sink_b = delta_stream_sink(b, partition_col="date", app_id="hop1")
    q = (
        spark.readStream.format("delta_feed")
        .option("path", a)
        .load()
        .drop("_commit_version")
        .writeStream.foreachBatch(sink_b)
        .option("checkpointLocation", str(tmp_path / "ckpt_ab"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(tuple(r) for r in read_delta(spark, b).collect())
    want = sorted(tuple(r) for r in read_delta(spark, a).collect())
    assert got == want and len(got) == 3


def test_max_commits_per_trigger_bounds_each_batch(registered, tmp_path):
    """Admission control at the reader level: with maxCommitsPerTrigger=2
    each latestOffset advances at most 2 versions past the last planned
    batch, a restart (no initialOffset, checkpoint holds the position)
    is never capped below the checkpoint, and the stream still delivers
    every row. (Under trigger(availableNow) Spark snapshots one end
    offset, so the per-trigger pacing is asserted on the reader's own
    offset protocol.)"""
    from pyspark.sql.types import StructType

    from portfolio_data_pipelines_spark.sources.delta_feed import (
        DeltaFeedStreamReader,
    )

    spark = registered
    path = str(tmp_path / "t_rate")
    for i in range(5):
        write_delta(spark, _df(spark, [(i, float(i), _day("2021-01-01"))]),
                    path, partition_col="date")

    schema = StructType()  # offsets/partitions don't touch the schema
    r = DeltaFeedStreamReader(schema, {"path": path, "maxcommitspertrigger": "2"})
    assert r.initialOffset() == {"version": -1}
    assert r.latestOffset() == {"version": 1}   # -1 -> +2
    r.partitions({"version": -1}, {"version": 1})
    assert r.latestOffset() == {"version": 3}   # 1 -> +2
    r.partitions({"version": 1}, {"version": 3})
    assert r.latestOffset() == {"version": 4}   # tip, not 5
    r.partitions({"version": 3}, {"version": 4})
    assert r.latestOffset() == {"version": 4}   # caught up: no advance

    # RESTART shape: no initialOffset call — the first latestOffset must
    # NOT cap below the (unknown to the reader) checkpointed position
    r2 = DeltaFeedStreamReader(schema, {"path": path, "maxcommitspertrigger": "2"})
    assert r2.latestOffset() == {"version": 4}

    # end to end the stream still delivers everything exactly once
    out, ckpt = str(tmp_path / "out_rate"), str(tmp_path / "ckpt_rate")
    q = (
        spark.readStream.format("delta_feed")
        .option("path", path)
        .option("maxCommitsPerTrigger", "2")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert sorted(r["id"] for r in spark.read.parquet(out).collect()) == [0, 1, 2, 3, 4]


def test_read_delta_timestamp_as_of(registered, tmp_path):
    """timestampAsOf time travel: resolve the version from commit
    times; reading as of 'now' equals latest, as of a pre-table time
    raises."""
    import datetime as dt

    from portfolio_data_pipelines_spark.operators.delta_scan import (
        read_delta,
        version_as_of,
    )

    spark = registered
    path = str(tmp_path / "t_asof")
    write_delta(spark, _df(spark, [(1, 1.0, _day("2021-01-01"))]),
                path, partition_col="date")
    write_delta(spark, _df(spark, [(2, 2.0, _day("2021-01-01"))]),
                path, partition_col="date")
    now = dt.datetime.now(dt.timezone.utc).isoformat()
    assert version_as_of(spark, path, now) == 1
    got = read_delta(spark, path, as_of=now)
    assert sorted(r["id"] for r in got.collect()) == [1, 2]
    with pytest.raises(ValueError, match="no commit"):
        read_delta(spark, path, as_of="2000-01-01T00:00:00+00:00")
    with pytest.raises(ValueError, match="not both"):
        read_delta(spark, path, version=0, as_of=now)


def _run_cdf_available(spark, path, out_dir, ckpt):
    q = (
        spark.readStream.format("delta_feed")
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("keyCols", "id")
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def test_cdf_mode_merge_mid_stream_net_rows_once(registered, tmp_path):
    """readChangeFeed mode: a MERGE between two micro-batches yields the
    merge's NET changes exactly once — no re-delivery of carried-over
    rows — and folding the emitted changes over the first batch's
    inserts reconstructs the final table."""
    from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
    from portfolio_data_pipelines_spark.operators.delta_scan import read_delta

    spark = registered
    path = str(tmp_path / "t_cdf_feed")
    write_delta(
        spark,
        _df(spark, [(1, 1.0, _day("2021-01-01")),
                    (2, 2.0, _day("2021-01-01"))]).coalesce(1),
        path, partition_col="date",
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run_cdf_available(spark, path, out, ckpt)
    first = spark.read.parquet(out)
    assert sorted(
        (r["_change_type"], r["id"]) for r in first.collect()
    ) == [("insert", 1), ("insert", 2)]

    merge_delta(  # update id2, insert id3; id1 carried over in rewrite
        spark, path,
        _df(spark, [(2, 20.0, _day("2021-01-01")),
                    (3, 3.0, _day("2021-01-02"))]),
        key_cols=["id"],
    )
    _run_cdf_available(spark, path, out, ckpt)
    rows = spark.read.parquet(out).collect()
    second = [r for r in rows if r["_commit_version"] == 1]
    assert sorted((r["_change_type"], r["id"], r["v"]) for r in second) == [
        ("insert", 3, 3.0),
        ("update_postimage", 2, 20.0),
        ("update_preimage", 2, 2.0),
    ]
    # exactly once across both batches: fold → final table
    state = {}
    for r in sorted(rows, key=lambda r: r["_commit_version"]):
        if r["_change_type"] in ("delete", "update_preimage"):
            state.pop(r["id"], None)
        if r["_change_type"] in ("insert", "update_postimage"):
            state[r["id"]] = (r["v"], r["date"])
    want = {
        r["id"]: (r["v"], r["date"])
        for r in read_delta(spark, path).collect()
    }
    assert state == want


def test_cdf_mode_requires_key_cols_only_for_reconstruction(
    registered, tmp_path
):
    """keyCols is needed ONLY when a commit must be reconstructed (a
    rewrite without cdc actions). Append-only history streams keyless;
    a keyless stream over a cdc-less MERGE commit fails planning with
    the remedy in the message."""
    from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta

    spark = registered
    path = str(tmp_path / "t_cdf_nokeys")
    write_delta(spark, _df(spark, [(1, 1.0, _day("2021-01-01"))]), path)
    # append-only: keyless CDF stream works (inserts derive from adds)
    (
        spark.readStream.format("delta_feed")
        .option("path", path)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck_ok"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(60)
    )
    # a rewrite commit without cdc actions needs keys to reconstruct
    merge_delta(
        spark, path, _df(spark, [(1, 9.0, _day("2021-01-01"))]), ["id"]
    )
    with pytest.raises(Exception, match="keyCols"):
        (
            spark.readStream.format("delta_feed")
            .option("path", path)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(60)
        )


def test_cdf_mode_restore_after_optimize(registered, tmp_path):
    """RESTORE re-adds files with dataChange=true (r7 fix) — the CDF
    stream must emit the restored rows as net changes, while the
    OPTIMIZE commit itself stays invisible."""
    from portfolio_data_pipelines_spark.operators.delta_maintain import restore_delta

    spark = registered
    path = str(tmp_path / "t_cdf_restore")
    write_delta(spark, _df(spark, [(1, 1.0, _day("2021-01-01"))]).coalesce(1), path)
    write_delta(spark, _df(spark, [(2, 2.0, _day("2021-01-01"))]).coalesce(1), path)
    v_opt = optimize_delta(spark, path)  # v2, layout only
    write_delta(  # v3: truncate to a single fresh row
        spark, _df(spark, [(9, 9.0, _day("2021-02-01"))]).coalesce(1),
        path, mode="overwrite",
    )
    restore_delta(spark, path, v_opt)  # v4: back to ids 1,2
    out, ckpt = str(tmp_path / "out_r"), str(tmp_path / "ckpt_r")
    _run_cdf_available(spark, path, out, ckpt)
    rows = spark.read.parquet(out).collect()
    by_v = {}
    for r in rows:
        by_v.setdefault(r["_commit_version"], []).append(
            (r["_change_type"], r["id"])
        )
    assert 2 not in by_v  # OPTIMIZE invisible
    assert sorted(by_v[3]) == [
        ("delete", 1), ("delete", 2), ("insert", 9)
    ]
    assert sorted(by_v[4]) == [
        ("delete", 9), ("insert", 1), ("insert", 2)
    ]


def test_feed_sessionize_to_delta_equals_batch(registered, tmp_path):
    """End-to-end composition of the r6 source with the r2-r5 streaming
    surface: Delta table → delta_feed → watermarked session-window
    aggregation → exactly-once Delta sink, pinned row-equal to the same
    sessionization computed in batch over the same table. Proves the
    source's rows (types included) flow through stateful streaming
    operators, not just pass-through reads."""
    import datetime as dt

    from portfolio_data_pipelines_spark.operators.delta_log import delta_stream_sink
    from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
    from portfolio_data_pipelines_spark.streaming import user_session_windows

    spark = registered
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt_sess")

    def ev(uid, minute, value):
        return (uid, dt.datetime(2024, 1, 1, 10, minute), value)

    schema = "user_id bigint, ts timestamp, value double"
    # user 1: two sessions (gap > 30 min); user 2: one session —
    # split across TWO commits so the feed plans a multi-commit batch
    write_delta(
        spark,
        spark.createDataFrame([ev(1, 0, 1.0), ev(1, 10, 2.0)], schema),
        src,
    )
    write_delta(
        spark,
        spark.createDataFrame(
            [ev(1, 50, 3.0), ev(2, 5, 4.0), ev(2, 20, 5.0)], schema
        ),
        src,
    )
    stream = (
        spark.readStream.format("delta_feed")
        .option("path", src)
        .load()
        .select("user_id", "ts", "value")
    )
    q = (
        user_session_windows(stream, gap="30 minutes", watermark="1 day")
        .writeStream.foreachBatch(delta_stream_sink(dst, app_id="sess"))
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(
        tuple(r)
        for r in read_delta(spark, dst)
        .select("user_id", "session_start", "session_end",
                "n_events", "total_value")
        .collect()
    )
    batch = sorted(
        tuple(r)
        for r in user_session_windows(
            read_delta(spark, src).select("user_id", "ts", "value")
        )
        .select("user_id", "session_start", "session_end",
                "n_events", "total_value")
        .collect()
    )
    assert got == batch
    # sanity: the sessionization actually split user 1 into two sessions
    assert len([r for r in got if r[0] == 1]) == 2


def test_cdf_stream_apply_maintains_replica(registered, tmp_path):
    """The full lakehouse replication loop: source Delta table →
    delta_feed readChangeFeed stream → delta_cdf_apply_sink → replica
    Delta table. Across two availableNow runs with a MERGE and a
    truncating overwrite in between, the replica equals the source
    after every catch-up — updates applied once, deletes propagated,
    carried-over rows untouched."""
    from portfolio_data_pipelines_spark.operators.delta_merge import (
        delta_cdf_apply_sink,
        merge_delta,
    )
    from portfolio_data_pipelines_spark.operators.delta_scan import read_delta

    spark = registered
    src, rep = str(tmp_path / "src_rep"), str(tmp_path / "rep_rep")
    ckpt = str(tmp_path / "ckpt_rep")
    write_delta(
        spark,
        _df(spark, [(1, 1.0, _day("2021-01-01")),
                    (2, 2.0, _day("2021-01-01"))]).coalesce(1),
        src,
    )
    write_delta(
        spark, spark.createDataFrame([], "id bigint, v double, date date"),
        rep,
    )

    def catch_up():
        q = (
            spark.readStream.format("delta_feed")
            .option("path", src)
            .option("readChangeFeed", "true")
            .option("keyCols", "id")
            .load()
            .writeStream.foreachBatch(delta_cdf_apply_sink(rep, ["id"]))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = sorted(tuple(r) for r in read_delta(spark, rep).collect())
        want = sorted(tuple(r) for r in read_delta(spark, src).collect())
        assert got == want

    catch_up()  # initial sync
    merge_delta(
        spark, src,
        _df(spark, [(2, 20.0, _day("2021-01-01")),
                    (3, 3.0, _day("2021-01-02"))]),
        key_cols=["id"],
    )
    catch_up()  # incremental: update + insert, no re-delivery issues
    write_delta(
        spark, _df(spark, [(9, 9.0, _day("2021-03-01"))]),
        src, mode="overwrite",
    )
    catch_up()  # deletes propagate


def test_cdf_mode_respects_max_commits_per_trigger(registered, tmp_path):
    """readChangeFeed composes with admission control: the change
    stream drains a multi-commit backlog in version order under
    maxCommitsPerTrigger, net changes intact."""
    from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta

    spark = registered
    path = str(tmp_path / "t_cdf_paced")
    write_delta(
        spark, _df(spark, [(1, 1.0, _day("2021-01-01"))]).coalesce(1), path
    )
    merge_delta(spark, path,
                _df(spark, [(1, 10.0, _day("2021-01-01")),
                            (2, 2.0, _day("2021-01-01"))]),
                key_cols=["id"])
    write_delta(spark, _df(spark, [(3, 3.0, _day("2021-01-02"))]), path)
    # pacing is a reader-protocol property (availableNow snapshots one
    # end offset): each latestOffset advances one commit, and each
    # window plans ONE CDF partition per commit
    from pyspark.sql.types import StructType

    from portfolio_data_pipelines_spark.sources.delta_feed import (
        DeltaFeedStreamReader,
        _FeedCdfPartition,
    )

    r = DeltaFeedStreamReader(
        StructType(),
        {"path": path, "readchangefeed": "true", "keycols": "id",
         "maxcommitspertrigger": "1"},
    )
    assert r.initialOffset() == {"version": -1}
    assert r.latestOffset() == {"version": 0}
    p0 = r.partitions({"version": -1}, {"version": 0})
    assert len(p0) == 1 and isinstance(p0[0], _FeedCdfPartition)
    assert r.latestOffset() == {"version": 1}
    p1 = r.partitions({"version": 0}, {"version": 1})
    assert p1[0].version == 1 and p1[0].removed  # the MERGE rewrite
    assert r.latestOffset() == {"version": 2}

    # end to end, the paced stream still nets the changes exactly once
    ckpt = str(tmp_path / "ckpt_p")
    batches = []
    q = (
        spark.readStream.format("delta_feed")
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("keyCols", "id")
        .option("maxCommitsPerTrigger", "1")
        .load()
        .writeStream.foreachBatch(
            lambda b, i: batches.append(
                sorted((r["_commit_version"], r["_change_type"], r["id"])
                       for r in b.collect())
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(x for b in batches for x in b)
    assert got == [
        (0, "insert", 1),
        (1, "insert", 2),
        (1, "update_postimage", 1),
        (1, "update_preimage", 1),
        (2, "insert", 3),
    ]


def test_feed_reads_column_mapped_table(registered, tmp_path):
    """The feed resolves name-mode column mapping: physical col names
    in files/partitionValues, logical names in the output — both plain
    and readChangeFeed modes."""
    from portfolio_data_pipelines_spark.operators.delta_alter import (
        enable_column_mapping,
        rename_column,
    )
    from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta

    spark = registered
    path = str(tmp_path / "t_feed_cm")
    write_delta(
        spark,
        spark.createDataFrame(
            [(1, 1.0, "2021-01-01")], "id bigint, v double, day string"
        ).coalesce(1),
        path, partition_col="day",
    )
    enable_column_mapping(spark, path)
    rename_column(spark, path, "v", "amount")
    write_delta(
        spark,
        spark.createDataFrame(
            [(2, 2.0, "2021-01-02")], "id bigint, amount double, day string"
        ),
        path, partition_col="day",
    )
    merge_delta(
        spark, path,
        spark.createDataFrame(
            [(1, 10.0, "2021-01-01")], "id bigint, amount double, day string"
        ),
        key_cols=["id"],
    )
    # plain mode: logical columns, physical files resolved. The MERGE
    # above makes commit 4 a change commit, so plain mode requires the
    # explicit ignorechanges opt-in (duplicates accepted by this test's
    # membership asserts)
    out, ckpt = str(tmp_path / "out_cm"), str(tmp_path / "ckpt_cm")
    _run_available(spark, path, out, ckpt, ignorechanges="true")
    got = spark.read.parquet(out)
    assert {"id", "amount", "day", "_commit_version"} <= set(got.columns)
    vals = {(r["id"], r["amount"], r["day"]) for r in got.collect()}
    assert (2, 2.0, "2021-01-02") in vals
    assert (1, 10.0, "2021-01-01") in vals  # the merge rewrite
    # CDF mode nets the merge
    out2, ckpt2 = str(tmp_path / "out_cm2"), str(tmp_path / "ckpt_cm2")
    _run_cdf_available(spark, path, out2, ckpt2)
    cdf = spark.read.parquet(out2)
    merge_rows = sorted(
        (r["_change_type"], r["id"], r["amount"])
        for r in cdf.collect()
        if r["_commit_version"] == 4
    )
    assert merge_rows == [
        ("update_postimage", 1, 10.0),
        ("update_preimage", 1, 1.0),
    ]


def test_cdf_stream_prefers_write_side_change_files(registered, tmp_path):
    """On a CDF-enabled table the stream answers rewrite commits from
    their _change_data files (arrow path, keyless), pinned equal —
    rows, versions AND _commit_timestamp — to the batch
    read_delta_cdf over the same window."""
    from portfolio_data_pipelines_spark.operators.delta_cdf import (
        enable_change_data_feed,
        read_delta_cdf,
    )
    from portfolio_data_pipelines_spark.operators.delta_log import write_delta as wd
    from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta

    spark = registered
    path = str(tmp_path / "t_cdc_stream")
    wd(
        spark,
        _df(spark, [(1, 1.0, _day("2021-01-01")),
                    (2, 2.0, _day("2021-01-01"))]).coalesce(1),
        path, partition_col="date",
    )
    enable_change_data_feed(spark, path)
    merge_delta(  # rewrite: update id2, insert id3
        spark, path,
        _df(spark, [(2, 20.0, _day("2021-01-01")),
                    (3, 3.0, _day("2021-01-02"))]),
        key_cols=["id"],
    )
    wd(  # keyed replaceWhere of day 1
        spark, _df(spark, [(1, 10.0, _day("2021-01-01"))]),
        path, partition_col="date", mode="overwrite",
        replace_partitions=["2021-01-01"], cdf_key_cols=["id"],
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (  # NO keyCols: every rewrite carries cdc actions
        spark.readStream.format("delta_feed")
        .option("path", path)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    key = lambda r: (
        r["id"], r["v"], r["date"], r["_change_type"],
        r["_commit_version"], r["_commit_timestamp"],
    )
    want = read_delta_cdf(spark, path, -1)
    assert sorted(map(key, got.collect())) == sorted(
        map(key, want.collect())
    )
    # the stream delivered real changes (not just v0 inserts)
    types = {r["_change_type"] for r in got.collect()}
    assert {"insert", "delete", "update_preimage",
            "update_postimage"} <= types


def test_cdf_reconstruction_carries_commit_timestamp(registered, tmp_path):
    """Batch-CDF column parity holds in RECONSTRUCTION mode too: the
    dict-diff path emits _commit_timestamp equal to the batch read's
    (both resolve the commitInfo in-commit timestamp)."""
    from portfolio_data_pipelines_spark.operators.delta_cdf import read_delta_cdf
    from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta

    spark = registered
    path = str(tmp_path / "t_recon_ts")
    write_delta(
        spark, _df(spark, [(1, 1.0, _day("2021-01-01"))]).coalesce(1), path
    )
    merge_delta(
        spark, path, _df(spark, [(1, 9.0, _day("2021-01-01"))]), ["id"]
    )
    out, ckpt = str(tmp_path / "out_ts"), str(tmp_path / "ckpt_ts")
    _run_cdf_available(spark, path, out, ckpt)
    got = {
        (r["id"], r["_change_type"]): r["_commit_timestamp"]
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["id"], r["_change_type"]): r["_commit_timestamp"]
        for r in read_delta_cdf(spark, path, -1, ["id"]).collect()
    }
    assert got == want and all(v is not None for v in got.values())


def test_cdf_reconstruction_byte_cap(registered, tmp_path):
    """A cdc-less rewrite commit whose touched bytes exceed
    maxReconstructBytes fails PLANNING with the remedy in the message
    — not an opaque mid-task OOM."""
    from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta

    spark = registered
    path = str(tmp_path / "t_cap")
    write_delta(
        spark, _df(spark, [(i, float(i), _day("2021-01-01"))
                           for i in range(100)]).coalesce(1), path
    )
    merge_delta(
        spark, path, _df(spark, [(1, 9.0, _day("2021-01-01"))]), ["id"]
    )
    with pytest.raises(Exception, match="maxReconstructBytes|read_delta_cdf"):
        (
            spark.readStream.format("delta_feed")
            .option("path", path)
            .option("readChangeFeed", "true")
            .option("keyCols", "id")
            .option("maxReconstructBytes", "10")
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt_cap"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(60)
        )


def test_plain_feed_respects_deletion_vectors(registered, tmp_path):
    """A fresh stream over a table whose files carry deletion vectors
    (delete_where_dv) must NOT emit the deleted rows: plain mode's
    arrow path drops DV'd positions before the batch leaves the task."""
    from portfolio_data_pipelines_spark.operators.delta_dv import delete_where_dv

    spark = registered
    path = str(tmp_path / "t_dv_plain")
    write_delta(
        spark,
        _df(spark, [(i, float(i), _day("2021-01-01")) for i in range(1, 9)])
        .coalesce(1),
        path, partition_col="date",
    )
    delete_where_dv(spark, path, "id in (2, 5)")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    # the DV commit is a change commit (dataChange remove + re-add):
    # plain mode needs the explicit duplicate opt-in to consume it
    _run_available(spark, path, out, ckpt, ignorechanges="true")
    rows = spark.read.parquet(out).collect()
    # commit 0 streamed all 8; commit 1 (the DV re-add, dataChange=true)
    # re-streams the file's LIVE rows only — never ids 2 or 5
    v1 = sorted(r["id"] for r in rows if r["_commit_version"] == 1)
    assert v1 == [1, 3, 4, 6, 7, 8]


def test_cdf_feed_reconstructs_dv_delete_without_cdc(registered, tmp_path):
    """A DV delete on a NON-CDF table is a rewrite commit without cdc
    actions: reconstruction mode (keyCols) must pair both sides through
    the DV filter and emit exactly the deleted rows as deletes."""
    from portfolio_data_pipelines_spark.operators.delta_dv import delete_where_dv

    spark = registered
    path = str(tmp_path / "t_dv_cdf")
    write_delta(
        spark,
        _df(spark, [(i, float(i), _day("2021-01-01")) for i in range(1, 6)])
        .coalesce(1),
        path, partition_col="date",
    )
    delete_where_dv(spark, path, "id in (1, 4)")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run_cdf_available(spark, path, out, ckpt)
    rows = spark.read.parquet(out).collect()
    v1 = sorted(
        (r["_change_type"], r["id"])
        for r in rows
        if r["_commit_version"] == 1
    )
    assert v1 == [("delete", 1), ("delete", 4)]


def test_cdf_feed_streams_dv_delete_from_cdc_files(registered, tmp_path):
    """On a CDF-ENABLED table, delete_where_dv stages cdc delete rows;
    the streaming CDF must serve that commit from the change files
    (keyless — reconstruction would raise) with _commit_timestamp."""
    from portfolio_data_pipelines_spark.operators.delta_cdf import (
        enable_change_data_feed,
    )
    from portfolio_data_pipelines_spark.operators.delta_dv import delete_where_dv

    spark = registered
    path = str(tmp_path / "t_dv_cdc_feed")
    write_delta(
        spark,
        _df(spark, [(i, float(i), _day("2021-01-01")) for i in range(1, 7)])
        .coalesce(1),
        path, partition_col="date",
    )
    enable_change_data_feed(spark, path)
    delete_where_dv(spark, path, "id in (2, 6)")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("delta_feed")
        .option("path", path)
        .option("readChangeFeed", "true")
        .load()  # NO keyCols: cdc files must serve the rewrite
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.read.parquet(out).collect()
    dv_commit = [r for r in rows if r["_change_type"] == "delete"]
    assert sorted(r["id"] for r in dv_commit) == [2, 6]
    assert all(r["_commit_timestamp"] is not None for r in dv_commit)


def test_plain_feed_refuses_change_commits_without_opt_in(
    registered, tmp_path
):
    """Plain (append-only) feed mode must REFUSE a change commit
    (dataChange removes alongside adds — DELETE/UPDATE/MERGE shapes)
    rather than silently re-emit every surviving row of the touched
    files: delta-spark's streaming source has the same contract
    (ignoreChanges / skipChangeCommits). Advisory fix, round 10."""
    import pytest

    from portfolio_data_pipelines_spark.operators.delta_log import (
        delete_where,
    )

    spark = registered
    path = str(tmp_path / "t_change_refuse")
    write_delta(
        spark,
        _df(spark, [(i, float(i), _day("2021-01-01")) for i in range(1, 6)])
        .coalesce(1),
        path, partition_col="date",
    )
    delete_where(spark, path, "id = 3")  # copy-on-write rewrite commit
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    with pytest.raises(Exception, match="change commit"):
        _run_available(spark, path, out, ckpt)
    # the opt-in consumes the same log, duplicates accepted
    out2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
    _run_available(spark, path, out2, ckpt2, ignorechanges="true")
    rows = spark.read.parquet(out2).collect()
    v1 = sorted(r["id"] for r in rows if r["_commit_version"] == 1)
    assert v1 == [1, 2, 4, 5]  # the rewrite's surviving rows


def test_plain_feed_ignoredeletes_tolerates_delete_only_commits(
    registered, tmp_path
):
    """``ignoreDeletes`` — delta-spark's NARROWER plain-mode opt-out:
    a DELETE-ONLY commit (dataChange removes, zero dataChange adds —
    here a whole-partition delete) adds nothing to the feed and so
    cannot duplicate rows; it is tolerated and skipped. A commit that
    REWRITES rows still refuses under ignoreDeletes alone."""
    import pytest

    from portfolio_data_pipelines_spark.operators.delta_log import (
        delete_where,
    )

    spark = registered
    path = str(tmp_path / "t_igdel")
    write_delta(
        spark,
        _df(spark, [(1, 1.0, _day("2021-01-01")),
                    (2, 2.0, _day("2021-01-01"))]).coalesce(1),
        path, partition_col="date",
    )
    write_delta(
        spark,
        _df(spark, [(3, 3.0, _day("2021-01-02"))]).coalesce(1),
        path, partition_col="date",
    )
    # commit 2: removes 2021-01-01's only file outright — no survivors,
    # no adds
    delete_where(spark, path, "date = DATE'2021-01-01'")
    # default still refuses (dataChange removes present)
    out0, ckpt0 = str(tmp_path / "out0"), str(tmp_path / "ckpt0")
    with pytest.raises(Exception, match="change commit"):
        _run_available(spark, path, out0, ckpt0)
    # ignoredeletes admits the delete-only commit; the feed carries
    # exactly the appended rows, nothing doubled, nothing from the
    # delete
    out1, ckpt1 = str(tmp_path / "out1"), str(tmp_path / "ckpt1")
    _run_available(spark, path, out1, ckpt1, ignoredeletes="true")
    rows = spark.read.parquet(out1).collect()
    assert sorted((r["id"], r["_commit_version"]) for r in rows) == [
        (1, 0), (2, 0), (3, 1),
    ]
    # a REWRITE commit (partial delete of a multi-row file: removes AND
    # adds the survivor) is beyond ignoredeletes — still refused
    write_delta(
        spark,
        _df(spark, [(4, 4.0, _day("2021-01-03")),
                    (5, 5.0, _day("2021-01-03"))]).coalesce(1),
        path, partition_col="date",
    )
    delete_where(spark, path, "id = 4")
    out2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
    with pytest.raises(Exception, match="change commit"):
        _run_available(spark, path, out2, ckpt2, ignoredeletes="true")


def test_feed_streams_variant_columns(registered, tmp_path):
    """The change-feed source composes with variantType (r11 write
    path): streaming a variant table emits real VariantVal cells whose
    typed extraction matches what was written — the arrow batches carry
    the physical pair and Spark surfaces it as variant."""
    import uuid

    spark = registered
    path = str(tmp_path / "t_var_feed")
    write_delta(
        spark,
        spark.range(0, 6).select(
            "id",
            F.parse_json(F.format_string('{"n": %d}', "id")).alias("v"),
        ).coalesce(1),
        path,
    )
    name = "vfeed_" + uuid.uuid4().hex[:8]
    q = (
        spark.readStream.format("delta_feed").option("path", path).load()
        .writeStream.format("memory").queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        r["id"]: r["n"]
        for r in spark.table(name)
        .select("id", F.expr("variant_get(v, '$.n', 'bigint')").alias("n"))
        .collect()
    }
    assert got == {i: i for i in range(6)}, got


def test_feed_streams_shredded_variant_table(registered, tmp_path):
    """The plain feed over a variantShredding table (r12): each task
    reassembles shredded cells (typed_value rows re-encoded through the
    spec encoder, residual rows keep their bytes) into the plain pair
    before the arrow cast — so a shredded table streams the same
    logical values an unshredded one would."""
    from pyspark.sql import functions as F

    from portfolio_data_pipelines_spark.operators.delta_log import (
        write_delta,
    )

    spark = registered
    path = str(tmp_path / "t_feed_shred")
    df = spark.range(0, 6).select(
        "id",
        F.parse_json(
            F.when(F.col("id") < 3, F.col("id").cast("string"))
            .otherwise(F.lit('{"a": 1}'))
        ).alias("v"),
    )
    write_delta(spark, df, path, shred_variants={"v": "long"})
    q = (
        spark.readStream.format("delta_feed").option("path", path).load()
        .writeStream.format("memory").queryName("feed_shred_mem")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        r["id"]: (None if r["v"] is None else r["v"].toPython())
        for r in spark.sql("select * from feed_shred_mem").collect()
    }
    assert got == {
        0: 0, 1: 1, 2: 2, 3: {"a": 1}, 4: {"a": 1}, 5: {"a": 1}
    }, got


def test_feed_reconstruction_refuses_folded_collation_keys(
    registered, tmp_path
):
    """Reconstruction-mode CDF diffs keys in a PYTHON dict (byte-wise)
    — on a fold-collated (UTF8_LCASE) key that diverges from the
    table's semantics, so it is refused by name with the write-side-CDF
    remedy. (The batch read_delta_cdf reconstructs via Spark joins on
    the collated frame and folds correctly.)"""
    import json as _json

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType as ST,
    )

    from portfolio_data_pipelines_spark.operators.delta_log import write_delta
    from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta

    spark = registered
    path = str(tmp_path / "t_feed_lcase")
    st = ST([StructField("s", StringType("UTF8_LCASE")),
             StructField("v", LongType())])
    write_delta(spark, spark.createDataFrame([("a", 1), ("B", 2)], st), path)
    # a rewrite commit without cdc actions forces reconstruction mode
    merge_delta(
        spark, path,
        spark.createDataFrame([("A", 10)], "s string, v long"),
        key_cols=["s"],
    )
    q = (
        spark.readStream.format("delta_feed").option("path", path)
        .option("readChangeFeed", "true").option("keyCols", "s").load()
        .writeStream.format("memory").queryName("feed_lcase_mem")
        .trigger(availableNow=True).start()
    )
    with pytest.raises(Exception, match="fold|collation"):
        q.awaitTermination(120)
        raise AssertionError("expected the stream to fail planning")


@pytest.mark.parametrize(
    "path", ["s3a://bucket/t", "hdfs:///warehouse/t", "file://nas01/t"]
)
def test_feed_refuses_non_local_table(path):
    """The planner and tasks run in JVM-less Python workers, so a table
    they cannot reach through ``os`` is refused when the reader is
    built, not later with an os-level error."""
    from pyspark.sql.types import StructType

    from portfolio_data_pipelines_spark.sources.delta_feed import (
        DeltaFeedStreamReader,
    )

    with pytest.raises(ValueError, match="local tables only.*without a JVM"):
        DeltaFeedStreamReader(StructType([]), {"path": path})


def test_cdf_batch_from_checkpoint_version_rewrites_checkpointed_file(
    registered, tmp_path, monkeypatch
):
    """A readChangeFeed batch whose start offset IS a checkpoint version
    takes the pre-commit live set from that checkpoint. pyarrow returns
    its partitionValues as (key, value) pairs; the replay must hand the
    task a dict, or the reconstruction of a rewritten checkpointed file
    fails."""
    import os

    from portfolio_data_pipelines_spark.operators import delta_checkpoint
    from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta

    monkeypatch.setattr(delta_checkpoint, "DELTA_CHECKPOINT_EVERY", 2)
    spark = registered
    path = str(tmp_path / "t_cdf_ckpt")
    for rows in (
        [(1, 1.0, _day("2021-01-01")), (2, 2.0, _day("2021-01-01"))],
        [(3, 3.0, _day("2021-01-02"))],
        [(4, 4.0, _day("2021-01-03"))],
    ):
        write_delta(spark, _df(spark, rows).coalesce(1), path,
                    partition_col="date")
    assert os.path.exists(f"{path}/_delta_log/{2:020d}.checkpoint.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run_cdf_available(spark, path, out, ckpt)  # offset ends at v2
    merge_delta(  # v3 rewrites v0's file: update id2, carry id1, insert id5
        spark, path,
        _df(spark, [(2, 20.0, _day("2021-01-01")),
                    (5, 5.0, _day("2021-01-04"))]),
        key_cols=["id"],
    )
    _run_cdf_available(spark, path, out, ckpt)
    got = sorted(
        (r["_change_type"], r["id"], r["v"], r["date"])
        for r in spark.read.parquet(out).collect()
        if r["_commit_version"] == 3
    )
    assert got == [
        ("insert", 5, 5.0, _day("2021-01-04")),
        ("update_postimage", 2, 20.0, _day("2021-01-01")),
        ("update_preimage", 2, 2.0, _day("2021-01-01")),
    ]


def test_feed_streams_icu_collated_table(registered, tmp_path):
    """The feed's planner replays in a Python worker with no Spark
    session, so it cannot probe which collations the build resolves:
    declared collations pass its gate, and the rows stream."""
    from tests.test_protocol_features import _collated_fixture

    spark = registered
    path = _collated_fixture(tmp_path, "t_feed_icu", "UNICODE_CI")
    q = (
        spark.readStream.format("delta_feed").option("path", path).load()
        .writeStream.format("memory").queryName("feed_icu_mem")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["id"], r["s"], r["_commit_version"])
        for r in spark.sql("select * from feed_icu_mem").collect()
    )
    assert got == [(1, "a", 0), (2, "B", 0)]

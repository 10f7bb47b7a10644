"""Property-based tests (hypothesis) for the invariants the example
tests can only spot-check: codec roundtrips over arbitrary images, the
salted-join == plain-join contract, and the fixed-point log2 bound.

Spark-touching properties cap max_examples low (each example is a job);
the pure-Python codec properties run wide."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.test_multimodal import _bmp_bytes, _gif_bytes, _png_bytes, _ppm_bytes


@st.composite
def rgb_images(draw, max_h=12, max_w=12):
    h = draw(st.integers(1, max_h))
    w = draw(st.integers(1, max_w))
    seed = draw(st.integers(0, 2**31 - 1))
    return np.random.RandomState(seed).randint(0, 256, (h, w, 3), dtype=np.uint8)


@given(img=rgb_images(), filter_seed=st.integers(0, 2**31 - 1))
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_any_image_any_filters(img, filter_seed):
    from portfolio_data_pipelines_spark.operators.multimodal import decode_image

    rs = np.random.RandomState(filter_seed)
    filters = [int(f) for f in rs.randint(0, 5, img.shape[0])]
    assert np.array_equal(decode_image(_png_bytes(img, filters=filters)), img)


@given(img=rgb_images())
@settings(max_examples=25, deadline=None)
def test_ppm_bmp_roundtrip_any_image(img):
    from portfolio_data_pipelines_spark.operators.multimodal import decode_image

    assert np.array_equal(decode_image(_ppm_bytes(img)), img)
    assert np.array_equal(decode_image(_bmp_bytes(img)), img)


@given(
    h=st.integers(1, 14),
    w=st.integers(1, 14),
    ncolors=st.sampled_from([2, 4, 7, 16, 64, 256]),
    seed=st.integers(0, 2**31 - 1),
    interlaced=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_gif_roundtrip_any_palette_any_shape(h, w, ncolors, seed, interlaced):
    from portfolio_data_pipelines_spark.operators.multimodal import decode_image

    rs = np.random.RandomState(seed)
    palette = rs.randint(0, 256, (ncolors, 3), dtype=np.uint8)
    idx = rs.randint(0, ncolors, (h, w), dtype=np.uint8)
    got = decode_image(_gif_bytes(idx, palette, interlaced=interlaced))
    assert np.array_equal(got, palette[idx])


@given(counts=st.lists(st.integers(1, (1 << 40) - 1), min_size=1, max_size=60))
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_llog2_exact_and_bounded_property(spark, counts):
    """For ANY positive count < 2^40: the Spark-evaluated Q20 dyadic
    log2 equals the integer-exact Python formula and sits within 0.0861
    bits of true log2."""
    from pyspark.sql import functions as F

    from portfolio_data_pipelines_spark.queries.text import LM_Q, _llog2_fx_sql

    df = spark.createDataFrame([(c,) for c in counts], "c bigint")
    got = {r["c"]: r["fx"] for r in df.select("c", F.expr(_llog2_fx_sql("c")).alias("fx")).collect()}
    for c in counts:
        f = c.bit_length() - 1
        assert got[c] == f * LM_Q + (c * LM_Q) // (1 << f) - LM_Q
        assert abs(got[c] / LM_Q - math.log2(c)) < 0.0861


@given(
    left_keys=st.lists(st.integers(0, 5), min_size=0, max_size=30),
    right_keys=st.lists(st.integers(0, 5), min_size=0, max_size=10),
    n_salts=st.integers(1, 8),
    how=st.sampled_from(["inner", "left", "left_semi", "left_anti"]),
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_salted_join_equals_plain_join_property(spark, left_keys, right_keys, n_salts, how):
    """The salt is an internal routing key: for ANY key multiset on
    either side, any salt count, and any left-preserving join type, the
    salted join's rows equal the plain join's."""
    from portfolio_data_pipelines_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(k, i) for i, k in enumerate(left_keys)] or [(None, None)], "k int, lv int"
    ).filter("k IS NOT NULL OR lv IS NOT NULL" if left_keys else "false")
    right = spark.createDataFrame(
        [(k, i * 10) for i, k in enumerate(right_keys)] or [(None, None)], "k int, rv int"
    ).filter("k IS NOT NULL OR rv IS NOT NULL" if right_keys else "false")
    got = sorted(tuple(r) for r in salted_join(left, right, on="k", n_salts=n_salts, how=how).collect())
    want = sorted(tuple(r) for r in left.join(right, "k", how).collect())
    assert got == want


def test_properties_file_importable():
    # guards against helper-encoder signature drift in test_multimodal
    assert callable(_png_bytes) and callable(_gif_bytes)


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


# ---------------------------------------------------------------------------
# Streaming: arbitrary within-watermark arrival permutations and arbitrary
# micro-batch splits must reproduce the batch oracle exactly.
# ---------------------------------------------------------------------------


@st.composite
def watermarked_arrivals(draw):
    """(events, file_chunks): events as (ts, value); arrival order is a
    bounded-displacement shuffle (sort by ts + jitter, |jitter| ≤ 6 h —
    half the 1-day watermark with margin, so no event ever arrives more
    than the watermark behind the running max event time); the arrival
    list is split into 1-4 contiguous micro-batch files."""
    import datetime as dt

    n = draw(st.integers(5, 30))
    base = dt.datetime(2024, 3, 1)
    events = [
        (
            base + dt.timedelta(minutes=int(m)),
            float(v),
        )
        for m, v in zip(
            draw(st.lists(st.integers(0, 5 * 24 * 60), min_size=n, max_size=n)),
            draw(st.lists(st.integers(-1000, 1000), min_size=n, max_size=n)),
        )
    ]
    jitters = draw(
        st.lists(st.integers(-360, 360), min_size=n, max_size=n)
    )
    arrival = [
        e for e, _ in sorted(
            zip(events, jitters),
            key=lambda p: (p[0][0] + dt.timedelta(minutes=p[1]), p[0][1]),
        )
    ]
    n_files = draw(st.integers(1, 4))
    cuts = sorted(draw(
        st.lists(st.integers(1, n - 1), min_size=n_files - 1,
                 max_size=n_files - 1, unique=True)
    ))
    chunks, prev = [], 0
    for c in cuts + [n]:
        chunks.append(arrival[prev:c])
        prev = c
    return events, [c for c in chunks if c]


@given(data=watermarked_arrivals())
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_stream_windows_equal_batch_under_any_arrival_order(spark, data):
    """Any within-watermark event-time permutation, split arbitrarily
    into micro-batches, must append EXACTLY the batch oracle's windows:
    no in-watermark event dropped, no window emitted twice. Two
    far-future sentinel files force the final watermark advance + flush
    (their own window stays open and is never emitted)."""
    import datetime as dt
    import os
    import tempfile
    import time
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from portfolio_data_pipelines_spark.functions import davg
    from portfolio_data_pipelines_spark.streaming import tumbling_daily_mart

    events, chunks = data
    sentinel_ts = dt.datetime(2024, 3, 1) + dt.timedelta(days=40)
    outdir = tempfile.mkdtemp(prefix="stream_prop_")

    def write_chunk(i, rows):
        table = pa.table({
            "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
            "value": pa.array([r[1] for r in rows], pa.float64()),
        })
        p = os.path.join(outdir, f"chunk_{i:04d}.parquet")
        pq.write_table(table, p)
        os.utime(p, (time.time() + i, time.time() + i))  # arrival order

    for i, c in enumerate(chunks):
        write_chunk(i, c)
    # sentinel 1 advances the watermark past every real window; sentinel 2
    # triggers the batch in which the closed windows are emitted
    write_chunk(len(chunks), [(sentinel_ts, 0.0)])
    write_chunk(len(chunks) + 1, [(sentinel_ts + dt.timedelta(hours=1), 0.0)])

    stream = (
        spark.readStream.schema("ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(outdir)
    )
    name = "p" + uuid.uuid4().hex[:12]
    q = (
        tumbling_daily_mart(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = [
        tuple(map(str, r))
        for r in spark.table(name)
        .filter(F.col("date_utc") < "2024-04-01")  # exclude sentinel window
        .collect()
    ]
    assert len(got) == len({g[0] for g in got})  # append-once per window
    batch = (
        spark.createDataFrame(events, "ts timestamp, value double")
        .groupBy(F.to_date("ts").alias("date_utc"))
        .agg(
            davg("value").alias("avg_value"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    exp = [tuple(map(str, r)) for r in batch.collect()]
    assert sorted(got) == sorted(exp)


@given(data=watermarked_arrivals())
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_stream_session_windows_equal_batch_under_any_arrival_order(spark, data):
    """Same contract for gap-based sessionization: session merging is
    the stateful operation most sensitive to arrival order (a late
    event can FUSE two sessions), so within-watermark permutations are
    the real test of the state machine. Events are assigned round-robin
    user ids so sessions both merge and stay apart."""
    import datetime as dt
    import os
    import tempfile
    import time
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from portfolio_data_pipelines_spark.streaming import user_session_windows

    events, chunks = data

    def uid(ts, v):
        # deterministic content-derived user id: duplicates agree on
        # both the streamed and the batch side
        return (int(ts.timestamp()) // 60 + int(v)) % 3 + 1

    with_users = [(ts, v, uid(ts, v)) for ts, v in events]
    sentinel_ts = dt.datetime(2024, 3, 1) + dt.timedelta(days=40)
    outdir = tempfile.mkdtemp(prefix="stream_sess_")

    def write_chunk(i, rows):
        table = pa.table({
            "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
            "value": pa.array([r[1] for r in rows], pa.float64()),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
        })
        p = os.path.join(outdir, f"chunk_{i:04d}.parquet")
        pq.write_table(table, p)
        os.utime(p, (time.time() + i, time.time() + i))

    for i, c in enumerate(chunks):
        write_chunk(i, [(ts, v, uid(ts, v)) for ts, v in c])
    write_chunk(len(chunks), [(sentinel_ts, 0.0, 99)])
    write_chunk(len(chunks) + 1, [(sentinel_ts + dt.timedelta(hours=1), 0.0, 99)])

    stream = (
        spark.readStream.schema("ts timestamp, value double, user_id bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(outdir)
    )
    name = "s" + uuid.uuid4().hex[:12]
    q = (
        user_session_windows(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = sorted(
        tuple(map(str, r))
        for r in spark.table(name).filter(F.col("user_id") != 99).collect()
    )
    batch = (
        spark.createDataFrame(with_users, "ts timestamp, value double, user_id bigint")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events", "total_value")
    )
    exp = sorted(tuple(map(str, r)) for r in batch.collect())
    assert got == exp


@given(
    depth=st.sampled_from([1, 2, 4]),
    h=st.integers(1, 16),
    w=st.integers(1, 20),
    interlace=st.sampled_from([0, 1]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_png_subbyte_roundtrip_property(depth, h, w, interlace, seed):
    """Any sub-byte gray PNG — any dims (ragged trailing bytes, empty
    Adam7 passes), any filters — reconstructs exactly after the
    2^d-1-divides-255 rescale."""
    from portfolio_data_pipelines_spark.operators.multimodal import decode_image

    rs = np.random.RandomState(seed)
    maxval = (1 << depth) - 1
    samp = rs.randint(0, maxval + 1, (h, w, 1), dtype=np.uint8)
    filters = [int(f) for f in rs.randint(0, 5, h)]
    png = _png_bytes(samp, color_type=0, depth=depth, interlace=interlace,
                     filters=filters)
    exp = np.repeat(samp * (255 // maxval), 3, axis=2)
    assert np.array_equal(decode_image(png), exp)


@given(
    seed=st.integers(0, 2**31 - 1),
    n_ch=st.sampled_from([1, 2]),
    n_blocks=st.integers(1, 4),
    amplitude=st.integers(1, 32767),
)
@settings(max_examples=30, deadline=None)
def test_ima_adpcm_decode_equals_encoder_reconstruction(seed, n_ch, n_blocks, amplitude):
    """IMA ADPCM decode must EXACTLY equal the encoder's simulated
    reconstruction for arbitrary int16 signals — the encoder IS a
    decoder simulation, so any divergence is a decoder bug."""
    from tests.test_multimodal import _ima_encode, _wav_container

    from portfolio_data_pipelines_spark.operators.multimodal import decode_audio

    rs = np.random.RandomState(seed)
    spb = 9  # 1 header sample + 8 nibbles = one 4-byte chunk per channel
    n_frames = spb * n_blocks
    samples = [int(v) for v in rs.randint(-amplitude, amplitude, n_frames * n_ch)]
    data, block_align, recon = _ima_encode(samples, n_ch, spb)
    wav = _wav_container(0x11, n_ch, 8000, block_align, 4, data)
    got, rate = decode_audio(wav)
    exp = np.array(recon, np.float32).reshape(-1, n_ch) / 32768.0
    assert rate == 8000
    assert np.array_equal(got, exp)


@given(
    seed=st.integers(0, 2**31 - 1),
    h=st.integers(8, 24),
    w=st.integers(8, 24),
    dc_al=st.integers(0, 2),
    ac_al=st.integers(0, 3),
)
@settings(max_examples=15, deadline=None)
def test_progressive_jpeg_equals_baseline_property(seed, h, w, dc_al, ac_al):
    """Any progressive scan script (random successive-approximation
    depths over random gray images) decodes bit-identical to the
    baseline stream of the same quantized coefficients."""
    from tests.test_multimodal import _jpeg_bytes, _jpeg_progressive_bytes

    from portfolio_data_pipelines_spark.operators.multimodal import decode_image

    img = np.random.RandomState(seed).randint(0, 256, (h, w)).astype(np.float64)
    base = decode_image(_jpeg_bytes([img], (1, 1)))
    prog = _jpeg_progressive_bytes([img], (1, 1), dc_al=dc_al, ac_al=ac_al,
                                   bands=((1, 20), (21, 63)))
    assert np.array_equal(decode_image(prog), base)


@st.composite
def delta_scripts(draw):
    """A random commit script: each step appends or overwrites a small
    batch of (id, day) rows; days come from a tiny pool so overwrites
    and multi-file partitions actually collide."""
    n_commits = draw(st.integers(1, 5))
    script = []
    next_id = 0
    for step in range(n_commits):
        mode = draw(st.sampled_from(
            ["append", "append", "overwrite"]
            + (["merge", "optimize"] if step else [])
        ))
        if mode == "optimize":
            script.append((mode, []))
            continue
        n_rows = draw(st.integers(1, 4))
        rows = []
        for _ in range(n_rows):
            day = draw(st.sampled_from(["2021-01-01", "2021-01-02", "2021-01-03"]))
            if mode == "merge" and next_id and draw(st.booleans()):
                rid = draw(st.integers(0, next_id - 1))  # update an old key
            else:
                rid = next_id
                next_id += 1
            rows.append((rid, day))
        # merge sources must be unambiguous on the key
        if mode == "merge":
            seen, dedup = set(), []
            for rid, day in rows:
                if rid not in seen:
                    seen.add(rid)
                    dedup.append((rid, day))
            rows = dedup
        script.append((mode, rows))
    return script


@given(script=delta_scripts())
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_delta_log_matches_model_at_every_version(spark, tmp_path_factory, script):
    """Model-based check: after any sequence of append/overwrite/merge
    commits, read_delta at EVERY version must equal a trivial Python
    model (append extends the live set, overwrite replaces it, merge
    upserts by id)."""
    import datetime

    from portfolio_data_pipelines_spark.operators.delta_log import write_delta
    from portfolio_data_pipelines_spark.operators.delta_maintain import optimize_delta
    from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
    from portfolio_data_pipelines_spark.operators.delta_scan import read_delta

    path = str(tmp_path_factory.mktemp("delta_model") / "t")
    by_version: dict[int, list[tuple]] = {}
    live: list[tuple] = []
    for mode, rows in script:
        if mode == "optimize":
            # bin-packing must leave the live set untouched; no-ops
            # (nothing to compact) consume no version
            v = optimize_delta(spark, path)
        else:
            df = spark.createDataFrame(
                [(i, datetime.date.fromisoformat(d)) for i, d in rows],
                "id bigint, date date",
            )
            if mode == "merge":
                ids = {i for i, _ in rows}
                live = [r for r in live if r[0] not in ids] + rows
                v = merge_delta(spark, path, df, key_cols=["id"])
            else:
                live = (live + rows) if mode == "append" else list(rows)
                v = write_delta(spark, df, path, partition_col="date", mode=mode)
        if v is not None:
            by_version[v] = list(live)
    for v, expected in by_version.items():
        got = sorted(
            (r["id"], r["date"].isoformat())
            for r in read_delta(spark, path, version=v).collect()
        )
        assert got == sorted(expected), f"version {v}"


@st.composite
def sink_kill_scripts(draw):
    """(rows, batches, kill_after, replay_from): unique-id rows split
    into 1-4 micro-batches; the sink 'dies' after ``kill_after``
    batches committed and restarts re-delivering from ``replay_from``
    (≤ kill_after — checkpoint recovery always replays at least the
    last in-flight batch, sometimes more)."""
    n = draw(st.integers(2, 10))
    days = ["2021-01-01", "2021-01-02", "2021-01-03"]
    rows = [(i, draw(st.sampled_from(days))) for i in range(n)]
    n_batches = draw(st.integers(1, min(4, n)))
    cuts = sorted(draw(st.lists(
        st.integers(1, n - 1), min_size=n_batches - 1,
        max_size=n_batches - 1, unique=True)))
    batches, prev = [], 0
    for c in cuts + [n]:
        batches.append(rows[prev:c])
        prev = c
    batches = [b for b in batches if b]
    kill_after = draw(st.integers(0, len(batches)))
    replay_from = draw(st.integers(0, max(0, kill_after - 1))) if kill_after else 0
    return rows, batches, kill_after, replay_from


@given(script=sink_kill_scripts())
@settings(
    max_examples=6, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_delta_stream_sink_exactly_once_under_any_kill_and_replay(
    spark, tmp_path_factory, script
):
    """The Delta txn stream sink's exactly-once contract, generalized:
    for ANY micro-batch split, a kill after ANY prefix of committed
    batches, and a restart replaying from ANY earlier batch id, the
    table holds every row exactly once, the change feed equals the
    batch oracle's appends (each row exactly once, no feed entry from
    a replayed delivery), and each batch maps to at most one commit
    version."""
    import datetime

    from portfolio_data_pipelines_spark.operators.delta_log import delta_stream_sink
    from portfolio_data_pipelines_spark.operators.delta_scan import (
        read_delta,
        read_delta_changes,
    )

    rows, batches, kill_after, replay_from = script
    path = str(tmp_path_factory.mktemp("delta_sink_prop") / "t")
    sink = delta_stream_sink(path, partition_col="date", app_id="prop")

    def df_of(batch):
        return spark.createDataFrame(
            [(i, datetime.date.fromisoformat(d)) for i, d in batch],
            "id bigint, date date",
        )

    # first life: batches [0, kill_after) commit, then the process dies
    for b in range(kill_after):
        sink(df_of(batches[b]), b)
    # restart: recovery re-delivers from replay_from through the end
    for b in range(replay_from, len(batches)):
        sink(df_of(batches[b]), b)

    table = sorted(
        (r["id"], r["date"].isoformat())
        for r in read_delta(spark, path).collect()
    )
    assert table == sorted(rows)  # every row exactly once

    feed = read_delta_changes(spark, path, from_version=-1).collect()
    assert sorted((r["id"], r["date"].isoformat()) for r in feed) == sorted(rows)
    # one commit version per distinct batch — replays never re-commit
    assert len({r["_commit_version"] for r in feed}) == len(batches)

"""variantType WRITE path (round 11).

``write_delta`` (and every other commit path) accepts top-level VARIANT
columns: the staging chokepoints convert them to Delta's physical
``struct<value binary, metadata binary>`` pair (Spark's own parquet
writer would emit the incompatible parquet VARIANT logical type), the
creation/evolution protocol declares ``variantType`` in BOTH feature
lists, and reads in BOTH readers (Spark's native variant decode + the
external reader's from-spec decoder) return the values byte- and
semantics-identically.

Also covers the spec ENCODER (``operators/variant.encode_variant`` —
the inverse of the external reader's decoder, sharing code with
neither it nor pyspark's VariantVal): encoder→external-decoder and
encoder→Spark round trips over adversarial payloads.

Reference parity note: the 509-line reference repo has no
semi-structured binary surface; this implements the public Delta
protocol (PROTOCOL.md §Variant Data Type) + parquet-format
VariantEncoding.md.
"""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.operators.delta_cdf import (
    enable_change_data_feed,
    read_delta_cdf,
)
from portfolio_data_pipelines_spark.operators.delta_log import delete_where, write_delta
from portfolio_data_pipelines_spark.operators.delta_maintain import (
    optimize_delta,
    restore_delta,
)
from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from tests.delta_reader import (
    read_delta_external,
)
from portfolio_data_pipelines_spark.operators.variant import encode_variant


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id",
        F.parse_json(
            F.format_string(
                '{"n": %d, "tag": "t%d", "arr": [%d, null]}', "id", "id", "id"
            )
        ).alias("v"),
    )


def _norm(x):
    if isinstance(x, Decimal):
        return ("dec", str(x.normalize()))
    if isinstance(x, dict):
        return {k: _norm(v) for k, v in sorted(x.items())}
    if isinstance(x, list):
        return [_norm(v) for v in x]
    return x


def _spark_rows(spark, path, **kw):
    return {
        r["id"]: _norm(r["v"].toPython() if r["v"] is not None else None)
        for r in read_delta(spark, path, **kw).collect()
    }


def _ext_rows(path, **kw):
    names, rows = read_delta_external(path, **kw)
    i, v = names.index("id"), names.index("v")
    return {r[i]: _norm(r[v]) for r in rows}


def _log_actions(path, version):
    return [
        json.loads(l)
        for l in open(f"{path}/_delta_log/{version:020d}.json")
        if l.strip()
    ]


def test_create_append_declares_protocol_and_reads_in_both(spark, tmp_path):
    path = str(tmp_path / "t_var")
    write_delta(spark, _mk(spark, 0, 5).coalesce(1), path)
    proto = next(
        a["protocol"] for a in _log_actions(path, 0) if "protocol" in a
    )
    assert proto["minReaderVersion"] == 3
    assert proto["minWriterVersion"] == 7
    assert "variantType" in proto["readerFeatures"]
    assert "variantType" in proto["writerFeatures"]
    write_delta(spark, _mk(spark, 5, 8).coalesce(1), path)
    got = _spark_rows(spark, path)
    assert len(got) == 8
    assert got[3] == {"arr": [3, None], "n": 3, "tag": "t3"}
    assert _ext_rows(path) == got
    # the staged files carry the plain binary pair (pyarrow-readable —
    # Spark's parquet VARIANT logical type would fail this open)
    import pyarrow.parquet as pq

    f = read_delta(spark, path).inputFiles()[0].replace("file:", "")
    t = pq.read_schema("/" + f.lstrip("/"))
    assert t.field("v").type.num_fields == 2  # struct<value, metadata>


def test_null_variants_round_trip(spark, tmp_path):
    path = str(tmp_path / "t_var_null")
    df = spark.range(4).select(
        "id",
        F.when(F.col("id") % 2 == 0, F.parse_json(F.lit('{"k": 1}'))).alias(
            "v"
        ),
    )
    write_delta(spark, df.coalesce(1), path)
    got = _spark_rows(spark, path)
    assert got == {0: {"k": 1}, 1: None, 2: {"k": 1}, 3: None}
    assert _ext_rows(path) == got


def test_lifecycle_merge_optimize_delete_timetravel_restore(
    spark, tmp_path
):
    path = str(tmp_path / "t_var_life")
    write_delta(spark, _mk(spark, 0, 6).coalesce(2), path)
    src = spark.range(4, 8).select(
        "id", F.parse_json(F.lit('{"merged": true}')).alias("v")
    )
    merge_delta(spark, path, src, key_cols=["id"])
    got = _spark_rows(spark, path)
    assert got[4] == {"merged": True} and got[7] == {"merged": True}
    assert got[0] == {"arr": [0, None], "n": 0, "tag": "t0"}
    assert _ext_rows(path) == got
    # OPTIMIZE preserves binaries bit-exactly
    before = {
        r["id"]: (bytes(r["v"].value), bytes(r["v"].metadata))
        for r in read_delta(spark, path).collect()
    }
    optimize_delta(spark, path)
    after = {
        r["id"]: (bytes(r["v"].value), bytes(r["v"].metadata))
        for r in read_delta(spark, path).collect()
    }
    assert before == after
    delete_where(spark, path, "id < 2")
    assert sorted(_spark_rows(spark, path)) == [2, 3, 4, 5, 6, 7]
    # time travel to v0 and RESTORE
    assert sorted(_spark_rows(spark, path, version=0)) == list(range(6))
    restore_delta(spark, path, version=0)
    got0 = _spark_rows(spark, path)
    assert sorted(got0) == list(range(6))
    assert got0[4] == {"arr": [4, None], "n": 4, "tag": "t4"}
    assert _ext_rows(path) == got0


def test_cdf_overwrite_materializes_variant_changes(spark, tmp_path):
    path = str(tmp_path / "t_var_cdf")
    write_delta(spark, _mk(spark, 0, 3).coalesce(1), path)
    enable_change_data_feed(spark, path)
    v = write_delta(
        spark,
        _mk(spark, 1, 4).coalesce(1),
        path,
        mode="overwrite",
        cdf_key_cols=["id"],
    )
    cdf = read_delta_cdf(spark, path, from_version=v - 1)
    rows = {
        (r["id"], r["_change_type"]): (
            None if r["v"] is None else _norm(r["v"].toPython())
        )
        for r in cdf.collect()
    }
    # ids 1,2 carried over byte-identically -> no change rows for them
    assert (0, "delete") in rows
    assert (3, "insert") in rows
    assert (1, "insert") not in rows and (2, "delete") not in rows
    assert rows[(3, "insert")] == {"arr": [3, None], "n": 3, "tag": "t3"}


def test_evolution_adds_variant_column_with_protocol_upgrade(
    spark, tmp_path
):
    path = str(tmp_path / "t_var_evo")
    write_delta(
        spark, spark.range(3).select("id").coalesce(1), path
    )
    proto0 = next(
        a["protocol"] for a in _log_actions(path, 0) if "protocol" in a
    )
    assert proto0 == {"minReaderVersion": 1, "minWriterVersion": 2}
    v = write_delta(spark, _mk(spark, 3, 5).coalesce(1), path)
    acts = _log_actions(path, v)
    proto1 = next(a["protocol"] for a in acts if "protocol" in a)
    assert "variantType" in proto1["readerFeatures"]
    assert "variantType" in proto1["writerFeatures"]
    meta = next(a["metaData"] for a in acts if "metaData" in a)
    types = {
        f["name"]: f["type"]
        for f in json.loads(meta["schemaString"])["fields"]
    }
    assert types["v"] == "variant"
    got = _spark_rows(spark, path)
    assert got[0] is None and got[4] == {
        "arr": [4, None], "n": 4, "tag": "t4"
    }
    assert _ext_rows(path) == got


def test_nested_variant_refused_but_variant_NAME_accepted(spark, tmp_path):
    # nested: struct<inner variant> — refused by TYPE on create
    with pytest.raises(ValueError, match="nest"):
        write_delta(
            spark,
            spark.sql(
                "select 1 as id, named_struct('inner', parse_json('1')) as s"
            ),
            str(tmp_path / "t_nested"),
        )
    # array<variant> — refused too
    with pytest.raises(ValueError, match="nest"):
        write_delta(
            spark,
            spark.sql("select 1 as id, array(parse_json('1')) as a"),
            str(tmp_path / "t_nested_arr"),
        )
    # a column merely NAMED 'variant' passes (the old substring gate
    # false-positived on this — advisory fix, round 11)
    p = str(tmp_path / "t_named")
    write_delta(
        spark, spark.sql("select 1 as id, 'x' as variant").coalesce(1), p
    )
    assert read_delta(spark, p).count() == 1
    # ... and so does a string column CONTAINING the quoted word
    p2 = str(tmp_path / "t_contains")
    write_delta(
        spark,
        spark.sql("""select 1 as id, '"variant"' as s""").coalesce(1),
        p2,
    )
    assert read_delta(spark, p2).count() == 1


ADVERSARIAL = [
    None,
    True,
    {"deep": [[{"a": [{"b": {"c": [1, 2, [3, [4]]]}}]}]]},
    # decimal16 (unscaled > int64) but <= 28 significant digits:
    # pyspark's VariantVal.toPython itself rounds wider decimals
    # through the default context (the >28-digit case is pinned
    # encoder<->external-decoder below, where neither side rounds)
    Decimal("9999999999999999999999999.999"),
    Decimal("-0.000000001"),
    b"\x00\xff\xfe raw bytes",
    dt.date(1969, 7, 20),
    dt.datetime(2024, 2, 29, 23, 59, 59, 999999, tzinfo=dt.timezone.utc),
    dt.datetime(2024, 2, 29, 23, 59, 59, 999999),  # ntz
    {"mixed": [1, "two", 3.5, None, True, {"k": b"v"}]},
    "s" * 200,  # long string
    {str(i): i for i in range(300)},  # large object
    list(range(260)),  # large array
    -(2**63),
    1.7976931348623157e308,
]


def test_encoder_spark_and_external_decoders_agree(spark, tmp_path):
    """Three-way conformance: this repo's ENCODER output must decode
    identically through (a) the external reader's from-spec decoder and
    (b) Spark's native variant reader — on a hand-authored foreign
    fixture table whose cells were produced WITHOUT Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.delta_reader import (
        _variant_metadata_keys,
        _variant_value,
    )

    pairs = [encode_variant(v) for v in ADVERSARIAL]
    # (a) external decoder round trip
    for src, (md, val) in zip(ADVERSARIAL, pairs):
        got, end = _variant_value(val, 0, _variant_metadata_keys(md))
        assert end == len(val)
        if isinstance(src, dt.datetime) or isinstance(src, Decimal):
            assert got == src
        else:
            assert _norm(got) == _norm(src)
    # 29+-digit decimal16: exact through encoder + external decoder
    # (pyspark's VariantVal.toPython rounds it, so it stays out of the
    # Spark leg)
    wide = Decimal("79228162514264337593543950.335")
    md, val = encode_variant(wide)
    assert _variant_value(val, 0, _variant_metadata_keys(md))[0] == wide
    # (b) foreign fixture table -> Spark native decode
    root = tmp_path / "t_enc_fixture"
    (root / "_delta_log").mkdir(parents=True)
    pq.write_table(
        pa.table(
            {
                "id": pa.array(range(len(pairs)), pa.int64()),
                "v": pa.array(
                    [{"value": v, "metadata": m} for m, v in pairs],
                    pa.struct(
                        [("value", pa.binary()), ("metadata", pa.binary())]
                    ),
                ),
            }
        ),
        root / "part-0000.parquet",
    )
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "variant", "nullable": True, "metadata": {}},
    ]})
    with open(root / "_delta_log" / f"{0:020d}.json", "w") as f:
        for a in [
            {"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["variantType"],
                "writerFeatures": ["variantType"],
            }},
            {"metaData": {
                "id": "enc-fixture",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema, "partitionColumns": [],
                "configuration": {}, "createdTime": 0,
            }},
            {"add": {
                "path": "part-0000.parquet", "partitionValues": {},
                "size": 1, "modificationTime": 0, "dataChange": True,
            }},
        ]:
            f.write(json.dumps(a) + "\n")
    got = {
        r["id"]: (None if r["v"] is None else r["v"].toPython())
        for r in read_delta(spark, str(root)).collect()
    }
    for i, src in enumerate(ADVERSARIAL):
        g = got[i]
        if isinstance(src, (dt.datetime, Decimal)):
            assert g == src, (i, src, g)
        elif src is None:
            # encoded variant null decodes as VariantVal(null) -> None
            assert g is None or g == src
        else:
            assert _norm(g) == _norm(src), (i, src, g)


def test_spark_written_binaries_decode_through_encoder_suite(
    spark, tmp_path
):
    """Inverse pin: values Spark's parse_json encoded, written through
    write_delta, must decode via the EXTERNAL decoder to the same
    Python values VariantVal.toPython reports (two decoders, one
    writer)."""
    path = str(tmp_path / "t_two_decoders")
    payloads = [
        '{"a": 1, "b": [true, null, 2.5]}',
        '{"nested": {"x": [1, {"y": "z"}]}}',
        "[-12345678901234, 0.125]",
        '"plain"',
        "null",
    ]
    df = spark.sql(
        "select monotonically_increasing_id() as id, parse_json(p) as v "
        "from values " + ", ".join(f"('{p}')" for p in payloads) + " as t(p)"
    )
    write_delta(spark, df.coalesce(1), path)
    assert _ext_rows(path) == _spark_rows(spark, path)


def test_shredded_write_round_trips_in_both_readers(spark, tmp_path):
    """variantShredding WRITE (r12): write_delta(shred_variants=...)
    stages the spec triple — scalar-long rows carry typed_value (value
    omitted), objects/strings keep the full binary, SQL NULL variants
    stay null groups — and BOTH readers reassemble identical logical
    values. The creation commit declares the feature + property;
    appends to undeclared tables are refused; plain appends to the
    shredded table stay legal (shredding is per-file)."""
    import glob
    import json as _json

    import pyarrow.parquet as pq

    path = str(tmp_path / "t_shred_write")
    df = spark.range(0, 6).select(
        "id",
        F.parse_json(
            F.when(F.col("id") < 3, F.col("id").cast("string"))
            .when(F.col("id") == 3, F.lit('{"a": 1}'))
            .when(F.col("id") == 4, F.lit('"hello"'))
            .otherwise(F.lit(None))
        ).alias("v"),
    )
    write_delta(spark, df, path, shred_variants={"v": "long"})
    # protocol + property declared at creation
    with open(f"{path}/_delta_log/{0:020d}.json") as fh:
        acts = [_json.loads(line) for line in fh if line.strip()]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    meta = next(a["metaData"] for a in acts if "metaData" in a)
    assert "variantShredding" in proto["readerFeatures"]
    assert "variantShredding" in proto["writerFeatures"]
    assert meta["configuration"]["delta.enableVariantShredding"] == "true"
    # physical triple with per-row shred decisions
    by_id = {}
    fields = None
    for fl in sorted(glob.glob(f"{path}/*.parquet")):
        sch = pq.read_schema(fl)
        vt = sch.field("v").type
        fields = {vt.field(i).name for i in range(vt.num_fields)}
        for r in pq.read_table(fl).to_pylist():
            by_id[r["id"]] = r["v"]
    assert fields == {"metadata", "value", "typed_value"}
    assert by_id[0]["typed_value"] == 0 and by_id[0]["value"] is None
    assert by_id[3]["typed_value"] is None and by_id[3]["value"] is not None
    assert by_id[4]["typed_value"] is None and by_id[4]["value"] is not None
    assert by_id[5] is None
    # both readers reassemble
    want = {0: 0, 1: 1, 2: 2, 3: {"a": 1}, 4: "hello", 5: None}
    got = {
        r["id"]: (None if r["v"] is None else r["v"].toPython())
        for r in read_delta(spark, path).collect()
    }
    assert got == want
    names, rows = read_delta_external(path)
    assert {r[0]: r[1] for r in rows} == want
    # plain (unshredded) append to the shredded table is legal per spec
    write_delta(spark, df.filter("id = 0"), path, mode="append")
    assert read_delta(spark, path).count() == 7
    names2, rows2 = read_delta_external(path)
    assert len(rows2) == 7


def test_shred_append_requires_declared_feature(spark, tmp_path):
    path = str(tmp_path / "t_shred_gate")
    df = spark.range(0, 2).select(
        "id", F.parse_json(F.col("id").cast("string")).alias("v")
    )
    write_delta(spark, df, path)  # plain variant table
    with pytest.raises(ValueError, match="variantShredding"):
        write_delta(
            spark, df, path, mode="append", shred_variants={"v": "long"}
        )
    # naming a non-variant column or an unsupported type is refused
    with pytest.raises(ValueError, match="not VARIANT"):
        write_delta(
            spark, df, str(tmp_path / "t2"), shred_variants={"id": "long"}
        )
    with pytest.raises(ValueError, match="unsupported shred"):
        write_delta(
            spark, df, str(tmp_path / "t3"), shred_variants={"v": "date"}
        )


def test_shred_string_and_double_targets(spark, tmp_path):
    """String shreds capture short AND long strings; double shreds
    capture float64 scalars; ints stay residual under a string shred."""
    path = str(tmp_path / "t_shred_str")
    long_s = "x" * 100  # forces the long-string (type 16) encoding
    df = spark.range(0, 3).select(
        "id",
        F.parse_json(
            F.when(F.col("id") == 0, F.lit('"abc"'))
            .when(F.col("id") == 1, F.lit(f'"{long_s}"'))
            .otherwise(F.lit("42"))
        ).alias("v"),
    )
    write_delta(spark, df, path, shred_variants={"v": "string"})
    import glob

    import pyarrow.parquet as pq

    by_id = {}
    for fl in sorted(glob.glob(f"{path}/*.parquet")):
        for r in pq.read_table(fl).to_pylist():
            by_id[r["id"]] = r["v"]
    assert by_id[0]["typed_value"] == "abc"
    assert by_id[1]["typed_value"] == long_s
    assert by_id[2]["typed_value"] is None and by_id[2]["value"] is not None
    got = {
        r["id"]: r["v"].toPython()
        for r in read_delta(spark, path).collect()
    }
    assert got == {0: "abc", 1: long_s, 2: 42}
    names, rows = read_delta_external(path)
    assert {r[0]: r[1] for r in rows} == got


def test_object_shredding_write_round_trips(spark, tmp_path):
    """OBJECT shredding WRITE (r12 late): shred_variants={col: {field:
    scalar type}} stages per-field (value?, typed_value?) groups —
    matching fields carry typed_value, mismatched shapes keep a
    field-level binary, absent fields are both-null, non-declared
    fields re-encode as the top-level residual (same metadata
    dictionary), and non-object rows keep the full binary. Both readers
    reassemble, and the feed streams the same logical values."""
    import glob

    import pyarrow.parquet as pq

    path = str(tmp_path / "t_objshred")
    df = spark.range(0, 6).select(
        "id",
        F.parse_json(
            F.when(F.col("id") == 0, F.lit('{"a": 7, "b": "x"}'))
            .when(F.col("id") == 1, F.lit('{"a": "notlong"}'))
            .when(F.col("id") == 2, F.lit('{"b": true}'))
            .when(F.col("id") == 3, F.lit('{"a": 5}'))
            .when(F.col("id") == 4, F.lit('"scalar"'))
            .otherwise(F.lit(None))
        ).alias("v"),
    )
    write_delta(spark, df, path, shred_variants={"v": {"a": "long"}})
    by_id = {}
    for fl in sorted(glob.glob(f"{path}/*.parquet")):
        for r in pq.read_table(fl).to_pylist():
            by_id[r["id"]] = r["v"]
    assert by_id[0]["typed_value"]["a"]["typed_value"] == 7
    assert by_id[0]["value"] is not None  # residual {"b": "x"}
    assert by_id[1]["typed_value"]["a"]["value"] is not None
    assert by_id[1]["value"] is None
    assert by_id[2]["typed_value"]["a"] == {
        "value": None, "typed_value": None
    }
    assert by_id[3]["value"] is None
    assert by_id[4]["typed_value"] is None
    assert by_id[5] is None
    want = {0: {"a": 7, "b": "x"}, 1: {"a": "notlong"}, 2: {"b": True},
            3: {"a": 5}, 4: "scalar", 5: None}
    got = {
        r["id"]: (None if r["v"] is None else r["v"].toPython())
        for r in read_delta(spark, path).collect()
    }
    assert got == want
    names, rows = read_delta_external(path)
    assert {r[0]: r[1] for r in rows} == want
    # the change feed reassembles object shreds too
    from portfolio_data_pipelines_spark.sources.delta_feed import (
        DeltaChangeFeedDataSource,
    )

    spark.dataSource.register(DeltaChangeFeedDataSource)
    q = (
        spark.readStream.format("delta_feed").option("path", path).load()
        .writeStream.format("memory").queryName("objshred_feed")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    fgot = {
        r["id"]: (None if r["v"] is None else r["v"].toPython())
        for r in spark.sql("select * from objshred_feed").collect()
    }
    assert fgot == want, fgot
    # empty object spec refused
    with pytest.raises(ValueError, match="unsupported shred"):
        write_delta(
            spark, df, str(tmp_path / "t_obj_bad"), shred_variants={"v": {}}
        )


def test_object_shred_residual_keeps_wide_decimal(spark, tmp_path):
    """An object-shredded write decodes each cell and re-encodes its
    residual fields. A 38-digit decimal there must survive: decoding it
    under the default 28-digit decimal context would round it."""
    from decimal import localcontext

    wide = "12345678901234567890123456789012.345678"
    path = str(tmp_path / "t_objshred_dec")
    df = spark.range(0, 1).select(
        "id", F.parse_json(F.lit(f'{{"a": 7, "d": {wide}}}')).alias("v")
    )
    write_delta(spark, df, path, shred_variants={"v": {"a": "long"}})
    want = {0: {"a": 7, "d": Decimal(wide)}}
    with localcontext() as ctx:
        ctx.prec = 50
        got = {
            r["id"]: r["v"].toPython()
            for r in read_delta(spark, path).collect()
        }
    assert got == want
    names, rows = read_delta_external(path)
    assert {r[0]: r[1] for r in rows} == want


def test_array_shredded_write_round_trips_in_both_readers(spark, tmp_path):
    """ARRAY shredding WRITE (r14 — reads supported since r11's foreign
    fixtures): write_delta(shred_variants={"v": ["long"]}) stages
    typed_value as a LIST of per-element (value?, typed_value?) groups —
    matching elements typed, mixed elements as their own binary, and
    non-array rows keep the full binary — and BOTH readers reassemble
    identical logical values."""
    import glob

    import pyarrow.parquet as pq

    path = str(tmp_path / "t_shred_arr")
    df = spark.range(0, 5).select(
        "id",
        F.parse_json(
            F.when(F.col("id") == 0, F.lit("[1, 2, 3]"))
            .when(F.col("id") == 1, F.lit('[4, "five", 6]'))
            .when(F.col("id") == 2, F.lit('{"a": 1}'))
            .when(F.col("id") == 3, F.lit("42"))
            .otherwise(F.lit(None))
        ).alias("v"),
    )
    write_delta(spark, df, path, shred_variants={"v": ["long"]})
    # physical: typed_value is a list of groups; element decisions per row
    by_id = {}
    for fl in sorted(glob.glob(f"{path}/*.parquet")):
        for r in pq.read_table(fl).to_pylist():
            by_id[r["id"]] = r["v"]
    assert by_id[0]["value"] is None
    assert [e["typed_value"] for e in by_id[0]["typed_value"]] == [1, 2, 3]
    mixed = by_id[1]["typed_value"]
    assert [e["typed_value"] for e in mixed] == [4, None, 6]
    assert mixed[1]["value"] is not None  # "five" rides its own binary
    assert by_id[2]["typed_value"] is None and by_id[2]["value"] is not None
    assert by_id[3]["typed_value"] is None and by_id[3]["value"] is not None
    assert by_id[4] is None
    # both readers reassemble the logical values
    want = {0: [1, 2, 3], 1: [4, "five", 6], 2: {"a": 1}, 3: 42, 4: None}
    got = {
        r["id"]: (None if r["v"] is None else r["v"].toPython())
        for r in read_delta(spark, path).collect()
    }
    assert got == want
    names, rows = read_delta_external(path)
    assert {r[0]: r[1] for r in rows} == want

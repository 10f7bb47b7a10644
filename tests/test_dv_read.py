"""Read-path conformance for deletion vectors: hand-written FOREIGN
tables whose add actions carry DV descriptors must read identically —
and minus the deleted rows — through both the Spark engine
(``read_delta``) and the independent spec-only reader
(``read_delta_external``). Fixture bitmaps are built with the engine
codec; the external reader decodes them with its own independent
implementation, so an encode bug cannot cancel itself out.

Reference: the reference repo has no DV support; semantics follow the
public Delta protocol (delta-io PROTOCOL.md, "Deletion Vectors").
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.operators import deletion_vectors as dvc
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from tests.delta_reader import (
    read_delta_external,
)

pytestmark = pytest.mark.usefixtures("spark")


def _stage_file(spark, tmp_path, root, name, ids):
    stage = str(tmp_path / f"stage_{name}")
    spark.createDataFrame(
        [(i, f"s{i}") for i in ids], "id bigint, s string"
    ).coalesce(1).orderBy("id").write.mode("overwrite").parquet(stage)
    part = next(
        f for f in os.listdir(stage) if f.endswith(".parquet")
    )
    shutil.copy(os.path.join(stage, part), os.path.join(root, name))
    return os.path.getsize(os.path.join(root, name))


def _foreign_dv_table(spark, tmp_path, name, files):
    """A foreign v3 table: ``files`` maps file name → (ids, descriptor
    or None). Returns the table root."""
    root = str(tmp_path / name)
    os.makedirs(root)
    schema_string = spark.createDataFrame(
        [], "id bigint, s string"
    ).schema.json()
    actions = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }
        },
        {
            "metaData": {
                "id": name,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": {},
                "createdTime": 0,
            }
        },
    ]
    for fname, (ids, desc) in files.items():
        size = _stage_file(spark, tmp_path, root, fname, ids)
        add = {
            "path": fname,
            "partitionValues": {},
            "size": size,
            "modificationTime": 0,
            "dataChange": True,
        }
        if desc is not None:
            add["deletionVector"] = desc
        actions.append({"add": add})
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions))
    return root


def _both_readers_ids(spark, root):
    spark_ids = sorted(
        r["id"] for r in read_delta(spark, root).select("id").collect()
    )
    names, rows = read_delta_external(root)
    ext_ids = sorted(row[names.index("id")] for row in rows)
    assert spark_ids == ext_ids, (spark_ids, ext_ids)
    return spark_ids


def test_inline_dv_filters_rows_in_both_readers(spark, tmp_path):
    # file rows are written ordered: position i holds id i+1
    desc = dvc.inline_descriptor([1, 3])  # deletes ids 2 and 4
    root = _foreign_dv_table(
        spark, tmp_path, "t_dv_inline",
        {"f1.parquet": (range(1, 6), desc)},
    )
    assert _both_readers_ids(spark, root) == [1, 3, 5]


def test_ufile_dv_filters_rows_in_both_readers(spark, tmp_path):
    """storageType 'u': the bitmap lives in a framed .bin under the
    table root, named from the z85 uuid in the descriptor."""
    data = dvc.serialize_roaring64([0, 4])  # deletes ids 1 and 5
    blob, [(off, size)] = dvc.frame_dv_blob([data])
    poi, rel = dvc.new_dv_file_name()
    desc = {
        "storageType": "u",
        "pathOrInlineDv": poi,
        "offset": off,
        "sizeInBytes": size,
        "cardinality": 2,
    }
    root = _foreign_dv_table(
        spark, tmp_path, "t_dv_ufile",
        {"f1.parquet": (range(1, 6), desc),
         "f2.parquet": (range(10, 13), None)},  # clean file untouched
    )
    with open(os.path.join(root, rel), "wb") as f:
        f.write(blob)
    assert _both_readers_ids(spark, root) == [2, 3, 4, 10, 11, 12]


def test_shared_bin_two_descriptors(spark, tmp_path):
    """Two files' DVs framed into ONE .bin (distinct offsets) — the
    production layout delta-spark writes per commit."""
    d1 = dvc.serialize_roaring64([0])  # f1: delete id 1
    d2 = dvc.serialize_roaring64([1, 2])  # f2: delete ids 11, 12
    blob, metas = dvc.frame_dv_blob([d1, d2])
    poi, rel = dvc.new_dv_file_name()
    descs = [
        {"storageType": "u", "pathOrInlineDv": poi, "offset": off,
         "sizeInBytes": size, "cardinality": card}
        for (off, size), card in zip(metas, [1, 2])
    ]
    root = _foreign_dv_table(
        spark, tmp_path, "t_dv_shared",
        {"f1.parquet": (range(1, 4), descs[0]),
         "f2.parquet": (range(10, 14), descs[1])},
    )
    with open(os.path.join(root, rel), "wb") as f:
        f.write(blob)
    assert _both_readers_ids(spark, root) == [2, 3, 10, 13]


def test_dv_roundtrips_through_merge_like_filter(spark, tmp_path):
    """The Spark-side filter composes with ordinary column predicates
    (the plan applies the DV anti-join before caller filters)."""
    desc = dvc.inline_descriptor([0, 1, 2])
    root = _foreign_dv_table(
        spark, tmp_path, "t_dv_pred",
        {"f1.parquet": (range(1, 10), desc)},
    )
    out = (
        read_delta(spark, root)
        .filter(F.col("id") >= 5)
        .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
        .collect()[0]
    )
    assert (out["n"], out["s"]) == (5, 5 + 6 + 7 + 8 + 9)


def test_corrupt_dv_fails_loudly_not_silently(spark, tmp_path):
    """A cardinality-mismatched descriptor must raise in BOTH readers —
    never silently keep (or drop) the wrong rows."""
    desc = dvc.inline_descriptor([1, 3])
    desc["cardinality"] = 7
    root = _foreign_dv_table(
        spark, tmp_path, "t_dv_bad",
        {"f1.parquet": (range(1, 6), desc)},
    )
    with pytest.raises(Exception, match="cardinality"):
        read_delta(spark, root).collect()
    with pytest.raises(ValueError, match="cardinality"):
        read_delta_external(root)

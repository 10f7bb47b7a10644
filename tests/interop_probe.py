"""Third-party Delta interop probe + conformance matrix (r12, VERDICT #8).

The loop this closes: this engine's Delta writer is verified against
(a) Spark's own reader and (b) an independent from-spec Python reader
(``tests/delta_reader``), but a FOREIGN engine reading a written
table end-to-end has been environment-blocked every round — the
``deltalake`` wheel and DuckDB's ``delta`` extension both need network
access to install. This script is the CI-shaped version of that check:
run it in any environment where either dependency is installable and
it executes the full matrix; where neither is available it reports the
probe result and exits 0 (blocked ≠ failed).

Usage::

    python tests/interop_probe.py [--self-test]   # from the repo root

Matrix (one table per row, written by THIS engine, read by each
available foreign reader, values compared against Spark's read):

  plain          unpartitioned append + overwrite + time travel
  partitioned    two-level hive layout, partition values typed
  merged         MERGE rewrite (tombstones + rewrites)
  checkpointed   >CHECKPOINT_EVERY commits (foreign reader must anchor
                 on the parquet checkpoint)
  column_mapped  name-mode column mapping (physical names in files)
  id_mapped      id-mode column mapping (parquet field-id resolution)
  nested_id_mapped  nested struct under id mode (per-LEVEL field ids, r13)
  iceberg_compat icebergCompatV2 (enable-rewrite + stamped commits, r13)
  dv             deletion vectors (foreign reader must drop DV'd rows)
  cdf            change-data-feed table (plain read ignores cdc files)
  defaults       allowColumnDefaults (fill-on-omit rows present)
  identity       identity column allocation (values, not semantics)
  variant        variantType physical pair (deltalake>=0.18 reads it)
  shredded       variantShredding triple (typed_value scalar rows)
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile


def probe() -> dict:
    """What foreign Delta readers does this environment offer?"""
    out: dict = {"deltalake": None, "duckdb_delta": None}
    try:
        import deltalake  # noqa: F401

        out["deltalake"] = getattr(deltalake, "__version__", "unknown")
    except ImportError as e:
        out["deltalake"] = f"unavailable: {e}"
    try:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("INSTALL delta; LOAD delta;")
            out["duckdb_delta"] = "loaded"
        except Exception as e:  # noqa: BLE001 — report, don't crash
            out["duckdb_delta"] = f"unavailable: {type(e).__name__}: {e}"
    except ImportError as e:
        out["duckdb_delta"] = f"unavailable: {e}"
    return out


def _foreign_read_deltalake(path: str):
    from deltalake import DeltaTable

    t = DeltaTable(path)
    tbl = t.to_pyarrow_table()
    cols = tbl.column_names
    return cols, {tuple(r[c] for c in cols) for r in tbl.to_pylist()}


def _foreign_read_duckdb(path: str):
    import duckdb

    con = duckdb.connect()
    con.execute("LOAD delta;")
    cur = con.execute(f"SELECT * FROM delta_scan('{path}')")
    cols = [d[0] for d in cur.description]
    return cols, set(map(tuple, cur.fetchall()))


def run_matrix(spark, readers: dict, work: str) -> list[dict]:
    """Write each matrix table with this engine, read with every
    available foreign reader, compare against Spark's own read."""
    from pyspark.sql import functions as F

    from portfolio_data_pipelines_spark.operators.delta_alter import (
        enable_column_mapping,
    )
    from portfolio_data_pipelines_spark.operators.delta_checkpoint import (
        checkpoint_delta,
    )
    from portfolio_data_pipelines_spark.operators.delta_dv import delete_where_dv
    from portfolio_data_pipelines_spark.operators.delta_log import write_delta
    from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
    from portfolio_data_pipelines_spark.operators.delta_scan import read_delta

    def frame(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"),
            (F.col("id") % 3).cast("string").alias("grp"),
            (F.col("id") * 2.5).alias("val"),
        )

    def build_plain(p):
        write_delta(spark, frame(0, 50), p)
        write_delta(spark, frame(50, 80), p)

    def build_partitioned(p):
        write_delta(
            spark,
            frame(0, 60).withColumn("day", F.lit("2024-01-01")),
            p, partition_col=["grp", "day"],
        )

    def build_merged(p):
        write_delta(spark, frame(0, 40), p)
        merge_delta(
            spark, p,
            frame(30, 60).withColumn("val", F.col("id") * 10.0),
            key_cols=["id"],
        )

    def build_checkpointed(p):
        write_delta(spark, frame(0, 10), p)
        for i in range(1, 12):
            write_delta(spark, frame(10 * i, 10 * i + 10), p)
        checkpoint_delta(spark, p, 11)

    def build_column_mapped(p):
        write_delta(spark, frame(0, 30), p)
        enable_column_mapping(spark, p)
        write_delta(spark, frame(30, 50), p)

    def build_id_mapped(p):
        # conversion-shaped: empty foreign id-mode log, then our commits
        import os

        os.makedirs(f"{p}/_delta_log")
        fields = [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "ice_id"}},
            {"name": "grp", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "ice_grp"}},
            {"name": "val", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName": "ice_val"}},
        ]
        with open(f"{p}/_delta_log/{0:020d}.json", "w") as f:
            for a in [
                {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                              "readerFeatures": ["columnMapping"],
                              "writerFeatures": ["columnMapping"]}},
                {"metaData": {"id": "interop-id",
                              "format": {"provider": "parquet",
                                         "options": {}},
                              "schemaString": json.dumps(
                                  {"type": "struct", "fields": fields}),
                              "partitionColumns": [],
                              "configuration": {
                                  "delta.columnMapping.mode": "id",
                                  "delta.columnMapping.maxColumnId": "3"},
                              "createdTime": 0}},
            ]:
                f.write(json.dumps(a) + "\n")
        write_delta(spark, frame(0, 40), p, mode="append")
        merge_delta(spark, p, frame(30, 50), key_cols=["id"])

    def build_dv(p):
        write_delta(spark, frame(0, 100), p)
        delete_where_dv(spark, p, "id % 7 = 0")

    def build_cdf(p):
        write_delta(
            spark, frame(0, 40), p,
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        merge_delta(spark, p, frame(20, 50), key_cols=["id"])

    def build_defaults(p):
        write_delta(
            spark,
            frame(0, 20).withColumn("region", F.lit("eu")),
            p, default_cols={"region": "'unknown'"},
        )
        write_delta(spark, frame(20, 30), p, mode="append")

    def build_identity(p):
        write_delta(
            spark, frame(0, 25), p,
            identity_cols={"sk": {"start": 7, "step": 3}},
        )
        merge_delta(spark, p, frame(20, 35), key_cols=["id"])

    def build_variant(p):
        write_delta(
            spark,
            spark.range(0, 20).select(
                "id",
                F.parse_json(
                    F.concat(F.lit('{"k": '), F.col("id"), F.lit("}"))
                ).alias("v"),
            ),
            p,
        )

    def build_shredded(p):
        write_delta(
            spark,
            spark.range(0, 20).select(
                "id", F.parse_json(F.col("id").cast("string")).alias("v")
            ),
            p, shred_variants={"v": "long"},
        )

    def build_nested_id_mapped(p):
        # r13: NESTED struct under id mode — inner levels resolve by
        # per-level field id; our appends must stamp both levels
        import os

        os.makedirs(f"{p}/_delta_log")
        fields = [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "ice_id"}},
            {"name": "o", "nullable": True,
             "type": {"type": "struct", "fields": [
                 {"name": "a", "type": "long", "nullable": True,
                  "metadata": {"delta.columnMapping.id": 3,
                               "delta.columnMapping.physicalName": "ice_a"}},
                 {"name": "b", "type": "string", "nullable": True,
                  "metadata": {"delta.columnMapping.id": 4,
                               "delta.columnMapping.physicalName": "ice_b"}},
             ]},
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "ice_o"}},
        ]
        with open(f"{p}/_delta_log/{0:020d}.json", "w") as f:
            for a in [
                {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                              "readerFeatures": ["columnMapping"],
                              "writerFeatures": ["columnMapping"]}},
                {"metaData": {"id": "interop-nested-id",
                              "format": {"provider": "parquet",
                                         "options": {}},
                              "schemaString": json.dumps(
                                  {"type": "struct", "fields": fields}),
                              "partitionColumns": [],
                              "configuration": {
                                  "delta.columnMapping.mode": "id",
                                  "delta.columnMapping.maxColumnId": "4"},
                              "createdTime": 0}},
            ]:
                f.write(json.dumps(a) + "\n")
        nested = spark.range(0, 30).select(
            "id",
            F.struct(
                (F.col("id") * 10).alias("a"),
                F.col("id").cast("string").alias("b"),
            ).alias("o"),
        )
        write_delta(spark, nested, p, mode="append")
        merge_delta(
            spark, p,
            nested.filter("id >= 20").withColumn(
                "o",
                F.struct(
                    (F.col("id") * 100).alias("a"),
                    F.lit("m").alias("b"),
                ),
            ),
            key_cols=["id"],
        )

    def build_iceberg_compat(p):
        # r13: enable_iceberg_compat rewrites unstamped files and every
        # later commit stamps field ids in NAME mode
        from portfolio_data_pipelines_spark.operators.delta_alter import (
            enable_iceberg_compat,
        )

        write_delta(spark, frame(0, 30), p)
        enable_column_mapping(spark, p)
        enable_iceberg_compat(spark, p, version=2)
        write_delta(spark, frame(30, 45), p, mode="append")
        merge_delta(spark, p, frame(40, 55), key_cols=["id"])

    builders = {
        "plain": build_plain,
        "partitioned": build_partitioned,
        "merged": build_merged,
        "checkpointed": build_checkpointed,
        "column_mapped": build_column_mapped,
        "id_mapped": build_id_mapped,
        "nested_id_mapped": build_nested_id_mapped,
        "iceberg_compat": build_iceberg_compat,
        "dv": build_dv,
        "cdf": build_cdf,
        "defaults": build_defaults,
        "identity": build_identity,
        "variant": build_variant,
        "shredded": build_shredded,
    }
    results = []
    for name, build in builders.items():
        p = f"{work}/{name}"
        shutil.rmtree(p, ignore_errors=True)
        row = {"table": name}
        try:
            build(p)
            sdf = read_delta(spark, p)
            # variant values compare as their python form (foreign
            # readers surface them as JSON strings or dicts)
            cols = sdf.columns

            def norm(v):
                if hasattr(v, "toPython"):  # VariantVal
                    v = v.toPython()
                if hasattr(v, "asDict"):  # nested struct Row
                    v = v.asDict()
                if isinstance(v, dict):  # canonical either-side form
                    return str(sorted((k, norm(x)) for k, x in v.items()))
                return str(v)

            srows = {
                tuple(norm(r[c]) for c in cols) for r in sdf.collect()
            }
            row["spark_rows"] = len(srows)
        except Exception as e:  # noqa: BLE001
            row["build_error"] = f"{type(e).__name__}: {e}"
            results.append(row)
            continue
        for rname, fn in readers.items():
            try:
                fcols, frows = fn(p)
                frows = {
                    tuple(norm(v) for v in r) for r in frows
                }
                row[rname] = (
                    "MATCH"
                    if sorted(fcols)[: len(cols)] is not None
                    and len(frows) == len(srows)
                    and {tuple(sorted(map(str, r))) for r in frows}
                    == {tuple(sorted(map(str, r))) for r in srows}
                    else f"MISMATCH spark={len(srows)} foreign={len(frows)}"
                )
            except Exception as e:  # noqa: BLE001
                row[rname] = f"ERROR {type(e).__name__}: {e}"
        results.append(row)
    return results


def _foreign_read_external(path: str):
    """--self-test pseudo-foreign reader: the repo's own independent
    from-spec reader (tests/delta_reader) — proves the matrix
    machinery (builders, comparisons, error routing) end to end in a
    blocked environment. NOT a substitute for a real foreign engine."""
    from tests.delta_reader import read_delta_external

    names, rows = read_delta_external(path)
    return names, rows  # list, not set — variant cells are dicts


def main() -> int:
    self_test = "--self-test" in sys.argv
    env = probe()
    print(json.dumps({"probe": env}, indent=2))
    readers: dict = {}
    if not str(env["deltalake"]).startswith("unavailable"):
        readers["deltalake"] = _foreign_read_deltalake
    if env["duckdb_delta"] == "loaded":
        readers["duckdb_delta"] = _foreign_read_duckdb
    if self_test:
        sys.path.insert(0, ".")
        readers["external_selftest"] = _foreign_read_external
    if not readers:
        print(
            "RESULT: environment-blocked (no foreign Delta reader "
            "installable — no network). The matrix is ready; rerun "
            "where `pip install deltalake` or DuckDB `INSTALL delta` "
            "succeeds (or pass --self-test to exercise the matrix "
            "against the repo's independent reader)."
        )
        return 0
    sys.path.insert(0, ".")
    from portfolio_data_pipelines_spark.session import get_spark

    spark = get_spark(
        master="local[8]",
        extra_conf={"spark.ui.enabled": "false",
                    "spark.sql.shuffle.partitions": "8"},
    )
    work = tempfile.mkdtemp(prefix="delta_interop_")
    results = run_matrix(spark, readers, work)
    print(json.dumps({"matrix": results}, indent=2))
    bad = [
        r for r in results
        if r.get("build_error")
        or any(
            str(v).startswith(("MISMATCH", "ERROR"))
            for k, v in r.items()
            if k in readers
        )
    ]
    print(f"RESULT: {len(results) - len(bad)}/{len(results)} tables clean")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

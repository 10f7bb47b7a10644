"""Mini-CBO: parquet footer stats probes and the stats-driven join
strategy — pinned to reproduce the hand-hinted TPC-H plan shapes at sf
scales and to fall back to shuffle joins when a dim outgrows the
broadcast threshold."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.operators.cbo import (
    DEFAULT_BROADCAST_BYTES,
    TableStats,
    stats_for_parquet,
    stats_join,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestStatsCollection:
    def test_parquet_footer_stats(self, spark):
        st = stats_for_parquet(spark, f"{SF}/nation.parquet")
        assert st.rows == 25
        assert st.bytes == os.path.getsize(f"{SF}/nation.parquet")
        # cached: identical object back while the file is unchanged
        assert stats_for_parquet(spark, f"{SF}/nation.parquet") is st


class TestJoinStrategy:
    def _tables(self, spark):
        from portfolio_data_pipelines_spark.sources.parquet import scan_table

        return (
            scan_table(spark, SF, "orders"),
            scan_table(spark, SF, "customer"),
        )

    def test_small_dim_broadcasts_like_hand_hint(self, spark):
        o, c = self._tables(spark)
        st = stats_for_parquet(spark, f"{SF}/customer.parquet")
        planned = stats_join(o, c, o.o_custkey == c.c_custkey, right_stats=st)
        hinted = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        p1, p2 = _plan(planned), _plan(hinted)
        assert "BroadcastHashJoin" in p1 and "SortMergeJoin" not in p1
        # identical physical join operators, in order
        ops = lambda p: [ln.split("(")[0].strip("*+- ") for ln in p.splitlines()
                         if "Join" in ln or "Exchange" in ln]
        assert ops(p1) == ops(p2)

    def test_oversized_dim_overrides_scan_estimate(self, spark):
        """The headline production case: Spark's scan-level sizeInBytes
        says 'tiny file, broadcast it' while write-time stats know the
        side is 50 GB — the planner must force the merge path."""
        o, c = self._tables(spark)
        fat = TableStats(rows=10**9, bytes=50 * 1024**3)
        planned = stats_join(o, c, o.o_custkey == c.c_custkey, right_stats=fat)
        p = _plan(planned)
        assert "BroadcastHashJoin" not in p
        assert "SortMergeJoin" in p

    def test_unknown_stats_defer_to_spark(self, spark):
        """No stats → no hint in either direction: the plan is identical
        to a plain join (Spark's own heuristic stays in charge)."""
        o, c = self._tables(spark)
        p1 = _plan(stats_join(o, c, o.o_custkey == c.c_custkey))
        p2 = _plan(o.join(c, o.o_custkey == c.c_custkey))
        ops = lambda p: [ln.split("(")[0].strip("*+- ") for ln in p.splitlines()
                         if "Join" in ln or "Exchange" in ln]
        assert ops(p1) == ops(p2)

    @pytest.fixture()
    def no_native_broadcast(self, spark):
        """Disable Spark's scan-size broadcast heuristic so assertions
        see ONLY the planner's decisions."""
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_build_side_eligibility_by_join_type(self, spark, no_native_broadcast):
        o, c = self._tables(spark)
        tiny = TableStats(rows=100, bytes=1000)
        # left outer: only the right side may build → left stats ignored
        p = _plan(stats_join(o, c, o.o_custkey == c.c_custkey, "left",
                             left_stats=tiny))
        assert "BroadcastHashJoin" not in p
        p = _plan(stats_join(o, c, o.o_custkey == c.c_custkey, "left",
                             right_stats=tiny))
        assert "BroadcastHashJoin" in p
        # right outer: mirror image
        p = _plan(stats_join(o, c, o.o_custkey == c.c_custkey, "right",
                             right_stats=tiny))
        assert "BroadcastHashJoin" not in p
        p = _plan(stats_join(o, c, o.o_custkey == c.c_custkey, "right",
                             left_stats=tiny))
        assert "BroadcastHashJoin" in p
        # full outer: neither side may build
        p = _plan(stats_join(o, c, o.o_custkey == c.c_custkey, "full",
                             left_stats=tiny, right_stats=tiny))
        assert "BroadcastHashJoin" not in p
        # semi/anti: right side builds
        for how in ("left_semi", "left_anti"):
            p = _plan(stats_join(o, c, o.o_custkey == c.c_custkey, how,
                                 right_stats=tiny))
            assert "BroadcastHashJoin" in p

    def test_both_eligible_broadcasts_smaller(self, spark, no_native_broadcast):
        o, c = self._tables(spark)
        small_l = TableStats(rows=10, bytes=100)
        big_r = TableStats(rows=1000, bytes=10_000)
        p = _plan(stats_join(o, c, o.o_custkey == c.c_custkey,
                             left_stats=small_l, right_stats=big_r))
        # left is smaller → BuildLeft
        assert "BroadcastHashJoin" in p and "BuildLeft" in p

    def test_threshold_is_bytes_based(self, spark, no_native_broadcast):
        o, c = self._tables(spark)
        st = TableStats(rows=5, bytes=DEFAULT_BROADCAST_BYTES + 1)
        p = _plan(stats_join(o, c, o.o_custkey == c.c_custkey, right_stats=st))
        assert "BroadcastHashJoin" not in p


def test_star_query_through_planner_matches_hand_hint_shape(spark):
    """The declared revenue_by_region now rides the planner; its physical
    shape must equal the historical hand-hinted plan: three broadcast
    hash joins, no sort-merge, fact scanned once."""
    from portfolio_data_pipelines_spark.queries.relational import revenue_by_region

    plan = _plan(revenue_by_region(spark, SF))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_parquet_stats_walk_partitioned_dir(spark, tmp_path):
    """A hive-partitioned directory must aggregate its leaf part files,
    not stat the directory inode."""
    out = str(tmp_path / "part")
    df = spark.createDataFrame(
        [("2025-08-20", 1.0), ("2025-08-21", 2.0), ("2025-08-21", 3.0)],
        "date string, v double",
    )
    df.write.partitionBy("date").parquet(out)
    st = stats_for_parquet(spark, out)
    assert st.rows == 3
    total = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")
    )
    assert st.bytes == total

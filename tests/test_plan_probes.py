"""Memoized plan probes behind ``ensure_min_parallelism``'s widen bound."""

from __future__ import annotations

from collections import OrderedDict

from portfolio_data_pipelines_spark import functions as fns


class _FlakyPlan:
    """Forward to a DataFrame, but fail the first ``_jdf`` access the
    way a transient py4j error would."""

    def __init__(self, df):
        self._df = df
        self.failures_left = 1

    def __getattr__(self, name):
        if name == "_jdf" and self.failures_left:
            self.failures_left -= 1
            raise RuntimeError("transient py4j error")
        return getattr(self._df, name)


def test_failed_size_probe_is_retried_not_memoized(spark, monkeypatch):
    monkeypatch.setattr(fns, "_NUM_PARTITIONS_CACHE", OrderedDict())
    df = spark.range(1000)
    flaky = _FlakyPlan(df)
    assert fns._plan_size_bytes(flaky) == 0  # probe failed: no estimate
    assert not fns._NUM_PARTITIONS_CACHE
    want = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    assert want > 0
    assert fns._plan_size_bytes(flaky) == want  # re-probed, real size
    assert list(fns._NUM_PARTITIONS_CACHE.values()) == [want]

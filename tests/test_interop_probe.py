"""The interop-probe machinery, pinned in the suite (r13, VERDICT #9).

``tests/interop_probe.py``'s 12-table conformance matrix ran ad hoc
through r12; this slow-marked test wires its ``--self-test`` mode (the
repo's independent from-spec reader standing in for a foreign engine)
into the suite so the matrix builders, comparisons, and error routing
cannot rot between rounds. The probe half runs unconditionally — it
records whether a REAL foreign reader (deltalake wheel / DuckDB delta
extension) became installable, the one check that closes the genuine
interop gap the moment the environment allows it.
"""

from __future__ import annotations

import tempfile

import pytest


def test_probe_reports_foreign_reader_availability():
    from tests.interop_probe import probe

    env = probe()
    assert set(env) == {"deltalake", "duckdb_delta"}
    # whatever the outcome, it must be a definite report, not a crash
    for v in env.values():
        assert v is not None


@pytest.mark.slow
def test_self_test_matrix_all_tables_clean(spark):
    from tests.interop_probe import _foreign_read_external, run_matrix

    readers = {"external_selftest": _foreign_read_external}
    work = tempfile.mkdtemp(prefix="delta_interop_pytest_")
    results = run_matrix(spark, readers, work)
    assert len(results) >= 12
    bad = [
        r for r in results
        if r.get("build_error")
        or any(
            str(v).startswith(("MISMATCH", "ERROR"))
            for k, v in r.items()
            if k in readers
        )
    ]
    assert not bad, bad

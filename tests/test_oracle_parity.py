"""Every declared oracle must hash-match its Spark query locally —
the same contract the driver enforces (row count + schema + values).

Runs on the committed sf0.01 fixture (``perfbench/fixtures/sf0.01``)
by default; ``SPARK_GRAFT_ORACLE_SF_DIR`` points it at another fixture
set, for example ``perfbench/fixtures/sf0.001`` for a fast pass.
"""

from __future__ import annotations

import pytest

from tests.oracle_harness import check_query


def _cases():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    missing = set(o) - set(q)
    assert not missing, f"oracles without queries: {missing}"
    return [(name, q[name], o[name]) for name in sorted(o)]


@pytest.mark.parametrize("name,fn,sql", _cases(), ids=[c[0] for c in _cases()])
def test_oracle_parity(spark, sf_oracle, name, fn, sql):
    issues = check_query(spark, sf_oracle, name, fn, sql)
    assert not issues, f"{name}: " + "; ".join(issues)


def test_rows_only_queries_run(spark, sf_small):
    """Queries without an oracle still must run and return a schema."""
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    for name in sorted(set(q) - set(o)):
        df = q[name](spark, sf_small)
        assert df.columns, f"{name} returned no columns"
        assert df.count() >= 0

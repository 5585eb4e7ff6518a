"""The primary correctness gate, locally: every REGISTRY query with an
oracle must match DuckDB on the shared parquet tables (emulates the
driver's CORRECTNESS check at sf0.001 for speed). Every query's plan
also passes the three plan audits (etl_rj_spark.plans.audit) on the
same build, before it executes."""

from __future__ import annotations

import pytest

from etl_rj_spark.analytics import REGISTRY
from etl_rj_spark.plans.audit import assert_plan_audits
from tests.oracle_utils import compare_spark_duck, duck_connection

_WITH_ORACLE = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    q = REGISTRY[name]
    df = q.build(spark, sf_dir)
    assert_plan_audits(name, df)
    compare_spark_duck(df, duck, q.oracle)


def test_rows_only_queries_run():
    """No query is rows-only: every REGISTRY query carries a DuckDB
    oracle, so each one goes through test_query_matches_oracle. A query
    that loses its oracle fails here instead of dropping out of the
    parity set unchecked."""
    rows_only = sorted(n for n, q in REGISTRY.items() if q.oracle is None)
    assert not rows_only, f"queries without an oracle: {rows_only}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.columns) > 0
    # every query key has a callable; oracle keys are a subset
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)


def test_no_case_colliding_oracle_aliases():
    """Registration-time guard for the r7 `prorate_order_totals` bug
    class (VERDICT r7 #1/#8): DuckDB identifiers are case-insensitive,
    so two aliases differing only by case silently collapse into one
    column. Lint every registered oracle."""
    from etl_rj_spark.analytics import REGISTRY
    from tests.oracle_utils import lint_case_colliding_aliases

    bad = {
        name: pairs
        for name, q in REGISTRY.items()
        if q.oracle and (pairs := lint_case_colliding_aliases(q.oracle))
    }
    assert not bad, f"case-colliding oracle aliases: {bad}"

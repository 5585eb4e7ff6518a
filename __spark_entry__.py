"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over :mod:`etl_rj_spark.analytics.suite` — the registry of
named engine queries, each paired with the equivalent DuckDB oracle SQL
(SURVEY.md §2 inventory → queries; §5 test strategy).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# importable regardless of the harness's cwd
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_rj_spark.analytics import REGISTRY  # noqa: E402

SF_SMOKE_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY §2.10 #4): LAG day-over-day deltas over
    the last two snapshot dates, at sf0.001."""
    return REGISTRY["last_two_snapshots_delta"].build(spark, SF_SMOKE_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registration order."""
    return {name: q.build for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    return {
        name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None
    }

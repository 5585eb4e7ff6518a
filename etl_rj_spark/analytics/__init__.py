"""Read-side analytics: the documented query library (SURVEY.md §2.10)
and the oracle-checked query suite consumed by ``__spark_entry__.py``."""

from etl_rj_spark.analytics.suite import REGISTRY, Query  # noqa: F401
from etl_rj_spark.analytics import coverage_suite  # noqa: F401  (registers queries)
from etl_rj_spark.analytics import llm_suite  # noqa: F401  (registers queries)
from etl_rj_spark.analytics import tpch_suite  # noqa: F401  (registers queries)
from etl_rj_spark.analytics import temporal_suite  # noqa: F401  (registers queries)
from etl_rj_spark.analytics import fuzzy_suite  # noqa: F401  (registers queries)
from etl_rj_spark.analytics import tpch_hard_suite  # noqa: F401  (registers queries)
from etl_rj_spark.analytics import window_suite  # noqa: F401  (registers queries)
from etl_rj_spark.analytics import quality_suite  # noqa: F401  (registers queries)
from etl_rj_spark.analytics import product_suite  # noqa: F401  (registers queries)
from etl_rj_spark.analytics import pipeline_suite  # noqa: F401  (registers queries)

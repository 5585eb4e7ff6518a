"""Physical-plan introspection: the scale-audit helpers that keep the
engine honest about broadcasts, pushdown, and shuffles
(:mod:`etl_rj_spark.plans.audit`)."""

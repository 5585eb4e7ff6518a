"""Streaming maintenance of EXACT additive moment states.

Completes the state-maintenance taxonomy beside the sketches
(streaming/sketches.py): HLL partials are idempotent by register-max,
theta partials by set union, frequent-items are additive-with-error →
batch-id ledger. This module adds the fourth class: **exact integer
moment sums** (n, Σx, Σx² per group-day in decimal(38,0)) — additive
like frequent-items, so idempotence must come from the LEDGER, but
exact (zero sketch error): the incremental posture for mean /
variance / z-score / OLS-grade statistics over a stream, serving any
rollup level with no event rescan.

The fold is :func:`etl_rj_spark.streaming.sketches._fold_days` with
the ledger kept per (group, day) cell: only touched days are read and
rewritten, every step is null-day-safe, and a cell that already
folded a batch id ignores its redelivery. Values must be INTEGER
(cents/micros — scale yours up); NULL values carry no mass.

Serving note: moment sums double exactly under re-folds of the same
data ((2n, 2Σx, 2Σx²) give the identical mean and variance — powers
of two scale IEEE doubles exactly), which is what the maintenance
query's contract exploits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_rj_spark.streaming.fsutil import _drain, read_state_or_schema
from etl_rj_spark.streaming.sketches import _fold_days


def moment_batch(
    df: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "cents",
) -> DataFrame:
    """Per-(group, day) exact moment partial for one slice of rows:
    (group, day, n, s = Σx, ss = Σx²) with the sums in decimal(38,0)."""
    dec = F.col(value_col).cast("decimal(38,0)")
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"), F.to_date(ts_col).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec).alias("s"),
            F.sum(dec * F.col(value_col)).alias("ss"),
        )
    )


def fold_moments_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "cents",
) -> None:
    """Fold one micro-batch's moment partials into the day-partitioned
    table at ``target_path``. Sums are additive, so redelivery safety
    is the batch-id ledger: a (group, day) cell that already folded
    this ``batch_id`` keeps its state untouched."""
    _fold_days(
        moment_batch(batch_df, group_col, ts_col, value_col),
        target_path,
        ("grp", "day"),
        [
            F.sum("n").alias("n"),
            F.sum("s").cast("decimal(38,0)").alias("s"),
            F.sum("ss").cast("decimal(38,0)").alias("ss"),
        ],
        batch_id,
    )


def stream_moment_partials(
    stream: DataFrame,
    target_path: str,
    checkpoint: str,
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "cents",
) -> StreamingQuery:
    """Drain available input, folding each micro-batch's exact moment
    partials through the ledger."""

    return _drain(stream, checkpoint, lambda df, batch_id: fold_moments_batch(
        df, batch_id, target_path, group_col, ts_col, value_col
    ))


def serve_moment_stats(spark: SparkSession, path: str) -> DataFrame:
    """Serving read: roll every day partial to group level and emit
    (grp, n, mean_ppm, var_ppm) — the mean and population variance of
    the maintained integer values, ×10⁶ rounded. The divisions are
    single correctly-rounded double ops over exact decimal sums, and
    both are invariant under exact doubling of the sums (see module
    docstring)."""
    g = read_state_or_schema(spark, path).groupBy("grp").agg(
        F.sum("n").alias("n"),
        F.sum("s").cast("decimal(38,0)").alias("s"),
        F.sum("ss").cast("decimal(38,0)").alias("ss"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    var_num = (nd * F.col("ss") - F.col("s") * F.col("s")).cast("double")
    var_den = (nd * nd).cast("double")
    return g.select(
        "grp",
        F.col("n").cast("bigint").alias("n"),
        F.round(mean * 1e6).cast("long").alias("mean_ppm"),
        F.round(var_num / var_den * 1e6).cast("long").alias("var_ppm"),
    )

"""Streaming SCD Type 2 maintenance: a change stream folded into a
validity-interval dimension history with ``foreachBatch`` +
:func:`etl_rj_spark.operators.scd.scd2_apply` — the streaming twin of
the batch SCD2 operator, the way ``streaming/incremental.py`` twins
the K1 anti-join append.

Each micro-batch may carry several effective dates; they fold in
ONE window pass (``scd2_apply_multi`` — ascending-date semantics,
plan depth independent of the date count, so multi-year backfill
batches are safe). A key with two changes at the SAME effective date
is ambiguous and raises rather than silently picking one.

History swap is crash-safe without a table format: write the new
history to a staging dir, move current → backup, staging → current,
drop backup. Every rename/delete is CHECKED (Hadoop FileSystem
returns False instead of raising) — a failed swap step aborts the
batch before the checkpoint commits, so the changes re-deliver.
Crash recovery (backup present, current missing) is performed ONLY by
the writer at batch start — single-writer assumption; a reader that
renamed directories could race the writer mid-swap and corrupt the
layout, so ``read_history`` reads the backup without mutating.
Idempotence on redelivery comes from SCD2 semantics itself: the
stale-change guard in ``scd2_apply`` makes re-applying an
already-applied change a no-op.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_rj_spark.operators.scd import scd2_apply_multi
from etl_rj_spark.streaming.fsutil import _drain


def _hpath(spark: SparkSession, p: str):
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(p)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, path


def _must(ok: bool, what: str) -> None:
    if not ok:
        raise RuntimeError(f"SCD2 history swap failed: {what}")


def _recover(spark: SparkSession, history_path: str) -> None:
    """Writer-side crash recovery: a backup left mid-swap with no
    current dir is the committed pre-swap state — restore it. Called
    only from the single writer at batch start."""
    fs, cur = _hpath(spark, history_path)
    _, bak = _hpath(spark, history_path + ".backup")
    if not fs.exists(cur) and fs.exists(bak):
        _must(fs.rename(bak, cur), f"recover {bak} -> {cur}")


def read_history(spark: SparkSession, history_path: str) -> DataFrame | None:
    """Current history; falls back to READING a backup left by a crash
    mid-swap (no directory mutation — recovery-by-rename belongs to
    the writer alone, see module docstring)."""
    fs, cur = _hpath(spark, history_path)
    _, bak = _hpath(spark, history_path + ".backup")
    if fs.exists(cur):
        return spark.read.parquet(history_path)
    if fs.exists(bak):
        return spark.read.parquet(history_path + ".backup")
    return None


def stream_scd2_maintain(
    changes_stream: DataFrame,
    history_path: str,
    keys: Sequence[str],
    compare_cols: Sequence[str],
    checkpoint: str,
    effective_col: str = "effective_date",
) -> StreamingQuery:
    """Drain available change files once (Trigger.AvailableNow),
    folding each micro-batch into the SCD2 history at
    ``history_path``. Bootstraps an empty history from the batch
    schema on first run."""
    keys = list(keys)
    compare_cols = list(compare_cols)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _recover(spark, history_path)
        batch_df = batch_df.dropDuplicates()  # exact re-sends collapse
        batch_df.persist()  # three actions below share one scan
        try:
            dup = (
                batch_df.groupBy(*keys, effective_col)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                row = tuple(dup[0])
                raise ValueError(
                    f"ambiguous SCD2 batch: key {row[:len(keys)]} has two "
                    f"different changes at effective date {row[len(keys)]!r}"
                )
            hist = read_history(spark, history_path)
            if hist is None:
                hist = batch_df.select(
                    *keys, *compare_cols,
                    F.col(effective_col).alias("valid_from"),
                    F.lit(None).cast(batch_df.schema[effective_col].dataType)
                    .alias("valid_to"),
                ).limit(0)
            # all effective dates fold in ONE window pass — plan depth
            # (and driver work) independent of how many dates the batch
            # spans, so a multi-year backfill batch is safe
            hist = scd2_apply_multi(
                hist,
                batch_df,
                keys,
                compare_cols,
                effective_col=effective_col,
            )
            staging = history_path + f".staging-{batch_id}"
            hist.write.mode("overwrite").parquet(staging)
            fs, cur = _hpath(spark, history_path)
            _, bak = _hpath(spark, history_path + ".backup")
            _, stg = _hpath(spark, staging)
            if fs.exists(bak):
                _must(fs.delete(bak, True), f"delete stale {bak}")
            if fs.exists(cur):
                _must(fs.rename(cur, bak), f"rename {cur} -> {bak}")
            _must(fs.rename(stg, cur), f"rename {stg} -> {cur}")
            if fs.exists(bak):
                _must(fs.delete(bak, True), f"delete {bak}")
        finally:
            batch_df.unpersist()

    return _drain(changes_stream, checkpoint, fold)

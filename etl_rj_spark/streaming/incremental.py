"""Streaming incremental-dedup sink: the reference's incremental fact
load (ventas_totales.py:169-209 — read existing keys, anti-join, append
only new rows) as a ``foreachBatch`` Structured Streaming sink.

Each micro-batch is deduplicated within itself and anti-joined against
the **key projection** of the target table (the reference's S6
``SELECT <keys> FROM fact`` move — column pruning means the existing
side reads only the key columns, not the fact payload), then appended.

Delivery semantics: the checkpoint gives exactly-once *file* tracking,
and the anti-join makes re-delivered batches idempotent — a crashed
batch that half-appended re-runs and inserts only the missing rows,
which is strictly stronger than the reference's single-transaction
rollback (SURVEY §2.2 K1). At 100 TB the existing-keys side should
also be partition-pruned to the batch's key range (pass
``prune_existing`` — e.g. restrict to recent ``fecha_carga``
partitions) so the anti-join never scans cold history.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from etl_rj_spark.operators.dedup import anti_join_new_rows
from etl_rj_spark.streaming.fsutil import _drain, path_exists


def stream_incremental_append(
    new_stream: DataFrame,
    target_path: str,
    keys: Sequence[str],
    checkpoint: str,
    prune_existing: Callable[[DataFrame], DataFrame] | None = None,
) -> StreamingQuery:
    """Drain available input once (Trigger.AvailableNow), appending to
    ``target_path`` only rows whose key tuple is not already present."""
    keys = list(keys)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = batch_df.dropDuplicates(keys)
        # explicit existence probe, NOT `except AnalysisException`: a
        # broad catch would also swallow real analysis errors (schema
        # drift, a renamed key column) and silently disable the
        # anti-join dedup this sink's idempotence depends on
        existing = (
            spark.read.parquet(target_path).select(*keys)
            if path_exists(spark, target_path)
            else None  # first batch: target doesn't exist yet
        )
        if existing is not None:
            if prune_existing is not None:
                existing = prune_existing(existing)
            fresh = anti_join_new_rows(fresh, existing, keys, on_null_key="drop")
            # sever the lineage before appending to the path it reads:
            # a task retry mid-write would otherwise re-run the
            # anti-join against a partially-appended target
            fresh = fresh.localCheckpoint()
        fresh.write.mode("append").parquet(target_path)

    return _drain(new_stream, checkpoint, upsert)


def stream_incremental_append_jdbc_atomic(
    new_stream: DataFrame,
    url: str,
    table: str,
    keys: Sequence[str],
    checkpoint: str,
    properties: dict | None = None,
    batchsize: int = 1000,
) -> StreamingQuery:
    """Streaming twin of the K1 staging-table atomic commit
    (``sinks.incremental.append_incremental_jdbc_atomic``): each
    micro-batch is deduplicated within itself, anti-joined against the
    target's key projection, staged by a parallel JDBC write, and
    PUBLISHED in one server-side transaction — so a batch that dies
    mid-publish leaves the warehouse table byte-identical, and the
    checkpoint + anti-join make its redelivery insert exactly the
    missing rows. This is the reference's transactional nightly load
    (ventas_totales.py:223-262) as an always-on stream: per-batch
    all-or-nothing AND idempotent across redeliveries."""
    from etl_rj_spark.sinks.incremental import append_incremental_jdbc_atomic

    keys = list(keys)

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        fresh = batch_df.dropDuplicates(keys)
        append_incremental_jdbc_atomic(
            fresh, url, table, keys,
            batchsize=batchsize,
            properties=properties,
            staging_table=f"{table}_STG_{batch_id}",
        )

    return _drain(new_stream, checkpoint, publish)

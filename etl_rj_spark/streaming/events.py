"""Streaming event ingestion and aggregation.

``read_event_stream`` reads the events table shape as a file-source
stream. File streams need an explicit schema, which the reader takes
from a batch read of the same path — never hard-coded, so a testdata
regeneration that changes the parquet timestamp encoding (ns-as-long →
µs-NTZ did exactly this) cannot silently shift every timestamp 1000×.
Normalization then goes through the same ``normalize_timestamps`` the
batch source uses, so stream and batch agree bit-for-bit.
``windowed_event_counts_stream`` is the streaming twin of the batch
``windowed_event_counts`` oracle query — identical grouping
expressions, plus a watermark for state eviction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_rj_spark.sources.parquet import normalize_timestamps
from etl_rj_spark.streaming.fsutil import _drain


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over event parquet files; schema inferred
    from a batch read of the path, timestamps normalized to
    TimestampType exactly as the batch source does (µs truncation for
    ns-as-long, exact UTC cast for TIMESTAMP_NTZ)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(path).schema
    raw = spark.readStream.schema(raw_schema).parquet(path)
    return normalize_timestamps(raw)


def windowed_event_counts_stream(
    events: DataFrame, watermark: str = "10 minutes", window: str = "5 minutes"
) -> DataFrame:
    """Watermarked tumbling-window counts — the streaming form of the
    batch ``windowed_event_counts`` query (same expressions; late rows
    beyond the watermark are dropped instead of recomputed)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def stream_snapshot_append(
    events: DataFrame, out_path: str, checkpoint: str
) -> StreamingQuery:
    """K2 as a stream: drain all currently-available files once
    (Trigger.AvailableNow) appending date-stamped rows — the reference's
    manually-triggered daily snapshot load with exactly-once file
    tracking via the checkpoint."""
    stamped = events.withColumn("fecha_carga", F.current_date())
    return (
        stamped.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("fecha_carga")
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


def view_purchase_stream_join(
    events: DataFrame, max_gap_minutes: int = 30, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join: each purchase paired with the same
    user's views from the preceding ``max_gap_minutes`` — the streaming
    twin of the batch range join (range_join_error_clicks pattern).

    Both sides carry watermarks and the join condition bounds event
    time in both directions, so Spark can size the join state and evict
    rows older than watermark + gap (unbounded state otherwise)."""
    v = (
        events.filter(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", watermark)
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return v.join(
        p,
        F.expr(
            f"user_id = p_user AND purchase_ts >= view_ts "
            f"AND purchase_ts <= view_ts + INTERVAL {max_gap_minutes} MINUTES"
        ),
        "inner",
    ).select("user_id", "view_id", "purchase_id", "view_ts", "purchase_ts")


def view_purchase_stream_join_outer(
    events: DataFrame, max_gap_minutes: int = 30, watermark: str = "2 hours"
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every view emits — with
    its purchase when one arrives inside the gap, or with NULL
    purchase columns once the watermark passes view_ts + gap and the
    state store can prove no match will come. The null row is the
    'abandoned view' signal a funnel pipeline wants, and its emission
    TIME is a state-eviction semantic: it cannot appear before the
    watermark closes the interval (pinned in tests/test_streaming)."""
    v = (
        events.filter(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", watermark)
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return v.join(
        p,
        F.expr(
            f"user_id = p_user AND purchase_ts >= view_ts "
            f"AND purchase_ts <= view_ts + INTERVAL {max_gap_minutes} MINUTES"
        ),
        "left_outer",
    ).select("user_id", "view_id", "purchase_id", "view_ts", "purchase_ts")


def stream_enrich_with_dim(
    stream: DataFrame,
    dim_path: str,
    out_path: str,
    checkpoint: str,
    key: str = "user_id",
) -> StreamingQuery:
    """Stream-static enrichment with per-BATCH dim refresh: each
    micro-batch re-reads the dimension table from ``dim_path`` inside
    foreachBatch, so a dim updated between batches enriches later
    batches with the NEW values — the slowly-changing-dimension
    posture a long-running stream needs. (A static DataFrame captured
    at stream definition would pin the dim's file listing instead;
    the explicit per-batch read makes the refresh contract visible
    and testable.) Each batch writes its own ``batch=<id>`` directory
    with overwrite, so a batch redelivered after a crash between the
    write and the checkpoint commit REWRITES its deterministic output
    instead of appending duplicates (K1 posture, same as the ledgered
    sinks); readers scan ``out_path`` as one partitioned table.

    .. note:: BREAKING layout change (r9): output moved from a flat
       append directory to ``batch=<id>`` subdirectories, so readers
       see a new ``batch`` partition column. A checkpointed stream
       resumed over a PRE-change flat output directory would mix
       layouts and break partition discovery — the start-time guard
       below refuses ``out_path`` directories containing legacy
       non-partitioned files (ADVICE r9). Migrate by moving legacy
       files under a ``batch=-1`` subdirectory (or re-running the
       stream into a fresh path)."""
    spark = stream.sparkSession
    jpath = spark._jvm.org.apache.hadoop.fs.Path(out_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if name.startswith(("_", ".")) or (
                st.isDirectory() and name.startswith("batch=")
            ):
                continue
            raise ValueError(
                f"stream_enrich_with_dim: {out_path} contains legacy "
                f"non-partitioned output ({name!r}); the sink writes "
                "batch=<id> partitions since r9 — move legacy files "
                "under batch=-1/ or use a fresh out_path"
            )

    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        dim = batch_df.sparkSession.read.parquet(dim_path)
        batch_df.join(F.broadcast(dim), key, "left").write.mode(
            "overwrite"
        ).parquet(f"{out_path}/batch={int(batch_id)}")

    return _drain(stream, checkpoint, enrich)

"""Streaming maintenance of the first-order Markov transition matrix.

The batch operator (`operators/windows.py:transition_counts`) LAGs the
state per entity — but a STREAM delivers each entity's events across
many micro-batches, and the transition spanning a batch boundary (last
event of batch k → first event of batch k+1) is visible to neither
batch alone. This maintainer stitches boundaries exactly: the state
carries, besides the additive (prev, cur) pair counts, each entity's
LAST SEEN event (ts, tiebreak, state); each fold counts the batch's
in-batch transitions PLUS one boundary transition per entity that had
prior state.

State layout & idempotence — a fifth point in the maintenance
taxonomy (sketches: register-max / set-union; topk/CMS/moments:
per-cell batch ledger): here the whole state is SNAPSHOT-VERSIONED.
Each fold reads the latest committed version, computes the next, and
publishes it under ``v=<batch_id>`` with a commit marker written
LAST — so a crash mid-write leaves a garbage uncommitted directory
that the retry simply overwrites, and redelivery idempotence is the
monotone batch-id rule (fold ids come from foreachBatch and only
grow; an id ≤ the latest committed version is a no-op). The matrix
is vocabulary-sized (|states|²) and the last-seen table is
entity-grain, so whole-state rewrite per batch is the honest cost —
at 100 TB the last-seen table is the only big piece and it writes
partitioned/bucketed by entity hash like any keyed state store.

ORDERED-ARRIVAL CONTRACT: boundary stitching assumes each entity's
events arrive in (ts, tiebreak) order across batches (the log-segment
guarantee; within a batch, order is free — the fold sorts). Late
events older than the stored last-seen are counted in-batch but their
boundary edge uses stored state — feed out-of-order streams through a
watermarked sort first. Single writer per state root (foreachBatch's
sequential guarantee), same posture as `sources/manifest.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_rj_spark.streaming.fsutil import _drain, hadoop_path_fs, path_exists

_PAIRS_SCHEMA = "prev_state string, state string, n bigint"
def latest_version(spark: SparkSession, root: str) -> int | None:
    """Largest committed snapshot version under ``root`` (those whose
    ``commit`` marker exists), or None. Metadata-only listing,
    scheme-aware (``FileSystem.get`` would 'Wrong FS' on an s3a://
    root under a different default filesystem)."""
    fs, path = hadoop_path_fs(spark, root)
    if not fs.exists(path):
        return None
    best = None
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if not name.startswith("v="):
            continue
        try:
            v = int(name[2:])
        except ValueError:
            continue
        if path_exists(spark, f"{root}/{name}/commit"):
            best = v if best is None or v > best else best
    return best


def fold_transitions_batch(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    state_col: str = "event_type",
) -> None:
    """Fold one micro-batch into the versioned transition state.

    In-batch transitions come from a per-entity LAG; each entity's
    FIRST in-batch event additionally pairs with the stored last-seen
    state (the boundary edge). Pair counts are additive; the last-seen
    table is keep-latest by (ts, tiebreak) — both deterministic, so a
    retried fold rewrites byte-identical content before committing.
    """
    spark = batch_df.sparkSession
    prev_v = latest_version(spark, root)
    if prev_v is not None and int(batch_id) <= prev_v:
        return  # redelivery of a committed fold: no-op by monotone ids

    b = batch_df.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col).alias("last_ts"),
        F.col(tiebreak_col).cast("long").alias("last_tb"),
        F.col(state_col).alias("last_state"),
    ).localCheckpoint()

    w = Window.partitionBy("entity").orderBy("last_ts", "last_tb")
    seq = b.select(
        "entity", "last_ts", "last_tb", "last_state",
        F.lag("last_state").over(w).alias("__prev"),
        F.row_number().over(w).alias("__rn"),
        F.row_number().over(
            Window.partitionBy("entity").orderBy(F.desc("last_ts"), F.desc("last_tb"))
        ).alias("__rrn"),
    )
    in_pairs = (
        seq.filter(F.col("__prev").isNotNull())
        .groupBy(F.col("__prev").alias("prev_state"), F.col("last_state").alias("state"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

    if prev_v is not None:
        old_pairs = spark.read.parquet(f"{root}/v={prev_v}/pairs")
        old_last = spark.read.parquet(f"{root}/v={prev_v}/last")
        firsts = seq.filter(F.col("__rn") == 1).select(
            "entity", F.col("last_state").alias("__cur")
        )
        boundary = (
            firsts.join(
                old_last.select("entity", F.col("last_state").alias("__stored")),
                "entity",
            )
            .groupBy(F.col("__stored").alias("prev_state"), F.col("__cur").alias("state"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        all_pairs = old_pairs.unionByName(in_pairs).unionByName(boundary)
        all_last = old_last.unionByName(
            seq.filter(F.col("__rrn") == 1).select(
                "entity", "last_ts", "last_tb", "last_state"
            )
        )
    else:
        all_pairs = in_pairs
        all_last = seq.filter(F.col("__rrn") == 1).select(
            "entity", "last_ts", "last_tb", "last_state"
        )

    merged_pairs = all_pairs.groupBy("prev_state", "state").agg(
        F.sum("n").cast("bigint").alias("n")
    )
    wl = Window.partitionBy("entity").orderBy(F.desc("last_ts"), F.desc("last_tb"))
    merged_last = (
        all_last.withColumn("__r", F.row_number().over(wl))
        .filter(F.col("__r") == 1)
        .drop("__r")
    )

    vdir = f"{root}/v={int(batch_id)}"
    merged_pairs.write.mode("overwrite").parquet(f"{vdir}/pairs")
    merged_last.write.mode("overwrite").parquet(f"{vdir}/last")
    # commit marker LAST: the version exists only once both tables are
    # fully written (crash before this line → uncommitted garbage the
    # retry overwrites; crash after → the retry no-ops on batch id)
    spark.createDataFrame([(int(batch_id),)], "batch_id long").write.mode(
        "overwrite"
    ).parquet(f"{vdir}/commit")


def stream_transition_partials(
    stream: DataFrame,
    root: str,
    checkpoint: str,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    state_col: str = "event_type",
) -> StreamingQuery:
    """Drain available input, folding each micro-batch through the
    versioned transition state."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        fold_transitions_batch(
            batch_df, batch_id, root, entity_col, ts_col, tiebreak_col, state_col
        )

    return _drain(stream, checkpoint, fold)


def serve_transition_matrix(spark: SparkSession, root: str) -> DataFrame:
    """Serving read of the latest committed matrix with row-normalized
    exact-ppm probabilities — same output contract as the batch
    ``transition_counts``."""
    v = latest_version(spark, root)
    if v is None:
        return spark.createDataFrame([], _PAIRS_SCHEMA + ", p_ppm bigint")
    pairs = spark.read.parquet(f"{root}/v={v}/pairs")
    row_tot = pairs.groupBy("prev_state").agg(F.sum("n").alias("__rt"))
    return pairs.join(F.broadcast(row_tot), "prev_state").select(
        "prev_state", "state", "n",
        F.expr("(n * 1000000) div __rt").alias("p_ppm"),
    )

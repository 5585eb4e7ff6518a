"""Streaming maintenance of mergeable sketch states.

Each maintainer keeps a day-partitioned table of per-(cell, day)
partial states CURRENT from a stream: a micro-batch builds its own
partials, merges them into the stored partials of exactly the days it
touched, and rewrites ONLY those day partitions (dynamic partition
overwrite) — cold days are never read or written. One fold body,
:func:`_fold_days`, does this for every state class here and for the
exact moments in :mod:`etl_rj_spark.streaming.moments`; each
maintainer only names its partials, its cell keys and its merge
aggregates.

Delivery semantics split the classes in two:

- **idempotent** — HLL (union is a per-register max) and theta (set
  union): merging the same batch twice is a no-op, so a redelivered
  batch (crash before checkpoint commit, even mid-rewrite of a day
  partition) converges to the identical table with no bookkeeping.
  The batch side (``analytics.tpch_suite.hll_sketch_rollup``) proves
  the posture: per-(group, day) partials union-merge to any rollup
  level with no history rescan.
- **additive** — frequent items, count-min counters, exact moments:
  merging a batch twice double-counts, so every stored row carries a
  ``batch_ids`` LEDGER of the foreachBatch ids its cell absorbed, and
  a redelivered batch (same ``batch_id``, Spark's restart contract)
  is skipped for exactly the cells that already hold it. A crash
  mid-rewrite leaves some touched days folded and some not;
  redelivery folds only the unfolded ones.

State stays tiny at any input scale (groups × days × KB-sized
sketches) while the events it summarizes never need re-scanning.
"""

from __future__ import annotations

import operator
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_rj_spark.streaming.fsutil import (
    _drain,
    ensure_state_schema,
    has_visible_data,
    read_state_or_schema,
)

#: Shared relative-error bound for the lgK=12 HLL contract checks:
#: rsd(lgK=12) = 1.04/sqrt(2^12) ~= 1.6 %, and the contracts pin the
#: estimate within 3 x rsd ~= 4.9 % (rounded up to 5 %). ONE constant
#: so the batch rollup, the streaming fold, and the tests cannot drift.
HLL_REL_TOL = 0.05

#: Merged-vs-direct consistency bound. While sketches stay SPARSE
#: (coupon/SET mode, up to a few thousand distincts at lgK=12) the
#: union is bit-lossless and the merged estimate equals a direct
#: single-pass sketch EXACTLY. Once they go dense (HLL array mode),
#: DataSketches unions through an HLL_8 gadget and the merged result
#: can drift from a direct HLL_4 sketch by a sub-percent amount — the
#: ×10 scale-correctness sweep caught the exact-equality pin failing
#: at 15k distincts/group while every estimate stayed within 5 ‰ of
#: exact. 1 % is comfortably above the drift and far below any real
#: regression (a lost day partial shifts the estimate by whole
#: percents).
HLL_MERGE_TOL = 0.01


def _touched_days_cond(fresh: DataFrame):
    """Collect the distinct days this batch touched and build the
    read-back predicate for exactly those partitions. Returns ``None``
    when the batch is empty. ``isin`` never matches NULL, so the
    null-ts partition gets an explicit ``isNull`` arm — without it a
    null-day batch would replace the null partition having read none
    of it (silent data loss)."""
    days = [r.day for r in fresh.select("day").distinct().collect()]
    if not days:
        return None
    real_days = [d for d in days if d is not None]
    cond = F.col("day").isin(real_days) if real_days else F.lit(False)
    if len(real_days) < len(days):
        cond = cond | F.col("day").isNull()
    return cond


def _fold_days(
    fresh: DataFrame,
    target_path: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    batch_id: int | None = None,
    ledger_keys: Sequence[str] | None = None,
) -> None:
    """Fold one batch's partials ``fresh`` (cell ``keys``, ``day``
    among them, plus state columns) into the day-partitioned state
    table at ``target_path``, merging with the class's ``aggs``.

    Without a ``batch_id`` (idempotent classes) the first batch is
    written as built and the read-back of existing partials is not
    checkpointed on its own. With one, the fold keeps the ledger: a
    ``batch_ids`` column on every row, fresh cells anti-joined away
    where a stored row with the same ``ledger_keys`` (default:
    ``keys``) already holds this id, and the ledgers concatenated in
    the merge.

    Every step is NULL-day-safe: the read-back predicate has an
    ``isNull`` arm, the anti-join uses ``eqNullSafe``, and the merge
    is one ``groupBy`` in which NULL forms its own group.

    The read-back is chosen by an explicit visible-data probe, never
    by catching ``AnalysisException`` around the read: that would
    also swallow real analysis errors (schema drift in the partials
    table, a different group column than it was built with) and
    silently replace accumulated partials with this batch's alone."""
    spark = fresh.sparkSession
    # materialize the batch partials ONCE: the touched-day collect and
    # the merge below both reuse the checkpoint
    fresh = fresh.localCheckpoint()
    cols = fresh.columns
    stored = fresh
    if batch_id is not None:
        stored = fresh.select(*cols, F.array().cast("array<long>").alias("batch_ids"))
    cond = _touched_days_cond(fresh)
    if cond is None:
        # empty drain: still materialize the table's SCHEMA so a
        # serving read sees an empty state table, not PATH_NOT_FOUND
        if not has_visible_data(spark, target_path):
            ensure_state_schema(stored, target_path)
        return
    exists = has_visible_data(spark, target_path)
    if batch_id is None:
        merged = fresh  # first batch: no partials yet
        if exists:
            merged = (
                spark.read.parquet(target_path).where(cond)
                .unionByName(fresh).groupBy(*keys).agg(*aggs)
            )
    else:
        existing = (
            spark.read.parquet(target_path).where(cond) if exists else stored.limit(0)
        ).localCheckpoint()  # read once; the target is rewritten below
        ledger_keys = list(ledger_keys or keys)
        folded = existing.filter(F.array_contains("batch_ids", F.lit(batch_id))).select(
            *[F.col(k).alias(f"__ledger_{k}") for k in ledger_keys]
        )
        if ledger_keys != list(keys):
            # a ledger coarser than the cell repeats once per cell row
            folded = folded.distinct()
        fresh_new = fresh.join(
            folded,
            reduce(
                operator.and_,
                [F.col(k).eqNullSafe(F.col(f"__ledger_{k}")) for k in ledger_keys],
            ),
            "left_anti",
        )
        merged = (
            existing.select(*cols, "batch_ids")
            .unionByName(
                fresh_new.select(
                    *cols, F.array(F.lit(batch_id).cast("long")).alias("batch_ids")
                )
            )
            .groupBy(*keys)
            .agg(
                *aggs,
                # RETENTION: the ledger grows one id per folded batch.
                # On a long-running stream, compact it periodically by
                # dropping ids <= the streaming checkpoint's committed
                # epoch (redelivery below it is impossible, so those
                # ids can never be probed again). Array cost is per
                # cell, so a state row stays KB-sized between passes.
                F.array_distinct(F.flatten(F.collect_list("batch_ids")))
                .alias("batch_ids"),
            )
        )
    # localCheckpoint materializes the merge so the dynamic overwrite
    # below is not "writing a path being read from"; a crash between
    # here and commit is healed by redelivery. Per-WRITE dynamic
    # overwrite (only the merged days replaced): the writer option
    # scopes it — never mutate the session conf, other writers may
    # rely on static overwrite-all semantics.
    merged.localCheckpoint().write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("day").parquet(target_path)


def sketch_batch(
    df: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    key_col: str = "user_id",
    lgk: int = 12,
) -> DataFrame:
    """Per-(group, day) HLL partials for one slice of events."""
    return df.groupBy(
        group_col, F.to_date(ts_col).alias("day")
    ).agg(F.hll_sketch_agg(key_col, F.lit(lgk)).alias("sk"))


def stream_hll_partials(
    events_stream: DataFrame,
    target_path: str,
    checkpoint: str,
    group_col: str = "event_type",
    ts_col: str = "ts",
    key_col: str = "user_id",
    lgk: int = 12,
) -> StreamingQuery:
    """Drain available input (Trigger.AvailableNow), folding each
    micro-batch's HLL partials into the day-partitioned table at
    ``target_path`` (:func:`_fold_days`, idempotent: no ledger)."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_days(
            sketch_batch(batch_df, group_col, ts_col, key_col, lgk),
            target_path,
            (group_col, "day"),
            [F.hll_union_agg("sk").alias("sk")],
        )

    return _drain(events_stream, checkpoint, fold)


def estimate_partials(
    spark: SparkSession, target_path: str, group_col: str = "event_type"
) -> DataFrame:
    """Rollup view over the maintained partials: distinct-count
    estimate per group (identical to a single-pass sketch over all
    events ever folded in — mergeability, pinned in tests)."""
    return (
        read_state_or_schema(spark, target_path)
        .groupBy(group_col)
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_distinct"))
    )


# --------------------------------------------------------------------------
# Frequent-items (heavy hitters) — additive, so ledgered
# --------------------------------------------------------------------------


def topk_sketch_batch(
    df: DataFrame,
    item_col: str = "event_type",
    ts_col: str = "ts",
    max_items: int = 1024,
) -> DataFrame:
    """Per-day frequent-items partial state for one slice of events."""
    return df.groupBy(F.to_date(ts_col).alias("day")).agg(
        F.expr(f"approx_top_k_accumulate({item_col}, {int(max_items)})").alias("st")
    )


def fold_topk_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    item_col: str = "event_type",
    ts_col: str = "ts",
    max_items: int = 1024,
) -> None:
    """Fold one micro-batch into the day-partitioned top-k partial
    table at ``target_path``. Re-invoking with the same ``batch_id``
    is a no-op for every day that already folded it (the ledger), so
    foreachBatch redelivery cannot double-count."""
    _fold_days(
        topk_sketch_batch(batch_df, item_col, ts_col, max_items),
        target_path,
        ("day",),
        [F.expr(f"approx_top_k_combine(st, {int(max_items)})").alias("st")],
        batch_id,
    )


def stream_topk_partials(
    events_stream: DataFrame,
    target_path: str,
    checkpoint: str,
    item_col: str = "event_type",
    ts_col: str = "ts",
    max_items: int = 1024,
) -> StreamingQuery:
    """Drain available input (Trigger.AvailableNow), folding each
    micro-batch through :func:`fold_topk_batch`."""

    return _drain(events_stream, checkpoint, lambda df, batch_id: fold_topk_batch(
        df, batch_id, target_path, item_col, ts_col, max_items
    ))


def estimate_topk_partials(
    spark: SparkSession, path: str, k: int = 64, max_items: int = 1024
) -> DataFrame:
    """Serving read: combine every day partial and estimate the top-k
    as (item, n) rows.

    The combine runs as a GROUPED aggregate on a constant key, never a
    global one: a global ``approx_top_k_combine`` over an EMPTY state
    table (a stream that has seen no items yet — a normal serving
    state) executes once with its item type never initialized and dies
    in Spark's sketch serializer (``ApproxTopKCombine.serialize``,
    ``scala.MatchError: null``); a grouped aggregate over zero rows
    emits zero groups, so the empty stream serves the correct EMPTY
    top-k."""
    combined = (
        read_state_or_schema(spark, path)
        .groupBy(F.lit(1).alias("__g"))
        .agg(
            F.expr(
                f"approx_top_k_estimate(approx_top_k_combine(st, {int(max_items)}), {int(k)})"
            ).alias("__e")
        )
    )
    return combined.select(F.explode("__e").alias("__x")).select(
        F.col("__x.item").alias("item"), F.col("__x.count").alias("n")
    )


# --------------------------------------------------------------------------
# Theta sketches — idempotent like HLL, and they serve SET ALGEBRA: the
# per-(group, day) partials answer intersection / difference questions
# across groups at serve time (audience overlap over a stream) without
# re-scanning events.
# --------------------------------------------------------------------------


def theta_sketch_batch(
    df: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    key_col: str = "user_id",
    lgk: int = 14,
) -> DataFrame:
    """Per-(group, day) theta partials for one slice of events."""
    return df.groupBy(group_col, F.to_date(ts_col).alias("day")).agg(
        F.expr(f"theta_sketch_agg({key_col}, {int(lgk)})").alias("sk")
    )


def stream_theta_partials(
    events_stream: DataFrame,
    target_path: str,
    checkpoint: str,
    group_col: str = "event_type",
    ts_col: str = "ts",
    key_col: str = "user_id",
    lgk: int = 14,
) -> StreamingQuery:
    """Drain available input (Trigger.AvailableNow), folding each
    micro-batch's theta partials into the day-partitioned table at
    ``target_path`` (:func:`_fold_days`, idempotent: no ledger)."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_days(
            theta_sketch_batch(batch_df, group_col, ts_col, key_col, lgk),
            target_path,
            (group_col, "day"),
            [F.expr(f"theta_union_agg(sk, {int(lgk)})").alias("sk")],
        )

    return _drain(events_stream, checkpoint, fold)


def theta_overlap(
    spark: SparkSession,
    target_path: str,
    group_a: str,
    group_b: str,
    group_col: str = "event_type",
    lgk: int = 14,
) -> DataFrame:
    """Serve-time set algebra over the maintained partials: distinct
    keys in both / only-a / either of two groups — one row
    (n_both, n_only_a, n_any), no event rescan."""
    parts = read_state_or_schema(spark, target_path).filter(
        F.col(group_col).isin(group_a, group_b)
    )
    merged = parts.groupBy(group_col).agg(
        F.expr(f"theta_union_agg(sk, {int(lgk)})").alias("sk")
    )
    ab = merged.agg(
        F.max(F.when(F.col(group_col) == group_a, F.col("sk"))).alias("a"),
        F.max(F.when(F.col(group_col) == group_b, F.col("sk"))).alias("b"),
    )
    # An absent segment (no partials for that group at target_path)
    # pivots to a NULL sketch; theta_intersection/difference/union on
    # NULL would surface NULL counts a consumer could misread as data.
    # Treat a missing segment as the EMPTY SET explicitly: every
    # algebra result involving it is 0 / the other side's estimate.
    est_a = F.expr("CAST(theta_sketch_estimate(a) AS BIGINT)")
    est_b = F.expr("CAST(theta_sketch_estimate(b) AS BIGINT)")
    a_null, b_null = F.col("a").isNull(), F.col("b").isNull()
    return ab.select(
        F.when(a_null | b_null, F.lit(0).cast("bigint"))
        .otherwise(F.expr("CAST(theta_sketch_estimate(theta_intersection(a, b)) AS BIGINT)"))
        .alias("n_both"),
        F.when(a_null, F.lit(0).cast("bigint"))
        .when(b_null, est_a)
        .otherwise(F.expr("CAST(theta_sketch_estimate(theta_difference(a, b)) AS BIGINT)"))
        .alias("n_only_a"),
        F.when(a_null & b_null, F.lit(0).cast("bigint"))
        .when(a_null, est_b)
        .when(b_null, est_a)
        .otherwise(
            F.expr(f"CAST(theta_sketch_estimate(theta_union(a, b, {int(lgk)})) AS BIGINT)")
        )
        .alias("n_any"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch as relational state
# ---------------------------------------------------------------------------

def _cms_col(key: Column, row: Column, width: int) -> Column:
    """Counter column for (key, hash-row): 52-bit md5 integer of
    'row:key' mod width — identical in any engine with md5 (the house
    cross-engine hash contract)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", row.cast("string"), key.cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("long")
    return h % F.lit(int(width))


def cms_sketch(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Count-min sketch of a key column's frequencies as a RELATIONAL
    state table: ``(row, col, counter)`` with ``depth × width`` rows at
    most. Like the topk/HLL/theta family, the value of the sketch form
    is its algebra — two sketches over disjoint batches MERGE by
    summing counters on (row, col) (plain additive state → the batch-id
    ledger idempotence discipline, same class as frequent-items), and
    the estimate never under-counts.

    Build cost: one map-side ``depth×`` fan-out into a ≤ depth·width
    group aggregate — KB-sized state from any input scale.
    """
    fan = df.select(
        F.col(key_col).alias("__k"),
        F.explode(F.sequence(F.lit(0), F.lit(int(depth) - 1))).alias("row"),
    )
    return (
        fan.withColumn("col", _cms_col(F.col("__k"), F.col("row"), width))
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("counter"))
    )


def cms_estimate(
    sketch: DataFrame, probes: DataFrame, key_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Point-query the sketch for each probe key: the estimate is the
    MIN counter over the key's ``depth`` cells (missing cells → 0).
    Returns the probe frame plus ``est_n``. The sketch side is KB-sized
    — broadcast — so probing any number of keys is map-side.

    Probe contract: ``probes`` rows must be DISTINCT tuples (the
    output groups by all probe columns, so duplicate probe rows
    collapse to one row) and must not already contain columns named
    ``row``/``col``/``counter``/``__c``/``est_n`` (sketch internals)."""
    fan = probes.withColumn(
        "row", F.explode(F.sequence(F.lit(0), F.lit(int(depth) - 1)))
    ).withColumn("col", _cms_col(F.col(key_col), F.col("row"), width))
    probed = fan.join(F.broadcast(sketch), ["row", "col"], "left").withColumn(
        "__c", F.coalesce(F.col("counter"), F.lit(0))
    )
    group_cols = [c for c in probes.columns]
    return probed.groupBy(*group_cols).agg(F.min("__c").alias("est_n"))


def cms_batch(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Per-day CMS partial for one slice of rows:
    (day, row, col, counter) — ≤ depth·width rows per day."""
    fan = df.select(
        F.to_date(ts_col).alias("day"),
        F.col(key_col).alias("__k"),
        F.explode(F.sequence(F.lit(0), F.lit(int(depth) - 1))).alias("row"),
    )
    return (
        fan.withColumn("col", _cms_col(F.col("__k"), F.col("row"), width))
        .groupBy("day", "row", "col")
        .agg(F.count(F.lit(1)).alias("counter"))
    )


def fold_cms_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    depth: int = 4,
    width: int = 64,
) -> None:
    """Fold one micro-batch's CMS partials into the day-partitioned
    state at ``target_path``. Counters are ADDITIVE, so redelivery
    safety is the batch-id ledger. A day's whole ≤ depth·width cell
    block folds in one dynamic-partition overwrite, so the ledger is
    kept per day (carried on each cell row): a day that already folded
    this ``batch_id`` keeps every counter untouched."""
    _fold_days(
        cms_batch(batch_df, key_col, ts_col, depth, width),
        target_path,
        ("day", "row", "col"),
        [F.sum("counter").alias("counter")],
        batch_id,
        ledger_keys=("day",),
    )


def stream_cms_partials(
    stream: DataFrame,
    target_path: str,
    checkpoint: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    depth: int = 4,
    width: int = 64,
) -> StreamingQuery:
    """Drain available input, folding each micro-batch through
    :func:`fold_cms_batch`."""

    return _drain(stream, checkpoint, lambda df, batch_id: fold_cms_batch(
        df, batch_id, target_path, key_col, ts_col, depth, width
    ))


def serve_cms_sketch(spark: SparkSession, path: str) -> DataFrame:
    """Serving read: collapse the day partials into one queryable CMS
    state (row, col, counter) — counters sum across days (the merge IS
    addition), ready for ``cms_estimate``."""
    return (
        read_state_or_schema(spark, path)
        .groupBy("row", "col")
        .agg(F.sum("counter").alias("counter"))
    )

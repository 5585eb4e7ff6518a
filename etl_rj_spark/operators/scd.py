"""Merge/upsert emulation (CDC / SCD) without a table format.

Spark without Delta/Iceberg has no MERGE INTO; the equivalent
composition is union + keep-latest-per-key. ``merge_upsert`` is the
type-2-less upsert (latest version wins); pair it with the snapshot
sink's ``fecha_carga`` partitioning for point-in-time reads, which is
how the reference's warehouse answers "current state" questions
(MAX(FechaCarga) — SURVEY §1.1 snapshot-versioned facts).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from etl_rj_spark.operators.curation import keep_latest


def merge_upsert(
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    version_cols: Sequence[str],
) -> DataFrame:
    """Rows = existing ∪ updates, one survivor per key: the greatest by
    ``version_cols`` (must end in a unique tiebreaker; ties across the
    two sides would otherwise be nondeterministic). New keys insert,
    existing keys update — MERGE INTO semantics as a pure dataflow."""
    unioned = existing.unionByName(updates)
    return keep_latest(unioned, keys, version_cols)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Change-data-capture between two snapshots: one row per key that
    was added, removed, or changed (null-safe compare on
    ``compare_cols``), with the surviving values (new side for
    added/changed, old side for removed). The generalization of the
    reference docs' two-snapshot LAG comparison (Cartera PDF §8) from
    one balance column to whole-row diffs.

    One shuffle (the full-outer join on the keys); at scale both
    snapshots come from the same fecha_carga-partitioned sink, so the
    join is between two partition-pruned reads."""
    from pyspark.sql import functions as F

    o = old.select(
        *keys, *[F.col(c).alias(f"__o_{c}") for c in compare_cols]
    ).withColumn("__in_o", F.lit(1))
    n = new.select(
        *keys, *[F.col(c).alias(f"__n_{c}") for c in compare_cols]
    ).withColumn("__in_n", F.lit(1))
    j = o.join(n, list(keys), "full_outer")
    same = None
    for c in compare_cols:
        eq = F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        same = eq if same is None else (same & eq)
    change = (
        F.when(F.col("__in_o").isNull(), F.lit("added"))
        .when(F.col("__in_n").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    out_vals = [
        F.coalesce(F.col(f"__n_{c}"), F.col(f"__o_{c}")).alias(c) for c in compare_cols
    ]
    return (
        j.select(*keys, change.alias("change_type"), *out_vals)
        .filter(F.col("change_type") != "unchanged")
    )


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
    effective_col: str = "effective_date",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Slowly-Changing-Dimension **Type 2**: apply one change batch to
    a validity-interval history table (the piece ``merge_upsert``
    deliberately doesn't do — it keeps only the latest version).

    ``dim`` carries (keys, compare_cols, valid_from, valid_to) with
    ``valid_to IS NULL`` marking each key's open row. For every change
    whose ``compare_cols`` differ (null-safe) from the key's open row —
    or whose key is new — the open row is closed at the change's
    ``effective_col`` and a fresh open row inserted; no-op changes
    leave the history untouched. One effective date per key per batch
    (assert upstream); fold repeated batches for a change stream.

    Monotonicity guard: a change whose effective date is ≤ the open
    row's ``valid_from`` is STALE (a late or redelivered event from
    before the current interval opened) and is ignored — without this,
    replaying an old change against a newer open row would "close" it
    backwards in time. The guard is what makes redelivering an entire
    change stream a no-op.

    Shape: ONE full-outer join of the history with the batch on the
    keys, with ``valid_to IS NULL`` in the join condition — closed rows
    ride through unmatched, each change meets at most its key's open
    row — then one explode of at most two output rows per joined row
    (the history row, closed or not, and a fresh open row). Each input
    appears once in the plan, so a fold of k batches grows the plan
    linearly in k; closed history takes part in the one shuffle. For a
    long closed history, :func:`scd2_apply_multi` applies a batch of
    many dates in one call and keeps closed rows out of the shuffle.
    """
    from pyspark.sql import functions as F

    key_list = list(keys)
    vt_type = dim.schema[valid_to].dataType
    vf_type = dim.schema[valid_from].dataType
    ch = changes.select(
        *[F.col(c).alias(f"__c_{c}") for c in [*key_list, *compare_cols]],
        F.col(effective_col).alias("__eff"),
    )
    cond = F.col(valid_to).isNull()
    for k in key_list:
        cond = cond & (F.col(k) == F.col(f"__c_{k}"))
    j = dim.withColumn("__in_d", F.lit(True)).join(ch, cond, "full_outer")

    in_dim = F.col("__in_d").isNotNull()
    is_open = in_dim & F.col(valid_to).isNull()
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(c).eqNullSafe(F.col(f"__c_{c}"))
    has_change = F.col("__eff").isNotNull()
    stale = F.coalesce(F.col("__eff") <= F.col(valid_from), F.lit(False))
    real_change = has_change & differs & ~stale
    # side 0: the history row as it was, or closed by a real
    # (forward-in-time) change; side 1: a fresh open row for a changed
    # or brand-new key. __eff casts to the dim's own valid_to/valid_from
    # types (the scd2_apply_multi rule): a TIMESTAMP effective_date
    # against a DATE-typed history would otherwise silently widen the
    # output schema and break the write-back
    close = is_open & real_change
    sides = F.array_compact(F.array(
        F.when(in_dim, F.lit(0)),
        F.when(has_change & (~is_open | real_change), F.lit(1)),
    ))

    def pick(c: str):
        if c == valid_to:
            old = F.when(close, F.col("__eff").cast(vt_type)).otherwise(F.col(c))
            new = F.lit(None).cast(vt_type)
        elif c == valid_from:
            old, new = F.col(c), F.col("__eff").cast(vf_type)
        else:
            old, new = F.col(c), F.col(f"__c_{c}")
        return F.when(F.col("__side") == 0, old).otherwise(new).alias(c)

    return j.withColumn("__side", F.explode(sides)).select(
        *[pick(c) for c in dim.columns]
    )


def scd2_apply_multi(
    dim: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
    effective_col: str = "effective_date",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """:func:`scd2_apply` generalized to a batch carrying MANY effective
    dates per key, folded in ONE window pass instead of one
    ``scd2_apply`` layer per distinct date (a backfill batch spanning
    years would otherwise build an O(dates)-deep plan on the driver —
    VERDICT r5 #4).

    Semantics match folding ``scd2_apply`` over the batch's distinct
    effective dates in ascending order, assuming ≤1 change per
    (key, effective date) — assert upstream, as the streaming fold does:

    - stale guard: changes at or before the open row's ``valid_from``
      are ignored;
    - no-op collapse: a change equal (null-safe) to the key's previous
      SURVIVING state is dropped. One ``lag`` comparison suffices: a
      dropped row is value-equal to its predecessor by construction,
      so equality to the immediate prior row is inductively equality
      to the surviving prior state;
    - interval build: each surviving row closes at the NEXT surviving
      row's effective date (``lead``); the last stays open.

    Scale: the open slice and the change batch shuffle ONCE on the
    keys; all three window passes share that partitioning (no extra
    Exchange — plan depth is independent of how many effective dates
    the batch spans). Closed history passes through untouched.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    key_list = list(keys)
    open_rows = dim.filter(F.col(valid_to).isNull())
    closed_rows = dim.filter(F.col(valid_to).isNotNull())
    vt_type = dim.schema[valid_to].dataType

    u = open_rows.select(
        *key_list, *compare_cols,
        F.col(valid_from).alias("__eff"),
        F.lit(0).alias("__is_change"),
    ).unionByName(
        # NULL effective dates are ignored, exactly as scd2_apply's
        # has_change = __eff.isNotNull() treats them as no-change —
        # without this filter a null-dated change on a NEW key would
        # sort first (nulls first) and open a bogus NULL-valid_from row
        changes.filter(F.col(effective_col).isNotNull()).select(
            *key_list, *compare_cols,
            F.col(effective_col).alias("__eff"),
            F.lit(1).alias("__is_change"),
        )
    )

    wk = Window.partitionBy(*key_list)
    open_vf = F.max(F.when(F.col("__is_change") == 0, F.col("__eff"))).over(wk)
    live = u.withColumn("__open_vf", open_vf).filter(
        (F.col("__is_change") == 0) | (F.col("__eff") > F.col("__open_vf"))
        | F.col("__open_vf").isNull()
    )

    wo = Window.partitionBy(*key_list).orderBy("__eff", "__is_change")
    prev_eff = F.lag("__eff").over(wo)
    same_as_prev = F.lit(True)
    for c in compare_cols:
        same_as_prev = same_as_prev & F.col(c).eqNullSafe(F.lag(c).over(wo))
    survivors = live.withColumn(
        "__keep", prev_eff.isNull() | ~same_as_prev
    ).filter(F.col("__keep"))

    return closed_rows.unionByName(
        survivors.select(
            *key_list, *compare_cols,
            F.col("__eff").alias(valid_from),
            F.lead("__eff").over(wo).cast(vt_type).alias(valid_to),
        ).select(dim.columns)
    )


def cdc_apply_log(
    base: DataFrame,
    log: DataFrame,
    key_cols: list[str],
    seq_col: str,
    op_col: str,
    value_col: str,
) -> DataFrame:
    """Apply a change-data-capture operation log to a base snapshot:
    per key the HIGHEST-``seq_col`` log row wins — ``'D'`` deletes the
    key, any other op upserts ``value_col``; keys the log never touches
    keep their base value (version 0). The merge-with-deletes form
    ``merge_upsert`` cannot express.

    ONE window pass picks each key's last op (WindowGroupLimit trims
    map-side), then a single full-outer join against the base — both
    sides shuffle on the key once. Returns (key..., ``value_col``,
    ``version`` = applied seq or 0) with deleted keys absent.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # seq ties break by value (then op) — rows tying on all three are
    # interchangeable, so the apply stays deterministic even on logs
    # whose sequence column is not a strict total order
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(seq_col), F.desc(value_col), F.desc(op_col)
    )
    last = (
        log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *[F.col(k).alias(f"__k_{k}") for k in key_cols],
            F.col(op_col).alias("__op"),
            F.col(seq_col).alias("__seq"),
            F.col(value_col).alias("__new"),
        )
    )
    cond = None
    for k in key_cols:
        c = base[k] == F.col(f"__k_{k}")
        cond = c if cond is None else cond & c
    joined = base.join(last, cond, "full_outer")
    return (
        joined.filter((F.col("__op").isNull()) | (F.col("__op") != "D"))
        .select(
            *[
                F.coalesce(base[k], F.col(f"__k_{k}")).alias(k)
                for k in key_cols
            ],
            F.when(F.col("__op").isNull(), F.col(value_col))
            .otherwise(F.col("__new"))
            .alias(value_col),
            F.coalesce(F.col("__seq"), F.lit(0)).cast("long").alias("version"),
        )
    )

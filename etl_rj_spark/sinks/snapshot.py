"""K2 — snapshot append: stamp every row with the load date and append
the full batch (cartera.py:179,185-196; pending_orders.py:167,174).

The sink table is partitioned by the snapshot column, so the
analysis layer's latest-snapshot filter (A4) becomes partition
pruning, and each day's load is one new partition directory — at
100 TB this is the difference between scanning one day and scanning
the table.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_rj_spark.streaming.fsutil import (  # noqa: F401 (_sidecar_needs_write: pinned by tests)
    _sidecar_needs_write,
    ensure_state_schema,
    read_state_or_schema,
)


def append_snapshot(
    df: DataFrame,
    path: str,
    snapshot_col: str = "fecha_carga",
    snapshot_date: datetime.date | None = None,
) -> DataFrame:
    """Stamp ``snapshot_col`` (today unless given) and append, partitioned
    by the snapshot column. Returns the stamped frame (lazily reusable)."""
    stamp = F.lit(snapshot_date) if snapshot_date is not None else F.current_date()
    stamped = df.withColumn(snapshot_col, stamp.cast("date"))
    stamped.write.mode("append").partitionBy(snapshot_col).parquet(path)
    # a PARTITIONED write of a 0-row batch lands zero files; the
    # sidecar keeps a table whose every snapshot was empty readable
    ensure_state_schema(stamped, path)
    return stamped


def read_latest_snapshot(spark: SparkSession, path: str, snapshot_col: str = "fecha_carga") -> DataFrame:
    """A4 over a partitioned snapshot table with static partition
    pruning: the MAX over the partition column is resolved first — a
    scan that reads partition-directory values only, no data files —
    then the read filters on the literal, so the scan touches exactly
    one partition (PartitionFilters in the plan).

    For non-partitioned inputs use ``operators.aggregates.latest_snapshot``
    (the collect-free broadcast-max join).

    A table whose snapshots were all EMPTY (zero partition
    directories) reads back as a 0-row frame with the schema preserved
    by ``append_snapshot``'s ``_schema`` sidecar, not an inference
    error (``streaming/fsutil.read_state_or_schema``)."""
    df = read_state_or_schema(spark, path)
    latest = df.select(F.max(snapshot_col).alias("m")).first()[0]
    if latest is None:
        return df.limit(0)
    return df.filter(F.col(snapshot_col) == F.lit(latest))


def expire_snapshots(
    spark: SparkSession,
    path: str,
    keep: int,
    snapshot_col: str = "fecha_carga",
) -> list[str]:
    """Retention for the snapshot table: drop all but the newest
    ``keep`` snapshot partitions (directory deletes — no data rewrite,
    the partitioned layout makes retention a metadata-sized
    operation). Returns the dropped partition values; refuses
    ``keep < 1`` so the latest snapshot can never be expired.

    Single-writer posture like ``sinks/compact.py``: run from the
    orchestrator, never concurrently with a writer appending a new
    snapshot."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    prefix = f"{snapshot_col}="
    names = [
        st.getPath().getName()
        for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    ]

    # TYPED newest-first ordering: lexicographic names only order
    # correctly for fixed-width values (ISO dates); an int version
    # domain sorts '10' < '9' and would expire the NEWEST snapshot.
    # Parse every value as ISO date, else int, else fall back to
    # string — but only if ALL values agree on one interpretation.
    def key_fns():
        yield lambda v: datetime.date.fromisoformat(v)
        yield int
        yield str

    values = [n[len(prefix):] for n in names]
    for fn in key_fns():
        try:
            keyed = sorted(zip((fn(v) for v in values), names))
            break
        except ValueError:
            continue
    parts = [n for _k, n in keyed]
    drop = parts[:-keep] if keep < len(parts) else []
    for name in drop:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/{name}"), True)
    return [d[len(prefix):] for d in drop]

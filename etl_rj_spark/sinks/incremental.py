"""K1 — incremental batched append with anti-join dedup
(ventas_totales.py:223-262, wor2.py:236-245).

The reference pulls the fact table's key projection to the client,
builds an in-memory set, filters, then appends in 1,000-row
transactional batches. Here: the key projection is a column-pruned
scan of the sink table, the set-membership test is a ``left_anti``
join (broadcast or sort-merge per AQE), and the append is a parquet
(or JDBC) write.

Atomicity note (SURVEY §4): Spark JDBC commits per partition — the
reference's single-transaction semantics need ``numPartitions=1``
(small batches) or a staging-table commit; parquet appends are
atomic per-file with the default committer, and re-runs are
idempotent anyway because of the anti-join (Ventas PDF §9).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from etl_rj_spark.operators.dedup import anti_join_new_rows
from etl_rj_spark.streaming.fsutil import path_exists


def append_incremental(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: Sequence[str],
    on_null_key: str = "error",
) -> int:
    """Append only rows whose key tuple is not already in the sink.
    Returns the number of rows inserted (0 on re-run — the reference's
    recovery invariant)."""
    if path_exists(spark, path):
        existing = spark.read.parquet(path).select(*keys)
        new = anti_join_new_rows(df, existing, keys, on_null_key=on_null_key)
    else:
        new = df
    # localCheckpoint, not cache(): `new`'s lineage READS the same path
    # this function appends to. Cached blocks are not durable — a lost
    # executor would recompute from lineage mid-write, re-scanning a
    # path that now contains partially-appended files, so the anti-join
    # would re-evaluate against a moving target and silently drop rows.
    # The checkpoint truly severs the lineage before the write starts.
    new = new.localCheckpoint()
    inserted = new.count()
    # first-ever load of an EMPTY batch still materializes the sink
    # (a plain parquet write of a 0-row frame keeps the schema), so a
    # later read/append sees a valid empty table instead of
    # PATH_NOT_FOUND — a source whose filter matched nothing is a
    # normal day, not a broken sink (r10 degenerate-input sweep fix)
    if inserted or not path_exists(spark, path):
        new.write.mode("append").parquet(path)
    return inserted


def append_incremental_jdbc_atomic(
    df: DataFrame,
    url: str,
    table: str,
    keys: Sequence[str],
    batchsize: int = 1000,
    properties: dict | None = None,
    staging_table: str | None = None,
    on_null_key: str = "error",
) -> int:
    """K1 with TRUE single-transaction publish semantics — the SURVEY
    §4 staging-table commit protocol, matching the reference's
    one-transaction rollback (ventas_totales.py:227-262) instead of
    approximating it with idempotent retry:

    1. anti-join the batch against the target's key projection
       (pushed into the source query, as ``append_incremental_jdbc``),
    2. Spark writes the surviving rows IN PARALLEL into a disposable
       staging table — per-partition JDBC commits are fine there
       because staging is invisible to readers,
    3. publish with one driver-side ``INSERT INTO target (...)
       SELECT ... FROM staging`` — a single SQL statement in a single
       transaction, executed server-side (no data moves through the
       driver): a mid-publish failure (constraint violation, lost
       connection, kill -9) rolls back to a byte-identical target,
    4. drop staging (always).

    Returns the number of rows published (0 on re-run). Scale note:
    the parallel write does the data movement; the publish is a
    server-local table-to-table statement — the two-phase shape every
    warehouse loader uses precisely because it keeps the atomic step
    off the ingest path.

    Identifier case: Spark's JDBC writer creates the staging table
    with QUOTED exact-case column names, so the publish SQL quotes
    them too (ANSI double quotes — Derby/Postgres/Oracle). The
    target's column names must therefore match ``df.columns``
    exactly as the target stores them (an unquoted-DDL target on
    Derby/Oracle stores UPPERCASE — use uppercase DataFrame columns
    for those, as the reference's schemas do)."""
    spark = df.sparkSession
    props = dict(properties or {})
    existing = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("query", f"SELECT {', '.join(_qid(k) for k in keys)} FROM {table}")
        .options(**props)
        .load()
    )
    new = anti_join_new_rows(df, existing, keys, on_null_key=on_null_key)
    # Unique default staging name: concurrent appends must not
    # overwrite each other's STAGED rows mid-flight. Two caveats the
    # salt does NOT fix: (a) a crash between staging write and the
    # finally-DROP orphans that salted table — single-writer
    # deployments should pass a fixed ``staging_table`` (whose
    # overwrite self-heals leftovers) or sweep {table}_STG_* tables;
    # (b) concurrent appends with OVERLAPPING batches still race the
    # anti-join (both read `existing` before either publishes) — on a
    # PK-less target that double-inserts; serialize overlapping
    # writers or put a key constraint on the target.
    return _publish_staged(
        new, url, table, batchsize=batchsize, properties=props,
        staging_table=staging_table,
    )


def upsert_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    keys: Sequence[str],
    batchsize: int = 1000,
    properties: dict | None = None,
    staging_table: str | None = None,
    staging_column_types: str | None = None,
) -> int:
    """K1-upsert — the MERGE path the insert-only loaders don't cover:
    stage the batch in parallel (same two-phase shape as
    :func:`append_incremental_jdbc_atomic`), then publish with ONE
    server-side SQL:2003 ``MERGE INTO target USING staging ON keys``
    — matched rows UPDATE their non-key columns, unmatched rows
    INSERT — in a single transaction (mid-merge failure rolls back to
    a byte-identical target). Re-delivering the same batch is
    idempotent BY VALUE: matched rows update to the values they
    already hold, nothing inserts twice.

    The reference's loaders are insert-only (anti-join append,
    ventas_totales.py:205-209); a corrected-record reload there means
    delete-then-reload. MERGE is the operation that makes a corrected
    batch a one-step reload, so it rides the same staging protocol.

    Contract: the batch must be key-UNIQUE (SQL MERGE raises a
    cardinality violation when one target row matches twice — dedup
    with ``keep_latest`` first); NULL keys never match (SQL equality)
    and would insert on every redelivery, so they are refused here,
    like ``on_null_key='error'`` on the append paths. Returns the
    server-reported affected-row count. Scale: data movement is the
    parallel staged write; the MERGE is server-local.

    ``staging_column_types`` (Spark's ``createTableColumnTypes``
    string, e.g. ``"NAME VARCHAR(64)"``) pins staging DDL types for
    columns where Spark's JDBC default is MERGE-hostile: Spark maps
    StringType to CLOB on Derby, and Derby's MERGE fails restoring
    CLOB source values (UTFDataFormatException) — pass VARCHAR widths
    for every string column the MERGE touches."""
    null_key = " OR ".join(f"{k} IS NULL" for k in keys)
    if df.filter(null_key).limit(1).count() > 0:
        raise ValueError(
            f"upsert_jdbc into {table}: NULL in key column(s) {list(keys)} — "
            "a NULL key never MERGE-matches and would re-insert on every "
            "redelivery; fill or drop those rows first"
        )
    cols = df.columns
    non_keys = [c for c in cols if c not in keys]

    def merge_sql(stg: str) -> str:
        on = " AND ".join(f"t.{_qid(k)} = s.{_qid(k)}" for k in keys)
        ins_cols = ", ".join(_qid(c) for c in cols)
        ins_vals = ", ".join(f"s.{_qid(c)}" for c in cols)
        stmt = f"MERGE INTO {table} t USING {stg} s ON ({on})"
        if non_keys:
            sets = ", ".join(f"{_qid(c)} = s.{_qid(c)}" for c in non_keys)
            stmt += f" WHEN MATCHED THEN UPDATE SET {sets}"
        return stmt + (
            f" WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
        )

    return _publish_staged(
        df, url, table, batchsize=batchsize, properties=properties,
        staging_table=staging_table, publish_sql=merge_sql,
        staging_column_types=staging_column_types,
    )


def _publish_staged(
    new: DataFrame,
    url: str,
    table: str,
    *,
    batchsize: int = 1000,
    properties: dict | None = None,
    staging_table: str | None = None,
    publish_sql=None,
    staging_column_types: str | None = None,
) -> int:
    """Stage ``new`` (already deduped) in parallel, publish with one
    server-side transaction, drop staging. The staged write keeps the
    frame's OWN partitioning — never coalesced — so the data movement
    scales with the cluster; only the table-to-table publish statement
    is serial, and it moves no rows through the driver. ``publish_sql``
    (staging-table name → SQL) overrides the default
    ``INSERT INTO target SELECT * FROM staging`` — the MERGE upsert
    rides this hook."""
    import uuid

    spark = new.sparkSession
    props = dict(properties or {})
    stg = staging_table or f"{table}_STG_{uuid.uuid4().hex[:8].upper()}"
    writer = (
        new.write.format("jdbc")
        .option("url", url)
        .option("dbtable", stg)
        .option("batchsize", batchsize)
        .options(**props)
        .mode("overwrite")
    )
    if staging_column_types:
        writer = writer.option("createTableColumnTypes", staging_column_types)
    writer.save()

    jvm = spark.sparkContext._jvm
    if "driver" in props:  # register the driver with DriverManager
        jvm.java.lang.Class.forName(props["driver"])
    jprops = jvm.java.util.Properties()
    for k, v in props.items():
        jprops.setProperty(k, v)
    cols = ", ".join(_qid(c) for c in new.columns)
    conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
    try:
        conn.setAutoCommit(False)
        st = conn.createStatement()
        try:
            n = st.executeUpdate(
                publish_sql(stg) if publish_sql is not None
                else f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {stg}"
            )
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            st.close()
    finally:
        try:
            cleanup = conn.createStatement()
            try:
                cleanup.executeUpdate(f"DROP TABLE {stg}")
                conn.commit()
            finally:
                cleanup.close()
        except Exception:  # noqa: BLE001 — staging leftovers are harmless
            pass
        conn.close()
    return int(n)


class JdbcBatchInsertError(RuntimeError):
    """A transactional JDBC batch failed; carries the source-row range
    so the operator can be pointed at the offending file lines — the
    reference's error handler does the same arithmetic to map a failed
    1,000-row batch back to CSV line numbers
    (ventas_totales.py:236-262, the ``+6`` skiprows offset)."""

    def __init__(self, table: str, row_idx_range: tuple[int, int],
                 source_lines: tuple[int, int], cause: Exception):
        self.table = table
        self.row_idx_range = row_idx_range
        self.source_lines = source_lines
        super().__init__(
            f"INSERT into {table} failed for batch _row_idx "
            f"{row_idx_range[0]}..{row_idx_range[1]} "
            f"(source file lines {source_lines[0]}-{source_lines[1]}): {cause}"
        )


def _qid(name: str) -> str:
    """ANSI-quote an identifier so exact-case column names created by
    Spark's JDBC writer (which quotes) resolve instead of being folded
    by the database (Derby/Oracle fold unquoted to UPPER, Postgres to
    lower)."""
    return '"' + name.replace('"', '""') + '"'


def append_incremental_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    keys: Sequence[str],
    batchsize: int = 1000,
    properties: dict | None = None,
    row_idx_col: str | None = None,
    source_line_offset: int = 0,
    atomic_threshold_rows: int = 100_000,
    on_null_key: str = "error",
) -> None:
    """JDBC variant of K1: key projection pushed into the source query
    (column pruning at the database), 1,000-row JDBC batches like the
    reference, single partition for single-transaction-per-connection
    semantics. Live-tested against embedded Derby
    (tests/test_jdbc.py): 100-key-overlap batch inserts only the new
    50; re-run inserts 0.

    With ``row_idx_col`` (the source-row index ``sources.trimmed_csv``
    attaches), surviving rows are written in batches of ``batchsize``
    (dense row_number batching — sparse post-anti-join indices never
    produce empty jobs), each its own transaction, and a failing batch
    raises :class:`JdbcBatchInsertError` naming the source file lines
    (``row_idx + source_line_offset`` — pass skiprows+2 for a trimmed
    CSV: junk lines + header line + 1-based). This is the reference's
    operator-facing error contract (ventas_totales.py:236-262); it is
    a deliberately driver-coordinated slow path, exactly as
    single-connection transactional JDBC ingest always is — leave
    ``row_idx_col=None`` for the bulk write.

    Scale routing (VERDICT r5 #5): the bulk path (``row_idx_col=None``)
    is single-partition for single-connection transaction semantics —
    correct for the reference's operational loads, a bottleneck for
    big ones. Surviving batches above ``atomic_threshold_rows`` are
    therefore routed through the staging-table protocol
    (:func:`append_incremental_jdbc_atomic`'s ``_publish_staged``):
    parallel multi-partition staging write + one server-side atomic
    publish — STRONGER transactionality than the single-connection
    path, at cluster bandwidth. Set ``atomic_threshold_rows=0`` to
    always stage, or a huge value to force the legacy shape."""
    spark = df.sparkSession
    existing = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("query", f"SELECT {', '.join(_qid(k) for k in keys)} FROM {table}")
        .options(**(properties or {}))
        .load()
    )
    new = anti_join_new_rows(df, existing, keys, on_null_key=on_null_key)

    def write(batch: DataFrame) -> None:
        (
            batch.coalesce(1)
            .write.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .option("batchsize", batchsize)
            .options(**(properties or {}))
            .mode("append")
            .save()
        )

    if row_idx_col is None:
        new = new.persist()  # count + write share the anti-join
        try:
            if new.count() > atomic_threshold_rows:
                _publish_staged(
                    new, url, table, batchsize=batchsize,
                    properties=properties,
                )
            else:
                write(new)
        finally:
            new.unpersist()
        return

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # Batch by SURVIVING rows, not raw index ranges: after the
    # anti-join _row_idx is sparse, and range-stepping lo..hi would
    # launch one job per range — most of them empty — with job count
    # scaling as (hi-lo)/batchsize instead of rows/batchsize.
    # row_number over the row-idx order gives dense batch ids, and each
    # row is written by the batch id ATTACHED to it — never by
    # re-filtering on the sparse index, where a tied row_idx split
    # across a batch boundary would be written twice (once per
    # neighboring [lo,hi] range).
    rn = F.row_number().over(Window.orderBy(F.col(row_idx_col)))
    new = new.withColumn(
        "__batch", ((rn - F.lit(1)) / batchsize).cast("long")
    ).persist()  # anti-join + batch assignment once, not once per batch
    try:
        # one small aggregate yields each batch's REAL index bounds, so
        # a failing batch reports the min/max of rows actually in it
        batch_bounds = (
            new.groupBy("__batch")
            .agg(F.min(row_idx_col).alias("lo"), F.max(row_idx_col).alias("hi"))
            .orderBy("__batch")
            .collect()
        )
        for b in batch_bounds:
            start, end = int(b["lo"]), int(b["hi"])
            batch = new.filter(F.col("__batch") == int(b["__batch"])).drop(
                "__batch", row_idx_col
            )
            try:
                write(batch)
            except Exception as ex:
                raise JdbcBatchInsertError(
                    table,
                    (start, end),
                    (start + source_line_offset, end + source_line_offset),
                    ex,
                ) from ex
    finally:
        new.unpersist()

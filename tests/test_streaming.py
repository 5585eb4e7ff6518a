"""Streaming surface tests: the windowed stream agg must equal its
batch twin on the same data (memory sink, drained synchronously), and
the AvailableNow snapshot stream must drain files exactly once."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from etl_rj_spark.sources.parquet import read_parquet_table
from etl_rj_spark.streaming.events import (
    read_event_stream,
    stream_snapshot_append,
    windowed_event_counts_stream,
)


@pytest.fixture()
def events_dir(spark, sf_dir, tmp_path):
    # copy the events parquet into a dir the file-source can treat as
    # a streaming input root
    d = tmp_path / "events_in"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-0.parquet")
    return str(d)


def test_windowed_stream_equals_batch(spark, sf_dir, events_dir, tmp_path):
    stream = read_event_stream(spark, events_dir)
    agg = windowed_event_counts_stream(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM win_out").collect()
    }

    batch = read_parquet_table(spark, f"{sf_dir}/events.parquet")
    expected = {
        (r.window_start, r.event_type): r.n_events
        for r in (
            batch.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
            .collect()
        )
    }
    assert got == expected


def test_stateful_sessionize_matches_batch(spark, sf_dir, events_dir, tmp_path):
    """Closed sessions emitted by the stateful streaming operator must
    equal the batch sessionization minus each user's trailing (still
    open) session."""
    from etl_rj_spark.operators.windows import sessionize
    from etl_rj_spark.streaming.stateful import streaming_sessionize

    stream = read_event_stream(spark, events_dir)
    q = (
        streaming_sessionize(stream, gap_seconds=1800)
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.user_id, r.session_start): (r.n_events, round(r.value_sum, 6))
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }

    batch = read_parquet_table(spark, f"{sf_dir}/events.parquet")
    sessions = (
        sessionize(batch.select("user_id", "ts", "event_id", "value"),
                   "user_id", "ts", 1800, tiebreak_col="event_id")
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count("*").alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
    )
    # drop each user's last session (open in the stream)
    from pyspark.sql import Window

    last = Window.partitionBy("user_id")
    expected_rows = (
        sessions.withColumn("_max_sid", F.max("session_id").over(last))
        .filter(F.col("session_id") < F.col("_max_sid"))
        .collect()
    )
    expected = {
        (r.user_id, r.session_start): (r.n_events, round(r.value_sum, 6))
        for r in expected_rows
    }
    assert got == expected
    assert len(got) > 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """Across two microbatches, a row older than the advanced watermark
    must be dropped from the append-mode windowed aggregation."""
    import datetime

    from etl_rj_spark.streaming.events import windowed_event_counts_stream

    src = tmp_path / "late_in"
    src.mkdir()
    ts = lambda s: int(datetime.datetime.fromisoformat(s + "+00:00").timestamp() * 1e9)  # noqa: E731
    cols = "event_id long, ts long, user_id long, event_type string, value double, props string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(src / name))

    # batch 1: events far enough ahead to advance the watermark past 10:00
    write_batch("b1", [(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0, "{}"),
                       (2, ts("2024-01-01 11:00:00"), 1, "click", 1.0, "{}")])

    stream = read_event_stream(spark, str(src / "*"))
    agg = windowed_event_counts_stream(stream, watermark="10 minutes", window="5 minutes")
    q = (
        agg.writeStream.format("memory").queryName("late_out").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_late")).start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one on-time row and one very late row (before the
        # watermark, whose window already closed)
        write_batch("b2", [(3, ts("2024-01-01 11:30:00"), 1, "click", 1.0, "{}"),
                           (4, ts("2024-01-01 10:00:01"), 1, "click", 99.0, "{}")])
        q.processAllAvailable()
        # batch 3: push event time forward so open windows finalize
        write_batch("b3", [(5, ts("2024-01-01 13:00:00"), 1, "click", 1.0, "{}")])
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.window_start.isoformat(), r.n_events)
        for r in spark.sql("SELECT * FROM late_out").collect()
    }
    # the 10:00 window emitted exactly 1 event — the late row (event 4)
    # fell behind the watermark and was dropped, not re-counted
    assert ("2024-01-01T10:00:00", 1) in got
    assert ("2024-01-01T10:00:00", 2) not in got


def test_snapshot_stream_drains_once(spark, events_dir, tmp_path):
    out = str(tmp_path / "snap_out")
    ck = str(tmp_path / "ck2")
    stream = read_event_stream(spark, events_dir)

    q = stream_snapshot_append(stream, out, ck)
    q.awaitTermination()
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    # second AvailableNow run with the same checkpoint: no new files →
    # appends nothing (exactly-once file tracking)
    q2 = stream_snapshot_append(read_event_stream(spark, events_dir), out, ck)
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == n1


def test_stream_stream_join_equals_batch(spark, sf_dir, events_dir, tmp_path):
    from etl_rj_spark.streaming.events import view_purchase_stream_join

    stream = read_event_stream(spark, events_dir)
    joined = view_purchase_stream_join(stream, max_gap_minutes=30)
    q = (
        joined.writeStream.format("memory").queryName("ssj_out").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ssj")).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.user_id, r.view_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    }

    batch = read_parquet_table(spark, f"{sf_dir}/events.parquet")
    v = batch.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    p = batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    expected = {
        (r.user_id, r.view_id, r.purchase_id)
        for r in v.join(
            p,
            F.expr(
                "user_id = p_user AND purchase_ts >= view_ts "
                "AND purchase_ts <= view_ts + INTERVAL 30 MINUTES"
            ),
        ).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_incremental_stream_dedup_append(spark, sf_dir, tmp_path):
    """foreachBatch incremental sink: overlapping input files append
    only unseen keys; a fresh-checkpoint re-delivery of everything
    appends nothing (the anti-join makes redelivery idempotent)."""
    import pyspark.sql.types as T

    from etl_rj_spark.streaming.incremental import stream_incremental_append

    orders = read_parquet_table(spark, f"{sf_dir}/orders.parquet")
    schema = orders.schema
    ink = str(tmp_path / "orders_in")
    out = str(tmp_path / "orders_fact")

    def drop_file(lo, hi, name):
        orders.filter(
            (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)
        ).coalesce(1).write.mode("append").parquet(ink + "/" + name)

    drop_file(0, 100, "a")
    drop_file(50, 150, "b")  # 50-key overlap with a

    def stream():
        return spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(ink)

    q = stream_incremental_append(
        stream(), out, ["o_orderkey"], str(tmp_path / "ck_a")
    )
    q.awaitTermination()
    assert spark.read.parquet(out).count() == 150

    drop_file(100, 200, "c")  # 50 new keys
    q2 = stream_incremental_append(
        stream(), out, ["o_orderkey"], str(tmp_path / "ck_a")
    )
    q2.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 200
    assert got.select("o_orderkey").distinct().count() == 200

    # full redelivery under a NEW checkpoint: nothing is new
    q3 = stream_incremental_append(
        stream(), out, ["o_orderkey"], str(tmp_path / "ck_b")
    )
    q3.awaitTermination()
    assert spark.read.parquet(out).count() == 200


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: dropDuplicatesWithinWatermark removes
    key repeats across microbatches while the key is inside the
    watermark window — the streaming twin of exact_dedup_docs, with
    state bounded by the watermark (SCALE.md §5)."""
    import pyspark.sql.types as T

    ink = str(tmp_path / "dedup_in")
    out = str(tmp_path / "dedup_out")
    ck = str(tmp_path / "ck")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.StringType()),
        ]
    )
    import datetime

    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            f"{ink}/{name}"
        )

    def drain():
        q = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "1")
            .parquet(ink)
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["k"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r.k for r in spark.read.parquet(out).collect())

    # batch a: duplicate key 1 within one drain → emitted once
    write_batch("a", [(1, t0, "x"), (2, t0, "y"), (1, t0, "x-dup")])
    assert drain() == [1, 2]

    # batch b: key 1 again (state kept across the restart via the
    # checkpoint) plus a genuinely new key — only key 3 is added
    write_batch("b", [(1, t0 + datetime.timedelta(minutes=1), "x-again"), (3, t0, "z")])
    assert drain() == [1, 2, 3]


def test_stream_atomic_jdbc_publish(spark, sf_dir, tmp_path):
    """Streaming K1 atomic twin against live Derby: overlapping input
    files publish only unseen keys (each micro-batch one transaction);
    a fresh-checkpoint redelivery of everything publishes nothing."""
    from etl_rj_spark.streaming.incremental import (
        stream_incremental_append_jdbc_atomic,
    )

    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    url = f"jdbc:derby:{tmp_path}/adb;create=true"
    orders = read_parquet_table(spark, f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("K1"), F.col("o_totalprice").alias("PRICE")
    )
    # seed the table shape (0 rows) so the key projection always reads
    orders.limit(0).write.format("jdbc").option("url", url).option(
        "dbtable", "FACT_AT"
    ).options(**props).mode("overwrite").save()

    ink = str(tmp_path / "in")

    def drop_file(lo, hi, name):
        orders.filter((F.col("K1") >= lo) & (F.col("K1") < hi)).coalesce(
            1
        ).write.mode("append").parquet(ink + "/" + name)

    drop_file(0, 100, "a")
    drop_file(50, 150, "b")  # overlap with a

    def stream():
        return spark.readStream.schema(orders.schema).option(
            "recursiveFileLookup", "true"
        ).parquet(ink)

    q = stream_incremental_append_jdbc_atomic(
        stream(), url, "FACT_AT", ["K1"], str(tmp_path / "ck_a"), properties=props
    )
    q.awaitTermination()

    def table_count():
        return (
            spark.read.format("jdbc").option("url", url)
            .option("dbtable", "FACT_AT").options(**props).load().count()
        )

    assert table_count() == 150

    # full redelivery under a NEW checkpoint: anti-join strips all
    q2 = stream_incremental_append_jdbc_atomic(
        stream(), url, "FACT_AT", ["K1"], str(tmp_path / "ck_b"), properties=props
    )
    q2.awaitTermination()
    assert table_count() == 150


def test_stream_hll_partials_match_batch_and_idempotent(spark, sf_dir, tmp_path):
    """Streaming sketch maintenance: partials folded in per micro-batch
    must roll up to EXACTLY the single-pass batch estimate (register-max
    merge is lossless), and full redelivery under a fresh checkpoint
    must leave the table value-identical (union idempotence — no
    anti-join needed for sketch state)."""
    from etl_rj_spark.streaming.sketches import (
        estimate_partials,
        stream_hll_partials,
    )

    ev = read_parquet_table(spark, f"{sf_dir}/events.parquet")
    ink = str(tmp_path / "in")
    # 3 input files RANGE-partitioned on ts -> 3 micro-batches covering
    # (near-)disjoint day sets, so a static overwrite-all (instead of
    # dynamic per-day overwrite) would WIPE earlier batches' partials
    # and fail the equality below
    ev.repartitionByRange(3, "ts").write.parquet(ink)
    schema = spark.read.parquet(ink).schema
    target = str(tmp_path / "partials")

    def stream():
        return spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(ink)

    q = stream_hll_partials(stream(), target, str(tmp_path / "ck1"))
    q.awaitTermination()

    got = {
        r.event_type: r.approx_distinct
        for r in estimate_partials(spark, target).collect()
    }
    want = {
        r.event_type: r.est
        for r in ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(12))
            ).alias("est")
        )
        .collect()
    }
    assert got == want
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, est in got.items():
        assert abs(est - exact[k]) <= 0.05 * exact[k]

    # full redelivery, fresh checkpoint: blind re-merge converges
    q2 = stream_hll_partials(stream(), target, str(tmp_path / "ck2"))
    q2.awaitTermination()
    assert {
        r.event_type: r.approx_distinct
        for r in estimate_partials(spark, target).collect()
    } == want


def test_stream_hll_partials_null_day_partition_survives(spark, tmp_path):
    """A null-ts batch lands in the null-day partition; the fold must
    READ the existing null-day partial before dynamically overwriting
    it (Column.isin never matches NULL — regression guard), so distinct
    users accumulate across null-day batches instead of being wiped."""
    from etl_rj_spark.streaming.sketches import estimate_partials, stream_hll_partials

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    ink, target = str(tmp_path / "in"), str(tmp_path / "partials")
    a = spark.createDataFrame(
        [(i, None, i, "x") for i in range(1, 6)], schema
    )
    b = spark.createDataFrame(
        [(i, None, i, "x") for i in range(6, 9)], schema
    )
    a.coalesce(1).write.mode("append").parquet(ink)
    b.coalesce(1).write.mode("append").parquet(ink)

    stream = spark.readStream.schema(a.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(ink)
    stream_hll_partials(stream, target, str(tmp_path / "ck")).awaitTermination()

    [row] = estimate_partials(spark, target).collect()
    assert row.event_type == "x"
    # 8 distinct users across the two null-day batches; HLL is exact
    # at this cardinality
    assert row.approx_distinct == 8.0


def test_stream_stream_left_outer_emits_null_after_watermark(spark, tmp_path):
    """An unmatched view must emit (view, NULL purchase) only AFTER the
    watermark passes view_ts + gap; a matched view emits its purchase."""
    import datetime

    from etl_rj_spark.streaming.events import view_purchase_stream_join_outer

    src = tmp_path / "outer_in"
    src.mkdir()
    ts = lambda s: int(datetime.datetime.fromisoformat(s + "+00:00").timestamp() * 1e9)  # noqa: E731
    cols = "event_id long, ts long, user_id long, event_type string, value double, props string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(src / name))

    # batch 1: one view that WILL match, one that won't
    write_batch("b1", [(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0, "{}"),
                       (2, ts("2024-01-01 10:00:00"), 2, "view", 1.0, "{}"),
                       (3, ts("2024-01-01 10:10:00"), 1, "purchase", 5.0, "{}")])

    stream = read_event_stream(spark, str(src / "*"))
    joined = view_purchase_stream_join_outer(stream, max_gap_minutes=30,
                                             watermark="10 minutes")
    q = (
        joined.writeStream.format("memory").queryName("outer_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_outer")).start()
    )
    try:
        q.processAllAvailable()
        mid = {(r.view_id, r.purchase_id)
               for r in spark.sql("SELECT * FROM outer_out").collect()}
        # user 2's view cannot have emitted a null row yet: the
        # watermark has not passed view_ts + gap
        assert (2, None) not in mid
        # batch 2: advance event time far past the interval + watermark
        write_batch("b2", [(9, ts("2024-01-01 13:00:00"), 9, "view", 1.0, "{}")])
        q.processAllAvailable()
        # one more batch so the state store finalizes evictions
        write_batch("b3", [(10, ts("2024-01-01 15:00:00"), 9, "purchase", 1.0, "{}")])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r.view_id, r.purchase_id)
           for r in spark.sql("SELECT * FROM outer_out").collect()}
    assert (1, 3) in got          # matched inside the gap
    assert (2, None) in got       # unmatched: null row after eviction


def test_stream_enrich_refreshes_dim_between_drains(spark, tmp_path):
    """The per-batch dim re-read must pick up a dimension UPDATE
    between drains sharing one checkpoint: rows ingested after the
    update are enriched with the new value."""
    from etl_rj_spark.streaming.events import stream_enrich_with_dim

    ink, dimp = str(tmp_path / "in"), str(tmp_path / "dim")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    cols = "event_id long, user_id long"
    spark.createDataFrame([(1, 7)], cols).coalesce(1).write.mode("append").parquet(ink)
    spark.createDataFrame([(7, "old")], "user_id long, zone string").write.mode(
        "overwrite"
    ).parquet(dimp)

    schema = spark.read.parquet(ink).schema
    def drain():
        stream = spark.readStream.schema(schema).parquet(ink)
        stream_enrich_with_dim(stream, dimp, out, ck).awaitTermination()

    drain()
    # dim UPDATE + a second event, then a second drain on the same ck
    spark.createDataFrame([(7, "new")], "user_id long, zone string").write.mode(
        "overwrite"
    ).parquet(dimp)
    spark.createDataFrame([(2, 7)], cols).coalesce(1).write.mode("append").parquet(ink)
    drain()

    got = {(r.event_id, r.zone) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "old"), (2, "new")}

    # layout guard (ADVICE r9): a checkpointed stream resumed over a
    # PRE-r9 flat (non-partitioned) output directory must refuse to
    # start instead of mixing layouts under readers
    import pytest

    legacy = tmp_path / "out" / "part-00000-legacy.parquet"
    legacy.write_bytes(b"")
    try:
        stream = spark.readStream.schema(schema).parquet(ink)
        with pytest.raises(ValueError, match="legacy"):
            stream_enrich_with_dim(stream, dimp, out, ck)
    finally:
        legacy.unlink()


def test_stream_scd2_history_folds_and_redelivery_is_noop(spark, tmp_path):
    """Streaming SCD2: two change drains build the interval history the
    batch operator would (fold equality), a mixed-date batch applies in
    effective order, and full redelivery under a fresh checkpoint
    leaves the history byte-identical (SCD2 no-op property)."""
    from etl_rj_spark.streaming.scd import read_history, stream_scd2_maintain

    ink = str(tmp_path / "changes_in")
    hist_path = str(tmp_path / "dim_history")

    def drop_changes(rows, name):
        spark.createDataFrame(
            rows, "k int, seg string, effective_date string"
        ).selectExpr(
            "k", "seg", "CAST(effective_date AS DATE) effective_date"
        ).coalesce(1).write.mode("append").parquet(ink + "/" + name)

    def stream():
        import pyspark.sql.types as T

        schema = T.StructType([
            T.StructField("k", T.IntegerType()),
            T.StructField("seg", T.StringType()),
            T.StructField("effective_date", T.DateType()),
        ])
        return spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(ink)

    # batch 1: bootstrap inserts; batch 2 carries TWO effective dates
    # for one key (k=1 changes twice) plus a no-op re-send for k=2
    drop_changes([(1, "A", "1995-01-01"), (2, "B", "1995-01-01")], "a")
    stream_scd2_maintain(
        stream(), hist_path, ["k"], ["seg"], str(tmp_path / "ck1")
    ).awaitTermination()
    drop_changes(
        [(1, "A2", "1996-01-01"), (1, "A3", "1997-01-01"), (2, "B", "1996-01-01")],
        "b",
    )
    stream_scd2_maintain(
        stream(), hist_path, ["k"], ["seg"], str(tmp_path / "ck1")
    ).awaitTermination()

    def canon():
        return sorted(
            (r.k, r.seg, str(r.valid_from), str(r.valid_to))
            for r in read_history(spark, hist_path).collect()
        )

    expected = [
        (1, "A", "1995-01-01", "1996-01-01"),
        (1, "A2", "1996-01-01", "1997-01-01"),
        (1, "A3", "1997-01-01", "None"),
        (2, "B", "1995-01-01", "None"),
    ]
    assert canon() == expected

    # full redelivery, fresh checkpoint: every change is now a no-op
    # against the folded history (or re-closes at identical dates)
    stream_scd2_maintain(
        stream(), hist_path, ["k"], ["seg"], str(tmp_path / "ck2")
    ).awaitTermination()
    assert canon() == expected

    # ambiguous batch (two different changes, same key+date) raises
    drop_changes([(3, "X", "1998-01-01"), (3, "Y", "1998-01-01")], "c")
    import pytest as _pytest

    with _pytest.raises(Exception, match="ambiguous"):
        stream_scd2_maintain(
            stream(), hist_path, ["k"], ["seg"], str(tmp_path / "ck3")
        ).awaitTermination()


def test_sessionize_timeout_closes_trailing_session(spark, tmp_path):
    """EventTimeTimeout discipline: user A's trailing session stays
    open until LATER events (a different user) advance the watermark
    past A's gap horizon — then the session emits via timeout and A's
    state is dropped (no duplicate on further advancement)."""
    import pyspark.sql.types as T

    from etl_rj_spark.streaming.stateful import streaming_sessionize_with_timeout

    ink = str(tmp_path / "ev_in")

    def drop(rows, name):
        spark.createDataFrame(
            rows, "user_id long, ts string, event_id long, value double"
        ).selectExpr(
            "user_id", "CAST(ts AS TIMESTAMP) ts", "event_id", "value"
        ).coalesce(1).write.mode("append").parquet(ink + "/" + name)

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ])
    drop([(1, "2024-01-01 00:00:00", 1, 1.0), (1, "2024-01-01 00:00:30", 2, 1.0)], "a")
    q = (
        streaming_sessionize_with_timeout(
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(ink),
            gap_seconds=60, watermark="0 seconds",
        )
        .writeStream.format("memory").queryName("to_out").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )

    def got():
        return sorted(
            (r.user_id, str(r.session_start), r.n_events)
            for r in spark.sql("SELECT * FROM to_out").collect()
        )

    try:
        q.processAllAvailable()
        assert got() == []  # trailing session open, nothing emitted

        # user 2 an hour later: watermark sweeps past user 1's horizon
        drop([(2, "2024-01-01 01:00:00", 3, 1.0)], "b")
        q.processAllAvailable()
        assert got() == [(1, "2024-01-01 00:00:00", 2)]

        # further advance: user 2's own session times out; user 1 NOT
        # re-emitted (its state was removed at timeout)
        drop([(2, "2024-01-01 02:00:00", 4, 1.0)], "c")
        q.processAllAvailable()
        final = got()
    finally:
        q.stop()
    assert (2, "2024-01-01 01:00:00", 1) in final
    assert final.count((1, "2024-01-01 00:00:00", 2)) == 1


def test_stream_scd2_backfill_batch_with_many_effective_dates(spark, tmp_path):
    """One micro-batch carrying 100+ distinct effective dates (a
    multi-year backfill) folds in a single pass — correct interval
    chain, no per-date driver loop (the pre-r6 loop built an
    O(dates)-deep plan and would make this test minutes-slow)."""
    import datetime

    from etl_rj_spark.streaming.scd import read_history, stream_scd2_maintain

    ink = str(tmp_path / "changes_in")
    hist_path = str(tmp_path / "dim_history")

    rows = [
        (1, f"S{i}", (datetime.date(2000, 1, 1) + datetime.timedelta(days=i)).isoformat())
        for i in range(110)
    ] + [(2, "B", "2000-01-01")]
    spark.createDataFrame(
        rows, "k int, seg string, effective_date string"
    ).selectExpr(
        "k", "seg", "CAST(effective_date AS DATE) effective_date"
    ).coalesce(1).write.mode("append").parquet(ink + "/a")

    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("k", T.IntegerType()),
        T.StructField("seg", T.StringType()),
        T.StructField("effective_date", T.DateType()),
    ])
    stream_scd2_maintain(
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(ink),
        hist_path, ["k"], ["seg"], str(tmp_path / "ck"),
    ).awaitTermination()

    hist = read_history(spark, hist_path)
    rows_out = sorted(
        (r.k, r.seg, str(r.valid_from), str(r.valid_to)) for r in hist.collect()
    )
    k1 = [r for r in rows_out if r[0] == 1]
    assert len(k1) == 110
    open_rows = [r for r in k1 if r[3] == "None"]
    assert open_rows == [(1, "S109", "2000-04-19", "None")]
    # chain property: every non-open interval closes at the next's start
    by_from = sorted(k1, key=lambda r: r[2])
    for a, b in zip(by_from, by_from[1:]):
        assert a[3] == b[2]
    assert (2, "B", "2000-01-01", "None") in rows_out


def test_sessionize_timeout_survives_late_straggler(spark, tmp_path):
    """A straggler far older than the watermark must not kill or
    corrupt the query. Spark 4's stateful-operator late-record
    eviction drops such rows before the sessionizer (verified: the
    function is never invoked for the late key), and the operator
    additionally clamps its timeout horizon past the watermark as
    defense-in-depth — either way the query stays healthy, emits no
    ghost session for the dropped event, and keeps sessionizing."""
    import pyspark.sql.types as T

    from etl_rj_spark.streaming.stateful import streaming_sessionize_with_timeout

    ink = str(tmp_path / "ev_in")

    def drop(rows, name):
        spark.createDataFrame(
            rows, "user_id long, ts string, event_id long, value double"
        ).selectExpr(
            "user_id", "CAST(ts AS TIMESTAMP) ts", "event_id", "value"
        ).coalesce(1).write.mode("append").parquet(ink + "/" + name)

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ])
    drop([(1, "2024-01-01 02:00:00", 1, 1.0)], "a")  # watermark → 02:00
    q = (
        streaming_sessionize_with_timeout(
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(ink),
            gap_seconds=60, watermark="0 seconds",
        )
        .writeStream.format("memory").queryName("straggler_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )

    def got():
        return sorted(
            (r.user_id, str(r.session_start), r.n_events)
            for r in spark.sql("SELECT * FROM straggler_out").collect()
        )

    try:
        q.processAllAvailable()
        # user 3: two hours LATE — its gap horizon (00:01) is far
        # behind the 02:00 watermark
        drop([(3, "2024-01-01 00:00:00", 2, 5.0)], "b")
        q.processAllAvailable()
        assert q.exception() is None
        # the engine keeps sessionizing on-time traffic normally
        drop([(1, "2024-01-01 03:00:00", 3, 1.0)], "c")
        q.processAllAvailable()
        drop([(1, "2024-01-01 04:00:00", 4, 1.0)], "d")
        q.processAllAvailable()
        assert q.exception() is None
        out = got()
    finally:
        q.stop()
    # the late event was evicted: no session for user 3, ever
    assert not [r for r in out if r[0] == 3]
    # on-time sessions close by gap as usual
    assert (1, "2024-01-01 02:00:00", 1) in out
    assert (1, "2024-01-01 03:00:00", 1) in out


def test_stream_topk_partials_ledger_and_exactness(spark, sf_dir, tmp_path):
    """Frequent-items streaming maintenance: 3 drained micro-batches
    fold per-day top-k states into a partitioned table; the serving
    estimate equals exact GROUP BY counts (vocab << map capacity), and
    re-folding a batch with an already-ledgered batch_id is a no-op —
    the additive-combine redelivery hazard the HLL fold doesn't have."""
    from etl_rj_spark.sources.parquet import read_parquet_table
    from etl_rj_spark.streaming.sketches import (
        estimate_topk_partials,
        fold_topk_batch,
        stream_topk_partials,
    )

    root = str(tmp_path / "topk")
    ev = read_parquet_table(spark, f"{sf_dir}/events.parquet")
    ev.repartition(3).write.parquet(f"{root}/in")
    schema = spark.read.parquet(f"{root}/in").schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(f"{root}/in")
    stream_topk_partials(
        stream, f"{root}/partials", f"{root}/ck"
    ).awaitTermination()

    def served():
        return {
            (r.item, r.n)
            for r in estimate_topk_partials(spark, f"{root}/partials").collect()
        }

    exact = {
        (r.event_type, r.n)
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert served() == exact

    # redelivery: re-fold a batch the ledger already absorbed (batch
    # ids 0..2 were used by the drained stream) — counts must NOT grow
    fold_topk_batch(ev.limit(500), 1, f"{root}/partials")
    assert served() == exact

    # a genuinely new batch id folds normally
    extra = ev.limit(200)
    fold_topk_batch(extra, 99, f"{root}/partials")
    grown = dict(served())
    extra_counts = {
        r.event_type: r.n
        for r in extra.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    for item, n in exact:
        assert grown[item] == n + extra_counts.get(item, 0)


def test_topk_fold_null_day_state_survives_and_is_ledgered(spark, tmp_path):
    """The null-ts day group must fold, serve, and stay redelivery-safe
    like any other day (null-unsafe equi-joins on "day" silently drop
    it — the HLL fold documents the same hazard)."""
    from etl_rj_spark.streaming.sketches import (
        estimate_topk_partials,
        fold_topk_batch,
    )

    root = str(tmp_path / "topk_null")
    ev = spark.createDataFrame(
        [(1, None, "a"), (2, None, "a"), (3, "2024-01-01 00:00:00", "b")],
        "event_id long, ts string, event_type string",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "event_type")

    fold_topk_batch(ev, 0, f"{root}/partials")

    def served():
        return {
            (r.item, r.n)
            for r in estimate_topk_partials(spark, f"{root}/partials").collect()
        }

    assert served() == {("a", 2), ("b", 1)}
    # redelivery of batch 0: the NULL-day ledger must block the re-fold
    fold_topk_batch(ev, 0, f"{root}/partials")
    assert served() == {("a", 2), ("b", 1)}
    # a fresh batch id folds into the null-day state additively
    fold_topk_batch(ev.filter("ts IS NULL"), 1, f"{root}/partials")
    assert served() == {("a", 4), ("b", 1)}


def test_stream_theta_partials_overlap_and_idempotent(spark, sf_dir, tmp_path):
    """Theta streaming maintenance: 3 drained micro-batches fold
    per-(event_type, day) theta partials; serve-time INTERSECTION /
    DIFFERENCE / UNION across two segments equal exact set algebra
    (sketches stay in exact mode at this cardinality), and full
    redelivery under a fresh checkpoint changes nothing (set-union
    idempotence — no ledger needed, unlike the top-k fold)."""
    from etl_rj_spark.sources.parquet import read_parquet_table
    from etl_rj_spark.streaming.sketches import stream_theta_partials, theta_overlap

    root = str(tmp_path / "theta")
    ev = read_parquet_table(spark, f"{sf_dir}/events.parquet")
    ev.repartition(3).write.parquet(f"{root}/in")
    schema = spark.read.parquet(f"{root}/in").schema

    def stream():
        return spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(f"{root}/in")

    stream_theta_partials(
        stream(), f"{root}/partials", f"{root}/ck1"
    ).awaitTermination()

    def overlap():
        r = theta_overlap(spark, f"{root}/partials", "view", "purchase").collect()[0]
        return (r.n_both, r.n_only_a, r.n_any)

    va = {r.user_id for r in ev.filter("event_type = 'view'")
          .select("user_id").distinct().collect()}
    pa = {r.user_id for r in ev.filter("event_type = 'purchase'")
          .select("user_id").distinct().collect()}
    expected = (len(va & pa), len(va - pa), len(va | pa))
    assert overlap() == expected

    # full redelivery, fresh checkpoint: set union is idempotent
    stream_theta_partials(
        stream(), f"{root}/partials", f"{root}/ck2"
    ).awaitTermination()
    assert overlap() == expected

    # ADVICE r6 #1 pin: an ABSENT segment is the empty set, not NULL —
    # n_both/n_only_a come back 0 (and n_any = the present side), never
    # NULL rows a consumer could misread as data
    r = theta_overlap(
        spark, f"{root}/partials", "no_such_segment", "purchase"
    ).collect()[0]
    assert (r.n_both, r.n_only_a, r.n_any) == (0, 0, len(pa))
    r = theta_overlap(
        spark, f"{root}/partials", "view", "no_such_segment"
    ).collect()[0]
    assert (r.n_both, r.n_only_a, r.n_any) == (0, len(va), len(va))
    r = theta_overlap(
        spark, f"{root}/partials", "nope_a", "nope_b"
    ).collect()[0]
    assert (r.n_both, r.n_only_a, r.n_any) == (0, 0, 0)


def test_moment_fold_ledger_null_day_and_exact_serve(spark, tmp_path):
    """Exact moment maintenance: ledgered redelivery is a no-op, NULL
    days and NULL groups are real cells (never silently dropped), NULL
    values carry no mass, and the served mean/var equal the direct
    computation."""
    import datetime

    from pyspark.sql import functions as F

    from etl_rj_spark.streaming.moments import (
        fold_moments_batch,
        serve_moment_stats,
    )

    t0 = datetime.datetime(2024, 3, 1)
    rows = [
        ("a", t0, 10), ("a", t0, 20),
        ("a", t0 + datetime.timedelta(days=1), 40),
        (None, t0, 7),            # NULL group cell
        ("a", None, 5),           # NULL day cell
        ("a", t0, None),          # NULL value: no mass
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, cents long")
    path = str(tmp_path / "partials")
    fold_moments_batch(df, 1, path)
    fold_moments_batch(df, 1, path)  # redelivered id: must change nothing
    served = {r.grp: r for r in serve_moment_stats(spark, path).collect()}
    a = served["a"]
    # values 10,20,40,5 -> n=4, sum=75, sumsq=2125, mean=18.75,
    # var=(4*2125-75^2)/16 = 2875/16 = 179.6875
    assert a.n == 4 and a.mean_ppm == 18_750_000
    assert a.var_ppm == round((4 * 2125 - 75 * 75) / 16 * 1e6)
    assert served[None].n == 1 and served[None].mean_ppm == 7_000_000
    # a distinct batch id doubles the sums; mean/var invariant
    fold_moments_batch(df, 2, path)
    served2 = {r.grp: r for r in serve_moment_stats(spark, path).collect()}
    assert served2["a"].n == 8
    assert served2["a"].mean_ppm == a.mean_ppm and served2["a"].var_ppm == a.var_ppm


def _maintainers():
    """kind -> (stream_fn, ledgered fold_fn or None, serve(spark, path)
    as a sorted list) for the five day-partition state maintainers."""
    from etl_rj_spark.streaming.moments import (
        fold_moments_batch,
        serve_moment_stats,
        stream_moment_partials,
    )
    from etl_rj_spark.streaming.sketches import (
        estimate_partials,
        estimate_topk_partials,
        fold_cms_batch,
        fold_topk_batch,
        serve_cms_sketch,
        stream_cms_partials,
        stream_hll_partials,
        stream_theta_partials,
        stream_topk_partials,
        theta_overlap,
    )

    def rows(df):
        return sorted(map(repr, df.collect()))

    return {
        "hll": (stream_hll_partials, None,
                lambda spark, p: rows(estimate_partials(spark, p))),
        "theta": (stream_theta_partials, None,
                  lambda spark, p: rows(theta_overlap(spark, p, "view", "buy"))),
        "topk": (stream_topk_partials, fold_topk_batch,
                 lambda spark, p: rows(estimate_topk_partials(spark, p))),
        "cms": (stream_cms_partials, fold_cms_batch,
                lambda spark, p: rows(serve_cms_sketch(spark, p))),
        "moments": (stream_moment_partials, fold_moments_batch,
                    lambda spark, p: rows(serve_moment_stats(spark, p))),
    }


@pytest.mark.parametrize("kind", ["hll", "theta", "topk", "cms", "moments"])
def test_maintainer_fold_contract(spark, tmp_path, kind):
    """One contract for every day-partition state maintainer: a
    redelivered batch changes no estimate (and, for the ledgered
    classes, no stored row); the NULL-day partition survives a later
    fold that does not touch it; an empty first drain leaves a
    readable 0-row table with the full schema. The idempotent classes
    (no fold function) redeliver through a fresh-checkpoint drain."""
    import datetime
    import itertools

    from etl_rj_spark.streaming.fsutil import read_state_or_schema

    stream_fn, fold_fn, serve = _maintainers()[kind]
    schema = "event_id long, ts timestamp, user_id long, event_type string, cents long"
    d1, d2 = datetime.datetime(2024, 1, 1, 8), datetime.datetime(2024, 1, 2, 9)

    def batch(rows):
        return spark.createDataFrame([(i, *r) for i, r in enumerate(rows)], schema)

    b0 = batch([(d1, 1, "view", 10), (d1, 2, "buy", 20), (d2, 3, "view", 30)])
    b1 = batch([(d2, 4, "buy", 40), (d2, 1, "view", 50),
                (None, 5, "view", 60), (None, 6, "buy", 70)])
    b2 = batch([(d1, 7, "view", 80), (d1, 2, "buy", 90)])
    steps = itertools.count()

    def drain(df, target):
        n = next(steps)
        src = str(tmp_path / f"in{n}")
        df.coalesce(1).write.parquet(src)
        stream_fn(
            spark.readStream.schema(schema).parquet(src), target, str(tmp_path / f"ck{n}")
        ).awaitTermination()

    def fold(df, batch_id, target):
        if fold_fn is None:
            drain(df, target)
        else:
            fold_fn(df, batch_id, target)

    path = str(tmp_path / "state")

    def state():
        return sorted(map(repr, read_state_or_schema(spark, path).collect()))

    def null_day():
        return sorted(map(repr, spark.read.parquet(path).where("day IS NULL").collect()))

    fold(b0, 0, path)
    fold(b1, 1, path)
    served, stored, nulls = serve(spark, path), state(), null_day()
    assert nulls
    fold(b1, 1, path)  # redelivery
    assert serve(spark, path) == served
    if fold_fn is not None:
        assert state() == stored
    fold(b2, 2, path)  # touches day 1 only
    assert null_day() == nulls
    assert serve(spark, path) != served

    fresh = str(tmp_path / "fresh")
    drain(spark.createDataFrame([], schema), fresh)
    back = read_state_or_schema(spark, fresh)
    assert back.count() == 0

    def shape(df):
        return sorted((f.name, f.dataType.simpleString()) for f in df.schema.fields)

    assert shape(back) == shape(read_state_or_schema(spark, path))


def test_transition_fold_boundary_stitch_and_idempotence(spark, tmp_path):
    """Boundary transitions (last event of fold k -> first of k+1)
    must be stitched exactly; committed/stale batch ids must no-op."""
    import datetime

    from etl_rj_spark.streaming.transitions import (
        fold_transitions_batch,
        serve_transition_matrix,
    )

    t = lambda m: datetime.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # user 1: a(0) b(1) | b(2) c(3)  -> a->b, b->b (boundary), b->c
        (1, t(0), 0, "a"), (1, t(1), 1, "b"),
        (1, t(2), 2, "b"), (1, t(3), 3, "c"),
        # user 2: only in fold 1: a(0) a(1) -> a->a
        (2, t(0), 4, "a"), (2, t(1), 5, "a"),
        # user 3: one event per fold -> purely boundary: c->a
        (3, t(1), 6, "c"), (3, t(2), 7, "a"),
    ]
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    df = spark.createDataFrame(rows, schema)
    root = str(tmp_path / "trans")
    f1 = df.filter(F.col("ts") <= t(1))
    f2 = df.filter(F.col("ts") > t(1))
    fold_transitions_batch(f1, 0, root)
    fold_transitions_batch(f2, 1, root)
    got = {
        (r.prev_state, r.state): r.n
        for r in serve_transition_matrix(spark, root).collect()
    }
    assert got == {
        ("a", "b"): 1, ("b", "b"): 1, ("b", "c"): 1,
        ("a", "a"): 1, ("c", "a"): 1,
    }
    # redelivery of fold 1 and a stale fold 0: both no-ops
    fold_transitions_batch(f2, 1, root)
    fold_transitions_batch(f1, 0, root)
    again = {
        (r.prev_state, r.state): r.n
        for r in serve_transition_matrix(spark, root).collect()
    }
    assert again == got


def test_transition_crash_recovery_overwrites_uncommitted(spark, tmp_path):
    """A version directory without its commit marker (crash mid-write)
    is invisible to serving and gets overwritten by the retry."""
    import datetime

    from etl_rj_spark.streaming.transitions import (
        fold_transitions_batch,
        latest_version,
        serve_transition_matrix,
    )

    t = lambda m: datetime.datetime(2024, 1, 1, 0, m)  # noqa: E731
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    df = spark.createDataFrame(
        [(1, t(0), 0, "a"), (1, t(1), 1, "b")], schema
    )
    root = str(tmp_path / "trans2")
    fold_transitions_batch(df, 0, root)
    assert latest_version(spark, root) == 0
    # simulate a crash: v=1 written without commit
    spark.createDataFrame([("a", "b", 99)], "prev_state string, state string, n long") \
        .write.parquet(f"{root}/v=1/pairs")
    assert latest_version(spark, root) == 0  # uncommitted -> invisible
    df2 = spark.createDataFrame([(1, t(2), 2, "c")], schema)
    fold_transitions_batch(df2, 1, root)  # retry overwrites the garbage
    assert latest_version(spark, root) == 1
    got = {
        (r.prev_state, r.state): r.n
        for r in serve_transition_matrix(spark, root).collect()
    }
    assert got == {("a", "b"): 1, ("b", "c"): 1}


def test_stream_transition_runner_end_to_end(spark, tmp_path):
    """The foreachBatch runner drains a file stream through the same
    fold; the served matrix equals the batch transition_counts."""
    import datetime

    from etl_rj_spark.operators.windows import transition_counts
    from etl_rj_spark.streaming.transitions import (
        serve_transition_matrix,
        stream_transition_partials,
    )

    t = lambda m: datetime.datetime(2024, 1, 1, 0, m)  # noqa: E731
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    df = spark.createDataFrame(
        [(1, t(0), 0, "a"), (1, t(1), 1, "b"), (2, t(0), 2, "b"),
         (2, t(1), 3, "b"), (1, t(2), 4, "a")], schema
    )
    src = str(tmp_path / "in")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    root = str(tmp_path / "state")
    stream_transition_partials(
        stream, root, str(tmp_path / "ck")
    ).awaitTermination()
    got = {
        (r.prev_state, r.state, r.n, r.p_ppm)
        for r in serve_transition_matrix(spark, root).collect()
    }
    want = {
        (r.prev_state, r.state, r.n, r.p_ppm)
        for r in transition_counts(df, "user_id", "ts", "event_type", "event_id").collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# IVM join maintainer (streaming/ivm.py)
# ---------------------------------------------------------------------------

def _ivm_serve_set(spark, root):
    from etl_rj_spark.streaming.ivm import serve_join_view

    schema = "ak long, av string, bk long, bv string"
    return {
        (r.ak, r.av, r.bk, r.bv)
        for r in serve_join_view(spark, root, schema).collect()
    }


def test_ivm_join_equals_batch_join_across_folds(spark, tmp_path):
    from etl_rj_spark.streaming.ivm import fold_join_delta

    a = spark.createDataFrame(
        [(1, "a1"), (2, "a2"), (2, "a2b"), (3, "a3")], "ak long, av string"
    )
    b = spark.createDataFrame(
        [(1, "b1"), (2, "b2"), (3, "b3"), (3, "b3b")], "bk long, bv string"
    )
    root = str(tmp_path / "ivm")
    # a arrives keys {1,2} then {2',3}; b arrives {3,3b} then {1,2}:
    # every (i, j) batch combination exercises the product rule
    fold_join_delta(
        a.filter("av in ('a1','a2')"), b.filter("bk = 3"), 0, root, "ak", "bk"
    )
    fold_join_delta(
        a.filter("av in ('a2b','a3')"), b.filter("bk < 3"), 1, root, "ak", "bk"
    )
    want = {
        (r.ak, r.av, r.bk, r.bv)
        for r in a.join(b, F.col("ak") == F.col("bk")).collect()
    }
    assert _ivm_serve_set(spark, root) == want


def test_ivm_redelivery_and_stale_fold_noop(spark, tmp_path):
    from etl_rj_spark.streaming.ivm import fold_join_delta

    a = spark.createDataFrame([(1, "a1"), (2, "a2")], "ak long, av string")
    b = spark.createDataFrame([(1, "b1"), (2, "b2")], "bk long, bv string")
    root = str(tmp_path / "ivm")
    fold_join_delta(a.filter("ak = 1"), b, 0, root, "ak", "bk")
    fold_join_delta(a.filter("ak = 2"), b.limit(0), 1, root, "ak", "bk")
    before = _ivm_serve_set(spark, root)
    # redeliver both committed ids (any order): byte-identical state
    fold_join_delta(a.filter("ak = 2"), b.limit(0), 1, root, "ak", "bk")
    fold_join_delta(a.filter("ak = 1"), b, 0, root, "ak", "bk")
    assert _ivm_serve_set(spark, root) == before
    assert before == {(1, "a1", 1, "b1"), (2, "a2", 2, "b2")}


def test_ivm_crash_retry_overwrites_uncommitted_partials(spark, tmp_path):
    import shutil

    from etl_rj_spark.streaming.ivm import committed_batches, fold_join_delta

    a = spark.createDataFrame([(1, "a1"), (2, "a2")], "ak long, av string")
    b = spark.createDataFrame([(1, "b1"), (2, "b2")], "bk long, bv string")
    root = str(tmp_path / "ivm")
    fold_join_delta(a.filter("ak = 1"), b.filter("bk = 1"), 0, root, "ak", "bk")
    fold_join_delta(a.filter("ak = 2"), b.filter("bk = 2"), 1, root, "ak", "bk")
    # simulate a crash AFTER batch-1 data writes but BEFORE its commit:
    # remove the marker — the partials under batch=1 become invisible
    shutil.rmtree(f"{root}/ledger/batch=1")
    assert committed_batches(spark, root) == [0]
    assert _ivm_serve_set(spark, root) == {(1, "a1", 1, "b1")}
    # the retry overwrites the orphaned partials and commits
    fold_join_delta(a.filter("ak = 2"), b.filter("bk = 2"), 1, root, "ak", "bk")
    assert committed_batches(spark, root) == [0, 1]
    assert _ivm_serve_set(spark, root) == {
        (1, "a1", 1, "b1"), (2, "a2", 2, "b2")
    }


def test_ivm_empty_delta_sides(spark, tmp_path):
    from etl_rj_spark.streaming.ivm import fold_join_delta

    a = spark.createDataFrame([(1, "a1")], "ak long, av string")
    b = spark.createDataFrame([(1, "b1")], "bk long, bv string")
    root = str(tmp_path / "ivm")
    fold_join_delta(a, b.limit(0), 0, root, "ak", "bk")   # nothing to pair yet
    assert _ivm_serve_set(spark, root) == set()
    fold_join_delta(a.limit(0), b, 1, root, "ak", "bk")   # pair completes
    assert _ivm_serve_set(spark, root) == {(1, "a1", 1, "b1")}


def test_ivm_agg_retraction_and_group_vanish(spark, tmp_path):
    from etl_rj_spark.streaming.ivm import fold_agg_delta, serve_agg_view

    root = str(tmp_path / "ivm_agg")
    schema = "k string, __w long, __s decimal(38,0)"
    ins = spark.createDataFrame(
        [("a", 1, 10), ("a", 1, 20), ("b", 1, 5)], "k string, w int, v long"
    )
    fold_agg_delta(ins, 0, root, ["k"], "w", "v")
    got = {
        (r.k, r.n, r.total)
        for r in serve_agg_view(spark, root, ["k"], schema).collect()
    }
    assert got == {("a", 2, 30), ("b", 1, 5)}
    # retract one 'a' row and ALL of 'b': group b must disappear
    rets = spark.createDataFrame(
        [("a", -1, 20), ("b", -1, 5)], "k string, w int, v long"
    )
    fold_agg_delta(rets, 1, root, ["k"], "w", "v")
    got = {
        (r.k, r.n, r.total)
        for r in serve_agg_view(spark, root, ["k"], schema).collect()
    }
    assert got == {("a", 1, 10)}
    # redelivery of the committed retraction batch: no-op
    fold_agg_delta(rets, 1, root, ["k"], "w", "v")
    got2 = {
        (r.k, r.n, r.total)
        for r in serve_agg_view(spark, root, ["k"], schema).collect()
    }
    assert got2 == got

"""ORC source/sink: roundtrip fidelity and the Catalyst scan contract
(partition pruning + predicate pushdown + column pruning), plus the
capability-gated Avro probe and the HLL sketch mergeability claim."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_rj_spark.sources.columnar import (
    CapabilityError,
    avro_available,
    read_avro,
    read_orc,
    write_avro,
    write_orc,
)
from etl_rj_spark.sources.parquet import read_parquet_table
from etl_rj_spark.streaming.sketches import HLL_REL_TOL


@pytest.fixture(scope="module")
def orc_events(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("orc") / "events")
    ev = read_parquet_table(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "value", "event_type"
    )
    write_orc(ev, d, partition_by=("event_type",))
    return d, ev


def test_orc_roundtrip_lossless(spark, orc_events):
    d, ev = orc_events
    back = read_orc(spark, d).select(*ev.columns)
    assert back.count() == ev.count()
    # exceptAll both ways: value-exact including the timestamp column
    assert back.exceptAll(ev).count() == 0
    assert ev.exceptAll(back).count() == 0


def test_orc_scan_prunes_and_pushes(spark, orc_events):
    d, _ = orc_events
    df = (
        read_orc(spark, d)
        .where(F.col("event_type") == "click")
        .where(F.col("value") > 0.5)
        .select("event_id", "value")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(line for line in plan.splitlines() if "FileScan orc" in line)
    # directory-level partition pruning on the partition column
    assert "PartitionFilters" in scan and "event_type" in scan.split("PartitionFilters")[1].split("]")[0]
    # value predicate pushed into the ORC reader
    assert "GreaterThan(value,0.5)" in scan
    # column pruning: ts/user_id absent from the read schema
    read_schema = scan.split("ReadSchema:")[1]
    assert "ts" not in read_schema and "user_id" not in read_schema


def test_avro_gated(spark):
    ev = spark.range(3).toDF("i")
    if avro_available(spark):  # pragma: no cover - connector not bundled here
        pytest.skip("spark-avro present; gate not exercised")
    with pytest.raises(CapabilityError, match="spark-avro"):
        write_avro(ev, "/tmp/never-written-avro")
    with pytest.raises(CapabilityError, match="spark-avro"):
        read_avro(spark, "/tmp/never-written-avro")


def test_hll_union_matches_single_pass(spark, sf_dir):
    """HLL register merge is per-register max, so sketch-union over
    daily partials must estimate EXACTLY what one sketch over the
    union estimates — the mergeability contract hll_sketch_rollup
    pins inside its query, asserted here standalone."""
    ev = read_parquet_table(spark, f"{sf_dir}/events.parquet")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("est_direct"),
        F.countDistinct("user_id").alias("exact"),
    )
    rows = merged.join(direct, "event_type").collect()
    assert rows
    for r in rows:
        assert r.est_merged == r.est_direct
        assert abs(r.est_merged - r.exact) <= HLL_REL_TOL * r.exact


def test_orc_ntz_normalized_at_boundary(spark, tmp_path):
    """A foreign writer's TIMESTAMP_NTZ ORC column must come back as
    plain TimestampType with identical wall-clock instants (the shared
    source-boundary discipline with the parquet reader)."""
    import datetime

    from pyspark.sql import functions as F, types as T

    d = str(tmp_path / "ntz")
    ts = datetime.datetime(2024, 3, 1, 12, 34, 56, 789000)
    df = spark.createDataFrame(
        [(1, ts)], "id long, ts timestamp"
    ).select("id", F.col("ts").cast("timestamp_ntz").alias("ts"))
    df.write.mode("overwrite").orc(d)

    back = read_orc(spark, d)
    assert isinstance(back.schema["ts"].dataType, T.TimestampType)
    [row] = back.collect()
    assert row.ts == ts


def test_hll_partial_agg_plan_shape(spark, sf_dir):
    """The mergeable-sketch rollup must be partial-agg shaped: the
    daily-partials → union-merge path carries exactly two exchanges
    (one per grouping level), with map-side partial sketch aggregation
    before each — no extra shuffle, no join in the partial path."""
    from etl_rj_spark.plans.audit import explain_counts

    ev = read_parquet_table(spark, f"{sf_dir}/events.parquet")
    merged = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    c = explain_counts(merged)
    assert c["exchange"] == 2, c
    assert (
        c["broadcast_hash_join"] + c["sort_merge_join"] + c["shuffled_hash_join"]
        == 0
    ), c
    # partial (map-side) aggregation precedes both shuffles
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("partial_hll_sketch_agg") + plan.count(
        "partial_hll_union_agg"
    ) >= 2, plan[:2000]

"""JSONL source: explicit-schema PERMISSIVE reads, corrupt-record
quarantine with raw-line preservation, and the gz splittability
mitigation (repartition after non-splittable read)."""

from __future__ import annotations

import gzip
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_rj_spark.sources.jsonl import (
    DOCUMENTS_SCHEMA,
    quarantine_corrupt,
    read_jsonl,
)
from etl_rj_spark.sources.parquet import read_parquet_table

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)


def test_jsonl_roundtrip_documents(spark, sf_dir, tmp_path):
    d = str(tmp_path / "docs_jsonl")
    docs = read_parquet_table(spark, f"{sf_dir}/documents.parquet")
    docs.write.mode("overwrite").json(d)
    good, bad = quarantine_corrupt(read_jsonl(spark, d, DOCUMENTS_SCHEMA))
    assert bad.count() == 0
    assert good.count() == docs.count()
    a = {r.doc_id: r.n_chars for r in good.collect()}
    b = {r.doc_id: r.n_chars for r in docs.collect()}
    assert a == b


def test_jsonl_quarantine_preserves_raw_lines(spark, tmp_path):
    d = tmp_path / "shards"
    d.mkdir()
    lines = [
        '{"k": 1, "v": "a"}',
        '{"k": 2, "v": "b"',  # truncated
        "garbage line",
        '{"k": "not-a-long", "v": "c"}',  # type violation
        '{"k": 4, "v": "d"}',
    ]
    (d / "s0.jsonl").write_text("\n".join(lines) + "\n")
    good, bad = quarantine_corrupt(read_jsonl(spark, str(d), SCHEMA))
    assert sorted((r.k, r.v) for r in good.collect()) == [(1, "a"), (4, "d")]
    raw = sorted(r.raw_line for r in bad.collect())
    assert raw == sorted([lines[1], lines[2], lines[3]])


def test_quarantine_split_leaves_cache_empty(spark, tmp_path):
    """The split materializes its scan through a lazy localCheckpoint,
    not cache(): once both sides are collected, the session's cache
    manager holds nothing, so repeated calls pin no storage. The
    quarantined side runs first, so the checkpoint also serves a query
    that references only the corrupt-record column."""
    d = tmp_path / "shards"
    d.mkdir()
    (d / "s0.jsonl").write_text('{"k": 1, "v": "a"}\ngarbage line\n')
    spark.catalog.clearCache()
    good, bad = quarantine_corrupt(read_jsonl(spark, str(d), SCHEMA))
    assert [r.raw_line for r in bad.collect()] == ["garbage line"]
    assert [(r.k, r.v) for r in good.collect()] == [(1, "a")]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_jsonl_gz_reads_and_repartitions(spark, tmp_path):
    """A .gz shard is non-splittable (one task per file); min_partitions
    restores parallelism right after the read."""
    d = tmp_path / "gz"
    d.mkdir()
    with gzip.open(d / "shard.jsonl.gz", "wt") as f:
        for i in range(1000):
            f.write('{"k": %d, "v": "x%d"}\n' % (i, i))
    df = read_jsonl(spark, str(d), SCHEMA, min_partitions=8)
    assert df.rdd.getNumPartitions() >= 8
    good, bad = quarantine_corrupt(df)
    assert bad.count() == 0 and good.count() == 1000
    assert good.agg(F.sum("k")).first()[0] == 499500


def test_jsonl_shard_export_roundtrip(spark, sf_dir, tmp_path):
    """Shard-export → source roundtrip: record caps bound shard size,
    gzip shards read back losslessly, and hash-routing by key yields
    identical shard membership across re-runs."""
    import glob

    from etl_rj_spark.sinks.jsonl_shards import write_jsonl_shards

    docs = read_parquet_table(spark, f"{sf_dir}/documents.parquet")
    n = docs.count()

    d1 = str(tmp_path / "shards1")
    write_jsonl_shards(
        docs, d1, num_shards=4, max_records_per_file=100, compression="gzip"
    )
    files = glob.glob(os.path.join(d1, "*.json.gz"))
    assert len(files) >= max(4, n // 100)  # caps respected
    good, bad = quarantine_corrupt(read_jsonl(spark, d1, DOCUMENTS_SCHEMA))
    assert bad.count() == 0 and good.count() == n

    # deterministic routing: same key → same shard on every run
    d2, d3 = str(tmp_path / "r1"), str(tmp_path / "r2")
    for d in (d2, d3):
        write_jsonl_shards(docs, d, num_shards=3, shard_by="doc_id")

    def membership(d):
        out = {}
        for f in sorted(glob.glob(os.path.join(d, "part-*.json"))):
            ids = frozenset(
                r.doc_id for r in read_jsonl(spark, f, DOCUMENTS_SCHEMA).collect()
            )
            out[ids] = out.get(ids, 0) + 1
        return out

    assert membership(d2) == membership(d3)

    # bijective routing (r9): exactly num_shards part files, each
    # holding exactly ONE xxhash bucket — the hash-partitioner's
    # murmur3-of-bucket-id is not a bijection, so the sink routes via
    # per-bucket representatives
    got = (
        read_jsonl(spark, d2, DOCUMENTS_SCHEMA)
        .withColumn("f", F.input_file_name())
        .withColumn("b", F.pmod(F.xxhash64("doc_id"), F.lit(3)))
    )
    per_file = got.groupBy("f").agg(
        F.count_distinct("b").alias("nb")
    ).collect()
    assert len(per_file) == 3, [r.f for r in per_file]
    assert all(r.nb == 1 for r in per_file), per_file

"""JSONL source — the de-facto interchange format of LLM training
corpora (one JSON document per line; often .jsonl.gz per shard).

The reference ingests CSV/Excel operational exports; a training-data
pipeline at 100 TB ingests JSONL shards, and doing that well on Spark
means three decisions this module hard-codes:

1. **Explicit schema, never inference.** Schema inference is a full
   extra pass over the data (2× the 100 TB scan) and can silently
   widen/narrow types between runs when shards differ. Callers pass
   the schema (or take ``DOCUMENTS_SCHEMA``).
2. **PERMISSIVE + corrupt-record column.** A multi-TB crawl WILL
   contain broken lines; failing the job on line 3 billion
   (FAILFAST) or silently dropping rows (DROPMALFORMED) are both
   wrong for ingest. Malformed lines land in ``_corrupt_record`` and
   ``quarantine_corrupt`` splits them into a dead-letter frame with
   the raw line preserved for repair — the same quarantine posture as
   ``operators/validate.py``.
3. **Splittability is a file-format property.** Plain ``.jsonl``
   splits by line → full scan parallelism. ``.gz`` is stream-coded:
   ONE task per file no matter the size — acceptable only when shards
   are written ≤ a few hundred MB; otherwise repartition right after
   read (``min_partitions``) so one 50 GB gz shard doesn't serialize
   the whole stage. (Prefer zstd/bzip2 or many medium gz shards when
   producing data.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: The documents-table shape (TESTDATA.md) as a JSONL schema.
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

CORRUPT_COL = "_corrupt_record"


def read_permissive(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str,
    options: dict[str, str] | None = None,
    min_partitions: int | None = None,
) -> DataFrame:
    """Shared PERMISSIVE-with-dead-letter reader: explicit schema plus
    the ``_corrupt_record`` column, for any line-oriented text format
    (``fmt`` = 'json' | 'csv'). Both :func:`read_jsonl` and the CSV
    twin (sources/csv_permissive.py) delegate here so the corrupt-
    record wiring and the gz-shard ``min_partitions`` gate cannot
    diverge between formats."""
    full = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    reader = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    df = getattr(reader, fmt)(path)
    if min_partitions and df.rdd.getNumPartitions() < min_partitions:
        df = df.repartition(min_partitions)
    return df


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    min_partitions: int | None = None,
) -> DataFrame:
    """Read JSONL with an explicit schema in PERMISSIVE mode; malformed
    lines carry their raw text in ``_corrupt_record`` (all data columns
    null). ``min_partitions`` repartitions after read — required when
    the input is a few large .gz shards (non-splittable: one task per
    file until the repartition)."""
    return read_permissive(
        spark, path, schema, "json", min_partitions=min_partitions
    )


def quarantine_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined): good rows lose the corrupt column;
    quarantined rows keep the raw line for repair/re-ingest.

    The frame is materialized once first: Spark disallows queries over
    a raw JSON scan that reference only the internal corrupt-record
    column (the scan would have to re-parse just to report
    corruption), and both split sides re-reading the 100 TB input
    once each would double the ingest scan anyway — one
    materialization, two cheap filters is the intended pattern (per
    Spark's own error guidance).

    The materialization is a lazy ``localCheckpoint``, not ``cache()``:
    the first action on either side runs the scan once and the other
    side reads its blocks, which the ContextCleaner frees once both
    frames are unreachable. Nothing is registered in the session's
    CacheManager, so the split pins no storage for the session and a
    later read of the same path is never served these rows. The split
    is a snapshot of the input at that first action. A caller that
    rewrites the source path and re-reads it in the same session
    still calls ``spark.catalog.refreshByPath(path)`` after the
    rewrite, because Spark's file-listing cache can keep the old file
    list; in production, treat an ingest landing path as
    append-only/immutable per batch."""
    df = df.localCheckpoint(eager=False)
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return good, bad
